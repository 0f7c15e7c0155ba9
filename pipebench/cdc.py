"""The CDC -> ACID commit loop: writes beside reads on ``sources.acid``.

A ``change_feed=True`` ``TxnLogTable`` is seeded from the ``customer``
table. Each iteration then takes one seeded batch of Debezium-shaped
changes (Zipf-skewed keys, ~10% deletes), unwraps it with
``sources.cdc.unwrap_debezium`` and

1. ``merge``s it into the table (the commit);
2. ``IncrementalAggregate.refresh``es count and sum of ``c_acctbal`` per
   ``c_mktsegment``;
3. ``TableReplicator.replicate``s the table's row-level change feed;
4. reads a key range back with ``read_pruned``.

Commit latency is step 1; feed lag is steps 2-3, from the commit being
published to the view and the replica both reflecting it.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

from pipebench import datagen, stats

CHANGES_PER_BATCH = 200
DELETE_SHARE = 0.10
# the seed append is version 0 and the warm-in MERGE version 1, so the two
# measured MERGEs are versions 2 and 3: a log checkpoint every 3 versions
# lands on the second of them in every run (the table default is 10)
CHECKPOINT_INTERVAL = 3
TABLE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "seq"]


def _change_schema():
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    row = StructType([
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ])
    return StructType([
        StructField("before", row),
        StructField("after", row),
        StructField("op", StringType()),
        StructField("ts_ms", LongType()),
    ])


class CdcLoop:
    def __init__(self, ctx, spark, customer_path: str, tag: str, stream: int):
        from pyspark.sql import functions as F

        from data_pipeline_kafka_ek_spark.sources.acid import TxnLogTable
        from data_pipeline_kafka_ek_spark.sources.incremental import (
            IncrementalAggregate, TableReplicator,
        )

        self.ctx, self.spark = ctx, spark
        self.rng = np.random.default_rng([ctx.seed, 4, stream])
        base = ctx.dir("acid", tag)
        self.table = TxnLogTable(
            spark, f"{base}/customers", key="c_custkey", order_col="seq",
            checkpoint_interval=CHECKPOINT_INTERVAL, change_feed=True,
        )
        seed = spark.read.parquet(customer_path).withColumn("seq", F.lit(0).cast("long"))
        with ctx.tracer.span("sources.acid", "append_seed"):
            self.table.append(seed)
        self.n_keys = seed.count()
        self.mv = IncrementalAggregate(
            self.table, f"{base}/mv_segment", group_col="c_mktsegment", sum_cols=["c_acctbal"]
        )
        self.replica = TableReplicator(self.table, f"{base}/replica")
        self.seq = 1
        self.records: list[dict] = []

    def _changes(self):
        from data_pipeline_kafka_ek_spark.sources.cdc import unwrap_debezium

        keys = datagen.zipf_keys(self.rng, self.n_keys, CHANGES_PER_BATCH)
        dels = self.rng.random(CHANGES_PER_BATCH) < DELETE_SHARE
        env = datagen.debezium_batch(self.rng, keys, dels, self.seq)
        self.seq += CHANGES_PER_BATCH
        df = self.spark.createDataFrame(env, _change_schema())
        flat = unwrap_debezium(df, key="c_custkey")
        return flat.select(*TABLE_COLS[:-1], flat["ts_ms"].alias("seq"), "__deleted"), keys

    def warm_merge(self) -> None:
        """One unmeasured MERGE: compiles the commit path's plans (the
        first commit in a JVM costs about twice a warm one)."""
        changes, _ = self._changes()
        self.table.merge(changes, delete_col="__deleted")

    def step(self, measure_bytes: bool = False) -> dict:
        tr = self.ctx.tracer
        changes, keys = self._changes()
        before = _tree_files(self.table.path) if measure_bytes else None
        t0 = time.perf_counter()
        with tr.span("sources.acid", "merge"):
            v = self.table.merge(changes, delete_col="__deleted")
        t1 = time.perf_counter()
        with tr.span("sources.incremental", "refresh"):
            self.mv.refresh()
        t2 = time.perf_counter()
        with tr.span("sources.incremental", "replicate"):
            self.replica.replicate()
        t3 = time.perf_counter()
        lo = int(np.percentile(keys, 25))
        with tr.span("sources.acid", "read_pruned"):
            self.table.read_pruned([("c_custkey", "between", (lo, lo + 500))]).count()
        t4 = time.perf_counter()
        rec = {
            "version": v, "merge_s": t1 - t0, "refresh_s": t2 - t1,
            "replicate_s": t3 - t2, "read_s": t4 - t3, "iter_s": t4 - t0,
            "checkpoint": v % CHECKPOINT_INTERVAL == 0,
        }
        if measure_bytes:
            after = _tree_files(self.table.path)
            rec["bytes_written"] = sum(sz for p, sz in after.items() if p not in before)
            rec["user_bytes"] = _user_bytes(changes)
            rec["log_bytes"] = os.path.getsize(
                os.path.join(self.table.path, "_txn_log", f"{v:020d}.json")
            )
        self.records.append(rec)
        return rec

    def check(self) -> None:
        """Replica == source snapshot; view == GROUP BY over the source."""
        from pyspark.sql import functions as F

        ctx = self.ctx
        src = {tuple(r) for r in self.table.read().select(*TABLE_COLS[:-1]).collect()}
        rep = {tuple(r) for r in self.replica.read().select(*TABLE_COLS[:-1]).collect()}
        diff = len(src ^ rep)
        ctx.check(diff == 0, len(src), diff, f"replica differs from source in {diff} rows")
        want = {
            r[0]: (r[1], r[2])
            for r in self.table.read().groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)), F.sum("c_acctbal")).collect()
        }
        got = {r["c_mktsegment"]: (r["n_rows"], r["sum_c_acctbal"]) for r in self.mv.read().collect()}
        bad = sum(
            1 for k in want.keys() | got.keys()
            if k not in want or k not in got or want[k][0] != got[k][0]
            or not math.isclose(want[k][1], got[k][1], rel_tol=1e-9, abs_tol=1e-6)
        )
        ctx.check(bad == 0, len(want), bad, f"materialized view differs in {bad} groups")
        ctx.attempted += len(self.records)


def _tree_files(root: str) -> "dict[str, int]":
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _user_bytes(changes) -> int:
    """Size of the change batch as the user would ship it: the rows as
    JSON lines."""
    return sum(len(r) + 1 for r in changes.toJSON().collect())


def report(ctx, loop: CdcLoop) -> None:
    recs = loop.records
    merges = [r["merge_s"] for r in recs]
    lags = [r["refresh_s"] + r["replicate_s"] for r in recs]
    ctx.put("acid.commit_p50_ms", statistics.median(merges) * 1e3, "ms")
    ctx.put("acid.feed_lag_p50_ms", statistics.median(lags) * 1e3, "ms")
    ctx.put(
        "acid.changes_per_s",
        CHANGES_PER_BATCH * len(recs) / sum(r["iter_s"] for r in recs), "1/s",
    )
    p = stats.supported_percentile(len(merges), 90)
    if p is not None:
        ctx.put("acid.commit_tail_pct", p, "pct")
        ctx.put("acid.commit_tail_ms", stats.percentile(merges, p) * 1e3, "ms")
    ctx.put("sources.acid.merge_s_p50", statistics.median(merges), "s")
    ckpt = [r["merge_s"] for r in recs if r["checkpoint"]]
    if ckpt:
        ctx.put("sources.acid.merge_s_at_checkpoint", statistics.median(ckpt), "s")
    ctx.put("sources.acid.read_pruned_s_p50", statistics.median(r["read_s"] for r in recs), "s")
    ctx.put("sources.incremental.refresh_s_p50", statistics.median(r["refresh_s"] for r in recs), "s")
    ctx.put("sources.incremental.replicate_s_p50", statistics.median(r["replicate_s"] for r in recs), "s")


def report_traced(ctx, loop: CdcLoop) -> None:
    """Log-derived per-commit shape; reads table metadata, so it runs
    after the measured loop."""
    recs = loop.records
    versions = {r["version"] for r in recs}
    hist = [h for h in loop.table.history() if h["version"] in versions]
    ctx.put("sources.acid.files_added_per_commit", statistics.median(h["n_add"] for h in hist), "count")
    ctx.put("sources.acid.files_removed_per_commit", statistics.median(h["n_remove"] for h in hist), "count")
    ctx.put("sources.acid.table_files", loop.table.file_count(), "count")
    sized = [r for r in recs if "bytes_written" in r]
    if sized:
        ctx.put(
            "sources.acid.bytes_written_per_user_byte",
            statistics.median(r["bytes_written"] / r["user_bytes"] for r in sized), "ratio",
        )
        ctx.put("sources.acid.log_bytes_per_commit", statistics.median(r["log_bytes"] for r in sized), "bytes")
    # rows the view folds per refresh: the row deltas of the last commit
    last = max(versions)
    folded = loop.table.read_deltas(since_version=last - 1).count()
    ctx.put("sources.incremental.rows_folded_per_refresh", folded, "count")
