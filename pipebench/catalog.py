"""Catalog passes: a fixed list of the engine's read-only catalog
queries, run back to back by one client.

A pass runs every query in ``metrics.CATALOG_QUERIES`` order, timing
each from plan to last row collected; the relational half (``reference``
and ``relational`` roll-ups) and the curation half are timed apart.
Query-path caches are released after each query, outside its timing, so
no pass reads another pass's intermediates.

Correctness: each query's collected rows are hashed with the tier-2
gate's canonical value hash and compared with its ``oracle_sql()``
result on DuckDB over the same parquet files. Spark and DuckDB sum
doubles in different orders, so a value sitting on a rounding boundary
can come out one unit apart in its last printed decimal; when the hashes
differ, rows are compared cell by cell and accepted only if every
numeric cell is within one unit of its last printed decimal and every
other cell is equal.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from pipebench import metrics

DATA_SF = 0.01


def _load_gate(root: str):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_correctness
    finally:
        sys.path.pop(0)
    return check_correctness


def _decimals(v: float) -> int:
    s = repr(round(v, 9))
    return len(s.split(".")[1]) if "." in s and "e" not in s else 0


def rows_match(gate, cols_a, rows_a, cols_b, rows_b) -> bool:
    """Canonical-hash equality, else equality up to one unit in the last
    printed decimal of each float cell."""
    if len(rows_a) != len(rows_b) or sorted(cols_a) != sorted(cols_b):
        return False
    if gate.value_hash(cols_a, rows_a) == gate.value_hash(cols_b, rows_b):
        return True
    order_a = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    order_b = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    floats = {
        cols_a[i] for i in order_a
        if any(isinstance(r[i], float) for r in rows_a)
    }

    def canon(row, order, cols):
        key = tuple(
            "" if cols[i] in floats else gate._normalize_cell(row[i]) for i in order
        )
        vals = tuple(row[i] for i in order)
        return key, vals

    a = sorted((canon(r, order_a, cols_a) for r in rows_a), key=lambda x: (x[0], repr(x[1])))
    b = sorted((canon(r, order_b, cols_b) for r in rows_b), key=lambda x: (x[0], repr(x[1])))
    for (ka, va), (kb, vb) in zip(a, b):
        if ka != kb:
            return False
        for x, y in zip(va, vb):
            if isinstance(x, float) and isinstance(y, (float, int)):
                tol = 1.01 * 10.0 ** -max(_decimals(x), _decimals(float(y)))
                if abs(x - y) > tol:
                    return False
            elif gate._normalize_cell(x) != gate._normalize_cell(y):
                return False
    return True


class Catalog:
    def __init__(self, ctx, spark, data_dir: str):
        from data_pipeline_kafka_ek_spark.plans import extensions  # noqa: F401  (registers queries)
        from data_pipeline_kafka_ek_spark.plans.catalog import oracle_sql, queries

        self.ctx, self.spark, self.data = ctx, spark, data_dir
        allq = queries()
        self.queries = {n: allq[n] for n in metrics.CATALOG_QUERIES}
        self.oracles = oracle_sql()
        self.times: dict[str, list[float]] = {n: [] for n in self.queries}
        self.pending: list[int] = []
        self.passes: list[tuple[float, float]] = []   # (relational s, curation s)
        self.results: dict[str, tuple[list, list]] = {}

    def run_query(self, name: str, keep: bool) -> float:
        from data_pipeline_kafka_ek_spark.caching import release_pending_caches

        fam = metrics.CATALOG_QUERIES[name]
        t0 = time.perf_counter()
        with self.ctx.tracer.span("operators", f"{fam}.{name}"):
            df = self.queries[name](self.spark, self.data)
            rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t0
        with self.ctx.tracer.span("caching", "release_pending_caches"):
            self.pending.append(release_pending_caches())
        if keep:
            self.results[name] = (list(df.columns), rows)
        return dt

    def one_pass(self, record: bool = True) -> float:
        rel = cur = 0.0
        for name, fam in metrics.CATALOG_QUERIES.items():
            dt = self.run_query(name, keep=name not in self.results)
            if record:
                self.times[name].append(dt)
            if fam in metrics.RELATIONAL_ROLLUPS:
                rel += dt
            else:
                cur += dt
        if record:
            self.passes.append((rel, cur))
        return rel + cur

    def check(self) -> None:
        import duckdb

        gate = _load_gate(self.ctx.root)
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        for name, (cols, rows) in self.results.items():
            rel = con.sql(self.oracles[name])
            ok = rows_match(gate, cols, rows, list(rel.columns), rel.fetchall())
            self.ctx.check(ok, 1, 0 if ok else 1, f"{name} differs from its oracle")
        con.close()
        # every timed query execution is an attempted operation
        self.ctx.attempted += sum(len(v) for v in self.times.values()) - len(self.results)

    def report(self) -> None:
        ctx = self.ctx
        rel = statistics.median(p[0] for p in self.passes)
        cur = statistics.median(p[1] for p in self.passes)
        ctx.put("batch.relational_pass_s", rel, "s")
        ctx.put("batch.curation_pass_s", cur, "s")
        n_q = sum(len(v) for v in self.times.values())
        ctx.put("catalog.queries_per_s", n_q / sum(sum(v) for v in self.times.values()), "1/s")
        roll = {r: 0.0 for r in metrics.ROLLUPS}
        for name, ts in self.times.items():
            med = statistics.median(ts)
            ctx.put(f"query.{name}_s", med, "s")
            roll[metrics.CATALOG_QUERIES[name]] += med
        for r, v in roll.items():
            ctx.put(f"operators.{r}_s", v, "s")
        ctx.put("caching.pending_caches_per_query", statistics.mean(self.pending), "count")
