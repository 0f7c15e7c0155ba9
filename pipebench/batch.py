"""``catalog_cdc``: the closed-loop batch side of the system, one client.

The run's measured time is split in two halves, run one after the other
so neither disturbs the other:

1. catalog passes (``catalog.Catalog``) for half the seconds;
2. the CDC -> ACID commit loop (``cdc.CdcLoop``) for the other half.

Set-up is session start plus opening the input tables. An unmeasured
warm-in follows it — seeding the table plus one MERGE, beside one
catalog pass over tiny tables — so first-execution code generation is
in neither set-up nor the measurement. Each half then runs for half the
seconds, and at least twice, so every median rests on two or more
samples.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pipebench import cdc, datagen, harness
from pipebench.catalog import DATA_SF, Catalog

CDC_CUSTOMER_SF = 0.1   # the ACID table is seeded with 15k customers
WARM_SF = 0.001         # tables for the unmeasured first catalog pass
MIN_SAMPLES = 2


def _warmup(ctx, data: str, cdc_data: str):
    """Open every input table (schema resolution) and count the two
    customer tables the loop and the passes start from."""

    def warm(spark):
        from data_pipeline_kafka_ek_spark.sources.tables import load_table

        with ctx.tracer.span("sources.tables", "load_table"):
            for name in datagen.TABLES:
                load_table(spark, data, name)
            load_table(spark, data, "customer").count()
            load_table(spark, cdc_data, "customer").count()

    return warm


def _loop_for(seconds: float, step, min_samples: int = MIN_SAMPLES) -> None:
    deadline = time.perf_counter() + seconds
    n = 0
    while n < min_samples or time.perf_counter() < deadline:
        step()
        n += 1


def run(ctx) -> None:
    data = ctx.dir("data")
    datagen.write_tables(data, DATA_SF, ctx.seed)
    cdc_data = ctx.dir("cdc-data")
    datagen.write_tables(cdc_data, CDC_CUSTOMER_SF, ctx.seed, names=("customer",))
    warm_data = ctx.dir("warm-data")
    datagen.write_tables(warm_data, WARM_SF, ctx.seed)
    spark = harness.timed_setup(ctx, "catalog_cdc", _warmup(ctx, data, cdc_data))
    # warm-in, unmeasured: seed the table and compile the commit path in
    # one thread while a catalog pass over tiny tables compiles the
    # queries in another
    holder = {}

    def seed_and_warm():
        holder["loop"] = cdc.CdcLoop(
            ctx, spark, os.path.join(cdc_data, "customer.parquet"), "main", 0
        )
        holder["loop"].warm_merge()

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut = pool.submit(seed_and_warm)
        Catalog(ctx, spark, warm_data).one_pass(record=False)
        fut.result()
    loop = holder["loop"]
    cat = Catalog(ctx, spark, data)

    _loop_for(ctx.seconds / 2, cat.one_pass)
    _loop_for(ctx.seconds / 2, loop.step)

    cdc.report(ctx, loop)
    cat.report()
    ctx.put("main_p50_ms", ctx.metrics["acid.commit_p50_ms"][0], "ms")
    ctx.put("side_p50_ms", ctx.metrics["acid.feed_lag_p50_ms"][0], "ms")
    ctx.put("throughput_per_s", ctx.metrics["catalog.queries_per_s"][0], "1/s")
    if ctx.traced:
        # commit-shape metrics walk the table's files around a commit:
        # one extra iteration after the measured ones
        loop.step(measure_bytes=True)
        cdc.report_traced(ctx, loop)
    with ctx.tracer.span("checks", "catalog_cdc"):
        loop.check()
        cat.check()
