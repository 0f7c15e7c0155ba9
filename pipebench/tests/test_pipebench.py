"""The benchmark's own tests: pure-Python parts, no Spark session.

    python3 -m pytest pipebench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pipebench import datagen, metrics, stats  # noqa: E402
from pipebench.loadgen import OpenLoopGenerator  # noqa: E402


# -- generator ---------------------------------------------------------------


def test_generator_stamps_each_file_at_creation(tmp_path):
    clock = iter([100.0, 100.26, 100.75])
    gen = OpenLoopGenerator(str(tmp_path), rate_eps=40, tick_s=0.25, n_cust=50,
                            seed=1, clock=lambda: next(clock))
    for k in range(3):
        gen.emit(100.0 + 0.25 * k)
    files = sorted(os.listdir(tmp_path))
    assert files == [f"ev-{k:07d}.parquet" for k in range(3)]
    ids, stamps = [], []
    for f in files:
        t = pq.read_table(tmp_path / f).to_pydict()
        ids += t["event_id"]
        stamps.append({ts.timestamp() for ts in t["ts"]})
    assert ids == list(range(30))                    # 10 events per tick
    assert [min(s) for s in stamps] == pytest.approx([100.0, 100.26, 100.75])
    assert all(len(s) == 1 for s in stamps)          # one stamp per file
    # lateness is creation minus due time
    assert gen.lateness_s() == pytest.approx([0.0, 0.01, 0.25])
    assert gen.created_at_us() == {0: 100_000_000, 10: 100_260_000, 20: 100_750_000}


def test_generator_keeps_its_schedule_through_a_stall(tmp_path, monkeypatch):
    """A stalled write delays later ticks but never drops them: after the
    stall the overdue ticks are written at once, so the number of files
    by time T stays ~T / tick (open loop), and the lateness shows it."""
    real_write = pq.write_table
    stalled = threading.Event()

    def slow_write(table, path, **kw):
        if not stalled.is_set() and "0000003" in path:
            stalled.set()
            time.sleep(0.2)
        real_write(table, path, **kw)

    monkeypatch.setattr("pipebench.loadgen.pq.write_table", slow_write)
    gen = OpenLoopGenerator(str(tmp_path), rate_eps=100, tick_s=0.02, n_cust=50, seed=2)
    gen.start()
    time.sleep(0.5)
    gen.stop()
    n = len(gen.ticks)
    assert 20 <= n <= 27                      # 0.5 s / 0.02 s, stall included
    late = gen.lateness_s()
    assert max(late) >= 0.15                  # the ticks behind the stall
    assert late[-1] < 0.05                    # caught up afterwards
    firsts = [t[1] for t in gen.ticks]
    assert firsts == [2 * k for k in range(n)]


def test_rating_batches_are_seeded_and_shaped():
    import numpy as np

    a = datagen.rating_batch(np.random.default_rng(5), 0, 5000, 1, n_cust=1000)
    b = datagen.rating_batch(np.random.default_rng(5), 0, 5000, 1, n_cust=1000)
    assert a.equals(b)
    d = a.to_pydict()
    err = sum(1 for t in d["event_type"] if t == "error") / 5000
    assert 0.17 < err < 0.23
    unmatched = sum(1 for u in d["user_id"] if u >= 1000) / 5000
    assert 0.03 < unmatched < 0.07
    # Zipf skew: the hottest key carries far more than a uniform share
    from collections import Counter

    top = Counter(u for u in d["user_id"] if u < 1000).most_common(1)[0][1]
    assert top > 20 * 5000 / 1000


def test_tables_depend_only_on_seed():
    assert datagen.make_table("orders", 0.001, 3).equals(datagen.make_table("orders", 0.001, 3))
    assert not datagen.make_table("orders", 0.001, 3).equals(datagen.make_table("orders", 0.001, 4))


# -- percentiles -------------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 0) == 1 and stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want, got",
    [
        (1000, 99, 99.0),     # 10 samples beyond p99
        (999, 99, 98.0),      # p99 would leave 9.99: step down
        (200, 99, 95.0),      # 10 of 200 beyond
        (100, 90, 90.0),
        (50, 90, 80.0),
        (20, 90, 50.0),
        (19, 90, None),       # not even the median has 10 beyond it
        (0, 90, None),
    ],
)
def test_supported_percentile_needs_ten_samples_beyond(n, want, got):
    p = stats.supported_percentile(n, want)
    assert p == got
    if p is not None:
        assert n * (1 - p / 100) >= 10 - 1e-9


# -- sustained-rate decision -------------------------------------------------


def _series(rate, slope_share, n=20, dt=0.5):
    ts = [i * dt for i in range(n)]
    # a catch-up dip in the first half, then a trend of slope_share x rate
    return ts, [max(0.0, 3000 - 600 * i) if i < n // 2 else slope_share * rate * t for i, t in enumerate(ts)]


def test_sustained_rate_picks_highest_flat_step():
    steps = [
        (8000, *_series(8000, 0.0)),
        (16000, *_series(16000, 0.01)),     # within tolerance
        (32000, *_series(32000, 0.4)),      # falling behind
        (64000, *_series(64000, 0.0)),      # flat by luck: not credited
    ]
    assert stats.sustained_rate(steps) == 16000


def test_sustained_rate_none_when_lowest_step_grows():
    assert stats.sustained_rate([(8000, *_series(8000, 0.5))]) is None


def test_backlog_decision_ignores_the_catch_up_half():
    ts, b = _series(8000, 0.0)
    assert b[0] > b[-1] and not stats.backlog_grows(ts, b, 8000)


# -- metric catalogue --------------------------------------------------------


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_and_units_follow_the_grammar():
    for name, unit in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
        assert stats.valid_metric_name(name), name
        assert stats.valid_metric_unit(unit), (name, unit)
    assert not stats.valid_metric_name("_starts_with_underscore")
    assert not stats.valid_metric_name("has space")
    assert not stats.valid_metric_name("x" * 65)
    assert not stats.valid_metric_unit("way-too-long-unit-name")


def test_benchmark_json_matches_the_catalogue():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]
    ]
    assert len(names) == len(set(names))
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25
    from pipebench.run import WORKLOADS

    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


# -- catalog -----------------------------------------------------------------


def test_every_catalog_query_has_exactly_one_rollup():
    from data_pipeline_kafka_ek_spark.plans import extensions  # noqa: F401
    from data_pipeline_kafka_ek_spark.plans.catalog import bench_queries, oracle_sql

    bench = bench_queries()
    oracles = oracle_sql()
    for q, rollup in metrics.CATALOG_QUERIES.items():
        assert rollup in metrics.ROLLUPS
        assert q in bench and q in oracles, q
    # a dict cannot file a query twice; every roll-up is populated
    assert set(metrics.CATALOG_QUERIES.values()) == set(metrics.ROLLUPS)
    assert not {"t_streaming_acid_changes", "x_acid_incremental_mv"} & set(metrics.CATALOG_QUERIES)


def test_rows_match_tolerates_only_last_decimal_rounding():
    from pipebench.catalog import _load_gate, rows_match

    gate = _load_gate(ROOT)
    cols = ["k", "v"]
    assert rows_match(gate, cols, [(1, 0.3783)], ["v", "k"], [(0.3782, 1)])
    assert rows_match(gate, cols, [(1, 591821.57)], cols, [(1, 591821.56)])
    assert not rows_match(gate, cols, [(1, 0.3783)], cols, [(1, 0.3781)])
    assert not rows_match(gate, cols, [(1, 0.5)], cols, [(2, 0.5)])
    assert not rows_match(gate, cols, [(1, 0.5)], cols, [])
