"""Self-tests of the benchmark harness.

    python -m pytest perfbench/tests -q

The generator and model tests are pure Python; the harvester test starts
a small local Spark session.
"""

from __future__ import annotations

import pytest

from perfbench import corpus, harness, sdmx


def _stream_prefix(seed: int, n: int):
    s = sdmx.Stream(seed, series=12, years=3)
    return [s.initial()] + [s.next() for _ in range(n)], s


def test_sdmx_stream_is_deterministic_per_seed():
    a, sa = _stream_prefix(7, 12)
    b, sb = _stream_prefix(7, 12)
    c, _ = _stream_prefix(8, 12)
    assert a == b
    assert sa.model.versions == sb.model.versions
    assert a != c


def test_corpus_is_deterministic_per_seed():
    a, b, c = corpus.Corpus(3, 200), corpus.Corpus(3, 200), corpus.Corpus(4, 200)
    assert a.tokens == b.tokens and (a.vectors == b.vectors).all()
    assert a.tokens != c.tokens
    assert a.revised(5, 9) == b.revised(5, 9)


def test_stream_covers_every_message_kind():
    msgs, _ = _stream_prefix(1, len(sdmx.WARMUP))
    assert {m["kind"] for m in msgs} == {"write", "merge", "update", "delete", "replace"}


def _table_rows(model: sdmx.Model) -> list[tuple]:
    return [(k,) + r for k, r in model.rows.items()]


def test_model_digest_matches_its_rows_at_every_step():
    s = sdmx.Stream(3, series=10, years=2)
    s.initial()
    for _ in range(2 * len(sdmx.WARMUP)):
        s.next()
        assert sdmx.snapshot_digest(_table_rows(s.model)) == s.model.versions[-1]


def test_model_check_fails_on_one_dropped_row():
    _, s = _stream_prefix(5, 10)
    rows = _table_rows(s.model)
    assert sdmx.snapshot_digest(rows) == s.model.versions[-1]
    assert sdmx.snapshot_digest(rows[1:]) != s.model.versions[-1]


@pytest.mark.parametrize("col", [6, 9, 7])  # OBS_VALUE, DECIMALS, OBS_STATUS
def test_model_check_fails_on_one_altered_row(col):
    _, s = _stream_prefix(5, 10)
    rows = [list(r) for r in _table_rows(s.model)]
    v = rows[3][col + 1]
    rows[3][col + 1] = v + 1e-4 if isinstance(v, float) else (v + 1 if isinstance(v, int) else v + "x")
    assert sdmx.snapshot_digest(map(tuple, rows)) != s.model.versions[-1]


def test_model_check_is_order_insensitive():
    _, s = _stream_prefix(5, 10)
    rows = _table_rows(s.model)
    assert sdmx.snapshot_digest(reversed(rows)) == s.model.versions[-1]


def test_tail_is_highest_percentile_with_ten_beyond_or_the_slowest():
    assert harness.tail(list(range(100))) == (89, 90.0)
    assert harness.tail(list(range(23))) == (12, pytest.approx(1300 / 23))
    # too few for a percentile above the median: the slowest sample
    assert harness.tail(list(range(22))) == (21, 100.0)
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_union_seconds_merges_overlaps_and_clips():
    assert harness.union_seconds([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


@pytest.fixture(scope="module")
def spark():
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SDLT_DRIVER_MEM", "1g")
    from sdlt_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    yield s
    s.stop()


def test_harvested_jobs_equal_status_tracker(spark):
    sc = spark.sparkContext
    group = f"{harness.GROUP_PREFIX}:selftest"
    sc.setJobGroup(group, "known query")
    try:
        df = spark.range(0, 20000, numPartitions=4)
        df.groupBy((df.id % 7).alias("k")).count().collect()
        df.selectExpr("sum(id)").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = harness.harvest(spark)  # asserts it launches no job itself
    mine = sorted(j.id for j in jobs if j.group == group)
    assert mine == sorted(sc.statusTracker().getJobIdsForGroup(group))
    assert len(mine) >= 2
    assert sum(j.cpu_s for j in jobs if j.group == group) > 0
    assert all(j.end >= j.start > 0 for j in jobs)


def test_benchmark_json_lists_the_reported_metrics():
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == harness.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == harness.per_layer_names()
    assert all(m["unit"] == harness.per_layer_unit(m["name"]) for m in bench["per_layer"])
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
