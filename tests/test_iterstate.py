"""The round-state driver of the iterative operators
(operators/iterstate.py) on toy frames: resume past a partial round,
marker round-trip, verdict recording, durable == volatile, and the
commit protocol under a ``file://`` scratch root."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from diabetes_etl_spark.operators.iterstate import CONVERGED, RoundState
from diabetes_etl_spark.operators.util import SCRATCH_CONF


def _counter(spark, calls):
    """init/step pair over a one-column frame: round k holds v = k*10 + i."""

    def init():
        calls.append(0)
        return spark.range(3).select(F.col("id").alias("v"))

    def step(cur, k):
        calls.append(k)
        return cur.select((F.col("v") + 10).alias("v"))

    return init, step


def _values(df):
    return sorted(r.v for r in df.collect())


def test_resume_skips_partial_round(spark, tmp_path):
    wd = str(tmp_path / "wd")
    calls: list[int] = []
    init, step = _counter(spark, calls)
    rs = RoundState(spark, wd, "r_")
    cur, k, verdict = rs.run(init, step, 2)
    assert (k, verdict, calls) == (2, None, [0, 1, 2])
    stamp = os.path.getmtime(os.path.join(wd, "r_00001", "_SUCCESS"))

    # a partial round 3: a directory with no _SUCCESS is not a commit
    partial = os.path.join(wd, "r_00003")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    calls.clear()
    rs = RoundState(spark, wd, "r_")
    assert rs.last_round(4) == 2
    cur, k, _ = rs.run(init, step, 4)
    assert calls == [3, 4]  # resumed after round 2, junk round rewritten
    assert k == 4 and _values(cur) == [40, 41, 42]
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))
    assert os.path.getmtime(os.path.join(wd, "r_00001", "_SUCCESS")) == stamp


def test_marker_round_trip(spark, tmp_path):
    rs = RoundState(spark, str(tmp_path / "wd"), "r_")
    assert rs.marker("DONE") is None
    rs.mark("DONE", 7)
    assert rs.marker("DONE") == 7
    rs.mark("DONE", 12)  # overwrite
    assert rs.marker("DONE") == 12
    with open(tmp_path / "wd" / "DONE", encoding="utf-8") as fh:
        assert fh.read() == "12"
    vol = RoundState(spark, None, "r_", volatile="checkpoint")
    vol.mark("DONE", 1)  # volatile: no marker storage at all
    assert vol.marker("DONE") is None


def test_stop_verdict_recorded_and_converged_short_circuits(spark, tmp_path):
    wd = str(tmp_path / "wd")
    calls: list[int] = []
    init, step = _counter(spark, calls)

    def stop(cur, k):
        return CONVERGED if k == 2 else None

    cur, k, verdict = RoundState(spark, wd, "r_").run(init, step, 5, stop)
    assert (k, verdict, calls) == (2, CONVERGED, [0, 1, 2])
    assert RoundState(spark, wd, "r_").marker(CONVERGED) == 2
    calls.clear()
    cur, k, verdict = RoundState(spark, wd, "r_").run(init, step, 5, stop)
    assert (k, verdict, calls) == (2, CONVERGED, [])
    assert _values(cur) == [20, 21, 22]


def test_durable_matches_volatile(spark, tmp_path):
    init, step = _counter(spark, [])
    want = _values(
        RoundState(spark, str(tmp_path / "wd"), "r_", partitions=1)
        .run(init, step, 3)[0]
    )
    assert want == [30, 31, 32]
    for medium in ("checkpoint", "rows"):
        rs = RoundState(spark, None, "r_", volatile=medium)
        assert rs.snapshot(spark.range(2), "pts").count() == 2
        assert _values(rs.run(init, step, 3)[0]) == want


def test_snapshot_materializes_once(spark, tmp_path):
    rs = RoundState(spark, str(tmp_path / "wd"), "r_")
    first = rs.snapshot(spark.range(4), "pts")
    assert first.count() == 4
    # a committed snapshot is reused as-is, whatever the new plan says
    again = rs.snapshot(spark.range(9), "pts")
    assert again.count() == 4


def test_operators_commit_and_resume_under_file_uri_root(spark, tmp_path):
    """A ``file://`` scratch root: the commit probe and the marker I/O go
    through the Hadoop FileSystem, so the star variant's CONVERGED
    marker is writable and pagerank's rounds are seen as committed."""
    from diabetes_etl_spark.operators.components import (
        connected_components_star,
    )
    from diabetes_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    plain = sorted(map(tuple, pagerank(edges, iterations=2).collect()))
    spark.conf.set(SCRATCH_CONF, f"file://{tmp_path}/scratch")
    try:
        star = {
            r.id: r.component
            for r in connected_components_star(edges).collect()
        }
        ranks = sorted(map(tuple, pagerank(edges, iterations=2).collect()))
    finally:
        spark.conf.unset(SCRATCH_CONF)
    assert star == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert ranks == plain

    # resume through a URI work_dir: a rerun recomputes no round
    wd = f"file://{tmp_path}/uri_wd"
    calls: list[int] = []
    init, step = _counter(spark, calls)
    RoundState(spark, wd, "r_").run(init, step, 2)
    calls.clear()
    cur, k, _ = RoundState(spark, wd, "r_").run(init, step, 2)
    assert calls == [] and k == 2 and _values(cur) == [20, 21, 22]
    assert os.path.exists(tmp_path / "uri_wd" / "r_00002" / "_SUCCESS")
