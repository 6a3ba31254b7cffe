"""The ``@build_step`` registry (plans/__init__.py): one slot per
(step, sf_dir), reused only by the session that built it on the same
source files, rebuilt in place otherwise."""

from __future__ import annotations

import os

import pytest

from n2khab_mhq_data_spark.plans import BUILD_STEPS, build_step
from n2khab_mhq_data_spark.plans.graph import _copurchase_edges


def _write_lineitem(spark, sf_dir: str, rows: list[tuple[int, int]]) -> None:
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf_dir, "lineitem.parquet"))


def _edges(spark, sf_dir: str) -> set[tuple[int, int, int]]:
    return {
        (r.a, r.b, r.support)
        for r in _copurchase_edges(spark, sf_dir).collect()
    }


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def lineitem_dir(spark, tmp_path):
    sf_dir = str(tmp_path)
    # parts 1 and 2 share orders 10 and 11; part 3 joins them only once
    _write_lineitem(
        spark, sf_dir, [(10, 1), (10, 2), (11, 1), (11, 2), (12, 3), (12, 1)]
    )
    yield sf_dir
    _copurchase_edges.slots.pop(sf_dir, None)


def test_every_step_is_registered_once(spark):
    import __spark_entry__ as entry

    entry.queries()
    assert sorted(BUILD_STEPS) == sorted([
        "near_pairs", "components", "bigram_lm", "bm25_index",
        "bpe_merges", "kmeans_cents", "copurchase_edges", "lsvi_levels",
    ])
    assert BUILD_STEPS["copurchase_edges"] is _copurchase_edges
    assert BUILD_STEPS["lsvi_levels"].tables == ("orders", "lineitem")


def test_rewritten_source_rebuilds_into_the_same_slot(spark, lineitem_dir):
    assert _edges(spark, lineitem_dir) == {(1, 2, 2)}
    _write_lineitem(
        spark, lineitem_dir, [(20, 5), (20, 6), (21, 5), (21, 6)]
    )
    assert _edges(spark, lineitem_dir) == {(5, 6, 2)}
    # the superseded checkpoint is not kept alongside the new one
    assert list(_copurchase_edges.slots) == [lineitem_dir]


def test_repeat_call_in_the_same_session_runs_no_job(spark, lineitem_dir):
    first = _copurchase_edges(spark, lineitem_dir)
    again = []
    jobs = _jobs_in_group(
        spark, "build-step-repeat",
        lambda: again.append(_copurchase_edges(spark, lineitem_dir)),
    )
    assert jobs == []
    assert again[0] is first


def test_another_session_rebuilds(spark, lineitem_dir):
    first = _copurchase_edges(spark, lineitem_dir)
    other = spark.newSession()
    jobs = _jobs_in_group(
        other, "build-step-new-session",
        lambda: _copurchase_edges(other, lineitem_dir),
    )
    assert jobs, "a new session must rebuild, not reuse a foreign value"
    slot = _copurchase_edges.slots[lineitem_dir]
    assert slot.spark is other and slot.value is not first
    assert _edges(other, lineitem_dir) == {(1, 2, 2)}


def test_plain_values_follow_the_same_rules(spark, tmp_path):
    """A step returning a plain Python value (as bpe_merges and
    kmeans_cents do) is keyed exactly like a DataFrame-valued one."""
    sf_dir = str(tmp_path)
    _write_lineitem(spark, sf_dir, [(1, 1)])
    calls = []

    @build_step("test_plain_value", "lineitem")
    def plain(spark, sf_dir):
        calls.append(sf_dir)
        return [len(calls)]

    try:
        assert plain(spark, sf_dir) == [1]
        assert plain(spark, sf_dir) == [1]
        assert plain(spark.newSession(), sf_dir) == [2]
        _write_lineitem(spark, sf_dir, [(2, 2)])
        assert plain(spark, sf_dir) == [3]
        assert len(plain.slots) == 1 and plain.slots[sf_dir].seconds >= 0
        # one reuse; the first build, the new session and the rewrite miss
        assert (plain.hits[sf_dir], plain.misses[sf_dir]) == (1, 3)
    finally:
        del BUILD_STEPS["test_plain_value"]


def test_lsvi_levels_is_eager_and_keeps_its_four_levels(spark, sf_dir):
    """The build materializes its checkpoints when called, builds each
    roll-up from the level below it in at most 12 jobs, and its four
    levels equal the lazy ``aggregate_levels`` fold of the same detail
    row for row."""
    from n2khab_mhq_data_spark.kernels.lsvi import aggregate_levels
    from n2khab_mhq_data_spark.plans.kernels import (
        _lsvi_detail_build,
        _lsvi_levels,
    )

    other = spark.newSession()
    levels = []
    jobs = _jobs_in_group(
        other, "build-step-lsvi",
        lambda: levels.append(_lsvi_levels(other, sf_dir)),
    )
    assert 0 < len(jobs) <= 12
    assert sorted(levels[0]) == [
        "lsvi_criterium", "lsvi_detail", "lsvi_globaal", "lsvi_indicator",
    ]
    lazy = aggregate_levels(_lsvi_detail_build(other, sf_dir))
    for name, built in levels[0].items():
        assert built.count() > 0, name
        assert built.schema == lazy[name].schema, name
        assert built.exceptAll(lazy[name]).count() == 0, name
        assert lazy[name].exceptAll(built).count() == 0, name
