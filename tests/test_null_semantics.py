"""Null-semantics policy tests (SURVEY.md §7.4.3 hard part: R NA vs Spark
null). These pin the engine's contract so every kernel can rely on it:

- WHERE/filter drops null-predicate rows (matches R dplyr::filter AND SQL).
- Aggregates skip nulls (matches R na.rm=TRUE).
- min/max of an all-null group is null — NOT R's Inf-with-warning
  (HT31xx_LSVI.Rmd:232-239); kernels needing the R behavior must coalesce
  explicitly.
- bool_and skips nulls; a group of only nulls yields null (strict kernels
  must guard, see kernels/lsvi.py docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _t(spark):
    return spark.createDataFrame(
        [
            (1, "a", 1.0, True),
            (1, None, 2.0, None),
            (2, "b", None, False),
            (3, None, None, None),
        ],
        "grp int, s string, v double, b boolean",
    )


def test_filter_drops_null_predicate_rows(spark):
    # R: filter(s != "a") drops NA rows; SQL WHERE likewise
    out = _t(spark).filter(F.col("s") != "a").collect()
    assert [r.grp for r in out] == [2]


def test_aggregates_skip_nulls_like_na_rm(spark):
    r = (
        _t(spark)
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("n_nonnull"),
            F.count("*").alias("n_rows"),
            F.avg("v").alias("m"),
        )
        .collect()[0]
    )
    assert r.s == 3.0 and r.n_nonnull == 2 and r.n_rows == 4
    assert abs(r.m - 1.5) < 1e-9  # mean over non-null only


def test_min_of_all_null_group_is_null_not_inf(spark):
    out = {
        r.grp: r.mn
        for r in _t(spark).groupBy("grp").agg(F.min("v").alias("mn")).collect()
    }
    assert out[1] == 1.0
    assert out[2] is None  # v null for grp 2's only row
    assert out[3] is None  # R would give Inf + warning; our policy: null


def test_bool_and_null_policy(spark):
    out = {
        r.grp: r.ba
        for r in _t(spark)
        .groupBy("grp")
        .agg(F.bool_and("b").alias("ba"))
        .collect()
    }
    assert out[1] is True    # null skipped, remaining True
    assert out[2] is False
    assert out[3] is None    # only nulls -> null (strict kernels must guard)


def test_na_fill_idioms(spark):
    # ifelse(is.na(x), y, x) == coalesce; ifelse(x=="", NA, x) == nullif
    out = (
        _t(spark)
        .select(
            F.coalesce(F.col("s"), F.lit("missing")).alias("filled"),
            F.nullif(F.lit(""), F.lit("")).alias("blanked"),
        )
        .collect()
    )
    assert [r.filled for r in out] == ["a", "missing", "b", "missing"]
    assert all(r.blanked is None for r in out)


def test_layer_cover_rollup_boundary(spark):
    from n2khab_mhq_data_spark.kernels.cover import layer_cover_rollup

    df = spark.createDataFrame(
        [
            (1, 50.0), (1, 100.0),          # product hits 0 -> exactly 100
            (2, 50.0), (2, None),           # NULL propagates (R prod NA)
            (3, None), (3, 100.0),          # NULL beats the 100 branch
            (4, 50.0), (4, 50.0),           # plain exp-sum-log branch
        ],
        "plot_id int, cover_mean double",
    )
    out = {
        r.plot_id: r.cover_layer
        for r in layer_cover_rollup(df, ["plot_id"]).collect()
    }
    assert out[1] == 100.0
    assert out[2] is None
    assert out[3] is None
    assert abs(out[4] - 75.0) < 1e-6


def test_asof_join_whole_row_null_payload(spark):
    from n2khab_mhq_data_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 30)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 5, "old", 1.0), (1, 20, None, 2.0)],
        "k int, t int, label string, score double",
    )
    out = {
        r.t: (r.label, r.score)
        for r in asof_join(
            left, right, "k", "t", ["label", "score"]
        ).collect()
    }
    # t=30's as-of row is t=20 whose label is legitimately NULL: DuckDB
    # ASOF attaches the WHOLE row, so label must be None, not "old"
    assert out[30] == (None, 2.0)
    assert out[10] == ("old", 1.0)


def test_asof_join_rejects_column_collision(spark):
    import pytest

    from n2khab_mhq_data_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k int, t int, label string")
    right = spark.createDataFrame([(1, 5, "y")], "k int, t int, label string")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, "k", "t", ["label"])


def test_split_hash_negative_ids(spark):
    from n2khab_mhq_data_spark.llmdata.pipeline import hash_split

    df = spark.createDataFrame(
        [(-5,), (-1000003,), (-1,), (7,)], "doc_id long"
    )
    rows = hash_split(df, "doc_id").collect()
    assert all(0 <= r.pct <= 99 for r in rows)
    assert all(r.split in ("train", "val", "test") for r in rows)


# --- K7 strict-null roll-up + operator fail-fast ------------------------

def _lsvi_fixture(spark, value_rows):
    from n2khab_mhq_data_spark.kernels.lsvi import (
        aggregate_levels,
        evaluate_conditions,
        measurement_map,
        rules_dim,
    )

    rules = rules_dim(
        spark,
        [
            ("3.0", "ht", "crit_a", "ind_a", "vw_mand", ">=", 10.0, False),
            ("3.0", "ht", "crit_a", "ind_a", "vw_opt", ">=", 10.0, True),
            ("3.0", "ht", "crit_b", "ind_b", "vw_other", ">=", 10.0, False),
        ],
    )
    meas = spark.createDataFrame(
        value_rows, "plot_id int, habitat_type string, voorwaarde string, value double"
    )
    return aggregate_levels(
        evaluate_conditions(measurement_map(meas), rules, versie="3.0")
    )


def test_lsvi_null_mandatory_propagates_to_global(spark):
    # plot 1: mandatory voorwaarde unmeasured -> indicator/criterium/global
    # all null (unknown), even though the optional one passes
    levels = _lsvi_fixture(
        spark,
        [
            (1, "ht", "vw_mand", None),
            (1, "ht", "vw_opt", 20.0),
            (1, "ht", "vw_other", 20.0),
        ],
    )
    ind = {
        r.indicator: r.status_indicator
        for r in levels["lsvi_indicator"].collect()
    }
    assert ind == {"ind_a": None, "ind_b": True}
    glob = levels["lsvi_globaal"].collect()[0]
    assert glob.status_global is None and glob.share_favourable is None


def test_lsvi_null_optional_is_skipped(spark):
    # optional voorwaarde unmeasured -> bool_and over the rest
    levels = _lsvi_fixture(
        spark,
        [
            (1, "ht", "vw_mand", 20.0),
            (1, "ht", "vw_opt", None),
            (1, "ht", "vw_other", 5.0),
        ],
    )
    ind = {
        r.indicator: r.status_indicator
        for r in levels["lsvi_indicator"].collect()
    }
    assert ind == {"ind_a": True, "ind_b": False}
    glob = levels["lsvi_globaal"].collect()[0]
    assert glob.status_global is False and glob.share_favourable == 0.5


def test_lsvi_unknown_operator_fails_fast(spark):
    import pytest
    from pyspark.sql.utils import PythonException

    from n2khab_mhq_data_spark.kernels.lsvi import (
        evaluate_conditions,
        measurement_map,
        rules_dim,
    )

    rules = rules_dim(
        spark, [("3.0", "ht", "c", "i", "vw", "!=", 1.0, False)]
    )
    meas = spark.createDataFrame(
        [(1, "ht", "vw", 5.0)],
        "plot_id int, habitat_type string, voorwaarde string, value double",
    )
    with pytest.raises(Exception, match="unknown LSVI operator"):
        evaluate_conditions(
            measurement_map(meas), rules, versie="3.0"
        ).collect()


def test_lsvi_species_absent_species_scores_zero(spark):
    from n2khab_mhq_data_spark.kernels.lsvi import (
        species_list_dim,
        species_measurements,
    )

    lst = species_list_dim(
        spark,
        [
            ("3.0", "ht", "c", "i", "n_key", "n_species", "sp_a"),
            ("3.0", "ht", "c", "i", "n_key", "n_species", "sp_b"),
            ("3.0", "ht", "c", "i", "cov_key", "sum_cover", "sp_a"),
            ("3.0", "ht", "c", "i", "cov_key", "sum_cover", "sp_b"),
        ],
    )
    # plot 1 has one listed species (twice: growth forms -> max dedup) and
    # one unlisted; plot 2 has none listed
    cover = spark.createDataFrame(
        [
            (1, "ht", "sp_a", 30.0),
            (1, "ht", "sp_a", 10.0),
            (1, "ht", "sp_x", 50.0),
            (2, "ht", "sp_y", 40.0),
        ],
        "plot_id int, habitat_type string, name_sc string, cover double",
    )
    out = {
        (r.plot_id, r.voorwaarde): r.value
        for r in species_measurements(cover, lst, "3.0").collect()
    }
    assert out == {
        (1, "n_key"): 1.0,
        (1, "cov_key"): 30.0,
        (2, "n_key"): 0.0,
        (2, "cov_key"): 0.0,
    }


# --- K7 condition completion: null keys, gaps and duplicates ------------

def _lsvi_detail(spark, value_rows):
    from n2khab_mhq_data_spark.kernels.lsvi import (
        evaluate_conditions,
        measurement_map,
        rules_dim,
    )

    rules = rules_dim(
        spark,
        [
            ("3.0", "ht", "c", "i", "vw_a", ">=", 10.0, False),
            ("3.0", "ht", "c", "i", "vw_b", ">=", 10.0, False),
        ],
    )
    meas = spark.createDataFrame(
        value_rows,
        "plot_id int, habitat_type string, voorwaarde string, value double",
    )
    return sorted(
        (
            (r.plot_id, r.voorwaarde, r.value, r.status_voorwaarde)
            for r in evaluate_conditions(
                measurement_map(meas), rules, versie="3.0"
            ).collect()
        ),
        key=repr,
    )


def test_lsvi_null_voorwaarde_measurement_is_ignored(spark):
    # plot 1's NULL-keyed value matches no rule; plot 2, measured only
    # under a NULL key, still gets its rule rows, unmeasured
    assert _lsvi_detail(
        spark,
        [
            (1, "ht", "vw_a", 20.0),
            (1, "ht", None, 5.0),
            (1, "ht", "vw_b", 1.0),
            (2, "ht", None, 20.0),
        ],
    ) == [
        (1, "vw_a", 20.0, True),
        (1, "vw_b", 1.0, False),
        (2, "vw_a", None, None),
        (2, "vw_b", None, None),
    ]


def test_lsvi_null_plot_yields_unmeasured_rule_rows(spark):
    # a NULL plot_id equals no plot, not even its own measurements
    assert _lsvi_detail(
        spark, [(None, "ht", "vw_a", 20.0), (None, "ht", "vw_b", 20.0)]
    ) == [(None, "vw_a", None, None), (None, "vw_b", None, None)]


def test_lsvi_unmeasured_rule_voorwaarde_has_null_status(spark):
    assert _lsvi_detail(spark, [(1, "ht", "vw_a", 20.0)]) == [
        (1, "vw_a", 20.0, True),
        (1, "vw_b", None, None),
    ]


def test_lsvi_duplicate_measurement_fails_fast(spark):
    # one condition measured twice has no single status: raise, like an
    # unknown operator, whatever spark.sql.mapKeyDedupPolicy says
    import pytest

    for policy in ("EXCEPTION", "LAST_WIN"):
        spark.conf.set("spark.sql.mapKeyDedupPolicy", policy)
        try:
            with pytest.raises(
                Exception, match="duplicate LSVI measurement: plot 1"
            ):
                _lsvi_detail(
                    spark,
                    [
                        (1, "ht", "vw_a", 20.0),
                        (1, "ht", "vw_a", 5.0),
                        (1, "ht", "vw_b", 20.0),
                    ],
                )
        finally:
            spark.conf.unset("spark.sql.mapKeyDedupPolicy")
