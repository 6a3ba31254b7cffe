"""Hand-computed fixture tests for the domain kernels (SURVEY.md §5 test
plan item 4): LSVI rule engine, volume tariffs, cover rollup — tiny inputs
with expectations computed by hand, independent of the DuckDB oracle."""

from __future__ import annotations


from pyspark.sql import functions as F

from n2khab_mhq_data_spark.kernels.cover import (
    cover_scale_dim,
    decode_cover,
    layer_cover_rollup,
)
from n2khab_mhq_data_spark.kernels.lsvi import (
    aggregate_levels,
    evaluate_conditions,
    measurement_map,
    rules_dim,
)
from n2khab_mhq_data_spark.kernels.tariff import compute_volume, tariff_dim


def test_lsvi_levels_hand_computed(spark):
    rules = rules_dim(
        spark,
        [
            ("3.0", "ht1", "structuur", "omvang", "area", ">=", 10.0, False),
            ("3.0", "ht1", "structuur", "omvang", "n", ">=", 2.0, False),
            ("3.0", "ht1", "kwaliteit", "verstoring", "disturb", "<", 0.3, False),
            # optional rule: unmeasured (null value) must be SKIPPED, not
            # null the indicator (kernels/lsvi.py na.rm semantics)
            ("3.0", "ht1", "kwaliteit", "verstoring", "extra", "<", 5.0, True),
        ],
    )
    meas = spark.createDataFrame(
        [
            # plot 1: area ok, n ok, disturb ok -> all favourable;
            # optional 'extra' unmeasured -> skipped
            (1, "ht1", "area", 12.0),
            (1, "ht1", "n", 3.0),
            (1, "ht1", "disturb", 0.1),
            (1, "ht1", "extra", None),
            # plot 2: n fails -> structuur unfavourable, kwaliteit ok
            (2, "ht1", "area", 15.0),
            (2, "ht1", "n", 1.0),
            (2, "ht1", "disturb", 0.2),
            # plot 3: MANDATORY area unmeasured -> omvang null -> structuur
            # null -> global null (strict-null propagation)
            (3, "ht1", "area", None),
            (3, "ht1", "n", 2.0),
            (3, "ht1", "disturb", 0.1),
        ],
        "plot_id int, habitat_type string, voorwaarde string, value double",
    )
    levels = aggregate_levels(
        evaluate_conditions(measurement_map(meas), rules, versie="3.0")
    )

    ind = {
        (r.plot_id, r.indicator): r.status_indicator
        for r in levels["lsvi_indicator"].collect()
    }
    assert ind[(1, "omvang")] is True and ind[(2, "omvang")] is False
    assert ind[(1, "verstoring")] is True and ind[(2, "verstoring")] is True
    # plot 3: mandatory null -> indicator unknown; optional-null untouched
    assert ind[(3, "omvang")] is None
    assert ind[(3, "verstoring")] is True

    glob = {
        r.plot_id: (r.status_global, r.share_favourable)
        for r in levels["lsvi_globaal"].collect()
    }
    assert glob[1] == (True, 1.0)
    # plot 2: structuur fails, kwaliteit passes -> global False, share 0.5
    assert glob[2][0] is False and abs(glob[2][1] - 0.5) < 1e-6
    # plot 3: null propagates criterium -> global; share nulled too so an
    # unknown never masquerades as a measured share
    assert glob[3] == (None, None)


def test_lsvi_unmeasured_mandatory_voorwaarde_blocks_certification(spark):
    """A mandatory voorwaarde with NO measurement row at all (not even a
    null-valued one) must surface as an unknown and refuse to certify —
    the pre-r6 inner join silently dropped it and certified plots on
    partial measurements."""
    rules = rules_dim(
        spark,
        [
            ("3.0", "ht1", "structuur", "omvang", "area", ">=", 10.0, False),
            ("3.0", "ht1", "structuur", "omvang", "n", ">=", 2.0, False),
        ],
    )
    meas = spark.createDataFrame(
        [(1, "ht1", "area", 12.0)],  # 'n' entirely unmeasured
        "plot_id int, habitat_type string, voorwaarde string, value double",
    )
    detail = evaluate_conditions(measurement_map(meas), rules, versie="3.0")
    rows = {r.voorwaarde: r.status_voorwaarde for r in detail.collect()}
    assert rows == {"area": True, "n": None}  # completion row present
    glob = aggregate_levels(detail)["lsvi_globaal"].collect()
    assert glob[0].status_global is None  # refuses to certify


def test_lsvi_species_null_cover_is_unknown_not_zero(spark):
    """A recorded listed species whose cover is NULL (present,
    unmeasured) makes the plot's species statistics UNKNOWN — sum()'s
    native null-skip would fabricate a smaller measured value and could
    certify a '<' threshold on made-up data. Plots with NO listed
    species at all still read 0 (absent is a real measurement)."""
    from n2khab_mhq_data_spark.kernels.lsvi import (
        species_list_dim,
        species_measurements,
    )

    lst = species_list_dim(
        spark,
        [
            ("3.0", "ht1", "veg", "sleutel", "cover_key_species",
             "sum_cover", "sp_a"),
            ("3.0", "ht1", "veg", "sleutel", "cover_key_species",
             "sum_cover", "sp_b"),
        ],
    )
    cover = spark.createDataFrame(
        [
            (1, "ht1", "sp_a", 40.0), (1, "ht1", "sp_b", None),  # unknown
            (2, "ht1", "sp_a", 40.0), (2, "ht1", "sp_b", 10.0),  # 50
            (3, "ht1", "sp_zz", 99.0),  # no LISTED species -> 0
        ],
        "plot_id int, habitat_type string, name_sc string, cover double",
    )
    got = {
        r.plot_id: r.value
        for r in species_measurements(cover, lst, versie="3.0").collect()
    }
    assert got[1] is None and got[2] == 50.0 and got[3] == 0.0


def test_lsvi_species_growth_form_null_and_unknown_stat(spark):
    """Two guards around species_measurements: (1) the growth-form dedup
    must PROPAGATE a NULL cover (R's max(c(NA, 5)) is NA), not let one
    measured growth form mask the unmeasured one past the strict-null
    guard; (2) an unrecognized stat code fails fast instead of being
    silently evaluated as sum_cover."""
    import pytest

    from n2khab_mhq_data_spark.kernels.lsvi import (
        species_list_dim,
        species_measurements,
    )

    lst = species_list_dim(
        spark,
        [("3.0", "ht1", "veg", "sleutel", "cover_key_species",
          "sum_cover", "sp_a")],
    )
    # sp_a recorded twice (two growth forms): one measured, one NULL
    cover = spark.createDataFrame(
        [(1, "ht1", "sp_a", 5.0), (1, "ht1", "sp_a", None)],
        "plot_id int, habitat_type string, name_sc string, cover double",
    )
    (row,) = species_measurements(cover, lst, versie="3.0").collect()
    assert row.value is None  # NOT 5.0 — partially unmeasured is unknown

    bad = species_list_dim(
        spark,
        [("3.0", "ht1", "veg", "sleutel", "n_key_species",
          "mean_cover", "sp_a")],  # unknown stat vocabulary
    )
    with pytest.raises(Exception, match="unknown species-list stat"):
        species_measurements(cover, bad, versie="3.0").collect()


def test_tariff_polynomials(spark):
    params = tariff_dim(
        spark,
        [("g1", 1, 1.0, 2.0, 3.0, 0.0), ("g2", 3, 0.5, 0.1, 0.01, 0.0)],
    )
    trees = spark.createDataFrame(
        [("g1", 2.0, None), ("g2", 3.0, 4.0)],
        "species_group string, dbh double, height double",
    )
    out = {
        r.species_group: r.vol_m3
        for r in compute_volume(trees, params, height_col="height").collect()
    }
    # g1 (type 1): 1 + 2*2 + 3*4 = 17
    assert abs(out["g1"] - 17.0) < 1e-6
    # g2 (type 3): 0.5 + 0.1*9 + 0.01*9*4 = 1.76
    assert abs(out["g2"] - 1.76) < 1e-6


def test_tariff_null_input_raises(spark):
    # a MATCHED formula whose polynomial still comes out NULL (type-3 row
    # with NULL height / NULL coefficient / NULL dbh) must raise, not emit
    # a silent NULL vol_m3 that downstream sums skip
    import pytest

    params = tariff_dim(spark, [("g2", 3, 0.5, 0.1, 0.01, 0.0)])
    for trees_rows in (
        [("g2", 3.0, None)],  # NULL height on a 2-input tariff
        [("g2", None, 4.0)],  # NULL dbh
    ):
        trees = spark.createDataFrame(
            trees_rows, "species_group string, dbh double, height double"
        )
        with pytest.raises(Exception, match="NULL volume despite matched"):
            compute_volume(trees, params, height_col="height").collect()
    # NULL coefficient on a matched type-1 formula
    params_nc = tariff_dim(spark, [("g1", 1, 1.0, None, 3.0, 0.0)])
    trees = spark.createDataFrame(
        [("g1", 2.0, None)], "species_group string, dbh double, height double"
    )
    with pytest.raises(Exception, match="NULL volume despite matched"):
        compute_volume(trees, params_nc, height_col="height").collect()


def test_cover_decode_and_rollup(spark):
    df = spark.createDataFrame(
        [
            (1, "braun_blanquet", "2"),   # mean 15%
            (1, "braun_blanquet", "3"),   # mean 37.5%
            (2, "braun_blanquet", "5"),   # mean 87.5%
        ],
        "plot_id int, coverscale_name string, class_id string",
    )
    decoded = decode_cover(df, cover_scale_dim(spark))
    rolled = {
        r.plot_id: r.cover_layer
        for r in layer_cover_rollup(decoded, ["plot_id"]).collect()
    }
    # plot 1: 1 - (1-0.15)(1-0.375) = 0.46875 -> 46.875%
    assert abs(rolled[1] - 46.875) < 1e-3
    assert abs(rolled[2] - 87.5) < 1e-3


def test_aggregate_levels_null_optional_flag_raises(spark):
    """optional=NULL must not be silently treated as optional:
    isNull() & ~NULL is NULL, which bool_or skips — without the guard
    an unmeasured voorwaarde with an undeclared flag certifies the
    indicator from the remaining rules."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    rules = rules_dim(
        spark,
        [
            ("3.0", "ht1", "structuur", "omvang", "area", ">=", 10.0, False),
            ("3.0", "ht1", "structuur", "omvang", "n", ">=", 2.0, None),
        ],
    )
    meas = spark.createDataFrame(
        [(1, "ht1", "area", 12.0)],  # 'n' unmeasured AND flag undeclared
        "plot_id int, habitat_type string, voorwaarde string, value double",
    )
    detail = evaluate_conditions(measurement_map(meas), rules, versie="3.0")
    with _pytest.raises(SparkRuntimeException, match="optional"):
        aggregate_levels(detail)["lsvi_globaal"].collect()
