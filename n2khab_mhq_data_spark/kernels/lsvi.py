"""K7 — the LSVI habitat-quality rule engine as a pure relational plan.

The reference calls the external ``LSVI::berekenLSVIbasis`` package
(HT31xx_LSVI.Rmd:198-205, HT3260_LSVI.Rmd:45-156): per plot x habitat type it
evaluates threshold conditions ("voorwaarden") against measured values, then
aggregates voorwaarde -> indicator -> criterium -> global status, emitting 4
result levels (processed/lsvi_mhq/*/result/: lsvi_detail, lsvi_indicator,
lsvi_criterium, lsvi_globaal).

Spark-first design (SURVEY.md §7.1.5): each plot carries its measurements
as one voorwaarde -> value map; the rule table is a broadcast dimension
joined to that row, and each rule looks its value up in the map, which
completes the detail against the rule set without a self-join. Evaluation
is a when-ladder over comparison operators. Each result level is one
aggregation (bool_and + favourable share) of the level below it
(:func:`roll_up`). No UDF, no driver loop — the whole engine is one
Catalyst plan, so it scales to any number of plots.

The engine takes the reference's three inputs:

- ``data_habitat`` + ``data_voorwaarden`` — direct condition measurements,
  fed to :func:`evaluate_conditions` as a per-plot map (long-form
  measurements go through :func:`measurement_map`).
- ``data_soortenkenmerken`` — species covers matched against *versioned*
  species lists (``geefSoortenlijst``, HT31xx_LSVI.Rmd:85-155), reduced to
  per-plot measurement values by :func:`species_measurements` and then fed
  through the same condition evaluation.

Rule tables are versioned (the reference runs LSVI "Versie 2.0" and
"Versie 3" side by side via ``geefInvoervereisten``): every rule row carries
``versie`` and callers pick one (or aggregate per version).

Null semantics (strict): a voorwaarde with a null measured value evaluates
to null status. During roll-up a null status on a *mandatory* rule
(``optional = false``) makes the indicator status null (unknown), and null
propagates up through criterium and global — mirroring how the reference's
engine refuses to certify a habitat with unmeasured mandatory conditions.
Rules marked ``optional = true`` are skipped when unmeasured (R's na.rm
behavior). R's min-over-empty-set -> Inf warning (HT31xx_LSVI.Rmd:232-239)
maps to the all-optional-unmeasured case: the indicator status is null.
A voorwaarde measured twice for one plot has no single status and raises
(:func:`measurement_map`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.catalog import local_dim
from n2khab_mhq_data_spark.functions.scalars import eps_round

RULES_SCHEMA = (
    "versie string, habitat_type string, criterium string, indicator string,"
    " voorwaarde string, operator string, threshold double, optional boolean"
)

# geefSoortenlijst: per version x habitat x voorwaarde, the species on the
# list and which statistic the voorwaarde measures over them
SPECIES_LIST_SCHEMA = (
    "versie string, habitat_type string, criterium string, indicator string,"
    " voorwaarde string, stat string, name_sc string"
)

_KNOWN_OPERATORS = (">=", ">", "<=", "<", "=")


def rules_dim(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Versioned rule table (the reference fetches these via
    geefInvoervereisten, HT31xx_LSVI.Rmd:49-60; here they are versioned
    seed data)."""
    return local_dim(spark, rows, RULES_SCHEMA)


def species_list_dim(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Versioned species lists (geefSoortenlijst, HT31xx_LSVI.Rmd:85-110)."""
    return local_dim(spark, rows, SPECIES_LIST_SCHEMA)


def species_measurements(
    cover_species: DataFrame, species_list: DataFrame, versie: str
) -> DataFrame:
    """data_soortenkenmerken branch (HT31xx_LSVI.Rmd:85-155).

    ``cover_species``: plot_id, habitat_type, name_sc, cover (% per species;
    growth forms may repeat a species — deduped max-cover first, the A10
    idiom from HT3260_LSVI.Rmd:93-109).
    ``species_list``: SPECIES_LIST_SCHEMA rows; ``stat`` selects what the
    voorwaarde measures over the listed species:

    - ``n_species`` — how many listed species are present (cover > 0),
    - ``sum_cover`` — their summed cover.

    Output has the measurement shape (plot_id, habitat_type, voorwaarde,
    value), union-able with direct voorwaarde measurements. A plot with no
    listed species present gets value 0 (the reference counts an absent key
    species as 0, not unknown): the join is inner, so the 0-rows are added
    back per (plot x voorwaarde) via a cross of distinct plots x the
    version's voorwaarden with coalesce.
    """
    lst = F.broadcast(species_list.filter(F.col("versie") == versie))
    # growth-form dedup must PROPAGATE NULL, not skip it (R's
    # max(c(NA, 5)) is NA): covers [NULL, 5.0] for one species mean
    # "present, partially unmeasured" — a bare F.max would yield 5.0
    # and bypass the strict-null guard below
    dedup = cover_species.groupBy("plot_id", "habitat_type", "name_sc").agg(
        F.when(
            F.max(F.col("cover").isNull().cast("int")) == 1,
            F.lit(None).cast("double"),
        )
        .otherwise(F.max("cover"))
        .alias("cover")
    )
    j = dedup.join(lst, ["habitat_type", "name_sc"], "inner")
    # strict-null: a RECORDED listed species whose cover is NULL
    # (present, unmeasured) makes the statistic UNKNOWN — sum()'s
    # native NULL-skip (and the cover > 0 count filter) would instead
    # fabricate a smaller measured value, certifying thresholds on
    # made-up data (R's sum(c(NA, ...)) = NA)
    has_null = F.max(F.col("cover").isNull().cast("int")) == 1
    per = j.groupBy("plot_id", "habitat_type", "voorwaarde", "stat").agg(
        F.when(
            has_null, F.lit(None).cast("long")
        ).otherwise(
            F.count_distinct(
                F.when(F.col("cover") > 0, F.col("name_sc"))
            )
        ).alias("n_sp"),
        F.when(has_null, F.lit(None).cast("double"))
        .otherwise(F.sum("cover"))
        .alias("sum_cov"),
    )
    matched = per.select(
        "plot_id",
        "habitat_type",
        "voorwaarde",
        # fail FAST on an unrecognized stat code — the bare otherwise
        # silently evaluated any typo/new vocabulary as sum_cover,
        # certifying thresholds on the wrong statistic (same posture as
        # evaluate_conditions' unknown-operator raise)
        F.when(F.col("stat") == "n_species", F.col("n_sp").cast("double"))
        .when(F.col("stat") == "sum_cover", F.col("sum_cov").cast("double"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown species-list stat: "), F.col("stat")
                )
            ).cast("double")
        )
        .alias("value"),
        F.lit(True).alias("__measured"),
    )
    # absent-species plots: every plot x every voorwaarde of this version
    # must yield a row (value 0) or the rule engine would silently skip it
    plots = cover_species.select("plot_id", "habitat_type").distinct()
    voorw = species_list.filter(F.col("versie") == versie).select(
        "habitat_type", "voorwaarde"
    ).distinct()
    full = plots.join(F.broadcast(voorw), "habitat_type", "inner")
    # absent (no listed species recorded at all) -> 0; MEASURED but
    # unknown (a NULL-cover row poisoned the statistic) -> stays NULL —
    # a bare coalesce would turn unknown back into a confident 0
    return full.join(
        matched, ["plot_id", "habitat_type", "voorwaarde"], "left"
    ).select(
        "plot_id",
        "habitat_type",
        "voorwaarde",
        F.when(F.col("__measured").isNull(), F.lit(0.0))
        .otherwise(F.col("value"))
        .alias("value"),
    )


def measurement_map(measurements: DataFrame) -> DataFrame:
    """Long-form measurements -> the per-plot input of
    :func:`evaluate_conditions`.

    ``measurements``: plot_id, habitat_type, voorwaarde, value. One
    ``groupBy`` folds them into one row per (plot_id, habitat_type) whose
    ``values`` map holds voorwaarde -> value. A NULL voorwaarde names no
    condition and is left out of the map. A NULL plot_id equals no plot
    (the SQL join rule), so its map stays empty and each of its rules
    reads unmeasured; the plot still gets its rule rows.

    A repeated (plot_id, habitat_type, voorwaarde) fails fast, like an
    unknown operator: one condition with two values has no single status.
    The check compares the entry count with the distinct-key count before
    the map is built, so it raises the same error under any
    ``spark.sql.mapKeyDedupPolicy``.
    """
    entry = F.when(
        F.col("plot_id").isNotNull() & F.col("voorwaarde").isNotNull(),
        F.struct("voorwaarde", "value"),
    )
    per_plot = measurements.groupBy("plot_id", "habitat_type").agg(
        F.collect_list(entry).alias("entries")
    )
    entries = F.col("entries")
    return per_plot.select(
        "plot_id",
        "habitat_type",
        F.when(
            F.size(entries) != F.size(F.array_distinct(entries["voorwaarde"])),
            F.raise_error(
                F.format_string(
                    "duplicate LSVI measurement: plot %s, habitat %s",
                    F.col("plot_id"),
                    F.col("habitat_type"),
                )
            ),
        )
        .otherwise(F.map_from_entries(entries))
        .alias("values"),
    )


def evaluate_conditions(
    plot_values: DataFrame, rules: DataFrame, versie: str | None = None
) -> DataFrame:
    """lsvi_detail: one row per plot x voorwaarde with boolean status.

    ``plot_values``: plot_id, habitat_type and a ``values`` map
    voorwaarde -> value, one row per plot (:func:`measurement_map` builds
    it from long-form measurements). Each row is joined to the broadcast
    rule table (optionally pinned to one ``versie``) and each rule looks
    its value up in the map, so the detail is COMPLETE against the rule
    set: a voorwaarde with no measurement reads NULL, which the operator
    ladder propagates to a NULL status, and the strict-null roll-up then
    refuses to certify the plot on partial measurements (the species
    branch 0-fills against its voorwaarden for the same reason).

    The comparison operator is a when-ladder (vocabulary observed in the
    LSVI rule tables: >=, >, <=, <, =). An operator outside that
    vocabulary fails fast at execution time instead of silently
    evaluating to null. Output carries ``versie`` and ``optional``
    through for the roll-up's strict-null semantics.
    """
    if versie is not None:
        rules = rules.filter(F.col("versie") == versie)
    j = plot_values.join(F.broadcast(rules), on=["habitat_type"])
    v, t = F.element_at("values", F.col("voorwaarde")), F.col("threshold")
    status = (
        F.when(F.col("operator") == ">=", v >= t)
        .when(F.col("operator") == ">", v > t)
        .when(F.col("operator") == "<=", v <= t)
        .when(F.col("operator") == "<", v < t)
        .when(F.col("operator") == "=", v == t)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown LSVI operator: "), F.col("operator")
                )
            ).cast("boolean")
        )
    )
    return j.select(
        "versie",
        "plot_id",
        "habitat_type",
        "criterium",
        "indicator",
        "voorwaarde",
        eps_round(v, 6).alias("value"),
        "operator",
        "threshold",
        "optional",
        status.alias("status_voorwaarde"),
    )


# The roll-up levels in order: level -> (status it reads from the level
# below, status it writes, its favourable-share column). The indicator
# level has no share; each level keeps one grain column fewer than the
# one below it.
_LEVELS = {
    "lsvi_indicator": ("status_voorwaarde", "status_indicator", None),
    "lsvi_criterium": (
        "status_indicator", "status_criterium", "share_favourable_ind"
    ),
    "lsvi_globaal": ("status_criterium", "status_global", "share_favourable"),
}
ROLL_UPS = tuple(_LEVELS)
_GRAIN = ("plot_id", "habitat_type", "criterium", "indicator")


def roll_up(
    child: DataFrame, level: str, by_version: bool = False
) -> DataFrame:
    """Build one roll-up ``level`` (one of :data:`ROLL_UPS`) from the
    level directly below it: the detail for ``lsvi_indicator``, the
    indicator level for ``lsvi_criterium``, and so on.

    Strict-null: a NULL child status makes the level's status NULL
    (unknown). On the detail, only a *mandatory* voorwaarde counts;
    optional ones are skipped when null (bool_and's native skip, R's
    na.rm). The favourable share averages only the resolved children, but
    is nulled alongside the status so an unknown never masquerades as a
    measured share. See :func:`aggregate_levels` for ``by_version``.
    """
    status, out, share = _LEVELS[level]
    depth = ROLL_UPS.index(level)
    s = F.col(status)
    unresolved = s.isNull()
    if depth == 0:
        # a NULL 'optional' flag must not slip through the strict-null
        # guard: isNull() & ~NULL is NULL, which bool_or SKIPS — an
        # unmeasured voorwaarde with an undeclared flag would then be
        # silently treated as optional and the indicator certified from
        # the remaining rules (exactly the unmeasured-mandatory
        # certification this engine exists to prevent). Same fail-fast
        # posture as the unknown-operator/unknown-stat raises.
        opt = F.when(
            F.col("optional").isNull(),
            F.raise_error(
                F.lit(
                    "LSVI roll-up: NULL 'optional' flag on a voorwaarde"
                    " — declare every rule mandatory (false) or optional"
                    " (true) in the rules dimension"
                )
            ).cast("boolean"),
        ).otherwise(F.col("optional"))
        unresolved = unresolved & ~opt
    unknown = F.bool_or(unresolved)
    aggs = [
        F.when(unknown, F.lit(None).cast("boolean"))
        .otherwise(F.bool_and(s))
        .alias(out)
    ]
    if share is not None:
        aggs.append(
            F.when(unknown, F.lit(None).cast("double"))
            .otherwise(eps_round(F.avg(s.cast("int")), 6))
            .alias(share)
        )
    keys = ["versie"] if by_version else []
    return child.groupBy(*keys, *_GRAIN[: len(_GRAIN) - depth]).agg(*aggs)


def aggregate_levels(
    detail: DataFrame, by_version: bool = False
) -> dict[str, DataFrame]:
    """Roll the detail up through the reference's 4 result levels by
    folding :func:`roll_up` over :data:`ROLL_UPS`, each level built from
    the one below it.

    ``by_version=True`` is REQUIRED whenever the detail spans multiple
    rule versions (``evaluate_conditions(..., versie=None)``): the
    default version-less grouping would AND together statuses from
    different LSVI versions into a roll-up that corresponds to no real
    version — and the output drops ``versie``, so the mixing would be
    invisible. Single-version callers (versie pinned upstream) may keep
    the default.
    """
    levels = {"lsvi_detail": detail}
    child = detail
    for level in ROLL_UPS:
        child = levels[level] = roll_up(child, level, by_version)
    return levels
