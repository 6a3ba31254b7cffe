"""The benchmark's workloads: the engine calls each op makes, the order a
seed puts them in, and the check each op's output must pass.

An op is one user-visible unit of work. A read op calls a registered query
function and executes the DataFrame through the ``noop`` sink, which runs
the whole plan as a user's write would; ``count()`` is never used, because
Catalyst may prune columns under it. A publish op calls a query function
and hands the DataFrame to one of the ``sources.sink`` writers; a snapshot
op is one ``sources.snapshots`` call.
"""

from __future__ import annotations

import os
import random
import re
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from n2khab_mhq_data_spark.catalog import load
from n2khab_mhq_data_spark.plans import kernels
from n2khab_mhq_data_spark.sources import sink, snapshots

# SURVEY §2 operator codes and the MHQ pipelines (p*, j*, a*, u*, o*, w*,
# f*, r*, k*, s7_*, scd2_*, mhq_*, vbi_*, inboveg_*)
_SURVEY_NAME = re.compile(r"^(?:[pjauowfrk]\d+_|s7_|scd2_|mhq_|vbi_|inboveg_)")
_SURVEY_MODULES = ("relational", "windows", "reshape", "kernels", "spatial")
# builds a GeoPackage under a fixed path outside the run directory
_WRITES_OUTSIDE_RUN = frozenset({"s7_gpkg_distributed"})
# The family has 107 queries: about 140 s for one cold pass on 4 cores at
# sf0.1. To keep a run (JVM start, warm-up pass, timed passes and the
# checks) near one minute, a pass takes every 15th name in sorted order,
# from the 6th: 7 queries, about 5 s warm.
SURVEY_STRIDE, SURVEY_START = 15, 5


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    tracer: object
    # read ops return (columns, rows) instead of running the noop sink
    collect: bool = False


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], object]
    # filled in by the runner: "<pass>.<index>:<name>", wall seconds,
    # error text, returned value
    id: str = ""
    seconds: float = 0.0
    error: str | None = None
    result: object = None
    failed_check: str | None = None
    meta: dict = field(default_factory=dict)


def execute_noop(ctx: Ctx, df) -> None:
    """Run ``df`` through the ``noop`` sink. In a traced run the Catalyst
    phases are forced first, each under its own span; the noop write then
    plans its own command over the same analyzed plan, so the ``exec`` span
    holds that re-optimization and re-planning plus the jobs themselves."""
    tr = ctx.tracer
    if tr.enabled:
        qe = df._jdf.queryExecution()
        with tr.span("catalyst.optimize"):
            qe.optimizedPlan()
        with tr.span("catalyst.physical"):
            qe.executedPlan()
    with tr.span("exec"):
        df.write.format("noop").mode("overwrite").save()


def _read_op(name: str, fn) -> Op:
    def run(ctx: Ctx):
        with ctx.tracer.span("plans.build"):
            df = fn(ctx.spark, ctx.sf_dir)
        if ctx.collect:
            return df.columns, [tuple(r) for r in df.collect()]
        execute_noop(ctx, df)

    return Op(name, run)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    build_steps: dict[str, Callable] = {}

    def __init__(self, queries: dict, seed: int):
        self.queries = queries
        self.seed = seed
        self.rng = random.Random(seed)

    def pass_ops(self, pass_dir: str) -> list[Op]:
        raise NotImplementedError

    def check(self, checker, passes: list[list[Op]]) -> list[Op]:
        """Set ``failed_check`` on every failing op and return all ops
        run. ``passes[0]`` is the warm-up pass, whose read ops collected
        their rows."""
        raise NotImplementedError


class MhqSurvey(Workload):
    """Many short reads over the paper's own ETL surface; the fixed cost
    of each job and plan dominates. The seed permutes the op order of every
    pass."""

    name = "mhq_survey"
    tables = ("customer", "events", "lineitem", "nation", "orders",
              "supplier")
    build_steps = {"lsvi_levels": kernels._lsvi_levels}

    def __init__(self, queries: dict, seed: int):
        super().__init__(queries, seed)
        family = sorted(
            n for n, fn in queries.items()
            if fn.__module__.rsplit(".", 1)[-1] in _SURVEY_MODULES
            and _SURVEY_NAME.match(n)
            and n not in _WRITES_OUTSIDE_RUN
        )
        self.op_names = family[SURVEY_START::SURVEY_STRIDE]

    def pass_ops(self, pass_dir: str) -> list[Op]:
        names = list(self.op_names)
        self.rng.shuffle(names)
        return [_read_op(n, self.queries[n]) for n in names]

    def check(self, checker, passes):
        problems = {}
        for op in passes[0]:
            if op.error:
                problems[op.name] = "unchecked: its warm-up run failed"
                continue
            try:
                problems[op.name] = checker.read_op(op.name, *op.result)
            except Exception:
                problems[op.name] = traceback.format_exc(limit=4)
        ops = [op for ops in passes for op in ops]
        for op in ops:
            op.failed_check = problems[op.name]
            if op.name in checker.result_rows:
                checker.result_rows[op.id] = checker.result_rows[op.name]
        return ops


# (query, sink), one output per sink. write_vc sorts on every column: the
# output has distinct rows, so that is a total order. The outputs are
# LSVI tables; mhq_publish_pipeline alone runs about 2.3 s warm on 4 cores,
# a third of a pass, and a run has no room for it.
PUBLISH = (
    ("k7_lsvi_globaal", "write_vc"),
    ("k7_lsvi_indicator", "write_csv2"),
    ("k7_lsvi_criterium", "write_published"),
)
PUBLISHED_PARTITION = ["habitat_type"]
SNAPSHOT_TABLE, SNAPSHOT_KEY = "orders", "o_orderkey"
SNAPSHOT_BATCHES = 2
SNAPSHOT_DIR = "snapshot_store"
RESEND_PERCENT = 10


class PublishStore(Workload):
    """The write path, with reads between the writes. Each pass publishes
    LSVI outputs through the sinks, grows a snapshot store from a seeded
    split of ``orders`` with one write and a MERGE delta, reads earlier
    versions AS OF after the MERGE and after OPTIMIZE, and ends with the
    published store's compaction. The seed chooses the batch split and the
    versions read; every pass writes into a fresh directory, so passes do
    the same work."""

    name = "publish_store"
    tables = ("lineitem", "orders")
    build_steps = {"lsvi_levels": kernels._lsvi_levels}

    def __init__(self, queries: dict, seed: int):
        super().__init__(queries, seed)
        rng = self.rng
        # cut points in hash buckets 0..99, each within 4 of an even split,
        # so every seed's batches differ but cost about the same
        even = [100 * k // SNAPSHOT_BATCHES for k in range(1, SNAPSHOT_BATCHES)]
        self.cuts = [0] + [c + rng.randint(-4, 4) for c in even] + [100]
        # after merge k (version k + 1) read one earlier version; after
        # OPTIMIZE read one of the merged versions
        self.reads = [rng.randint(1, v) for v in range(1, SNAPSHOT_BATCHES)]
        self.reads.append(rng.randint(1, SNAPSHOT_BATCHES))

    def _bucket(self, salt: int):
        return F.pmod(F.xxhash64(F.col(SNAPSHOT_KEY), F.lit(salt)), F.lit(100))

    def batch(self, spark, sf_dir: str, k: int):
        """Rows of batch ``k`` (0-based), plus for k > 0 a seeded re-send
        of earlier rows, unchanged, so the MERGE also takes its update
        path. The union of all batches is the source table."""
        src = load(spark, sf_dir, SNAPSHOT_TABLE)
        b = self._bucket(self.seed)
        new = (b >= self.cuts[k]) & (b < self.cuts[k + 1])
        if k > 0:
            resend = (b < self.cuts[k]) & (
                self._bucket(self.seed + 1) < RESEND_PERCENT
            )
            new = new | resend
        return src.filter(new)

    def pass_ops(self, pass_dir: str) -> list[Op]:
        ops = [self._publish_op(q, s, pass_dir) for q, s in PUBLISH]
        store = os.path.join(pass_dir, SNAPSHOT_DIR)
        at = {"store": store}
        ops.append(Op("write_snapshot", self._write_snapshot(store), meta=at))
        for k in range(1, SNAPSHOT_BATCHES):
            ops.append(Op("merge_snapshot", self._merge_snapshot(store, k),
                          meta=at))
            ops.append(self._read_op(store, self.reads[k - 1]))
        ops.append(Op("optimize_snapshot", self._optimize(store), meta=at))
        ops.append(self._read_op(store, self.reads[-1]))
        ops.append(Op("compact_published", self._compact(pass_dir)))
        return ops

    def check(self, checker, passes):
        checker.publish_store(passes)
        ops = [op for ops in passes for op in ops]
        for op in ops:
            if "rows" in op.meta:
                checker.result_rows[op.id] = op.meta["rows"]
        return ops

    def _publish_op(self, query: str, sink_name: str, pass_dir: str) -> Op:
        fn = self.queries[query]

        def run(ctx: Ctx):
            with ctx.tracer.span("plans.build"):
                df = fn(ctx.spark, ctx.sf_dir)
            with ctx.tracer.span(f"sources.{sink_name}"):
                if sink_name == "write_vc":
                    return sink.write_vc(df, query, pass_dir, df.columns)
                if sink_name == "write_csv2":
                    return sink.write_csv2(df, query, pass_dir)
                sink.write_published(
                    df, os.path.join(pass_dir, query), PUBLISHED_PARTITION,
                    df.columns,
                )
                return None

        return Op(f"{sink_name}:{query}", run, meta={
            "query": query, "sink": sink_name, "dir": pass_dir,
        })

    def _write_snapshot(self, store: str):
        def run(ctx: Ctx):
            df = self.batch(ctx.spark, ctx.sf_dir, 0)
            with ctx.tracer.span("sources.write_snapshot"):
                return snapshots.write_snapshot(df, store)

        return run

    def _merge_snapshot(self, store: str, k: int):
        def run(ctx: Ctx):
            delta = self.batch(ctx.spark, ctx.sf_dir, k)
            with ctx.tracer.span("sources.merge_snapshot"):
                return snapshots.merge_snapshot(store, delta, [SNAPSHOT_KEY], [])

        return run

    def _read_op(self, store: str, version: int) -> Op:
        def run(ctx: Ctx):
            with ctx.tracer.span("sources.read_snapshot"):
                df = snapshots.read_snapshot(ctx.spark, store, version)
            execute_noop(ctx, df)
            return df

        return Op("read_snapshot", run, meta={"store": store,
                                              "version": version})

    def _optimize(self, store: str):
        def run(ctx: Ctx):
            with ctx.tracer.span("sources.optimize_snapshot"):
                return snapshots.optimize_snapshot(ctx.spark, store)

        return run

    def _compact(self, pass_dir: str):
        path = os.path.join(pass_dir, PUBLISH[-1][0])

        def run(ctx: Ctx):
            with ctx.tracer.span("sources.compact_published"):
                return sink.compact_published(
                    ctx.spark, path, PUBLISHED_PARTITION,
                )

        return run


WORKLOADS = {w.name: w for w in (MhqSurvey, PublishStore)}
