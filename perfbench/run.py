#!/usr/bin/env python3
"""Benchmark of the n2khab MHQ Spark engine, one workload per run.

    python3 perfbench/run.py --workload mhq_survey --seed 1 --seconds 10 \
        --trace 0

Run it from the repository root. One Python process starts one Spark JVM on
``local[<cores>]`` against the sf0.1 test tier and sets up: session start,
catalog warm-up and the workload's build steps. A warm-up pass then runs
each op once in the fresh JVM, as a batch job would; read ops collect their
rows there for the output check. Timed passes follow, at least three and
more until ``--seconds`` have passed since the first began.
``batch_wall_s`` is the sum over the pass's ops of each op's median time
across the timed passes: the time of one warm pass, with per-op medians
damping a stall that hits one op in one pass. Every op's output is checked
after the passes, outside the timed region. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0`` and its
per-layer metrics with ``--trace 1``. The ``# name = value unit`` lines
before it print every figure with its unit, diagnostics included
(``op_p50_s`` with ``op_count``, ``peak_rss_mb``, ``failed_op_frac``, the
calibration probe, the host's steal share, each pass's wall time and each
op's median).

With ``--trace 1`` every other timed pass, from the second, is traced: a
span around each call into a layer, and the status-store counters of each
span's jobs. The per-layer metrics are those of the first traced pass; the
median traced pass minus the median untraced one is the tracing overhead.
The run writes the spans, each layer's self time, the overhead and the ops
whose optimized ``count()`` plan differs from their ``noop`` plan to
``.perfbench/trace-<workload>-seed<seed>.json``.

Reading the spans: an op's ``plans.build`` span is its query function
(Spark analyzes DataFrames eagerly, so Catalyst analysis lands there);
``catalyst.optimize`` and ``catalyst.physical`` force those phases of the
op's QueryExecution; ``exec`` is the ``noop`` write, which plans its own
command over the analyzed plan again, so ``exec`` holds a second
optimization and physical planning besides the jobs. Untraced passes force
neither phase, and the tracing overhead includes that double work.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
# half the session factory's default: enough for sf0.1, and it keeps the
# JVM small on a shared host
DRIVER_MEM = "4g"
# status-store retention, well above the jobs and stages of one run
RETAINED = "5000"
WORKLOAD_NAMES = ("mhq_survey", "publish_store")
# timed passes in every run, whatever --seconds. The first timed pass still
# runs a little slower than later ones while the JIT settles, so a run
# whose pass count varied would shift the per-op medians; three passes
# outlast --seconds of the BENCHMARK.json on both workloads. A traced run
# needs one traced and one untraced pass.
MIN_TIMED_PASSES = 3
SINK_WRITES = ("write_vc", "write_csv2", "write_published",
               "compact_published", "write_snapshot", "merge_snapshot",
               "optimize_snapshot")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def default_data() -> str:
    """The sf0.1 test tier (TESTDATA.md), as the repository's tools name
    it: the source tier of ``tools/make_sf1.py``."""
    sys.path.insert(0, str(ROOT / "tools"))
    import make_sf1

    return make_sf1.SRC


def preflight(args) -> str | None:
    for need in ("n2khab_mhq_data_spark/__init__.py", "__spark_entry__.py",
                 "tools/check.py", "tools/make_sf1.py"):
        if not (ROOT / need).is_file():
            return f"engine source missing: {ROOT / need}"
    # SPARK_GRAFT_SF_DIR picks another tier, as it does for bench.py
    args.data = os.environ.get("SPARK_GRAFT_SF_DIR") or default_data()
    if not os.path.isfile(os.path.join(args.data, "lineitem.parquet")):
        return f"test data missing: {args.data}"
    return None


def pin_environment(run_dir: Path) -> dict[str, str]:
    """Environment the JVM and its Python workers inherit; returns the
    Spark confs that keep every file the run writes inside ``run_dir``."""
    for d in ("spark-local", "tmp", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
        "spark.sql.ui.retainedExecutions": RETAINED,
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat;
    steal is time the hypervisor ran something else on our virtual CPUs."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, idle, iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def op_medians(passes: list[dict]) -> dict[tuple[str, int], float]:
    """Median seconds of each op over ``passes``. An op is keyed by its
    name and its rank among the pass's ops of that name, since the order
    of ops may change from pass to pass."""
    samples: dict[tuple[str, int], list[float]] = {}
    for p in passes:
        seen: dict[str, int] = {}
        for op in p["ops"]:
            rank = seen[op.name] = seen.get(op.name, -1) + 1
            samples.setdefault((op.name, rank), []).append(op.seconds)
    return {k: statistics.median(v) for k, v in samples.items()}


def run_op(op, ctx, sc) -> None:
    if not ctx.tracer.enabled:
        sc.setJobGroup(op.name, op.name)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op", op=op.id):
            op.result = op.run(ctx)
    except Exception:
        op.error = traceback.format_exc(limit=4)
    op.seconds = time.perf_counter() - t0
    if op.error:
        print(f"# op {op.id} failed:\n{op.error}", file=sys.stderr)


def plan_text(jplan) -> str:
    """Tree string without expression ids, which differ between plans."""
    return re.sub(r"#\d+L?", "", jplan.treeString())


def count_plan_differs(df) -> bool:
    """Whether ``df.count()``'s optimized plan, below its top aggregate,
    differs from the plan a ``noop`` write executes."""
    noop = df._jdf.queryExecution().optimizedPlan()
    counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan()
    return plan_text(counted.children().apply(0)) != plan_text(noop)


class Run:
    def __init__(self, args):
        self.args = args
        self.run_dir = OUT / f"run-{args.workload}-seed{args.seed}-{os.getpid()}"
        self.report: list[tuple[str, float, str]] = []

    def note(self, name: str, value: float, unit: str) -> None:
        self.report.append((name, value, unit))

    def execute(self) -> dict:
        args = self.args
        confs = pin_environment(self.run_dir)
        sys.path.insert(0, str(ROOT))
        from spans import Tracer
        from workloads import WORKLOADS, Ctx

        tracer = Tracer(enabled=bool(args.trace))
        t_setup = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.start"):
                from n2khab_mhq_data_spark.session import get_spark

                spark = get_spark("perfbench", extra_conf=confs)
            tracer.bind(spark)
            self.spark = spark
            with tracer.span("plans.load"):
                import __spark_entry__ as entry

                queries, oracles = entry.queries(), entry.oracle_sql()
            from n2khab_mhq_data_spark.catalog import load

            workload = WORKLOADS[args.workload](queries, args.seed)
            for table in workload.tables:
                with tracer.span("catalog.load", op=table):
                    load(spark, args.data, table)
            for step, fn in workload.build_steps.items():
                with tracer.span(f"build_steps.{step}"):
                    fn(spark, args.data)
        setup_s = time.perf_counter() - t_setup
        setup_spans = list(tracer.spans)
        if tracer.enabled:
            tracer.resolve(setup_spans)
        sc = spark.sparkContext
        sc._jsc.clearJobGroup()

        ctx = Ctx(spark, args.data, tracer)
        cal_df = (spark.read.parquet(f"{args.data}/lineitem.parquet")
                  .groupBy("l_returnflag").count())
        cal_df.count()
        calibration = [self.calibrate(cal_df)]
        jvm_pid = int(sc._jvm.ProcessHandle.current().pid())
        # Each op's first run in a fresh JVM pays for class loading, code
        # generation and JIT warm-up, and how much of that a pass absorbs
        # swings with the host's load; the warm-up pass takes it, untimed.
        warmup = self.run_pass(ctx, workload, "warmup", False, collect=True)
        t_start = time.perf_counter()
        ticks0 = cpu_ticks()
        timed: list[dict] = []
        while (len(timed) < MIN_TIMED_PASSES
               or time.perf_counter() - t_start < args.seconds):
            timed.append(self.run_pass(
                ctx, workload, f"pass{len(timed)}",
                bool(args.trace) and len(timed) % 2 == 1))
        busy, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
        peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        calibration.append(self.calibrate(cal_df))

        from checks import Checker

        t_check = time.perf_counter()
        checker = Checker(ROOT, spark, args.data, oracles)
        all_ops = workload.check(checker,
                                 [p["ops"] for p in [warmup] + timed])
        self.note("check_s", time.perf_counter() - t_check, "s")
        failed = sum(1 for op in all_ops if op.error or op.failed_check)
        for op in all_ops:
            if op.failed_check:
                print(f"# op {op.id} check failed: {op.failed_check}",
                      file=sys.stderr)

        # a traced run's end-to-end figures come from its untraced passes
        plain = [p for p in timed if not p["traced"]]
        op_secs = [op.seconds for p in plain for op in p["ops"]]
        medians = op_medians(plain)
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "batch_wall_s": (sum(medians.values()), "s"),
        }
        for name, (v, unit) in end_to_end.items():
            self.note(name, v, unit)
        # ops of mixed size: the median op moves by about 20% between
        # seeds, so it is reported, not gated
        self.note("op_p50_s", statistics.median(op_secs), "s")
        self.note("op_count", len(op_secs), "count")
        self.note("peak_rss_mb", peak_rss_mb, "MB")
        self.note("failed_op_frac", failed / len(all_ops), "ratio")
        self.note("warmup_wall_s", warmup["wall"], "s")
        # host contention during the timed passes, for reading their spread
        self.note("steal_share", steal / (busy + steal) if busy else 0.0,
                  "ratio")
        for i, p in enumerate(timed):
            self.note(f"pass{i}_wall_s", p["wall"], "s")
        for (name, rank), v in sorted(medians.items()):
            self.note(f"op.{name}.{rank}_s", v, "s")
        self.note("calibration_start_s", calibration[0], "s")
        self.note("calibration_end_s", calibration[1], "s")
        metrics = end_to_end
        if args.trace:
            layers = self.per_layer(setup_spans, timed, checker)
            layers["driver.peak_rss_mb"] = (peak_rss_mb, "MB")
            for name, (v, unit) in layers.items():
                self.note(name, v, unit)
            metrics = layers
            self.write_trace(tracer, setup_spans, [warmup] + timed, layers,
                             checker, workload, queries)
        return {
            "correct": failed == 0,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    @staticmethod
    def calibrate(cal_df) -> float:
        """bench.py's fixed probe: median of 3 lineitem groupBy scans."""
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            cal_df.count()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    def run_pass(self, ctx, workload, label: str, traced: bool,
                 collect: bool = False) -> dict:
        tracer, sc = ctx.tracer, ctx.spark.sparkContext
        tracer.enabled = traced
        ctx.collect = collect
        pass_dir = str(self.run_dir / label)
        os.makedirs(pass_dir)
        ops = workload.pass_ops(pass_dir)
        for i, op in enumerate(ops):
            op.id = f"{label}.{i}:{op.name}"
        first_span = len(tracer.spans)
        gc0 = tracer.reader.driver_gc_ms() if traced else 0
        t0 = time.perf_counter()
        for op in ops:
            run_op(op, ctx, sc)
        p = {"ops": ops, "wall": time.perf_counter() - t0, "traced": traced,
             "dir": pass_dir}
        if traced:
            p["driver_gc_ms"] = tracer.reader.driver_gc_ms() - gc0
            p["spans"] = tracer.spans[first_span:]
            tracer.resolve(p["spans"])
            p["bytes"], p["files"] = tree_bytes(pass_dir)
        tracer.enabled = ctx.collect = False
        sc._jsc.clearJobGroup()
        return p

    def per_layer(self, setup_spans, timed, checker) -> dict:
        """Per-layer figures of the set-up and of the first traced pass;
        the tracing overhead compares the traced and untraced passes."""
        measured = next(p for p in timed if p["traced"])
        spans = measured["spans"]

        def dur(name, among=spans):
            return sum(s["end"] - s["start"] for s in among
                       if s["name"] == name)

        def count(key, names, among=spans):
            return sum(s["counters"][key] for s in among
                       if s["name"] in names)

        build_steps = {s["name"] for s in setup_spans
                       if s["name"].startswith("build_steps.")}
        ex = {"exec"}
        exec_wall = dur("exec")
        task_s = count("task_ms", ex) / 1000
        rows_in = rows_out = 0
        for s in spans:
            if s["name"] == "exec" and s["op"] in checker.result_rows:
                rows_in += s["counters"]["input_records"]
                rows_out += checker.result_rows[s["op"]]
        every = {s["name"] for s in spans}
        writes = [s for s in spans
                  if s["name"] in {f"sources.{w}" for w in SINK_WRITES}]
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        layers = {
            "session.start_s": (dur("session.start", setup_spans), "s"),
            "catalog.load_s": (dur("catalog.load", setup_spans), "s"),
            "build_steps.lsvi_levels_s": (
                dur("build_steps.lsvi_levels", setup_spans), "s"),
            "build_steps.jobs": (
                count("jobs", build_steps, setup_spans), "count"),
            "plans.build_s": (dur("plans.build"), "s"),
            "plans.build_jobs": (count("jobs", {"plans.build"}), "count"),
            "catalyst.optimize_s": (dur("catalyst.optimize"), "s"),
            "catalyst.physical_s": (dur("catalyst.physical"), "s"),
            "exec.wall_s": (exec_wall, "s"),
            "exec.jobs": (count("jobs", ex), "count"),
            "exec.stages": (count("stages", ex), "count"),
            "exec.tasks": (count("tasks", ex), "count"),
            "exec.task_s": (task_s, "s"),
            "exec.cpu_s": (count("cpu_ns", ex) / 1e9, "s"),
            "exec.slot_util": (
                task_s / (exec_wall * cores) if exec_wall else 0.0, "ratio"),
            "exec.shuffle_write_bytes": (
                count("shuffle_write_bytes", ex), "B"),
            "exec.shuffle_read_bytes": (count("shuffle_read_bytes", ex), "B"),
            "exec.spill_bytes": (count("spill_bytes", ex), "B"),
            "exec.rows_in_per_row_out": (
                rows_in / rows_out if rows_out else 0.0, "ratio"),
            "exec.gc_s": (count("gc_ms", ex) / 1000, "s"),
            "driver.gc_s": (measured["driver_gc_ms"] / 1000, "s"),
            "python.bytes_sent": (count("py_sent_bytes", every), "B"),
            "python.bytes_received": (count("py_recv_bytes", every), "B"),
            "python.udf_ops": (count("py_nodes", every), "count"),
        }
        for fn in SINK_WRITES + ("read_snapshot",):
            layers[f"sources.{fn}_s"] = (dur(f"sources.{fn}"), "s")
        layers["sources.jobs_per_write"] = (
            count("jobs", {s["name"] for s in writes}) / len(writes)
            if writes else 0.0, "count")
        layers["sources.bytes_written"] = (measured["bytes"], "B")
        layers["sources.files_written"] = (measured["files"], "count")
        layers["sources.stored_bytes_per_live_byte"] = (
            self.store_ratio(measured["dir"]), "ratio")
        layers["trace.overhead_s"] = (
            statistics.median(p["wall"] for p in timed if p["traced"])
            - statistics.median(p["wall"] for p in timed if not p["traced"]),
            "s")
        return layers

    @staticmethod
    def store_ratio(pass_dir: str) -> float:
        """Bytes of the whole snapshot store over bytes of its latest
        version's data; 0 when the pass wrote no store."""
        from workloads import SNAPSHOT_DIR

        store = os.path.join(pass_dir, SNAPSHOT_DIR)
        manifests = os.path.join(store, "_manifests")
        if not os.path.isdir(manifests):
            return 0.0
        latest = max(int(f[:-5]) for f in os.listdir(manifests)
                     if f.endswith(".json"))
        live, _ = tree_bytes(os.path.join(store, f"v={latest}"))
        total, _ = tree_bytes(store)
        return total / live if live else 0.0

    def write_trace(self, tracer, setup_spans, passes, layers, checker,
                    workload, queries) -> None:
        spans = setup_spans + [s for p in passes if p["traced"]
                               for s in p["spans"]]
        read_ops = sorted({op.name for p in passes for op in p["ops"]
                           if op.name in queries})
        differs = [n for n in read_ops
                   if count_plan_differs(queries[n](self.spark,
                                                    self.args.data))]
        doc = {
            "workload": workload.name,
            "seed": self.args.seed,
            "passes": [{"label": os.path.basename(p["dir"]),
                        "wall_s": p["wall"], "traced": p["traced"]}
                       for p in passes],
            "per_layer": {k: {"value": v, "unit": u}
                          for k, (v, u) in layers.items()},
            "self_time_s": tracer.self_times(spans),
            "tracing_overhead_s": layers["trace.overhead_s"][0],
            "count_plan_differs_from_noop": differs,
            "count_plan_same_as_noop": [n for n in read_ops
                                        if n not in differs],
            "result_rows": checker.result_rows,
            "spans": spans,
        }
        path = OUT / f"trace-{workload.name}-seed{self.args.seed}.json"
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"# trace written to {path.relative_to(ROOT)}")

    def close(self) -> None:
        """Stop Spark, wait for the JVM (its Python workers end with it)
        and remove the run's directory."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = preflight(args)
    if problem:
        print(problem, file=sys.stderr)
        return 2
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.close()
    for name, value, unit in run.report:
        print(f"# {name} = {value:.6g} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
