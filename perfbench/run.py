#!/usr/bin/env python3
"""The overlay engine's benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload flagship_jobs --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, in turn

Run from the root of a checkout; the engine is imported from there and nothing
is read or written outside it (scratch space lives in .bench_build/). Spark runs
local[nproc] with the engine's recommended session (`session.get_spark`), no
SPARK_GRAFT_* setting changed, the JVM's own defaults and console progress off.

A run has three phases:

1. Set-up, cold: import the engine, launch the JVM and start the session,
   ship the package, build and checkpoint the input. A workload whose set-up
   is short does it `setups` times, each in a fresh process (child processes
   first, then this one), and `setup_s` is the median. Then WARM_OPS untimed
   operations start the Python workers and warm the JIT.
2. Timed operations, one after another, for --seconds and at least MIN_OPS
   of them. Each one is checked exactly against the workload's oracle; one
   that raises, times out or fails its check counts in `failed`.
3. With --trace 1 the Spark event log is on, and every second timed
   operation runs with spans installed on the engine's public functions (see
   spans.py), so traced and untraced operations see the same JIT warm-up. The
   per-layer metrics come from the traced operations and `trace.overhead_s`
   is the difference of the two kinds' median wall times.

The last line of standard output is the result: {"correct", "attempted",
"failed", "metrics"}; failed / attempted is the run's fail ratio, and the
metrics are BENCHMARK.json's end_to_end list with --trace 0 and its per_layer
list with --trace 1. `peak_rss_mb` is the peak of the driver and the Python
workers together; the JVM's, which follows its garbage collector's heap sizing
and varies by about ±20 % from run to run, is the per-layer proc.jvm.peak_rss_mb.
Before the result line, each metric is printed by name and unit, and a
line starting "RECORD " holds the run's context: commit, versions, Spark conf,
environment, seed, per-operation wall times with quartiles, host steal share
and, when traced, the attribution rule and any unattributed Spark jobs.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from procs import PeakRss, ProcTree, host_ticks  # noqa: E402
from spans import Tracer, attribute, parse_event_logs  # noqa: E402
from stats import summary  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WARM_OPS = 1
MIN_OPS = 5  # timed operations per run at least, so the median is a middle value
OP_TIMEOUT_S = 45  # an operation still running then is cancelled and counts as failed
LOOP_CAP_S = 60  # a timing loop stops after this long even short of MIN_OPS
SETUP_TIMEOUT_S = 120
DRIVER_MEM = "2g"

# spans: (module, attribute, span name)
SPARK_SPANS = [
    ("ioverlay_spark.operators.overlay_df", "overlay_rows", "overlay_df.overlay_rows"),
    ("ioverlay_spark.operators.distributed", "merge_segments_df", "dist.merge_segments_df"),
    ("ioverlay_spark.operators.distributed", "split_segments_df", "dist.split_segments_df"),
    ("ioverlay_spark.operators.distributed", "split_round", "dist.split_round"),
    ("ioverlay_spark.operators.distributed", "salted_cover", "dist.salted_cover"),
    ("ioverlay_spark.operators.distributed", "apply_marks_df", "dist.apply_marks_df"),
    ("ioverlay_spark.operators.distributed", "compute_fills_df", "dist.compute_fills_df"),
    ("ioverlay_spark.operators.distributed_extract", "extract_shapes_df", "dist.extract_shapes_df"),
    (
        "ioverlay_spark.operators.distributed_extract",
        "connected_components",
        "dist.connected_components",
    ),
    ("ioverlay_spark.operators.distributed_extract", "bind_holes_df", "dist.bind_holes_df"),
    ("ioverlay_spark.operators.spatial", "pip_join", "spatial.pip_join"),
    ("ioverlay_spark.operators.spatial", "tile_assign", "spatial.tile_assign"),
    ("ioverlay_spark.operators.spatial", "knn_broadcast_grid", "spatial.knn_broadcast_grid"),
]
KERNEL_SPANS = [
    ("ioverlay_spark.functions.float_shell", "_map_many", "float_shell.adapter"),
    ("ioverlay_spark.functions.float_shell", "_dirty_ring_mask", "float_shell.adapter"),
    ("ioverlay_spark.kernel.batch", "vectorized_ring_segments", "kernel.ingest"),
    ("ioverlay_spark.kernel.overlay", "split_segments", "kernel.split"),
    ("ioverlay_spark.kernel.overlay", "compute_fills_windowed", "kernel.fill"),
    ("ioverlay_spark.kernel.overlay", "extract_shapes", "kernel.extract"),
]
SPARK_SPAN_METRICS = [
    ("wall_s", "s"),
    ("self_s", "s"),
    ("calls", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("py_total_s", "s"),
    ("idle_core_s", "s"),
]


def _count_split(tracer, args, out) -> None:
    tracer.count("kernel.segments_in", len(args[0].ax))
    tracer.count("kernel.segments_out", len(out.ax))


def install_spans(tracer) -> None:
    import importlib

    from ioverlay_spark.functions import float_shell

    for mod, attr, name in SPARK_SPANS + KERNEL_SPANS:
        counter = _count_split if name == "kernel.split" else None
        tracer.patch(importlib.import_module(mod), attr, name, counter)
    tracer.patch(float_shell.NumpyFloatAdapter, "fit", "float_shell.adapter")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- environment ---------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "events"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree, read from .git directly."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def stop_jvm(tree) -> None:
    """Stop Spark, the JVM gateway and every process below this one; wait for each."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while tree.descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


# -- one run -------------------------------------------------------------------------


def setup_in_child(args) -> dict:
    """One cold set-up in a fresh process (run.py --setup-only); its record."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--setup-only",
    ]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, timeout=SETUP_TIMEOUT_S)
    if out.returncode != 0:
        raise RuntimeError(f"set-up process exited with code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Run:
    def __init__(self, args, work: str, workload=None):
        self.args = args
        self.work = work
        self.workload = workload or WORKLOADS[args.workload](args.seed)
        self.tree = ProcTree()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setups: list[dict] = []
        self.ops: list[dict] = []  # one per timed operation
        self.tracer = None
        self.replay_cpu_s = 0.0

    # set-up
    def setup_once(self) -> None:
        """One set-up, cold when this process has not imported the engine yet.
        session.start.wall_s includes the engine's first import."""
        import importlib

        rec = {"session.ship_package.wall_s": 0.0}
        t0 = time.perf_counter()
        importlib.import_module(self.workload.entry)
        if self.workload.uses_spark:
            from ioverlay_spark import session

            real_ship = session.ship_package
            ship_s = []

            def timed_ship(spark):
                t = time.perf_counter()
                real_ship(spark)
                ship_s.append(time.perf_counter() - t)

            session.ship_package = timed_ship
            try:
                self.spark = session.get_spark(nproc(), driver_mem=DRIVER_MEM)
            finally:
                session.ship_package = real_ship
            self.spark.sparkContext.setLogLevel("ERROR")
            rec["session.ship_package.wall_s"] = sum(ship_s)
        t1 = time.perf_counter()
        rec["session.start.wall_s"] = t1 - t0 - rec["session.ship_package.wall_s"]
        self.workload.build(self.spark)
        rec["input.build.wall_s"] = time.perf_counter() - t1
        rec["setup_s"] = time.perf_counter() - t0
        self.setups.append(rec)

    def one_op(self, traced: bool = False) -> dict:
        """Run, time and check one operation; failures are counted, not raised."""
        sc = self.spark.sparkContext if self.spark is not None else None
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs) if sc is not None else None
        cpu0, host0 = self.tree.cpu(), host_ticks()
        t0 = time.perf_counter()
        ok = False
        try:
            if timer is not None:
                timer.start()
            if traced:
                with self.tracer.operation():
                    out = self.workload.run()
            else:
                out = self.workload.run()
            ok = self.workload.check(out)
            if not ok:
                print(f"check failed: {out!r}", file=sys.stderr)
        except Exception as e:  # an operation that raises is a failed operation
            print(f"operation raised: {type(e).__name__}: {e}", file=sys.stderr)
        finally:
            if timer is not None:
                timer.cancel()
        wall = time.perf_counter() - t0
        cpu1, host1 = self.tree.cpu(), host_ticks()
        self.attempted += 1
        self.failed += not ok
        return {
            "wall_s": wall,
            "cpu": {r: cpu1[r] - cpu0[r] for r in cpu0},
            "host_ticks": (host1[0] - host0[0], host1[1] - host0[1]),
            "traced": traced,
            "ok": ok,
        }

    def execute(self) -> None:
        for _ in range(self.workload.setups - 1):
            self.setups.append(setup_in_child(self.args))
        self.setup_once()
        log("set-up done")
        self.warm = [self.one_op() for _ in range(WARM_OPS)]
        log("warm operations done")
        seconds = self.args.seconds
        with PeakRss(self.tree) as self.rss:
            if self.args.trace:
                self.tracer = Tracer(self.spark.sparkContext if self.spark is not None else None)
            self._loop(seconds, bool(self.args.trace))
        log(f"{len(self.ops)} timed operations done")
        if self.args.trace and hasattr(self.workload, "replay_kernel_cpu_s"):
            self.replay_cpu_s = self.workload.replay_kernel_cpu_s()
        self.conf = (
            dict(self.spark.sparkContext.getConf().getAll()) if self.spark is not None else {}
        )

    def _loop(self, seconds: float, trace: bool) -> None:
        """Timed operations; with `trace`, every second one is traced and the
        loop ends after a traced one."""
        start = time.perf_counter()
        for k in itertools.count(1):
            traced = trace and k % 2 == 0
            with self._spans() if traced else nullcontext():
                self.ops.append(self.one_op(traced))
            elapsed = time.perf_counter() - start
            if elapsed >= LOOP_CAP_S or (
                k >= MIN_OPS and elapsed >= seconds and not (trace and k % 2)
            ):
                return

    @contextmanager
    def _spans(self):
        plain = self.workload.action
        install_spans(self.tracer)
        self.workload.action = self.tracer.action
        try:
            yield
        finally:
            self.tracer.unpatch()
            self.workload.action = plain


# -- metrics -------------------------------------------------------------------------


def end_to_end(run: Run) -> dict:
    ops = run.ops
    return {
        "setup_s": median([s["setup_s"] for s in run.setups]),
        "wall_s": median([o["wall_s"] for o in ops]),
        "items_per_s": median([run.workload.items / o["wall_s"] for o in ops]),
        "cpu_s": median([sum(o["cpu"].values()) for o in ops]),
        "peak_rss_mb": run.rss.peak_python / 2**20,
    }


def per_layer(run: Run, cores: int) -> tuple[dict, list]:
    plain = [o for o in run.ops if not o["traced"]]
    traced = [o for o in run.ops if o["traced"]]
    m: dict[str, float] = {}
    for key in ("session.start.wall_s", "session.ship_package.wall_s", "input.build.wall_s"):
        m[key] = median([s[key] for s in run.setups])
    m["session.warm.wall_s"] = sum(o["wall_s"] for o in run.warm)
    for role in ("driver", "jvm", "pyworker"):
        m[f"proc.{role}.cpu_s"] = median([o["cpu"][role] for o in plain])
    m["proc.jvm.peak_rss_mb"] = run.rss.peak["jvm"] / 2**20
    m["proc.pyworker.peak_rss_mb"] = run.rss.peak["pyworker"] / 2**20

    tr = run.tracer
    jobs = parse_event_logs(os.path.join(run.work, "events")) if run.spark is not None else []
    spark_ops, unattributed = attribute(jobs, tr, cores)

    def med_span(name: str, fld: str) -> float:
        return median([float(getattr(op.spans[name], fld)) if name in op.spans else 0.0
                       for op in tr.ops])

    def med_spark(name: str, fld: str) -> float:
        return median([float(s[name][fld]) if name in s else 0.0 for s in spark_ops])

    names = sorted({n for _, _, n in KERNEL_SPANS})
    for name in names:
        m[f"{name}.wall_s"] = med_span(name, "wall_s")
        m[f"{name}.cpu_s"] = med_span(name, "cpu_s")
    for c in ("kernel.segments_in", "kernel.segments_out"):
        m[c] = median([float(op.counts.get(c, 0)) for op in tr.ops])
    m["dist.split_rounds"] = med_span("dist.split_round", "calls")
    for _, _, name in SPARK_SPANS:
        for fld, _unit in SPARK_SPAN_METRICS:
            src = med_span if fld in ("wall_s", "self_s", "calls") else med_spark
            m[f"{name}.{fld}"] = src(name, fld)
    m["op.self_s"] = med_span("op", "self_s")
    m["op.executor_cpu_s"] = med_spark("op", "executor_cpu_s")
    totals = {
        "spark.tasks": "tasks",
        "spark.max_task_s": "max_task_s",
        "spark.gc_s": "gc_s",
        "exchange.shuffle_read_bytes": "shuffle_read_bytes",
        "exchange.spill_bytes": "spill_bytes",
        "arrow.bytes_to_py": "bytes_to_py",
        "arrow.bytes_from_py": "bytes_from_py",
        "arrow.py_boot_s": "py_boot_s",
        "arrow.py_total_s": "py_total_s",
    }
    for key, fld in totals.items():
        m[key] = med_spark("_totals", fld)
    m["spark.unattributed_jobs"] = float(len(unattributed))
    m["kernel.batch.overlay_batch_flat_out.cpu_s"] = run.replay_cpu_s
    py_total = m["arrow.py_total_s"]
    m["overlay_df.kernel_share"] = run.replay_cpu_s / py_total if py_total > 0 else 0.0
    m["trace.overhead_s"] = median([o["wall_s"] for o in traced]) - median(
        [o["wall_s"] for o in plain]
    )
    return m, unattributed


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def record(run: Run, extra: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    w = run.workload
    return {
        "workload": w.name,
        "seed": run.args.seed,
        "seed_used": w.seeded,
        "trace": run.args.trace,
        "git_commit": git_commit(),
        "nproc": nproc(),
        "versions": {
            "python": sys.version.split()[0],
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        },
        "spark_conf": run.conf,
        "env": {
            k: v for k, v in os.environ.items() if k.startswith(("SPARK_GRAFT_", "OMP_"))
        },
        "load": "closed loop, one client",
        "item": w.unit,
        "items_per_op": w.items,
        "setups": run.setups,
        "warm_wall_s": [o["wall_s"] for o in run.warm],
        "wall_s": summary([o["wall_s"] for o in run.ops]),
        "op_wall_s": [o["wall_s"] for o in run.ops],
        "peak_rss_mb_by_role": {r: v / 2**20 for r, v in run.rss.peak.items()},
        "host_steal_share": sum(o["host_ticks"][0] for o in run.ops)
        / max(1, sum(o["host_ticks"][1] for o in run.ops)),
        "fail_ratio": run.failed / run.attempted,
        **extra,
    }


def run_one(args) -> int:
    spec = load_spec()
    work = os.path.join(ROOT, ".bench_build", f"perfbench-{os.getpid()}")
    os.makedirs(work)
    tree = ProcTree()
    try:
        prepare_env(work, bool(args.trace))
        sys.path.insert(0, ROOT)
        run = Run(args, work)
        if args.setup_only:
            try:
                run.setup_once()
            finally:
                if "pyspark" in sys.modules:
                    stop_jvm(tree)
            print(json.dumps(run.setups[-1]))
            return 0
        try:
            run.execute()
        finally:
            if "pyspark" in sys.modules:
                stop_jvm(tree)
            log("processes stopped")
        if args.trace:
            metrics, unattributed = per_layer(run, nproc())
            extra = {
                "trace_overhead_s": metrics["trace.overhead_s"],
                "attribution": "each Spark job counts toward the innermost span open when it "
                "was submitted; a lazy DataFrame counts toward the span whose action runs it, "
                "and each workload runs the action consuming an operator's result inside "
                "that operator's span",
                "unattributed_jobs": unattributed,
            }
            wanted = spec["per_layer"]
        else:
            metrics, extra = end_to_end(run), {}
            wanted = spec["end_to_end"]
        missing = {m["name"] for m in wanted} ^ set(metrics)
        if missing:
            raise SystemExit(f"metrics do not match BENCHMARK.json: {sorted(missing)}")
        print("RECORD " + json.dumps(record(run, extra), default=str))
        for m in wanted:
            print(f"{args.workload:>15} {m['name']:<50} {metrics[m['name']]:>16.6g} {m['unit']}")
        print(f"{args.workload:>15} fail_ratio {run.failed}/{run.attempted}")
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
            },
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Every workload in turn, each in its own process; the last line sums the
    counts and prefixes each metric with its workload."""
    spec = load_spec()
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in spec["workloads"]:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", wl["name"],
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{wl['name']}: exit code {out.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{wl['name']}.{k}"] = v
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # one cold set-up only, its record as the last line (run.py's own child processes)
    p.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ioverlay_spark", "__init__.py")):
        print(f"no ioverlay_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
