#!/usr/bin/env python3
"""The engine's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload point_join --seed 1 --seconds 10 --trace 0

Run from the repository root (or anywhere: paths resolve from this file).
Each run:

1. passes the number of CPUs it may use (its affinity mask, which the JVM
   and Python workers inherit) to ``session.get_spark``;
2. makes a fresh work directory under ``.perfbench/tmp/`` for generated
   inputs, StageWriter roots, Spark local dirs and the JVM's temp dir, and
   removes it at exit;
3. set-up: session start, input generation from ``--seed``, then
   ``WARMUP_PASSES`` untimed passes (the JIT keeps speeding passes up
   until about the fifth);
4. timed passes for ``--seconds`` seconds (at least one);
5. checks every pass against the workload's Spark-free oracle.

It prints one ``name value unit`` line per metric and, last, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics (wall time, no counters read);
``--trace 1`` reports the per-layer metrics: half the time runs untraced
passes, half traced ones whose spans and Spark status-store counters are
recorded, then the Spark-free kernels are timed on the workload's own
inputs. The traced run also writes its spans to ``.perfbench/traces/``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# the first pass in a fresh JVM runs 3-4x slower than later ones, and
# passes keep getting faster (JIT) until about the fifth
WARMUP_PASSES = 4
# the driver JVM's heap: its maximum and initial size are the same, and the
# young generation is fixed, so G1's adaptive sizing does not set the peak RSS
DRIVER_HEAP = "2g"
YOUNG_GEN = "768m"

END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("items_per_s", "1/s"),
    ("driver_peak_rss_mb", "MB"),
    ("jvm_peak_rss_mb", "MB"),
]

OPS = ["spatial_join", "tiling", "contour", "polygonize",
       "raster_ops.warp", "raster_ops.zonal"]
OP_FIELDS = [
    ("call_s", "s"), ("exec_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
    ("python_rows_in", "count"), ("python_bytes_in", "B"),
    ("python_bytes_out", "B"), ("python_run_s", "s"),
]
JOIN_FIELDS = [
    ("cover_rows", "count"), ("broadcast_bytes", "B"),
    ("refine_useful_ratio", "ratio"),
    ("task_max_s", "s"), ("task_median_s", "s"),
]
OTHER_LAYER = [
    ("setup.imports_s", "s"),
    ("session.get_spark_s", "s"),
    ("sources.gen_s", "s"),
    ("setup.warmup_s", "s"),
    ("plans.lineage.run_stage_s", "s"),
    ("plans.lineage.bytes_written", "B"),
    ("kernels.pip.points_per_s", "1/s"),
    ("kernels.contour.cells_per_s", "1/s"),
    ("jvm.old_gen_peak_mb", "MB"),
    ("trace.untraced_pass_s", "s"),
    ("trace.traced_pass_s", "s"),
    ("trace.overhead_frac", "ratio"),
]


def per_layer_metrics():
    out = [(f"operators.{op}.{f}", u) for op in OPS for f, u in OP_FIELDS]
    out += [(f"operators.spatial_join.{f}", u) for f, u in JOIN_FIELDS]
    return out + OTHER_LAYER


def isolate(workdir):
    """Environment for the session: every file Spark, the JVM and the
    Python workers write goes under ``workdir``; workers import the engine
    from this checkout wherever the benchmark was launched from."""
    for sub in ("local", "jtmp", "tmp", "warehouse", "inputs", "stages"):
        os.makedirs(os.path.join(workdir, sub))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        # no hsperfdata file in the system temp dir; a fixed heap geometry
        # (whole heap committed, fixed young generation) so G1's adaptive
        # sizing does not decide the JVM's peak RSS run by run
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(workdir, 'jtmp')} "
        f"-XX:-UsePerfData -Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN}'",
        "pyspark-shell",
    ])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class PassContext:
    """What a workload's pass uses to mark operator boundaries."""

    def __init__(self, tracer, counters, workdir, run_id, index):
        self.tracer = tracer
        self.counters = counters
        self.workdir = workdir
        self.run_id = run_id
        self.index = index
        self._root = None

    @contextmanager
    def op(self, name, phase):
        group = f"{name}#{self.index}"
        if self.counters:
            self.counters.begin(group)
        with self.tracer.span(f"operators.{name}.{phase}") as rec:
            yield
        # counters are read outside the operator's span (inside the pass)
        if self.counters and phase == "exec":
            rec["counters"] = self.counters.end(group)

    def stage_root(self):
        """A StageWriter root no other pass has used (a reused root would
        make run_stage skip its already-completed units)."""
        if self._root is None:
            self._root = tempfile.mkdtemp(prefix=f"pass{self.index}-",
                                          dir=os.path.join(self.workdir, "stages"))
        return self._root


def dir_bytes(path):
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def corrupt(out):
    """Change one number in a pass digest (self-test of the oracle)."""
    for key in sorted(out):
        v = out[key]
        if isinstance(v, dict) and v:
            k = sorted(v)[0]
            v[k] += 1
            return out
    raise ValueError("nothing to corrupt")


class Session:
    """One Spark session for the benchmark, started with the engine's own
    ``get_spark`` and stopped (JVM included) by ``close``."""

    def __init__(self, tracer, cpus):
        from osgeo_gdal_spark.session import get_spark

        with tracer.span("session.get_spark"):
            self.spark = get_spark(app="perfbench", cores=cpus)
            self.spark.sparkContext.setLogLevel("ERROR")

    def close(self):
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(session, tracer, wl, workdir, run_id, seconds, trace,
            corrupt_out=False, warmup_passes=WARMUP_PASSES):
    """Warm-up, timed passes, oracle check. Returns (metrics, attempted,
    failed) where metrics maps name -> value for the requested mode."""
    from spans import SparkCounters, jvm_pid, old_gen_peak_mb, vm_hwm_mb

    spark = session.spark
    inputs = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(workdir, "inputs"))
    with tracer.span("sources.gen"):
        wl.generate(spark, inputs)
    with tracer.span("setup.warmup"):
        for i in range(warmup_passes):
            wl.run_pass(spark, PassContext(tracer, None, workdir, run_id, -i))
    setup_end = time.perf_counter()

    steal0, total0 = cpu_ticks()
    passes = []  # (seconds, output or None, traced, pass span)
    counters = None
    if trace:
        phases = [(False, setup_end + seconds / 2.0), (True, setup_end + seconds)]
    else:
        phases = [(False, setup_end + seconds)]
    for traced, until in phases:
        if traced:
            counters = SparkCounters(spark)
        while True:
            index = len(passes) + 1
            ctx = PassContext(tracer, counters, workdir, run_id, index)
            with tracer.span("pass", index=index, traced=traced) as rec:
                t0 = time.perf_counter()
                try:
                    out = wl.run_pass(spark, ctx)
                    if corrupt_out:
                        out = corrupt(out)
                except Exception:
                    traceback.print_exc()
                    out = None
                secs = time.perf_counter() - t0
            if traced:
                rec["bytes_written"] = dir_bytes(ctx.stage_root())
            passes.append((secs, out, traced, rec))
            if time.perf_counter() >= until:
                break

    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while passes ran: a
    # reading for judging a noisy run, not a metric of the engine
    print(f"host_steal_frac {(steal1 - steal0) / max(1, total1 - total0)!r} ratio",
          file=sys.stderr)
    print("pass_times_s " + " ".join(f"{p[0]:.3f}" for p in passes), file=sys.stderr)
    driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_mb = vm_hwm_mb(jvm_pid(spark))
    kernel_rates = wl.kernels() if trace else {}
    old_gen_mb = old_gen_peak_mb(spark) if trace else 0.0

    with tracer.span("oracle"):
        want = wl.expected()
    failed = 0
    for _secs, out, _traced, _rec in passes:
        msg = "pass raised" if out is None else wl.check(out, want)
        if msg:
            failed += 1
            print(f"oracle mismatch: {msg}", file=sys.stderr)

    if not trace:
        pass_s = _median([p[0] for p in passes])
        metrics = {
            "setup_s": setup_end - T_START,
            "pass_s": pass_s,
            "items_per_s": wl.items / pass_s,
            "driver_peak_rss_mb": driver_mb,
            "jvm_peak_rss_mb": jvm_mb,
        }
    else:
        metrics = layer_metrics(tracer, passes, kernel_rates)
        metrics["jvm.old_gen_peak_mb"] = old_gen_mb
    return metrics, len(passes), failed


def layer_metrics(tracer, passes, kernel_rates):
    spans = tracer.spans

    def total(name):
        return sum(tracer.duration(s) for s in spans if s["name"] == name)

    traced = [p for p in passes if p[2]]
    untraced = [p for p in passes if not p[2]]
    # each pass's spans sit between its own start and end
    per_pass = []
    for secs, _out, _t, rec in traced:
        inside = [s for s in spans if s["start"] >= rec["start"]
                  and s["end"] is not None and s["end"] <= rec["end"]]
        per_pass.append((rec, inside))

    m = {name: 0.0 for name, _u in per_layer_metrics()}
    for op in OPS:
        for phase in ("call", "exec"):
            m[f"operators.{op}.{phase}_s"] = _median([
                sum(tracer.duration(s) for s in inside
                    if s["name"] == f"operators.{op}.{phase}")
                for _rec, inside in per_pass])
        ctrs = [s["counters"] for _rec, inside in per_pass for s in inside
                if s["name"] == f"operators.{op}.exec" and "counters" in s]
        if not ctrs:
            continue
        for f, _u in OP_FIELDS[2:]:
            m[f"operators.{op}.{f}"] = _median([c[f] for c in ctrs])
        if op == "spatial_join":
            m["operators.spatial_join.cover_rows"] = _median([c["broadcast_rows"] for c in ctrs])
            m["operators.spatial_join.broadcast_bytes"] = _median([c["broadcast_bytes"] for c in ctrs])
            m["operators.spatial_join.task_max_s"] = _median([c["task_max_s"] for c in ctrs])
            m["operators.spatial_join.task_median_s"] = _median([c["task_median_s"] for c in ctrs])
            m["operators.spatial_join.refine_useful_ratio"] = _median([
                c["refine_rows_matched"] / c["refine_rows_in"]
                for c in ctrs if c["refine_rows_in"]])
    m["setup.imports_s"] = total("setup.imports")
    m["session.get_spark_s"] = total("session.get_spark")
    m["sources.gen_s"] = total("sources.gen")
    m["setup.warmup_s"] = total("setup.warmup")
    m["plans.lineage.run_stage_s"] = _median([
        sum(tracer.duration(s) for s in inside if s["name"] == "plans.lineage.run_stage")
        for _rec, inside in per_pass])
    m["plans.lineage.bytes_written"] = _median([rec.get("bytes_written", 0)
                                                for rec, _i in per_pass])
    m.update(kernel_rates)
    m["trace.untraced_pass_s"] = _median([p[0] for p in untraced])
    m["trace.traced_pass_s"] = _median([p[0] for p in traced])
    if m["trace.untraced_pass_s"]:
        m["trace.overhead_frac"] = m["trace.traced_pass_s"] / m["trace.untraced_pass_s"] - 1.0
    return m


def report(metrics, units, attempted, failed):
    for name, unit in units:
        print(f"{name} {metrics[name]!r} {unit}")
    print(f"failed_frac {failed / attempted!r} ratio")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units},
    }))


WORKLOAD_NAMES = ("point_join", "raster_vector")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "osgeo_gdal_spark")):
        print(f"engine package osgeo_gdal_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the work directory and the
    # JVM are cleaned up on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(STATE, "tmp"))
    run_id = os.path.basename(workdir)
    session = None
    try:
        isolate(workdir)
        sys.path.insert(0, HERE)
        from spans import Tracer

        tracer = Tracer(run_id)
        with tracer.span("setup.imports"):
            import numpy  # noqa: F401
            import pyspark.sql  # noqa: F401

            from workloads import WORKLOADS
        wl = WORKLOADS[args.workload](args.seed, "default")
        session = Session(tracer, cpus)
        metrics, attempted, failed = measure(
            session, tracer, wl, workdir, run_id, args.seconds, args.trace)
        if args.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            if session is not None:
                session.close()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    units = per_layer_metrics() if args.trace else END_TO_END
    report(metrics, units, attempted, failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
