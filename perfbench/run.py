"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

``--workload all`` runs every workload, each in its own process, and
prints one ``<workload> <result>`` line per workload.

Run from the repository root. One Python process drives one local
Spark session (``local[SPARK_GRAFT_CPUS]``, at most 4 cores) under the
package's default configuration, runs one workload, checks every
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with no probes installed.
``--trace 1`` installs the outside-in probes (``probes.py``), reports
the per-layer metrics, and writes every span to
``.bench_work/spans-<workload>-<seed>.json``.

Generated fixtures and their DuckDB result digests are cached under
``.bench_work/`` on first use; the run exits with status 1 when an
output check fails and 2 when the package is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
PKG = "etl_building_inspector_spark"
CORES = min(4, os.cpu_count() or 1)


def _rss_peak_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _scan_proc() -> tuple[dict[int, float], dict[int, list[int]]]:
    """CPU seconds (user + system, with reaped children) of every live
    process, and the children of each, from ``/proc``."""
    tick = os.sysconf("SC_CLK_TCK")
    cpu: dict[int, float] = {}
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        kids.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    return cpu, kids


def _tree(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not ended (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of process ``root`` (default: this one)
    and every live descendant, each with its reaped children: this
    Python process, its JVM and the JVM's Python workers."""
    cpu, kids = _scan_proc()
    return sum(cpu.get(pid, 0.0) for pid in _tree(root or os.getpid(), kids))


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched, and every process under it,
    and wait until each has ended. Left alone, the JVM exits only after
    this process has gone, and outlives the run."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is None:
        return
    below = _tree(proc.pid, _scan_proc()[1])[1:]
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on end of input
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the JVM's own children (Python workers) are no children of ours:
    # end them and poll until they are gone
    for pid in below:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while below and time.monotonic() < deadline:
        below = [pid for pid in below if _running(pid)]
        if below:
            time.sleep(0.05)


class Bench:
    """One run: the Spark session, the tracer, and the timed operations
    with their outcomes."""

    def __init__(self, args):
        from perfbench.probes import StreamingProbe, Tracer

        self.args = args
        self.tracer = Tracer(enabled=bool(args.trace))
        self.streaming = StreamingProbe()
        self.spark = None
        self.setup_s = 0.0  # CPU seconds: package imports + start()
        self.setup_wall_s = 0.0
        self.cpu_s = 0.0  # summed over the timed operations
        self.wall_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.harvest: dict | None = None  # status-store reads at the end
        self.warmup_parquet = None
        self.op_extra: dict[int, dict] = {}  # root span id -> probe data
        # (JVM GC s, streaming counters) when timing starts and ends
        self.probes_before = self.probes_after = None

    # -- session ----------------------------------------------------------

    @contextmanager
    def setup(self):
        """Count the enclosed work as set-up, in CPU and wall seconds."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        yield
        self.setup_s += tree_cpu_s() - c0
        self.setup_wall_s += time.perf_counter() - t0

    def start(self) -> None:
        """Set up: ``get_spark`` and a warm-up read, once per run. A
        second set-up in the same process would reuse the JVM, and a
        restarted SparkContext loses PySpark's accumulator channel."""
        from etl_building_inspector_spark.session import get_spark

        if self.args.trace:
            self.tracer.patch_layers()
        with self.setup(), self.tracer.span("setup", "session", timed=False):
            self.spark = get_spark("perfbench")
            self.tracer.bind(self.spark)
            self.spark.read.parquet(self.warmup_parquet).write.format(
                "noop").mode("overwrite").save()
        if self.args.trace:
            self.streaming.attach(self.spark)
            self.probes_before = self._probe_snapshot()

    def _probe_snapshot(self):
        from perfbench import probes

        return probes.jvm_gc_s(self.spark), self.streaming.snapshot()

    def stop(self) -> None:
        """Stop the session and its JVM, on every path out of a run."""
        try:
            if self.spark is not None:
                if self.args.trace:
                    self.probes_after = self._probe_snapshot()
                    self._harvest()
                self.spark.stop()
        finally:
            self.spark = None
            stop_jvm()

    def _harvest(self) -> None:
        from perfbench import probes

        probes.drain_listener_bus(self.spark)
        self.harvest = {
            "jobs": probes.read_jobs(self.spark),
            "stages": probes.read_stages(self.spark),
            "sql": probes.read_sql_metrics(self.spark),
        }

    def jvm_peak_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return _rss_peak_mb(proc.pid) if proc is not None else 0.0

    # -- operations -------------------------------------------------------

    def op(self, name: str, build, action, check):
        """Time ``action(build())`` as one operation, in CPU and wall
        seconds, then check its output outside the timed part. Returns
        the wall seconds taken, or None when it failed."""
        from perfbench import probes

        tr = self.tracer
        result = df = error = None
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span(name, "plans") as root:
            try:
                with tr.span("build", "plans"):
                    df = build()
                with tr.span("action", "spark"):
                    result = action(df)
            except Exception as e:  # a failed operation is counted, not fatal
                error = f"{name}: {type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        self.cpu_s += tree_cpu_s() - c0
        self.wall_s += dt
        if error is None:
            problems = check(result)
            if problems:
                error = f"{name}: output check failed: {problems}"
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.errors.append(error)
            print(f"FAILED {error}", file=sys.stderr)
            return None
        if root is not None:
            self.op_extra[root.id] = {
                "analysis_ms": probes.analysis_ms(df) if df is not None else 0.0,
                "live_persisted_after": probes.live_persisted(self.spark),
            }
        print(f"{name} {dt:.3f} s", flush=True)
        return dt

    # -- reporting --------------------------------------------------------

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus its JVM."""
        return _rss_peak_mb("self") + self.jvm_peak_mb()

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "cpu_s": (self.cpu_s, "s"),
        }


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment() -> None:
    """Pin cores and keep every scratch file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: the JVM's counter file would go to the system temp
    # directory whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def run_all(args) -> int:
    """Every workload in its own process; one result line each."""
    import subprocess

    from perfbench import workloads

    status = 0
    for name in workloads.WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        print(name, lines[-1] if lines else "{}", flush=True)
        status = status or proc.returncode
    return status


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: no {PKG}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _environment()
    bench = Bench(args)
    with bench.setup():
        import etl_building_inspector_spark.plans.pipeline  # noqa: F401
        import etl_building_inspector_spark.plans.registry  # noqa: F401
        import etl_building_inspector_spark.session  # noqa: F401

    try:
        info = workloads.WORKLOADS[args.workload](bench, WORK)
        info["peak_rss_mb"] = bench.peak_rss_mb()
    finally:
        bench.stop()
    if args.trace:
        from perfbench import report

        metrics = report.layer_metrics(bench, info)
        report.write_spans(bench, info, WORK)
    else:
        metrics = bench.end_to_end()
        report_path = os.path.join(
            WORK, f"result-{args.workload}-{args.seed}.json")
        with open(report_path, "w") as f:
            json.dump({"wall_s": bench.wall_s, "cpu_s": bench.cpu_s}, f)
    print(f"wall seconds: set-up {bench.setup_wall_s:.3f}, timed operations "
          f"{bench.wall_s:.3f}")
    correct = bench.failed == 0 and bench.attempted > 0
    for e in bench.errors:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
