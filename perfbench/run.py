"""Lakehouse benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine's SparkSession on
``local[nproc]``, generates the workload's inputs from ``--seed``, sets
up (inputs, fixture publish, warm-up passes), then runs operations for
``--seconds`` (a closed loop runs at least ``MIN_OPS``) and checks every
one against its DuckDB or generator oracle. Human-readable lines come
first; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes every span to ``.perfbench/traces/``.
Everything else the run writes (inputs, tables, Spark's warehouse,
local and temp dirs, checkpoints) lives in ``.perfbench/run-<pid>/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))
# a closed-loop run measures at least this many operations, however
# long they take: the median never rests on one (the slowest, first)
# operation, and a traced run has both traced and untraced ones
MIN_OPS = 2

# package env knobs that would change what is measured
_ENGINE_ENV = (
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_PARQUET_CODEC", "SPARK_GRAFT_DRIVER_MEM",
)


# JVM threads that compile the engine's code rather than run it
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[11]) + int(f[12])  # utime + stime


def _proc_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes, less their JIT
    compiler threads. The process total also holds threads that have
    exited; compiler threads live as long as the JVM, so subtracting
    the live ones is exact."""
    ticks = 0
    for pid in pids:
        ticks += _cpu_ticks(f"/proc/{pid}/stat")
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(_JIT_THREADS):
                        continue
                ticks -= _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
            except (FileNotFoundError, ProcessLookupError):  # thread just exited
                continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_stat() -> tuple[int, int]:
    """(total, steal) jiffies of the host's vCPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7]


class Ctx:
    def __init__(self, spark, tmp: str, seed: int, tracer, trace: bool) -> None:
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.trace = trace
        self.samples: dict[str, list[float]] = {}
        self.pids = [os.getpid(), jvm_pid(spark)]
        self.oracle_cpu_s = 0.0

    def cpu(self) -> float:
        """CPU seconds this process and the driver JVM have spent running
        the engine (JIT compilation left out). Unlike wall time it leaves
        out time the host's hypervisor gave our vCPUs to other guests
        (steal), and without the compiler threads it does not carry the
        compile work that a fresh JVM does at a varying pace."""
        return _proc_cpu_s(self.pids)

    @contextlib.contextmanager
    def oracle(self):
        """A block of the benchmark's own checking work: its CPU is
        added to ``oracle_cpu_s`` so that set-up can leave it out."""
        c0 = self.cpu()
        try:
            yield
        finally:
            self.oracle_cpu_s += self.cpu() - c0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Peak resident set (VmHWM) of this process plus the driver JVM."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def build_spark(tmp: str):
    from aws_lakehouse_project_spark import session

    java_opts = (
        f"-Djava.io.tmpdir={tmp}/jvm-tmp -Dderby.system.home={tmp}/derby -XX:-UsePerfData"
        # compiler threads live as long as the JVM, so Ctx.cpu can leave
        # them out exactly (see _proc_cpu_s)
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.makedirs(f"{tmp}/jvm-tmp")
    return session.build_session(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.sql.warehouse.dir": f"{tmp}/warehouse",
            "spark.local.dir": f"{tmp}/spark-local",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.streaming.checkpointLocation": f"{tmp}/checkpoints",
            "spark.driver.memory": "3g",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=30)


def run(args, tmp: str) -> dict:
    import layers
    import spans
    import workloads

    tracer = spans.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    if args.trace:
        layers.patch(tracer)
        tracer.enabled = True

    t0 = time.perf_counter()
    spark = build_spark(tmp)
    session_s = time.perf_counter() - t0
    tracer.spark = spark
    try:
        ctx = Ctx(spark, tmp, args.seed, tracer, bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        # CPU seconds, like the operation figures: the whole life of this
        # process and of the JVM up to here, less the oracle checks
        setup_s = ctx.cpu() - ctx.oracle_cpu_s
        selftest_ok = wl.oracle_selftest()

        tracer.phase = "op"
        tracer.bookkeeping_s = 0.0
        lat, traced, attempted, failed = [], [], 0, int(not selftest_ok)
        steal: list[float] = []
        op_cpu: list[float] = []
        if args.workload == "stream_ingest":
            lat, traced, op_cpu, attempted, failed_ops = wl.run(args.seconds)
            failed += failed_ops
        else:
            t_end = time.perf_counter() + args.seconds
            i = 0
            cpu0 = _cpu_stat()
            while i < MIN_OPS or time.perf_counter() < t_end:
                # a traced run alternates traced and untraced operations:
                # the latency difference is the tracing overhead
                tracer.enabled = bool(args.trace) and i % 2 == 0
                before = layers.table_state(ctx) if tracer.enabled else None
                lat_i, cpu_i, ok = wl.op(i)
                op_cpu.append(cpu_i)
                if before is not None:
                    layers.count_writes(tracer, ctx, before)
                tracer.enabled = False
                lat.append(lat_i)
                cpu1 = _cpu_stat()
                steal.append(100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]))
                cpu0 = cpu1
                traced.append(bool(args.trace) and i % 2 == 0)
                attempted += 1
                failed += int(not ok)
                i += 1
        tracer.enabled = False
        tracer.phase = "finish"
        failed += wl.finish()
        rss = peak_rss_mb(ctx.pids)
        extra = wl.report(lat)
        info = {
            "cpus": NPROC,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "jvm_cpus": spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            .availableProcessors(),
        }
        if args.trace:
            metrics = layers.metrics(tracer, ctx, wl, lat, traced, session_s)
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            out = os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
            )
            with open(out, "w") as fh:
                json.dump({"info": info, "metrics": metrics, **tracer.dump()}, fh)
            print(f"# spans written to {os.path.relpath(out, ROOT)}")
        else:
            p50 = statistics.median(lat)
            tail_v, tail_p = workloads.tail(lat)
            cpu_tail, _ = workloads.tail(op_cpu)
            # gated: the CPU-time figures repeat far more closely than
            # wall time on a host whose steal varies minute to minute
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_cpu_p50_s": (statistics.median(op_cpu), "s"),
                "op_cpu_tail_s": (cpu_tail, "s"),
                "throughput_per_cpu_s": extra.pop("throughput_per_cpu_s"),
            }
            extra = {
                "op_p50_s": (p50, "s"),
                "op_tail_s": (tail_v, "s"),
                "peak_rss_mb": (rss, "MB"),
                **extra,
            }
            named = workloads.NAMED[args.workload]
            print(f"# workload={args.workload} seed={args.seed} {json.dumps(info)}")
            print(f"# ops attempted={attempted} failed={failed} "
                  f"ops_failed_frac={failed / max(attempted, 1):.4f} "
                  f"tail={tail_p} session_s={session_s:.3f}")
            print(f"# {named['p50']}={p50:.4f} s   {named['tail']}={tail_v:.4f} s ({tail_p})")
            print("# op latencies: " + " ".join(f"{x:.3f}" for x in lat))
            print("# op cpu seconds: " + " ".join(f"{x:.2f}" for x in op_cpu))
            if steal:
                print("# host cpu steal % during each op: "
                      + " ".join(f"{x:.1f}" for x in steal))
            for k, (v, u) in {**metrics, **extra}.items():
                print(f"# {k} = {v:.6g} {u}")
        for k in [k for k in metrics if isinstance(metrics[k], tuple)]:
            v, u = metrics[k]
            metrics[k] = {"value": v, "unit": u}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        tracer.unpatch()
        stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["late_merge", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for k in _ENGINE_ENV:
        os.environ.pop(k, None)
    # the engine must come from this checkout; fail before any output
    # if it is not there
    sys.path.insert(0, ROOT)
    import aws_lakehouse_project_spark  # noqa: F401

    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the spark-submit launcher JVM: no hsperfdata file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
