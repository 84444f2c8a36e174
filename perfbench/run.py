"""Seeded closed-loop benchmark of sea-serpent-spark.

    python3 perfbench/run.py --workload write_commits --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One client drives one workload in this
process against ``local[nproc]``; inputs are generated from ``--seed``
under a per-run directory in the checkout, which is deleted at exit. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Everything else goes to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

from measure import (  # noqa: E402
    Tracer, cpu_ticks, descendants, full_gc, mean, median, retained_mb, rss_mb,
    steal_pct, tree_cpu_s, udf_profile_s)

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {
    "write_commits": "commits",
    "dedup_pipeline": "pipeline",
}
#: setup is repeated this many times per run; setup_s takes the median
SETUP_REPEATS = 3
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "retained_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "core.build_ms_p50": "ms",
    "core.action_ms_p50": "ms",
    "core.jobs_per_req": "count",
    "core.tasks_per_req": "count",
    "core.gap_ms_per_req": "ms",
    "store.read_ms_p50": "ms",
    "store.commit_ms_p50.loc_write": "ms",
    "store.commit_ms_p50.update": "ms",
    "store.commit_ms_p50.upsert": "ms",
    "store.commit_ms_p50.delete_rows": "ms",
    "store.commit_ms_p50.append": "ms",
    "store.commit_ms_p50.bundle": "ms",
    "store.jobs_per_commit": "count",
    "store.bytes_written_per_commit": "bytes",
    "store.files_written_per_commit": "count",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "store.open_ms_p50": "ms",
    "store.open_ms_growth": "ratio",
    "store.point_read_ms_p50": "ms",
    "store.time_travel_ms_p50": "ms",
    "store.compact_s": "s",
    "store.vacuum_s": "s",
    "store.post_compact_commit_ms": "ms",
    "store.commit_share": "ratio",
    "dedup.corpus_s": "s",
    "incremental.index_build_s": "s",
    "similarity.semantic_dedup_s": "s",
    "streaming.batch_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "udf.python_s_per_pass": "s",
    "spark.shuffle_mb_per_pass": "MB",
    "spark.task_busy_frac": "ratio",
    "spark.task_ms_per_op": "ms",
    "spark.gap_ms_per_op": "ms",
    "util.release_ms": "ms",
    "util.persisted_rdds_leaked": "count",
    "jvm.gc_ms_per_op": "ms",
    "split.holds": "bool",
    "trace.overhead_frac": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.cpu_ms_per_op": "ms",
    "trace.latency_mean_ms": "ms",
    "trace.throughput_per_s": "1/s",
    "run.failed_frac": "ratio",
    "run.steal_pct": "%",
}


class Ctx:
    """What a workload sees: the session, the tracer, the seed and a
    private directory for its inputs and outputs."""

    def __init__(self, spark, seed: int, traced: bool, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.traced = traced
        self.run_dir = run_dir
        self.tracer = Tracer(spark, traced)
        self.leak_base = self.leak_max = 0
        self._seq = 0

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def seq(self) -> int:
        """A fresh number per call, for per-pass directories."""
        self._seq += 1
        return self._seq

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def sample_leak(self) -> None:
        """Persisted RDDs alive after an operation, above the count before
        the timed window."""
        t = time.perf_counter()
        self.leak_max = max(self.leak_max,
                            self.tracer.persisted_rdds() - self.leak_base)
        self.tracer.overhead_s += time.perf_counter() - t


def _env_record(tag: str, ticks0: tuple[int, int]) -> dict:
    return {
        "at": tag,
        "nproc": os.cpu_count(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_1m": os.getloadavg()[0],
        "steal_pct": steal_pct(ticks0, cpu_ticks()),
    }


def _run(args, run_dir: str) -> dict:
    ticks0 = cpu_ticks()
    Ctx.log("# env " + json.dumps(_env_record("start", ticks0)))
    t = time.perf_counter()
    from sea_serpent_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file in the system temp directory; C1 only, as
            # C2 keeps compiling Spark for minutes, and a fixed heap, as a
            # growing one makes the collections differ from run to run
            # (README, "Why C1 only and a fixed heap")
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
                " -XX:TieredStopAtLevel=1 -Xms2g",
        },
    )
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    ready = time.time()
    try:
        if args.trace:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        wl = importlib.import_module(WORKLOADS[args.workload])
        ctx = Ctx(spark, args.seed, bool(args.trace), run_dir)

        prep = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            state = wl.prepare(ctx, rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm(ctx, state)
        warm_s = time.perf_counter() - t
        setup_s = (ready - T_PROCESS) + median(prep) + warm_s
        ctx.tracer.spans.clear()
        # every window starts on an empty young generation, so the same
        # work meets the same collections
        full_gc(spark)
        if args.trace:
            udf_profile_s(spark)
            gc0 = ctx.tracer.gc_ms()
            ctx.leak_base = ctx.tracer.persisted_rdds()

        cpu0 = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        out = wl.measure(ctx, state, t + args.seconds)
        elapsed = out["elapsed"]
        cpu_window = tree_cpu_s(os.getpid()) - cpu0
        gc1 = ctx.tracer.gc_ms() if args.trace else 0.0
        rss_py, rss_jvm = rss_mb(os.getpid()), rss_mb(jvm_pid)
        retained = retained_mb(spark)
        t = time.perf_counter()
        wl.verify(ctx, state, out)
        check_s = time.perf_counter() - t
        wall = {"latency_mean_ms": mean(out["latency_ms"]),
                "throughput_per_s": out["throughput"]}
        cpu_per_op = cpu_window * 1000 / max(1, out["units"])
        Ctx.log("# window " + json.dumps({**wall, "cpu_ms_per_op": cpu_per_op}))
        Ctx.log("# phases " + json.dumps({
            "session_s": session_s, "prepare_s": prep, "warm_s": warm_s,
            "window_s": elapsed, "cpu_window_s": cpu_window,
            "rss_py_mb": rss_py, "rss_jvm_mb": rss_jvm, "retained_mb": retained,
            "check_s": check_s}))
    finally:
        _stop(spark)
    Ctx.log("# env " + json.dumps(_env_record("end", ticks0)))

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "cpu_ms_per_op": cpu_per_op,
            "retained_mb": retained,
        }
        units = END_TO_END
    else:
        spans = out.get("spans", [])
        ops = max(1, out["ops"])
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update({
            "session.start_s": session_s,
            "spark.task_busy_frac": sum(s.task_ms for s in spans)
            / (elapsed * 1000 * int(os.environ["SPARK_GRAFT_CPUS"])),
            "spark.task_ms_per_op": sum(s.task_ms for s in spans) / ops,
            "spark.gap_ms_per_op": sum(s.gap_ms for s in spans) / ops,
            "util.persisted_rdds_leaked": float(ctx.leak_max),
            "jvm.gc_ms_per_op": (gc1 - gc0) / ops,
            "trace.overhead_frac": ctx.tracer.overhead_s / elapsed,
            "mem.peak_rss_mb": rss_py + rss_jvm,
            "trace.cpu_ms_per_op": cpu_per_op,
            "trace.latency_mean_ms": wall["latency_mean_ms"],
            "trace.throughput_per_s": wall["throughput_per_s"],
            "run.failed_frac": out["failed"] / max(1, out["attempted"]),
            "run.steal_pct": steal_pct(ticks0, cpu_ticks()),
        })
        layers.update(out["layers"])
        metrics, units = layers, PER_LAYER
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark, then wait until the JVM and the Python workers it
    started have exited: the JVM exits when its stdin closes, its Python
    daemon when the JVM is gone."""
    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 60
    while any(_running(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    run_dir = os.path.join(root, ".perfbench_runs",
                           f"{args.workload}-{os.getpid()}")
    # before the package is imported: its session module reads them then
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    os.environ.pop("SPARK_MASTER", None)
    # the program under test is the checkout this benchmark sits in
    sys.path.insert(0, root)
    try:
        import sea_serpent_spark
    except ImportError as e:
        print(f"perfbench: sea_serpent_spark not found in {root}: {e}",
              file=sys.stderr)
        return 2
    pkg = os.path.dirname(os.path.abspath(sea_serpent_spark.__file__))
    if os.path.dirname(pkg) != root:
        print(f"perfbench: imported {pkg}, not the checkout's package",
              file=sys.stderr)
        return 2

    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
