"""Repository benchmark: one closed-loop client against one local Spark session.

    python3 perfbench/run.py --workload catalog_small --seed 1 \
        --seconds 1 --trace 0

Run from the repository root.  The run generates (or reuses) the seed's
input files under ``.perfbench_cache/``, starts Spark at ``local[nproc]``
without the UI, sets up several times and reports the median set-up time,
then runs the workload's operation back to back for ``--seconds`` seconds,
checking every result.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1`` the
per-layer ones, from span wrappers on every other operation, a Spark
event log and the difference between traced and untraced operations.
Everything the run writes stays under ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"

# Set-up rounds, each a session start plus one warm-up op; setup_s is
# their median.  Round 1 also launches the JVM.
SETUP_ROUNDS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class TreeRssSampler:
    """Samples the summed RSS of this process and its descendants.

    Reads ``/proc`` from a thread of this process, so it sees the JVM and
    the Python workers as the operating system does.
    """

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(entry)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * self._page
        me = os.getpid()
        total = 0
        for pid in rss:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += rss[pid]
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def start_session(cores: int, event_dir: Path | None):
    from spark_df_profiling_spark.session import build_session
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": str(CACHE / "spark-local"),
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
        # Lower JIT thresholds: with the defaults the driver JVM needs
        # five ops to settle (llm_ingest: 35, 12, 8.2, 6.8, 6.4 s on
        # 4 cores); at 0.05 it settles after two (22, 7.8, 6.4 s) at the
        # same steady-state latency, so set-up and window fit a run.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={CACHE / 'tmp'} -XX:-UsePerfData "
            "-XX:CompileThresholdScaling=0.05",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir.as_uri()
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = build_session(app_name="perfbench", master=f"local[{cores}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait until it has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail_percentile(lat: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it, and its value."""
    if len(lat) < 11:
        return None
    s = sorted(lat)
    idx = len(s) - 11
    return 100.0 * (idx + 1) / len(s), s[idx]


def run(args) -> dict:
    from perfbench import inputs, trace
    from perfbench.workloads import WORKLOADS, CheckFailed

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    cores = nproc()

    for sub in ("tmp", "spark-local", "warehouse"):
        (CACHE / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    # spark-submit first runs a short-lived JVM that builds the driver's
    # command line; keep its perf data and temp files in the cache too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={CACHE / 'tmp'}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    t = time.perf_counter()
    data = inputs.ensure_inputs(CACHE, args.seed)
    print(f"inputs: {data.name} ready in {time.perf_counter() - t:.2f}s",
          flush=True)

    scratch = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    event_dir = scratch / "eventlog" if args.trace else None
    if event_dir:
        event_dir.mkdir()

    tracer = trace.Tracer()
    wl = WORKLOADS[args.workload](data, scratch, args.seed, cores, tracer)
    failures: list[str] = []

    def one_op(spark, i: int, group: str) -> bool:
        spark.sparkContext.setJobGroup(group, f"perfbench op {i}")
        try:
            wl.run_op(i)
            return True
        except CheckFailed as e:
            failures.append(f"op {i}: check failed: {e}")
        except Exception:
            failures.append(f"op {i}: {traceback.format_exc()}")
        return False

    spark = None
    try:
        with TreeRssSampler() as rss:
            # ---- set-up: session start + one warm-up op, several times
            setup_times = []
            warm_failed = 0
            for r in range(SETUP_ROUNDS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_session(cores, event_dir)
                wl.prepare(spark)
                warm_failed += not one_op(spark, r, f"perfbench-warmup-{r}")
                setup_times.append(time.perf_counter() - t0)

            # ---- timed window: closed loop, one client
            wl.reset()
            lat: list[float] = []
            traced_flags: list[bool] = []
            groups: list[str] = []
            ops: list[int] = []
            failed = 0
            start = time.perf_counter()
            while (time.perf_counter() - start < args.seconds
                   or len(lat) < (2 if args.trace else 1)):
                i = SETUP_ROUNDS + len(lat)
                traced = bool(args.trace) and len(lat) % 2 == 1
                undo = trace.install(tracer) if traced else None
                tracer.enabled, tracer.op = traced, i
                t0 = time.perf_counter()
                try:
                    ok = one_op(spark, i, f"perfbench-op-{i}")
                finally:
                    lat.append(time.perf_counter() - t0)
                    tracer.enabled = False
                    if undo:
                        undo()
                failed += not ok
                traced_flags.append(traced)
                groups.append(f"perfbench-op-{i}")
                ops.append(i)
            window = time.perf_counter() - start
            storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            cached_mb = sum(info.memSize() for info in storage) / 2**20
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)

    tail = tail_percentile(lat)
    summary = {
        "setup_s": statistics.median(setup_times),
        "op_p50_s": statistics.median(lat),
        "rows_per_s": wl.rows_per_op * len(lat) / window,
    }
    print(f"workload {args.workload}: {len(lat)} ops in {window:.2f}s, "
          f"{failed} failed (ops_failed_ratio {failed / len(lat):.3f}), "
          f"setup rounds {[round(s, 3) for s in setup_times]}, "
          f"driver_rss_peak_mb {rss.peak_bytes / 2**20:.0f}, nproc {cores}")
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    if tail:
        print(f"op_tail_s: p{tail[0]:.1f} = {tail[1]:.4f}s "
              f"over {len(lat)} ops")
    else:
        print(f"op_tail_s: n/a, {len(lat)} ops < 11")

    metrics = summary
    if args.trace:
        traced_ops = [i for i, f in zip(ops, traced_flags) if f]
        plain = [x for x, f in zip(lat, traced_flags) if not f]
        traced_lat = [x for x, f in zip(lat, traced_flags) if f]
        groups_stats = trace.parse_event_log(event_dir)
        metrics = {
            **trace.span_metrics(tracer, traced_ops),
            **trace.count_metrics(tracer, traced_ops, [
                "sources.probe_calls", "wide_agg.chunks", "wide_agg.exprs",
                "wide_agg.gate_wait_s", "frequency.calls",
                "correlation.calls", "dedup.candidate_pairs"]),
            **trace.spark_metrics(groups_stats, groups, lat,
                                  wl.input_bytes_per_op, cores),
            "storage.cached_mb_after": cached_mb,
            "trace.overhead_s": (statistics.median(traced_lat)
                                 - statistics.median(plain)),
        }
        per_op_jobs, state_ratio = [], []
        for i in traced_ops:
            c = tracer.counts[i]
            jobs = groups_stats.get(f"perfbench-op-{i}", {}).get("jobs", 0)
            per_op_jobs.append(jobs / c["profile.calls"]
                               if c["profile.calls"] else 0.0)
            state_ratio.append(c["incremental.state_bytes"]
                               / c["incremental.batch_bytes"]
                               if c["incremental.batch_bytes"] else 0.0)
        metrics["profile.jobs"] = statistics.median(per_op_jobs)
        metrics["incremental.state_bytes_per_input_byte"] = \
            statistics.median(state_ratio)
        spans_out = CACHE / "traces"
        spans_out.mkdir(exist_ok=True)
        tracer.dump(spans_out / f"{args.workload}-s{args.seed}.jsonl")

    shutil.rmtree(scratch, ignore_errors=True)
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    return {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]}
                    for n in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401
        import spark_df_profiling_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2
    if not (ROOT / "BENCHMARK.json").is_file():
        print("perfbench: BENCHMARK.json not found", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
