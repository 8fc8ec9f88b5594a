"""Benchmark of the pyshepseg_spark engine.

    python3 perfbench/run.py --workload zonal_many --seed 42 \
        --seconds 26 --trace 0

Run from the repository root. One driver process runs Spark local[3];
one client issues ops back to back (a closed loop with one client).
Inputs come from --seed and are cached before timing starts; warm-up
ops then run until op time settles. Every op's output is checked.

--trace 0 prints the end-to-end metrics (setup_s, throughput_per_s,
latency_p50_s, peak_rss_mb); --trace 1 runs traced and untraced ops in
pairs and prints the per-layer metrics. The last stdout line is the
result object; the line before it holds the run's details (per-op
latencies, cpus, fixture sizes, host-noise stamp, errors).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from spans import (Tracer, fetch_counters, peak_rss_mb,  # noqa: E402
                   process_tree, reset_peak_rss, self_times, union_length)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "golden.json")
# one core fewer than the 4-vCPU host has: the driver JVM and the
# driver Python, which run every op's serial Spark job scheduling,
# then do not queue behind busy Python workers
CORES = 3
DRIVER_MEM = "2g"
# warm-up ops: at least, at most. The first op also forks the Python
# workers, and Spark's per-job driver code runs JIT-cold for two more.
WARM_OPS = {"default": (3, 4), "tiny": (2, 2)}
SETTLE = 0.10
GOLDEN_SEED = 42


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["zonal_many", "mosaic_join"])
    ap.add_argument("--seed", type=int, default=GOLDEN_SEED)
    ap.add_argument("--seconds", type=float, default=26.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["default", "tiny"],
                    default="default",
                    help="tiny: smoke-test input sizes")
    ap.add_argument("--golden", default=GOLDEN,
                    help="golden digests file (default: %(default)s)")
    ap.add_argument("--write-golden", action="store_true",
                    help="record this run's digests in --golden")
    return ap.parse_args(argv)


def start_spark(tmp):
    os.environ["TMPDIR"] = tmp
    # both the launcher JVM and the driver JVM: temp files and no
    # hsperfdata under /tmp, so the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from pyshepseg_spark.session import get_spark
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        # a pre-touched fixed-size heap keeps the JVM's share of
        # peak_rss_mb from following garbage-collection timing; JIT
        # tier 1 only (C1) settles Spark's per-job driver code within
        # 3 ops instead of 5 and spreads op times less, where C2 keeps
        # recompiling through a short run
        extra_conf={"spark.local.dir": tmp,
                    "spark.driver.extraJavaOptions":
                        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                        "-XX:TieredStopAtLevel=1",
                    "spark.sql.warehouse.dir":
                        os.path.join(tmp, "warehouse")})


def stop_spark(spark, pids):
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    live = [p for p in pids if p != os.getpid()]
    while live:
        live = [p for p in live if _alive(p)]
        if live and time.time() > deadline:
            for p in live:
                _signal(p, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.1)


def cpu_jiffies():
    """Host-wide CPU time counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before, after):
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _signal(pid, sig):
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass


def digest(pdf) -> list:
    """[rows, sum of row hashes over the non-float columns mod 2^64,
    sum of the float columns]. Both sums are order-independent; the
    float sum is compared with a relative tolerance, because Spark
    may add partial aggregates in another order on every run."""
    floats = sorted(c for c in pdf.columns
                    if pd.api.types.is_float_dtype(pdf[c]))
    exact = sorted(c for c in pdf.columns if c not in floats)
    h = pd.util.hash_pandas_object(pdf[exact], index=False)
    hsum = int(h.to_numpy(np.uint64).sum(dtype=np.uint64))
    fsum = float(pdf[floats].to_numpy(np.float64).sum()) if floats else 0.0
    return [len(pdf), hsum, fsum]


def digest_matches(got: list, want: list) -> bool:
    return got[:2] == want[:2] and \
        abs(got[2] - want[2]) <= 1e-9 * max(1.0, abs(want[2]))


class Runner:
    """Runs ops of one workload and keeps what a run reports."""

    def __init__(self, wl, golden):
        self.wl = wl
        self.golden = golden
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digests: dict = {}

    def op(self, i, fn):
        """Run fn(i), check its output; returns (seconds, ok)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(i)
            secs = time.perf_counter() - t
            errs = self.wl.check(i, out)
            got = {k: digest(v) for k, v in out.items()}
            self.digests.setdefault(str(i), got)
            want = (self.golden or {}).get(str(i), {})
            errs += [f"{k}: digest {got[k]} != golden {w}"
                     for k, w in want.items()
                     if not digest_matches(got[k], w)]
        except Exception:
            secs = time.perf_counter() - t
            errs = [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors.append(f"op on input {i}: " + "; ".join(errs))
        return secs, not errs

    def warm_up(self, lo, hi):
        """At least lo ops, then more until two in a row agree within
        SETTLE, up to hi."""
        times = []
        while len(times) < hi:
            times.append(self.op(0, self.wl.run)[0])
            if len(times) >= lo and \
                    abs(times[-1] - times[-2]) <= SETTLE * times[-2]:
                break
        return times


def load_golden(path, wl, seed):
    if seed != GOLDEN_SEED or not os.path.exists(path):
        return None
    with open(path) as f:
        entry = json.load(f).get(wl.name)
    if not entry or entry["config"] != wl.config:
        return None
    return entry["digests"]


def write_golden(path, wl, digests):
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[wl.name] = {"config": wl.config, "seed": GOLDEN_SEED,
                     "digests": digests}
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def window(runner, seconds):
    """Untraced ops, inputs cycled from 0, until `seconds` have
    passed. Returns (start, end, latencies, tiles done)."""
    wl = runner.wl
    lat, work, k = [], 0, 0
    start = time.time()
    while k == 0 or time.time() - start < seconds:
        i = k % wl.n_inputs
        secs, ok = runner.op(i, wl.run)
        lat.append(secs)
        work += wl.work(i) if ok else 0
        k += 1
    return start, time.time(), lat, work


def traced_window(runner, tracer, seconds):
    """(untraced, traced) op pairs on the same input, at least one
    full cycle of inputs. Returns paired latencies."""
    wl = runner.wl
    pairs, k = [], 0
    start = time.time()
    while k < wl.n_inputs or time.time() - start < seconds:
        i = k % wl.n_inputs
        plain = runner.op(i, wl.run)[0]
        traced = runner.op(
            i, lambda j: wl.run_traced(j, tracer, op=k))[0]
        pairs.append((i, plain, traced))
        k += 1
    return pairs


def layer_metrics(wl, tracer, counters, pairs):
    """Per-layer metrics of a traced run (see perfbench/README.md)."""
    from workloads import decode_mb_per_s, kmeans_fit_s, shepherd_mpx_per_s

    selft = self_times(tracer.spans)
    roles = {
        "operators.segment.explode_and_segment": "operators.segment.tiles_s",
        "operators.segment.segment_tiles": "operators.segment.tiles_s",
        "operators.segment.sequential_stitch_mapping":
            "operators.segment.stitch_s",
        "operators.segment.stitch": "operators.segment.stitch_s",
        "operators.zonal.segment_stats": "operators.zonal.stats_s",
        "operators.zonal.segment_sizes": "operators.zonal.stats_s",
    }
    exact = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
             "arrow_bytes_to_python", "arrow_bytes_from_python")
    summed = ("executor_run_s", "executor_cpu_s", "arrow_python_run_s")
    per_op: dict[int, dict] = {}
    for s in tracer.spans:
        r = per_op.setdefault(s["op"], {"intervals": [], **{
            k: 0 for k in exact + summed + tuple(set(roles.values()))},
            "fit.tasks": 0, "join.tasks": 0, "join.shuffle_write_bytes": 0})
        c = counters.get(s["id"], {})
        for k in exact + summed:
            r[k] += c.get(k, 0)
        r["intervals"] += c.get("stage_intervals", [])
        if s["parent"] is None:
            r["wall"] = s["end"] - s["start"]
        if s["name"] in roles:
            r[roles[s["name"]]] += selft[s["id"]]
        if s["name"] == "operators.segment.fit_global_centres":
            r["fit.tasks"] += c.get("tasks", 0)
        if s["name"] == "operators.spatial.point_in_segment":
            r["join.tasks"] += c.get("tasks", 0)
            r["join.shuffle_write_bytes"] += c.get("shuffle_write_bytes", 0)
    ops = [per_op[k] for k in sorted(per_op)]
    for r in ops:
        r["driver_gap_s"] = r["wall"] - union_length(r["intervals"])
    # exact counters: mean over the first cycle of inputs, which every
    # traced run covers, so two runs of one seed print equal numbers
    cycle = ops[:wl.n_inputs]

    def mean_cycle(k):
        return sum(r[k] for r in cycle) / len(cycle)

    def med(k):
        return statistics.median(r[k] for r in ops)

    m = {
        "kernels.shepherd.mpx_per_s": (
            shepherd_mpx_per_s(wl.kernel_tiles(), wl.cfg), "Mpx/s"),
        "kernels.kmeans.fit_s": (kmeans_fit_s(wl.kmeans_samples()), "s"),
        "sources.codec.decode_mb_per_s": (
            decode_mb_per_s(wl.payloads()), "MB/s"),
        "operators.segment.tiles_s": (med("operators.segment.tiles_s"), "s"),
        "operators.segment.stitch_s": (med("operators.segment.stitch_s"),
                                       "s"),
        "operators.zonal.stats_s": (med("operators.zonal.stats_s"), "s"),
        "operators.segment.fit_global_centres.tasks": (
            mean_cycle("fit.tasks"), "count"),
        "operators.spatial.point_in_segment.tasks": (
            mean_cycle("join.tasks"), "count"),
        "operators.spatial.point_in_segment.shuffle_write_bytes": (
            mean_cycle("join.shuffle_write_bytes"), "bytes"),
        "session.jobs": (mean_cycle("jobs"), "count"),
        "session.stages": (mean_cycle("stages"), "count"),
        "session.tasks": (mean_cycle("tasks"), "count"),
        "session.driver_gap_s": (med("driver_gap_s"), "s"),
        "session.executor_run_s": (med("executor_run_s"), "s"),
        "session.executor_cpu_s": (med("executor_cpu_s"), "s"),
        "session.shuffle_write_bytes": (mean_cycle("shuffle_write_bytes"),
                                        "bytes"),
        "session.spill_bytes": (mean_cycle("spill_bytes"), "bytes"),
        "session.arrow_python_run_s": (med("arrow_python_run_s"), "s"),
        "session.arrow_bytes_to_python": (
            mean_cycle("arrow_bytes_to_python"), "bytes"),
        "session.arrow_bytes_from_python": (
            mean_cycle("arrow_bytes_from_python"), "bytes"),
        "trace.overhead_s": (
            statistics.median(t for _, _, t in pairs)
            - statistics.median(p for _, p, _ in pairs), "s"),
    }
    return m


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyshepseg_spark",
                                       "__init__.py")):
        print(f"perfbench: the engine package pyshepseg_spark is not "
              f"under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    spark = None
    try:
        spark = start_spark(tmp)
        t_spark = time.time()
        from workloads import WORKLOADS, shepherd_mpx_per_s

        wl = WORKLOADS[args.workload](spark, args.seed, args.scale)
        t_fixture = time.time()
        runner = Runner(wl, load_golden(args.golden, wl, args.seed))
        detail = {"workload": wl.name, "seed": args.seed,
                  "trace": args.trace, "cores": CORES,
                  "cpus": os.cpu_count(),
                  "cpus_usable": len(os.sched_getaffinity(0)),
                  "fixture": wl.fixture_sizes(),
                  "golden_checked": runner.golden is not None}
        # the first host-noise stamp comes before the warm-up, so that
        # the warm-up ops, not the stamp, run just before the window
        noise_tiles = wl.kernel_tiles()[:4]
        noise = [shepherd_mpx_per_s(noise_tiles, wl.cfg)]
        t_stamp = time.time()
        detail["warmup_s"] = runner.warm_up(*WARM_OPS[args.scale])
        detail["setup_phases_s"] = {"spark": t_spark - T_START,
                                    "fixture": t_fixture - t_spark,
                                    "stamp": t_stamp - t_fixture,
                                    "warmup": time.time() - t_stamp}
        jiffies = cpu_jiffies()
        if args.trace == 0:
            pids = process_tree()
            reset_peak_rss(pids)
            start, end, lat, work = window(runner, args.seconds)
            rss = peak_rss_mb(process_tree())
            noise.append(shepherd_mpx_per_s(noise_tiles, wl.cfg))
            detail["op_latencies_s"] = lat
            metrics = {
                "setup_s": (start - T_START, "s"),
                "throughput_per_s": (work / (end - start), "tiles/s"),
                "latency_p50_s": (statistics.median(lat), "s"),
                "peak_rss_mb": (rss, "MB"),
            }
        else:
            tracer = Tracer(spark.sparkContext)
            pairs = traced_window(runner, tracer, args.seconds)
            noise.append(shepherd_mpx_per_s(noise_tiles, wl.cfg))
            counters = fetch_counters(spark.sparkContext)
            metrics = layer_metrics(wl, tracer, counters, pairs)
            detail["op_pairs_s"] = pairs
            detail["spans"] = [
                {**s, **{k: v for k, v in counters.get(s["id"], {}).items()
                         if k != "stage_intervals"}} for s in tracer.spans]
        detail["noise_shepherd_mpx_per_s"] = noise
        detail["host_steal_share"] = steal_share(jiffies, cpu_jiffies())
        detail["error_rate"] = runner.failed / runner.attempted
        detail["errors"] = runner.errors[:5]
        if args.write_golden:
            write_golden(args.golden, wl, runner.digests)
    finally:
        if spark is not None:
            stop_spark(spark, process_tree())
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):     # other runs may use it
            os.rmdir(os.path.dirname(tmp))
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
