"""Giant-single-mosaic evidence: intra-image parallelism.

The many-small-images flagship parallelizes across images; the other
scale regime is ONE raster too big for a worker (the reference's own
tiled use case). There the kernel and paint phases parallelize
across tiles, while the reference-exact stitch replays the per-image
recode chain in one O(strips) task.

This bench times the full pipeline (kernel + stitch + paint) for one
2048x2048x3 raster (100 tiles at 256/64) at two parallelism levels —
the numbers PERF.md cites for the giant-mosaic story. Result keys
keep the ``sequential`` prefix so they compare with earlier rounds.

Usage: python scripts/giant_mosaic_bench.py [size] [rounds]
Configs are interleaved within rounds (see main) so shared-host
capacity drift cancels; never run concurrently with scaling_bench
or any other Spark work.
"""

import contextlib
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.operators.segment import (SegConfig,
    fit_global_centres, segment_images_tiled)

spark = get_spark(app_name="giant", master="local[{cores}]",
                  shuffle_partitions={cores})
images = spark.read.parquet({path!r})
cfg = SegConfig(img_null_val=65535, four_connected=False,
                min_segment_size=50, tile_size=256, overlap=64)
# giant-single-raster protocol: ONE global sample fit (the
# reference's own prepare phase), shared by every tile kernel
t0 = time.time()
centres = fit_global_centres(images, cfg)
fit_sec = round(time.time() - t0, 2)
# warmup (JVM + python workers), then timed reps
for rep in range({reps} + {warmups}):
    t0 = time.time()
    final, _, _ = segment_images_tiled(images, cfg, centres=centres)
    n = final.count()
    dt = time.time() - t0
    if rep >= {warmups}:
        print(json.dumps({{"cores": {cores},
                           "rep": rep, "sec": round(dt, 2),
                           "fit_sec": fit_sec,
                           "rows": n}}), flush=True)
spark.stop()
"""

TILES_GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.operators.segment import SegConfig
from pyshepseg_spark.operators.tiling import explode_tiles
spark = get_spark(app_name="tilegen", master="local[8]",
                  shuffle_partitions=8)
cfg = SegConfig(img_null_val=65535, four_connected=False,
                min_segment_size=50, tile_size=256, overlap=64)
images = spark.read.parquet({img_path!r})
# pre-tiled table: the 100 TB shape — a giant raster lands in
# storage as tile rows (the distributed analogue of the reference's
# GDAL windowed reads), with the per-image fit fused into tiling
explode_tiles(images, cfg.tile_size, cfg.overlap, fit_cfg=cfg)     .repartition(64).write.mode("overwrite").parquet({path!r})
spark.stop()
print("TILES OK")
"""

TILES_RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.operators.segment import (SegConfig,
    segment_tiles, stitch)
from pyshepseg_spark.operators.skew import spread_small_scan
spark = get_spark(app_name="gianttiles", master="local[{cores}]",
                  shuffle_partitions={cores})
# production caller pattern (PERF.md r4): direct segment_tiles
# callers spread the CPU-heavy tiles scan; file-packing otherwise
# leaves uneven byte-based splits feeding the kernel stage
tiles = spread_small_scan(spark.read.parquet({path!r}))
cfg = SegConfig(img_null_val=65535, four_connected=False,
                min_segment_size=50, tile_size=256, overlap=64)
for rep in range({reps} + {warmups}):
    t0 = time.time()
    final = stitch(segment_tiles(tiles, None, cfg), cfg)
    n = final.count()
    dt = time.time() - t0
    if rep >= {warmups}:
        print(json.dumps({{"cores": {cores},
                           "rep": rep, "sec": round(dt, 2),
                           "rows": n}}), flush=True)
spark.stop()
"""

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.sources.imagegen import images_spark_df
spark = get_spark(app_name="gen", master="local[8]",
                  shuffle_partitions=8)
images_spark_df(spark, 1, size={size}, fmt="raw_u16",
                num_partitions=1) \
    .write.mode("overwrite").parquet({path!r})
spark.stop()
"""

# r06: GIANT_DIRECT_TILES=1 generates the pre-tiled table per-tile
# (imagegen.giant_tile_rows — bitwise the explode_tiles output,
# parallel across tiles) WITHOUT the single-giant-row image parquet
# whose one-task explode blocked the >= 5k-tile crossover run in r5.
TILES_DIRECT_GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.sources.imagegen import giant_tile_rows
spark = get_spark(app_name="tilegen_direct", master="local[32]",
                  shuffle_partitions=32)
giant_tile_rows(spark, {size}, tile_size=256, overlap=64) \
    .write.mode("overwrite").parquet({path!r})
spark.stop()
print("TILES OK")
"""


def run(code):
    p = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(p.returncode)
    return [json.loads(ln) for ln in p.stdout.splitlines()
            if ln.startswith("{")]


def control_burn():
    """No-Spark fixed-size kernel burn (bench.control_burn): ~2 s
    quiet; a round whose burn is far above that was taken in a noisy
    window and its numbers should be discounted."""
    code = ("import sys; sys.path.insert(0, {repo!r}); "
            "from bench import control_burn; "
            "print(control_burn())").format(repo=REPO)
    p = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines()
             if ln.replace(".", "").isdigit()]
    return float(lines[-1]) if lines else -1.0


def main():
    """Interleaved-round structure (the scaling_bench discipline):
    shared-host capacity drifts on ~10-min scales, so timing each
    config's reps back-to-back confounds config with window. Instead
    each ROUND runs every cores config once, adjacent in
    time (fresh JVM each, GIANT_WARMUPS in-JVM warmup reps + one
    timed rep);
    efficiencies are computed WITHIN each round and the median
    across rounds is reported, with a per-round control burn so a
    noisy round is self-evident."""
    size = int(sys.argv[1]) if len(sys.argv) > 1 else 2048
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    # r5 stage data showed ONE in-JVM warmup rep leaves JIT
    # incomplete (mapping stage 31 s on rep 1 vs 7.3 s steady);
    # default 2, tunable for quick scans
    warmups = int(os.environ.get("GIANT_WARMUPS", "2"))
    # GIANT_DATA_DIR: persistent fixture dir — generation (minutes
    # of single-threaded voronoi at 16384^2) is skipped when the
    # parquet for this size already exists, so noisy-window retries
    # only pay for the timed runs
    data_dir = os.environ.get("GIANT_DATA_DIR")
    ctx = (tempfile.TemporaryDirectory() if not data_dir
           else contextlib.nullcontext(data_dir))
    direct = bool(os.environ.get("GIANT_DIRECT_TILES"))
    with ctx as td:
        os.makedirs(td, exist_ok=True)
        path = os.path.join(td, f"giant_{size}.parquet")
        if not direct and not os.path.exists(
                os.path.join(path, "_SUCCESS")):
            run(GEN.format(repo=REPO, size=size, path=path))
        tiles_path = os.path.join(td, f"tiles_{size}.parquet")
        if direct:
            # per-tile generation: no giant-single-row image parquet
            if not os.path.exists(os.path.join(tiles_path,
                                               "_SUCCESS")):
                run(TILES_DIRECT_GEN.format(repo=REPO, size=size,
                                            path=tiles_path))
        elif os.environ.get("GIANT_PRETILED") and not os.path.exists(
                os.path.join(tiles_path, "_SUCCESS")):
            run(TILES_GEN.format(repo=REPO, img_path=path,
                                 path=tiles_path))
        cores_list = [int(c) for c in os.environ.get(
            "GIANT_CORES", "8,32").split(",")]
        pretiled = direct or bool(os.environ.get("GIANT_PRETILED"))
        times = {}     # cores -> [sec per round]
        burns = []
        for rnd in range(rounds):
            burns.append(control_burn())
            for cores in cores_list:
                tmpl = TILES_RUNNER if pretiled else RUNNER
                rows = run(tmpl.format(
                    repo=REPO,
                    path=tiles_path if pretiled else path,
                    cores=cores, reps=1, warmups=warmups))
                sec = rows[-1]["sec"]
                times.setdefault(cores, []).append(sec)
                print(f"round {rnd} sequential@{cores}: {sec}s "
                      f"(burn {burns[-1]})", flush=True)
        out = {}
        for cores, ts in times.items():
            srt = sorted(ts)
            out[f"sequential@{cores}"] = srt[len(srt) // 2]
            out[f"sequential@{cores}_rounds"] = ts
        for lo, hi in zip(cores_list, cores_list[1:]):
            effs = sorted(times[lo][r] / times[hi][r] / (hi / lo)
                          for r in range(rounds))
            out[f"sequential_{lo}to{hi}_eff"] = round(
                effs[len(effs) // 2], 3)
            out[f"sequential_{lo}to{hi}_eff_rounds"] = [
                round(e, 3) for e in effs]
        print(json.dumps({"size": size, "tile": 256, "overlap": 64,
                          "rounds": rounds,
                          "control_burns": burns, **out}))


if __name__ == "__main__":
    main()
