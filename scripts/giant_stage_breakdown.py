#!/usr/bin/env python
"""Per-stage wall-clock split of the pre-tiled giant-mosaic path.

The end-to-end giant_mosaic_bench answers "does it scale"; this one
answers "which stage is the residual" by forcing each phase in its
own job at a given parallelism level:

  kernel+ckpt  — segment_tiles over the tiles scan, materialized by
                 a localCheckpoint like the stitch's own (fat rows:
                 pixels, segtile, strips)
  luts         — sequential_stitch_mapping over the checkpointed
                 rows: one lut per tile; the per-image sequential
                 replay is the Amdahl term
  paint        — paint_final_tiles + count: the checkpointed rows
                 joined to their luts

The phase boundaries add one extra materialization vs the fused
end-to-end run, so the SUM here can exceed the end-to-end time; the
value is the per-stage ratio at each core count, not the total.

Usage: python scripts/giant_stage_breakdown.py [size] [cores]
Never run concurrently with other Spark work.
"""

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
    paint_final_tiles, segment_tiles, sequential_stitch_mapping)
from pyshepseg_spark.operators.skew import spread_small_scan

spark = get_spark(app_name="giantstages", master="local[{cores}]",
                  shuffle_partitions={cores})
cfg = SegConfig(img_null_val=65535, four_connected=False,
                min_segment_size=50, tile_size=256, overlap=64)
tiles = spread_small_scan(spark.read.parquet({path!r}))

for rep in range({reps} + 1):
    t = {{}}
    t0 = time.time()
    st = segment_tiles(tiles, None, cfg).localCheckpoint()
    t["kernel_ckpt"] = round(time.time() - t0, 2)

    t0 = time.time()
    luts = sequential_stitch_mapping(st, cfg.overlap).localCheckpoint()
    n_luts = luts.count()
    t["luts"] = round(time.time() - t0, 2)

    t0 = time.time()
    n = paint_final_tiles(st, luts, cfg.overlap).count()
    t["paint"] = round(time.time() - t0, 2)
    if rep > 0:
        print(json.dumps({{"cores": {cores},
                           "rep": rep, "rows": n,
                           "lut_rows": n_luts, **t}}), flush=True)
spark.stop()
"""

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.operators.segment import SegConfig
from pyshepseg_spark.operators.tiling import explode_tiles
from pyshepseg_spark.sources.imagegen import images_spark_df
spark = get_spark(app_name="gen", master="local[8]",
                  shuffle_partitions=8)
cfg = SegConfig(img_null_val=65535, four_connected=False,
                min_segment_size=50, tile_size=256, overlap=64)
images_spark_df(spark, 1, size={size}, fmt="raw_u16",
                num_partitions=1) \
    .write.mode("overwrite").parquet({img_path!r})
images = spark.read.parquet({img_path!r})
explode_tiles(images, cfg.tile_size, cfg.overlap, fit_cfg=cfg) \
    .repartition(64).write.mode("overwrite").parquet({path!r})
spark.stop()
"""


def run(code):
    p = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(p.returncode)
    return [json.loads(ln) for ln in p.stdout.splitlines()
            if ln.startswith("{")]


def main():
    size = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    cores_list = [int(c) for c in (
        sys.argv[2] if len(sys.argv) > 2 else "2,8,32").split(",")]
    reps = int(os.environ.get("GIANT_STAGE_REPS", "2"))
    # r06: reuse a giant_mosaic_bench direct-tile fixture
    # (GIANT_DATA_DIR/tiles_<size>.parquet) when present — the
    # single-giant-row GEN path cannot build >= 5k-tile fixtures
    # (r5 blocker; see imagegen.giant_tile_rows)
    data_dir = os.environ.get("GIANT_DATA_DIR")
    pre = (os.path.join(data_dir, f"tiles_{size}.parquet")
           if data_dir else None)
    with tempfile.TemporaryDirectory() as td:
        img_path = os.path.join(td, "giant.parquet")
        if pre and os.path.exists(os.path.join(pre, "_SUCCESS")):
            path = pre
        else:
            path = os.path.join(td, "tiles.parquet")
            run(GEN.format(repo=REPO, size=size, img_path=img_path,
                           path=path))
        for cores in cores_list:
            rows = run(RUNNER.format(repo=REPO, path=path,
                                     cores=cores, reps=reps))
            for r in rows:
                print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
