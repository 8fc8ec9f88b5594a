"""Spark job budget per pipeline operator.

Each call runs under its own job group; the jobs Spark records for
that group are counted through the status tracker and must not exceed
the operator's budget. Driver-side job overhead dominates the small
pipelines (see ROADMAP), so a change that adds an eager action, an
extra barrier or an unplanned broadcast shows up here as a count, not
as a timing that noise can hide.

The budgets are the counts measured on this fixture (tests/conftest.py:
3 images of 256^2, tile 128, overlap 32, ``local[8]``, and for
``segment_images_tiled_shared`` one centre matrix fitted over them
by ``fit_global_centres`` outside the counted call; for
``duplicate_groups`` a three-pair frame with one chain and one lone
pair, with integer and with string ids; for ``embedding_near_dups``
the sf0.001 embeddings table at threshold 0.9, 16 bits, 4 bands; for
the similarity operators the same table, as corpus and as the query
side's ``vec_id < 8`` rows, k=5, ``ivf_topk`` probing all 8 cells of
centroids trained outside the counted call, ``cosine_all_pairs_ids``
at threshold 0.4). They may only go down: lower a budget when a
change removes jobs.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyshepseg_spark.operators.dedup import (duplicate_groups,
                                             embedding_near_dups)
from pyshepseg_spark.operators.segment import (fit_global_centres,
                                               segment_images_tiled)
from pyshepseg_spark.operators.similarity import (brute_force_topk,
                                                  cosine_all_pairs_ids,
                                                  ivf_topk,
                                                  train_ivf_centroids)
from pyshepseg_spark.operators.spatial import point_in_segment
from pyshepseg_spark.operators.zonal import (segment_sizes,
                                             segment_stats_tiled)
from pyshepseg_spark.sources.imagegen import caption_points

BUDGETS = {
    "fit_global_centres": 3,
    "segment_images_tiled": 6,
    "segment_images_tiled_shared": 7,
    "point_in_segment": 10,
    "segment_sizes": 2,
    "segment_stats_tiled": 2,
    "segment_stats_tiled_nodata": 2,
    "duplicate_groups": 1,
    "duplicate_groups_string": 10,
    "embedding_near_dups": 5,
    "brute_force_topk": 4,
    "ivf_topk": 4,
    "cosine_all_pairs_ids": 5,
}


def _run(df):
    df.write.format("noop").mode("overwrite").save()


@pytest.fixture(scope="module")
def centroids(spark):
    return train_ivf_centroids(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        n_cells=8)


@pytest.fixture(scope="module")
def centres(images_fixture, cfg):
    return fit_global_centres(images_fixture[2], cfg)


def _calls(images_fixture, cfg, final_tiles, centroids, centres):
    pdf, _, images = images_fixture
    spark = images.sparkSession

    def points():
        pts = pd.concat([caption_points(r.image_id, r.caption, r.w, r.h)
                         for r in pdf.itertuples()], ignore_index=True)
        return spark.createDataFrame(pts)

    # read outside the counted call: its schema-inference job is not
    # the operator's
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 8").withColumnRenamed("vec_id", "q_id")

    def pairs(a=(1, 2, 10), b=(2, 3, 11)):
        return spark.createDataFrame(pd.DataFrame({"a": a, "b": b}))

    return {
        "fit_global_centres": lambda: fit_global_centres(images, cfg),
        "segment_images_tiled":
            lambda: _run(segment_images_tiled(images, cfg)[0]),
        # the giant-raster call of perfbench's mosaic_join
        "segment_images_tiled_shared": lambda: _run(segment_images_tiled(
            images, cfg, centres=centres, keep_pixels=False)[0]),
        "point_in_segment": lambda: _run(point_in_segment(
            points(), final_tiles, cfg.tile_size, cfg.overlap)),
        "segment_sizes": lambda: _run(segment_sizes(final_tiles)),
        "segment_stats_tiled":
            lambda: _run(segment_stats_tiled(images, cfg)),
        "segment_stats_tiled_nodata": lambda: _run(segment_stats_tiled(
            images, cfg, with_nodata=True)),
        "duplicate_groups": lambda: _run(duplicate_groups(pairs())),
        "duplicate_groups_string": lambda: _run(duplicate_groups(pairs(
            ["https://a.example/1", "https://b.example/2",
             "https://x.example/9"],
            ["https://b.example/2", "https://c.example/3",
             "https://y.example/8"]))),
        "embedding_near_dups": lambda: _run(embedding_near_dups(
            emb, threshold=0.9, bits=16, bands=4)),
        "brute_force_topk": lambda: _run(brute_force_topk(
            queries, emb, k=5)),
        "ivf_topk": lambda: _run(ivf_topk(
            queries, emb, centroids, k=5, nprobe=8)),
        "cosine_all_pairs_ids": lambda: _run(cosine_all_pairs_ids(
            emb, threshold=0.4)),
    }


def count_jobs(sc, group, action):
    """Jobs launched by ``action()`` under a fresh job group."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("op", list(BUDGETS))
def test_operator_job_budget(spark, images_fixture, cfg, final_tiles,
                             centroids, centres, op):
    call = _calls(images_fixture, cfg, final_tiles, centroids,
                  centres)[op]
    n = count_jobs(spark.sparkContext, f"job-budget-{op}", call)
    assert n <= BUDGETS[op], f"{op} ran {n} jobs, budget {BUDGETS[op]}"
