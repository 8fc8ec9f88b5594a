"""Spark job budget per pipeline operator.

Each call runs under its own job group; the jobs Spark records for
that group are counted through the status tracker and must not exceed
the operator's budget. Driver-side job overhead dominates the small
pipelines (see ROADMAP), so a change that adds an eager action, an
extra barrier or an unplanned broadcast shows up here as a count, not
as a timing that noise can hide.

The budgets are the counts measured on this fixture (tests/conftest.py:
3 images of 256^2, tile 128, overlap 32, ``local[8]``; for
``duplicate_groups`` a three-pair frame with one chain and one lone
pair, with integer and with string ids; for ``embedding_near_dups``
the sf0.001 embeddings table at threshold 0.9, 16 bits, 4 bands).
They may only go down: lower a budget when a change removes jobs.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyshepseg_spark.operators.dedup import (duplicate_groups,
                                             embedding_near_dups)
from pyshepseg_spark.operators.segment import (fit_global_centres,
                                               segment_images_tiled)
from pyshepseg_spark.operators.spatial import point_in_segment
from pyshepseg_spark.operators.zonal import (segment_sizes,
                                             segment_stats_tiled)
from pyshepseg_spark.sources.imagegen import caption_points

BUDGETS = {
    "fit_global_centres": 3,
    "segment_images_tiled": 11,
    "point_in_segment": 10,
    "segment_sizes": 2,
    "segment_stats_tiled": 4,
    "duplicate_groups": 1,
    "duplicate_groups_string": 10,
    "embedding_near_dups": 5,
}


def _run(df):
    df.write.format("noop").mode("overwrite").save()


def _calls(images_fixture, cfg, final_tiles):
    pdf, _, images = images_fixture
    spark = images.sparkSession

    def points():
        pts = pd.concat([caption_points(r.image_id, r.caption, r.w, r.h)
                         for r in pdf.itertuples()], ignore_index=True)
        return spark.createDataFrame(pts)

    # read outside the counted call: its schema-inference job is not
    # the operator's
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def pairs(a=(1, 2, 10), b=(2, 3, 11)):
        return spark.createDataFrame(pd.DataFrame({"a": a, "b": b}))

    return {
        "fit_global_centres": lambda: fit_global_centres(images, cfg),
        "segment_images_tiled":
            lambda: _run(segment_images_tiled(images, cfg)[0]),
        "point_in_segment": lambda: _run(point_in_segment(
            points(), final_tiles, cfg.tile_size, cfg.overlap)),
        "segment_sizes": lambda: _run(segment_sizes(final_tiles)),
        "segment_stats_tiled":
            lambda: _run(segment_stats_tiled(images, cfg)),
        "duplicate_groups": lambda: _run(duplicate_groups(pairs())),
        "duplicate_groups_string": lambda: _run(duplicate_groups(pairs(
            ["https://a.example/1", "https://b.example/2",
             "https://x.example/9"],
            ["https://b.example/2", "https://c.example/3",
             "https://y.example/8"]))),
        "embedding_near_dups": lambda: _run(embedding_near_dups(
            emb, threshold=0.9, bits=16, bands=4)),
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
def test_operator_job_budget(spark, images_fixture, cfg, final_tiles, op):
    call = _calls(images_fixture, cfg, final_tiles)[op]
    n = count_jobs(spark.sparkContext, f"job-budget-{op}", call)
    assert n <= BUDGETS[op], f"{op} ran {n} jobs, budget {BUDGETS[op]}"
