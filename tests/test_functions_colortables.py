import pandas as pd

from pyshepseg_spark.operators.colortables import (colour_ramp_from_stat,
                                                   random_colour_table)


def test_colour_tables(spark):
    segs = spark.createDataFrame(pd.DataFrame({
        "image_id": ["a"] * 5, "seg_id": range(1, 6),
        "mean_val": [10.0, 20.0, 30.0, 40.0, 1000.0]}))
    rc = random_colour_table(segs).toPandas()
    assert rc[["red", "green", "blue"]].min().min() >= 0
    assert rc[["red", "green", "blue"]].max().max() <= 255
    rc2 = random_colour_table(segs).toPandas()
    assert rc.equals(rc2)  # deterministic
    ramp = colour_ramp_from_stat(segs, "mean_val").toPandas()
    assert len(ramp) == 5
    # stretched: low stat -> blue-ish, high stat -> red-ish
    lo = ramp.sort_values("seg_id").iloc[0]
    hi = ramp.sort_values("seg_id").iloc[-1]
    assert lo.blue > lo.red and hi.red > hi.blue
