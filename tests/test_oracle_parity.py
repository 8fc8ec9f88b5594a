"""Local mirror of the driver's correctness gate: every queries()
entry with an oracle must match DuckDB on row count, column names,
and (order-insensitively) values, at sf0.001."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import requires_reference

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF_DIR}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns),
                           ignore_index=True)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())
# the VALUES oracles that replay the reference's stitch: their cases
# are skipped before the query runs where the checkout is absent
_REFERENCE_CASE = requires_reference(
    "test_stitched_mosaic_regression_anchor (the stitched mosaics, an "
    "engine regression anchor, not reference parity), "
    "test_zonal_stats_match_numpy, test_point_in_segment_exact")
ORACLE_CASES = [pytest.param(k, marks=_REFERENCE_CASE)
                if k in entrymod.REFERENCE_ORACLE_KEYS else k
                for k in ORACLE_KEYS]


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    got = _normalize(q(spark, SF_DIR).toPandas())
    want = _normalize(ddb.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != "
        f"{list(want.columns)}")
    assert len(got) == len(want), (
        f"{name}: rows {len(got)} != {len(want)}")
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or \
                np.issubdtype(np.asarray(b).dtype, np.floating):
            assert np.allclose(a.astype(float), b.astype(float),
                               atol=1e-4, equal_nan=True), \
                f"{name}.{c} float mismatch"
        else:
            assert (a.astype(str) == b.astype(str)).all(), \
                f"{name}.{c} mismatch"


def test_every_oracle_has_query():
    qs = entrymod.queries()
    for k in entrymod.oracle_sql():
        assert k in qs


def test_every_query_has_oracle():
    """Round 3 closed the gap: EVERY contract query now carries a
    DuckDB oracle (the raster flagships via reference-replay VALUES
    literals), and the driver enumerates at most 50 queries — stay
    at exactly 50."""
    qs = entrymod.queries()
    assert set(qs) == set(entrymod.oracle_sql())
    assert len(qs) == 50
