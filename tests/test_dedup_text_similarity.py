"""Training-data pipeline operators: dedup, text analysis,
similarity search — over the driver testdata tables plus crafted
cases."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyshepseg_spark.operators.dedup import (embedding_near_dups,
                                             exact_duplicates,
                                             minhash_lsh_pairs,
                                             minhash_signatures_md5,
                                             ngram_jaccard_pairs,
                                             simhash_md5,
                                             simhash_near_dups)
from pyshepseg_spark.operators.similarity import (brute_force_topk,
                                                  ivf_topk,
                                                  train_ivf_centroids)
from pyshepseg_spark.operators.text import (fingerprint_md5,
                                            language_id, quality_score,
                                            token_counts)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_exact_duplicates(spark, docs):
    # plant exact dups by unioning a copy with new ids
    n = docs.count()
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + n)
    groups = exact_duplicates(docs.union(dup)).collect()
    assert len(groups) == 5
    for g in groups:
        assert g["n_docs"] == 2
        assert g["doc_ids"][0] + n == g["doc_ids"][1]


def test_minhash_estimates_jaccard(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep dark forest tonight") * 3
    near = base.replace("dark", "cold")
    far = ("completely different words everywhere nothing shared "
           "at all zebra piano quantum") * 3
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": [base, near, far]})
    df = spark.createDataFrame(pdf)
    sigs = minhash_signatures_md5(df, num_hashes=64, k=3)
    pairs = minhash_lsh_pairs(sigs, num_hashes=64, bands=16).toPandas()
    d = {(r.a, r.b): r.est_jaccard for r in pairs.itertuples()}
    assert d.get((1, 2), 0) > 0.5       # near-dups bucket together
    assert d.get((1, 3), 0) < 0.2 or (1, 3) not in d
    # exact verification pass
    ver = ngram_jaccard_pairs(
        df, spark.createDataFrame(pd.DataFrame(
            {"a": [1], "b": [2]})), k=3, threshold=0.3).toPandas()
    assert len(ver) == 1 and ver.iloc[0].jaccard > 0.5


def test_simhash_near_dups(spark):
    base = " ".join(f"word{i}" for i in range(200))
    near = base.replace("word100", "wordX")
    far = " ".join(f"other{i}" for i in range(200))
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [base, near, far]}))
    s = simhash_md5(df, k=3)
    # blocks >= max_hamming + 1 (and 28 % 14 == 0): guaranteed recall
    pairs = simhash_near_dups(s, max_hamming=8, blocks=14,
                              hash_bits=28).toPandas()
    keys = {(r.a, r.b) for r in pairs.itertuples()}
    assert (1, 2) in keys
    assert (1, 3) not in keys


def test_simhash_pigeonhole_guarantee(spark):
    """A planted hamming-8 pair whose differing bits spread 2-per-
    block across all four 7-bit blocks: best-effort 4-block blocking
    silently misses it; the guaranteed config (blocks > max_hamming)
    must find it; invalid configs are rejected up front."""
    h1, h2 = 0, 0
    for blk in range(4):
        h2 |= 0b11 << (7 * blk)
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "simhash": [h1, h2]}))
    with pytest.raises(ValueError, match="recall guarantee"):
        simhash_near_dups(df, max_hamming=8, blocks=4, hash_bits=28)
    missed = simhash_near_dups(df, max_hamming=8, blocks=4,
                               hash_bits=28,
                               allow_recall_loss=True).toPandas()
    assert len(missed) == 0  # why the old default under-delivered
    found = simhash_near_dups(df, max_hamming=8, blocks=14,
                              hash_bits=28).toPandas()
    assert len(found) == 1 and found.iloc[0].hamming == 8
    with pytest.raises(ValueError, match="divisible"):
        simhash_near_dups(df, max_hamming=8, blocks=9, hash_bits=28,
                          allow_recall_loss=True)


def test_embedding_near_dups(spark, emb):
    # plant a near-identical copy of vec 0
    one = emb.limit(1).toPandas()
    v = np.asarray(one.iloc[0]["embedding"], dtype=np.float32)
    v2 = (v + 1e-4).tolist()
    extra = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [10_000], "embedding": [v2],
         "label": [one.iloc[0]["label"]]}))
    pairs = embedding_near_dups(emb.unionByName(extra),
                                threshold=0.999).toPandas()
    keys = {(r.a, r.b) for r in pairs.itertuples()}
    assert (one.iloc[0]["vec_id"], 10_000) in keys


def test_language_id_and_quality(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the cat and the dog is of the house to go " * 4,
                 "el la de que los amigos el la de que",
                 "xyzzy"]})
    df = spark.createDataFrame(pdf)
    out = language_id(df).toPandas().set_index("doc_id")
    assert out.loc[1, "lang_pred"] == "en"
    assert out.loc[2, "lang_pred"] == "es"
    assert out.loc[3, "lang_pred"] == "unknown"
    q = quality_score(df).toPandas().set_index("doc_id")
    assert 0.0 <= q.quality.min() and q.quality.max() <= 1.0
    assert q.loc[1, "quality"] > q.loc[3, "quality"]


def test_token_counts_and_fingerprint(spark, docs):
    out = token_counts(docs.limit(20)).toPandas()
    assert (out.n_ws_tokens > 0).all()
    assert (out.n_bpe_tokens >= out.n_ws_tokens).all()
    sample = docs.limit(20).localCheckpoint()
    fp = fingerprint_md5(sample).toPandas().sort_values("doc_id")
    assert len(fp) == 20
    assert fp.fingerprint.nunique() > 15  # near-unique fingerprints
    # determinism
    fp2 = fingerprint_md5(sample).toPandas().sort_values("doc_id")
    assert (fp.fingerprint.to_numpy()
            == fp2.fingerprint.to_numpy()).all()


def test_brute_force_topk_matches_numpy(spark, emb):
    corpus = emb
    queries = emb.limit(4).select(
        F.col("vec_id").alias("q_id"), "embedding")
    got = brute_force_topk(queries, corpus, k=3).toPandas()
    cp = corpus.toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64)
                    for v in cp.embedding])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qp = queries.toPandas()
    for r in qp.itertuples(index=False):
        q = np.asarray(r.embedding, dtype=np.float64)
        cos = mat_n @ (q / np.linalg.norm(q))
        order = np.lexsort((cp.vec_id.to_numpy(), -cos))
        expect = cp.vec_id.to_numpy()[order[:3]].tolist()
        g = got[got.q_id == r.q_id].sort_values("rank")
        assert g.c_id.tolist() == expect


def test_ivf_topk_recall(spark, emb):
    centroids = train_ivf_centroids(emb, n_cells=8)
    queries = emb.limit(8).select(
        F.col("vec_id").alias("q_id"), "embedding")
    exact = brute_force_topk(queries, emb, k=5).toPandas()
    approx = ivf_topk(queries, emb, centroids, k=5,
                      nprobe=4).toPandas()
    hits = tot = 0
    for qid in exact.q_id.unique():
        e = set(exact[exact.q_id == qid].c_id)
        a = set(approx[approx.q_id == qid].c_id)
        hits += len(e & a)
        tot += len(e)
    assert hits / tot >= 0.8  # recall with nprobe=4 of 8 cells


def test_md5_pipeline_cross_engine_random_texts(spark):
    """Randomized adversarial texts (unicode, punctuation, repeated
    whitespace, shorter-than-k docs, empty) must produce identical
    minhash band pairs and simhash values in Spark and DuckDB."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyshepseg_spark.operators.dedup import (minhash_signatures_md5,
                                                 simhash_md5)
    rng = np.random.default_rng(3)
    vocab = ["the", "cat", "über", "naïve", "data!", "x", "12",
             "a,b", "ünïcödé", "tab\tchar", "END."]
    texts = []
    for i in range(40):
        n = int(rng.integers(0, 30))
        words = rng.choice(vocab, size=n).tolist()
        t = "  ".join(words) if i % 3 else " ".join(words).upper()
        texts.append(t)
    texts.append("")
    texts.append("one")
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = spark.createDataFrame(pdf)

    got_sim = simhash_md5(docs, k=3).toPandas() \
        .sort_values("doc_id", ignore_index=True)
    got_min = minhash_signatures_md5(docs, num_hashes=8, k=3,
                                     seed=42).toPandas() \
        .sort_values("doc_id", ignore_index=True)

    con = duckdb.connect()
    con.register("documents", pdf)
    from pyshepseg_spark.operators.dedup import minhash_coeffs
    coeffs = minhash_coeffs(8, 42)
    vals = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                     for i, (a, b) in enumerate(coeffs))
    import __spark_entry__ as em
    sh_cte = em._shingle_cte(3)
    want_min = con.execute(f"""
        WITH {sh_cte}, hf(i, a, b) AS (VALUES {vals}),
        sig AS (
            SELECT sh.doc_id, hf.i,
                   MIN((sh.h * hf.a + hf.b) % 2147483647) AS v
            FROM sh CROSS JOIN hf GROUP BY sh.doc_id, hf.i
        )
        SELECT doc_id,
               array_agg(v ORDER BY i) AS minhash
        FROM sig GROUP BY doc_id ORDER BY doc_id
    """).df()
    for a, b in zip(got_min["minhash"], want_min["minhash"]):
        assert list(a) == list(b)

    want_sim = con.execute(f"""
        WITH {sh_cte}, bits AS (
            SELECT doc_id, bp,
                   SUM(CASE WHEN (h >> bp) & 1 = 1
                       THEN 1 ELSE -1 END) AS v
            FROM sh, LATERAL unnest(generate_series(0, 27)) AS t(bp)
            GROUP BY doc_id, bp
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bp)
                   ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id ORDER BY doc_id
    """).df()
    assert (got_sim["simhash"].to_numpy()
            == want_sim["simhash"].to_numpy()).all()


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join vs pandas merge_asof on random keyed series,
    including the tolerance path and keys with no match."""
    import numpy as np
    import pandas as pd
    from pyshepseg_spark.operators.asof import asof_join
    rng = np.random.default_rng(13)
    left = pd.DataFrame({
        "user_id": rng.integers(0, 6, 80),
        "ts": rng.integers(0, 1000, 80),
        "lv": rng.random(80).round(3)}).drop_duplicates(
            ["user_id", "ts"])
    right = pd.DataFrame({
        "user_id": rng.integers(0, 8, 60),
        "ts": rng.integers(0, 1000, 60),
        "value": rng.random(60).round(3)}).drop_duplicates(
            ["user_id", "ts"])
    for tol in [None, 100]:
        got = asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right), on="ts",
            by=("user_id",), right_cols=("value",),
            tolerance_seconds=tol).toPandas() \
            .sort_values(["user_id", "ts"], ignore_index=True)
        want = pd.merge_asof(
            left.sort_values("ts"),
            right.sort_values("ts").rename(
                columns={"ts": "ts_r", "value": "value_r"}),
            left_on="ts", right_on="ts_r", by="user_id",
            direction="backward",
            tolerance=tol).sort_values(
                ["user_id", "ts"], ignore_index=True)
        assert len(got) == len(want)
        for c in ["user_id", "ts", "lv"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        for c in ["ts_r", "value_r"]:
            a = got[c].astype(float).to_numpy()
            b = want[c].astype(float).to_numpy()
            assert ((np.isnan(a) & np.isnan(b))
                    | (a == b)).all(), (c, tol)


def test_embedding_banded_lsh_recall(spark):
    """Banding the hyperplane sketch recovers pairs a monolithic
    sketch misses: 40 planted pairs at cos ~0.95 — banded recall must
    beat all-bits-equal and clear 0.9 (seeded, deterministic)."""
    from pyshepseg_spark.operators.dedup import embedding_near_dups
    rng = np.random.default_rng(123)
    dim, npairs = 32, 40
    rows = []
    for i in range(npairs):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        n = rng.standard_normal(dim)
        n -= (n @ v) * v
        n /= np.linalg.norm(n)
        cos = 0.95
        w = cos * v + np.sqrt(1 - cos * cos) * n
        rows.append({"vec_id": 2 * i, "embedding": v.tolist()})
        rows.append({"vec_id": 2 * i + 1, "embedding": w.tolist()})
    df = spark.createDataFrame(pd.DataFrame(rows))

    def recall(bands):
        got = embedding_near_dups(df, threshold=0.94, bits=16,
                                  bands=bands).toPandas()
        hits = {(r.a, r.b) for r in got.itertuples()}
        return sum((2 * i, 2 * i + 1) in hits
                   for i in range(npairs)) / npairs

    mono, banded = recall(1), recall(4)
    assert banded > mono
    assert banded >= 0.9
    import pytest as _pytest
    with _pytest.raises(ValueError, match="divisible"):
        embedding_near_dups(df, bits=16, bands=3)


def test_duplicate_groups_string_ids(spark):
    """URL-style string doc ids must cluster correctly (a silent
    cast-to-long would null-collapse every doc into one group), and
    group_rep is the lexicographic min of each cluster."""
    from pyshepseg_spark.operators.dedup import duplicate_groups
    pairs = spark.createDataFrame(
        [("https://a.example/1", "https://b.example/2"),
         ("https://b.example/2", "https://c.example/3"),
         ("https://x.example/9", "https://y.example/8")],
        "a string, b string")
    got = {r["doc_id"]: r["group_rep"]
           for r in duplicate_groups(pairs).collect()}
    assert got == {
        "https://a.example/1": "https://a.example/1",
        "https://b.example/2": "https://a.example/1",
        "https://c.example/3": "https://a.example/1",
        "https://x.example/9": "https://x.example/9",
        "https://y.example/8": "https://x.example/9",
    }


def test_duplicate_groups_integer_ids_unchanged(spark):
    from pyshepseg_spark.operators.dedup import duplicate_groups
    pairs = spark.createDataFrame(
        [(5, 2), (2, 9), (40, 41)], "a bigint, b bigint")
    got = {r["doc_id"]: r["group_rep"]
           for r in duplicate_groups(pairs).collect()}
    assert got == {5: 2, 2: 2, 9: 2, 40: 40, 41: 40}


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming first-occurrence dedup over two file deliveries ==
    batch dedup over the full table: nothing duplicated across
    micro-batches, state restored from the checkpoint between the
    two runs."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyshepseg_spark.streaming.dedup import (
        streaming_exact_dedup, with_content_hash)

    rows1 = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["alpha beta", "gamma delta", "Alpha  beta",
                 "unique one"]})          # 2 dups of doc 0 family
    rows2 = pd.DataFrame({
        "doc_id": [4, 5, 6],
        "text": ["gamma delta", "fresh text here", "ALPHA BETA"]})
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run_once():
        q = (streaming_exact_dedup(
                spark.readStream.schema(schema).parquet(src))
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    spark.createDataFrame(rows1).coalesce(1) \
        .write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(rows2).coalesce(1) \
        .write.mode("append").parquet(src)
    run_once()

    got = (spark.read.parquet(out)
           .select("content_hash", "doc_id").toPandas())
    # exactly one row per distinct hash, across BOTH deliveries
    assert got["content_hash"].is_unique
    full = pd.concat([rows1, rows2], ignore_index=True)
    want_hashes = set(
        r["content_hash"] for r in with_content_hash(
            spark.createDataFrame(full)).collect())
    assert set(got["content_hash"]) == want_hashes
    # first occurrence won: doc 0 retained, 2/6 dropped; 1 vs 4
    kept = set(got["doc_id"])
    assert 0 in kept and 2 not in kept and 6 not in kept
    assert (1 in kept) and (4 not in kept)


def test_streaming_dedup_watermarked_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate inside the horizon
    is suppressed; batch==stream on a single availableNow pass."""
    import datetime as dt
    import pandas as pd
    from pyshepseg_spark.streaming.dedup import (
        streaming_exact_dedup_watermarked)

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "ts": [t0, t0 + dt.timedelta(minutes=5),
               t0 + dt.timedelta(minutes=10)],
        "text": ["same thing", "same thing", "different thing"]})
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows).coalesce(1) \
        .write.mode("append").parquet(src)
    q = (streaming_exact_dedup_watermarked(
            spark.readStream.schema(
                "doc_id long, ts timestamp, text string")
            .parquet(src), horizon="1 hour")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    kept = sorted(spark.read.parquet(out).toPandas()["doc_id"])
    assert kept == [0, 2]


def test_streaming_minhash_near_dups_matches_batch(spark, tmp_path):
    """VERDICT r4 #4: streaming MinHash-LSH ingest over three file
    deliveries (two stream runs with a checkpoint restart between)
    flags EXACTLY the pairs the batch operator finds on the unioned
    corpus — intra-batch pairs, cross-batch probes against the
    signature store, and pairs whose halves straddle the restart all
    included. est_jaccard values must be bit-identical (same
    match-fraction arithmetic both paths)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyshepseg_spark.operators.dedup import (minhash_lsh_pairs,
                                                 minhash_signatures_md5)
    from pyshepseg_spark.streaming.dedup import (
        compact_signature_store, streaming_minhash_dedup)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    pdf = docs.toPandas().sort_values("doc_id", ignore_index=True)
    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    # deliveries chosen so pairs exist inside a chunk (8,12), across
    # chunks in one run (0..200 vs 200..350), and across the restart
    # (e.g. 5-450, 12-360)
    for chunk in (pdf.iloc[:200], pdf.iloc[200:350]):
        spark.createDataFrame(chunk).coalesce(1) \
            .write.mode("append").parquet(src)
    q = streaming_minhash_dedup(spark, src, store, pairs, ckpt)
    q.awaitTermination(180)
    n_first = spark.read.parquet(pairs).count()
    assert n_first > 0

    # compact the committed store, then deliver the last chunk and
    # resume from the checkpoint
    compact_signature_store(spark, store)
    spark.createDataFrame(pdf.iloc[350:]).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_minhash_dedup(spark, src, store, pairs, ckpt)
    q2.awaitTermination(180)

    got = (spark.read.parquet(pairs)
           .select("a", "b", "est_jaccard").toPandas()
           .sort_values(["a", "b"], ignore_index=True))
    sigs = minhash_signatures_md5(docs, num_hashes=32, k=3)
    want = (minhash_lsh_pairs(sigs, num_hashes=32, bands=8)
            .filter(F.col("est_jaccard") >= 0.5).toPandas()
            .sort_values(["a", "b"], ignore_index=True))
    assert len(got) > n_first     # restart run found new pairs
    pd.testing.assert_frame_equal(got, want)


def test_streaming_simhash_near_dups_matches_batch(spark, tmp_path):
    """Streaming SimHash ingest (pigeonhole-blocked Hamming) over
    three file deliveries with a checkpoint restart and a store
    compaction between runs flags EXACTLY the pairs the batch
    operator finds on the unioned corpus, hamming values identical;
    a further restart with no new files must be a no-op (checkpoint
    tracks file progress)."""
    import pandas as pd

    from pyshepseg_spark.operators.dedup import (simhash_md5,
                                                 simhash_near_dups)
    from pyshepseg_spark.streaming.dedup import (
        compact_signature_store, streaming_simhash_dedup)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    pdf = docs.toPandas().sort_values("doc_id", ignore_index=True)
    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    for chunk in (pdf.iloc[:200], pdf.iloc[200:350]):
        spark.createDataFrame(chunk).coalesce(1) \
            .write.mode("append").parquet(src)
    q = streaming_simhash_dedup(spark, src, store, pairs, ckpt)
    q.awaitTermination(180)
    n_first = spark.read.parquet(pairs).count()
    assert n_first > 0

    compact_signature_store(spark, store)
    spark.createDataFrame(pdf.iloc[350:]).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_simhash_dedup(spark, src, store, pairs, ckpt)
    q2.awaitTermination(180)

    def snap():
        return (spark.read.parquet(pairs)
                .select("a", "b", "hamming").toPandas()
                .sort_values(["a", "b"], ignore_index=True))

    got = snap()
    want = (simhash_near_dups(simhash_md5(docs, k=3), max_hamming=3,
                              blocks=4, hash_bits=28).toPandas()
            .sort_values(["a", "b"], ignore_index=True))
    assert len(got) > n_first     # restart run found new pairs
    pd.testing.assert_frame_equal(got, want)

    # restart with nothing new delivered: no batch fires, sinks
    # byte-identical
    q3 = streaming_simhash_dedup(spark, src, store, pairs, ckpt)
    q3.awaitTermination(120)
    pd.testing.assert_frame_equal(snap(), got)


def test_streaming_embedding_near_dups_matches_batch(spark, tmp_path):
    """Streaming hyperplane-LSH embedding ingest over three file
    deliveries (restart between #2 and #3) flags EXACTLY the pairs
    the batch operator finds on the unioned corpus. Planted
    scaled-copy near-dups (cosine == 1, same recipe as the
    embedding_near_dups_lsh contract query) are arranged so pairs
    occur intra-batch (two copies in one delivery), cross-batch via
    the sketch+vector stores, and across the checkpoint restart."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyshepseg_spark.operators.dedup import embedding_near_dups
    from pyshepseg_spark.streaming.dedup import (
        streaming_embedding_dedup)

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")

    def planted(lo, hi, offset, scale):
        return (emb.filter((F.col("vec_id") >= lo)
                           & (F.col("vec_id") < hi))
                .select((F.col("vec_id") + offset).alias("vec_id"),
                        F.transform("embedding",
                                    lambda x: x * F.lit(scale))
                        .cast("array<float>")
                        .alias("embedding"), "label"))

    src = str(tmp_path / "emb")
    sketch = str(tmp_path / "sketch")
    vecs = str(tmp_path / "vecs")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    # delivery 1: originals 0..299; delivery 2: originals 300..499
    # + copies of 0..9 (cross-batch pairs) + a SECOND copy of 0..4
    # (intra-batch pairs among the two copy families); delivery 3
    # (after restart): copies of 10..19 (pairs across the restart)
    chunks = [
        emb.filter(F.col("vec_id") < 300),
        (emb.filter(F.col("vec_id") >= 300)
         .unionByName(planted(0, 10, 1_000_000, 1.0001))
         .unionByName(planted(0, 5, 2_000_000, 1.0002))),
        planted(10, 20, 1_000_000, 1.0001),
    ]
    for c in chunks[:2]:
        c.coalesce(1).write.mode("append").parquet(src)
    kw = dict(threshold=0.999, bits=24, bands=3)
    q = streaming_embedding_dedup(spark, src, sketch, vecs, pairs,
                                  ckpt, **kw)
    q.awaitTermination(180)
    n_first = spark.read.parquet(pairs).count()
    assert n_first > 0
    chunks[2].coalesce(1).write.mode("append").parquet(src)
    q2 = streaming_embedding_dedup(spark, src, sketch, vecs, pairs,
                                   ckpt, **kw)
    q2.awaitTermination(180)

    got = (spark.read.parquet(pairs)
           .select("a", "b", "cosine").toPandas()
           .sort_values(["a", "b"], ignore_index=True))
    # batch twin on the SAME parquet bytes the stream consumed
    want = (embedding_near_dups(spark.read.parquet(src), **kw)
            .toPandas().sort_values(["a", "b"], ignore_index=True))
    assert len(got) > n_first     # restart run found new pairs
    # expected pair families all present: intra-batch (1M vs 2M
    # copies), cross-batch (orig vs copy), across-restart (10..19)
    a, b = got["a"], got["b"]
    assert ((a >= 1_000_000) & (a < 2_000_000) & (b >= 2_000_000)
            ).any()
    assert ((a < 20) & (b >= 1_000_000)).any()
    assert ((a >= 10) & (a < 20) & (b >= 1_000_000)
            & (b < 1_000_020)).any()
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("family", ["minhash", "simhash", "embedding"])
def test_probe_replay_is_idempotent(spark, tmp_path, family):
    """foreachBatch is at-least-once: replaying the last micro-batch
    (crash between the parquet writes and the checkpoint commit)
    must leave the pairs table AND every store byte-for-byte
    unchanged, for each near-dup prober — all sinks are
    batch_id-partitioned with dynamic-partition overwrite, and the
    replayed probe filters its stores to earlier batches only."""
    from pyshepseg_spark.streaming.dedup import (
        embedding_probe_writer, minhash_probe_writer,
        simhash_probe_writer)

    store = str(tmp_path / "store")
    vecs = str(tmp_path / "vecs")
    pairs = str(tmp_path / "pairs")
    if family == "embedding":
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        # scaled copies of 0..9 in batch 1: cross-batch pairs
        copies = (emb.filter(F.col("vec_id") < 10)
                  .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                          F.transform("embedding",
                                      lambda x: x * F.lit(1.0001))
                          .cast("array<float>").alias("embedding"),
                          "label"))
        b0 = emb.filter(F.col("vec_id") < 300)
        b1 = emb.filter(F.col("vec_id") >= 300).unionByName(copies)
        writer = embedding_probe_writer(store, vecs, pairs,
                                        threshold=0.999, bits=24,
                                        bands=3)
        score = "cosine"
        stores = {store: ["batch_id", "vec_id", "band", "key"],
                  vecs: ["batch_id", "vec_id"]}
    else:
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        pdf = docs.toPandas().sort_values("doc_id", ignore_index=True)
        b0 = spark.createDataFrame(pdf.iloc[:250])
        b1 = spark.createDataFrame(pdf.iloc[250:])
        if family == "minhash":
            writer = minhash_probe_writer(store, pairs)
            score, key = "est_jaccard", ["band", "bucket"]
        else:
            writer = simhash_probe_writer(store, pairs)
            score, key = "hamming", ["block", "key"]
        stores = {store: ["batch_id", "doc_id", *key]}
    writer(b0, 0)
    writer(b1, 1)

    def snap(path, cols):
        return (spark.read.parquet(path).select(*cols).toPandas()
                .sort_values(cols, ignore_index=True))

    pair_cols = ["batch_id", "a", "b", score]
    pairs1 = snap(pairs, pair_cols)
    stores1 = {p: snap(p, c) for p, c in stores.items()}
    assert (pairs1["batch_id"] == 1).any()   # cross-batch probe hit
    writer(b1, 1)                            # the at-least-once replay
    pd.testing.assert_frame_equal(snap(pairs, pair_cols), pairs1)
    for p, c in stores.items():
        pd.testing.assert_frame_equal(snap(p, c), stores1[p])


# ---------------------------------------------------------------
# exact substring dedup (duplicated spans, Lee et al. 2022 family)
# ---------------------------------------------------------------

BOILER = ("lorem ipsum dolor sit amet consectetur adipiscing elit "
          "sed do eiusmod tempor incididunt")        # 13 tokens


def _span_docs(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": [
        f"alpha beta gamma {BOILER} delta epsilon",
        f"zeta {BOILER} eta theta iota",
        "totally unique words nothing repeats here at all today",
    ]})
    return spark.createDataFrame(pdf)


def test_duplicated_spans_finds_shared_passage(spark):
    from pyshepseg_spark.operators.dedup import duplicated_spans
    spans = duplicated_spans(_span_docs(spark), k=5).toPandas() \
        .sort_values("doc_id", ignore_index=True)
    # doc 0: boiler occupies tokens 3..15; doc 1: tokens 1..13;
    # doc 2: nothing. Marked gram starts are those fully inside the
    # boiler, and the span closure recovers the full passage.
    assert len(spans) == 2
    assert spans.loc[0].tolist() == [0, 3, 15, 13]
    assert spans.loc[1].tolist() == [1, 1, 13, 13]


def test_remove_duplicated_spans_cuts_passage(spark):
    from pyshepseg_spark.operators.dedup import remove_duplicated_spans
    clean = remove_duplicated_spans(_span_docs(spark), k=5) \
        .toPandas().sort_values("doc_id", ignore_index=True)
    assert clean.clean_text.tolist() == [
        "alpha beta gamma delta epsilon",
        "zeta eta theta iota",
        "totally unique words nothing repeats here at all today",
    ]


def test_remove_duplicated_spans_min_span_threshold(spark):
    from pyshepseg_spark.operators.dedup import remove_duplicated_spans
    # threshold above the passage length: nothing is removed
    clean = remove_duplicated_spans(_span_docs(spark), k=5,
                                    min_span_tokens=50) \
        .toPandas().sort_values("doc_id", ignore_index=True)
    assert clean.clean_text[0] == f"alpha beta gamma {BOILER} delta epsilon"


def test_duplicated_spans_within_doc_scope(spark):
    from pyshepseg_spark.operators.dedup import duplicated_spans
    rep = "one two three four five"
    pdf = pd.DataFrame({"doc_id": [7], "text": [f"{rep} start middle end {rep}"]})
    docs = spark.createDataFrame(pdf)
    # cross-doc scope: a single doc can never match
    assert duplicated_spans(docs, k=5, scope="cross_doc").count() == 0
    spans = duplicated_spans(docs, k=5, scope="within_doc") \
        .toPandas().sort_values("span_start", ignore_index=True)
    # the repeated phrase occupies tokens 0..4 and 8..12
    assert spans[["span_start", "span_end"]].values.tolist() == [
        [0, 4], [8, 12]]


def test_fully_duplicated_doc_comes_back_empty(spark):
    from pyshepseg_spark.operators.dedup import remove_duplicated_spans
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [BOILER, BOILER]})
    clean = remove_duplicated_spans(spark.createDataFrame(pdf), k=5) \
        .toPandas().sort_values("doc_id", ignore_index=True)
    assert clean.clean_text.tolist() == ["", ""]


def _spans_ctes(k: int, scope: str = "cross_doc") -> str:
    """CTE chain ending in ``spans`` (doc_id, span_start, span_end,
    n_tokens): the DuckDB replay of dedup.duplicated_spans — same
    md5-28bit gram stream (_shingle_cte), same marking scope, same
    gaps-and-islands closure, same short-doc span_end cap."""
    import __spark_entry__ as em
    if scope == "cross_doc":
        dup = ("SELECT h FROM sh GROUP BY h "
               "HAVING count(DISTINCT doc_id) >= 2")
        join = "JOIN dup USING (h)"
    elif scope == "any":
        dup = "SELECT h FROM sh GROUP BY h HAVING count(*) >= 2"
        join = "JOIN dup USING (h)"
    else:   # within_doc
        dup = ("SELECT doc_id AS ddoc, h FROM sh "
               "GROUP BY doc_id, h HAVING count(*) >= 2")
        join = "JOIN dup ON sh.doc_id = dup.ddoc AND sh.h = dup.h"
    return f"""
        {em._shingle_cte(k)},
        ntoks AS (SELECT doc_id, len(w) AS ntok FROM wrd),
        dup AS ({dup}),
        marked AS (SELECT sh.doc_id, sh.pos FROM sh {join}),
        isl AS (SELECT doc_id, pos,
                       pos - row_number() OVER (
                           PARTITION BY doc_id ORDER BY pos) AS grp
                FROM marked),
        spans AS (
            SELECT i.doc_id,
                   min(i.pos) AS span_start,
                   least(max(i.pos) + {k} - 1,
                         any_value(n.ntok) - 1) AS span_end,
                   least(max(i.pos) + {k} - 1,
                         any_value(n.ntok) - 1) - min(i.pos) + 1
                       AS n_tokens
            FROM isl i JOIN ntoks n USING (doc_id)
            GROUP BY i.doc_id, i.grp
        )"""


def test_duplicated_spans_cross_engine_random_texts(spark):
    """Randomized texts over a tiny vocab (so grams collide
    naturally, incl. short/empty docs) must produce identical span
    frames in Spark and a DuckDB replay of the same marking."""
    import duckdb
    from pyshepseg_spark.operators.dedup import (duplicated_spans,
                                                 remove_duplicated_spans)
    rng = np.random.default_rng(11)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    texts = ["".join(""), "one"]
    for _ in range(30):
        n = int(rng.integers(0, 25))
        texts.append(" ".join(rng.choice(vocab, size=n)))
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = spark.createDataFrame(pdf)
    k = 3

    con = duckdb.connect()
    con.register("documents", pdf)
    for scope in ("cross_doc", "any", "within_doc"):
        got = duplicated_spans(docs, k=k, scope=scope).toPandas() \
            .sort_values(["doc_id", "span_start"],
                         ignore_index=True).astype("int64")
        want = con.execute(f"""
            WITH {_spans_ctes(k, scope)}
            SELECT doc_id, span_start, span_end, n_tokens FROM spans
            ORDER BY doc_id, span_start
        """).df().astype("int64")
        pd.testing.assert_frame_equal(got, want, obj=scope)

    got_clean = remove_duplicated_spans(docs, k=k).toPandas() \
        .sort_values("doc_id", ignore_index=True)
    want_clean = con.execute(f"""
        WITH {_spans_ctes(k)},
        cov AS (SELECT doc_id, u.pos
                FROM spans, LATERAL unnest(generate_series(
                    span_start, span_end)) AS u(pos)),
        toks AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
                 FROM wrd, LATERAL unnest(generate_series(
                     1, len(w))) AS g(i)),
        kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
                 ANTI JOIN cov c
                 ON t.doc_id = c.doc_id AND t.pos = c.pos)
        SELECT d.doc_id,
               coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '')
                   AS clean_text
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN kept k USING (doc_id)
        GROUP BY d.doc_id ORDER BY d.doc_id
    """).df()
    pd.testing.assert_frame_equal(
        got_clean.reset_index(drop=True),
        want_clean.reset_index(drop=True))


# ---------------------------------------------------------------
# Gopher-style repetition signals
# ---------------------------------------------------------------

def test_repetition_signals_crafted(spark):
    from pyshepseg_spark.operators.text import repetition_signals
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [
        # 4 non-empty lines, "same line" appears 3x (12 chars each),
        # "other text" once (10 chars)
        "same line\nsame line\n\nsame line\nother line",
        # no repetition at all
        "every word here is completely distinct today",
    ]})
    sig = repetition_signals(spark.createDataFrame(pdf)) \
        .toPandas().sort_values("doc_id", ignore_index=True)
    r0 = sig.loc[0]
    assert r0.n_lines == 4
    assert r0.dup_line_frac == pytest.approx(2 / 4)
    # dup char mass: 2 extra copies of "same line" (9 chars) over
    # 3*9 + 10 chars of line text
    assert r0.dup_line_char_frac == pytest.approx(18 / 37)
    # top 2-gram of doc 0: "same line" x3? normalized text is one
    # line-collapsed string: "same line same line same line other
    # line" -> 2-gram "line same" x2, "same line" x3
    nt0 = "same line same line same line other line"
    assert r0.top_2gram_char_frac == pytest.approx(
        3 * len("same line") / len(nt0))
    r1 = sig.loc[1]
    assert r1.n_lines == 1
    assert r1.dup_line_frac == 0.0
    assert r1.dup_5gram_token_frac == 0.0


def test_repetition_signals_dup_ngram_coverage(spark):
    from pyshepseg_spark.operators.text import repetition_signals
    rep = "alpha beta gamma delta epsilon"          # 5 tokens
    text = f"{rep} one two three {rep}"             # 13 tokens
    pdf = pd.DataFrame({"doc_id": [0], "text": [text]})
    sig = repetition_signals(spark.createDataFrame(pdf)).toPandas()
    # the repeated 5-gram covers tokens 0-4 and 8-12 -> 10 of 13
    assert sig.dup_5gram_token_frac[0] == pytest.approx(10 / 13)


def test_repetition_signals_overlap_merged_once(spark):
    """ADVICE r5 regression: marked islands whose gap is < k overlap
    after the k-1 span extension ('a b a b a', k=3 -> spans [0,2]
    and [2,4]); the coverage fraction must count the overlapped
    tokens ONCE (1.0 here — the old span-length sum gave 6/5)."""
    from pyshepseg_spark.operators.text import repetition_signals
    pdf = pd.DataFrame({"doc_id": [0], "text": ["a b a b a"]})
    sig = repetition_signals(spark.createDataFrame(pdf),
                             dup_ngram=3).toPandas()
    assert sig.dup_3gram_token_frac[0] == pytest.approx(1.0)


def test_repetition_signals_cross_engine_random(spark):
    """Randomized multi-line texts: the full signal frame must match
    a DuckDB replay (line stats, deterministic top-ngram tie-break,
    within-doc duplicated-5-gram token coverage)."""
    import duckdb
    from pyshepseg_spark.operators.text import repetition_signals
    rng = np.random.default_rng(23)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    texts = ["", "one", "one two three"]
    for _ in range(25):
        n_ln = int(rng.integers(0, 6))
        lines = [" ".join(rng.choice(vocab,
                                     size=int(rng.integers(0, 12))))
                 for _ in range(n_ln)]
        texts.append("\n".join(lines))
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = repetition_signals(spark.createDataFrame(pdf)).toPandas() \
        .sort_values("doc_id", ignore_index=True)

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(f"""
        WITH {_spans_ctes(5, "within_doc")},
        lines0 AS (
            SELECT doc_id, trim(l) AS line FROM documents,
            LATERAL unnest(string_split(text, chr(10))) AS t(l)
            WHERE length(trim(l)) > 0),
        lc AS (SELECT doc_id, line, count(*) AS cnt
               FROM lines0 GROUP BY doc_id, line),
        line_sig AS (
            SELECT doc_id, sum(cnt) AS n_lines,
                   sum(cnt - 1)::DOUBLE / sum(cnt) AS dup_line_frac,
                   sum((cnt - 1) * length(line))::DOUBLE
                       / sum(cnt * length(line))
                       AS dup_line_char_frac
            FROM lc GROUP BY doc_id),
        grams AS (
            SELECT doc_id, n, length(t) AS tot_chars,
                   array_to_string(list_slice(w, i, i + n - 1), ' ')
                       AS gram
            FROM wrd JOIN norm USING (doc_id),
                 (VALUES (2), (3), (4)) AS ns(n),
                 LATERAL unnest(generate_series(1, len(w) - n + 1))
                     AS g(i)
            WHERE len(w) >= n),
        gc AS (SELECT doc_id, n, length(gram) AS glen,
                      count(*) AS cnt, max(tot_chars) AS tot_chars
               FROM grams GROUP BY doc_id, n, gram),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY doc_id, n
                       ORDER BY cnt DESC, glen DESC) AS rn FROM gc),
        top AS (SELECT doc_id, n,
                       cnt * glen::DOUBLE
                           / greatest(tot_chars, 1) AS frac
                FROM ranked WHERE rn = 1),
        sp2 AS (SELECT doc_id, span_start, span_end,
                       max(span_end) OVER (
                           PARTITION BY doc_id ORDER BY span_start
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_end
                FROM spans),
        spg AS (SELECT *, sum(CASE WHEN prev_end IS NULL
                                     OR span_start > prev_end
                                   THEN 1 ELSE 0 END) OVER (
                    PARTITION BY doc_id ORDER BY span_start)
                    AS g
                FROM sp2),
        mrg AS (SELECT doc_id,
                       max(span_end) - min(span_start) + 1 AS cv
                FROM spg GROUP BY doc_id, g),
        cov AS (SELECT doc_id, sum(cv) AS cov_tokens
                FROM mrg GROUP BY doc_id),
        base AS (SELECT DISTINCT doc_id FROM documents)
        SELECT b.doc_id,
               coalesce(ls.n_lines, 0) AS n_lines,
               coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
               coalesce(ls.dup_line_char_frac, 0.0)
                   AS dup_line_char_frac,
               coalesce(max(CASE WHEN t.n = 2 THEN t.frac END), 0.0)
                   AS top_2gram_char_frac,
               coalesce(max(CASE WHEN t.n = 3 THEN t.frac END), 0.0)
                   AS top_3gram_char_frac,
               coalesce(max(CASE WHEN t.n = 4 THEN t.frac END), 0.0)
                   AS top_4gram_char_frac,
               coalesce(any_value(c.cov_tokens), 0)::DOUBLE
                   / any_value(nk.ntok) AS dup_5gram_token_frac
        FROM base b
        LEFT JOIN line_sig ls USING (doc_id)
        LEFT JOIN top t USING (doc_id)
        LEFT JOIN cov c USING (doc_id)
        JOIN ntoks nk USING (doc_id)
        GROUP BY b.doc_id, ls.n_lines, ls.dup_line_frac,
                 ls.dup_line_char_frac
        ORDER BY b.doc_id
    """).df()
    got["n_lines"] = got["n_lines"].astype("int64")
    want["n_lines"] = want["n_lines"].astype("int64")
    pd.testing.assert_frame_equal(got, want, atol=1e-12)


# ---------------------------------------------------------------
# IVF-PQ (product-quantized ANN)
# ---------------------------------------------------------------

def test_ivf_pq_exhaustive_refine_matches_exact(spark, emb):
    """With exhaustive probing and a refine window covering the whole
    corpus, IVF-PQ degrades to exact brute force — the same
    validation contract ivf_topk carries."""
    from pyshepseg_spark.operators.similarity import (
        ivf_pq_topk, train_pq_codebooks)
    centroids = train_ivf_centroids(emb, n_cells=8)
    books = train_pq_codebooks(emb, m=8, nbits=4)
    queries = emb.limit(6).select(
        F.col("vec_id").alias("q_id"), "embedding")
    exact = brute_force_topk(queries, emb, k=5).toPandas() \
        .sort_values(["q_id", "rank"], ignore_index=True)
    got = ivf_pq_topk(queries, emb, centroids, books, k=5,
                      nprobe=8, refine_factor=100).toPandas() \
        .sort_values(["q_id", "rank"], ignore_index=True)
    assert got[["q_id", "c_id", "rank"]].values.tolist() == \
        exact[["q_id", "c_id", "rank"]].values.tolist()
    assert np.allclose(got.cosine, exact.cosine, atol=1e-6)


def test_ivf_pq_recall_and_stored_path(spark, emb):
    from pyshepseg_spark.operators.similarity import (
        ivf_pq_topk, pq_encode, train_pq_codebooks)
    centroids = train_ivf_centroids(emb, n_cells=8)
    # measured on this fixture: (m=8,nbits=4) plain 0.45/refined
    # 0.62; (m=16,nbits=6) plain 0.55/refined 0.95 — the noisy
    # intra-cluster fixture makes PQ-ranked top-5 genuinely hard,
    # refine is the production answer
    books = train_pq_codebooks(emb, m=16, nbits=6)
    queries = emb.limit(8).select(
        F.col("vec_id").alias("q_id"), "embedding")
    exact = brute_force_topk(queries, emb, k=5).toPandas()

    def recall(df):
        hits = tot = 0
        for qid in exact.q_id.unique():
            e = set(exact[exact.q_id == qid].c_id)
            a = set(df[df.q_id == qid].c_id)
            hits += len(e & a)
            tot += len(e)
        return hits / tot

    plain = ivf_pq_topk(queries, emb, centroids, books, k=5,
                        nprobe=4).toPandas()
    refined = ivf_pq_topk(queries, emb, centroids, books, k=5,
                          nprobe=4, refine_factor=4).toPandas()
    assert recall(plain) >= 0.4
    assert recall(refined) >= recall(plain)
    assert recall(refined) >= 0.8

    # the production write path (stored cell + codes, vector-free
    # scan) must return exactly the on-the-fly result
    stored = pq_encode(emb, books, centroids=centroids)
    got = ivf_pq_topk(queries, stored, centroids, books, k=5,
                      nprobe=4).toPandas() \
        .sort_values(["q_id", "rank"], ignore_index=True)
    want = plain.sort_values(["q_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want)


def test_pq_encode_reconstruction_beats_random(spark, emb):
    """Sanity on the codebooks: PQ reconstruction error must be far
    below the error of random codes from the same codebooks."""
    from pyshepseg_spark.operators.similarity import (
        pq_encode, train_pq_codebooks)
    books = train_pq_codebooks(emb, m=8, nbits=4)
    enc = pq_encode(emb.limit(100), books).toPandas()
    x = np.stack([np.asarray(v, dtype=np.float64)
                  for v in enc.embedding])
    codes = np.stack([np.asarray(c) for c in enc.pq_code])
    m, _, dsub = books.shape
    recon = np.concatenate([books[j][codes[:, j]]
                            for j in range(m)], axis=1)
    rng = np.random.default_rng(0)
    rand = np.concatenate(
        [books[j][rng.integers(0, 16, size=len(x))]
         for j in range(m)], axis=1)
    err = ((x - recon) ** 2).sum(axis=1).mean()
    err_rand = ((x - rand) ** 2).sum(axis=1).mean()
    # measured ~0.36x on the fixture; 0.5x guards real regressions
    assert err < 0.5 * err_rand


# ---------------------------------------------------------------
# PII redaction + composed Gopher filter
# ---------------------------------------------------------------

def test_pii_redact_crafted(spark):
    from pyshepseg_spark.operators.text import pii_redact
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [
        "mail me at jane.doe+x@example.co or call +1 (555) 123-4567 "
        "from 192.168.10.1, ssn 123-45-6789",
        "no pii here at all",
    ]})
    out = pii_redact(spark.createDataFrame(pdf)).toPandas() \
        .sort_values("doc_id", ignore_index=True)
    r0 = out.loc[0]
    assert r0.n_pii_email == 1 and r0.n_pii_ipv4 == 1
    assert r0.n_pii_phone == 1 and r0.n_pii_ssn_like == 1
    assert r0.redacted_text == (
        "mail me at [PII:email] or call [PII:phone] "
        "from [PII:ipv4], ssn [PII:ssn_like]")
    r1 = out.loc[1]
    assert r1.redacted_text == "no pii here at all"
    assert (r1[["n_pii_email", "n_pii_ipv4", "n_pii_phone",
                "n_pii_ssn_like"]] == 0).all()


def test_pii_redact_cross_engine(spark, docs):
    """The sequential replace chain and per-kind counts must match a
    DuckDB replay over real corpus text with injected PII."""
    import duckdb
    from pyshepseg_spark.operators.text import PII_PATTERNS, pii_redact
    pdf = docs.limit(40).select("doc_id", "text").toPandas()
    pdf["text"] = pdf.text + np.where(
        pdf.doc_id % 3 == 0,
        " contact bob@corp.example from 10.0.0.42 or 555-123-9876",
        "")
    sdf = spark.createDataFrame(pdf)
    got = pii_redact(sdf).toPandas() \
        .sort_values("doc_id", ignore_index=True)

    con = duckdb.connect()
    con.register("d", pdf)
    cur, sel = "text", []
    for kind, pat in PII_PATTERNS.items():
        sel.append(f"len(regexp_extract_all({cur}, '{pat}'))"
                   f" AS n_pii_{kind}")
        cur = (f"regexp_replace({cur}, '{pat}',"
               f" '[PII:{kind}]', 'g')")
    want = con.execute(
        f"SELECT doc_id, {', '.join(sel)}, {cur} AS redacted_text "
        f"FROM d ORDER BY doc_id").df()
    for c in want.columns:
        if c.startswith("n_pii"):
            assert (got[c].to_numpy()
                    == want[c].to_numpy()).all(), c
    assert (got.redacted_text.to_numpy()
            == want.redacted_text.to_numpy()).all()


def test_gopher_quality_filter(spark):
    from pyshepseg_spark.operators.text import gopher_quality_filter
    rng = np.random.default_rng(5)
    vocab = [f"word{i}" for i in range(300)]
    clean_words = []
    for i in range(120):
        clean_words.append(str(rng.choice(vocab)))
        if i % 10 == 0:
            clean_words.append("the")   # stopword presence
    clean = " ".join(clean_words)
    spam_line = "buy cheap stuff now call toll free number today"
    spammy = "\n".join([spam_line] * 20)
    short = "way too short"
    pdf = pd.DataFrame({"doc_id": [0, 1, 2],
                        "text": [clean, spammy, short]})
    out = gopher_quality_filter(spark.createDataFrame(pdf)) \
        .toPandas().set_index("doc_id").sort_index()
    assert bool(out.loc[0, "keep"]) is True
    assert list(out.loc[0, "drop_reasons"]) == []
    assert bool(out.loc[1, "keep"]) is False
    assert "dup_line_frac" in list(out.loc[1, "drop_reasons"])
    assert "dup_5gram_token_frac" in list(out.loc[1, "drop_reasons"])
    assert bool(out.loc[2, "keep"]) is False
    assert "too_few_words" in list(out.loc[2, "drop_reasons"])
    # threshold override: loosening every bound keeps the spam doc
    loose = gopher_quality_filter(
        spark.createDataFrame(pdf),
        thresholds={"min_words": 1, "max_dup_line_frac": 1.0,
                    "max_dup_line_char_frac": 1.0,
                    "max_top_2gram_char_frac": 1.0,
                    "max_top_3gram_char_frac": 1.0,
                    "max_top_4gram_char_frac": 1.0,
                    "max_dup_5gram_token_frac": 1.0,
                    "min_stopword_ratio": 0.0,
                    "min_mean_word_len": 0.0}) \
        .toPandas().set_index("doc_id").sort_index()
    assert bool(loose.loc[1, "keep"]) is True


def test_contamination_flags_crafted(spark):
    """Planted 13-gram overlap: exact span copy flags, 12-word
    overlap does not, short docs clamp to a whole-text shingle."""
    from pyshepseg_spark.operators.dedup import (contamination_flags,
                                                 decontaminate)
    words = [f"w{i}" for i in range(60)]
    doc_a = " ".join(words[:40])               # contains bench span
    doc_b = " ".join(words[30:55])             # shares only 12-grams
    doc_c = "completely unrelated text here"   # < 13 words, clean
    bench_q = " ".join(words[10:23])           # exactly 13 words
    bench_short = "completely unrelated text here"  # clamp == doc_c
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [doc_a, doc_b, doc_c]}))
    bench = spark.createDataFrame(pd.DataFrame(
        {"text": [bench_q]}))
    got = {r.doc_id: (r.contaminated, r.n_contaminated_grams)
           for r in contamination_flags(docs, bench).collect()}
    assert got[1] == (True, 1)
    # doc_b overlaps bench_q by words 30..22? no: bench is 10..22,
    # doc_b starts at 30 — zero shared 13-grams
    assert got[2] == (False, 0)
    assert got[3] == (False, 0)

    # whole-text clamp: a short benchmark doc flags its exact twin
    bench2 = spark.createDataFrame(pd.DataFrame(
        {"text": [bench_q, bench_short]}))
    got2 = {r.doc_id: r.contaminated
            for r in contamination_flags(docs, bench2).collect()}
    assert got2 == {1: True, 2: False, 3: True}
    kept = decontaminate(docs, bench2)
    assert sorted(r.doc_id for r in kept.collect()) == [2]
    assert kept.columns == docs.columns


def test_contamination_flags_cross_engine(spark, docs):
    """DuckDB replay over real corpus text: benchmark = spans lifted
    from some documents; per-doc distinct-gram hit counts must match
    exactly."""
    import duckdb
    from pyshepseg_spark.operators.dedup import contamination_flags
    pdf = docs.limit(60).select("doc_id", "text").toPandas()
    # benchmark: 13-word spans lifted from every 4th doc, plus noise
    spans = []
    for r in pdf.itertuples():
        if r.doc_id % 4 == 0:
            w = r.text.lower().split()
            if len(w) >= 20:
                spans.append(" ".join(w[3:16] if len(w) >= 16
                                      else w))
    spans.append("no corpus document contains this exact sentence "
                 "of thirteen distinct filler words okay")
    bench = pd.DataFrame({"text": spans})
    got = (contamination_flags(spark.createDataFrame(pdf),
                               spark.createDataFrame(bench))
           .select("doc_id", "n_contaminated_grams", "contaminated")
           .toPandas().sort_values("doc_id", ignore_index=True))

    con = duckdb.connect()
    con.register("d", pdf)
    con.register("b", bench)

    def gram_cte(src, idc):
        return f"""
            SELECT {idc} string_split(trim(regexp_replace(
                       lower(text), '\\s+', ' ', 'g')), ' ') AS w
            FROM {src}"""
    want = con.execute(f"""
        WITH dw AS ({gram_cte('d', 'doc_id,')}),
        dg AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(list_slice(w, i, i + 12),
                       ' ')) AS g
            FROM dw, LATERAL unnest(generate_series(
                1, greatest(len(w) - 12, 1))) AS t(i)
        ),
        bw AS ({gram_cte('b', '')}),
        bg AS (
            SELECT DISTINCT md5(array_to_string(
                       list_slice(w, i, i + 12), ' ')) AS g
            FROM bw, LATERAL unnest(generate_series(
                1, greatest(len(w) - 12, 1))) AS t(i)
        ),
        hits AS (
            SELECT doc_id, COUNT(*) AS n
            FROM dg JOIN bg USING (g) GROUP BY doc_id
        )
        SELECT doc_id,
               COALESCE(n, 0) AS n_contaminated_grams,
               COALESCE(n, 0) > 0 AS contaminated
        FROM d LEFT JOIN hits USING (doc_id)
        ORDER BY doc_id""").df()
    assert got.contaminated.sum() > 0          # non-vacuous
    assert (got.n_contaminated_grams.to_numpy()
            == want.n_contaminated_grams.to_numpy()).all()
    assert (got.contaminated.to_numpy()
            == want.contaminated.to_numpy()).all()


def test_select_token_budget_cross_engine(spark, docs):
    """The two-phase (histogram -> boundary-bin window) selection
    must equal the global cumsum rule exactly: order by (quality
    bin DESC, doc_id ASC), select while running token sum fits."""
    import duckdb
    from pyshepseg_spark.operators.text import select_token_budget
    scored = token_counts(quality_score(docs.select("doc_id",
                                                    "text")))
    pdf = scored.select("doc_id", "quality",
                        "n_ws_tokens").toPandas()
    total = int(pdf.n_ws_tokens.sum())
    con = duckdb.connect()
    con.register("d", pdf)
    for budget in [0, total // 10, total // 3, total - 1, total + 5]:
        got = sorted(
            r.doc_id for r in select_token_budget(
                scored, budget).select("doc_id").collect())
        want = sorted(con.execute(f"""
            SELECT doc_id FROM (
                SELECT doc_id,
                       SUM(n_ws_tokens) OVER (
                           ORDER BY CAST(floor(least(greatest(
                               quality, 0.0), 1.0) * 4095) AS INT)
                               DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM d)
            WHERE cum <= {budget}""").df().doc_id)
        assert got == want, budget
    assert len(select_token_budget(scored, total + 5).columns) \
        == len(scored.columns)


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Streaming decontamination over two file deliveries == batch
    decontaminate on the full table; checkpoint restart processes
    only the new files."""
    import duckdb
    from pyshepseg_spark.operators.dedup import decontaminate
    from pyshepseg_spark.streaming.dedup import (
        streaming_decontaminate)
    words = [f"v{i}" for i in range(80)]
    mk = lambda a, b: " ".join(words[a:b])
    rows1 = pd.DataFrame({"doc_id": [0, 1],
                          "text": [mk(0, 30), mk(25, 60)]})
    rows2 = pd.DataFrame({"doc_id": [2, 3],
                          "text": [mk(40, 70), "tiny clean doc"]})
    bench = pd.DataFrame({"text": [mk(5, 18)]})   # hits doc 0 only
    src = str(tmp_path / "docs")
    bpath = str(tmp_path / "bench.parquet")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    for add in (rows1, rows2):
        spark.createDataFrame(bench).write.mode("overwrite") \
            .parquet(bpath)
        spark.createDataFrame(add).coalesce(1) \
            .write.mode("append").parquet(src)
        q = streaming_decontaminate(spark, src, bpath, out, ckpt,
                                    schema=schema)
        q.awaitTermination(120)

    got = sorted(r.doc_id
                 for r in spark.read.parquet(out).collect())
    full = pd.concat([rows1, rows2], ignore_index=True)
    want = sorted(r.doc_id for r in decontaminate(
        spark.createDataFrame(full),
        spark.createDataFrame(bench)).collect())
    assert got == want == [1, 2, 3]


def test_word_gram_sets_matches_jvm_hof(spark):
    # r06 ngram_jaccard verify twin: word_gram_sets must reproduce
    # array_distinct(transform(sequence(0, greatest(size(w)-k, 0)),
    # i -> concat_ws(' ', slice(w, i+1, k)))) over
    # w = split(lower(text), '\s+') EXACTLY (values AND first-
    # occurrence order) on every whitespace/case/short-doc edge.
    # normalized_text output is the gram source of
    # ngram_jaccard_pairs, so it is pinned as a second input.
    from pyshepseg_spark.operators.dedup import (normalized_text,
                                                 word_gram_sets)
    rows = [
        (0, None),
        (1, ""),
        (2, "word"),
        (3, "a b"),
        (4, "a b c"),
        (5, "a b c d"),
        (6, "A B c D e F"),
        (7, "Tabs\tand\nnewlines\x0bVT\fFF\rCR mix"),
        (8, "  leading and trailing  "),
        (9, "many     internal      spaces"),
        (10, "x y z x y z x y z"),
        (11, "rep rep rep rep rep rep rep"),
        (12, "Héllo WÖRLD früh Über straße"),
        (13, "punct, stays! as-is? (yes)"),
        (14, " \t\n "),
        (15, "one two three four five six seven eight nine ten"),
    ]
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    norm = raw.select("doc_id",
                      normalized_text(F.col("text")).alias("text"))
    for d in (raw, norm):
        for k in (2, 3, 5):
            words = F.split(F.lower(F.col("text")), r"\s+")
            idx = F.sequence(F.lit(0),
                             F.greatest(F.size(words) - k, F.lit(0)))
            jvm = F.array_distinct(F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))))
            want = {r["doc_id"]: r["g"] for r in
                    d.select("doc_id", jvm.alias("g")).collect()}
            got = {r["doc_id"]: r["grams"]
                   for r in word_gram_sets(d, k=k).collect()}
            assert got == want
