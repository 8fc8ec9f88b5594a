"""Streaming deduplication over append-only tables.

The batch dedup operators (operators/dedup.py) answer "which rows of
this corpus are duplicates"; an INGEST pipeline needs the streaming
form — "is this arriving row a duplicate of anything seen so far" —
so that 10^12 rows are deduped incrementally instead of re-scanning
the corpus per delivery.

Exact dedup is pure Structured Streaming (stateful dropDuplicates):
Spark's state store holds the seen-hash set, checkpointed and
restored across restarts. Two state-lifecycle contracts:

- :func:`streaming_exact_dedup` — global dedup, state holds every
  content hash ever seen (8-byte keys; ~10^9 hashes/8 GB per
  executor before RocksDB state store spill matters). Exact across
  the whole stream lifetime.
- :func:`streaming_exact_dedup_watermarked` — bounded state: a
  duplicate is only suppressed when it arrives within ``horizon`` of
  the first copy's event time (dropDuplicatesWithinWatermark); older
  state is GC'd by the watermark. The 100 TB setting when unbounded
  state is unacceptable and late re-crawls may legitimately re-admit
  a document.

Near-dup dedup (MinHash, SimHash, hyperplane-LSH embeddings) runs as
foreachBatch probers over a persistent, batch_id-partitioned store of
earlier batches' LSH keys. Each family has ONE candidate join and ONE
verify, in operators/dedup.py: the batch operator runs it as a
self-join of the corpus, and a prober runs it twice per micro-batch —
(batch, batch) for intra-batch pairs and (batch, store) for pairs
with earlier batches. An unordered pair is emitted exactly once, in
the micro-batch where its LATER row arrives, so the union over
batches equals the batch operator on the unioned table (tested). The
sinks and the store read are the shared idempotent plumbing of
``streaming/__init__.py``.

Reference analogue: none (the reference is batch-only); this is the
§2.8 streaming state machine pattern applied to the LLM-data dedup
brief, sharing the content hash and the LSH keys with the batch path
so batch and streaming agree bit-for-bit on what counts as a
duplicate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import with_content_hash
from . import DOCUMENTS_SCHEMA, batch_sink, file_stream, read_store


def streaming_exact_dedup(stream_df, text_col="text"):
    """First-occurrence-wins exact dedup on a streaming DataFrame:
    rows whose normalized-content hash was already seen (any earlier
    micro-batch, or earlier in this one) are dropped. State = the
    set of seen hashes, kept in the streaming state store
    (checkpointed; grows without bound — see module docstring)."""
    return (with_content_hash(stream_df, text_col)
            .dropDuplicates(["content_hash"]))


def streaming_exact_dedup_watermarked(stream_df, ts_col="ts",
                                      horizon="24 hours",
                                      text_col="text"):
    """Bounded-state variant: suppress duplicates arriving within
    ``horizon`` (event time) of the retained copy; watermark GC
    evicts older hashes, so a duplicate older than the horizon is
    re-admitted. This is the deliberate state/recall trade for
    always-on ingest."""
    return (with_content_hash(stream_df, text_col)
            .withWatermark(ts_col, horizon)
            .dropDuplicatesWithinWatermark(["content_hash"]))


def minhash_probe_writer(store_path, pairs_path, text_col="text",
                         id_col="doc_id", num_hashes=32, bands=8,
                         k=3, threshold=0.5):
    """foreachBatch prober for streaming MinHash near-dup dedup: each
    micro-batch is MinHash-signed and banded, and the batch
    operator's candidate join + verify (dedup._minhash_pairs) runs
    on (batch, batch) and on (batch, store of every EARLIER batch).
    Pairs with est_jaccard >= threshold land in ``pairs_path``; the
    batch's banded signatures (id, minhash, band, bucket) are
    appended to the store, whose band-0 rows give each stored doc's
    signature once for the verify.

    Both sinks are idempotent under an at-least-once replay
    (batch_sink, read_store). Exact-Jaccard verification on the
    emitted candidates composes downstream (dedup.ngram_jaccard_pairs
    over the corpus table) — the store deliberately holds signatures
    only, never text, so its footprint is ~300 B/doc at any corpus
    scale."""
    from ..operators.dedup import (_minhash_pairs, minhash_band_keys,
                                   minhash_signatures_md5)

    def outputs(batch_df, batch_id):
        sigs = minhash_signatures_md5(
            batch_df, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, k=k).localCheckpoint()
        banded = minhash_band_keys(sigs, id_col=id_col,
                                   num_hashes=num_hashes,
                                   bands=bands)
        pairs = _minhash_pairs(banded, banded, sigs, sigs, id_col)
        store = read_store(batch_df.sparkSession, store_path,
                           batch_id)
        if store is not None:
            pairs = pairs.union(_minhash_pairs(
                banded, store, sigs, store.where(F.col("band") == 0),
                id_col))
        return [(pairs.filter(F.col("est_jaccard") >= threshold),
                 pairs_path),
                (banded, store_path)]

    return batch_sink(outputs)


def streaming_minhash_dedup(spark, docs_path, store_path, pairs_path,
                            checkpoint_path, schema=None,
                            text_col="text", id_col="doc_id",
                            num_hashes=32, bands=8, k=3,
                            threshold=0.5, max_files_per_trigger=1,
                            trigger_once=True):
    """Streaming MinHash-LSH near-dup ingest over an append-only
    documents table: file-source stream -> minhash_probe_writer.
    The streaming checkpoint tracks file progress, so a restart (or
    a grown table) processes only new files and the signature store
    keeps accumulating — the incremental form of the batch
    minhash_near_dups operator. A fresh checkpoint_path restarts
    batch numbering from 0 and must be paired with fresh
    store/pairs paths."""
    return file_stream(
        spark, schema or DOCUMENTS_SCHEMA, docs_path,
        minhash_probe_writer(store_path, pairs_path,
                             text_col=text_col, id_col=id_col,
                             num_hashes=num_hashes, bands=bands, k=k,
                             threshold=threshold),
        checkpoint_path, max_files_per_trigger, trigger_once)


def simhash_probe_writer(store_path, pairs_path, text_col="text",
                         id_col="doc_id", max_hamming=3, blocks=4,
                         hash_bits=28, k=3):
    """foreachBatch prober for streaming SimHash near-dup dedup — the
    pigeonhole-blocked Hamming twin of :func:`minhash_probe_writer`.
    Each micro-batch is simhashed (the oracle-able md5-28bit form by
    default) and blocked, and the batch operator's candidate join +
    Hamming verify (dedup._simhash_pairs) runs on (batch, batch) and
    on (batch, store of every EARLIER batch). The blocking must keep
    simhash_near_dups' recall guarantee (blocks >= max_hamming + 1),
    checked here once. The store holds (id, simhash, block, key)
    only — ~40 B/doc, never text; both sinks are idempotent under an
    at-least-once replay (batch_sink, read_store)."""
    from ..operators.dedup import (_check_simhash_blocking,
                                   _simhash_pairs, simhash_block_keys,
                                   simhash_md5)
    _check_simhash_blocking(max_hamming, blocks, hash_bits)

    def outputs(batch_df, batch_id):
        sim = simhash_md5(batch_df, text_col=text_col, id_col=id_col,
                          k=k, hash_bits=hash_bits).localCheckpoint()
        blocked = simhash_block_keys(sim, id_col=id_col,
                                     blocks=blocks,
                                     hash_bits=hash_bits)
        pairs = _simhash_pairs(blocked, blocked, id_col, max_hamming)
        store = read_store(batch_df.sparkSession, store_path,
                           batch_id)
        if store is not None:
            pairs = pairs.union(_simhash_pairs(blocked, store, id_col,
                                               max_hamming))
        return [(pairs, pairs_path), (blocked, store_path)]

    return batch_sink(outputs)


def streaming_simhash_dedup(spark, docs_path, store_path, pairs_path,
                            checkpoint_path, schema=None,
                            text_col="text", id_col="doc_id",
                            max_hamming=3, blocks=4, hash_bits=28,
                            k=3, max_files_per_trigger=1,
                            trigger_once=True):
    """Streaming SimHash near-dup ingest over an append-only
    documents table: file-source stream -> simhash_probe_writer.
    Incremental form of the batch simhash_near_dups operator; same
    restart/compaction contract as streaming_minhash_dedup (the
    signature store compacts with compact_signature_store)."""
    return file_stream(
        spark, schema or DOCUMENTS_SCHEMA, docs_path,
        simhash_probe_writer(store_path, pairs_path,
                             text_col=text_col, id_col=id_col,
                             max_hamming=max_hamming, blocks=blocks,
                             hash_bits=hash_bits, k=k),
        checkpoint_path, max_files_per_trigger, trigger_once)


def embedding_probe_writer(sketch_path, vec_path, pairs_path,
                           id_col="vec_id", vec_col="embedding",
                           threshold=0.95, bits=16, bands=4,
                           seed=42):
    """foreachBatch prober for streaming embedding-cosine near-dup —
    completing the streaming triad (MinHash, SimHash, hyperplane
    LSH). Unlike the text probers, the exact verify needs the FULL
    vectors, which are ~100x the sketch size — so the state splits
    into TWO stores instead of one: a sketch store (id, band, key —
    ~12 B/row, the probe join side) and a vector store (id, vec —
    written once per doc, fetched only for candidate pairs). Storing
    vectors per banded row, the single-store layout the text probers
    use, would multiply the dominant footprint by ``bands``.

    Per micro-batch, ONE sketch pass derives the batch's band keys,
    and the batch operator's candidate join + attach-join verify
    (dedup._embedding_pairs, the JVM-fold cosine twin) runs on
    (batch, batch) and on (batch, sketch + vector stores of every
    EARLIER batch). Both stores and the pairs sink are idempotent
    under an at-least-once replay (batch_sink, read_store). The
    hyperplane planes are a deterministic function of (seed, dim), so
    every batch derives identical keys; the embedding dimension must
    be constant across the stream."""
    from ..operators.dedup import _embedding_keys, _embedding_pairs

    def outputs(batch_df, batch_id):
        spark = batch_df.sparkSession
        keys = _embedding_keys(batch_df, id_col, vec_col, bits, bands,
                               seed)
        pairs = _embedding_pairs(keys, keys, batch_df, batch_df,
                                 id_col, vec_col, threshold)
        sketches = read_store(spark, sketch_path, batch_id)
        old_vecs = read_store(spark, vec_path, batch_id)
        if sketches is not None and old_vecs is not None:
            pairs = pairs.union(_embedding_pairs(
                keys, sketches, batch_df, old_vecs, id_col, vec_col,
                threshold))
        return [(pairs, pairs_path), (keys, sketch_path),
                (batch_df.select(id_col, vec_col), vec_path)]

    return batch_sink(outputs)


def streaming_embedding_dedup(spark, emb_path, sketch_path, vec_path,
                              pairs_path, checkpoint_path,
                              schema=None, id_col="vec_id",
                              vec_col="embedding", threshold=0.95,
                              bits=16, bands=4, seed=42,
                              max_files_per_trigger=1,
                              trigger_once=True):
    """Streaming embedding near-dup ingest over an append-only
    embeddings table: file-source stream -> embedding_probe_writer.
    Incremental form of the batch embedding_near_dups operator; same
    restart contract as the other streaming dedup wrappers. Both
    stores compact with compact_signature_store."""
    return file_stream(
        spark,
        # the testdata embeddings-table shape
        schema or "vec_id long, embedding array<float>, label int",
        emb_path,
        embedding_probe_writer(sketch_path, vec_path, pairs_path,
                               id_col=id_col, vec_col=vec_col,
                               threshold=threshold, bits=bits,
                               bands=bands, seed=seed),
        checkpoint_path, max_files_per_trigger, trigger_once)


def compact_signature_store(spark, store_path, target_files=8):
    """Rewrite the signature store's committed batch partitions into
    ONE compact partition (batch_id = -1, which every future probe's
    ``batch_id < current`` filter still includes). Run between
    streaming runs (stream stopped): compaction keeps probe-side scan
    cost flat as micro-batches accumulate, and replay idempotence is
    unaffected because only the in-flight batch ever replays."""
    store = spark.read.parquet(store_path)
    compacted = (store.drop("batch_id")
                 .withColumn("batch_id", F.lit(-1))
                 .repartition(target_files)
                 .localCheckpoint())    # read fully before overwrite
    (compacted.write.mode("overwrite")
     .partitionBy("batch_id").parquet(store_path))
    return compacted.count()


def decontaminate_writer(bench_grams_df, out_path, text_col="text",
                         id_col="doc_id", n=13):
    """foreachBatch writer for streaming benchmark decontamination:
    each micro-batch's docs are probed against the STATIC benchmark
    gram set (dedup.contamination_flags — broadcast bench side, no
    corpus-side text shuffle) and only clean rows land in
    ``out_path``. Stateless across batches (the benchmark never
    changes mid-stream), so exactly-once comes purely from the
    idempotent batch_sink: a replayed batch replaces its own output
    partition bit-for-bit.

    ``bench_grams_df`` is the raw benchmark docs frame (any frame
    with a text column); gram extraction happens per batch on the
    bench side too, but Spark caches the broadcast after the first
    build — pass ``.cache()``'d input if the suite is large."""
    from ..operators.dedup import contamination_flags

    def outputs(batch_df, batch_id):
        clean = (contamination_flags(batch_df, bench_grams_df,
                                     text_col=text_col,
                                     id_col=id_col, n=n)
                 .filter("NOT contaminated")
                 .drop("n_contaminated_grams", "contaminated"))
        return [(clean, out_path)]
    return batch_sink(outputs)


def streaming_decontaminate(spark, docs_path, bench_path, out_path,
                            checkpoint_path, schema=None,
                            text_col="text", id_col="doc_id", n=13,
                            max_files_per_trigger=1,
                            trigger_once=True):
    """Streaming ingest decontamination: file-source stream over an
    append-only documents table -> decontaminate_writer against a
    static benchmark parquet. Restart processes only new files (the
    streaming checkpoint tracks progress); the union of all clean
    partitions equals batch decontaminate() on the full table."""
    bench = spark.read.parquet(bench_path).cache()
    return file_stream(
        spark, schema or DOCUMENTS_SCHEMA, docs_path,
        decontaminate_writer(bench, out_path, text_col=text_col,
                             id_col=id_col, n=n),
        checkpoint_path, max_files_per_trigger, trigger_once)
