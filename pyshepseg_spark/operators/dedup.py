"""Deduplication operators for large-scale training-data pipelines.

First-class engine components (driver brief): exact hash dedup,
MinHash+LSH, SimHash, n-gram Jaccard verification, and
embedding-cosine near-dup — all expressed Spark-first:

- shingle hashing is md5-28bit (:func:`_py_norm_grams_md5`), so the
  DuckDB oracles replay every signature bit-for-bit; gram hashing,
  signature minima, SimHash bit sums and gram sets run as vectorized
  Arrow pandas UDFs (Catalyst higher-order functions run interpreted),
  never per-row Python UDFs. Content and LSH band keys are xxhash64,
  JVM-side.
- LSH banding turns the quadratic all-pairs problem into an
  equi-join on (band, bucket-hash): the shuffle is proportional to
  candidate-pair count, and AQE skew-join splits hot buckets.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

# 31-bit Mersenne prime for the oracle-able (cross-engine) hash path:
# 28-bit md5 shingle hashes x 31-bit coefficients stay < 2^59, so
# (a*h + b) % P31 is exact in int64 on every engine — no wraparound.
P31 = (1 << 31) - 1


def _py_norm_grams_md5(norm: str, k: int) -> list[int]:
    """md5-28bit hashes of the word k-grams of an ALREADY-NORMALIZED
    string (:func:`normalized_text` output: lowered, single spaces,
    trimmed) — the engine's one shingle hash:

    - tokens are ``norm.split(" ")`` ('' splits to ['']);
    - gram i, for 0 <= i <= max(ntok - k, 0), is tokens i..i+k-1
      joined by single spaces, truncated at the end, so a doc with
      fewer than k tokens yields one whole-text gram;
    - each gram hashes to the first 7 hex digits of its utf-8 md5
      as an integer, < 2^28.

    ANSI SQL computes the same hash as
    ``CAST('0x' || substr(md5(g), 1, 7) AS BIGINT)``, so the DuckDB
    oracles (``__spark_entry__._shingle_cte``) replay every gram
    bit-for-bit. Python rather than a JVM transform/slice/md5 chain:
    Catalyst runs higher-order functions interpreted (r06 measured
    2.5 s for that chain alone at sf1.0), while MD5 is MD5
    everywhere."""
    import hashlib
    words = norm.split(" ")
    upper = max(len(words) - k, 0)
    return [
        int(hashlib.md5(
            " ".join(words[i:i + k]).encode("utf-8"))
            .hexdigest()[:7], 16)
        for i in range(upper + 1)]


def minhash_coeffs(num_hashes=32, seed=42):
    """Deterministic (a, b) coefficient pairs < P31, shared between
    the Spark pipeline and generated oracle SQL."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, size=num_hashes)
    b = rng.integers(0, P31, size=num_hashes)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def minhash_signatures_md5(docs, text_col="text", id_col="doc_id",
                           num_hashes=32, k=5, seed=42):
    """Oracle-able MinHash signatures: md5-28bit shingles
    (:func:`_py_norm_grams_md5`), exact (a*h+b) % P31 minima, both
    in one vectorized Arrow pass. r06: the minima move from an interpreted
    HOF aggregate (array accumulator rebuilt via zip_with per
    shingle — Catalyst HOFs get no codegen) to one vectorized Arrow
    pass: (a*h+b) % P31 is exact in uint64 (h < 2^28, a < 2^31 →
    products < 2^59, no wraparound), so the numpy minima are
    bit-identical to the JVM fold's (measured 3.43 s -> see
    OPTIMIZATION_r06.md on the minhash_near_dups slot; outputs
    verified equal at sf0.001..1.0). A doc with a NULL/empty
    shingle array keeps the P31 init vector, exactly as the
    aggregate's initial accumulator would survive."""
    from .skew import spread_small_scan
    coeffs = minhash_coeffs(num_hashes, seed)
    a_co = np.asarray([a for a, _ in coeffs], dtype=np.uint64)
    b_co = np.asarray([b for _, b in coeffs], dtype=np.uint64)
    p31 = np.uint64(P31)

    @pandas_udf("array<long>")
    def sig(norm: pd.Series) -> pd.Series:
        out = []
        for nt in norm:
            if nt is None:
                # NULL text has no shingle array, so no signature
                out.append(None)
                continue
            x = np.asarray(_py_norm_grams_md5(nt, k),
                           dtype=np.uint64)
            vals = (x[None, :] * a_co[:, None] + b_co[:, None]) % p31
            out.append(vals.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    docs = spread_small_scan(docs)
    return docs.select(
        id_col,
        sig(normalized_text(F.col(text_col))).alias("minhash"))


def simhash_md5(docs, text_col="text", id_col="doc_id", k=3,
                hash_bits=28):
    """Oracle-able 28-bit SimHash: per bit position, the sign of
    sum(+-1) over shingle-hash bits. The md5 shingling
    (:func:`_py_norm_grams_md5`) and the per-bit sign sums are one
    vectorized Arrow pass
    (r06 — previously 28 scalar HOF folds over the shingle array,
    each interpreted per element: the round-3 A/B showed HOF array
    accumulators are 6.6x WORSE than scalar folds, and this round's
    measurement showed even the scalar folds dominate the query at
    5.7 s/sf1.0; pure integer popcount arithmetic is bit-exact in
    numpy, outputs verified equal at sf0.001..1.0). A NULL/empty
    shingle array yields word 0, exactly as 28 empty folds (acc 0,
    no bit > 0) did."""
    from .skew import spread_small_scan
    shifts = np.arange(hash_bits, dtype=np.int64)

    @pandas_udf("long")
    def sim(norm: pd.Series) -> pd.Series:
        out = np.zeros(len(norm), dtype=np.int64)
        for i, nt in enumerate(norm):
            if nt is None:
                continue       # NULL text folded to word 0 before
            x = np.asarray(_py_norm_grams_md5(nt, k),
                           dtype=np.int64)
            bits = (x[:, None] >> shifts[None, :]) & 1
            v = (2 * bits - 1).sum(axis=0)
            out[i] = int(((v > 0).astype(np.int64) << shifts).sum())
        return pd.Series(out)

    docs = spread_small_scan(docs)
    return docs.select(
        id_col,
        sim(normalized_text(F.col(text_col))).alias("simhash"))


def normalized_text(col):
    """lower + collapse whitespace: the canonical form for dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def with_content_hash(docs, text_col="text"):
    """``docs`` + content_hash = xxhash64 of the normalized text: the
    one exact-duplicate key, shared by :func:`exact_duplicates` and
    the streaming exact dedup, so batch and streaming agree
    bit-for-bit on what counts as a duplicate."""
    return docs.withColumn(
        "content_hash", F.xxhash64(normalized_text(F.col(text_col))))


def exact_duplicates(docs, text_col="text", id_col="doc_id"):
    """Exact dedup by content hash (hash-groupBy): returns groups
    with >1 docs. xxhash64 is JVM-side; the only shuffle is the
    groupBy on the 64-bit key."""
    return (with_content_hash(docs, text_col)
            .groupBy("content_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


# --- the LSH candidate join and the per-family verifies -----------
#
# Every near-dup family below (MinHash, SimHash, hyperplane
# embedding) has ONE candidate join and ONE verify, each taking a
# left and a right keyed frame (id, key columns[, value]). The batch
# operators pass the same frame on both sides (a self-join, which
# keeps l < r only); the streaming probers (streaming/dedup.py) pass
# (this micro-batch, the store of earlier batches). Either way a pair
# comes out once, oriented a = least(l, r), b = greatest(l, r).

def _key_join(left, right, id_col, keys, carry=None):
    """(l, r[, <carry>_l, <carry>_r]) for every pair of ids of
    ``left`` and ``right`` that share a ``keys`` value — the LSH
    candidate join. Only (id, keys, carry) enter the join exchange:
    decide with small rows."""
    def side(df, s):
        extra = [F.col(carry).alias(f"{carry}_{s}")] if carry else []
        return df.select(F.col(id_col).alias(s), *keys, *extra)
    j = side(left, "l").join(side(right, "r"), keys)
    if left is right:
        j = j.filter(F.col("l") < F.col("r"))
    return j


def _attach(cand, left, right, id_col, col):
    """Attach each candidate pair's two values: ``left``'s ``col`` on
    l (as v_l) and ``right``'s on r (as v_r). Run it on DISTINCT
    pairs, so each pair fetches its two values exactly once."""
    return (cand
            .join(left.select(F.col(id_col).alias("l"),
                              F.col(col).alias("v_l")), "l")
            .join(right.select(F.col(id_col).alias("r"),
                               F.col(col).alias("v_r")), "r"))


def _oriented(df, *cols):
    return df.select(F.least("l", "r").alias("a"),
                     F.greatest("l", "r").alias("b"), *cols)


def _minhash_pairs(left, right, left_sigs, right_sigs, id_col):
    """The one MinHash candidate join + verify: (a, b, est_jaccard)
    for the distinct id pairs sharing a (band, bucket) of the keyed
    frames ``left``/``right`` (:func:`minhash_band_keys` rows), with
    est_jaccard the signature position-match fraction. The
    signatures are attached per distinct pair from
    ``left_sigs``/``right_sigs`` (one (id, minhash) row per id), so
    they never ride through the band join's exchanges (r06: ~2x120
    MB at sf1.0 for 18k real candidates)."""
    cand = (_key_join(left, right, id_col, ["band", "bucket"])
            .select("l", "r").distinct())
    match = F.aggregate(
        F.zip_with("v_l", "v_r",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return _oriented(_attach(cand, left_sigs, right_sigs, id_col,
                             "minhash"),
                     (match / F.size("v_l")).alias("est_jaccard"))


def minhash_band_keys(signatures, id_col="doc_id", num_hashes=64,
                      bands=16):
    """Explode a signature frame into one row per (band, bucket) key:
    bucket = xxhash64 of the band's signature slice. Shared by the
    batch self-join (minhash_lsh_pairs) and the streaming signature
    store (streaming/dedup.py) so both derive IDENTICAL keys."""
    rows_per_band = num_hashes // bands
    return signatures.select(
        id_col, "minhash",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bi: F.xxhash64(F.concat_ws(
                ",", F.transform(
                    F.slice("minhash", bi * rows_per_band + 1,
                            rows_per_band),
                    lambda v: v.cast("string")))))).alias("band",
                                                          "bucket"))


def minhash_lsh_pairs(signatures, id_col="doc_id", num_hashes=64,
                      bands=16):
    """LSH banding: hash each band of the signature, equi-join docs
    sharing a (band, bucket); candidate pairs deduped by (a < b) and
    scored by :func:`_minhash_pairs`.

    The signature frame is barriered (localCheckpoint) before the
    fan-out. Without it CollapseProject re-inlines the signature
    expression into the band posexplode and BOTH self-join sides
    (~3-4 evaluations per doc; interpreted HOFs get no codegen CSE —
    PERF.md round-4/5 A/B), a measured ~35% tax on the full
    minhash_near_dups shape at sf0.1 (PERF.md round 5: 1.24 s ->
    0.81 s median)."""
    signatures = signatures.localCheckpoint(eager=False)
    banded = minhash_band_keys(signatures, id_col=id_col,
                               num_hashes=num_hashes, bands=bands)
    return _minhash_pairs(banded, banded, signatures, signatures,
                          id_col)


def ngram_jaccard_pairs(docs, cand_pairs, text_col="text",
                        id_col="doc_id", k=5, threshold=0.7):
    """Exact n-gram Jaccard verification of candidate pairs: join the
    word k-gram sets (:func:`word_gram_sets` over
    :func:`normalized_text`) back on both sides, intersect/union
    JVM-side. The sets hold the gram strings themselves, so the
    Jaccard is exact (no hash collisions).

    r06: shingle sets are built only for docs that appear in a
    candidate pair (semi-join prefilter) — the verify cost scales
    with duplicates, not corpus (the same shape the ngram_jaccard
    contract query uses). Exactly equivalent: docs outside every
    candidate pair can never survive the inner joins on a/b.
    cand_pairs is barriered first because it now feeds three
    consumers (the id prefilter and both verify joins) and an
    unbarriered LSH candidate join would re-run per consumer. The
    gram-set frame is barriered too: it feeds both verify joins, and
    an unbarriered UDF projection is re-inlined per consumer."""
    cand_pairs = cand_pairs.localCheckpoint(eager=False)
    ids = (cand_pairs.select(F.col("a").alias(id_col))
           .union(cand_pairs.select(F.col("b").alias(id_col)))
           .distinct())
    norm = docs.join(ids, id_col, "left_semi").select(
        F.col(id_col),
        normalized_text(F.col(text_col)).alias("norm_text"))
    sh = (word_gram_sets(norm, text_col="norm_text", id_col=id_col,
                         k=k)
          .withColumnRenamed("grams", "sh")
          .localCheckpoint(eager=False))
    a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    j = (cand_pairs.join(a, "a").join(b, "b")
         .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
         .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
         .withColumn("jaccard",
                     F.when(F.col("uni") > 0,
                            F.col("inter") / F.col("uni"))
                     .otherwise(F.lit(0.0))))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def simhash_block_keys(sim, id_col="doc_id", blocks=4,
                       hash_bits=64):
    """One row per (doc, block) with key = that block's bit slice of
    the simhash. Shared by the batch self-join (simhash_near_dups)
    and the streaming signature store (streaming/dedup.py) so both
    derive IDENTICAL pigeonhole block keys. Callers own the
    blocks/max_hamming recall validation (simhash_near_dups)."""
    width = hash_bits // blocks
    mask = (1 << width) - 1
    return sim.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            (F.shiftrightunsigned("simhash", i * width)
             .bitwiseAND(F.lit(mask))) for i in range(blocks)
        ])).alias("block", "key"))


def _check_simhash_blocking(max_hamming, blocks, hash_bits,
                            allow_recall_loss=False):
    """The pigeonhole recall contract of SimHash blocking (see
    :func:`simhash_near_dups`)."""
    if hash_bits % blocks != 0:
        raise ValueError(
            f"hash_bits={hash_bits} not divisible by blocks={blocks}:"
            " uncovered bits break the pigeonhole guarantee")
    if not allow_recall_loss and blocks < max_hamming + 1:
        raise ValueError(
            f"recall guarantee needs blocks >= max_hamming + 1 "
            f"(got blocks={blocks}, max_hamming={max_hamming}); pass "
            "allow_recall_loss=True for best-effort blocking")


def _simhash_pairs(left, right, id_col, max_hamming):
    """The one SimHash candidate join + verify: (a, b, hamming) for
    the id pairs sharing a (block, key) of the keyed frames
    ``left``/``right`` (:func:`simhash_block_keys` rows) within
    ``max_hamming`` bits. The 8-byte hash rides through the join, and
    the verify + threshold run BEFORE the dedup, so the distinct
    shuffles only surviving rows, not raw candidates."""
    ham = F.bit_count(F.col("simhash_l").bitwiseXOR(F.col("simhash_r")))
    return (_oriented(_key_join(left, right, id_col, ["block", "key"],
                                carry="simhash"),
                      ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def simhash_near_dups(sim, id_col="doc_id", max_hamming=3,
                      blocks=4, hash_bits=64,
                      allow_recall_loss=False):
    """Near-dup pairs by SimHash: block the hash_bits-wide hash into
    ``blocks`` segments, equi-join per block, verify Hamming distance
    with bit_count (JVM-side; :func:`_simhash_pairs`). Pass
    hash_bits=28 for the md5/oracle hash so block keys cover the
    varying bits (blocks of zeros would degenerate to an all-pairs
    join).

    Recall guarantee (pigeonhole): a pair within ``max_hamming``
    differs in at most ``max_hamming`` blocks, so it is found iff
    ``blocks >= max_hamming + 1`` AND every bit is covered
    (``hash_bits`` divisible by ``blocks``). Both are enforced;
    ``allow_recall_loss=True`` opts into cheaper best-effort blocking
    (wider keys, fewer candidates, recall < 1 for pairs whose
    differing bits spread across every block).

    The signature frame is barriered before the fan-out (the
    minhash_lsh_pairs lesson). Without it, BOTH self-join sides
    re-derive the full signature chain, AND the isnotnull filter
    Catalyst infers from the join keys duplicates the signature
    evaluation per side and pushes one copy BELOW the
    spread_small_scan exchange — a serial single-split pass
    (measured: 5.7 s -> 39 s when the signatures became a Python
    UDF; barriered: one signature pass total)."""
    _check_simhash_blocking(max_hamming, blocks, hash_bits,
                            allow_recall_loss)
    exploded = simhash_block_keys(sim.localCheckpoint(eager=False),
                                  id_col=id_col, blocks=blocks,
                                  hash_bits=hash_bits)
    return _simhash_pairs(exploded, exploded, id_col, max_hamming)


# Java regex \s (no UNICODE_CHARACTER_CLASS) = [ \t\n\x0B\f\r] — the
# exact class Spark's split(col, "\\s+") compiles. re.split keeps
# leading/trailing empty strings just like Java split with limit=-1
# (Spark's default).
_JAVA_WS_RUN = None


def _py_lower_ws_grams(text: str, k: int) -> list[str]:
    """DISTINCT word k-gram strings of ``lower(text)`` split on
    Java-``\\s+`` — the exact Python twin of
    ``array_distinct(transform(sequence(0, greatest(size(w)-k, 0)),
    i -> concat_ws(' ', slice(w, i+1, k))))`` over
    ``w = split(lower(text), '\\s+')``:

    - ``str.lower()`` == JVM ``Lower`` for this engine's text inputs
      (UTF8String.toLowerCase is the ASCII byte map on ASCII strings
      and Locale.ROOT String.toLowerCase otherwise — identical to
      Python's Unicode default case conversion on every BMP string
      without locale-special forms; the parity test pins mixed-case
      rows and the output A/B covers the corpus).
    - the split pattern is Java's ASCII ``\\s`` class (NOT Python's
      Unicode ``\\s``), and ``re.split`` keeps leading/trailing empty
      tokens exactly like Java ``split(regex, -1)`` (Spark's
      ``limit=-1`` default — '' yields [''], whole-text gram '').
    - ``' '.join(words[i:i+k])`` == ``concat_ws(' ', slice(...))``
      (slice truncates at the end; empty-string tokens are kept by
      both, NULL tokens cannot occur in a split result).
    - ``dict.fromkeys`` == ``array_distinct`` (first-occurrence
      order; order is irrelevant to the set ops downstream anyway).
    """
    global _JAVA_WS_RUN
    if _JAVA_WS_RUN is None:
        import re
        _JAVA_WS_RUN = re.compile("[ \t\n\x0b\f\r]+")
    words = _JAVA_WS_RUN.split(text.lower())
    upper = max(len(words) - k, 0)
    return list(dict.fromkeys(
        " ".join(words[i:i + k]) for i in range(upper + 1)))


def word_gram_sets(docs, text_col="text", id_col="doc_id", k=3):
    """(id, grams) with grams = DISTINCT word k-gram strings of the
    lowered, Java-``\\s+``-split text — the verify-side gram builder
    for exact n-gram Jaccard (one vectorized Arrow pass; the JVM form
    is an interpreted transform + slice + concat_ws HOF chain per
    gram with no codegen — the same cost center the md5 signature
    twins removed, see _py_norm_grams_md5). NULL text yields ``['']``
    exactly like the JVM chain: ``size(NULL) = -1`` (legacy
    sizeOfNull) makes the index sequence ``[0]``, ``slice(NULL)`` is
    NULL, and ``concat_ws`` SKIPS a NULL array argument, yielding
    ``''`` — pinned by the parity test's NULL row.

    Callers joining the result more than once (e.g. a verify join on
    both pair sides) should barrier it (localCheckpoint) — Catalyst
    re-inlines UDF projections per consumer and can push one copy
    below an exchange (the r06 simhash lesson)."""

    @pandas_udf("array<string>")
    def grams(txt: pd.Series) -> pd.Series:
        return pd.Series([
            [""] if t is None else _py_lower_ws_grams(t, k)
            for t in txt])

    return docs.select(F.col(id_col), grams(F.col(text_col)).alias("grams"))


def gram_positions_md5(docs, text_col="text", id_col="doc_id", k=20):
    """(id, ntok, pos, gh) rows: one per token position, where gh is
    the md5-28bit hash of the k-token gram starting at pos (0-based,
    over the whitespace-normalized token stream): the
    :func:`_py_norm_grams_md5` grams with their positions (a doc
    shorter than k tokens emits one gram of the whole text) —
    md5-28bit so a DuckDB oracle replays the stream bit-for-bit.

    Scale shape: the output is one row per token — the linear,
    embarrassingly-parallel exchange any substring-level pass must
    pay; no shuffle happens here (project + one vectorized Arrow
    pass + generate). r06: the gram hashes come from the Python md5
    twin (_py_norm_grams_md5 — bit-identical, see there) instead of
    an interpreted slice/concat_ws/md5 HOF per gram; posexplode of
    the returned array preserves (pos, gh) exactly, and a NULL text
    yields a NULL array, which posexplode drops like the old NULL
    transform."""

    @pandas_udf("array<long>")
    def gh_arr(norm: pd.Series) -> pd.Series:
        return pd.Series([
            None if nt is None else _py_norm_grams_md5(nt, k)
            for nt in norm])

    norm = normalized_text(F.col(text_col))
    d = docs.select(F.col(id_col),
                    F.size(F.split(norm, " ")).alias("ntok"),
                    gh_arr(norm).alias("gh_arr"))
    return d.select(
        F.col(id_col), "ntok",
        F.posexplode("gh_arr").alias("pos", "gh"))


def duplicated_spans(docs, text_col="text", id_col="doc_id", k=20,
                     scope="cross_doc"):
    """Exact substring dedup (the missing member of the dedup family
    next to doc-level exact/MinHash/SimHash): maximal token spans
    whose every k-gram occurs elsewhere in the corpus — the
    distributed Spark form of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"), which removes repeated passages (boilerplate,
    licenses, quoted chunks) that doc-level dedup cannot see.

    Semantics (exact for this granularity): a token position is
    *marked* iff its k-gram hash occurs in >= 2 distinct docs
    (``scope="cross_doc"``), >= 2 times anywhere in the corpus incl.
    within one doc (``scope="any"``), or >= 2 times inside its OWN
    doc (``scope="within_doc"`` — the Gopher repetition-signal
    scope); maximal runs of marked positions are the spans. Every substring of length >= k repeated verbatim in the
    corpus is fully covered by a span (each of its k-grams repeats);
    conversely each reported span is a run of k-grams that each repeat
    somewhere — possibly against different partners, the standard
    relaxation vs a suffix array (which this shares with production
    pipelines built on the same marking idea).

    Returns (id, span_start, span_end, n_tokens) with token indices
    0-based inclusive and span_end capped at the doc's last token
    (short-doc grams cover the whole doc, not k tokens).

    Scale shape: one linear gram pass (gram_positions_md5, barriered
    — the frame feeds both the dup-hash agg and the
    join-back, the minhash_lsh_pairs fan-out lesson); the dup-hash
    groupBy partial-aggregates map-side and its output scales with
    DISTINCT grams; the join-back is an equi-join on gh (AQE splits
    hot boilerplate hashes); the islands window partitions per doc
    over only the MARKED positions — state scales with duplicated
    content, never the corpus. No all-pairs anywhere."""
    from pyspark.sql import Window

    from .skew import spread_small_scan
    grams = (gram_positions_md5(spread_small_scan(docs),
                                text_col=text_col, id_col=id_col, k=k)
             .localCheckpoint(eager=False))
    if scope == "cross_doc":
        dup = (grams.groupBy("gh")
               .agg(F.countDistinct(id_col).alias("nd"))
               .filter(F.col("nd") >= 2).select("gh"))
        marked = grams.join(dup, "gh")
    elif scope == "any":
        dup = (grams.groupBy("gh").agg(F.count("*").alias("n"))
               .filter(F.col("n") >= 2).select("gh"))
        marked = grams.join(dup, "gh")
    elif scope == "within_doc":
        dup = (grams.groupBy(id_col, "gh")
               .agg(F.count("*").alias("n"))
               .filter(F.col("n") >= 2).select(id_col, "gh"))
        marked = grams.join(dup, [id_col, "gh"])
    else:
        raise ValueError(f"unknown scope {scope!r}: expected "
                         "cross_doc | any | within_doc")
    marked = marked.select(id_col, "ntok", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(w))
    return (isl.groupBy(id_col, "grp")
            .agg(F.min("pos").alias("span_start"),
                 F.least(F.max("pos") + F.lit(k - 1),
                         F.max("ntok") - F.lit(1)).alias("span_end"))
            .select(id_col, "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("n_tokens")))


def remove_duplicated_spans(docs, text_col="text", id_col="doc_id",
                            k=20, scope="cross_doc",
                            min_span_tokens=None):
    """Rewrite each doc with its duplicated spans cut out (the
    train-data consumption form of duplicated_spans): tokens covered
    by any reported span are dropped, survivors are re-joined in
    order. Returns (id, clean_text) for EVERY input doc — a fully
    duplicated doc comes back with clean_text = ''.

    ``min_span_tokens`` keeps spans shorter than the threshold (i.e.
    only cuts long repeats, the Lee-et-al. protocol where only
    >=50-token repeats are removed).

    Scale shape: span explosion scales with duplicated tokens; the
    token rebuild is one groupBy per doc carrying (pos, tok) structs —
    linear in corpus size, the unavoidable cost of rewriting text."""
    spans = duplicated_spans(docs, text_col=text_col, id_col=id_col,
                             k=k, scope=scope)
    if min_span_tokens:
        spans = spans.filter(F.col("n_tokens") >= min_span_tokens)
    covered = spans.select(
        F.col(id_col),
        F.explode(F.sequence("span_start", "span_end")).alias("pos"))
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(normalized_text(F.col(text_col)), " "))
        .alias("pos", "tok"))
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"])).alias("clean_text"))
    return (docs.select(id_col).join(rebuilt, id_col, "left")
            .fillna({"clean_text": ""}))


# Pair lists up to this many edges run connected components as one
# driver collect + union-find; longer ones take the distributed
# label propagation.
_CC_DRIVER_EDGES = 2_000_000


def connected_components(edges):
    """Connected components of an (a long, b long) edge list. Returns
    (v, root) with root = min vertex id of v's component.

    Hybrid strategy: the near-dup pair list scales with duplicates,
    not corpus size, so up to ``_CC_DRIVER_EDGES`` edges a driver-side
    union-find (one collect, zero shuffle rounds) is both faster and
    simpler; beyond that the distributed label propagation of
    :func:`_cc_distributed` takes over."""
    # single probe job: collect up to threshold+1 rows and decide —
    # if the list fits, those rows ARE the union-find input (no
    # second collect/count job)
    rows = edges.limit(_CC_DRIVER_EDGES + 1).collect()
    if len(rows) <= _CC_DRIVER_EDGES:
        # a local relation: the planner sizes it exactly, so a
        # downstream join broadcasts it without a hint
        return _cc_driver(edges.sparkSession, rows)
    return _cc_distributed(edges)


def _cc_driver(spark, rows):
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r["a"]), find(r["b"])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    verts = {r["a"] for r in rows} | {r["b"] for r in rows}
    return spark.createDataFrame([(v, find(v)) for v in verts],
                                 "v long, root long")


def _cc_distributed(edges):
    """Distributed min-label propagation. A label moves one hop per
    round, so the loop runs until no root changes: any fixed round
    cap would split every component whose diameter exceeds it. It
    terminates because every change strictly lowers a root.
    localCheckpoint between rounds cuts lineage (SURVEY.md §7 hard
    part 5)."""
    sym = (edges.select(F.col("a").alias("v"), F.col("b").alias("n"))
           .union(edges.select(F.col("b").alias("v"),
                               F.col("a").alias("n")))
           .distinct().localCheckpoint())
    labels = (sym.select("v").distinct()
              .withColumn("root", F.col("v")).localCheckpoint())
    while True:
        # sym is symmetric, so every v has a candidate
        cand = (sym.join(labels.select(F.col("v").alias("n"),
                                       F.col("root").alias("nroot")),
                         "n")
                .groupBy("v").agg(F.min("nroot").alias("cand")))
        new = (labels.join(cand, "v")
               .select("v", F.least("root", "cand").alias("root"),
                       (F.col("cand") < F.col("root")).alias("moved"))
               .localCheckpoint())
        labels = new.select("v", "root")
        if new.filter("moved").count() == 0:
            return labels


def duplicate_groups(pairs, a_col="a", b_col="b"):
    """Transitive dedup clusters: :func:`connected_components` over
    the near-dup pair list. Returns (doc_id, group_rep) with
    group_rep = min doc id of the cluster — the canonical
    representative to keep.

    Integer ids run through CC directly. Non-integer ids (URLs,
    UUIDs, content hashes — the common real-corpus case) are
    xxhash64'ed into the CC domain and the labels joined back, with
    an explicit collision check over the pair-list id universe (it
    scales with duplicates, not corpus size) — a silent cast of a
    string id would null-collapse every document into one group."""
    dt = dict(pairs.dtypes)[a_col]
    if dt in ("tinyint", "smallint", "int", "bigint"):
        edges = pairs.select(F.col(a_col).cast("long").alias("a"),
                             F.col(b_col).cast("long").alias("b"))
        cc = connected_components(edges)
        return cc.select(F.col("v").alias("doc_id"),
                         F.col("root").alias("group_rep"))
    ids = (pairs.select(F.col(a_col).alias("doc_id"))
           .union(pairs.select(F.col(b_col).alias("doc_id")))
           .distinct()
           .withColumn("hid", F.xxhash64("doc_id"))
           .localCheckpoint())
    chk = ids.agg(F.count("*").alias("n"),
                  F.countDistinct("hid").alias("nh")).first()
    if chk["n"] != chk["nh"]:
        raise ValueError(
            f"xxhash64 collision among {chk['n']} duplicate-pair "
            f"ids; rerun with pre-assigned integer ids")
    edges = pairs.select(F.xxhash64(a_col).alias("a"),
                         F.xxhash64(b_col).alias("b"))
    cc = connected_components(edges)
    lab = ids.join(cc, ids.hid == cc.v).select("doc_id", "root")
    rep = lab.groupBy("root").agg(
        F.min("doc_id").alias("group_rep"))
    return lab.join(rep, "root").select("doc_id", "group_rep")


@functools.lru_cache(maxsize=8)
def _hyperplanes(seed, bits, dim):
    """The (bits, dim) float32 random hyperplanes of ``seed``."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).astype(np.float32)


def hyperplane_band_keys(emb, id_col="vec_id", vec_col="embedding",
                         bits=16, bands=4, seed=42):
    """One row per (vector, band) with key = that band's slice of the
    random-hyperplane sign sketch. Shared by the batch self-join
    (embedding_near_dups) and the streaming sketch store
    (streaming/dedup.py): the planes are a deterministic function of
    (seed, dim), so equal inputs derive IDENTICAL keys across
    batches. The sketch is a vectorized pandas UDF (one matmul per
    Arrow batch) that derives the planes from the batch's own
    dimension, so no probe job reads the dimension first; the band
    split is JVM bit arithmetic."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands

    @pandas_udf("long")
    def sketch(vs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float32) for v in vs])
        s = (m @ _hyperplanes(seed, bits, m.shape[1]).T) > 0
        out = np.zeros(len(vs), dtype=np.int64)
        for i in range(bits):
            out |= s[:, i].astype(np.int64) << i
        return pd.Series(out)

    mask = (1 << width) - 1
    sk0 = emb.select(id_col, vec_col,
                     sketch(F.col(vec_col)).alias("sk"))
    return sk0.select(id_col, vec_col,
                      F.posexplode(F.array(*[
                          (F.shiftrightunsigned("sk", j * width)
                           .bitwiseAND(F.lit(mask)))
                          for j in range(bands)])).alias("band",
                                                         "key"))


def _embedding_keys(emb, id_col, vec_col, bits, bands, seed):
    """(id, band, key) rows of :func:`hyperplane_band_keys`,
    repartitioned by the join key and barriered: one sketch-UDF pass,
    and no vectors in the checkpoint (~12 bytes/row). The band-join
    inputs are tiny (~3 MB at sf1.0) while its OUTPUT is the
    candidate explosion (2.9M pairs at sf1.0), which AQE's
    input-sized planning cannot see: a planner-inserted shuffle here
    would be coalesced to ONE partition and the join run in one
    task. A user-specified partition count is never coalesced, and a
    self-join reuses the checkpointed partitioning."""
    npart = emb.sparkSession.sparkContext.defaultParallelism
    return (hyperplane_band_keys(emb, id_col=id_col, vec_col=vec_col,
                                 bits=bits, bands=bands, seed=seed)
            .select(id_col, "band", "key")
            .repartition(npart, "band", "key")
            .localCheckpoint(eager=False))


def _embedding_pairs(left, right, left_vecs, right_vecs, id_col,
                     vec_col, threshold):
    """The one embedding candidate join + verify: (a, b, cosine) for
    the distinct id pairs sharing a (band, key) of the keyed frames
    ``left``/``right`` (:func:`_embedding_keys` rows) whose cosine is
    >= ``threshold``. The verify is an attach join: each distinct
    pair fetches its two vectors (``left_vecs`` on l, ``right_vecs``
    on r; one (id, vector) row per id), then one mapInArrow pass
    decides them with similarity._fold_decide and emits the
    fold-twin cosine (similarity.fold_dots/fold_norms — the doubles
    of Spark's higher-order-function fold, bit for bit, as
    tests/test_dedup_text_similarity.py::
    test_fold_twins_match_spark_hof checks). The pairs get an explicit
    partition count for the same reason as the keys: their shuffle
    is small (16 B/pair), and a coalesced one would run the whole
    verify in one task (measured: 7 s single-task fold at sf1.0 vs
    sub-second parallel)."""
    from .similarity import (_arrow_matrix, _concat_batches,
                             _fold_decide, _np_elem_dtype, fold_norms)
    ldt = _np_elem_dtype(left_vecs, vec_col)
    rdt = _np_elem_dtype(right_vecs, vec_col)
    thr = float(threshold)
    npart = left.sparkSession.sparkContext.defaultParallelism
    cand = (_key_join(left, right, id_col, ["band", "key"])
            .select("l", "r")
            .repartition(npart, "l", "r")
            .distinct())
    rows = _attach(cand, left_vecs, right_vecs, id_col, vec_col)

    def verify(it):
        import pyarrow as pa
        for tbl in _concat_batches(it):
            # norms in each side's element type; dots promote a
            # float side to double, as Spark's multiply does
            ml = _arrow_matrix(tbl.column("v_l"), ldt)
            mr = _arrow_matrix(tbl.column("v_r"), rdt)
            nl, nr = fold_norms(ml), fold_norms(mr)
            # a fast float64 row-dot decides; survivors are replayed
            # too, because their cosine is emitted downstream
            cos = np.einsum("ij,ij->i", ml.astype(np.float64),
                            mr.astype(np.float64)) / (nl * nr)
            keep = _fold_decide(cos, thr, ml, mr, nl, nr,
                                exact_kept=True)
            if not keep.any():
                continue
            mask = pa.array(keep)
            yield pa.record_batch(
                [tbl.column("l").combine_chunks().filter(mask),
                 tbl.column("r").combine_chunks().filter(mask),
                 pa.array(cos[keep], pa.float64())],
                names=["l", "r", "cosine"])

    t = dict(rows.dtypes)
    return _oriented(rows.mapInArrow(
        verify, f"l {t['l']}, r {t['r']}, cosine double"), "cosine")


def embedding_near_dups(emb, id_col="vec_id", vec_col="embedding",
                        threshold=0.95, bits=16, bands=4, seed=42):
    """Embedding-cosine near-dup via BANDED random-hyperplane LSH:
    sign sketch (``bits`` planes) split into ``bands`` band keys ->
    equi-join per (band, key) -> exact cosine verify on candidates.

    Recall math (sim = cos, agree p = 1 - acos(sim)/pi): a single
    monolithic sketch needs ALL bits equal (p^bits — at cos 0.95 and
    16 bits that is ~0.18 recall); banding needs all bits equal in
    ANY ONE band (1 - (1 - p^(bits/bands))^bands — same config ~0.99).
    More bands = higher recall and more candidates to verify; the
    shuffle stays proportional to candidate count, never all-pairs.
    bits must divide evenly by bands.

    Execution (:func:`_embedding_pairs`): the band self-join carries
    (id, band, key) only; the distinct candidate pairs then attach
    their two vectors by join and one mapInArrow pass runs the
    fold-twin cosine (a float64 decision, then a bit-exact fold
    replay of near-threshold pairs and of survivors). Nothing is
    collected to the driver: the verify scales with candidates, not
    with the corpus."""
    keys = _embedding_keys(emb, id_col, vec_col, bits, bands, seed)
    return _embedding_pairs(keys, keys, emb, emb, id_col, vec_col,
                            threshold)


def shingles_md5_full(text_col, k=13):
    """Word k-shingle FULL md5 hex strings as array<string>. Same
    grams as :func:`_py_norm_grams_md5` (a doc shorter than ``k``
    words yields one whole-text shingle), but the
    untruncated 128-bit digest: at decontamination scale a benchmark
    gram must never collide with an unrelated corpus gram, and the
    32-char hex is still far cheaper to exchange than a 13-word
    string."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))

    def gram(i):
        return F.md5(F.concat_ws(" ", F.slice(words, i + 1, k)))
    return F.transform(idx, gram)


def contamination_flags(docs, benchmark, text_col="text",
                        id_col="doc_id", bench_text_col="text",
                        n=13):
    """Benchmark decontamination signals (the GPT-3 / PaLM protocol,
    Brown et al. 2020 App. C): a training document is contaminated
    if it shares any word ``n``-gram (default 13) with an evaluation
    benchmark. Returns ``docs`` + ``n_contaminated_grams`` (count of
    DISTINCT doc grams that appear anywhere in the benchmark) +
    ``contaminated`` bool.

    Scale shape: the benchmark side is the small one (eval suites
    are MBs; the corpus is the 100 TB side) — its distinct gram set
    is broadcast, so the corpus side never shuffles before the
    probe: per-doc gram dedup happens INSIDE the row
    (array_distinct, map-side — not a corpus-wide dropDuplicates
    shuffle of (id, gram) pairs), then explode feeds the
    broadcast-hash join and only the HIT rows reach the per-doc
    count's exchange. No shuffle touches document text."""
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            shingles_md5_full(text_col, n))).alias("g"))
    bench_grams = (benchmark
                   .select(F.explode(
                       shingles_md5_full(bench_text_col, n))
                       .alias("g"))
                   .dropDuplicates(["g"]))
    hits = (doc_grams
            .join(F.broadcast(bench_grams), "g")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_contaminated_grams")))
    return (docs.join(hits, id_col, "left")
            .withColumn("n_contaminated_grams",
                        F.coalesce("n_contaminated_grams", F.lit(0)))
            .withColumn("contaminated",
                        F.col("n_contaminated_grams") > 0))


def decontaminate(docs, benchmark, text_col="text", id_col="doc_id",
                  bench_text_col="text", n=13):
    """Drop benchmark-contaminated docs (see
    :func:`contamination_flags`); the audit-preserving form is the
    flags frame itself."""
    return (contamination_flags(docs, benchmark, text_col=text_col,
                                id_col=id_col,
                                bench_text_col=bench_text_col, n=n)
            .filter(~F.col("contaminated"))
            .drop("n_contaminated_grams", "contaminated"))
