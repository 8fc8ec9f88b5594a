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


def exact_duplicates(docs, text_col="text", id_col="doc_id"):
    """Exact dedup by content hash (hash-groupBy): returns groups
    with >1 docs. xxhash64 is JVM-side; the only shuffle is the
    groupBy on the 64-bit key."""
    h = F.xxhash64(normalized_text(F.col(text_col)))
    return (docs.withColumn("content_hash", h)
            .groupBy("content_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


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
                      bands=16, materialize=True):
    """LSH banding: hash each band of the signature, equi-join docs
    sharing a (band, bucket); candidate pairs deduped by (a < b).

    materialize=True (default) puts a localCheckpoint barrier on the
    signature frame before the fan-out. Without it CollapseProject
    re-inlines the signature expression into the band posexplode and
    BOTH self-join sides (~3-4 evaluations per doc; interpreted HOFs
    get no codegen CSE — PERF.md round-4/5 A/B), a measured ~35%
    tax on the full minhash_near_dups shape at sf0.1 (PERF.md
    round 5: 1.24 s -> 0.81 s median, and every signature rewrite
    ties within noise once barriered). At
    real scale a signature table is materialized anyway (compute
    once, probe many); pass False to keep lineage (e.g. ahead of a
    user-managed persist or table write)."""
    if materialize:
        signatures = signatures.localCheckpoint(eager=False)
    banded = minhash_band_keys(signatures, id_col=id_col,
                               num_hashes=num_hashes, bands=bands)
    # r06: the band self-join carries (id, band, bucket) ONLY — the
    # num_hashes-long signatures previously rode through BOTH join
    # exchanges (~2x120 MB at sf1.0 for 18k real candidates; guide
    # §2.3: decide with small rows). Candidate pairs are deduped
    # FIRST (distinct over ~16 B rows), then the two signatures are
    # attached per unique pair from the barriered signature frame
    # (AQE broadcasts the candidate list; the signature table is
    # read map-side, never shuffled). est_jaccard is integer
    # position-match arithmetic — identical values, and dedup-then-
    # score emits exactly the set score-then-dedup did.
    left = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    cand = (left.join(right, ["band", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct())
    sa = signatures.select(F.col(id_col).alias("a"),
                           F.col("minhash").alias("sig_a"))
    sb = signatures.select(F.col(id_col).alias("b"),
                           F.col("minhash").alias("sig_b"))
    match = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (cand.join(sa, "a").join(sb, "b")
            .select("a", "b",
                    (match / F.size("sig_a")).alias("est_jaccard")))


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


def simhash_near_dups(sim, id_col="doc_id", max_hamming=3,
                      blocks=4, hash_bits=64,
                      allow_recall_loss=False, materialize=True):
    """Near-dup pairs by SimHash: block the hash_bits-wide hash into
    ``blocks`` segments, equi-join per block, verify Hamming distance
    with bit_count (JVM-side). Pass hash_bits=28 for the md5/oracle
    hash so block keys cover the varying bits (blocks of zeros would
    degenerate to an all-pairs join).

    Recall guarantee (pigeonhole): a pair within ``max_hamming``
    differs in at most ``max_hamming`` blocks, so it is found iff
    ``blocks >= max_hamming + 1`` AND every bit is covered
    (``hash_bits`` divisible by ``blocks``). Both are enforced;
    ``allow_recall_loss=True`` opts into cheaper best-effort blocking
    (wider keys, fewer candidates, recall < 1 for pairs whose
    differing bits spread across every block)."""
    if hash_bits % blocks != 0:
        raise ValueError(
            f"hash_bits={hash_bits} not divisible by blocks={blocks}:"
            " uncovered bits break the pigeonhole guarantee")
    if not allow_recall_loss and blocks < max_hamming + 1:
        raise ValueError(
            f"recall guarantee needs blocks >= max_hamming + 1 "
            f"(got blocks={blocks}, max_hamming={max_hamming}); pass "
            "allow_recall_loss=True for best-effort blocking")
    if materialize:
        # r06: barrier the signature frame before the fan-out (the
        # minhash_lsh_pairs lesson). Without it, BOTH self-join
        # sides re-derive the full signature chain, AND the
        # isnotnull filter Catalyst infers from the join keys
        # duplicates the signature evaluation per side and pushes
        # one copy BELOW the spread_small_scan exchange — a serial
        # single-split pass (measured: 5.7 s -> 39 s when the
        # signatures became a Python UDF; barriered: one signature
        # pass total). At scale a signature table is materialized
        # anyway; pass False to keep lineage.
        sim = sim.localCheckpoint(eager=False)
    exploded = simhash_block_keys(sim, id_col=id_col, blocks=blocks,
                                  hash_bits=hash_bits)
    a = exploded.select(F.col(id_col).alias("a"), "block", "key",
                        F.col("simhash").alias("h_a"))
    b = exploded.select(F.col(id_col).alias("b"), "block", "key",
                        F.col("simhash").alias("h_b"))
    # verify + threshold BEFORE the dedup: the distinct shuffles
    # only surviving (a, b, hamming) rows, not raw candidates
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (a.join(b, ["block", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


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
                     scope="cross_doc", materialize=True):
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
    by default — the frame feeds both the dup-hash agg and the
    join-back, the minhash_lsh_pairs fan-out lesson); the dup-hash
    groupBy partial-aggregates map-side and its output scales with
    DISTINCT grams; the join-back is an equi-join on gh (AQE splits
    hot boilerplate hashes); the islands window partitions per doc
    over only the MARKED positions — state scales with duplicated
    content, never the corpus. No all-pairs anywhere."""
    from pyspark.sql import Window

    from .skew import spread_small_scan
    grams = gram_positions_md5(spread_small_scan(docs),
                               text_col=text_col, id_col=id_col, k=k)
    if materialize:
        grams = grams.localCheckpoint(eager=False)
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
        # driver-sized by construction: hint downstream joins to
        # broadcast the label table
        return F.broadcast(_cc_driver(edges.sparkSession, rows))
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


def hyperplane_band_keys(emb, id_col="vec_id", vec_col="embedding",
                         bits=16, bands=4, seed=42):
    """One row per (vector, band) with key = that band's slice of the
    random-hyperplane sign sketch. Shared by the batch self-join
    (embedding_near_dups) and the streaming sketch store
    (streaming/dedup.py): the planes are a deterministic function of
    (seed, dim), so equal inputs derive IDENTICAL keys across
    batches. The sketch is a vectorized pandas UDF (one matmul per
    Arrow batch); the band split is JVM bit arithmetic."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    first = emb.select(F.size(vec_col).alias("d")).first()
    dim = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, dim)).astype(np.float32)

    @pandas_udf("long")
    def sketch(vs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float32) for v in vs])
        s = (m @ planes.T) > 0
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

    r06 execution: the band self-join carries (id, band, key) ONLY —
    vectors never enter the candidate shuffle (guide §2.3: decide
    with small rows). Candidate pairs are verified by the
    bit-identical JVM-fold cosine twin (similarity.fold_dots/
    fold_norms) against a broadcast (id -> vector) matrix, so every
    >=-threshold decision and the emitted ``cosine`` doubles equal
    the previous cosine_expr verify exactly (verified at
    sf0.001..1.0). The corpus matrix broadcast is bounded by the
    embedding table's vector payload — the same bytes the old plan
    shipped per-candidate through the join, now shipped once per
    executor."""
    from .similarity import (_as_matrix, _concat_batches,
                             _np_elem_dtype, fold_dots_t, fold_norms)
    vdt = _np_elem_dtype(emb, vec_col)
    pdf = emb.select(id_col, vec_col).toPandas()
    vecs = _as_matrix(pdf[vec_col], vdt)
    ids_index = pd.Index(pdf[id_col])
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((ids_index, vecs))
    thr = float(threshold)

    # barrier the (id, band, key) frame before the self-join fan-out
    # (the minhash/simhash lesson): one sketch-UDF pass total, and
    # no join-key filter duplication below the exchange. Vectors are
    # projected OUT before the checkpoint so it materializes ~12
    # bytes/row, not bands x vector payload. The explicit
    # repartition BY THE JOIN KEY before the barrier is what keeps
    # the verify parallel: the band-join inputs are tiny (~3 MB at
    # sf1.0), so a planner-inserted shuffle would be AQE-coalesced
    # to ONE partition — and since the join OUTPUT is the candidate
    # explosion (2.9M pairs at sf1.0, invisible to AQE's
    # input-sized stage planning), the whole verify would run in
    # one task (measured: 7 s single-task fold vs sub-second
    # parallel). A user-specified partition count is never
    # coalesced, and the checkpointed (band, key) partitioning is
    # reusable by the join on either strategy (BHJ probes it
    # in-place; SMJ at larger scale needs no exchange).
    npart = emb.sparkSession.sparkContext.defaultParallelism
    keys = hyperplane_band_keys(
        emb, id_col=id_col, vec_col=vec_col, bits=bits, bands=bands,
        seed=seed).select(id_col, "band", "key") \
        .repartition(npart, "band", "key") \
        .localCheckpoint(eager=False)
    a = keys.select(F.col(id_col).alias("a"), "band", "key")
    b = keys.select(F.col(id_col).alias("b"), "band", "key")
    cand = (a.join(b, ["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b"))

    def verify(it):
        import pyarrow as pa
        idx_, vecs_ = bc.value
        nf = fold_norms(vecs_)
        v64 = vecs_.astype(np.float64, copy=False)
        vt = np.ascontiguousarray(vecs_.T)   # fold-replay source
        for tbl in _concat_batches(it):
            aa = tbl.column(0).combine_chunks()
            bb = tbl.column(1).combine_chunks()
            ia = idx_.get_indexer(
                aa.to_numpy(zero_copy_only=False))
            ib = idx_.get_indexer(
                bb.to_numpy(zero_copy_only=False))
            # fast float64 row-dot for the DECISION, then fold-exact
            # replay of (a) every pair within 1e-4 of the threshold
            # (the f32-product/sum-order error is <= ~2.4e-7, so only
            # replayed pairs can change decision) and (b) every
            # SURVIVOR (its cosine double is emitted downstream and
            # must be the bit-exact fold value)
            d = np.einsum("ij,ij->i", v64[ia], v64[ib])
            cos = d / (nf[ia] * nf[ib])
            keep = cos >= thr
            redo = np.nonzero(keep
                              | (np.abs(cos - thr) <= 1e-4))[0]
            if len(redo):
                ra, rb = ia[redo], ib[redo]
                cos[redo] = fold_dots_t(vt[:, ra], vt[:, rb]) \
                    / (nf[ra] * nf[rb])
                keep = cos >= thr
            if not keep.any():
                continue
            mask = pa.array(keep)
            yield pa.record_batch(
                [aa.filter(mask), bb.filter(mask),
                 pa.array(cos[keep], pa.float64())],
                names=["a", "b", "cosine"])

    idt = dict(emb.select(F.col(id_col).alias("i")).dtypes)["i"]
    return (cand.mapInArrow(verify,
                            f"a {idt}, b {idt}, cosine double")
            .distinct())


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
