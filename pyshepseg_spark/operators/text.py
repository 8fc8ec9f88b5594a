"""Text-analysis operators for training-data pipelines.

Language ID (n-gram heuristic), quality scoring, token counting, and
document fingerprinting — all pure column expressions (JVM-side,
whole-stage codegen) except the md5 winnowing fingerprint
(:func:`fingerprint_md5`), which is one vectorized Arrow pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

# tiny per-language stopword marker sets for the n-gram heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _count_token(words, token):
    # NB: the HOF lambda must take exactly one parameter (a second
    # parameter would be interpreted as the array index by Spark)
    def pred(w):
        return w == F.lit(token)
    return F.size(F.filter(words, pred))


def _count_any_token(words, tokens):
    """size(filter(words, w IN tokens)) — ONE interpreted-HOF array
    scan for a whole marker set. Equals sum(_count_token(words, t)
    for t in tokens) exactly: a token equals at most one marker, so
    membership count == sum of per-marker counts (r06: the per-
    marker form scanned the array len(tokens) times; HOFs are
    interpreted per element, so scans are the cost)."""
    def pred(w):
        return w.isin(list(tokens))
    return F.size(F.filter(words, pred))


def language_id(docs, text_col="text"):
    """Heuristic language ID: score = count of per-language marker
    tokens; argmax via greatest over struct comparisons (pure SQL).

    The tokenized array is materialized ONCE into a column (25 marker
    counters scan it; recomputing split() per counter multiplies the
    hot loop), and the input is spread across cores first — a small
    parquet arrives as one split, which would serialize the whole
    scan (no-op at real scale)."""
    from .skew import spread_small_scan
    docs = spread_small_scan(docs)
    wcol = "__liwords"
    words = F.col(wcol)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        # one membership scan per language (r06), not one per marker
        s = _count_any_token(words, markers)
        scores.append(F.struct(s.alias("score"),
                               F.lit(lang).alias("lang")))
    best = F.greatest(*scores)
    return (docs
            .withColumn(wcol, F.split(F.lower(F.col(text_col)),
                                      r"\s+"))
            .withColumn(
                "lang_pred",
                F.when(best["score"] > 0,
                       best["lang"]).otherwise("unknown"))
            .withColumn("lang_score", best["score"])
            .drop(wcol))


def quality_score(docs, text_col="text"):
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    mean word length; composite score in [0, 1]. All JVM-side."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(t, r"\s+")
    n_words = F.size(words)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop = _LANG_MARKERS["en"]
    lwords = F.split(F.lower(t), r"\s+")
    n_stop = _count_any_token(lwords, stop)
    mean_wlen = F.when(n_words > 0,
                       (n_chars - n_words + 1) / n_words).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(0.0)
    length_ok = F.when((n_chars >= 64) & (n_chars <= 100000), 1.0) \
        .otherwise(0.3)
    wlen_ok = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), 1.0) \
        .otherwise(0.3)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.5)
    score = (length_ok + wlen_ok + punct_ok) / 3.0
    return (docs
            .withColumn("n_words", n_words)
            .withColumn("punct_ratio", punct_ratio)
            .withColumn("stopword_ratio", stop_ratio)
            .withColumn("mean_word_len", mean_wlen)
            .withColumn("quality", score))


def token_counts(docs, text_col="text"):
    """Whitespace tokens plus a BPE-ish sub-token estimate from a
    regex split on letter/digit/punct boundaries (pure SQL)."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe_ish = F.size(F.filter(
        F.split(t, r"(?<=\W)|(?=\W)|(?<=\d)(?=\D)|(?<=\D)(?=\d)"),
        lambda s: F.length(F.trim(s)) > 0))
    return docs.withColumn("n_ws_tokens", ws) \
               .withColumn("n_bpe_tokens", bpe_ish)


def fingerprint_md5(docs, text_col="text", id_col="doc_id",
                    k: int = 3, window: int = 8):
    """Cross-engine winnowing fingerprint: word k-shingle md5-28bit
    hashes -> min per non-overlapping window of ``window`` shingles
    -> bit_xor of the DISTINCT window minima. The shingle hashes
    stay JVM expressions (exactly replayable in ANSI SQL, so the
    DuckDB oracle checks the result bit-for-bit); r06 folds the
    per-window minima + distinct-xor into ONE vectorized Arrow pass
    over the shingle array instead of a posexplode (one row per
    shingle — |tokens| rows) feeding two shuffled aggregations.
    Pure integer arithmetic (np.minimum.reduceat over consecutive
    ``window``-chunks == groupBy(pos div window).min; xor over
    np.unique == bit_xor(DISTINCT)), bit-identical — verified at
    sf0.001..1.0. Docs with NULL text produced no exploded rows and
    were absent from the old output; the explicit isNotNull filter
    reproduces that."""
    from .dedup import _py_norm_grams_md5, normalized_text
    from .skew import spread_small_scan
    docs = spread_small_scan(docs)

    @pandas_udf("long")
    def fp(norm: pd.Series) -> pd.Series:
        out = np.zeros(len(norm), dtype=np.int64)
        for i, nt in enumerate(norm):
            if nt is None:
                continue      # filtered out below; keep 1:1 shape
            h = np.asarray(_py_norm_grams_md5(nt, k),
                           dtype=np.int64)
            mins = np.minimum.reduceat(h, np.arange(0, len(h),
                                                    window))
            v = np.int64(0)
            for m in np.unique(mins):
                v ^= m
            out[i] = v
        return pd.Series(out)

    return (docs.filter(F.col(text_col).isNotNull())
            .select(id_col,
                    fp(normalized_text(F.col(text_col)))
                    .alias("fingerprint")))


# PII patterns: a deliberately conservative common-regex subset that
# parses identically under Java regex (Spark) and RE2-ish engines
# (DuckDB oracle replays) — no lookbehind, no backrefs.
PII_PATTERNS = {
    # order IS precedence (applied sequentially): specific shapes
    # first so the broad phone digit-run never swallows them
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    "ssn_like": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    # r06 correctness fix (ADVICE): separators are SPACES only (\s
    # let newlines bridge unrelated digit runs — lists of years/IDs
    # collapsed into one token) and the run is capped at 14 so the
    # match stays phone-shaped
    "phone": (r"\+?[0-9][0-9()\- ]{7,14}[0-9]"),
}


def pii_redact(docs, text_col="text", out_col="redacted_text",
               patterns=None, token="[PII:{kind}]"):
    """Scrub common PII shapes (emails, IPv4s, phone-like digit
    runs, SSN-like triplets) from a text column — the standard
    pre-training hygiene pass. Pure JVM regexp_replace chain (one
    pass per pattern, whole-stage codegen; no Python in the hot
    path), plus a per-kind match COUNT column (``n_pii_<kind>``) so
    downstream filters can drop high-PII docs instead of just
    masking them.

    Patterns are a conservative dialect-portable subset; extend via
    ``patterns`` (dict kind -> regex). Order matters (emails before
    phone-like digit runs keeps the phone regex off the local part);
    dict insertion order is applied order."""
    pats = patterns or PII_PATTERNS
    out = docs
    cur = F.col(text_col)
    for kind, pat in pats.items():
        out = out.withColumn(
            f"n_pii_{kind}",
            F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0)))
        cur = F.regexp_replace(cur, pat, token.format(kind=kind))
    return out.withColumn(out_col, cur)


def repetition_signals(docs, text_col="text", id_col="doc_id",
                       top_ngrams=(2, 3, 4), dup_ngram=5):
    """Gopher-style within-document repetition signals (Rae et al.
    2021, App. A1.1 — the repetition-removal half of the quality
    filter suite; quality_score covers the length/ratio half):

    - ``n_lines`` / ``dup_line_frac`` / ``dup_line_char_frac``:
      over non-empty trimmed lines, the fraction of REPEATED line
      occurrences (count-1 per distinct line) and the character
      mass they carry.
    - ``top_{n}gram_char_frac`` for n in ``top_ngrams``: character
      mass of the single most frequent word n-gram (count x gram
      length, incl. its internal spaces) over the normalized text
      length. The reported FRACTION only needs the winning (count,
      length) pair, so any tie-break among equal pairs yields the
      same value — the top-1 is a struct-max hash aggregation, not
      a sort window.
    - ``dup_{n}gram_token_frac`` for n = ``dup_ngram``: fraction of
      TOKENS covered by n-grams occurring more than once in the doc
      (token- rather than char-fraction — a documented deviation
      from Gopher's character accounting; reuses the duplicated-span
      closure in dedup.duplicated_spans with scope="within_doc", so
      overlapping repeats are counted once).

    Every input doc appears in the output (signals 0.0 where the doc
    is too short to form a gram / has no non-empty line).

    Scale shape: line and n-gram counting are explode -> groupBy
    chains with map-side partial aggregation keyed by (doc, n,
    gram) — no all-pairs, no sorts anywhere. A/B'd at sf0.1
    (PERF.md round 5): replacing the per-(doc,n) row_number window
    with the struct-max aggregation is ~4x on this branch; grouping
    by an md5-28bit/xxhash64 gram hash instead of the string LOSES
    (3.7/2.9 s vs 1.7 s) because map-side combine already collapses
    duplicate grams before the exchange, so the per-occurrence hash
    compute outweighs the per-distinct shuffle saving. The three
    top-n sizes share ONE exploded frame and shuffle (tagged
    union)."""
    from .dedup import duplicated_spans, normalized_text
    from .skew import spread_small_scan

    docs = spread_small_scan(docs)
    base = docs.select(F.col(id_col),
                       normalized_text(F.col(text_col)).alias("nt"),
                       F.col(text_col).alias("__raw"))
    base = base.localCheckpoint(eager=False)   # fans into 3 branches

    # --- line signals ---
    lines = base.select(
        id_col,
        F.explode(F.filter(
            F.transform(F.split("__raw", r"\n"), F.trim),
            lambda s: F.length(s) > 0)).alias("line"))
    lc = lines.groupBy(id_col, "line").agg(F.count("*").alias("cnt"))
    line_sig = lc.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        (F.sum(F.col("cnt") - 1) / F.sum("cnt"))
        .alias("dup_line_frac"),
        (F.sum((F.col("cnt") - 1) * F.length("line"))
         / F.sum(F.col("cnt") * F.length("line")))
        .alias("dup_line_char_frac"))

    # --- top n-gram char fraction, all sizes over one shuffle ---
    words = F.split(F.col("nt"), " ")
    gram_frames = []
    for n in top_ngrams:
        idx = F.sequence(F.lit(0), F.size(words) - n)
        gram_frames.append(
            base.filter(F.size(words) >= n).select(
                F.col(id_col), F.lit(n).alias("n"),
                F.length("nt").alias("tot_chars"),
                F.explode(F.transform(
                    idx, _gram_at(words, n))).alias("gram")))
    grams = gram_frames[0]
    for gf in gram_frames[1:]:
        grams = grams.unionByName(gf)
    gc = grams.groupBy(id_col, "n", "gram").agg(
        F.count("*").alias("cnt"),
        F.max("tot_chars").alias("tot_chars"))
    gc = gc.select(id_col, "n", "cnt", "tot_chars",
                   F.length("gram").alias("glen"))
    top = (gc.groupBy(id_col, "n")
           .agg(F.max(F.struct("cnt", "glen")).alias("m"),
                F.max("tot_chars").alias("tot_chars"))
           .select(id_col, "n",
                   (F.col("m.cnt") * F.col("m.glen")
                    / F.greatest(F.col("tot_chars"), F.lit(1)))
                   .alias("frac")))
    top_piv = (top.groupBy(id_col).pivot("n", list(top_ngrams))
               .agg(F.first("frac")))
    for n in top_ngrams:
        top_piv = top_piv.withColumnRenamed(
            str(n), f"top_{n}gram_char_frac")

    # --- duplicated n-gram token coverage ---
    spans = duplicated_spans(base.select(id_col,
                                         F.col("nt").alias("text")),
                             text_col="text", id_col=id_col,
                             k=dup_ngram, scope="within_doc")
    # r06 correctness fix (ADVICE): two marked islands whose gap is
    # < k overlap after the k-1 span extension (e.g. 'a b a b a',
    # k=3 -> spans [0,2] and [2,4]); summing n_tokens double-counts
    # the overlapped tokens and the "fraction" can exceed 1.0.
    # Coverage is now the size of the MERGED interval union —
    # distinct covered positions, so overlapping repeats count once
    # as documented. The merge windows run per doc over the span
    # rows only (state scales with duplicated content, never the
    # corpus).
    from pyspark.sql import Window as _W
    w_prev = (_W.partitionBy(id_col).orderBy("span_start")
              .rowsBetween(_W.unboundedPreceding, -1))
    w_run = (_W.partitionBy(id_col).orderBy("span_start")
             .rowsBetween(_W.unboundedPreceding, 0))
    sp = (spans
          .withColumn("__prev_end", F.max("span_end").over(w_prev))
          .withColumn("__new", F.when(
              F.col("__prev_end").isNull()
              | (F.col("span_start") > F.col("__prev_end")),
              1).otherwise(0))
          .withColumn("__grp", F.sum("__new").over(w_run)))
    merged = sp.groupBy(id_col, "__grp").agg(
        (F.max("span_end") - F.min("span_start") + 1).alias("__cov"))
    cov = merged.groupBy(id_col).agg(
        F.sum("__cov").alias("cov_tokens"))
    ntoks = base.select(F.col(id_col), F.size(words).alias("ntok"))
    dup_sig = (ntoks.join(cov, id_col, "left")
               .select(id_col,
                       (F.coalesce(F.col("cov_tokens"), F.lit(0))
                        / F.col("ntok"))
                       .alias(f"dup_{dup_ngram}gram_token_frac")))

    out = (docs.select(id_col)
           .join(line_sig, id_col, "left")
           .join(top_piv, id_col, "left")
           .join(dup_sig, id_col, "left")
           .fillna(0, subset=["n_lines"]))
    frac_cols = (["dup_line_frac", "dup_line_char_frac"]
                 + [f"top_{n}gram_char_frac" for n in top_ngrams]
                 + [f"dup_{dup_ngram}gram_token_frac"])
    return out.fillna(0.0, subset=frac_cols)


# Gopher-style default thresholds (Rae et al. 2021, App. A1.1);
# dup_5gram uses this engine's token-fraction analogue.
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_stopword_ratio": 0.02,
    "max_dup_line_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_top_2gram_char_frac": 0.20,
    "max_top_3gram_char_frac": 0.18,
    "max_top_4gram_char_frac": 0.16,
    "max_dup_5gram_token_frac": 0.15,
}


def gopher_quality_filter(docs, text_col="text", id_col="doc_id",
                          thresholds=None):
    """The composed Gopher quality gate: quality_score's length /
    word-shape / stopword signals + repetition_signals' duplicate-
    line and n-gram signals, each compared to its (overridable)
    threshold. Returns one row per input doc with every signal, a
    ``drop_reasons`` array naming each violated rule (empty = clean)
    and ``keep`` = no violations — keep/drop stays a DECISION COLUMN
    rather than a destructive filter so the pipeline can audit
    rejection rates per rule before committing (the production
    protocol; ``.filter("keep")`` is the consuming one-liner).

    Scale shape: one equi-join of the two signal frames on the doc
    id; everything else is column arithmetic on the joined row."""
    th = dict(GOPHER_THRESHOLDS)
    th.update(thresholds or {})
    q = quality_score(docs.select(F.col(id_col), F.col(text_col)),
                      text_col=text_col).drop(text_col)
    r = repetition_signals(docs, text_col=text_col, id_col=id_col)
    j = q.join(r, id_col)
    rules = [
        ("too_few_words", F.col("n_words") < th["min_words"]),
        ("too_many_words", F.col("n_words") > th["max_words"]),
        ("mean_word_len",
         (F.col("mean_word_len") < th["min_mean_word_len"])
         | (F.col("mean_word_len") > th["max_mean_word_len"])),
        ("stopword_ratio",
         F.col("stopword_ratio") < th["min_stopword_ratio"]),
        ("dup_line_frac",
         F.col("dup_line_frac") > th["max_dup_line_frac"]),
        ("dup_line_char_frac",
         F.col("dup_line_char_frac") > th["max_dup_line_char_frac"]),
        ("top_2gram_char_frac",
         F.col("top_2gram_char_frac")
         > th["max_top_2gram_char_frac"]),
        ("top_3gram_char_frac",
         F.col("top_3gram_char_frac")
         > th["max_top_3gram_char_frac"]),
        ("top_4gram_char_frac",
         F.col("top_4gram_char_frac")
         > th["max_top_4gram_char_frac"]),
        ("dup_5gram_token_frac",
         F.col("dup_5gram_token_frac")
         > th["max_dup_5gram_token_frac"]),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)).otherwise(F.lit(None))
                  for name, cond in rules]),
        _not_null)
    return (j.withColumn("drop_reasons", reasons)
            .withColumn("keep", F.size("drop_reasons") == 0))


def _not_null(x):
    # closure-free named predicate: PySpark HOF lambdas need exact
    # arity and a stable function object
    return x.isNotNull()


def _gram_at(words, n):
    # closure factory: PySpark HOF lambdas need exact arity
    def f(i):
        return F.concat_ws(" ", F.slice(words, i + 1, n))
    return f


def select_token_budget(docs, budget, quality_col="quality",
                        token_col="n_ws_tokens", id_col="doc_id",
                        n_bins=4096):
    """Quality-ranked token-budget selection — the data-mixing step
    that turns a scored corpus into a training set: pick the maximal
    quality-descending prefix of documents whose summed token count
    fits ``budget``, ties (same quality bin) broken by ascending
    ``id_col`` so the selection is deterministic and exactly
    replayable in SQL.

    Exact semantics: order docs by (quality bin DESC, id ASC); a doc
    is selected iff the running token sum through it is <= budget.
    Quality is discretized into ``n_bins`` equal-width bins over
    [0, 1] (values outside are clamped), so "same quality bin" is
    the tie class.

    Scale shape (the W1/W2 two-phase discipline — no global sort,
    no global window): phase 1 aggregates tokens per bin (<= n_bins
    rows to the driver — bounded, independent of corpus size) and
    the driver picks the boundary bin and its residual budget;
    phase 2 selects whole bins above the boundary with a plain
    filter (no ordering needed — prefix membership is
    order-invariant inside fully-taken bins) and runs the cumsum
    window ONLY over the boundary bin's docs (~1/n_bins of the
    corpus). Returns ``docs``'s columns for the selected subset."""
    from pyspark.sql import Window
    b = F.floor(F.least(F.greatest(F.col(quality_col), F.lit(0.0)),
                        F.lit(1.0)) * (n_bins - 1)).cast("int")
    binned = docs.withColumn("__qbin", b)
    hist = (binned.groupBy("__qbin")
            .agg(F.sum(token_col).alias("t"))
            .orderBy(F.desc("__qbin")).collect())
    taken = 0
    boundary, residual = None, 0
    for r in hist:
        if taken + r["t"] <= budget:
            taken += r["t"]
        else:
            boundary, residual = r["__qbin"], budget - taken
            break
    if boundary is None:                  # everything fits
        return docs
    full = binned.filter(F.col("__qbin") > boundary)
    w = Window.partitionBy("__qbin").orderBy(id_col)
    edge = (binned.filter(F.col("__qbin") == boundary)
            .withColumn("__cum", F.sum(token_col).over(w))
            .filter(F.col("__cum") <= F.lit(int(residual)))
            .drop("__cum"))
    return full.unionByName(edge).drop("__qbin")
