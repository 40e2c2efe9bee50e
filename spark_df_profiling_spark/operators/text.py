"""Text-analysis operators for training-data pipelines (north star).

All kernels are built-in JVM expressions (no Python UDFs) so they run
inside whole-stage codegen over arbitrarily large corpora:

* counting/quality features: length arithmetic + regexp_replace;
* token counting: whitespace split + a BPE-ish regex tokenizer;
* document fingerprinting: min-MD5 over word 3-gram shingles (a 1-hash
  MinHash — stable content fingerprint for shingle-level dedup);
* language ID: stopword-hit scoring + CJK character detection with a
  deterministic argmax (array_max over (score, lang) structs);
* quality scoring: bounded composite of the ratio features.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_df_profiling_spark.plans.sqltext import ident, operand, slit
from spark_df_profiling_spark.plans.topk import two_phase_topk

# BPE-ish tokenizer: letter runs, digit runs, single non-space symbols.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- per-document features --------------------------------------------------
# Each rule is one private SQL fragment over the SQL text of its operand
# (``plans.sqltext.operand``: a quoted column name or column reference).
# The public helpers are ``F.expr`` wrappers around the fragment, and
# :func:`text_features` projects every fragment in one ``selectExpr`` —
# one py4j call instead of a Column tree of round trips per feature.
# Binary-operator fragments come parenthesized so they nest safely.
def _toks_ws(c: str) -> str:
    return f"split({c}, ' ')"


def _toks_lc(c: str) -> str:
    return f"split(lower({c}), '\\\\s+')"


def _n_chars(c: str) -> str:
    return f"length({c})"


def _n_tokens_bpe(c: str) -> str:
    return f"size(regexp_extract_all({c}, {slit(TOKEN_REGEX)}, 0))"


def _kept_len(c: str, char_class: str) -> str:
    """Length after keeping only chars in the class."""
    return f"length(regexp_replace({c}, {slit(f'[^{char_class}]')}, ''))"


def _ratio(c: str, char_class: str) -> str:
    return f"({_kept_len(c, char_class)} / length({c}))"


def _punct_ratio(c: str) -> str:
    return (f"((length({c}) - {_kept_len(c, 'A-Za-z0-9 ')}) "
            f"/ length({c}))")


def _avg_token_len(toks: str) -> str:
    return (f"(CAST(aggregate({toks}, 0L, (__a, __t) -> __a + length(__t))"
            f" AS DOUBLE) / size({toks}))")


def _lang_scores(c: str, toks: str) -> dict[str, str]:
    out = {lang: f"size(filter({toks}, __t -> array_contains("
                 f"array({', '.join(map(slit, words))}), __t)))"
           for lang, words in STOPWORDS.items()}
    # each CJK char counts as one hit (no spaces between zh "words")
    out["zh"] = (f"(length({c}) - "
                 f"length(regexp_replace({c}, {slit(CJK_REGEX)}, '')))")
    return out


def _lang_id(c: str, toks: str, default: str) -> str:
    entries = ", ".join(
        f"struct(CAST({s} AS BIGINT) AS score, {slit(lang)} AS lang)"
        for lang, s in sorted(_lang_scores(c, toks).items()))
    best = f"array_max(array({entries}))"
    return (f"CASE WHEN {best}.score > 0 THEN {best}.lang "
            f"ELSE {slit(default)} END")


def _quality_score(c: str, toks: str) -> str:
    tok = _avg_token_len(toks)
    return (f"(0.4D * {_ratio(c, 'A-Za-z')} "
            f"+ 0.3D * least(length({c}) / 200.0D, 1.0D) "
            f"+ 0.3D * CASE WHEN {tok} >= 2 AND {tok} <= 12 THEN 1.0D "
            f"ELSE 0.3D END)")


def _toks(col, toks) -> str:
    """SQL text of the whitespace token array: the caller's pre-bound
    ``toks`` column, else ``split(col, ' ')`` inline."""
    return operand(toks) if toks is not None else _toks_ws(operand(col))


def n_chars(col) -> Column:
    return F.expr(_n_chars(operand(col)))


def n_tokens_ws(col) -> Column:
    """Whitespace token count (single-space split, matches DuckDB
    string_split semantics)."""
    return F.expr(f"size({_toks_ws(operand(col))})")


def n_tokens_bpe(col) -> Column:
    return F.expr(_n_tokens_bpe(operand(col)))


def alpha_ratio(col) -> Column:
    return F.expr(_ratio(operand(col), "A-Za-z"))


def digit_ratio(col) -> Column:
    return F.expr(_ratio(operand(col), "0-9"))


def space_ratio(col) -> Column:
    return F.expr(_ratio(operand(col), " "))


def upper_ratio(col) -> Column:
    return F.expr(_ratio(operand(col), "A-Z"))


def punct_ratio(col) -> Column:
    return F.expr(_punct_ratio(operand(col)))


def avg_token_len(col, toks: Column | None = None) -> Column:
    """``toks`` lets callers pass a pre-bound ``split(col, ' ')`` array
    column (higher-order functions run interpreted with no CSE, so
    re-splitting per consumer is a real cost — see
    :func:`text_features`)."""
    return F.expr(_avg_token_len(_toks(col, toks)))


def fingerprint_min_shingle(col: str, toks_col: str | None = None) -> Column:
    """Document fingerprint: min MD5 over word 3-gram shingles.

    A single-hash MinHash — equal fingerprints ⇒ sharing the minimal
    shingle (high-probability near-dup signal); falls back to MD5 of the
    whole text for documents shorter than 3 tokens.  Expressed so the
    identical computation runs in DuckDB (md5 + list ops) for the oracle.

    The token array is bound ONCE per row as a lambda variable (the
    single-element-transform "let" idiom): higher-order functions run
    interpreted without common-subexpression elimination, so a naive
    ``split(col)[i]`` inside the per-shingle lambda would re-split the
    whole document for every shingle — O(tokens^2) per document.
    ``toks_col`` names an already-materialized token-array column to use
    instead of splitting (see :func:`text_features`).
    """
    c = operand(col)
    return F.expr(_fingerprint(
        c, ident(toks_col) if toks_col else _toks_ws(c)))


def _fingerprint(c: str, toks: str) -> str:
    return f"""
        coalesce(
            element_at(transform(array({toks}), toks ->
                CASE WHEN size(toks) >= 3 THEN
                    array_min(transform(
                        sequence(0, size(toks) - 3),
                        i -> md5(concat_ws(' ', toks[i], toks[i + 1],
                                           toks[i + 2]))))
                END), 1),
            md5({c}))"""


# --- rolling hash + winnowing fingerprints ---------------------------------
# Polynomial (Rabin-Karp) base/modulus chosen so every intermediate stays
# < 2^38 — Spark 4 runs ANSI mode where BIGINT overflow RAISES, so the
# classic "let it wrap mod 2^64" trick is off the table; a sub-2^31 prime
# modulus keeps h*B + c exact in both Spark and DuckDB.
_RH_BASE = 131
_RH_MOD = 1_000_000_007


def rolling_hash(col) -> Column:
    """Polynomial rolling hash of the whole string (Rabin-Karp form).

    h = (((c0*B + c1)*B + c2)...) mod M over character codes — the same
    recurrence a rolling-window matcher extends/retracts in O(1).  One
    interpreted pass over the char array (O(n)); identical arithmetic is
    SQL-expressible in DuckDB for the oracle.
    """
    c = _c(col)
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * _RH_BASE + F.ascii(ch)) % _RH_MOD)


def winnow_fingerprints(col, k: int = 5, w: int = 4) -> Column:
    """MOSS-style winnowing fingerprint set (array<bigint>, sorted).

    1. hash every k-gram of characters with the polynomial rolling hash;
    2. slide a window of ``w`` consecutive k-gram hashes, keep each
       window's minimum;
    3. the distinct minima are the document's fingerprints.

    Guarantee (Schleimer/Wilkerson/Aiken 2003): any shared substring of
    length >= w+k-1 between two documents yields at least one shared
    fingerprint, so fingerprint overlap lower-bounds copied content.
    Documents shorter than k+w-1 chars fall back to the whole-string
    hash.  All arrays are let-bound once (higher-order functions are
    interpreted — no CSE), so cost is O(n*k) per document, constant
    memory beyond the char array.
    """
    c = _c(col)
    chars = F.split(c, "")
    # k-gram hash at position i (0-based): fold over the k chars
    kgram = (
        "transform(sequence(0, size(chars) - %d), "
        " i -> aggregate(slice(chars, i + 1, %d), 0L, "
        "      (acc, ch) -> (acc * %d + ascii(ch)) %% %d))"
        % (k, k, _RH_BASE, _RH_MOD))
    windowed = (
        "transform(sequence(0, size(kh) - %d), "
        " j -> array_min(slice(kh, j + 1, %d)))" % (w, w))
    inner = (
        "element_at(transform(array(%s), kh -> "
        " CASE WHEN size(kh) >= %d THEN array_sort(array_distinct(%s)) "
        "      ELSE array_sort(array_distinct(kh)) END), 1)"
        % (kgram, w, windowed))
    expr = ("element_at(transform(array(split({src}, '')), chars -> "
            " CASE WHEN size(chars) >= %d THEN %s END), 1)"
            % (k, inner))
    if not isinstance(col, str):
        raise TypeError("winnow_fingerprints requires a column name")
    return F.coalesce(F.expr(expr.format(src=ident(col))),
                      F.array(rolling_hash(col)))


# --- language ID -----------------------------------------------------------
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "los", "es", "una", "por", "con"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que"],
}
CJK_REGEX = r"[一-鿿]"


def lang_scores(col, toks: Column | None = None) -> dict[str, Column]:
    """Stopword-hit count per language + CJK char count for zh.

    ``toks`` lets callers pass a pre-bound ``split(lower(col), '\\s+')``
    array column: each per-language filter is an interpreted
    higher-order function that would otherwise re-lowercase and re-split
    the whole document (len(STOPWORDS) times per row)."""
    c = operand(col)
    lc = operand(toks) if toks is not None else _toks_lc(c)
    return {lang: F.expr(s) for lang, s in _lang_scores(c, lc).items()}


def lang_id(col, default: str = "und",
            toks: Column | None = None) -> Column:
    """Deterministic heuristic language ID.

    argmax over per-language scores via array_max on (score, lang)
    structs — struct comparison orders by score then lang name, so ties
    break deterministically.  Returns ``default`` when no signal.
    ``toks`` is the pre-bound lowercased token array, as in
    :func:`lang_scores`.
    """
    c = operand(col)
    lc = operand(toks) if toks is not None else _toks_lc(c)
    return F.expr(_lang_id(c, lc, default))


def quality_score(col, toks: Column | None = None) -> Column:
    """Composite quality in [0, 1]: favors alphabetic text with sane
    token lengths and some minimum length (heuristic, deterministic)."""
    return F.expr(_quality_score(operand(col), _toks(col, toks)))


# --- repetition / diversity (Gopher-style quality rules) -------------------
# Rae et al. 2021 ("Scaling Language Models: ... Gopher", §A.1.1) filter
# web documents by repetition: fraction of duplicate lines/n-grams and
# fraction of tokens in the most common token.  These are the in-row
# equivalents — one interpreted HOF pass per document, no shuffle.


def type_token_ratio(col, toks: Column | None = None) -> Column:
    """Distinct tokens / total tokens (1.0 = no repetition)."""
    if toks is None:
        toks = F.split(_c(col), " ")
    return F.size(F.array_distinct(toks)) / F.size(toks)


def top_token_ratio(col, toks: Column | None = None) -> Column:
    """Fraction of tokens equal to the single most common token.

    Per-row cost is O(distinct × tokens) interpreted — bounded by the
    document length, independent of corpus size, so it stays a
    narrow-only projection at any scale (vs explode + groupBy, which
    would shuffle the whole corpus token stream).
    """
    if toks is None:
        toks = F.split(_c(col), " ")
    counts = F.transform(
        F.array_distinct(toks),
        lambda d: F.size(F.filter(toks, lambda t: t == d)))
    return F.array_max(counts) / F.size(toks)


def dup_ngram_ratio(col, n: int = 2, toks: Column | None = None) -> Column:
    """Fraction of word n-grams that are repeats (1 - distinct/total).

    0.0 for documents with < n tokens (no n-grams → nothing repeated).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if toks is None:
        toks = F.split(_c(col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int"))
                   for j in range(n)]))
    # the CASE guard must gate the n-gram construction itself: for
    # size(toks) < n, sequence(0, size-n) runs DESCENDING and
    # element_at(toks, 0) raises under ANSI — CASE's lazy branch
    # evaluation keeps that expression from ever running on short docs
    return F.when(
        F.size(toks) >= n,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams)
    ).otherwise(F.lit(0.0))


def repetition_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document repetition features (+ a Gopher-style keep flag).

    Adds ``r_type_token_ratio``, ``r_top_token_ratio``,
    ``r_dup_2gram_ratio``, ``r_dup_3gram_ratio`` and ``r_keep`` (the
    conjunction of the published-style thresholds: top token < 30% of
    the document, < 20% duplicate 2-grams, < 18% duplicate 3-grams).
    The token array is bound once (interpreted HOFs have no CSE).
    """
    tcol = "__rep_toks"
    step = df.select("*", F.split(F.col(text_col), " ").alias(tcol))
    toks = F.col(tcol)
    out = step.select(
        *df.columns,
        type_token_ratio(text_col, toks=toks).alias("r_type_token_ratio"),
        top_token_ratio(text_col, toks=toks).alias("r_top_token_ratio"),
        dup_ngram_ratio(text_col, 2, toks=toks).alias("r_dup_2gram_ratio"),
        dup_ngram_ratio(text_col, 3, toks=toks).alias("r_dup_3gram_ratio"),
    )
    return out.withColumn(
        "r_keep",
        (F.col("r_top_token_ratio") < 0.3)
        & (F.col("r_dup_2gram_ratio") < 0.2)
        & (F.col("r_dup_3gram_ratio") < 0.18))


def vocab_topk(df: DataFrame, text_col: str, k: int = 20,
               sub_partitions: int = 64) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency → (token, cnt).

    The one text op that NEEDS a token-stream shuffle (corpus-global
    counts), done skew-safely: explode → partial+final hash agg on the
    token, then the salted ``two_phase_topk`` rank — a local rank
    within ``hash(token) % sub_partitions`` buckets before the final
    rank, so no single task ever sees the whole vocabulary
    (stop-word counts are the classic skew: the partial agg combines
    them map-side, the bucketed rank keeps the reduce side parallel).
    Ties break by token ascending (deterministic for the oracle).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    counts = (df.select(F.explode(F.split(_c(text_col), " "))
                        .alias("token"))
              .where(F.col("token") != "")
              .groupBy("token")
              .agg(F.count(F.lit(1)).alias("cnt")))
    return two_phase_topk(counts, [], "xxhash64(token)",
                          ["cnt DESC", "token ASC"], k,
                          sub_partitions).drop("rank")


def unigram_logprob(df: DataFrame, text_col: str, id_col: str,
                    vocab_size: int = 50_000) -> DataFrame:
    """Mean unigram log-probability per document (LM-quality signal).

    The cheap end of the CCNet idea — score each document by how
    "corpus-typical" its tokens are; gibberish, boilerplate, and
    wrong-language text score low.  Self-scored against the corpus's own
    unigram distribution:

    1. corpus token counts (map-side partial agg — stop-word mass
       collapses before the shuffle), total kept as one scalar;
    2. the top-``vocab_size`` vocabulary broadcast-joins onto the
       exploded token stream (no shuffle of the stream for the join);
    3. out-of-vocabulary tokens get a half-count floor
       ``ln(0.5/total)``, then one shuffle re-aggregates by ``id_col``.

    Cost at scale: two passes over the token stream + one groupBy on the
    document id — the re-agg is the unavoidable shuffle (per-doc means
    need the doc's tokens back together); everything else is broadcast.
    Adds ``lp_mean`` (higher = more typical) to one row per document.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1: {vocab_size}")
    toks = (df.select(id_col,
                      F.explode(F.split(_c(text_col), " ")).alias("token"))
            .where(F.col("token") != ""))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt")).collect()[0][0] or 1
    vocab = (counts.orderBy(F.desc("cnt"), F.asc("token"))
             .limit(vocab_size)
             .withColumn("lp", F.log(F.col("cnt") / F.lit(float(total)))))
    oov = float(__import__("math").log(0.5 / total))
    scored = (toks.join(F.broadcast(vocab.select("token", "lp")),
                        "token", "left")
              .withColumn("lp", F.coalesce(F.col("lp"), F.lit(oov))))
    return scored.groupBy(id_col).agg(F.avg("lp").alias("lp_mean"))


def _doc_bigram_expr(text_col: str) -> Column:
    """Consecutive token-pair structs per document — tokens split on
    single spaces with empties dropped (the :func:`unigram_logprob`
    tokenization; case preserved)."""
    return F.expr(f"""
        element_at(transform(array(filter(split(`{text_col}`, ' '),
                                          t -> t != '')),
            tk -> CASE WHEN size(tk) >= 2 THEN
                transform(sequence(0, size(tk) - 2),
                    i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
            ELSE array() END), 1)""")


def bigram_logprob(df: DataFrame, text_col: str, id_col: str,
                   k_smooth: float = 0.5) -> DataFrame:
    """Mean add-k-smoothed bigram conditional log-probability per
    document — the next step up from :func:`unigram_logprob` on the
    CCNet ladder (a KenLM-style perplexity filter without external
    models): word-salad that passes unigram typicality still scores
    low here because its CONSECUTIVE pairs are improbable.

    ``P(w|v) = (c(v,w) + k) / (c(v) + k·V)`` with corpus-trained
    counts, ``V`` = unigram vocabulary size; per doc, the mean ``ln P``
    over its bigrams.  Output: ``(id, n_bigrams, blp_mean)`` — one row
    per document WITH ≥ 1 bigram (single-token docs have no conditional
    to score; treat separately).  Higher = more corpus-typical.

    Self-scored by default (train = score corpus).  To score a NEW
    batch against a reference corpus, aggregate the reference's bigram
    and unigram counts once, store them, and join those instead — the
    count frames here are plain additive aggregates, so reference
    counts are mergeable state like everything else in
    ``incremental.py``.

    Plan: bigram/unigram count aggregates (map-side combined —
    stop-pair mass collapses before the shuffle), then the bigram
    stream joins its counts (ordinary hash joins on the pair / the
    context token — NOT broadcast: web-scale vocabularies don't fit),
    and one final groupBy on the doc id reassembles per-doc means.
    The vocabulary size ``V`` is folded into the plan LAZILY — a
    one-row count over the unigram frame crossJoined back broadcast
    (the :func:`pmi_collocations` totals shape); an eager
    ``uni.count()`` here would fire a full corpus scan at BUILD time
    and then rescan the unigrams in the join.
    """
    if k_smooth <= 0:
        raise ValueError(f"k_smooth must be > 0: {k_smooth}")
    bp = (df.select(F.col(id_col).alias("__id"),
                    F.explode(_doc_bigram_expr(text_col)).alias("b"))
          .select("__id", "b.w1", "b.w2"))
    bc = bp.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    uni = (df.select(F.explode(
        F.filter(F.split(_c(text_col), " "), lambda t: t != ""))
        .alias("w1"))
        .groupBy("w1").agg(F.count(F.lit(1)).alias("__c1")))
    vtot = uni.agg(F.count(F.lit(1)).cast("double").alias("__V"))
    lp = F.log((F.col("__c12") + F.lit(k_smooth))
               / (F.col("__c1") + F.lit(k_smooth) * F.col("__V")))
    return (bp.join(bc, ["w1", "w2"]).join(uni, "w1")
            .crossJoin(F.broadcast(vtot))
            .groupBy("__id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.avg(lp).alias("blp_mean"))
            .withColumnRenamed("__id", id_col))


# --- PII / URL scan --------------------------------------------------------
# Patterns restricted to syntax RE2/PCRE/DuckDB all parse identically
# (char classes, +, bounded repeats — no lookaround, no backrefs).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[A-Za-z0-9./_%#?&=-]+",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+[0-9][0-9 ()-]{6,14}[0-9]",
}


def pii_count(col, kind: str) -> Column:
    """Occurrences of one PII pattern (JVM regexp, codegen'd)."""
    if kind not in PII_PATTERNS:
        raise ValueError(f"kind must be one of {sorted(PII_PATTERNS)}: "
                         f"{kind}")
    # pattern passed as a literal Column, NOT through F.expr — SQL string
    # parsing would strip the \-escapes (`\.` → any-char, `\+` → dangling)
    return F.size(F.regexp_extract_all(
        _c(col), F.lit(PII_PATTERNS[kind]), F.lit(0)))


def pii_scan(df: DataFrame, text_col: str) -> DataFrame:
    """Add per-document PII counts + ``pii_any`` flag.

    The redact/drop decision stays with the caller; this is the scan a
    pipeline runs to quantify leakage before filtering.  All counts are
    single-pass JVM regexes — no Python crossing, no shuffle.
    """
    counts = {k: pii_count(text_col, k) for k in PII_PATTERNS}
    out = df.select(
        "*", *[c.alias(f"pii_{k}") for k, c in sorted(counts.items())])
    any_expr = None
    for k in sorted(PII_PATTERNS):
        term = F.col(f"pii_{k}") > 0
        any_expr = term if any_expr is None else (any_expr | term)
    return out.withColumn("pii_any", any_expr)


PII_REDACT_ORDER = ["url", "email", "ipv4", "phone"]


def pii_redact(col, kinds: list[str] | None = None) -> Column:
    """Text with PII spans replaced by ``[KIND]`` placeholders — the
    release-side counterpart of :func:`pii_scan` (count first, redact
    what ships).

    Patterns apply in a FIXED order (url before email before ipv4
    before phone) so nested matches resolve deterministically: a URL
    containing digits is consumed whole before the ipv4 pattern can
    bite a fragment of it.

    Scale: a chain of codegen'd ``regexp_replace`` calls — zero
    shuffles, linear in corpus bytes, same engine-portable pattern
    subset as the scanner (replayable with DuckDB's 'g' flag).
    """
    kinds = PII_REDACT_ORDER if kinds is None else list(kinds)
    out = _c(col)
    for k in kinds:
        if k not in PII_PATTERNS:
            raise ValueError(
                f"kind must be one of {sorted(PII_PATTERNS)}: {k}")
        out = F.regexp_replace(out, PII_PATTERNS[k], f"[{k.upper()}]")
    return out


def text_features(df: DataFrame, text_col: str) -> DataFrame:
    """All per-document text features as additional columns.

    The two token arrays (whitespace split; lowercased ``\\s+`` split)
    are materialized ONCE in a first projection and every interpreted
    higher-order kernel references them.  Without this, each consumer
    re-splits the document: avg_token_len + fingerprint + quality use
    the ws array (3 splits), the per-language stopword filters use the
    lowercased array (4 splits) — all interpreted, no CSE.  Catalyst's
    CollapseProject keeps the two-stage shape because inlining would
    duplicate a non-cheap expression referenced several times; the
    regexp/length kernels stay whole-stage-codegen either way.

    Both projections are ``selectExpr`` calls over the helpers' SQL
    fragments, so building the plan costs a few dozen py4j round trips
    instead of ~1,600 for the same features as Column trees.
    """
    c = ident(text_col)
    tws, tlc = "`__tf_toks_ws`", "`__tf_toks_lc`"
    step = df.selectExpr("*", f"{_toks_ws(c)} AS {tws}",
                         f"{_toks_lc(c)} AS {tlc}")
    return step.selectExpr(
        *map(ident, df.columns),
        f"{_n_chars(c)} AS f_n_chars",
        f"size({tws}) AS f_n_tokens",
        f"{_n_tokens_bpe(c)} AS f_n_tokens_bpe",
        f"{_ratio(c, 'A-Za-z')} AS f_alpha_ratio",
        f"{_ratio(c, '0-9')} AS f_digit_ratio",
        f"{_ratio(c, ' ')} AS f_space_ratio",
        f"{_ratio(c, 'A-Z')} AS f_upper_ratio",
        f"{_punct_ratio(c)} AS f_punct_ratio",
        f"{_avg_token_len(tws)} AS f_avg_token_len",
        f"{_fingerprint(c, tws)} AS f_fingerprint",
        f"{_lang_id(c, tlc, 'und')} AS f_lang",
        f"{_quality_score(c, tws)} AS f_quality",
    )


# --- quality-filter funnel (FineWeb/C4-style sequential rule chain) --------
def quality_funnel(df: DataFrame,
                   rules: "list[tuple[str, Column]]") -> DataFrame:
    """Sequential filter-funnel report: rules apply IN ORDER, each one
    evaluated only on survivors of the previous rules (the way C4 /
    Gopher / FineWeb pipelines stack their filters), with per-rule
    accounting of what each rule actually cost.

    ``rules`` is an ordered list of (name, keep-predicate Column).
    Returns one row per rule: ``(rule, n_evaluated, n_dropped,
    n_surviving)`` where ``n_evaluated`` is the survivor count entering
    the rule.  ONE aggregate over ONE scan — the cumulative
    conjunctions are sum(when) towers in a single codegen'd pass, never
    one job per rule — so adding a rule to the report is free at 100 TB.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    aggs, prev = [], F.lit(True)
    for i, (name, keep) in enumerate(rules):
        surv = prev & keep
        aggs.append(F.sum(F.when(prev, 1).otherwise(0)).cast("long")
                    .alias(f"__in{i}"))
        aggs.append(F.sum(F.when(surv, 1).otherwise(0)).cast("long")
                    .alias(f"__out{i}"))
        prev = surv
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __in{i}, __out{i}" for i, (name, _) in enumerate(rules))
    return (one.select(F.expr(
        f"stack({len(rules)}, {stack_args}) "
        f"as (rule, n_evaluated, n_surviving)"))
        .select("rule", "n_evaluated",
                (F.col("n_evaluated") - F.col("n_surviving"))
                .alias("n_dropped"),
                "n_surviving"))


# --- document chunking (RAG / pretraining context windows) -----------------
def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    chunk_tokens: int = 64, overlap: int = 16,
                    out_prefix: str = "chunk") -> DataFrame:
    """Split documents into overlapping token-window chunks.

    The standard context-window chunker every RAG / pretraining
    pipeline needs: chunk ``i`` covers whitespace tokens
    ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the final chunk is the
    (possibly short) tail.  A document with ``n <= chunk_tokens``
    tokens yields exactly one chunk (itself).

    Returns one row per chunk: ``(id_col, {out_prefix}_id,
    {out_prefix}_text, {out_prefix}_n_tokens)``.

    Scale: pure per-row JVM work — split once, build the chunk array
    with one ``transform`` over ``sequence(0, n_chunks-1)`` (the token
    array is bound as a real column first, the HOF "let" idiom used
    throughout this module, so slicing never re-splits the document),
    then ``posexplode``.  Zero shuffles, zero UDFs; output size is
    input size x (1 + overlap/stride) and each chunk row is
    independent, so the op streams through 100 TB embarrassingly
    parallel.  Reference scope: the profiler has no chunker; this is a
    north-star training-data extension (SURVEY §2.9).
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = F.split(_c(text_col), " ")
    n = F.size(F.col("__toks"))
    n_chunks = (F.when(n <= chunk_tokens, F.lit(1).cast("long"))
                .otherwise(F.floor((n - F.lit(chunk_tokens)
                                    + F.lit(stride - 1))
                                   / F.lit(float(stride))) + 1))
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1),
        lambda i: F.array_join(
            F.slice(F.col("__toks"),
                    (i * stride + 1).cast("int"), chunk_tokens),
            " "))
    return (df
            .withColumn("__toks", toks)
            .withColumn("__nc", n_chunks)
            .select(id_col, F.posexplode(chunks)
                    .alias(f"{out_prefix}_id", f"{out_prefix}_text"))
            .withColumn(f"{out_prefix}_n_tokens",
                        F.size(F.split(F.col(f"{out_prefix}_text"), " "))))


# --- TF-IDF (corpus-level term weighting) ----------------------------------
def tfidf_topk(df: DataFrame, text_col: str, id_col: str,
               k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed sklearn-style idf).

    ``tf`` = in-document count of the whitespace token; ``idf`` =
    ``ln((N+1)/(df+1)) + 1`` (the sklearn ``smooth_idf`` form — never
    zero, never divides by zero); ``score = tf * idf``.  Ties break
    deterministically by token string ascending.

    Returns ``(id_col, token, tf, df, score_s, rank)`` with ``score_s``
    the 5-significant-digit portable form of the score (ln differs in
    the last ulp across libm implementations; the profile oracle uses
    the same normalization).

    Scale: tf is one shuffle on (doc, token); df is a map-side-partial
    count on token; N rides a 1-row broadcast cross join; the tf<->df
    join shuffles on the token key (vocabulary-sized, uniform); the
    final per-doc top-k is a window over the doc key.  No UDFs, no
    driver collects.
    """
    tf = (df.select(F.col(id_col).alias("__id"),
                    F.explode(F.split(_c(text_col), " ")).alias("token"))
          .groupBy("__id", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count_distinct(_c(id_col)).alias("__n"))
    from pyspark.sql import Window
    scored = (tf.join(dfreq, "token")
              .join(F.broadcast(n_docs))
              .withColumn("score",
                          F.col("tf") * (F.log((F.col("__n") + 1)
                                               / (F.col("df") + 1)) + 1)))
    w = Window.partitionBy("__id").orderBy(
        F.desc("score"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("__id").alias(id_col), "token", "tf", "df",
                    "score", "rank"))


def bm25_topk(df: DataFrame, text_col: str, id_col: str,
              query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 retrieval: top-k documents for a bag of query terms.

    The standard sparse-retrieval scorer (the baseline every RAG /
    data-selection pipeline starts from)::

        idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))   # Lucene form,
                                                             # never negative
        score(d) = Σ_t idf(t) · tf_td·(k1+1)
                         / (tf_td + k1·(1 - b + b·dl_d/avgdl))

    with whitespace tokenization (the library-wide convention).
    Returns ``(id_col, score, n_terms_matched, rank)`` for the top-k
    docs; ties break by id ascending (deterministic).

    Scale design: the query-term set rides into the explode FILTER as a
    literal ``isin`` (corpus tokens that aren't query terms never leave
    the map side), so ``tf`` is one shuffle on (doc, term) over MATCHED
    tokens only; ``df_t`` and ``avgdl``/``N`` are O(|terms|) and O(1)
    aggregates that join back by BROADCAST; the final top-k is a global
    ``TakeOrdered`` (no single-partition window).  No UDFs, no driver
    collects of row-scale data.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    terms = sorted(set(query_terms))
    toks = df.select(F.col(id_col).alias("__id"),
                     F.explode(F.split(_c(text_col), " ")).alias("token"))
    # per-doc length in tokens + corpus stats (N, avgdl) — one 1-row agg
    dl = (df.select(F.col(id_col).alias("__id"),
                    F.size(F.split(_c(text_col), " "))
                    .cast("double").alias("dl")))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    tf = (toks.where(F.col("token").isin(terms))
          .groupBy("__id", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "token")
              .join(F.broadcast(stats))
              .join(dl, "__id")
              .withColumn(
                  "idf",
                  F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df")
                                      + 0.5) / (F.col("df") + 0.5)))
              .withColumn(
                  "contrib",
                  F.col("idf") * F.col("tf") * (k1 + 1.0)
                  / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                         / F.col("avgdl"))))
              .groupBy("__id")
              .agg(F.sum("contrib").alias("score"),
                   F.count(F.lit(1)).cast("long")
                   .alias("n_terms_matched")))
    top = (scored.orderBy(F.desc("score"), F.asc("__id")).limit(k))
    w = Window.partitionBy().orderBy(F.desc("score"), F.asc("__id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("__id").alias(id_col), "score",
                    "n_terms_matched", "rank"))


def zipf_fit(df: DataFrame, text_col: str,
             max_vocab: int = 10_000) -> DataFrame:
    """Zipf power-law fit over the corpus vocabulary: OLS slope of
    ``ln(freq)`` on ``ln(rank)`` (natural-language corpora sit near
    slope ≈ -1; a corpus of boilerplate/spam/machine text drifts away,
    making this a cheap corpus-health diagnostic).

    Returns ONE row ``(zipf_slope, zipf_intercept, n_vocab,
    top_freq)``; ``exp(zipf_intercept)`` estimates the top token's
    frequency under the fitted law.

    Scale design: the fit is restricted to the top ``max_vocab`` tokens
    (the standard practice — the low-frequency tail is both noisy and
    unbounded), harvested by :func:`vocab_topk`'s skew-safe two-phase
    rank, so the global ordering only ever touches a BOUNDED set
    (``max_vocab`` rows); the regression itself is
    ``regr_slope``/``regr_intercept`` — codegen'd JVM aggregates.
    The unbounded full-vocabulary count stays a map-side-combined hash
    aggregate; nothing vocabulary-sized is collected or single-tasked.
    """
    if max_vocab < 2:
        raise ValueError(f"max_vocab must be >= 2: {max_vocab}")
    top = vocab_topk(df, text_col, k=max_vocab)
    w = Window.partitionBy().orderBy(F.desc("cnt"), F.asc("token"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.regr_slope(F.log("cnt"), F.log("rank")).alias("zipf_slope"),
        F.regr_intercept(F.log("cnt"), F.log("rank"))
        .alias("zipf_intercept"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.max("cnt").cast("long").alias("top_freq"))


# ---------------------------------------------------------------------------
# Encoding / mojibake quality signals
# ---------------------------------------------------------------------------
def _char_count(col, char_class: str) -> Column:
    """Number of chars in the class (complement-strip trick — stays a
    single codegen'd regexp_replace, no explode)."""
    return F.expr(_kept_len(operand(col), char_class))


def _safe_len(col) -> Column:
    """Text length with 0 mapped to NULL — ANSI mode raises on x/0, and
    a ratio over an empty string is undefined anyway (NULL, not 0)."""
    return F.nullif(F.length(_c(col)), F.lit(0))


def replacement_char_ratio(col) -> Column:
    """Fraction of U+FFFD replacement characters — the tell-tale of a
    lossy decode upstream (bytes that didn't survive UTF-8)."""
    return _char_count(col, "�") / _safe_len(col)


def control_char_ratio(col) -> Column:
    """Fraction of C0/C1 control characters excluding \\t \\n \\r —
    binary junk masquerading as text scores high here."""
    return (_char_count(col, "\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f")
            / _safe_len(col))


def non_ascii_ratio(col) -> Column:
    """Fraction of non-ASCII characters (not a defect by itself —
    interpret jointly with lang_id; a doc tagged 'en' that is 40%
    non-ASCII is suspicious, a Chinese doc is not)."""
    return (F.length(_c(col)) - _char_count(col, "\x00-\x7f")) \
        / _safe_len(col)


def mojibake_hits(col) -> Column:
    """Count of classic UTF-8-read-as-Latin-1 bigrams: ``Ã``/``Â``
    followed by a char from the Latin-1 supplement continuation range
    (U+0080–U+00BF) — the signature of double-encoded text ("Ã©" for
    "é").  Non-overlapping match count via split (portable: DuckDB
    counts the same with regexp_split_to_array)."""
    pat = "[\u00c3\u00c2][\u0080-\u00bf]"
    return (F.size(F.split(_c(col), pat)) - 1).cast("long")


def encoding_stats(df: DataFrame, text_col: str, id_col: str,
                   max_repl_ratio: float = 0.0,
                   max_ctrl_ratio: float = 0.0,
                   max_mojibake: int = 0) -> DataFrame:
    """Per-document encoding-quality report:
    ``(id_col, repl_ratio, ctrl_ratio, non_ascii_ratio, mojibake,
    enc_clean)`` — ``enc_clean`` is the pass/fail under the given
    thresholds (defaults: any replacement char, control char, or
    mojibake bigram fails the doc, the right strictness for
    pretraining text).

    Scale: every signal is a codegen'd regexp over the row — ZERO
    shuffles, cost linear in corpus bytes, trivially partitionable.
    """
    rr = replacement_char_ratio(text_col)
    cr = control_char_ratio(text_col)
    mh = mojibake_hits(text_col)
    return df.select(
        F.col(id_col),
        rr.alias("repl_ratio"),
        cr.alias("ctrl_ratio"),
        non_ascii_ratio(text_col).alias("non_ascii_ratio"),
        mh.alias("mojibake"),
        ((F.coalesce(rr, F.lit(0.0)) <= max_repl_ratio)
         & (F.coalesce(cr, F.lit(0.0)) <= max_ctrl_ratio)
         & (mh <= max_mojibake)).alias("enc_clean"))


# ---------------------------------------------------------------------------
# Canonical text normalization + canonical dedup (case/whitespace-
# insensitive exact dedup — the standard pre-hash canonicalization every
# production dedup pipeline applies before the content hash)
# ---------------------------------------------------------------------------
def normalize_text(col: "str | Column", lower: bool = True,
                   collapse_ws: bool = True,
                   strip_punct: bool = False) -> Column:
    """Canonical form of a text column for dedup/fingerprinting:
    optional lowercase, whitespace-run collapse (leading/trailing
    stripped, internal runs -> one space), optional punctuation strip.

    Whitespace is the EXPLICIT class ``[ \\t\\r\\n\\f]`` rather than
    ``\\s`` — Java and RE2 disagree about ``\\s``'s exact membership
    (``\\x0B``), and this expression must replay bit-for-bit in DuckDB
    for the oracle.  Pure codegen'd ``lower``/``regexp_replace`` chain:
    zero shuffles, zero UDFs, embarrassingly parallel.
    """
    c = F.col(col) if isinstance(col, str) else col
    if lower:
        c = F.lower(c)
    if strip_punct:
        # keep letters, digits and whitespace only
        c = F.regexp_replace(c, r"[^a-z0-9A-Z \t\r\n\f]", "")
    if collapse_ws:
        c = F.trim(F.regexp_replace(c, "[ \t\r\n\f]+", " "))
    return c


def canonical_dedup(df: DataFrame, text_col: str = "text",
                    order_col: str = "doc_id", lower: bool = True,
                    collapse_ws: bool = True,
                    strip_punct: bool = False) -> DataFrame:
    """Exact dedup on the CANONICAL text: two docs differing only in
    case / whitespace runs (/ punctuation with ``strip_punct``) are
    duplicates; the survivor is the smallest ``order_col`` — the same
    deterministic keep-first contract as ``dedup.exact_dedup``, which
    does the actual work on the normalized column.

    Same plan shape as exact_dedup: the normalization is a map-side
    projection, then one shuffle on the (uniform) content hash of the
    canonical text.  Output keeps the ORIGINAL columns (the canonical
    form is internal).
    """
    from spark_df_profiling_spark.operators.dedup import exact_dedup
    marked = df.withColumn(
        "__canon", normalize_text(text_col, lower=lower,
                                  collapse_ws=collapse_ws,
                                  strip_punct=strip_punct))
    return exact_dedup(marked, cols=["__canon"],
                       order_col=order_col).drop("__canon")


# ---------------------------------------------------------------------------
# URL / domain analytics — the domain-mix report every web-scale corpus
# pipeline tracks (which sites dominate the training data?)
# ---------------------------------------------------------------------------
# host part of a URL: after scheme://, optional userinfo@, up to the
# first /, :, ?, # or whitespace
URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@\s]*@)?([^/:?#\s]+)"

# TWO-LEVEL public-suffix set — a static snapshot-style approximation
# of the Mozilla Public Suffix List (the full PSL is a ~9k-rule data
# file that cannot be fetched in this environment; this table carries
# the ~250 second-level registries that dominate web-corpus traffic,
# reconstructed from PSL knowledge as of 2026).  ICANN ccTLD
# registries ('bbc.co.uk' -> 'bbc.co.uk', 'onet.com.pl' ->
# 'onet.com.pl'); PSL-private platforms and beyond-PSL heuristics are
# the separate tuples below.  Extend per deployment; the parameter
# keeps the expression pure codegen (a literal isin — codegen compiles
# it to a hash-set probe), no lookup join.  Known limit: three-level
# rules (e.g. Japanese city domains) are not modeled.
ICANN_TWO_LEVEL_SUFFIXES = (
    # United Kingdom
    "co.uk", "ac.uk", "gov.uk", "org.uk", "me.uk", "net.uk",
    "ltd.uk", "plc.uk", "sch.uk", "nhs.uk",
    # Japan
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    # Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
    "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "maori.nz", "iwi.nz",
    # Brazil
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
    "art.br", "adv.br", "ind.br", "inf.br", "med.br", "nom.br",
    "rec.br", "srv.br", "tur.br", "tv.br", "blog.br", "wiki.br",
    # China / Hong Kong / Taiwan
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "mil.cn", "ah.cn", "bj.cn", "sh.cn", "gd.cn", "zj.cn", "js.cn",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "game.tw", "club.tw",
    # India / Indonesia / Pakistan / Bangladesh / Sri Lanka / Nepal
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in",
    "nic.in", "ac.in", "edu.in", "res.in", "gov.in", "mil.in",
    "co.id", "or.id", "ac.id", "go.id", "web.id", "sch.id",
    "net.id", "my.id", "biz.id",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk", "biz.pk",
    "web.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd", "ac.bd",
    "com.lk", "net.lk", "org.lk", "edu.lk", "gov.lk", "ac.lk",
    "sch.lk",
    "com.np", "net.np", "org.np", "edu.np", "gov.np",
    # Koreas / SE Asia
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "ac.kr",
    "hs.kr", "ms.kr", "es.kr", "sc.kr", "mil.kr",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
    "com.my", "net.my", "org.my", "edu.my", "gov.my", "mil.my",
    "name.my",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "ngo.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "ac.vn",
    "biz.vn", "info.vn", "name.vn", "pro.vn", "int.vn",
    # Middle East / Africa
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "k12.il",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "mil.tr",
    "k12.tr", "av.tr", "dr.tr", "bel.tr", "pol.tr",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "pub.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "ac.ae", "gov.ae", "sch.ae",
    "mil.ae",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg",
    "eun.eg", "name.eg",
    "com.jo", "net.jo", "org.jo", "edu.jo", "gov.jo", "mil.jo",
    "sch.jo",
    "com.lb", "net.lb", "org.lb", "edu.lb", "gov.lb",
    "com.kw", "net.kw", "org.kw", "edu.kw", "gov.kw", "ind.kw",
    "com.qa", "net.qa", "org.qa", "edu.qa", "gov.qa", "sch.qa",
    "com.om", "net.om", "org.om", "edu.om", "gov.om", "co.om",
    "med.om", "pro.om",
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za",
    "web.za",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "sch.ng",
    "name.ng", "mobi.ng", "i.ng",
    "co.ke", "ne.ke", "or.ke", "ac.ke", "go.ke", "info.ke",
    "me.ke", "mobi.ke", "sc.ke",
    # Latin America
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "gov.ar",
    "int.ar", "mil.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "mil.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "mil.pe",
    "nom.pe",
    "com.ve", "net.ve", "org.ve", "edu.ve", "gob.ve", "co.ve",
    "info.ve", "mil.ve", "web.ve",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec", "gov.ec",
    "fin.ec", "info.ec", "med.ec", "pro.ec",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
    "com.py", "net.py", "org.py", "edu.py", "gov.py", "coop.py",
    "mil.py",
    "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo", "gov.bo",
    "int.bo", "mil.bo", "tv.bo", "web.bo",
    "com.gt", "net.gt", "org.gt", "edu.gt", "gob.gt", "ind.gt",
    "mil.gt",
    "co.cr", "ac.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
    "com.do", "net.do", "org.do", "edu.do", "gob.do", "gov.do",
    "mil.do", "sld.do", "web.do", "art.do",
    # Europe misc
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl",
    "waw.pl", "wroc.pl", "krakow.pl", "lodz.pl", "poznan.pl",
    "com.ru", "net.ru", "org.ru", "ac.ru", "gov.ru", "edu.ru",
    "int.ru", "mil.ru", "msk.ru", "spb.ru",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "kiev.ua",
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.cy", "net.cy", "org.cy", "ac.cy", "gov.cy", "ltd.cy",
    "biz.cy", "press.cy", "pro.cy", "tm.cy",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "gov.it", "edu.it",
    "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt", "int.pt",
    "publ.pt", "nome.pt",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "tm.fr", "prd.fr",
    "com.se", "org.se", "pp.se", "tm.se", "ac.se",
    "co.hu", "org.hu", "info.hu", "priv.hu", "sport.hu", "tm.hu",
    "com.mt", "net.mt", "org.mt", "edu.mt",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "nom.ro", "info.ro",
    "rec.ro", "arts.ro", "firm.ro", "store.ro", "www.ro",
)

# PSL private section — hosting / publishing platforms listed as
# actual PSL rules (each subdomain is an independent registrant).
PSL_PRIVATE_SUFFIXES = (
    "github.io", "gitlab.io", "blogspot.com", "netlify.app",
    "vercel.app", "herokuapp.com", "web.app", "firebaseapp.com",
    "pages.dev", "workers.dev", "azurewebsites.net", "cloudfront.net",
    "appspot.com", "readthedocs.io", "neocities.org", "wixsite.com",
    "repl.co", "glitch.me", "surge.sh", "onrender.com", "fly.dev",
    "deno.dev", "linodeusercontent.com", "digitaloceanspaces.com",
    "myshopify.com", "webflow.io", "notion.site", "ghost.io",
    "hashnode.dev", "dreamhosters.com", "000webhostapp.com",
    "altervista.org",
)

# Corpus-dedup heuristics BEYOND the PSL — deliberately not PSL rules:
# either the PSL only lists SUBTREES of these (s3.amazonaws.com,
# a.ssl.fastly.net, *.windows.net service zones) or the domain is not
# PSL-listed at all (wordpress.com, tumblr.com, substack.com, ...),
# yet in web corpora each subdomain is an independent content
# publisher, which is the split domain-mix / dedup statistics need.
# Cost (documented trade): the platform's own corporate pages
# (wordpress.com/about) no longer roll up with the bare domain.
PLATFORM_DEDUP_SUFFIXES = (
    "wordpress.com", "tumblr.com", "weebly.com", "amazonaws.com",
    "fastly.net", "windows.net", "cloudflaressl.com",
    "oraclecloud.com", "b-cdn.net", "hubspotpagebuilder.com",
    "squarespace.com", "cargo.site", "bubbleapps.io", "substack.com",
    "bearblog.dev", "micro.blog", "base.shop", "carrd.co",
)

# Default table = ICANN approximation + PSL private rules + the
# beyond-PSL platform heuristics.  Pass ``ICANN_TWO_LEVEL_SUFFIXES +
# PSL_PRIVATE_SUFFIXES`` to registered_domain for strict-PSL rollups.
TWO_LEVEL_SUFFIXES = (ICANN_TWO_LEVEL_SUFFIXES + PSL_PRIVATE_SUFFIXES
                      + PLATFORM_DEDUP_SUFFIXES)


def extract_urls(col: "str | Column") -> Column:
    """All URLs in a text column (array<string>), same regex as the
    PII scanner so exposure counts and domain stats agree."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(PII_PATTERNS["url"]), 0)


def url_host(col: "str | Column") -> Column:
    """Lowercased host of a URL string; NULL for non-URLs."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.lower(F.regexp_extract(c, URL_HOST_RE, 1))
    return F.when(h != "", h)


def registered_domain(host_col: "str | Column",
                      two_level: "tuple[str, ...]" = TWO_LEVEL_SUFFIXES
                      ) -> Column:
    """Registrable domain of a host: last two labels, or last THREE
    when the last two are a known second-level public suffix
    ('news.bbc.co.uk' -> 'bbc.co.uk', 'a.b.example.com' ->
    'example.com').  Single-label hosts pass through unchanged."""
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    toks = F.split(h, r"\.")
    n = F.size(toks)
    last2 = F.concat_ws(".", F.element_at(toks, -2),
                        F.element_at(toks, -1))
    last3 = F.concat_ws(".", F.element_at(toks, -3), last2)
    # outer isNotNull guard: concat_ws silently drops NULLs, so a NULL
    # host would otherwise come back as '' instead of NULL
    return F.when(h.isNotNull(),
                  F.when(n <= 1, h)
                  .when((n >= 3) & last2.isin(*two_level), last3)
                  .otherwise(last2))


# document structure markers — RE2-safe (no backreferences/lookaround),
# so DuckDB replays each count with regexp_extract_all
STRUCTURE_PATTERNS: dict[str, str] = {
    "headers": r"(?m)^#{1,6} ",              # markdown ATX headers
    "fences": r"```",                         # code fence delimiters
    "bullets": r"(?m)^[-*+] ",               # bullet-list items
    "links": r"\[[^\]\n]*\]\([^)\n]*\)",     # [text](url)
    "tables": r"(?m)^\|[^\n]*\|",            # | cell | cell |
    "html": r"</?[A-Za-z][A-Za-z0-9]*[^>\n]*>",  # html-ish tags
}


def structure_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document structure-marker counts — ``st_headers``,
    ``st_fences``, ``st_bullets``, ``st_links``, ``st_tables``,
    ``st_html`` (+ ``st_any`` flag): the corpus-composition signal that
    separates markdown/docs/code-adjacent text from plain prose before
    choosing cleaning rules (strip html? keep fences?) or mixture
    weights.  Zero-shuffle codegen projection (one ``regexp_count``
    per marker); roll up with an ordinary groupBy.
    """
    out = df
    flags = []
    for name, pat in STRUCTURE_PATTERNS.items():
        out = out.withColumn(f"st_{name}",
                             F.regexp_count(_c(text_col), F.lit(pat)))
        flags.append(F.col(f"st_{name}") > 0)
    any_flag = flags[0]
    for fl in flags[1:]:
        any_flag = any_flag | fl
    return out.withColumn("st_any", any_flag)


def pmi_collocations(df: DataFrame, text_col: str = "text",
                     k: int = 50, min_count: int = 5) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the corpus
    phrase-discovery diagnostic ("new york", "machine learning"):
    ``(w1, w2, c12, c1, c2, pmi)`` for the k consecutive-token bigrams
    with the highest ``ln(P(w1,w2) / (P(w1)·P(w2)))``, ties broken by
    (w1, w2) ascending.  ``min_count`` floors the bigram count —
    without it, hapax bigrams of rare words dominate PMI (the classic
    artifact).

    Tokenization matches :func:`vocab_topk`: lowercase, split on
    single spaces, empty tokens dropped (bigrams pair the FILTERED
    token sequence).  P(w) uses the unigram total, P(w1,w2) the bigram
    total (Σ max(tokens−1, 0)).

    Plan — three map-side-combined aggregates and two hash joins, no
    windows over row-scale data: one O(#cols)-free scan computes the
    two totals (no explode), the bigram and unigram streams each
    explode into ONE partial+final hash agg, the ≥min_count bigram
    frame joins the unigram counts on each side's token (ordinary
    shuffle joins — the vocabulary is not assumed broadcastable), and
    top-k is a TakeOrdered over the surviving frame.  Stop-word-head
    skew lands in the partial aggs, never in one task.
    """
    if k < 1 or min_count < 1:
        raise ValueError(f"need k >= 1, min_count >= 1: {k}, "
                         f"{min_count}")
    toks = F.filter(F.split(F.lower(_c(text_col)), " "),
                    lambda t: t != "")
    totals = df.agg(
        F.sum(F.size(toks)).cast("double").alias("__nt"),
        F.sum(F.greatest(F.size(toks) - 1, F.lit(0))).cast("double")
        .alias("__nb"))
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    bigrams = F.expr(f"""
        element_at(transform(array(filter(split(lower(`{text_col}`),
                                               ' '), t -> t != '')),
            tk -> CASE WHEN size(tk) >= 2 THEN
                transform(sequence(0, size(tk) - 2),
                    i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
            ELSE array() END), 1)""")
    bg = (df.select(F.explode(bigrams).alias("b"))
          .select("b.w1", "b.w2")
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
          .where(F.col("c12") >= min_count))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log((F.col("c12") * F.col("__nt") * F.col("__nt"))
                / (F.col("__nb") * F.col("c1") * F.col("c2")))
    return (bg.join(u1, "w1").join(u2, "w2")
            .crossJoin(F.broadcast(totals))
            .select("w1", "w2", "c12", "c1", "c2", pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2").limit(k))


# query parameters that vary per click, not per resource — the standard
# tracking families (UTM campaign tags, platform click ids).  Dropping
# them is what makes URL-keyed dedup actually collapse re-shares.
TRACKING_PARAM_RE = (r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|dclid|msclkid|"
                     r"igshid|mc_eid|mc_cid|yclid|_ga|ref_src|spm|"
                     r"cmpid|WT\.mc_id)=")


def canonical_url(col: "str | Column") -> Column:
    """Canonical form of a URL for URL-keyed dedup / counting:

    * scheme and host lowercased (path/query case preserved — paths
      are case-sensitive);
    * default ports dropped (``:80`` for http, ``:443`` for https),
      explicit non-default ports kept;
    * fragment dropped (never sent to the server);
    * tracking query parameters dropped (:data:`TRACKING_PARAM_RE` —
      utm_*, fbclid, gclid, ...), remaining parameters SORTED
      (order-insensitive equality; documented canonicalization choice);
    * trailing slashes stripped from the path (``/a/`` == ``/a``; the
      root path collapses to none).

    NULL for strings that don't parse as ``scheme://host...``.  Pure
    JVM expressions — regexp extraction plus a higher-order
    filter/sort on the split query string, each replayable in DuckDB
    (``list_filter``/``list_sort``/``string_split``), which is how the
    oracle grades it.  Compose with ``exact_dedup`` on the result for
    URL-keyed dedup, or :func:`registered_domain` + ``url_host`` for
    domain rollups of the canonical form.
    """
    c = F.col(col) if isinstance(col, str) else col
    u = F.trim(c)
    scheme = F.lower(F.regexp_extract(
        u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, URL_HOST_RE, 1))
    port = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@\s]*@)?[^/:?#\s]+"
           r":([0-9]+)", 1)
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#\s]*([^?#\s]*)", 1)
    query = F.regexp_extract(u, r"\?([^#\s]*)", 1)
    keep_port = ((port != "")
                 & ~((scheme == "http") & (port == "80"))
                 & ~((scheme == "https") & (port == "443")))
    clean_path = F.regexp_replace(path, "/+$", "")
    clean_q = F.array_join(
        F.array_sort(F.filter(
            F.split(query, "&"),
            lambda x: (x != "")
            & ~x.rlike(TRACKING_PARAM_RE))), "&")
    out = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        clean_path,
        F.when(clean_q != "", F.concat(F.lit("?"), clean_q))
        .otherwise(F.lit("")))
    return F.when((scheme != "") & (host != ""), out)


def domain_stats(df: DataFrame, text_col: str = "text",
                 doc_col: str = "doc_id") -> DataFrame:
    """Per-registered-domain corpus report: ``(domain, n_urls,
    n_docs, url_share)`` over every URL found in ``text_col`` — the
    first question a web-corpus audit asks (is one site 40% of the
    data?), and the input to per-domain caps/sampling.

    Plan: regexp extract (codegen) → explode (narrow) → ONE groupBy on
    the domain with map-side partial aggregation; a mega-domain
    arrives at its reducer as one partial row per upstream task, not
    row-scale — the same skew posture as ``skew_report``.  The share
    denominator is a 1-row broadcast.
    """
    urls = (df.select(F.col(doc_col).alias("__doc"),
                      F.explode(extract_urls(text_col)).alias("__u"))
            .select("__doc", registered_domain(url_host(F.col("__u")))
                    .alias("domain"))
            .where(F.col("domain").isNotNull()))
    counts = (urls.groupBy("domain")
              .agg(F.count(F.lit(1)).alias("n_urls"),
                   F.count_distinct("__doc").alias("n_docs")))
    total = counts.agg(F.sum("n_urls").alias("__tot"))
    return (counts.crossJoin(F.broadcast(total))
            .select("domain", "n_urls", "n_docs",
                    (F.col("n_urls") / F.col("__tot")).alias("url_share"))
            .orderBy(F.desc("n_urls"), F.asc("domain")))


def oov_stats(df: DataFrame, text_col: str, vocab: DataFrame,
              id_col: str, token_col: str = "token",
              broadcast_vocab: bool = True) -> DataFrame:
    """Per-document out-of-vocabulary rate against a reference
    vocabulary — the tokenizer/domain-fit metric: how much of each
    document a fixed vocabulary (tokenizer vocab, index dictionary,
    spell lexicon) cannot represent.  High corpus OOV = wrong
    tokenizer or domain shift; per-doc OOV feeds quality filtering
    like the other :func:`quality_score` signals.

    ``vocab`` is a one-token-per-row frame (``token_col``); tokens
    follow the corpus convention (space-split, empty dropped — the
    :func:`vocab_topk` tokenization).  Matching is exact/case-
    sensitive; normalize upstream (``normalize_text``) for casefolded
    vocabularies.  Output: one row per input document —
    ``(id_col, n_tokens, n_oov, oov_rate)``; documents with zero
    tokens keep n_tokens = 0 and a NULL rate.

    Scale: one explode → token-keyed LEFT join against the DISTINCT
    vocabulary (broadcast by default — tokenizer vocabularies are
    ~100k rows; pass ``broadcast_vocab=False`` for multi-GB lexica)
    → one map-side-combined per-doc agg; docs join back by id only
    to restore empty documents.
    """
    for c, frame, name in ((text_col, df, "df"), (id_col, df, "df"),
                           (token_col, vocab, "vocab")):
        if c not in frame.columns:
            raise ValueError(f"{name} missing column: {c!r}")
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(_c(text_col), " "))
                      .alias("__tok"))
            .where(F.col("__tok") != ""))
    v = (vocab.select(F.col(token_col).alias("__tok"))
         .where(F.col("__tok").isNotNull()).distinct()
         .withColumn("__in", F.lit(1)))
    if broadcast_vocab:
        v = F.broadcast(v)
    per_doc = (toks.join(v, "__tok", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.when(F.col("__in").isNull(), 1)
                          .otherwise(0)).alias("n_oov")))
    return (df.select(id_col).distinct()
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_tokens"), F.lit(0))
                    .cast("long").alias("n_tokens"),
                    F.coalesce(F.col("n_oov"), F.lit(0)).cast("long")
                    .alias("n_oov"),
                    F.when(F.col("n_tokens") > 0,
                           F.col("n_oov").cast("double")
                           / F.col("n_tokens")).alias("oov_rate")))


def readability_exprs(col: "str | Column") -> "dict[str, Column]":
    """Flesch reading-ease ingredients as pure codegen expressions:
    ``n_words`` (space-split, the corpus tokenization), ``n_sentences``
    (runs of ``.!?``, floored at 1 so fragments don't divide by zero),
    ``n_syllables`` (vowel-GROUP count — the standard cheap syllable
    heuristic; 'strength' counts 1, 'aeiou' counts 1).  Engine-portable:
    DuckDB replays with ``len(regexp_extract_all(...))``.

    ``n_words`` counts NON-EMPTY space-separated runs (``[^ ]+``), not
    ``size(split(...))`` — the latter returns 1 for empty text
    (contradicting readability_score's "NULL for empty text" contract)
    and inflates on consecutive spaces (ADVICE r10).  regexp_count stays
    inside codegen, unlike a filter() HOF (interpreted, measured 6×
    slower — COVERAGE playbook)."""
    c = _c(col)
    return {
        "n_words": F.regexp_count(c, F.lit(r"[^ ]+")),
        "n_sentences": F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")),
                                  F.lit(1)),
        "n_syllables": F.regexp_count(F.lower(c),
                                      F.lit(r"[aeiouy]+")),
    }


def readability_score(col: "str | Column") -> Column:
    """Flesch reading ease (Flesch 1948):
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`` —
    higher = simpler prose (90+ ≈ grade school, <30 ≈ academic).
    A quality-filter signal alongside :func:`quality_score`:
    machine-generated keyword stuffing and OCR soup land far outside
    the human band on BOTH tails.  English-calibrated — treat scores
    for other languages as relative, not absolute.  NULL for empty
    text (0 words).  Pure row expression, zero shuffle.
    """
    e = readability_exprs(col)
    w = e["n_words"].cast("double")
    return F.when(w > 0,
                  F.lit(206.835)
                  - F.lit(1.015) * (w / e["n_sentences"].cast("double"))
                  - F.lit(84.6) * (e["n_syllables"].cast("double") / w))


# ---------------------------------------------------------------------------
# BPE tokenizer-training primitives
# ---------------------------------------------------------------------------

#: symbol delimiter used for PAIR KEYS (ASCII unit separator) — words
#: containing it are dropped from training with a stated filter, never
#: silently corrupted.  Sequences themselves travel as symbol ARRAYS
#: (a delimited-string representation + literal replace() looks
#: equivalent but is NOT: the pattern can match a symbol SUFFIX
#: against a symbol PREFIX across a delimiter — measured corrupting
#: merge 7 of the fixture — and consecutive overlapping pair
#: occurrences defeat non-overlapping replacement)
BPE_SEP = "\x1f"


def _bpe_word_hist(df: DataFrame, text_col: str,
                   max_word_types: "int | None") -> DataFrame:
    """Collapse the corpus to its word-type histogram — THE scale move
    of BPE training (Sennrich et al. 2016 operate on word counts, not
    the token stream): everything after this is vocabulary-sized, not
    corpus-sized.  Optional deterministic top-``max_word_types`` cap
    (count desc, word asc, ``two_phase_topk`` rank — the standard
    trainer pre-filter; a stated approximation, not a silent one)."""
    hist = (df.select(F.explode(F.split(_c(text_col), " "))
                      .alias("word"))
            .where((F.col("word") != "")
                   & ~F.col("word").contains(BPE_SEP))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt")))
    if max_word_types is not None:
        hist = two_phase_topk(hist, [], "xxhash64(word)",
                              ["cnt DESC", "word ASC"],
                              max_word_types, 64).drop("rank")
    return hist


def _bpe_pair_counts_from(seqs: DataFrame) -> DataFrame:
    """(pair, cnt) from a (syms ARRAY, cnt) frame — pair =
    ``a<SEP>b`` for each adjacent symbol pair, weighted by the
    word-type count."""
    syms = F.col("syms")
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(syms) - 2),
                    lambda j: F.concat(F.element_at(syms, j + 1),
                                       F.lit(BPE_SEP),
                                       F.element_at(syms, j + 2))))
    return (seqs.select(F.explode(pairs).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("cnt")))


def _bpe_merge_expr(a: str, b: str) -> Column:
    """Rewrite a symbol array under merge ``(a, b)`` — the
    left-to-right non-overlapping BPE fold ('aaa' under (a,a) →
    ('aa','a'); 'aaaa' → ('aa','aa')): append each symbol, except
    when the accumulator ends with ``a`` and the symbol is ``b`` —
    then the tail becomes the merged symbol.  An in-row HOF, fine
    off the hot path (playbook rule 1): it runs over the bounded
    word-TYPE frame, never the corpus."""
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(a + b))))
        .otherwise(F.concat(acc, F.array(x))))


def bpe_pair_counts(df: DataFrame, text_col: str, k: int = 20,
                    sub_partitions: int = 64) -> DataFrame:
    """Top-k adjacent character pairs across the corpus's words — the
    pair-selection statistic of one BPE merge step, as a standalone
    readout: ``(sym_a, sym_b, cnt, rank)``, count descending, ties by
    pair ascending.

    Scale: the corpus collapses to the word-type histogram first
    (map-side combined groupBy — 'the' is ONE row with its count, not
    10¹¹ rows), pairs explode from word TYPES weighted by count, and
    the top-k uses the ``two_phase_topk`` bucketed rank (no single
    task sees the pair vocabulary).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    hist = _bpe_word_hist(df, text_col, None)
    seqs = hist.select(F.split(F.col("word"), "").alias("syms"),
                       "cnt")
    counts = _bpe_pair_counts_from(seqs)
    sp = F.split(F.col("pair"), BPE_SEP)
    return (two_phase_topk(counts, [], "xxhash64(pair)",
                           ["cnt DESC", "pair ASC"], k, sub_partitions)
            .select(F.element_at(sp, 1).alias("sym_a"),
                    F.element_at(sp, 2).alias("sym_b"),
                    F.col("cnt").cast("long").alias("cnt"),
                    F.col("rank").cast("int").alias("rank")))


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 10,
              max_word_types: "int | None" = 50_000,
              min_pair_count: int = 2) -> "list[tuple]":
    """Train ``n_merges`` BPE merges over the corpus (Sennrich et al.
    2016): returns the merge table as a list of
    ``(rank, sym_a, sym_b, merged, pair_count)`` — the artifact a
    tokenizer consumes, in merge order.

    Each iteration: count adjacent symbol pairs over the word-TYPE
    frame (weighted by word count), pick the most frequent (ties by
    the ``a<SEP>b`` pair string ascending — deterministic), rewrite
    sequences with the :func:`_bpe_merge_expr` fold, and stop early
    when the best pair drops below ``min_pair_count``.

    Scale: the corpus is touched ONCE (the histogram collapse of
    :func:`_bpe_word_hist`, capped at ``max_word_types`` like every
    published trainer); all ``n_merges`` iterations run over the
    bounded word-type frame, localCheckpoint'ed each round so lineage
    never grows (the binary_segmentation recipe).  Driver state per
    iteration is the single argmax row.
    """
    if not 1 <= n_merges <= 10_000:
        raise ValueError(
            f"n_merges must be in [1, 10000]: {n_merges}")
    if min_pair_count < 1:
        raise ValueError(
            f"min_pair_count must be >= 1: {min_pair_count}")
    hist = _bpe_word_hist(df, text_col, max_word_types)
    seqs = (hist.select(F.split(F.col("word"), "").alias("syms"),
                        "cnt").localCheckpoint())
    merges = []
    for rank in range(1, n_merges + 1):
        best = (_bpe_pair_counts_from(seqs)
                .orderBy(F.desc("cnt"), F.asc("pair")).limit(1)
                .collect())
        if not best or best[0]["cnt"] < min_pair_count:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        a, b = pair.split(BPE_SEP)
        merges.append((rank, a, b, a + b, cnt))
        seqs = (seqs.withColumn("syms", _bpe_merge_expr(a, b))
                .localCheckpoint())
    return merges


def bpe_encode_words(df: DataFrame, text_col: str,
                     merges: "list[tuple]",
                     checkpoint_every: int = 16) -> DataFrame:
    """Apply a trained :func:`bpe_train` merge table to the corpus —
    the ENCODE half of the tokenizer pair: one row per word TYPE with
    ``(word, tokens, n_tokens, cnt)``, where ``tokens`` is the
    symbol sequence after replaying every merge in rank order with
    the exact left-to-right non-overlapping fold training used
    (:func:`_bpe_merge_expr` — encode/train asymmetry is how token
    counts silently drift).

    Scale: THE word-type collapse again — the corpus is touched once
    (map-side-combined histogram), and all merges replay over the
    vocabulary-sized frame, never the token stream ('the' is encoded
    ONCE no matter how many billion times it occurs).  Lineage is
    localCheckpoint-ed every ``checkpoint_every`` merges so a
    10k-merge vocabulary doesn't build a 10k-deep expression tree.
    """
    if not merges:
        raise ValueError("merges must be non-empty")
    for m in merges:
        if len(m) < 3:
            raise ValueError(
                f"merge rows need (rank, sym_a, sym_b, ...): {m!r}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1: {checkpoint_every}")
    hist = _bpe_word_hist(df, text_col, None)
    seqs = hist.select("word",
                       F.split(F.col("word"), "").alias("syms"),
                       "cnt")
    for i, m in enumerate(merges):
        a, b = str(m[1]), str(m[2])
        seqs = seqs.withColumn("syms", _bpe_merge_expr(a, b))
        if (i + 1) % checkpoint_every == 0:
            seqs = seqs.localCheckpoint()
    return seqs.select("word", F.col("syms").alias("tokens"),
                       F.size("syms").cast("long").alias("n_tokens"),
                       F.col("cnt").cast("long").alias("cnt"))


def bpe_token_count(df: DataFrame, text_col: str,
                    merges: "list[tuple]", id_col: str,
                    out_col: str = "n_tokens_bpe",
                    validate_ids: bool = True) -> DataFrame:
    """Per-document token count under a trained BPE merge table —
    the budget number every packing/mixture/pricing step needs, from
    the REAL tokenizer rather than the whitespace/regex proxies
    (:func:`n_tokens_ws` / :func:`n_tokens_bpe`): one row per input
    row, ``(id, n_tokens_bpe)``; a document with no encodable words
    counts 0; NULL text counts 0 (a NULL doc has no tokens — filter
    upstream if NULL should be an error).

    ``id_col`` must be UNIQUE: the per-document sum groups by id and
    joins back, so duplicate ids would silently receive the combined
    total of every row sharing the id.  With ``validate_ids``
    (default) one cheap count-vs-countDistinct aggregate enforces
    this and raises on duplicates; pass ``validate_ids=False`` only
    when uniqueness is already guaranteed upstream (a constraints
    check, a primary key) to skip that scan at the 100 TB tier.

    Scale: word TYPES encode once (:func:`bpe_encode_words`), then
    each document's exploded words hash-join the vocabulary frame on
    the word and one map-side-combined groupBy sums per document —
    the join side is vocabulary-sized and AQE broadcasts it when it
    fits; a stop-word's million occurrences are a million probes of
    ONE build row, never an expansion.
    """
    if id_col not in df.columns:
        raise ValueError(f"missing column: {id_col!r}")
    if validate_ids:
        chk = df.agg(
            F.count(id_col).alias("__n"),
            F.count_distinct(F.col(id_col)).alias("__nd"),
            F.sum(F.col(id_col).isNull().cast("long"))
            .alias("__nnull")).collect()[0]
        if chk["__nnull"]:
            raise ValueError(
                f"bpe_token_count: {chk['__nnull']} NULL id(s) in "
                f"{id_col!r} — ids must be unique and non-NULL")
        if chk["__n"] != chk["__nd"]:
            raise ValueError(
                f"bpe_token_count: {id_col!r} is not unique "
                f"({chk['__n']} rows, {chk['__nd']} distinct) — "
                "duplicate ids would each receive the combined "
                "token total of all rows sharing the id")
    enc = bpe_encode_words(df, text_col, merges) \
        .select("word", "n_tokens")
    words = (df.select(F.col(id_col).alias("__id"),
                       F.explode(F.split(_c(text_col), " "))
                       .alias("word"))
             .where((F.col("word") != "")
                    & ~F.col("word").contains(BPE_SEP)))
    per_doc = (words.join(enc, "word")
               .groupBy("__id")
               .agg(F.sum("n_tokens").cast("long").alias("__nt")))
    return (df.select(F.col(id_col).alias("__id"))
            .join(per_doc, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.coalesce("__nt", F.lit(0).cast("long"))
                    .alias(out_col)))
