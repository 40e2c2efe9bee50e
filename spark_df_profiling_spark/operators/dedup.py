"""Deduplication operators for large-scale training-data pipelines.

The reference library has no dedup (it is a profiler); these are the
BASELINE.json north-star extensions, designed Spark-first for 100 TB:

* exact dedup: hash-groupBy keep-first — ONE shuffle on a 256-bit content
  hash (uniformly distributed, so no key skew by construction);
* MinHash + LSH near-dup: shingle -> minhash signature -> band buckets ->
  bucket join.  Candidate generation never compares all pairs: only rows
  sharing a band bucket meet in the join, which is the standard
  sub-quadratic LSH bound;
* SimHash: 64-bit signature entirely with built-in JVM expressions
  (xxhash64 + higher-order aggregate — NO Python UDFs), banded for
  candidate joins, verified with bit_count(xor) Hamming distance;
* n-gram Jaccard: exact verification on LSH candidates only;
* embedding cosine near-dup: see operators/similarity.py.

The MinHash family (native, history, cross-corpus, containment, the
verification of n-gram Jaccard, the survivors of ``near_dedup_minhash``
and ``similarity.semantic_dedup``) composes ONE kernel, each rule
written once: :func:`_shingle_sets` (non-empty shingle sets),
:func:`_sig_expr` and :func:`_band_key_expr` (the signature and band
rules, xxhash64 or md5), :func:`_drop_hot` (the hot-bucket cap, also
the fuzzy gram cap), :func:`_band_pairs` (the bucket join),
:func:`_set_overlap` (the shingle-set verification join) and
:func:`_dropped_ids` (the keep-min-id survivor rule).

Every heavy step is a DataFrame op (hash partitioning, AQE-coalesced
shuffles, broadcast where one side is small).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def _collist(cols: str | list[str]) -> list[str]:
    """Accept one column name or a list — a bare string would otherwise
    iterate character-by-character into nonsense columns."""
    return [cols] if isinstance(cols, str) else list(cols)


def content_hash(cols: str | list[str]) -> Column:
    """256-bit content hash over the given columns (null-safe)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
             for c in _collist(cols)]
    return F.sha2(F.concat_ws("\x01", *parts), 256)


def exact_dedup(df: DataFrame, cols: str | list[str] | None = None,
                order_col: str | None = None) -> DataFrame:
    """Keep the first row per distinct content (deterministic keep-first).

    ``cols`` — columns defining identity (default: all columns).
    ``order_col`` — ascending tiebreaker choosing the survivor (required
    for a deterministic result; without it Spark keeps an arbitrary row).

    Plan: one shuffle on the content hash; ``row_number`` within each hash
    partition.  The hash key is uniform, so partitions stay balanced at
    any scale.  At 100 TB prefer ``order_col`` = a monotonically
    increasing id so the window sort is cheap per group (groups are tiny).
    """
    cols = _collist(cols) if cols else df.columns
    h = content_hash(cols).alias("__h")
    with_h = df.select("*", h)
    if order_col is None:
        # distinct-by-hash without a deterministic survivor
        return (with_h.groupBy("__h")
                .agg(*[F.first(c).alias(c) for c in df.columns])
                .drop("__h"))
    w = Window.partitionBy("__h").orderBy(F.asc(order_col))
    return (with_h
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__h", "__rn"))


def history_hashes(df: DataFrame,
                   cols: str | list[str] | None = None) -> DataFrame:
    """Distinct content hashes of a corpus — the persistable dedup state.

    The cross-run companion of :func:`operators.incremental`: a daily
    pipeline stores ONE 32-byte hash per distinct document (a ~0.03%
    footprint of a text corpus), so deduping tomorrow's batch against
    100 TB of history costs a join against the hash store, never a
    rescan of history.  Persist with a BUCKETED write on
    ``content_hash`` (``sources.write_bucketed``) and the daily
    anti-join becomes shuffle-free on the history side.
    """
    cols = _collist(cols) if cols else df.columns
    return (df.select(content_hash(cols).alias("content_hash"))
            .distinct())


def dedup_against_history(df: DataFrame, history: DataFrame,
                          cols: str | list[str] | None = None,
                          order_col: str | None = None) -> DataFrame:
    """New-batch rows whose content never appeared in ``history``.

    ``history`` is a state frame from :func:`history_hashes` (schema:
    one ``content_hash`` string column).  Rows colliding with history
    are dropped; duplicates WITHIN the new batch collapse keep-first by
    ``order_col`` (pass None to keep within-batch duplicates — e.g.
    when the batch was already deduped upstream).

    Plan: one hash projection on the batch + a left_anti join on the
    256-bit hash.  The anti join shuffles on the hash key — uniform by
    construction, skew-free; with a bucketed history store only the NEW
    batch (the small side) shuffles.  sha256 collisions
    (~2^-128-scale) are the same risk the exact_dedup family already
    accepts.  After ingest, append the surviving batch's hashes to the
    store: ``history.unionByName(history_hashes(survivors, cols))
    .distinct()`` — or just append and rely on distinct-at-read.
    """
    cols = _collist(cols) if cols else df.columns
    hashed = df.withColumn("__ch", content_hash(cols))
    survivors = hashed.join(
        history.select(F.col("content_hash").alias("__ch")),
        "__ch", "left_anti")
    if order_col is not None:
        w = Window.partitionBy("__ch").orderBy(F.asc(order_col))
        survivors = (survivors
                     .withColumn("__rn", F.row_number().over(w))
                     .where(F.col("__rn") == 1).drop("__rn"))
    return survivors.drop("__ch")


def dedup_stats(df: DataFrame,
                cols: str | list[str] | None = None) -> DataFrame:
    """(n_rows, n_distinct, n_duplicates) — one wide-agg job."""
    cols = _collist(cols) if cols else df.columns
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(content_hash(cols)).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(content_hash(cols)))
        .alias("n_duplicates"),
    )


def soft_dedup_weights(df: DataFrame,
                       cols: str | list[str] | None = None,
                       alpha: float = 1.0) -> DataFrame:
    """Duplicate-aware example weights instead of hard removal.

    Hard dedup throws away the signal that a document appeared many
    times; soft dedup keeps every row and attaches
    ``weight = dup_count ** (-alpha)`` so a group of ``c`` exact
    duplicates contributes total mass ``c^(1-alpha)`` to training
    (``alpha=1`` → each distinct content contributes exactly 1 —
    count-normalized; ``alpha=0`` → plain counts; intermediate values
    interpolate, the usual temperature-style compromise).

    Returns the input columns plus ``dup_count`` and ``weight``.

    Scale: one shuffle on the 256-bit content hash (uniform by
    construction) for the group count, then a broadcast-free join back
    on the same hash key — Spark reuses the single hash partitioning
    for both sides (no second shuffle of the big side under AQE), and
    the counts side is one row per distinct content.  No windows over
    row-scale data, no driver collects.
    """
    cols = _collist(cols) if cols else df.columns
    with_h = df.withColumn("__h", content_hash(cols))
    counts = with_h.groupBy("__h").agg(
        F.count(F.lit(1)).alias("dup_count"))
    return (with_h.join(counts, "__h")
            .withColumn("weight",
                        F.pow(F.col("dup_count").cast("double"),
                              F.lit(-float(alpha))))
            .drop("__h"))


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (pyspark.ml)
# ---------------------------------------------------------------------------
def shingle(df: DataFrame, text_col: str, n: int = 3,
            out_col: str = "__shingles") -> DataFrame:
    """Word n-gram shingles as an array column (built-in NGram)."""
    from pyspark.ml.feature import NGram, Tokenizer
    tok = Tokenizer(inputCol=text_col, outputCol="__tokens")
    ng = NGram(n=n, inputCol="__tokens", outputCol=out_col)
    return ng.transform(tok.transform(df)).drop("__tokens")


def minhash_candidates(df: DataFrame, text_col: str, id_col: str,
                       shingle_n: int = 3, num_features: int = 1 << 18,
                       num_hashes: int = 8,
                       jaccard_max_distance: float = 0.2,
                       persist_features: bool = True) -> DataFrame:
    """Near-duplicate candidate pairs via MinHashLSH.

    Returns (id_a, id_b, jaccard_distance) with id_a < id_b.  The
    ``approxSimilarityJoin`` is a self-join on LSH band buckets — at scale
    the shuffle is on bucket keys, never a cartesian product.  Empty
    shingle sets (docs shorter than ``shingle_n`` words) are filtered, as
    MinHash is undefined for empty sets.

    ``num_hashes`` trades recall for join volume (each hash table is one
    exploded copy of the dataset in the bucket join).  Dedup thresholds
    target high similarity, where few tables suffice: at Jaccard
    similarity s the miss probability is (1-s)^num_hashes — for s=0.7
    and 8 tables that is 7e-5.  Raise it when hunting LOW-similarity
    pairs, not for near-dup dedup.

    ``persist_features`` (default True) materializes the hashed feature
    frame once before the self-join.  Without it the plan computes the
    whole Tokenizer→NGram→HashingTF→MinHash UDF chain INDEPENDENTLY on
    both join branches, and — because the empty-shingle filter is pushed
    below the feature projection and deterministic UDFs are freely
    duplicated — each branch tokenizes every document up to 5× (plan-
    verified: the pre-r15 filter node alone held four nested UDF
    re-evaluations of the text column).  Persisted, the chain runs once
    per row total; this is the standard Spark-ML posture for LSH
    self-joins.  Set False only when the corpus' TF vectors exceed
    cluster MEMORY_AND_DISK capacity — the join then recomputes them
    per branch (the caller owns the memory trade-off; results are
    identical either way).

    The cache lives until session end unless released: because the
    result is lazy, unpersisting here would silently undo the
    optimization before the join ever runs.  The persisted frame is
    exposed as the returned DataFrame's ``_minhash_features``
    attribute — call ``.unpersist()`` on it once the result has been
    materialized (collected/written) to free the cached partitions.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.storagelevel import StorageLevel

    from spark_df_profiling_spark.sources import parallelize_small_scan
    # shingle+TF+MinHash per-row work dwarfs the scan; a small
    # file-backed corpus (single parquet row group -> ~1-task scan)
    # gets one cheap repartition so the persisted-materialization job
    # fans out; inert at scale (see parallelize_small_scan)
    sh = shingle(parallelize_small_scan(df.select(id_col, text_col)),
                 text_col, shingle_n)
    # filter on the shingle column BEFORE HashingTF: same rows survive
    # (transform is row-preserving), one fewer UDF stage in the pushed
    # filter when the frame is not persisted
    sh = sh.where(F.size(F.col("__shingles")) > 0)
    tf = HashingTF(inputCol="__shingles", outputCol="__features",
                   numFeatures=num_features, binary=True)
    feat = tf.transform(sh).select(id_col, "__features")
    lsh = MinHashLSH(inputCol="__features", outputCol="__hashes",
                     numHashTables=num_hashes, seed=42)
    model = lsh.fit(feat)
    feat_h = model.transform(feat)
    if persist_features:
        feat_h = feat_h.persist(StorageLevel.MEMORY_AND_DISK)
    # approxSimilarityJoin skips re-hashing when the output column is
    # already present, so both branches read the persisted frame as-is
    joined = model.approxSimilarityJoin(feat_h, feat_h,
                                        jaccard_max_distance,
                                        distCol="jaccard_distance")
    out = (joined
           .select(F.col(f"datasetA.{id_col}").alias("id_a"),
                   F.col(f"datasetB.{id_col}").alias("id_b"),
                   F.col("jaccard_distance"))
           .where(F.col("id_a") < F.col("id_b")))
    if persist_features:
        # release handle (see docstring): caller unpersists after
        # materializing; unpersisting eagerly here would undo the
        # single-tokenization optimization on the still-lazy result
        out._minhash_features = feat_h
    return out


def shingle_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as a pure-SQL expression.

    Lowercases and splits on whitespace (the same normalization as
    ml.feature.Tokenizer), then forms n-grams with ``slice`` +
    ``concat_ws``.  The token array is let-bound once per row (the
    single-element-transform idiom — higher-order functions are
    interpreted without CSE, so inline re-splits would be O(tokens^2)).
    Documents shorter than ``n`` tokens yield an empty array; ``n < 1``
    raises.
    """
    if n < 1:
        raise ValueError(f"shingle_n must be >= 1: {n}")
    return F.expr(f"""
        element_at(transform(array(split(lower(`{text_col}`), '\\\\s+')),
            toks -> CASE WHEN size(toks) >= {n} THEN
                array_distinct(transform(
                    sequence(0, size(toks) - {n}),
                    i -> concat_ws(' ', slice(toks, i + 1, {n}))))
            ELSE array() END), 1)""")


# ---------------------------------------------------------------------------
# The near-dup kernel: every MinHash operator below composes these rules
# (shingle sets, signature, band keys, hot-bucket cap, band pairs, set
# overlap, survivors) and none re-states one.
# ---------------------------------------------------------------------------
_BAND = ["band", "key"]


def _shingle_sets(df: DataFrame, text_col: str, id_col: str,
                  n: int) -> DataFrame:
    """``(id, sh)``: each row's distinct word-shingle set
    (:func:`shingle_expr`), empty sets dropped — MinHash is undefined on
    them, so such rows never enter a pair graph."""
    return (df.select(F.col(id_col).alias("id"),
                      shingle_expr(text_col, n).alias("sh"))
            .where(F.size("sh") > 0))


def _sig_expr(num_hashes: int, hash_fn: str) -> Column:
    """MinHash signature array over the shingle array column ``sh``:
    ``sig[s] = min over shingles of hash_s(shingle)``.  ``xxhash64`` is
    the fast JVM default (seeded per hash index); ``md5`` uses the
    60-bit hex-prefix idiom (``md5(shingle || '#mh' || s)``) shared with
    bloom/cms/hll — slower, but replayable bit-for-bit in any engine
    with md5(), which is what lets the DuckDB oracle replay the WHOLE
    signature pipeline (not just verify candidates)."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    if hash_fn == "xxhash64":
        h = "xxhash64(s, x)"
    elif hash_fn == "md5":
        h = """cast(conv(substring(md5(concat(
                   x, '#mh', cast(s AS string))), 1, 15), 16, 10)
               AS bigint)"""
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5: {hash_fn}")
    return F.expr(f"""transform(sequence(0, {num_hashes - 1}),
        s -> array_min(transform(sh, x -> {h})))""")


def _band_key_expr(num_hashes: int, rows_per_band: int,
                   hash_fn: str) -> Column:
    """LSH band keys of a ``sig`` array column: ``(band, key)`` structs,
    one per ``rows_per_band`` consecutive components.  xxhash64 of the
    slice for the JVM path; the md5 path hashes the comma-joined slice
    through the same 60-bit hex-prefix idiom so DuckDB replays the
    bucket assignment."""
    if not (1 <= rows_per_band <= num_hashes) \
            or num_hashes % rows_per_band != 0:
        # a non-divisor would silently drop trailing hashes; > num_hashes
        # gives b=0 and a descending sequence() building garbage keys
        raise ValueError(
            f"rows_per_band must divide num_hashes and lie in "
            f"[1, {num_hashes}]: got {rows_per_band}")
    if hash_fn == "xxhash64":
        key = f"""xxhash64(slice(sig, i * {rows_per_band} + 1,
                                  {rows_per_band}))"""
    elif hash_fn == "md5":
        key = f"""cast(conv(substring(md5(concat(
                      array_join(slice(sig, i * {rows_per_band} + 1,
                                       {rows_per_band}), ','),
                      '#mb')), 1, 15), 16, 10) AS bigint)"""
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5: {hash_fn}")
    b = num_hashes // rows_per_band
    return F.expr(f"""transform(sequence(0, {b - 1}),
        i -> struct(i AS band, {key} AS key))""")


def _bands(sig: DataFrame, num_hashes: int, rows_per_band: int,
           hash_fn: str = "xxhash64") -> DataFrame:
    """``(id, band, key)``: the exploded LSH bucket table of an
    ``(id, sig)`` frame."""
    bk = _band_key_expr(num_hashes, rows_per_band, hash_fn)
    return (sig.select("id", F.explode(bk).alias("b"))
            .select("id", "b.band", "b.key"))


def _minhash_bands(df: DataFrame, text_col: str, id_col: str,
                   shingle_n: int, num_hashes: int, rows_per_band: int
                   ) -> tuple[DataFrame, DataFrame]:
    """``(sh, bands)``: :func:`_shingle_sets` and their xxhash64
    signature's bucket table.  Pure JVM expressions — the identical
    construction is replayable in other engines, which is how the
    oracle grades it."""
    sh = _shingle_sets(df, text_col, id_col, shingle_n)
    sig = sh.select("id", _sig_expr(num_hashes, "xxhash64").alias("sig"))
    return sh, _bands(sig, num_hashes, rows_per_band)


def _drop_hot(frames: list[DataFrame], keys: list[str],
              cap: int | None) -> list[DataFrame]:
    """Drop every bucket (``keys`` value) holding more than ``cap`` rows
    across ALL ``frames``, from each frame; ``cap=None`` keeps all.
    Buckets are counted with a map-side-combined groupBy, NOT a
    per-bucket window: the degenerate bucket the cap exists to drop must
    never be materialized row-scale in one window task.  Over-cap
    buckets are a tiny frame, so they broadcast into a left_anti join
    (documented recall trade on pairs sharing only hot buckets)."""
    if cap is None:
        return frames
    hot = (reduce(DataFrame.unionByName, [f.select(*keys) for f in frames])
           .groupBy(*keys).agg(F.count(F.lit(1)).alias("__bsz"))
           .where(F.col("__bsz") > cap).select(*keys))
    return [f.join(F.broadcast(hot), keys, "left_anti") for f in frames]


def _band_pairs(left: DataFrame,
                right: DataFrame | None = None) -> DataFrame:
    """Distinct candidate ``(id_a, id_b)`` pairs sharing a ``(band,
    key)`` bucket — an ordinary hash join, never a cross join.  Without
    ``right`` it is the self-join with ``id_a < id_b``."""
    b = (left if right is None else right).alias("b")
    cand = left.alias("a").join(b, on=_BAND)
    if right is None:
        cand = cand.where(F.col("a.id") < F.col("b.id"))
    return cand.select(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b")).distinct()


def _set_overlap(cand: DataFrame, left_sh: DataFrame,
                 right_sh: DataFrame) -> DataFrame:
    """The one verification join: the ``(id, sh)`` arrays of both sides
    onto candidate ``(id_a, id_b)`` pairs, as ``(id_a, id_b, inter,
    union, smaller)`` set sizes (``inter`` a double).  Candidates only,
    never all pairs; each caller keeps its own ratio."""
    sh_a, sh_b = (sh.select(F.col("id").alias(f"id_{x}"),
                            F.col("sh").alias(f"sh_{x}"))
                  for x, sh in (("a", left_sh), ("b", right_sh)))
    return (cand.join(sh_a, "id_a").join(sh_b, "id_b")
            .select("id_a", "id_b",
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    .cast("double").alias("inter"),
                    F.size(F.array_union("sh_a", "sh_b")).alias("union"),
                    F.least(F.size("sh_a"), F.size("sh_b"))
                    .alias("smaller")))


def minhash_candidates_native(df: DataFrame, text_col: str, id_col: str,
                              shingle_n: int = 3, num_hashes: int = 16,
                              rows_per_band: int = 1,
                              jaccard_max_distance: float = 0.2,
                              max_bucket_size: int | None = None
                              ) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH in pure DataFrame expressions.

    Same contract as :func:`minhash_candidates` (returns
    ``(id_a, id_b, jaccard_distance)`` with ``id_a < id_b`` and EXACT
    n-gram Jaccard distance <= threshold) but built entirely from
    ``xxhash64``/higher-order functions — no ml pipeline, no VectorUDT
    serialization, no model fit.  Pipeline:

      shingles -> signature: sig[s] = min(xxhash64(s, shingle))
               -> band keys: xxhash64(slice(sig, band)) per band
               -> self-join per (band, key)  [bucket shuffle, never n^2]
               -> exact Jaccard verification on candidates only.

    ``rows_per_band=1`` with ``num_hashes`` bands reproduces
    MinHashLSH's candidate semantics (pair agrees on >= 1 hash).  At
    100 TB set ``rows_per_band`` 2-4 to cut candidate volume (standard
    S-curve tuning) and ``max_bucket_size`` to drop degenerate buckets
    (boilerplate shingles shared by millions of docs would otherwise
    square inside one bucket).

    Perf note: signature evaluation runs through interpreted
    higher-order functions (~1us per shingle-hash), so on a single node
    the ml-based :func:`minhash_candidates` is ~2x faster; this variant
    exists for ml-free deployments and for its tunable banding, and
    distributes identically (the heavy stages are ordinary shuffles).
    """
    sh, bands = _minhash_bands(df, text_col, id_col, shingle_n,
                               num_hashes, rows_per_band)
    (bands,) = _drop_hot([bands], _BAND, max_bucket_size)
    return (_set_overlap(_band_pairs(bands), sh, sh)
            .select("id_a", "id_b",
                    (1.0 - F.col("inter") / F.col("union"))
                    .alias("jaccard_distance"))
            .where(F.col("jaccard_distance") <= jaccard_max_distance))


def minhash_signature_state(df: DataFrame, text_col: str, id_col: str,
                            shingle_n: int = 3, num_hashes: int = 16,
                            hash_fn: str = "xxhash64") -> DataFrame:
    """Persistable MinHash signature state — ``(id, sig)`` with ``sig``
    an ``array<bigint>`` of ``num_hashes`` components (8·num_hashes
    bytes per doc): the NEAR-dup counterpart of
    :func:`history_hashes`'s exact-dup state.  Store it (parquet,
    bucketed by id) and each day-2 batch runs
    :func:`neardup_against_history` against it without ever rescanning
    or re-storing history texts; appending the batch's own signatures
    keeps the state current (state growth is O(docs), not O(bytes)).

    ``E[fraction of agreeing components] = Jaccard(a, b)`` — the
    signature IS a Jaccard estimator, so verification needs no texts.
    With ``num_hashes=16`` the estimate is coarse (1/16 steps);
    production thresholds around 0.8 want 64–128 hashes (still ≤ 1 KB
    per doc).  Docs shorter than ``shingle_n`` tokens have no shingles
    and are excluded (no signature to store) — handle short docs with
    exact dedup.

    Plan: one narrow projection (shingles → signature fold) — no
    shuffle at all; the output is written/bucketed by the caller.
    """
    return (_shingle_sets(df, text_col, id_col, shingle_n)
            .select("id", _sig_expr(num_hashes, hash_fn).alias("sig")))


def neardup_against_history(batch: DataFrame, history: DataFrame,
                            text_col: str, id_col: str,
                            shingle_n: int = 3, num_hashes: int = 16,
                            rows_per_band: int = 1,
                            min_agreement: float = 0.5,
                            max_bucket_size: int | None = None,
                            hash_fn: str = "xxhash64") -> DataFrame:
    """Near-duplicate matches of a new batch AGAINST STORED SIGNATURES —
    cross-run incremental near-dedup: ``(id, hist_id, sig_agreement)``
    for every batch doc whose signature agrees with a history signature
    on ≥ ``min_agreement`` of components.  ``history`` is a
    :func:`minhash_signature_state` output built with the SAME
    (shingle_n, num_hashes, hash_fn) — mismatched configs silently
    produce garbage, same contract as ``hll_merge``.

    This is what :func:`dedup_against_history` (exact 256-bit hashes)
    cannot do: yesterday's article re-published with a new byline still
    matches.  Verification is pure signature agreement — history TEXTS
    are never read, so the daily join touches only
    8·num_hashes bytes/doc of state.

    Plan: batch signatures are a narrow projection; both sides explode
    ≤ ``num_hashes/rows_per_band`` band keys per doc; candidates come
    from an ordinary (band, key) hash join (never a cross join);
    agreement evaluates per candidate pair via one zip_with fold.
    ``max_bucket_size`` drops degenerate buckets counted across BOTH
    sides with a map-side-combined groupBy + broadcast anti-join (the
    skew-immune cap shape; documented recall trade).  Dedup the batch
    against itself separately (``near_dedup_minhash``) — this operator
    only looks backwards.
    """
    if not (0.0 <= min_agreement <= 1.0):
        raise ValueError(f"min_agreement must be in [0, 1]: "
                         f"{min_agreement}")
    bsig = minhash_signature_state(batch, text_col, id_col,
                                   shingle_n, num_hashes, hash_fn)
    bb, hb = _drop_hot(
        [_bands(s, num_hashes, rows_per_band, hash_fn)
         for s in (bsig, history.select("id", "sig"))],
        _BAND, max_bucket_size)
    agree = F.expr("""aggregate(zip_with(sig, sig_h,
                        (x, y) -> IF(x = y, 1, 0)),
                      0, (acc, v) -> acc + v)""")
    return (_band_pairs(bb, hb)
            .join(bsig.withColumnRenamed("id", "id_a"), "id_a")
            .join(history.select(F.col("id").alias("id_b"),
                                 F.col("sig").alias("sig_h")), "id_b")
            .select(F.col("id_a").alias("id"), F.col("id_b").alias("hist_id"),
                    (agree.cast("double") / num_hashes)
                    .alias("sig_agreement"))
            .where(F.col("sig_agreement") >= min_agreement))


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id, component) for every node in the (id_a, id_b) pair graph;
    ``component`` is the smallest id reachable from the node.

    Iterative min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors, converging in
    graph-diameter rounds (near-dup clusters are dense — boilerplate
    clusters are near-cliques — so diameter is small in practice; the
    classic alternative for adversarially long chains is
    large-star/small-star, O(log n) rounds).  Each round is one join +
    one groupBy shuffle on node id; ``localCheckpoint`` truncates the
    lineage so the plan doesn't grow across iterations.  Terminates
    early when a round changes no label.
    """
    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    edges = (edges.union(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
             .distinct().localCheckpoint(eager=False))
    labels = (edges.select("src").distinct()
              .select("src", F.col("src").alias("comp")))
    changed = -1
    for _ in range(max_iter):
        nbr_min = (edges
                   .join(labels.select(F.col("src").alias("dst"),
                                       F.col("comp").alias("dst_comp")),
                         on="dst")
                   .groupBy("src")
                   .agg(F.min("dst_comp").alias("nbr_comp")))
        new_labels = (labels.join(nbr_min, on="src", how="left")
                      .select("src",
                              F.least(F.col("comp"),
                                      F.coalesce("nbr_comp", "comp"))
                              .alias("comp"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), on="src")
                   .where(F.col("n.comp") != F.col("o.comp")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # silently returning partial labels would make transitive dedup
        # keep several survivors per cluster with no sign anything broke
        import warnings
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); returned components are "
            f"an under-merge — raise max_iter (diameter-bound) or switch "
            f"to large-star/small-star for adversarially long chains",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("src").alias("id"), "comp")


def _dropped_ids(pairs: DataFrame, transitive: bool) -> DataFrame:
    """``(id)`` of every pair-graph member that is not its cluster's
    survivor (the keep-min-id rule).  ``transitive`` drops each
    :func:`connected_components` member but the component's min id;
    without it, every ``id_b`` (the larger side of a pair) drops."""
    if transitive:
        comp = connected_components(pairs.select("id_a", "id_b"))
        return comp.where(F.col("id") != F.col("comp")).select("id")
    return pairs.select(F.col("id_b").alias("id")).distinct()


def near_dedup_minhash(df: DataFrame, text_col: str, id_col: str,
                       transitive: bool = True, native: bool = False,
                       pre_collapse_exact: bool = True,
                       **kwargs) -> DataFrame:
    """Drop near-duplicates, keeping exactly one row (the smallest id)
    per near-dup CLUSTER.

    ``transitive=True`` (default) closes the candidate-pair graph with
    :func:`connected_components`, so a chain A~B~C keeps only A — the
    correct semantics for boilerplate-heavy corpora where clusters are
    large.  ``transitive=False`` is the cheaper one-pass single-link
    approximation (drop every id that appears as the larger side of any
    pair): correct for isolated pairs, over-drops on chains.
    ``native=True`` uses the ml-free pure-SQL candidate generator.

    ``pre_collapse_exact`` (default on) first collapses EXACT text
    duplicates with one hash-groupBy and runs MinHash on distinct texts
    only.  Identical texts are Jaccard-distance-0 near-dups at any
    threshold and each exact group's survivor is its min id — exactly
    what the full pipeline would keep — so results are unchanged, but
    the LSH join volume and the interpreted exact-Jaccard verification
    shrink QUADRATICALLY in the duplication factor (a corpus where every
    text appears 10× otherwise pushes 45 trivial within-copy pairs per
    text through candidate generation and verification; real crawl
    corpora are 30-60% exact dups).  Only texts with a non-empty
    shingle set under the chosen generator's own tokenization collapse
    (:func:`shingle_expr` for ``native``, the ml Tokenizer + NGram of
    :func:`shingle` otherwise, which split whitespace differently) —
    the others never enter the pair graph (MinHash is undefined on
    empty shingle sets), so every copy of them survives, matching the
    no-collapse path bit for bit.  NULL texts are never collapsed.
    """
    gen = minhash_candidates_native if native else minhash_candidates
    reps = df
    if pre_collapse_exact:
        n = kwargs.get("shingle_n", 3)
        work = df.select(id_col, text_col)
        if native:
            sh = work.withColumn("__sh", shingle_expr(text_col, n))
        else:
            # the ml Tokenizer fails on NULL; NULL texts stay ineligible
            sh = shingle(work.withColumn("__t", F.coalesce(
                F.col(text_col), F.lit(""))), "__t", n, "__sh")
        sh = sh.select(id_col, text_col,
                       (F.col(text_col).isNotNull()
                        & (F.size("__sh") > 0)).alias("__ok"))
        reps = exact_dedup(sh.where("__ok").drop("__ok"),
                           cols=[text_col], order_col=id_col)
    losers = (_dropped_ids(gen(reps, text_col, id_col, **kwargs),
                           transitive)
              .select(F.col("id").alias(id_col)))
    if not pre_collapse_exact:
        return df.join(losers, on=id_col, how="left_anti")
    kept = (reps.select(id_col).join(losers, on=id_col, how="left_anti")
            .unionByName(sh.where(~F.col("__ok")).select(id_col)))
    return df.join(kept, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# SimHash (pure built-in expressions, no UDF)
# ---------------------------------------------------------------------------
def _token_hash64(token: Column, hash_fn: str) -> Column:
    """64-bit per-token hash.  ``xxhash64`` is the fast JVM default;
    ``md5`` takes the first 16 hex chars of md5 — slower (string ops)
    but reproducible in any engine with an md5(), which is what makes
    the DuckDB oracle for simhash possible.  The two 32-bit halves are
    converted separately (``conv`` is exact below 2^32) and recombined
    with shift/or — the wrap into a signed long reproduces the unsigned
    bit pattern, which is all SimHash needs."""
    if hash_fn == "xxhash64":
        return F.xxhash64(token)
    if hash_fn == "md5":
        h = F.md5(token)
        hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)
    raise ValueError(f"hash_fn must be xxhash64|md5: {hash_fn}")


def simhash64(text_col: str | Column, bits: int = 64,
              hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash of whitespace tokens, entirely JVM-side.

    Per token, :func:`_token_hash64` supplies the 64-bit hash; ONE
    higher-order ``aggregate`` pass folds all token hashes into a
    ``bits``-element +1/-1 vote array (``zip_with`` against a bit-mask
    array); the sign vector re-assembles into a BIGINT signature.
    Near-dup pairs then satisfy ``bit_count(a ^ b) <= k``.

    Single-pass on purpose: interpreted higher-order functions don't
    CSE, so the naive per-bit formulation re-walks the token array (and
    re-evaluates the split+hash transform feeding it) 64 times —
    O(64·tokens) interpreted work where one O(tokens) fold with a
    64-wide accumulator suffices.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.lower(c), r"\s+")
    hashes = F.transform(tokens, lambda t: _token_hash64(t, hash_fn))
    # mask for bit b; the sign bit can't be written as a positive literal
    masks = F.array(*[
        F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        for b in range(bits)])
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        hashes, zero,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0,
                                    F.lit(1)).otherwise(F.lit(-1))))
    # vote > 0 -> bit set; OR the masks of the set bits back together
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 3,
                       n_bands: int = 4,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding: the 64-bit signature splits into ``n_bands`` equal slices; a
    pair within Hamming distance ``n_bands - 1`` must agree on at least
    one full band (pigeonhole), so the self-join runs per band key — a
    bucket shuffle, not a cross join.  Verification computes the exact
    Hamming distance with ``bit_count(xor)``.

    ``max_hamming`` must be <= ``n_bands - 1``: beyond that the
    pigeonhole guarantee is void and pairs would be silently lost —
    raise instead of returning an incomplete answer.
    """
    if not 1 <= n_bands <= 64:
        raise ValueError(f"n_bands must be in [1, 64]: {n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands >= {max_hamming + 1} "
            f"(got {n_bands}): a pair with k differing bits is only "
            f"guaranteed to share a band when k <= n_bands - 1")
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    sig = df.select(F.col(id_col).alias("id"),
                    simhash64(text_col, hash_fn=hash_fn).alias("sig"))
    bands = sig.select(
        "id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("sig", b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("key"))
            for b in range(n_bands)])).alias("bk"))
    bands = bands.select("id", "sig", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (a.join(b, on=["band", "key"])
             .where(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                     .alias("hamming"))
             .distinct()
             .where(F.col("hamming") <= max_hamming))
    return pairs


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification kernel for LSH candidates)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        candidates: DataFrame, n: int = 3) -> DataFrame:
    """Exact token-n-gram Jaccard for candidate (id_a, id_b) pairs.

    Joins shingle sets onto the (small) candidate table — broadcast when
    candidates fit — and computes |A∩B| / |A∪B| with array_intersect /
    array_union on deduplicated shingle arrays.  At scale this runs on
    LSH candidates only; never on the full cross product.
    """
    sh = (shingle(df.select(id_col, text_col), text_col, n)
          .select(F.col(id_col).alias("id"),
                  F.array_distinct("__shingles").alias("sh")))
    return (_set_overlap(candidates, sh, sh)
            .select("id_a", "id_b",
                    (F.col("inter") / F.col("union")).alias("jaccard")))


def containment_pairs(df: DataFrame, text_col: str, id_col: str,
                      min_containment: float = 0.8,
                      shingle_n: int = 3, num_hashes: int = 16,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-CONTAINMENT pairs — ``(id_a, id_b, containment, jaccard)``
    where ``containment = |A∩B| / min(|A|, |B|)`` ≥ the threshold:
    catches a short document quoted/embedded inside a long one, which
    symmetric Jaccard structurally misses (a 100-word quote in a
    5000-word article has J ≈ 0.02 but containment 1.0).  The standard
    complement to near-dedup when hunting boilerplate inclusion and
    benchmark text quoted inside training documents.

    Candidate generation is :func:`minhash_candidates_native`'s band
    join (:func:`_band_pairs`) — note the recall caveat: MinHash
    collision probability tracks JACCARD, so a tiny-doc⊂huge-doc pair
    with J ≈ 0.02 is unlikely to band-collide at practical settings;
    banding finds containment among comparably-sized docs.  For the
    asymmetric small⊂large case, run with the suspect SHORT set as a
    benchmark via :func:`decontaminate` (gram-level membership, no
    banding).  Verification computes BOTH exact overlap ratios on the
    distinct-shingle sets of candidates only (:func:`_set_overlap`) —
    never all pairs.
    """
    if not (0.0 <= min_containment <= 1.0):
        raise ValueError(f"min_containment must be in [0, 1]: "
                         f"{min_containment}")
    sh, bands = _minhash_bands(df, text_col, id_col, shingle_n,
                               num_hashes, 1)
    (bands,) = _drop_hot([bands], _BAND, max_bucket_size)
    return (_set_overlap(_band_pairs(bands), sh, sh)
            .select("id_a", "id_b",
                    (F.col("inter") / F.col("smaller")).alias("containment"),
                    (F.col("inter") / F.col("union")).alias("jaccard"))
            .where(F.col("containment") >= min_containment))


# ---------------------------------------------------------------------------
# CCNet-style cross-document repeated-line removal
# ---------------------------------------------------------------------------
def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_count: int = 2,
               sep: str = "\n") -> DataFrame:
    """Remove lines that repeat >= ``min_count`` times across the corpus
    (boilerplate headers/footers/nav chrome — the CCNet paragraph-dedup
    step that precedes most web-crawl training pipelines).

    Returns one row per input document:
    ``(id_col, clean_text, n_lines, n_lines_kept, n_lines_removed)``,
    with line order preserved and fully-boilerplate documents kept as
    empty strings (callers drop or quarantine them explicitly —
    vanishing rows would silently change corpus counts).

    Scale design (three shuffles, all on line-granularity rows):

    * lines explode with their position; the frequency count groups by
      ``xxhash64(line)`` — an 8-byte shuffle key instead of the line
      text (CCNet itself counts 64-bit line hashes; a hash collision
      can only over-remove one unlucky line pair per 2^64);
    * only hashes with count >= min_count survive the frequency pass —
      the "common lines" table is the heavy-hitter tail, orders of
      magnitude smaller than the corpus, so the membership join is
      broadcast-able in practice (left_anti keeps the rare lines);
    * documents reassemble with one groupBy on the id: collect_list of
      (pos, line) structs, array_sort restores order JVM-side.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2: {min_count}")
    # F.split treats its pattern as a Java regex while array_join below
    # reassembles with ``sep`` as a LITERAL — quote the split pattern
    # (java.util.regex.Pattern.quote: \Q...\E, with embedded \E split
    # out) so a caller passing sep='.' or '|' splits on the literal
    # separator, not on a regex metacharacter
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    base = df.select(F.col(id_col),
                     F.split(F.col(text_col), sep_rx).alias("__ls"))
    lines = base.select(
        id_col, F.posexplode("__ls").alias("__pos", "__line"))
    common = (lines
              .groupBy(F.xxhash64("__line").alias("__h"))
              .agg(F.count(F.lit(1)).alias("__n"))
              .where(F.col("__n") >= min_count)
              .select("__h"))
    kept = (lines.withColumn("__h", F.xxhash64("__line"))
            .join(common, "__h", "left_anti"))
    clean = (kept.groupBy(id_col)
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("__pos", "__line"))),
                     lambda s: s["__line"]),
                 sep).alias("clean_text"),
                 F.count(F.lit(1)).alias("n_lines_kept")))
    return (base.select(id_col, F.size("__ls").alias("n_lines"))
            .join(clean, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_lines",
                    F.coalesce("n_lines_kept", F.lit(0).cast("long"))
                    .alias("n_lines_kept"),
                    (F.col("n_lines")
                     - F.coalesce("n_lines_kept", F.lit(0).cast("long")))
                    .alias("n_lines_removed")))


# ---------------------------------------------------------------------------
# Benchmark decontamination (eval-leakage scan)
# ---------------------------------------------------------------------------
def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None, n: int = 8,
                  min_hits: int = 1,
                  broadcast_bench: bool = True) -> DataFrame:
    """Flag corpus documents sharing >= ``min_hits`` distinct word
    n-grams with a benchmark/eval corpus (the decontamination step every
    pretraining pipeline runs so test sets don't leak into training).

    Returns the input plus ``n_hits`` (distinct contaminated n-grams in
    the doc) and ``contaminated``.  Normalization is
    :func:`shingle_expr`'s (lowercase, whitespace split) on BOTH sides.

    Scale design: the benchmark side reduces to DISTINCT n-gram hashes —
    eval suites are tiny next to the corpus, so that table broadcasts
    (``broadcast_bench=False`` falls back to a shuffle join for
    pathological benchmark sizes); the corpus side explodes to
    (doc, gram-hash) rows that hit the broadcast MAP-SIDE, so only
    matching rows (rare) reach the per-doc count shuffle.  Grams travel
    as ``xxhash64`` (8 bytes, not strings); a collision can only
    over-flag one unlucky doc per 2^64.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1: {min_hits}")
    btc = bench_text_col or text_col
    bench_sh = (benchmark
                .select(F.explode(shingle_expr(btc, n)).alias("__g"))
                .select(F.xxhash64("__g").alias("__h"))
                .distinct())
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    corp = (df.select(F.col(id_col),
                      F.explode(shingle_expr(text_col, n)).alias("__g"))
            .select(id_col, F.xxhash64("__g").alias("__h")))
    hits = (corp.join(bench_sh, "__h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    return (df.join(hits, id_col, "left")
            .withColumn("n_hits",
                        F.coalesce("n_hits", F.lit(0).cast("long")))
            .withColumn("contaminated", F.col("n_hits") >= min_hits))


def cross_contamination_minhash(corpus: DataFrame, benchmark: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                bench_text_col: str | None = None,
                                bench_id_col: str | None = None,
                                shingle_n: int = 3,
                                num_hashes: int = 16,
                                rows_per_band: int = 1,
                                jaccard_max_distance: float = 0.5,
                                max_bucket_size: int | None = None,
                                broadcast_bench: bool = True
                                ) -> DataFrame:
    """DOCUMENT-level train/test contamination via cross-corpus
    MinHash+LSH: corpus docs that near-duplicate any benchmark doc.

    :func:`decontaminate` flags n-GRAM overlap (substring leakage);
    this operator catches the other leakage mode — a whole eval
    document paraphrased/duplicated into the training set with edits
    that dodge fixed n-gram hits but keep shingle-set Jaccard high.
    Returns ``(corpus_id, bench_id, jaccard_distance)`` for every
    (corpus doc, benchmark doc) pair whose EXACT n-gram Jaccard
    distance is <= the threshold; candidate generation is banded LSH,
    never the |corpus| x |benchmark| cross product.

    Scale design: both sides run the shared
    :func:`_minhash_bands` front end (signatures are
    embarrassingly parallel); the candidate join is corpus-bands ⋈
    bench-bands on ``(band, key)`` with the benchmark side BROADCAST
    (eval suites are tiny next to a 100 TB corpus;
    ``broadcast_bench=False`` falls back to a shuffle join), so the
    corpus never moves for candidate generation.  Verification joins
    shingle arrays for CANDIDATES only.  ``max_bucket_size`` caps
    degenerate boilerplate buckets exactly as in
    :func:`minhash_candidates_native`.
    """
    c_sh, c_bands = _minhash_bands(corpus, text_col, id_col, shingle_n,
                                   num_hashes, rows_per_band)
    b_sh, b_bands = _minhash_bands(
        benchmark, bench_text_col or text_col, bench_id_col or id_col,
        shingle_n, num_hashes, rows_per_band)
    (c_bands,) = _drop_hot([c_bands], _BAND, max_bucket_size)
    if broadcast_bench:
        b_sh, b_bands = F.broadcast(b_sh), F.broadcast(b_bands)
    return (_set_overlap(_band_pairs(c_bands, b_bands), c_sh, b_sh)
            .select(F.col("id_a").alias("corpus_id"),
                    F.col("id_b").alias("bench_id"),
                    (1.0 - F.col("inter") / F.col("union"))
                    .alias("jaccard_distance"))
            .where(F.col("jaccard_distance") <= jaccard_max_distance))


# ---------------------------------------------------------------------------
# Bloom-filter dedup state (compact cross-run membership)
# ---------------------------------------------------------------------------
def bloom_positions(hash_col: Column, m_bits: int, k: int) -> Column:
    """Array of ``k`` bit positions in ``[0, m_bits)`` derived from a
    content-hash string — engine-portable md5 arithmetic (same 60-bit
    hex-prefix trick as :func:`operators.sampling.hash_bucket`)."""
    return F.array(*[
        (F.conv(F.substring(F.md5(F.concat(hash_col, F.lit(f":{i}"))),
                            1, 15), 16, 10)
         .cast("bigint") % m_bits)
        for i in range(k)])


def bloom_state(df: DataFrame, cols: str | list[str] | None = None,
                m_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """Sparse Bloom filter over document content — the COMPACT
    cross-run dedup state.

    :func:`history_hashes` stores 32 bytes per distinct doc (exact,
    zero false positives).  At 100 TB-corpus scale even that state is
    tens of GB; a Bloom filter at ~1% fpp costs ~1.2 BYTES per doc
    (``m/n ≈ 9.6 bits``), at the price of dropping ~1% of genuinely
    novel documents as false positives — the standard trade, and the
    right one when the history is only an advisory "probably seen"
    filter in front of an exact join.

    Representation is SPARSE and mergeable: one row per occupied
    64-bit word, ``(word_idx BIGINT, bits BIGINT)`` with ``bits`` the
    OR of set bit masks.  Built with one explode + ``bit_or`` group
    (map-side partial); at most ``m_bits/64`` rows regardless of
    corpus size (default 1 Mi bits -> <=16384 rows, a few hundred KB —
    always broadcastable).  Merge two days' states with
    ``union -> groupBy(word_idx) -> bit_or(bits)``.  No false
    negatives ever: every inserted doc sets all its k bits.

    Size ``m_bits ≈ 9.6 × expected_distinct_docs`` for 1% fpp
    (``m/n = -ln(p)/ln(2)²``); k=5 is near-optimal there.
    """
    cols = _collist(cols) if cols else df.columns
    pos = bloom_positions(content_hash(cols), m_bits, k)
    return (df.select(F.explode(pos).alias("__p"))
            .select((F.col("__p") / 64).cast("bigint").alias("word_idx"),
                    F.expr("shiftleft(cast(1 as bigint), "
                           "cast(__p % 64 as int))").alias("__m"))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(__m)").alias("bits")))


def bloom_might_contain(df: DataFrame, state: DataFrame,
                        cols: str | list[str] | None = None,
                        m_bits: int = 1 << 20, k: int = 5,
                        out_col: str = "might_contain") -> DataFrame:
    """Tag each row with whether the Bloom ``state`` may contain it.

    ``True`` = probably seen (false-positive rate set by m/n and k);
    ``False`` = DEFINITELY novel.  The day-2 ingest pattern:
    ``bloom_might_contain(batch, yesterday_state).where(~might_contain)``
    keeps all definitely-novel docs with zero risk of losing a real
    duplicate-check, then the small "maybe" remainder (~fpp of the
    batch + the true dups) goes through the exact
    :func:`dedup_against_history` join.

    Plan: k-position explode on the batch, join on ``word_idx``
    (state side is <= m_bits/64 rows — broadcast it), then a per-doc
    ``bool_and`` over "bit present".  m_bits and k MUST match the
    state's construction (mismatch = garbage answers; keep them with
    the stored state).
    """
    cols = _collist(cols) if cols else df.columns
    marked = df.withColumn("__ch", content_hash(cols))
    pos = (marked.select("__ch")
           .distinct()
           .select("__ch", F.posexplode(
               bloom_positions(F.col("__ch"), m_bits, k))
               .alias("__i", "__p"))
           .select("__ch",
                   (F.col("__p") / 64).cast("bigint").alias("word_idx"),
                   F.expr("shiftleft(cast(1 as bigint), "
                          "cast(__p % 64 as int))").alias("__m")))
    hits = (pos.join(F.broadcast(state), "word_idx", "left")
            .withColumn("__present",
                        F.coalesce(F.col("bits"), F.lit(0).cast("bigint"))
                        .bitwiseAND(F.col("__m")) != 0)
            .groupBy("__ch")
            .agg(F.bool_and("__present").alias(out_col)))
    return marked.join(hits, "__ch", "left").drop("__ch")


def char_qgram_expr(text_col: str, q: int = 3) -> Column:
    """Distinct character q-grams as a pure-SQL expression (the
    character-level sibling of :func:`shingle_expr`'s word shingles).
    No normalization — fuzzy matching is case- and whitespace-exact by
    default; wrap the column in :func:`~spark_df_profiling_spark.
    operators.text.normalize_text` upstream to change that.  Strings
    shorter than ``q`` yield an empty array."""
    return F.expr(f"""
        CASE WHEN length(`{text_col}`) >= {q} THEN
            array_distinct(transform(
                sequence(1, length(`{text_col}`) - {q} + 1),
                i -> substring(`{text_col}`, i, {q})))
        ELSE array() END""")


def fuzzy_pairs_levenshtein(df: DataFrame, text_col: str, id_col: str,
                            max_dist: int = 2, q: int = 3,
                            max_gram_bucket: int | None = None
                            ) -> DataFrame:
    """ALL pairs within Levenshtein edit distance ``max_dist`` —
    ``(id_a, id_b, dist)`` with ``id_a < id_b`` — without the n²
    cross join: q-gram blocking + exact verification.  The fuzzy-key
    workhorse (product titles, author names, URLs with typos) that
    exact/MinHash dedup both miss: MinHash needs token-level overlap,
    Levenshtein catches single-character edits inside a token.

    Candidate generation is COMPLETE (a superset of every true pair),
    by the q-gram count filter: strings within edit distance d share at
    least ``max(len)+1-q-d·q`` q-grams, which is ≥ 1 whenever
    ``max(len) ≥ q·(d+1)``.  Two branches cover the split:

    * **long branch** — every string of length ≥ ``q`` explodes its
      DISTINCT q-grams; a self-equi-join on the gram (an ordinary hash
      join, never a nested loop) plus the ``|Δlen| ≤ d`` filter yields
      candidates.  Any true pair whose longer side is ≥ ``q·(d+1)``
      shares a gram (the shorter side is ≥ ``q·(d+1)−d ≥ q``, so its
      grams exist).
    * **short branch** — pairs where BOTH sides are shorter than
      ``q·(d+1)`` can share zero q-grams; those strings (a bounded
      slice of the data) join on exploded candidate lengths
      ``len..len+d`` instead — each unordered pair is generated exactly
      once from its shorter side.

    Verification runs ``levenshtein() ≤ d`` on candidates only — Spark
    and DuckDB implement the identical unit-cost metric, so the oracle
    replays the whole pipeline.

    Scale: the gram join shuffles (gram, id, len) rows — ~len distinct
    grams per doc; boilerplate grams shared by millions of rows square
    inside their bucket, so at scale set ``max_gram_bucket`` to drop
    grams hotter than the cap (same trade as LSH
    ``max_bucket_size``: documented recall loss on pairs whose ONLY
    shared grams are boilerplate — such pairs are overwhelmingly long
    strings with many other grams).  The short branch is capped by
    construction: strings shorter than ``q·(d+1)`` chars.
    """
    if max_dist < 0 or q < 2:
        raise ValueError(f"need max_dist >= 0, q >= 2: {max_dist}, {q}")
    l0 = q * (max_dist + 1)
    base = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("txt"),
                    F.length(text_col).alias("len")))
    grams = (base.select("id", "len",
                         F.explode(char_qgram_expr("txt", q)).alias("g")))
    (grams,) = _drop_hot([grams], ["g"], max_gram_bucket)
    ga, gb = grams.alias("a"), grams.alias("b")
    cand_long = (ga.join(gb, "g")
                 .where((F.col("a.id") < F.col("b.id"))
                        & (F.abs(F.col("a.len") - F.col("b.len"))
                           <= max_dist))
                 .select(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b")))
    short = base.where(F.col("len") < l0)
    sa = short.select("id", "len", F.explode(F.sequence(
        F.col("len"), F.col("len") + max_dist)).alias("lk"))
    sb = short.select(F.col("id").alias("id_r"),
                      F.col("len").alias("lk"))
    cand_short = (sa.join(sb, "lk")
                  .where(F.col("id") != F.col("id_r"))
                  .select(F.least("id", "id_r").alias("id_a"),
                          F.greatest("id", "id_r").alias("id_b")))
    cand = cand_long.unionByName(cand_short).distinct()
    ta = base.select(F.col("id").alias("id_a"), F.col("txt").alias("ta"))
    tb = base.select(F.col("id").alias("id_b"), F.col("txt").alias("tb"))
    return (cand.join(ta, "id_a").join(tb, "id_b")
            .select("id_a", "id_b",
                    F.levenshtein("ta", "tb").alias("dist"))
            .where(F.col("dist") <= max_dist))


def sorted_neighborhood_pairs(df: DataFrame, id_col: str,
                              sort_cols: "str | list[str]",
                              window: int = 2,
                              n_partitions: int | None = None) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate pairs — the third blocking
    family next to banded MinHash and q-gram blocking: sort the corpus
    by a blocking key and compare each row only to its ``window``
    nearest neighbors in sort order (Hernández & Stolfo 1995).  Wins
    where token-set methods lose: near-dups whose edits concentrate in
    a few characters (typos, serials, normalized names) sort adjacent
    even when their shingle sets diverge.  Output: one row per ordered
    candidate pair — ``id_a``/``id_b`` (``id_a`` earlier in sort
    order) and ``dist`` (positions apart, 1..window).

    The neighborhood is over the TOTAL order (sort_cols, then id as
    tiebreak — ties are deterministic, never partition-dependent);
    NULL sort values order LAST (both Spark here and the DuckDB
    default, so replays agree); NULL ids are dropped.

    Scale design — the global rank WITHOUT a global window: a naive
    ``row_number() OVER (ORDER BY key)`` single-tasks the corpus.
    Instead (1) ``repartitionByRange`` gives order-aligned partitions
    (Spark's sampled range bounds handle any orderable type — the
    built-in answer to order-preserving bucketing), (2) ranks are
    LOCAL row_numbers within each range partition (JVM window keyed
    by partition id), (3) per-partition counts — O(#partitions)
    DRIVER STATE, not data — turn local ranks global via a literal
    offset map.  Pairing is then an EQUI-join: each row explodes its
    ``window`` successor ranks (``sequence(rank+1, rank+window)``)
    and joins rank-to-rank — never a non-equi range join (Spark would
    nested-loop it).  Partition-boundary pairs come out of the same
    equi-join for free: no edge-row duplication pass, because ranks
    are global before pairing.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    if not scols:
        raise ValueError("sort_cols must be non-empty")
    proj = (df.where(F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    *[F.col(c).alias(f"__s{i}")
                      for i, c in enumerate(scols)]))
    order = [F.col(f"__s{i}").asc_nulls_last()
             for i in range(len(scols))] + [F.col("__id").asc()]
    spark = df.sparkSession
    np = int(n_partitions
             or spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (proj.repartitionByRange(np, *order)
              .withColumn("__pid", F.spark_partition_id()))
    # ``ranged`` feeds TWO actions (the counts collect below and the
    # caller's final job) and repartitionByRange SAMPLES its boundaries
    # — boundaries differ across re-executions, so without freezing
    # them the driver-built offset map goes silently stale and global
    # ranks collide (measured: 500k rows -> 486k distinct ranks and
    # ~5% phantom/missing pairs).  localCheckpoint materializes the
    # partitioning once so every consumer reads the SAME __pid
    # assignment — the pack_offsets / ks_2samp / gini_coefficient
    # protocol.
    ranged = ranged.localCheckpoint(eager=True)
    w = Window.partitionBy("__pid").orderBy(*order)
    local = ranged.withColumn("__lr", F.row_number().over(w))
    # partition row counts: O(#partitions) scalars — pid order IS
    # range order (repartitionByRange contract)
    counts = {r["__pid"]: r["n"] for r in
              local.groupBy("__pid").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        # empty input: build an empty frame with the output schema
        empty = local.select(F.col("__id").alias("id_a"),
                             F.col("__id").alias("id_b"),
                             F.lit(1).cast("long").alias("dist"))
        return empty.where(F.lit(False))
    omap = F.create_map(*[x for pid, off in offsets.items()
                          for x in (F.lit(pid), F.lit(off))])
    ranks = local.select(
        "__id", (omap[F.col("__pid")] + F.col("__lr")).alias("__r"))
    left = ranks.select(
        F.col("__id").alias("id_a"), F.col("__r").alias("__ra"),
        F.explode(F.sequence(F.col("__r") + 1,
                             F.col("__r") + window)).alias("__rb"))
    right = ranks.select(F.col("__id").alias("id_b"),
                         F.col("__r").alias("__rb"))
    return (left.join(right, "__rb")
            .select("id_a", "id_b",
                    (F.col("__rb") - F.col("__ra")).cast("long")
                    .alias("dist")))
# --------------------------------------------------------------------------
# Record-linkage scoring (Fellegi-Sunter)
# --------------------------------------------------------------------------
def field_u_probs(df: DataFrame, fields: "str | list[str]") -> dict:
    """u-probabilities for Fellegi-Sunter scoring: per field, the chance
    two RANDOM records agree — ``sum_v (c_v/n)^2`` over the field's
    non-null value distribution (n = non-null count).  Complements the
    caller-supplied m (chance true matches agree).

    Plan: ONE scan — every row explodes to (field, value) pairs, one
    map-side-combined groupBy(field, value) -> count, then sum(c^2)/n^2
    per field.  Driver state is O(#fields) scalars, never value lists.
    Values compare after cast to string (matching the scorer's equality
    on the raw columns only when the cast is injective — true for the
    string/numeric/date fields linkage keys are made of).
    """
    flds = _collist(fields)
    if not flds:
        raise ValueError("fields must be non-empty")
    missing = [f for f in flds if f not in df.columns]
    if missing:
        raise ValueError(f"fields not in DataFrame: {missing}")
    stacked = df.select(F.posexplode(F.array(*[
        F.col(f).cast("string") for f in flds])).alias("__i", "__v"))
    per_val = (stacked.where(F.col("__v").isNotNull())
               .groupBy("__i", "__v")
               .agg(F.count(F.lit(1)).cast("double").alias("__c")))
    rows = (per_val.groupBy("__i")
            .agg((F.sum(F.col("__c") * F.col("__c"))
                  / (F.sum("__c") * F.sum("__c"))).alias("__u"))
            .collect())
    u = {flds[r["__i"]]: r["__u"] for r in rows}
    absent = [f for f in flds if f not in u]
    if absent:
        raise ValueError(
            f"fields with zero non-null values (u undefined): {absent}")
    return u


def _pair_fields(records: DataFrame, pairs: DataFrame, id_col: str,
                 fields: "str | list[str]") -> tuple[list, DataFrame]:
    """``(fields, joined)``: the validated field list, and the
    ``(id_a, id_b)`` pairs with each side's field values as
    ``__a_<field>`` / ``__b_<field>`` (two id-keyed hash joins)."""
    flds = _collist(fields)
    if not flds:
        raise ValueError("fields must be non-empty")
    missing = [f for f in flds if f not in records.columns]
    if missing:
        raise ValueError(f"fields not in records: {missing}")
    a = records.select(F.col(id_col).alias("__ida"),
                       *[F.col(f).alias(f"__a_{f}") for f in flds])
    b = records.select(F.col(id_col).alias("__idb"),
                       *[F.col(f).alias(f"__b_{f}") for f in flds])
    return flds, (pairs.select("id_a", "id_b")
                  .join(a, F.col("id_a") == F.col("__ida"))
                  .join(b, F.col("id_b") == F.col("__idb")))


def linkage_score_pairs(records: DataFrame, pairs: DataFrame,
                        id_col: str, fields: "str | list[str]",
                        m: float = 0.95,
                        u: "dict | None" = None) -> DataFrame:
    """Fellegi-Sunter log-odds score for candidate record pairs — the
    scoring half of a record-linkage pipeline whose candidate half is
    ``sorted_neighborhood_pairs`` / ``fuzzy_pairs_levenshtein`` /
    ``minhash_candidates``: field-wise agreement evidence summed as
    ``log2(m/u)`` per agreeing field and ``log2((1-m)/(1-u))`` per
    disagreeing field; a field NULL on either side is neutral (0).

    ``pairs`` needs ``id_a``/``id_b``; ``m`` is the caller's
    true-match agreement probability (shared across fields); ``u``
    per-field random-agreement probabilities — estimated from
    ``records`` via :func:`field_u_probs` when omitted.

    Output: ``id_a``, ``id_b``, one ``agree_<field>`` int per field
    (1 agree / 0 disagree / NULL not comparable), ``fs_score`` double.

    Scale: u-estimation is one scan collapsing to O(#fields) driver
    scalars; the weights then embed as LITERALS, so scoring is two
    hash joins (pairs -> records on id, both sides shuffle-partitioned
    by id) plus pure codegen comparisons — no window, no UDF, and the
    records side is touched exactly twice regardless of #fields.
    """
    if not 0.0 < m < 1.0:
        raise ValueError(f"m must be in (0, 1): {m}")
    flds, joined = _pair_fields(records, pairs, id_col, fields)
    if u is None:
        u = field_u_probs(records, flds)
    for f in flds:
        uf = u.get(f)
        if uf is None or not 0.0 < uf < 1.0:
            raise ValueError(f"u[{f!r}] must be in (0, 1): {uf}")
    agree_cols, score = [], F.lit(0.0)
    for f in flds:
        fa, fb = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        both = fa.isNotNull() & fb.isNotNull()
        agree = both & (fa == fb)
        w_agree = float(math.log2(m / u[f]))
        w_dis = float(math.log2((1.0 - m) / (1.0 - u[f])))
        agree_cols.append(F.when(agree, 1).when(both, 0)
                          .cast("int").alias(f"agree_{f}"))
        score = score + F.when(agree, F.lit(w_agree)) \
                         .when(both, F.lit(w_dis)).otherwise(F.lit(0.0))
    return joined.select("id_a", "id_b", *agree_cols,
                         score.alias("fs_score"))


# --------------------------------------------------------------------------
# Score-based cluster representatives (keep-best dedup)
# --------------------------------------------------------------------------
def component_representatives(members: DataFrame, id_col: str,
                              component_col: str,
                              score_col: str) -> DataFrame:
    """Per near-dup component: the member with the HIGHEST score —
    ties broken by the LOWEST id (the repo-wide keep-first
    convention).  The quality-aware alternative to min-id survivors:
    when a boilerplate cluster holds one clean page and nine mirrors,
    dedup should keep the clean one, not the numerically smallest.

    ``members``: (id, component, score) rows — typically
    :func:`connected_components` output joined to a quality score
    (``quality_score``, ``n_chars``, an LM score...).  ``score_col``
    must be numeric; NULL scores rank below every non-NULL score (a
    component whose members are ALL unscored still elects its min-id
    member).  Output: ``component``, ``rep_id``, ``rep_score``,
    ``n_members``.

    Scale: ONE map-side-combined groupBy on the component —
    ``min_by`` over the (negated-score, id) ordering struct keeps a
    single candidate per component per upstream task; a hot component
    arrives as #tasks partials, not #members.  No window, no join.
    """
    for c in (id_col, component_col, score_col):
        if c not in members.columns:
            raise ValueError(f"members missing column: {c!r}")
    neg = F.coalesce(-F.col(score_col).cast("double"),
                     F.lit(float("inf")))
    carried = F.struct(F.col(id_col).alias("i"),
                       F.col(score_col).cast("double").alias("s"))
    order = F.struct(neg.alias("n"), F.col(id_col).alias("i"))
    return (members.groupBy(F.col(component_col).alias("component"))
            .agg(F.min_by(carried, order).alias("__top"),
                 F.count(F.lit(1)).alias("n_members"))
            .select("component",
                    F.col("__top.i").alias("rep_id"),
                    F.col("__top.s").alias("rep_score"),
                    "n_members"))


def keep_best(df: DataFrame, pairs: DataFrame, id_col: str,
              score_col: str, max_iter: int = 25) -> DataFrame:
    """Transitive near-dup removal keeping the BEST-scoring member of
    every duplicate cluster: components from the pair graph
    (:func:`connected_components`), one survivor per component via
    :func:`component_representatives`, everything else dropped.  Rows
    never mentioned in ``pairs`` are singletons and always survive.
    Output: the surviving subset of ``df`` (all columns) plus a
    ``dup_component`` audit column (NULL for singletons).

    Scale: pair-graph components are bounded by the candidate
    generator's caps (banded/blocked, never all-pairs); the corpus is
    touched by ONE id-keyed join against the component labels and one
    semi-join against the (small, one-row-per-component) winners.
    """
    for c in (id_col, score_col):
        if c not in df.columns:
            raise ValueError(f"df missing column: {c!r}")
    comps = connected_components(pairs, max_iter=max_iter)
    labeled = df.join(comps.select(F.col("id").alias(id_col),
                                   F.col("comp").alias("dup_component")),
                      on=id_col, how="left")
    members = (labeled.where(F.col("dup_component").isNotNull())
               .select(id_col, "dup_component", score_col))
    reps = component_representatives(members, id_col,
                                     "dup_component", score_col)
    keep_ids = reps.select(F.col("rep_id").alias(id_col))
    return (labeled.where(F.col("dup_component").isNull())
            .unionByName(
                labeled.join(keep_ids, on=id_col, how="leftsemi")
                .where(F.col("dup_component").isNotNull())))


def agreement_pattern_counts(records: DataFrame, pairs: DataFrame,
                             id_col: str,
                             fields: "str | list[str]") -> DataFrame:
    """Per agreement-pattern pair counts — the sufficient statistics
    for unsupervised Fellegi-Sunter parameter estimation: each
    candidate pair collapses to a pattern string over ``fields``
    ('1' agree / '0' disagree / '?' not comparable, i.e. NULL on
    either side), and EM only ever needs the O(3^#fields) pattern
    histogram, never the pairs again.

    Output: ``pattern``, ``n_pairs``.

    Scale: the same two id-keyed hash joins as
    :func:`linkage_score_pairs` followed by ONE map-side-combined
    groupBy on the pattern expression — pair volume never reaches the
    driver; the histogram does.
    """
    flds, joined = _pair_fields(records, pairs, id_col, fields)
    parts = []
    for f in flds:
        fa, fb = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        both = fa.isNotNull() & fb.isNotNull()
        parts.append(F.when(both & (fa == fb), F.lit("1"))
                     .when(both, F.lit("0")).otherwise(F.lit("?")))
    return (joined.groupBy(F.concat(*parts).alias("pattern"))
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def linkage_em(records: DataFrame, pairs: DataFrame, id_col: str,
               fields: "str | list[str]", n_iter: int = 20,
               init_lambda: float = 0.1, init_m: float = 0.9,
               init_u: "dict | None" = None) -> dict:
    """Unsupervised Fellegi-Sunter parameter estimation (Winkler's
    EM under conditional independence): learns the match prevalence
    ``lambda``, per-field ``m`` (P(agree | true match)) and ``u``
    (P(agree | non-match)) from the candidate pairs themselves — no
    labels.  Feed the learned ``m``/``u`` into
    :func:`linkage_score_pairs` (which accepts explicit ``u`` and a
    per-call ``m``) for calibrated log-odds instead of guessed
    weights.

    Returns ``{"lambda": float, "m": {field: float},
    "u": {field: float}, "n_pairs": int, "n_iter": int}``.

    Fixed ``n_iter`` (the kmeans_fit protocol: deterministic,
    replayable pass budget); ``init_u`` defaults to
    :func:`field_u_probs` on the corpus — the standard EM warm start.
    Fields with '?' (NULL on either side) are excluded from that
    pair's likelihood, the textbook missing-at-random treatment.

    Scale: ONE Spark job builds the O(3^#fields) agreement-pattern
    histogram (:func:`agreement_pattern_counts`); every EM iteration
    is driver arithmetic over that histogram — pair volume is touched
    exactly once no matter how many iterations run.
    """
    flds = _collist(fields)
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    if not 0.0 < init_lambda < 1.0:
        raise ValueError(f"init_lambda must be in (0, 1): {init_lambda}")
    pats = {r["pattern"]: r["n_pairs"] for r in
            agreement_pattern_counts(records, pairs, id_col,
                                     flds).collect()}
    n = sum(pats.values())
    if n == 0:
        raise ValueError("linkage_em: no candidate pairs")
    u0 = init_u if init_u is not None else field_u_probs(records, flds)
    lam = float(init_lambda)
    m = {f: float(init_m) for f in flds}
    u = {f: float(u0[f]) for f in flds}
    eps = 1e-9

    def _clamp(x):
        return min(1.0 - eps, max(eps, x))

    for _ in range(n_iter):
        # E-step: posterior match weight per pattern
        w = {}
        for pat, c in pats.items():
            pm, pu = lam, 1.0 - lam
            for f, g in zip(flds, pat):
                if g == "1":
                    pm *= m[f]
                    pu *= u[f]
                elif g == "0":
                    pm *= 1.0 - m[f]
                    pu *= 1.0 - u[f]
            w[pat] = pm / (pm + pu) if (pm + pu) > 0 else 0.0
        # M-step
        tot_w = sum(pats[p] * w[p] for p in pats)
        lam = _clamp(tot_w / n)
        for i, f in enumerate(flds):
            num_m = den_m = num_u = den_u = 0.0
            for pat, c in pats.items():
                if pat[i] == "?":
                    continue
                cw = c * w[pat]
                den_m += cw
                den_u += c - cw
                if pat[i] == "1":
                    num_m += cw
                    num_u += c - cw
            if den_m > 0:
                m[f] = _clamp(num_m / den_m)
            if den_u > 0:
                u[f] = _clamp(num_u / den_u)
    return {"lambda": lam, "m": m, "u": u, "n_pairs": int(n),
            "n_iter": int(n_iter)}


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Cross-document n-gram novelty: for every document, how much of
    it exists elsewhere in the corpus — ``n_ngrams`` (distinct word
    n-grams, :func:`shingle_expr` normalization), ``n_shared`` (those
    appearing in >= 2 documents), ``novelty = 1 − shared/n_ngrams``.
    The corpus-internal complement of :func:`decontaminate` (which
    screens against an EXTERNAL benchmark): low-novelty documents are
    boilerplate, templated spam, or near-copies that inflate
    memorization — rank by novelty and cap, or feed the scores to the
    sampling weights.  Documents shorter than ``n`` tokens have no
    n-grams: ``n_ngrams = 0``, ``novelty`` NULL.

    Scale: grams travel as ``xxhash64`` (8 bytes); the gram
    document-frequency groupBy pre-combines map-side, and the
    flag-back join keys on the gram hash where the build side is ONE
    row per distinct gram.  A stop-phrase gram shared by millions of
    documents makes that gram's probe rows land in one task — bounded
    by #docs-per-gram lightweight rows and split by AQE skew-join; the
    whole operator is two shuffles (gram counts, per-doc re-sum).
    A hash collision can over-count one gram pair per 2^64.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    grams = (df.select(F.col(id_col),
                       F.explode(shingle_expr(text_col, n))
                       .alias("__g"))
             .select(id_col, F.xxhash64("__g").alias("__h")))
    gdf = grams.groupBy("__h").agg(
        (F.count(F.lit(1)) >= 2).alias("__shared"))
    per_doc = (grams.join(gdf, "__h")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_ngrams"),
                    F.sum(F.when(F.col("__shared"), 1).otherwise(0))
                    .cast("long").alias("n_shared")))
    return (df.select(id_col)
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_ngrams", F.lit(0).cast("long"))
                    .alias("n_ngrams"),
                    F.coalesce("n_shared", F.lit(0).cast("long"))
                    .alias("n_shared"),
                    F.when(F.col("n_ngrams") > 0,
                           F.lit(1.0) - F.col("n_shared")
                           / F.col("n_ngrams")).alias("novelty")))


def exact_substring_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 20,
                          min_count: int = 2,
                          cross_doc: bool = False,
                          keep_first: bool = False) -> DataFrame:
    """Exact-substring dedup spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every maximal
    run of tokens whose length-``n`` token windows ALL repeat elsewhere
    in the corpus, and emit it as a per-document removable span — the
    remaining standard LLM-corpus dedup level between doc-level
    (:func:`exact_dedup` / :func:`minhash_candidates`) and line-level
    (:func:`line_dedup`): long quotes, licenses, templates, and lifted
    paragraphs that cross line boundaries and don't dominate the doc.

    Token-quantized equivalent of the paper's suffix-array ExactSubstr:
    every positional word ``n``-gram is hashed; a gram occurring
    ``min_count``+ times in the corpus (``cross_doc=True``: in
    ``min_count``+ DISTINCT documents — within-doc repetition then
    doesn't qualify) is a repeated anchor, and overlapping/adjacent
    flagged windows merge into maximal spans (gaps-and-islands).  Any
    repeated token run of length >= n is found exactly; boundaries are
    token-resolution, and two distinct repeats that overlap in a doc
    merge into one span (union semantics — correct for REMOVAL, the
    operator's purpose).  One row per span: ``(id, span_start,
    span_end, n_grams)`` — token positions, end EXCLUSIVE, under
    :func:`shingle_expr`'s normalization (lowercase, ``\\s+`` split).
    Docs with no repeated span emit nothing.

    ``keep_first=True`` is the paper's remove-all-but-one policy: the
    CANONICAL occurrence of each repeated gram — smallest (id, pos) —
    stays unflagged, so feeding the spans to :func:`remove_spans`
    keeps exactly one copy of a shared passage corpus-wide instead of
    cutting them all.  Caveat: canonicality is per-GRAM, so when two
    repeats only partially overlap the kept copy is resolved
    window-by-window (a doc overlapping part of the kept passage
    still flags its own windows).

    Scale: positional grams travel as ``(id, int pos, xxhash64)`` —
    corpus-token-sized but 20 bytes/row; gram counts pre-combine
    map-side; the flag-back join's build side is one row per distinct
    REPEATED gram (a boilerplate gram shared by millions of docs lands
    its probe rows per-doc — AQE skew-join splits the hot hash, the
    :func:`ngram_novelty` note).  The island merge windows only over
    FLAGGED positions per doc (the ordered-per-doc bound).  A hash
    collision can over-flag one gram pair per 2^64.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2: {min_count}")
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    g = _positional_grams(df, text_col, id_col, n)
    if cross_doc:
        rep = (g.select(id_col, "__h").distinct()
               .groupBy("__h")
               .agg(F.count(F.lit(1)).alias("__c"))
               .where(F.col("__c") >= min_count).select("__h"))
    else:
        rep = (g.groupBy("__h")
               .agg(F.count(F.lit(1)).alias("__c"))
               .where(F.col("__c") >= min_count).select("__h"))
    cand = g.join(rep, "__h")
    if keep_first:
        # canonical occurrence per repeated gram = min (id, pos); one
        # groupBy over the repeated-gram subset only
        first = (cand.groupBy("__h")
                 .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                     F.col("__p").alias("p")))
                      .alias("__f")))
        cand = (cand.join(first, "__h")
                .where(~((F.col(id_col) == F.col("__f.i"))
                         & (F.col("__p") == F.col("__f.p")))))
    flagged = cand.select(id_col, "__p")
    return _merge_flagged_spans(flagged, id_col, n)


def _positional_grams(df: DataFrame, text_col: str, id_col: str,
                      n: int) -> DataFrame:
    """``(id, __p, __h)`` — every positional word n-gram as its
    xxhash64 (shingle_expr normalization: lowercase, ``\\s+`` split);
    the shared front end of :func:`exact_substring_spans` and
    :func:`contaminated_spans`."""
    pos_grams = F.expr(f"""
        element_at(transform(array(split(lower(`{text_col}`),
                                         '\\\\s+')),
            toks -> CASE WHEN size(toks) >= {n} THEN
                transform(sequence(0, size(toks) - {n}),
                    i -> struct(i AS pos,
                                xxhash64(concat_ws(' ',
                                    slice(toks, i + 1, {n}))) AS h))
            ELSE array() END), 1)""")
    return (df.where(F.col(id_col).isNotNull()
                     & F.col(text_col).isNotNull())
            .select(F.col(id_col), F.explode(pos_grams).alias("__pg"))
            .select(id_col, F.col("__pg.pos").alias("__p"),
                    F.col("__pg.h").alias("__h")))


def _merge_flagged_spans(flagged: DataFrame, id_col: str,
                         n: int) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions ``(id, __p)``
    into maximal spans ``(id, span_start, span_end, n_grams)`` — the
    per-doc window sees only FLAGGED positions (ordered-per-doc
    bound)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__p")
    # new island when the previous flagged window can't touch this one:
    # [prev, prev+n) and [p, p+n) overlap or abut iff p - prev <= n
    new_isl = F.when(
        F.lag("__p").over(w).isNull()
        | (F.col("__p") - F.lag("__p").over(w) > n), 1).otherwise(0)
    return (flagged
            .withColumn("__isl", F.sum(new_isl).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy(id_col, "__isl")
            .agg(F.min("__p").cast("long").alias("span_start"),
                 (F.max("__p") + n).cast("long").alias("span_end"),
                 F.count(F.lit(1)).cast("long").alias("n_grams"))
            .select(id_col, "span_start", "span_end", "n_grams"))


def contaminated_spans(df: DataFrame, benchmark: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       bench_text_col: "str | None" = None,
                       n: int = 8) -> DataFrame:
    """WHERE benchmark text appears inside each corpus document —
    span-level decontamination: :func:`decontaminate` answers "does
    this doc overlap the eval set" (doc-level screen); this returns
    the exact token spans so a pipeline can surgically cut the leaked
    passage (via :func:`remove_spans`) instead of dropping a
    million-token document for one quoted test question.  Every
    length-``n`` token window of a corpus doc that equals ANY
    length-``n`` window of any benchmark doc is flagged; flagged
    windows merge into maximal spans exactly like
    :func:`exact_substring_spans`.  One row per span: ``(id,
    span_start, span_end, n_grams)``.

    Scale: the corpus side is one positional-gram pass (corpus-token-
    sized, 8-byte hashes); the benchmark side collapses to its
    DISTINCT gram hashes — eval sets are small, so the flag join's
    build side broadcasts (AQE picks it; never forced, a giant
    "benchmark" stays a sound shuffle join).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    btc = bench_text_col or text_col
    if btc not in benchmark.columns:
        raise ValueError(f"benchmark missing column: {btc!r}")
    bench_grams = (benchmark
                   .where(F.col(btc).isNotNull())
                   .select(F.explode(shingle_expr(btc, n))
                           .alias("__g"))
                   .select(F.xxhash64("__g").alias("__h"))
                   .distinct())
    g = _positional_grams(df, text_col, id_col, n)
    flagged = g.join(bench_grams, "__h").select(id_col, "__p")
    return _merge_flagged_spans(flagged, id_col, n)


def remove_spans(df: DataFrame, spans: DataFrame,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Apply :func:`exact_substring_spans` / :func:`contaminated_spans`
    output: drop every token inside a flagged span and reassemble the
    document — the cut step of span-level dedup/decontamination.
    Returns one row per INPUT doc: ``(id, text_clean, n_tokens,
    n_tokens_removed)``; docs with no spans pass through (reassembled
    from the same tokenization, so output text is uniformly
    single-space joined — the :func:`line_dedup` reassembly trade).
    Span positions index the ``\\s+`` token sequence (case preserved:
    only gram MATCHING lowercases, not the text itself).

    Scale: spans collapse to one array per doc (spans-per-doc-sized);
    the removal is a single per-row higher-order filter — no explode,
    no shuffle beyond the span join (AQE broadcasts the span side when
    small).
    """
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    for c in (id_col, "span_start", "span_end"):
        if c not in spans.columns:
            raise ValueError(f"spans missing column: {c!r}")
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(
                   F.struct(F.col("span_start").alias("s"),
                            F.col("span_end").alias("e")))
                   .alias("__spans")))
    kept = F.expr(f"""
        transform(filter(
            transform(split(`{text_col}`, '\\\\s+'),
                      (t, i) -> struct(t AS t, i AS i)),
            x -> __spans IS NULL OR NOT exists(
                __spans, sp -> x.i >= sp.s AND x.i < sp.e)),
        x -> x.t)""")
    n_tok = F.size(F.split(F.col(text_col), r"\s+"))
    # NULL text passes through as NULL (concat_ws would silently turn
    # it into '' — a missing doc is not an empty doc)
    clean = F.when(F.col(text_col).isNotNull(), F.concat_ws(" ", kept))
    return (df.join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    clean.alias("text_clean"),
                    n_tok.cast("long").alias("n_tokens"),
                    (n_tok - F.size(kept)).cast("long")
                    .alias("n_tokens_removed")))
