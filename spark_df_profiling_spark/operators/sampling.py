"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need *reproducible* sampling: `df.sample()` /
`rand()` are seeded per-task, so a task retry, a partition-count change,
or an AQE re-plan silently changes which rows are kept — poison for
train/val/test splits that must stay disjoint across reruns and engines.
Every operator here instead derives a bucket in ``[0, BUCKETS)`` from a
cryptographic hash of a row key, so membership is a pure function of the
row (plus an explicit seed):

* identical results on every run, every partition layout, every retry;
* the same rule is expressible in any engine (the DuckDB oracles run the
  identical md5 arithmetic) — splits survive an engine migration;
* no shuffle and no extra scan: each operator is a single codegen'd
  filter/projection pushed onto the scan.

Scale notes: the hash is md5 (portable everywhere) of ``key || ':' ||
seed``; the first 15 hex digits (60 bits) go through base-16 → decimal
conversion, staying exact in an int64 (and in DuckDB's BIGINT).  Bucket
skew is the hash's uniformity — at 1e6 buckets the sampling error at any
fraction is O(1/1000) of the population per bucket boundary, independent
of data size.
"""

from __future__ import annotations

import warnings
from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_df_profiling_spark.plans.topk import two_phase_topk

#: bucket space for all fraction arithmetic (1e6 → fraction granularity 1e-6)
BUCKETS = 1_000_000


def _c(col: Union[str, Column]) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _warn_if_nullable_key(df: DataFrame, key_col: Union[str, Column],
                          message: str) -> None:
    """One-time advisory when a plain-named key column is nullable.

    Static schema check only (the operators are lazy — counting actual
    NULLs would cost a scan); ``warnings`` default filtering dedups
    repeats from the same call site.  Expression keys (already-coalesced
    etc.) can't be looked up and stay silent.
    """
    if not isinstance(key_col, str):
        return
    try:
        field = df.schema[key_col]
    except KeyError:
        return
    if field.nullable:
        warnings.warn(message, stacklevel=3)


def hash_bucket(col: Union[str, Column], seed: int = 0,
                buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in ``[0, buckets)`` from md5 of the key.

    Engine-portable: DuckDB computes the identical value with
    ``('0x' || substr(md5(key || ':' || seed), 1, 15))::BIGINT %
    buckets``.  60 bits of hash keep the conversion exact in int64; md5's
    uniformity makes the bucket distribution uniform regardless of key
    distribution (sequential ids, skewed ids — doesn't matter).

    NULL keys yield a NULL bucket (``concat`` propagates NULL exactly
    like SQL ``||``), so every downstream comparison behaves as the
    equivalent SQL does: a ``bucket < cut`` filter DROPS NULL-key rows,
    and a CASE assignment falls through to its ELSE branch.  Sample with
    a non-null key (or ``coalesce`` one in) if NULL rows must be kept.
    """
    if buckets <= 0:
        raise ValueError(f"buckets must be > 0: {buckets}")
    key = F.concat(_c(col).cast("string"), F.lit(f":{seed}"))
    return (F.conv(F.substring(F.md5(key), 1, 15), 16, 10)
            .cast("bigint") % buckets)


def sample_hash(df: DataFrame, key_col: Union[str, Column],
                fraction: float, seed: int = 0) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash.

    A pure filter (``bucket < fraction * BUCKETS``): pushed to the scan,
    no shuffle, retry-safe, and the SAME rows come back on every engine
    and every run.  Rows sharing a key are kept or dropped together —
    pass a unique id for row-level sampling, a group key (e.g. user_id)
    for leakage-free group-level sampling.  NULL keys are dropped (the
    bucket is NULL, same as the SQL ``||`` oracle).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1]: {fraction}")
    cut = int(round(fraction * BUCKETS))
    return df.where(hash_bucket(key_col, seed) < F.lit(cut))


def hash_split(df: DataFrame, key_col: Union[str, Column],
               weights: Mapping[str, float], seed: int = 0,
               split_col: str = "split",
               null_split: Optional[str] = None) -> DataFrame:
    """Assign every row to a named split by cumulative hash ranges.

    ``weights`` maps split name → weight (normalized internally); e.g.
    ``{"train": 0.8, "val": 0.1, "test": 0.1}``.  Assignment order is
    the mapping's iteration order, so ranges are stable for a given
    call.  Splits are disjoint and exhaustive by construction, stay
    consistent across engines/runs/retries, and rows sharing a key land
    in the same split (group-level leakage control, same as
    :func:`sample_hash`).  Single projection — no shuffle, no extra scan.

    NULL keys: by default they land in the LAST split (NULL bucket →
    every ``WHEN`` is NULL → ELSE branch), matching the equivalent SQL
    CASE — note the footgun: in the conventional ``{train, val, test}``
    ordering that is the holdout split, so un-keyed rows silently
    pollute eval data.  Pass ``null_split`` to route NULL keys to an
    explicit split instead (e.g. ``"train"``, or a quarantine label not
    in ``weights``) — still one codegen'd expression, no extra scan.
    """
    names = list(weights)
    if not names:
        raise ValueError("weights must be non-empty")
    total = float(sum(weights[n] for n in names))
    if total <= 0 or any(weights[n] < 0 for n in names):
        raise ValueError(f"weights must be >= 0 with a positive sum: "
                         f"{dict(weights)}")
    if null_split is None:
        _warn_if_nullable_key(
            df, key_col,
            f"hash_split: key column {key_col!r} is nullable and no "
            f"null_split was given — NULL-key rows will land in the "
            f"LAST split ({names[-1]!r}), conventionally the holdout; "
            f"pass null_split= to route them explicitly")
    bucket = hash_bucket(key_col, seed)
    # cumulative integer thresholds; the last split absorbs rounding
    cuts, acc = [], 0.0
    for n in names[:-1]:
        acc += weights[n] / total
        cuts.append(int(round(acc * BUCKETS)))
    expr: Column = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(bucket < F.lit(cut), F.lit(name)).otherwise(expr)
    if null_split is not None:
        expr = F.when(bucket.isNull(), F.lit(null_split)).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_sample_hash(df: DataFrame, strata_col: str,
                           fractions: Mapping[str, float],
                           key_col: Union[str, Column],
                           seed: int = 0,
                           default_fraction: float = 0.0) -> DataFrame:
    """Deterministic per-stratum sampling (e.g. rebalance a language mix).

    ``fractions`` maps stratum value → keep fraction; strata absent from
    the map keep ``default_fraction``.  Still a single codegen'd filter —
    the per-stratum cut is a CASE expression on ``strata_col``, so there
    is no shuffle and no per-stratum job (contrast ``df.stat.sampleBy``,
    which is rand()-based and retry-unstable).  Typical use: downsample
    over-represented web crawl languages to a target mixture before
    training.
    """
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1]: {v}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction must be in [0, 1]: {default_fraction}")
    cut: Column = F.lit(int(round(default_fraction * BUCKETS)))
    for value, frac in fractions.items():
        cut = F.when(F.col(strata_col) == F.lit(value),
                     F.lit(int(round(frac * BUCKETS)))).otherwise(cut)
    return df.where(hash_bucket(key_col, seed) < cut)


def split_counts(df: DataFrame, key_col: str,
                 weights: Mapping[str, float], seed: int = 0,
                 by: Optional[Sequence[str]] = None) -> DataFrame:
    """Audit a split: row counts per split (× optional dimensions).

    The cheap sanity check a pipeline runs after (re)defining a split:
    one aggregation over the assignment projection.
    """
    assigned = hash_split(df, key_col, weights, seed=seed)
    keys = ["split", *(by or [])]
    return (assigned.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_rows")))


def sample_exact_k(df: DataFrame, strata_col: str, k: int,
                   key_col: Union[str, Column], seed: int = 0) -> DataFrame:
    """Exactly ``k`` rows per stratum, chosen deterministically.

    Rank by ``(hash_bucket, key)`` inside each stratum and keep rank <=
    k — a uniform random-looking but fully reproducible choice (same
    k rows on every run/engine).  Use for eval-set carving ("5 docs per
    language") where *exact* counts matter and fractions don't.

    NULL keys are dropped before ranking, same as :func:`sample_hash`:
    with a NULL key both sort keys are NULL, so rank order among
    multiple NULL-key rows in a stratum would be engine/run-dependent —
    exactly the non-determinism this operator exists to rule out.  The
    reproducibility guarantee therefore requires ``key_col`` to be
    unique and non-null among rows that should be sampleable.

    .. note:: changed in round 5 — NULL-key rows previously ranked last
       (``asc_nulls_last``) and could be sampled when a stratum held
       fewer than k non-null keys; they are now excluded entirely, so
       such strata return fewer than k rows.  A one-time warning fires
       when the key column is nullable so existing callers notice the
       shrunken-strata possibility.

    Scale note: one shuffle on ``strata_col``; the per-stratum sort is
    the cost.  For huge strata pre-thin with :func:`sample_hash` at a
    few × k/stratum_size first (membership stays deterministic since
    both stages are pure hash functions), then rank the survivors.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    _warn_if_nullable_key(
        df, key_col,
        f"sample_exact_k: key column {key_col!r} is nullable — NULL-key "
        f"rows are excluded from sampling (determinism requires a "
        f"non-null key), so strata dominated by NULL keys may return "
        f"fewer than k rows; coalesce a surrogate key to include them")
    from pyspark.sql import Window
    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key_col, seed).asc(), _c(key_col).asc())
    return (df.where(_c(key_col).isNotNull())
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def mixture_sample(df: DataFrame, source_col: str,
                   weights: Mapping[str, float],
                   key_col: Union[str, Column],
                   seed: int = 0) -> DataFrame:
    """Downsample sources to a target mixture (training-mix construction).

    ``weights`` maps source value → target proportion of the OUTPUT.
    The op finds the largest output achievable without upsampling any
    source — ``total = min_s(count_s / weight_s)`` — and keeps a
    deterministic ``weight_s · total / count_s`` fraction of each source
    (the binding source keeps everything).  Sources absent from
    ``weights`` are dropped.

    Fully distributed: per-source counts come from one aggregation whose
    result (O(#sources) rows) broadcast-joins back onto the data; the
    keep decision is the same md5-bucket filter as :func:`sample_hash`,
    with the cut computed via ``floor`` on both sides of the join so the
    identical rule is replayable in any engine.  No driver collect, no
    repartition of the corpus — one scan + one broadcast hash join.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    for k, v in weights.items():
        if v <= 0:
            raise ValueError(f"weight for {k!r} must be > 0: {v}")
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    counts = (df.where(F.col(source_col).isin(*weights))
              .groupBy(source_col)
              .agg(F.count(F.lit(1)).alias("__src_n")))
    # total = min over sources of count/weight; fraction_s = w_s*total/n_s
    per_src = counts.withColumn(
        "__ratio", F.col("__src_n") / wmap[F.col(source_col)])
    total = per_src.agg(F.min("__ratio").alias("__total"))
    cuts = (per_src.crossJoin(F.broadcast(total))
            .withColumn(
                "__cut",
                F.floor(wmap[F.col(source_col)] * F.col("__total")
                        / F.col("__src_n") * F.lit(BUCKETS)))
            .select(source_col, "__cut"))
    return (df.join(F.broadcast(cuts), source_col)
            .where(hash_bucket(key_col, seed) < F.col("__cut"))
            .drop("__cut"))


def duckdb_bucket_sql(key_sql: str, seed: int = 0,
                      buckets: int = BUCKETS) -> str:
    """The DuckDB expression computing the identical bucket (oracle use)."""
    return (f"(('0x' || substr(md5(({key_sql})::VARCHAR || ':{seed}'), "
            f"1, 15))::BIGINT % {buckets})")


def temperature_weights(df: DataFrame, source_col: str,
                        tau: float = 0.7,
                        target_rows: Optional[int] = None) -> DataFrame:
    """Temperature-scaled source mixing weights (the multilingual /
    multi-source rebalancing rule: sample source s with probability
    ∝ p_s^tau).

    ``tau=1`` keeps the natural distribution, ``tau=0`` forces uniform,
    and the 0.2-0.7 range is the published recipe for boosting
    low-resource sources (multilingual BERT / XLM-R / mT5 all sample
    languages this way).  Returns one row per source:
    ``(source, n_rows, share, weight, target_n, epochs)`` where
    ``weight = p_s^tau / Σ p^tau``, ``target_n = weight ·
    (target_rows or N)`` and ``epochs = target_n / n_rows`` — epochs
    > 1 means the source must be UPSAMPLED (repeated) to hit the mix,
    the quantity a training-data pipeline actually schedules by.

    One aggregation (O(#sources) rows) + window-free arithmetic on the
    tiny result; never touches row-level data again.
    """
    if tau < 0:
        raise ValueError(f"tau must be >= 0: {tau}")
    counts = (df.groupBy(F.col(source_col).alias("source"))
              .agg(F.count(F.lit(1)).alias("n_rows")))
    tot = counts.agg(F.sum("n_rows").alias("__N"))
    # corpus-level sums ride O(#sources) frames; broadcast cross joins
    # of those are free
    shared = counts.crossJoin(F.broadcast(tot)).select(
        "source", "n_rows", "__N",
        (F.col("n_rows") / F.col("__N")).alias("share"))
    wsum = shared.agg(
        F.sum(F.pow(F.col("share"), F.lit(float(tau)))).alias("__wsum"))
    out_n = (F.lit(float(target_rows)) if target_rows is not None
             else F.col("__N").cast("double"))
    weight = F.pow(F.col("share"), F.lit(float(tau))) / F.col("__wsum")
    return (shared.crossJoin(F.broadcast(wsum))
            .select("source", "n_rows", "share",
                    weight.alias("weight"),
                    (weight * out_n).alias("target_n"))
            .withColumn("epochs", F.col("target_n") / F.col("n_rows"))
            .orderBy("source"))


def mixture_plan(per_source: DataFrame, budget_tokens: float,
                 source_col: str = "source",
                 tokens_col: str = "n_tokens",
                 weight_col: str = "weight",
                 max_epochs: float = 4.0) -> DataFrame:
    """Token-budget allocation across sources under a repetition cap —
    the mixing board between :func:`temperature_weights` (which says
    the IDEAL mix) and :func:`temperature_resample` (which draws it):
    give each source ``λ·w_s`` tokens of the budget, but never more
    than ``max_epochs × n_tokens_s`` (repeating a small source 40× is
    how memorization happens — every published recipe caps epochs),
    and redistribute what saturated sources can't absorb to the rest
    IN WEIGHT PROPORTION.  That is exactly water-filling, solved in
    CLOSED FORM: sort sources by ``cap_s/w_s`` ascending, prefix-sum
    caps and suffix-sum weights, and the water level
    ``λ_k = (B − Σ_{i≤k} cap_i) / Σ_{i>k} w_i`` is valid at the first
    ``k`` where the next ratio exceeds it — no iteration.  One row
    per source: ``(source, weight, n_tokens, cap_tokens,
    target_tokens, epochs, saturated)`` plus ``budget_unmet`` repeated
    (> 0 only when EVERY source saturates — the budget is larger than
    ``max_epochs`` passes over everything).

    The input is the O(#sources) mixture table by contract (mixture
    components are dashboard-grade — tens, not millions), so the
    unpartitioned ordering window here is bounded; weights and token
    counts must be positive, the budget positive.
    """
    from pyspark.sql import Window

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0: {budget_tokens}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0: {max_epochs}")
    for c in (source_col, tokens_col, weight_col):
        if c not in per_source.columns:
            raise ValueError(f"missing column: {c!r}")
    w = F.col(weight_col).cast("double")
    tk = F.col(tokens_col).cast("double")
    guard = F.when((w > 0) & (tk > 0), w).otherwise(F.raise_error(
        F.concat(F.lit("mixture_plan: non-positive weight or token "
                       "count for source "),
                 F.col(source_col).cast("string"))))
    base = per_source.select(
        F.col(source_col).alias("source"), guard.alias("__w"),
        tk.alias("__tk"),
        (tk * max_epochs).alias("__cap"))
    # bounded by the #sources contract (lint-whitelisted)
    ws = Window.orderBy(F.col("__r"), F.col("source"))
    w_run = ws.rowsBetween(Window.unboundedPreceding, 0)
    w_all = ws.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    staged = (base.withColumn("__r", F.col("__cap") / F.col("__w"))
              .withColumn("__capcum", F.sum("__cap").over(w_run))
              .withColumn("__wcum", F.sum("__w").over(w_run))
              .withColumn("__wtot", F.sum("__w").over(w_all))
              .withColumn("__captot", F.sum("__cap").over(w_all)))
    # λ if exactly the sources up to AND INCLUDING this row saturate
    lam_k = F.when(
        F.col("__wtot") > F.col("__wcum"),
        (F.lit(float(budget_tokens)) - F.col("__capcum"))
        / (F.col("__wtot") - F.col("__wcum")))
    # λ with NO saturated source (k = 0)
    lam0 = F.lit(float(budget_tokens)) / F.col("__wtot")
    # row i saturates iff r_i <= λ_i (the water level when i and
    # everything before it saturate) — provably equivalent to
    # membership in the optimal saturated prefix, and λ_k is
    # nondecreasing over that prefix so max picks λ_{k*}.  The LAST
    # row has no λ (no one left unsaturated): it saturates only when
    # the budget covers every cap.
    valid = F.when(lam_k.isNull(),
                   F.lit(float(budget_tokens)) >= F.col("__captot")) \
        .otherwise(F.col("__r") <= lam_k)
    staged = staged.withColumn(
        "__lam_k", lam_k).withColumn("__sat_here", valid)
    # the water level is λ_{k*} where k* = number of saturated rows:
    # the LAST row with __sat_here true carries it; rows never
    # saturating use λ0 when nothing saturates.  The LAST sorted row
    # has no λ_k (nobody left unsaturated) — when IT saturates, every
    # source saturates and the level is unbounded: +inf, so every
    # target clamps to its cap via least() (−inf here was the r12
    # single-source −inf-target bug, caught by the hypothesis
    # water-filling property)
    lam_star = F.max(F.when(F.col("__sat_here"),
                            F.coalesce(F.col("__lam_k"),
                                       F.lit(float("inf"))))
                     ).over(w_all)
    any_sat = F.max(F.when(F.col("__sat_here"), 1).otherwise(0)) \
        .over(w_all)
    lam_eff = F.when(any_sat == 1, lam_star).otherwise(lam0)
    out = staged.withColumn("__lam", lam_eff)
    target = F.least(F.col("__cap"), F.col("__lam") * F.col("__w"))
    unmet = F.greatest(
        F.lit(0.0), F.lit(float(budget_tokens)) - F.col("__captot"))
    return out.select(
        F.col("source").alias(source_col),
        F.col("__w").alias(weight_col),
        F.col("__tk").cast("long").alias(tokens_col),
        F.col("__cap").alias("cap_tokens"),
        target.alias("target_tokens"),
        (target / F.col("__tk")).alias("epochs"),
        (F.col("__cap") <= F.col("__lam") * F.col("__w"))
        .alias("saturated"),
        unmet.alias("budget_unmet"))


def temperature_resample(df: DataFrame, source_col: str,
                         key_col: Union[str, Column],
                         tau: float = 0.7,
                         target_rows: Optional[int] = None,
                         seed: int = 0) -> DataFrame:
    """Materialize the tau-mix: each source appears ``epochs_s`` times.

    The deterministic up/down-sampler behind
    :func:`temperature_weights`: a row from source s is emitted
    ``floor(epochs_s)`` times unconditionally plus once more iff its
    md5 bucket (salted with the copy index, so the fractional pass is
    independent of the full copies) falls under the fractional part —
    so each source's output count is ``floor(e)·n_s + Binomial-free
    deterministic ≈ frac(e)·n_s``, and two runs (or two engines)
    produce IDENTICAL row multisets.  ``epochs < 1`` degrades to a
    plain hash filter (downsampling), the same contract as
    :func:`mixture_sample`.

    Output adds ``epoch_copy`` (0-based copy index) so downstream
    dedup/packing can distinguish intentional repetitions from
    accidental duplicates.

    Scale shape: one tiny aggregate → broadcast join → ``explode`` of a
    per-row ``sequence`` (vectorized, JVM-side) → codegen'd filter.  No
    shuffle of the corpus, no driver collect beyond O(#sources).
    """
    w = temperature_weights(df, source_col, tau, target_rows)
    plan = w.select(F.col("source").alias(source_col),
                    F.floor("epochs").cast("long").alias("__reps"),
                    (F.col("epochs")
                     - F.floor("epochs")).alias("__frac"))
    keyed = df.join(F.broadcast(plan), source_col)
    copies = keyed.withColumn(
        "epoch_copy",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("__reps"))))
    frac_key = F.concat(_c(key_col).cast("string"), F.lit("#"),
                        F.col("epoch_copy").cast("string"))
    keep = (F.col("epoch_copy") < F.col("__reps")) | \
        (hash_bucket(frac_key, seed) < F.col("__frac") * F.lit(BUCKETS))
    return copies.where(keep).drop("__reps", "__frac")


# --- DSIR-style importance weights (data selection for LMs) ----------------
def hashed_ngram_counts(df: DataFrame, text_col: Union[str, Column],
                        n_buckets: int = 10_000,
                        seed: int = 0) -> DataFrame:
    """(bucket, cnt) — corpus counts of hashed whitespace unigrams.

    The feature side of DSIR (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): tokens are hashed into
    ``n_buckets`` buckets with the same engine-portable md5 arithmetic
    as :func:`hash_bucket`, so a target and a raw corpus counted by two
    different engines still land in identical buckets.  One explode +
    one map-side-partial count; output is ``n_buckets`` rows — always
    broadcastable.
    """
    return (df.select(F.explode(F.split(_c(text_col), " "))
                      .alias("__tok"))
            .select(hash_bucket(F.col("__tok"), seed, n_buckets)
                    .alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def dsir_logweights(df: DataFrame, target: DataFrame,
                    text_col: str, id_col: str,
                    n_buckets: int = 10_000, seed: int = 0,
                    alpha: float = 1.0) -> DataFrame:
    """Per-document DSIR importance log-weight against a target corpus.

    ``log_w(doc) = Σ_tokens ln p_target(bucket) − ln p_raw(bucket)``
    with add-``alpha`` smoothed bucket probabilities
    ``(cnt + alpha) / (total + alpha·n_buckets)`` estimated from
    hashed-unigram counts of the TARGET corpus vs the RAW corpus
    (``df`` itself).  Documents that look like the target get high
    weights; sampling ∝ ``exp(log_w)`` (or taking the top fraction)
    is the published recipe for selecting pretraining data that
    matches a high-quality target domain.

    Returns ``(id_col, n_tokens, log_w)``.

    Scale: the two bucket tables are ``n_buckets`` rows each (counted
    with map-side partials over one scan per corpus) and join into ONE
    broadcastable log-ratio table; the scoring pass explodes tokens,
    broadcast-looks-up the ratio, and sums per document — one shuffle
    on the document id.  No UDFs, no driver-side loops; the ratio
    table is ~100 KB at the default 10k buckets regardless of corpus
    size.  Engine-portable: DuckDB reproduces the identical weights
    from the same md5 bucket arithmetic (oracle-graded).
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    raw_counts = hashed_ngram_counts(df, text_col, n_buckets, seed)
    tgt_counts = hashed_ngram_counts(target, text_col, n_buckets, seed)
    # full outer on bucket: buckets absent from one corpus still get the
    # smoothed floor probability.
    ratio = (raw_counts.withColumnRenamed("cnt", "raw_cnt")
             .join(tgt_counts.withColumnRenamed("cnt", "tgt_cnt"),
                   "bucket", "outer")
             .select(
                 "bucket",
                 (F.log((F.coalesce(F.col("tgt_cnt"), F.lit(0))
                         + F.lit(alpha))
                        / (F.coalesce(F.col("raw_cnt"), F.lit(0))
                           + F.lit(alpha)))).alias("__lr_part"),
             ))
    # ln(p_t/p_r) = ln((tc+a)/(rc+a)) + ln((R + aB)/(T + aB)); the
    # second term is a per-token constant handled via the totals.
    raw_tot = df.select(F.sum(F.size(F.split(_c(text_col), " ")))
                        .cast("double").alias("__rt"))
    tgt_tot = target.select(F.sum(F.size(F.split(_c(text_col), " ")))
                            .cast("double").alias("__tt"))
    toks = (df.select(F.col(id_col).alias("__id"),
                      F.explode(F.split(_c(text_col), " ")).alias("__tok"))
            .select("__id", hash_bucket(F.col("__tok"), seed, n_buckets)
                    .alias("bucket")))
    ab = float(alpha) * n_buckets
    return (toks.join(F.broadcast(ratio), "bucket", "left")
            .join(F.broadcast(raw_tot)).join(F.broadcast(tgt_tot))
            .groupBy("__id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.coalesce(F.col("__lr_part"),
                                  F.lit(0.0))
                       + F.log((F.col("__rt") + F.lit(ab))
                               / (F.col("__tt") + F.lit(ab))))
                 .alias("log_w"))
            .select(F.col("__id").alias(id_col), "n_tokens", "log_w"))


def weighted_sample_k(df: DataFrame, key_col: Union[str, Column],
                      weight_col: Union[str, Column], k: int,
                      seed: int = 0,
                      sub_partitions: int = 64) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: ``k`` rows
    where each row's inclusion probability is proportional to its
    weight (Efraimidis-Spirakis exponential-key scheme).

    Each row draws a deterministic uniform ``u`` from the md5 of its
    key (+seed) and gets sort key ``-ln(u) / w`` — the classic result:
    taking the k SMALLEST such keys is exactly weighted sampling
    without replacement.  Same inputs → same sample, on every run and
    every engine (DuckDB replays the identical md5/ln arithmetic),
    which makes the draw retry-safe where ``rand()`` is not.

    Zero/negative/NULL weights are excluded (their inclusion
    probability is 0).  Returns the input columns plus ``es_key``.

    Scale: the uniform and the key are pure row expressions; top-k is
    the salted ``two_phase_topk`` rank (local top-k within hash salts,
    then a final rank over k·sub_partitions rows) — no global
    single-task sort of the corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    w = _c(weight_col).cast("double")
    # u in (0, 1]: (h + 1) / 2^60 over the 60-bit md5 prefix
    h = (F.conv(F.substring(
        F.md5(F.concat(_c(key_col).cast("string"), F.lit(f":{seed}"))),
        1, 15), 16, 10).cast("bigint"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    # the w > 0 guard lives INSIDE the expression, not only in the
    # filter below: ANSI raises on division by zero and relying on
    # Catalyst to push the filter under the projection is plan-shape
    # luck, not a contract
    es = F.when(w > 0, -F.log(u) / w).alias("es_key")
    scored = df.withColumn("es_key", es).where(
        w.isNotNull() & (w > 0) & _c(key_col).isNotNull())
    key = _c(key_col).cast("string")
    return two_phase_topk(scored, [], F.xxhash64(key),
                          [F.asc("es_key"), F.asc(key)], k,
                          sub_partitions, rank="__r2").drop("__r2")


def score_buckets(df: DataFrame, score_col: Union[str, Column],
                  n_buckets: int = 10, exact: bool = True,
                  accuracy: int = 10_000) -> DataFrame:
    """Equal-frequency score bucketing — the curriculum-ordering /
    quality-tier primitive (e.g. "train on the top decile first").

    Returns the input plus ``bucket`` in ``[0, n_buckets)`` assigned by
    the score's own quantile cuts: bucket b covers scores in
    (cut_b, cut_{b+1}] with cut_0 = -inf, so roughly n/n_buckets rows
    land in each (ties collapse into one bucket — equal scores must
    not split across tiers).  NULL scores get NULL bucket.

    Scale: cuts are ONE aggregate job collecting ``n_buckets - 1``
    scalars to the driver (state, not data — the histogram-edge
    pattern), then ride as literals into a codegen'd filter.  This is
    the distributed answer to ``ntile()``, whose global window would
    single-task the corpus.  ``exact=False`` switches the cut
    computation to percentile_approx (bounded sketch state) for
    100 TB inputs.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    s = _c(score_col).cast("double")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    fn = "percentile" if exact else "percentile_approx"
    extra = "" if exact else f", {int(accuracy)}"
    sc = (df.select(s.alias("__s"))
          .agg(F.expr(f"{fn}(__s, array({', '.join(map(repr, probs))})"
                      f"{extra})").alias("__cuts")).collect()[0])
    cuts = [float(x) for x in (sc["__cuts"] or [])]
    # binary-search when() tree (layout.tier_tree): log2(n_buckets)
    # comparisons per row — a linear when-chain degrades hard past a
    # few hundred buckets (see the zorder_write triage in BASELINE.md)
    from spark_df_profiling_spark.operators.layout import tier_tree
    bucket = tier_tree(s, cuts)
    return df.withColumn(
        "bucket", F.when(s.isNotNull(), bucket.cast("int")))


def leakage_safe_split(df: DataFrame, pairs: DataFrame, id_col: str,
                       weights: Mapping[str, float], seed: int = 0,
                       split_col: str = "split",
                       group_col: Optional[str] = "split_group",
                       null_split: Optional[str] = None) -> DataFrame:
    """:func:`hash_split`, but with near-duplicate CLUSTERS as the
    split unit: every row whose id appears in the ``pairs`` graph
    (``id_a``/``id_b`` — the output shape of ``minhash_candidates``,
    ``simhash_near_pairs``, ``embedding_near_dup``, ...) is split by
    its connected component's representative (smallest id), so two
    near-duplicate documents can NEVER straddle train/test.  Plain
    ``hash_split`` on the row id is leakage-UNSAFE under near-dups:
    a mutated copy of a train document lands in the holdout with
    probability = the holdout share, and eval silently measures
    memorization.  Rows absent from ``pairs`` split by their own id
    (singleton groups) — identical to ``hash_split`` for them.

    ``group_col`` (default ``split_group``; pass None to drop) exposes
    the representative the row was split by — the audit column for
    "which cluster pulled this doc into test".

    NULL ids: NULL group key → same contract as :func:`hash_split`
    (last split, or ``null_split``).

    Scale: one :func:`~spark_df_profiling_spark.operators.dedup.
    connected_components` run over the PAIR graph (joins/groupBys on
    pair volume — near-dup pairs are a small fraction of corpus rows
    when the candidate generator is banded/capped, which every
    generator in this package is), then ONE left equi-join of the
    corpus against the component labels (broadcastable whenever the
    pair graph is; ordinary hash join otherwise) and the zero-shuffle
    hash_split projection.  Deterministic end-to-end: components are
    order-free min-labels, the split is md5 arithmetic — rerunning on
    a grown corpus moves no existing singleton row between splits.
    """
    from spark_df_profiling_spark.operators.dedup import (
        connected_components)
    comps = connected_components(pairs).select(
        F.col("id").alias("__ls_id"), F.col("comp").alias("__ls_comp"))
    joined = df.join(comps, _c(id_col) == F.col("__ls_id"), "left")
    rep = F.coalesce(F.col("__ls_comp"), _c(id_col))
    keyed = joined.withColumn("__ls_rep", rep).drop("__ls_id",
                                                    "__ls_comp")
    out = hash_split(keyed, "__ls_rep", weights, seed=seed,
                     split_col=split_col, null_split=null_split)
    if group_col is not None:
        out = out.withColumnRenamed("__ls_rep", group_col)
    else:
        out = out.drop("__ls_rep")
    return out


def deterministic_shuffle(df: DataFrame, key_col: Union[str, Column],
                          n_shards: int, seed: int = 0) -> DataFrame:
    """Reproducible global shuffle for training-order assignment:
    every row gets a ``shard`` in ``[0, n_shards)`` and a ``pos``
    (0-based) within its shard — the SAME permutation on every run,
    engine, and partitioning, so a training job restarted (or
    re-sharded downstream) reads documents in the identical order.
    ``rand()``-based shuffles can't give that: their order changes
    with partition layout and retries.

    Order is ``(md5-bucket(key, seed), key)``; shards are contiguous
    bucket ranges (``bucket * n_shards / BUCKETS`` in integer space),
    so shard membership is a pure row expression and shard sizes
    concentrate at n/n_shards by md5 uniformity.  New seed = a fresh
    independent permutation (per-epoch reshuffles).  NULL keys are
    dropped (the :func:`sample_exact_k` determinism contract — ties
    under a NULL sort key would be engine-dependent); ``key_col``
    must be unique for the order to be total.

    Scale: no global sort and no single-task window — ONE shuffle on
    ``shard`` (each task sorts ~n/n_shards rows for its shard's
    row_number).  Size ``n_shards`` so a shard's rows fit a task
    (e.g. 100 TB / 2048 shards ≈ 50 GB of docs → row count per task,
    not byte count, is what the sort pays for).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    _warn_if_nullable_key(
        df, key_col,
        f"deterministic_shuffle: key column {key_col!r} is nullable — "
        f"NULL-key rows are dropped (a total deterministic order "
        f"needs a non-null unique key); coalesce a surrogate key to "
        f"keep them")
    from pyspark.sql import Window
    b = hash_bucket(key_col, seed)
    w = (Window.partitionBy("shard")
         .orderBy(F.col("__bkt").asc(), _c(key_col).asc()))
    return (df.where(_c(key_col).isNotNull())
            .withColumn("__bkt", b)
            .withColumn("shard",
                        F.expr(f"(__bkt * {int(n_shards)}) div "
                               f"{BUCKETS}"))
            .withColumn("pos", F.row_number().over(w) - 1)
            .drop("__bkt"))


def split_leakage_audit(assigned: DataFrame, pairs: DataFrame,
                        id_col: str, split_col: str = "split",
                        id_a: str = "id_a", id_b: str = "id_b"
                        ) -> DataFrame:
    """Audit an ARBITRARY split against a near-dup pair graph: for
    every unordered split combination, how many pairs land there —
    off-diagonal rows (split_a != split_b) are LEAKED pairs (one side
    in train, its near-duplicate in eval).  The measurement
    counterpart of :func:`leakage_safe_split` (which prevents leakage
    by construction): run it on splits made by :func:`hash_split`, an
    inherited upstream split, or any column you didn't control, and
    get the damage report before training.

    ``assigned`` must carry ``id_col`` and ``split_col``.  Pairs with
    either endpoint missing from ``assigned`` are counted separately
    as ``(<split or '<unassigned>'>, '<unassigned>')`` rows rather
    than silently dropped — an un-assigned endpoint is itself a
    finding.  Output: ``(split_a, split_b, n_pairs)`` with
    ``split_a <= split_b`` lexicographically.

    Scale: two id-keyed hash joins (broadcast the assignment when it
    is a dim-sized id->split map) + ONE map-side-combined groupBy on
    the O(#splits²) combination key.
    """
    for c in (id_a, id_b):
        if c not in pairs.columns:
            raise ValueError(f"pairs missing column: {c!r}")
    for c in (id_col, split_col):
        if c not in assigned.columns:
            raise ValueError(f"assigned missing column: {c!r}")
    amap = assigned.select(F.col(id_col).alias("__id"),
                           F.col(split_col).alias("__s"))
    j = (pairs
         .join(amap.withColumnRenamed("__s", "__sa"),
               pairs[id_a] == F.col("__id"), "left").drop("__id")
         .join(amap.withColumnRenamed("__s", "__sb"),
               pairs[id_b] == F.col("__id"), "left").drop("__id"))
    sa = F.coalesce(F.col("__sa"), F.lit("<unassigned>"))
    sb = F.coalesce(F.col("__sb"), F.lit("<unassigned>"))
    return (j.select(F.least(sa, sb).alias("split_a"),
                     F.greatest(sa, sb).alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def stratified_exact_split(df: DataFrame, strata_col: str,
                           weights: "Mapping[str, float]",
                           key_col: Union[str, Column],
                           seed: int = 0,
                           split_col: str = "split") -> DataFrame:
    """Train/val/test split with EXACT per-stratum proportions:
    within every stratum the split sizes are
    ``floor(n_stratum · cum_weight)`` boundaries — each split lands
    within one row of its target fraction in EVERY stratum
    (:func:`hash_split` is proportional only in expectation: a
    100-doc language can easily come out 85/9/6 on an 80/10/10 ask).
    Assignment is still deterministic — rows are ranked inside each
    stratum by (md5 bucket, key), so the same rows land in the same
    split on every run/engine — but NOT stable under corpus growth
    (ranks shift as rows are added; use :func:`hash_split` when
    membership stability across snapshots matters more than exact
    proportions).

    NULL keys are dropped (the :func:`sample_exact_k` determinism
    contract); NULL strata form their own stratum.  Weights are
    normalized; the LAST split absorbs each stratum's rounding
    remainder.

    Scale: one groupBy for stratum sizes (broadcast back — O(#strata)
    rows) + one in-stratum rank window; a stratum's rows sort within
    one task (the :func:`sample_exact_k` bound — pre-thin or shard
    giant strata upstream if a single stratum exceeds task memory).
    """
    names = list(weights)
    if not names:
        raise ValueError("weights must be non-empty")
    total = float(sum(weights[n] for n in names))
    if total <= 0 or any(weights[n] < 0 for n in names):
        raise ValueError(f"weights must be >= 0 with a positive sum: "
                         f"{dict(weights)}")
    if strata_col not in df.columns:
        raise ValueError(f"missing column: {strata_col!r}")
    _warn_if_nullable_key(
        df, key_col,
        f"stratified_exact_split: key column {key_col!r} is nullable "
        f"— NULL-key rows are dropped (deterministic in-stratum "
        f"ranks need a non-null key)")
    from pyspark.sql import Window
    # NULL strata form their own stratum: join/partition on a
    # null-safe surrogate (an equi-join would silently drop them)
    sk = F.coalesce(F.col(strata_col).cast("string"),
                    F.lit("\x00NULL"))
    base = (df.where(_c(key_col).isNotNull())
            .withColumn("__sk", sk))
    sizes = (base.groupBy("__sk")
             .agg(F.count(F.lit(1)).alias("__ns")))
    w = Window.partitionBy("__sk").orderBy(
        hash_bucket(key_col, seed).asc(), _c(key_col).asc())
    ranked = (base.withColumn("__srk", F.row_number().over(w))
              .join(F.broadcast(sizes), ["__sk"]))
    # per-stratum thresholds floor(n_s * cum_i); rank <= threshold_i
    # and > threshold_{i-1} -> split i; the last split takes the tail
    expr: Column = F.lit(names[-1])
    acc = 0.0
    cums = []
    for n in names[:-1]:
        acc += weights[n] / total
        cums.append(acc)
    for name, cum in zip(reversed(names[:-1]), reversed(cums)):
        thr = F.floor(F.col("__ns") * F.lit(cum)).cast("long")
        expr = F.when(F.col("__srk") <= thr, F.lit(name)) \
                .otherwise(expr)
    return (ranked.withColumn(split_col, expr)
            .drop("__srk", "__ns", "__sk"))


def stratified_kfold(df: DataFrame, strata_col: str,
                     key_col: Union[str, Column], k: int = 5,
                     seed: int = 0,
                     fold_col: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment with EXACT per-stratum balance:
    within every stratum the fold sizes differ by at most one —
    cross-validation and eval-shard carving for training pipelines
    where a plain ``hash % k`` leaves ±√n fold-size noise AND ±√n
    class-imbalance noise per fold.  Rows rank within their stratum by
    ``(md5-bucket(key, seed), key)`` (the
    :func:`stratified_exact_split` machinery — shuffled but fully
    reproducible across runs/engines) and ``fold = (rank − 1) mod k``.
    NULL strata form their own stratum (null-safe surrogate); NULL
    keys are dropped with the standard nullable-key warning.

    Scale: one window rank per stratum (one shuffle), no joins — the
    per-stratum counts are never even materialized.  Same
    ordered-per-stratum hot-key bound as every ranked operator here.
    Engine-portable: DuckDB replays the identical ranks and the mod.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if strata_col not in df.columns:
        raise ValueError(f"missing column: {strata_col!r}")
    _warn_if_nullable_key(
        df, key_col,
        f"stratified_kfold: key column {key_col!r} is nullable — "
        f"NULL-key rows are dropped (deterministic in-stratum ranks "
        f"need a non-null key)")
    from pyspark.sql import Window
    sk = F.coalesce(F.col(strata_col).cast("string"),
                    F.lit("\x00NULL"))
    base = (df.where(_c(key_col).isNotNull())
            .withColumn("__sk", sk))
    w = Window.partitionBy("__sk").orderBy(
        hash_bucket(key_col, seed).asc(), _c(key_col).asc())
    return (base
            .withColumn(fold_col,
                        ((F.row_number().over(w) - 1) % k)
                        .cast("int"))
            .drop("__sk"))


# ---------------------------------------------------------------------------
# Hash-seeded Poisson bootstrap — one-pass uncertainty at any scale
# ---------------------------------------------------------------------------

#: Poisson(1) CDF cut points scaled to BUCKETS: ``floor(F(k)·1e6)`` for
#: k = 0..8; a uniform bucket draw maps to weight w = index of the first
#: cut above it (9 past the last cut, total excess mass ~2e-6).  Integer
#: thresholds → the inverse-CDF is a pure integer comparison ladder,
#: bit-identical on every engine (the float CDF never touches the data
#: path).  E[w] = 1.000006 from the flooring — a stated, deterministic
#: 6e-6 relative bias shared by estimate and replicates alike.
POISSON1_CUTS = (367879, 735758, 919698, 981011, 996340,
                 999405, 999916, 999989, 999998)


def poisson_weight(bucket: Column) -> Column:
    """Poisson(1) draw from a uniform bucket in [0, BUCKETS) — the
    chained-when inverse CDF over :data:`POISSON1_CUTS` (NULL bucket →
    NULL weight, matching :func:`hash_bucket`'s NULL-key contract —
    guarded explicitly: a NULL falling through every when() would
    otherwise land in the otherwise(9) branch, review r12c)."""
    w = None
    for i, cut in enumerate(POISSON1_CUTS):
        w = (F.when(bucket < cut, F.lit(i)) if w is None
             else w.when(bucket < cut, F.lit(i)))
    ladder = w.otherwise(F.lit(len(POISSON1_CUTS)))
    return F.when(bucket.isNotNull(), ladder).cast("long")


def _bootstrap_buckets(id_col: Union[str, Column], b: int, seed: int,
                       hash_fn: str) -> Column:
    if hash_fn == "md5":
        return hash_bucket(
            F.concat(_c(id_col).cast("string"), F.lit(f"#{b}")), seed)
    return F.pmod(F.xxhash64(_c(id_col), F.lit(b), F.lit(seed)),
                  F.lit(BUCKETS))


def _bootstrap_wide_agg(df: DataFrame, value_col: Union[str, Column],
                        id_col: Union[str, Column], n_boot: int,
                        seed: int, group_col: Optional[str],
                        hash_fn: str,
                        denom_col: "Union[str, Column, None]" = None
                        ) -> DataFrame:
    """One row per group carrying the full-sample (n, Σnum[, Σden])
    plus the 2·n_boot replicate aggregates — the single scan every
    bootstrap entry point shares.  With ``denom_col`` the replicate
    denominator slot ``__nw_b`` carries ``Σ w·den`` (ratio mode)
    instead of ``Σ w`` (mean mode)."""
    if not 2 <= n_boot <= 200:
        raise ValueError(f"n_boot must be in [2, 200]: {n_boot}")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5': "
                         f"{hash_fn!r}")
    _warn_if_nullable_key(
        df, id_col,
        "bootstrap: id column is nullable — NULL-id rows are dropped "
        "(replicate weights need a non-null key)")
    v = _c(value_col).cast("double")
    keep = v.isNotNull() & _c(id_col).isNotNull()
    den = _c(denom_col).cast("double") if denom_col is not None \
        else None
    if den is not None:
        keep = keep & den.isNotNull()
    if group_col:
        keep = keep & F.col(group_col).isNotNull()
    gsel = [F.col(group_col)] if group_col else []
    dsel = [den.alias("__d")] if den is not None else []
    base = df.where(keep).select(*gsel, v.alias("__v"), *dsel,
                                 _c(id_col).alias("__id"))
    aggs = [F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__v").alias("__sv")]
    if den is not None:
        aggs.append(F.sum("__d").alias("__sd"))
    for b in range(n_boot):
        w = poisson_weight(
            _bootstrap_buckets(F.col("__id"), b, seed, hash_fn))
        aggs.append(F.sum(w * F.col("__v")).alias(f"__swv_{b}"))
        if den is not None:
            aggs.append(F.sum(w * F.col("__d")).alias(f"__nw_{b}"))
        else:
            aggs.append(F.sum(w).alias(f"__nw_{b}"))
    return (base.groupBy(group_col).agg(*aggs) if group_col
            else base.agg(*aggs))


def bootstrap_replicates(df: DataFrame, value_col: Union[str, Column],
                         id_col: Union[str, Column], n_boot: int = 41,
                         seed: int = 0,
                         group_col: Optional[str] = None,
                         hash_fn: str = "xxhash64") -> DataFrame:
    """Poisson-bootstrap replicate sums of ``value_col`` — the
    distributed bootstrap (Chamandy et al. 2012, "Estimating
    Uncertainty for Massive Data Streams"; the resample-with-
    replacement multinomial factorizes into independent Poisson(1)
    row weights, so every replicate is ONE weighted aggregate, not a
    resampled copy of the data).

    Per replicate ``b``: each row gets weight ``w = Poisson(1)``
    inverse-CDF'd from a deterministic hash of ``(id, b, seed)`` —
    reproducible across runs, retries, partition layouts, and (with
    ``hash_fn='md5'``) engines.  Returns one row per (group,)
    replicate: ``(group?, b, n_eff, sum_wv, boot_mean)`` where
    ``n_eff = Σw`` (the replicate's resampled row count),
    ``sum_wv = Σ w·v`` and ``boot_mean = sum_wv / n_eff`` (NULL when
    the replicate drew the group empty).

    Scale: ONE scan with ``2·n_boot + 2`` map-side-combined aggregate
    columns — no shuffle wider than #groups rows, no row explosion
    (the naive explode-by-replicate plan multiplies the scan ×B).
    After the aggregate everything is #groups×n_boot-sized.
    ``hash_fn='xxhash64'`` (default) is one JVM hash per (row,
    replicate); ``'md5'`` is the engine-portable spelling the DuckDB
    oracles replay (:func:`duckdb_bucket_sql` of ``id || '#b'``).
    """
    wide = _bootstrap_wide_agg(df, value_col, id_col, n_boot, seed,
                               group_col, hash_fn)
    parts = ", ".join(f"{b}, __swv_{b}, __nw_{b}"
                      for b in range(n_boot))
    stack = (f"stack({n_boot}, {parts}) as (b, sum_wv, n_eff)")
    gsel = [group_col] if group_col else []
    out = wide.selectExpr(*gsel, stack)
    return out.select(
        *gsel, F.col("b").cast("int").alias("b"),
        F.col("n_eff").cast("long").alias("n_eff"),
        F.col("sum_wv").alias("sum_wv"),
        F.when(F.col("n_eff") > 0,
               F.col("sum_wv") / F.col("n_eff")).alias("boot_mean"))


def _bootstrap_percentile_readout(wide: DataFrame,
                                  group_col: Optional[str],
                                  n_boot: int, level: float,
                                  ratio: bool) -> DataFrame:
    """Shared replicate→percentile readout for :func:`bootstrap_ci`
    (mean mode) and :func:`bootstrap_ratio_ci` — ONE copy of the
    stack assembly, replicate exclusion, sorted-array quantile
    interpolation, and se aggregate (review r12c: the two near-
    verbatim blocks would drift under a future quantile fix)."""
    parts = ", ".join(f"{b}, __swv_{b}, __nw_{b}"
                      for b in range(n_boot))
    stack = f"stack({n_boot}, {parts}) as (b, sum_wv, den)"
    gsel = [group_col] if group_col else []
    extra = ["__n", "__sv"] + (["__sd"] if ratio else [])
    reps = (wide.selectExpr(*gsel, *extra, stack)
            .where(F.col("den") > 0)
            .withColumn("__m", F.col("sum_wv") / F.col("den")))
    firsts = [F.first("__n").alias("n"),
              F.first("__sv").alias("__sv")]
    if ratio:
        firsts.append(F.first("__sd").alias("__sd"))
    agg = (reps.groupBy(group_col) if group_col else
           reps.groupBy()).agg(
        *firsts,
        F.sort_array(F.collect_list("__m")).alias("__ms"),
        F.stddev_samp("__m").alias("boot_se"))
    m = F.size("__ms")
    alpha = (1.0 - level) / 2.0

    def _q(q: float) -> Column:
        h = (m - 1).cast("double") * F.lit(q)
        i0 = F.floor(h).cast("int")
        frac = h - i0.cast("double")
        lo = F.element_at("__ms", i0 + 1)
        hi = F.element_at("__ms", F.least(i0 + 2, m))
        return F.when(m >= 2, lo + (hi - lo) * frac)

    if ratio:
        stat = F.when(F.col("__sd") > 0,
                      F.col("__sv") / F.col("__sd")).alias("ratio")
    else:
        stat = F.when(F.col("n") > 0,
                      F.col("__sv") / F.col("n")).alias("mean")
    return agg.select(
        *gsel, "n", stat,
        m.cast("int").alias("n_boot"),
        F.when(m >= 2, F.col("boot_se")).alias("boot_se"),
        _q(alpha).alias("ci_lo"),
        _q(1.0 - alpha).alias("ci_hi"))


def bootstrap_ci(df: DataFrame, value_col: Union[str, Column],
                 id_col: Union[str, Column], n_boot: int = 41,
                 level: float = 0.95, seed: int = 0,
                 group_col: Optional[str] = None,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean of
    ``value_col`` per group — uncertainty for corpus statistics at
    100 TB in ONE pass (:func:`bootstrap_replicates` is the engine;
    this is the readout): ``(group?, n, mean, n_boot, boot_se,
    ci_lo, ci_hi)``.

    ``ci_lo``/``ci_hi`` are the ``(1−level)/2`` and ``(1+level)/2``
    quantiles of the replicate means (linear interpolation over the
    sorted replicates — with the default ``n_boot=41`` and
    ``level=0.95`` the ranks land EXACTLY on sorted elements 2 and 40,
    so the graded values are pure element picks, no float blending);
    ``boot_se`` is the replicate-mean sample standard deviation.
    Replicates that draw a group empty are excluded (their mean is
    undefined); groups with fewer than 2 surviving replicates return
    NULL se/CI.

    Scale: the same single-scan wide aggregate as
    :func:`bootstrap_replicates`; the quantile step runs over a
    collected ≤n_boot-element array per group (bounded by the
    ``n_boot ≤ 200`` cap, never row-sized).
    """
    if not 0.0 < level < 1.0:
        raise ValueError(f"level must be in (0, 1): {level}")
    # the full-sample (n, sum) ride the same wide aggregate as the
    # replicates — ONE scan total; checkpointed so the stack and the
    # first() readout can't re-trigger it (playbook rule 7)
    wide = _bootstrap_wide_agg(df, value_col, id_col, n_boot, seed,
                               group_col, hash_fn).localCheckpoint()
    return _bootstrap_percentile_readout(wide, group_col, n_boot,
                                         level, ratio=False)


def bootstrap_ratio_ci(df: DataFrame, num_col: Union[str, Column],
                       den_col: Union[str, Column],
                       id_col: Union[str, Column], n_boot: int = 41,
                       level: float = 0.95, seed: int = 0,
                       group_col: Optional[str] = None,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Percentile-bootstrap CI for a RATIO ``Σ num / Σ den`` per
    group — the estimator behind every rate a pipeline reports
    (dedup rate = removed_tokens/total_tokens, click rate =
    clicks/impressions, cost per token): the delta-method-free
    uncertainty :func:`bootstrap_ci` gives for means, extended to
    ratio statistics (each replicate computes ``Σw·num / Σw·den``
    with the SAME Poisson weights on both sums — numerator and
    denominator resample TOGETHER, which is what makes this correct
    where a naive independent resample is not).  One row per
    (group,): ``(group?, n, ratio, n_boot, boot_se, ci_lo, ci_hi)``.

    Denominator contract: rows with NULL num/den/id are excluded;
    replicates whose resampled denominator is ≤ 0 are excluded from
    the percentile set (meaningful for the nonnegative denominators
    rates have; a signed denominator makes the ratio unstable and is
    the caller's problem to rescale).

    Scale: identical to :func:`bootstrap_ci` — ONE scan, 2·n_boot+3
    map-side-combined aggregate columns, #groups-row exchange,
    bounded-array quantiles.
    """
    if not 0.0 < level < 1.0:
        raise ValueError(f"level must be in (0, 1): {level}")
    wide = _bootstrap_wide_agg(df, num_col, id_col, n_boot, seed,
                               group_col, hash_fn,
                               denom_col=den_col).localCheckpoint()
    return _bootstrap_percentile_readout(wide, group_col, n_boot,
                                         level, ratio=True)


def weight_diagnostics(df: DataFrame, weight_col: str,
                       group_col: "str | None" = None) -> DataFrame:
    """Health check for an importance-weighting scheme (DSIR
    log-weights exponentiated, :func:`soft_dedup_weights`, temperature
    weights, survey weights): the classic effective sample size
    ``ESS = (Σw)² / Σw²`` (Kish 1965) with its ratio to n — ``ess_n``
    near 1 means the weights barely matter; near 0 means a handful of
    rows dominate the weighted estimate and downstream training/eval
    variance explodes — plus ``max_w_share`` (the single heaviest
    row's fraction of total weight, the "one document is 30% of the
    mixture" alarm).  One row per (group,): ``(group?, n, sum_w, ess,
    ess_n, max_w_share)``.  NULL and non-positive weights are
    EXCLUDED and counted (``n_nonpos``) — a negative importance
    weight is always an upstream bug worth surfacing, never mass to
    aggregate silently.  (Rows whose *group* is NULL are dropped
    outright when ``group_col`` is given — there is no group to
    attribute them to.)

    Scale: ONE map-side-combined aggregate (count + three moments +
    max) per group; nothing row-sized leaves the scan.
    """
    if weight_col not in df.columns:
        raise ValueError(f"missing column: {weight_col!r}")
    if group_col and group_col not in df.columns:
        raise ValueError(f"missing column: {group_col!r}")
    w = F.col(weight_col).cast("double")
    pos = F.when(w > 0, w)
    # NULL weights land in n_nonpos alongside zero/negative ones (the
    # docstring contract); only NULL *groups* are filtered out, since
    # they have no row to report under.
    aggs = [F.count(pos).cast("long").alias("n"),
            F.sum(F.when(w.isNull() | ~(w > 0), 1).otherwise(0))
            .cast("long").alias("n_nonpos"),
            F.sum(pos).alias("sum_w"),
            F.sum(pos * pos).alias("__sw2"),
            F.max(pos).alias("__wmax")]
    src = (df.where(F.col(group_col).isNotNull()) if group_col else df)
    agg = (src.groupBy(group_col).agg(*aggs) if group_col
           else src.agg(*aggs))
    ess = F.when(F.col("__sw2") > 0,
                 F.col("sum_w") * F.col("sum_w") / F.col("__sw2"))
    gsel = [group_col] if group_col else []
    return agg.select(
        *gsel, "n", "n_nonpos", "sum_w", ess.alias("ess"),
        F.when(F.col("n") > 0, ess / F.col("n")).alias("ess_n"),
        F.when(F.col("sum_w") > 0,
               F.col("__wmax") / F.col("sum_w")).alias("max_w_share"))
