"""Incremental / mergeable profiles — profile once per partition, merge
states forever.

The 100 TB workflow this enables: a daily pipeline profiles only the new
day's partition (one scan of the new data), appends the resulting
*partial state* (a tiny DataFrame, one row per column) to a state store,
and finalizes corpus-level statistics from the states alone — history is
never rescanned.  The reference has no equivalent (it recomputes over
the whole input every time).

Mergeability per statistic:

* ``n / count / sum / n_zeros / n_infinite`` — plain additive;
* ``min / max`` — idempotent combine;
* ``mean / variance`` — (count, mean, M2) triples merged with Chan's
  parallel algorithm, folded JVM-side with the ``aggregate`` higher-order
  function (numerically stable, unlike naive sum-of-squares);
* ``distinct`` — Apache DataSketches HLL sketches (``hll_sketch_agg``),
  merged with ``hll_union_agg``; binary states survive a parquet
  round-trip, so the state store is just a parquet table;
* fixed-bin histograms — additively mergeable when every partial uses
  the SAME bin edges: pass ``hist_edges={col: (lo, hi)}`` to
  :func:`partial_profile` (typically the min/max of the first partial —
  see :func:`hist_edges_from_state` — or domain-known bounds) and the
  per-bin count arrays sum element-wise in :func:`merge_partials`;
  out-of-range values land in ``hist_below``/``hist_above`` so a later
  partial exceeding the frozen edges is visible, never silently clamped;
* quantiles — EXACT quantiles are not mergeable from these states
  (KLL state is not exposed by Spark SQL), but
  :func:`quantiles_from_state` derives ESTIMATES from the merged
  fixed-bin histogram (linear interpolation within the crossing bin,
  error bounded by one bin width); callers needing exact quantiles run
  :func:`operators.profile.profile` over the window they care about.

Plan shape: ``partial_profile`` is ONE job over the partition (the same
shuffle-free partial-agg shape as the main profile pass 1);
``merge_partials``/``finalize`` run on #partials × #columns rows — state,
not data.
"""

from __future__ import annotations

from functools import reduce
from typing import Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_df_profiling_spark import schema as S

_NUMERIC = (S.NUM_INT, S.NUM_FLOAT)

#: columns of the partial-state frame (one row per profiled column)
STATE_COLUMNS = ("column", "type_class", "n", "count", "sum",
                 "mean", "m2", "min_num", "max_num", "n_zeros",
                 "n_infinite", "hll", "hist_lo", "hist_hi", "hist",
                 "hist_below", "hist_above")


def _hist_fields(d: Optional[Column],
                 spec: Optional[Tuple[float, float, int]]) -> list:
    """Fixed-bin histogram state fields (all NULL when unconfigured).

    Bin arithmetic is identical to :func:`operators.histogram.histogram`
    — ``least(floor((x - lo) * bins / (hi - lo)), bins - 1)``, last bin
    right-closed — with the edges FROZEN by the caller instead of
    derived per scan, which is what makes the count arrays add across
    partials.  In-range non-NaN values land in ``hist``; values outside
    [lo, hi] are counted in ``hist_below``/``hist_above`` (loud drift
    signal, not silent clamping).
    """
    if d is None or spec is None:
        return [F.lit(None).cast("double").alias("hist_lo"),
                F.lit(None).cast("double").alias("hist_hi"),
                F.lit(None).cast("array<bigint>").alias("hist"),
                F.lit(None).cast("long").alias("hist_below"),
                F.lit(None).cast("long").alias("hist_above")]
    lo, hi, bins = spec
    finite = d.isNotNull() & ~F.isnan(d)
    bin_id = F.least(F.floor((d - F.lit(lo)) * float(bins)
                             / (F.lit(hi) - F.lit(lo))),
                     F.lit(bins - 1).cast("long"))
    in_range = finite & (d >= F.lit(lo)) & (d <= F.lit(hi))
    counts = F.array(*[
        F.coalesce(F.sum(F.when(in_range & (bin_id == i), 1)
                         .otherwise(0)).cast("long"),
                   F.lit(0).cast("long"))
        for i in range(bins)])
    below = F.coalesce(F.sum(F.when(finite & (d < F.lit(lo)), 1)
                             .otherwise(0)).cast("long"),
                       F.lit(0).cast("long"))
    above = F.coalesce(F.sum(F.when(finite & (d > F.lit(hi)), 1)
                             .otherwise(0)).cast("long"),
                       F.lit(0).cast("long"))
    return [F.lit(float(lo)).alias("hist_lo"),
            F.lit(float(hi)).alias("hist_hi"),
            counts.alias("hist"),
            below.alias("hist_below"), above.alias("hist_above")]


def _state_struct(name: str, cls: str, num_view: Optional[Column],
                  hist_spec: Optional[Tuple[float, float, int]] = None
                  ) -> Column:
    """Mergeable per-column state as one struct aggregate.

    ``num_view`` is the double-valued view of the column when one exists
    (numeric cast, or epoch seconds for date/timestamp — built by
    :func:`partial_profile`, which knows the dtype); None for
    categorical columns.
    """
    c = F.col(name)
    n = F.count(F.lit(1)).cast("long")
    cnt = F.count(c).cast("long")
    zero_l = F.lit(0).cast("long")
    if num_view is not None:
        d = num_view
        mean = F.coalesce(F.avg(d), F.lit(0.0))
        # M2 = var_samp * (count - 1); var_samp is NULL for count < 2
        m2 = F.coalesce(F.var_samp(d) * (F.count(d) - 1).cast("double"),
                        F.lit(0.0))
        sm = F.coalesce(F.sum(d), F.lit(0.0))
        mn, mx = F.min(d), F.max(d)
        # coalesced like mean/m2/sum: an EMPTY partition must store 0,
        # not NULL (a NULL would poison the additive merge's sum)
        zeros = F.coalesce(
            F.sum(F.when(d == 0, 1).otherwise(0)).cast("long"), zero_l)
        inf = F.coalesce(
            F.sum(F.when(d.isin(float("inf"), float("-inf")), 1)
                  .otherwise(0)).cast("long"), zero_l)
    else:
        d = None
        mean, m2, sm = F.lit(0.0), F.lit(0.0), F.lit(0.0)
        mn = F.min(F.lit(None).cast("double"))
        mx = F.max(F.lit(None).cast("double"))
        zeros = F.coalesce(F.sum(zero_l), zero_l)
        inf = F.coalesce(F.sum(zero_l), zero_l)
    # HLL supports integral/string/binary inputs — cast through string
    # (exact for ints/strings; doubles collapse only on equal repr)
    hll = F.hll_sketch_agg(c.cast("string"))
    return F.struct(
        n.alias("n"), cnt.alias("count"), sm.alias("sum"),
        mean.alias("mean"), m2.alias("m2"),
        mn.alias("min_num"), mx.alias("max_num"),
        zeros.alias("n_zeros"), inf.alias("n_infinite"),
        hll.alias("hll"), *_hist_fields(d, hist_spec))


def partial_profile(df: DataFrame,
                    cols: Optional[Sequence[str]] = None,
                    hist_edges: Optional[
                        Mapping[str, Tuple[float, float]]] = None,
                    hist_bins: int = 10) -> DataFrame:
    """One-scan mergeable state for each column: one output row per
    column, schema :data:`STATE_COLUMNS`.  Persist with plain
    ``df.write.parquet`` (the HLL sketch is a binary column).

    ``hist_edges`` maps column → (lo, hi) bin edges to additionally
    accumulate a ``hist_bins``-bin count array for that column (numeric
    or date/timestamp).  Every partial destined for one merge MUST use
    the same edges — freeze them from domain knowledge or from the first
    partial's min/max (:func:`hist_edges_from_state`); the merge fails
    loudly on drift.
    """
    from spark_df_profiling_spark.plans.wide_agg import _epoch_sql

    names = list(cols) if cols else df.columns
    classes = {f.name: S.dtype_class(f.dataType)
               for f in df.schema.fields if f.name in names}

    def num_view(c: str) -> Optional[Column]:
        if classes[c] in _NUMERIC:
            return F.col(c).cast("double")
        if classes[c] == S.DATE:
            # epoch seconds (dtype-adaptive: date / LTZ / NTZ) so date
            # min/max merge as plain doubles
            return F.expr(_epoch_sql(df, c))
        return None

    edges = dict(hist_edges or {})
    for c, (lo, hi) in edges.items():
        if c not in names:
            raise ValueError(f"hist_edges column not profiled: {c!r}")
        if num_view(c) is None:
            raise ValueError(
                f"hist_edges column {c!r} has no numeric view "
                f"(type_class {classes[c]})")
        if not float(hi) > float(lo):
            raise ValueError(
                f"hist_edges for {c!r} need hi > lo: ({lo}, {hi})")
    if hist_bins < 1:
        raise ValueError(f"hist_bins must be >= 1: {hist_bins}")

    def spec(c: str) -> Optional[Tuple[float, float, int]]:
        if c in edges:
            lo, hi = edges[c]
            return (float(lo), float(hi), hist_bins)
        return None

    aggs = [_state_struct(c, classes[c], num_view(c), spec(c))
            .alias(f"__s{i}")
            for i, c in enumerate(names)]
    one = df.agg(*aggs)
    stacked = one.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.lit(classes[c]).alias("type_class"),
                 F.col(f"__s{i}").alias("s"))
        for i, c in enumerate(names)])).alias("e"))
    return stacked.select("e.column", "e.type_class", "e.s.*")


def merge_partials(*parts: DataFrame) -> DataFrame:
    """Merge any number of partial-state frames into one (same schema).

    Additive stats sum; min/max combine; (count, mean, M2) triples fold
    with Chan's parallel formula inside an ``aggregate`` HOF (the list
    being folded has one element per PARTIAL, not per row — O(#partials)
    per column); HLL sketches union; fixed-bin histogram count arrays
    sum element-wise.  Deterministic given the same set of partials (the
    fold is order-sensitive only at the ulp level).

    Loud-failure guards (the long-lived state-store philosophy of
    ``test_testdata_canary``): a column whose ``type_class`` drifts
    between stored partials (schema evolution, e.g. int → string), or
    whose histogram edges/configuration differ, raises at execution
    instead of silently merging into inconsistent state.
    """
    if not parts:
        raise ValueError("need at least one partial")
    allp = reduce(lambda a, b: a.unionByName(b), parts)
    triples = F.aggregate(
        F.collect_list(F.struct("count", "mean", "m2")),
        F.struct(F.lit(0).cast("long").alias("count"),
                 F.lit(0.0).alias("mean"), F.lit(0.0).alias("m2")),
        lambda acc, x: F.struct(
            (acc["count"] + x["count"]).alias("count"),
            F.when(acc["count"] + x["count"] == 0, F.lit(0.0))
            .otherwise((acc["count"] * acc["mean"]
                        + x["count"] * x["mean"])
                       / (acc["count"] + x["count"])).alias("mean"),
            F.when(acc["count"] + x["count"] == 0, F.lit(0.0))
            .otherwise(acc["m2"] + x["m2"]
                       + F.pow(x["mean"] - acc["mean"], 2)
                       * acc["count"] * x["count"]
                       / (acc["count"] + x["count"])).alias("m2")))
    # "one distinct value" is tested as min == max (both ignore NULLs,
    # as count_distinct does), not with count_distinct: several DISTINCT
    # aggregates plan an Expand whose projections follow the hash order
    # of fresh expression ids, so every merge would generate new code
    # and compile its classes again.
    def one_value(c):  # count_distinct(c) == 1, or NULL if all NULL
        return F.min(c) == F.max(c)

    def at_most_one_value(c):  # count_distinct(c) <= 1
        return F.coalesce(one_value(c), F.lit(True))

    # type_class consistency: asserted INSIDE the expression that
    # produces the output type_class, so column pruning can never drop
    # the check (assert_true yields NULL on pass, raises on fail; an
    # all-NULL type_class gives NULL and raises too)
    tc_ok = F.assert_true(
        one_value("type_class"),
        F.concat(F.lit("type_class drift across partials for column "),
                 F.col("column"), F.lit(" — refusing to merge")))
    tc = F.when(tc_ok.isNull(), F.max("type_class")).alias("type_class")
    # histogram consistency: identical frozen edges, all-or-none
    # coverage (a partial built without hist_edges cannot silently
    # vanish into a merged histogram), and one bin COUNT — same edges
    # with different hist_bins would zip_with NULL-padded arrays into
    # NULL bins otherwise (min/max ignore the NULL sizes of hist-less
    # partials, so this composes with all-or-none)
    hist_ok = F.assert_true(
        at_most_one_value("hist_lo") & at_most_one_value("hist_hi")
        & at_most_one_value(F.size("hist"))
        & ((F.count("hist") == 0)
           | (F.count("hist") == F.count(F.lit(1)))),
        F.concat(F.lit("histogram edge/config drift across partials "
                       "for column "), F.col("column"),
                 F.lit(" — refusing to merge")))
    hists = F.collect_list("hist")
    hist_sum = F.when(
        hist_ok.isNotNull() | (F.size(hists) == 0),
        F.lit(None).cast("array<bigint>")).otherwise(
        F.aggregate(F.slice(hists, 2, F.size(hists) - 1),
                    F.element_at(hists, 1),
                    lambda acc, x: F.zip_with(acc, x,
                                              lambda a, b: a + b)))
    return (allp.groupBy("column")
            .agg(tc,
                 F.sum("n").alias("n"),
                 F.sum("count").alias("count"),
                 F.sum("sum").alias("sum"),
                 triples.alias("__t"),
                 F.min("min_num").alias("min_num"),
                 F.max("max_num").alias("max_num"),
                 F.sum("n_zeros").alias("n_zeros"),
                 F.sum("n_infinite").alias("n_infinite"),
                 F.hll_union_agg("hll").alias("hll"),
                 F.min("hist_lo").alias("hist_lo"),
                 F.min("hist_hi").alias("hist_hi"),
                 hist_sum.alias("hist"),
                 F.sum("hist_below").alias("hist_below"),
                 F.sum("hist_above").alias("hist_above"))
            .select("column", "type_class", "n", "count", "sum",
                    F.col("__t.mean").alias("mean"),
                    F.col("__t.m2").alias("m2"),
                    "min_num", "max_num", "n_zeros", "n_infinite", "hll",
                    "hist_lo", "hist_hi", "hist",
                    "hist_below", "hist_above"))


def finalize(partials: DataFrame) -> DataFrame:
    """Derive final statistics from (merged) state: one row per column
    with n, count, n_missing/p_missing, mean, std (sample), min/max,
    zeros/infinite counts, and the HLL distinct estimate."""
    cnt = F.col("count")
    numeric = F.col("type_class").isin(*_NUMERIC)
    return partials.select(
        "column", "type_class", "n", "count",
        (F.col("n") - cnt).alias("n_missing"),
        F.when(F.col("n") > 0, (F.col("n") - cnt) / F.col("n"))
        .otherwise(F.lit(None)).alias("p_missing"),
        F.when(numeric & (cnt > 0), F.col("mean"))
        .otherwise(F.lit(None)).alias("mean"),
        F.when(numeric & (cnt > 1), F.sqrt(F.col("m2") / (cnt - 1)))
        .otherwise(F.lit(None)).alias("std"),
        F.when(numeric & (cnt > 0), F.col("sum"))
        .otherwise(F.lit(None)).alias("sum"),
        "min_num", "max_num", "n_zeros", "n_infinite",
        F.hll_sketch_estimate("hll").cast("long")
        .alias("distinct_estimate"),
        "hist_lo", "hist_hi", "hist", "hist_below", "hist_above")


def quantiles_from_state(state: DataFrame,
                         probs: Sequence[float] = (0.05, 0.25, 0.5,
                                                   0.75, 0.95)
                         ) -> DataFrame:
    """Quantile ESTIMATES from merged fixed-bin histogram state.

    The missing piece of the incremental workflow: exact quantiles are
    not mergeable (no KLL state in Spark SQL), but the fixed-bin count
    arrays merge EXACTLY, so a histogram-derived estimate is fully
    deterministic w.r.t. how the corpus was partitioned into partials —
    merge order, partial count, and daily-append history cannot change
    it.  Estimation is the classic grouped-data interpolation: walk the
    cumulative counts to the bin where mass-rank ``p * n_in`` crosses,
    then interpolate linearly inside it.  Error is bounded by ONE BIN
    WIDTH (choose ``hist_bins`` accordingly: 100 bins = 1% of range).

    Returns one row per (column, prob): ``(column, prob,
    quantile_est)``; columns without a configured histogram are
    omitted.  Mass outside the frozen edges (``hist_below`` /
    ``hist_above``) is treated as sitting AT the edge — with drifted
    edges the estimate degrades toward a clamp, loudly visible via the
    below/above counters the merge already carries.

    O(#columns × #probs) work on state rows — never touches data.
    """
    probs = [float(p) for p in probs]
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"probs must be in [0, 1]: {p}")
    if not probs:
        raise ValueError("need at least one prob")
    h = state.where(F.col("hist").isNotNull())
    # running cumulative of in-range bin counts (B <= ~1000 so the
    # O(B^2) array_append fold is trivia on state rows)
    cum = F.expr(
        "aggregate(hist, cast(array() as array<bigint>), (acc, x) -> "
        "array_append(acc, coalesce(try_element_at(acc, -1), 0L) + x))")
    base = h.select(
        "column", "hist_lo", "hist_hi", "hist", cum.alias("__cum"),
        F.aggregate("hist", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("__nin"),
        F.coalesce(F.col("hist_below"), F.lit(0).cast("long"))
        .alias("__nb"),
        F.coalesce(F.col("hist_above"), F.lit(0).cast("long"))
        .alias("__na"),
        F.explode(F.array(*[F.lit(p) for p in probs])).alias("prob"))
    binw = (F.col("hist_hi") - F.col("hist_lo")) \
        / F.size("hist").cast("double")
    total = (F.col("__nb") + F.col("__nin") + F.col("__na")) \
        .cast("double")
    # mass rank in [1, total]; below-range mass sits AT lo, above AT hi
    target = F.greatest(F.col("prob") * total, F.lit(1.0)) \
        - F.col("__nb").cast("double")
    idx = F.array_position(
        F.transform("__cum",
                    lambda c: c.cast("double") >= target), F.lit(True))
    # element_at index 0 is structurally invalid (even for try_): guard
    cum_before = F.coalesce(
        F.when(idx > 1, F.try_element_at("__cum", (idx - 1).cast("int"))),
        F.lit(0).cast("long"))
    in_bin = F.when(
        idx > 0, F.try_element_at("hist", idx.cast("int"))).cast("double")
    frac = F.when(in_bin > 0, (target - cum_before.cast("double"))
                  / in_bin).otherwise(F.lit(0.0))
    # idx = 0 (no crossing): the rank lives in the above-range mass
    est = F.when(idx == 0, F.col("hist_hi")).otherwise(
        F.col("hist_lo") + binw * ((idx - 1).cast("double") + frac))
    clamped = F.least(F.greatest(est, F.col("hist_lo")),
                      F.col("hist_hi"))
    return (base.select(
        "column", "prob",
        F.when(total > 0, clamped)
        .otherwise(F.lit(None).cast("double")).alias("quantile_est"))
        .orderBy("column", "prob"))


def hist_edges_from_state(state: DataFrame) -> dict:
    """Freeze histogram edges from an existing state's min/max: returns
    ``{column: (min_num, max_num)}`` for every column with a numeric
    view — the day-2+ workflow (profile day 1 plain, freeze its range,
    pass as ``hist_edges`` for every later partial; day 1 is then
    re-profiled once with the same edges if its bins are wanted too).

    O(#columns) driver result — state, not data.
    """
    rows = (state.where(F.col("min_num").isNotNull()
                        & F.col("max_num").isNotNull()
                        & (F.col("max_num") > F.col("min_num")))
            .select("column", "min_num", "max_num").collect())
    return {r["column"]: (r["min_num"], r["max_num"]) for r in rows}


def corr_state(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Mergeable CORRELATION state over numeric columns — ONE row:
    ``n``, per-column means ``m__<col>``, per-pair centered co-moments
    ``c__<a>__<b>`` (i ≤ j, including the variances on the diagonal).
    Extends the incremental-profile system to the one multi-column
    statistic it lacked: a daily batch computes its own state (one
    scan), :func:`corr_merge` folds it into the stored one with Chan's
    parallel update, and :func:`corr_from_state` yields the full
    Pearson matrix — history is never rescanned.

    Listwise deletion (rows with ANY null among ``cols`` dropped)
    matches :func:`~spark_df_profiling_spark.operators.correlation.
    correlation_matrix` / the reference's ``df.na.drop(how='any')``
    semantics, so a single-batch state finalizes to the same matrix.

    Centered co-moments (``covar_pop·n``), NOT raw Σxy: raw-moment
    subtraction catastrophically cancels at 100 TB row counts; the
    centered merge is the numerically stable parallel-variance recipe.

    Plan: one wide map-side-combined aggregate — k means + k(k+1)/2
    covariances in a single scan.  State is one row regardless of data
    size.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns: {cols}")
    base = df.na.drop(how="any", subset=cols)
    n = F.count(F.lit(1))
    aggs = [n.alias("n")]
    for c in cols:
        aggs.append(F.avg(F.col(c)).alias(f"m__{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append((F.covar_pop(F.col(a), F.col(b))
                         * n.cast("double")).alias(f"c__{a}__{b}"))
    return base.agg(*aggs)


def corr_merge(sa: DataFrame, sb: DataFrame,
               cols: Sequence[str]) -> DataFrame:
    """Merge two :func:`corr_state` rows built over the SAME columns —
    Chan's parallel co-moment update, exact in infinite precision:
    ``C = C_a + C_b + δ_i·δ_j·n_a·n_b/n``.  Either side may be an
    empty-batch state (n=0) — it merges as the identity.  One-row ×
    one-row cross join: no data movement at all."""
    cols = list(cols)
    a = sa.select([F.col("n").alias("an")]
                  + [F.col(c).alias(f"a{c}") for c in sa.columns
                     if c != "n"])
    b = sb.select([F.col("n").alias("bn")]
                  + [F.col(c).alias(f"b{c}") for c in sb.columns
                     if c != "n"])
    j = a.crossJoin(F.broadcast(b))
    an, bn = F.col("an").cast("double"), F.col("bn").cast("double")
    nn = an + bn
    out = [(F.col("an") + F.col("bn")).alias("n")]
    for c in cols:
        am, bm = F.col(f"am__{c}"), F.col(f"bm__{c}")
        out.append(F.when(F.col("an") == 0, bm)
                   .when(F.col("bn") == 0, am)
                   .otherwise(am + (bm - am) * bn / nn)
                   .alias(f"m__{c}"))
    for i, x in enumerate(cols):
        for y in cols[i:]:
            ac, bc = F.col(f"ac__{x}__{y}"), F.col(f"bc__{x}__{y}")
            dx = F.col(f"bm__{x}") - F.col(f"am__{x}")
            dy = F.col(f"bm__{y}") - F.col(f"am__{y}")
            out.append(F.when(F.col("an") == 0, bc)
                       .when(F.col("bn") == 0, ac)
                       .otherwise(ac + bc + dx * dy * an * bn / nn)
                       .alias(f"c__{x}__{y}"))
    return j.select(*out)


def corr_from_state(state: DataFrame,
                    cols: Sequence[str]) -> DataFrame:
    """Pearson matrix rows ``(col_x, col_y, rho)`` (i < j) from a
    :func:`corr_state` / :func:`corr_merge` row; NULL rho when either
    side has zero variance (constant column — corr undefined, never an
    ANSI divide error).  One stack over the one-row state."""
    cols = list(cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    exprs = []
    for a, b in pairs:
        cab = F.col(f"c__{a}__{b}")
        caa, cbb = F.col(f"c__{a}__{a}"), F.col(f"c__{b}__{b}")
        rho = F.when((caa > 0) & (cbb > 0),
                     cab / F.sqrt(caa * cbb))
        exprs.append(F.struct(F.lit(a).alias("col_x"),
                              F.lit(b).alias("col_y"),
                              rho.alias("rho")))
    return (state.select(F.explode(F.array(*exprs)).alias("r"))
            .select("r.col_x", "r.col_y", "r.rho"))
