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
* quantiles — these states carry no quantile sketch (Spark SQL's
  ``kll_sketch_agg_*`` family could add one; it is not wired in), so
  :func:`quantiles_from_state` derives ESTIMATES from the merged
  fixed-bin histogram (linear interpolation within the crossing bin,
  error bounded by one bin width); callers needing exact quantiles run
  :func:`operators.profile.profile` over the window they care about.

Plan shape: ``partial_profile`` is one global aggregate over the
partition (the shuffle-free partial-agg shape of the main profile pass
1); writing it runs a map job plus the final job AQE plans after it.
``merge_partials``/``finalize`` run on #partials × #columns rows — state,
not data.

Every plan here is built from SQL text (one ``selectExpr``/``F.expr``
per projection, see ``plans/sqltext.py``): the states are wide
expressions, and as Column trees their py4j round trips cost more
driver time than a small batch's scan.
"""

from __future__ import annotations

from functools import reduce
from typing import Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_df_profiling_spark import schema as S
from spark_df_profiling_spark.plans.sqltext import dlit, ident, slit

_NUMERIC = (S.NUM_INT, S.NUM_FLOAT)

#: columns of the partial-state frame (one row per profiled column)
STATE_COLUMNS = ("column", "type_class", "n", "count", "sum",
                 "mean", "m2", "min_num", "max_num", "n_zeros",
                 "n_infinite", "hll", "hist_lo", "hist_hi", "hist",
                 "hist_below", "hist_above")


_INF = "double('Infinity'), double('-Infinity')"


def _sum_if(cond: str) -> str:
    """Count of rows meeting ``cond``, 0 (not NULL) over no rows: an
    EMPTY partition must store 0, or the additive merge's sum is
    poisoned."""
    return (f"coalesce(CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) "
            "AS BIGINT), 0L)")


def _hist_fields(d: Optional[str],
                 spec: Optional[Tuple[float, float, int]]) -> list[str]:
    """Fixed-bin histogram state fields (all NULL when unconfigured),
    as SQL ``expr AS name`` items over the numeric view ``d``.

    Bin arithmetic is identical to :func:`operators.histogram.histogram`
    — ``least(floor((x - lo) * bins / (hi - lo)), bins - 1)``, last bin
    right-closed — with the edges FROZEN by the caller instead of
    derived per scan, which is what makes the count arrays add across
    partials.  In-range non-NaN values land in ``hist``; values outside
    [lo, hi] are counted in ``hist_below``/``hist_above`` (loud drift
    signal, not silent clamping).
    """
    if d is None or spec is None:
        return ["CAST(NULL AS DOUBLE) AS hist_lo",
                "CAST(NULL AS DOUBLE) AS hist_hi",
                "CAST(NULL AS ARRAY<BIGINT>) AS hist",
                "CAST(NULL AS BIGINT) AS hist_below",
                "CAST(NULL AS BIGINT) AS hist_above"]
    lo, hi, bins = spec
    lo_s, hi_s = dlit(lo), dlit(hi)
    finite = f"{d} IS NOT NULL AND NOT isnan({d})"
    bin_id = (f"least(floor(({d} - {lo_s}) * {dlit(float(bins))} "
              f"/ ({hi_s} - {lo_s})), {bins - 1}L)")
    in_range = f"{finite} AND {d} >= {lo_s} AND {d} <= {hi_s}"
    counts = ", ".join(_sum_if(f"{in_range} AND {bin_id} = {i}")
                       for i in range(bins))
    return [f"{lo_s} AS hist_lo", f"{hi_s} AS hist_hi",
            f"array({counts}) AS hist",
            f"{_sum_if(f'{finite} AND {d} < {lo_s}')} AS hist_below",
            f"{_sum_if(f'{finite} AND {d} > {hi_s}')} AS hist_above"]


def _state_struct(name: str, num_view: Optional[str],
                  hist_spec: Optional[Tuple[float, float, int]] = None
                  ) -> str:
    """Mergeable per-column state as one struct aggregate (SQL text).

    ``num_view`` is the SQL of the double-valued view of the column when
    one exists (numeric cast, or epoch seconds for date/timestamp —
    built by :func:`partial_profile`, which knows the dtype); None for
    categorical columns.
    """
    c = ident(name)
    if num_view is not None:
        d = num_view
        fields = [
            f"coalesce(sum({d}), 0.0D) AS sum",
            f"coalesce(avg({d}), 0.0D) AS mean",
            # M2 = var_samp * (count - 1); var_samp is NULL for count < 2
            f"coalesce(var_samp({d}) * CAST(count({d}) - 1 AS DOUBLE), "
            "0.0D) AS m2",
            f"min({d}) AS min_num", f"max({d}) AS max_num",
            f"{_sum_if(f'{d} = 0')} AS n_zeros",
            f"{_sum_if(f'{d} IN ({_INF})')} AS n_infinite"]
    else:
        d = None
        fields = ["0.0D AS sum", "0.0D AS mean", "0.0D AS m2",
                  "min(CAST(NULL AS DOUBLE)) AS min_num",
                  "max(CAST(NULL AS DOUBLE)) AS max_num",
                  "coalesce(sum(0L), 0L) AS n_zeros",
                  "coalesce(sum(0L), 0L) AS n_infinite"]
    # HLL supports integral/string/binary inputs — cast through string
    # (exact for ints/strings; doubles collapse only on equal repr)
    return ("struct(CAST(count(1) AS BIGINT) AS n, "
            f"CAST(count({c}) AS BIGINT) AS `count`, "
            + ", ".join(fields)
            + f", hll_sketch_agg(CAST({c} AS STRING)) AS hll, "
            + ", ".join(_hist_fields(d, hist_spec)) + ")")


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

    def num_view(c: str) -> Optional[str]:
        if classes[c] in _NUMERIC:
            return f"CAST({ident(c)} AS DOUBLE)"
        if classes[c] == S.DATE:
            # epoch seconds (dtype-adaptive: date / LTZ / NTZ) so date
            # min/max merge as plain doubles
            return _epoch_sql(df, c)
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

    one = df.selectExpr(*[
        f"{_state_struct(c, num_view(c), spec(c))} AS __s{i}"
        for i, c in enumerate(names)])
    rows = ", ".join(
        f"struct({slit(c)} AS `column`, {slit(classes[c])} AS type_class, "
        f"__s{i} AS s)" for i, c in enumerate(names))
    return (one.selectExpr(f"explode(array({rows})) AS e")
            .selectExpr("e.`column`", "e.type_class", "e.s.*"))


# Chan's parallel (count, mean, M2) update, folded over the per-partial
# triples of one column
_TRIPLES = """aggregate(
    collect_list(struct(`count`, mean, m2)),
    struct(0L AS `count`, 0.0D AS mean, 0.0D AS m2),
    (acc, x) -> struct(
        acc.`count` + x.`count` AS `count`,
        CASE WHEN acc.`count` + x.`count` = 0 THEN 0.0D
             ELSE (acc.`count` * acc.mean + x.`count` * x.mean)
                  / (acc.`count` + x.`count`) END AS mean,
        CASE WHEN acc.`count` + x.`count` = 0 THEN 0.0D
             ELSE acc.m2 + x.m2 + pow(x.mean - acc.mean, 2)
                  * acc.`count` * x.`count`
                  / (acc.`count` + x.`count`) END AS m2))"""


def _refuse(cond: str, what: str) -> str:
    """``assert_true`` naming the column: NULL on pass, raises on fail
    (an all-NULL ``cond`` raises too)."""
    return (f"assert_true({cond}, concat({slit(what)}, `column`, "
            f"{slit(' — refusing to merge')}))")


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
    # "one distinct value" is tested as min == max (both ignore NULLs,
    # as count_distinct does), not with count_distinct: several DISTINCT
    # aggregates plan an Expand whose projections follow the hash order
    # of fresh expression ids, so every merge would generate new code
    # and compile its classes again.
    def at_most_one_value(c):  # count_distinct(c) <= 1
        return f"coalesce(min({c}) = max({c}), true)"

    # type_class consistency: asserted INSIDE the expression that
    # produces the output type_class, so column pruning can never drop
    # the check
    tc_ok = _refuse("min(type_class) = max(type_class)",
                    "type_class drift across partials for column ")
    # histogram consistency: identical frozen edges, all-or-none
    # coverage (a partial built without hist_edges cannot silently
    # vanish into a merged histogram), and one bin COUNT — same edges
    # with different hist_bins would zip_with NULL-padded arrays into
    # NULL bins otherwise (min/max ignore the NULL sizes of hist-less
    # partials, so this composes with all-or-none)
    hist_ok = _refuse(
        f"{at_most_one_value('hist_lo')} AND {at_most_one_value('hist_hi')}"
        f" AND {at_most_one_value('size(hist)')}"
        " AND (count(hist) = 0 OR count(hist) = count(1))",
        "histogram edge/config drift across partials for column ")
    hists = "collect_list(hist)"
    hist_sum = (
        f"CASE WHEN {hist_ok} IS NOT NULL OR size({hists}) = 0 "
        "THEN CAST(NULL AS ARRAY<BIGINT>) "
        f"ELSE aggregate(slice({hists}, 2, size({hists}) - 1), "
        f"element_at({hists}, 1), "
        "(acc, x) -> zip_with(acc, x, (a, b) -> a + b)) END")
    aggs = [f"CASE WHEN {tc_ok} IS NULL THEN max(type_class) END "
            "AS type_class",
            "sum(n) AS n", "sum(`count`) AS `count`", "sum(sum) AS sum",
            f"{_TRIPLES} AS __t",
            "min(min_num) AS min_num", "max(max_num) AS max_num",
            "sum(n_zeros) AS n_zeros", "sum(n_infinite) AS n_infinite",
            "hll_union_agg(hll) AS hll",
            "min(hist_lo) AS hist_lo", "min(hist_hi) AS hist_hi",
            f"{hist_sum} AS hist",
            "sum(hist_below) AS hist_below",
            "sum(hist_above) AS hist_above"]
    return (allp.groupBy("column").agg(*map(F.expr, aggs))
            .selectExpr("`column`", "type_class", "n", "`count`", "sum",
                        "__t.mean AS mean", "__t.m2 AS m2",
                        "min_num", "max_num", "n_zeros", "n_infinite",
                        "hll", "hist_lo", "hist_hi", "hist",
                        "hist_below", "hist_above"))


def finalize(partials: DataFrame) -> DataFrame:
    """Derive final statistics from (merged) state: one row per column
    with n, count, n_missing/p_missing, mean, std (sample), min/max,
    zeros/infinite counts, and the HLL distinct estimate."""
    numeric = f"type_class IN ({', '.join(map(slit, _NUMERIC))})"
    return partials.selectExpr(
        "`column`", "type_class", "n", "`count`",
        "n - `count` AS n_missing",
        "CASE WHEN n > 0 THEN (n - `count`) / n ELSE NULL END "
        "AS p_missing",
        f"CASE WHEN {numeric} AND `count` > 0 THEN mean ELSE NULL END "
        "AS mean",
        f"CASE WHEN {numeric} AND `count` > 1 "
        "THEN sqrt(m2 / (`count` - 1)) ELSE NULL END AS std",
        f"CASE WHEN {numeric} AND `count` > 0 THEN sum ELSE NULL END "
        "AS sum",
        "min_num", "max_num", "n_zeros", "n_infinite",
        "CAST(hll_sketch_estimate(hll) AS BIGINT) AS distinct_estimate",
        "hist_lo", "hist_hi", "hist", "hist_below", "hist_above")


def quantiles_from_state(state: DataFrame,
                         probs: Sequence[float] = (0.05, 0.25, 0.5,
                                                   0.75, 0.95)
                         ) -> DataFrame:
    """Quantile ESTIMATES from merged fixed-bin histogram state.

    The missing piece of the incremental workflow: the states hold no
    quantile sketch (see the module docstring), but the fixed-bin count
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
