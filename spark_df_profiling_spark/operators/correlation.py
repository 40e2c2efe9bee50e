"""Pearson correlation matrix + CORR rejection (SURVEY §2.7 R1/R2).

The reference computes the matrix with one ``df.corr(x, y)`` driver call per
pair — O(k^2) Spark jobs (``base.py::describe>>corr_matrix``).  Here the
pairs are declarative covar/stddev aggregates in their own ``pair`` chunks,
one job per 40 pairs (``plans.wide_agg._CHUNK_CAP``), up to
``_DECLARATIVE_MAX_COLS`` columns; wider matrices are ONE job via
``pyspark.ml.stat.Correlation`` over an assembled vector column.

Reference semantics preserved exactly:
* listwise deletion — ``na.drop(how="any")`` across ALL numeric columns
  before correlating (one null column shrinks every pairwise sample);
* greedy lower-triangle rejection in column order: for column x, if any
  *earlier surviving* column y has corr(x, y) >= threshold (SIGNED — an
  anti-correlated pair is NOT rejected), x is replaced by
  ``('CORR', y, rho)``;
* ``get_rejected_variables(threshold)`` filters on the recorded rho.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_df_profiling_spark.session import wide_codegen


def correlation_exprs(df: DataFrame, num_cols: list[str]) -> list[str]:
    """Pearson matrix as ``pair``-class aggregate SQL expressions.

    Pearson corr is a declarative aggregate, so the k·(k-1)/2
    upper-triangle correlations run as wide aggregates like every other
    statistic: one job per ``pair`` chunk of up to 40 pairs (they hold
    ~9 buffer slots each, too many to share a light chunk), where the
    reference spends O(k^2) separate Spark jobs
    (``base.py::describe>>corr_matrix``).  SQL-string form for the same
    reason as ``build_pass1_exprs`` (py4j round-trip elimination);
    Catalyst dedups the repeated stddev/covar aggregate children, so the
    textual repetition costs nothing physically.

    Listwise deletion (reference semantics: ``na.drop(how='any')`` across
    ALL numeric columns) is emulated by null-masking each operand with
    "every numeric column non-null", which Catalyst folds into the same
    scan.
    """
    allnn = " AND ".join(
        f"({f'`{c}`'} IS NOT NULL AND NOT isnan(CAST(`{c}` AS DOUBLE)))"
        for c in num_cols)
    out: list[str] = []
    for i, x in enumerate(num_cols):
        for j in range(i + 1, len(num_cols)):
            y = num_cols[j]
            mx = f"CASE WHEN {allnn} THEN CAST(`{x}` AS DOUBLE) END"
            my = f"CASE WHEN {allnn} THEN CAST(`{y}` AS DOUBLE) END"
            # NOT corr(): under ANSI mode (Spark 4 default) corr RAISES
            # DIVIDE_BY_ZERO when either side has zero variance (e.g. a
            # column constant after masking).  covar/stddev with a
            # CASE-guard short-circuits the division instead, yielding
            # NULL — which greedy_rejection already treats as "no corr".
            denom = f"(stddev_samp({mx}) * stddev_samp({my}))"
            out.append(
                f"CASE WHEN {denom} > 0 THEN "
                f"covar_samp({mx}, {my}) / {denom} END "
                f"AS `__corr_{i}_{j}`")
    return out


def decode_correlation_row(row: dict, num_cols: list[str]
                           ) -> dict[tuple[str, str], float]:
    """Turn the pass-1 result row back into a symmetric {pair: rho} dict."""
    out: dict[tuple[str, str], float] = {}
    for i, x in enumerate(num_cols):
        out[(x, x)] = 1.0
        for j in range(i + 1, len(num_cols)):
            y = num_cols[j]
            v = row.get(f"__corr_{i}_{j}")
            rho = float(v) if v is not None else float("nan")
            out[(x, y)] = rho
            out[(y, x)] = rho
    return out


# Column count up to which the standalone matrix runs as declarative
# covar/stddev aggregate expressions instead of pyspark.ml.  16 columns
# = 120 pair expressions = 3 concurrent codegen'd chunks (make_chunks) —
# a few columnar scans with zero row boxing beat ml.stat's
# RowMatrix path (VectorAssembler projection + per-row ml.Vector
# allocation + an RDD treeAggregate outside whole-stage codegen) at any
# scale; beyond ~16 columns the O(k^2) expression count grows past what
# a few chunks absorb and the single-pass ml.stat job wins.
_DECLARATIVE_MAX_COLS = 16


def correlation_matrix(df: DataFrame,
                       num_cols: list[str]) -> dict[tuple[str, str], float]:
    """Full Pearson matrix over num_cols.

    Returns {(col_x, col_y): rho}.  Empty dict when fewer than 2 columns
    or no complete rows survive listwise deletion.

    Up to ``_DECLARATIVE_MAX_COLS`` columns the matrix is computed with
    the same declarative :func:`correlation_exprs` aggregates as
    profile()'s pass 1 (whole-stage codegen, columnar parquet read, no
    per-row vector allocation): one job per 40-pair chunk plus one for
    the complete-row count; beyond that, one ``pyspark.ml.stat`` job.  Both paths implement textbook Pearson over listwise-deleted
    rows — values agree to float rounding (the oracle's 5-significant-
    digit normalization absorbs the summation-order difference).
    """
    if len(num_cols) < 2:
        return {}
    # Positional rename to safe internal names (same posture as
    # describe()'s __c{i}): caller-supplied names are matched against
    # df.columns ONCE, by position — never run through name resolution
    # (df["a`b"] raises INVALID_ATTRIBUTE_NAME_SYNTAX) and never
    # interpolated into SQL strings (where an embedded backtick would
    # break the generated expressions).  Names match case-insensitively
    # unless spark.sql.caseSensitive is on, as Spark resolves them.
    # First occurrence wins on duplicate names, matching what
    # unambiguous resolution would pick.
    case_sensitive = df.sparkSession.conf.get(
        "spark.sql.caseSensitive", "false").lower() == "true"
    fold = (lambda c: c) if case_sensitive else str.lower
    pos: dict[str, int] = {}
    for i, c in enumerate(df.columns):
        pos.setdefault(fold(c), i)
    missing = [c for c in num_cols if fold(c) not in pos]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    safe_all = df.toDF(*[f"__x{i}" for i in range(len(df.columns))])
    safe = [f"__p{j}" for j in range(len(num_cols))]
    sel = safe_all.select(
        *[safe_all[f"__x{pos[fold(c)]}"].cast("double").alias(s)
          for c, s in zip(num_cols, safe)])
    if len(num_cols) <= _DECLARATIVE_MAX_COLS:
        from spark_df_profiling_spark.plans.wide_agg import run_chunked_agg
        # completeness guard: the ml path returns {} when listwise
        # deletion leaves nothing (Correlation.corr raises on empty
        # input) — replicate that contract explicitly
        allnn = " AND ".join(
            f"(`{s}` IS NOT NULL AND NOT isnan(CAST(`{s}` AS DOUBLE)))"
            for s in safe)
        exprs = {"pair": correlation_exprs(sel, safe),
                 "light": [f"count(CASE WHEN {allnn} THEN 1 END) "
                           f"AS `__n_complete`"]}
        # The pair aggregates hold ~9 buffer slots each, so even the
        # 8-column matrix (28 pairs ≈ 250 slots) exceeds the default
        # codegen.maxFields=100 (see session.wide_codegen).
        with wide_codegen(df.sparkSession):
            row = run_chunked_agg(sel, exprs)
        if not int(row.get("__n_complete") or 0):
            return {}
        # decode_correlation_row keys pairs by POSITION (__corr_{i}_{j});
        # passing the original names restores the caller's naming
        return decode_correlation_row(row, num_cols)
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    clean = sel.na.drop("any")
    assembler = VectorAssembler(inputCols=safe, outputCol="__features")
    vec = assembler.transform(clean).select("__features")
    try:
        mat = Correlation.corr(vec, "__features", "pearson").head()[0]
    except Exception:
        return {}
    arr = mat.toArray()
    out: dict[tuple[str, str], float] = {}
    for i, x in enumerate(num_cols):
        for j, y in enumerate(num_cols):
            v = float(arr[i][j])
            out[(x, y)] = v if not math.isnan(v) else float("nan")
    return out


def greedy_rejection(num_cols: list[str],
                     corr: dict[tuple[str, str], float],
                     threshold: float) -> dict[str, tuple[str, float]]:
    """Reference's greedy lower-triangle CORR rejection.

    Iterates columns in order; x is rejected by the first earlier SURVIVING
    column y with corr(x, y) >= threshold.  Returns
    {rejected_col: (kept_col, rho)}.
    """
    rejected: dict[str, tuple[str, float]] = {}
    survivors: list[str] = []
    for x in num_cols:
        hit = None
        for y in survivors:
            rho = corr.get((x, y))
            if rho is not None and not math.isnan(rho) and rho >= threshold:
                hit = (y, rho)
                break
        if hit is None:
            survivors.append(x)
        else:
            rejected[x] = hit
    return rejected


def categorical_association(df: DataFrame, col_a: str, col_b: str
                            ) -> DataFrame:
    """Association between two categorical columns — ONE row:
    ``(n, r_levels, c_levels, dof, chi2, cramers_v, mutual_info)``.
    The categorical counterpart of the Pearson matrix: chi-squared
    independence, Cramér's V (chi2 normalized to [0,1]) and mutual
    information in nats — the feature-redundancy / target-leakage
    screen run before training on categorical features.

    Rows where either column is NULL are dropped (association with
    missingness is a different question — profile ``n_missing`` for
    that).

    Scale design: ONE groupBy on the (a, b) pair (map-side combined —
    the only row-scale shuffle); margins derive from re-aggregating the
    #cells-sized joint frame and join back as broadcasts.  Zero-count
    cells never materialize: their chi2 mass is added in closed form
    (``Σ_all e = n`` so ``Σ_{o=0} e = n − Σ_obs e``), and they
    contribute exactly 0 to MI.
    """
    a, b = F.col(col_a), F.col(col_b)
    joint = (df.where(a.isNotNull() & b.isNotNull())
             .groupBy(a.alias("__a"), b.alias("__b"))
             .agg(F.count(F.lit(1)).alias("__o")))
    ra = joint.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    cb = joint.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    tot = joint.agg(F.sum("__o").alias("__n"),
                    F.count_distinct("__a").alias("__r"),
                    F.count_distinct("__b").alias("__c"))
    cells = (joint.join(F.broadcast(ra), "__a")
             .join(F.broadcast(cb), "__b")
             .crossJoin(F.broadcast(tot)))
    o = F.col("__o").cast("double")
    e = (F.col("__ra").cast("double") * F.col("__cb")
         / F.col("__n"))
    n = F.col("__n").cast("double")
    agg = cells.agg(
        F.first("__n").alias("n"),
        F.first("__r").alias("r_levels"),
        F.first("__c").alias("c_levels"),
        F.sum((o - e) * (o - e) / e).alias("__chi_obs"),
        F.sum(e).alias("__e_obs"),
        # margins cast to double BEFORE multiplying: long*long margin
        # products overflow (and ANSI-raise) at ~3e9 rows per side
        F.sum((o / n) * F.log(o * n / (F.col("__ra").cast("double")
                                       * F.col("__cb").cast("double"))))
        .alias("mutual_info"),
        F.first(n).alias("__nd"))
    # fp clamp: on a table where every cell is observed, Σe_obs can
    # exceed n by a few ulps, driving chi2 a hair negative and the
    # cramers_v sqrt to NaN — this function's contract is NULL (not
    # NaN, not an error) for degenerate tables, so pin chi2 at 0
    chi2 = F.greatest(
        F.col("__chi_obs") + (F.col("__nd") - F.col("__e_obs")),
        F.lit(0.0))
    min_rc = F.least(F.col("r_levels"), F.col("c_levels"))
    return agg.select(
        "n", "r_levels", "c_levels",
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).alias("dof"),
        chi2.alias("chi2"),
        # 1x1 tables have zero dof: V is undefined, emit NULL not a
        # division error (ANSI mode)
        F.when(min_rc > 1,
               F.sqrt(chi2 / (F.col("__nd") * (min_rc - 1).cast("double"))))
        .alias("cramers_v"),
        "mutual_info")


def fd_strength(df: DataFrame, det_cols: "str | list[str]",
                dep_col: str) -> DataFrame:
    """Functional-dependency strength ``det_cols → dep_col`` — ONE row
    ``(n, n_groups, n_violating, strength, is_exact)``.  ``strength``
    is the fraction of rows consistent with the dependency
    (``Σ_g max_v count(g, v) / n`` — the complement of the g3 error
    measure): 1.0 means every determinant value maps to one dependent
    value (a real FD — a denormalization, a derivable column, a
    candidate for dropping before training); 0.9 means 10% of rows
    violate it (usually dirty data worth profiling).

    Rows with NULL in any determinant or the dependent are excluded
    (SQL grouping would treat NULL as a value; FD semantics over
    missing data are a different question).

    Plan: ONE map-side-combined groupBy on (det..., dep) — the only
    row-scale shuffle — then a second tiny aggregate over the distinct
    (det, dep) frame.  A hot determinant value combines map-side; no
    windows, no driver collect.
    """
    dets = [det_cols] if isinstance(det_cols, str) else list(det_cols)
    base = df.dropna(subset=dets + [dep_col])
    pairs = (base.groupBy(*dets, dep_col)
             .agg(F.count(F.lit(1)).alias("__c")))
    per_det = (pairs.groupBy(*dets)
               .agg(F.max("__c").alias("__mx"),
                    F.sum("__c").alias("__tot"),
                    F.count(F.lit(1)).alias("__nd")))
    return per_det.agg(
        F.sum("__tot").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0)).cast("long")
        .alias("n_violating"),
        (F.sum("__mx").cast("double")
         / F.sum("__tot").cast("double")).alias("strength"),
        (F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0)) == 0)
        .alias("is_exact"))


def key_candidates(df: DataFrame, cols: "list[str] | None" = None,
                   max_combo: int = 2,
                   exact: bool = False) -> DataFrame:
    """Candidate-key screen: for every single column and every pair
    (up to ``max_combo``) of ``cols``, one row ``(combo, n,
    n_distinct, uniqueness, is_unique)`` — which column set identifies
    rows.  The profiler counterpart of a primary-key check, run before
    choosing dedup keys, join keys, or bucketing columns.

    Distinctness is counted over a null-safe content hash of the combo
    (NULL participates as a marked value — two all-NULL rows count as
    duplicates, matching dedup semantics, not SQL DISTINCT-tuple
    drops).

    ``exact=False`` (default): ALL combos screen in ONE aggregate via
    ``approx_count_distinct`` (HLL++, independent sketch buffers — no
    multi-distinct expand), rsd ~1.5%; ``is_unique`` is NULL in approx
    mode (a sketch cannot certify exact uniqueness — re-run the
    finalists with ``exact=True``).  ``exact=True``: exact
    ``count_distinct`` per combo — Catalyst expands the input
    #combos×, so keep the combo list short (the two-phase
    screen-then-verify is the 100 TB path).

    Plan: one wide aggregate either way; output is #combos rows.
    """
    import itertools

    from spark_df_profiling_spark.operators.dedup import content_hash
    if max_combo < 1 or max_combo > 2:
        raise ValueError(f"max_combo must be 1 or 2: {max_combo}")
    cols = list(cols or df.columns)
    combos = [(c,) for c in cols]
    if max_combo == 2:
        combos += list(itertools.combinations(cols, 2))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, combo in enumerate(combos):
        h = content_hash(list(combo))
        aggs.append((F.count_distinct(h) if exact
                     else F.approx_count_distinct(h))
                    .alias(f"__d{i}"))
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{'+'.join(c)}', __d{i}" for i, c in enumerate(combos))
    out = one.select(
        F.col("__n"),
        F.expr(f"stack({len(combos)}, {stack}) "
               f"as (combo, n_distinct)"))
    uniq = F.col("n_distinct").cast("double") / F.col("__n")
    return out.select(
        "combo", F.col("__n").cast("long").alias("n"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        uniq.alias("uniqueness"),
        (F.col("n_distinct") == F.col("__n")).alias("is_unique")
        if exact else F.lit(None).cast("boolean").alias("is_unique"))


def autocorr(df: DataFrame, ts_col: str, value_col: str,
             key_col: str, lag: int = 1) -> DataFrame:
    """Lag-k autocorrelation per key: Pearson correlation of
    ``(x_t, x_{t−lag})`` pairs in event-time order — the seasonality /
    momentum diagnostic for per-entity time series (is this metric
    sticky? does yesterday predict today?).

    Returns one row per key: ``(key, n_pairs, acf)``.  ``acf`` is NULL
    when a key has < 2 usable pairs or zero variance on either side
    (corr is undefined — never NaN).  Rows with NULL key/ts are
    dropped; a pair is usable only when BOTH endpoints are non-NULL.

    Scale: ONE shuffle on the key; ``lag`` + ``corr`` both evaluate
    inside the key partition (corr is an ordinary declarative
    aggregate with map-side partials over the already-shuffled rows).
    Per-key ordering serializes within one task — the standard bound;
    there is deliberately NO global (keyless) mode, because it would
    need a single-partition window at exactly the scale this engine
    targets.  For a global series, pass a constant key and accept the
    single task, or pre-bucket time ranges.
    """
    from pyspark.sql import Window
    if lag < 1:
        raise ValueError(f"lag must be >= 1: {lag}")
    t = F.col(ts_col)
    base = df.where(t.isNotNull() & F.col(key_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(ts_col)
    v = F.col(value_col).cast("double")
    paired = base.withColumn("__prev", F.lag(v, lag).over(w))
    both = v.isNotNull() & F.col("__prev").isNotNull()
    # corr() under ANSI mode RAISES on a zero-variance side (division
    # by zero) — a constant series must report NULL acf, not crash the
    # whole report, so assemble it from guarded covar/stddev parts
    agg = (paired.groupBy(key_col)
           .agg(F.sum(F.when(both, 1).otherwise(0)).cast("long")
                .alias("n_pairs"),
                F.covar_samp(v, F.col("__prev")).alias("__cov"),
                F.stddev_samp(F.when(both, v)).alias("__sx"),
                F.stddev_samp(F.when(both, F.col("__prev")))
                .alias("__sy")))
    return agg.select(
        key_col, "n_pairs",
        F.when((F.col("__sx") > 0) & (F.col("__sy") > 0),
               F.col("__cov") / (F.col("__sx") * F.col("__sy")))
        .alias("acf"))


def correlation_ratio(df: DataFrame, cat_col: str, num_col: str
                      ) -> DataFrame:
    """Correlation ratio η² (eta-squared) — the numeric~categorical
    association the Pearson matrix and :func:`categorical_association`
    both miss: how much of a numeric column's variance is explained by
    a categorical grouping (one-way-ANOVA SS_between / SS_total).
    ONE row: ``(n, n_groups, eta2, eta)``; ``eta2`` is NULL when the
    numeric column is constant (SS_total = 0) — same degenerate-table
    contract as ``cramers_v``.

    Rows with a NULL in either column are dropped (the
    :func:`categorical_association` convention).

    Scale: ONE map-side-combined groupBy on the category (per-group
    count/sum/sum-of-squares — the shuffle carries #groups rows), then
    a single aggregate over that state frame.  One scan, no window,
    no join; hot categories combine map-side.
    """
    c, v = F.col(cat_col), F.col(num_col).cast("double")
    g = (df.where(c.isNotNull() & v.isNotNull() & ~F.isnan(v))
         .groupBy(c.alias("__g"))
         .agg(F.count(F.lit(1)).alias("__n"),
              F.sum(v).alias("__s"),
              F.sum(v * v).alias("__s2")))
    nn = F.sum("__n").cast("double")
    s = F.sum("__s")
    ssb = F.sum(F.col("__s") * F.col("__s") / F.col("__n")) - s * s / nn
    sst = F.sum("__s2") - s * s / nn
    eta2 = F.when(sst > 0,
                  F.least(F.greatest(ssb / sst, F.lit(0.0)),
                          F.lit(1.0)))
    return g.agg(F.sum("__n").alias("n"),
                 F.count(F.lit(1)).alias("n_groups"),
                 eta2.alias("eta2"),
                 F.sqrt(eta2).alias("eta"))


def theil_u(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Theil's uncertainty coefficient U(y|x) — the ASYMMETRIC
    categorical association: the fraction of y's entropy explained by
    knowing x, ``(H(y) − H(y|x)) / H(y)`` in [0, 1].  Unlike
    Cramér's V it answers "does x predict y" and "does y predict x"
    separately — the direction matters for leakage screens (a feature
    that determines the label scores U(label|feature)=1 even when the
    label doesn't determine the feature).  ONE row:
    ``(n, x_levels, y_levels, h_y, h_y_given_x, u)``; ``u`` is NULL
    when y is constant (H(y) = 0).  NULL rows dropped (the
    :func:`categorical_association` convention); entropies in nats.

    Scale: the :func:`categorical_association` recipe — ONE map-side-
    combined groupBy on the (x, y) pair is the only row-scale shuffle;
    margins re-aggregate the #cells frame and join back broadcast.
    """
    x, y = F.col(col_x), F.col(col_y)
    joint = (df.where(x.isNotNull() & y.isNotNull())
             .groupBy(x.alias("__x"), y.alias("__y"))
             .agg(F.count(F.lit(1)).alias("__o")))
    mx = joint.groupBy("__x").agg(F.sum("__o").alias("__nx"))
    my = joint.groupBy("__y").agg(F.sum("__o").alias("__ny"))
    tot = joint.agg(F.sum("__o").alias("__n"),
                    F.count_distinct("__x").alias("__xl"),
                    F.count_distinct("__y").alias("__yl"))
    cells = (joint.join(F.broadcast(mx), "__x")
             .crossJoin(F.broadcast(tot)))
    o = F.col("__o").cast("double")
    n = F.col("__n").cast("double")
    nx = F.col("__nx").cast("double")
    agg = cells.agg(
        F.first("__n").alias("n"),
        F.first("__xl").alias("x_levels"),
        F.first("__yl").alias("y_levels"),
        # H(y|x) = -Σ_cells p(x,y) ln p(y|x); zero cells contribute 0
        F.sum(-(o / n) * F.log(o / nx)).alias("h_y_given_x"))
    # H(y) over the y-margin frame (each distinct y exactly once)
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("__ny").cast("double") / F.col("__n"))
              * F.log(F.col("__ny").cast("double") / F.col("__n")))
        .alias("h_y"))
    out = agg.crossJoin(F.broadcast(hy))
    u = F.when(F.col("h_y") > 0,
               F.least(F.greatest(
                   (F.col("h_y") - F.col("h_y_given_x"))
                   / F.col("h_y"), F.lit(0.0)), F.lit(1.0)))
    return out.select("n", "x_levels", "y_levels", "h_y",
                      "h_y_given_x", u.alias("u"))


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two categorical label
    columns — chance-corrected agreement,
    ``κ = (p_o − p_e) / (1 − p_e)``: the standard QA gate for
    training-data labeling pipelines (two annotators, judge model vs
    human, model-version A vs B — raw agreement flatters whenever the
    label marginals are skewed; kappa doesn't).  One output row:
    ``(n, n_agree, p_o, chance_pairs, p_e, kappa)`` where
    ``chance_pairs = Σ_c n_a(c)·n_b(c)`` (the EXACT integer behind
    ``p_e = chance_pairs / n²`` — graded as an integer so no float
    accumulation can straddle a rounding edge), plus
    ``a_levels``/``b_levels``.  Rows with a NULL on either side are
    excluded (agreement over NULLs is undefined);
    ``kappa`` is NULL when ``p_e = 1`` (both columns constant and
    equal — agreement is vacuous, 0/0).

    Scale: one count aggregate for (n, n_agree) + one value-level
    groupBy per side for the marginals, joined on the O(levels) frames
    — never a row-level join; all shuffles carry level-count rows.
    """
    for c in (col_a, col_b):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    a = F.col(col_a).cast("string")
    b = F.col(col_b).cast("string")
    base = df.where(a.isNotNull() & b.isNotNull()) \
             .select(a.alias("__a"), b.alias("__b"))
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), 1).otherwise(0))
        .cast("long").alias("n_agree"))
    ma = base.groupBy(F.col("__a").alias("__c")) \
             .agg(F.count(F.lit(1)).alias("__na"))
    mb = base.groupBy(F.col("__b").alias("__c")) \
             .agg(F.count(F.lit(1)).alias("__nb"))
    chance = (ma.join(mb, "__c")
              .agg(F.coalesce(F.sum(F.col("__na") * F.col("__nb")),
                              F.lit(0)).cast("long")
                   .alias("chance_pairs"),
                   F.count(F.lit(1)).alias("__shared")))
    lv = (ma.agg(F.count(F.lit(1)).alias("a_levels"))
          .crossJoin(mb.agg(F.count(F.lit(1)).alias("b_levels"))))
    out = tot.crossJoin(chance).crossJoin(lv)
    n = F.col("n").cast("double")
    po = F.when(F.col("n") > 0, F.col("n_agree") / n)
    pe = F.when(F.col("n") > 0, F.col("chance_pairs") / (n * n))
    kappa = F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
    return out.select(
        "n", "n_agree", po.alias("p_o"), "chance_pairs",
        pe.alias("p_e"), kappa.alias("kappa"),
        F.col("a_levels").cast("long").alias("a_levels"),
        F.col("b_levels").cast("long").alias("b_levels"))


def fleiss_kappa(df: DataFrame, item_col: str,
                 category_col: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — chance-corrected agreement for
    ANY number of raters per item, completing the annotator-QA pair
    with :func:`cohens_kappa` (which is two fixed raters): input is
    one row per RATING ``(item, category)``; raters are anonymous,
    which is exactly the crowdsourced / multi-judge-model labeling
    shape.  One output row: ``(n_items, n_ratings, n_categories,
    min_raters, max_raters, sum_agree_pairs, p_bar, p_e, kappa)`` —
    ``sum_agree_pairs = Σ_i Σ_j n_ij(n_ij−1)`` is the EXACT integer
    behind ``P̄`` (with constant raters ``n``, ``P̄ = sum_agree_pairs /
    (n_items·n·(n−1))`` — the grading handle); with VARIABLE raters
    per item, ``P̄`` is the mean of per-item agreement ratios (the
    standard generalization) and ``min_raters < max_raters`` flags it.
    Items with fewer than 2 ratings are EXCLUDED (pairwise agreement
    is undefined on them); NULL item/category rows excluded; ``kappa``
    NULL when ``p_e = 1``.

    Scale: one (item, category) groupBy (rating-count cells), one
    item-level reduce of that frame, one category-marginal groupBy —
    every shuffle carries cell- or category-sized rows, never a
    row-level join.
    """
    for c in (item_col, category_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    it = F.col(item_col)
    cat = F.col(category_col).cast("string")
    base = (df.where(it.isNotNull() & cat.isNotNull())
            .select(it.alias("__i"), cat.alias("__c")))
    cells = base.groupBy("__i", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__nij"))
    per_item = (cells.groupBy("__i")
                .agg(F.sum(F.col("__nij") * (F.col("__nij") - 1))
                     .cast("long").alias("__agree"),
                     F.sum("__nij").cast("long").alias("__ni"))
                .where(F.col("__ni") >= 2))
    istats = per_item.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("__ni").cast("long").alias("n_ratings"),
        F.min("__ni").cast("long").alias("min_raters"),
        F.max("__ni").cast("long").alias("max_raters"),
        F.sum("__agree").cast("long").alias("sum_agree_pairs"),
        F.avg(F.col("__agree")
              / (F.col("__ni") * (F.col("__ni") - 1.0)))
        .alias("p_bar"))
    # marginals over the SAME kept items (an excluded 1-rating item
    # must not shift p_e either)
    kept_cells = cells.join(per_item.select("__i"), "__i")
    cat_tot = (kept_cells.groupBy("__c")
               .agg(F.sum("__nij").cast("long").alias("__cj")))
    pe_df = cat_tot.agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        (F.sum(F.col("__cj") * F.col("__cj").cast("double"))
         / (F.sum("__cj") * F.sum("__cj").cast("double")))
        .alias("p_e"))
    out = istats.crossJoin(F.broadcast(pe_df))
    kappa = F.when(F.col("p_e") < 1.0,
                   (F.col("p_bar") - F.col("p_e"))
                   / (F.lit(1.0) - F.col("p_e")))
    return out.select(
        "n_items", "n_ratings", "n_categories", "min_raters",
        "max_raters", "sum_agree_pairs", "p_bar", "p_e",
        kappa.alias("kappa"))


def krippendorff_alpha(df: DataFrame, item_col: str, value_col: str,
                       metric: str = "nominal") -> DataFrame:
    """Krippendorff's alpha (Krippendorff 2004) — the third leg of the
    inter-annotator family: :func:`cohens_kappa` is two fixed raters,
    :func:`fleiss_kappa` is n anonymous raters with a NOMINAL metric;
    alpha additionally handles missing ratings (items rated by any
    subset of raters) and ordered/numeric labels via the ``metric``:

    * ``'nominal'`` — disagreement is 0/1 (matches Fleiss' world);
    * ``'interval'`` — disagreement is ``(v_c − v_k)²`` (Likert
      scores, reward-model scalar labels), via the closed form
      ``Σ_{c,k} n_c n_k (v_c−v_k)² = 2(m·Σn v² − (Σn v)²)`` — no
      category-pair join ever materializes;
    * ``'ordinal'`` — Krippendorff's rank metric, REDUCED to the
      interval closed form on per-category mean-rank midpoints:
      ``δ_ck = Σ_{g=c..k} n_g − (n_c+n_k)/2`` telescopes to
      ``r_k − r_c`` with ``r_g = cum_g − n_g/2``, so the ordinal
      distance IS the interval distance on ``r`` (one bounded window
      over the category marginals, still no pair join).

    Input is one row per RATING ``(item, value)``.  One output row:
    ``(n_items, n_ratings, n_categories, min_raters, max_raters,
    sum_disagree_num, d_o, d_e, alpha)`` — ``sum_disagree_num`` is
    ``Σ_u (m_u² − Σ_c n_uc²)`` (nominal) or ``Σ_u 2(m_u S2_u −
    S1_u²)`` (interval/ordinal): EXACT when ratings are integers
    (ordinal midpoints are half-integers, so 4× the ordinal sum is an
    exact integer), the grading handle behind ``d_o``; ``α = 1 −
    d_o/d_e``, NULL when ``d_e = 0`` (every rating identical —
    agreement is vacuous).  Items with fewer than 2 ratings are
    excluded (not pairable — exactly Krippendorff's missing-data
    rule); NULL item/value rows excluded.

    Scale: one (item, value) groupBy (cells), one item-level reduce,
    one value-marginal groupBy — the :func:`fleiss_kappa` shape; every
    shuffle carries cell- or category-sized rows.  The ordinal rank
    window runs over the CATEGORY frame (bounded by the label
    vocabulary — lint-whitelisted).
    """
    if metric not in ("nominal", "interval", "ordinal"):
        raise ValueError(
            f"metric must be 'nominal', 'interval' or 'ordinal': "
            f"{metric!r}")
    for c in (item_col, value_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    it = F.col(item_col)
    if metric in ("interval", "ordinal"):
        val = F.col(value_col).cast("double")
    else:
        val = F.col(value_col).cast("string")
    base = (df.where(it.isNotNull() & val.isNotNull())
            .select(it.alias("__i"), val.alias("__v")))
    cells = base.groupBy("__i", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__nij"))
    pairable = (cells.groupBy("__i")
                .agg(F.sum("__nij").cast("long").alias("__mu"))
                .where(F.col("__mu") >= 2))
    # marginals over the SAME kept items (the fleiss_kappa rule: an
    # excluded 1-rating item must not shift the expected term either)
    kept_cells = cells.join(pairable.select("__i"), "__i")
    cat = (kept_cells.groupBy("__v")
           .agg(F.sum("__nij").cast("long").alias("__cj")))
    if metric == "ordinal":
        from pyspark.sql import Window
        # category-frame-bounded window (label-vocabulary-sized)
        wc = (Window.orderBy(F.col("__v"))
              .rowsBetween(Window.unboundedPreceding, 0))
        cat = cat.withColumn(
            "__r", F.sum("__cj").over(wc).cast("double")
            - F.col("__cj").cast("double") / 2.0)
        kept_cells = (kept_cells
                      .join(F.broadcast(cat.select("__v", "__r")),
                            "__v")
                      .drop("__v")
                      .withColumnRenamed("__r", "__v"))
    item_aggs = [
        F.sum("__nij").cast("long").alias("__mu"),
        F.sum(F.col("__nij") * F.col("__nij")).cast("long")
        .alias("__sn2")]
    if metric != "nominal":
        v = F.col("__v").cast("double")
        item_aggs += [F.sum(F.col("__nij") * v).alias("__s1"),
                      F.sum(F.col("__nij") * v * v).alias("__s2")]
    per_item = kept_cells.groupBy("__i").agg(*item_aggs)
    mu = F.col("__mu")
    if metric == "nominal":
        num_u = (mu * mu - F.col("__sn2")).cast("double")
    else:
        num_u = 2.0 * (mu * F.col("__s2")
                       - F.col("__s1") * F.col("__s1"))
    stat_aggs = [
        F.count(F.lit(1)).cast("long").alias("n_items"),
        # coalesce: zero PAIRABLE items must read as 0 ratings (an
        # empty aggregate's NULL sum), with NULL alpha downstream
        F.coalesce(F.sum("__mu"), F.lit(0)).cast("long")
        .alias("n_ratings"),
        F.min("__mu").cast("long").alias("min_raters"),
        F.max("__mu").cast("long").alias("max_raters"),
        F.coalesce(F.sum(num_u), F.lit(0.0))
        .alias("sum_disagree_num"),
        F.coalesce(F.sum(num_u / (mu - 1.0).cast("double")),
                   F.lit(0.0)).alias("__do_sum")]
    istats = per_item.agg(*stat_aggs)
    cat_aggs = [F.count(F.lit(1)).cast("long").alias("n_categories"),
                F.sum(F.col("__cj") * F.col("__cj")).cast("long")
                .alias("__cj2")]
    if metric == "ordinal":
        r = F.col("__r")
        cat_aggs += [F.sum(F.col("__cj") * r).alias("__ts1"),
                     F.sum(F.col("__cj") * r * r).alias("__ts2")]
    elif metric == "interval":
        v = F.col("__v").cast("double")
        cat_aggs += [F.sum(F.col("__cj") * v).alias("__ts1"),
                     F.sum(F.col("__cj") * v * v).alias("__ts2")]
    cat_tot = cat.agg(*cat_aggs)
    out = istats.crossJoin(F.broadcast(cat_tot))
    n = F.col("n_ratings").cast("double")
    d_o = F.when(F.col("n_ratings") > 0, F.col("__do_sum") / n)
    if metric == "nominal":
        d_e = F.when(F.col("n_ratings") > 1,
                     (n * n - F.col("__cj2")) / (n * (n - 1.0)))
    else:
        d_e = F.when(F.col("n_ratings") > 1,
                     2.0 * (n * F.col("__ts2")
                            - F.col("__ts1") * F.col("__ts1"))
                     / (n * (n - 1.0)))
    alpha = F.when(d_e > 0.0, F.lit(1.0) - d_o / d_e)
    return out.select(
        "n_items", "n_ratings", "n_categories", "min_raters",
        "max_raters", "sum_disagree_num", d_o.alias("d_o"),
        d_e.alias("d_e"), alpha.alias("alpha"))


def inclusion_coefficients(child: DataFrame, parent: DataFrame,
                           pairs: "list[tuple[str, str]]"
                           ) -> DataFrame:
    """Inclusion-dependency discovery between two tables (the SINDY /
    Spider profiling primitive): for each ``(child_col, parent_col)``
    candidate, the fraction of DISTINCT non-NULL child values present
    in the parent column — 1.0 is a foreign-key-shaped containment,
    the cross-TABLE companion of :func:`fd_strength` (within-table
    dependencies) and :func:`key_candidates` (uniqueness).  One row
    per pair: ``(child_col, parent_col, n_child_distinct,
    n_contained, coefficient, is_inclusion)``.  Values compare as
    strings (cross-type candidates like INT⊆VARCHAR score honestly
    rather than erroring); NULLs are excluded on both sides (SQL FK
    semantics ignore NULL children).

    Scale: every pair rides TWO stacked distinct-collapses (one scan
    per table regardless of pair count — the stack-explode recipe) +
    one (pair, value) left join of the distinct frames; all shuffles
    carry distinct-value-sized rows, never table-sized.
    """
    if not pairs:
        raise ValueError("pairs must be non-empty")
    for cc, _ in pairs:
        if cc not in child.columns:
            raise ValueError(f"missing child column: {cc!r}")
    for _, pc in pairs:
        if pc not in parent.columns:
            raise ValueError(f"missing parent column: {pc!r}")

    def stacked(df: DataFrame, cols: "list[str]",
                tags: "list[int]") -> DataFrame:
        return (df.select(F.explode(F.array(*[
            F.struct(F.lit(t).alias("pair"),
                     F.col(c).cast("string").alias("v"))
            for c, t in zip(cols, tags)])).alias("kv"))
            .select("kv.pair", "kv.v")
            .where(F.col("v").isNotNull())
            .distinct())

    tags = list(range(len(pairs)))
    cvals = stacked(child, [c for c, _ in pairs], tags)
    pvals = (stacked(parent, [p for _, p in pairs], tags)
             .withColumn("__hit", F.lit(1)))
    joined = cvals.join(pvals, ["pair", "v"], "left")
    agg = (joined.groupBy("pair")
           .agg(F.count(F.lit(1)).cast("long")
                .alias("n_child_distinct"),
                F.coalesce(F.sum("__hit"), F.lit(0)).cast("long")
                .alias("n_contained")))
    from pyspark.sql import types as T
    spark = child.sparkSession
    names = spark.createDataFrame(
        [(t, c, p) for t, (c, p) in enumerate(pairs)],
        T.StructType([T.StructField("pair", T.IntegerType()),
                      T.StructField("child_col", T.StringType()),
                      T.StructField("parent_col", T.StringType())]))
    coef = F.when(F.col("n_child_distinct") > 0,
                  F.col("n_contained")
                  / F.col("n_child_distinct").cast("double"))
    # names LEFT — a pair whose child column is all-NULL must still
    # emit its row (n=0, NULL coefficient/verdict): 'audited and
    # vacuous' is different from 'never audited' (review r12c)
    return (names.join(agg, "pair", "left")
            .select("child_col", "parent_col",
                    F.coalesce(F.col("n_child_distinct"), F.lit(0))
                    .alias("n_child_distinct"),
                    F.coalesce(F.col("n_contained"), F.lit(0))
                    .alias("n_contained"),
                    coef.alias("coefficient"),
                    F.when(F.col("n_child_distinct") > 0,
                           F.col("n_contained")
                           == F.col("n_child_distinct"))
                    .alias("is_inclusion")))


def cronbach_alpha(df: DataFrame, item_cols: "list[str]") -> DataFrame:
    """Cronbach's alpha (1951) — internal-consistency reliability of a
    multi-item score: do the k items (rubric dimensions, judge
    sub-scores, quality sub-metrics) measure one underlying construct?
    ``alpha = k/(k−1) · (1 − Σ var_i / var_total)`` with ``var_total``
    the variance of the per-row item SUM — the composite-score check
    that belongs next to :func:`krippendorff_alpha` (which asks "do
    RATERS agree"; this asks "do ITEMS cohere"; ≥ 0.9 excellent,
    < 0.7 the composite is noise).  One row: ``(n, k_items, alpha,
    sum_item_var, total_var)``; ``alpha`` NULL when the composite is
    constant (``var_total = 0``) or ``n < 2``.  Rows with ANY NULL
    item are excluded (listwise deletion — the standard convention;
    imputation is a policy choice that belongs upstream).

    Scale: ONE map-side-combined aggregate over a single scan — k
    ``var_samp`` columns plus the composite's; nothing row-sized
    leaves the scan.  Sample (n−1) variances throughout, so the
    var_samp replay in any engine matches exactly.
    """
    if len(item_cols) < 2:
        raise ValueError(
            f"cronbach_alpha needs >= 2 items: {item_cols}")
    for c in item_cols:
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    items = [F.col(c).cast("double") for c in item_cols]
    keep = items[0].isNotNull()
    for it in items[1:]:
        keep = keep & it.isNotNull()
    total = items[0]
    for it in items[1:]:
        total = total + it
    base = df.where(keep).select(
        *[it.alias(f"__i{i}") for i, it in enumerate(items)],
        total.alias("__t"))
    k = len(item_cols)
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.var_samp(f"__i{i}").alias(f"__v{i}") for i in range(k)],
        F.var_samp("__t").alias("total_var"))
    sum_v = F.col("__v0")
    for i in range(1, k):
        sum_v = sum_v + F.col(f"__v{i}")
    alpha = F.when(
        (F.col("n") >= 2) & (F.col("total_var") > 0),
        F.lit(k / (k - 1.0)) * (F.lit(1.0) - sum_v
                                / F.col("total_var")))
    return agg.select("n", F.lit(k).alias("k_items"),
                      alpha.alias("alpha"),
                      sum_v.alias("sum_item_var"), "total_var")


def spearman_matrix(df: DataFrame, cols: "list[str]") -> DataFrame:
    """Spearman rank correlation for every column pair — the
    robust companion of :func:`correlation_matrix` (Pearson measures
    LINEAR association and one heavy-tailed outlier owns it; Spearman
    on tie-AVERAGED ranks measures monotone association and is what
    you want for quality scores, token counts, and anything
    long-tailed).  One row per unordered pair: ``(col_x, col_y, n,
    spearman)`` — NULL when either rank column is constant.  LISTWISE
    deletion (rows with any NULL among ``cols`` are dropped before
    ranking, so every pair sees the same population — the replayable
    convention; pairwise-complete is a policy choice upstream).

    Scale: per column, values collapse to the DISTINCT-value frame
    and the tie-averaged rank ``cb + (c+1)/2`` comes from the
    :func:`~spark_df_profiling_spark.operators.evaluation.
    _distinct_score_prefix` frozen-boundary protocol (never a global
    sort, never a single-task window); rows re-attach their rank via
    a hash join on the value (a 50%-hot tie is ONE lookup row, never
    an expansion) and ONE final map-side-combined aggregate computes
    all k(k−1)/2 guarded Pearson folds over the rank columns.
    """
    if not 2 <= len(cols) <= 16:
        raise ValueError(
            f"spearman_matrix needs 2-16 columns: {len(cols)}")
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    from spark_df_profiling_spark.operators.evaluation import (
        _distinct_score_prefix)
    keep = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        keep = keep & F.col(c).isNotNull()
    clean = df.where(keep).select(
        *[F.col(c).cast("double").alias(f"__x{i}")
          for i, c in enumerate(cols)])
    cur = clean
    for i in range(len(cols)):
        staged, _ = _distinct_score_prefix(
            clean.withColumn("__y", F.lit(True)), "__y", f"__x{i}",
            None)
        ranks = staged.select(
            F.col("__s").alias(f"__v{i}"),
            (F.col("__cb") + (F.col("__c") + 1) / 2.0)
            .alias(f"__r{i}"))
        cur = (cur.join(ranks,
                        cur[f"__x{i}"] == ranks[f"__v{i}"])
               .drop(f"__v{i}"))
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs += [
                F.covar_samp(f"__r{i}", f"__r{j}")
                .alias(f"__c{i}_{j}"),
            ]
        aggs.append(F.var_samp(f"__r{i}").alias(f"__v{i}"))
    row = cur.agg(*aggs)
    out = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            rho = F.when(
                (F.col(f"__v{i}") > 0) & (F.col(f"__v{j}") > 0),
                F.col(f"__c{i}_{j}")
                / F.sqrt(F.col(f"__v{i}") * F.col(f"__v{j}")))
            out.append(F.struct(
                F.lit(cols[i]).alias("col_x"),
                F.lit(cols[j]).alias("col_y"),
                F.col("n").alias("n"),
                rho.alias("spearman")))
    return (row.select(F.explode(F.array(*out)).alias("p"))
            .select("p.*"))
