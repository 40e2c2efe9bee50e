"""Top-k value frequencies for categorical columns (SURVEY §2.4 C1-C4).

The reference runs, per categorical column, a cached
``groupBy(c).count().orderBy(desc).limit(50)`` plus two extra count jobs for
the "Other values" buckets (``base.py::describe>>describe_categorical_1d``).
That is O(#categorical-columns) shuffles over the full table.

Here ALL categorical columns share ONE shuffle: the columns are stacked into
``(col_name, value)`` pairs with the ``stack`` generator (a narrow map-side
transform — no extra scan per column), aggregated by
``groupBy(col_name, value)`` (partial+final hash agg), and ranked over the
(already tiny) aggregated counts by the salted two-phase kernel
``plans.topk.two_phase_topk``.
"Other" buckets (C3/C4) are derived arithmetically from pass-1 stats —
no extra scan, unlike the reference's two extra jobs.

Ties are broken by value ascending so results are deterministic (needed for
the DuckDB oracle's value-hash comparison).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_df_profiling_spark.plans.topk import two_phase_topk


def topk_frequencies(df: DataFrame, cat_cols: list[str], k: int,
                     sub_partitions: int = 64
                     ) -> dict[str, list[tuple[str, int]]]:
    """Return {column: [(value, count), ...]} for the top-k values of each
    categorical column, computed in one Spark job.

    The rank is :func:`~spark_df_profiling_spark.plans.topk.
    two_phase_topk` keyed by ``col_name``: ranking by ``col_name`` alone
    would funnel EVERY distinct value of a column through one task
    (col_name has only #columns distinct values — the worst possible
    window key at 100 TB), so phase 1 ranks within ``(col_name,
    hash(value) % sub_partitions)`` and phase 2 ranks the surviving
    ``sub_partitions x k`` rows per column.  ``sub_partitions=1`` is the
    single-phase reference form, with identical results."""
    if not cat_cols:
        return {}
    top = topk_frequencies_frame(df, cat_cols, k, sub_partitions)
    out: dict[str, list[tuple[str, int]]] = {c: [] for c in cat_cols}
    rows = top.collect()
    for r in sorted(rows, key=lambda r: (r["col_name"], r["rk"])):
        out[r["col_name"]].append((r["value"], r["cnt"]))
    return out


def topk_frequencies_frame(df: DataFrame, cat_cols: list[str], k: int,
                           sub_partitions: int = 64) -> DataFrame:
    """The (col_name, value, cnt, rk) frame :func:`topk_frequencies`
    collects — exposed so plan-capture tooling explains the EXACT frame
    the operator executes instead of a hand-mirrored copy."""
    counts = (stack_columns(df, cat_cols)
              .where(F.col("value").isNotNull())
              .groupBy("col_name", "value")
              .agg(F.count(F.lit(1)).alias("cnt")))
    return two_phase_topk(counts, ["col_name"], F.xxhash64("value"),
                          [F.desc("cnt"), F.asc("value")], k,
                          sub_partitions, rank="rk")


def stack_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """UNPIVOT the given columns to (col_name, value string) pairs."""
    casted = df.select(
        *[df[c].cast("string").alias(f"__s{i}") for i, c in enumerate(cols)])
    parts = ", ".join(
        f"'{c.replace(chr(39), chr(39)*2)}', __s{i}"
        for i, c in enumerate(cols))
    return casted.select(
        F.expr(f"stack({len(cols)}, {parts}) as (col_name, value)"))


def column_entropy(df: DataFrame, cols: list[str],
                   base: float = 2.0,
                   normalized: bool = True) -> DataFrame:
    """Shannon entropy of each column's value distribution.

    A core profiler statistic the reference family (pandas-profiling
    v1.x / its Spark port) never computed: ``H = -Σ p·log(p)`` over the
    non-null value frequencies, in ``base``-ary units (default bits).
    ``normalized=True`` adds ``H / log(n_distinct)`` — the 0..1
    "evenness" score (1 = uniform, 0 = constant) that makes columns of
    different cardinality comparable, NULL for constant columns
    (log(1) = 0).

    Returns one row per column: ``(col_name, n, n_distinct, entropy,
    norm_entropy)``.

    Scale: all columns share ONE shuffle — the same ``stack`` unpivot
    as :func:`topk_frequencies` feeds ``groupBy(col_name, value)``
    (map-side partial agg), then the per-value terms collapse in a
    second tiny aggregation keyed by col_name alone (input is one row
    per DISTINCT value, not per row, so the narrow key is safe).  No
    UDFs, no driver loops; entropy folds are exact, not sketched.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    stacked = stack_columns(df, cols)
    counts = (stacked
              .where(F.col("value").isNotNull())
              .groupBy("col_name", "value")
              .agg(F.count(F.lit(1)).alias("cnt")))
    import math
    log_base = math.log(base)
    per_col = (counts.groupBy("col_name")
               .agg(F.sum("cnt").alias("n"),
                    F.count(F.lit(1)).alias("n_distinct"),
                    # -sum(p ln p) = ln(n) - sum(cnt ln cnt)/n
                    ((F.log(F.sum("cnt"))
                      - F.sum(F.col("cnt") * F.log("cnt"))
                      / F.sum("cnt")) / F.lit(log_base))
                    .alias("entropy")))
    if normalized:
        per_col = per_col.withColumn(
            "norm_entropy",
            F.when(F.col("n_distinct") > 1,
                   F.col("entropy")
                   / (F.log("n_distinct") / F.lit(log_base))))
    return per_col


def skew_report(df: DataFrame, key_cols: str | list[str],
                k: int = 10, exact: bool = True) -> DataFrame:
    """Key-distribution skew report — run before any groupBy/join on
    the key to see what the shuffle will face.

    Returns ``(part, key, cnt)`` rows: 'top' rows are the k heaviest
    keys; the 'stats' row packs ``n_rows`` in cnt and carries
    ``n_keys:max_cnt:p99_cnt:max_share_ppm`` in key — ``max_share_ppm``
    is the hottest key's share of all rows in parts-per-million (the
    single number that predicts whether one reducer drowns: 1,000,000
    ppm = everything lands on one key).

    Plan: ONE shuffle on the key with map-side partial aggregation
    (the hot key arrives as one row per upstream task, not row-scale);
    the count-of-counts stats aggregate over the distinct-key-sized
    frame; top-k is a bounded TakeOrdered.  NULL keys count as a key
    (they would all land in one task too — that is exactly what this
    report must expose).

    ``exact=True`` (default, oracle-parity) computes the p99 with exact
    ``percentile`` — fine up to millions of distinct keys, but the
    exact aggregate buffers EVERY distinct key's count in one task, so
    at billions of distinct keys (exactly the high-cardinality regime
    this report exists to diagnose) pass ``exact=False`` to switch to
    ``percentile_approx`` — bounded GK-sketch memory, same switch as
    ``outlier_stats``/``quantile_buckets``/``zorder_key``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    counts = (df.groupBy(*keys)
              .agg(F.count(F.lit(1)).alias("cnt"))
              .select(F.concat_ws("\x01", *[
                  F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
                  for c in keys]).alias("key"), "cnt"))
    top = (counts.orderBy(F.desc("cnt"), F.asc("key")).limit(k)
           .select(F.lit("top").alias("part"), "key", "cnt"))
    p99 = (F.expr("percentile(cnt, 0.99)") if exact
           else F.expr("percentile_approx(cnt, 0.99, 10000)"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.floor(p99).cast("long").alias("p99_cnt"))
    # the percentile runs over the DISTINCT-KEY-sized count frame, not
    # the data; floor() keeps the packed stats string engine-portable
    # (no double-formatting divergence)
    stats_row = stats.select(
        F.lit("stats").alias("part"),
        F.concat_ws(":", F.col("n_keys").cast("string"),
                    F.col("max_cnt").cast("string"),
                    F.col("p99_cnt").cast("string"),
                    F.floor(F.col("max_cnt") * 1_000_000
                            / F.col("n_rows")).cast("string")).alias("key"),
        F.col("n_rows").cast("long").alias("cnt"))
    return top.unionByName(stats_row)


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable heavy-hitter state (the frequency-side
# counterpart of dedup.bloom_state's membership state)
# ---------------------------------------------------------------------------
def cms_positions(hash_col, width: int, depth: int):
    """``depth`` struct(d, w) sketch coordinates for a content-hash
    string — the same engine-portable md5 60-bit hex-prefix arithmetic
    as ``dedup.bloom_positions`` (DuckDB replays it bit-for-bit), with
    a ``#cms`` salt so CMS and Bloom positions of the same content stay
    independent."""
    return F.array(*[
        F.struct(F.lit(d).cast("int").alias("d"),
                 (F.conv(F.substring(
                     F.md5(F.concat(hash_col, F.lit(f"#cms{d}"))),
                     1, 15), 16, 10).cast("bigint") % width).alias("w"))
        for d in range(depth)])


def cms_state(df: DataFrame, cols: str | list[str] | None = None,
              width: int = 8192, depth: int = 4) -> DataFrame:
    """Count-min sketch over row content — BOUNDED, MERGEABLE frequency
    state: one row per occupied (d, w) cell, at most ``depth x width``
    rows no matter how many rows (or distinct keys) the corpus holds.

    The missing piece between ``topk_frequencies`` (exact, but its
    state is one row per DISTINCT key — unbounded) and
    ``bloom_state`` (bounded, but membership-only): a training-data
    pipeline tracking value frequencies ACROSS daily runs needs state
    it can persist, ship, and merge without ever re-scanning history —
    CMS cells add, so ``cms_merge`` is a groupBy-sum, exactly like the
    Bloom word OR and the incremental profile counters.

    Estimates (``cms_estimate``) are classic CMS: never UNDER-count,
    over-count bounded by ~2N/width with probability 1-2^-depth.
    Width 8192 x depth 4 is ~256 KB of state — always broadcastable.

    Plan: one explode (depth rows per input row, narrow) feeding a
    (d, w)-keyed hash aggregate with map-side partial combine — the
    shuffle carries at most depth x width rows per upstream task.
    """
    from spark_df_profiling_spark.operators.dedup import content_hash
    if width < 1 or depth < 1:
        raise ValueError(f"need width, depth >= 1: {width}, {depth}")
    cols = [cols] if isinstance(cols, str) else list(cols or df.columns)
    pos = cms_positions(content_hash(cols), width, depth)
    return (df.select(F.explode(pos).alias("p"))
            .groupBy(F.col("p.d").alias("d"), F.col("p.w").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*states: DataFrame) -> DataFrame:
    """Merge CMS states built with the SAME (width, depth, cols):
    cell-wise sum.  Mismatched configs produce garbage, same contract
    as ``bloom_might_contain`` — keep (width, depth) with the stored
    state."""
    if not states:
        raise ValueError("need at least one state")
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(df: DataFrame, state: DataFrame,
                 cols: str | list[str] | None = None,
                 width: int = 8192, depth: int = 4,
                 out_col: str = "est_count") -> DataFrame:
    """Estimated frequency of each row's content under ``state``:
    ``min`` over the depth cells the content hashes to (0 when any
    cell is unoccupied).  Never under-counts an inserted key.

    Plan: distinct on the content hash (the only shuffle, same class
    as exact_dedup), explode to depth coordinate rows, LEFT join the
    <= depth x width-row state — broadcast — then a min per hash and a
    hash-join back onto the input rows.
    """
    from spark_df_profiling_spark.operators.dedup import content_hash
    cols = [cols] if isinstance(cols, str) else list(cols or df.columns)
    marked = df.withColumn("__ch", content_hash(cols))
    pos = (marked.select("__ch").distinct()
           .select("__ch", F.explode(
               cms_positions(F.col("__ch"), width, depth)).alias("p"))
           .select("__ch", F.col("p.d").alias("d"),
                   F.col("p.w").alias("w")))
    est = (pos.join(F.broadcast(state), ["d", "w"], "left")
           .groupBy("__ch")
           .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
                .alias(out_col)))
    return marked.join(est, "__ch").drop("__ch")


def cms_join_size(state_a: DataFrame, state_b: DataFrame) -> DataFrame:
    """Inner-join SIZE estimate from two CMS states (AGMS/CMS inner
    product, Alon–Matias–Szegedy / Cormode–Muthukrishnan): the join
    row count on a key is ``Σ_k f_A(k)·f_B(k)``, and for each sketch
    depth ``Σ_w a[d,w]·b[d,w]`` over-estimates it by only the hash-
    collision mass (expected ≤ N_A·N_B / width); the MIN over depths
    is the estimate and NEVER under-counts.  The pre-join sizing
    answer when :func:`~spark_df_profiling_spark.operators.joins.
    join_key_stats` (exact, but key-frame-sized) is too expensive —
    two persisted ≤ depth×width-cell states from yesterday's runs
    size today's join without touching either table.

    Both states must come from :func:`cms_state` with the SAME
    (width, depth) and the same key columns — the standard sketch
    contract.  One row: ``(est_join_rows, worst_depth_estimate,
    depth)``.  Products/sums run in double: exact for totals below
    2^53 (every real grading/sizing regime), and an ESTIMATOR beyond.

    Plan: one (d, w) cell join of two ≤ depth×width-row frames (AQE
    broadcasts), one depth-level groupBy, one scalar min — no input
    data is touched at all.
    """
    for s, name in ((state_a, "state_a"), (state_b, "state_b")):
        for c in ("d", "w", "cnt"):
            if c not in s.columns:
                raise ValueError(f"{name} missing column: {c!r} — "
                                 f"not a cms_state frame")
    a = state_a.select("d", "w", F.col("cnt").alias("__ca"))
    b = state_b.select("d", "w", F.col("cnt").alias("__cb"))
    per_d = (a.join(b, ["d", "w"])     # absent cells contribute 0
             .groupBy("d")
             .agg(F.sum(F.col("__ca").cast("double") * F.col("__cb"))
                  .alias("__ip")))
    return per_d.agg(
        F.min("__ip").alias("est_join_rows"),
        F.max("__ip").alias("worst_depth_estimate"),
        F.count(F.lit(1)).cast("long").alias("depth"))


# ---------------------------------------------------------------------------
# HyperLogLog: mergeable cardinality state — completes the sketch trio
# (Bloom = membership, CMS = frequency, HLL = distinct count)
# ---------------------------------------------------------------------------
def hll_position(hash_col, p: int):
    """struct(reg, rho) HLL coordinates for a content-hash string.

    Engine-portable arithmetic (DuckDB replays it bit-for-bit): a 60-bit
    md5 hex-prefix hash (the ``bloom_positions``/``cms_positions``
    idiom, salted ``#hll`` so the three sketches stay independent); the
    TOP ``p`` bits pick the register (floor-division, not modulo, so
    register and remainder bits never overlap), the remaining
    ``W = 60 - p`` bits yield ``rho`` = 1 + number of leading zeros,
    computed EXACTLY as ``W - length(bin(rem)) + 1`` — ``bin()`` prints
    a bigint without leading zeros in both Spark and DuckDB, so the
    highest-set-bit position is integer string arithmetic, never a
    float ``log2`` that misrounds at exact powers of two.
    """
    w = 60 - p
    h = F.conv(F.substring(
        F.md5(F.concat(hash_col, F.lit("#hll"))), 1, 15), 16, 10
    ).cast("bigint")
    # shiftright, NOT double division: h is up to 2^60 and a double
    # only carries 53 mantissa bits, so h / 2^w could misround the
    # register for hashes within ~2^7 of a register boundary —
    # DuckDB's integer `//` replay would then disagree on ~2^-41 of
    # rows (invisible at test scale, real at 10^12 rows)
    reg = F.shiftright(h, w)
    rem = h % F.lit(2 ** w)
    rho = (F.when(rem == 0, F.lit(w + 1))
           .otherwise(F.lit(w) - F.length(F.bin(rem)) + 1)).cast("int")
    return F.struct(reg.alias("reg"), rho.alias("rho"))


def hll_state(df: DataFrame, cols: str | list[str] | None = None,
              p: int = 12) -> DataFrame:
    """HyperLogLog state over row content — BOUNDED, MERGEABLE distinct-
    count state: one row per OCCUPIED register, at most ``m = 2**p``
    rows (p=12 → ≤4096 rows, ~1.6% standard error) no matter how many
    rows or distinct keys the corpus holds.

    Why it exists next to ``approx_count_distinct``: Spark's built-in
    HLL++ lives inside one aggregation — its state cannot be persisted
    to a table, shipped between runs, or merged with last month's
    without re-scanning history.  This state CAN (same contract as
    ``bloom_state``/``cms_state``/``incremental.partial_profile``):
    day-2 ingest builds a state over the new batch only and
    ``hll_merge`` folds it into the stored one — register-wise max is
    exactly the union semantics.

    The no-group case of :func:`hll_state_by`: one narrow projection
    to (reg, rho) feeding a reg-keyed hash aggregate with map-side
    partial max — the shuffle carries at most ``m`` rows per upstream
    task.  No explode (unlike CMS/Bloom: HLL needs one coordinate per
    row, not k).
    """
    return hll_state_by(df, [], cols or df.columns, p)


def hll_merge(*states: DataFrame) -> DataFrame:
    """Merge HLL states built with the SAME (p, cols): register-wise
    max — the union of the underlying sets, exactly.  Mismatched
    configs produce garbage (same contract as ``cms_merge``): keep
    ``p`` with the stored state."""
    return hll_merge_by([], *states)


def hll_estimate(state: DataFrame, p: int = 12,
                 out_col: str = "est_distinct") -> DataFrame:
    """One-row DataFrame with the Flajolet HLL cardinality estimate:
    the no-group case of :func:`hll_estimate_by`."""
    return hll_estimate_by(state, [], p, out_col)


def topk_by_group(df: DataFrame, group_cols: str | list[str],
                  value_col: str, k: int = 10,
                  sub_partitions: int = 64) -> DataFrame:
    """Top-k values of ``value_col`` WITHIN each group — ``(group...,
    value, cnt, rank)``: the per-segment frequency table ("top domains
    per language", "top event types per user cohort") that the global
    :func:`topk_frequencies` cannot answer.

    Same ``two_phase_topk`` rank keyed by the group, salted by the
    value, so a hot group's vocabulary never funnels through one task.
    NULL values are excluded; NULL group keys form their own group.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    gcols = [group_cols] if isinstance(group_cols, str) \
        else list(group_cols)
    counts = (df.where(F.col(value_col).isNotNull())
              .groupBy(*gcols, F.col(value_col).alias("value"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    return two_phase_topk(counts, gcols, F.xxhash64("value"),
                          [F.desc("cnt"), F.asc("value")], k,
                          sub_partitions)


def hll_state_by(df: DataFrame, group_cols: str | list[str],
                 cols: str | list[str], p: int = 12) -> DataFrame:
    """Per-group HyperLogLog state — the grouped sibling of
    :func:`hll_state`: one ``(group..., reg, rho)`` row per occupied
    register per group, at most ``2**p`` rows per group.  THE
    cardinality primitive of a corpus dashboard ("distinct users per
    domain per day", "distinct documents per source") when the groups
    must be re-aggregatable across runs: states for daily batches merge
    with :func:`hll_merge_by` (register-wise max per group IS per-group
    set union) without ever rescanning history — ``approx_count_
    distinct`` answers today's number but its state cannot be stored.

    NULL group keys form their own group (they do in ``groupBy`` too);
    filter upstream if unwanted.

    Plan: one narrow projection to (group, reg, rho) feeding a
    (group, reg)-keyed hash aggregate with map-side partial max — a
    hot group arrives at its reducers as ≤ m rows per upstream task,
    never row-scale.  State size is ``Σ_g min(distinct_g, m)`` rows;
    with p=12 and 16-byte groups, ~64 KB per saturated group.
    """
    from spark_df_profiling_spark.operators.dedup import content_hash
    if not (4 <= p <= 18):
        raise ValueError(f"need 4 <= p <= 18: {p}")
    gcols = [group_cols] if isinstance(group_cols, str) \
        else list(group_cols)
    vcols = [cols] if isinstance(cols, str) else list(cols)
    pos = hll_position(content_hash(vcols), p)
    return (df.select(*gcols, pos.alias("p"))
            .groupBy(*gcols, F.col("p.reg").alias("reg"))
            .agg(F.max(F.col("p.rho")).alias("rho")))


def hll_merge_by(group_cols: str | list[str],
                 *states: DataFrame) -> DataFrame:
    """Merge per-group HLL states built with the SAME (p, cols):
    register-wise max within each group — per-group set union, exactly.
    Groups absent from one state pass through (union with ∅)."""
    if not states:
        raise ValueError("need at least one state")
    gcols = [group_cols] if isinstance(group_cols, str) \
        else list(group_cols)
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(*gcols, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate_by(state: DataFrame, group_cols: str | list[str],
                    p: int = 12,
                    out_col: str = "est_distinct") -> DataFrame:
    """Per-group HLL cardinality estimates: one row per group,
    ``(group..., est_distinct)``; ``group_cols=[]`` gives one row.

    Standard Flajolet estimator, all plain SQL arithmetic (the DuckDB
    oracle replays it to the last ulp): ``E = alpha_m * m^2 / Z`` where
    ``Z = sum(2^-rho) + V`` (each of the ``V`` EMPTY registers
    contributes ``2^0 = 1``), ``alpha_m = 0.7213 / (1 + 1.079/m)``;
    small-range correction switches to linear counting
    ``m * ln(m/V)`` when ``E <= 2.5m`` and ``V > 0``.  The 60-bit hash
    makes the large-range collision correction irrelevant below ~2^30
    distinct keys; beyond that raise ``p`` instead.

    Plan: ONE group-keyed aggregation over the ≤ m-rows-per-group
    state — driver never sees row-scale data."""
    m = 2 ** p
    alpha = 0.7213 / (1 + 1.079 / m)
    gcols = [group_cols] if isinstance(group_cols, str) \
        else list(group_cols)
    agg = state.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("occ"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z_occ"))
    v = F.lit(m) - F.col("occ")
    z = F.coalesce(F.col("z_occ"), F.lit(0.0)) + v.cast("double")
    raw = F.lit(alpha * m * m) / z
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(m).cast("double") / v)
                 ).otherwise(raw)
    return agg.select(*gcols,
                      F.round(est).cast("long").alias(out_col))


def format_pattern_expr(col, collapse_runs: bool = True):
    """Character-class format pattern of a string column: uppercase →
    ``A``, lowercase → ``a``, digits → ``9``, whitespace → ``_``; other
    characters (punctuation, unicode) pass through literally.  With
    ``collapse_runs`` each class run collapses to one symbol
    (``"Nov 2024" → "Aa_9"``), the form that groups dates / codes /
    ids regardless of length.

    Pure codegen ``regexp_replace`` chain using only character classes
    and fixed-repetition patterns — NO backreferences, so RE2-based
    engines (DuckDB) replay it verbatim.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, "[A-Z]", "A")
    out = F.regexp_replace(out, "[a-z]", "a")
    out = F.regexp_replace(out, "[0-9]", "9")
    out = F.regexp_replace(out, "[ \\t\\r\\n\\f]", "_")
    if collapse_runs:
        for sym in ("A", "a", "9", "_"):
            out = F.regexp_replace(out, sym + "+", sym)
    return out


def format_patterns(df: DataFrame, cols: list[str], k: int = 10,
                    collapse_runs: bool = True) -> DataFrame:
    """Top-k format patterns per string column — the classic profiler
    view that exposes mixed date formats, stray whitespace, inconsistent
    id schemes ("why are 3% of the SKUs ``a9-9`` when the rest are
    ``A9-9``?").  Returns ``(column, pattern, cnt, rank)``; NULL values
    profile as the pattern ``'<null>'``.

    Plan: pattern extraction is a zero-shuffle codegen projection; all
    columns stack into ONE (column, pattern) hash aggregate (map-side
    combined — the frequency.topk_frequencies posture), and the top-k
    window runs over the already-aggregated #patterns-sized frame.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    stacked = None
    for c in cols:
        part = df.select(
            F.lit(c).alias("column"),
            F.coalesce(format_pattern_expr(c, collapse_runs),
                       F.lit("<null>")).alias("pattern"))
        stacked = part if stacked is None else stacked.unionByName(part)
    counts = (stacked.groupBy("column", "pattern")
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = (Window.partitionBy("column")
         .orderBy(F.desc("cnt"), F.asc("pattern")))
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def gini_coefficient(df: DataFrame, col: str,
                     num_buckets: int | None = None) -> DataFrame:
    """EXACT Gini coefficient of a non-negative numeric column — the
    inequality / concentration measure ("do 1% of the documents carry
    40% of the tokens?") that column_entropy answers for categories
    and this answers for mass.  Returns ONE row ``(gini, n, total)``.

    ``G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n`` over the ascending sort —
    but the rank sum collapses onto DISTINCT values: a tie block of
    value v and count c starting after N rows contributes
    ``v·(c·N + c(c+1)/2)``.  So the plan is the ks_2samp recipe: ONE
    groupBy to (value, count) rows, range-repartition by value +
    localCheckpoint (freezes sampled boundaries), per-partition totals
    prefix-summed on the DRIVER (O(#partitions) state), in-partition
    window for the running count — NEVER a single-partition global
    sort or window.

    NULLs are excluded; negative values raise (Gini over signed mass
    is not the same statistic — winsorize or shift first, explicitly).
    An empty/all-NULL column raises (no distribution to summarize).
    """
    spark = df.sparkSession
    n_bk = int(num_buckets
               or spark.conf.get("spark.sql.shuffle.partitions", "32"))
    counts = (df.select(F.col(col).cast("double").alias("__v"))
              .where(F.col("__v").isNotNull())
              .groupBy("__v").agg(F.count(F.lit(1)).alias("__c")))
    ranged = (counts.repartitionByRange(n_bk, F.col("__v"))
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=True))
    rows = (ranged.groupBy("__pid")
            .agg(F.sum("__c").alias("__t"),
                 F.min("__v").alias("__mn"),
                 F.sum(F.col("__v") * F.col("__c")).alias("__m"))
            .collect())
    if not rows:
        raise ValueError(f"gini_coefficient: no non-NULL values in "
                         f"{col!r}")
    if min(r["__mn"] for r in rows) < 0:
        raise ValueError(
            f"gini_coefficient: {col!r} has negative values — Gini is "
            f"defined over non-negative mass; shift or clip first")
    if sum(r["__m"] for r in rows) == 0:
        raise ValueError(
            f"gini_coefficient: {col!r} has zero total mass (all "
            f"values 0) — Gini is undefined; filter or reconsider the "
            f"column")
    totals = {r["__pid"]: r["__t"] for r in rows}
    prefix, acc = [], 0
    for pid in sorted(totals):
        prefix.append((pid, acc))
        acc += totals[pid]
    n = acc
    pref_df = spark.createDataFrame(prefix, "__pid int, __p long")
    w = (Window.partitionBy("__pid").orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = F.col("__c").cast("double")
    before = (F.coalesce(F.sum("__c").over(w), F.lit(0))
              + F.col("__p")).cast("double")
    contrib = F.col("__v") * (c * before + c * (c + 1) / 2.0)
    # the window must be projected before the aggregate — Spark forbids
    # a window function nested inside an aggregate function
    agg = (ranged.join(F.broadcast(pref_df), "__pid")
           .select(contrib.alias("__ct"),
                   (F.col("__v") * c).alias("__vc"))
           .agg(F.sum("__ct").alias("__rs"),
                F.sum("__vc").alias("__tot")))
    nn = float(n)
    return agg.select(
        (F.lit(2.0) * F.col("__rs") / (F.lit(nn) * F.col("__tot"))
         - F.lit((nn + 1.0) / nn)).alias("gini"),
        F.lit(n).cast("long").alias("n"),
        F.col("__tot").alias("total"))


def missingness_patterns(df: DataFrame,
                         cols: "list[str] | None" = None,
                         top_k: int = 20) -> DataFrame:
    """Which columns go missing TOGETHER: one row per distinct
    null-mask combination across ``cols`` (default: every column),
    most frequent first — the upset-plot / co-missingness view that
    per-column ``n_missing`` can't give (a feed that drops
    (lang, source) as a unit looks identical to two independent 1%
    gaps in per-column stats, and needs a very different fix).

    Output: ``pattern`` ('0'/'1' per column, '1' = missing, column
    order = ``cols``), ``missing_cols`` (comma-joined names, '' for
    the all-present row), ``n_missing_cols``, ``n_rows``, ``p_rows``.

    Scale: the mask is a pure row expression, so this is ONE
    map-side-combined groupBy whose output is at most
    min(2^#cols, #distinct patterns) rows — real feeds produce a
    handful; the total for ``p_rows`` re-aggregates that tiny frame
    (broadcast one-row cross join, no second source scan) and top-k
    orders the aggregated frame, never the corpus.
    """
    use = list(cols) if cols is not None else list(df.columns)
    if not use:
        raise ValueError("cols must be non-empty")
    missing = [c for c in use if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1: {top_k}")
    mask = F.concat(*[F.when(F.col(c).isNull(), F.lit("1"))
                      .otherwise(F.lit("0")) for c in use])
    names = F.concat_ws(
        ",", *[F.when(F.col(c).isNull(), F.lit(c)) for c in use])
    g = (df.groupBy(mask.alias("pattern"), names.alias("missing_cols"))
         .agg(F.count(F.lit(1)).alias("n_rows")))
    tot = g.agg(F.sum("n_rows").alias("__t"))
    n_miss = F.length(F.regexp_replace(F.col("pattern"), "0", ""))
    return (g.crossJoin(F.broadcast(tot))
            .select("pattern", "missing_cols",
                    n_miss.cast("int").alias("n_missing_cols"),
                    "n_rows",
                    (F.col("n_rows").cast("double") / F.col("__t"))
                    .alias("p_rows"))
            .orderBy(F.desc("n_rows"), "pattern")
            .limit(top_k))


def windowed_topk(df: DataFrame, ts_col: str, value_col: str,
                  window: float, k: int = 10,
                  sub_partitions: int = 64) -> DataFrame:
    """Trending values per time bucket — the top-``k`` most frequent
    ``value_col`` values within every ``window``-sized tumbling bucket
    of ``ts_col`` (numeric event time, the ``event_time_micros``
    contract): "what's hot this hour" for feeds, query streams, error
    codes, ingest sources.  Output one row per (bucket, rank):
    ``(bucket, bucket_start, value, cnt, rank)`` with the
    deterministic (count DESC, value ASC) tie order.

    Scale: ONE (bucket, value) map-side-combined count groupBy, then
    the ``two_phase_topk`` rank keyed by the time bucket, salted by the
    value, so no task ever sees a bucket's whole distinct-value set.
    The bucket id stays in INTEGER space (playbook rule 5).  Results
    are identical for any ``sub_partitions``; set 1 to disable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if window <= 0:
        raise ValueError(f"window must be > 0: {window}")
    for c in (ts_col, value_col):
        if c not in df.columns:
            raise ValueError(f"missing column: {c!r}")
    t = F.col(ts_col).cast("double")
    v = F.col(value_col)
    bucket = F.floor(t / F.lit(float(window))).cast("long")
    counts = (df.where(t.isNotNull() & v.isNotNull())
              .groupBy(bucket.alias("bucket"),
                       v.cast("string").alias("value"))
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    return (two_phase_topk(counts, ["bucket"], F.xxhash64("value"),
                           [F.desc("cnt"), F.asc("value")], k,
                           sub_partitions)
            .select("bucket",
                    (F.col("bucket") * F.lit(float(window)))
                    .alias("bucket_start"),
                    "value", "cnt", F.col("rank").cast("int")
                    .alias("rank")))
