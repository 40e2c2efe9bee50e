"""Profiling configuration.

One config object controls the exact-vs-approximate duality everywhere
(SURVEY.md §7 "what's hard" item 2): the DuckDB oracle runs in exact mode,
the 100 TB scale path defaults to sketches (HLL++ distinct counts,
percentile_approx quantiles).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ProfileConfig:
    """Settings for :func:`spark_df_profiling_spark.profile`.

    Mirrors the reference's ``ProfileReport(df, bins=10, sample=5,
    corr_reject=0.9)`` signature (``__init__.py::ProfileReport``, public
    v1.1.13) and adds the scale/exactness switches the reference lacks.
    """

    # --- reference-compatible knobs -------------------------------------
    bins: int = 10                 # histogram bins (reference default)
    sample: int = 5                # head-sample rows for the report
    corr_reject: float | None = 0.9  # Pearson threshold for CORR rejection
    top_k: int = 50                # frequency-table depth (reference: 50)

    # --- exact vs approximate (scale switches) ---------------------------
    exact_distinct: bool = False   # False => approx_count_distinct (HLL++)
    # rsd 0.05 benches ~14x faster than 0.01 (Spark's HLL++ register count
    # grows steeply with precision); ±5% distinct counts is plenty for
    # type dispatch and report display.  Oracle tests run exact anyway.
    distinct_rsd: float = 0.05     # HLL++ relative standard deviation
    exact_quantiles: bool = False  # False => percentile_approx
    quantile_accuracy: int = 10000  # percentile_approx accuracy parameter
    quantiles: tuple[float, ...] = (0.05, 0.25, 0.5, 0.75, 0.95)

    # --- quirk-fix flags (reference quirks preserved by default) ---------
    # The reference hardcodes n_infinite = 0 (base.py::describe_1d); we
    # always count real infinities because it costs nothing in the wide agg.
    # Decimal columns: the reference mis-dispatches parameterized
    # decimal(p,s) (SURVEY §1.2); fix_decimal=True routes them to NUM.
    fix_decimal: bool = True
    # Complex types: the reference raises NotImplementedError (with the
    # famous "stuct" typo); profile_complex=True profiles array/map/struct.
    profile_complex: bool = True

    # --- physical execution ----------------------------------------------
    max_agg_exprs: int = 250       # chunk wide aggs to dodge codegen limits
    compute_correlations: bool = True
    compute_histograms: bool = True
    compute_mad: bool = True
    # Small-input fast path: a file-backed input smaller than
    # cores x 4 MiB cannot reach core-parallelism at the scan (parquet
    # row groups bound splits), so each profiling chunk runs as a
    # ~1-task pass.  When True, describe() splits the chunk lists finer
    # (wide_agg._CHUNK_CAP_SMALL) and runs more of them concurrently —
    # chunk-level concurrency with column pruning substitutes for scan
    # parallelism.  Bit-identical values under any chunking; inert for
    # non-file frames and for inputs that parallelize at the scan.
    parallelize_small_input: bool = True

    def exact(self) -> "ProfileConfig":
        """Return a copy in fully-exact mode (for oracle parity tests)."""
        return ProfileConfig(
            bins=self.bins,
            sample=self.sample,
            corr_reject=self.corr_reject,
            top_k=self.top_k,
            exact_distinct=True,
            exact_quantiles=True,
            quantiles=self.quantiles,
            fix_decimal=self.fix_decimal,
            profile_complex=self.profile_complex,
            max_agg_exprs=self.max_agg_exprs,
            compute_correlations=self.compute_correlations,
            compute_histograms=self.compute_histograms,
            compute_mad=self.compute_mad,
            parallelize_small_input=self.parallelize_small_input,
        )


DEFAULT_CONFIG = ProfileConfig()
EXACT_CONFIG = ProfileConfig().exact()
