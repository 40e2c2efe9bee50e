"""Profiling configuration.

One config object controls the exact-vs-approximate duality everywhere
(SURVEY.md §7 "what's hard" item 2): the DuckDB oracle runs in exact mode,
the 100 TB scale path defaults to sketches (HLL++ distinct counts,
percentile_approx quantiles).
"""

from __future__ import annotations

from dataclasses import dataclass, replace


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
    # Chunk sizes (plans.wide_agg._CHUNK_CAP) and describe()'s in-flight
    # job gate are constants, not settings.
    compute_correlations: bool = True
    compute_histograms: bool = True
    compute_mad: bool = True

    def exact(self) -> "ProfileConfig":
        """Return a copy in fully-exact mode (for oracle parity tests)."""
        return replace(self, exact_distinct=True, exact_quantiles=True)


DEFAULT_CONFIG = ProfileConfig()
EXACT_CONFIG = ProfileConfig().exact()
