"""Drop-in compatibility shim for the reference package name.

Users of the public ``julioasotodv/spark-df-profiling`` (v1.1.13) do::

    import spark_df_profiling
    report = spark_df_profiling.ProfileReport(df, bins=10, sample=5,
                                              corr_reject=0.9)
    report.get_rejected_variables(threshold=0.9)
    report.to_file("report.html")

This module preserves that exact surface (``__init__.py::ProfileReport``
in the reference, function-level citations per SURVEY.md §0) while
delegating every computation to the Spark-native engine in
``spark_df_profiling_spark`` — same statistics, 8 Spark jobs per table on a
one-partition input (perfbench ``profile.jobs``) instead of ~12 per
column.  ``get_description()`` returns the reference's ``{'table',
'variables', 'freq'}`` dict shape with a pandas ``variables`` frame using
the reference's column names (``5%``, ``25%`` ..., ``type``, ``top``,
``freq``, ``correlation``), so downstream code written against the
reference keeps working.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from spark_df_profiling.base import describe, to_html
from spark_df_profiling_spark.report import ProfileReport as _EngineReport

__version__ = "1.1.13+spark-native"

__all__ = ["ProfileReport", "describe", "to_html", "__version__"]


class ProfileReport:
    """Reference-compatible report object (``__init__.py::ProfileReport``).

    Same constructor signature and public methods as v1.1.13; statistics
    come from the single-pass engine.
    """

    def __init__(self, df: DataFrame, bins: int = 10, sample: int = 5,
                 corr_reject: float = 0.9, **kwargs: Any):
        self._engine = _EngineReport(df, bins=bins, sample=sample,
                                     corr_reject=corr_reject)
        self.description_set = _to_reference_description(
            self._engine.description)
        self.html = self._engine.html()

    def get_description(self) -> dict[str, Any]:
        return self.description_set

    def get_rejected_variables(self, threshold: float = 0.9) -> list[str]:
        return self._engine.get_rejected_variables(threshold)

    def to_file(self, outputfile: str) -> None:
        self._engine.to_file(outputfile)

    def rendered_html(self) -> str:
        return self._engine.rendered_html()

    def _repr_html_(self) -> str:
        return self._engine._repr_html_()

    def __str__(self) -> str:
        return f"Output written to file: see to_file(); {len(self.html)}b"


# Reference stat-name mapping: our profile DataFrame columns -> the
# pandas-profiling v1.x names the reference's `variables` frame uses.
_STAT_MAP = [
    ("count", "count"),
    ("distinct_count", "distinct_count"),
    ("p_missing", "p_missing"),
    ("n_missing", "n_missing"),
    ("p_unique", "p_unique"),
    ("is_unique", "is_unique"),
    ("mean", "mean"),
    ("std", "std"),
    ("variance", "variance"),
    ("min_num", "min"),
    ("max_num", "max"),
    ("range_num", "range"),
    ("q05", "5%"),
    ("q25", "25%"),
    ("q50", "50%"),
    ("q75", "75%"),
    ("q95", "95%"),
    ("iqr", "iqr"),
    ("cv", "cv"),
    ("mad", "mad"),
    ("skewness", "skewness"),
    ("kurtosis", "kurtosis"),
    ("sum_value", "sum"),
    ("n_zeros", "n_zeros"),
    ("p_zeros", "p_zeros"),
    ("n_infinite", "n_infinite"),
    ("p_infinite", "p_infinite"),
    ("top_value", "top"),
    ("top_freq", "freq"),
    ("corr_value", "correlation"),
    ("corr_with", "correlation_var"),
]


def _to_reference_description(res) -> dict[str, Any]:
    """ProfileResult -> the reference's ``{'table','variables','freq'}``."""
    import pandas as pd

    rows = [r.asDict(recursive=True) for r in res.variables.collect()]
    data = {}
    for r in rows:
        stats = {ref: r.get(ours) for ours, ref in _STAT_MAP}
        # NUM_INT/NUM_FLOAT render as NUM; date extremes map to min/max
        stats["type"] = r["type_class"]
        if r["type_class"] == "DATE":
            stats["min"] = r.get("min_date")
            stats["max"] = r.get("max_date")
        data[r["column"]] = stats
    variables = pd.DataFrame(data).T
    # column order: reference puts count/distinct/type first-ish; keep a
    # stable, readable order
    ordered = ["type"] + [ref for _, ref in _STAT_MAP]
    variables = variables[[c for c in ordered if c in variables.columns]]

    freq = {col: pd.Series({v: c for v, c in pairs})
            for col, pairs in res.freq.items()}

    t = res.table
    table = {
        "n": t["n"],
        "nvar": t["nvar"],
        "total_missing": t["total_missing"],
        "n_duplicates": t.get("n_duplicates"),
        "memsize": t.get("memsize", 0),
        "recordsize": (t.get("memsize", 0) / t["n"]) if t["n"] else 0,
        "REJECTED": t.get("rejected", 0),
    }
    for cls, cnt in t.get("types", {}).items():
        table[cls] = cnt
    return {"table": table, "variables": variables, "freq": freq}
