"""The PSI drift family shares one bucket / count / fold kernel
(``operators/drift.py``): the batch windowed monitor and the streaming
one must bucket and fold identically, both reference fitters must
return the same tuple, and the bucketed tests take any column name."""

import os

import pytest

from pyspark.sql import functions as F


def test_windowed_psi_scores_constant_reference(spark):
    # a constant reference column puts every value in bucket 0, the
    # same rule streaming_psi applies; no division by a zero width
    from spark_df_profiling_spark.operators.drift import (
        psi_reference, windowed_psi)
    from spark_df_profiling_spark.streaming import streaming_psi
    base = 1_700_006_400  # a UTC midnight
    rows = [(base + day * 86_400 + i, float(day * i % 7))
            for day in range(2) for i in range(50)]
    df = spark.createDataFrame(rows, "sec long, value double") \
        .select(F.timestamp_seconds("sec").alias("ts_ts"), "value")
    ref = psi_reference(spark.range(10).select(
        F.lit(3.0).alias("value")), "value", bins=4)
    assert ref == (3.0, 3.0, [1.0, 0.0, 0.0, 0.0])
    got = sorted(tuple(r) for r in windowed_psi(
        df, "ts_ts", "value", ref, "1 day").collect())
    assert [(r[2], r[3], r[4]) for r in got] == [(50, 0.0, "stable")] * 2
    twin = sorted(tuple(r)[:4] for r in streaming_psi(
        df, "ts_ts", "value", ref, window="1 day").collect())
    assert twin == [r[:4] for r in got]


def test_reference_fits_and_windowed_paths_agree(spark, sf_dir):
    from spark_df_profiling_spark.operators.drift import (
        psi_reference, reference_histogram, windowed_psi)
    from spark_df_profiling_spark.sources import with_event_time
    from spark_df_profiling_spark.streaming import streaming_psi
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    ev = with_event_time(spark.read.parquet(f"{sf}/events.parquet"))
    ref = reference_histogram(ev, "value", bins=8)
    assert ref == psi_reference(ev, "value", bins=8)
    batch = {r["window_start"]: (r["n"], r["psi"]) for r in windowed_psi(
        ev, "ts_ts", "value", ref, "1 day").collect()}
    twin = {r["window_start"]: (r["n"], r["psi"]) for r in streaming_psi(
        ev, "ts_ts", "value", ref, window="1 day").collect()}
    assert len(batch) > 1
    assert twin == batch


NAMES = ["it's", "a.b", "x`y"]


def _drift_call(name, ref, new):
    from spark_df_profiling_spark.operators import drift as D
    if name == "psi_by_group":
        return D.psi_by_group(ref, new, "g", NAMES)
    return getattr(D, name)(ref, new, NAMES)


@pytest.mark.parametrize("name", [
    "psi_numeric", "jsd_numeric", "psi_categorical", "jsd_categorical",
    "chi2_drift", "psi_by_group", "welch_ttest"])
def test_drift_family_takes_any_column_name(spark, name):
    # a quote, a dot and a backtick are part of a column's name: the
    # names travel as literals and quoted references, never as SQL text
    def frame(shift):
        return spark.range(100).select(
            (F.col("id") % 2).alias("g"),
            *[((F.col("id") + shift * k) % 7).alias(c)
              for k, c in enumerate(NAMES, 1)])
    got = _drift_call(name, frame(0), frame(1)).collect()
    assert sorted({r["column"] for r in got}) == sorted(NAMES)
