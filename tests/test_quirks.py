"""Reference-quirk semantics tests (SURVEY §5 item 3, FIXTURES.md Part B).

The driver tables contain no nulls / constants / infinities / correlated
pairs, so these branches are pinned with constructed DataFrames.
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from spark_df_profiling_spark import ProfileConfig, describe
from spark_df_profiling_spark.config import EXACT_CONFIG


def _rows(res):
    return {r["column"]: r.asDict(recursive=True)
            for r in res.variables.collect()}


def test_type_error_on_non_dataframe():
    with pytest.raises(TypeError):
        describe([1, 2, 3])


def test_value_error_on_empty(spark):
    empty = spark.createDataFrame([], "a bigint, b string")
    with pytest.raises(ValueError):
        describe(empty)


def test_nulls_and_missing(spark):
    # FIXTURES B.2 q_null30: 30% nulls; moments over non-null values only
    n = 1000
    data = [(None if i % 10 < 3 else i * 0.5,) for i in range(n)]
    df = spark.createDataFrame(data, "q_null30 double")
    rows = _rows(describe(df, EXACT_CONFIG))
    r = rows["q_null30"]
    assert r["n"] == n
    assert r["count"] == 700
    assert r["n_missing"] == 300
    assert r["p_missing"] == pytest.approx(0.3)
    vals = [i * 0.5 for i in range(n) if i % 10 >= 3]
    assert r["mean"] == pytest.approx(sum(vals) / len(vals), rel=1e-9)


def test_constant_and_allnull(spark):
    df = spark.createDataFrame(
        [("same", 3.14, None) for _ in range(100)],
        "q_const_str string, q_const_num double, q_allnull double")
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_const_str"]["type_class"] == "CONST"
    assert rows["q_const_str"]["first_value"] == "same"
    # CONST beats NUM (dispatch precedence)
    assert rows["q_const_num"]["type_class"] == "CONST"
    # all-null: distinct == 0 → CONST; must not crash moment kernels
    assert rows["q_allnull"]["type_class"] == "CONST"
    assert rows["q_allnull"]["n_missing"] == 100


def test_unique_vs_num_precedence(spark):
    # SURVEY §1.2 U6 order: int dtype wins over UNIQUE; strings with
    # distinct == n become UNIQUE.
    df = spark.createDataFrame(
        [(i, f"name_{i:04d}") for i in range(200)],
        "q_id bigint, q_name string")
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_id"]["type_class"] == "NUM"
    assert rows["q_id"]["is_unique"] is True
    assert rows["q_name"]["type_class"] == "UNIQUE"


def test_boolean_is_categorical(spark):
    df = spark.createDataFrame([(i % 3 == 0,) for i in range(90)],
                               "q_bool boolean")
    rows = _rows(describe(df, EXACT_CONFIG))
    r = rows["q_bool"]
    assert r["type_class"] == "CAT"
    assert r["distinct_count"] == 2
    assert r["top_value"] == "false"
    assert r["top_freq"] == 60


def test_infinity_counted(spark):
    # Reference hardcodes n_infinite = 0 (base.py::describe_1d); we count.
    n = 1000
    data = [(float("inf") if i % 100 == 0 else
             (float("-inf") if i % 100 == 1 else math.sin(i)),)
            for i in range(n)]
    df = spark.createDataFrame(data, "q_inf double")
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_inf"]["n_infinite"] == 20
    assert rows["q_inf"]["p_infinite"] == pytest.approx(0.02)


def test_nan_counted(spark):
    n = 500
    data = [(float("nan") if i % 100 == 0 else math.cos(i),)
            for i in range(n)]
    df = spark.createDataFrame(data, "q_nan double")
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_nan"]["n_nan"] == 5


def test_decimal_dispatch_fixed_and_quirk(spark):
    from decimal import Decimal
    data = [(Decimal(i) / 100,) for i in range(100)]
    schema = T.StructType([T.StructField("q_dec", T.DecimalType(12, 2))])
    df = spark.createDataFrame(data, schema)
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_dec"]["type_class"] == "NUM"  # fix_decimal default
    quirk = ProfileConfig(fix_decimal=False, exact_distinct=True,
                          exact_quantiles=True)
    rows2 = _rows(describe(df, quirk))
    # reference quirk preserved: decimal falls through to CAT/UNIQUE path
    assert rows2["q_dec"]["type_class"] == "UNIQUE"


def test_complex_types_profiled(spark):
    # Reference raises NotImplementedError (with the "stuct" typo guard);
    # we profile size stats for array/map and count/distinct for struct.
    df = spark.createDataFrame(
        [Row(q_arr=[i, i + 1], q_map={"k": i % 10},
             q_struct=Row(a=i % 5, b="x")) for i in range(50)])
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_arr"]["type_class"] == "ARRAY"
    assert rows["q_arr"]["mean_size"] == 2.0
    assert rows["q_map"]["type_class"] == "MAP"
    assert rows["q_struct"]["type_class"] == "STRUCT"
    assert rows["q_struct"]["distinct_count"] == 5


def test_corr_rejection_greedy_signed(spark):
    # FIXTURES B.3: cy ≈ 2*cx + noise → rejected by cx; anti-correlated
    # c_anti (rho ≈ −1) is NOT rejected (signed threshold test).
    n = 2000
    data = [(float(i),
             2.0 * i + ((i * 48271) % 65536) / 65536.0,
             math.sin(i),
             -float(i) + ((i * 48271) % 65536) / 65536.0 * 1e-3)
            for i in range(n)]
    df = spark.createDataFrame(data, "cx double, cy double, cz double, "
                                     "c_anti double")
    res = describe(df, EXACT_CONFIG)
    assert set(res.rejected) == {"cy"}
    kept, rho = res.rejected["cy"]
    assert kept == "cx"
    assert rho > 0.999
    assert res.get_rejected_variables(0.9) == ["cy"]
    rows = _rows(res)
    assert rows["cy"]["type_class"] == "CORR"
    assert rows["cy"]["corr_with"] == "cx"
    assert rows["c_anti"]["type_class"] == "NUM"


def test_corr_listwise_deletion(spark):
    # Reference does na.drop(how='any') across ALL NUM columns first.
    n = 700
    data = [(None if i % 7 == 0 else float(i), float(i), float(n - i))
            for i in range(n)]
    df = spark.createDataFrame(data, "c_null double, cx double, cy double")
    res = describe(df, EXACT_CONFIG)
    # cx and cy are exactly anti-correlated → not rejected, but present
    assert res.correlations[("cx", "cy")] == pytest.approx(-1.0, abs=1e-9)
    # c_null equals cx where present → corr 1.0 on the surviving rows;
    # cx is rejected by c_null (c_null comes first in column order)
    assert "cx" in res.rejected
    assert res.rejected["cx"][0] == "c_null"


def test_mean_zero_cv_none(spark):
    df = spark.createDataFrame(
        [(1.0 if i % 2 == 0 else -1.0,) for i in range(100)],
        "q_mean_zero double")
    rows = _rows(describe(df, EXACT_CONFIG))
    assert rows["q_mean_zero"]["mean"] == pytest.approx(0.0)
    assert rows["q_mean_zero"]["cv"] is None


def test_single_value_histogram_degenerate(spark):
    data = [(41.0,)] + [(42.0,)] * 99
    df = spark.createDataFrame(data, "q double")
    cfg = ProfileConfig(exact_distinct=True, exact_quantiles=True,
                        corr_reject=None)
    rows = _rows(describe(df, cfg))
    hist = rows["q"]["histogram"]
    assert sum(b["cnt"] for b in hist) == 100


def test_single_row_table(spark):
    df = spark.createDataFrame([(1, "x", 2.5)], "a bigint, b string, c double")
    rows = _rows(describe(df, EXACT_CONFIG))
    # one row: every column is CONST (distinct == 1 wins over dtype)
    assert all(r["type_class"] == "CONST" for r in rows.values())
    assert rows["c"]["n"] == 1


def test_duplicate_column_names(spark):
    # Spark allows duplicate output names; safe positional aliasing must
    # keep both profiles apart
    df = spark.createDataFrame([(i, i * 2.0) for i in range(50)],
                               "x bigint, y double") \
        .selectExpr("x", "y as x")
    res = describe(df, EXACT_CONFIG)
    rows = res.variables.collect()
    assert len(rows) == 2
    assert [r["column"] for r in rows] == ["x", "x"]
    assert {r["pos"] for r in rows} == {0, 1}
    means = sorted(r["mean"] for r in rows)
    assert means[1] == pytest.approx(2 * means[0])


def test_all_columns_null(spark):
    df = spark.createDataFrame([(None, None)] * 10,
                               "a double, b string")
    rows = _rows(describe(df, EXACT_CONFIG))
    for r in rows.values():
        assert r["type_class"] == "CONST"
        assert r["count"] == 0
        assert r["n_missing"] == 10
        assert r["first_value"] is None


def test_profile_events_table_with_ntz_timestamp(spark, sf_dir):
    # events.ts is TIMESTAMP_NTZ in the current driver data; both it and
    # the normalized LTZ ts_ts must profile as DATE-class with real
    # min/max (regression guard for the r4 schema-drift breakage)
    from spark_df_profiling_spark import profile
    from spark_df_profiling_spark.sources import load_events
    ev = load_events(spark, sf_dir)
    rows = {r["column"]: r for r in profile(ev).collect()}
    for col in ("ts", "ts_ts"):
        assert rows[col]["type_class"] == "DATE", rows[col]
        assert rows[col]["min_date"] is not None
        assert rows[col]["max_date"] is not None
        assert rows[col]["range_seconds"] > 0
