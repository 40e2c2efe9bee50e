"""Round-16 optimization internals: the row-group count
(scan_parallelism) gating the small-scan fan-out, and describe()'s
one-partition plan."""

import pytest
from pyspark.sql import functions as F


def _write_multi_rowgroup(spark, path: str, n_groups: int) -> None:
    """Write a local parquet whose footer shows ``n_groups`` row groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = 50_000
    tbl = pa.table({"id": pa.array(range(n), type=pa.int64()),
                    "pad": pa.array([f"{i:064x}" for i in range(n)])})
    pq.write_table(tbl, path, row_group_size=n // n_groups)


def test_scan_parallelism_counts_row_groups(spark, tmp_path):
    from spark_df_profiling_spark.sources import scan_parallelism
    # non-file frame: unknowable -> None (callers must keep remedies OFF)
    assert scan_parallelism(spark.range(10)) is None
    # single-row-group file -> 1
    p1 = str(tmp_path / "one.parquet")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p1)
    assert scan_parallelism(spark.read.parquet(p1)) == 1
    # many-row-group file -> footer count, no Spark job needed
    p2 = str(tmp_path / "many.parquet")
    _write_multi_rowgroup(spark, p2, n_groups=64)
    got = scan_parallelism(spark.read.parquet(p2))
    assert got is not None and got >= 64
    # probe_cap exceeded -> None (that many files parallelize by count)
    assert scan_parallelism(spark.read.parquet(p2), probe_cap=0) is None


def test_small_scan_inert_when_row_groups_suffice(spark, tmp_path):
    """An in-band (by bytes) file whose row groups already reach core
    count must NOT be repartitioned: the scan parallelizes on its own,
    so the shuffle would be pure cost (the many-core-cluster trap from
    ADVICE r15)."""
    from spark_df_profiling_spark.sources import (
        input_bytes, parallelize_small_scan, scan_parallelism)
    cores = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "manyrg.parquet")
    _write_multi_rowgroup(spark, p, n_groups=64)
    df = spark.read.parquet(p)
    assert scan_parallelism(df) >= cores
    b = input_bytes(df)
    assert b >= (64 << 10), f"fixture too small to exercise band: {b}"
    # in the byte band, but row groups >= cores -> returned unchanged
    assert parallelize_small_scan(df) is df
    # control: a single-row-group file of similar size IS repartitioned
    p1 = str(tmp_path / "onerg.parquet")
    spark.range(200_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.mode("overwrite").parquet(p1)
    one = spark.read.parquet(p1)
    assert parallelize_small_scan(one).rdd.getNumPartitions() == cores


def test_first_digit_pow_free(spark):
    """Benford first_digit builds its scale by parsing '1e<mag>' (never
    pow): negative magnitudes like 10^-2 are not exactly representable
    and Java/libm pow land an ulp apart, which can flip floor(d0) on an
    exact-integer quotient (same class as the r15 sig() tie bug)."""
    from spark_df_profiling_spark.operators.outliers import first_digit
    vals = [0.02, 0.07, 0.001, 100.0, 999.99, 123.456, 1.0, 9.999,
            0.999999, -250.0, 0.0, None]
    want = [2, 7, 1, 1, 9, 1, 1, 9, 9, 2, None, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r.d for r in
           df.select(first_digit(F.col("v")).alias("d")).collect()]
    assert got == want


def test_first_digit_subnormals_engine_matches_oracle(spark):
    """A subnormal's magnitude reaches -324, where the parsed scale
    '1e-324' underflows to 0; both engines lift such values into the
    normal range first.  Every digit equals the first digit of the
    double's exact decimal value, and the DuckDB oracle SQL agrees."""
    from decimal import Decimal

    import duckdb

    from spark_df_profiling_spark import oracle
    from spark_df_profiling_spark.operators.outliers import first_digit

    vals = [5e-324, -1e-323, 3e-320, 7.5e-315, 2.2250738585072014e-308,
            1e-300, 4.5e-301, 123.0]
    want = [int(str(abs(Decimal(v)).normalize())[0]) for v in vals]
    assert want[0] == 4  # 4.94e-324, the smallest subnormal
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r.d for r in
           df.select(first_digit(F.col("v")).alias("d")).collect()]
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_extendedprice DOUBLE)")
    for v, d in zip(vals, want):
        con.execute("DELETE FROM lineitem")
        con.execute("INSERT INTO lineitem VALUES (?)", [v])
        hits = [int(r[1]) for r in con.execute(
            oracle._BENFORD_HIST_SQL).fetchall() if r[2]]
        assert hits == [d], (v, hits)


def test_correlation_matrix_follows_case_sensitivity(spark):
    """Column names match the way Spark resolves them: case-insensitively
    by default (first occurrence wins), exactly when
    spark.sql.caseSensitive is on."""
    from spark_df_profiling_spark.operators.correlation import (
        correlation_matrix)
    rows = [(float(i), float(2 * i + 1), float(10 - i)) for i in range(20)]
    df = spark.createDataFrame(rows, ["Alpha", "beta", "BETA"])
    out = correlation_matrix(df, ["alpha", "BETA"])
    assert out[("alpha", "BETA")] == pytest.approx(1.0)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        with pytest.raises(ValueError, match="alpha"):
            correlation_matrix(df, ["alpha", "BETA"])
        out = correlation_matrix(df, ["Alpha", "BETA"])
        assert out[("Alpha", "BETA")] == pytest.approx(-1.0)
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_correlation_matrix_backtick_names(spark):
    """Declarative correlation path must survive caller-supplied column
    names containing backticks/spaces (ADVICE r15): names are renamed
    positionally before any SQL interpolation."""
    from spark_df_profiling_spark.operators.correlation import (
        correlation_matrix)
    rows = [(float(i), float(2 * i + 1), float(10 - i)) for i in range(20)]
    df = spark.createDataFrame(rows, ["plain", "x", "y"]) \
        .withColumnRenamed("x", "a`b").withColumnRenamed("y", "c d")
    out = correlation_matrix(df, ["plain", "a`b", "c d"])
    assert out[("plain", "a`b")] == pytest.approx(1.0)
    assert out[("plain", "c d")] == pytest.approx(-1.0)
    assert out[("a`b", "c d")] == pytest.approx(-1.0)


def test_minhash_persist_release_handle(spark):
    """minhash_candidates exposes the persisted feature frame so callers
    can release the cache after materializing (ADVICE r15: it otherwise
    lives until session end)."""
    from spark_df_profiling_spark.operators.dedup import minhash_candidates
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog number %d" % (i % 3))
         for i in range(30)], ["doc_id", "text"])
    out = minhash_candidates(docs, "text", "doc_id",
                             jaccard_max_distance=0.5)
    out.count()  # materialize
    feats = getattr(out, "_minhash_features", None)
    assert feats is not None and feats.is_cached
    feats.unpersist()
    assert not feats.is_cached
    # opt-out path carries no handle
    out2 = minhash_candidates(docs, "text", "doc_id",
                              jaccard_max_distance=0.5,
                              persist_features=False)
    assert getattr(out2, "_minhash_features", None) is None


def test_local_result_frame_arrow_exactness(spark):
    """The Arrow-backed result frame (no Python-RDD boundary; every
    variables.collect() used to round-trip a Python worker) must carry
    values bit-identically to the pickled-RDD fallback — including
    >2^53 longs, NaN/inf doubles and nested freq/histogram structs."""
    import math
    from spark_df_profiling_spark.operators.profile import (
        PROFILE_SCHEMA, _local_result_frame)
    base = {f.name: None for f in PROFILE_SCHEMA.fields}
    r1 = dict(base, column="big", pos=0, dtype="bigint", type_class="NUM",
              n=2**60 + 1, count=2**60, n_missing=1,
              p_missing=float("nan"), mean=0.1 + 0.2, std=float("inf"),
              is_unique=False,
              freq=[{"value": "x", "cnt": 2**55 + 3}],
              histogram=[{"bin_left": -0.0, "bin_right": 1e-308,
                          "cnt": 7}])
    r2 = dict(base, column="nulls", pos=1, dtype="string",
              type_class="CAT", n=5, count=0, n_missing=5, is_unique=True)
    rows = [r1, r2]
    out = _local_result_frame(spark, rows)
    assert out.schema == PROFILE_SCHEMA
    a = out.collect()
    b = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), PROFILE_SCHEMA).collect()
    for ra, rb in zip(a, b):
        da = ra.asDict(recursive=True)
        db = rb.asDict(recursive=True)
        for k in da:
            va, vb = da[k], db[k]
            assert (va == vb) or (
                isinstance(va, float) and isinstance(vb, float)
                and math.isnan(va) and math.isnan(vb)), (k, va, vb)
    assert a[0]["n"] == 2**60 + 1
    assert a[0]["freq"][0]["cnt"] == 2**55 + 3


ONE_RG = "customer.parquet"  # one row group at sf0.001


def test_one_partition_plan_identical(spark, sf_dir):
    """A one-row-group file profiles over coalesce(1) (no Exchange); the
    same rows in the same order through repartition(1) take the
    standard plan.  The full describe() result must be identical, in
    default AND exact mode."""
    from spark_df_profiling_spark.config import ProfileConfig
    from spark_df_profiling_spark.operators.profile import (
        _single_partition_plan, describe)
    from spark_df_profiling_spark.sources import scan_parallelism

    df = spark.read.parquet(f"{sf_dir}/{ONE_RG}")
    std_df = df.repartition(1)
    assert scan_parallelism(df) == 1
    assert _single_partition_plan(df)
    assert not _single_partition_plan(std_df)
    for cfg in (ProfileConfig(), ProfileConfig().exact()):
        one = describe(df, cfg)
        std = describe(std_df, cfg)
        assert one.variables.collect() == std.variables.collect()
        assert one.table == std.table
        assert one.freq == std.freq
        assert one.correlations == std.correlations


def test_one_partition_plan_runs_single_stage_jobs(spark, sf_dir):
    """Every job describe() runs on a one-partition input has exactly
    one stage: no map stage, no AQE final job after an Exchange."""
    from spark_df_profiling_spark.operators.profile import describe

    sc = spark.sparkContext
    df = spark.read.parquet(f"{sf_dir}/{ONE_RG}")
    sc.setJobGroup("one-partition-describe", "one-partition describe")
    try:
        describe(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("one-partition-describe")
    assert jobs
    stages = {j: list(tracker.getJobInfo(j).stageIds) for j in jobs}
    assert all(len(s) == 1 for s in stages.values()), stages


def test_multi_partition_inputs_keep_standard_plan(spark, sf_dir, tmp_path):
    """The predicate reads the physical plan, not bytes or footers: a
    self-union of a one-file input (one input file, two partitions), a
    repartition(8) and a 64-row-group file that splits into several
    partitions keep the standard plan, while a 64-row-group file small
    enough for ONE split takes the one-partition plan."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_df_profiling_spark.operators.profile import (
        _single_partition_plan)

    df = spark.read.parquet(f"{sf_dir}/{ONE_RG}")
    union = df.union(df)
    assert len(union.inputFiles()) == 1
    assert not _single_partition_plan(union)
    assert not _single_partition_plan(df.repartition(8))

    def write(path, n):
        pad = pa.array([os.urandom(32).hex() for _ in range(n)])
        pq.write_table(pa.table({"id": pa.array(range(n)), "pad": pad}),
                       path, row_group_size=n // 64)
        return spark.read.parquet(path)

    big = write(str(tmp_path / "big.parquet"), 128_000)
    assert big.rdd.getNumPartitions() > 1
    assert not _single_partition_plan(big)
    small = write(str(tmp_path / "small.parquet"), 6_400)
    assert small.rdd.getNumPartitions() == 1
    assert _single_partition_plan(small)


def test_topk_single_phase_identical(spark):
    """sub_partitions=1 (single-phase form) must return exactly the
    two-phase result — the bucket phase only pre-prunes rows that
    cannot reach the global top-k."""
    from spark_df_profiling_spark.operators.frequency import (
        topk_frequencies)
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"]
    a = topk_frequencies(df, cols, 5)
    b = topk_frequencies(df, cols, 5, sub_partitions=1)
    assert a == b


def test_assemble_rows_cover_schema_and_arrow_path_engages(spark):
    """Every _assemble_row output must carry EVERY PROFILE_SCHEMA key:
    a missing key (r16 found jarque_bera absent on non-numeric columns)
    raises inside the Arrow result-frame builder, silently demoting
    every real profile to the pickled-RDD path whose collects
    round-trip a Python worker (~150ms vs ~15ms).  Also asserts the
    frame built from REAL describe rows is NOT RDD-backed."""
    import warnings

    from spark_df_profiling_spark.config import ProfileConfig
    from spark_df_profiling_spark.operators import profile as P

    captured = {}
    orig = P._local_result_frame

    def spy(spark_, rows):
        captured["rows"] = rows
        return orig(spark_, rows)

    P._local_result_frame = spy
    try:
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # loud-fallback warning fails
            res = P.describe(df, ProfileConfig())
            res.variables.collect()
    finally:
        P._local_result_frame = orig
    want = {f.name for f in P.PROFILE_SCHEMA.fields}
    for r in captured["rows"]:
        missing = want - set(r)
        assert not missing, f"row for {r.get('column')} missing {missing}"


def test_pass2_early_launch_const_columns_unchanged(spark):
    """Pass 2 now launches from BASE classes as soon as the light
    pass-1 chunks join (before the HLL distinct chunks finish).  The
    only base-vs-resolved divergence is a column that resolves CONST:
    its MAD/histogram expressions are computed but never read.  Pin the
    visible contract: CONST numeric/date columns still report
    type_class CONST with mad/histogram/quantiles all None, and normal
    columns still get their pass-2 stats."""
    import datetime as dt

    from spark_df_profiling_spark.config import ProfileConfig
    from spark_df_profiling_spark.operators.profile import describe

    rows = [(7.5, dt.date(2020, 1, 1), float(i), i % 3) for i in range(50)]
    df = spark.createDataFrame(
        rows, "const_num double, const_date date, x double, y bigint")
    out = {r["column"]: r for r in
           describe(df, ProfileConfig()).variables.collect()}
    for c in ("const_num", "const_date"):
        r = out[c]
        assert r["type_class"] == "CONST"
        assert r["mad"] is None and r["histogram"] is None
        assert r["q50"] is None
    assert out["x"]["mad"] is not None
    assert out["x"]["histogram"] is not None and len(out["x"]["histogram"]) == 10
    assert out["x"]["q50"] is not None
