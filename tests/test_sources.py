"""Source/sink connectors: format round-trips + profile sink."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_df_profiling_spark import profile
from spark_df_profiling_spark.sources import (
    load_all, load_table, read_any, write_profile)


def test_load_table_and_all(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    assert li.count() == 6000
    tables = load_all(spark, sf_dir)
    assert set(tables) >= {"region", "nation", "customer", "lineitem",
                           "documents", "embeddings"}


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_format_roundtrip(spark, lineitem, fmt, tmp_path):
    src = lineitem.select("l_orderkey", "l_quantity", "l_returnflag") \
        .limit(100)
    path = os.path.join(str(tmp_path), f"rt.{fmt}")
    src.write.format(fmt).option("header", "true").save(path)
    back = read_any(spark, path, fmt=fmt)
    assert back.count() == 100
    # values survive (csv/json go through text, so compare after cast)
    a = src.agg(F.sum("l_orderkey"), F.sum("l_quantity")).collect()[0]
    b = back.select(
        F.col("l_orderkey").cast("long"),
        F.col("l_quantity").cast("double")) \
        .agg(F.sum("l_orderkey"), F.sum("l_quantity")).collect()[0]
    assert a[0] == b[0]
    assert a[1] == pytest.approx(b[1])


def test_profile_any_format(spark, lineitem, tmp_path):
    path = os.path.join(str(tmp_path), "li.csv")
    lineitem.limit(200).write.option("header", "true").csv(path)
    df = read_any(spark, path, fmt="csv")
    prof = profile(df)
    rows = {r["column"]: r for r in prof.collect()}
    # csv inferSchema keeps numerics numeric
    assert rows["l_extendedprice"]["type_class"] == "NUM"
    assert rows["l_returnflag"]["type_class"] == "CAT"


def test_write_profile_sink(spark, lineitem, tmp_path):
    prof = profile(lineitem)
    out = os.path.join(str(tmp_path), "profile_out")
    write_profile(prof, out)
    back = spark.read.parquet(out)
    assert back.count() == 11
    assert set(back.columns) == set(prof.columns)
    # histogram/freq nested structures survive the parquet round-trip
    r = {x["column"]: x for x in back.collect()}
    assert r["l_extendedprice"]["histogram"] is not None
    assert r["l_returnflag"]["freq"] is not None


def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    from spark_df_profiling_spark.sources import write_partitioned
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(d, out, ["lang"])
    back = spark.read.parquet(out)
    assert back.count() == d.count()
    # partition pruning: a lang filter must reach the scan as a
    # PartitionFilter, not a data filter over all files
    plan = back.where(F.col("lang") == "en")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_write_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from spark_df_profiling_spark.sources import write_bucketed
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_bucketed(d.select("doc_id", "lang"), "b_left", ["doc_id"],
                   num_buckets=8, sort_cols=["doc_id"])
    write_bucketed(d.select("doc_id", "source"), "b_right", ["doc_id"],
                   num_buckets=8, sort_cols=["doc_id"])
    j = spark.table("b_left").join(spark.table("b_right"), "doc_id")
    assert j.count() == d.count()
    # co-bucketed join: no shuffle on either side
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_streaming_dedup_matches_batch(spark, sf_dir):
    from spark_df_profiling_spark.streaming import (
        events_stream, run_stream_to_memory, streaming_dedup)
    stream = events_stream(spark, sf_dir)
    deduped = streaming_dedup(stream, ["user_id", "event_type"],
                              watermark="10 days")
    run_stream_to_memory(deduped.select("user_id", "event_type"),
                         "stream_dedup_out", output_mode="append")
    got = spark.table("stream_dedup_out").count()
    # batch oracle: same distinct key count (test data spans < watermark,
    # so the within-watermark semantics equal global dropDuplicates)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = ev.select("user_id", "event_type").distinct().count()
    assert got == want


def test_build_session_tuned_defaults(spark, session_conf):
    from spark_df_profiling_spark.session import build_session
    s = build_session()  # getOrCreate: returns the shared session
    assert s.conf.get("spark.sql.adaptive.enabled") == "true"
    assert s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    got = int(s.conf.get("spark.sql.shuffle.partitions"))
    assert got == 2 * s.sparkContext.defaultParallelism


def test_write_partitioned_sorted_rowgroups(spark, sf_dir, tmp_path):
    """sort_by clusters rows so parquet row-group min/max stats are
    selective: with one sorted file per partition, a tight doc_id range
    filter must still return exactly the right rows (stats correctness),
    and the footer stats must be disjoint-ordered."""
    from spark_df_profiling_spark.sources import write_partitioned
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_sorted")
    write_partitioned(d.repartition(1), out, ["lang"],
                      sort_by=["doc_id"], max_records_per_file=50)
    back = spark.read.parquet(out)
    got = back.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
    exp = d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 110))
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) \
        == sorted(r["doc_id"] for r in exp.select("doc_id").collect())
    # footer check: within one partition directory, per-file doc_id
    # ranges must not interleave (the sort actually happened)
    import glob
    import pyarrow.parquet as pq
    for langdir in glob.glob(f"{out}/lang=*"):
        ranges = []
        for f in sorted(glob.glob(f"{langdir}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index("doc_id")
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            ranges.append((lo, hi))
        ranges.sort()
        for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
            assert hi_prev <= lo_next


# ---------------------------------------------------------------------------
# Event-time normalization: the single ts_ts constructor must adapt to
# every physical encoding the driver's events.parquet has shipped.
# ---------------------------------------------------------------------------
def test_event_time_adapts_to_all_dtypes(spark):
    import datetime as dt

    from spark_df_profiling_spark.sources import (
        event_time_micros, with_event_time)

    naive = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    micros = 1_704_164_645_123_456  # epoch micros of that wall clock (UTC)

    as_long = spark.createDataFrame(
        [(micros * 1000,)], "ts long")                 # legacy epoch-nanos
    as_ntz = spark.sql(
        f"SELECT TIMESTAMP_NTZ '{naive.isoformat(sep=' ')}' AS ts")
    as_ltz = spark.sql(f"SELECT timestamp_micros({micros}) AS ts")

    for df in (as_long, as_ntz, as_ltz):
        got = df.select(event_time_micros(df).alias("m")).collect()[0]["m"]
        assert got == micros, df.dtypes
        out = with_event_time(df)
        assert dict(out.dtypes)["ts_ts"] == "timestamp", df.dtypes
        ep = out.select(
            F.unix_micros(F.col("ts_ts")).alias("m")).collect()[0]["m"]
        assert ep == micros, df.dtypes


def test_event_time_rejects_unsupported_dtype(spark):
    from spark_df_profiling_spark.sources import event_time_micros

    df = spark.createDataFrame([("x",)], "ts string")
    with pytest.raises(TypeError, match="unsupported event-time dtype"):
        event_time_micros(df)


def test_load_events_attaches_ts_ts(spark, sf_dir):
    from spark_df_profiling_spark.sources import load_events

    ev = load_events(spark, sf_dir)
    assert dict(ev.dtypes)["ts_ts"] == "timestamp"
    assert ev.where(F.col("ts_ts").isNull()).count() == 0
