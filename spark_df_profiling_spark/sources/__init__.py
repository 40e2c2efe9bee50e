"""Source connectors: load the test tables / arbitrary formats.

The reference takes a ready-made DataFrame (no source layer of its own);
these helpers standardize how the engine reads inputs.  All readers go
through ``spark.read`` so Catalyst's pushdown/pruning applies (filters and
column selections reach the parquet scan — verify with
``df.explain('formatted')``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Naive (timezone-less) epoch origin — the anchor for all event-time
# arithmetic so no computation ever consults the session timezone.
_NAIVE_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def event_time_micros(df: DataFrame, ts_col: str = "ts") -> Column:
    """Epoch microseconds of an event timestamp, whatever physical type
    the parquet writer of the day produced.  Timezone-independent.

    The driver's ``events.parquet`` has shipped two encodings so far:

    * ``timestamp[ns]`` — Spark 4 reads it only with
      ``spark.sql.legacy.parquet.nanosAsLong``, i.e. a LONG of
      epoch-nanoseconds → integer-div to micros;
    * ``timestamp[us]`` (isAdjustedToUTC=false) — Spark reads
      ``TIMESTAMP_NTZ`` → wall-clock diff from the naive epoch, which is
      exactly DuckDB's ``epoch_ns(ts) // 1000`` on its naive TIMESTAMP.

    A proper instant (``TimestampType``) goes through ``unix_micros``.
    Every operator and oracle adapter derives its numeric event time from
    THIS function so the next schema drift is a one-line fix, not seven
    broken queries.
    """
    dt = df.schema[ts_col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"`{ts_col}` div 1000")
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, {_NAIVE_EPOCH}, "
                      f"`{ts_col}`)")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(F.col(ts_col))
    raise TypeError(
        f"unsupported event-time dtype {dt.simpleString()} for "
        f"column {ts_col!r}; expected long (epoch nanos), timestamp, "
        f"or timestamp_ntz")


def with_event_time(df: DataFrame, ts_col: str = "ts",
                    out_col: str = "ts_ts") -> DataFrame:
    """Attach a timestamp-typed event-time column ``out_col``, adapting
    to the stored dtype of ``ts_col`` (see :func:`event_time_micros`).

    This is the ONLY place in the repo that constructs ``ts_ts`` — every
    windowed/session/stateful consumer routes through here, so a driver
    data refresh that changes the physical type cannot silently break
    call sites again.

    ``ts_ts`` is always LTZ ``TimestampType``: Structured Streaming
    watermarks reject TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
    so NTZ wall-clocks become the instant with the same epoch micros via
    ``timestamp_micros`` — a timezone-free construction (no session-tz
    cast anywhere).  Downstream ``window()``/``session_window()`` bounds
    are epoch-aligned (1970-01-01 UTC), so day/hour buckets agree exactly
    with DuckDB's ``epoch(ts) // width`` on its naive TIMESTAMP.
    """
    dt = df.schema[ts_col].dataType
    if isinstance(dt, T.TimestampType):
        col = F.col(ts_col)
    else:
        col = F.timestamp_micros(event_time_micros(df, ts_col))
    return df.withColumn(out_col, col)


def load_events(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                event_time: bool = True) -> DataFrame:
    """Schema-robust events loader: read + normalized ``ts_ts``.

    Sets the nanos-as-long legacy conf BEFORE the read so a
    ``timestamp[ns]`` file loads at all (harmless for other encodings),
    then lets :func:`with_event_time` adapt to whatever arrived.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return with_event_time(df) if event_time else df


def load_table(spark: SparkSession, name: str,
               sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one test table (parquet)."""
    if name == "events":
        return load_events(spark, sf_dir, event_time=False)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession,
             sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def input_bytes(df: DataFrame, files: "list[str] | None" = None) -> int:
    """Total size of the DataFrame's input files (metadata only, no job).

    Local file:// paths are sized via the OS; anything else returns 0
    rather than issuing remote filesystem calls from the driver.
    ``files`` lets a caller that already fetched ``df.inputFiles()``
    skip the repeat py4j round-trip (~10-30ms each — describe() needs
    the file list three times per table otherwise).
    """
    total = 0
    try:
        for f in (df.inputFiles() if files is None else files):
            if f.startswith("file:"):
                p = f[len("file:"):]
                while p.startswith("//"):
                    p = p[1:]
                if os.path.exists(p):
                    total += os.path.getsize(p)
    except Exception:
        return 0
    return total


def scan_parallelism(df: DataFrame, probe_cap: int = 256,
                     files: "list[str] | None" = None) -> int | None:
    """Upper bound on the frame's achievable parquet-scan task count:
    the total ROW-GROUP count of its input files (splits cannot go below
    row-group granularity).  Footer metadata only — no Spark job, a few
    hundred µs per file.

    Returns ``None`` when the bound cannot be determined cheaply — a
    non-file frame, a non-local path, an unreadable/non-parquet footer,
    or more than ``probe_cap`` files (that many files already scan in
    parallel by file count alone).  Callers must treat ``None`` as "the
    scan parallelizes fine" and keep small-input remedies OFF: the
    remedies are only safe when the scan provably cannot fan out.
    """
    if files is None:
        try:
            files = df.inputFiles()
        except Exception:
            return None
    paths: list[str] = []
    for f in files:
        if not f.startswith("file:"):
            return None
        p = f[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        paths.append(p)
    if not paths or len(paths) > probe_cap:
        return None
    try:
        import pyarrow.parquet as pq
        return sum(pq.ParquetFile(p).metadata.num_row_groups
                   for p in paths)
    except Exception:
        return None


def read_any(spark: SparkSession, path: str, fmt: str | None = None,
             **options) -> DataFrame:
    """Generic reader: parquet/csv/json/orc by extension or explicit fmt."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        fmt = {"pq": "parquet"}.get(ext, ext) or "parquet"
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.options(**options).format(fmt).load(path)


def write_profile(profile_df: DataFrame, path: str,
                  mode: str = "overwrite") -> None:
    """Persist a profile DataFrame as parquet (the engine's native sink)."""
    profile_df.write.mode(mode).parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite",
                      max_records_per_file: int | None = None,
                      sort_by: list[str] | None = None) -> None:
    """Partition-pruned sink: one directory level per partition column.

    The 100 TB layout decision: downstream queries filtering on
    ``partition_cols`` (date, source, lang...) prune whole directories
    at planning time instead of scanning.  Choose LOW-cardinality
    columns — a high-cardinality partition column creates millions of
    tiny files (the classic small-files failure).
    ``max_records_per_file`` caps file size for post-shuffle skew.

    ``sort_by`` clusters rows within each output task before writing, so
    parquet row-group min/max stats become selective on those columns —
    point/range filters then skip whole row groups at scan time (the
    data-skipping layer BELOW directory pruning; pick the columns the
    hot queries filter on, e.g. a timestamp or id).
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str],
                   num_buckets: int = 64, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed sink (saveAsTable — bucketing needs catalog metadata).

    Pre-shuffles rows into ``num_buckets`` stable hash buckets on
    ``bucket_cols``; two tables bucketed the same way join WITHOUT a
    shuffle (Exchange disappears from the plan), which is how repeated
    big-big joins amortize their shuffle at scale.  ``sort_cols`` also
    pre-sorts within buckets (sort-merge join skips its sort).
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def file_row_stats(df: DataFrame, top_k: int = 20) -> DataFrame:
    """Small-file / skewed-file audit for an EXISTING file-backed
    dataset (the post-write twin of ``layout.partition_advisor``):
    rows per input file via ``input_file_name()``, plus the summary
    every compaction decision needs — one row per file, smallest
    first: ``(file, n_rows, p_rows, rank_asc)``, capped at ``top_k``
    smallest + ``top_k`` largest files (a 100 TB dataset has millions
    of files; the extremes are the decision input, the middle is
    noise).

    Only meaningful on a frame read directly from files —
    ``input_file_name()`` returns '' after joins/shuffles; rows with
    an empty file name group under ``<no-file>``.

    Plan: ONE map-side-combined groupBy on the file name (#files
    rows), a broadcast one-row total, and two TakeOrdered top-k's —
    never a global sort of the file list.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1: {top_k}")
    per_file = (df.select(F.coalesce(
        F.nullif(F.input_file_name(), F.lit("")),
        F.lit("<no-file>")).alias("file"))
        .groupBy("file").agg(F.count(F.lit(1)).alias("n_rows")))
    total = per_file.agg(F.sum("n_rows").alias("__t"))
    smallest = per_file.orderBy(F.asc("n_rows"), F.asc("file")) \
        .limit(top_k)
    largest = per_file.orderBy(F.desc("n_rows"), F.asc("file")) \
        .limit(top_k)
    from pyspark.sql import Window
    w = Window.orderBy(F.asc("n_rows"), F.asc("file"))
    return (smallest.unionByName(largest).distinct()
            .crossJoin(F.broadcast(total))
            .withColumn("p_rows",
                        F.col("n_rows").cast("double") / F.col("__t"))
            .withColumn("rank_asc", F.row_number().over(w))
            .drop("__t"))
