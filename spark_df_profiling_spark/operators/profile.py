"""The profiling core: ``profile(df) -> DataFrame`` (one row per column).

Re-implements the full statistics surface of the reference's
``base.py::describe`` (public v1.1.13 — SURVEY.md §2) with the idiomatic
Spark lifecycle from SURVEY §3:

    pass 0  schema-only type dispatch                       (no job)
    pass 1  wide aggs split into buffer-class chunks: light
            counts/moments/zeros/infinities/min/max, sketch
            distincts, pair chunks of covar/stddev Pearson
            exprs (<= 50 num cols, 40 pairs a chunk)         (1 job/chunk)
            object quantile sketches, concurrent with pass 1 (1 job/chunk)
            all categorical top-k freqs, one stacked group-by (1 job)
    pass 2  MAD + histograms (need pass-1 mean/min/max)      (1 job/chunk)

The chunks run concurrently.  On a one-partition input every query runs
over ``coalesce(1)`` as one single-stage job: perfbench's
``profile.jobs`` measures 8 jobs per table on its catalog.  On other
inputs each query also has a map stage before its Exchange, which AQE
runs as a job of its own, so the count roughly doubles.  Either way it
is O(#chunks), vs the reference's O(#stats x #cols + k^2) jobs.

The result is a *Spark DataFrame* of per-column statistics — nothing
scale-dependent is collected to the driver (only O(#cols) aggregate
scalars cross py4j).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import math
import threading
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_df_profiling_spark import schema as S
from spark_df_profiling_spark.config import DEFAULT_CONFIG, ProfileConfig
from spark_df_profiling_spark.operators import correlation as C
from spark_df_profiling_spark.operators import frequency as FR
from spark_df_profiling_spark.plans import wide_agg as W
from spark_df_profiling_spark.session import wide_codegen
from spark_df_profiling_spark.sources import input_bytes
# unused here; kept importable because perfbench/trace.py wraps it by name
from spark_df_profiling_spark.sources import scan_parallelism  # noqa: F401

# Explicit result schema — stable across inputs (the driver smoke check
# requires a stable schema for entry()).
PROFILE_SCHEMA = T.StructType([
    T.StructField("column", T.StringType(), False),
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("dtype", T.StringType(), False),
    T.StructField("type_class", T.StringType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("count", T.LongType(), False),
    T.StructField("n_missing", T.LongType(), False),
    T.StructField("p_missing", T.DoubleType(), True),
    T.StructField("distinct_count", T.LongType(), True),
    T.StructField("p_unique", T.DoubleType(), True),
    T.StructField("is_unique", T.BooleanType(), True),
    T.StructField("n_infinite", T.LongType(), True),
    T.StructField("p_infinite", T.DoubleType(), True),
    T.StructField("n_nan", T.LongType(), True),
    T.StructField("n_zeros", T.LongType(), True),
    T.StructField("p_zeros", T.DoubleType(), True),
    T.StructField("mean", T.DoubleType(), True),
    T.StructField("std", T.DoubleType(), True),
    T.StructField("variance", T.DoubleType(), True),
    T.StructField("skewness", T.DoubleType(), True),
    T.StructField("kurtosis", T.DoubleType(), True),
    T.StructField("sum_value", T.DoubleType(), True),
    T.StructField("min_num", T.DoubleType(), True),
    T.StructField("max_num", T.DoubleType(), True),
    T.StructField("range_num", T.DoubleType(), True),
    T.StructField("q05", T.DoubleType(), True),
    T.StructField("q25", T.DoubleType(), True),
    T.StructField("q50", T.DoubleType(), True),
    T.StructField("q75", T.DoubleType(), True),
    T.StructField("q95", T.DoubleType(), True),
    T.StructField("iqr", T.DoubleType(), True),
    T.StructField("cv", T.DoubleType(), True),
    T.StructField("mad", T.DoubleType(), True),
    # Jarque-Bera normality statistic n/6·(S² + K²/4) from the same
    # pass-1 moments (K = excess kurtosis); NULL when skew/kurt are
    # undefined.  JB > 5.991 rejects normality at 5% (chi2, dof=2) —
    # the report layer's alert threshold.
    T.StructField("jarque_bera", T.DoubleType(), True),
    T.StructField("min_date", T.StringType(), True),
    T.StructField("max_date", T.StringType(), True),
    T.StructField("range_seconds", T.DoubleType(), True),
    T.StructField("first_value", T.StringType(), True),
    T.StructField("top_value", T.StringType(), True),
    T.StructField("top_freq", T.LongType(), True),
    T.StructField("freq", T.ArrayType(T.StructType([
        T.StructField("value", T.StringType(), True),
        T.StructField("cnt", T.LongType(), True),
    ])), True),
    T.StructField("histogram", T.ArrayType(T.StructType([
        T.StructField("bin_left", T.DoubleType(), True),
        T.StructField("bin_right", T.DoubleType(), True),
        T.StructField("cnt", T.LongType(), True),
    ])), True),
    T.StructField("mean_size", T.DoubleType(), True),
    T.StructField("min_size", T.LongType(), True),
    T.StructField("max_size", T.LongType(), True),
    T.StructField("corr_with", T.StringType(), True),
    T.StructField("corr_value", T.DoubleType(), True),
])


@dataclass
class ProfileResult:
    """Machine-readable profile (reference: the ``description_set`` dict
    of ``base.py::describe`` — ``{'table', 'variables', 'freq'}``)."""

    variables: DataFrame                 # one row per column (PROFILE_SCHEMA)
    table: dict[str, Any]                # dataset-level stats (T1-T5)
    freq: dict[str, list[tuple[str, int]]]  # per-CAT-column top-k
    sample: DataFrame                    # head sample (T6)
    correlations: dict[tuple[str, str], float] = field(default_factory=dict)
    rejected: dict[str, tuple[str, float]] = field(default_factory=dict)

    def get_rejected_variables(self, threshold: float = 0.9) -> list[str]:
        """Reference API parity: ``ProfileReport.get_rejected_variables``."""
        return [c for c, (_, rho) in self.rejected.items() if rho > threshold]


def describe(df: DataFrame,
             cfg: ProfileConfig = DEFAULT_CONFIG) -> ProfileResult:
    """Profile every column of ``df`` in a few concurrent Spark jobs:
    one per aggregate chunk plus the frequency pass (see the module
    docstring for the counts perfbench measures).

    Raises ``TypeError`` for non-DataFrame input and ``ValueError`` for an
    empty DataFrame — the reference's input contract
    (``base.py::describe``, SURVEY §1.1).
    """
    if not isinstance(df, DataFrame):
        raise TypeError("df must be a pyspark.sql.DataFrame, got %r"
                        % type(df).__name__)
    if df.isStreaming:
        raise ValueError(
            "describe()/profile() are batch operators; for a streaming "
            "DataFrame use spark_df_profiling_spark.streaming."
            "windowed_profile (tumbling/sliding windows + watermark)")
    with wide_codegen(df.sparkSession), _job_tag(df.sparkSession) as tag:
        return _describe(df, cfg, tag)


@contextlib.contextmanager
def _job_tag(spark: SparkSession):
    """Tag this thread's Spark jobs with a fresh tag for the scope.

    Tags are a thread-local property that ``InheritableThread`` copies,
    so every job a describe submits from its task threads carries the
    tag and :func:`_describe` can cancel them on error without touching
    the caller's job group or tags."""
    sc = spark.sparkContext
    tag = f"spark_df_profiling-describe-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        yield tag
    finally:
        sc.removeJobTag(tag)


def _describe(df: DataFrame, cfg: ProfileConfig, tag: str) -> ProfileResult:
    spark = df.sparkSession
    original_names = [f.name for f in df.schema.fields]
    # Rename every column POSITIONALLY to a safe internal name so that
    # dots/spaces/backticks AND duplicate column names can't break the
    # generated expressions anywhere below (toDF renames by position,
    # unlike F.col which resolves by — possibly ambiguous — name).
    safe_df = df.toDF(*[f"__c{i}" for i in range(len(original_names))])
    orig_df, df = df, safe_df
    # one inputFiles() py4j round-trip (~10-30ms), shared by the
    # one-partition check and the T5 memsize below
    try:
        src_files = orig_df.inputFiles()
    except Exception:
        src_files = []
    src_bytes = input_bytes(orig_df, files=src_files)
    # Inputs Spark plans as ONE file-scan partition (a small file):
    # every profile query runs over coalesce(1).  CoalesceExec(1) reports
    # SinglePartition, so neither the global aggregates nor the
    # frequency group-by and window plan an Exchange and each query is
    # one single-stage job, instead of a map job plus an AQE final job.
    # Values are identical: the rows and their order are unchanged.
    if src_files and _single_partition_plan(orig_df):
        df = df.coalesce(1)
    fields = df.schema.fields
    base_classes = [
        S.dtype_class(f.dataType, fix_decimal=cfg.fix_decimal,
                      profile_complex=cfg.profile_complex)
        for f in fields]

    # ---- overlapped job pipeline ---------------------------------------
    # Dependency-driven scheduling instead of serial passes: only MAD and
    # histogram bins truly need pass-1 results (mean / min / max), so the
    # quantile-sketch chunks (schema-only, see build_pass1_exprs) and the
    # frequency shuffle (string/bool columns ALWAYS resolve to a
    # freq-eligible class — CAT/UNIQUE/CONST) launch CONCURRENTLY with
    # the rest of pass 1.  Wall-clock drops from
    #     pass1 + (quantiles | pass2) + freq       (three barriers)
    # to  max(pass1, quantiles, freq) + pass2-lite (one barrier)
    # with bit-identical output.  describe() runs all of it under
    # session.wide_codegen: profiles routinely exceed the default
    # codegen.maxFields=100.
    p1_exprs = W.build_pass1_exprs(df, base_classes, cfg)
    # Up to 50 numeric columns the correlation matrix joins pass 1 as
    # declarative covar/stddev pair expressions, in their own pair
    # chunks (one job per 40 pairs); beyond that the expression count
    # grows O(k^2) and the one-job ml.stat path wins.
    dtype_num_cols = [f.name for f, cls in zip(fields, base_classes)
                      if S.is_numeric(cls)]
    corr_in_pass1 = (cfg.corr_reject is not None
                     and 2 <= len(dtype_num_cols) <= 50)
    if corr_in_pass1:
        p1_exprs["pair"] = C.correlation_exprs(df, dtype_num_cols)

    # NOTE (r16 negative result): packing each batch's chunks into one
    # SELECT of uncorrelated scalar subqueries — one py4j submission,
    # fan-out on Spark's internal subquery pool — was built and measured
    # this round and LOST to the thread-per-chunk form (pass-1 batch on
    # lineitem, best-of-3: packed 0.97s / threads 0.41s with AQE on;
    # 0.55s / 0.32s with AQE off): subquery analysis is serialized in
    # one tree and AQE inserts a materialization barrier per subquery,
    # while py4j releases the GIL during each chunk's JVM call so
    # threaded submissions already overlap analysis AND execution.
    # See OPTIMIZATION_r16.md.

    # At most 8 of this describe's jobs in flight, whatever the input
    # size or core count.
    gate = threading.Semaphore(8)
    # Set on error: thunks still queued at the gate submit nothing.
    cancelled = threading.Event()
    sc = spark.sparkContext

    def thunk(label: str, fn):
        def run():
            if cancelled.is_set():
                return None
            sc.setJobDescription(f"profile: {label}")
            return fn()
        return run

    def chunk_thunk(ch: list[str], label: str):
        return thunk(label, lambda: df.selectExpr(*ch).collect()[0])

    # Chunk-level LPT (guide §2.6): task threads start on construction
    # and the driver's py4j submissions are GIL-serialized at ~30-60ms
    # apiece, so CREATION ORDER is start order.  The long poles go
    # first: the quantile sketches (ObjectHashAggregate), the frequency
    # shuffle, then the HLL sketch and pair chunks; submitting them
    # BEFORE the short light chunks starts the critical path ~0.5s
    # earlier on a ~20-chunk profile instead of queueing it behind a
    # dozen 0.1-0.3s chunks.  Results are dependency-joined, not
    # order-joined.
    spec_tasks = [W.InheritableTask(chunk_thunk(ch, f"quantiles #{i}"),
                                    gate)
                  for i, ch in enumerate(
                      W.make_chunks("object", p1_exprs["object"]))]
    # Speculative frequency pass: every base-CAT (string/bool/binary)
    # column lands in freq_cols whatever its resolved class; columns of
    # OTHER base classes only join freq_cols when they resolve CONST
    # (distinct <= 1) — those few get a supplementary job below.
    freq_spec_cols = [f.name for f, bc in zip(fields, base_classes)
                      if bc == S.CAT]

    freq_thunk = thunk("frequencies", lambda: FR.topk_frequencies(
        df, freq_spec_cols, cfg.top_k))
    freq_task = (W.InheritableTask(freq_thunk, gate)
                 if freq_spec_cols else None)
    p1_chunks = [(klass, ch) for klass in ("sketch", "pair", "light")
                 for ch in W.make_chunks(klass, p1_exprs.get(klass, []))]
    p1_tasks = [W.InheritableTask(chunk_thunk(ch, f"pass1 #{i}"), gate)
                for i, (_, ch) in enumerate(p1_chunks)]
    # Pass 2's TRUE dependency is the LIGHT pass-1 chunks only: MAD
    # needs mean, histogram bins need min/max/count — all light-class
    # results.  The distinct counts (sketch chunks, pass 1's 0.3-0.6s
    # long poles) only decide which columns the ASSEMBLER reads, never
    # an expression value: building pass 2 from BASE classes instead of
    # resolved ones diverges only for a column that resolves CONST,
    # whose pass-2 expressions are computed and then never read (and
    # date-CONST emits nothing — the mx > mn guard fails).  So pass 2
    # launches as soon as the light chunks join, overlapping the
    # sketch/pair/quantile tail instead of serializing behind it
    # (gantt: lineitem pass 2 started 1.83s after the timed window
    # opened, 0.6-0.9s after its true inputs were ready).
    light_tasks = [t for (klass, _), t in zip(p1_chunks, p1_tasks)
                   if klass == "light"]
    slow_tasks = [t for (klass, _), t in zip(p1_chunks, p1_tasks)
                  if klass != "light"]
    all_tasks = p1_tasks + spec_tasks + ([freq_task] if freq_task else [])

    # Every alias is unique across chunks and passes, so pass-1, pass-2
    # and quantile results all merge into this one dict.
    stats: dict[str, Any] = {}
    try:
        for t_ in light_tasks:
            stats.update(t_.join().asDict())
        n = int(stats.get("__n") or 0)
        if n == 0:
            raise ValueError("df cannot be empty")

        # ---- pass 2: MAD + histograms (light-dependent only) ----------
        p2_exprs = W.build_pass2_exprs(df, base_classes, stats, cfg)
        p2_tasks = [W.InheritableTask(chunk_thunk(ch, f"pass2 #{i}"),
                                      gate)
                    for i, ch in enumerate(W.make_chunks("light", p2_exprs))]
        all_tasks.extend(p2_tasks)

        for t_ in slow_tasks + spec_tasks + p2_tasks:
            stats.update(t_.join().asDict())
        freqs_raw = freq_task.join() if freq_task is not None else {}
    except BaseException:
        # Don't leave jobs running behind the error, and don't wait them
        # out: cancel everything carrying this describe's tag.  A thunk
        # just past the gate check can submit after a cancel, so cancel
        # again until its task ends.
        cancelled.set()
        sc.cancelJobsWithTag(tag)
        for t_ in all_tasks:
            while not t_.wait_noraise(timeout=0.5):
                sc.cancelJobsWithTag(tag)
        raise
    distincts = [int(stats.get(W.stat_key(i, "distinct")) or 0)
                 for i in range(len(fields))]
    classes = [S.resolve_class(bc, d, n)
               for bc, d in zip(base_classes, distincts)]

    # ---- correlation matrix + greedy rejection -------------------------
    # Rejection applies among columns RESOLVED as NUM (a constant numeric
    # column is CONST-class and never participates — reference order).
    safe_to_orig = {f"__c{i}": name
                    for i, name in enumerate(original_names)}
    num_cols = [f.name for f, cls in zip(fields, classes)
                if S.is_numeric(cls)]
    correlations: dict[tuple[str, str], float] = {}
    rejected: dict[str, tuple[str, float]] = {}
    if cfg.corr_reject is not None and len(num_cols) >= 2:
        if corr_in_pass1:
            corr_safe = C.decode_correlation_row(stats, dtype_num_cols)
        else:
            corr_safe = C.correlation_matrix(df, num_cols)
        rej_safe = C.greedy_rejection(num_cols, corr_safe, cfg.corr_reject)
        correlations = {(safe_to_orig[x], safe_to_orig[y]): v
                        for (x, y), v in corr_safe.items()
                        if x in set(num_cols) and y in set(num_cols)}
        rejected = {safe_to_orig[x]: (safe_to_orig[y], rho)
                    for x, (y, rho) in rej_safe.items()}

    # ---- stacked top-k frequencies (speculative + supplement) ----------
    # CONST columns ride along: their single top value doubles as the
    # G1 "first value" (keeps string aggregates out of the wide agg).
    freq_cols = [f.name for f, cls in zip(fields, classes)
                 if cls in (S.CAT, S.UNIQUE, S.CONST)]
    extra_freq_cols = [c for c in freq_cols
                       if c not in set(freq_spec_cols)]
    if extra_freq_cols:  # non-string columns that resolved CONST
        freqs_raw = dict(freqs_raw)
        freqs_raw.update(FR.topk_frequencies(df, extra_freq_cols,
                                             cfg.top_k))
    freqs = {safe_to_orig[c]: v for c, v in freqs_raw.items()}

    # ---- assemble the profile DataFrame (driver: O(#cols) scalars) -----
    rows = []
    for i, (f_, cls) in enumerate(zip(fields, classes)):
        rows.append(_assemble_row(i, f_, cls, n, stats, freqs, rejected,
                                  cfg, name=original_names[i]))
    variables = _local_result_frame(spark, rows)

    # ---- table-level stats (T1-T5) -------------------------------------
    nvar = len(fields)
    total_missing = sum(r["n_missing"] for r in rows)
    type_counts: dict[str, int] = {}
    for r in rows:
        type_counts[r["type_class"]] = type_counts.get(r["type_class"], 0) + 1
    table = {
        "n": n,
        "nvar": nvar,
        "total_missing": (total_missing / (n * nvar)) if n * nvar else 0.0,
        "types": type_counts,
        "n_duplicates": None,   # opt-in via operators.dedup (full-row hash)
        # T5: the reference hardcodes memsize 0; we report real input
        # bytes when the source files are resolvable (no Spark job).
        "memsize": src_bytes,
        "rejected": type_counts.get("CONST", 0) + type_counts.get("CORR", 0),
    }
    return ProfileResult(
        variables=variables,
        table=table,
        freq=freqs,
        sample=orig_df.limit(cfg.sample),
        correlations=correlations,
        rejected=rejected,
    )


def _single_partition_plan(df: DataFrame) -> bool:
    """True when Spark plans ``df`` as ONE file-scan partition with no
    Exchange: the executed plan is not adaptive, holds no exchange, has
    exactly one leaf, and that leaf is a file scan whose input RDD has
    one partition.  Planning only — no job, no generated code.  Byte
    counts and parquet footers cannot answer this: a self-union of a
    one-file input lists one input file but plans as two partitions."""
    try:
        stack, leaves = [df._jdf.queryExecution().executedPlan()], []
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec" or "Exchange" in name:
                return False
            kids = node.children()
            if kids.isEmpty():
                leaves.append((name, node))
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return (len(leaves) == 1 and leaves[0][0] == "FileSourceScanExec"
                and leaves[0][1].inputRDD().getNumPartitions() == 1)
    except Exception:
        return False


def profile(df: DataFrame,
            cfg: ProfileConfig = DEFAULT_CONFIG) -> DataFrame:
    """Convenience: just the per-column statistics DataFrame."""
    return describe(df, cfg).variables


def _local_result_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """O(#cols)-row result frame WITHOUT the Python-RDD boundary.

    The obvious ``createDataFrame(parallelize(rows, 1), schema)`` backs
    the frame with PICKLED Python rows, so every ``collect()`` launches
    a job that round-trips through a Python worker (~250ms each;
    guide §4 — the gantt showed profile_many's eight result collects as
    a 2s serial tail of exactly these jobs).  Handing Spark an Arrow
    table instead keeps both creation and every later action entirely
    in the JVM (the values cross as Arrow batches ONCE, at creation).
    Values are bit-identical: every PROFILE_SCHEMA field is
    long/double/string/bool or arrays of structs of those, and Arrow
    carries doubles/longs exactly (no pandas float64 coercion — the
    table is built column-by-column with explicit Arrow types).
    Falls back to the pickled-RDD path if the Arrow conversion is
    unavailable.
    """
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        arrow_schema = to_arrow_schema(PROFILE_SCHEMA)
        arrays = [
            pa.array([r[f.name] for r in rows], type=arrow_schema.types[i])
            for i, f in enumerate(PROFILE_SCHEMA.fields)]
        tbl = pa.Table.from_arrays(arrays, schema=arrow_schema)
        out = spark.createDataFrame(tbl, schema=PROFILE_SCHEMA)
        try:
            # Force analysis+planning now (no job): Dataset caches its
            # queryExecution, so the caller's first action pays only
            # execution instead of the full compile (~10ms less per
            # collect; this runs inside the overlapped profile window)
            out._jdf.queryExecution().executedPlan()
        except Exception:
            pass
        return out
    except Exception as exc:
        # One explicit slice (not defaultParallelism): the frame is
        # O(#cols) rows by construction.  LOUD fallback: the pickled-RDD
        # frame round-trips a Python worker on EVERY later action
        # (~150ms per collect vs ~15ms) — a silent fallback hid a
        # KeyError for a full round (r16: _assemble_row omitted the
        # jarque_bera key on non-numeric columns, so every real profile
        # quietly kept the slow path while the Arrow micro-benchmarks,
        # built with all-keys rows, looked great).
        import warnings
        warnings.warn(
            f"profile result frame: Arrow construction failed "
            f"({type(exc).__name__}: {exc}); falling back to the "
            f"pickled-RDD path (slower collects)")
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), PROFILE_SCHEMA)


def _assemble_row(i: int, f_: T.StructField, cls: str, n: int,
                  stats: dict, freqs: dict, rejected: dict,
                  cfg: ProfileConfig, name: str | None = None) -> dict[str, Any]:
    k = W.stat_key
    name = name if name is not None else f_.name
    cnt = int(stats.get(k(i, "count")) or 0)
    distinct = int(stats.get(k(i, "distinct")) or 0)
    n_missing = n - cnt
    is_num = S.is_numeric(cls)

    def fnum(stat: str) -> float | None:
        v = stats.get(k(i, stat))
        return float(v) if v is not None else None

    row: dict[str, Any] = {
        "column": name,
        "pos": i,
        "dtype": f_.dataType.simpleString(),
        "type_class": S.render_class(cls),
        "n": n,
        "count": cnt,
        "n_missing": n_missing,
        "p_missing": n_missing / n if n else None,
        "distinct_count": distinct,
        "p_unique": distinct / cnt if cnt else None,
        "is_unique": distinct == n,
        "n_infinite": None, "p_infinite": None, "n_nan": None,
        "n_zeros": None, "p_zeros": None,
        "mean": None, "std": None, "variance": None, "skewness": None,
        "kurtosis": None, "jarque_bera": None, "sum_value": None,
        "min_num": None, "max_num": None, "range_num": None,
        "q05": None, "q25": None, "q50": None, "q75": None, "q95": None,
        "iqr": None, "cv": None, "mad": None,
        "min_date": None, "max_date": None, "range_seconds": None,
        "first_value": None,
        "top_value": None, "top_freq": None,
        "freq": None, "histogram": None,
        "mean_size": None, "min_size": None, "max_size": None,
        "corr_with": None, "corr_value": None,
    }

    if is_num:
        mean, mn, mx = fnum("mean"), fnum("min"), fnum("max")
        std = fnum("std")
        zeros = stats.get(k(i, "zeros"))
        inf = stats.get(k(i, "inf"))
        nan = stats.get(k(i, "nan"))
        row.update({
            "mean": mean, "std": std, "variance": fnum("variance"),
            "skewness": fnum("skewness"), "kurtosis": fnum("kurtosis"),
            "sum_value": fnum("sum"),
            "min_num": mn, "max_num": mx,
            "range_num": (mx - mn) if mn is not None and mx is not None
            else None,
            "n_zeros": int(zeros) if zeros is not None else 0,
            "p_zeros": (int(zeros) / n) if zeros is not None and n else None,
            "n_infinite": int(inf) if inf is not None else 0,
            "p_infinite": (int(inf) / n) if inf is not None and n else 0.0,
            "n_nan": int(nan) if nan is not None else 0,
            "mad": fnum("mad"),
        })
        sk, ku = row["skewness"], row["kurtosis"]
        nn = row.get("count")
        if sk is not None and ku is not None and nn \
                and math.isfinite(sk) and math.isfinite(ku):
            row["jarque_bera"] = nn / 6.0 * (sk * sk + ku * ku / 4.0)
        qs = stats.get(k(i, "quantiles"))
        if qs is not None:
            labels = ["q05", "q25", "q50", "q75", "q95"]
            for lbl, v in zip(labels, list(qs)):
                row[lbl] = float(v) if v is not None else None
            if row["q75"] is not None and row["q25"] is not None:
                row["iqr"] = row["q75"] - row["q25"]
        if std is not None and mean is not None and mean != 0 \
                and math.isfinite(mean):
            row["cv"] = std / mean
        if cfg.compute_histograms and mn is not None and mx is not None \
                and math.isfinite(mn) and math.isfinite(mx):
            row["histogram"] = _histogram_from(stats, i, mn, mx, cnt, cfg)
    elif cls == S.DATE:
        mn_d, mx_d = stats.get(k(i, "min_date")), stats.get(k(i, "max_date"))
        row.update({
            "min_date": mn_d.isoformat() if mn_d is not None else None,
            "max_date": mx_d.isoformat() if mx_d is not None else None,
            "range_seconds": W.date_range_seconds(mn_d, mx_d),
        })
        mn_e, mx_e = W._to_epoch(mn_d), W._to_epoch(mx_d)
        if cfg.compute_histograms and mn_e is not None and mx_e is not None \
                and mx_e > mn_e:
            row["histogram"] = _histogram_from(stats, i, mn_e, mx_e, cnt,
                                               cfg)
    elif cls in (S.ARRAY, S.MAP):
        ms = stats.get(k(i, "mean_size"))
        row.update({
            "mean_size": float(ms) if ms is not None else None,
            "min_size": stats.get(k(i, "min_size")),
            "max_size": stats.get(k(i, "max_size")),
        })

    fr = freqs.get(name)
    if fr:
        row["freq"] = [{"value": v, "cnt": c} for v, c in fr]
        row["top_value"], row["top_freq"] = fr[0]
        row["first_value"] = fr[0][0]

    if name in rejected:
        kept, rho = rejected[name]
        row["type_class"] = "CORR"
        row["corr_with"] = kept
        row["corr_value"] = rho
    return row


def _histogram_from(stats: dict, i: int, mn: float, mx: float, cnt: int,
                    cfg: ProfileConfig) -> list[dict[str, Any]] | None:
    k = W.stat_key
    if mx <= mn:
        # Degenerate single-bin histogram (min == max).
        return [{"bin_left": mn, "bin_right": mx, "cnt": cnt}]
    width = (mx - mn) / cfg.bins
    out = []
    for b in range(cfg.bins):
        v = stats.get(k(i, f"hist{b}"))
        if v is None:
            return None
        out.append({
            "bin_left": mn + width * b,
            "bin_right": mx if b == cfg.bins - 1 else mn + width * (b + 1),
            "cnt": int(v),
        })
    return out


def profile_many(dfs: dict[str, DataFrame],
                 cfg: ProfileConfig = DEFAULT_CONFIG,
                 max_threads: int = 8) -> dict[str, "ProfileResult"]:
    """Profile a catalog of tables concurrently.

    Each profile is a handful of short Spark jobs (8 per table on
    perfbench's one-partition catalog, its ``profile.jobs``); the
    wall-clock is dominated by per-table plan compilation, which is
    driver-side and embarrassingly parallel.  Profiles run on
    ``InheritableThread`` workers (same rationale as
    ``run_chunked_agg``: pinned-thread mode maps Python threads to JVM
    threads, so plain pool threads would drop the caller's job group /
    description / scheduler pool — breaking Spark-UI attribution and
    ``cancelJobGroup``).  Spark's scheduler handles concurrent jobs
    natively — FAIR scheduling recommended on shared clusters.
    """
    from spark_df_profiling_spark.plans.wide_agg import run_inheritable

    names = list(dfs)
    # LPT scheduling: submit the LARGEST tables first so their long job
    # chains overlap the small tables' instead of queueing behind them
    # (the catalog dict often lists dimension tables first); returned
    # dict keeps the caller's order.  Sizes are fetched CONCURRENTLY —
    # each input_bytes is a ~10-30ms inputFiles() py4j round-trip that
    # releases the GIL, so a serial loop here is pure added latency
    # before the first describe can start (plain pool threads are fine:
    # no Spark jobs run, only metadata calls).
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(names)))) as pool:
        sizes = dict(zip(names, pool.map(
            lambda n: input_bytes(dfs[n]), names)))
    order = sorted(names, key=lambda n: -sizes[n])
    results = dict(zip(order, run_inheritable(
        [(lambda df=dfs[n]: describe(df, cfg)) for n in order],
        max_concurrency=max_threads)))
    return {n: results[n] for n in names}
