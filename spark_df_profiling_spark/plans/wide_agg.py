"""Wide-agg plan: every per-column statistic in a few wide aggregates.

The reference (``base.py::describe``, public v1.1.13) issues ~10-12 Spark
jobs *per column* (separate agg / percentile / mad / zeros / histogram /
distinct / count actions — SURVEY.md §2.3).  Here the statistics of *all*
columns are flattened into wide ``selectExpr`` aggregates, one Spark job
per buffer-class chunk, so the job count does not grow with the column
count until a chunk fills.

Scale notes (100 TB):
* Expression lists are chunked per buffer class (``_CHUNK_CAP``) to stay
  clear of whole-stage-codegen's 64KB method / constant-pool and
  ``codegen.maxFields`` limits — each chunk is an independent single-pass
  job (SURVEY §4 "our one real physical-design risk").
* Distinct counts default to ``approx_count_distinct`` (HLL++): exact
  multi-column countDistinct forces an Expand-based plan whose row
  multiplication is catastrophic at scale.  The oracle/test path flips
  ``cfg.exact_distinct``.
* Numeric sums are computed in DOUBLE: Spark 4 runs ANSI mode by default,
  where bigint sum overflow raises — at 100 TB an int64 sum overflow is not
  hypothetical.
* Aggregation state for percentile/percentile_approx routes to
  ObjectHashAggregate automatically; everything else stays codegen'd.
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

from pyspark.sql import DataFrame

from spark_df_profiling_spark import schema as S
from spark_df_profiling_spark.config import ProfileConfig


def stat_key(i: int, stat: str) -> str:
    """Result alias of statistic ``stat`` of column ``i``."""
    return f"c{i}__{stat}"


def _dlit(v: float) -> str:
    """Exact DOUBLE literal: ``repr(float)`` is shortest-round-trip and
    Java's ``Double.parseDouble`` reads it back bit-exact."""
    return f"double('{v!r}')"


def build_pass1_exprs(df: DataFrame, classes: list[str],
                      cfg: ProfileConfig) -> dict[str, list[str]]:
    """Pass-1 SQL aggregate expressions (no prior results needed), keyed
    by buffer class (see ``_CHUNK_CAP``): ``sketch`` distinct counts,
    ``light`` declarative statistics, ``object`` quantile sketches.

    Covers SURVEY §2 kernels T1, U1-U5, N1-N6, N11, C-prep, D1, G1.

    Expressions are SQL *strings*, not Column objects: building a Column
    costs ~10 py4j socket round-trips and a wide profile needs hundreds of
    expressions — string building is pure Python (measured: ~1.2s of py4j
    chatter per table collapsed to one ``selectExpr`` call per chunk).
    Callers pass them to :func:`run_chunked_agg` (or ``df.selectExpr``).
    Column names are backtick-quoted; ``describe()`` renames columns to
    ``__c{i}`` first, so embedded backticks can't occur in the hot path.

    Quantiles (N6) need nothing from pass 1 — unlike MAD (mean) and
    histogram bins (min/max) — so the ObjectHashAggregate job they force
    runs CONCURRENTLY with the other pass-1 chunks.  Built from base
    classes, not resolved ones: the only divergence is a base-numeric
    column that pass 1 would resolve to CONST or that is all-NULL — there
    ``percentile(_approx)`` returns NULL, which the assembler treats
    exactly like an absent key (oracle-verified); the cost is one wasted
    sketch for the (rare) constant numeric column.
    """
    qs = ", ".join(repr(q) for q in cfg.quantiles)
    sketch: list[str] = []
    light: list[str] = ["count(1) AS `__n`"]
    quantiles: list[str] = []
    for i, (field, cls) in enumerate(zip(df.schema.fields, classes)):
        c = f"`{field.name}`"
        light.append(f"count({c}) AS `{stat_key(i, 'count')}`")
        if cfg.exact_distinct:
            sketch.append(
                f"count(DISTINCT {c}) AS `{stat_key(i, 'distinct')}`")
        else:
            sketch.append(
                f"approx_count_distinct({c}, {cfg.distinct_rsd!r}) "
                f"AS `{stat_key(i, 'distinct')}`")
        # NOTE: no first()/min()/max() over STRING columns here — a single
        # string-buffered aggregate disqualifies HashAggregateExec (string
        # buffers are immutable in UnsafeRow) and demotes the ENTIRE wide
        # agg to interpreted SortAggregate, losing whole-stage codegen for
        # every expression.  The CONST value (G1) comes from the frequency
        # pass instead (a CONST column's top value is its value).

        if S.is_numeric(cls):
            cd = f"CAST({c} AS DOUBLE)"
            light.extend([
                f"avg({cd}) AS `{stat_key(i, 'mean')}`",
                f"CAST(min({c}) AS DOUBLE) AS `{stat_key(i, 'min')}`",
                f"CAST(max({c}) AS DOUBLE) AS `{stat_key(i, 'max')}`",
                f"var_samp({cd}) AS `{stat_key(i, 'variance')}`",
                f"stddev_samp({cd}) AS `{stat_key(i, 'std')}`",
                f"skewness({cd}) AS `{stat_key(i, 'skewness')}`",
                f"kurtosis({cd}) AS `{stat_key(i, 'kurtosis')}`",
                f"sum({cd}) AS `{stat_key(i, 'sum')}`",
                f"sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) "
                f"AS `{stat_key(i, 'zeros')}`",
            ])
            if cls == S.NUM_FLOAT:
                light.append(
                    f"sum(CASE WHEN {cd} IN (double('Infinity'), "
                    f"double('-Infinity')) THEN 1 ELSE 0 END) "
                    f"AS `{stat_key(i, 'inf')}`")
                light.append(
                    f"sum(CASE WHEN isnan({cd}) THEN 1 ELSE 0 END) "
                    f"AS `{stat_key(i, 'nan')}`")
            if cfg.exact_quantiles:
                quantiles.append(f"percentile({cd}, array({qs})) "
                                 f"AS `{stat_key(i, 'quantiles')}`")
            else:
                quantiles.append(
                    f"percentile_approx({cd}, array({qs}), "
                    f"{cfg.quantile_accuracy}) "
                    f"AS `{stat_key(i, 'quantiles')}`")
        elif cls == S.DATE:
            light.append(f"min({c}) AS `{stat_key(i, 'min_date')}`")
            light.append(f"max({c}) AS `{stat_key(i, 'max_date')}`")
        elif cls in (S.ARRAY, S.MAP):
            light.extend([
                f"avg(size({c})) AS `{stat_key(i, 'mean_size')}`",
                f"CAST(min(size({c})) AS BIGINT) "
                f"AS `{stat_key(i, 'min_size')}`",
                f"CAST(max(size({c})) AS BIGINT) "
                f"AS `{stat_key(i, 'max_size')}`",
            ])
    return {"sketch": sketch, "light": light, "object": quantiles}


def build_pass2_exprs(df: DataFrame, classes: list[str], pass1: dict[str, Any],
                      cfg: ProfileConfig) -> list[str]:
    """Pass-2 SQL expressions, all ``light``: MAD (N10), histograms (N12).

    MAD is the reference's *mean* absolute deviation around the mean
    (``base.py::describe>>describe_integer_1d``), an inherently two-pass
    statistic.  Histogram bins are equal-width on [min, max] with the last
    bin right-closed, matching ``base.py::describe>>create_hist_data``.
    Bin-edge literals are emitted with :func:`_dlit`, so the SQL form
    computes the bit-exact same bins as driver-side float arithmetic.
    """
    exprs: list[str] = []
    for i, (field, cls) in enumerate(zip(df.schema.fields, classes)):
        if cls == S.DATE and cfg.compute_histograms:
            # D3 extension (reference has no date histogram): equal-width
            # bins over epoch seconds, edges from pass-1 min/max.
            mn_d = pass1.get(stat_key(i, "min_date"))
            mx_d = pass1.get(stat_key(i, "max_date"))
            mn_e = _to_epoch(mn_d)
            mx_e = _to_epoch(mx_d)
            if mn_e is not None and mx_e is not None and mx_e > mn_e:
                ep = _epoch_sql(df, field.name)
                width = (mx_e - mn_e) / cfg.bins
                for b in range(cfg.bins):
                    left = mn_e + width * b
                    if b == cfg.bins - 1:
                        cond = (f"{ep} >= {_dlit(left)} "
                                f"AND {ep} <= {_dlit(mx_e)}")
                    else:
                        right = mn_e + width * (b + 1)
                        cond = (f"{ep} >= {_dlit(left)} "
                                f"AND {ep} < {_dlit(right)}")
                    exprs.append(
                        f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END) "
                        f"AS `{stat_key(i, f'hist{b}')}`")
            continue
        if not S.is_numeric(cls):
            continue
        cnt = pass1.get(stat_key(i, "count")) or 0
        mean = pass1.get(stat_key(i, "mean"))
        mn = pass1.get(stat_key(i, "min"))
        mx = pass1.get(stat_key(i, "max"))
        c = f"CAST(`{field.name}` AS DOUBLE)"
        if cfg.compute_mad and cnt > 0 and mean is not None \
                and math.isfinite(mean):
            exprs.append(f"avg(abs({c} - {_dlit(mean)})) "
                         f"AS `{stat_key(i, 'mad')}`")
        if cfg.compute_histograms and cnt > 0 and mn is not None \
                and mx is not None and math.isfinite(mn) and math.isfinite(mx) \
                and mx > mn:
            width = (mx - mn) / cfg.bins
            for b in range(cfg.bins):
                left = mn + width * b
                if b == cfg.bins - 1:
                    cond = (f"{c} >= {_dlit(left)} AND {c} <= {_dlit(mx)} "
                            f"AND NOT isnan({c})")
                else:
                    right = mn + width * (b + 1)
                    cond = (f"{c} >= {_dlit(left)} AND {c} < {_dlit(right)} "
                            f"AND NOT isnan({c})")
                exprs.append(f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END) "
                             f"AS `{stat_key(i, f'hist{b}')}`")
    return exprs


# The build_*_exprs functions name the aggregation-buffer class of every
# expression they emit; a chunk holds one class, up to that class's cap:
# * light  — declarative aggregates (count/min/max/moments/when-sums):
#   2-6 fixed-width buffer slots each, so 64 expressions (~384 slots)
#   stay under the codegen.maxFields=500 of session.wide_codegen and the
#   chunk keeps HashAggregateExec whole-stage codegen.
# * sketch — distinct counts.  HLL++ holds ~52 LONG slots per column: a
#   dozen of them push an aggregate past maxFields and silently demote
#   EVERY expression in it to interpreted execution (measured on 600k-row
#   lineitem, local[32]: 9.3s mixed with the light aggregates vs 1.2s in
#   two chunks).  Exact count(DISTINCT) plans an Expand (one duplicated
#   row stream per DISTINCT column); grouping the distincts confines
#   that multiplication to their own chunk.
# * pair   — correlation pairs: ~9 slots each (two stddev states + one
#   covar state), so the 28 pairs of an 8-column matrix hold ~250 slots
#   (measured on sf0.1 lineitem: that matrix in one job ran 2.7s
#   interpreted vs 0.8s codegen'd); 40 pairs stay under the budget.
# * object — percentile/percentile_approx (TypedImperativeAggregate)
#   force ObjectHashAggregateExec, without codegen, on the whole chunk,
#   so they never share a chunk with declarative aggregates.
# Sketch and object chunks are per-row cheap or already interpreted:
# their caps only bound planning time.
_CHUNK_CAP = {"light": 64, "sketch": 48, "object": 32, "pair": 40}


def make_chunks(klass: str, exprs: list[str]) -> list[list[str]]:
    """Split one buffer class's expressions, in order, into chunks of at
    most ``_CHUNK_CAP[klass]`` expressions.  Values are identical under
    any chunking: each expression runs over the full input in exactly
    one job."""
    step = _CHUNK_CAP[klass]
    return [exprs[i:i + step] for i in range(0, len(exprs), step)]


def run_chunked_agg(df: DataFrame,
                    exprs_by_class: dict[str, list[str]]) -> dict[str, Any]:
    """Execute a wide agg given as ``{buffer class: exprs}``; its chunks
    run CONCURRENTLY.

    Chunking per :func:`make_chunks`, submitted in the dict's class
    order.  Each chunk is one Spark job (one scan) issued as a single
    ``selectExpr`` — one py4j round-trip however many expressions the
    chunk holds.  Chunks are submitted from
    ``pyspark.InheritableThread`` workers (NOT a plain
    ThreadPoolExecutor): in pinned-thread mode each Python thread maps to
    its own JVM thread, so a bare pool thread would silently drop the
    caller's job group / job description / scheduler pool —
    InheritableThread copies those local properties, keeping the chunk
    jobs attributable in the Spark UI and cancellable via the user's
    ``cancelJobGroup``.  Spark schedules concurrent jobs natively, so on
    a multi-core driver the scans overlap; on a real cluster each
    chunk's tasks also fan out across executors.  Returns merged
    {alias: value}.

    (r16 note: a one-submission variant — every chunk an uncorrelated
    scalar subquery in a single SELECT, fanned out on Spark's internal
    subquery pool — was built and MEASURED SLOWER than this form (2-3x
    on the pass-1 batch: subquery analysis serializes in one tree and
    AQE adds a materialization barrier per subquery, while py4j releases
    the GIL during each chunk's JVM call so threaded submissions already
    overlap analysis and execution).  Reverted; see OPTIMIZATION_r16.md.)
    """
    chunks = [ch for klass, exprs in exprs_by_class.items()
              for ch in make_chunks(klass, exprs)]
    if not chunks:
        return {}
    if len(chunks) == 1:
        return df.selectExpr(*chunks[0]).collect()[0].asDict()
    out: dict[str, Any] = {}
    rows = run_inheritable(
        [(lambda ch=ch: df.selectExpr(*ch).collect()[0])
         for ch in chunks])
    for row in rows:
        out.update(row.asDict())
    return out


def run_inheritable(fns: list, max_concurrency: int = 8) -> list:
    """Run thunks on ``pyspark.InheritableThread`` workers, at most
    ``max_concurrency`` at a time; returns results in input order.

    InheritableThread (NOT a plain ThreadPoolExecutor) because in
    pinned-thread mode each Python thread maps to its own JVM thread and
    a bare pool thread silently drops the caller's job group / job
    description / scheduler pool.  The semaphore bounds how many Spark
    jobs are in flight at once — one unbounded thread per task would let
    a very wide profile spike driver memory, py4j traffic and scheduler
    contention.  The first failure is re-raised on the caller thread.
    """
    import threading
    from pyspark import InheritableThread

    results: list[Any] = [None] * len(fns)
    errs: list[BaseException] = []
    gate = threading.Semaphore(max_concurrency)

    def _run(idx: int, fn) -> None:
        with gate:
            if errs:  # don't launch more jobs after a failure
                return
            try:
                results[idx] = fn()
            except BaseException as e:  # re-raised on the caller thread
                errs.append(e)

    threads = [InheritableThread(target=_run, args=(i, fn))
               for i, fn in enumerate(fns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return results


class InheritableTask:
    """A single thunk running on its own ``pyspark.InheritableThread``
    with join-for-result semantics — the submit/join counterpart of the
    join-all :func:`run_inheritable` (same pinned-thread-mode rationale:
    a plain pool thread would drop the caller's job group / description /
    scheduler pool).  Lets the profiling orchestrator OVERLAP job batches
    with different dependency depths (e.g. the quantile sketch job and
    the frequency shuffle, which need nothing from pass 1, run while
    pass 1 is still in flight) instead of running them in serial
    barriers.  ``gate`` (a ``threading.Semaphore``) bounds how many
    Spark jobs the caller has in flight at once.
    """

    def __init__(self, fn, gate=None) -> None:
        from pyspark import InheritableThread
        self._fn = fn
        self._gate = gate
        self._result: Any = None
        self._err: BaseException | None = None
        self._thread = InheritableThread(target=self._run)
        self._thread.start()

    def _run(self) -> None:
        if self._gate is not None:
            self._gate.acquire()
        try:
            self._result = self._fn()
        except BaseException as e:
            self._err = e
        finally:
            if self._gate is not None:
                self._gate.release()

    def join(self) -> Any:
        """Wait for the thunk; re-raise its failure on the caller."""
        self._thread.join()
        if self._err is not None:
            raise self._err
        return self._result

    def wait_noraise(self, timeout: float | None = None) -> bool:
        """Join without raising (error-path cleanup: don't leave Spark
        jobs running behind an exception); True once the thunk ended."""
        self._thread.join(timeout)
        return not self._thread.is_alive()


def _to_epoch(v: Any) -> float | None:
    """Driver-side datetime/date -> epoch seconds (UTC-naive)."""
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=_dt.timezone.utc).timestamp()
    if isinstance(v, _dt.date):
        return float(
            _dt.datetime(v.year, v.month, v.day,
                         tzinfo=_dt.timezone.utc).timestamp())
    return None


def _epoch_sql(df: DataFrame, col: str) -> str:
    """Epoch-seconds SQL expression for LTZ/NTZ timestamp or date cols."""
    dt = dict(df.dtypes)[col]
    if dt.startswith("timestamp_ntz"):
        return (f"CAST(timestampdiff(SECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`) AS DOUBLE)")
    if dt == "date":
        return f"(CAST(unix_date(`{col}`) AS DOUBLE) * 86400.0)"
    return f"CAST(unix_seconds(`{col}`) AS DOUBLE)"


def date_range_seconds(mn: Any, mx: Any) -> float | None:
    """Driver-side D2: range of a date/timestamp column in seconds."""
    if mn is None or mx is None:
        return None
    if isinstance(mn, _dt.datetime) and isinstance(mx, _dt.datetime):
        return (mx - mn).total_seconds()
    if isinstance(mn, _dt.date) and isinstance(mx, _dt.date):
        return float((mx - mn).days * 86400)
    return None
