"""Wide-agg plan: every per-column statistic in ONE Spark job.

The reference (``base.py::describe``, public v1.1.13) issues ~10-12 Spark
jobs *per column* (separate agg / percentile / mad / zeros / histogram /
distinct / count actions — SURVEY.md §2.3).  Here all pass-1 statistics for
*all* columns are flattened into a single ``df.agg(*exprs)``: Catalyst plans
it as one 2-phase HashAggregate (partial map-side + final), so the input is
scanned exactly once regardless of column count.

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


def _key(i: int, stat: str) -> str:
    return f"c{i}__{stat}"


def _dlit(v: float) -> str:
    """Exact DOUBLE literal: ``repr(float)`` is shortest-round-trip and
    Java's ``Double.parseDouble`` reads it back bit-exact."""
    return f"double('{v!r}')"


def build_pass1_exprs(df: DataFrame, classes: list[str],
                      cfg: ProfileConfig) -> list[str]:
    """SQL aggregate-expression list for pass 1 (no prior results needed).

    Covers SURVEY §2 kernels T1, U1-U5, N1-N6, N11, C-prep, D1, G1.

    Expressions are SQL *strings*, not Column objects: building a Column
    costs ~10 py4j socket round-trips and a wide profile needs hundreds of
    expressions — string building is pure Python (measured: ~1.2s of py4j
    chatter per table collapsed to one ``selectExpr`` call per chunk).
    Callers pass them to :func:`run_chunked_agg` (or ``df.selectExpr``).
    Column names are backtick-quoted; ``describe()`` renames columns to
    ``__c{i}`` first, so embedded backticks can't occur in the hot path.
    """
    exprs: list[str] = ["count(1) AS `__n`"]
    for i, (field, cls) in enumerate(zip(df.schema.fields, classes)):
        c = f"`{field.name}`"
        k = _key(i, "count")
        exprs.append(f"count({c}) AS `{k}`")
        if cfg.exact_distinct:
            exprs.append(
                f"count(DISTINCT {c}) AS `{_key(i, 'distinct')}`")
        else:
            exprs.append(
                f"approx_count_distinct({c}, {cfg.distinct_rsd!r}) "
                f"AS `{_key(i, 'distinct')}`")
        # NOTE: no first()/min()/max() over STRING columns here — a single
        # string-buffered aggregate disqualifies HashAggregateExec (string
        # buffers are immutable in UnsafeRow) and demotes the ENTIRE wide
        # agg to interpreted SortAggregate, losing whole-stage codegen for
        # every expression.  The CONST value (G1) comes from the frequency
        # pass instead (a CONST column's top value is its value).

        if S.is_numeric(cls):
            cd = f"CAST({c} AS DOUBLE)"
            exprs.extend([
                f"avg({cd}) AS `{_key(i, 'mean')}`",
                f"CAST(min({c}) AS DOUBLE) AS `{_key(i, 'min')}`",
                f"CAST(max({c}) AS DOUBLE) AS `{_key(i, 'max')}`",
                f"var_samp({cd}) AS `{_key(i, 'variance')}`",
                f"stddev_samp({cd}) AS `{_key(i, 'std')}`",
                f"skewness({cd}) AS `{_key(i, 'skewness')}`",
                f"kurtosis({cd}) AS `{_key(i, 'kurtosis')}`",
                f"sum({cd}) AS `{_key(i, 'sum')}`",
                f"sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) "
                f"AS `{_key(i, 'zeros')}`",
            ])
            if cls == S.NUM_FLOAT:
                exprs.append(
                    f"sum(CASE WHEN {cd} IN (double('Infinity'), "
                    f"double('-Infinity')) THEN 1 ELSE 0 END) "
                    f"AS `{_key(i, 'inf')}`")
                exprs.append(
                    f"sum(CASE WHEN isnan({cd}) THEN 1 ELSE 0 END) "
                    f"AS `{_key(i, 'nan')}`")
            # NOTE: quantiles deliberately live in pass 2 — a single
            # percentile/percentile_approx expression demotes the WHOLE
            # aggregate from HashAggregate(codegen) to ObjectHashAggregate
            # (interpreted), slowing every other expression ~2x.  Keeping
            # pass 1 sketch-free keeps it inside whole-stage codegen.
        elif cls == S.DATE:
            exprs.append(f"min({c}) AS `{_key(i, 'min_date')}`")
            exprs.append(f"max({c}) AS `{_key(i, 'max_date')}`")
        elif cls in (S.ARRAY, S.MAP):
            exprs.extend([
                f"avg(size({c})) AS `{_key(i, 'mean_size')}`",
                f"CAST(min(size({c})) AS BIGINT) "
                f"AS `{_key(i, 'min_size')}`",
                f"CAST(max(size({c})) AS BIGINT) "
                f"AS `{_key(i, 'max_size')}`",
            ])
    return exprs


def build_quantile_exprs(df: DataFrame, base_classes: list[str],
                         cfg: ProfileConfig) -> list[str]:
    """Quantile (N6) sketch expressions from SCHEMA-ONLY dispatch.

    Quantiles need nothing from pass 1 — unlike MAD (mean) and histogram
    bins (min/max) — so the ObjectHashAggregate job they force can run
    CONCURRENTLY with pass 1 instead of serializing behind it.  Built
    from base classes, not resolved ones: the only divergence is a
    base-numeric column that pass 1 would resolve to CONST or that is
    all-NULL — there ``percentile(_approx)`` returns NULL, which the
    assembler treats exactly like an absent key, so the result is
    IDENTICAL to the old pass-2 placement (oracle-verified); the cost is
    one wasted sketch for the (rare) constant numeric column.
    """
    exprs: list[str] = []
    qs = ", ".join(repr(q) for q in cfg.quantiles)
    for i, (field, cls) in enumerate(zip(df.schema.fields, base_classes)):
        if not S.is_numeric(cls):
            continue
        c = f"CAST(`{field.name}` AS DOUBLE)"
        if cfg.exact_quantiles:
            exprs.append(f"percentile({c}, array({qs})) "
                         f"AS `{_key(i, 'quantiles')}`")
        else:
            exprs.append(
                f"percentile_approx({c}, array({qs}), "
                f"{cfg.quantile_accuracy}) AS `{_key(i, 'quantiles')}`")
    return exprs


def build_pass2_exprs(df: DataFrame, classes: list[str], pass1: dict[str, Any],
                      cfg: ProfileConfig,
                      include_quantiles: bool = True) -> list[str]:
    """Pass-2 SQL expressions: quantiles (N6), MAD (N10), histograms (N12).

    MAD is the reference's *mean* absolute deviation around the mean
    (``base.py::describe>>describe_integer_1d``), an inherently two-pass
    statistic.  Histogram bins are equal-width on [min, max] with the last
    bin right-closed, matching ``base.py::describe>>create_hist_data``.
    Quantile sketches sit here (not pass 1) so the ObjectHashAggregate
    they force is paid once, on this smaller expression set — and the
    orchestrator passes ``include_quantiles=False`` to issue them via
    :func:`build_quantile_exprs` concurrently WITH pass 1 instead (they
    are the only pass-2 statistic with no pass-1 dependency).  Bin-edge
    literals are emitted with :func:`_dlit`, so the SQL form computes the
    bit-exact same bins as driver-side float arithmetic.
    """
    exprs: list[str] = []
    for i, (field, cls) in enumerate(zip(df.schema.fields, classes)):
        if cls == S.DATE and cfg.compute_histograms:
            # D3 extension (reference has no date histogram): equal-width
            # bins over epoch seconds, edges from pass-1 min/max.
            mn_d = pass1.get(_key(i, "min_date"))
            mx_d = pass1.get(_key(i, "max_date"))
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
                        f"AS `{_key(i, f'hist{b}')}`")
            continue
        if not S.is_numeric(cls):
            continue
        cnt = pass1.get(_key(i, "count")) or 0
        mean = pass1.get(_key(i, "mean"))
        mn = pass1.get(_key(i, "min"))
        mx = pass1.get(_key(i, "max"))
        c = f"CAST(`{field.name}` AS DOUBLE)"
        if include_quantiles and cnt > 0:
            qs = ", ".join(repr(q) for q in cfg.quantiles)
            if cfg.exact_quantiles:
                exprs.append(f"percentile({c}, array({qs})) "
                             f"AS `{_key(i, 'quantiles')}`")
            else:
                exprs.append(
                    f"percentile_approx({c}, array({qs}), "
                    f"{cfg.quantile_accuracy}) AS `{_key(i, 'quantiles')}`")
        if cfg.compute_mad and cnt > 0 and mean is not None \
                and math.isfinite(mean):
            exprs.append(f"avg(abs({c} - {_dlit(mean)})) "
                         f"AS `{_key(i, 'mad')}`")
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
                             f"AS `{_key(i, f'hist{b}')}`")
    return exprs


def _expr_class(s: str) -> str:
    """Classify an aggregate SQL expression by its buffer/exec impact.

    * ``sketch``  — HLL++ (``approx_count_distinct``): ~52 LONG buffer
      slots per column.  A dozen of these pushes the aggregate past
      ``spark.sql.codegen.maxFields``, silently demoting EVERY expression
      in the same physical agg to interpreted execution (measured 6-8x
      slowdown of the whole pass).  Isolated in their own chunk they are
      cheap (one register update per row).
    * ``object`` — percentile/percentile_approx: TypedImperativeAggregate,
      forces ObjectHashAggregateExec (no whole-stage codegen) for the
      entire chunk, so they must never share a chunk with declarative
      aggregates.
    * ``light``  — everything else (count/min/max/moments/corr/when-sums):
      2-6 fixed-width buffer slots each, stays inside HashAggregateExec
      whole-stage codegen when chunked below the maxFields budget.
    """
    if "approx_count_distinct" in s or "count(DISTINCT" in s:
        # exact count_distinct also isolated: it plans via Expand (one
        # duplicated row-stream per DISTINCT column) — grouping the
        # distincts together caps the Expand multiplication to the
        # distinct-only chunk instead of inflating the whole wide agg.
        return "sketch"
    if "percentile" in s:
        return "object"
    if "covar_samp(" in s:
        # correlation pair expressions: ~9 buffer slots each (two
        # stddev states + one covar state), so a 28-pair 8-column
        # matrix alone holds ~250 slots — past codegen.maxFields they
        # silently demote the WHOLE aggregate to interpreted execution
        # (measured: the one-job 8-column matrix runs 2.7s interpreted
        # vs 0.8s codegen'd on sf0.1 lineitem).  Own class: its
        # budgeted cap keeps every pair chunk codegen'd.
        return "pair"
    return "light"


# Budgeted chunk sizes (buffer-slot aware, see _expr_class):
# light: worst case ~6 slots/expr (corr) -> 64 exprs ~= 384 slots, safely
# under the codegen.maxFields=500 of session.wide_codegen; sketch/object:
# execution is per-row cheap / already interpreted, cap only to bound
# planning time.
_CHUNK_CAP = {"light": 64, "sketch": 48, "object": 32, "pair": 40}


def make_chunks(exprs: list[str]) -> list[list[str]]:
    """Split aggregate expressions into buffer-class-homogeneous chunks
    of at most ``_CHUNK_CAP[class]`` expressions each.

    Grouping rules (measured on 600k-row lineitem, local[32]):
    * declarative aggs mixed with HLL sketches lose whole-stage codegen
      (buffer > codegen.maxFields) — 9.3s; split into two chunks — 1.2s.
    * percentile sketches demote a chunk to ObjectHashAggregateExec; they
      get their own chunk so histograms/MAD stay codegen'd.
    Values are identical under any chunking: each expression runs over
    the full input in exactly one job.
    """
    # sketch chunks FIRST: task threads start in list order, and the HLL
    # sketch chunks are pass 1's long poles, so they should not queue
    # behind the short light chunks when the chunk count exceeds
    # describe()'s in-flight gate (LPT, guide §2.6; same reasoning as
    # submitting the quantile sketches before pass 1).  Chunk contents
    # are unchanged — only the submission order.
    groups: dict[str, list[str]] = {"sketch": [], "pair": [],
                                    "light": [], "object": []}
    for e in exprs:
        groups[_expr_class(e)].append(e)
    chunks: list[list[str]] = []
    for klass, es in groups.items():
        step = _CHUNK_CAP[klass]
        for start in range(0, len(es), step):
            chunks.append(es[start:start + step])
    return chunks


def run_chunked_agg(df: DataFrame, exprs: list[str]) -> dict[str, Any]:
    """Execute a wide agg, chunked by buffer class, chunks run CONCURRENTLY.

    Chunking per :func:`make_chunks`.  Each chunk is one Spark job (one
    scan) issued as a single ``selectExpr`` — one py4j round-trip however
    many expressions the chunk holds.  Chunks are submitted from
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
    out: dict[str, Any] = {}
    if not exprs:
        return out
    chunks = make_chunks(exprs)
    if len(chunks) == 1:
        return df.selectExpr(*chunks[0]).collect()[0].asDict()
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


def stat_key(i: int, stat: str) -> str:
    """Public accessor for the alias scheme (used by the orchestrator)."""
    return _key(i, stat)


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
