"""SparkSession builder with the engine's scale-tuned defaults.

One place for the conf story this repo's operators assume, so pipelines
don't re-derive it.  Everything here is standard OSS Spark conf:

* AQE on (runtime coalescing + skew-join splitting) — the safety net
  for every groupBy/join in the operators;
* shuffle partitions sized by cluster parallelism, not the 200 default
  (AQE coalesces down, so err high at scale);
* Arrow enabled for the few mapInPandas paths (multimodal, stateful
  streaming) with a bounded per-batch row count;
* a generated-class cache of 1000 entries
  (``spark.sql.codegen.cache.maxEntries``, default 100).  The cache is
  one LRU per JVM, keyed by generated source.  perfbench's
  ``llm_ingest`` generates 94 distinct whole-stage-codegen classes in
  its first op and reuses them after; ``catalog_small`` generates 64.
  At 100 entries the LRU evicts classes before their next use, and each
  ``llm_ingest`` op compiles 26 of them again with Janino; HotSpot then
  interprets and JIT-compiles each recompiled class anew.  At 1000 a
  warm op compiles none.  The conf is static, read when the JVM first
  generates code, so a session built elsewhere must set it at creation;
* ANSI mode stays ON (Spark 4 default) — the operators are written to
  be ANSI-safe (double sums, guarded divisions) rather than relying on
  silent overflow.

:func:`build_session` sets these as defaults; ``extra_conf`` overrides
any of them.  :func:`wide_codegen` is the per-call conf scope the
profiling operators run under.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
ARROW_BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # runtime join pruning: inject a bloom filter built from the
    # filtered small side into the big side's scan (big-big joins
    # where one side is selectively filtered — the 100 TB case static
    # pushdown can't see).  Explicit because deployments still on 3.x
    # defaults have it off.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
        "100MB",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # static: sized for the measured working sets above, with headroom
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def build_session(app_name: str = "spark-df-profiling",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  arrow_batch_rows: int = 5_000,
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Tuned session: AQE + skew handling + Arrow batching + a sized
    generated-class cache (:data:`DEFAULT_CONF`).

    ``shuffle_partitions`` defaults to
    ``extra_conf["spark.sql.shuffle.partitions"]`` if given, else 2x the
    default parallelism (cores on local; executor slots on a cluster) —
    enough tasks to keep partitions under executor memory at large
    inputs, while AQE coalesces the surplus for small stages.  Every
    other ``extra_conf`` entry overrides the default of the same key.
    """
    extra = dict(extra_conf or {})
    conf = {**DEFAULT_CONF, ARROW_BATCH_ROWS: str(arrow_batch_rows), **extra}
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is not None:
        spark.conf.set(SHUFFLE_PARTITIONS, str(shuffle_partitions))
    elif SHUFFLE_PARTITIONS not in extra:
        spark.conf.set(SHUFFLE_PARTITIONS,
                       str(2 * spark.sparkContext.defaultParallelism))
    return spark


MAX_FIELDS = "spark.sql.codegen.maxFields"
WIDE_MAX_FIELDS = 500
_wide_lock = threading.Lock()
# per session: [calls inside the scope, the caller's value or None,
# whether the scope raised it]
_wide_state: dict[int, list] = {}


@contextmanager
def wide_codegen(spark: SparkSession) -> Iterator[None]:
    """Run a block with ``spark.sql.codegen.maxFields`` at least 500.

    A profile's aggregates and projections routinely hold more than the
    default 100 fields, and past that limit Spark silently plans the
    whole stage without whole-stage codegen (the 8-column correlation
    matrix: 2.7 s interpreted vs 0.8 s generated).  The scope is
    ref-counted per session, so concurrent ``describe`` and
    ``correlation_matrix`` calls (``profile_many``) share it: the first
    to enter raises the value only if it is below 500, and the last to
    exit restores the caller's value, or unsets the key if it was unset.

    Setting it once in :func:`build_session` would not do: the test
    session and users' own sessions are not built there, and they would
    silently lose codegen on every wide profile.
    """
    key = id(spark)
    with _wide_lock:
        state = _wide_state.get(key)
        if state is None:
            prior = spark.conf.get(MAX_FIELDS, None)
            raise_it = int(spark.conf.get(MAX_FIELDS)) < WIDE_MAX_FIELDS
            if raise_it:
                spark.conf.set(MAX_FIELDS, str(WIDE_MAX_FIELDS))
            state = _wide_state[key] = [0, prior, raise_it]
        state[0] += 1
    try:
        yield
    finally:
        with _wide_lock:
            state[0] -= 1
            if state[0] == 0:
                del _wide_state[key]
                if state[2]:
                    if state[1] is None:
                        spark.conf.unset(MAX_FIELDS)
                    else:
                        spark.conf.set(MAX_FIELDS, state[1])
