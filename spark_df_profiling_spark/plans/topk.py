"""Salted two-phase top-k: the one ranking kernel behind every top-k
operator (frequencies, vocabularies, weighted samples, nearest
neighbours).

A single ``row_number`` window partitioned by the caller's key alone
funnels every candidate row of a key through one task — with few keys
(a handful of columns, queries or time buckets, or none at all) that is
a handful of tasks however large the cluster.  Phase 1 ranks within
``(by, pmod(salt, sub_partitions))`` and keeps ``k`` rows per bucket, in
parallel; phase 2 ranks the surviving ``sub_partitions × k`` rows per
key.  The salt must be a function of the ranked item (the value, token
or neighbour id), so each item lives in exactly one bucket and the
bucket-local top-k provably contains the global top-k: results are
identical for every ``sub_partitions``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from spark_df_profiling_spark.plans.sqltext import ident


def two_phase_topk(df: DataFrame, by: Sequence[str], salt: str,
                   order: Sequence[str], k: int, sub_partitions: int,
                   rank: str = "rank") -> DataFrame:
    """Keep the top ``k`` rows of ``df`` per ``by`` key under ``order``
    (which must be a total order for deterministic output), adding the
    1-based ``rank`` column.  ``by=[]`` ranks the whole frame.

    ``by``, ``salt`` and ``order`` are SQL text (``"xxhash64(value)"``,
    ``"cnt DESC"``), with column names quoted by the caller where they
    need it; each phase is one ``selectExpr`` and one ``where``.

    ``sub_partitions == 1`` skips the bucket phase: the single-phase
    reference form, with the same result.  ``sub_partitions < 1`` raises
    — ``pmod(_, 0)`` is NULL, which would rank everything in one NULL
    bucket, the single-task window this kernel exists to avoid.
    """
    if sub_partitions < 1:
        raise ValueError(f"sub_partitions must be >= 1: {sub_partitions}")
    order_by = "ORDER BY " + ", ".join(order)
    if sub_partitions > 1:
        keys = ", ".join([*by, f"pmod({salt}, {sub_partitions})"])
        local = f"PARTITION BY {keys} {order_by}"
        df = (df.selectExpr("*", f"row_number() OVER ({local}) AS __r1")
              .where(f"__r1 <= {k}").drop("__r1"))
    # unkeyed: the bucket phase leaves sub_partitions × k rows
    final = f"PARTITION BY {', '.join(by)} {order_by}" if by else order_by
    r = ident(rank)
    return (df.selectExpr("*", f"row_number() OVER ({final}) AS {r}")
            .where(f"{r} <= {k}"))
