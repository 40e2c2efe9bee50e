"""The salted two-phase top-k kernel (``plans.topk.two_phase_topk``) and
every public operator that ranks through it: the bucket phase never
changes a result, and ``sub_partitions < 1`` is rejected instead of
ranking everything in one NULL bucket."""

import functools
import random

import pytest
from pyspark.sql import functions as F

from spark_df_profiling_spark.operators import (
    frequency as FR, sampling as SA, similarity as SI, text as TX)
from spark_df_profiling_spark.operators.clustering import kmeans_fit
from spark_df_profiling_spark.plans.topk import two_phase_topk

WORDS = ["a", "b", "c", "d", "e", "f", "g", "h", "ij", "kl", "mn"]


def _docs(spark):
    rng = random.Random(3)
    rows = [(i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(
        1, 12)))) for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _events(spark):
    rng = random.Random(5)
    rows = [(i, float(rng.randint(0, 99)), rng.choice(WORDS),
             rng.choice("xyz"), float(rng.randint(1, 9)))
            for i in range(300)]
    return spark.createDataFrame(
        rows, "id long, ts double, v string, g string, w double")


def _vectors(spark):
    rng = random.Random(7)
    rows = [(i, [float(rng.randint(-4, 4)) for _ in range(4)])
            for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding "
                                       "array<double>")


@functools.cache
def _fitted(spark):
    """The vectors with their k-means centroids and PQ state, fitted once
    (the fits, not the searches, dominate these cases' run time)."""
    df = _vectors(spark)
    return (df, kmeans_fit(df, k=3, n_iter=2, seed=0),
            SI.pq_fit(df, m=2, k=3, n_iter=2, seed=0))


def _knn_ivf(spark, **kw):
    df, cents, _ = _fitted(spark)
    return SI.knn_ivf(df, df.where(F.col("vec_id") < 4), cents, k=4,
                      nprobe=2, **kw)


def _pq_adc(spark, **kw):
    df, _, st = _fitted(spark)
    return SI.pq_adc_topk(SI.pq_encode(df, st),
                          df.where(F.col("vec_id") < 4), st, k=4, **kw)


CALLERS = {
    "topk_frequencies": lambda s, **kw: FR.topk_frequencies(
        _events(s), ["v", "g"], 3, **kw),
    "topk_frequencies_frame": lambda s, **kw: FR.topk_frequencies_frame(
        _events(s), ["v", "g"], 3, **kw),
    "topk_by_group": lambda s, **kw: FR.topk_by_group(
        _events(s), "g", "v", k=3, **kw),
    "windowed_topk": lambda s, **kw: FR.windowed_topk(
        _events(s), "ts", "v", window=25.0, k=3, **kw),
    "vocab_topk": lambda s, **kw: TX.vocab_topk(
        _docs(s), "text", k=4, **kw),
    "bpe_pair_counts": lambda s, **kw: TX.bpe_pair_counts(
        _docs(s), "text", k=4, **kw),
    "weighted_sample_k": lambda s, **kw: SA.weighted_sample_k(
        _events(s), "id", "w", k=7, seed=1, **kw),
    "knn_bruteforce": lambda s, **kw: SI.knn_bruteforce(
        _vectors(s), _vectors(s).where(F.col("vec_id") < 4), k=4, **kw),
    "knn_ivf": _knn_ivf,
    "pq_adc_topk": _pq_adc,
}


def _result(out):
    if isinstance(out, dict):
        return out
    return sorted(tuple(r) for r in out.collect())


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_single_phase_equals_default_and_zero_raises(spark, caller):
    run = CALLERS[caller]
    default = _result(run(spark))
    assert default, "fixture too small to rank anything"
    assert _result(run(spark, sub_partitions=1)) == default
    with pytest.raises(ValueError, match="sub_partitions"):
        _result(run(spark, sub_partitions=0))


@pytest.mark.parametrize("sub", [1, 3, 64])
@pytest.mark.parametrize("by", [[], ["g"]])
def test_kernel_matches_python_rank(spark, sub, by):
    rows = [(r["g"], r["v"], r["id"]) for r in _events(spark).collect()]
    df = spark.createDataFrame(rows, "g string, v string, id long")
    out = two_phase_topk(df, by, "xxhash64(id)", ["v ASC", "id DESC"],
                         5, sub)
    got = sorted((r["g"] if by else None, r["rank"], r["id"])
                 for r in out.collect())
    exp = []
    for key in sorted({g for g, _, _ in rows} if by else {None}):
        part = [r for r in rows if not by or r[0] == key]
        part.sort(key=lambda r: (r[1], -r[2]))
        exp += [(key, i + 1, r[2]) for i, r in enumerate(part[:5])]
    assert got == sorted(exp)
