"""The MinHash near-dup family shares one kernel (``operators/dedup.py``:
shingle sets, signature and band rules, hot-bucket cap, band pairs, set
overlap, survivors).  Its operators must agree with each other where
their contracts overlap, reject configurations that cannot hash before
any job runs, and the exact-duplicate pre-collapse must not change
what ``near_dedup_minhash`` keeps."""

import os

import pytest
from pyspark.sql import functions as F

from spark_df_profiling_spark.operators import dedup as D

OFFSET = 10_000_000


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    # sf0.01 documents 0..399, a near-dup copy of 0..199 (last word
    # replaced by 'xyzzy') and a planted 30-row boilerplate bucket
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    d = (spark.read.parquet(f"{sf}/documents.parquet")
         .where(F.col("doc_id") < 400).select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    mut = d.where(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)),
                 F.lit(" xyzzy")).alias("text"))
    boiler = spark.range(30).select(
        (F.col("id") + 500_000).alias("doc_id"),
        F.concat(F.lit("click here to subscribe to our newsletter and "
                       "accept cookies "),
                 (F.col("id") % 3).cast("string")).alias("text"))
    df = d.unionByName(mut).unionByName(boiler).cache()
    yield df
    df.unpersist()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("rows_per_band", [1, 2])
def test_cross_contamination_against_itself_is_the_self_join(
        corpus, rows_per_band):
    bench = corpus.select((F.col("doc_id") + OFFSET).alias("doc_id"),
                          "text")
    got = {}
    for cap in (None, 10):
        native = _rows(D.minhash_candidates_native(
            corpus, "text", "doc_id", rows_per_band=rows_per_band,
            jaccard_max_distance=0.5, max_bucket_size=cap))
        cross = D.cross_contamination_minhash(
            corpus, bench, rows_per_band=rows_per_band,
            jaccard_max_distance=0.5, max_bucket_size=cap)
        cross = _rows(cross
                      .where(F.col("corpus_id")
                             < F.col("bench_id") - OFFSET)
                      .select("corpus_id",
                              F.col("bench_id") - OFFSET,
                              "jaccard_distance"))
        assert cross == native
        got[cap] = native
    # the boilerplate buckets are over the cap: the pairs that share
    # only those go
    def boiler(pairs):
        return [p for p in pairs if p[0] >= 500_000]
    assert set(got[10]) < set(got[None])
    assert len(boiler(got[10])) < len(boiler(got[None]))


def test_containment_covers_the_native_pairs(corpus):
    native = {(a, b): d for a, b, d in _rows(D.minhash_candidates_native(
        corpus, "text", "doc_id", jaccard_max_distance=0.5))}
    cont = {(a, b): j for a, b, _, j in _rows(D.containment_pairs(
        corpus, "text", "doc_id", min_containment=0.5))}
    assert native and set(native) <= set(cont)
    assert all(cont[p] == 1.0 - d for p, d in native.items())


SIX = [(1, "Hello\n\nworld"), (2, "Hello\n\nworld"), (3, "a b\n"),
       (4, "a b\n"), (5, "the quick brown fox jumps"),
       (6, "the quick brown fox jumps")]


@pytest.mark.parametrize("native", [False, True])
def test_pre_collapse_keeps_what_the_plain_path_keeps(spark, native):
    # the ml Tokenizer splits on single whitespace characters and drops
    # trailing empty tokens, shingle_expr splits on runs: each path
    # must collapse by its own generator's shingles
    df = spark.createDataFrame(SIX, "doc_id long, text string")
    kept = [sorted(r[0] for r in D.near_dedup_minhash(
        df, "text", "doc_id", native=native,
        pre_collapse_exact=pc).collect()) for pc in (True, False)]
    assert kept[0] == kept[1]


def _bad_call(fn, df, **kw):
    if fn == "shingle_expr":
        return D.shingle_expr("text", kw.get("shingle_n", 3))
    if fn == "neardup_against_history":
        state = D.minhash_signature_state(df, "text", "doc_id")
        return D.neardup_against_history(df, state, "text", "doc_id", **kw)
    if fn == "cross_contamination_minhash":
        return D.cross_contamination_minhash(df, df, **kw)
    return getattr(D, fn)(df, "text", "doc_id", **kw)


BAD = [{"num_hashes": 0}, {"num_hashes": -3},
       {"shingle_n": 0}, {"shingle_n": -1}]


@pytest.mark.parametrize("fn,kw", [
    (fn, kw) for fn in (
        "shingle_expr", "minhash_signature_state",
        "minhash_candidates_native", "neardup_against_history",
        "containment_pairs", "cross_contamination_minhash")
    for kw in BAD if fn != "shingle_expr" or "shingle_n" in kw])
def test_rejects_empty_signatures_and_shingles(spark, fn, kw):
    df = spark.createDataFrame(SIX, "doc_id long, text string")
    sc = spark.sparkContext
    group = f"reject-{fn}-{sorted(kw.items())}"
    sc.setJobGroup(group, "validation must run no job")
    try:
        with pytest.raises(ValueError,
                           match=r"(num_hashes|shingle_n) must be >= 1"):
            _bad_call(fn, df, **kw)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
