"""Round-15 optimization internals: buffer-class chunking, small-scan
fan-out, minhash persist toggle, pow-free sig() rounding."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_make_chunks_caps():
    from spark_df_profiling_spark.plans.wide_agg import (
        _CHUNK_CAP, make_chunks)
    by_class = {
        "light": [f"count(`c{i}`) AS `k{i}`" for i in range(140)],
        "sketch": [f"approx_count_distinct(`c{i}`) AS `d{i}`"
                   for i in range(50)],
        "pair": [f"covar_samp(`c{i}`, `c{i + 1}`) AS `p{i}`"
                 for i in range(41)],
        "object": [f"percentile_approx(`c{i}`, 0.5, 100) AS `q{i}`"
                   for i in range(3)],
    }
    for klass, exprs in by_class.items():
        chunks = make_chunks(klass, exprs)
        # partition property: every expr in exactly one chunk, in order
        assert [e for ch in chunks for e in ch] == exprs
        assert all(0 < len(ch) <= _CHUNK_CAP[klass] for ch in chunks)
        # as few chunks as the cap allows
        assert len(chunks) == -(-len(exprs) // _CHUNK_CAP[klass])
        assert make_chunks(klass, []) == []


def test_chunking_is_value_preserving(spark, li):
    """The same aggregate expressions produce identical values whether
    evaluated as one wide selectExpr or as per-class chunks."""
    from spark_df_profiling_spark.plans.wide_agg import (
        make_chunks, run_chunked_agg)
    by_class = {
        "light": [
            "count(1) AS `n`",
            "sum(CAST(l_quantity AS DOUBLE)) AS `s`",
            "var_samp(CAST(l_extendedprice AS DOUBLE)) AS `v`",
            "skewness(CAST(l_discount AS DOUBLE)) AS `sk`",
        ],
        "sketch": ["approx_count_distinct(l_partkey, 0.05) AS `d`"],
        "object": [
            "percentile_approx(CAST(l_tax AS DOUBLE), array(0.5), 1000) "
            "AS `q`"],
    }
    exprs = [e for es in by_class.values() for e in es]
    one = li.selectExpr(*exprs).collect()[0].asDict()
    merged = {}
    chunks = [ch for klass, es in by_class.items()
              for ch in make_chunks(klass, es)]
    assert len(chunks) == 3  # light, sketch and object classes
    for ch in chunks:
        merged.update(li.selectExpr(*ch).collect()[0].asDict())
    assert merged == one
    assert run_chunked_agg(li, by_class) == one


def test_minhash_persist_toggle_identical(spark, sf_dir):
    from spark_df_profiling_spark.operators.dedup import (
        minhash_candidates)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 300)
    kw = dict(num_hashes=8, jaccard_max_distance=0.5)
    on = {(r.id_a, r.id_b, round(r.jaccard_distance, 9))
          for r in minhash_candidates(docs, "text", "doc_id",
                                      persist_features=True,
                                      **kw).collect()}
    off = {(r.id_a, r.id_b, round(r.jaccard_distance, 9))
           for r in minhash_candidates(docs, "text", "doc_id",
                                       persist_features=False,
                                       **kw).collect()}
    assert on == off and on


def test_sig_pow_free_decimal_tie(spark):
    """The inherited divergence: Java pow(10,-5) is one ulp below 1e-5
    where DuckDB/libm land above, so the exact dyadic 63/64 rounded to
    98438 in Spark and 98437 in DuckDB.  The parsed-'1e<k>' formulas
    must agree on the tie — and on ordinary values."""
    import duckdb

    from spark_df_profiling_spark.oracle import _psig, sig
    cases = [63.0 / 64.0, 0.123456789, 12345.678, 1e-7, 42.0]
    got_spark = spark.createDataFrame(
        [(v,) for v in cases], "v double").select(
        sig(F.col("v")).alias("s")).collect()
    got_duck = [duckdb.sql(f"SELECT {_psig(repr(v))}").fetchone()[0]
                for v in cases]
    assert [r.s for r in got_spark] == got_duck
    assert got_duck[0] == "98438e-1"  # half-up on the exact .5 tie
