"""Generated-class cache sized by ``build_session`` (fresh JVMs).

Spark keeps compiled whole-stage-codegen classes in one LRU per JVM,
``spark.sql.codegen.cache.maxEntries`` entries (default 100).  Once an
op's classes outnumber the entries, every pass evicts every class
before its next use and compiles them all again.  ``build_session``
sizes the cache to 1000.

The conf is static and the cache is built once per JVM, so each check
runs in its own runner JVM (conftest's runner queue): the perfbench
``llm_ingest`` operator chain twice over the sf0.001 documents and
embeddings, counting Janino compiles (``CodegenMetrics``) around each
pass.  At sf0.001 the chain generates 90 classes, fewer than the
default 100 (perfbench's three-column state and growing state files
generate more), so the cliff is shown with a cache of 50 set through
``extra_conf``: there the warm pass compiles again.
"""

from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])

RUNNER = r"""
import json, sys, tempfile
memory, out_path, repo, entries = sys.argv[1:5]
sys.path.insert(0, repo)
from pyspark.sql import functions as F
from spark_df_profiling_spark.operators import (
    dedup, incremental, similarity, text)
from spark_df_profiling_spark.session import build_session
from spark_df_profiling_spark.sources import DEFAULT_SF_DIR

KEY = "spark.sql.codegen.cache.maxEntries"
conf = {"spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": memory}
if entries != "default":
    conf[KEY] = entries
spark = build_session("codegen-cache", master="local[2]", extra_conf=conf)
spark.sparkContext.setLogLevel("ERROR")
compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
            .CodegenMetrics.METRIC_COMPILATION_TIME())
emb = spark.read.parquet(f"{DEFAULT_SF_DIR}/embeddings.parquet")
state = tempfile.mkdtemp()


def chain(p):
    docs = spark.read.parquet(f"{DEFAULT_SF_DIR}/documents.parquet")
    dedup.exact_dedup(docs, "text").count()
    cand = dedup.minhash_candidates(docs, "text", "doc_id")
    cand.collect()
    cand._minhash_features.unpersist()
    text.text_features(docs, "text").agg(
        F.count(F.lit(1)), F.sum("f_n_chars"), F.sum("f_n_tokens"),
        F.avg("f_quality")).collect()
    q = emb.where(F.col("vec_id").isin(list(range(0, 100, 5))))
    similarity.knn_bruteforce(emb, q, k=10).collect()
    part = incremental.partial_profile(docs, ("n_chars", "lang"))
    path = f"{state}/pass{p}"
    part.write.parquet(path)
    return incremental.finalize(incremental.merge_partials(
        spark.read.schema(part.schema).parquet(path))).collect()


out = {"max_entries": spark.conf.get(KEY), "compiles": [], "rows": []}
for p in range(2):
    before = compiles.getCount()
    rows = chain(p)
    out["compiles"].append(compiles.getCount() - before)
    out["rows"].append(sorted((r["column"], r["count"]) for r in rows))
spark.stop()
spark = build_session("codegen-cache-override", master="local[2]",
                      extra_conf={**conf, KEY: "64"})
out["override"] = spark.conf.get(KEY)
spark.stop()
with open(out_path, "w") as f:
    json.dump(out, f)
"""

SMALL_CACHE = 50
SPARK_RUNNERS = {"default": (RUNNER, REPO, "default"),
                 "small": (RUNNER, REPO, str(SMALL_CACHE))}


def test_warm_llm_ingest_chain_compiles_nothing(spark_runner):
    got = spark_runner["default"]
    cold, warm = got["compiles"]
    assert got["max_entries"] == "1000"
    assert 0 < cold <= 1000, got
    assert warm == 0, got
    assert got["rows"][0] == got["rows"][1]
    # the same JVM, rebuilt with extra_conf: the caller's value wins
    assert got["override"] == "64"


def test_cache_below_working_set_recompiles(spark_runner):
    """The cliff: a cache smaller than the chain's classes (set through
    ``extra_conf``, so the override reaches the JVM's cache) evicts
    them before the warm pass, which compiles again."""
    got = spark_runner["small"]
    cold, warm = got["compiles"]
    assert got["max_entries"] == str(SMALL_CACHE)
    assert cold > SMALL_CACHE, got
    assert warm > 0, got
    assert got["rows"][0] == got["rows"][1]
