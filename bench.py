"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set (matches BASELINE.md targets):
  profile_lineitem   full profile() of lineitem (~600k rows at sf0.1)
  profile_core8      profile() of all 8 core tables
  group_profile      TPC-H Q1-style grouped aggregation
  corr_matrix        full Pearson matrix, lineitem numeric columns (1 job)
  freq_topk          stacked top-k frequencies, all lineitem CAT columns
  dedup_exact        exact text dedup of documents (keep-first)
  minhash_neardup    MinHashLSH near-dup candidates on documents
  knn_bruteforce     exact cosine top-10, 20 queries vs embeddings corpus
  text_features      full text-feature extraction over documents
  window_profile     1-day tumbling-window profile of events
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NOTE on scan splits: lowering spark.sql.files.openCostInBytes
        # to split small inputs across cores was tried and REVERTED by
        # measurement — every test parquet is ONE row group, so the
        # extra splits are empty and their task-launch overhead costs
        # 10-20% (profile_lineitem best-of-5: 2.28s at the 4 MB default
        # vs 2.65s at 16 KB; profile_core8 4.31s vs 5.40s).  See
        # OPTIMIZATION_r15.md.
        .appName("spark-df-profiling-bench")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from spark_df_profiling_spark import ProfileConfig, profile
    from spark_df_profiling_spark.operators.dedup import (
        exact_dedup, minhash_candidates)
    from spark_df_profiling_spark.operators.similarity import knn_bruteforce
    from spark_df_profiling_spark.operators.text import text_features
    from spark_df_profiling_spark.oracle import SPARK_QUERIES

    def t(name):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    scale_cfg = ProfileConfig()  # approx distinct + approx quantiles

    core8 = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events"]

    def bench_profile_lineitem():
        profile(t("lineitem"), scale_cfg).collect()

    def bench_profile_core8():
        from spark_df_profiling_spark.operators.profile import profile_many
        res = profile_many({name: t(name) for name in core8}, scale_cfg,
                           max_threads=8)
        for r in res.values():
            r.variables.collect()

    def bench_group_profile():
        # The grouped-profile aggregation itself (the oracle slot of
        # the same name ALSO grades grouped_quantiles — exact-mode
        # percentiles — and grouped_outlier_stats since r10; same
        # bench-vs-slot split as bench_corr_matrix).
        li = t("lineitem")
        (li.groupBy("l_returnflag", "l_linestatus")
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum("l_quantity").alias("sum_qty"),
              F.avg("l_extendedprice").alias("avg_price"),
              F.avg("l_discount").alias("avg_disc"),
              F.sum(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")))
              .alias("sum_disc_price"))
         .collect())

    def bench_corr_matrix():
        # The Pearson matrix operator itself (the oracle slot of the
        # same name ALSO grades categorical_association since r9 —
        # same split as bench_asof_join vs its slot).
        from spark_df_profiling_spark.operators.correlation import (
            correlation_matrix)
        correlation_matrix(t("lineitem"), [
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"])

    def bench_freq_topk():
        from spark_df_profiling_spark.operators.frequency import (
            topk_frequencies)
        li = t("lineitem")
        topk_frequencies(li, ["l_returnflag", "l_linestatus"], 50)

    def bench_dedup_exact():
        exact_dedup(t("documents"), cols=["text"],
                    order_col="doc_id").count()

    def bench_minhash_neardup():
        out = minhash_candidates(t("documents"), "text", "doc_id",
                                 jaccard_max_distance=0.3)
        out.count()
        # Release the persisted feature frame (r16): each call persists
        # its own copy and the cache otherwise lives until session end,
        # leaving both timed runs' copies resident in storage memory
        # while every LATER query runs.  The release is INSIDE the
        # timed region, so the measured query bears its own cleanup.
        feats = getattr(out, "_minhash_features", None)
        if feats is not None:
            feats.unpersist()

    def bench_knn_bruteforce():
        emb = t("embeddings")
        knn_bruteforce(emb, emb.where(F.col("vec_id") < 20),
                       k=10).collect()

    def bench_text_features():
        text_features(t("documents"), "text") \
            .agg(F.sum("f_n_tokens"), F.avg("f_quality"),
                 F.count_distinct("f_fingerprint"),
                 F.count_distinct("f_lang")).collect()

    def bench_window_profile():
        SPARK_QUERIES["window_profile_events"](spark, sf_dir).collect()

    def bench_profile_documents():
        profile(t("documents"), scale_cfg).collect()

    def bench_profile_embeddings():
        profile(t("embeddings"), scale_cfg).collect()

    def bench_session_profile():
        SPARK_QUERIES["session_profile_events"](spark, sf_dir).collect()

    def bench_asof_join():
        # Build the as-of join directly (the oracle slot of the same
        # name ALSO executes the stream-stream-join streaming grading
        # harness since r7 — benching through it would time the memory
        # sink, not the operator).
        from spark_df_profiling_spark.operators.joins import asof_join
        from spark_df_profiling_spark.sources import event_time_micros
        ev = t("events")
        tus = event_time_micros(ev)
        c = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", tus.alias("tus"))
        v = ev.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id",
            tus.alias("tus"))
        asof_join(c, v, on="user_id", left_ts="tus").collect()

    def bench_range_join():
        SPARK_QUERIES["range_join_event_windows"](spark, sf_dir).collect()

    benches = {
        "profile_lineitem": bench_profile_lineitem,
        "profile_core8": bench_profile_core8,
        "group_profile": bench_group_profile,
        "corr_matrix": bench_corr_matrix,
        "freq_topk": bench_freq_topk,
        "dedup_exact": bench_dedup_exact,
        "minhash_neardup": bench_minhash_neardup,
        "knn_bruteforce": bench_knn_bruteforce,
        "text_features": bench_text_features,
        "window_profile": bench_window_profile,
        "profile_documents": bench_profile_documents,
        "profile_embeddings": bench_profile_embeddings,
        "session_profile": bench_session_profile,
        "asof_join": bench_asof_join,
        "range_join": bench_range_join,
    }

    # Warm-up: JVM startup, parquet reader, and the profiling codepaths
    # (agg codegen + JIT) on the smallest table, so one-time startup cost
    # isn't billed to whichever query happens to run first.
    profile(t("region"), scale_cfg).collect()

    # Each query runs twice and reports the faster run: single-run
    # timings on virtualized hardware show 5-30x outliers (host
    # scheduling / JIT deopt storms) that say nothing about plan quality.
    timings: dict[str, float] = {}
    for name, fn in benches.items():
        best = None
        try:
            for _ in range(2):
                t0 = time.time()
                fn()
                dt = round(time.time() - t0, 3)
                best = dt if best is None else min(best, dt)
            timings[name] = best
        except Exception as exc:  # record failures without killing bench
            timings[name] = -1.0
            print(f"bench {name} FAILED: {exc}", file=sys.stderr)

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
