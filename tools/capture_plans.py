"""Capture .explain("formatted") for every bench query -> plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query,query,...]

Writes plans/<tag>/<query>_<suffix>.txt for each bench query.  The suffix
is "before" unless the tag dir already holds a "<query>_before.txt", in
which case "after" (re-runs overwrite "after").  Queries whose bench
body is driver-orchestrated (profile passes, correlation_matrix) emit
the plan of each constituent Spark job via an explain hook.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "r15"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", TAG)
os.makedirs(OUT_DIR, exist_ok=True)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .appName("capture-plans").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from spark_df_profiling_spark import ProfileConfig
    from spark_df_profiling_spark.oracle import SPARK_QUERIES

    def t(name):
        return spark.read.parquet(f"{SF_DIR}/{name}.parquet")

    scale_cfg = ProfileConfig()

    def fmt(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def profile_plans(table: str) -> str:
        """Plans of every chunked-agg job + the freq job of profile()."""
        from spark_df_profiling_spark.operators import profile as P
        from spark_df_profiling_spark.plans import wide_agg as W

        sections: list[str] = []
        orig_make = W.make_chunks

        def _chunk_df(ch):
            # rebuild the chunk frame over the safe-renamed table, the
            # same shape describe() executes
            d = t(table)
            safe = d.toDF(*[f"__c{i}" for i in range(len(d.columns))])
            return safe.selectExpr(*ch)

        def spy_make(exprs):
            chunks = orig_make(exprs)
            for ch in chunks:
                sections.append(
                    f"=== chunked agg [{W._expr_class(ch[0])}] "
                    f"({len(ch)} exprs) ===\n"
                    + fmt(_chunk_df(ch)))
            return chunks

        from spark_df_profiling_spark.operators import frequency as FR
        orig_freq = FR.topk_frequencies

        def spy_freq(d, cat_cols, k, sub_partitions=64, two_phase=True):
            sections.append(
                f"=== frequencies (two_phase={two_phase}) ===\n"
                + fmt(FR.topk_frequencies_frame(d, cat_cols, k,
                                                sub_partitions, two_phase)))
            return orig_freq(d, cat_cols, k, sub_partitions, two_phase)

        W.make_chunks = spy_make
        P.W.make_chunks = spy_make
        FR.topk_frequencies = spy_freq
        P.FR.topk_frequencies = spy_freq
        try:
            res = P.describe(t(table), scale_cfg)
            sections.append("=== variables (result assembly) ===\n"
                            + fmt(res.variables))
        finally:
            W.make_chunks = orig_make
            P.W.make_chunks = orig_make
            FR.topk_frequencies = orig_freq
            P.FR.topk_frequencies = orig_freq
        return "\n".join(sections)

    def corr_matrix_plan() -> str:
        # mirror of bench_corr_matrix; plan depends on the current
        # correlation_matrix implementation
        from spark_df_profiling_spark.operators import correlation as C
        cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        li = t("lineitem")
        if len(cols) <= getattr(C, "_DECLARATIVE_MAX_COLS", 0):
            # the declarative branch through the operator's OWN
            # chunking (pair-class chunks), captured by spying
            # run_chunked_agg's make_chunks — no hand-mirrored plan
            # that can drift
            from spark_df_profiling_spark.plans import wide_agg as W
            sections: list[str] = []
            orig_make = W.make_chunks
            safe = [f"__p{j}" for j in range(len(cols))]
            sel = li.select(*[li[c].cast("double").alias(s)
                              for c, s in zip(cols, safe)])

            def spy_make(exprs):
                chunks = orig_make(exprs)
                for ch in chunks:
                    sections.append(
                        f"=== declarative corr chunk "
                        f"[{W._expr_class(ch[0])}] ({len(ch)} exprs) "
                        f"===\n"
                        + fmt(sel.selectExpr(*ch)))
                return chunks

            W.make_chunks = spy_make
            try:
                C.correlation_matrix(li, cols)
            finally:
                W.make_chunks = orig_make
            return "\n".join(sections)
        clean = li.select(
            *[li[c].cast("double").alias(c) for c in cols]).na.drop("any")
        from pyspark.ml.feature import VectorAssembler
        vec = (VectorAssembler(inputCols=cols, outputCol="__features")
               .transform(clean).select("__features"))
        return ("=== ml.stat path: assembled vector input "
                "(Correlation.corr runs RDD-side) ===\n" + fmt(vec))

    def freq_topk_plan() -> str:
        from spark_df_profiling_spark.operators import frequency as FR
        li = t("lineitem")
        # the exact frame the operator executes (r16: no more inline
        # mirror that could drift from the implementation)
        return fmt(FR.topk_frequencies_frame(
            li, ["l_returnflag", "l_linestatus"], 50))

    def dedup_exact_plan() -> str:
        from spark_df_profiling_spark.operators.dedup import exact_dedup
        return fmt(exact_dedup(t("documents"), cols=["text"],
                               order_col="doc_id"))

    def minhash_plan() -> str:
        from spark_df_profiling_spark.operators.dedup import (
            minhash_candidates)
        return fmt(minhash_candidates(t("documents"), "text", "doc_id",
                                      jaccard_max_distance=0.3))

    def knn_plan() -> str:
        from spark_df_profiling_spark.operators.similarity import (
            knn_bruteforce)
        emb = t("embeddings")
        return fmt(knn_bruteforce(emb, emb.where(F.col("vec_id") < 20),
                                  k=10))

    def text_features_plan() -> str:
        from spark_df_profiling_spark.operators.text import text_features
        return fmt(text_features(t("documents"), "text")
                   .agg(F.sum("f_n_tokens"), F.avg("f_quality"),
                        F.count_distinct("f_fingerprint"),
                        F.count_distinct("f_lang")))

    def group_profile_plan() -> str:
        li = t("lineitem")
        return fmt(
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_quantity").alias("sum_qty"),
                 F.avg("l_extendedprice").alias("avg_price"),
                 F.avg("l_discount").alias("avg_disc"),
                 F.sum(F.col("l_extendedprice")
                       * (1 - F.col("l_discount")))
                 .alias("sum_disc_price")))

    def asof_plan() -> str:
        from spark_df_profiling_spark.operators.joins import asof_join
        from spark_df_profiling_spark.sources import event_time_micros
        ev = t("events")
        tus = event_time_micros(ev)
        c = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", tus.alias("tus"))
        v = ev.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id",
            tus.alias("tus"))
        return fmt(asof_join(c, v, on="user_id", left_ts="tus"))

    def slot_plan(slot: str):
        return lambda: fmt(SPARK_QUERIES[slot](spark, SF_DIR))

    plans = {
        "profile_lineitem": lambda: profile_plans("lineitem"),
        "profile_documents": lambda: profile_plans("documents"),
        "profile_embeddings": lambda: profile_plans("embeddings"),
        "group_profile": group_profile_plan,
        "corr_matrix": corr_matrix_plan,
        "freq_topk": freq_topk_plan,
        "dedup_exact": dedup_exact_plan,
        "minhash_neardup": minhash_plan,
        "knn_bruteforce": knn_plan,
        "text_features": text_features_plan,
        "window_profile": slot_plan("window_profile_events"),
        "session_profile": slot_plan("session_profile_events"),
        "asof_join": asof_plan,
        "range_join": slot_plan("range_join_event_windows"),
    }

    for name, fn in plans.items():
        if ONLY and name not in ONLY:
            continue
        suffix = "after" if os.path.exists(
            os.path.join(OUT_DIR, f"{name}_before.txt")) else "before"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        try:
            content = fn()
        except Exception as exc:  # keep capturing the rest
            content = f"CAPTURE FAILED: {exc}\n"
        with open(path, "w") as fh:
            fh.write(content)
        print(f"wrote {path} ({len(content)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
