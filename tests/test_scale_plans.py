"""Plan-shape and job-count guarantees (the scale story, asserted)."""

import pytest
from pyspark.sql import functions as F

from spark_df_profiling_spark import ProfileConfig, profile


def _job_count(spark, fn):
    """Count Spark jobs triggered by fn(), across ALL threads.

    Public-API probe: tag the calling thread with a unique job group —
    run_chunked_agg's InheritableThread workers inherit it — then count
    via statusTracker().getJobIdsForGroup (stable API, unlike the
    DAGScheduler job-id counter).
    """
    import uuid
    sc = spark.sparkContext
    group = f"job-count-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_profile_job_count(spark, lineitem):
    # Bounded job count, independent of row count: pass-1 light chunks
    # (codegen-friendly, column-disjoint) + one distinct-sketch chunk +
    # one correlation-pair chunk + pass-2 light chunks + one quantile
    # chunk + stacked freq.  For the 11-column lineitem that is 8 scans
    # (test_describe_chunk_layout pins the chunks), each column-pruned
    # so the total bytes read stay ~3x one full-table read (vs the
    # reference's ~12 jobs PER COLUMN).  AQE materializes exchanges as
    # extra bookkeeping jobs, so the probe runs with AQE off.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        n = _job_count(spark, lambda: profile(lineitem))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert n <= 9, f"profile() ran {n} jobs, expected <= 9"


def test_pass1_is_hash_aggregate(spark, lineitem):
    from spark_df_profiling_spark import schema as S
    from spark_df_profiling_spark.plans import wide_agg as W
    cfg = ProfileConfig()
    classes = [S.dtype_class(f.dataType) for f in lineitem.schema.fields]
    # Light exprs only — the HLL sketches are deliberately chunked apart
    # (they blow the codegen field budget; see wide_agg._CHUNK_CAP).
    exprs = W.build_pass1_exprs(lineitem, classes, cfg)["light"]
    agg = lineitem.selectExpr(*exprs)
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


@pytest.mark.parametrize("exact", [False, True])
def test_describe_chunk_layout(spark, lineitem, monkeypatch, exact):
    """describe() chunks each buffer class that build_pass1_exprs and
    correlation_exprs name, in task-creation order (object, sketch,
    pair, light, then pass-2 light), and every class holds only its own
    aggregate kind — the SQL text is checked here, never in the
    package."""
    from spark_df_profiling_spark.operators.profile import describe
    from spark_df_profiling_spark.plans import wide_agg as W
    seen = []
    orig = W.make_chunks

    def spy(klass, exprs):
        out = orig(klass, exprs)
        seen.extend((klass, ch) for ch in out)
        return out

    monkeypatch.setattr(W, "make_chunks", spy)
    describe(lineitem, ProfileConfig().exact() if exact else ProfileConfig())
    # 11 columns, 8 of them numeric: 11 distinct counts, 8 quantile
    # sketches, 28 correlation pairs, 94 light pass-1 exprs and 98
    # light pass-2 exprs (MAD + 10 bins per numeric column, 10 date bins)
    assert [(k, len(ch)) for k, ch in seen] == [
        ("object", 8), ("sketch", 11), ("pair", 28),
        ("light", 64), ("light", 30), ("light", 64), ("light", 34)]
    marker = {
        "sketch": "count(DISTINCT " if exact else "approx_count_distinct(",
        "object": "percentile(" if exact else "percentile_approx(",
        "pair": "covar_samp(",
    }
    for klass, ch in seen:
        for e in ch:
            if klass == "light":
                assert not any(m in e for m in (
                    "approx_count_distinct", "DISTINCT", "percentile",
                    "covar_samp")), e
            else:
                assert marker[klass] in e, (klass, e)


def test_knn_broadcasts_queries(spark, sf_dir):
    from spark_df_profiling_spark.operators.similarity import knn_bruteforce
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = knn_bruteforce(emb, emb.where(F.col("vec_id") < 3), k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .where(F.col("l_quantity") > 25).select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" \
        in plan
    # column pruning: scan schema holds only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_two_phase_topk_matches_single_phase(spark, lineitem):
    from spark_df_profiling_spark.operators.frequency import topk_frequencies
    a = topk_frequencies(lineitem, ["l_returnflag", "l_linestatus"], 3,
                         sub_partitions=64)
    b = topk_frequencies(lineitem, ["l_returnflag", "l_linestatus"], 3,
                         sub_partitions=1)
    assert a == b


def test_ann_ivf_recall(spark, sf_dir):
    from spark_df_profiling_spark.operators.similarity import (
        ann_ivf, knn_bruteforce)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in knn_bruteforce(emb, queries, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ann_ivf(emb, queries, k=5, n_clusters=8,
                               n_probe=4).collect()}
    # probing half the clusters should catch a decent share of true top-5
    assert len(exact & approx) / len(exact) >= 0.4


def test_grouped_profile(spark, lineitem):
    from spark_df_profiling_spark.operators.groupby import grouped_profile
    g = grouped_profile(lineitem, ["l_returnflag"], ["l_quantity"])
    rows = {r["l_returnflag"]: r for r in g.collect()}
    assert len(rows) == 3
    total = sum(r["n_rows"] for r in rows.values())
    assert total == 6000
    for r in rows.values():
        assert r["l_quantity__min"] >= 1.0
        assert r["l_quantity__max"] <= 50.0
    with pytest.raises(ValueError):
        grouped_profile(lineitem, [])


def test_text_features_binds_token_arrays_once(spark, sf_dir):
    # interpreted higher-order kernels must reference the materialized
    # token arrays, not re-split per consumer; CollapseProject would
    # undo this if the arrays looked cheap to duplicate
    from spark_df_profiling_spark.operators.text import text_features
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = text_features(d, "text")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.count("split(text#") <= 1, \
        f"whitespace split duplicated:\n{plan}"
    assert plan.count("split(lower(text") <= 1, \
        f"lowercased split duplicated:\n{plan}"


# --- new pipeline operators: plan shape at scale ---------------------------

def test_sample_and_split_plans_have_no_shuffle(spark, sf_dir):
    """Hash sampling/splitting must stay a pure scan-side projection/
    filter — zero Exchange nodes, so at 100 TB they add no shuffle."""
    from spark_df_profiling_spark.operators.sampling import (
        hash_split, sample_hash)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (sample_hash(d, "doc_id", 0.1),
               hash_split(d, "doc_id", {"a": 0.5, "b": 0.5})):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "BatchScan" in plan or "FileScan" in plan


def test_mixture_sample_joins_broadcast(spark, sf_dir):
    """The per-source cut table is O(#sources) rows — the corpus join
    must be a broadcast hash join, never a sort-merge shuffle of the
    corpus."""
    from spark_df_profiling_spark.operators.sampling import mixture_sample
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mixture_sample(d, "source", {"src0": 0.6, "src1": 0.4},
                         "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_stats_plan_is_narrow(spark, sf_dir):
    """Per-document repetition features are in-row HOFs: no Exchange,
    no per-token explode — corpus-size-independent plan shape."""
    from spark_df_profiling_spark.operators.text import repetition_stats
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_stats(d, "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan        # no explode of the token stream


def test_psi_shuffles_only_bucket_rows(spark, sf_dir):
    """PSI aggregates (column, bucket) pairs: every Exchange in the plan
    sits ABOVE a partial HashAggregate (map-side combine first), so the
    shuffled rows are O(#cols x #bins) per task, not the dataset."""
    from spark_df_profiling_spark.operators.drift import psi_numeric
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ref = li.where(F.col("l_orderkey") % 2 == 0)
    new = li.where(F.col("l_orderkey") % 2 == 1)
    out = psi_numeric(ref, new, ["l_quantity", "l_discount"], bins=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    # every hashpartitioning exchange key set is (column, bucket)-level
    # or the final per-column regroup — none partitions by a data column
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "l_quantity" not in keys and "l_discount" not in keys, keys


def test_event_time_queries_have_clean_plans(spark):
    # The dtype-adaptive ts_ts/tus projections (sources.with_event_time /
    # event_time_micros) must not block predicate pushdown or degrade
    # the joins to nested loops — pins the round-5 restoration.
    from spark_df_profiling_spark.oracle import SPARK_QUERIES
    sf = "/root/testdata/sf0.001"
    for q in ("asof_click_attribution", "range_join_event_windows",
              "window_profile_events", "session_profile_events"):
        plan = (SPARK_QUERIES[q](spark, sf)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q
    asof = (SPARK_QUERIES["asof_click_attribution"](spark, sf)
            ._jdf.queryExecution().executedPlan().toString())
    assert ("PushedFilters: [IsNotNull(event_type), "
            "EqualTo(event_type" in asof)


def test_profile_200_column_table(spark):
    # Width stress: 200 mixed-type columns push the wide-agg chunker well
    # past the codegen field budget (the 10k-column scale axis in
    # miniature) — must complete with correct per-column stats, not die
    # in janino or produce one giant demoted aggregate.
    from spark_df_profiling_spark import profile
    cols = []
    for i in range(100):
        cols.append((F.col("id") * (i + 1)).cast("double")
                    .alias(f"n{i:03d}"))
    for i in range(60):
        cols.append(F.concat(F.lit(f"v{i}_"), (F.col("id") % 5))
                    .alias(f"s{i:03d}"))
    for i in range(40):
        cols.append(F.date_add(F.lit("2024-01-01").cast("date"),
                               (F.col("id") % 300 + i).cast("int"))
                    .alias(f"d{i:03d}"))
    df = spark.range(0, 2000).select(*cols)
    prof = profile(df)
    rows = {r["column"]: r for r in prof.collect()}
    assert len(rows) == 200
    assert rows["n000"]["type_class"] == "NUM"
    assert rows["n001"]["mean"] == pytest.approx(sum(
        i * 2 for i in range(2000)) / 2000)
    assert rows["s000"]["type_class"] == "CAT"
    assert rows["s000"]["distinct_count"] == 5
    assert rows["d000"]["type_class"] == "DATE"
    assert all(r["n"] == 2000 for r in rows.values())


def test_r11_operator_plans_single_sort_shuffle(spark, sf_dir):
    """The r11 time-series operators promise ONE per-key sort shuffle
    (ewma: scaled-prefix window; changepoint_stats: prefix-sum BSS +
    the max_by regroup) and compaction_plan ONE range sort per
    partition group — pin the exchange counts so a regression to a
    second shuffle or a re-sort is loud."""
    import re
    from spark_df_profiling_spark.operators.groupby import (
        changepoint_stats, ewma)
    from spark_df_profiling_spark.operators.layout import (
        compaction_plan)
    ev = spark.range(10_000).select(
        F.pmod(F.col("id"), F.lit(100)).alias("u"),
        F.col("id").cast("double").alias("ts"),
        (F.col("id") % 97).cast("double").alias("v"))

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Exchange hashpartitioning", plan)), plan

    n, plan = exchanges(ewma(ev, "ts", "u", "v", alpha=0.5))
    assert n == 1, f"ewma: {n} hash exchanges\n{plan[:2000]}"
    # changepoint: the max_by winner regroup must RIDE the window's
    # per-key sort+partitioning — one exchange, one sort, total.  (The
    # struct-valued max_by plans as SortAggregate, which is exactly
    # right here: partial aggregation over the already-sorted stream,
    # no re-sort, no second shuffle.)
    n, plan = exchanges(changepoint_stats(ev, "ts", "u", "v"))
    assert n == 1, f"changepoint: {n} hash exchanges\n{plan[:2000]}"
    import re as _re
    n_sorts = len(_re.findall(r"\bSort \[", plan))
    assert n_sorts == 1, f"changepoint re-sorts: {n_sorts}\n{plan[:2000]}"
    files = spark.range(10_000).select(
        (F.col("id") % 7).cast("string").alias("part"),
        F.col("id").alias("fid"),
        (F.col("id") % 1000 + 1).alias("bytes"))
    out = compaction_plan(files, "fid", "bytes", 5000, ["part"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 2, f"compaction_plan: {n} hash exchanges\n{plan[:2000]}"


def test_knn_classify_broadcasts_queries(spark, sf_dir):
    """knn_classify inherits knn_bruteforce's broadcast-queries shape;
    the label join and vote must not add a corpus-sized shuffle."""
    from spark_df_profiling_spark.operators.similarity import (
        knn_classify)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = e.where(F.col("vec_id") < 3)
    plan = (knn_classify(e, qs, k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" in plan
    # the corpus-side scans stream; no Exchange keyed on the raw
    # embedding column
    assert "hashpartitioning(embedding" not in plan


def test_roc_auc_never_globally_sorts(spark, sf_dir):
    """roc_auc's rank prefix must stay on the frozen-boundary range
    partitioning — a SinglePartition exchange on the score frame is
    the 100 TB regression this pins against."""
    from spark_df_profiling_spark.operators.evaluation import roc_auc
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = e.select((F.col("label") == 0).alias("y"),
                  F.get("embedding", 0).cast("double").alias("s"))
    out = roc_auc(df, "y", "s")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the distinct-score frame was checkpointed under range
    # partitioning before this plan; the remaining plan must not
    # re-sort the world into one partition for a window
    assert "Exchange SinglePartition" not in plan or \
        "Window" not in plan.split("Exchange SinglePartition")[0], plan
    # and the final aggregate is a partial+final hash/sort agg over
    # the scan of the checkpointed RDD, not a row-level shuffle
    assert "Scan ExistingRDD" in plan


def test_survival_ops_collapse_subjects_first(spark):
    """kaplan_meier / log_rank_test: every window/aggregate after the
    first groupBy runs over per-time frames — assert the plans carry
    exactly one subject-level hash exchange into that groupBy."""
    import re
    from spark_df_profiling_spark.operators.groupby import (
        kaplan_meier, log_rank_test)
    subj = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 37).cast("double").alias("t"),
        (F.col("id") % 2 == 0).alias("e"))
    km = kaplan_meier(subj, "t", "e", "g")
    plan = km._jdf.queryExecution().executedPlan().toString()
    # subject rows shuffle once (the (g, t) collapse); later exchanges
    # key on per-time frames — no exchange may partition by a column
    # that only exists pre-collapse (none here beyond g/t)
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 3, f"kaplan_meier: {n_ex} hash exchanges\n{plan[:1500]}"
    lr = log_rank_test(subj, "t", "e", "g")
    lplan = lr._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in lplan  # grid crossJoin broadcasts
