"""Core profiling correctness on the driver test tables (sf0.001)."""

import math

import pytest

from spark_df_profiling_spark import ProfileConfig, describe, profile
from spark_df_profiling_spark.config import EXACT_CONFIG


@pytest.fixture(scope="module")
def lineitem_profile(lineitem):
    res = describe(lineitem, EXACT_CONFIG)
    rows = {r["column"]: r.asDict(recursive=True)
            for r in res.variables.collect()}
    return res, rows


def test_row_per_column(lineitem, lineitem_profile):
    res, rows = lineitem_profile
    assert len(rows) == len(lineitem.columns) == 11
    assert set(rows) == set(lineitem.columns)


def test_type_dispatch(lineitem_profile):
    _, rows = lineitem_profile
    assert rows["l_orderkey"]["type_class"] == "NUM"
    assert rows["l_extendedprice"]["type_class"] == "NUM"
    assert rows["l_returnflag"]["type_class"] == "CAT"
    assert rows["l_linestatus"]["type_class"] == "CAT"
    assert rows["l_shipdate"]["type_class"] == "DATE"


def test_universal_stats(lineitem_profile):
    _, rows = lineitem_profile
    r = rows["l_extendedprice"]
    assert r["n"] == 6000
    assert r["count"] == 6000
    assert r["n_missing"] == 0
    assert r["p_missing"] == 0.0
    # exact mode: FIXTURES.md Part A says 5,998 distinct at sf0.001
    assert r["distinct_count"] == 5998
    assert not r["is_unique"]


def test_numeric_moments_vs_python(lineitem, lineitem_profile):
    _, rows = lineitem_profile
    vals = [x[0] for x in lineitem.select("l_extendedprice").collect()]
    n = len(vals)
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / (n - 1)
    r = rows["l_extendedprice"]
    assert r["mean"] == pytest.approx(mean, rel=1e-9)
    assert r["variance"] == pytest.approx(var, rel=1e-9)
    assert r["std"] == pytest.approx(math.sqrt(var), rel=1e-9)
    assert r["min_num"] == pytest.approx(min(vals))
    assert r["max_num"] == pytest.approx(max(vals))
    assert r["range_num"] == pytest.approx(max(vals) - min(vals))
    assert r["sum_value"] == pytest.approx(sum(vals), rel=1e-9)
    # MAD = MEAN absolute deviation (reference semantics, not median-based)
    mad = sum(abs(v - mean) for v in vals) / n
    assert r["mad"] == pytest.approx(mad, rel=1e-9)
    # CV = std / mean
    assert r["cv"] == pytest.approx(math.sqrt(var) / mean, rel=1e-9)


def test_exact_quantiles_interpolated(lineitem, lineitem_profile):
    _, rows = lineitem_profile
    vals = sorted(x[0] for x in lineitem.select("l_extendedprice").collect())
    n = len(vals)

    def q_cont(p):
        idx = (n - 1) * p
        lo, hi = int(math.floor(idx)), int(math.ceil(idx))
        frac = idx - lo
        return vals[lo] + (vals[hi] - vals[lo]) * frac

    r = rows["l_extendedprice"]
    for lbl, p in (("q05", .05), ("q25", .25), ("q50", .5),
                   ("q75", .75), ("q95", .95)):
        assert r[lbl] == pytest.approx(q_cont(p), rel=1e-12), lbl
    assert r["iqr"] == pytest.approx(q_cont(.75) - q_cont(.25), rel=1e-9)


def test_zeros(lineitem_profile):
    _, rows = lineitem_profile
    # FIXTURES.md: l_suppkey has 545 zeros, l_discount 290, l_tax 361
    assert rows["l_suppkey"]["n_zeros"] == 545
    assert rows["l_discount"]["n_zeros"] == 290
    assert rows["l_tax"]["n_zeros"] == 361
    assert rows["l_discount"]["p_zeros"] == pytest.approx(290 / 6000)


def test_histogram_bins_sum_to_count(lineitem_profile):
    _, rows = lineitem_profile
    hist = rows["l_extendedprice"]["histogram"]
    assert len(hist) == 10
    assert sum(b["cnt"] for b in hist) == 6000
    assert hist[0]["bin_left"] == rows["l_extendedprice"]["min_num"]
    assert hist[-1]["bin_right"] == rows["l_extendedprice"]["max_num"]
    widths = {round(b["bin_right"] - b["bin_left"], 6) for b in hist}
    assert len(widths) == 1  # equal width


def test_freq_table(lineitem_profile):
    res, rows = lineitem_profile
    r = rows["l_returnflag"]
    freq = r["freq"]
    assert freq is not None and len(freq) == 3
    total = sum(f["cnt"] for f in freq)
    assert total == 6000
    assert freq[0]["cnt"] >= freq[1]["cnt"] >= freq[2]["cnt"]
    assert r["top_value"] == freq[0]["value"]
    assert r["top_freq"] == freq[0]["cnt"]


def test_date_stats(lineitem_profile):
    _, rows = lineitem_profile
    r = rows["l_shipdate"]
    assert r["min_date"].startswith("1995-01-02")
    assert r["max_date"].startswith("2001-11-04")
    assert r["range_seconds"] > 0


def test_table_stats(lineitem_profile):
    res, _ = lineitem_profile
    t = res.table
    assert t["n"] == 6000
    assert t["nvar"] == 11
    assert t["total_missing"] == 0.0
    assert t["types"]["NUM"] == 8
    assert t["types"]["CAT"] == 2
    assert t["types"]["DATE"] == 1


def test_no_rejection_on_lineitem(lineitem_profile):
    # FIXTURES.md: no numeric pair reaches |rho| >= 0.9 in driver data
    res, _ = lineitem_profile
    assert res.rejected == {}
    assert res.get_rejected_variables(0.9) == []


def test_profile_returns_dataframe(lineitem):
    df = profile(lineitem, ProfileConfig(compute_correlations=False,
                                         compute_histograms=False,
                                         compute_mad=False))
    assert df.count() == 11


def test_approx_mode_close(lineitem):
    rows = {r["column"]: r for r in profile(lineitem).collect()}
    # HLL++ rsd=0.05 → within ~3 sigma (15%) of exact
    assert abs(rows["l_orderkey"]["distinct_count"] - 1473) <= 250
    assert rows["l_returnflag"]["distinct_count"] == 3


def test_profile_many_concurrent(spark, sf_dir):
    from spark_df_profiling_spark.operators.profile import profile_many
    names = ["region", "nation", "customer", "orders"]
    dfs = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in names}
    out = profile_many(dfs, max_threads=4)
    assert set(out) == set(names)
    assert out["orders"].variables.count() == 6
    assert out["region"].table["n"] == 5


def test_run_inheritable_order_bound_and_errors(spark):
    import threading
    import time

    from spark_df_profiling_spark.plans.wide_agg import run_inheritable

    live, peak = 0, 0
    lock = threading.Lock()

    def mk(i):
        def f():
            nonlocal live, peak
            with lock:
                live += 1
                peak = max(peak, live)
            time.sleep(0.05)
            with lock:
                live -= 1
            return i
        return f

    out = run_inheritable([mk(i) for i in range(10)], max_concurrency=3)
    assert out == list(range(10))  # input order preserved
    assert peak <= 3  # semaphore really bounds in-flight work

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        run_inheritable([boom])


def test_exact_keeps_every_other_field():
    import dataclasses
    cfg = ProfileConfig(
        bins=7, sample=3, corr_reject=0.5, top_k=9, distinct_rsd=0.02,
        quantile_accuracy=500, quantiles=(0.1, 0.9), fix_decimal=False,
        profile_complex=False, compute_correlations=False,
        compute_histograms=False, compute_mad=False)
    switched = {"exact_distinct", "exact_quantiles"}
    others = [f for f in dataclasses.fields(ProfileConfig)
              if f.name not in switched]
    # every other field is off its default, so a dropped one shows
    assert all(getattr(cfg, f.name) != f.default for f in others)
    ex = cfg.exact()
    assert ex.exact_distinct and ex.exact_quantiles
    for f in others:
        assert getattr(ex, f.name) == getattr(cfg, f.name), f.name


def test_describe_error_cancels_in_flight_jobs(spark, lineitem,
                                               monkeypatch):
    """An error in describe() cancels the jobs it still has running,
    by its own job tag, instead of waiting them out; the caller's job
    group and tags reach those jobs and are unchanged afterwards."""
    import threading
    import time

    from spark_df_profiling_spark.operators import frequency as FR
    from spark_df_profiling_spark.plans import wide_agg as W

    sc = spark.sparkContext
    sleep_s = 120
    seen = {}
    started = threading.Event()

    def slow_topk(df, cols, k, *args, **kwargs):
        seen["tags"] = set(sc.getJobTags())
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        # local to this task thread: a cancel interrupts the sleep, so
        # the task frees its core at once
        sc.setInterruptOnCancel(True)
        started.set()
        return spark.range(1, numPartitions=1).selectExpr(
            f"reflect('java.lang.Thread', 'sleep', {sleep_s * 1000}L)"
        ).collect()

    def failing_pass2(*args, **kwargs):
        assert started.wait(60)
        time.sleep(1.0)  # the slow job is running by now
        raise RuntimeError("pass 2 failed")

    monkeypatch.setattr(FR, "topk_frequencies", slow_topk)
    monkeypatch.setattr(W, "build_pass2_exprs", failing_pass2)
    sc.setJobGroup("caller-group", "caller jobs")
    sc.addJobTag("caller-tag")
    try:
        t0 = time.perf_counter()
        with pytest.raises(RuntimeError, match="pass 2 failed"):
            describe(lineitem)
        elapsed = time.perf_counter() - t0
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert set(sc.getJobTags()) == {"caller-tag"}
    finally:
        sc.removeJobTag("caller-tag")
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    assert elapsed < sleep_s / 4
    assert seen["group"] == "caller-group"
    (tag,) = seen["tags"] - {"caller-tag"}
    tracker = sc.statusTracker()
    statuses = [tracker.getJobInfo(j).status
                for j in sc._jsc.sc().statusTracker().getJobIdsForTag(tag)]
    assert "FAILED" in statuses  # the cancelled slow job
    assert "RUNNING" not in statuses
    deadline = time.time() + 30
    while tracker.getActiveStageIds() and time.time() < deadline:
        time.sleep(0.1)
    assert not tracker.getActiveStageIds()
