"""Session conf: ``build_session`` defaults and overrides, and the
``wide_codegen`` scope that ``describe`` and ``correlation_matrix`` run
under, which must leave the caller's ``codegen.maxFields`` as found."""

import sys
import threading

import pytest

from spark_df_profiling_spark.operators import correlation as C
from spark_df_profiling_spark.operators import frequency as FR
from spark_df_profiling_spark.operators import profile as P
from spark_df_profiling_spark.session import (
    ARROW_BATCH_ROWS, MAX_FIELDS, SHUFFLE_PARTITIONS,
    build_session, wide_codegen)
from tests.conftest import restore_conf


@pytest.fixture
def max_fields(spark):
    """Run with ``codegen.maxFields`` unset; restore the prior value."""
    snap = {MAX_FIELDS: spark.conf.get(MAX_FIELDS, None)}
    spark.conf.unset(MAX_FIELDS)
    yield
    restore_conf(spark, snap)


def test_extra_conf_overrides_every_default(spark, session_conf):
    extra = {SHUFFLE_PARTITIONS: "3", ARROW_BATCH_ROWS: "123",
             "spark.sql.adaptive.skewJoin.enabled": "false"}
    s = build_session(extra_conf=extra)  # getOrCreate: the shared session
    for k, v in extra.items():
        assert s.conf.get(k) == v
    # an explicit argument still wins over both
    s = build_session(shuffle_partitions=5, extra_conf=extra)
    assert s.conf.get(SHUFFLE_PARTITIONS) == "5"


@pytest.mark.parametrize("prior,inside,after", [
    (None, "500", None),     # unset: raised, then unset again
    ("200", "500", "200"),   # below 500: raised, then restored
    ("1000", "1000", "1000"),  # already higher: never touched
])
def test_wide_codegen_scope(spark, max_fields, prior, inside, after):
    if prior is not None:
        spark.conf.set(MAX_FIELDS, prior)
    with wide_codegen(spark):
        assert spark.conf.get(MAX_FIELDS) == inside
        with wide_codegen(spark):
            assert spark.conf.get(MAX_FIELDS) == inside
        assert spark.conf.get(MAX_FIELDS) == inside
    assert spark.conf.get(MAX_FIELDS, None) == after


def test_wide_codegen_restores_on_error(spark, max_fields):
    with pytest.raises(RuntimeError):
        with wide_codegen(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(MAX_FIELDS, None) is None


def test_wide_codegen_concurrent_scopes_stress(spark, max_fields):
    """More threads than cores enter and leave the scope repeatedly: a
    thread inside always sees the raised value, and once all have left
    the caller's (unset) value is back.  A lost count update breaks
    one of the two."""
    n, rounds = 16, 10
    start = threading.Barrier(n, timeout=60)
    seen, errors = [], []

    def worker():
        try:
            start.wait()
            for _ in range(rounds):
                with wide_codegen(spark):
                    seen.append(spark.conf.get(MAX_FIELDS))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(seen) == n * rounds and set(seen) == {"500"}
    assert spark.conf.get(MAX_FIELDS, None) is None


def _record_max_fields(monkeypatch, spark):
    """Record ``codegen.maxFields`` each time describe runs its
    frequency pass (i.e. mid-profile)."""
    seen = []
    real = FR.topk_frequencies

    def spy(*a, **kw):
        seen.append(spark.conf.get(MAX_FIELDS))
        return real(*a, **kw)

    monkeypatch.setattr(FR, "topk_frequencies", spy)
    return seen


@pytest.mark.parametrize("prior", [None, "200"])
def test_describe_leaves_max_fields_as_found(spark, sf_dir, max_fields,
                                             monkeypatch, prior):
    if prior is not None:
        spark.conf.set(MAX_FIELDS, prior)
    seen = _record_max_fields(monkeypatch, spark)
    res = P.describe(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    assert res.table["n"] == 25
    assert seen and set(seen) == {"500"}
    assert spark.conf.get(MAX_FIELDS, None) == prior


def test_profile_many_leaves_max_fields_as_found(spark, sf_dir, max_fields,
                                                 monkeypatch):
    seen = _record_max_fields(monkeypatch, spark)
    dfs = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
           for t in ("nation", "region", "supplier", "customer")}
    res = P.profile_many(dfs, max_threads=4)
    assert res["region"].table["n"] == 5
    assert len(seen) >= len(dfs) and set(seen) == {"500"}
    assert spark.conf.get(MAX_FIELDS, None) is None


def test_correlation_matrix_leaves_max_fields_as_found(spark, lineitem,
                                                       max_fields):
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    corr = C.correlation_matrix(lineitem, cols)
    assert corr[("l_quantity", "l_quantity")] == pytest.approx(1.0)
    assert spark.conf.get(MAX_FIELDS, None) is None
