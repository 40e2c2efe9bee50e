"""Driver cost of BUILDING the ingest operators' plans, in py4j round
trips.

Every Column node is at least one py4j call from Python to the JVM, so
a plan built as a tree of ``F.*`` Columns costs hundreds to thousands
of socket round trips before any job runs.  ``text_features``, the
incremental state (``partial_profile``, ``merge_partials``,
``finalize``), ``knn_bruteforce`` and ``two_phase_topk`` build their
plans from SQL text instead (one ``selectExpr``/``F.expr`` call per
projection, ``plans/sqltext.py``).  These tests count the gateway's
``send_command`` calls while each plan is built (not run) and hold
them under a bound; the Column-tree forms needed 146-2,908 calls each.
"""

import pytest

from spark_df_profiling_spark.operators import incremental, similarity, text
from spark_df_profiling_spark.plans.topk import two_phase_topk

# measured on the sf0.001 frames below: 31, 22, 119, 54 and 22 calls
BOUNDS = {"text_features": 100, "partial_profile": 100,
          "merge_finalize": 300, "knn_bruteforce": 150,
          "two_phase_topk": 60}


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return docs, emb, emb.where("vec_id IN (1, 2, 3)")


@pytest.fixture
def calls(spark, monkeypatch):
    """``calls(build)`` runs ``build`` twice (the first warms py4j's
    lazy lookups) and returns the gateway calls of the second."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = [0]

    def counting(*a, **k):
        n[0] += 1
        return send(*a, **k)

    monkeypatch.setattr(client, "send_command", counting)

    def count(build):
        build()
        n0 = n[0]
        build()
        return n[0] - n0
    return count


def _builders(frames):
    docs, emb, q = frames
    cols = ("n_chars", "source", "lang")
    state = incremental.partial_profile(docs, cols)
    scored = emb.selectExpr("vec_id AS query_id", "vec_id AS neighbor_id",
                            "1.0D AS sim")
    return {
        "text_features": lambda: text.text_features(docs, "text"),
        "partial_profile": lambda: incremental.partial_profile(
            docs, cols, hist_edges={"n_chars": (0, 800)}, hist_bins=7),
        "merge_finalize": lambda: incremental.finalize(
            incremental.merge_partials(state, state)),
        "knn_bruteforce": lambda: similarity.knn_bruteforce(emb, q, k=10),
        "two_phase_topk": lambda: two_phase_topk(
            scored, ["query_id"], "xxhash64(neighbor_id)",
            ["sim DESC", "neighbor_id ASC"], 10, 32),
    }


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_plan_build_py4j_calls_bounded(frames, calls, name):
    got = calls(_builders(frames)[name])
    assert got <= BOUNDS[name], f"{name}: {got} py4j calls"
