"""Dedup operators: exact keep-first, MinHashLSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F

from spark_df_profiling_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark, docs):
    """FIXTURES.md B.4-style: base docs + exact copies + near-dups."""
    base = docs.select("doc_id", "text").where(F.col("doc_id") < 100)
    exact = base.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    toks = F.split(F.col("text"), " ")
    near = base.select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)),
                 F.lit(" xyzzy")).alias("text"))
    return base.unionByName(exact).unionByName(near)


def test_exact_dedup_keep_first(spark, dup_docs):
    kept = D.exact_dedup(dup_docs, cols=["text"], order_col="doc_id")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # all 100 originals survive (smallest id per text), 100 exact copies
    # dropped, 100 near-dups survive (different text)
    assert kept.count() == 200
    assert all(i < 100 or i >= 2000 for i in ids)


def test_dedup_stats(dup_docs):
    r = D.dedup_stats(dup_docs, cols=["text"]).collect()[0]
    assert r["n_rows"] == 300
    assert r["n_distinct"] == 200
    assert r["n_duplicates"] == 100


def test_minhash_finds_planted_neardups(dup_docs):
    pairs = D.minhash_candidates(dup_docs, "text", "doc_id",
                                 jaccard_max_distance=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact copies must be found (jaccard distance 0)
    exact_pairs = {(i, i + 1000) for i in range(100)}
    assert exact_pairs <= got
    # most near-dups (one token changed) should be found too
    near_found = sum(1 for i in range(100) if (i, i + 2000) in got)
    assert near_found >= 90


def test_minhash_native_finds_planted_neardups(dup_docs):
    pairs = D.minhash_candidates_native(dup_docs, "text", "doc_id",
                                        jaccard_max_distance=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, i + 1000) for i in range(100)} <= got
    assert sum(1 for i in range(100) if (i, i + 2000) in got) >= 90
    # verified distances are exact n-gram Jaccard: exact copies at 0.0
    d = {(r["id_a"], r["id_b"]): r["jaccard_distance"]
         for r in pairs.collect()}
    assert all(d[(i, i + 1000)] == 0.0 for i in range(100))


def test_near_dedup_minhash_drops_losers(dup_docs):
    kept = D.near_dedup_minhash(dup_docs, "text", "doc_id",
                                jaccard_max_distance=0.5)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # every exact copy is dropped; nearly all base docs survive (the
    # corpus contains a few ORGANIC near-dup pairs — e.g. docs 8~12 with
    # jaccard distance < 0.1 at sf0.001 — whose later member is
    # legitimately deduplicated)
    assert all(i + 1000 not in ids for i in range(100))
    assert sum(1 for i in range(100) if i in ids) >= 95


def test_simhash_deterministic_and_near(spark, dup_docs):
    sigs = dup_docs.select(
        "doc_id", D.simhash64("text").alias("sig")).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    # identical text => identical signature
    assert all(by_id[i] == by_id[i + 1000] for i in range(100))
    # signatures are 64-bit values, not all equal
    assert len({r["sig"] for r in sigs}) > 50


def test_simhash_near_pairs_hamming(dup_docs):
    pairs = D.simhash_near_pairs(dup_docs, "text", "doc_id",
                                 max_hamming=0, n_bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, i + 1000) for i in range(100)} <= got


def test_ngram_jaccard_exact_values(spark, dup_docs):
    cand = spark.createDataFrame(
        [(i, i + 1000) for i in range(100)]
        + [(i, i + 2000) for i in range(100)], "id_a long, id_b long")
    j = D.ngram_jaccard_pairs(dup_docs, "text", "doc_id", cand, n=3)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in j.collect()}
    for i in range(100):
        assert rows[(i, i + 1000)] == pytest.approx(1.0)  # exact copies
        assert 0.5 < rows[(i, i + 2000)] < 1.0  # one-token mutation


def test_simhash_pinned_signatures(spark):
    # fixture pin: the single-pass (fold-once) formulation must produce
    # the exact signatures of the per-bit formulation it replaced
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("hello world",), ("a",), ("",)], "text string")
    got = {r["text"]: r["sig"] for r in
           df.select("text", D.simhash64("text").alias("sig")).collect()}
    assert got == {
        "the quick brown fox jumps over the lazy dog":
            -7573889167326994222,
        "hello world": 4828021670264516882,
        "a": -8582455328737087284,
        "": -7444071767201028348,
    }


def test_minhash_native_validates_rows_per_band(dup_docs):
    for bad in (0, 3, 17, -1):
        with pytest.raises(ValueError):
            D.minhash_candidates_native(dup_docs, "text", "doc_id",
                                        num_hashes=16, rows_per_band=bad)


def test_connected_components_chain_and_star(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 30), (20, 30),            # star via shared node
         (100, 200)],                   # isolated pair
        "id_a long, id_b long")
    comp = {r["id"]: r["comp"]
            for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 20: 10, 30: 10,
                    100: 100, 200: 100}


def test_near_dedup_transitive_chain_one_survivor(spark):
    # planted A~B~C chain: A~B and B~C are near-dups, A~C is not;
    # transitive closure must keep exactly one survivor (A)
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu").split()
    a = " ".join(base)
    b = " ".join(base[:-5] + ["one", "two", "three", "four", "five"])
    c = " ".join(["six", "seven", "eight", "nine", "ten"] + base[5:-5]
                 + ["one", "two", "three", "four", "five"])
    df = spark.createDataFrame([(1, a), (2, b), (3, c)],
                               "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_candidates_native(
        df, "text", "doc_id", jaccard_max_distance=0.5).collect()}
    assert pairs == {(1, 2), (2, 3)}  # the chain, no A~C edge
    kept = D.near_dedup_minhash(df, "text", "doc_id", transitive=True,
                                native=True, jaccard_max_distance=0.5)
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_simhash_band_contract_validated(dup_docs):
    # pigeonhole guarantee: k differing bits need n_bands >= k+1 —
    # silently losing pairs is worse than refusing
    with pytest.raises(ValueError, match="max_hamming"):
        D.simhash_near_pairs(dup_docs, "text", "doc_id",
                             max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="n_bands"):
        D.simhash_near_pairs(dup_docs, "text", "doc_id",
                             max_hamming=0, n_bands=0)


def test_simhash_md5_matches_python(spark):
    # hash_fn='md5' exists so engines without xxhash64 (the DuckDB
    # oracle) can replay signatures bit-for-bit; pin against a
    # from-scratch Python reimplementation
    import hashlib

    def py_simhash(text):
        votes = [0] * 64
        for tok in text.lower().split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if votes[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    texts = ["the quick brown fox jumps over the lazy dog",
             "lorem ipsum dolor sit amet consectetur",
             "a b a b c"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "id long, text string")
    got = {r["id"]: r["sig"] for r in df.select(
        "id", D.simhash64("text", hash_fn="md5").alias("sig")).collect()}
    assert got == {i: py_simhash(t) for i, t in enumerate(texts)}


def test_simhash_bad_hash_fn():
    with pytest.raises(ValueError, match="hash_fn"):
        D.simhash64("text", hash_fn="sha1")


def test_connected_components_warns_nonconverged(spark):
    # 7-node path graph (diameter 6): min-label propagation moves one
    # hop per round, so max_iter=1 cannot converge — must warn, not
    # silently under-merge
    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                  "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        D.connected_components(pairs, max_iter=1)


def test_pre_collapse_exact_matches_plain_path(spark, dup_docs):
    # the exact-dup pre-collapse must be invisible in the result: same
    # survivors as the no-collapse pipeline on a corpus with exact
    # copies, near-dups, AND a short text whose copies never shingle
    shorts = spark.createDataFrame(
        [(9001, "too short"), (9002, "too short"), (9003, None)],
        "doc_id long, text string")
    corpus = dup_docs.unionByName(shorts)
    kw = dict(jaccard_max_distance=0.5, num_hashes=16)
    a = {r["doc_id"] for r in D.near_dedup_minhash(
        corpus, "text", "doc_id", transitive=True, native=True,
        pre_collapse_exact=False, **kw).collect()}
    b = {r["doc_id"] for r in D.near_dedup_minhash(
        corpus, "text", "doc_id", transitive=True, native=True,
        pre_collapse_exact=True, **kw).collect()}
    assert a == b
    # sub-shingle texts: every copy survives either way
    assert {9001, 9002, 9003} <= b


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    from spark_df_profiling_spark.operators.dedup import line_dedup
    docs = spark.createDataFrame([
        (1, "HDR\nalpha\nbeta\nFTR"),
        (2, "HDR\ngamma\nFTR"),
        (3, "HDR\nFTR"),            # fully boilerplate
        (4, "HDR\nbeta close\ndelta\nepsilon\nFTR"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_dedup(docs, min_count=3).collect()}
    assert out[1]["clean_text"] == "alpha\nbeta"
    assert out[2]["clean_text"] == "gamma"
    # fully-boilerplate docs stay as rows (empty), never vanish
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[3]["n_lines_removed"] == 2
    # order preserved even with multiple kept lines
    assert out[4]["clean_text"] == "beta close\ndelta\nepsilon"
    assert out[4]["n_lines"] == 5 and out[4]["n_lines_removed"] == 2


def test_line_dedup_min_count_boundary(spark):
    from spark_df_profiling_spark.operators.dedup import line_dedup
    import pytest as _pt
    docs = spark.createDataFrame(
        [(1, "x\na"), (2, "x\nb"), (3, "y\nc"), (4, "y\nd")],
        "doc_id long, text string")
    # x and y each appear exactly twice: removed at min_count=2,
    # kept at min_count=3
    out2 = {r["doc_id"]: r["clean_text"]
            for r in line_dedup(docs, min_count=2).collect()}
    assert out2 == {1: "a", 2: "b", 3: "c", 4: "d"}
    out3 = {r["doc_id"]: r["clean_text"]
            for r in line_dedup(docs, min_count=3).collect()}
    assert out3[1] == "x\na" and out3[3] == "y\nc"
    with _pt.raises(ValueError, match="min_count"):
        line_dedup(docs, min_count=1)


def test_dedup_against_history(spark, sf_dir):
    from spark_df_profiling_spark.operators.dedup import (
        dedup_against_history, history_hashes)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist_src = docs.where(F.col("doc_id") < 300)
    history = history_hashes(hist_src, ["text"])
    # new batch: genuinely-new docs + planted collisions with history
    # (re-ingested under fresh ids) + one within-batch duplicate pair
    fresh = docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    replayed = (hist_src.where(F.col("doc_id") < 20)
                .withColumn("doc_id", F.col("doc_id") + 900_000))
    batch_dup = (fresh.where(F.col("doc_id") == 300)
                 .withColumn("doc_id", F.lit(950_000)))
    new_batch = fresh.unionByName(replayed).unionByName(batch_dup)

    out = dedup_against_history(new_batch, history, cols=["text"],
                                order_col="doc_id")
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    # every replayed doc is dropped (content seen in history)
    assert not any(i >= 900_000 and i < 950_000 for i in ids)
    # within-batch duplicate collapses keep-first (300 survives, not
    # the 950_000 copy)
    assert 300 in ids and 950_000 not in ids
    # distinct fresh content all survives
    n_fresh_distinct = (fresh.join(
        history.withColumnRenamed("content_hash", "ch"),
        F.sha2(F.concat_ws("\x01", F.coalesce(
            F.col("text").cast("string"), F.lit("\x00NULL"))), 256)
        == F.col("ch"), "left_anti").count())
    assert len(ids) == n_fresh_distinct
    # without order_col, within-batch dups are both kept
    both = dedup_against_history(new_batch, history, cols=["text"])
    assert both.count() == out.count() + 1
    # the day-2 update contract: appending survivors' hashes makes a
    # second ingest of the same batch drop EVERYTHING
    day2 = history.unionByName(
        history_hashes(out, ["text"])).distinct()
    assert dedup_against_history(new_batch, day2, cols=["text"]).count() == 0


def test_line_dedup_regex_metachar_separator(spark):
    # sep reaches F.split as a Java regex but array_join as a literal —
    # a metacharacter separator like '|' or '.' must behave literally
    # on BOTH sides (Pattern.quote on the split)
    from spark_df_profiling_spark.operators.dedup import line_dedup
    docs = spark.createDataFrame(
        [(1, "BP|a|b"), (2, "BP|c"), (3, "BP|d")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           line_dedup(docs, min_count=3, sep="|").collect()}
    assert out[1]["clean_text"] == "a|b"
    assert out[1]["n_lines"] == 3 and out[1]["n_lines_removed"] == 1
    assert out[2]["clean_text"] == "c"
    dot = spark.createDataFrame(
        [(1, "x.same"), (2, "y.same"), (3, "z.same")],
        "doc_id long, text string")
    outd = {r["doc_id"]: r["clean_text"] for r in
            line_dedup(dot, min_count=3, sep=".").collect()}
    # 'same' repeats 3x and is removed; x/y/z unique and kept — with an
    # unquoted '.' every character would be a separator and this breaks
    assert outd == {1: "x", 2: "y", 3: "z"}


def test_decontaminate_flags_planted_overlap(spark):
    from spark_df_profiling_spark.operators.dedup import decontaminate
    corpus = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely unrelated words about cooking pasta al dente"),
        (3, "the QUICK brown FOX jumps over the lazy dog again"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [("quick brown fox jumps over the lazy dog",)], "text string")
    out = {r["doc_id"]: r
           for r in decontaminate(corpus, bench, n=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    # normalization is case-insensitive on both sides
    assert out[3]["contaminated"]
    # min_hits threshold: requiring 5 distinct shared 8-grams clears all
    strict = {r["doc_id"]: r["contaminated"]
              for r in decontaminate(corpus, bench, n=8,
                                     min_hits=5).collect()}
    assert strict == {1: False, 2: False, 3: False}


def test_decontaminate_bench_side_broadcasts(spark):
    from spark_df_profiling_spark.operators.dedup import decontaminate
    corpus = spark.createDataFrame(
        [(i, f"doc number {i} words a b c d e f g h") for i in range(20)],
        "doc_id long, text string")
    bench = corpus.where(F.col("doc_id") < 2).select("text")
    out = decontaminate(corpus, bench, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_minhash_null_text_has_no_shingles(spark, dup_docs):
    """A NULL text is a document with no shingles, as in shingle_expr
    and the native path: it joins no pair and does not fail the job
    (ml.feature.Tokenizer raises on a NULL input)."""
    base = dup_docs.where(F.col("doc_id") < 1010)
    with_null = base.unionByName(spark.createDataFrame(
        [(5000, None)], "doc_id long, text string"))

    def pairs(df):
        cand = D.minhash_candidates(df, "text", "doc_id",
                                    jaccard_max_distance=0.5)
        got = sorted(tuple(r) for r in cand.collect())
        cand._minhash_features.unpersist()
        return got

    got = pairs(with_null)
    assert got == pairs(base)
    assert {(i, i + 1000) for i in range(10)} <= {(a, b) for a, b, _ in got}
