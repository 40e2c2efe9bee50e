"""Plans built from SQL text (``plans/sqltext.py``) must treat any
column name as a name and keep every literal's type and value.

The ingest operators write their plans as SQL strings, where a name is
not quoted for free (``a.b`` reads as a struct field, ``it's`` and
``x`y`` break the parser), a bare ``200.0`` is a DECIMAL, a regex's
backslashes are unescaped once by the string literal, and a lambda
variable shadows a column of the same name.  Each operator here runs on
columns renamed to such names and must give the same rows as on plain
names.
"""

import pytest
from pyspark.sql import functions as F

from spark_df_profiling_spark.operators import dedup, incremental
from spark_df_profiling_spark.operators import similarity, text
from spark_df_profiling_spark.plans.sqltext import dlit, ident, slit

# names that break unquoted SQL text, plus lambda variable names the
# fragments use
NAMES = ["it's", "a.b", "x`y", "toks", "__t", "acc"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    extra = spark.createDataFrame(
        [(10_000, "the\tcat  and\n the dog", "en", "x", 22),
         (10_001, None, None, None, None)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    return (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("doc_id") < 60).unionByName(extra))


def test_literal_pitfalls(spark):
    one = spark.range(1)
    r = one.selectExpr("typeof(200.0) AS bare", "typeof(200.0D) AS d",
                       "'a \t b' RLIKE '\\\\s+' AS ws",
                       f"{dlit(0.1)} AS x", f"{dlit(-1e-300)} AS y",
                       f"{slit(chr(0) + chr(1) + chr(39) + '/é')} AS s",
                       f"{slit('back' + chr(92) + 'slash')} AS b").first()
    assert r["bare"].startswith("decimal") and r["d"] == "double"
    assert r["ws"] is True
    assert (r["x"], r["y"]) == (0.1, -1e-300)
    assert r["s"] == "\x00\x01'/é" and r["b"] == "back\\slash"
    assert ident("x`y") == "`x``y`"


@pytest.mark.parametrize("name", NAMES)
def test_text_features_any_column_name(docs, name):
    want = text.text_features(docs, "text")
    got = text.text_features(docs.withColumnRenamed("text", name), name)
    assert got.columns == [name if c == "text" else c for c in want.columns]
    assert got.dtypes[len(docs.columns):] == want.dtypes[len(docs.columns):]
    assert dict(want.dtypes)["f_quality"] == "double"
    assert _rows(got) == _rows(want)
    # the \s+ split sees tabs and newlines: three stopwords -> en
    lang = dict(want.select("doc_id", "f_lang").collect())
    assert lang[10_000] == "en"


@pytest.mark.parametrize("name", NAMES[:3])
def test_incremental_state_any_column_name(docs, name):
    cols = ("n_chars", "lang")

    def run(df, num, cat):
        part = incremental.partial_profile(
            df, (num, cat), hist_edges={num: (0, 800)}, hist_bins=5)
        return incremental.finalize(incremental.merge_partials(part, part))

    want = {r[0]: r[1:] for r in _rows(run(docs, *cols))}
    renamed = (docs.withColumnRenamed("n_chars", name)
               .withColumnRenamed("lang", name + "2"))
    got = {r[0]: r[1:] for r in _rows(run(renamed, name, name + "2"))}
    assert got == {name: want["n_chars"], name + "2": want["lang"]}


@pytest.mark.parametrize("name", NAMES[:3])
def test_knn_bruteforce_any_column_name(spark, sf_dir, name):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id").isin(1, 2, 3))
    want = _rows(similarity.knn_bruteforce(emb, q, k=5))
    ren = {"vec_id": name, "embedding": name + "v"}
    emb2, q2 = emb.withColumnsRenamed(ren), q.withColumnsRenamed(ren)
    got = _rows(similarity.knn_bruteforce(emb2, q2, id_col=name,
                                          vec_col=name + "v", k=5))
    assert got == want


@pytest.mark.parametrize("name", NAMES[:3])
def test_exact_dedup_any_column_name(docs, name):
    dup = docs.unionByName(docs.where(F.col("doc_id") < 10))
    want = _rows(dedup.exact_dedup(dup, "text", order_col="doc_id"))
    ren = dup.withColumnsRenamed({"text": name, "doc_id": name + "id"})
    assert _rows(dedup.exact_dedup(ren, name, order_col=name + "id")) \
        == want
    assert ren.select(dedup.content_hash(name)).collect() \
        == dup.select(dedup.content_hash("text")).collect()
