"""Oracle-slot hygiene (VERDICT r8 item 5): the driver's 50-slot cap is
full, so related kernels share slots via tag columns (part / mode /
src_col / method, or key prefixes).  A future edit that adds or renames
a tag on the Spark side but not in the DuckDB SQL would silently grade
the new rows against nothing (row-count mismatch at best, a hash pass
on stale semantics at worst).  This test runs every tagged slot at
sf0.001 and asserts each tag value present in the Spark frame appears
as a quoted literal in the registered oracle SQL.

The ~20 slot executions are heavyweight grading composites, but the
assertions only need each slot's distinct tag/key values.  A fresh
local[8] runner JVM collects those values through conftest's runner
queue (only when this test is selected, overlapping the rest of the
suite); the test then applies the per-slot literal checks.  Tag values are discrete strings produced by literal
expressions, so they cannot depend on the runner's core/partition
count."""

import json
import re

from spark_df_profiling_spark import oracle

# slot -> tag column whose distinct values must all appear as '<tag>'
# literals in the oracle SQL
TAGGED = {
    "corr_matrix": "col_x",   # column names + catassoc/fd/key tags
    "histogram_bins": "src_col",
    "freq_topk": "part",
    "freq_other_bucket": "part",
    "date_minmax": "part",
    "token_count_bpe": "part",
    "dedup_exact_docs": "part",
    "knn_bruteforce": "part",
    "embedding_neardup_exact": "part",
    "multimodal_meta": "part",
    "minhash_native_pairs": "part",
    "ann_recall_gates": "method",
    "multidim_agg_counts": "mode",
    "asof_click_attribution": "part",
    "embedding_array_stats": "part",
    "hash_sampling_suite": "part",   # r13: + folded 'mix:' mixture rows
    "streaming_psi_events": "metric",  # r13: + folded 'bat:' drift rows
    # token_count_bpe (tag 'part', listed above) also hosts the folded
    # 'vocab:'-prefixed rows since r13 — same tag column, no new entry.
}

# slot -> column whose 'prefix:' headers (text before the first colon,
# when followed by more text) must appear in the oracle SQL
PREFIXED = {
    "stateful_user_totals": "key",
    "universal_documents": "column_name",
    "sliding_window_events": "key",
}

SF = "/root/testdata/sf0.001"

RUNNER = r"""
import json, sys
sys.path.insert(0, "/root/repo")
memory, out_path = sys.argv[1], sys.argv[2]
tagged = json.loads(sys.argv[3])
prefixed = json.loads(sys.argv[4])
sf = sys.argv[5]
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", memory)
         .appName("slot-hygiene").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from spark_df_profiling_spark import oracle
def distinct_vals(slot, col):
    df = oracle.SPARK_QUERIES[slot](spark, sf)
    return slot, col, [r[0] for r in df.select(col).distinct().collect()]
from concurrent.futures import ThreadPoolExecutor
from pyspark import inheritable_thread_target
work = ([(s, c) for s, c in tagged.items()]
        + [(s, c) for s, c in prefixed.items()])
out = {}
with ThreadPoolExecutor(max_workers=6) as pool:
    for slot, col, vals in pool.map(
            inheritable_thread_target(lambda sc: distinct_vals(*sc)), work):
        out.setdefault(slot, {})[col] = vals
with open(out_path, "w") as f:
    json.dump(out, f)
spark.stop()
"""

SPARK_RUNNERS = {"local[8]": (RUNNER, json.dumps(TAGGED),
                              json.dumps(PREFIXED), SF)}


def _tag_failures(tags, slot):
    """Missing-tag report for one TAGGED slot ([] = clean)."""
    sql = oracle.ORACLE_SQL[slot]
    if not tags:
        return [f"{slot}: no tag values at sf0.001?"]

    def graded(t):
        if f"'{t}'" in sql:
            return True
        # composite tags ('split:train') may be built in SQL as
        # 'split:' || <expr> — the prefix literal is the graded anchor
        return ":" in t and f"'{t.split(':', 1)[0]}:" in sql

    missing = [t for t in tags if not graded(t)]
    if missing:
        return [f"{slot}: Spark emits tag(s) {missing} with no quoted "
                f"literal in the oracle SQL — the DuckDB side no "
                f"longer grades them"]
    return []


def _prefix_failures(keys, slot):
    """Missing-prefix report for one PREFIXED slot ([] = clean)."""
    sql = oracle.ORACLE_SQL[slot]
    prefixes = sorted({m.group(1) for k in keys
                       for m in [re.match(r"^([A-Za-z_][A-Za-z0-9_]*):.", k)]
                       if m})
    if not prefixes:
        return [f"{slot}: no prefixed keys at sf0.001?"]
    missing = [p for p in prefixes if f"'{p}:" not in sql]
    if missing:
        return [f"{slot}: Spark emits key prefix(es) {missing} with no "
                f"'{missing[0]}:' literal in the oracle SQL"]
    return []


def test_every_spark_tag_and_prefix_is_in_oracle_sql(spark_runner):
    """All TAGGED + PREFIXED slots in ONE test: the slot executions run
    in one runner JVM (see module docstring); here we apply the same
    per-slot literal assertions to the values it collected."""
    vals = spark_runner["local[8]"]
    failures = []
    for slot in sorted(TAGGED):
        failures.extend(_tag_failures(vals[slot][TAGGED[slot]], slot))
    for slot in sorted(PREFIXED):
        failures.extend(_prefix_failures(vals[slot][PREFIXED[slot]], slot))
    assert not failures, "\n".join(failures)


def test_no_oracle_query_emits_hugeint_or_decimal():
    """VERDICT r10 item 1/2: DuckDB ``sum(BIGINT)`` returns HUGEINT and
    UNION ALL promotes the whole column; the driver's hasher reads DuckDB
    results through pandas, where HUGEINT (and DECIMAL) degrade to
    float64 and render ``N.0`` against Spark's ``N`` — rows/schema pass,
    hash fails (the exact r10 freq_topk / hash_sampling_suite regression).
    Guard: type-check every registered oracle query (``.types`` plans
    without executing, so this is seconds over all 50)."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    bad = {}
    for name, sql in oracle.ORACLE_SQL.items():
        rel = con.sql(sql)
        offenders = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                     if "HUGEINT" in str(t) or "DECIMAL" in str(t)]
        if offenders:
            bad[name] = offenders
    assert not bad, (
        f"oracle queries emit pandas-unsafe column types (wrap the "
        f"aggregate in CAST(... AS BIGINT)): {bad}")


def test_registry_sides_agree():
    """Every queries() entry either has oracle SQL or is a documented
    rows-only slot; no SQL is registered for a nonexistent query."""
    orphans = set(oracle.ORACLE_SQL) - set(oracle.SPARK_QUERIES)
    assert not orphans, f"oracle SQL without a Spark query: {orphans}"
