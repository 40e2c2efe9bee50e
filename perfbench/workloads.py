"""The benchmark's workloads: one closed-loop operation each, with checks.

Each workload reads only the generated input files, computes the values
it expects with pyarrow straight from those files, and raises
:class:`CheckFailed` from :meth:`run_op` when the package's output
disagrees.  The package is reached through its module attributes
(``profile.profile_many``, ``report.render_html`` ...) so that the
tracer's wrappers see every call.
"""

from __future__ import annotations

import math
import shutil
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import Tracer


class CheckFailed(Exception):
    """An operation returned a result that disagrees with the inputs."""


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _close(got: float | None, want: float, rel: float = 1e-9) -> bool:
    return got is not None and math.isclose(got, want, rel_tol=rel,
                                            abs_tol=1e-12)


class CatalogSmall:
    """``profile_many`` over a small catalog, then collect and render.

    Every table is under 1 MiB in one row group, so the op is bound by
    per-job fixed cost (chunk submission, planning, py4j), not by rows.
    """

    name = "catalog_small"
    tables = ("lineitem", "nation")

    def __init__(self, data: Path, scratch: Path, seed: int, nproc: int,
                 tracer: Tracer) -> None:
        self.paths = {t: str(data / f"{t}.parquet") for t in self.tables}
        self.nproc = nproc
        self.tracer = tracer
        self.expected: dict[str, tuple[int, dict[str, int]]] = {}
        self.rows_per_op = 0
        self.input_bytes_per_op = 0
        for t, p in self.paths.items():
            tbl = pq.read_table(p)
            self.expected[t] = (tbl.num_rows, {
                c: tbl.num_rows - tbl.column(c).null_count
                for c in tbl.column_names})
            self.rows_per_op += tbl.num_rows
            self.input_bytes_per_op += Path(p).stat().st_size
            if t == "lineitem":
                self.l_quantity_mean = pc.mean(
                    tbl.column("l_quantity")).as_py()
        self.spark = None

    def prepare(self, spark) -> None:
        self.spark = spark

    def reset(self) -> None:
        pass

    def run_op(self, i: int) -> None:
        from spark_df_profiling_spark import report
        from spark_df_profiling_spark.operators import profile
        dfs = {t: self.spark.read.parquet(p) for t, p in self.paths.items()}
        results = profile.profile_many(dfs, max_threads=self.nproc)
        for t, res in results.items():
            rows = res.variables.collect()
            html = report.render_html(res)
            n, counts = self.expected[t]
            _check(res.table["n"] == n, f"{t}: n {res.table['n']} != {n}")
            _check(len(rows) == len(counts), f"{t}: column count")
            for r in rows:
                _check(r["n"] == n and r["count"] == counts[r["column"]],
                       f"{t}.{r['column']}: count {r['count']} != "
                       f"{counts[r['column']]}")
                if t == "lineitem" and r["column"] == "l_quantity":
                    _check(_close(r["mean"], self.l_quantity_mean),
                           f"l_quantity mean {r['mean']!r} != "
                           f"{self.l_quantity_mean!r}")
            _check(f"{n}" in html or f"{n:,}" in html,
                   f"{t}: report lacks the row count")


class LlmIngest:
    """Ingest one document batch per op: LLM-data operators plus an
    incremental profile whose state is written beside the reads.

    Steps: ``exact_dedup`` count; ``minhash_candidates`` pairs, then
    ``unpersist`` of its cached features; a ``text_features`` aggregate;
    ``knn_bruteforce`` top-10 for 20 seed-chosen ids; ``partial_profile``
    of ``state_cols`` written as parquet state, then ``merge_partials`` over
    all stored states, ``finalize`` and ``collect``.  The state directory
    resets every ``DOC_BATCHES`` ops.  None of these steps enter
    ``operators.profile`` or ``plans.wide_agg``.
    """

    name = "llm_ingest"
    knn_queries = 20
    knn_k = 10
    # profiled by the incremental step: numeric, nullable numeric and
    # categorical
    state_cols = ("n_chars", "score", "lang")

    def __init__(self, data: Path, scratch: Path, seed: int, nproc: int,
                 tracer: Tracer) -> None:
        self.tracer = tracer
        self.seed = seed
        self.state_root = scratch / "state"
        self.emb_path = str(data / "embeddings.parquet")
        self.batch_paths = [str(data / f"documents_b{b}.parquet")
                            for b in range(inputs.DOC_BATCHES)]
        # seed-assigned ingest order of the batches
        self.order = list(np.random.default_rng([seed, 7]).permutation(
            inputs.DOC_BATCHES))
        self.batch = []
        for p in self.batch_paths:
            tbl = pq.read_table(p)
            texts = tbl.column("text").to_pylist()
            ids = tbl.column("doc_id").to_pylist()
            by_text = defaultdict(list)
            for d, t in zip(ids, texts):
                by_text[t].append(d)
            dup_pairs = {(a, b) for ds in by_text.values()
                         for a in ds for b in ds if a < b}
            self.batch.append({
                "rows": tbl.num_rows,
                "distinct_text": len(by_text),
                "dup_pairs": dup_pairs,
                "chars": sum(len(t) for t in texts),
                "tokens": sum(len(t.split(" ")) for t in texts),
                "n_chars": tbl.column("n_chars").to_pylist(),
                "score": [v for v in tbl.column("score").to_pylist()
                          if v is not None],
                "bytes": Path(p).stat().st_size,
            })
        emb_rows = pq.read_metadata(self.emb_path).num_rows
        self.emb_ids = np.arange(emb_rows)
        self.rows_per_op = inputs.DOCS_PER_BATCH + emb_rows
        emb_bytes = Path(self.emb_path).stat().st_size
        self.input_bytes_per_op = (
            sum(b["bytes"] for b in self.batch) // len(self.batch)
            + emb_bytes)
        self.spark = None
        self.emb = None
        self.doc_schema = None
        self.stored: list[str] = []
        self.ingested: list[int] = []

    def prepare(self, spark) -> None:
        self.spark = spark
        self.emb = spark.read.parquet(self.emb_path)
        # an ingest job declares its batch schema instead of inferring
        # it from every batch file
        self.doc_schema = spark.read.parquet(self.batch_paths[0]).schema
        self.reset()

    def reset(self) -> None:
        shutil.rmtree(self.state_root, ignore_errors=True)
        self.state_root.mkdir(parents=True)
        self.stored, self.ingested = [], []

    def run_op(self, i: int) -> None:
        from pyspark.sql import functions as F

        from spark_df_profiling_spark.operators import dedup, incremental
        from spark_df_profiling_spark.operators import similarity, text
        if len(self.ingested) == len(self.order):
            self.reset()
        b = int(self.order[len(self.ingested)])
        want = self.batch[b]
        tr = self.tracer
        docs = self.spark.read.schema(self.doc_schema).parquet(
            self.batch_paths[b])

        with tr.span("dedup.exact"):
            distinct = dedup.exact_dedup(docs, "text").count()
        _check(distinct == want["distinct_text"],
               f"exact_dedup {distinct} != {want['distinct_text']}")

        with tr.span("dedup.minhash"):
            cand = dedup.minhash_candidates(docs, "text", "doc_id")
            pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
            cand._minhash_features.unpersist()
        tr.count("dedup.candidate_pairs", len(pairs))
        _check(want["dup_pairs"] <= pairs,
               "minhash candidates miss an exact-duplicate pair")

        with tr.span("text.features"):
            agg = text.text_features(docs, "text").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("f_n_chars").alias("chars"),
                F.sum("f_n_tokens").alias("tokens"),
                F.avg("f_quality").alias("quality")).collect()[0]
        _check(agg["n"] == want["rows"] and agg["chars"] == want["chars"]
               and agg["tokens"] == want["tokens"],
               f"text_features totals {agg.asDict()}")

        rng = np.random.default_rng([self.seed, 11, i])
        qids = [int(v) for v in rng.choice(self.emb_ids, self.knn_queries,
                                           replace=False)]
        with tr.span("similarity.knn"):
            q = self.emb.where(F.col("vec_id").isin(qids))
            nn = similarity.knn_bruteforce(self.emb, q, k=self.knn_k
                                           ).collect()
        per_q = defaultdict(int)
        for r in nn:
            _check(r["query_id"] != r["neighbor_id"], "knn self-match")
            per_q[r["query_id"]] += 1
        _check(len(nn) == self.knn_queries * self.knn_k
               and set(per_q) == set(qids)
               and set(per_q.values()) == {self.knn_k},
               f"knn returned {len(nn)} rows for {len(per_q)} queries")

        state_path = self.state_root / f"batch{len(self.ingested)}"
        with tr.span("incremental.partial"):
            part = incremental.partial_profile(docs, self.state_cols)
        with tr.span("incremental.state_write"):
            part.write.parquet(str(state_path))
        state_bytes = sum(f.stat().st_size for f in state_path.iterdir()
                          if f.suffix == ".parquet")
        tr.count("incremental.state_bytes", state_bytes)
        tr.count("incremental.batch_bytes", want["bytes"])
        self.stored.append(str(state_path))
        self.ingested.append(b)
        with tr.span("incremental.merge_finalize"):
            merged = incremental.merge_partials(
                self.spark.read.schema(part.schema).parquet(*self.stored))
            fin = {r["column"]: r for r in
                   incremental.finalize(merged).collect()}
        self._check_incremental(fin)

    def _check_incremental(self, fin: dict) -> None:
        seen = [self.batch[b] for b in self.ingested]
        n = sum(b["rows"] for b in seen)
        for col in ("n_chars", "score"):
            vals = [v for b in seen for v in b[col]]
            r = fin[col]
            _check(r["n"] == n and r["count"] == len(vals),
                   f"incremental {col}: n/count {r['n']}/{r['count']} "
                   f"!= {n}/{len(vals)}")
            want = math.fsum(vals) / len(vals)
            _check(_close(r["mean"], want),
                   f"incremental {col}: mean {r['mean']!r} != {want!r}")


WORKLOADS = {w.name: w for w in (CatalogSmall, LlmIngest)}
