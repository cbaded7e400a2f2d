"""corpus_curate: training-corpus curation over seeded documents.

One operation selects the corpus with ``spark.sql`` over the
``documents`` and ``embeddings`` views that ``recover_spark.sql`` registers,
runs ``exact_dedup`` -> ``minhash_near_duplicates`` + ``greedy_survivors``
-> ``embedding_near_duplicates`` -> ``quality_filter`` ->
``export_training_shards``, and ends with a ``spark.sql`` group-by over
the exported shards.  Each stage's result is persisted and collected
once, as a curation job that reports per-stage results would do, so the
output checks add no recomputation to the operation.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

import gen
from common import Workload, dir_stats

N_BASE = 400
MINHASH_AGREEMENT = 0.5
COSINE = 0.95
ROWS_PER_SHARD = 256
CORPUS_SQL = ("SELECT d.doc_id, d.text, e.embedding FROM documents d "
              "JOIN embeddings e ON d.doc_id = e.doc_id")
SHARD_SQL = ("SELECT shard, COUNT(*) AS n, SUM(LENGTH(text)) AS chars FROM shards "
             "GROUP BY shard ORDER BY shard")


def _greedy(nodes, pairs):
    """Greedy lower-id survivors: keep a node iff no lower-id neighbour
    was kept (the rule ``greedy_survivors`` documents)."""
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    kept: set[int] = set()
    for n in sorted(nodes):
        if not any(m < n and m in kept for m in nbrs.get(n, ())):
            kept.add(n)
    return kept


class CorpusCurate(Workload):
    name = "corpus_curate"

    def generate(self, root):
        self.truth = gen.gen_corpus(self.rng(), root, N_BASE)
        self._stats = []

    def warmup(self):
        """One untimed operation on a small corpus: it pays the cold start
        (Python workers, JIT, code generation) for less than a full one."""
        full = self.truth
        self.truth = gen.gen_corpus(self.rng(), os.path.join(self.work, "warmup"), N_BASE // 10)
        self.run_one(self.fresh_dir())
        self.tracer.release()
        self.truth = full
        self._stats.clear()

    def op(self, out):
        from recover_spark.ops.dedup_text import exact_dedup, greedy_survivors, minhash_near_duplicates
        from recover_spark.ops.sampling import export_training_shards
        from recover_spark.ops.similarity import embedding_near_duplicates
        from recover_spark.ops.text_analysis import quality_filter
        from recover_spark.sql import register_views

        t, res = self.tracer, {}
        with t.span("sql.plan"):
            register_views(self.spark, self.truth["dir"], ("documents", "embeddings"))
            docs = self.spark.sql(CORPUS_SQL)
        with t.span("ops.exact_dedup"):
            kept = t.pin(exact_dedup(docs).select("doc_id"))
            res["exact_kept"] = {r[0] for r in kept.collect()}
            docs1 = t.pin(docs.join(kept, "doc_id", "left_semi"))
        with t.span("ops.minhash"):
            pairs = t.pin(minhash_near_duplicates(docs1, min_signature_agreement=MINHASH_AGREEMENT))
            res["minhash_pairs"] = [tuple(r) for r in pairs.collect()]
        with t.span("ops.survivors"):
            surv = t.pin(greedy_survivors(pairs, docs1, id_a="id_a", id_b="id_b"))
            res["survivors"] = {r[0] for r in surv.collect()}
            docs2 = t.pin(docs1.join(surv, "doc_id", "left_semi"))
        with t.span("ops.embedding_dedup"):
            emb = t.pin(embedding_near_duplicates(docs2, threshold=COSINE, id_col="doc_id"))
            res["embedding_pairs"] = [(r["id_a"], r["id_b"]) for r in emb.collect()]
            docs3 = docs2.join(emb.select(F.col("id_b").alias("doc_id")), "doc_id", "left_anti")
        with t.span("ops.quality_filter"):
            verdict = t.pin(quality_filter(docs3))
            res["passed"] = {r[0] for r in verdict.filter("passed").select("doc_id").collect()}
            res["reached_filter"] = verdict.count()
            docs4 = docs3.join(verdict.filter("passed").select("doc_id"), "doc_id", "left_semi")
        with t.span("ops.shard_export"):
            export_training_shards(docs4.select("doc_id", "text"), out, key_col="doc_id",
                                   rows_per_shard=ROWS_PER_SHARD)
        with t.span("sql.plan"):
            self.spark.read.parquet(out).createOrReplaceTempView("shards")
            summary = self.spark.sql(SHARD_SQL)
        with t.span("sql.exec"):
            res["shard_summary"] = [(int(r["shard"]), r["n"], r["chars"]) for r in summary.collect()]
        return res

    def items(self):
        return self.truth["n_docs"]

    def check(self, out, res):
        import duckdb

        truth, problems = self.truth, []
        all_ids = set(truth["texts"])
        dropped_exact = {i for g in truth["exact_groups"] for i in g[1:]}
        if res["exact_kept"] != all_ids - dropped_exact:
            problems.append(f"exact_dedup kept {len(res['exact_kept'])} docs, "
                            f"expected {len(all_ids - dropped_exact)}")
        if any(a >= b or s < MINHASH_AGREEMENT for a, b, s in res["minhash_pairs"]):
            problems.append("minhash pair with id_a >= id_b or agreement below the threshold")
        if res["survivors"] != _greedy(res["exact_kept"], [(a, b) for a, b, _ in res["minhash_pairs"]]):
            problems.append("greedy_survivors differs from the greedy lower-id rule on its pairs")
        vec = truth["vectors"]
        for a, b in res["embedding_pairs"]:
            va, vb = vec[a], vec[b]
            if a >= b or float(va @ vb / np.linalg.norm(va) / np.linalg.norm(vb)) < COSINE - 1e-9:
                problems.append(f"embedding pair ({a}, {b}) below cosine {COSINE}")
                break
        low = set(truth["low_quality"])
        if res["passed"] & low:
            problems.append(f"{len(res['passed'] & low)} planted low-quality docs passed")
        if res["reached_filter"] - len(res["passed"]) != len(low & self._reaching(res)):
            problems.append(f"quality_filter failed {res['reached_filter'] - len(res['passed'])} docs, "
                            f"planted low-quality among them {len(low & self._reaching(res))}")
        con = duckdb.connect()
        shards = f"read_parquet('{out}/*/*.parquet', hive_partitioning=true)"
        shard_ids = {r[0] for r in con.execute(f"select doc_id from {shards}").fetchall()}
        summary = [(int(s), n, c) for s, n, c in con.execute(
            f"select shard, count(*), sum(length(text)) from {shards} group by shard order by shard").fetchall()]
        con.close()
        if shard_ids != res["passed"]:
            problems.append(f"shards hold {len(shard_ids)} docs, {len(res['passed'])} passed the filter")
        if res["shard_summary"] != summary:
            problems.append(f"shard group-by {res['shard_summary'][:3]}... != DuckDB {summary[:3]}...")
        if sum(c for _, _, c in summary) != sum(len(truth["texts"][i]) for i in res["passed"]):
            problems.append("shards do not hold the text of the documents that passed the filter")
        planted = {tuple(p) for p in truth["near_pairs"]}
        removed = all_ids - res["passed"]
        self._stats.append({
            "recall": sum(1 for a, b in planted if b in removed) / len(planted),
            "candidates": len(res["minhash_pairs"]),
            "useful": sum(1 for a, b, _ in res["minhash_pairs"] if (a, b) in planted),
        })
        return problems

    def _reaching(self, res):
        drop = {b for _, b in res["embedding_pairs"]}
        return res["survivors"] - drop

    def stored_bytes(self, out):
        return dir_stats(out)[1] / self.truth["input_bytes"]

    def extra_metrics(self):
        if not self._stats:
            return {}
        return {"near_dup_recall": (self._stats[-1]["recall"], "ratio")}

    def layer_metrics(self, n_ops):
        t = self.tracer
        per = lambda v: sum(v) / n_ops  # noqa: E731
        s = self._stats[-1]
        return {
            "sql.plan_ms": per(t.durations("sql.plan")) * 1000,
            "sql.exec_ms": per(t.durations("sql.exec")) * 1000,
            "ops.exact_dedup_s": per(t.durations("ops.exact_dedup")),
            "ops.minhash_s": per(t.durations("ops.minhash")),
            "ops.minhash_candidates": s["candidates"],
            "ops.minhash_useful_ratio": s["useful"] / s["candidates"] if s["candidates"] else 0.0,
            "ops.survivors_s": per(t.durations("ops.survivors")),
            "ops.embedding_dedup_s": per(t.durations("ops.embedding_dedup")),
            "ops.quality_filter_s": per(t.durations("ops.quality_filter")),
            "ops.shard_export_s": per(t.durations("ops.shard_export")),
            "near_dup_recall": s["recall"],
        }
