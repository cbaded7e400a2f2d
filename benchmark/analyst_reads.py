"""analyst_reads: one client issuing a seeded query mix over a curated,
date-clustered dataset with zone-map and Bloom manifests.

Set-up writes the dataset through ``write_range_clustered_parquet`` and
builds both manifests.  One operation is one query: a participant point
lookup (``read_point_pruned``), a date-range scan (``read_pruned``) or a
``spark.sql`` group-by over a temp view.  Answers were computed by DuckDB
over the generated table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import gen
from common import Workload, dir_stats

N_PARTICIPANTS = 1500
N_QUERIES = 300
SQL = ("SELECT Type, COUNT(*) AS n, SUM(Value) AS total FROM curated "
       "WHERE Date BETWEEN '{lo}' AND '{hi}' GROUP BY Type ORDER BY Type")


class AnalystReads(Workload):
    name = "analyst_reads"

    def generate(self, root):
        self.truth = gen.gen_reads(self.rng(), root, N_PARTICIPANTS, N_QUERIES)
        self.curated = os.path.join(root, "curated")

    def build(self):
        from recover_spark.sources import build_bloommap, build_zonemap, read_parquet_dataset
        from recover_spark.sources.writers import write_range_clustered_parquet

        src = read_parquet_dataset(self.spark, self.truth["path"])
        write_range_clustered_parquet(src, self.curated, ["Date"])
        build_zonemap(self.spark, self.curated, ["Date"])
        build_bloommap(self.spark, self.curated, ["ParticipantIdentifier"])
        read_parquet_dataset(self.spark, self.curated).createOrReplaceTempView("curated")
        self._stored = dir_stats(self.curated)[1] / self.truth["input_bytes"]
        self._next = 0
        self._reports = []

    def warmup(self):
        # two queries of each kind, untimed
        kinds = {}
        for i, q in enumerate(self.truth["queries"]):
            kinds.setdefault(q["kind"], []).append(i)
        for idx in [i for v in kinds.values() for i in v[:2]]:
            self._run_query(self.truth["queries"][idx])
        self._reports.clear()

    def _run_query(self, q):
        from recover_spark.sources import read_point_pruned, read_pruned

        if q["kind"] == "sql":
            with self.tracer.span("sql.plan"):
                df = self.spark.sql(SQL.format(**q))
            with self.tracer.span("sql.exec"):
                return [[r["Type"], r["n"], r["total"]] for r in df.collect()]
        with self.tracer.span("sources.pruned_read"):
            if q["kind"] == "point":
                df, report = read_point_pruned(self.spark, self.curated, {"ParticipantIdentifier": [q["pid"]]})
            else:
                df, report = read_pruned(self.spark, self.curated, {"Date": (q["lo"], q["hi"])})
            row = df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("Value"), F.lit(0.0)).alias("s")).first()
        self._reports.append(report)
        return [row["n"], row["s"]]

    def op(self, out):
        q = self.truth["queries"][self._next % len(self.truth["queries"])]
        self._next += 1
        return q, self._run_query(q)

    def items(self):
        return 1

    def check(self, out, result):
        q, got = result
        if got != q["answer"]:
            return [f"{q['kind']} query {q.get('pid') or (q['lo'], q['hi'])}: {got} != {q['answer']}"]
        return []

    def stored_bytes(self, out):
        return self._stored

    def layer_metrics(self, n_ops):
        import statistics

        pruned = self.tracer.durations("sources.pruned_read")
        reports = [r for r in self._reports if r.get("files_total")]
        med = lambda v: statistics.median(v) * 1000 if v else 0.0  # noqa: E731
        return {
            "sources.pruned_read_ms": med(pruned),
            "sources.files_read_frac": (sum(r["files_read"] for r in reports)
                                        / sum(r["files_total"] for r in reports)) if reports else 0.0,
            "sql.plan_ms": med(self.tracer.durations("sql.plan")),
            "sql.exec_ms": med(self.tracer.durations("sql.exec")),
        }
