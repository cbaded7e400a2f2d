"""export_batch: weekly cohort export archives -> validated, diffed Parquet.

There is one archive per cohort.  One operation is the reference's
json_to_parquet + expectations + compare flow over one cohort's archive
(operations alternate between the cohorts): ``zip_ndjson`` read +
``from_json`` with the registry schema -> ``filename_metadata``/
``derive_cohort`` stamping -> ``DatasetPipeline.run`` per data type ->
``run_suite`` on the written intraday table -> ``compare_datasets``
against that cohort's part of the planted main dataset.
"""

from __future__ import annotations

import os
import zipfile

import duckdb
from pyspark.sql import functions as F

import gen
from common import Workload, dir_stats

TYPES = ("FitbitIntradayCombined", "HealthKitV2Samples", "HealthKitV2Heartbeat", "FitbitSleepLogs")
DIFF_KEYS = ["ParticipantIdentifier", "Type", "DateTime"]
SUITE = {"expectations": [
    {"expectation_type": "expect_column_to_exist", "kwargs": {"column": "Mets"}},
    {"expectation_type": "expect_column_values_to_not_be_null", "kwargs": {"column": "ParticipantIdentifier"}},
    {"expectation_type": "expect_column_values_to_be_between",
     "kwargs": {"column": "Mets", "min_value": gen.METS_RANGE[0], "max_value": gen.METS_RANGE[1]}},
]}


class ExportBatch(Workload):
    name = "export_batch"
    n_records = 20_000

    def resolve_schemas(self):
        from recover_spark.schemas import load_default_registry

        reg = load_default_registry()
        self.specs = {t: reg[t] for t in TYPES}
        self.deleted_spec = reg["HealthKitV2Samples_Deleted"]
        self.schemas = {t: s.struct_type(include_partitions=False) for t, s in self.specs.items()}
        self.schemas["HealthKitV2Samples_Deleted"] = self.deleted_spec.struct_type(include_partitions=False)

    def generate(self, root):
        self._load(gen.gen_export(self.rng(), root, self.n_records))
        self._next = 0

    def _load(self, truth):
        self.truth = truth
        self.members = {}
        for cohort, t in truth["cohorts"].items():
            with zipfile.ZipFile(t["archive"]) as zf:
                self.members[cohort] = [i.filename for i in zf.infolist()]
        self.cohort = gen.COHORTS[0]

    def build(self):
        from recover_spark.sources.zip_datasource import ZipNdjsonDataSource

        self.spark.dataSource.register(ZipNdjsonDataSource)

    def warmup(self):
        """One untimed operation on a tenth-size export of the first cohort,
        intraday table only.

        Most of a cold operation's extra cost is start-up (JIT, Python
        workers, the zip source's first planning), not data; this pays most
        of it for less than half the time of a cold full operation.
        """
        full = (self.truth, self.members)
        self._load(gen.gen_export(self.rng(), os.path.join(self.work, "warmup"), self.n_records // 10))
        self.op(self.fresh_dir(), types=TYPES[:1])
        self.truth, self.members = full
        self._next = 0

    def measure(self, seconds):
        # every measurement starts with the first cohort, so a traced one
        # replays the untraced operations
        self._next = 0
        return super().measure(seconds)

    def _read(self, typ):
        """Raw lines of one data type from the cohort's archive, parsed and
        stamped."""
        from recover_spark.functions.transforms import derive_cohort, filename_metadata

        with self.tracer.span("sources.read") as c:
            # One equality filter per member: zip_ndjson prunes the archive
            # to that member at planning time.  (Its ``In`` pushdown raises
            # AttributeError, so ``isin`` is not used.)
            path = self.truth["cohorts"][self.cohort]["archive"]
            parsed = None
            for m in self.members[self.cohort]:
                if m.split("_")[0] != typ.split("_")[0] or ("_Deleted_" in m) != typ.endswith("_Deleted"):
                    continue
                p = (self.spark.read.format("zip_ndjson").load(path).filter(F.col("member") == m)
                     .select("member", F.lit(path).alias("archive"),
                             F.from_json("value", self.schemas[typ]).alias("r")))
                parsed = p if parsed is None else parsed.unionByName(p)
            parsed, c["rows"] = self.tracer.materialize(parsed)
        with self.tracer.span("functions.stamp"):
            meta = filename_metadata(F.col("member"))
            cols = [F.col(f"r.`{f.name}`") for f in self.schemas[typ].fields
                    if f.name not in ("export_start_date", "export_end_date")]
            stamped = parsed.select(
                *cols,
                meta.start_date.cast("string").alias("export_start_date"),
                meta.end_date.cast("string").alias("export_end_date"),
                derive_cohort(F.col("archive")).alias("cohort"),
            )
            stamped, _ = self.tracer.materialize(stamped)
        return stamped

    def _targets(self):
        import recover_spark.plans.pipeline as pipeline

        t = self.tracer

        def keep(out, counts, *_):
            out, counts["rows"] = t.materialize(out)
            return out

        def tables(out, counts, *_):
            res = {}
            for i, (name, df) in enumerate(out.items()):
                res[name], n = t.materialize(df)
                if i:
                    counts["child_rows"] = counts.get("child_rows", 0) + n
            return res

        def written(out, counts, args, kwargs):
            counts["files_written"], counts["bytes_written"] = dir_stats(args[1])
            return out

        return [(pipeline, "dedup_latest", "operators.dedup", keep),
                (pipeline, "drop_deleted", "operators.delete", keep),
                (pipeline, "relationalize", "operators.relationalize", tables),
                (pipeline, "write_partitioned_parquet", "sources.write", written)]

    def op(self, out, types=TYPES):
        from recover_spark.operators.diff import compare_datasets
        from recover_spark.plans import DatasetPipeline
        from recover_spark.quality import run_suite
        from recover_spark.sources import read_parquet_dataset

        self.cohort = gen.COHORTS[self._next % len(gen.COHORTS)]
        self._next += 1
        result = {"counts": {}}
        with self.tracer.patched(self._targets()):
            for typ in types:
                df = self._read(typ)
                deleted = self._read("HealthKitV2Samples_Deleted") if typ == "HealthKitV2Samples" else None
                with self.tracer.span("plans.pipeline") as c, self.tracer.jobs_counted("plans.pipeline"):
                    res = DatasetPipeline(self.specs[typ]).run(df, out, deleted=deleted)
                    c.update(res.counts)
                result["counts"][self.specs[typ].name] = res.counts
                self.tracer.release()
        with self.tracer.span("quality.suite"):
            intraday = read_parquet_dataset(self.spark, f"{out}/dataset=fitbitintradaycombined")
            result["suite"] = run_suite(intraday, SUITE)
        with self.tracer.span("operators.diff") as c:
            main = self.spark.read.parquet(self.truth["main"]).filter(F.col("cohort") == self.cohort)
            cmp = compare_datasets(intraday, main, DIFF_KEYS)
            for part in ("left_only", "right_only", "mismatched"):
                rows = getattr(cmp, part).select(*DIFF_KEYS).collect()
                result[part] = sorted(list(r) for r in rows)
            c["mismatches"] = sum(len(result[p]) for p in ("left_only", "right_only", "mismatched"))
        return result

    def items(self):
        return self.truth["cohorts"][self.cohort]["input_records"]

    def check(self, out, result):
        truth, problems = self.truth["cohorts"][self.cohort], []
        for name, counts in result["counts"].items():
            want = {"READ": truth["read"][name], "DROP_DUPLICATES": truth["unique"][name]}
            if name == "healthkitv2samples":
                want["DROP_DELETED_SAMPLES"] = truth["survivors"][name]
            if counts != want:
                problems.append(f"{name} observed counts {counts} != {want}")
        con = duckdb.connect()
        scan = lambda t: f"read_parquet('{out}/dataset={t}/*/*.parquet', hive_partitioning=true)"  # noqa: E731
        for table, n in truth["survivors"].items():
            got = con.execute(f"select count(*) from {scan(table)}").fetchone()[0]
            if got != n:
                problems.append(f"{table}: {got} rows, expected {n}")
        con.execute("create table deleted(pid varchar, k varchar)")
        con.executemany("insert into deleted values (?, ?)", truth["deleted_keys"])
        alive = con.execute(
            f"select count(*) from {scan('healthkitv2samples')} s join deleted d "
            "on s.ParticipantIdentifier = d.pid and s.HealthKitSampleKey = d.k").fetchone()[0]
        if alive:
            problems.append(f"{alive} deleted keys survived")
        mets = con.execute(f"select sum(Mets) from {scan('fitbitintradaycombined')}").fetchone()[0]
        if mets is None or abs(mets - truth["mets_sum"]) > 1e-6 * abs(truth["mets_sum"]):
            problems.append(f"intraday Mets sum {mets} != {truth['mets_sum']} (stale duplicate kept?)")
        vsum = con.execute(f"select sum(cast(Value as bigint)) from {scan('healthkitv2samples')}").fetchone()[0]
        if vsum != truth["samples_value_sum"]:
            problems.append(f"samples Value sum {vsum} != {truth['samples_value_sum']}")
        con.close()
        between = [r for r in result["suite"] if r.expectation_type == "expect_column_values_to_be_between"]
        if not between or between[0].unexpected_count != truth["suite_unexpected"]:
            problems.append(f"suite found {between[0].unexpected_count if between else None} "
                            f"out-of-range Mets, planted {truth['suite_unexpected']}")
        for part in ("left_only", "right_only", "mismatched"):
            if result[part] != truth["diff"][part]:
                problems.append(f"diff {part}: {len(result[part])} keys, planted {len(truth['diff'][part])}")
        return problems

    def stored_bytes(self, out):
        return dir_stats(out)[1] / self.truth["cohorts"][self.cohort]["input_bytes"]

    def layer_metrics(self, n_ops):
        t = self.tracer
        per = lambda v: sum(v) / n_ops  # noqa: E731
        # jobs the pipeline runs in an untraced operation (the traced one
        # adds persist-and-count jobs and reads cached results)
        jobs = t.job_counts.get("plans.pipeline", [])
        return {
            "sources.read_s": per(t.durations("sources.read")),
            "sources.read_rows": per(t.counts("sources.read", "rows")),
            "functions.stamp_s": per(t.durations("functions.stamp")),
            "operators.dedup_s": per(t.durations("operators.dedup")),
            "operators.dedup_dropped": per(c["READ"] - c["DROP_DUPLICATES"] for c in self._pipeline_counts()),
            "operators.delete_s": per(t.durations("operators.delete")),
            "operators.delete_dropped": per(c["DROP_DUPLICATES"] - c["DROP_DELETED_SAMPLES"]
                                            for c in self._pipeline_counts() if "DROP_DELETED_SAMPLES" in c),
            "operators.relationalize_s": per(t.durations("operators.relationalize")),
            "operators.child_rows": per(t.counts("operators.relationalize", "child_rows")),
            "plans.pipeline_s": per(t.durations("plans.pipeline")),
            "plans.jobs": sum(jobs) * len(TYPES) / len(jobs) if jobs else 0.0,
            "quality.suite_s": per(t.durations("quality.suite")),
            "operators.diff_s": per(t.durations("operators.diff")),
            "operators.diff_mismatches": per(t.counts("operators.diff", "mismatches")),
            "sources.write_s": per(t.durations("sources.write")),
            "sources.files_written": per(t.counts("sources.write", "files_written")),
            "sources.bytes_written": per(t.counts("sources.write", "bytes_written")),
        }

    def _pipeline_counts(self):
        return [s["counts"] for s in self.tracer.spans if s["name"] == "plans.pipeline"]
