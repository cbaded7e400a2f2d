"""incremental_arrivals: daily HealthKitV2Samples exports merged one at a
time into the bucketed pipeline state.

One cycle starts from empty state; each arrival is landed (renamed into
the stream's source directory), merged by one availableNow
``incremental_dataset_pipeline`` run, and then read back.  The first
``LEAD_IN`` arrivals of a cycle are untimed; they are the warm-up of the
first cycle.  One operation is one later arrival, timed from landing to
the merged state answering a count, so every timed arrival merges into
existing, growing state.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import gen
from common import Workload, checked, cpu_seconds

N_ARRIVALS = 5
LEAD_IN = 2
ROWS_PER_ARRIVAL = 2000
N_BUCKETS = 32
INDEX = ["ParticipantIdentifier", "HealthKitSampleKey"]


def _listing(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


class IncrementalArrivals(Workload):
    name = "incremental_arrivals"

    def resolve_schemas(self):
        from recover_spark.schemas import load_default_registry

        reg = load_default_registry()
        self.schema = reg["HealthKitV2Samples"].struct_type()
        self.deleted_schema = reg["HealthKitV2Samples_Deleted"].struct_type(include_partitions=False)

    def generate(self, root):
        self.truth = gen.gen_arrivals(self.rng(), root, N_ARRIVALS, ROWS_PER_ARRIVAL)
        self._trace = {"touched": [], "rewritten": [], "state_files": []}
        self._open = None

    def _start_cycle(self):
        """Open a cycle from empty state and land its lead-in arrivals,
        untimed and untraced."""
        base = self.fresh_dir("cycle")
        cyc = {"base": base, "ops": []}
        cyc.update(zip(("src", "state", "ckpt"), (os.path.join(base, d) for d in ("landing", "state", "checkpoint"))))
        os.makedirs(cyc["src"])
        cyc["deleted"] = self.spark.read.schema(self.deleted_schema).json(self.truth["deleted_path"])
        traced, self.tracer.enabled = self.tracer.enabled, False
        try:
            for i in range(LEAD_IN):
                self._arrive(cyc, i)
        finally:
            self.tracer.enabled = traced
        return cyc

    def _arrive(self, cyc, i):
        """Land arrival ``i``, merge it and read the state back; returns the
        operation record."""
        from recover_spark.streaming.incremental import incremental_dataset_pipeline

        state = cyc["state"]
        before = _listing(state) if self.tracer.enabled else None
        staged = os.path.join(cyc["base"], os.path.basename(self.truth["files"][i]))
        shutil.copyfile(self.truth["files"][i], staged)
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            os.rename(staged, os.path.join(cyc["src"], os.path.basename(staged)))
            with self.tracer.span("streaming.trigger"):
                q = incremental_dataset_pipeline(self.spark, cyc["src"], self.schema, cyc["ckpt"], state, INDEX,
                                                 deleted=cyc["deleted"], n_buckets=N_BUCKETS)
                q.awaitTermination()
            with self.tracer.span("sources.read"):
                n = self.spark.read.parquet(state).count()
        except Exception as exc:  # noqa: BLE001 - a failing arrival is recorded, not fatal
            return {"latency_s": time.perf_counter() - t0, "cpu_s": cpu_seconds() - c0, "items": self.truth["rows"],
                    "problems": [f"arrival {i} raised {exc!r}"], "stored": None}
        latency = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        if before is not None:
            after = _listing(state)
            new = {p: s for p, s in after.items() if p not in before}
            buckets = {os.path.basename(os.path.dirname(p)) for p in new}
            self._trace["touched"].append(len(buckets) / N_BUCKETS)
            self._trace["rewritten"].append(sum(new.values()) / self.truth["bytes"][i])
        return {"latency_s": latency, "cpu_s": cpu, "items": self.truth["rows"], "problems": [], "n": n}

    def _check(self, state, i, n):
        want = self.truth["expected"][i]
        problems = []
        if n != want["count"]:
            problems.append(f"arrival {i}: state has {n} rows, expected {want['count']}")
        con = duckdb.connect()
        con.execute(f"create view s as select * from read_parquet('{state}/*/*.parquet', hive_partitioning=true)")
        total = con.execute("select sum(cast(Value as bigint)) from s").fetchone()[0]
        if total != want["value_sum"]:
            problems.append(f"arrival {i}: value sum {total} != {want['value_sum']} (stale version kept?)")
        con.execute("create table d(pid varchar, k varchar)")
        con.executemany("insert into d values (?, ?)", self.truth["deleted_keys"])
        alive = con.execute("select count(*) from s join d on s.ParticipantIdentifier = d.pid "
                            "and s.HealthKitSampleKey = d.k").fetchone()[0]
        if alive:
            problems.append(f"arrival {i}: {alive} deleted keys in state")
        con.close()
        return problems

    def warmup(self):
        # the first cycle's lead-in: an arrival into empty state and the
        # first merge into existing state
        self._open = self._start_cycle()

    def measure(self, seconds):
        """Whole cycles until ``seconds`` of arrival time are spent."""
        ops = []
        while not ops or sum(o["latency_s"] for o in ops) < seconds:
            cyc = self._open or self._start_cycle()
            self._open = None
            cycle_ops = []
            for i in range(LEAD_IN, N_ARRIVALS):
                rec = self._arrive(cyc, i)
                if "n" in rec:
                    rec["problems"] = checked(self._check, cyc["state"], i, rec.pop("n"))
                cycle_ops.append(rec)
                if rec["problems"] and "raised" in rec["problems"][0]:
                    break
            if self.tracer.enabled:
                self._trace["state_files"].append(len(_listing(cyc["state"])))
            stored = sum(_listing(cyc["state"]).values()) / sum(self.truth["bytes"][:N_ARRIVALS])
            for o in cycle_ops:
                o["stored"] = stored
            shutil.rmtree(cyc["base"], ignore_errors=True)
            ops.extend(cycle_ops)
        return ops

    def layer_metrics(self, n_ops):
        mean = lambda v: sum(v) / len(v) if v else 0.0  # noqa: E731
        return {
            "streaming.trigger_s": mean(self.tracer.durations("streaming.trigger")),
            "streaming.buckets_touched_frac": mean(self._trace["touched"]),
            "streaming.bytes_rewritten_per_input_byte": mean(self._trace["rewritten"]),
            "streaming.state_files": mean(self._trace["state_files"]),
        }
