"""Shared workload harness: fresh output dirs, the closed measuring loop
and per-operation records."""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User + system CPU seconds of this process and every process below it
    (the Spark JVM, its Python workers), children they reaped included."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # after the command name: state, ppid, ..., utime, stime, cutime, cstime
            procs[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def checked(check, *args) -> list[str]:
    """Run an output check; a check that raises is a failed check."""
    try:
        return check(*args)
    except Exception as exc:  # noqa: BLE001 - unreadable output fails the operation, not the run
        traceback.print_exc(file=sys.stderr)
        return [f"output check raised {exc!r}"]


class Workload:
    """One benchmark workload.  Subclasses generate inputs, run one
    operation against the program and check its output."""

    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self._outs = 0

    def rng(self) -> random.Random:
        return random.Random(self.seed)

    def fresh_dir(self, tag: str = "out") -> str:
        self._outs += 1
        path = os.path.join(self.work, f"{tag}-{self._outs}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    # -- set-up ------------------------------------------------------------
    def resolve_schemas(self) -> None:
        pass

    def generate(self, root: str) -> None:
        raise NotImplementedError

    def build(self) -> None:
        """Set-up work on the generated inputs done through the program
        (curated dataset and manifests); counted in ``setup_s``."""

    def warmup(self) -> None:
        self.measure(0.0)

    # -- one operation -----------------------------------------------------
    def op(self, out: str):
        raise NotImplementedError

    def items(self) -> int:
        raise NotImplementedError

    def check(self, out: str, result) -> list[str]:
        raise NotImplementedError

    def stored_bytes(self, out: str) -> float | None:
        return None

    def run_one(self, out: str) -> dict:
        """Time one operation, then check it outside the timed region.  An
        exception is a failed operation, not a crashed run."""
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            result = self.op(out)
        except Exception:  # noqa: BLE001 - a failing op is recorded, the loop goes on
            traceback.print_exc(file=sys.stderr)
            return {"latency_s": time.perf_counter() - t0, "cpu_s": cpu_seconds() - c0, "items": self.items(),
                    "problems": ["operation raised"], "stored": None}
        latency = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        return {"latency_s": latency, "cpu_s": cpu, "items": self.items(),
                "problems": checked(self.check, out, result), "stored": self.stored_bytes(out)}

    def measure(self, seconds: float) -> list[dict]:
        """Closed loop, one client: the next operation starts when the last
        one finished, until ``seconds`` of operation time are spent (at
        least one operation)."""
        ops, spent = [], 0.0
        while not ops or spent < seconds:
            out = self.fresh_dir()
            rec = self.run_one(out)
            self.tracer.release()
            shutil.rmtree(out, ignore_errors=True)
            ops.append(rec)
            spent += rec["latency_s"]
        return ops

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        """Workload-only figures printed with the end-to-end metrics, as
        ``{name: (value, unit)}``."""
        return {}

    # -- traced run (called after the session stopped) ----------------------
    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        return {}
