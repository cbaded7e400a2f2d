"""Session defaults: driver heap cap and the driver JVM's JIT policy."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from recover_spark.session import JIT_POLICY, default_driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _meminfo(tmp_path, total_kb):
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(path)


def test_driver_memory_capped_at_half_of_host(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_driver_memory(_meminfo(tmp_path, 4 * 1024 * 1024)) == "2048m"
    assert default_driver_memory(_meminfo(tmp_path, 64 * 1024 * 1024)) == "8192m"
    assert default_driver_memory(str(tmp_path / "missing")) == "8192m"


def test_driver_memory_env_overrides_cap(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "12g")
    assert default_driver_memory(_meminfo(tmp_path, 4 * 1024 * 1024)) == "12g"


_PROBE = """
import json
from recover_spark.session import get_spark

spark = get_spark(
    "jit-probe",
    master="local[1]",
    extra_conf={
        "spark.driver.extraJavaOptions": "-Dprobe=1",
        "spark.driver.memory": "512m",
    },
)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))
spark.stop()
"""


def test_jit_policy_reaches_driver_jvm_next_to_extra_java_options():
    """A caller's ``spark.driver.extraJavaOptions`` must not replace the
    policy: both reach a freshly started driver JVM."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-Dprobe=1" in args
    for flag in JIT_POLICY.split():
        assert flag in args, (flag, args)
