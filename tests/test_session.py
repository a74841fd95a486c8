"""The driver JVM's option set: a heap that grows on demand up to
``spark.driver.memory`` instead of one pinned and pre-touched at it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pangeo_forge_recipes_spark.session import JVM_OPTIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json
from pangeo_forge_recipes_spark.session import JVM_OPTIONS, get_spark

spark = get_spark(master="local[1]")
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
with open(f"/proc/{jvm.ProcessHandle.current().pid()}/status") as f:
    rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
diag = mf.getPlatformMXBean(jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
out = {
    "rss_mb": rss_kb // 1024,
    "driver_memory": spark.conf.get("spark.driver.memory"),
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "values": {
        n: diag.getVMOption(n).getValue()
        for n in ["AlwaysPreTouch", *(f[len("-XX:"):].split("=")[0] for f in JVM_OPTIONS.split())]
    },
}
spark.stop()
print(json.dumps(out))
"""


def _mb(size: str) -> int:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(float(size[:-1]) * units[size[-1].lower()])


def test_default_session_heap_grows_on_demand():
    """A session at the default heap holds a small share of it right
    after start (442 MB against 6,437 MB on a 15 GB host; a pinned,
    pre-touched heap held 6,879 MB), and its JVM runs with the option set
    of ``session.JVM_OPTIONS``. The flag values are read back from the
    JVM, since Spark's ``IgnoreUnrecognizedVMOptions`` would drop a
    misspelt flag silently."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    env["PYTHONPATH"] = ROOT
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT], env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rss_mb"] < _mb(got["driver_memory"]) / 2, got
    args = got["args"]
    assert not [a for a in args if a.startswith("-Xms") or "AlwaysPreTouch" in a], args
    assert f"-Xmx{got['driver_memory']}" in args
    flags = JVM_OPTIONS.split()
    assert all(f in args for f in flags), (flags, args)
    expected = {"AlwaysPreTouch": "false"}
    expected.update(f[len("-XX:"):].split("=") for f in flags)
    assert got["values"] == expected
