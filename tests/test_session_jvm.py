"""The driver JIT that ``get_spark`` sets up: C1 only with a 240 MB code
cache for a one-shot process, full tiered compilation for this suite's
long-lived session and for a large ``tm_etl`` run (``cli.driver_jit``),
and ``tools/jvm_cpu.py``'s reading of it."""

import importlib.util
import json
import os
import subprocess
import sys

from tmdataloader_spark.cli import ONE_SHOT_MAX_BYTES, driver_jit
from tmdataloader_spark.session import FULL_JIT

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.dirname(os.path.abspath(__file__))


def jvm_facts(spark) -> dict:
    """The driver JVM's input arguments, its code-cache pool sizes and
    the names of its live threads."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pid = jvm.ProcessHandle.current().pid()
    names = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                names.append(fh.read().strip())
        except FileNotFoundError:
            continue
    return {
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
        "code_cache_max": {
            p.getName(): p.getUsage().getMax()
            for p in mf.getMemoryPoolMXBeans()
            if p.getName().startswith(("CodeCache", "CodeHeap"))
        },
        "threads": names,
    }


def has_c2(facts) -> bool:
    return any(n.startswith("C2 CompilerThre") for n in facts["threads"])


def tiered_stop(facts) -> str:
    """The ``TieredStopAtLevel`` the JVM runs with: the last one given."""
    return [a for a in facts["args"] if a.startswith("-XX:TieredStopAtLevel=")][-1]


_PROBE = (
    "import json, sys; sys.path[:0] = [{root!r}, {tests!r}]\n"
    "from test_session_jvm import jvm_facts\n"
    "from tmdataloader_spark.session import get_spark\n"
    "spark = get_spark('jvm-flags')\n"
    "print(json.dumps(jvm_facts(spark)))\n"
    "spark.stop()\n"
)


def test_one_shot_session_runs_c1_only_with_large_code_cache():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=ROOT, tests=TESTS)],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300, check=True,
    ).stdout
    facts = json.loads(out.strip().splitlines()[-1])
    assert tiered_stop(facts) == "-XX:TieredStopAtLevel=1"
    # C1 only leaves one unsegmented pool, 48 MB unless sized
    assert facts["code_cache_max"].get("CodeCache", 0) >= 240 * 1024**2, facts
    assert not has_c2(facts), facts["threads"]


def test_suite_session_keeps_c2(spark):
    facts = jvm_facts(spark)
    assert tiered_stop(facts) == "-XX:TieredStopAtLevel=4"
    assert has_c2(facts), facts["threads"]


def test_driver_jit_keeps_c2_for_a_large_run(tmp_path):
    data, wh = tmp_path / "data", tmp_path / "wh"
    (data / "study").mkdir(parents=True)
    (data / "study" / "small.txt").write_bytes(b"x" * 1024)
    assert driver_jit(str(data), str(wh), None) == {}
    # sparse files: their size counts, no disk is used
    wh.mkdir()
    with open(wh / "part-0.parquet", "wb") as fh:
        fh.truncate(ONE_SHOT_MAX_BYTES)
    assert driver_jit(str(data), str(wh)) == {
        "spark.driver.defaultJavaOptions": FULL_JIT
    }
    assert driver_jit(str(data)) == {}


def test_jvm_cpu_diff_around_a_job(spark):
    spec = importlib.util.spec_from_file_location(
        "jvm_cpu", os.path.join(ROOT, "tools", "jvm_cpu.py")
    )
    jvm_cpu = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(jvm_cpu)
    before = jvm_cpu.snapshot(spark)
    spark.range(20_000_000).selectExpr("sum(id * 3) AS s").collect()
    d = jvm_cpu.diff(before, jvm_cpu.snapshot(spark))
    assert d["compile_ms"] >= 0
    # the job's tasks run on the executor threads, one group
    assert d["threads"].get("Executor task l", 0) > 0, d["threads"]
    # per-thread seconds are a part of the JVM's own CPU, in its units
    assert sum(d["threads"].values()) <= d["jvm_cpu_s"] + 0.05, d
