"""Where the driver JVM's CPU goes: JIT compilation versus Spark's own
threads.

``snapshot(spark)`` reads the driver JVM's total JIT compile time
(``CompilationMXBean.getTotalCompilationTime``), its code-cache use,
the CPU seconds of the JVM plus this Python process as perfbench's
``cpu_s`` counts them (``perfbench/run.py:_cpu_s``), those of the
Python process alone, and the CPU seconds of every live JVM thread
(``/proc/<pid>/task/*/schedstat``), each under its thread group: the
thread name with trailing digits removed (``GC Thread#3`` ->
``GC Thread#``; Linux keeps only the first 15 characters, so C2's
threads are ``C2 CompilerThre`` and Spark's task threads
``Executor task l``).  ``diff(a, b)`` is what was spent between two
snapshots, summed per thread group.

HotSpot starts and stops compiler threads as its compile queue grows
and shrinks (``UseDynamicNumberOfCompilerThreads``), so the per-thread
sums miss every thread that exited between the snapshots.
``unattributed_s`` (the JVM's CPU less the thread sums) is that
missing part; ``compile_ms`` is the stable figure for JIT cost.

Usage: python tools/jvm_cpu.py --seed N [--subjects 100]
runs one ``cli.main`` upload of perfbench's ``hdd_upload`` study
(``perfbench/gen_study.py``, ``--subjects`` subjects) into an empty
warehouse, in a fresh session built as ``tm_etl`` builds it (the JIT
that ``cli.driver_jit`` picks for that input), and prints the upload's
wall time, the driver's JIT flag and the diff around the upload as
JSON.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "perfbench", f"{name}.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


_bench = _load("run")


def snapshot(spark) -> dict:
    """JIT compile time, code-cache use, process CPU and per-thread CPU
    of the driver JVM now. ``threads`` maps each live thread id to
    ``(group, cpu_s)``."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pid = jvm.ProcessHandle.current().pid()
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                ns = int(fh.read().split()[0])
        except (FileNotFoundError, ProcessLookupError):  # exited meanwhile
            continue
        threads[tid] = (re.sub(r"\d+$", "", name), ns / 1e9)
    cpu_s = _bench._cpu_s(pid)
    me = os.times()
    return {
        "compile_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "code_cache_mb": sum(
            p.getUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
            if p.getName().startswith(("CodeCache", "CodeHeap"))
        ) / 1024**2,
        "cpu_s": cpu_s,
        "python_cpu_s": me.user + me.system,
        "threads": threads,
    }


def diff(a: dict, b: dict) -> dict:
    """What was spent from snapshot ``a`` to snapshot ``b``: compile
    time, CPU (``cpu_s``: JVM plus Python, as perfbench counts it), and
    CPU per thread group (largest first) of the JVM threads alive at
    ``b``; ``code_cache_mb`` is the use at ``b``."""
    groups: dict[str, float] = {}
    for tid, (group, cpu) in b["threads"].items():
        spent = cpu - a["threads"].get(tid, (group, 0.0))[1]
        groups[group] = groups.get(group, 0.0) + spent
    python_s = b["python_cpu_s"] - a["python_cpu_s"]
    jvm_s = b["cpu_s"] - a["cpu_s"] - python_s
    return {
        "compile_ms": b["compile_ms"] - a["compile_ms"],
        "code_cache_mb": round(b["code_cache_mb"], 1),
        "cpu_s": round(b["cpu_s"] - a["cpu_s"], 2),
        "jvm_cpu_s": round(jvm_s, 2),
        "python_cpu_s": round(python_s, 2),
        "unattributed_s": round(jvm_s - sum(groups.values()), 2),
        "threads": {
            g: round(s, 2)
            for g, s in sorted(groups.items(), key=lambda kv: -kv[1])
            if s > 0
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--subjects", type=int, default=_bench.STUDY["n_subjects"])
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    gen_study = _load("gen_study")
    from tmdataloader_spark import cli
    from tmdataloader_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="jvm_cpu-") as tmp:
        study = gen_study.write_study(
            tmp, args.seed, **{**_bench.STUDY, "n_subjects": args.subjects}
        )
        wh = os.path.join(tmp, "wh")
        spark = get_spark("tm_etl", extra_conf=cli.driver_jit(study["data_dir"], wh))
        spark.range(1).count()
        jvm_args = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()
        )
        jit = [a for a in jvm_args if a.startswith("-XX:TieredStopAtLevel=")]
        before, t0 = snapshot(spark), time.perf_counter()
        rc = cli.main([study["data_dir"], "--warehouse", wh])
        wall_s = round(time.perf_counter() - t0, 2)
        out = {"seed": args.seed, "subjects": args.subjects,
               "input_bytes": study["input_bytes"], "jit": jit[-1] if jit else None, "rc": rc,
               "wall_s": wall_s, **diff(before, snapshot(spark))}
        spark.stop()
    print(json.dumps(out))
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
