"""End-to-end benchmark of tmdataloader_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One client runs one operation at a
time and waits for it (a closed loop) on ``local[nproc]``:

- ``gate_queries``: the GATE_QUERIES entries of ``__spark_entry__.queries()``
  over tables generated from the seed.  One warm-up pass collects every
  result; timed passes then run each query to its full result through
  the noop sink, until ``--seconds`` have passed.  After the timed part
  each collected result is compared with its DuckDB ``oracle_sql()`` twin.
- ``hdd_upload``: one ``tm_etl`` upload (``cli.main``) of a generated
  study (clinical data plus an expression matrix) into an empty parquet
  warehouse, in a fresh session, as a command-line user runs it.  The
  warehouse is then read back with pyarrow and checked against the
  generator's expected row counts.

The last stdout line is the result JSON; the line before it is the run
record (host, settings, workload facts).  With ``--trace 1`` library
calls are wrapped in spans (perfbench/spans.py), the Spark event log is
on, and the per-layer metrics are reported instead of the end-to-end
ones; the span table is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import inspect
import json
import os
import platform
import re
import resource
import shutil
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
TABLES_SF = 0.01
STUDY = {"n_subjects": 100, "n_probes": 2000, "n_visits": 2,
         "n_numeric": 3, "n_categorical": 3, "blank_frac": 0.05}

#: A fixed subset of the 147 gate queries: the library packages of the
#: read-only analytic path plus one DataFrame-API-only query.  All 147
#: take over 100 s cold on a 4-core host, too long for one run.
GATE_QUERIES = [
    "simhash_pairs", "fuzzy_dedup",  # llmdata
    "basket_rules", "zscore",  # operators
    "summary_stats",  # statistic
    "cleansing", "timepoints",  # functions
    "pricing_summary",  # DataFrame API only
]

UPLOAD_TABLES = [
    "observation_fact", "patient_dimension", "i2b2", "concept_dimension",
    "concept_counts", "deapp/de_subject_sample_mapping",
    "deapp/de_subject_expression_data",
]
PACKAGES = ("llmdata", "operators", "statistic", "functions", "entry")

PER_LAYER = (
    ["session.start_s", "study.load_study_s", "study.load_study_jobs",
     "ops.conflicts_s", "ops.drop_study_s", "ops.jobs", "trials.s", "merge.s",
     "merge.jobs", "security.s", "read.s", "cli.self_s", "write.s", "write.jobs",
     "write.bytes", "write.files"]
    + [f"write.{t.split('/')[-1]}_{k}" for t in UPLOAD_TABLES for k in ("s", "bytes")]
    + ["load.rows_per_s", "load.write_amp", "load.space_amp",
       "gate.build_s", "gate.plan_s", "gate.exec_s"]
    + [f"gate.pkg.{p}_s" for p in PACKAGES]
    + [f"spark.{k}" for k in (
        "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
        "output_bytes", "python_bytes", "job_wall_s", "driver_only_s",
        "plan_chars_max", "codegen_fallbacks")]
    + ["trace.work_s", "trace.overhead_s", "trace.span_gap_s"]
)


def _unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("_amp"):
        return "B/B"
    return "count"


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM plus this Python process."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    me = os.times()
    return jvm + me.user + me.system


def _host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "events")
        for d in (self.tmp, self.events, os.path.join(self.work, "local")):
            os.makedirs(d)
        # every temp file of Python, the JVM and Spark stays in the checkout
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # for the launcher JVM and the driver JVM alike; no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        # both sides of a comparison build the same session
        host = _host_facts()
        os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.jvm_log = os.path.join(self.work, "jvm.log")
        self.record = {"host": host, "workload": args.workload,
                       "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
        self.tracer = None

    # -------------------------------------------------------------- session
    def start_session(self):
        conf = {}
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        from tmdataloader_spark.session import get_spark

        # the JVM inherits stderr: send its log to a file, keep ours
        saved = os.dup(2)
        log_fd = os.open(self.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        os.dup2(log_fd, 2)
        try:
            spark = get_spark("perfbench", extra_conf=conf)
        finally:
            os.dup2(saved, 2)
            os.close(saved)
            os.close(log_fd)
        spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        import duckdb
        import pyspark

        self.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        self.record["settings"] = {
            "driver_mem": DRIVER_MEM,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        }
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(spark)
        return spark

    def codegen_fallbacks(self, offset: int) -> int:
        with open(self.jvm_log, errors="replace") as fh:
            fh.seek(offset)
            return fh.read().count("Failed to compile the generated Java code")

    def log_offset(self) -> int:
        return os.path.getsize(self.jvm_log)

    # ---------------------------------------------------------- gate_queries
    def gate_queries(self) -> dict:
        import gen_tables

        tables = os.path.join(self.work, "tables")
        t0 = time.perf_counter()
        in_bytes = gen_tables.write_tables(tables, self.args.seed, TABLES_SF)
        self.record["input"] = {"sf": TABLES_SF, "bytes": in_bytes,
                                "gen_s": time.perf_counter() - t0,
                                "queries": GATE_QUERIES}
        self.record["timed_action"] = (
            "per query, first run in the session: fn(spark, tables) then "
            'df.write.format("noop").mode("overwrite").save(), clearCache() between'
        )
        spark = self.start_session()
        setup_s = time.perf_counter() - T_START - self.record["input"]["gen_s"]
        import __spark_entry__ as entry

        queries = entry.queries()
        tr = self.tracer
        errors: dict[str, str] = {}
        times: dict[str, tuple[float, float]] = {}
        log_off = self.log_offset()
        w0, cpu0 = time.time(), _cpu_s(self.jvm_pid)
        for name in GATE_QUERIES:
            spark.catalog.clearCache()
            try:
                t0 = time.perf_counter()
                with _maybe(tr, "gate.build", query=name):
                    df = queries[name](spark, tables)
                t1 = time.perf_counter()
                with _maybe(tr, "gate.save", query=name):
                    df.write.format("noop").mode("overwrite").save()
                times[name] = (t1 - t0, time.perf_counter() - t1)
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                errors[name] = repr(e)[:500]
        w1, cpu = time.time(), _cpu_s(self.jvm_pid) - cpu0
        peak = _peak_rss_mb(self.jvm_pid)

        errors.update(self.check_gate(spark, tables, times))
        _stop(spark)

        self.record["query_s"] = {n: round(b + s, 4) for n, (b, s) in times.items()}
        out = {
            "attempted": len(GATE_QUERIES),
            "failed": len(errors),
            "errors": errors,
            "metrics": {
                "setup_s": _metric(setup_s, "s"),
                "work_s": _metric(sum(b + s for b, s in times.values()), "s"),
                "cpu_s": _metric(cpu, "s"),
                "peak_rss_mb": _metric(peak, "MB"),
            },
        }
        if tr is not None:
            out["layers"] = self.gate_layers(times, queries, w0, w1, log_off)
        return out

    def check_gate(self, spark, tables: str, names) -> dict:
        """Outside the timed part: run each query again and compare its
        full result with its DuckDB ``oracle_sql()`` twin (columns, types,
        row count, values in any order)."""
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_correctness import check_query, oracle_connection

        con = oracle_connection(tables)
        wrong = {}
        for name in names:
            spark.catalog.clearCache()
            try:
                err = check_query(spark, con, name, tables)
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                err = repr(e)
            if err:
                wrong[name] = f"check: {err}"[:500]
        con.close()
        return wrong

    def gate_layers(self, times, queries, w0, w1, log_off) -> dict:
        from spans import engine_metrics, read_event_log

        log = read_event_log(self.events)
        layers = engine_metrics(log, w0, w1)
        layers["spark.codegen_fallbacks"] = self.codegen_fallbacks(log_off)
        starts = sorted(j["start"] for j in log["jobs"].values())
        plan = 0.0
        for s in self.tracer.spans:
            if s["name"] == "gate.save":
                # planning ends when the first job of the write starts
                first = next((t for t in starts if s["start"] <= t <= s["end"]), s["end"])
                plan += first - s["start"]
        save = sum(s for _, s in times.values())
        layers.update({
            "gate.build_s": sum(b for b, _ in times.values()),
            "gate.plan_s": plan,
            "gate.exec_s": save - plan,
            "session.start_s": self.session_s,
            "trace.work_s": sum(b + s for b, s in times.values()),
            "trace.overhead_s": self.tracer.overhead_s,
        })
        for p in PACKAGES:
            layers[f"gate.pkg.{p}_s"] = sum(
                b + s for n, (b, s) in times.items() if query_package(queries[n]) == p
            )
        self.write_trace({"spans": self.tracer.spans, "layers": layers})
        return layers

    # ------------------------------------------------------------ hdd_upload
    def hdd_upload(self) -> dict:
        import gen_study

        t0 = time.perf_counter()
        study = gen_study.write_study(
            os.path.join(self.work, "input"), self.args.seed, **STUDY
        )
        self.record["input"] = {**STUDY, "bytes": study["input_bytes"],
                                "gen_s": time.perf_counter() - t0}
        self.record["timed_action"] = (
            "one cli.main([data_dir, '--warehouse', wh]) upload into an empty "
            "warehouse, first upload of the session"
        )
        spark = self.start_session()
        setup_s = time.perf_counter() - T_START - self.record["input"]["gen_s"]
        from tmdataloader_spark import cli

        wh = os.path.join(self.work, "warehouse")
        argv = [study["data_dir"], "--warehouse", wh]
        if self.tracer is not None:
            self.install_upload_spans(cli)
        log_off = self.log_offset()
        w0, cpu0 = time.time(), _cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with _maybe(self.tracer, "cli.main"):
                rc = cli.main(argv)
        except Exception as e:  # noqa: BLE001 - counted as a failed upload
            rc = repr(e)
        load_s = time.perf_counter() - t0
        w1, cpu = time.time(), _cpu_s(self.jvm_pid) - cpu0
        peak = _peak_rss_mb(self.jvm_pid)
        _stop(spark)

        errors = {}
        if rc != 0:
            errors["upload"] = f"cli.main returned {rc}"
        else:
            errors.update(check_warehouse(wh, study))
        rows = sum(study["rows"].values())
        wh_bytes, _ = _dir_bytes(wh)
        self.record["output"] = {
            "rows": rows, "warehouse_bytes": wh_bytes,
            "rows_per_s": rows / load_s,
            "space_amp": wh_bytes / study["input_bytes"],
        }
        out = {
            "attempted": 1, "failed": 1 if errors else 0, "errors": errors,
            "metrics": {
                "setup_s": _metric(setup_s, "s"),
                "work_s": _metric(load_s, "s"),
                "cpu_s": _metric(cpu, "s"),
                "peak_rss_mb": _metric(peak, "MB"),
            },
        }
        if self.tracer is not None:
            out["layers"] = self.upload_layers(w0, w1, log_off, load_s, study, wh_bytes)
        return out

    def install_upload_spans(self, cli) -> None:
        from pyspark.sql.readwriter import DataFrameWriter
        from tmdataloader_spark.operators import tree
        from tmdataloader_spark.plans import study

        wrap = self.tracer.wrap
        wrap(study, "load_study", "study.load_study")
        wrap(cli, "read_warehouse", "read")
        wrap(cli, "check_study_conflicts", "ops.conflicts")
        wrap(cli, "delete_all_data", "ops.drop_study")
        wrap(cli, "_study_trials", "trials")
        wrap(cli, "merge_study_into_warehouse", "merge")
        wrap(tree, "register_secure_study", "security")
        wrap(cli, "write_warehouse", "write")

        def table_of(_writer, path, *a, **k) -> str:
            return "write." + os.path.basename(path).split(".")[0]

        def sized(span, args, kwargs) -> None:
            span["bytes"], span["files"] = _dir_bytes(args[1])

        wrap(DataFrameWriter, "parquet", table_of, after=sized)

    def upload_layers(self, w0, w1, log_off, load_s, study, wh_bytes) -> dict:
        from spans import engine_metrics, read_event_log, span_table

        log = read_event_log(self.events)
        spans = span_table(self.tracer.spans, log)
        layers = engine_metrics(log, w0, w1)
        layers["spark.codegen_fallbacks"] = self.codegen_fallbacks(log_off)

        def total(prefix: str, key: str) -> float:
            return sum(s[key] for s in spans if s["name"] == prefix)

        writes = [s for s in spans if s["name"].startswith("write.")]
        layers.update({
            "session.start_s": self.session_s,
            "study.load_study_s": total("study.load_study", "self_s"),
            "study.load_study_jobs": total("study.load_study", "jobs"),
            "ops.conflicts_s": total("ops.conflicts", "self_s"),
            "ops.drop_study_s": total("ops.drop_study", "self_s"),
            "ops.jobs": total("ops.conflicts", "jobs") + total("ops.drop_study", "jobs"),
            "trials.s": total("trials", "self_s"),
            "merge.s": total("merge", "self_s"),
            "merge.jobs": total("merge", "jobs"),
            "security.s": total("security", "self_s"),
            "read.s": total("read", "self_s"),
            "cli.self_s": total("cli.main", "self_s"),
            "write.s": total("write", "s"),
            "write.jobs": total("write", "jobs") + sum(s["jobs"] for s in writes),
            "write.bytes": sum(s["bytes"] for s in writes),
            "write.files": sum(s["files"] for s in writes),
            "load.rows_per_s": sum(study["rows"].values()) / load_s,
            "load.write_amp": sum(s["bytes"] for s in writes) / study["input_bytes"],
            "load.space_amp": wh_bytes / study["input_bytes"],
            "trace.work_s": load_s,
            "trace.overhead_s": self.tracer.overhead_s,
            "trace.span_gap_s": load_s - sum(s["self_s"] for s in spans),
        })
        for t in UPLOAD_TABLES:
            t = t.split("/")[-1]
            layers[f"write.{t}_s"] = total(f"write.{t}", "s")
            layers[f"write.{t}_bytes"] = total(f"write.{t}", "bytes")
        self.write_trace({"spans": spans, "layers": layers})
        return layers

    def write_trace(self, doc: dict) -> None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{self.args.workload}-{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)
        self.record["trace_file"] = os.path.relpath(path, ROOT)


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _maybe(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else contextlib.nullcontext()


def query_package(fn) -> str:
    """The library package a gate query calls first ("entry" when it
    uses only the DataFrame API)."""
    m = re.search(r"tmdataloader_spark\.(\w+)", inspect.getsource(fn))
    return m.group(1) if m and m.group(1) in PACKAGES else "entry"


def check_warehouse(wh: str, study: dict) -> dict:
    """Read the warehouse back with pyarrow: the study's rows in each
    table match the generator's counts and every zscore lies in
    [-2.5, 2.5]."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sid, top = study["study_id"], study["top_node"]
    errors = {}
    for name, want in study["rows"].items():
        path = os.path.join(wh, f"{name}.parquet")
        if not os.path.isdir(path):
            errors[name] = "table missing"
            continue
        t = pq.read_table(path)
        if name == "patient_dimension":
            mask = pc.starts_with(t["sourcesystem_cd"], sid + ":")
        elif name == "observation_fact":
            mask = pc.equal(t["sourcesystem_cd"], sid)
        elif name.startswith("deapp/"):
            mask = pc.equal(t["trial_name"], sid)
        else:
            col = "c_fullname" if "c_fullname" in t.column_names else "concept_path"
            mask = pc.starts_with(t[col], top)
        got = pc.sum(pc.cast(mask, "int64")).as_py() or 0
        if got != want:
            errors[name] = f"{got} rows, expected {want}"
        if name.endswith("de_subject_expression_data"):
            z = pc.min_max(t["zscore"]).as_py()
            if t.num_rows and (z["min"] < -2.5 or z["max"] > 2.5):
                errors[name + ".zscore"] = f"zscore range {z}"
    return errors


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["gate_queries", "hdd_upload"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tmdataloader_spark", "__init__.py")):
        print(f"no tmdataloader_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)

    bench = Bench(args)
    out = None
    try:
        out = getattr(bench, args.workload)()
    finally:
        if (out is None or out["errors"]) and os.path.exists(bench.jvm_log):
            with open(bench.jvm_log, errors="replace") as fh:
                sys.stderr.writelines(fh.readlines()[-40:])
        shutil.rmtree(bench.work, ignore_errors=True)
        if not os.listdir(os.path.dirname(bench.work)):
            os.rmdir(os.path.dirname(bench.work))
    for name, err in out["errors"].items():
        print(f"FAIL {name}: {err}", file=sys.stderr)
    if args.trace:
        metrics = {k: _metric(out["layers"].get(k, 0.0), _unit(k)) for k in PER_LAYER}
    else:
        metrics = out["metrics"]
    print(json.dumps(bench.record, default=str))
    print(json.dumps({
        "correct": not out["errors"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
