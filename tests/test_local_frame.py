"""``session.local_frame`` builds the loader's driver-side frames as a
JVM ``LocalRelation``: same schema and rows as
``spark.createDataFrame(rows, ddl)``, but no Python-RDD scan (and so no
``pyspark.daemon`` worker) when an action runs over the frame."""

import ast
import pathlib

import pytest
from pyspark.sql import types as T

from tmdataloader_spark.cli import CORE_SCHEMAS, read_warehouse
from tmdataloader_spark.operators.tree import register_secure_study
from tmdataloader_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "tmdataloader_spark"

#: the loader's modules: every driver-side frame in them goes through
#: ``local_frame`` (llmdata/, statistic/ and the other operators are
#: gate-query code and keep their own frame builders)
LOADER_MODULES = sorted(
    [*PKG.glob("*.py"), *(PKG / "plans").glob("*.py"), *(PKG / "sources").glob("*.py")]
    + [PKG / "operators" / "tree.py"]
)


def _calls(tree: ast.AST, name: str):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (isinstance(f, ast.Name) and f.id == name) or (
                isinstance(f, ast.Attribute) and f.attr == name
            ):
                yield node


def _ddl(node: ast.expr, tree: ast.AST) -> str | None:
    """The DDL string a ``local_frame`` call passes: a literal, a name
    bound to a literal, or an f-string (its fields read as ``v``)."""
    if isinstance(node, ast.Constant):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "v" for v in node.values
        )
    if isinstance(node, ast.Name):
        for a in ast.walk(tree):
            if (
                isinstance(a, ast.Assign)
                and [getattr(t, "id", None) for t in a.targets] == [node.id]
                and isinstance(a.value, ast.Constant)
            ):
                return a.value.value
    return None


def _loader_ddls() -> list[str]:
    out = set(CORE_SCHEMAS.values())
    for path in LOADER_MODULES:
        tree = ast.parse(path.read_text())
        for call in _calls(tree, "local_frame"):
            ddl = _ddl(call.args[2], tree)
            if ddl is None:  # read_warehouse's CORE_SCHEMAS[name]
                assert ast.unparse(call.args[2]) == "CORE_SCHEMAS[name]", (
                    f"{path.name}:{call.lineno}"
                )
            else:
                out.add(ddl)
    return sorted(out)


_SAMPLE = {
    T.StringType: "x",
    T.IntegerType: 7,
    T.LongType: 2**40,
    T.DoubleType: 1.5,
    T.BooleanType: True,
    T.BinaryType: b"\x00\x01",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_loader_ddls_cover_control_schemas():
    ddls = _loader_ddls()
    for anchor in (
        "search_secure_object_id long",  # security registry
        "auth_sec_obj_access_id long",  # copied ACL rows
        "c_fullname string, c_hlevel int, c_name string",  # tree nodes
        "job_id int, seq_id int",  # audit steps
        "job_id int, message string",  # audit errors
    ):
        assert any(d.startswith(anchor) for d in ddls), anchor


@pytest.mark.parametrize("ddl", _loader_ddls())
def test_local_frame_matches_create_dataframe(spark, ddl):
    schema = T.StructType.fromDDL(ddl)
    full = tuple(_SAMPLE[type(f.dataType)] for f in schema.fields)
    for rows in ([full, (None,) * len(full)], []):
        got = local_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = _plan(got)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_empty_warehouse_and_security_frames_are_local(spark, tmp_path):
    wh = read_warehouse(spark, str(tmp_path))
    for name in CORE_SCHEMAS:
        plan = _plan(getattr(wh, name))
        assert plan.startswith("LocalTableScan"), (name, plan)
    for df in register_secure_study(None, None, wh.i2b2, "T1"):
        assert _plan(df).startswith("LocalTableScan"), _plan(df)


def test_loader_modules_build_no_python_rdd_frames():
    """Guard: a ``createDataFrame`` call in a loader module would bring
    back the Python-RDD scan; the only one allowed is inside
    ``session.local_frame``."""
    offenders = []
    for path in LOADER_MODULES:
        tree = ast.parse(path.read_text())
        allowed = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "local_frame"
            for n in ast.walk(f)
        }
        offenders += [
            f"{path.relative_to(PKG)}:{c.lineno}"
            for c in _calls(tree, "createDataFrame")
            if id(c) not in allowed
        ]
    assert not offenders, offenders
