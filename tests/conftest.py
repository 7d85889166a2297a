import glob
import hashlib
import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from tmdataloader_spark.session import FULL_JIT, get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

#: tMDataLoader's own fixture tree (FIXTURES.md). It is not part of this
#: repository; a test whose assertions are literals of that data skips
#: where the tree is absent.
REFERENCE_FIXTURES = "/root/reference/fixtures"
REFERENCE_GSE0 = os.path.join(REFERENCE_FIXTURES, "Test Studies", "Test Study_GSE0")
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_FIXTURES), reason=f"{REFERENCE_FIXTURES} not found"
)


def load_gen_study():
    """``perfbench/gen_study.py``, imported by path (``perfbench`` is no
    package)."""
    spec = importlib.util.spec_from_file_location(
        "gen_study", os.path.join(ROOT, "perfbench", "gen_study.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_lines(path, lines):
    """Write ``lines`` as a text file, one a line."""
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(path)


def sorted_rows(df, *cols):
    """A frame's rows (``cols`` only, if given) as sorted tuples."""
    return sorted((tuple(r) for r in df.select(*(cols or df.columns)).collect()), key=repr)


def basecode(path):
    """The concept code of an ontology path: its sha256 hex, 16 chars."""
    return hashlib.sha256(path.encode()).hexdigest()[:16]


def sample_row(spark, trial, subject, sample, gpl, marker, category, path, *,
               tissue=None, attr1=None, attr2=None, source="STD"):
    """The de_subject_sample_mapping row of one sample without a site, in
    ``build_sample_mapping``'s column order: ``patient_id`` is Spark's
    xxhash64 of ``trial:subject`` and ``assay_id`` that of
    ``trial:sample:gpl:source``."""
    usub = f"{trial}:{subject}"
    patient_id, assay_id = spark.range(1).select(
        F.xxhash64(F.lit(usub)), F.xxhash64(F.lit(f"{trial}:{sample}:{gpl}:{source}"))
    ).first()
    return (
        trial, usub, patient_id, assay_id, sample, marker, gpl, tissue, attr1, attr2,
        attr1, attr2, category, path, basecode(path), source,
    )


def node_rows(*leaves):
    """The ``(c_fullname, c_visualattributes, c_basecode)`` rows of the
    ontology over these leaf paths: each leaf LAH, every ancestor FA."""
    kinds = {}
    for leaf in leaves:
        parts = leaf.strip("\\").split("\\")
        for i in range(1, len(parts)):
            kinds.setdefault("\\" + "\\".join(parts[:i]) + "\\", "FA")
    kinds.update(dict.fromkeys(leaves, "LAH"))
    return sorted((p, kind, basecode(p)) for p, kind in kinds.items())


@pytest.fixture(scope="session")
def spark():
    # Spark renders a plan description for the (disabled) UI on every
    # action and adaptive re-plan; the "simple" form skips the
    # per-operator detail section, which dominates on the large
    # clinical load and merge plans.  Results are unaffected.
    # This one session lives for the whole suite, long enough for C2's
    # code to pay back its compile time, so it keeps the full tiered JIT
    # instead of the C1-only one-shot default.
    s = get_spark(
        "tmdataloader-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.ui.explainMode": "simple",
            "spark.driver.defaultJavaOptions": FULL_JIT,
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def gse0_study(tmp_path_factory):
    """A ``Test Study_GSE0`` directory: the reference's own where it is
    present, else one written by ``gen_study`` with the same study id
    and display name (clinical plus expression data, FIXTURES.md
    sections 1-5). Tests that take it assert only what holds for any
    study of that shape."""
    if os.path.isdir(REFERENCE_GSE0):
        return REFERENCE_GSE0
    study = load_gen_study().write_study(
        str(tmp_path_factory.mktemp("gse0")), seed=1, n_subjects=10, n_probes=50,
        study_id="GSE0", name="Test Study",
    )
    return os.path.join(study["data_dir"], "Test Study_GSE0")


@pytest.fixture(scope="session")
def gse0_mapping(gse0_study):
    """The clinical mapping file of ``gse0_study``."""
    (path,) = glob.glob(
        os.path.join(glob.escape(gse0_study), "ClinicalDataToUpload", "*_Mapping_File.txt")
    )
    return path


@pytest.fixture(autouse=True)
def _drop_cached_frames():
    """Uncache every DataFrame when a test ends.  A cached frame keeps
    its whole logical and physical plan alive in the driver, and the
    clinical load and merge plans are large enough that one test
    file's worth of them fills the driver heap."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


# ---- scratch PostgreSQL (shared by the COPY-sink and SQL-script-runner
# tests): initdb + pg_ctl on a private unix socket, server demoted to
# nobody when running as root (postgres refuses root), torn down and
# deleted at session end.  Skips consumers when binaries are missing. ----
import shutil
import subprocess


def _as_pg_user(cmd: list[str]) -> list[str]:
    """postgres refuses to run as root — when we ARE root (this
    container), demote the SERVER processes to nobody via setpriv;
    the psql CLIENT stays root and connects over the unix socket."""
    if os.geteuid() != 0:
        return cmd
    return ["setpriv", "--reuid=nobody", "--regid=nogroup", "--clear-groups"] + cmd


@pytest.fixture(scope="session")
def pg_dsn(tmp_path_factory):
    if os.geteuid() == 0 and shutil.which("setpriv") is None:
        pytest.skip("root without setpriv — cannot demote postgres")
    import pathlib
    import tempfile

    # NOT tmp_path_factory: pytest's base temp is 0700-root, which the
    # demoted server user cannot traverse — use a world-readable tmpdir
    base = pathlib.Path(tempfile.mkdtemp(prefix="pgsink_"))
    data = base / "data"
    sock = base / "sock"
    sock.mkdir()
    if os.geteuid() == 0:
        for p in (base, sock):
            shutil.chown(p, "nobody", "nogroup")
        os.chmod(base, 0o755)
        os.chmod(sock, 0o777)
    subprocess.run(
        _as_pg_user(["initdb", "-D", str(data), "-A", "trust", "-U", "loader"]),
        check=True,
        capture_output=True,
    )
    subprocess.run(
        _as_pg_user(
            [
                "pg_ctl", "-D", str(data), "-w", "-o",
                f"-k {sock} -h '' -c fsync=off", "-l", str(base / "pg.log"),
                "start",
            ]
        ),
        check=True,
        capture_output=True,
    )
    dsn = f"host={sock} user=loader dbname=postgres"
    try:
        yield dsn
    finally:
        subprocess.run(
            _as_pg_user(["pg_ctl", "-D", str(data), "-m", "immediate", "stop"]),
            capture_output=True,
        )
        shutil.rmtree(base, ignore_errors=True)


