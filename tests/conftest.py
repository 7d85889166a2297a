import os

import pytest

from tmdataloader_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
FIXTURES = "/root/reference/fixtures"


@pytest.fixture(scope="session")
def spark():
    # Spark renders a plan description for the (disabled) UI on every
    # action and adaptive re-plan; the "simple" form skips the
    # per-operator detail section, which dominates on the large
    # clinical load and merge plans.  Results are unaffected.
    s = get_spark(
        "tmdataloader-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.ui.explainMode": "simple"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


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


