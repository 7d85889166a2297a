"""Job-count guard on the upload path: one ``cli.main`` upload of a small
generated study (``perfbench/gen_study.py``) lands the rows the
generator expects and launches a bounded number of Spark jobs.

Each intermediate of the upload is computed once (``plans/clinical.py``
Scale notes; PERF_NOTES.md "Upload path"). A frame that two actions
read and that is not materialized is rebuilt by each of them, which
shows here as extra jobs long before it shows as wall time."""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
from conftest import load_gen_study

from tmdataloader_spark import cli

#: Spark jobs of one upload of the study below: measured 60, a few jobs
#: of headroom added. It measured 99 before the clinical node table and
#: facts were materialized, the TSV headers read on the driver and the
#: HDD mapping guards folded into one aggregate.
MAX_UPLOAD_JOBS = 64


def _study_rows(wh: str, study: dict) -> dict:
    """Rows of the study in each table the generator counts."""
    sid, top = study["study_id"], study["top_node"]
    got = {}
    for name in study["rows"]:
        t = pq.read_table(os.path.join(wh, f"{name}.parquet"))
        if name == "patient_dimension":
            mask = pc.starts_with(t["sourcesystem_cd"], sid + ":")
        elif name == "observation_fact":
            mask = pc.equal(t["sourcesystem_cd"], sid)
        elif name.startswith("deapp/"):
            mask = pc.equal(t["trial_name"], sid)
        else:
            col = "c_fullname" if "c_fullname" in t.column_names else "concept_path"
            mask = pc.starts_with(t[col], top)
        got[name] = pc.sum(pc.cast(mask, "int64")).as_py() or 0
    return got


def test_upload_rows_and_job_count(spark, tmp_path):
    study = load_gen_study().write_study(
        str(tmp_path / "input"), seed=1, n_subjects=10, n_probes=50
    )
    wh = str(tmp_path / "warehouse")
    sc = spark.sparkContext
    group = "upload_job_guard"
    sc.setJobGroup(group, "one cli.main upload")
    try:
        rc = cli.main([study["data_dir"], "--warehouse", wh])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rc == 0
    assert _study_rows(wh, study) == study["rows"]
    assert jobs <= MAX_UPLOAD_JOBS, f"{jobs} Spark jobs for one upload"
