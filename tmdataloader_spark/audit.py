"""Job audit log (SURVEY.md §1.1 'Audit log', §2.6 W4).

Reference: sql/postgres/procedures/AUDIT_FUNCTIONS.sql —
``cz_start_audit`` (:5) creates a cz_job_master row, ``cz_write_audit``
(:58) appends a cz_job_audit step with a monotonically increasing
step number, ``cz_end_audit`` (:101) closes the job with
SUCCESS/FAIL, ``cz_error_handler`` (:162) records a cz_job_error row;
polled by etl/AuditableJobRunner.groovy:33-78.

Spark shape: steps are recorded driver-side (they describe
orchestration, not data) and materialize to DataFrames on demand —
the replay-ordering query is ``orderBy('seq_id')`` (W4)."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from tmdataloader_spark.session import local_frame


@dataclass
class JobStep:
    job_id: int
    seq_id: int
    procedure: str
    step_desc: str
    records: int
    status: str  # Done | ERROR


@dataclass
class Job:
    job_id: int
    procedure: str
    status: str = "RUNNING"  # RUNNING | SUCCESS | FAIL
    start_ts: float = 0.0
    end_ts: float | None = None


@dataclass
class AuditLog:
    """cz_job_master + cz_job_audit + cz_job_error as driver-side rows."""

    jobs: list = field(default_factory=list)
    steps: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    _next_job: int = 1

    def start_job(self, procedure: str) -> int:
        job_id = self._next_job
        self._next_job += 1
        self.jobs.append(Job(job_id, procedure, start_ts=time.time()))
        return job_id

    def step(self, job_id: int, desc: str, records: int = 0, status: str = "Done") -> None:
        seq = sum(1 for s in self.steps if s.job_id == job_id) + 1
        proc = next(j.procedure for j in self.jobs if j.job_id == job_id)
        self.steps.append(JobStep(job_id, seq, proc, desc, records, status))

    def error(self, job_id: int, message: str) -> None:
        self.errors.append((job_id, message))
        self.step(job_id, message, 0, "ERROR")

    def end_job(self, job_id: int, status: str = "SUCCESS") -> None:
        for j in self.jobs:
            if j.job_id == job_id:
                j.status = status
                j.end_ts = time.time()

    def job_master(self, spark: SparkSession) -> DataFrame:
        return local_frame(
            spark,
            [(j.job_id, j.procedure, j.status) for j in self.jobs],
            "job_id int, procedure string, status string",
        )

    def job_audit(self, spark: SparkSession) -> DataFrame:
        return local_frame(
            spark,
            [
                (s.job_id, s.seq_id, s.procedure, s.step_desc, s.records, s.status)
                for s in self.steps
            ],
            "job_id int, seq_id int, procedure string, step_desc string, "
            "records int, status string",
        )

    def job_errors(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, self.errors, "job_id int, message string")
