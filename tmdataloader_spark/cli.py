r"""Command-line surface mirroring the reference's ``tm_etl`` tool
(etl/CommandLineTool.groovy:28-268): upload study directories into a
parquet warehouse, or run the move/delete/security operations against
it — so a user of the reference can run the same jobs with the same
flags against this engine.

    python -m tmdataloader_spark [options] [<data_dir>]

The warehouse is a directory of parquet tables (the Spark-native
replacement for the reference's Postgres/Oracle schema): core i2b2
frames at the root, per-omics matrices under ``deapp/``. Uploading a
study REPLACES that study's rows (delete-by-study + append — the same
partition-overwrite semantics as plans/hdd.write_partitioned).

A missing core table opens as an empty in-JVM frame
(``session.local_frame``), which Catalyst drops from the study's union.
So on a first upload into an empty warehouse a parquet column takes the
study frame's nullability and can be written ``not null`` (e.g.
``observation_fact.patient_num``, ``i2b2.c_hlevel``,
``concept_counts.patient_count``).  Spark reads parquet columns as
nullable and a re-upload unions with the stored table, so no Spark
reader or later upload sees a difference.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.plans.operations import (
    StudyWarehouse,
    check_study_conflicts,
    delete_all_data,
    move_study_by_path,
    normalize_path,
)
from tmdataloader_spark.session import FULL_JIT, local_frame

__version__ = "0.3.0"

#: core warehouse tables and their empty-frame schemas (matching what
#: the loaders emit; unionByName(allowMissingColumns) absorbs extras)
CORE_SCHEMAS = {
    "i2b2": (
        "c_fullname string, c_hlevel int, c_name string, c_basecode string, "
        "valtype_cd string, sourcesystem_cd string, c_visualattributes string"
    ),
    "concept_dimension": (
        "concept_path string, concept_cd string, name_char string, "
        "sourcesystem_cd string"
    ),
    "observation_fact": (
        "patient_num long, concept_cd string, modifier_cd string, "
        "valtype_cd string, tval_char string, nval_num double, "
        "sourcesystem_cd string, sample_cd string, concept_path string"
    ),
    "patient_dimension": (
        "patient_num long, sex_cd string, age_in_years_num int, "
        "race_cd string, sourcesystem_cd string"
    ),
    "concept_counts": "concept_path string, patient_count long",
}


def read_warehouse(spark: SparkSession, wh_dir: str) -> StudyWarehouse:
    """Open (or initialize empty) warehouse frames."""

    def table(name: str) -> DataFrame:
        p = os.path.join(wh_dir, f"{name}.parquet")
        if os.path.exists(p):
            return spark.read.parquet(p)
        return local_frame(spark, [], CORE_SCHEMAS[name])

    def table_dir(sub: str) -> dict[str, DataFrame]:
        d = os.path.join(wh_dir, sub)
        out: dict[str, DataFrame] = {}
        if os.path.isdir(d):
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    out[f[:-8]] = spark.read.parquet(os.path.join(d, f))
        return out

    return StudyWarehouse(
        i2b2=table("i2b2"),
        concept_dimension=table("concept_dimension"),
        observation_fact=table("observation_fact"),
        patient_dimension=table("patient_dimension"),
        concept_counts=table("concept_counts"),
        deapp=table_dir("deapp"),
        biomart=table_dir("biomart"),
        searchapp=table_dir("searchapp"),
    )


def write_warehouse(wh: StudyWarehouse, wh_dir: str) -> None:
    """Persist warehouse frames. Writes go to a staging name first,
    then swap — a reader never sees a half-written table."""
    import shutil

    for sub in ("deapp", "biomart", "searchapp"):
        os.makedirs(os.path.join(wh_dir, sub), exist_ok=True)
    items = [(n, getattr(wh, n)) for n in CORE_SCHEMAS] + [
        (os.path.join(sub, n), df)
        for sub in ("deapp", "biomart", "searchapp")
        for n, df in getattr(wh, sub).items()
    ]
    # Two-phase: stage EVERY table first, then swap.  A frame written
    # later in the loop may lazily read a table written earlier (a
    # re-upload's security registration scans the warehouse's own
    # i2b2.parquet) — swapping as we go would delete the part files
    # out from under that still-unexecuted plan.
    staged = []
    for name, df in items:
        if df is None:
            continue
        final = os.path.join(wh_dir, f"{name}.parquet")
        tmp = final + ".staging"
        df.write.mode("overwrite").parquet(tmp)
        staged.append((tmp, final))
    for tmp, final in staged:
        # swap (atomic enough for a local/posix warehouse; an object
        # store deployment would write to a versioned prefix instead)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)


def _drop_study(wh: StudyWarehouse, trial_id: str) -> StudyWarehouse:
    """Best-effort delete before re-insert (the upload upsert); unlike
    delete_all_data this must not raise when the study is absent.
    Only the study-absent signal (LoadValidationError) is swallowed —
    a genuine Spark failure must propagate into the job's failure
    path, not silently turn the replace-upload into a duplicate
    append."""
    try:
        return delete_all_data(wh, trial_id=trial_id)
    except LoadValidationError:
        return wh


def _union(base: DataFrame | None, add: DataFrame | None) -> DataFrame | None:
    if add is None:
        return base
    if base is None:
        return add
    return base.unionByName(add, allowMissingColumns=True)


def _study_trials(loaded) -> list[str]:
    """Distinct trial ids a StudyLoadResult landed, one per data type
    that wrote facts, in load order, with no Spark job. Only the
    clinical and HDD loaders write facts, and each result carries the
    id its loader resolved (``trial_id``, the sourcesystem_cd of every
    fact row): the clinical one is the study id ``load_clinical`` was
    given (the study directory's suffix, else the clinical data's
    STUDY_ID), the HDD one the mapping file's STUDY_ID, upper-cased."""
    seen: set[str] = set()
    out: list[str] = []
    for res in loaded.results.values():
        if getattr(res, "observation_fact", None) is None:
            continue
        trial = res.trial_id
        if trial and trial not in seen:
            seen.add(trial)
            out.append(trial)
    return out


def merge_study_into_warehouse(
    wh: StudyWarehouse, loaded, trials: list[str]
) -> StudyWarehouse:
    """Fold one StudyLoadResult's frames into the warehouse.
    ``trials`` is ``_study_trials(loaded)``, which the caller has
    already computed for its conflict checks."""
    from tmdataloader_spark.plans.study import _HDD_ROUTE, _SERIAL_HDD_ROUTE

    # Drop each trial at most once, BEFORE merging any data type: a
    # study usually ships several ptypes (Expression + Clinical is the
    # standard layout) and HDD results also carry observation_fact
    # rows tagged with the trial — dropping inside the per-ptype loop
    # would wipe the frames the previous ptype just merged, leaving
    # only the last data type loaded.
    for trial in trials:
        wh = _drop_study(wh, trial)
    for ptype, res in loaded.results.items():
        for attr, target in [
            ("observation_fact", "observation_fact"),
            ("patient_dimension", "patient_dimension"),
            ("i2b2", "i2b2"),
            ("concept_dimension", "concept_dimension"),
            ("concept_counts", "concept_counts"),
        ]:
            add = getattr(res, attr, None)
            if add is not None:
                setattr(wh, target, _union(getattr(wh, target), add))
        if ptype in _HDD_ROUTE or ptype in _SERIAL_HDD_ROUTE:
            omics = _HDD_ROUTE.get(ptype) or _SERIAL_HDD_ROUTE[ptype]
            wh.deapp[f"de_subject_{omics}_data"] = _union(
                wh.deapp.get(f"de_subject_{omics}_data"), res.data
            )
            wh.deapp["de_subject_sample_mapping"] = _union(
                wh.deapp.get("de_subject_sample_mapping"), res.sample_mapping
            )
        if ptype == "Meta":
            # I2B2_LOAD_STUDY_METADATA's biomart upserts — without
            # this a MetaData dir loads, audits SUCCESS, and persists
            # nothing.  Incoming wins per natural key (the
            # procedure's update-else-insert loops): experiments by
            # accession, dimension tables by their name column,
            # per-study link tables by accession (reload replaces the
            # study's links).
            for attr, tbl, keys in [
                ("bio_experiment", "bio_experiment", ["accession"]),
                ("bio_data_uid", "bio_data_uid", ["accession"]),
                ("compounds", "bio_compound", ["generic_name"]),
                ("data_compounds", "bio_data_compound", ["accession"]),
                ("diseases", "bio_disease", ["disease"]),
                ("data_diseases", "bio_data_disease", ["accession"]),
                ("taxonomies", "bio_taxonomy", ["taxon_name"]),
                ("data_taxonomies", "bio_data_taxonomy", ["accession"]),
                ("contents", "bio_content", ["etl_id"]),
                ("content_references", "bio_content_reference", ["accession"]),
            ]:
                add = getattr(res, attr, None)
                if add is None:
                    continue
                base = wh.biomart.get(tbl)
                if base is not None:
                    kept = base.join(
                        add.select(*keys).distinct(), on=keys, how="left_anti"
                    )
                    add = kept.unionByName(add, allowMissingColumns=True)
                wh.biomart[tbl] = add
    return wh


#: Local bytes a run reads (its data directory plus the warehouse) up to
#: which the driver keeps ``get_spark``'s C1-only JIT.  A larger run
#: lives long enough for C2's faster code to pay back its compile time
#: (PERF_NOTES.md, "Upload path").
ONE_SHOT_MAX_BYTES = 8 * 1024**2


def driver_jit(*paths: str | None) -> dict[str, str]:
    """``get_spark``'s ``extra_conf`` for a run over ``paths``: the full
    tiered JIT once their local files hold more than
    :data:`ONE_SHOT_MAX_BYTES`, else nothing (the C1-only default).  A
    path that is not local (``hdfs://``, ``s3a://``) counts as empty."""
    total = 0
    for path in filter(None, paths):
        for dirpath, _, names in os.walk(path):
            for n in names:
                try:
                    total += os.path.getsize(os.path.join(dirpath, n))
                except OSError:  # a dangling link
                    continue
            if total > ONE_SHOT_MAX_BYTES:
                return {"spark.driver.defaultJavaOptions": FULL_JIT}
    return {}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tm_etl",
        description="PySpark tMDataLoader-equivalent: upload studies / run operations",
    )
    p.add_argument("data_dir", nargs="?", help="studies directory to upload")
    p.add_argument("-c", "--config", help="configuration file (python dict literal)")
    p.add_argument("-v", "--version", action="store_true", help="print version and exit")
    p.add_argument("-i", "--interactive", action="store_true", help="(accepted; no-op)")
    p.add_argument("-n", "--no-rename", action="store_true", help="(accepted; manifest-based state machine never renames)")
    p.add_argument("-t", "--use-t", action="store_true", help="do not force Z datatype for T expression data")
    p.add_argument("-s", "--stop-on-fail", action="store_true", help="stop when an upload fails")
    p.add_argument("-m", "--move-study", metavar="OLD;NEW", help="move study: 'old_path;new_path'")
    p.add_argument("--keep-security", action="store_true", help="preserve target security on move-over")
    p.add_argument(
        "--copy-security-settings-from", metavar="STUDY_ID",
        help="after upload, copy STUDY_ID's ACL rows onto the loaded "
        "study (COPY_SECURITY_FROM_OTHER_STUDY; implies --secure-study)",
    )
    p.add_argument("--secure-study", action="store_true", help="make uploaded studies securable")
    p.add_argument("--visit-name-first", action="store_true")
    p.add_argument("--data-value-first", action="store_true")
    p.add_argument("--always-set-visit-name", action="store_true")
    p.add_argument(
        "--add-platform",
        metavar="GPL_ID;NAME;ORGANISM;MARKER_TYPE[;GENOME_BUILD[;RELEASE]]",
        help="register a platform in de_gpl_info without loading data "
        "(I2B2_ADD_PLATFORM analog; idempotent on GPL_ID)",
    )
    p.add_argument("--delete-study-by-id", metavar="STUDY_ID")
    p.add_argument("--delete-study-by-path", metavar="PATH")
    p.add_argument("--force-start", action="store_true", help="skip the single-instance lock")
    p.add_argument(
        "--allow-non-unique-columns", action="store_true",
        help="accept clinical data files with duplicate header names "
        "(default aborts like the reference, CsvLikeFile.groovy:46-49)",
    )
    p.add_argument("--use-first-gene-id", action="store_true")
    p.add_argument(
        "--check-duplicates", action="store_true",
        help="write duplicates.csv next to the clinical data when the "
        "load fails on duplicate keys (the abort itself is unconditional)",
    )
    p.add_argument(
        "--replace-study", action="store_true",
        help="when another study occupies the target path, delete it "
        "and load (default aborts with the reference's message)",
    )
    p.add_argument("--warehouse", default="warehouse", help="parquet warehouse directory (default ./warehouse)")
    p.add_argument("--parent-node", default="\\Public Studies", help="ontology parent for uploaded studies")
    # accepted for reference CLI parity (CommandLineTool.groovy flag
    # surface); meaningless against a parquet warehouse — no Postgres
    # schemas to redirect, no alternative stored procedures, and no
    # ANSI console highlighting — so they parse and are ignored
    # run_sql_scripts entry point (RunSqlScriptsCommand.groovy:72-111):
    # applies the shipped migration/permission/procedure manifests to a
    # LIVE Postgres via psql — no Spark session, no warehouse
    p.add_argument(
        "--run-sql-scripts",
        metavar="SQL_DIR",
        help="apply SQL_DIR/postgres/{migrations,permissions,procedures}.sql "
        "to a live Postgres (needs --dba-dsn; RunSqlScriptsCommand analog)",
    )
    p.add_argument("--db-dsn", metavar="DSN", help="libpq DSN for user scripts")
    p.add_argument(
        "--dba-dsn", metavar="DSN",
        help="libpq DSN with DBA rights (reference -u/-p dba credentials)",
    )
    p.add_argument(
        "--procedures-only", action="store_true",
        help="run only procedures.sql (reference -P)",
    )
    p.add_argument("--schema", metavar="NAME", help="(accepted; parquet warehouse has no DB schema)")
    p.add_argument("--alt-control-schema", metavar="NAME", help="(accepted; no-op)")
    p.add_argument("--alt-clinical-proc", metavar="PROC", help="(accepted; single Spark clinical plan)")
    p.add_argument(
        "--highlight-clinical-data", action="store_true",
        help="study top node gets visual attributes FAJ instead of FAS "
        "(ClinicalDataProcessor.groovy:290 highlightClinicalData)",
    )
    return p


#: Config-file keys (the reference's Groovy ConfigSlurper names,
#: CommandLineTool.groovy:100-240) -> CLI flag attributes.  Flags and
#: config COMBINE like the reference: the file supplies defaults, a
#: CLI switch can only turn a behavior ON (``--data-value-first`` is
#: the one explicit off-switch, :169-172).
_CONFIG_FLAGS = {
    "secureStudy": "secure_study",
    "visitNameFirst": "visit_name_first",
    "alwaysSetVisitName": "always_set_visit_name",
    "checkDuplicates": "check_duplicates",
    "replaceStudy": "replace_study",
    "highlightClinicalData": "highlight_clinical_data",
    "useT": "use_t",
    "stopOnFail": "stop_on_fail",
    "useFirstGeneId": "use_first_gene_id",
    "allowNonUniqueColumnNames": "allow_non_unique_columns",
}


def _apply_config_file(args) -> None:
    """Overlay a ``-c`` config file (python dict literal — this
    engine's stand-in for the reference's Config.groovy) onto the
    parsed flags, with the reference's precedence
    (CommandLineTool.groovy:96-240): ``secure-study OR
    config.secureStudy``-style ORs for the booleans,
    ``--data-value-first`` forcing VISIT_NAME last (:169-172),
    ``config.dataDir`` as the positional-dir fallback (:241-242), and
    ``--copy-security-settings-from`` implying a securable study
    (:233-237)."""
    cfg = {}
    if args.config:
        import ast

        with open(args.config) as fh:
            cfg = ast.literal_eval(fh.read())
        if not isinstance(cfg, dict):
            raise ValueError(f"{args.config} is not a dict literal")
    for key, attr in _CONFIG_FLAGS.items():
        if cfg.get(key):
            setattr(args, attr, True)
    if args.data_value_first:
        args.visit_name_first = False
    if args.copy_security_settings_from:
        args.secure_study = True
    if not args.data_dir and cfg.get("dataDir"):
        args.data_dir = cfg["dataDir"]


def main(argv: list[str] | None = None) -> int:
    from tmdataloader_spark.session import get_spark
    from tmdataloader_spark.sinks import ProcessLockError, process_lock

    args = build_parser().parse_args(argv)
    if args.version:
        print(f"tm_etl (tmdataloader_spark) {__version__}")
        return 0
    try:
        _apply_config_file(args)
    except (OSError, ValueError, SyntaxError) as e:
        print(f"Error processing config: {e}", file=sys.stderr)
        return 2

    if args.run_sql_scripts:
        # live-DB bootstrap path: driver-side psql, no Spark session
        from tmdataloader_spark.sqlscripts import run_sql_scripts

        try:
            run_sql_scripts(
                args.db_dsn,
                args.run_sql_scripts,
                dba_dsn=args.dba_dsn,
                procedures_only=args.procedures_only,
            )
        except (RuntimeError, FileNotFoundError, ValueError) as e:
            print(str(e), file=sys.stderr)
            return 1
        return 0

    ops = [args.move_study, args.delete_study_by_id, args.delete_study_by_path,
           args.copy_security_settings_from, args.add_platform, args.data_dir]
    if not any(ops):
        build_parser().print_help()
        return 2

    wh_dir = args.warehouse
    spark = get_spark("tm_etl", extra_conf=driver_jit(args.data_dir, wh_dir))

    # operations path (§3.4): bypasses directory processing
    if args.add_platform:
        from tmdataloader_spark.sources.gpl import add_platform

        parts = args.add_platform.split(";")
        if len(parts) < 4:
            print(
                "--add-platform needs GPL_ID;NAME;ORGANISM;MARKER_TYPE",
                file=sys.stderr,
            )
            return 2
        wh = read_warehouse(spark, wh_dir)
        wh.deapp["de_gpl_info"] = add_platform(
            spark, wh.deapp.get("de_gpl_info"), *parts[:6]
        )
        write_warehouse(wh, wh_dir)
        print(f">>> PLATFORM {parts[0]} registered")
        return 0
    if args.move_study:
        old, _, new = args.move_study.partition(";")
        wh = read_warehouse(spark, wh_dir)
        wh = move_study_by_path(wh, old, new, keep_security=args.keep_security)
        write_warehouse(wh, wh_dir)
        print(f">>> MOVED {normalize_path(old)} -> {normalize_path(new)}")
        return 0
    if args.delete_study_by_id or args.delete_study_by_path:
        wh = read_warehouse(spark, wh_dir)
        wh = delete_all_data(
            wh, trial_id=args.delete_study_by_id, path=args.delete_study_by_path
        )
        write_warehouse(wh, wh_dir)
        print(f">>> DELETED {args.delete_study_by_id or args.delete_study_by_path}")
        return 0

    # upload path (§3.1)
    from tmdataloader_spark.plans.study import discover_studies, load_study

    def run_upload() -> int:
        import tempfile

        wh = read_warehouse(spark, wh_dir)
        with tempfile.TemporaryDirectory() as zip_work:
            studies = discover_studies(args.data_dir, root="", work_dir=zip_work)
            if not studies:
                print(f"no studies under {args.data_dir}", file=sys.stderr)
                return 1
            failed = 0
            for study_dir, rel in studies:
                parent = args.parent_node + rel
                print(f">>> STUDY {study_dir} -> {parent}")
                loaded = load_study(
                    spark, study_dir, parent_node=parent,
                    use_first_gene_id=args.use_first_gene_id,
                    highlight_clinical_data=args.highlight_clinical_data,
                    allow_non_unique_columns=args.allow_non_unique_columns,
                    secure_study=args.secure_study,
                    visit_name_first=args.visit_name_first,
                    always_set_visit_name=args.always_set_visit_name,
                    use_t=args.use_t,
                    check_duplicates=args.check_duplicates,
                )
                for ptype, d, status, err in loaded.manifest:
                    print(f"    {ptype:<14} {status}{': ' + err if err else ''}")
                if not loaded.succeeded:
                    failed += 1
                    if args.stop_on_fail:
                        print(">>> STOP ON FAIL", file=sys.stderr)
                        return 1
                    continue
                trials = _study_trials(loaded)
                try:
                    # pre-merge guards: path/id conflicts +
                    # --replace-study removal
                    # (AbstractDataProcessor.groovy:80-116)
                    for trial in trials:
                        wh = check_study_conflicts(
                            wh, trial, loaded.node + "\\",
                            replace_study=args.replace_study,
                        )
                except LoadValidationError as e:
                    print(f"    CONFLICT       FAIL: {e}", file=sys.stderr)
                    failed += 1
                    if args.stop_on_fail:
                        print(">>> STOP ON FAIL", file=sys.stderr)
                        return 1
                    continue
                wh = merge_study_into_warehouse(wh, loaded, trials)
                # post-study security tail
                # (i2b2_create_security_for_trial.sql:130-190 +
                # PostStudyProcessor.groovy:30-42)
                from tmdataloader_spark.operators.tree import (
                    copy_security_from_study,
                    register_secure_study,
                )

                for trial in trials:
                    so, be, uid = register_secure_study(
                        wh.searchapp.get("search_secure_object"),
                        wh.biomart.get("bio_experiment"),
                        wh.i2b2,
                        trial,
                        secure=args.secure_study,
                        bio_data_uid=wh.biomart.get("bio_data_uid"),
                    )
                    wh.searchapp["search_secure_object"] = so
                    wh.biomart["bio_experiment"] = be
                    wh.biomart["bio_data_uid"] = uid
                    if args.copy_security_settings_from:
                        access = wh.searchapp.get(
                            "search_auth_sec_object_access"
                        ) or local_frame(
                            spark,
                            [],
                            "auth_sec_obj_access_id long, auth_principal_id long, "
                            "secure_object_id long, secure_access_level_id long",
                        )
                        wh.searchapp["search_auth_sec_object_access"] = (
                            copy_security_from_study(
                                access, so, trial,
                                args.copy_security_settings_from,
                            )
                        )
            write_warehouse(wh, wh_dir)
            return 1 if failed else 0

    os.makedirs(wh_dir, exist_ok=True)
    if args.force_start:
        return run_upload()
    try:
        with process_lock(os.path.join(wh_dir, ".tm_etl.lock")):
            return run_upload()
    except ProcessLockError:
        print("another tm_etl instance is running (use --force-start)", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
