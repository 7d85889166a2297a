"""Study metadata loader (SURVEY.md §1.1 'Study metadata / tags').

Reference: etl/MetaDataProcessor.groovy:140-230 — fuzzy header-regexp
mapping of the metadata TSV into ``lt_src_study_metadata``, study_id +
title mandatory, species defaulting to 'Homo Sapiens';
sql/postgres/procedures/I2B2_LOAD_STUDY_METADATA.sql:83-370 —
bio_experiment upsert keyed on accession (= study id), bio_data_uid
rows ``EXP:<accession>``, compound/disease/pubmed links.

Spark shape: metadata files are tiny — one driver-side parse into
typed frames; the bio_experiment upsert is the same key anti-join +
union used everywhere else."""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.session import local_frame
from tmdataloader_spark.sources.tsv import read_tsv

#: MetaDataProcessor.groovy:154-190 — (?i) header regexp -> field
HEADER_PATTERNS = [
    (r"Accession \(Internal study_id\)", "study_id"),
    (r"Title", "title"),
    (r"Description", "description"),
    (r"Study design", "study_design"),
    (r"Completion date", "completion_date"),
    (r"PI", "pi"),
    (r"Institution", "institution"),
    (r"Biomarker Type", "biomarker_type"),
    (r"Access Type", "access_type"),
    (r"Study Owner", "study_owner"),
    (r"Study Phase", "study_phase"),
    (r"Blinding Procedure", "blinding_procedure"),
    (r"Study Type", "study_type"),
    (r"Duration of Study", "duration_of_study"),
    (r"Number of Patients", "number_of_patients"),
    (r"Number of Sites", "number_of_sites"),
    (r"Route of Administration", "route_of_administration"),
    (r"Dosing Regimen", "dosing_regimen"),
    (r"Group Assignment", "group_assignment"),
    (r"Type of Control", "type_of_control"),
    (r"Primary Endpoints", "primary_endpoints"),
    (r"Secondary Endpoints", "secondary_endpoints"),
    (r"Inclusion Criteria", "inclusion_criteria"),
    (r"Exclusion Criteria", "exclusion_criteria"),
    (r"Subjects", "subjects"),
    (r"Gender Restriction", "gender_restriction"),
    (r"Min.* Age", "min_age"),
    (r"Max.* Age", "max_age"),
    (r"Secondary IDs", "secondary_ids"),
    (r"Development Partner", "development_partner"),
    (r"GEO Platform", "geo_platform"),
    (r"Main Findings", "main_findings"),
    (r"Area", "area"),
    (r"Drug name", "drug_name"),
    (r"Condition", "condition"),
    (r"(Species|Organism)", "species"),
    # not mapped by MetaDataProcessor.groovy (its INSERT hardwires
    # PUBMED_IDS to NULL), but lt_src_study_metadata carries the
    # column and I2B2_LOAD_STUDY_METADATA.sql:758-880 consumes it —
    # accepting the header here is the Spark-side way to reach that
    # documented stored-procedure path
    (r"PubMed IDs", "pubmed_ids"),
]


@dataclass
class MetadataLoadResult:
    landing: DataFrame  # lt_src_study_metadata
    bio_experiment: DataFrame
    bio_data_uid: DataFrame
    tags: DataFrame  # (study_id, tag, tag_type) per non-core column
    # typed biomart link frames (I2B2_LOAD_STUDY_METADATA.sql loops;
    # None-able only in the sense of being empty when the source
    # column is absent):
    compounds: DataFrame  # bio_compound analog: (generic_name)
    data_compounds: DataFrame  # bio_data_compound: (accession, generic_name, etl_source)
    diseases: DataFrame  # bio_disease analog: (disease)
    data_diseases: DataFrame  # bio_data_disease: (accession, disease, etl_source)
    taxonomies: DataFrame  # bio_taxonomy analog: (taxon_name)
    data_taxonomies: DataFrame  # bio_data_taxonomy: (accession, taxon_name, etl_source)
    contents: DataFrame  # bio_content analog: (location, title, file_type, etl_id)
    content_references: DataFrame  # bio_content_reference: (accession, location, content_reference_type, etl_id)
    # folder management (I2B2_LOAD_STUDY_METADATA.sql:74-100,255-300):
    fm_folder: DataFrame  # (folder_id, folder_name, folder_level, folder_type, active_ind, parent_id, description)
    fm_folder_association: DataFrame  # (folder_id, object_uid, object_type)
    am_tag_association: DataFrame  # (subject_uid, object_uid, object_type, tag_item_id)


def map_headers(columns: list[str]) -> dict[str, str]:
    """First column matching each (?i) pattern wins
    (MetaDataProcessor.groovy:149-190)."""
    mapping: dict[str, str] = {}
    for col in columns:
        for pat, field in HEADER_PATTERNS:
            if field not in mapping and re.fullmatch(f"(?i){pat}", col.strip()):
                mapping[field] = col
                break
    if "study_id" not in mapping:
        raise LoadValidationError("Study ID column is not defined")
    return mapping


def read_study_metadata(spark: SparkSession, path: str) -> DataFrame:
    """One metadata TSV → lt_src_study_metadata-shaped frame."""
    raw = read_tsv(spark, path, header=True, comment="#")
    mapping = map_headers(raw.columns)
    # values are trimmed like the reference's fixColumn cleanup
    cols = [
        F.trim(F.col(f"`{src}`").cast("string")).alias(field)
        for field, src in mapping.items()
    ]
    out = raw.select(*cols)
    if "species" in out.columns:
        out = out.withColumn(
            "species", F.coalesce(F.col("species"), F.lit("Homo Sapiens"))
        )
    else:
        out = out.withColumn("species", F.lit("Homo Sapiens"))
    if "title" not in out.columns:
        raise LoadValidationError("Study ID or Title are not defined")
    bad = out.filter(
        (F.coalesce(F.col("study_id"), F.lit("")) == "")
        | (F.coalesce(F.col("title"), F.lit("")) == "")
    )
    if bad.limit(1).count() > 0:
        raise LoadValidationError("Study ID or Title are not defined")
    return out


def build_bio_experiment(
    landing: DataFrame, existing: DataFrame | None = None
) -> DataFrame:
    """bio_experiment upsert keyed on accession
    (I2B2_LOAD_STUDY_METADATA.sql:103-220): incoming rows win."""
    def opt(name: str):
        if name in landing.columns:
            return F.col(name)
        return F.lit(None).cast("string")

    incoming = landing.select(
        F.lit("Experiment").alias("bio_experiment_type"),
        F.col("title"),
        opt("description").alias("description"),
        opt("study_design").alias("design"),
        F.upper(F.col("study_id")).alias("accession"),
        opt("institution").alias("institution"),
        F.col("species").alias("organism"),
    ).dropDuplicates(["accession"])
    if existing is None:
        return incoming
    keep = existing.join(
        incoming.select("accession"), on="accession", how="left_anti"
    )
    return keep.unionByName(incoming.select(existing.columns))


def build_study_folders(
    bio_experiment: DataFrame,
    bio_data_uid: DataFrame,
    landing: DataFrame,
    existing_folders: DataFrame | None = None,
    existing_associations: DataFrame | None = None,
    tag_item_id: int | None = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Folder management (I2B2_LOAD_STUDY_METADATA.sql:74-100 program
    folder, :255-300 study folders; asserted by
    MetaDataProcessorTest.groovy:93-121): ensure the ``etl-program``
    PROGRAM folder (level 0), add one STUDY folder (level 1, parent =
    program) per experiment whose bio_data_uid has no
    fm_folder_association yet, associate it to the experiment
    (object_type ``org.transmart.biomart.Experiment``), and tag
    ``FOL:<id>`` with ``STUDY_PHASE:<PHASE>`` (spaces → ``_``,
    uppercased) when the study has a phase and the am_tag_item for
    STUDY_PHASE exists (pass its id; ``None`` skips tagging, like the
    reference's NULL lookup).

    Returns ``(fm_folder, fm_folder_association, am_tag_association)``
    — study-count-sized frames; folder ids are allocated densely after
    the max existing id (the SEQ_FM_ID analog), deterministic by
    accession order."""
    from pyspark.sql import Window

    spark = bio_experiment.sparkSession
    next_id = 1
    program_id = None
    if existing_folders is not None:
        hit = (
            existing_folders.filter(
                (F.col("folder_name") == "etl-program")
                & (F.col("folder_type") == "PROGRAM")
            )
            .select("folder_id")
            .limit(1)
            .collect()
        )
        program_id = hit[0][0] if hit else None
        mx = existing_folders.agg(F.max("folder_id")).first()[0]
        next_id = (mx or 0) + 1
    folder_schema = (
        "folder_id long, folder_name string, folder_level int, "
        "folder_type string, active_ind boolean, parent_id long, "
        "description string"
    )
    new_folders = []
    if program_id is None:
        program_id = next_id
        next_id += 1
        new_folders.append(
            (
                program_id, "etl-program", 0, "PROGRAM", True, None,
                "Special program. Create automatically when tmDataloader "
                "load metadata for study. Necessary for support study filters",
            )
        )
    phases = (
        landing.select(F.upper(F.col("study_id")).alias("accession"), "study_phase")
        if "study_phase" in landing.columns
        else landing.select(
            F.upper(F.col("study_id")).alias("accession"),
            F.lit(None).cast("string").alias("study_phase"),
        )
    ).dropDuplicates(["accession"])
    todo = (
        bio_experiment.join(bio_data_uid.select("accession", "unique_id"), "accession")
        .join(phases, "accession", "left")
        .select("accession", "title", "description", "unique_id", "study_phase")
    )
    if existing_associations is not None:
        todo = todo.join(
            existing_associations.select(F.col("object_uid").alias("unique_id")),
            on="unique_id",
            how="left_anti",
        )
    w = Window.orderBy("accession")
    todo = todo.withColumn(
        "folder_id", F.row_number().over(w).cast("long") + F.lit(next_id - 1)
    )
    studies = todo.select(
        "folder_id",
        F.col("title").alias("folder_name"),
        F.lit(1).alias("folder_level"),
        F.lit("STUDY").alias("folder_type"),
        F.lit(True).alias("active_ind"),
        F.lit(program_id).cast("long").alias("parent_id"),
        "description",
    )
    fm_folder = local_frame(spark, new_folders, folder_schema).unionByName(studies)
    fm_folder_association = todo.select(
        "folder_id",
        F.col("unique_id").alias("object_uid"),
        F.lit("org.transmart.biomart.Experiment").alias("object_type"),
    )
    if tag_item_id is None:
        am_tag_association = local_frame(
            spark,
            [],
            "subject_uid string, object_uid string, object_type string, "
            "tag_item_id int",
        )
    else:
        am_tag_association = todo.filter(F.col("study_phase").isNotNull()).select(
            F.concat(F.lit("FOL:"), F.col("folder_id")).alias("subject_uid"),
            F.concat(
                F.lit("STUDY_PHASE:"),
                F.upper(F.regexp_replace("study_phase", " ", "_")),
            ).alias("object_uid"),
            F.lit("BIO_CONCEPT_CODE").alias("object_type"),
            F.lit(tag_item_id).cast("int").alias("tag_item_id"),
        )
    return fm_folder, fm_folder_association, am_tag_association


def build_bio_data_uid(bio_experiment: DataFrame) -> DataFrame:
    """``EXP:<accession>`` unique ids
    (I2B2_LOAD_STUDY_METADATA.sql:222-244)."""
    return bio_experiment.select(
        F.concat(F.lit("EXP:"), F.col("accession")).alias("unique_id"),
        F.lit("EXP").alias("bio_data_type"),
        F.col("accession"),
    ).distinct()


def build_tags(landing: DataFrame) -> DataFrame:
    """Every populated non-core metadata field becomes a study tag
    (the am_tag_association analog)."""
    core = {"study_id", "title", "description"}
    fields = [c for c in landing.columns if c not in core]
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("tag_type"), F.col(c).cast("string").alias("tag"))
            for c in fields
        ]
    )
    return (
        landing.select(F.upper(F.col("study_id")).alias("study_id"), F.explode(pairs).alias("t"))
        .select("study_id", F.col("t.tag_type"), F.col("t.tag"))
        .filter(F.coalesce(F.col("tag"), F.lit("")) != "")
    )


def _split_links(
    landing: DataFrame, field: str, name_col: str, sep: str = ";"
) -> tuple[DataFrame, DataFrame]:
    """Shared shape of the reference's compound/disease/organism
    loops (I2B2_LOAD_STUDY_METADATA.sql:336-403 compound, :432-503
    disease, :529-600 organism), set-based instead of the plpgsql
    parse_nth_value cursor: split the ``sep``-delimited field, trim,
    dedupe the dimension case-insensitively (the reference's
    ``not exists (… upper(x) = upper(tmp))`` novelty guard — we keep
    the lexicographically-least variant so the survivor is
    deterministic, where the reference keeps whichever study loaded
    first), and emit (study, value) link rows with the
    ``METADATA:<study_id>`` etl marker.

    Returns ``(dimension, links)``.  Tiny frames (metadata is one row
    per study) — every join downstream of these broadcasts."""
    if field in landing.columns:
        exploded = (
            landing.select(
                F.upper(F.col("study_id")).alias("accession"),
                F.explode(F.split(F.col(field), re.escape(sep))).alias("_v"),
            )
            .select("accession", F.trim(F.col("_v")).alias(name_col))
            .filter(F.coalesce(F.col(name_col), F.lit("")) != "")
        )
    else:
        exploded = local_frame(
            landing.sparkSession,
            [], f"accession string, {name_col} string"
        )
    dim = (
        exploded.groupBy(F.upper(F.col(name_col)).alias("_k"))
        .agg(F.min(name_col).alias(name_col))
        .select(name_col)
    )
    links = (
        exploded.select(
            "accession",
            F.upper(F.col(name_col)).alias("_k"),
            F.concat(F.lit("METADATA:"), F.col("accession")).alias("etl_source"),
        )
        .distinct()
        .join(dim.select(F.upper(F.col(name_col)).alias("_k"), name_col), "_k")
        .select("accession", name_col, "etl_source")
    )
    return dim, links


def build_content_links(landing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """bio_content / bio_content_reference analogs
    (I2B2_LOAD_STUDY_METADATA.sql:636-707 GEO web links, :758-880
    PubMed links): GSE-accession studies get an
    ``Experiment Web Link`` row pointing at
    ``geo/query/acc.cgi?acc=<study>``; a ``pubmed_ids`` column (the
    landing field the stored procedure reads; ``|``-separated
    ``id@title`` entries, title optional) becomes
    ``Publication Web Link`` rows.  Returns ``(contents,
    references)`` keyed on (location, file_type, etl_id) — the
    columns the reference's not-exists guards key on."""
    sid = F.upper(F.col("study_id"))
    geo = (
        landing.filter(sid.like("GSE%"))
        .select(
            F.concat(F.lit("geo/query/acc.cgi?acc="), sid).alias("location"),
            F.lit(None).cast("string").alias("title"),
            F.lit("Experiment Web Link").alias("file_type"),
            F.concat(F.lit("METADATA:"), sid).alias("etl_id"),
            sid.alias("accession"),
        )
        .distinct()
    )
    if "pubmed_ids" in landing.columns:
        entry = F.trim(F.col("_e"))
        at = F.instr(entry, "@")
        pub = (
            landing.filter(F.coalesce(F.col("pubmed_ids"), F.lit("")) != "")
            .select(
                sid.alias("accession"),
                F.explode(F.split(F.col("pubmed_ids"), r"\|")).alias("_e"),
            )
            .filter(F.coalesce(entry, F.lit("")) != "")
            .select(
                F.when(at == 0, entry)
                .otherwise(F.substring_index(entry, "@", 1))
                .alias("location"),
                F.when(at == 0, F.lit(None).cast("string"))
                .otherwise(F.expr("substring(trim(_e), instr(trim(_e), '@') + 1)"))
                .alias("title"),
                F.lit("Publication Web Link").alias("file_type"),
                F.concat(F.lit("METADATA:"), F.col("accession")).alias("etl_id"),
                F.col("accession"),
            )
            .distinct()
        )
        both = geo.unionByName(pub)
    else:
        both = geo
    contents = both.select("location", "title", "file_type", "etl_id").distinct()
    references = both.select(
        "accession",
        "location",
        F.col("file_type").alias("content_reference_type"),
        "etl_id",
    ).distinct()
    return contents, references


def load_study_metadata(
    spark: SparkSession,
    data_dir: str,
    study_id: str | None = None,
    existing_bio_experiment: DataFrame | None = None,
) -> MetadataLoadResult:
    """All ``*.txt`` metadata files of a ``MetaDataToUpload`` dir
    (MetaDataProcessor.processFiles)."""
    files = [
        os.path.join(data_dir, f)
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".txt") and not f.startswith((".", "_"))
    ]
    if not files:
        raise LoadValidationError(f"no metadata files in {data_dir}")
    landing = None
    for f in files:
        part = read_study_metadata(spark, f)
        landing = part if landing is None else landing.unionByName(
            part, allowMissingColumns=True
        )
    if study_id is not None:
        mismatched = landing.filter(F.upper(F.col("study_id")) != study_id.upper())
        if mismatched.limit(1).count() > 0:
            raise LoadValidationError(
                f"metadata study id does not match {study_id}"
            )
    bio_experiment = build_bio_experiment(landing, existing_bio_experiment)
    bio_data_uid = build_bio_data_uid(bio_experiment)
    fm_folder, fm_assoc, am_tag = build_study_folders(
        bio_experiment, bio_data_uid, landing
    )
    compounds, data_compounds = _split_links(landing, "drug_name", "generic_name")
    diseases, data_diseases = _split_links(landing, "condition", "disease")
    taxonomies, data_taxonomies = _split_links(landing, "species", "taxon_name")
    contents, content_references = build_content_links(landing)
    return MetadataLoadResult(
        landing=landing,
        bio_experiment=bio_experiment,
        bio_data_uid=bio_data_uid,
        tags=build_tags(landing),
        compounds=compounds,
        data_compounds=data_compounds,
        diseases=diseases,
        data_diseases=data_diseases,
        taxonomies=taxonomies,
        data_taxonomies=data_taxonomies,
        contents=contents,
        content_references=content_references,
        fm_folder=fm_folder,
        fm_folder_association=fm_assoc,
        am_tag_association=am_tag,
    )
