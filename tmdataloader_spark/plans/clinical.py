r"""The clinical load pipeline (SURVEY.md §3.2) — the reference's
1553-line ``I2B2_LOAD_CLINICAL_DATA`` stored procedure re-expressed as
a chain of declarative DataFrame stages.

Stage map (sql/postgres/procedures/I2B2_LOAD_CLINICAL_DATA.sql):
 1. work-frame derivation (:137-231)  — usubjid, category_path
 2. cleansing F1–F9 (:238-541)        — one narrow projection
 3. type inference A1 (:546-598)      — groupBy + broadcast join back
 4. dedup A8 / abort checks A7,A9 (:634-716)
 5. leaf-node build X7 (:719-798)     — placeholder injection + subst
 6. patient dimension R4/SO1 (:802-934)
 7. ontology: fill-in-tree T1, nodes (:949-1074)
 8. fact assembly J1 (:1313-1418)
 9. tree: visual attrs A6 (:1432-1481), concept counts T3 (:1511)
10. security facts and i2b2_secure (:1526-1527)

Scale notes: the fact side is the only big frame; every dimension
(trial nodes, patients-per-study, concept groups) is orders of
magnitude smaller and joins broadcast. The single wide shuffle left is
the type-inference groupBy — keyed by concept group, which is the
natural partitioning for all later per-concept work.

Each intermediate that several actions read is computed once and held
as a working table, like the reference's ``wrk_clinical_data`` and
``wt_trial_nodes``. ``localCheckpoint`` materializes four of them:

- the work frame after dedup (stages 1-4), read by the abort guards;
- the work frame with each row's leaf path stored (stage 5a), read by
  the trial nodes, the patients and the facts;
- the finished node table, visual attributes included (stages 7-9a),
  read by the concept dimension, the fact join, ``i2b2`` and
  ``i2b2_secure``;
- the facts before the security rows (stage 8), read by the concept
  counts, the security facts and the ``observation_fact`` write.

Every later plan starts from a one-line scan. Two costs are avoided.
Spark renders a plan's text on every action and adaptive re-plan, and
a cached frame prints its whole melt+cleanse plan, with the nested
leaf-path ``CASE WHEN`` expressions, in every consumer. And AQE reuses
an exchange only inside one query, so without the last two checkpoints
each table write rebuilt the clinical tree from the work frame.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmdataloader_spark.functions.paths import (
    get_last_path_component,
    path_hlevel,
    replace_last_path_component,
)
from tmdataloader_spark.functions.timepoints import (
    build_metadata_xml,
    timestamp_to_timepoint,
    validate_timepoint_names,
)
from tmdataloader_spark.operators import cleansing
from tmdataloader_spark.operators.dedup import (
    assert_no_duplicates,
    assert_visit_name_consistency,
    dedup_keep_one,
)
from tmdataloader_spark.operators.reshape import pivot_demographics
from tmdataloader_spark.operators.tree import (
    concept_counts,
    create_security_for_trial,
    fill_in_tree,
    load_security_data,
    visual_attributes,
)
from tmdataloader_spark.operators.type_inference import infer_group_types

TAG_BRACED = r"\$\$\d*[A-Z]\{([^}]+)\}"
TAG_BARE = r"\$\$\d*[A-Z]"


@dataclass
class ClinicalLoadResult:
    observation_fact: DataFrame
    patient_dimension: DataFrame
    i2b2: DataFrame
    concept_dimension: DataFrame
    concept_counts: DataFrame
    trial_nodes: DataFrame
    #: the trial id every fact carries as sourcesystem_cd
    trial_id: str
    work: DataFrame = None
    audit: list = field(default_factory=list)
    #: i2b2 + secure_obj_token (i2b2_load_security_data's i2b2_secure)
    i2b2_secure: DataFrame = None


def derive_work_columns(df: DataFrame, trial_id: str) -> DataFrame:
    r"""Stage 1 (:226-231): data_type placeholder 'T', category_path
    from category_cd (``_``→space, ``+``→``\``, tag markers stripped),
    usubjid = TRIAL:SITE:SUBJ with ``::`` collapsed."""
    cat_path = F.regexp_replace(
        F.regexp_replace(F.col("category_cd"), "_", " "), r"\+", "\\\\"
    )
    cat_path = F.regexp_replace(cat_path, TAG_BRACED, "$1")
    cat_path = F.regexp_replace(cat_path, TAG_BARE, "")
    usub = F.concat_ws(
        ":",
        F.lit(trial_id),
        F.coalesce(F.col("site_id"), F.lit("")),
        F.col("subject_id"),
    )
    return (
        df.withColumn("data_type", F.lit("T"))
        .withColumn("category_path", cat_path)
        .withColumn("usubjid", F.regexp_replace(usub, "(::)+", ":"))
    )


def cleanse(df: DataFrame, always_set_visit_name: bool = False) -> DataFrame:
    """Stage 2 (:238-541) in the reference's exact statement order:
    F2 pipes + F3 parens on data_value (:259-305), F4 label pipes
    (:322-324), single-visit suppression on the tag-NORMALIZED category
    while tag values are still embedded (:344-351), tag strip
    (:373-375), F8 label-vs-tail chop (:381-393), F5 per-column char
    sets (:437-442), F6 whitespace (:456-461), terminator-path nulling
    (:478-490), visit=label / visit=value (:495-541)."""
    from tmdataloader_spark.functions.values import (
        normalize_chars_category,
        normalize_chars_label,
        normalize_chars_path,
        normalize_chars_value,
        normalize_whitespace,
    )

    df = df.withColumn(
        "data_value", cleansing.fix_parens(cleansing.fix_pipes(F.col("data_value")))
    ).withColumn("data_label", cleansing.label_pipe_to_comma(F.col("data_label")))
    if not always_set_visit_name:
        df = cleansing.suppress_single_visit(df)
    # tag-marker strip on category_cd (:373-375)
    cat = F.regexp_replace(F.col("category_cd"), TAG_BRACED, "$1")
    cat = F.regexp_replace(cat, TAG_BARE, "")
    df = df.withColumn("category_cd", cat)
    # F8: chop the doubled label off BOTH path and category_cd
    last_path = F.upper(F.element_at(F.split(F.col("category_path"), "\\\\"), -1))
    dup = (F.col("data_label").isNotNull()) & (last_path == F.upper(F.col("data_label")))
    df = df.withColumn(
        "category_path",
        F.when(dup, F.regexp_replace(F.col("category_path"), r"\\[^\\]*$", "")).otherwise(
            F.col("category_path")
        ),
    ).withColumn(
        "category_cd",
        F.when(dup, F.regexp_replace(F.col("category_cd"), r"\+[^+]*$", "")).otherwise(
            F.col("category_cd")
        ),
    )
    # F5 per-column char sets + F6 whitespace (label/value/visit only)
    df = (
        df.withColumn(
            "data_label", normalize_whitespace(normalize_chars_label(F.col("data_label")))
        )
        .withColumn(
            "data_value", normalize_whitespace(normalize_chars_value(F.col("data_value")))
        )
        .withColumn("category_cd", normalize_chars_category(F.col("category_cd")))
        .withColumn("category_path", normalize_chars_path(F.col("category_path")))
        .withColumn("visit_name", normalize_whitespace(F.col("visit_name")))
    )
    df = cleansing.suppress_terminated_path(df)
    return cleansing.suppress_visit_names(df, always_set_visit_name=True)


def infer_types(df: DataFrame) -> DataFrame:
    """Stage 3 (:546-598): per (category_cd, data_label, visit_name)
    group, data_type = 'N' iff every value is numeric."""
    types = infer_group_types(df, "data_value").withColumnRenamed("valtype_cd", "_vt")
    # null-safe keys: visit_name is often null — the reference joins on
    # coalesce(x,'**NULL**') (J1, :1313-1356); eqNullSafe is the Spark form
    cond = (
        df["category_cd"].eqNullSafe(types["category_cd"])
        & df["data_label"].eqNullSafe(types["data_label"])
        & df["visit_name"].eqNullSafe(types["visit_name"])
    )
    joined = df.join(
        F.broadcast(types.select("category_cd", "data_label", "visit_name", "_vt")),
        on=cond,
        how="left",
    ).drop(types["category_cd"]).drop(types["data_label"]).drop(types["visit_name"])
    return joined.withColumn("data_type", F.coalesce(F.col("_vt"), F.lit("T"))).drop("_vt")


def inject_placeholders(df: DataFrame) -> DataFrame:
    r"""Stage 5a (:722-747): terminator ``\$`` paths keep their shape;
    otherwise append the missing DATALABEL / DATAVALUE(text only) /
    VISITNAME placeholders, honoring a VISITNFST marker."""
    p = F.col("category_path")
    terminated = p.endswith("\\$")
    visit_first = p.endswith("\\VISITNFST")
    base = F.when(visit_first, F.expr("substring(category_path, 1, length(category_path) - 10)")).otherwise(p)
    out = base
    out = F.when(~out.contains("DATALABEL"), F.concat(out, F.lit("\\DATALABEL"))).otherwise(out)
    out = F.when(visit_first, F.concat(out, F.lit("\\VISITNAME"))).otherwise(out)
    out = F.when(
        (F.col("data_type") == "T") & ~out.contains("DATAVALUE"),
        F.concat(out, F.lit("\\DATAVALUE")),
    ).otherwise(out)
    out = F.when(
        ~visit_first & ~out.contains("VISITNAME"), F.concat(out, F.lit("\\VISITNAME"))
    ).otherwise(out)
    final = F.when(
        terminated, F.expr("substring(category_path, 1, length(category_path) - 2)")
    ).otherwise(out)
    return df.withColumn("category_path", final)


def _substitute_placeholders():
    """Literal placeholder substitution (labels/values may contain
    regex-special chars, so `F.replace`, not `regexp_replace` — the
    reference uses plain `replace`, :758-767)."""
    subst = F.col("category_path")
    subst = F.replace(subst, F.lit("DATALABEL"), F.coalesce(F.col("data_label"), F.lit("")))
    subst = F.replace(subst, F.lit("VISITNAME"), F.coalesce(F.col("visit_name"), F.lit("")))
    return F.when(
        F.col("data_type") == "T",
        F.replace(subst, F.lit("DATAVALUE"), F.coalesce(F.col("data_value"), F.lit(""))),
    ).otherwise(subst)


def _rename_timestamp_leaf(leaf_col):
    r"""Timestamp-variable leaf rename: when the row carries a
    baseline, the last path component (the raw timestamp) becomes the
    timepoint interval label vs that baseline ('Baseline', '1 minute',
    ...; functions/timepoints.timestamp_to_timepoint, X4).

    ``load_clinical`` applies it once per work row, to the stored
    ``_leaf_raw`` attribute, and materializes the result as
    ``leaf_node``; trial nodes and facts both read that column, so
    they cannot disagree on a leaf. Pass an attribute, not a composed
    expression: the helper references its argument several times, so
    a composed argument is copied into the plan text at every use."""
    renamed = replace_last_path_component(
        leaf_col,
        timestamp_to_timepoint(
            F.to_timestamp(get_last_path_component(leaf_col)),
            F.to_timestamp(F.col("baseline_value")),
        ),
    )
    return F.when(F.col("baseline_value").isNotNull(), renamed).otherwise(leaf_col)


def build_trial_nodes(df: DataFrame) -> DataFrame:
    r"""Stage 5b (:758-798): distinct leaf paths per node key; numeric
    leaves omit DATAVALUE; Timestamp leaves carry their timepoint label
    (``df`` holds ``_leaf_raw`` and ``leaf_node`` from
    ``load_clinical``). Distinct runs over the raw leaf too, so the
    rows are those of a distinct over the raw leaf followed by the
    rename: two raw stamps with one label stay two rows."""
    nodes = df.select(
        "_leaf_raw",
        "leaf_node",
        "category_cd",
        "visit_name",
        "data_label",
        F.when(F.col("data_type") == "T", F.col("data_value"))
        .otherwise(F.lit(None))
        .alias("data_value"),
        "data_type",
        "valuetype_cd",
        "baseline_value",
    ).distinct().drop("_leaf_raw")
    has_baseline = F.col("baseline_value").isNotNull()
    nodes = nodes.withColumn(
        "valuetype_cd",
        F.when(has_baseline, F.lit("TIMEPOINT")).otherwise(F.col("valuetype_cd")),
    )
    return nodes.withColumn("node_name", get_last_path_component("leaf_node"))


def build_patient_dimension(df: DataFrame, trial_id: str) -> DataFrame:
    """Stage 6 (:802-934): demographics pivot per usubjid; surrogate
    patient_num is a deterministic hash of the natural key
    (sourcesystem_cd) — the Spark replacement for the DB sequence
    (SURVEY.md §7 risk register)."""
    demo = pivot_demographics(df, subject_col="usubjid")
    return (
        demo.withColumn("sourcesystem_cd", F.col("usubjid"))
        .withColumn("patient_num", F.xxhash64(F.col("usubjid")))
        .withColumn("age_in_years_num", F.col("age_in_years_num").cast("int"))
        .select(
            "patient_num", "sex_cd", "age_in_years_num", "race_cd", "sourcesystem_cd"
        )
    )


def load_clinical(
    spark: SparkSession,
    landing: DataFrame,
    trial_id: str,
    top_node: str,
    always_set_visit_name: bool = False,
    check_duplicates: bool = True,
    highlight_study: bool = False,
    secure_study: bool = False,
) -> ClinicalLoadResult:
    r"""Run the full pipeline on a melted landing frame.

    ``top_node`` is the study root, e.g.
    ``\Public Studies\Test Study\`` (must start and end with ``\``).
    ``highlight_study`` is the reference's ``--highlight-clinical-data``
    flag (ClinicalDataProcessor.groovy:290): the top node's visual
    attributes become 'FAJ' instead of 'FAS'.
    """
    work = derive_work_columns(landing, trial_id)
    work = cleansing.drop_empty_values(work)
    work = cleanse(work, always_set_visit_name=always_set_visit_name)
    work = infer_types(work)

    # Stage 4: dedup + abort guards (:634-716)
    key_cols = [
        "site_id", "subject_id", "visit_name", "data_label", "category_cd", "data_value",
    ]
    work = dedup_keep_one(work, key_cols)
    # the cleansed working table, read by both abort guards; a
    # checkpoint, not a cache, so later plans hold a one-line scan
    # instead of the melt+cleanse plan (Scale notes)
    work = work.localCheckpoint()
    if check_duplicates:
        numeric = work.filter(F.col("data_type") == "N")
        assert_no_duplicates(
            numeric,
            ["site_id", "subject_id", "visit_name", "data_label", "category_cd"],
            report=True,
        )
        assert_visit_name_consistency(work)

    # Stage 5a: each row's leaf path, computed once and stored in the
    # working table that the nodes and the facts both read
    work = inject_placeholders(work)
    leaf = F.concat(F.lit(top_node), _substitute_placeholders(), F.lit("\\"))
    work = (
        work.withColumn("_leaf_raw", F.regexp_replace(leaf, r"(\\){2,}", "\\\\"))
        .withColumn("leaf_node", _rename_timestamp_leaf(F.col("_leaf_raw")))
        .localCheckpoint()
    )

    trial_nodes = build_trial_nodes(work)
    patients = build_patient_dimension(work, trial_id)

    # Stage 7: ontology — every leaf's prefixes become nodes (T1)
    all_nodes = fill_in_tree(trial_nodes.select(F.col("leaf_node").alias("path")))
    leaf_flags = trial_nodes.select(
        F.col("leaf_node").alias("path"), F.col("data_type"), F.col("valuetype_cd")
    ).distinct()
    flagged_nodes = all_nodes.join(leaf_flags, on="path", how="left")
    # abort parity for i2b2_build_metadata_xml's RAISE 'Check date
    # format' (I2B2_BUILD_METADATA_XML.sql:52): a TIMEPOINT leaf
    # whose display name matches none of the reference's series
    # paths must fail the load pre-write, not silently sink a NULL
    # c_metadataxml (the A7/A9 validate-and-raise pattern).
    # Unconditional — the reference's RAISE fires regardless of
    # duplicate-fact checking, so it does NOT sit behind
    # check_duplicates.
    validate_timepoint_names(
        flagged_nodes.filter(F.col("valuetype_cd") == "TIMEPOINT"), "name"
    )
    i2b2 = (
        flagged_nodes
        .withColumn("c_basecode", F.sha2(F.col("path"), 256).substr(1, 16))
        # nodes ABOVE the study root belong to no study: the root is
        # added by I2B2_ADD_ROOT_NODE and any intermediate upper-level
        # directories by i2b2_fill_in_tree(null, tPath) — both with
        # NULL sourcesystem_cd (I2B2_LOAD_CLINICAL_DATA.sql:189,208;
        # ClinicalDataProcessorTest.groovy:847-857 asserts the NULL on
        # the extra level). Only topNode and below carry the trial id.
        .withColumn(
            "sourcesystem_cd",
            F.when(
                F.col("hlevel") >= len([c for c in top_node.split("\\") if c]) - 1,
                F.lit(trial_id),
            ),
        )
        .select(
            F.col("path").alias("c_fullname"),
            F.col("hlevel").alias("c_hlevel"),
            F.col("name").alias("c_name"),
            "c_basecode",
            F.col("data_type").alias("valtype_cd"),
            "sourcesystem_cd",
            # numeric/timepoint metadata XML, reference-verbatim
            # (i2b2_build_metadata_xml, applied to leaves at
            # I2B2_LOAD_CLINICAL_DATA.sql:1004-1010)
            build_metadata_xml(
                F.col("name"),
                F.col("data_type"),
                F.col("valuetype_cd") == "TIMEPOINT",
            ).alias("c_metadataxml"),
        )
    )
    # Stage 9a: visual attributes over the study subtree, applied where
    # the nodes are built; the finished node table is materialized
    # once for the concept dimension, the fact join, i2b2 and
    # i2b2_secure (Scale notes)
    i2b2 = (
        visual_attributes(
            i2b2.withColumnRenamed("c_fullname", "path"),
            "path",
            study_root_path=top_node,
            highlight=highlight_study,
        )
        .withColumnRenamed("path", "c_fullname")
        .localCheckpoint()
    )
    concept_dim = i2b2.select(
        F.col("c_fullname").alias("concept_path"),
        F.col("c_basecode").alias("concept_cd"),
        F.col("c_name").alias("name_char"),
        "sourcesystem_cd",
    )

    # Stage 8: fact assembly (J1) — join each fact's stored leaf to the
    # nodes (broadcast: node count ≪ fact count) and patients.
    node_keys = F.broadcast(
        trial_nodes.select("leaf_node").distinct().join(
            concept_dim.select(
                F.col("concept_path").alias("leaf_node"), "concept_cd"
            ),
            on="leaf_node",
        )
    )
    facts = (
        work.join(node_keys, on="leaf_node", how="inner")
        .join(
            F.broadcast(
                patients.select(
                    F.col("sourcesystem_cd").alias("usubjid"), "patient_num"
                )
            ),
            on="usubjid",
            how="inner",
        )
        .select(
            "patient_num",
            "concept_cd",
            F.lit(trial_id).alias("modifier_cd"),
            F.when(F.col("data_type") == "N", F.lit("N")).otherwise(F.lit("T")).alias(
                "valtype_cd"
            ),
            F.when(F.col("data_type") == "T", F.col("data_value"))
            .otherwise(F.lit("E"))
            .alias("tval_char"),
            F.when(F.col("data_type") == "N", F.col("data_value").try_cast("double"))
            .otherwise(F.lit(None).cast("double"))
            .alias("nval_num"),
            F.lit(trial_id).alias("sourcesystem_cd"),
            F.col("sample_cd"),
            F.col("leaf_node").alias("concept_path"),
        )
        # read by the counts, the security facts and the fact write
        .localCheckpoint()
    )

    # Stage 9b: concept counts over the study subtree
    counts = concept_counts(
        facts.select(F.col("concept_path").alias("path"), "patient_num")
    )

    # Stage 10: security — the reference's load tail
    # (I2B2_LOAD_CLINICAL_DATA.sql:1526-1527): one SECURITY fact per
    # patient (token EXP:<trial> when the study is secured via
    # --secure-study / securitySymbol='Y', else EXP:PUBLIC), then
    # i2b2_secure = i2b2 + secure_obj_token. Counts were computed
    # BEFORE the security facts, like the reference (:913 vs :1526);
    # SECURITY facts carry no concept_path, so they never join a leaf.
    facts = create_security_for_trial(facts, trial_id, secure=secure_study)
    i2b2_secure = load_security_data(i2b2, facts)

    return ClinicalLoadResult(
        observation_fact=facts,
        patient_dimension=patients,
        i2b2=i2b2,
        concept_dimension=concept_dim,
        concept_counts=counts,
        trial_nodes=trial_nodes,
        work=work,
        i2b2_secure=i2b2_secure,
        trial_id=trial_id,
    )
