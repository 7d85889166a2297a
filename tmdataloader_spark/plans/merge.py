r"""Clinical merge modes (SURVEY.md §2.10a).

Reference: ``etl/MergeMode.groovy`` (REPLACE | UPDATE | APPEND |
UPDATE_VARIABLES, from the mapping-file ``# MERGE_MODE:`` header read
at etl/ClinicalDataProcessor.groovy:210-218) drives four different
fact-deletion scopes before the new facts are inserted
(sql/postgres/procedures/I2B2_LOAD_CLINICAL_DATA.sql:1080-1308):

- REPLACE  — delete ALL clinical facts of the trial (:1080-1121)
- UPDATE   — delete facts of UPDATED patients only (:1124-1166)
- UPDATE_VARIABLES — per incoming (patient, variable): resolve the
  concept path (text DATAVALUE ⇒ one-path-component wildcard), abort
  when several paths match, delete that subtree's facts (:1168-1282 —
  the reference's per-row cursor loop rewritten as ONE set-based
  regexp join)
- APPEND   — delete NUMERIC facts of updated patients at incoming
  numeric leaves (:1284-1308)

All four honor the biomarker exclusion list (SO2, the 5 sample-mapping
code columns + SNP datasets — :1084-1107). REPLACE additionally drops
patients that disappeared from the study (:846-870).

Scale: every scope is an anti-join of the big fact frame against a
small deletion spec (per-study concepts/patients) — broadcast, single
pass over facts, no shuffling of the fact side.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, DataFrame, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError


class MergeMode(Enum):
    REPLACE = "REPLACE"
    UPDATE = "UPDATE"
    APPEND = "APPEND"
    UPDATE_VARIABLES = "UPDATE_VARIABLES"

    @classmethod
    def parse(cls, name: str | None) -> "MergeMode":
        """etl/ClinicalDataProcessor.groovy:210-218: absent/unknown
        header defaults to REPLACE."""
        if not name:
            return cls.REPLACE
        try:
            return cls[name.strip().upper()]
        except KeyError:
            return cls.REPLACE


def biomarker_concepts(
    sample_mapping: DataFrame | None = None, snp_dataset: DataFrame | None = None
) -> DataFrame | None:
    """SO2 (I2B2_LOAD_CLINICAL_DATA.sql:1084-1107): concept codes that
    belong to HDD loads and must survive clinical fact deletion —
    the union of the 5 code columns of de_subject_sample_mapping plus
    de_subject_snp_dataset.concept_cd."""
    frames = []
    if sample_mapping is not None:
        cols = [
            "concept_code", "platform_cd", "sample_type_cd", "tissue_type_cd", "timepoint_cd",
        ]
        for c in cols:
            if c in sample_mapping.columns:
                frames.append(
                    sample_mapping.select(F.col(c).alias("concept_cd")).filter(
                        F.col("concept_cd").isNotNull()
                    )
                )
    if snp_dataset is not None and "concept_cd" in snp_dataset.columns:
        frames.append(
            snp_dataset.select("concept_cd").filter(F.col("concept_cd").isNotNull())
        )
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def _minus_biomarkers(doomed: DataFrame, biomarkers: DataFrame | None) -> DataFrame:
    if biomarkers is None:
        return doomed
    return doomed.join(F.broadcast(biomarkers), on="concept_cd", how="left_anti")


def _is_trial(trial_id: str) -> Column:
    return F.col("modifier_cd") == trial_id


def _delete_by_keys(facts: DataFrame, doomed: DataFrame, keys: list[str]) -> DataFrame:
    """DELETE-WHERE as a key anti-join: the reference deletes by
    predicate, never by row identity, so survivors are facts whose KEY
    combo is absent from the doomed set (full-row exceptAll would be
    fragile against any nondeterministic column recomputation)."""
    return facts.join(
        F.broadcast(doomed.select(*keys).distinct()), on=keys, how="left_anti"
    )


def replace_scope(
    facts: DataFrame, trial_id: str, biomarkers: DataFrame | None = None
) -> DataFrame:
    """Facts surviving a REPLACE load (:1080-1121): everything of the
    trial goes except biomarker concepts."""
    doomed = _minus_biomarkers(facts.filter(_is_trial(trial_id)), biomarkers)
    return _delete_by_keys(facts, doomed, ["modifier_cd", "concept_cd"])


def update_scope(
    facts: DataFrame,
    trial_id: str,
    updated_patients: DataFrame,
    biomarkers: DataFrame | None = None,
) -> DataFrame:
    """Facts surviving an UPDATE load (:1124-1166): only the updated
    patients' trial facts go (minus biomarkers)."""
    doomed = facts.filter(_is_trial(trial_id)).join(
        F.broadcast(updated_patients.select("patient_num").distinct()),
        on="patient_num",
        how="left_semi",
    )
    doomed = _minus_biomarkers(doomed, biomarkers)
    return _delete_by_keys(facts, doomed, ["modifier_cd", "patient_num", "concept_cd"])


def append_scope(
    facts: DataFrame,
    trial_id: str,
    updated_patients: DataFrame,
    numeric_leaf_concepts: DataFrame,
) -> DataFrame:
    """Facts surviving an APPEND load (:1284-1308): numeric facts of
    updated patients at concepts that are numeric leaves of the
    INCOMING load; text facts accumulate."""
    doomed = (
        facts.filter(_is_trial(trial_id))
        .filter(F.col("valtype_cd") == "N")
        .join(
            F.broadcast(updated_patients.select("patient_num").distinct()),
            on="patient_num",
            how="left_semi",
        )
        .join(
            F.broadcast(numeric_leaf_concepts.select("concept_cd").distinct()),
            on="concept_cd",
            how="left_semi",
        )
    )
    return _delete_by_keys(
        facts, doomed, ["modifier_cd", "patient_num", "concept_cd", "valtype_cd"]
    )


_REGEX_ESCAPE = r"([\[\]\(\)\\])"


def _variable_paths(work: DataFrame, patients: DataFrame, top_node: str) -> DataFrame:
    r"""One row per incoming (patient, variable): the resolved concept
    path (numeric/text-without-wildcard) or an anchored regexp with
    DATAVALUE ⇒ ``[^\\]+`` (I2B2_LOAD_CLINICAL_DATA.sql:1172-1178)."""
    resolved = F.concat(
        F.lit(top_node),
        F.replace(
            F.replace(
                F.coalesce(F.col("category_path"), F.lit("")),
                F.lit("DATALABEL"),
                F.coalesce(F.col("data_label"), F.lit("")),
            ),
            F.lit("VISITNAME"),
            F.coalesce(F.col("visit_name"), F.lit("")),
        ),
        F.lit("\\"),
    )
    resolved = F.regexp_replace(resolved, r"(\\){2,}", "\\\\")
    escaped = F.regexp_replace(resolved, _REGEX_ESCAPE, r"\\$1")
    pattern = F.concat(
        F.lit("^"), F.replace(escaped, F.lit("DATAVALUE"), F.lit(r"[^\\]+")), F.lit("$")
    )
    pats = patients.select(
        F.col("sourcesystem_cd").alias("usubjid"), "patient_num"
    )
    return (
        work.join(F.broadcast(pats), on="usubjid", how="inner")
        .select(
            "patient_num",
            F.col("data_type"),
            resolved.alias("resolved_path"),
            pattern.alias("path_regexp"),
        )
        .distinct()
    )


def update_variables_scope(
    facts: DataFrame,
    trial_id: str,
    work: DataFrame,
    patients: DataFrame,
    concept_dim: DataFrame,
    top_node: str,
    biomarkers: DataFrame | None = None,
) -> DataFrame:
    r"""Facts surviving an UPDATE_VARIABLES load — the reference's
    per-row cursor (:1168-1282) as one set-based plan:

    - numeric variables: exact resolved-path match ⇒ delete that
      patient's facts at the concept.
    - text variables: the DATAVALUE wildcard regexp is matched against
      concept_dimension (joined to the patient's existing facts);
      >1 matching fact row aborts ('several categorical values on the
      same path'), exactly 1 resolves the path and that patient's
      facts under the path PREFIX are deleted.

    The regexp join broadcasts the per-load variable specs (bounded by
    #variables × #patients of ONE study) against the concept
    dimension — facts are only touched by the final anti-join."""
    specs = _variable_paths(work, patients, top_node)

    trial_facts = facts.filter(_is_trial(trial_id)).select(
        "patient_num", "concept_cd", "concept_path"
    )

    # numeric: exact path
    num_doomed_keys = (
        specs.filter(F.col("data_type") != "T")
        .join(
            concept_dim.select(
                F.col("concept_path").alias("resolved_path"), "concept_cd"
            ),
            on="resolved_path",
        )
        .select("patient_num", "concept_cd")
    )

    # text: regexp-resolve against the patient's own facts
    text_specs = specs.filter(F.col("data_type") == "T")
    cd = concept_dim.select("concept_path", "concept_cd")
    matches = (
        text_specs.join(
            cd, F.expr("concept_path rlike path_regexp"), how="inner"
        )
        .join(
            trial_facts.select("patient_num", "concept_cd").alias("tf"),
            on=["patient_num", "concept_cd"],
            how="inner",
        )
    )
    counts = matches.groupBy("patient_num", "path_regexp").agg(
        F.count("*").alias("n_rows"), F.first("concept_path").alias("updated_path")
    )
    conflict = counts.filter(F.col("n_rows") > 1).limit(1).collect()
    if conflict:
        raise LoadValidationError(
            "Find several categorical value on the same path: "
            f"{conflict[0]['updated_path']} (patient {conflict[0]['patient_num']})"
        )
    # prefix delete: facts of the patient whose concept_path starts
    # with the resolved path (:1198-1204)
    resolved = counts.filter(F.col("n_rows") == 1).select(
        F.col("patient_num").alias("_pn"), "updated_path"
    )
    text_doomed_keys = (
        trial_facts.join(
            F.broadcast(resolved),
            (trial_facts["patient_num"] == F.col("_pn"))
            & trial_facts["concept_path"].startswith(F.col("updated_path")),
        )
        .select("patient_num", "concept_cd")
    )

    doomed_keys = num_doomed_keys.unionByName(text_doomed_keys).distinct()
    doomed = facts.filter(_is_trial(trial_id)).join(
        F.broadcast(doomed_keys), on=["patient_num", "concept_cd"], how="left_semi"
    )
    doomed = _minus_biomarkers(doomed, biomarkers)
    return _delete_by_keys(
        facts, doomed, ["modifier_cd", "patient_num", "concept_cd"]
    )


def merge_concept_dimension(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """EXISTING rows win for shared concept paths — the reference
    inserts only concept_dimension NOVELTY (``WHERE NOT EXISTS`` on
    concept_path, I2B2_LOAD_CLINICAL_DATA.sql:966-972) and never
    updates rows already in the warehouse.  An arbitrary
    ``dropDuplicates(["concept_path"])`` over the union could keep
    either side's row nondeterministically (e.g. a differing
    sourcesystem_cd on a shared upper node) — the same failure class
    the i2b2 merge fixed with incoming-wins; concept_dimension's
    reference semantics point the other way."""
    return existing.unionByName(
        incoming.join(
            existing.select("concept_path"), on="concept_path", how="left_anti"
        ).dropDuplicates(["concept_path"])
    )


def merge_clinical_load(
    existing,
    incoming,
    mode: MergeMode,
    trial_id: str,
    top_node: str,
    sample_mapping: DataFrame | None = None,
    snp_dataset: DataFrame | None = None,
    highlight_study: bool = False,
):
    """Merge a fresh clinical load (a ``ClinicalLoadResult``) into an
    existing warehouse of the same shape: apply the mode's fact
    deletion scope, insert the new facts, upsert patients, union the
    ontology, and recompute counts/visual attributes — the stored
    procedure's post-landing tail (:1080-1511) for reloads."""
    from tmdataloader_spark.operators.tree import (
        concept_counts,
        load_security_data,
        visual_attributes,
    )
    from tmdataloader_spark.plans.clinical import ClinicalLoadResult

    biomarkers = biomarker_concepts(sample_mapping, snp_dataset)
    facts = existing.observation_fact
    if mode is MergeMode.REPLACE:
        surviving = replace_scope(facts, trial_id, biomarkers)
    elif mode is MergeMode.UPDATE:
        surviving = update_scope(
            facts, trial_id, incoming.patient_dimension, biomarkers
        )
    elif mode is MergeMode.APPEND:
        numeric_leaves = incoming.observation_fact.filter(
            F.col("valtype_cd") == "N"
        ).select("concept_cd")
        surviving = append_scope(
            facts, trial_id, incoming.patient_dimension, numeric_leaves
        )
    else:  # UPDATE_VARIABLES
        surviving = update_variables_scope(
            facts,
            trial_id,
            incoming.work,
            incoming.patient_dimension,
            existing.concept_dimension,
            top_node,
            biomarkers,
        )

    # Delete-then-insert parity for SECURITY facts: the reference's
    # i2b2_create_security_for_trial DELETEs every SECURITY fact of
    # the trial (matching CASE WHEN modifier_cd='@' THEN
    # sourcesystem_cd ELSE modifier_cd END = TrialId,
    # i2b2_create_security_for_trial.sql:62-66) and re-inserts one
    # per patient of the POST-merge patient_dimension
    # (``where sourcesystem_cd like TrialID || ':%'``, :70-98) with
    # the current run's token.  The mode scopes alone don't guarantee
    # that (APPEND deletes only numeric facts; UPDATE keeps
    # non-updated patients' rows), so a --secure-study flip between
    # loads would leave two distinct (modifier_cd, tval_char) token
    # rows and load_security_data's sourcesystem_cd join would then
    # duplicate every i2b2 row of the study in i2b2_secure; APPEND
    # would also leave duplicate SECURITY facts per reloaded patient.
    sec_pred = (F.col("concept_cd") == "SECURITY") & (
        F.when(F.col("modifier_cd") == "@", F.col("sourcesystem_cd")).otherwise(
            F.col("modifier_cd")
        )
        == trial_id
    )
    surviving = surviving.filter(~sec_pred)
    incoming_nonsec = incoming.observation_fact.filter(~sec_pred)
    # the incoming load's token row (one row by construction:
    # create_security_for_trial stamps every column but patient_num
    # with per-trial constants)
    token = incoming.observation_fact.filter(sec_pred).drop("patient_num").distinct()
    patients = merge_patient_dimension(
        existing.patient_dimension,
        incoming.patient_dimension,
        trial_id,
        mode,
        sample_mapping,
    )
    sec_facts = (
        patients.filter(F.col("sourcesystem_cd").startswith(f"{trial_id}:"))
        .select("patient_num")
        .distinct()
        .crossJoin(F.broadcast(token))  # bounded: token is one row
        .select(incoming.observation_fact.columns)
    )
    merged_facts = (
        surviving.unionByName(incoming_nonsec).unionByName(sec_facts).cache()
    )
    concept_dim = merge_concept_dimension(
        existing.concept_dimension, incoming.concept_dimension
    )
    def _i2b2_cols(df):
        # older warehouses may predate the c_metadataxml column
        xml = (
            F.col("c_metadataxml")
            if "c_metadataxml" in df.columns
            else F.lit(None).cast("string").alias("c_metadataxml")
        )
        return df.select(
            F.col("c_fullname"), "c_hlevel", "c_name", "c_basecode",
            "valtype_cd", "sourcesystem_cd", xml,
        )

    # Incoming rows WIN for shared paths — the reference UPDATEs
    # existing i2b2 rows with the new load's name/datatype/metadataxml
    # (I2B2_LOAD_CLINICAL_DATA.sql:989-994) — so anti-join the
    # existing side against incoming paths instead of an arbitrary
    # dropDuplicates (which could nondeterministically keep the old
    # NULL c_metadataxml and defeat the carry).
    inc_i2b2 = _i2b2_cols(incoming.i2b2)
    i2b2_paths = (
        _i2b2_cols(existing.i2b2)
        .join(inc_i2b2.select("c_fullname"), on="c_fullname", how="left_anti")
        .unionByName(inc_i2b2)
    )
    # highlight threads through like load_clinical's — a merge-mode
    # reload of a --highlight-clinical-data study must keep the top
    # node FAJ instead of silently reverting it to FAS
    i2b2 = visual_attributes(
        i2b2_paths.withColumnRenamed("c_fullname", "path"),
        "path",
        study_root_path=top_node,
        highlight=highlight_study,
    ).withColumnRenamed("path", "c_fullname")
    counts = concept_counts(
        merged_facts.select(F.col("concept_path").alias("path"), "patient_num")
    )
    return ClinicalLoadResult(
        observation_fact=merged_facts,
        patient_dimension=patients,
        i2b2=i2b2,
        concept_dimension=concept_dim,
        concept_counts=counts,
        # i2b2_secure rebuilt over the merged facts — the trial's old
        # SECURITY rows were dropped above (delete-then-insert), so
        # exactly one token (the incoming load's) survives, like the
        # reference's re-run of i2b2_create_security_for_trial +
        # i2b2_load_security_data
        i2b2_secure=load_security_data(i2b2, merged_facts),
        trial_nodes=incoming.trial_nodes,
        work=incoming.work,
        trial_id=incoming.trial_id,
    )


def merge_patient_dimension(
    existing: DataFrame,
    incoming: DataFrame,
    trial_id: str,
    mode: MergeMode,
    sample_mapping: DataFrame | None = None,
) -> DataFrame:
    """Patient upsert (J9, :873-934): incoming demographics win for
    shared subjects; REPLACE drops subjects absent from the incoming
    load unless they own HDD samples (:846-870)."""
    keep = existing.join(
        incoming.select("sourcesystem_cd"), on="sourcesystem_cd", how="left_anti"
    )
    if mode is MergeMode.REPLACE:
        in_trial = keep.filter(F.col("sourcesystem_cd").startswith(f"{trial_id}:"))
        dropped = in_trial
        if sample_mapping is not None and "patient_id" in sample_mapping.columns:
            dropped = in_trial.join(
                sample_mapping.select(
                    F.col("patient_id").alias("patient_num")
                ).distinct(),
                on="patient_num",
                how="left_anti",
            )
        keep = keep.join(
            F.broadcast(dropped.select("sourcesystem_cd").distinct()),
            on="sourcesystem_cd",
            how="left_anti",
        )
    return keep.unionByName(incoming)
