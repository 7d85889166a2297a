r"""Study operations: move-by-path and delete-all-data (SURVEY.md §2.9
T8/T9, §3.4).

Reference:
- sql/postgres/procedures/I2B2_MOVE_STUDY_BY_PATH.sql (604 LoC):
  slash normalization (:93-95), existence/duplicate/root-target
  validations (:100-145), keep-security target replacement (:158-208),
  new-root creation (:245-263), childless-old-root removal (:264-303),
  multi-table path rewrite (:319-428), missing-level fill-in
  (:430-462), empty-old-level pruning (:463-491), hlevel recompute
  (:493-512), sub-node visual attrs + counts (:517-524)
- sql/postgres/procedures/I2B2_DELETE_ALL_DATA.sql:108-310 (~20
  tables: ontology by path prefix, facts/patients by trial, every
  deapp per-omics frame by trial_name, variant tables by dataset id,
  PLINK blobs by study)

Spark shape: the ontology/count/dimension tables are small next to
facts — all the per-node decisions (root childless? level empty?) run
on them; the only big-frame work is the single path-prefix column
rewrite on observation_fact and the per-trial partition filters, each
one narrow scan, no shuffle.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace as dc_replace

from pyspark.sql import DataFrame, functions as F

from tmdataloader_spark.operators.dedup import LoadValidationError
from tmdataloader_spark.operators.tree import concept_counts as compute_concept_counts
from tmdataloader_spark.session import local_frame


@dataclass
class StudyWarehouse:
    """The cross-table state the operations act on. ``deapp`` holds
    per-omics frames filtered by ``trial_name``; ``variants`` holds
    the 6 VCF frames filtered by ``dataset_id`` prefix."""

    i2b2: DataFrame
    concept_dimension: DataFrame
    observation_fact: DataFrame
    patient_dimension: DataFrame
    concept_counts: DataFrame | None = None
    table_access: DataFrame | None = None  # root-node registry (c_fullname, c_name)
    i2b2_tags: DataFrame | None = None  # (path, tag, tag_type)
    deapp: dict = field(default_factory=dict)
    variants: dict = field(default_factory=dict)
    #: biomart metadata tables (bio_experiment, bio_data_uid, links)
    biomart: dict = field(default_factory=dict)
    #: searchapp ACL tables (search_secure_object, access rows)
    searchapp: dict = field(default_factory=dict)


def normalize_path(p: str) -> str:
    r"""``a\b`` / ``\a\b\`` / ``\\a\\\b`` → ``\a\b\``
    (I2B2_MOVE_STUDY_BY_PATH.sql:93-95)."""
    p = (p or "").strip()
    return re.sub(r"\\{2,}", "\\\\", "\\" + p + "\\")


def _replace_prefix(col, old: str, new: str):
    return F.when(
        col.startswith(old),
        F.concat(F.lit(new), F.substring(col, len(old) + 1, 2_000_000)),
    ).otherwise(col)


def _ancestors(path: str) -> list[str]:
    parts = [p for p in path.split("\\") if p]
    return ["\\" + "\\".join(parts[: i + 1]) + "\\" for i in range(len(parts))]


def _paths_in(df: DataFrame, col: str, paths: list[str]) -> set[str]:
    if not paths:
        return set()
    rows = df.filter(F.col(col).isin(paths)).select(col).distinct().collect()
    return {r[0] for r in rows}


def _parent_path(path: str) -> str | None:
    r"""``\A\B\`` → ``\A\``; ``\A\`` → None (no parent below root)."""
    parts = [p for p in path.split("\\") if p]
    if len(parts) <= 1:
        return None
    return "\\" + "\\".join(parts[:-1]) + "\\"


def delete_all_data(
    wh: StudyWarehouse, trial_id: str | None = None, path: str | None = None
) -> StudyWarehouse:
    """T9 (I2B2_DELETE_ALL_DATA.sql:108-310): remove a study
    everywhere — ontology/counts/tags by path prefix, facts + patients
    by trial, every registered deapp frame by trial_name, variant
    frames by ``trial:`` dataset prefix. Dropping the study's rows
    from the deapp frames is also this repo's analog of
    I2B2_DELETE_PARTITION.sql (the reference physically drops the
    study's inherits-partition table there; our per-study parquet
    partitions disappear with their rows — see
    plans/hdd.write_partitioned).

    Reference parity details: the trial id matches case-insensitively
    (DeleteDataProcessor.groovy:21 upper-cases it before the call),
    and after the subtree is gone, now-childless ancestor nodes are
    deleted too (the 'check and delete top node, if removed node is
    last' recursion at I2B2_DELETE_ALL_DATA.sql:300-331) — deleting
    the last study under a program folder removes the folder."""
    if trial_id is not None:
        trial_id = trial_id.upper()
    if path is not None:
        path = normalize_path(path)
        if trial_id is None:
            hit = (
                wh.concept_dimension.filter(F.col("concept_path") == path)
                .select("sourcesystem_cd")
                .limit(1)
                .collect()
            )
            trial_id = hit[0][0] if hit else None
    if path is None and trial_id is not None:
        hit = (
            wh.i2b2.filter(F.upper(F.col("sourcesystem_cd")) == trial_id)
            .agg(F.min("c_fullname"))
            .collect()
        )
        path = hit[0][0] if hit else None
    if path is None and trial_id is None:
        raise LoadValidationError("delete_all_data needs a trial id or a path")

    def not_under(col):
        return ~F.col(col).startswith(path) if path else F.lit(True)

    i2b2 = wh.i2b2.filter(not_under("c_fullname"))
    concept_dim = wh.concept_dimension.filter(not_under("concept_path"))
    counts = (
        wh.concept_counts.filter(not_under("concept_path"))
        if wh.concept_counts is not None
        else None
    )
    tags = (
        wh.i2b2_tags.filter(not_under("path")) if wh.i2b2_tags is not None else None
    )
    table_access = (
        wh.table_access.filter(not_under("c_fullname"))
        if wh.table_access is not None
        else None
    )
    if trial_id is not None:
        facts = wh.observation_fact.filter(
            F.upper(F.col("sourcesystem_cd")) != trial_id
        )
        patients = wh.patient_dimension.filter(
            ~F.upper(F.col("sourcesystem_cd")).startswith(f"{trial_id}:")
        )
        # only trial-scoped frames are study data; dimension tables
        # without a trial_name column (de_gpl_info — the platform
        # registry I2B2_DELETE_ALL_DATA never touches) pass through
        deapp = {
            name: (
                frame.filter(F.upper(F.col("trial_name")) != trial_id)
                if "trial_name" in frame.columns
                else frame
            )
            for name, frame in wh.deapp.items()
        }
        variants = {
            name: frame.filter(
                ~F.upper(F.col("dataset_id")).startswith(f"{trial_id}:")
            )
            for name, frame in wh.variants.items()
        }
    else:
        facts = wh.observation_fact.filter(not_under("concept_path"))
        patients, deapp, variants = wh.patient_dimension, wh.deapp, wh.variants
    out = dc_replace(
        wh,
        i2b2=i2b2,
        concept_dimension=concept_dim,
        observation_fact=facts,
        patient_dimension=patients,
        concept_counts=counts,
        table_access=table_access,
        i2b2_tags=tags,
        deapp=deapp,
        variants=variants,
    )

    # ascend: delete ancestor nodes left childless by this removal
    # (bounded by path depth; two limit-1 probes per level — control
    # plane, like the trial-resolution probes above)
    top = _parent_path(path) if path else None
    while top is not None:
        exists = out.i2b2.filter(F.col("c_fullname") == top).limit(1).count()
        has_children = (
            out.i2b2.filter(
                F.col("c_fullname").startswith(top) & (F.col("c_fullname") != top)
            )
            .limit(1)
            .count()
        )
        if not exists or has_children:
            break
        drop = lambda col: F.col(col) != top  # noqa: E731
        out = dc_replace(
            out,
            i2b2=out.i2b2.filter(drop("c_fullname")),
            concept_dimension=out.concept_dimension.filter(drop("concept_path")),
            concept_counts=(
                out.concept_counts.filter(drop("concept_path"))
                if out.concept_counts is not None
                else None
            ),
            i2b2_tags=(
                out.i2b2_tags.filter(drop("path"))
                if out.i2b2_tags is not None
                else None
            ),
            table_access=(
                out.table_access.filter(drop("c_fullname"))
                if out.table_access is not None
                else None
            ),
        )
        top = _parent_path(top)
    return out


def check_study_conflicts(
    wh: StudyWarehouse,
    trial_id: str,
    top_node: str,
    replace_study: bool = False,
) -> StudyWarehouse:
    r"""Pre-load study path/id conflict guards + ``--replace-study``
    (AbstractDataProcessor.groovy:55,80-116 — ``checkStudiesBySamePath``
    then ``checkStudyExist``, run by every data processor before it
    stages data):

    - more than one distinct study id under ``top_node`` aborts
      ("path contains several different studyIds");
    - exactly one OTHER study id there aborts ("Other study by the
      same path found with different studyId") unless
      ``replace_study``, which instead deletes the old study first
      (DeleteDataProcessor by id, :97-101);
    - the incoming id already rooted at a DIFFERENT path aborts
      ("Other study with same id found by different path") — the
      reference's ``min(c_fullname)`` per sourcesystem_cd probe.

    ``top_node`` is the study root WITH the trailing backslash (the
    Groovy normalizes to that at :55, so its ``LIKE node || '%'``
    cannot match sibling prefixes like ``Test Study 2``).  All three
    probes are control-plane lookups against the (dimension-sized)
    ontology frame.  Returns the (possibly replace-pruned) warehouse.
    """
    top_node = normalize_path(top_node)
    ids = [
        r["sourcesystem_cd"]
        for r in wh.i2b2.filter(
            F.col("sourcesystem_cd").isNotNull()
            & F.col("c_fullname").startswith(top_node)
        )
        .select("sourcesystem_cd")
        .distinct()
        .orderBy("sourcesystem_cd")
        .collect()
    ]
    if len(ids) > 1:
        raise LoadValidationError(
            f"'{top_node}' path contains several different studyIds: {ids}"
        )
    old_id = ids[0] if ids else None
    if old_id and replace_study:
        # "Found another study by path ... Removing" (:98-100) —
        # same-id removal included; the upload then lands cleanly
        wh = delete_all_data(wh, trial_id=old_id)
    elif old_id and old_id != trial_id:
        raise LoadValidationError(
            "Other study by the same path found with different studyId: "
            f"old = '{old_id}', new = '{trial_id}'"
        )
    rooted = (
        wh.i2b2.filter(F.col("sourcesystem_cd") == trial_id.upper())
        .agg(F.min("c_fullname"))
        .first()[0]
    )
    if rooted is not None and rooted != top_node:
        raise LoadValidationError(
            f"Other study with same id found by different path: {rooted}"
        )
    return wh


def move_study_by_path(
    wh: StudyWarehouse,
    old_path_in: str,
    new_path_in: str,
    keep_security: bool = False,
) -> StudyWarehouse:
    """T8 — the full I2B2_MOVE_STUDY_BY_PATH semantics on the
    warehouse frames (the procedure MoveStudyProcessor.groovy invokes
    with its keepSecurity flag). Raises :class:`LoadValidationError`
    on the reference's abort conditions."""
    old_path = normalize_path(old_path_in)
    new_path = normalize_path(new_path_in)
    if old_path == "\\\\" or new_path == "\\\\":
        raise LoadValidationError("New or old path is empty")
    if old_path == new_path:
        raise LoadValidationError("Please select different old and new paths")

    spark = wh.i2b2.sparkSession
    if wh.i2b2.filter(F.col("c_fullname") == old_path).limit(1).count() == 0:
        raise LoadValidationError("Please select exists study path to move")

    old_root = _ancestors(old_path)[0]
    new_root = _ancestors(new_path)[0]
    new_root_name = new_root.strip("\\")
    new_last_name = [p for p in new_path.split("\\") if p][-1]
    if new_root == new_path:
        raise LoadValidationError(
            "Please select new study target path: it can not be root node"
        )

    trial_hit = (
        wh.concept_dimension.filter(F.col("concept_path") == old_path)
        .select("sourcesystem_cd")
        .limit(1)
        .collect()
    )
    trial_id = trial_hit[0][0] if trial_hit else None
    study_path_hit = (
        wh.i2b2.filter(F.col("sourcesystem_cd") == trial_id)
        .agg(F.min("c_fullname"))
        .collect()
        if trial_id is not None
        else []
    )
    old_study_path = study_path_hit[0][0] if study_path_hit else old_path
    is_sub_node = old_path != old_study_path
    if is_sub_node and (old_study_path not in new_path or old_study_path == new_path):
        raise LoadValidationError(
            "Invalid target path: new subfolder path should be inside of study root"
        )

    # keep-security: an existing study at the target is deleted first
    # (its facts replaced by the moved study's — :158-208)
    target_exists = (
        wh.i2b2.filter(F.col("c_fullname") == new_path).limit(1).count() > 0
    )
    if keep_security and target_exists:
        wh = delete_all_data(wh, path=new_path)
        target_exists = False
    if target_exists and not old_path.startswith(new_path):
        raise LoadValidationError("Study target path is already exists")

    i2b2 = wh.i2b2
    table_access = wh.table_access

    # new root node (:245-263)
    if i2b2.filter(F.col("c_fullname") == new_root).limit(1).count() == 0:
        root_row = local_frame(
            spark,
            [(new_root, 0, new_root_name, None, None, None)],
            "c_fullname string, c_hlevel int, c_name string, c_basecode string, "
            "valtype_cd string, sourcesystem_cd string",
        )
        for c in i2b2.columns:
            if c not in root_row.columns:
                root_row = root_row.withColumn(c, F.lit(None).cast("string"))
        i2b2 = i2b2.unionByName(root_row.select(i2b2.columns))
        if table_access is not None:
            table_access = table_access.unionByName(
                local_frame(
                    spark, [(new_root, new_root_name)], "c_fullname string, c_name string"
                )
            )

    # childless old root removed (:264-303)
    if old_root != new_root:
        others = (
            i2b2.filter(F.col("c_fullname").startswith(old_root))
            .filter(~F.col("c_fullname").startswith(old_path))
            .count()
        )
        if others == 1:  # only the root itself
            i2b2 = i2b2.filter(F.col("c_fullname") != old_root)
            if table_access is not None:
                table_access = table_access.filter(F.col("c_fullname") != old_root)
            wh = dc_replace(
                wh,
                concept_dimension=wh.concept_dimension.filter(
                    F.col("concept_path") != old_root
                ),
            )

    # multi-table path rewrite (:319-428)
    i2b2 = i2b2.withColumn(
        "c_fullname", _replace_prefix(F.col("c_fullname"), old_path, new_path)
    )
    i2b2 = i2b2.withColumn(
        "c_name",
        F.when(F.col("c_fullname") == new_path, F.lit(new_last_name)).otherwise(
            F.col("c_name")
        ),
    )
    concept_dim = wh.concept_dimension.withColumn(
        "concept_path", _replace_prefix(F.col("concept_path"), old_path, new_path)
    )
    facts = wh.observation_fact.withColumn(
        "concept_path", _replace_prefix(F.col("concept_path"), old_path, new_path)
    )
    tags = (
        wh.i2b2_tags.withColumn("path", _replace_prefix(F.col("path"), old_path, new_path))
        if wh.i2b2_tags is not None
        else None
    )
    deapp = {
        name: (
            frame.withColumn(
                "concept_path",
                _replace_prefix(F.col("concept_path"), old_path, new_path),
            )
            if "concept_path" in frame.columns
            else frame
        )
        for name, frame in wh.deapp.items()
    }

    # missing-level fill-in (:430-462): every ancestor of new_path
    # that is not yet a node becomes one
    existing = _paths_in(i2b2, "c_fullname", _ancestors(new_path))
    missing = [p for p in _ancestors(new_path) if p not in existing]
    if missing:
        rows = [
            (
                p,
                p.count("\\") - 2,
                [x for x in p.split("\\") if x][-1],
                None,
                None,
                trial_id if is_sub_node else None,
            )
            for p in missing
        ]
        add = local_frame(
            spark,
            rows,
            "c_fullname string, c_hlevel int, c_name string, c_basecode string, "
            "valtype_cd string, sourcesystem_cd string",
        )
        for c in i2b2.columns:
            if c not in add.columns:
                add = add.withColumn(c, F.lit(None).cast("string"))
        i2b2 = i2b2.unionByName(add.select(i2b2.columns))
        concept_dim = concept_dim.unionByName(
            add.select(
                F.col("c_fullname").alias("concept_path"),
                F.sha2(F.col("c_fullname"), 256).substr(1, 16).alias("concept_cd"),
                F.col("c_name").alias("name_char"),
                "sourcesystem_cd",
            ).select(concept_dim.columns)
        )

    # empty-old-level pruning (:463-491): old ancestors that now have
    # no descendants are deleted. ONE scan computes, per ancestor, how
    # many non-ancestor descendants remain; the bottom-up cascade (a
    # level whose only descendants were deeper pruned levels is itself
    # empty) then resolves in plain Python — the reference's per-level
    # EXISTS loop would be one full scan per depth.
    old_ancs = _ancestors(old_path)[:-1]
    if old_ancs:
        flags_row = i2b2.filter(~F.col("c_fullname").isin(old_ancs)).agg(
            *[
                F.max(
                    F.when(F.col("c_fullname").startswith(anc), 1).otherwise(0)
                ).alias(f"a{i}")
                for i, anc in enumerate(old_ancs)
            ]
        ).collect()[0]
        removed: list[str] = []
        survivor_below = False
        for i in range(len(old_ancs) - 1, -1, -1):  # deepest first
            if flags_row[i] == 1 or survivor_below:
                survivor_below = True
            else:
                removed.append(old_ancs[i])
        if removed:
            i2b2 = i2b2.filter(~F.col("c_fullname").isin(removed))
            concept_dim = concept_dim.filter(~F.col("concept_path").isin(removed))
            if table_access is not None:
                table_access = table_access.filter(~F.col("c_fullname").isin(removed))

    # hlevel recompute for the moved subtree (:493-512):
    # (#separators − 2), i.e. root = 0
    i2b2 = i2b2.withColumn(
        "c_hlevel",
        F.when(
            F.col("c_fullname").startswith(new_path)
            | F.col("c_fullname").isin(_ancestors(new_path)),
            F.length("c_fullname")
            - F.length(F.replace(F.col("c_fullname"), F.lit("\\"), F.lit("")))
            - 2,
        )
        .otherwise(F.col("c_hlevel"))
        .cast("int"),
    )

    # counts recomputed from the rewritten facts (:408-428,517-524).
    # I2B2_CREATE_CONCEPT_COUNTS runs SCOPED to a study path (:457 for
    # the moved study, :521 for a sub-node move), so counts rows exist
    # only at/below a study root — folders created ABOVE a moved study
    # (the '\Root Update\C\' in testItCheckUpdateConceptCounts*) carry
    # NO counts row. Scope = per-trial min path; the roots frame is
    # trial-sized, so the prefix semi-join broadcasts.
    study_roots = (
        i2b2.filter(F.col("sourcesystem_cd").isNotNull())
        .groupBy("sourcesystem_cd")
        .agg(F.min("c_fullname").alias("_study_root"))
        .select("_study_root")
    )
    counts_all = compute_concept_counts(
        facts.select(F.col("concept_path").alias("path"), "patient_num")
    )
    counts = counts_all.join(
        F.broadcast(study_roots),
        counts_all["concept_path"].startswith(F.col("_study_root")),
        "left_semi",
    )

    # Truncate lineage of the SMALL ontology frames before handing the
    # warehouse back: the reference materializes every operation into
    # DB tables, so each op starts from flat state. Without this,
    # chained operations (move → move, keep-security delete → move)
    # stack unions/withColumns/filters into a plan whose serialized
    # task graph grows without bound — each probe action re-executes
    # the whole history and task deserialization eventually OOMs.
    # localCheckpoint is the Spark analog for the driver-side state;
    # observation_fact stays LAZY (its rewrite is one narrow map — at
    # 100 TB you write it back to the fact table instead).
    i2b2 = i2b2.localCheckpoint(eager=False)
    concept_dim = concept_dim.localCheckpoint(eager=False)
    counts = counts.localCheckpoint(eager=False)
    if table_access is not None:
        table_access = table_access.localCheckpoint(eager=False)
    if tags is not None:
        tags = tags.localCheckpoint(eager=False)
    return dc_replace(
        wh,
        i2b2=i2b2,
        concept_dimension=concept_dim,
        observation_fact=facts,
        concept_counts=counts,
        table_access=table_access,
        i2b2_tags=tags,
        deapp=deapp,
    )
