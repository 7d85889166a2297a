r"""Deterministic tranSMART study generator for the upload workload.

Writes one tm_etl study directory in the reference's file formats
(FIXTURES.md sections 1-5): a clinical mapping file plus its data file,
and a subject-sample mapping, a GPL platform file and a wide raw (R)
gene-expression matrix.  Only the standard library is used, and the same
seed always writes byte-identical files.

``write_study`` returns the rows it expects the warehouse to hold for
the study after one upload, derived from the cells it wrote and the
loader's rules:

- ``observation_fact``: one fact per non-blank clinical cell, one
  SECURITY fact per clinical patient, one fact per sample;
- ``patient_dimension``: one row per subject from the clinical data and
  one per subject from the sample mapping (the loader keeps both);
- ``i2b2``: the clinical nodes at or below the top node, plus the
  expression nodes (top node, ``Biomarker Data``, platform, tissue);
- ``concept_dimension`` / ``concept_counts``: the clinical nodes;
- ``de_subject_sample_mapping``: one row per sample;
- ``de_subject_expression_data``: probes x samples.
"""

from __future__ import annotations

import os
import random

PARENT_NODE = "\\Public Studies"
VISITS = ("Baseline", "Week 12", "Week 24", "Week 48")
CATEGORIES = ("Low", "Medium", "High", "Very High")
PLATFORM = "GPL9999"
PLATFORM_TITLE = "Bench Array"
TISSUE = "Blood"


def _write(path: str, lines: list[str]) -> int:
    text = "\n".join(lines) + "\n"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return len(text.encode("utf-8"))


def _clinical(
    rng: random.Random,
    type_dir: str,
    study_id: str,
    subjects: list[str],
    n_visits: int,
    n_numeric: int,
    n_categorical: int,
    blank_frac: float,
) -> tuple[int, int, set[tuple[str, ...]]]:
    """Write one clinical data file and its mapping; returns (bytes,
    non-blank cells, leaf paths relative to the top node)."""
    os.makedirs(type_dir, exist_ok=True)
    numeric = [f"N{i:02d}" for i in range(1, n_numeric + 1)]
    categorical = [f"C{i:02d}" for i in range(1, n_categorical + 1)]
    data_file = f"{study_id}_clinical.txt"
    mapping = ["filename\tcategory_cd\tcol_nbr\tdata_label"]
    mapping += [
        f"{data_file}\t\t1\tSTUDY_ID",
        f"{data_file}\t\t2\tSUBJ_ID",
        f"{data_file}\t\t3\tVISIT_NAME",
    ]
    for i, name in enumerate(numeric + categorical, 4):
        folder = "Numeric" if name in numeric else "Categorical"
        mapping.append(f"{data_file}\t{folder}\t{i}\t{name}")

    rows = ["\t".join(["STUDY_ID", "SUBJ_ID", "VISIT_NAME", *numeric, *categorical])]
    cells = 0
    leaves: set[tuple[str, ...]] = set()
    for subj in subjects:
        for visit in VISITS[:n_visits]:
            # a study with a single visit keeps no visit level (cleansing F7)
            tail = (visit,) if n_visits > 1 else ()
            vals = []
            for name in numeric:
                if rng.random() < blank_frac:
                    vals.append("")
                    continue
                vals.append(f"{rng.gauss(50.0, 15.0):.2f}")
                leaves.add(("Numeric", name, *tail))
                cells += 1
            for name in categorical:
                if rng.random() < blank_frac:
                    vals.append("")
                    continue
                value = rng.choice(CATEGORIES)
                vals.append(value)
                leaves.add(("Categorical", name, value, *tail))
                cells += 1
            rows.append("\t".join([study_id, subj, visit, *vals]))
    size = _write(os.path.join(type_dir, f"{study_id}_Mapping_File.txt"), mapping)
    size += _write(os.path.join(type_dir, data_file), rows)
    return size, cells, leaves


def _expression(
    rng: random.Random, type_dir: str, study_id: str, subjects: list[str], n_probes: int
) -> tuple[int, int]:
    """Write the subject-sample mapping, GPL file and raw matrix (one
    sample per subject); returns (bytes, samples)."""
    os.makedirs(type_dir, exist_ok=True)
    samples = [f"SMP{i:06d}" for i in range(len(subjects))]
    mapping = [
        "STUDY_ID\tSITE_ID\tSUBJECT_ID\tSAMPLE_ID\tPLATFORM\tTISSUETYPE"
        "\tATTR1\tATTR2\tCATEGORY_CD"
    ]
    mapping += [
        f"{study_id}\t\t{subj}\t{smp}\t{PLATFORM}\t{TISSUE}\t\t\tBiomarker_Data+PLATFORM+TISSUETYPE"
        for subj, smp in zip(subjects, samples)
    ]
    size = _write(
        os.path.join(type_dir, f"{study_id}_Subject_Sample_Mapping_File.txt"), mapping
    )
    probes = [f"{100000 + i}_at" for i in range(n_probes)]
    gpl = [
        f"#PLATFORM_ID: {PLATFORM}",
        f"#PLATFORM_TITLE: {PLATFORM_TITLE}",
        "#SPECIES: Homo sapiens",
        "ID\tGene Symbol\tENTREZ_GENE_ID\tSpecies Scientific Name",
    ]
    gpl += [
        f"{p}\tGENE{i % 5000}\t{1000 + i % 5000}\tHomo sapiens"
        for i, p in enumerate(probes)
    ]
    size += _write(os.path.join(type_dir, f"{PLATFORM}.txt"), gpl)
    matrix = ["\t".join(["ID_REF", *samples])]
    for p in probes:
        level = rng.gauss(8.0, 1.5)
        matrix.append(
            "\t".join([p, *(f"{2 ** rng.gauss(level, 0.5):.3f}" for _ in samples)])
        )
    size += _write(os.path.join(type_dir, f"{study_id}_Gene_Expression_Data_R.txt"), matrix)
    return size, len(samples)


def write_study(
    root: str,
    seed: int,
    n_subjects: int,
    n_probes: int,
    n_visits: int = 2,
    n_numeric: int = 3,
    n_categorical: int = 3,
    blank_frac: float = 0.05,
    study_id: str = "BENCHHDD",
    name: str = "Bench Expression",
) -> dict:
    """A study with clinical data (subjects x visits rows of numeric and
    categorical variables, ``blank_frac`` of the cells empty) and an
    ``n_probes`` x ``n_subjects`` expression matrix.  Returns the data
    dir to upload, the input bytes and the expected warehouse rows."""
    rng = random.Random(f"study:{seed}")
    data_dir = os.path.join(root, study_id.lower())
    study = os.path.join(data_dir, f"{name}_{study_id}")
    subjects = [f"P{i:06d}" for i in range(n_subjects)]
    size, cells, leaves = _clinical(
        rng, os.path.join(study, "ClinicalDataToUpload"), study_id, subjects,
        n_visits, n_numeric, n_categorical, blank_frac,
    )
    hdd_size, n_samples = _expression(
        rng, os.path.join(study, "ExpressionDataToUpload"), study_id, subjects, n_probes
    )
    # every prefix of every leaf, the top node () included
    clinical_nodes = len({leaf[:i] for leaf in leaves for i in range(len(leaf) + 1)})
    return {
        "study_id": study_id,
        "top_node": f"{PARENT_NODE}\\{name}\\",
        "data_dir": data_dir,
        "input_bytes": size + hdd_size,
        "rows": {
            "observation_fact": cells + n_subjects + n_samples,
            "patient_dimension": n_subjects + n_samples,
            "i2b2": clinical_nodes + 4,
            "concept_dimension": clinical_nodes,
            "concept_counts": clinical_nodes,
            "deapp/de_subject_sample_mapping": n_samples,
            "deapp/de_subject_expression_data": n_samples * n_probes,
        },
    }
