"""Comment-aware TSV reading (SURVEY.md §2.1 S1/S2).

Reference: files/CsvLikeFile.groovy:20-167 — Apache-commons-CSV TDF
parse, ``#``-prefixed comment lines skipped, ragged rows tolerated
(short rows padded, long rows trimmed, with warnings), UTF-8 malformed
chars replaced; files/MetaInfoHeader.groovy — leading ``# KEY: value``
comment lines become per-file metadata.

Spark shape: ``spark.read.csv`` with sep='\t', comment='#',
PERMISSIVE mode. Ragged-row padding is what PERMISSIVE already does
(missing trailing fields → null); extra fields are dropped by the
schema width. Head-metadata is a driver-side read of the first few KB
— it configures the job (STUDY_ID, MERGE_MODE…), it is not data.
"""

from __future__ import annotations

import io
import os
import re

from pyspark.sql import DataFrame, SparkSession


def read_tsv(
    spark: SparkSession,
    path: str | os.PathLike,
    header: bool = True,
    comment: str = "#",
    schema=None,
) -> DataFrame:
    """S1: tab-separated read, comment lines skipped, RFC4180 quotes
    (the reference uses commons-CSV TDF which doubles quotes)."""
    # Spark's comment option is a single char; the reference's two-char
    # '# ' prefix (CsvLikeFile) degrades to '#' here — same effect on
    # all fixture/real files (VCF's '#CHROM' lines are handled by the
    # dedicated VCF reader, not this one).
    reader = (
        spark.read.option("sep", "\t")
        .option("header", str(header).lower())
        .option("comment", comment[:1])
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("encoding", "UTF-8")
    )
    many = isinstance(path, (list, tuple))
    if schema is None and header and not many and os.path.isfile(path):
        # one local file: read its header here instead of in a Spark job
        schema = _header_schema(spark, path, comment[:1])
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv([str(p) for p in path] if many else str(path))


def _header_schema(spark: SparkSession, path: str | os.PathLike, comment: str):
    """The all-string schema ``spark.read.csv(header=True)`` would infer
    for one file, built from the header row read on the driver, so the
    read launches no header-scan job. Spark's safe-header rules apply
    (``CSVDataSource.makeSafeHeader``): an empty cell becomes
    ``_c<i>``, and a name repeated in the header (case-insensitively,
    unless ``spark.sql.caseSensitive``) becomes ``<name><i>``. Returns
    None for a file without a header row."""
    from collections import Counter

    from pyspark.sql.types import StringType, StructField, StructType

    names = data_file_columns(path, comment)
    if not names:
        return None
    # Spark parses boolean confs case-insensitively ("TRUE", " True")
    case_sensitive = (
        spark.conf.get("spark.sql.caseSensitive", "false").strip().lower() == "true"
    )
    keys = [n if case_sensitive else n.lower() for n in names]
    repeated = {k for k, n in Counter(keys).items() if n > 1}
    safe = [
        f"_c{i}" if not n else f"{n}{i}" if k in repeated else n
        for i, (n, k) in enumerate(zip(names, keys))
    ]
    return StructType([StructField(n, StringType()) for n in safe])


_META_RE = re.compile(r"^#\s*([A-Za-z0-9_]+)\s*:\s*(.*?)\s*$")


def read_head_meta(path: str | os.PathLike) -> dict[str, str]:
    """S2: leading ``# KEY: value`` lines → dict
    (files/MetaInfoHeader.groovy, read through the
    HeadCommentsReader.groovy wrapper that skips the comment block;
    used e.g. at etl/VCFDataProcessor.groovy:25-31 for
    STUDY_ID/MERGE_MODE)."""
    meta: dict[str, str] = {}
    with io.open(path, "r", encoding="utf-8", errors="replace") as fh:
        for line in fh:
            if not line.startswith("#"):
                break
            m = _META_RE.match(line.rstrip("\n"))
            if m:
                meta[m.group(1).upper()] = m.group(2)
    return meta


def data_file_columns(path: str | os.PathLike, comment: str = "#") -> list[str]:
    """Driver-side peek at a TSV header row, the raw cells as written
    (CsvLikeFile.header): the first line that is neither blank nor a
    comment, which is the line Spark takes as the header. ``read_tsv``
    builds its schema from it."""
    import csv

    # utf-8-sig: Hadoop's line reader drops a leading byte-order mark
    with io.open(path, "r", encoding="utf-8-sig", errors="replace") as fh:
        for line in fh:
            # Spark's SQL trim: a line of tabs is a header, not a blank
            if line.startswith(comment) or not line.strip(" \n"):
                continue
            return next(csv.reader([line], delimiter="\t"))
    return []
