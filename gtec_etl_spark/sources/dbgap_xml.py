"""dbGaP-style XML sources — S7 data_dict / var_report parser and S8
study-directory scanner (ccmm/dbgap/public_metadata.py:94-231 and :234-349
in the reference).

The reference walks an ElementTree per file on the driver. Here Spark 4's
native XML data source scans `<variable>` row tags distributed, yielding a
nested variables DataFrame (per-variable stats struct, enum value+count
arrays) — the S7 contract. The S8 filename catalog is a regexp_extract
cascade over the file listing, with the reference's substudy heuristic (a
study with no data_dict is a substudy) as an anti-join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtec_etl_spark.session import local_frame

# dbGaP file-name shape the reference parses (public_metadata.py:16-40):
#   phs000951.v2.pht005252.v2.TOPMed_WGS_Amish_Subject.data_dict.xml
FILENAME_RE = (
    r"(phs\d+)\.(v\d+)\.(pht\d+)\.(v\d+)\.([A-Za-z0-9_]+?)"
    r"\.(data_dict|var_report)\.xml$"
)


def read_data_dict(spark: SparkSession, path: str) -> DataFrame:
    """S7: one row per <variable> with id/name/type/unit and nested enum
    values; source file retained for S8-style cataloging."""
    df = (
        spark.read.format("xml")
        .option("rowTag", "variable")
        .load(path)
    )
    cols = {f.name for f in df.schema.fields}
    out = df.select(
        F.col("_id").alias("var_id"),
        F.col("name").alias("var_name"),
        *( [F.col("type").alias("var_type")] if "type" in cols else [] ),
        *( [F.col("unit").alias("unit")] if "unit" in cols else [] ),
        *(
            [
                F.expr(
                    "transform(value, v -> struct(v._code AS code, v._VALUE AS label))"
                ).alias("enum_values")
            ]
            if "value" in cols
            else []
        ),
        F.col("_metadata.file_path").alias("source_file"),
    )
    return out


VAR_REPORT_STAT_ATTRS = ("n", "nulls", "mean", "median", "min", "max", "sd")
VAR_REPORT_SUBSECTIONS = ("total", "cases", "controls")


def read_var_report(spark: SparkSession, path: str) -> DataFrame:
    """S7: variable summary statistics (n, nulls, mean, median, min, max,
    sd) and enum value counts from a var_report document, one row per
    (variable, subsection) for subsection ∈ total | cases | controls —
    the reference parses all three subsections per variable
    (ccmm/dbgap/public_metadata.py:129-158, parse_var_report_subsection),
    so case/control-stratified stats are first-class rows here, not a
    dropped branch. Variables without a cases/controls subsection (the
    common non-case-control study) simply emit no row for it.

    `n`/`nulls` stay integral (BIGINT); the remaining stats are doubles.
    enum value counts surface as n_enum_values (the per-subsection count
    of <enum><value> entries) plus a nested enum_counts array when the
    document carries any enum section."""
    df = spark.read.format("xml").option("rowTag", "variable").load(path)

    def stat_col(sub: str, attr: str):
        typ = "long" if attr in ("n", "nulls") else "double"
        out_name = f"stat_{attr}" if attr in ("min", "max") else attr
        if _has_nested_field(df.schema, [sub, "stats", "stat"]):
            return (
                F.col(f"{sub}.stats.stat._{attr}").cast(typ).alias(out_name)
                if _has_nested_field(df.schema, [sub, "stats", "stat", f"_{attr}"])
                else F.lit(None).cast(typ).alias(out_name)
            )
        return F.lit(None).cast(typ).alias(out_name)

    def enum_cols(sub: str):
        if _has_nested_field(df.schema, [sub, "stats", "enum"]):
            return [
                F.coalesce(F.size(f"{sub}.stats.enum.value"), F.lit(0))
                .cast("long")
                .alias("n_enum_values"),
                F.expr(
                    f"transform({sub}.stats.enum.value,"
                    " v -> struct(v._VALUE AS label, v._count AS n))"
                ).alias("enum_counts"),
            ]
        return [
            F.lit(0).cast("long").alias("n_enum_values"),
            F.lit(None)
            .cast("array<struct<label:string,n:bigint>>")
            .alias("enum_counts"),
        ]

    parts = []
    for sub in VAR_REPORT_SUBSECTIONS:
        if sub not in {f.name for f in df.schema.fields}:
            continue
        parts.append(
            df.filter(F.col(sub).isNotNull()).select(
                F.col("_id").alias("var_id"),
                F.col("name").alias("var_name"),
                F.lit(sub).alias("subsection"),
                *[stat_col(sub, a) for a in VAR_REPORT_STAT_ATTRS],
                *enum_cols(sub),
                F.col("_metadata.file_path").alias("source_file"),
            )
        )
    if not parts:
        found = sorted(f.name for f in df.schema.fields)
        raise ValueError(
            "read_var_report: document at %r has none of the var_report "
            "subsections %s — found top-level fields %s. Was a data_dict "
            "passed by mistake? Use read_data_dict for those."
            % (path, "/".join(VAR_REPORT_SUBSECTIONS), found)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _has_nested_field(schema, path: list[str]) -> bool:
    """True iff the dotted field path exists in the inferred XML schema
    (enum sections are absent for purely numeric var_reports)."""
    from pyspark.sql.types import StructType

    cur = schema
    for name in path:
        if not isinstance(cur, StructType) or name not in cur.fieldNames():
            return False
        cur = cur[name].dataType
    return True


def scan_study_directory(spark: SparkSession, directory: str) -> DataFrame:
    """S8 (public_metadata.py:234-266): regex-parse every metadata filename
    in a study directory into (study_id, study_version, phenotype_id,
    table_name, metadata_type)."""
    names = [
        (f,) for f in sorted(os.listdir(directory)) if f.endswith(".xml")
    ]
    files = local_frame(spark, names, "file_name string")
    parsed = files.select(
        "file_name",
        F.regexp_extract("file_name", FILENAME_RE, 1).alias("study_id"),
        F.regexp_extract("file_name", FILENAME_RE, 2).alias("study_version"),
        F.regexp_extract("file_name", FILENAME_RE, 3).alias("phenotype_id"),
        F.regexp_extract("file_name", FILENAME_RE, 4).alias("table_version"),
        F.regexp_extract("file_name", FILENAME_RE, 5).alias("table_name"),
        F.regexp_extract("file_name", FILENAME_RE, 6).alias("metadata_type"),
    ).filter(F.col("study_id") != "")
    return parsed


def substudies(catalog_df: DataFrame) -> DataFrame:
    """P7 substudy heuristic (public_metadata.py:279-299): studies with no
    data_dict file are substudies — derived with an anti-join."""
    with_dd = catalog_df.filter(F.col("metadata_type") == "data_dict").select(
        "study_id"
    ).distinct()
    return (
        catalog_df.select("study_id").distinct().join(with_dd, "study_id", "left_anti")
    )
