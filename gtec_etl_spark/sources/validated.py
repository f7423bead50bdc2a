"""Declared-schema validated readers — the S1 source family
(ccmm/gtex/parsers/util.py:31-105 in the reference).

The reference reads TSVs row-at-a-time, checking each cell against a
declared column spec (regex / closed vocabulary / integer-code decode /
nullability), indexes rows by primary key, and fatals with a line number on
the first violation. The Spark re-expression keeps the observable contract —
declared schema, per-column validation, duplicate-PK detection, hard failure
with row diagnostics — but runs it as ONE distributed constraint pass that
produces a violations DataFrame; fail-fast = assert the pass is empty
(SURVEY.md §7.4 "fail-fast on a lazy engine").

All checks are native column expressions (rlike / isin / map lookup), so a
100 TB validation run is a single scan with whole-stage codegen, no Python.
"""

from __future__ import annotations

import csv
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtec_etl_spark import fsutil
from gtec_etl_spark.session import empty_frame


@dataclass
class ColumnSpec:
    """One declared column (the reference's column dicts:
    portal_files.py:16-108 — id, regex, cv, integer_cv, empty_ok)."""

    name: str
    regex: str | None = None
    cv: list[str] | None = None
    integer_cv: dict[int, str] | None = None
    empty_ok: bool = True
    dtype: str = "string"  # target type of the mapped column


@dataclass
class TableSpec:
    columns: list[ColumnSpec]
    primary_key: list[str] = field(default_factory=list)

    def names(self) -> list[str]:
        return [c.name for c in self.columns]


class ValidationError(Exception):
    """Raised by fail-fast validation; carries a sample of violations."""

    def __init__(self, sample: list[dict]):
        self.sample = sample
        super().__init__(f"validation failed; first violations: {sample}")


def read_tsv(
    spark: SparkSession,
    path: str,
    spec: TableSpec,
    sep: str = "\t",
    comment: str | None = None,
) -> DataFrame:
    """Read a header-checked delimited file with all columns as raw strings
    (the reference's raw_value layer). Header names are verified against the
    declared schema positionally (parsers/util.py:42-47). The header is the
    first non-comment line, read through the Hadoop FileSystem (no Spark
    job); the returned reader skips the same comment lines."""
    line = fsutil.first_line(spark, path, comment)
    header = next(csv.reader([line], delimiter=sep)) if line else []
    if header != spec.names():
        raise ValueError(
            f"header mismatch: file has {header}, declared {spec.names()}"
        )
    schema = ", ".join(f"`{c.name}` string" for c in spec.columns)
    reader = spark.read.option("header", True).option("sep", sep).schema(schema)
    if comment:
        reader = reader.option("comment", comment)
    return reader.csv(path)


def validate(df: DataFrame, spec: TableSpec) -> DataFrame:
    """One-pass constraint check: returns a violations DataFrame
    (row_key, column, value, check). Empty == table is valid.

    Each cell check from the reference (regex, closed vocabulary,
    integer-code membership, nullability) becomes a when() expression; the
    union of violations is assembled per row with an array+explode so the
    whole pass is a single scan."""
    key = (
        F.concat_ws("|", *[F.col(k) for k in spec.primary_key])
        if spec.primary_key
        else F.monotonically_increasing_id().cast("string")
    )
    checks = []
    for c in spec.columns:
        col = F.col(c.name)
        empty = col.isNull() | (col == "")
        if not c.empty_ok:
            checks.append(
                F.when(
                    empty,
                    F.struct(
                        F.lit(c.name).alias("column"),
                        col.cast("string").alias("value"),
                        F.lit("not_null").alias("check"),
                    ),
                )
            )
        if c.regex:
            checks.append(
                F.when(
                    ~empty & ~col.rlike(c.regex),
                    F.struct(
                        F.lit(c.name).alias("column"),
                        col.cast("string").alias("value"),
                        F.lit("regex").alias("check"),
                    ),
                )
            )
        if c.cv is not None:
            checks.append(
                F.when(
                    ~empty & ~col.isin(*c.cv),
                    F.struct(
                        F.lit(c.name).alias("column"),
                        col.cast("string").alias("value"),
                        F.lit("cv").alias("check"),
                    ),
                )
            )
        if c.integer_cv is not None:
            codes = [str(k) for k in c.integer_cv]
            checks.append(
                F.when(
                    ~empty & ~col.isin(*codes),
                    F.struct(
                        F.lit(c.name).alias("column"),
                        col.cast("string").alias("value"),
                        F.lit("integer_cv").alias("check"),
                    ),
                )
            )
    if not checks:
        cell_violations = empty_frame(
            df.sparkSession, "row_key string, column string, value string, check string"
        )
    else:
        cell_violations = (
            df.select(key.alias("row_key"), F.array(*checks).alias("__v"))
            .select("row_key", F.explode("__v").alias("v"))
            .filter(F.col("v").isNotNull())
            .select("row_key", "v.column", "v.value", "v.check")
        )

    if spec.primary_key:
        dup_pk = (
            df.groupBy(*spec.primary_key)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .select(
                F.concat_ws("|", *[F.col(k) for k in spec.primary_key]).alias("row_key"),
                F.lit(spec.primary_key[0]).alias("column"),
                F.col("n").cast("string").alias("value"),
                F.lit("duplicate_pk").alias("check"),
            )
        )
        cell_violations = cell_violations.unionByName(dup_pk)
    return cell_violations


def assert_valid(
    df: DataFrame | dict[str, tuple[DataFrame, TableSpec]],
    spec: TableSpec | None = None,
    sample: int = 20,
) -> None:
    """Fail-fast: collect a bounded sample of violations and raise — the
    lazy-engine version of the reference's mid-parse sys.exit(1).

    Takes one table (`df, spec`) or several (`{name: (df, spec)}`). All
    tables are checked in ONE action: the union of their validate() frames,
    each row tagged with its table name (`table`; None for the one-table
    form), so a release with three sources pays one action, not three. The
    sample is the first `sample` violations in (table, row_key, column,
    check, value) order: a top-k reads every partition in one job and
    names the same violations on every run, where a bare limit() on a
    valid input scans the partitions in growing batches, one job each."""
    tables = df if isinstance(df, dict) else {None: (df, spec)}
    violations = reduce(
        DataFrame.unionByName,
        [
            validate(t, s).select(F.lit(name).cast("string").alias("table"), "*")
            for name, (t, s) in tables.items()
        ],
    )
    bad = (
        violations.orderBy("table", "row_key", "column", "check", "value")
        .limit(sample)
        .collect()
    )
    if bad:
        raise ValidationError([r.asDict() for r in bad])


def apply_mappings(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Produce mapped columns (the reference's {raw, mapped} cell dualism):
    empty → null, integer_cv codes decoded via a map literal, and dtype
    casts. Raw columns are preserved as `<name>_raw` only when a decode
    rewrites the value."""
    out = df
    for c in spec.columns:
        col = F.col(c.name)
        mapped = F.when(col == "", None).otherwise(col)
        if c.integer_cv is not None:
            decode = F.create_map(
                *[F.lit(x) for kv in c.integer_cv.items() for x in (str(kv[0]), kv[1])]
            )
            out = out.withColumn(f"{c.name}_raw", col)
            mapped = decode[mapped]
        if c.dtype != "string":
            mapped = mapped.cast(c.dtype)
        out = out.withColumn(c.name, mapped)
    return out
