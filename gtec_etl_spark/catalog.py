"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. Parquet scans give Catalyst predicate pushdown
and column pruning for free — every query should show `PushedFilters` /
pruned `ReadSchema` in `.explain("formatted")`.

Schema memo: `spark.read.parquet(path)` with no schema makes Spark merge
the footer schemas in a one-task job before the query is even planned.
`table()` lets that inference run once per path and SparkSession, keeps
the schema Spark inferred, and reads the path again with
`spark.read.schema(<kept>).parquet(path)`, which runs no job. The memo is
keyed on the path and a stat fingerprint: size and `st_mtime_ns` of the
file, or of every file under the directory. Rewriting, adding or removing
a file changes the fingerprint, so the next read infers again. Paths that
are not on the local file system (object-store or HDFS URIs) have no
fingerprint and are inferred on every read, as before. The events table
does not need the memo: its schema is pinned from one footer (below).
"""

from __future__ import annotations

import glob
import os
import weakref
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's events table has stored `ts` with different parquet logical
# types across testdata generations: TIMESTAMP(NANOS) (which a default
# session refuses to scan — PARQUET_TYPE_ILLEGAL) and TIMESTAMP(MICROS)
# (natively readable). Assuming either unit globally silently corrupts
# timestamps 1000× when the other shows up, so the reader is FOOTER-DRIVEN:
# one driver-side pyarrow read_schema of a single footer picks the path per
# directory, never a session-global conf. For NANOS files an explicit user
# schema with `ts long` reads the raw int64 on ANY session (no
# spark.sql.legacy.parquet.nanosAsLong mutation); `div 1000` then truncates
# to micros — the same floor DuckDB applies reading ns.
EVENTS_NANOS_FILE_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)
# Logical schema once ts is a real timestamp — what every downstream plan
# (batch and streaming) sees, and what a MICROS file stores natively.
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _fingerprint(path: str) -> tuple | None:
    """(name, size, st_mtime_ns) of the file at `path`, of every file under
    the directory, or of every match of the glob; None when nothing local
    matches (a URI, or a missing path)."""
    if glob.has_magic(path):
        files = sorted(glob.glob(path))
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(root, f) for root, _, names in os.walk(path) for f in names
        )
    else:
        files = [path] if os.path.isfile(path) else []
    out = []
    for f in files:
        st = os.stat(f)
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out) or None


# path -> (fingerprint, unit)
_EVENTS_TS_UNIT_CACHE: dict[str, tuple[tuple | None, str]] = {}


def events_ts_unit(path: str) -> str:
    """Parquet time unit of the `ts` column ('ns'/'us'/'ms'/'s'), read from
    one footer driver-side. Cached per path and stat fingerprint: a 100 TB
    lake directory is still a single footer read, a file regenerated at the
    same path with another unit is probed again, and a mixed nanos/micros
    lake is handled per-directory instead of by a global config that would
    silently corrupt whichever unit the config doesn't match."""
    fp = _fingerprint(path)
    cached = _EVENTS_TS_UNIT_CACHE.get(path)
    if cached is None or cached[0] != fp:
        import pyarrow.parquet as _pq

        probe = path
        if os.path.isdir(path):
            probe = os.path.join(path, "*.parquet")
        if glob.has_magic(probe):
            files = sorted(glob.glob(probe))
            if not files:
                # Without this, pq.read_schema would receive the literal
                # '*.parquet' magic string and raise a confusing
                # FileNotFoundError (e.g. an empty streaming landing dir, or
                # a dataset with only nested part directories).
                raise FileNotFoundError(
                    f"no parquet files found under {path!r} — cannot probe"
                    " the events ts unit (empty directory, or data nested in"
                    " subdirectories the top-level glob does not reach)"
                )
            probe = files[0]
        # Single-footer assumption: one file's unit stands for the whole
        # directory. The driver writes each sf dir with one generator pass,
        # so units are uniform per directory; a genuinely mixed-unit
        # directory would need a per-file probe (documented limitation).
        field = _pq.read_schema(probe).field("ts")
        unit = getattr(field.type, "unit", None)
        # A plain int64 ts (no logical type) is epoch-nanos in the r1-era
        # layout; treat it like nanos so the long+div-1000 path applies.
        cached = _EVENTS_TS_UNIT_CACHE[path] = (fp, unit or "ns")
    return cached[1]


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    if events_ts_unit(path) == "ns":
        df = spark.read.schema(EVENTS_NANOS_FILE_SCHEMA).parquet(path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # micros (or coarser): natively scannable; pin the schema anyway so
    # column order/types are identical on both paths.
    return spark.read.schema(EVENTS_SCHEMA).parquet(path)


# SparkSession -> {path: (fingerprint, schema Spark inferred)}
_SCHEMA_MEMO: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    kept = memo.get(path)
    if kept is not None and kept[0] == fp:
        return spark.read.schema(kept[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (fp, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return _read_parquet(spark, path)


class _LazyTables(Mapping):
    """Mapping of table name -> DataFrame that reads each parquet footer
    only on first access. A query touching 3 tables plans 3 scans, and a
    bad/unreadable table can never block queries that don't use it.

    A real collections.abc.Mapping (NOT a dict subclass, whose C-level
    fast paths like dict(t) / {**t} would bypass lazy loading and see an
    empty store): every protocol operation — get/items/values/in/dict() —
    derives from __getitem__/__iter__/__len__, so all of them agree and
    materializing the whole mapping explicitly loads all tables."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(name)
        if name not in self._cache:
            self._cache[name] = table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def __iter__(self):
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """Lazy per-table access: tables load on first subscript, not here."""
    return _LazyTables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view (parse-once-query-many; the
    reference's shared-graph pattern, SURVEY.md §4)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
