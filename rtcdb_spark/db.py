"""The reference-shaped embedded database API over Spark + Parquet.

API parity with the reference engine (see SURVEY.md §1/§3; citations are
reference file:line):

- ``Database.init(path, tables)``   ↔ `DB::init` (src/lib.rs:31-38): create a
  database directory with a ``metadata.json`` catalog.
- ``Database.open(path)``           ↔ `DB::open` (src/lib.rs:22-29): reload
  the catalog (src/metadata.rs:44-60).
- ``db.write_data(table, rows)``    ↔ `DB::write_data` (src/lib.rs:40-49 →
  src/storage.rs:224-297): type-checked, row-oriented append. The reference
  chunks into 1024-row LZ4 blocks with 40-byte min/max index entries
  (src/storage.rs:17, 72-78); here each append writes sorted parquet — row
  groups, compression, and column min/max statistics are the industrial form
  of exactly those three mechanisms (reference README.md:10-12).
- ``db.scan(table, columns, predicate)`` ↔ the designed-but-unbuilt read path
  (reference README.md:51-62 stages 1-3): Catalyst pushes the predicate into
  the parquet scan (row-group stat skipping = the reference's sparse-index
  pruning design) and prunes columns (= per-column files).

Storage: every catalog table is one ``VersionedTable``
(``sources/versioned.py``) rooted at ``<db>/<table>``. Each append is a
commit, and the commit records every new file's per-column min/max in the
table's log — the reference likewise writes its sparse index inline with
``write_data`` (src/storage.rs:72-106) — so ``indexed_scan`` prunes from
stats that can never lag the data, ``merge`` publishes through the log's
atomic conditional put (the table is readable throughout), and
``db.versioned(table)`` exposes the same table's history, time travel and
maintenance (``optimize``, ``vacuum``).

Differences by design, not accident:
- Types beyond Uint64/String (reference src/data.rs:4-7) are supported via a
  dtype map — the driver fixtures need timestamps, doubles, arrays.
- The reference's unsigned 64-bit range shrinks to signed 2^63 (LongType) —
  documented ceiling, see SURVEY.md §1.2.
- The sort contract (reference README.md:44 — rows assumed sorted by column
  order, never enforced) is *enforced* here at write time via
  sortWithinPartitions, which is what makes parquet min/max stats selective.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_converter, _make_type_verifier

from rtcdb_spark.session import tune
from rtcdb_spark.sources.versioned import _LOG_DIR, VersionedTable
from rtcdb_spark.sources.zonemap import interval_filter

# dtype name ↔ Spark type. "uint64"/"string" are the reference's two types
# (src/data.rs:4-7); the rest are the new engine's extensions (SURVEY §1.4).
_DTYPES: dict[str, T.DataType] = {
    "uint64": T.LongType(),
    "int64": T.LongType(),
    "int32": T.IntegerType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "bool": T.BooleanType(),
    "timestamp": T.TimestampNTZType(),
    "binary": T.BinaryType(),
    "array<float>": T.ArrayType(T.FloatType()),
    "array<double>": T.ArrayType(T.DoubleType()),
}
_METADATA_FILE = "metadata.json"


class SchemaError(ValueError):
    """Raised on unknown tables/dtypes or ill-typed rows (the reference
    panics or errors in these cases: src/storage.rs:250-252, src/data.rs:38)."""


@dataclass
class TableMeta:
    """↔ reference `TableMetaData` {name, columns} (src/metadata.rs:10-13)."""

    name: str
    columns: list[tuple[str, str]]  # (column name, dtype name)

    def spark_schema(self) -> T.StructType:
        fields = []
        for col, dtype in self.columns:
            if dtype not in _DTYPES:
                raise SchemaError(f"unknown dtype {dtype!r} for column {col!r}")
            fields.append(T.StructField(col, _DTYPES[dtype], nullable=False))
        return T.StructType(fields)


@dataclass
class Database:
    """↔ reference `DB` {path, tables} (src/lib.rs:16-19)."""

    path: str
    tables: dict[str, TableMeta] = field(default_factory=dict)
    spark: SparkSession | None = None

    # -- catalog lifecycle ---------------------------------------------------

    @classmethod
    def init(cls, spark: SparkSession, path: str, tables: list[TableMeta]) -> "Database":
        """Create a database: write metadata.json (↔ src/metadata.rs:62-71)."""
        os.makedirs(path, exist_ok=True)
        db = cls(path=path, tables={t.name: t for t in tables}, spark=tune(spark))
        db._save_metadata()
        return db

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Database":
        """Open an existing database (↔ src/lib.rs:22-29)."""
        with open(os.path.join(path, _METADATA_FILE)) as fh:
            meta = json.load(fh)
        tables = {
            t["name"]: TableMeta(t["name"], [(c["name"], c["dtype"]) for c in t["columns"]])
            for t in meta["tables"]
        }
        return cls(path=path, tables=tables, spark=tune(spark))

    def _save_metadata(self) -> None:
        meta = {
            "tables": [
                {
                    "name": t.name,
                    "columns": [{"name": c, "dtype": d} for c, d in t.columns],
                }
                for t in self.tables.values()
            ]
        }
        with open(os.path.join(self.path, _METADATA_FILE), "w") as fh:
            json.dump(meta, fh, indent=2)

    def _table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _meta(self, name: str) -> TableMeta:
        if name not in self.tables:  # ↔ src/lib.rs:42-44 catalog lookup
            raise SchemaError(f"no such table: {name}")
        return self.tables[name]

    # -- write path ------------------------------------------------------—--

    def write_data(self, table: str, rows: list[list]) -> None:
        """Row-oriented type-checked append (↔ src/storage.rs:224-297).

        Each row gets the check and conversion ``createDataFrame(rows,
        schema)`` applies (cell types, non-null cells, the LongType range
        that caps "uint64" at 2^63 - 1, ``str()`` of a non-string cell in a
        string column); a failing row raises ``SchemaError`` before anything
        is written. The rows then cross to the JVM as one Arrow table, not
        through Python tasks that convert them one by one, and one commit
        writes one file. Rows are sorted by column order before writing (the
        reference's *assumed* sort contract, README.md:44, enforced here) so
        parquet row-group min/max stats — the engine's sparse index — stay
        selective.
        """
        meta = self._meta(table)
        schema = meta.spark_schema()
        width = len(meta.columns)
        verify, to_tuple = _make_type_verifier(schema), _create_converter(schema)
        cells = []
        for i, row in enumerate(rows):
            if len(row) != width:  # the reference panics on ragged rows
                raise SchemaError(f"row {i} has {len(row)} cells, expected {width}")
            try:
                verify(row)
            except (TypeError, ValueError) as exc:
                raise SchemaError(f"row {i}: {exc}") from exc
            cells.append(schema.toInternal(to_tuple(row)))
        arrow_schema = to_arrow_schema(schema)
        columns = list(zip(*cells)) or [()] * width
        frame = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
        # one Arrow batch per partition: coalesce(1) keeps one file per call
        self.append(table, self.spark.createDataFrame(frame, schema).coalesce(1))

    def append(self, table: str, df: DataFrame) -> None:
        """Columnar append of a DataFrame (the batch/bulk form of write_data):
        one commit to the table's log, which records the new files' min/max
        stats."""
        self._check_frame(table, df)
        sort_cols = [c for c, _ in self._meta(table).columns]
        self.versioned(table).commit(df.sortWithinPartitions(*sort_cols))

    def _check_frame(self, table: str, df: DataFrame) -> None:
        """``df`` must carry the catalog's columns: same names, same order,
        same types, so every commit records the catalog schema and reads
        return it. A mismatch raises before any file is written."""
        meta = self._meta(table)
        want = [(f.name, f.dataType.simpleString()) for f in meta.spark_schema().fields]
        got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if got != want:
            raise SchemaError(f"schema mismatch for {table}: {got} vs {want}")

    # -- read path ------------------------------------------------------—--

    def table(self, name: str) -> DataFrame:
        """Full table as a DataFrame (↔ the read_all stub, src/storage.rs:299,
        but lazy and actually functional — see SURVEY §4.3 bug 2): the
        latest version, planned from its manifest with the catalog schema.
        A table nothing was written to yet is empty, not an error."""
        meta = self._meta(name)
        vt = self.versioned(name)
        if vt.latest_version() is None:
            return self.spark.createDataFrame([], meta.spark_schema())
        return vt.read()

    def scan(
        self,
        name: str,
        columns: list[str] | None = None,
        predicate: Column | str | None = None,
    ) -> DataFrame:
        """Projection + filter scan — the reference's designed query stages 1-3
        (README.md:51-58). Catalyst pushes `predicate` into the parquet scan
        (row-group skipping via min/max stats) and reads only `columns`."""
        df = self.table(name)
        if predicate is not None:
            df = df.filter(predicate)
        if columns:
            df = df.select(*columns)
        return df

    # -- SQL surface ----------------------------------------------------—--

    def sql(self, statement: str) -> DataFrame:
        """Run SQL over this database's tables (registered as temp views).

        SQL is an explicit non-feature of the reference (README.md:14 "no
        SQL") — here it is free: every catalog table becomes a temp view and
        the statement goes through Catalyst, so the full optimizer surface
        (pushdown, pruning, join planning, AQE) applies to ad-hoc SQL the
        same as to the DataFrame API."""
        for name in self.tables:
            self.table(name).createOrReplaceTempView(name)
        return self.spark.sql(statement)

    # -- merge (upsert) -------------------------------------------------—--

    def merge(self, table: str, source: DataFrame, keys: list[str]) -> None:
        """MERGE INTO: upsert ``source`` rows into ``table`` by ``keys``
        (update on match, insert otherwise). Updates are a declared
        non-feature of the reference (append-only write path,
        src/storage.rs:224-297; README.md:14-19) — this is the warehouse
        primitive that supersedes it.

        ``source`` passes the same catalog schema check as ``append``, then
        ``VersionedTable.merge_upsert`` rewrites only the files holding a
        matched key and publishes a ``merge`` version through the log's
        atomic conditional put: the table stays readable throughout, and
        earlier versions stay readable until ``db.versioned(table).vacuum``
        deletes the replaced files. Rewritten files hold the surviving rows
        followed by ``source``'s rows and are not re-sorted, so their
        min/max ranges can be wider than an append's. A ``source`` with
        more than one row per key raises ``ValueError`` (reduce it first).
        """
        self._check_frame(table, source)
        self.versioned(table).merge_upsert(source, keys)

    # -- sparse index (per-file min/max in the commit log) -----------—--

    def build_index(self, table: str, columns: list[str]) -> str:
        """The engine's form of the reference's ``<table>.<col>.index``
        sparse index files (reference src/storage.rs:72-106, 353-355).
        Like the reference's index, which ``write_data`` writes inline, the
        per-file min/max of every column is recorded in the table's log by
        each commit, so there is nothing to build and no Spark job runs:
        this checks ``columns`` against the catalog (``SchemaError`` for an
        unknown one) and returns the log directory that holds the stats.
        """
        known = {c for c, _ in self._meta(table).columns}
        unknown = [c for c in columns if c not in known]
        if unknown:
            raise SchemaError(f"no such column in {table}: {', '.join(unknown)}")
        return os.path.join(self._table_path(table), _LOG_DIR)

    def indexed_scan(
        self,
        table: str,
        intervals: dict[str, tuple],
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Scan with file skipping from the commit log's per-file stats — the
        reference's designed stage-1/2 read path (index search + zone-map
        pruning, README.md:51-56) made real at file granularity: one
        ``VersionedTable.read_pruned_multi`` over the ``col: (lo, hi)``
        closed intervals (``None`` = open end; a Column bound filters rows
        but prunes no file). It keeps the files whose stats can meet every
        interval, scans them with the recorded schema, then re-applies the
        exact row filter, so the result always equals the filtered
        ``scan``. The stats are written by the commit that adds each file,
        so no rebuild is ever needed after ``write_data``, ``append`` or
        ``merge``."""
        self._meta(table)
        preds = [(c, lo, hi) for c, (lo, hi) in intervals.items()]
        vt = self.versioned(table)
        if vt.latest_version() is None:
            df = self.table(table).filter(interval_filter(preds))
        else:
            df = vt.read_pruned_multi(preds)
        return df.select(*columns) if columns else df

    def versioned(self, name: str) -> VersionedTable:
        """The ``VersionedTable`` at ``<db>/<name>``, created on first use.
        For a catalog table this is the table the catalog API reads and
        writes, with its full lakehouse surface (history, time travel,
        change feed, MERGE/DELETE/OPTIMIZE, shallow clone, vacuum); any
        other name is a versioned table outside the catalog, stored in the
        same directory."""
        return VersionedTable(self.spark, self._table_path(name))
