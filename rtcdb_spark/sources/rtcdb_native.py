"""Native reader/writer for the reference's on-disk columnar format.

A user of the reference (robbie-c/rtcdb) keeps data in per-column file
pairs — ``<table>.<col>.data`` (LZ4-block-compressed value blocks) and
``<table>.<col>.index`` (40-byte sparse-index entries) — under a root with
``metadata.json`` (reference src/metadata.rs). This module lets Spark read
that data IN PLACE (no export step) and write compatible files, so
switching engines does not orphan existing tables.

Format, from reference src/storage.rs (all integers big-endian):

- blocks of 1024 rows (``ROWS_PER_BLOCK``, storage.rs:17);
- per block and column, the data file holds one LZ4 *block-format*
  compressed buffer (lz4_flex block == pyarrow's ``lz4_raw``);
- values inside a buffer: Uint64 = 8 bytes BE (storage.rs:372); String =
  u32 BE length prefix + UTF-8 bytes (storage.rs:363);
- index entry (storage.rs:72-106): start_position, compressed_size,
  decompressed_size (8 bytes each), then min and max as 8 bytes — the u64
  BE, or the FIRST 8 BYTES of the string (an index-key prefix,
  storage.rs:30-37);
- ``metadata.json``: ``{"tables": [{"name", "columns": [{"name",
  "dtype": "String"|"Uint64"}]}]}`` (metadata.rs).

Reference-bug note (SURVEY §4.3 — do NOT replicate): the reference's
writer emits the whole *preallocated* compression buffer
(``write_all(&compress_output)`` of ``prealloc_size`` bytes,
storage.rs:266-275) while advancing ``position`` by only
``compressed_len`` — so from the second block on, its index offsets do
not match its own file layout (its read path is dead code and never
catches this). This writer emits exactly ``compressed_size`` bytes, which
is what the index format describes. The reader handles BOTH layouts:
spec-layout files follow the index directly, and reference-padded files
are repaired transparently (``resolve_offsets``) — the padding length is
the deterministic lz4 prealloc size, so the true offsets are recoverable
as its prefix sums, detected by total file length.

Type mapping: ``Uint64`` reads as Spark ``LongType`` by default — exact
for values < 2^63; a genuine u64 above that raises a clear error telling
the user to re-read with ``.option("u64", "decimal")``, which maps the
column to ``DecimalType(20, 0)`` and decodes the full u64 domain
losslessly. ``String`` is UTF-8 → ``StringType``. The write path accepts
only Long/String frames (validated up front) and encodes the whole frame
into a staging directory before appending any byte, so a type or range
error can never leave the append-only column files partly written or out
of step.

Scale notes: the index files are metadata (40 B per 1024 rows per column
— 4 GB of index per *trillion* rows/column), so the driver plans from
them directly, applying zone-map pruning before any data I/O; block
decode then fans out across executors (each task seeks to its own block
offsets). Writes: ``write_rtcdb`` streams through the driver (simple,
fine for reference-sized tables); ``write_rtcdb_distributed`` encodes
and compresses in executors and finalizes with O(1)-memory byte
concatenation on the driver — measured at sf0.1: 600k rows × 4 cols
across 16 tasks in ~3.7 s with an exact read-back match. The format is
single-file-per-column, so one serial concatenation per column is
inherent to it; the scale path for new data remains the parquet layout
modules (sources.layout), with this writer for reference interchange.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import uuid
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    InputPartition as _IP,  # noqa: F401
)
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rtcdb_spark.sources import zonemap

ROWS_PER_BLOCK = 1024  # reference src/storage.rs:17
_ENTRY = struct.Struct(">QQQ8s8s")  # start, csize, dsize, min8, max8

_codec = pa.Codec("lz4_raw")


def _data_path(root: str, table: str, col: str) -> str:
    return os.path.join(root, f"{table}.{col}.data")  # storage.rs:357


def _index_path(root: str, table: str, col: str) -> str:
    return os.path.join(root, f"{table}.{col}.index")  # storage.rs:353


def load_metadata(root: str) -> dict:
    with open(os.path.join(root, "metadata.json")) as f:
        return json.load(f)


def table_schema(meta: dict, table: str, wide_u64: bool = False) -> StructType:
    """Spark schema for a reference table. Uint64 maps to LongType by
    default (exact for values < 2^63 — the full range the reference's own
    fixtures use); ``wide_u64=True`` maps it to DecimalType(20,0) instead,
    covering the whole u64 domain losslessly at some arithmetic cost."""
    u64_type = DecimalType(20, 0) if wide_u64 else LongType()
    for t in meta["tables"]:
        if t["name"] == table:
            return StructType(
                [
                    StructField(
                        c["name"],
                        u64_type if c["dtype"] == "Uint64" else StringType(),
                    )
                    for c in t["columns"]
                ]
            )
    raise KeyError(f"no table {table!r} in metadata.json")


def _encode_block(values: list, dtype: str) -> tuple[bytes, bytes, bytes]:
    """Returns (raw_bytes, min8, max8) for one column block. Values must
    already be type-checked (``_check_schema`` + per-cell isinstance here):
    a raise from this function must happen BEFORE any file write — see
    ``_flush_block``, which encodes every column first and only then
    writes, so a bad row can never leave column files out of step."""
    if dtype == "Uint64":
        for v in values:
            if not isinstance(v, int) or isinstance(v, bool):
                raise TypeError(f"Uint64 column got non-int value {v!r}")
        lo, hi = min(values), max(values)
        if lo < 0 or hi >= 1 << 64:
            raise ValueError("Uint64 out of range")
        raw = b"".join(struct.pack(">Q", v) for v in values)
        return raw, struct.pack(">Q", lo), struct.pack(">Q", hi)
    out = bytearray()
    for s in values:
        if not isinstance(s, str):
            raise TypeError(f"String column got non-str value {s!r}")
        b = s.encode("utf-8")
        out += struct.pack(">I", len(b)) + b
    lo_s, hi_s = min(values), max(values)
    pad8 = lambda s: (s.encode("utf-8")[:8]).ljust(8, b"\0")  # noqa: E731
    return bytes(out), pad8(lo_s), pad8(hi_s)


def _decode_block(raw: bytes, dtype: str, wide_u64: bool = False) -> list:
    """Decode one decompressed block. Uint64 values >= 2^63 are legal in
    reference files (storage.rs stores full u64); with the default
    ``LongType`` mapping they raise a clear error — pass
    ``wide_u64=True`` (``option("u64", "decimal")`` on the source) to
    decode losslessly into DecimalType(20,0) instead."""
    vals = []
    if dtype == "Uint64":
        for i in range(0, len(raw), 8):
            (v,) = struct.unpack(">Q", raw[i : i + 8])
            if v >= 1 << 63 and not wide_u64:
                raise ValueError(
                    "Uint64 value >= 2^63 exceeds Spark LongType; read with "
                    '.option("u64", "decimal") for lossless DecimalType(20,0)'
                )
            vals.append(v)
        return vals
    i = 0
    while i < len(raw):
        (n,) = struct.unpack(">I", raw[i : i + 4])
        vals.append(raw[i + 4 : i + 4 + n].decode("utf-8"))
        i += 4 + n
    return vals


def _check_schema(df: DataFrame) -> list[dict]:
    """Map a Spark schema onto the format's two dtypes, rejecting anything
    else up front — the format is append-only, so a mid-write type error
    must be impossible, not merely unlikely (ADVICE r3)."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, LongType):
            cols.append({"name": f.name, "dtype": "Uint64"})
        elif isinstance(f.dataType, StringType):
            cols.append({"name": f.name, "dtype": "String"})
        else:
            raise TypeError(
                f"rtcdb format supports only Long (Uint64) and String "
                f"columns; column {f.name!r} is {f.dataType.simpleString()} "
                f"— cast before write_rtcdb"
            )
    return cols


def compact_padded(root: str, table: str, cols: list[dict]) -> None:
    """Rewrite any reference-padded data files to spec layout before an
    append (ADVICE r3, medium). The reference's buggy writer pads each
    block to the lz4 prealloc size while recording compressed_size prefix
    sums in the index; appending physical-EOF offsets to such a file would
    make it unreadable (length matches neither layout). The index start
    positions in a padded file are already the spec prefix sums, so only
    the data file needs rewriting: keep the first ``csize`` bytes of each
    block. The rewrite goes through a temp file + atomic rename."""
    for c in cols:
        name = c["name"]
        dpath = _data_path(root, table, name)
        if not os.path.exists(dpath):
            continue
        entries = read_index(root, table, name)
        file_len = os.path.getsize(dpath)
        if file_len == sum(e[1] for e in entries):
            continue  # already spec layout
        offsets = resolve_offsets(root, table, name)  # raises if unrecognized
        tmp = dpath + ".compact.tmp"
        with open(dpath, "rb") as src, open(tmp, "wb") as dst:
            for start, csize, _d in offsets:
                src.seek(start)
                dst.write(src.read(csize))
        os.replace(tmp, dpath)


def write_rtcdb(df: DataFrame, root: str, table: str) -> int:
    """Stream a DataFrame into reference-format files (append). Returns the
    row count. Single-writer by format design — see module docstring.
    Before appending, any reference-padded data files are compacted to
    spec layout (appending physical-EOF offsets to a padded file would
    corrupt it — ADVICE r3) and the schema is validated whole, so no file
    is opened for a frame the format cannot hold.

    All rows or none: every block is encoded into a staging directory under
    ``root`` first, and only a fully encoded frame is appended to the
    table's column files (a range error in the last block leaves the table
    as it was). The table is registered in ``metadata.json`` after its data
    has landed."""
    cols = _check_schema(df)
    compact_padded(root, table, cols)
    stage = _new_stage(root)
    try:
        n_rows = _stage_rows(df.toLocalIterator(), cols, stage)
        _append_parts(root, table, cols, stage, [0])
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    _register_table(root, table, cols)
    return n_rows


def write_rtcdb_distributed(
    df: DataFrame, root: str, table: str
) -> int:
    """Executor-parallel write into reference-format files (VERDICT r3
    item 6 — the driver-streaming bound of ``write_rtcdb`` removed).

    Each task encodes ITS OWN partition into per-column block files
    (``part-<pid>.<col>.data``/``.index`` under a private staging dir,
    offsets partition-local); the driver then finalizes with pure
    byte-level I/O — concatenate the data files in partition order and
    rebase each 40-byte index entry's start offset by the running column
    length. No row ever crosses the driver: finalize moves O(blocks)
    index entries and streams data bytes file-to-file, so driver memory
    is O(1) and driver work is O(total bytes) sequential I/O (the format
    is single-file-per-column, so one serial concatenation is inherent —
    the parallel part, encoding + compression, is where the CPU goes).

    Partitions may end with a short block (<1024 rows); the index's
    decompressed_size makes those self-describing, and both this reader
    and the reference's decode-until-empty design handle them. The
    staging dir must be on storage the driver can read — trivially true
    in local mode, a shared filesystem on a real cluster (same contract
    as any single-file sink).
    """
    cols = _check_schema(df)
    compact_padded(root, table, cols)
    stage = _new_stage(root)
    colspec = [(c["name"], c["dtype"]) for c in cols]

    def encode_partition(batches):
        """Runs in the executor: drain this partition's Arrow batches into
        1024-row blocks, write part-<pid> file pairs, emit one summary.
        Module helpers are re-imported here (not closed over) — the lz4
        Codec handle is not picklable, and worker-side import is the
        standard pattern for executor code anyway."""
        import pandas as pd
        import pyarrow as pa
        from pyspark import TaskContext

        from rtcdb_spark.sources.rtcdb_native import (
            ROWS_PER_BLOCK,
            _encode_block,
            _ENTRY,
            _part_path,
        )

        _codec = pa.Codec("lz4_raw")
        pid = TaskContext.get().partitionId()
        pending: list[pd.DataFrame] = []
        n_pending = 0
        n_rows = 0
        files = {}
        pos = {name: 0 for name, _ in colspec}

        def flush(block_pdf):
            nonlocal n_rows
            for name, dtype in colspec:
                if name not in files:
                    files[name] = (
                        open(_part_path(stage, pid, name, "data"), "wb"),
                        open(_part_path(stage, pid, name, "index"), "wb"),
                    )
            encoded = [
                # .tolist() yields native python int/str (numpy.int64 would
                # fail _encode_block's type gate)
                (name, *_encode_block(block_pdf[name].tolist(), dtype))
                for name, dtype in colspec
            ]
            for name, raw, lo8, hi8 in encoded:
                comp = bytes(_codec.compress(raw))
                dfh, ixh = files[name]
                dfh.write(comp)
                ixh.write(_ENTRY.pack(pos[name], len(comp), len(raw), lo8, hi8))
                pos[name] += len(comp)
            n_rows += len(block_pdf)

        for pdf in batches:
            pending.append(pdf)
            n_pending += len(pdf)
            while n_pending >= ROWS_PER_BLOCK:
                merged = pd.concat(pending, ignore_index=True)
                flush(merged.iloc[:ROWS_PER_BLOCK])
                rest = merged.iloc[ROWS_PER_BLOCK:]
                pending, n_pending = ([rest] if len(rest) else []), len(rest)
        if n_pending:
            flush(pd.concat(pending, ignore_index=True))
        for dfh, ixh in files.values():
            dfh.close()
            ixh.close()
        yield pd.DataFrame({"pid": [pid], "n_rows": [n_rows]})

    try:
        parts = df.mapInPandas(encode_partition, "pid long, n_rows long").collect()
        _append_parts(root, table, cols, stage, sorted(r.pid for r in parts if r.n_rows > 0))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    _register_table(root, table, cols)
    return int(sum(r.n_rows for r in parts))


def _new_stage(root: str) -> str:
    """A fresh private staging directory under ``root`` (the caller
    removes it whether the write landed or raised)."""
    stage = os.path.join(root, f"_stage-{uuid.uuid4().hex[:12]}")
    os.makedirs(stage)
    return stage


def _part_path(stage: str, pid: int, col: str, kind: str) -> str:
    return os.path.join(stage, f"part-{pid:05d}.{col}.{kind}")


def _stage_rows(rows: Iterator, cols: list[dict], stage: str) -> int:
    """Encode ``rows`` in 1024-row blocks into staged part 0; returns the
    row count."""
    data_f = {c["name"]: open(_part_path(stage, 0, c["name"], "data"), "wb") for c in cols}
    index_f = {c["name"]: open(_part_path(stage, 0, c["name"], "index"), "wb") for c in cols}
    pos = {c["name"]: 0 for c in cols}
    n_rows = 0
    try:
        block: list = []
        for row in rows:
            block.append(row)
            if len(block) == ROWS_PER_BLOCK:
                _flush_block(block, cols, data_f, index_f, pos)
                n_rows += len(block)
                block = []
        if block:
            _flush_block(block, cols, data_f, index_f, pos)
            n_rows += len(block)
    finally:
        for f in list(data_f.values()) + list(index_f.values()):
            f.close()
    return n_rows


def _append_parts(root: str, table: str, cols: list[dict], stage: str, pids: list[int]) -> None:
    """Append fully encoded staged parts to the table's column files, in
    ``pids`` order: data bytes stream file to file, and each 40-byte index
    entry's part-local start offset is rebased by the running column
    length. O(1) driver memory; runs only after every block encoded."""
    for c in cols:
        name = c["name"]
        dpath, ipath = _data_path(root, table, name), _index_path(root, table, name)
        base = os.path.getsize(dpath) if os.path.exists(dpath) else 0
        with open(dpath, "ab") as dout, open(ipath, "ab") as iout:
            for pid in pids:
                pdata = _part_path(stage, pid, name, "data")
                with open(_part_path(stage, pid, name, "index"), "rb") as f:
                    buf = f.read()
                for off in range(0, len(buf), 40):
                    start, csize, dsize, lo8, hi8 = _ENTRY.unpack_from(buf, off)
                    iout.write(_ENTRY.pack(base + start, csize, dsize, lo8, hi8))
                with open(pdata, "rb") as f:
                    shutil.copyfileobj(f, dout)
                base += os.path.getsize(pdata)


def _register_table(root: str, table: str, cols: list[dict]) -> None:
    """Add ``table`` to ``root``'s ``metadata.json`` unless it is listed."""
    meta_path = os.path.join(root, "metadata.json")
    meta = load_metadata(root) if os.path.exists(meta_path) else {"tables": []}
    if not any(t["name"] == table for t in meta["tables"]):
        meta["tables"].append({"name": table, "columns": cols})
        with open(meta_path, "w") as f:
            json.dump(meta, f, indent=2)


def _flush_block(block, cols, data_f, index_f, pos) -> None:
    # Encode EVERY column before writing ANY bytes: _encode_block raises on
    # type/range errors, so the staged parts never hold a half-written
    # block (ADVICE r3); the writers append staged parts to the table only
    # after the last block encoded.
    encoded = []
    for c in cols:
        raw, lo8, hi8 = _encode_block([r[c["name"]] for r in block], c["dtype"])
        encoded.append((c["name"], raw, lo8, hi8))
    for name, raw, lo8, hi8 in encoded:
        comp = bytes(_codec.compress(raw))
        # Exactly compressed_size bytes — NOT the reference's padded
        # prealloc buffer (see module docstring bug note).
        data_f[name].write(comp)
        index_f[name].write(_ENTRY.pack(pos[name], len(comp), len(raw), lo8, hi8))
        pos[name] += len(comp)


def read_index(root: str, table: str, col: str) -> list[tuple[int, int, int, bytes, bytes]]:
    with open(_index_path(root, table, col), "rb") as f:
        buf = f.read()
    return [_ENTRY.unpack_from(buf, off) for off in range(0, len(buf), 40)]


def _lz4_prealloc(dsize: int) -> int:
    """lz4_flex::block::get_maximum_output_size — the preallocated buffer
    length the reference's buggy writer actually emits per block."""
    return 16 + dsize + dsize // 255


def resolve_offsets(root: str, table: str, col: str) -> list[tuple[int, int, int]]:
    """True (offset, csize, dsize) per block, auto-repairing files written
    by the reference's own writer.

    The reference pads each block to the preallocated compression-buffer
    size but advances its index positions by only compressed_size
    (storage.rs:266-293), so its multi-block data files disagree with
    their own index. The padding length is deterministic —
    get_maximum_output_size(dsize) — so the REAL offsets are recoverable
    as prefix sums of the prealloc sizes. Detection is by total file
    length: equal to Σ csize → spec-layout (our writer); equal to
    Σ prealloc(dsize) → reference-padded layout, repaired transparently.
    """
    entries = read_index(root, table, col)
    file_len = os.path.getsize(_data_path(root, table, col))
    sum_c = sum(e[1] for e in entries)
    if file_len == sum_c:
        return [(e[0], e[1], e[2]) for e in entries]
    sum_p = sum(_lz4_prealloc(e[2]) for e in entries)
    if file_len == sum_p:
        out, pos = [], 0
        for _s, csize, dsize, _lo, _hi in entries:
            out.append((pos, csize, dsize))
            pos += _lz4_prealloc(dsize)
        return out
    raise ValueError(
        f"{_data_path(root, table, col)}: length {file_len} matches neither "
        f"the spec layout ({sum_c}) nor the reference's padded layout ({sum_p})"
    )


def plan_blocks(
    root: str,
    table: str,
    meta: dict,
    predicate: tuple[str, object, object] | None = None,
) -> tuple[list[int], int]:
    """Zone-map block planning from the sparse index: returns the surviving
    block ids (and the total) for an optional closed-interval predicate
    ``(col, lo, hi)``, kept by ``zonemap.may_overlap``. Sound under the
    format's 8-byte string prefixes: each entry and bound is compared as
    its 8-byte UTF-8 prefix (the stored min with its NUL padding
    stripped), so a block is skipped only when ``stored_min > hi[:8]``
    (stored min is a prefix, hence <= the true min) or ``lo[:8] >
    stored_max`` (every value in the block has a prefix below lo's own)."""
    t = next(t for t in meta["tables"] if t["name"] == table)
    n_blocks = len(read_index(root, table, t["columns"][0]["name"]))
    if predicate is None:
        return list(range(n_blocks)), n_blocks
    col, lo, hi = predicate
    dtype = next(c["dtype"] for c in t["columns"] if c["name"] == col)
    if dtype != "Uint64":
        lo, hi = (None if b is None else str(b).encode("utf-8")[:8] for b in (lo, hi))
    keep = []
    for i, (_s, _cs, _ds, lo8, hi8) in enumerate(read_index(root, table, col)):
        if dtype == "Uint64":
            bmin, bmax = struct.unpack(">Q", lo8)[0], struct.unpack(">Q", hi8)[0]
        else:
            bmin, bmax = lo8.rstrip(b"\0"), hi8
        if zonemap.may_overlap(bmin, bmax, lo, hi):
            keep.append(i)
    return keep, n_blocks


class _BlockPartition(InputPartition):
    def __init__(self, block_ids: list[int]):
        self.block_ids = block_ids


class RtcdbReader(DataSourceReader):
    def __init__(
        self, root: str, table: str, n_tasks: int = 16, wide_u64: bool = False
    ):
        self.root, self.table = root, table
        self.wide_u64 = wide_u64
        self.meta = load_metadata(root)
        self.tmeta = next(t for t in self.meta["tables"] if t["name"] == table)
        first = self.tmeta["columns"][0]["name"]
        self.n_blocks = len(read_index(root, table, first))
        self.n_tasks = max(1, min(n_tasks, self.n_blocks))
        # per-column (lo, hi) bounds accumulated by pushFilters
        self.bounds: dict[str, list] = {}

    def pushFilters(self, filters: list["Filter"]):
        """Zone-map pushdown (Spark 4.1 Python Data Source filter API): fold
        comparison filters into per-column closed intervals and prune whole
        blocks against the sparse index at planning time — the reference's
        B1/B2 design (sparse min/max + block skipping) on its own format.
        Every filter is RETURNED for Spark to re-evaluate row-level: zone
        maps are block-granular, so the source only skips, never filters."""
        colnames = {c["name"] for c in self.tmeta["columns"]}
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col in colnames:
                b = self.bounds.setdefault(col, [None, None])
                v = getattr(f, "value", None)
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    b[0] = v if b[0] is None else max(b[0], v)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    b[1] = v if b[1] is None else min(b[1], v)
                elif isinstance(f, EqualTo):
                    b[0] = v if b[0] is None else max(b[0], v)
                    b[1] = v if b[1] is None else min(b[1], v)
                elif isinstance(f, In):
                    # An IN list folds to its [min, max] envelope — sound
                    # (the envelope contains every listed value; zone maps
                    # only ever skip, Spark re-filters row-level) and
                    # selective when the list is clustered, the common case
                    # for sort-key IN probes. (`In.value` is the tuple of
                    # listed values in the Python Data Source filter API.)
                    vals = [x for x in (v or ()) if x is not None]
                    if vals:
                        lo, hi = min(vals), max(vals)
                        b[0] = lo if b[0] is None else max(b[0], lo)
                        b[1] = hi if b[1] is None else min(b[1], hi)
            yield f  # Spark still applies every filter exactly

    def _surviving_blocks(self) -> list[int]:
        keep = set(range(self.n_blocks))
        for col, (lo, hi) in self.bounds.items():
            if lo is None and hi is None:
                continue
            k, _ = plan_blocks(self.root, self.table, self.meta, (col, lo, hi))
            keep &= set(k)
        return sorted(keep)

    def partitions(self):
        blocks = self._surviving_blocks()
        if not blocks:
            return [_BlockPartition([])]
        per = -(-len(blocks) // self.n_tasks)
        return [
            _BlockPartition(blocks[i : i + per])
            for i in range(0, len(blocks), per)
        ]

    def read(self, partition: _BlockPartition):
        # Yield Arrow RecordBatches (one per block), not per-row tuples —
        # the Python Data Source API transfers batches zero-copy into the
        # JVM, so decode cost is the only Python-side work per block.
        cols = self.tmeta["columns"]
        offsets = {
            c["name"]: resolve_offsets(self.root, self.table, c["name"])
            for c in cols
        }
        handles = {
            c["name"]: open(_data_path(self.root, self.table, c["name"]), "rb")
            for c in cols
        }
        try:
            for b in partition.block_ids:
                arrays, names = [], []
                for c in cols:
                    start, csize, dsize = offsets[c["name"]][b]
                    f = handles[c["name"]]
                    f.seek(start)
                    raw = bytes(_codec.decompress(f.read(csize), dsize))
                    vals = _decode_block(raw, c["dtype"], self.wide_u64)
                    if c["dtype"] == "Uint64":
                        pa_type = (
                            pa.decimal128(20, 0) if self.wide_u64 else pa.int64()
                        )
                    else:
                        pa_type = pa.string()
                    arrays.append(pa.array(vals, pa_type))
                    names.append(c["name"])
                yield pa.RecordBatch.from_arrays(arrays, names=names)
        finally:
            for f in handles.values():
                f.close()


class RtcdbDataSource(DataSource):
    """``spark.read.format("rtcdb").option("table", name).load(root)`` —
    the reference's format as a first-class pluggable Spark source
    (Python Data Source API, Spark 4). Planning reads only the index
    files; each task decodes its own block range."""

    @classmethod
    def name(cls) -> str:
        return "rtcdb"

    def schema(self):
        root = self.options.get("path")
        table = self.options.get("table")
        wide = self.options.get("u64", "long") == "decimal"
        return table_schema(load_metadata(root), table, wide_u64=wide)

    def reader(self, schema) -> DataSourceReader:
        return RtcdbReader(
            self.options.get("path"),
            self.options.get("table"),
            int(self.options.get("n_tasks", "16")),
            wide_u64=self.options.get("u64", "long") == "decimal",
        )


def read_rtcdb(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Read a reference-format table through the registered data source."""
    spark.dataSource.register(RtcdbDataSource)
    # zone-map pushdown needs the Python-data-source filter API enabled
    # (runtime-settable; also pinned in session.RUNTIME_CONFS, but the
    # driver may hand us its own session)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark.read.format("rtcdb").option("table", table).load(root)


def index_stats(root: str, table: str, col: str) -> dict:
    """Exact min / max / row count for a Uint64 column answered from the
    40-byte sparse-index entries ALONE — zero data-block reads or LZ4
    decodes (round 5). This is the reference's OWN designed use of its
    index (README.md:49-56 stores per-block min/max precisely so
    aggregates can skip data; its `get_min`/`get_max` helpers,
    src/data.rs:22-60, never got an index-backed caller because the read
    path was a stub). Here: min over block minima, max over block maxima
    (both exact for Uint64 — the index stores full 8-byte big-endian
    values), and the row count from Σ decompressed_size/8 (u64 cells are
    fixed-width). O(n_blocks) metadata I/O — at the format's 1024-row
    blocks, a billion-row column answers from ~40 MB of index instead of
    ~8 GB of compressed data.

    String columns raise: their index entries hold 8-byte PREFIXES
    (truncated min / max), so index-only extrema would be bounds, not
    values — use a scan, or `plan_blocks` pruning."""
    meta = load_metadata(root)
    t = next(tb for tb in meta["tables"] if tb["name"] == table)
    dtype = next(c["dtype"] for c in t["columns"] if c["name"] == col)
    if dtype != "Uint64":
        raise ValueError(
            f"index-only stats are exact only for Uint64 columns; {col} is "
            f"{dtype} (its index holds 8-byte prefixes, i.e. bounds)"
        )
    entries = read_index(root, table, col)
    if not entries:
        raise ValueError(f"{table}.{col}: empty index")
    return {
        "min": min(struct.unpack(">Q", e[3])[0] for e in entries),
        "max": max(struct.unpack(">Q", e[4])[0] for e in entries),
        "n_rows": sum(e[2] // 8 for e in entries),
        "n_blocks": len(entries),
    }
