"""Zone maps for every table the engine writes: per-file column min/max
and the one rule that prunes with them — skip a file only when its stats
prove that no row can match (the reference's sparse index,
src/storage.rs:72-106). ``VersionedTable``, the Delta log and
``Database.indexed_scan`` all read footers through ``footer_stats``, read
stats and bounds for a column's type through ``decode``, keep files by
``may_overlap`` and re-filter rows with ``interval_filter``; the native
format's block planner keeps blocks by ``may_overlap`` too. So the stats
format and the overlap test have one definition."""

from __future__ import annotations

import datetime
import os
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _json_value(v):
    """A footer min/max in JSON form, or ``None`` when it has none:
    datetimes and dates become ISO text (the form the Delta log records),
    bytes (binary or non-UTF-8 columns) and decimals are dropped."""
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def footer_stats(path: str | os.PathLike) -> tuple[int, dict[str, tuple]]:
    """``(rows, {column: (min, max, null_count)})`` from one parquet
    footer read, no data I/O.

    Only top-level primitive columns are listed, and a column only when
    every row group that holds a value carries min/max: a row group
    without them (parquet-mr writes none when a value exceeds its stats
    size limit) can hold any value, so merging the other groups' stats
    would claim a range the file does not keep to. A row group that is
    all NULL (``null_count == num_rows``) needs none, since it can never
    meet a closed interval; its NULLs still count. Values are JSON-ready
    (see ``_json_value``); a column whose values have no JSON form, or
    that has no value at all, is omitted. An omitted column is never
    pruned on."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    cols: dict[str, tuple] = {}
    if md.num_row_groups == 0:
        return md.num_rows, cols
    groups = [md.row_group(rg) for rg in range(md.num_row_groups)]
    # row_group.column(i) indexes LEAF columns: a dotted path is a nested
    # leaf, which has no top-level stats
    for ci in range(groups[0].num_columns):
        name = groups[0].column(ci).path_in_schema
        if "." in name:
            continue
        stats = [g.column(ci).statistics for g in groups]
        if any(
            st is None or not (st.has_min_max or st.null_count == g.num_rows)
            for st, g in zip(stats, groups)
        ):
            continue
        ranged = [st for st in stats if st.has_min_max]
        if not ranged:
            continue
        lo = _json_value(min(st.min for st in ranged))
        hi = _json_value(max(st.max for st in ranged))
        if lo is None or hi is None:
            continue
        nulls = sum(st.null_count or 0 for st in stats)
        cols[name] = (lo, hi, int(nulls))
    return md.num_rows, cols


_TIME_TYPES = ("timestamp", "timestamp_ntz", "date")


def _instant(v) -> datetime.datetime:
    """A datetime, date or recorded ISO text as a naive UTC datetime (the
    session time zone is pinned to UTC); raises ``TypeError`` or
    ``ValueError`` for anything else."""
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v)
    if not isinstance(v, datetime.datetime):
        v = datetime.datetime.combine(v, datetime.time())
    if v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _proves_above(a, b) -> bool:
    """True only when ``a > b`` is proved. A missing side or a pair that
    cannot be compared (a number against text, a Column bound) proves
    nothing; a pair Python cannot order directly (ISO text or a date
    against a datetime, naive against aware) compares as instants."""
    if a is None or b is None:
        return False
    try:
        return bool(a > b)
    except (TypeError, ValueError):
        pass
    try:
        return _instant(a) > _instant(b)
    except (TypeError, ValueError):
        return False


def may_overlap(lo_stat, hi_stat, lo, hi) -> bool:
    """Whether a file whose column lies in ``[lo_stat, hi_stat]`` can hold
    a value in the closed interval ``[lo, hi]``. ``None`` is an open end
    on either side. Returns False only when the stats prove the two
    intervals disjoint; it never raises. Datetime and date probes compare
    as instants, parsing recorded ISO text back."""
    return not (_proves_above(lo_stat, hi) or _proves_above(lo, hi_stat))


def interval_filter(intervals: Iterable[tuple]) -> Column:
    """The exact row filter for ``(col, lo, hi)`` closed intervals ANDed
    together; a ``None`` bound is open. Re-applied to every kept file, it
    makes a pruned read return exactly the filtered table."""
    cond = F.lit(True)
    for col, lo, hi in intervals:
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return cond


def decode(value, type_name):
    """A stat or bound as a value of its column's Spark type
    (``simpleString``): on timestamp and date columns, ISO text parses as
    Spark casts it (unparseable text is ``None``, an open end), so text
    bounds never meet recorded stats as plain text; else ``value``."""
    if not isinstance(value, str) or type_name not in _TIME_TYPES:
        return value
    try:
        v = _instant(value)
    except ValueError:
        return None
    return v.date() if type_name == "date" else v
