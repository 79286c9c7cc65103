from rtcdb_spark.sources.layout import compact, write_partitioned
from rtcdb_spark.sources.versioned import VersionedTable
from rtcdb_spark.sources.tables import (
    TABLE_NAMES,
    load_all,
    load_table,
    write_bucketed,
)

__all__ = [
    "VersionedTable",
    "TABLE_NAMES",
    "compact",
    "load_all",
    "load_table",
    "write_bucketed",
    "write_partitioned",
]
