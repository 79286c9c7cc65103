# Python Data Source workers import this package (for rtcdb_native and
# delta_stream) in every fresh process, so it loads no pandas: import
# compact / write_partitioned from rtcdb_spark.sources.layout.
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
    "load_all",
    "load_table",
    "write_bucketed",
]
