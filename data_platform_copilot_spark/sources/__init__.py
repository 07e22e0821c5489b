from .batch_source import (
    VersionedBatchDataSource,
    register_batch_source,
)
from .registry import (
    TESTDATA_TABLES,
    load_table,
    read_parquet,
    register_testdata,
)
from .versioned import (
    CommitConflict,
    VersionedTableError,
    compact,
    diff_versions,
    evolve_partitioning,
    evolve_schema,
    history,
    latest_version,
    merge_version,
    read_version,
    table_rows,
    vacuum,
    write_version,
)

__all__ = ["TESTDATA_TABLES", "load_table", "read_parquet",
           "register_testdata", "write_version", "read_version",
           "merge_version", "compact", "vacuum", "history",
           "latest_version", "diff_versions", "evolve_partitioning",
           "evolve_schema",
           "CommitConflict",
           "VersionedBatchDataSource", "register_batch_source",
           "table_rows", "VersionedTableError"]
