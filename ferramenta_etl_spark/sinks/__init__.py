from .idempotent import (  # noqa: F401
    SinkLockTimeout,
    ensure_table,
    write_ignore_conflicts,
)
from .jdbc_conflict import (  # noqa: F401
    conflict_insert_sql,
    jdbc_dialect,
    write_jdbc_ignore_conflicts,
)
from .layout import (  # noqa: F401
    compact_small_files,
    file_clustering_report,
    verify_dataset_manifest,
    write_dataset_manifest,
    write_zordered,
    zorder_value,
)
from .quarantine import (  # noqa: F401
    quarantine_invalid,
    read_json_with_quarantine,
    split_by_rules,
)
