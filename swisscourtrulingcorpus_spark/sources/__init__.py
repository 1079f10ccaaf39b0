"""Sources & sinks (SURVEY.md §2.1 S1–S15, re-expressed for a lakehouse)."""

from swisscourtrulingcorpus_spark.sources.catalog import (  # noqa: F401
    TABLES,
    load_table,
    register_views,
)
from swisscourtrulingcorpus_spark.sources.sinks import (  # noqa: F401
    upsert_by_key,
    bulk_update_columns,
    write_partitioned,
)
from swisscourtrulingcorpus_spark.sources.manifest import (  # noqa: F401
    new_rows_only,
    processed_union,
)
