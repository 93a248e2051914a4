"""Dataflow operators: the engine's core (SURVEY.md §2.3-§2.9)."""

from verified_sources_spark.operators.incremental import (  # noqa: F401
    CursorStore,
    incremental_filter,
    max_cursor_value,
    date_range_chunks,
)
from verified_sources_spark.operators.dedup import (  # noqa: F401
    drop_exact_duplicates,
    keep_latest,
)
from verified_sources_spark.operators.merge import (  # noqa: F401
    ParquetSink,
    merge_dataframes,
)
from verified_sources_spark.operators.routing import route_by_column  # noqa: F401
from verified_sources_spark.operators.joins import (  # noqa: F401
    as_of_join,
    range_join,
    salted_join,
)
from verified_sources_spark.operators.predicates import (  # noqa: F401
    apply_filter_doc,
    apply_projection,
    filter_doc_to_column,
)
from verified_sources_spark.operators.bucketing import (  # noqa: F401
    bucketed_join,
    plan_has_shuffle,
    write_bucketed,
)
from verified_sources_spark.operators.quality import (  # noqa: F401
    check_schema_on_data,
    profile,
    table_counts,
)
from verified_sources_spark.operators.delta_interop import (  # noqa: F401
    export_manifest_as_delta,
    read_delta_table,
)
from verified_sources_spark.operators.iceberg_interop import (  # noqa: F401
    export_manifest_as_iceberg,
    read_iceberg_table,
)
