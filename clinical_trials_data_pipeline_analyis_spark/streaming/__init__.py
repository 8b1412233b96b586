from .curation import curate_docs_stream
from .dedup import (
    clean_spans_stream,
    decontaminate_docs_stream,
    dedup_events_stream,
    near_dedup_docs_stream,
    simhash_near_dedup_stream,
)
from .events import (
    hourly_event_counts_stream,
    silver_studies_stream,
    streaming_events_source,
)
from .joins import attribute_actions_batch, attribute_actions_stream
from .similarity import (
    MAX_LITERAL_CENTROIDS,
    assign_cells_foreach_batch,
    assign_cells_stream,
    nearest_centroid_expr,
    rhp_near_dedup_stream,
)

__all__ = [
    "clean_spans_stream",
    "curate_docs_stream",
    "decontaminate_docs_stream",
    "dedup_events_stream",
    "near_dedup_docs_stream",
    "simhash_near_dedup_stream",
    "hourly_event_counts_stream",
    "silver_studies_stream",
    "streaming_events_source",
    "attribute_actions_batch",
    "attribute_actions_stream",
    "MAX_LITERAL_CENTROIDS",
    "assign_cells_foreach_batch",
    "assign_cells_stream",
    "nearest_centroid_expr",
    "rhp_near_dedup_stream",
]
