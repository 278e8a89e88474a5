from .cleaning import clean_events, range_filter
from .dedup import (
    dedup_keep_any,
    dedup_keep_first,
    dedup_row_number,
    exact_dedup,
)
from .enrichment import enrich_events, regex_token_join, spatial_join
from .merge import anti_join_merge, high_water_mark_filter, incremental_upsert

__all__ = [
    "anti_join_merge",
    "clean_events",
    "dedup_keep_any",
    "dedup_keep_first",
    "dedup_row_number",
    "enrich_events",
    "exact_dedup",
    "high_water_mark_filter",
    "incremental_upsert",
    "range_filter",
    "regex_token_join",
    "spatial_join",
]
