"""Cleaning transform — one lazy Catalyst plan (SURVEY.md §3.1).

The reference's pipeline/clean_historical.py:17-56 is re-expressed as a single
declarative chain: epoch-ms→timestamp (D1), 11-col projection (P1), conjunctive
range/null filters (P4/P5/P6), keyed dedup (W2), constant null-fill (D8).
Catalyst pushes the range filters into the Parquet scan (PushedFilters) and
prunes columns; the ONLY shuffle is the dedup's hash exchange on the key —
which is exactly the minimum required by the semantics, at any scale.

Unlike the reference, we never read+overwrite one path in a single plan
(the clean_historical.py:25→53 self-overwrite hazard): callers write the
cleaned layer to a NEW location.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import epoch_ms_to_timestamp, in_closed_range
from ..schemas import (
    DEPTH_FILL,
    EVENT_DATE_RANGE,
    EVENT_KEY,
    LATITUDE_RANGE,
    LONGITUDE_RANGE,
    MAGNITUDE_RANGE,
)


def range_filter(df: DataFrame, bounds: dict[str, tuple]) -> DataFrame:
    """P4/P5 — conjunctive closed-interval filters, one Filter node.

    All predicates land in a single ``Filter`` so Catalyst pushes the whole
    conjunction to the source scan (row-group skipping via parquet stats).
    """
    pred: Column | None = None
    for col, (lo, hi) in bounds.items():
        p = in_closed_range(col, lo, hi)
        pred = p if pred is None else (pred & p)
    return df if pred is None else df.filter(pred)


def clean_events(raw: DataFrame) -> DataFrame:
    """The full cleaning chain (reference: pipeline/clean_historical.py:27-50).

    Input: RAW_EVENT_SCHEMA (+ optional country/region if pre-enriched).
    Output: CLEAN_EVENT_SCHEMA, unique on ``EVENT_KEY``. Lazy — composes
    into one optimized plan.
    """
    has_enrichment = "country" in raw.columns
    projected = raw.withColumn(
        "earthquake_datetime", epoch_ms_to_timestamp("time", exact=False)
    ).select(
        "place",
        "earthquake_datetime",
        "magnitude",
        "latitude",
        "longitude",
        "depth",
        *(["country", "region"] if has_enrichment else []),
        "alert",
        "tsunami",
        "type",
    )  # P1: drops tz + raw epoch col

    filtered = range_filter(
        projected.filter(F.col("magnitude").isNotNull()),  # P6
        {
            "magnitude": MAGNITUDE_RANGE,
            "latitude": LATITUDE_RANGE,
            "longitude": LONGITUDE_RANGE,
        },
    ).filter(
        in_closed_range(
            "earthquake_datetime", *(F.lit(d).cast("timestamp") for d in EVENT_DATE_RANGE)
        )
    )

    # W2 keyed dedup (the plan's one shuffle) + D8 null-fill.
    return filtered.dropDuplicates(list(EVENT_KEY)).na.fill({"depth": DEPTH_FILL})
