"""Canonical explicit schemas per layer (SURVEY.md §1.3).

The reference mixes hard-coded header lists, ``inferSchema``, and dbt casts
(reference: pipeline/extract_historical.py:134, pipeline/clean_historical.py:18,
dbt_files/models/core/stg_earthquake.sql:33-37). Here every layer has ONE
declared StructType, passed to ``spark.read.schema(...)`` — replacing schema
inference, the dbt cast block, and the YAML documentation contract at once.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw extraction layer: the 10-column CSV contract
# (reference: pipeline/extract_historical.py:134-138).
RAW_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("place", T.StringType(), True),
        T.StructField("time", T.LongType(), True),  # epoch MILLISECONDS
        T.StructField("magnitude", T.DoubleType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("depth", T.DoubleType(), True),
        T.StructField("alert", T.StringType(), True),
        T.StructField("tsunami", T.IntegerType(), True),
        T.StructField("tz", T.IntegerType(), True),  # ~always null; dropped at clean
        T.StructField("type", T.StringType(), True),
    ]
)

# Enriched layer: raw + spatial/regex country attribution
# (reference: pipeline/add_region.py:25-28).
ENRICHED_EVENT_SCHEMA = T.StructType(
    list(RAW_EVENT_SCHEMA.fields)
    + [
        T.StructField("country", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
    ]
)

# Cleaned layer: 11 columns post projection/filter/dedup/fill
# (reference: pipeline/clean_historical.py:27-50; FIXTURES.md F4).
CLEAN_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("place", T.StringType(), True),
        T.StructField("earthquake_datetime", T.TimestampType(), False),
        T.StructField("magnitude", T.DoubleType(), False),
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("depth", T.DoubleType(), False),  # null→0 filled
        T.StructField("country", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("alert", T.StringType(), True),
        T.StructField("tsunami", T.IntegerType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)

# Fact layer: stg surrogate key + derived severity/year/decade
# (reference: dbt_files/models/core/stg_earthquake.sql:30-44 and
# fact_earthquake_data.sql:7-20; FIXTURES.md F4).
FACT_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), False),  # md5 surrogate
        T.StructField("place", T.StringType(), True),
        T.StructField("event_datetime", T.TimestampType(), False),
        T.StructField("magnitude", T.DoubleType(), False),
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("depth", T.DoubleType(), False),
        T.StructField("country", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("alert", T.StringType(), True),
        T.StructField("tsunami", T.IntegerType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("severity", T.StringType(), False),
        T.StructField("event_year", T.IntegerType(), False),
        T.StructField("event_decade", T.IntegerType(), False),
    ]
)

# Spatial/lookup dimension: world countries (ADMIN, REGION_UN, geometry)
# (reference: pipeline/add_region.py:23-38; FIXTURES.md F3). Geometry is
# carried as WKT text — Spark has no native geometry type; the spatial
# operator parses it partition-side (operators/enrichment.py).
WORLD_COUNTRY_SCHEMA = T.StructType(
    [
        T.StructField("country", T.StringType(), False),
        T.StructField("region", T.StringType(), True),
        T.StructField("geometry_wkt", T.StringType(), True),  # NULL = name-only row
    ]
)

# Cleaning domain bounds (reference: pipeline/clean_historical.py:31-47,71-72).
MAGNITUDE_RANGE = (-1.0, 10.0)
LATITUDE_RANGE = (-90.0, 90.0)
LONGITUDE_RANGE = (-180.0, 180.0)
DEPTH_FILL = 0.0
EVENT_DATE_RANGE = ("1500-01-01", "2025-07-31")

# The event key: clean_events keeps one row per key, and stg_earthquake's
# surrogate key hashes it (reference: pipeline/clean_historical.py:48,
# dbt_files/models/core/stg_earthquake.sql:31).
EVENT_KEY = ("place", "earthquake_datetime")
