"""The model DAG: stg → fact → 9 analytics models (SURVEY.md §3.3).

dbt restatement: each model is a function DataFrame → DataFrame; ``ref()``
is a function call; the dependency DAG is Catalyst's lazy logical plan.
Every model cites its reference SQL. All are pure Column expressions —
whole-stage codegen end-to-end, no Python workers.

The reference dedups each event twice (Spark clean job, then dbt stg)
because the steps run in different engines; here they compose into one
plan, so ``clean_events`` dedups once and stg is a projection.

Presentation order: the 9 analytics models are terminal views whose ORDER BY
is part of their observable contract (SURVEY §2.7 note) — they return
sorted DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import case_rank, decade_of, severity_of, surrogate_key
from ..schemas import EVENT_KEY

ALERT_RANK = {"red": 1, "orange": 2, "yellow": 3, "green": 4}
SEVERITY_RANK = {"Great": 1, "Major": 2, "Strong": 3, "Moderate": 4, "Light": 5, "Minor": 6}


def stg_earthquake(cleaned: DataFrame) -> DataFrame:
    """Staging model (reference: dbt_files/models/core/stg_earthquake.sql:30-44).

    md5 surrogate key + cast normalization: a pure projection. Precondition:
    ``cleaned`` is unique on ``EVENT_KEY``, as ``clean_events`` guarantees
    (the reference's window dedup at stg_earthquake.sql:25-29 would be a
    no-op on it). The incremental branch lives in operators/merge.py (I1);
    this is the transform applied to whichever slice flows in.
    """
    return cleaned.select(
        surrogate_key(list(EVENT_KEY)).alias("event_id"),
        "place",
        F.col("earthquake_datetime").cast("timestamp").alias("event_datetime"),
        F.col("magnitude").cast("double").alias("magnitude"),
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
        F.col("depth").cast("double").alias("depth"),
        "country",
        "region",
        "alert",
        "tsunami",
        "type",
    )


def fact_earthquake_data(stg: DataFrame) -> DataFrame:
    """Fact model (reference: dbt_files/models/core/fact_earthquake_data.sql:7-20)."""
    return stg.select(
        "*",
        severity_of("magnitude").alias("severity"),
        F.year("event_datetime").cast("int").alias("event_year"),
        decade_of("event_datetime").alias("event_decade"),
    )


# --- the 9 analytics models (dbt_files/models/analytics/*.sql) -----------


def yearly_earthquake_stats(fact: DataFrame) -> DataFrame:
    """reference: yearly_earthquake_stats.sql:10-16."""
    return (
        fact.filter(F.col("magnitude") > 3)
        .groupBy(F.col("event_year").alias("year"))
        .agg(
            F.count("*").alias("earthquake_count"),
            F.avg("magnitude").alias("avg_magnitude"),
            F.avg("depth").alias("avg_depth"),
        )
        .orderBy("year")
    )


def country_earthquake_stats_per_decade(fact: DataFrame) -> DataFrame:
    """reference: country_earthquake_stats_per_decade.sql:9-18."""
    return (
        fact.filter((F.col("magnitude") > 3) & F.col("country").isNotNull())
        .groupBy("country", "region", "event_decade")
        .agg(
            F.count("*").alias("frequency"),
            F.avg("magnitude").alias("avg_magnitude"),
            F.avg("depth").alias("avg_depth"),
        )
        .orderBy(F.desc("frequency"))
    )


def country_severe_earthquake_stats(fact: DataFrame) -> DataFrame:
    """reference: country_severe_earthquake_stats.sql:9-25."""
    return (
        fact.filter((F.col("magnitude") > 3) & F.col("country").isNotNull())
        .groupBy("country", F.col("severity").alias("earthquake_severity"))
        .agg(F.count("*").alias("frequency"))
        .orderBy("country", case_rank("earthquake_severity", SEVERITY_RANK, 7))
    )


def deadliest_decade(fact: DataFrame) -> DataFrame:
    """reference: deadliest_decade.sql:9-15."""
    return (
        fact.filter(F.col("magnitude") > 3)
        .groupBy("event_decade")
        .agg(
            F.count("*").alias("earthquake_frequency"),
            F.avg("magnitude").alias("avg_magnitude_recorded"),
        )
        .orderBy("event_decade")
    )


def event_type_stats(fact: DataFrame) -> DataFrame:
    """reference: event_type_stats.sql:8-15."""
    return (
        fact.filter(F.col("type").isNotNull())
        .groupBy(F.col("type").alias("event_type"))
        .agg(
            F.count("*").alias("event_frequency"),
            F.avg("magnitude").alias("avg_magnitude"),
        )
        .orderBy(F.desc("event_frequency"))
    )


def top_100_earthquake(fact: DataFrame, limit: int | None = None) -> DataFrame:
    """reference: top_100_earthquake.sql:10-21.

    Faithful form has NO limit (the reference view never applies one despite
    its name — SURVEY §2.7 O4); pass ``limit=100`` for the intended form,
    which Spark plans as TakeOrderedAndProject (no global sort at scale).
    """
    out = (
        fact.filter(F.col("magnitude") > 4)
        .select(
            "event_datetime", "place", "country", "region",
            "magnitude", "depth", "alert", "type",
        )
        .orderBy(F.desc("magnitude"))
    )
    return out.limit(limit) if limit else out


def top_countries_strongest_earthquake(fact: DataFrame) -> DataFrame:
    """reference: top_countries_strongest_earthquake.sql:9-14."""
    return (
        fact.filter(F.col("country").isNotNull() & (F.col("magnitude") > 4))
        .groupBy("country")
        .agg(F.max("magnitude").alias("max_magnitude"))
        .orderBy(F.desc("max_magnitude"))
    )


def tsunami_flags(fact: DataFrame) -> DataFrame:
    """reference: tsunami_flags.sql:8-18 (A5 conditional sum, D14 ratio)."""
    tsunami_flag = F.when(F.col("tsunami") == 1, 1).otherwise(0)
    return (
        fact.filter((F.col("magnitude") > 3) & F.col("country").isNotNull())
        .groupBy("country", "region")
        .agg(
            F.count("*").alias("total_events"),
            F.sum(tsunami_flag).alias("tsunami_flags"),
            ((F.sum(tsunami_flag) / F.count("*")) * 100).alias("percent_tsunami_flagged"),
        )
        .orderBy(F.desc("percent_tsunami_flagged"))
    )


def alert_level_frequency_stats(fact: DataFrame) -> DataFrame:
    """reference: alert_level_frequency_stats.sql:8-25 (P8 IN-list, O3 CASE sort)."""
    return (
        fact.filter(
            F.col("alert").isin("green", "yellow", "orange", "red")
            & F.col("country").isNotNull()
        )
        .select("place", "country", "region", "alert", "magnitude")
        .orderBy(case_rank("alert", ALERT_RANK, 5), F.desc("magnitude"), "country")
    )


ANALYTICS_MODELS = {
    "yearly_earthquake_stats": yearly_earthquake_stats,
    "country_earthquake_stats_per_decade": country_earthquake_stats_per_decade,
    "country_severe_earthquake_stats": country_severe_earthquake_stats,
    "deadliest_decade": deadliest_decade,
    "event_type_stats": event_type_stats,
    "top_100_earthquake": top_100_earthquake,
    "top_countries_strongest_earthquake": top_countries_strongest_earthquake,
    "tsunami_flags": tsunami_flags,
    "alert_level_frequency_stats": alert_level_frequency_stats,
}
