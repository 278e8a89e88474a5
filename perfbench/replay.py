"""Independent DuckDB replay of the earthquake pipeline, and result checks.

The replay rebuilds what the program should produce from the generator's
own frames: spatial hits come from the ground-truth sidecar instead of a
point-in-polygon test, and the place-name fallback uses RE2 ``(?i)\\b``
token regexes, first token in dimension order wins. Cleaning, staging,
the fact model and the 9 analytics views are restated in SQL from the
reference semantics, so a wrong answer in any layer shows as a mismatch.
"""

from __future__ import annotations

import datetime as dt
import math
import re

import duckdb
import pandas as pd

from datagen import RAW_COLUMNS

SEVERITY_SQL = """CASE WHEN magnitude >= 8 THEN 'Great' WHEN magnitude >= 7 THEN 'Major'
     WHEN magnitude >= 6 THEN 'Strong' WHEN magnitude >= 5 THEN 'Moderate'
     WHEN magnitude >= 4 THEN 'Light' ELSE 'Minor' END"""

VIEW_SQL = {
    "yearly_earthquake_stats": """
        SELECT event_year AS year, count(*) AS earthquake_count,
               avg(magnitude) AS avg_magnitude, avg(depth) AS avg_depth
        FROM fact WHERE magnitude > 3 GROUP BY 1""",
    "country_earthquake_stats_per_decade": """
        SELECT country, region, event_decade, count(*) AS frequency,
               avg(magnitude) AS avg_magnitude, avg(depth) AS avg_depth
        FROM fact WHERE magnitude > 3 AND country IS NOT NULL GROUP BY 1, 2, 3""",
    "country_severe_earthquake_stats": """
        SELECT country, severity AS earthquake_severity, count(*) AS frequency
        FROM fact WHERE magnitude > 3 AND country IS NOT NULL GROUP BY 1, 2""",
    "deadliest_decade": """
        SELECT event_decade, count(*) AS earthquake_frequency,
               avg(magnitude) AS avg_magnitude_recorded
        FROM fact WHERE magnitude > 3 GROUP BY 1""",
    "event_type_stats": """
        SELECT type AS event_type, count(*) AS event_frequency,
               avg(magnitude) AS avg_magnitude
        FROM fact WHERE type IS NOT NULL GROUP BY 1""",
    "top_100_earthquake": """
        SELECT event_datetime, place, country, region, magnitude, depth, alert, type
        FROM fact WHERE magnitude > 4 ORDER BY magnitude DESC LIMIT 100""",
    "top_countries_strongest_earthquake": """
        SELECT country, max(magnitude) AS max_magnitude
        FROM fact WHERE country IS NOT NULL AND magnitude > 4 GROUP BY 1""",
    "tsunami_flags": """
        SELECT country, region, count(*) AS total_events,
               sum(CASE WHEN tsunami = 1 THEN 1 ELSE 0 END) AS tsunami_flags,
               sum(CASE WHEN tsunami = 1 THEN 1 ELSE 0 END) / count(*) * 100
                   AS percent_tsunami_flagged
        FROM fact WHERE magnitude > 3 AND country IS NOT NULL GROUP BY 1, 2""",
    "alert_level_frequency_stats": """
        SELECT place, country, region, alert, magnitude FROM fact
        WHERE alert IN ('green', 'yellow', 'orange', 'red') AND country IS NOT NULL""",
}
VIEWS = list(VIEW_SQL)


class Replay:
    """One DuckDB connection holding the dimension and replayed tables."""

    def __init__(self, dim: dict, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        rows = dim["rows"]
        self.con.execute("CREATE TABLE dim (idx INTEGER, country VARCHAR, region VARCHAR)")
        self.con.executemany(
            "INSERT INTO dim VALUES (?, ?, ?)",
            [(i, c, r) for i, (c, r, _) in enumerate(rows)],
        )
        # first matching token in dimension order, with the program's
        # token pattern in RE2 syntax; constant patterns compile once
        self.first_token = "CASE " + " ".join(
            f"WHEN regexp_matches(place, '{self._pattern(c)}') THEN {i}"
            for i, (c, _, _) in enumerate(rows)
        ) + " END"

    @staticmethod
    def _pattern(token: str) -> str:
        return (r"(?i)\b" + re.escape(token) + r"\b").replace("'", "''")

    def fact(self, name: str, raw: pd.DataFrame) -> None:
        """Create table ``name`` with the fact rows of one raw batch."""
        frame = raw[RAW_COLUMNS + ["truth"]].reset_index(drop=True)
        frame.insert(0, "rid", range(len(frame)))
        self.con.register("raw_in", frame)
        self.con.execute(f"""
        CREATE OR REPLACE TABLE {name} AS
        WITH fallback AS (
            SELECT rid, {self.first_token} AS tok_idx FROM raw_in WHERE truth < 0),
        enriched AS (
            SELECT r.*, coalesce(s.country, f.country) AS country,
                   coalesce(s.region, f.region) AS region
            FROM raw_in r
            LEFT JOIN dim s ON s.idx = r.truth
            LEFT JOIN fallback fb ON fb.rid = r.rid
            LEFT JOIN dim f ON f.idx = fb.tok_idx),
        cleaned AS (
            SELECT place,
                   make_timestamp(CAST(trunc(time / 1000.0) AS BIGINT) * 1000000)
                       AS earthquake_datetime,
                   magnitude, latitude, longitude, coalesce(depth, 0.0) AS depth,
                   country, region, alert, tsunami, type
            FROM enriched
            WHERE magnitude IS NOT NULL AND magnitude BETWEEN -1 AND 10
              AND latitude BETWEEN -90 AND 90 AND longitude BETWEEN -180 AND 180),
        kept AS (
            SELECT DISTINCT ON (place, earthquake_datetime) * FROM cleaned
            WHERE earthquake_datetime BETWEEN TIMESTAMP '1500-01-01'
                                          AND TIMESTAMP '2025-07-31')
        SELECT md5(coalesce(place, '_dbt_utils_surrogate_key_null_') || '-'
                   || CAST(earthquake_datetime AS VARCHAR)) AS event_id,
               place, earthquake_datetime AS event_datetime, magnitude, latitude,
               longitude, depth, country, region, alert, tsunami, type,
               {SEVERITY_SQL} AS severity,
               CAST(year(earthquake_datetime) AS INTEGER) AS event_year,
               CAST(floor(year(earthquake_datetime) / 10) * 10 AS INTEGER)
                   AS event_decade
        FROM kept""")
        self.con.unregister("raw_in")

    def appended(self, table: str, batch: str, into: str) -> int:
        """Create ``into`` with the rows of ``batch`` the incremental merge
        must append to ``table`` (past its high-water mark, key absent),
        append them to ``table`` and return their count."""
        self.con.execute(f"""
            CREATE OR REPLACE TABLE {into} AS SELECT * FROM {batch}
            WHERE event_datetime > (SELECT max(event_datetime) FROM {table})
              AND event_id NOT IN (SELECT event_id FROM {table})""")
        self.con.execute(f"INSERT INTO {table} SELECT * FROM {into}")
        return self.count(into)

    def revisions(self, table: str, rev: pd.DataFrame) -> pd.DataFrame:
        """Full fact rows for the revised keys, with the new magnitude."""
        self.con.register("rev_in", rev)
        out = self.con.execute(f"""
            SELECT f.* REPLACE (r.new_magnitude AS magnitude,
                                {SEVERITY_SQL.replace('magnitude', 'r.new_magnitude')}
                                    AS severity)
            FROM {table} f JOIN rev_in r
              ON f.place = r.place
             AND f.event_datetime = make_timestamp(
                     CAST(trunc(r.time / 1000.0) AS BIGINT) * 1000000)
            ORDER BY f.event_id""").arrow()
        self.con.unregister("rev_in")
        return out

    def views(self, table: str) -> dict[str, list[tuple]]:
        self.con.execute(f"CREATE OR REPLACE VIEW fact AS SELECT * FROM {table}")
        return {v: self.con.execute(sql).fetchall() for v, sql in VIEW_SQL.items()}

    def count(self, table: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def _canon(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return float(v)
    return v


def _sort_key(row):
    return tuple(
        (0, "") if v is None else (1, round(v, 6)) if isinstance(v, float) else (1, v)
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got, want) -> bool:
    """Order-insensitive comparison; floats within 1e-9 (sums differ in
    their last bits between engines and between partitionings)."""
    g = sorted((tuple(_canon(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_canon(v) for v in r) for r in want), key=_sort_key)
    return len(g) == len(w) and all(
        len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
        for x, y in zip(g, w)
    )


def same_view(name: str, got, want) -> bool:
    if same_rows(got, want):
        return True
    if name != "top_100_earthquake" or len(got) != len(want):
        return False
    # rows tied on the cut-off magnitude may be picked either way: the
    # magnitudes must agree, and so must every row above the cut-off
    mag = 4
    gm = sorted(r[mag] for r in got)
    wm = sorted(r[mag] for r in want)
    if gm != wm:
        return False
    cut = gm[0]
    return same_rows([r for r in got if r[mag] > cut], [r for r in want if r[mag] > cut])
