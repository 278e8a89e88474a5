"""The workloads, driven through the package's public functions.

Each workload builds its inputs and expected results outside any timed
region, then hands ``Bench.run_workload`` a ``setup`` and a ``cycle``.
A cycle is the workload's unit of batch work. The loop is closed, with
one client: the next cycle starts when the last ends.
Every cycle checks its own results, outside its timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import RAW_COLUMNS, curation_inputs, earthquake_inputs
from replay import VIEWS, Replay, same_rows, same_view
from tracing import TASK_FIELDS, Tracer, median, task_metrics

from earthquake_data_pipeline_spark.operators.cleaning import clean_events
from earthquake_data_pipeline_spark.operators.enrichment import (
    enrich_events,
    parse_polygon_dim,
    regex_token_join,
    spatial_join,
)
from earthquake_data_pipeline_spark.operators.merge import incremental_upsert
from earthquake_data_pipeline_spark.plans.models import (
    ANALYTICS_MODELS,
    fact_earthquake_data,
    stg_earthquake,
)
from earthquake_data_pipeline_spark.plans.registry import ModelRegistry
from earthquake_data_pipeline_spark.schemas import RAW_EVENT_SCHEMA
from earthquake_data_pipeline_spark.sources import io, txnlog

# Input sizes: a warm cycle takes 5-10 s on a 4-core host, dominated by
# the fixed cost of Spark jobs and by the regex fallback (misses x
# tokens); the measured first cycle adds the JVM's warm-up.
N_POLYGONS = 250
HISTORICAL_EVENTS = 8_000
MONTH_EVENTS = 4_000
N_DOCS = 500
N_VECS = 500
SETUPS = 11  # set-ups in a running JVM; setup_s is their median

LAYERS = ["io", "enrichment", "cleaning", "models", "registry", "merge", "txnlog", "catalog"]
# one query per curation operator module: fuzzy_dedup, fingerprint,
# clustering, similarity, indexing
CURATION_QUERIES = [
    "minhash_lsh", "exact_substring_dup", "kmeans_clusters", "ann_ivf", "bm25_topk",
]
KEYS = ["event_id"]
TS = "event_datetime"
PHASES = ["load", "increment", "replay", "revision", "refresh"]


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = [
        "session.start_s", "trace.overhead_s", "host.steal_ratio",
        "cycle.first_wall_s", "cycle.warm_wall_s",
        *[f"pipeline.{p}_s" for p in PHASES],
        "io.read_csv_s", "io.rows_read",
        "enrichment.enrich_s", "enrichment.spatial_s", "enrichment.fallback_s",
        "enrichment.spatial_hit_ratio", "enrichment.fallback_hit_ratio",
        "enrichment.rlike_pairs",
        "cleaning.clean_s", "cleaning.rows_kept_ratio",
        "models.stg_s", "models.fact_s",
        *[f"models.view_ms.{v}" for v in VIEWS],
        "registry.table_write_s",
        "merge.hwm_s", "merge.upsert_s", "merge.appended_ratio", "merge.replay_appended_rows",
        "txnlog.commit_overwrite_s", "txnlog.snapshot_read_s", "txnlog.commit_append_s",
        "txnlog.merge_commit_s",
        "txnlog.bytes_written", "txnlog.live_files", "txnlog.bytes_per_changed_row",
        *[f"catalog.{q}_s" for q in CURATION_QUERIES],
    ]
    return names + [f"{layer}.{f}" for layer in LAYERS for f in TASK_FIELDS]


# span name -> per-layer metric holding the median of its self time
TIMED_SPANS = {
    "io.read_csv": "io.read_csv_s", "enrichment": "enrichment.enrich_s",
    "enrichment.spatial": "enrichment.spatial_s",
    "enrichment.fallback": "enrichment.fallback_s", "cleaning": "cleaning.clean_s",
    "models.stg": "models.stg_s", "models.fact": "models.fact_s",
    "registry": "registry.table_write_s", "merge.hwm": "merge.hwm_s",
    "merge.upsert": "merge.upsert_s", "txnlog.commit_overwrite": "txnlog.commit_overwrite_s",
    "txnlog.snapshot_read": "txnlog.snapshot_read_s",
    "txnlog.commit_append": "txnlog.commit_append_s",
    "txnlog.merge_commit": "txnlog.merge_commit_s",
    **{f"catalog.{q}": f"catalog.{q}_s" for q in CURATION_QUERIES},
}


def layer_metrics(b, tracer: Tracer, event_dir: str, overhead_s: float) -> dict:
    """The traced run's per-layer metrics; layers a workload never calls read 0."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    out["session.start_s"] = b.jvm_start_s
    out["trace.overhead_s"] = overhead_s
    for span, metric in TIMED_SPANS.items():
        out[metric] = median(tracer.self_times(span))
    for v in VIEWS:
        out[f"models.view_ms.{v}"] = 1000.0 * median(tracer.self_times(f"models.view.{v}"))
    for metric, xs in b.counts.items():
        out[metric] = median(xs)
    cycles = max(len(b.traced_cycles), 1)
    for layer, acc in task_metrics(event_dir, tracer).items():
        for field, v in acc.items():
            if f"{layer}.{field}" in out:
                out[f"{layer}.{field}"] = v / cycles
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _read_raw(path: str) -> pd.DataFrame:
    """The CSV as the replay sees it, plus the ground-truth sidecar."""
    raw = pd.read_csv(
        path, keep_default_na=False, na_values=[""], float_precision="round_trip",
        dtype={"place": "string", "time": "int64", "magnitude": "float64",
               "latitude": "float64", "longitude": "float64", "depth": "float64",
               "alert": "string", "tsunami": "Int32", "tz": "Int32", "type": "string"},
    )[RAW_COLUMNS]
    raw["truth"] = pd.read_parquet(path[: -len(".csv")] + ".truth.parquet")["truth"]
    return raw


def _load_dim(d: str):
    """(dim, polygons, lookup): the WKT dimension as the program takes it."""
    with open(os.path.join(d, "dim.json")) as f:
        dim = json.load(f)
    rows = [tuple(r) for r in dim["rows"]]
    polygons = [r for r in rows if r[2] is not None]
    lookup = [(c, r) for c, r, _ in rows]
    return dim, polygons, lookup


def _variant(polygons: list, i: int) -> list:
    """The polygons rotated by ``i``: the same dimension (they do not
    overlap, so every point keeps its polygon) with other content. The
    program memoizes the parsed dimension on its content for the life of
    the Python process; a batch job is a new process each run, so each
    set-up hands the program a variant it has not parsed yet."""
    i %= len(polygons)
    return polygons[i:] + polygons[:i]


def _snapshot(table: str):
    """The table's latest snapshot read directly from its live files."""
    return pa.concat_tables(
        pq.read_table(f, columns=["event_id", "magnitude"]) for f in txnlog.live_files(table)
    )


def _parquet_for_spark(spark, path: str):
    """A DuckDB-written fact file with the program's timestamp type."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).withColumn(TS, F.col(TS).cast("timestamp"))


def _collect_views(tr: Tracer, fact=None, results=None) -> dict[str, list]:
    """Collect the 9 views, each in its own span: from registry
    ``results`` when given, else built over ``fact``."""
    got = {}
    for v in VIEWS:
        with tr.span(f"models.view.{v}", layer="models"):
            if results is not None:
                df = results[v]
            elif v == "top_100_earthquake":
                df = ANALYTICS_MODELS[v](fact, limit=100)
            else:
                df = ANALYTICS_MODELS[v](fact)
            got[v] = df.collect()
    return got


# --------------------------------------------------------------------------
# pipeline: the historical load, one month merged into it, the dashboard


class Expected:
    """What the DuckDB replay says each step must produce: the load's
    views and rows, the rows the month must append, the revisions, and
    the dashboard after the month and the revisions."""

    def __init__(self, b, d: str, dim: dict):
        rp = Replay(dim, b.cpus)
        rp.fact("base", _read_raw(os.path.join(d, "historical.csv")))
        self.load_views = rp.views("base")
        self.base_rows = rp.count("base")
        rp.fact("month", _read_raw(os.path.join(d, "month.csv")))
        rp.con.execute("CREATE TABLE cur AS SELECT * FROM base")
        self.appended = rp.appended("cur", "month", "fresh")
        rev = rp.revisions("base", pd.read_parquet(os.path.join(d, "revisions.parquet")))
        self.revisions = os.path.join(b.scratch("expected"), "revisions.parquet")
        pq.write_table(rev, self.revisions)
        self.revised = dict(zip(rev.column("event_id").to_pylist(),
                                rev.column("magnitude").to_pylist()))
        rp.con.register("rev_in", rev)
        rp.con.execute("""UPDATE cur SET magnitude = r.magnitude, severity = r.severity
                          FROM rev_in r WHERE cur.event_id = r.event_id""")
        rp.con.unregister("rev_in")
        self.dashboard = rp.views("cur")
        rp.close()


def _load(tr: Tracer, spark, csv: str, polygons, lookup, warehouse: str):
    """The historical load: CSV -> enrichment -> ModelRegistry (cleaned,
    stg and fact as tables, the 9 views). Returns (raw, registry results)."""
    with tr.span("io.read_csv"):
        raw = tr.force(io.read_csv(spark, csv, RAW_EVENT_SCHEMA))
    with tr.span("enrichment"):
        enriched = tr.force(enrich_events(raw, polygons, lookup))

    def model(span, fn):
        def run(*deps):
            with tr.span(span):
                return tr.force(fn(*deps))
        return run

    reg = ModelRegistry(spark, warehouse_dir=warehouse)
    reg.source("enriched", enriched)
    reg.model("cleaned", model("cleaning", clean_events), ["enriched"], "table")
    reg.model("stg_earthquake", model("models.stg", stg_earthquake), ["cleaned"], "table")
    reg.model("fact_earthquake_data", model("models.fact", fact_earthquake_data),
              ["stg_earthquake"], "table")
    for v in VIEWS:
        fn = ANALYTICS_MODELS[v]
        if v == "top_100_earthquake":
            fn = lambda f, _top=fn: _top(f, limit=100)  # noqa: E731
        reg.model(v, fn, ["fact_earthquake_data"], "view")
    with tr.span("registry"):
        return raw, reg.run()


def _probe_enrichment(b, tr, raw, polygons, lookup, n_clean):
    """Traced-only probes of the two enrichment strategies on the load's
    input: hit ratios and work counts measured where the work happens."""
    from pyspark.sql import functions as F

    n_raw = raw.count()
    keyed = raw.withColumn("__rid", F.monotonically_increasing_id())
    with tr.span("enrichment.spatial", layer="probe"):
        spatial = tr.force(spatial_join(keyed, polygons))
    misses = spatial.filter(F.col("country").isNull()).select("__rid", "place")
    tokens = [c for c, _ in lookup]
    with tr.span("enrichment.fallback", layer="probe"):
        inferred = tr.force(regex_token_join(misses, "place", tokens, ["__rid"]))
    n_miss = inferred.count()
    n_hit = inferred.filter(F.col("matched_token").isNotNull()).count()
    b.counts["io.rows_read"].append(n_raw)
    b.counts["enrichment.spatial_hit_ratio"].append((n_raw - n_miss) / n_raw)
    b.counts["enrichment.fallback_hit_ratio"].append(n_hit / max(n_miss, 1))
    b.counts["enrichment.rlike_pairs"].append(n_miss * len(tokens))
    b.counts["cleaning.rows_kept_ratio"].append(n_clean / n_raw)


def _increment(b, tr, table, csv, polygons, lookup, replay: bool) -> None:
    """One month through enrich -> clean -> stg/fact -> upsert -> append.
    Spans of the replayed month are named ``replay.*`` so per-layer times
    describe the first application."""
    spark = b.spark
    pre = "replay." if replay else ""

    def span(name):
        return tr.span(pre + name, layer=name.split(".")[0])

    with span("io.read_csv"):
        raw = tr.force(io.read_csv(spark, csv, RAW_EVENT_SCHEMA))
    with span("enrichment"):
        enriched = tr.force(enrich_events(raw, polygons, lookup))
    with span("cleaning"):
        cleaned = tr.force(clean_events(enriched))
    with span("models.stg"):
        stg = tr.force(stg_earthquake(cleaned))
    with span("models.fact"):
        fact = tr.force(fact_earthquake_data(stg))
    with span("txnlog.snapshot_read"):
        snap = txnlog.read_snapshot(spark, table)
    # the call runs the high-water-mark job; the rest of the upsert (dedup
    # and anti-join) runs when its output is forced
    with span("merge.hwm"):
        upsert = incremental_upsert(fact, snap, KEYS, TS)
    with span("merge.upsert"):
        to_append = tr.force(upsert)
    with span("txnlog.commit_append"):
        txnlog.commit_append(to_append, table)
    if tr.traced and not replay:
        b.counts["merge.appended_ratio"].append(to_append.count() / max(fact.count(), 1))


def pipeline(b):
    d = earthquake_inputs(b.work, b.seed, HISTORICAL_EVENTS, N_POLYGONS, MONTH_EVENTS)
    dim, polygons, lookup = _load_dim(d)
    want = Expected(b, d, dim)
    historical, month = os.path.join(d, "historical.csv"), os.path.join(d, "month.csv")
    warehouse = b.scratch("warehouse")
    table = os.path.join(b.scratch("tables"), "fact")
    dims = []  # the dimension variant of each set-up; cycles use the last

    def setup(i):
        b.start_session()
        dims.append(_variant(polygons, i))
        parse_polygon_dim(dims[-1])

    def cycle(tr) -> float:
        spark = b.spark
        shutil.rmtree(table, ignore_errors=True)
        took = {}

        t = time.perf_counter()
        raw, res = _load(tr, spark, historical, dims[-1], lookup, warehouse)
        views = _collect_views(tr, results=res)
        with tr.span("txnlog.commit_overwrite"):
            txnlog.commit_overwrite(res["fact_earthquake_data"], table)
        took["load"] = time.perf_counter() - t
        for v in VIEWS:
            b.check(same_view(v, views[v], want.load_views[v]), f"load view {v}")
        n0 = _snapshot(table).num_rows
        b.check(n0 == want.base_rows, f"loaded {n0} rows")
        before = _dir_bytes(table)
        if tr.traced:
            _probe_enrichment(b, tr, raw, dims[-1], lookup, res["cleaned"].count())

        t = time.perf_counter()
        _increment(b, tr, table, month, dims[-1], lookup, replay=False)
        took["increment"] = time.perf_counter() - t
        n = _snapshot(table).num_rows
        b.check(n == n0 + want.appended, f"month appended {n - n0}")

        t = time.perf_counter()
        _increment(b, tr, table, month, dims[-1], lookup, replay=True)
        took["replay"] = time.perf_counter() - t
        n2 = _snapshot(table).num_rows
        b.check(n2 == n, f"replayed month appended {n2 - n}")

        updates = _parquet_for_spark(spark, want.revisions)
        t = time.perf_counter()
        with tr.span("txnlog.merge_commit"):
            txnlog.merge_commit(updates, table, KEYS)
        took["revision"] = time.perf_counter() - t
        snap = _snapshot(table)
        got = {k: v for k, v in zip(snap.column("event_id").to_pylist(),
                                    snap.column("magnitude").to_pylist()) if k in want.revised}
        b.check(got == want.revised and snap.num_rows == n2, "revisions")
        written = _dir_bytes(table) - before

        t = time.perf_counter()
        with tr.span("txnlog.snapshot_read"):
            fact = txnlog.read_snapshot(spark, table)
        views = _collect_views(tr, fact=fact)
        took["refresh"] = time.perf_counter() - t
        for v in VIEWS:
            b.check(same_view(v, views[v], want.dashboard[v]), f"dashboard {v}")

        for phase, s in took.items():
            b.phases[phase].append(s)
        if tr.traced:
            b.counts["merge.replay_appended_rows"].append(n2 - n)
            b.counts["txnlog.bytes_written"].append(written)
            b.counts["txnlog.live_files"].append(len(txnlog.live_files(table)))
            b.counts["txnlog.bytes_per_changed_row"].append(
                written / (want.appended + len(want.revised)))
        return sum(took.values())

    return b.run_workload(setup, cycle, SETUPS)


# --------------------------------------------------------------------------
# curation: catalog queries over generated documents and embeddings


def curation(b):
    import duckdb

    from earthquake_data_pipeline_spark import driver_queries as dq

    d = curation_inputs(b.work, b.seed, N_DOCS, N_VECS)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    expected = {q: con.execute(dq.ORACLE[q]).fetchall() for q in CURATION_QUERIES}
    con.close()

    def setup(i):
        b.start_session()

    def cycle(tr) -> float:
        t0 = time.perf_counter()
        got = {}
        for q in CURATION_QUERIES:
            with tr.span(f"catalog.{q}", layer="catalog"):
                got[q] = dq.QUERIES[q](b.spark, d).collect()
        wall = time.perf_counter() - t0
        for q in CURATION_QUERIES:
            b.check(same_rows(got[q], expected[q]), f"curation {q}")
        return wall

    return b.run_workload(setup, cycle, SETUPS)


WORKLOADS = {
    "pipeline": pipeline,
    "curation": curation,
}
