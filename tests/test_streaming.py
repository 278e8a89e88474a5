"""Structured Streaming tests: stateful dedup, foreachBatch replay-safe
merge, watermarked windowed aggregation (SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from earthquake_data_pipeline_spark.streaming.incremental import (
    foreach_batch_merge,
    interval_stream_join,
    running_user_totals,
    session_window_agg,
    streaming_dedup,
    windowed_event_counts,
)

EVENTS_SCHEMA = "k string, ts timestamp, v double"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, ["k", "ts", "v"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("append").parquet(path)


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            ("a", "2024-01-01 10:00:00", 1.0),
            ("a", "2024-01-01 10:00:00", 2.0),  # duplicate key+ts
            ("b", "2024-01-01 10:05:00", 3.0),
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    deduped = streaming_dedup(stream, ["k"], "ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM dedup_out").collect()
    finally:
        q.stop()
    assert sorted((r.k, r.v in (1.0, 2.0)) for r in rows) == [("a", True), ("b", False)] or \
        sorted(r.k for r in rows) == ["a", "b"]
    assert len(rows) == 2


def test_foreach_batch_merge_replay_safe(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    _write_batch(spark, src, [("a", "2024-01-01 10:00:00", 1.0)])

    def run_stream(ckpt):
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        writer = foreach_batch_merge(stream, target, ["k"], ckpt)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_stream(str(tmp_path / "c1"))
    assert spark.read.parquet(target).count() == 1

    # new batch with one replayed key and one new key
    _write_batch(
        spark,
        src,
        [("a", "2024-01-01 10:00:00", 99.0), ("b", "2024-01-01 11:00:00", 2.0)],
    )
    run_stream(str(tmp_path / "c2"))  # fresh checkpoint → reprocesses ALL input
    out = spark.read.parquet(target)
    assert out.count() == 2  # replayed 'a' not duplicated
    assert sorted(r.k for r in out.collect()) == ["a", "b"]


def test_foreach_batch_merge_dedups_within_batch(spark, tmp_path):
    """r15, caught by the stream-chaos axis: an at-least-once transport
    can deliver an original and its re-delivery in the SAME micro-batch
    (observed when a SIGKILL mid-offsets-write made the restarted query
    re-plan one batch to span two input files, one re-carrying the
    other's tail). The anti-join only guards batch-vs-target, so both
    copies inserted. The batch must be deduplicated on the merge keys
    within itself too."""
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    # one physical batch containing a key twice, plus a distinct key
    _write_batch(
        spark,
        src,
        [
            ("a", "2024-01-01 10:00:07", 1.5),  # re-delivery, later stamp
            ("a", "2024-01-01 10:00:00", 1.0),
            ("b", "2024-01-01 11:00:00", 2.0),
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    writer = foreach_batch_merge(stream, target, ["k"], str(tmp_path / "c"))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 2  # exactly one row per key, first batch included
    rows = {r.k: (str(r.ts), r.v) for r in out.collect()}
    assert sorted(rows) == ["a", "b"]
    # r16 (ADVICE r15 medium): the in-batch pick is DETERMINISTIC, not
    # keep-any — divergent duplicate payloads (the retry-with-a-later-
    # stamp shape) resolve to the SMALLEST payload tuple in column
    # order, bit-stable across runs and partitionings. Input order
    # above is adversarial: the later stamp arrives first.
    assert rows["a"] == ("2024-01-01 10:00:00", 1.0)


def test_foreach_batch_merge_map_payload_deterministic(spark, tmp_path):
    """r17 (ADVICE r16 medium): the deterministic in-batch pick ordered
    by EVERY non-key column — but Spark cannot ORDER BY non-orderable
    types (MapType), so any stream whose payload carried a map failed
    every micro-batch with AnalysisException where the prior
    dropDuplicates(keys) worked. Non-orderable payload columns must
    tie-break through to_json instead; the pick stays deterministic
    (the orderable `v` column already decides here) and orderable
    columns keep their native order (no string-ordering regression:
    v=2.0 < v=10.0)."""
    src = str(tmp_path / "src")
    schema = "k string, v double, attrs map<string,string>"
    spark.createDataFrame(
        [
            ("a", 10.0, {"retry": "1"}),
            ("a", 2.0, {"retry": "0"}),
            ("b", 5.0, {}),
        ],
        schema,
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    writer = foreach_batch_merge(
        stream, str(tmp_path / "t"), ["k"], str(tmp_path / "c")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "t"))
    rows = {r.k: (r.v, dict(r.attrs)) for r in out.collect()}
    assert sorted(rows) == ["a", "b"]
    # numeric order, not to_json string order ("10.0" < "2.0")
    assert rows["a"] == (2.0, {"retry": "0"})


def test_orderable_type_predicate():
    """The _orderable helper must reject MapType at ANY nesting depth
    (Catalyst rejects it inside arrays/structs too) and accept the
    sortable composites."""
    from pyspark.sql import types as T

    from earthquake_data_pipeline_spark.operators.dedup import _orderable

    m = T.MapType(T.StringType(), T.LongType())
    assert not _orderable(m)
    assert not _orderable(T.ArrayType(m))
    assert not _orderable(
        T.StructType([T.StructField("inner", m)])
    )
    assert not _orderable(T.VariantType())
    assert not _orderable(T.ArrayType(T.VariantType()))
    assert _orderable(T.ArrayType(T.LongType()))
    assert _orderable(T.StructType([T.StructField("s", T.StringType())]))
    assert _orderable(T.BinaryType())


def test_audit_checkpoint_inputs_guards_pending_only(tmp_path):
    """r16 restart guard (caught by tools/file_source_chaos_check.py):
    a restarted file stream re-plans batches after the last commit from
    the checkpoint's pinned file lists, and a pinned file missing at
    that point silently drops out at PLANNING time. The audit must
    (a) raise loud for a vanished PENDING-batch file, (b) ignore
    vanished COMMITTED-batch files (input retention is legal), and
    (c) skip object-store URIs it cannot stat locally."""
    import json

    from earthquake_data_pipeline_spark.streaming.incremental import (
        audit_checkpoint_inputs,
    )

    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    alive = tmp_path / "alive.parquet"
    alive.write_bytes(b"PAR1")
    gone = tmp_path / "gone.parquet"

    def pin(batch: int, path, scheme="file://"):
        with open(ckpt / "sources" / "0" / str(batch), "w") as fh:
            fh.write("v1\n")
            fh.write(json.dumps({"path": f"{scheme}{path}",
                                 "timestamp": 1, "batchId": batch}) + "\n")

    # batch 0 committed and its file retired: legal retention
    pin(0, gone)
    (ckpt / "commits" / "0").write_text("v1\n{}")
    # batch 1 pending, file alive: audited, passes
    pin(1, alive)
    assert audit_checkpoint_inputs(str(ckpt)) == 1

    # batch 2 pending with a vanished file: loud, names the path
    pin(2, gone)
    with pytest.raises(FileNotFoundError, match="gone.parquet"):
        audit_checkpoint_inputs(str(ckpt))

    # object-store pin is skipped, not guessed at
    pin(2, "bucket/missing.parquet", scheme="s3a://")
    assert audit_checkpoint_inputs(str(ckpt)) == 1

    # fresh checkpoint: nothing pinned
    assert audit_checkpoint_inputs(str(tmp_path / "nonexistent")) == 0


def test_audit_checkpoint_inputs_skips_pathless_and_remote_host(tmp_path):
    """r17 (ADVICE r16 low): a source-log entry with no 'path' key must
    be skipped, not counted audited and reported as a vanished '' —
    and a file://host/path URI with a non-empty netloc names a REMOTE
    host, so it is unauditable (skipped), never checked against the
    local filesystem with the host silently stripped."""
    import json

    from earthquake_data_pipeline_spark.streaming.incremental import (
        audit_checkpoint_inputs,
    )

    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    alive = tmp_path / "alive.parquet"
    alive.write_bytes(b"PAR1")

    def pin(batch: int, entries):
        with open(ckpt / "sources" / "0" / str(batch), "w") as fh:
            fh.write("v1\n")
            for e in entries:
                fh.write(json.dumps({"timestamp": 1, "batchId": batch,
                                     **e}) + "\n")

    # pending batch: one pathless metadata entry, one empty path, one
    # remote-host file URI (the local /nonexistent does not exist),
    # one real alive local pin
    pin(0, [
        {"version": 2},
        {"path": ""},
        {"path": "file://datanode7/nonexistent.parquet"},
        {"path": f"file://{alive}"},
    ])
    # only the local alive pin is audited; nothing spurious raised
    assert audit_checkpoint_inputs(str(ckpt)) == 1


def test_foreach_batch_merge_refuses_vanished_pending_input(spark, tmp_path):
    """The merge writer runs the restart audit at CONSTRUCTION: resuming
    over a checkpoint whose pending batch pins a vanished file must
    fail before any batch runs."""
    import json

    src = str(tmp_path / "src")
    _write_batch(spark, src, [("a", "2024-01-01 10:00:00", 1.0)])
    ckpt = tmp_path / "c"
    (ckpt / "sources" / "0").mkdir(parents=True)
    with open(ckpt / "sources" / "0" / "0", "w") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({"path": f"file://{tmp_path}/vanished.parquet",
                             "timestamp": 1, "batchId": 0}) + "\n")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    with pytest.raises(FileNotFoundError, match="vanished.parquet"):
        foreach_batch_merge(stream, str(tmp_path / "t"), ["k"], str(ckpt))


def test_windowed_event_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            ("a", "2024-01-01 10:05:00", 1.0),
            ("b", "2024-01-01 10:55:00", 1.0),
            ("c", "2024-01-01 11:05:00", 1.0),
            ("d", "2024-01-01 13:00:00", 1.0),  # advances watermark past 11-12
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    agg = windowed_event_counts(stream, "ts", window="1 hour", lateness="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            str(r.window_start): r.n_events
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    # 10:00 and 11:00 windows are closed by the watermark; 13:00 still open
    assert rows.get("2024-01-01 10:00:00") == 2
    assert rows.get("2024-01-01 11:00:00") == 1
    assert "2024-01-01 13:00:00" not in rows


def test_session_window_agg(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            ("a", "2024-01-01 10:00:00", 1.0),
            ("a", "2024-01-01 10:10:00", 2.0),  # same session (gap 30m)
            ("a", "2024-01-01 12:00:00", 3.0),  # new session after >30m gap
            ("b", "2024-01-01 10:00:00", 4.0),
            ("a", "2024-01-01 15:00:00", 0.0),  # advances watermark, closes all
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    agg = session_window_agg(
        stream, "ts", gap="30 minutes", lateness="10 minutes",
        group_cols=("k",), value_col="v",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r.k, str(r.session_start)): (r.n_events, r.session_value)
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()
    # first 'a' session merges 10:00+10:10; second is 12:00; 15:00 still open
    assert rows[("a", "2024-01-01 10:00:00")] == (2, 3.0)
    assert rows[("a", "2024-01-01 12:00:00")] == (1, 3.0)
    assert rows[("b", "2024-01-01 10:00:00")] == (1, 4.0)
    assert ("a", "2024-01-01 15:00:00") not in rows


def test_running_user_totals_stateful(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [("a", "2024-01-01 10:00:00", 1.0), ("a", "2024-01-01 10:01:00", 2.0),
         ("b", "2024-01-01 10:00:00", 5.0)],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch exercises state carry-over across micro-batches
        _write_batch(spark, src, [("a", "2024-01-01 10:02:00", 4.0)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM totals_out").collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:  # memory sink in update mode appends; last write wins
        latest[r.k] = (r.n_events, r.total_value)
    assert latest["a"] == (3, 7.0)
    assert latest["b"] == (1, 5.0)


def test_interval_stream_join(spark, tmp_path):
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    _write_batch(
        spark, lsrc,
        [("u1", "2024-01-01 10:00:00", 1.0), ("u2", "2024-01-01 11:00:00", 2.0)],
    )
    _write_batch(
        spark, rsrc,
        [
            ("u1", "2024-01-01 10:05:00", 10.0),  # within 10m of u1's event
            ("u1", "2024-01-01 10:30:00", 20.0),  # outside the bound
            ("u2", "2024-01-01 10:59:00", 30.0),  # BEFORE left ts → no match
        ],
    )
    left = spark.readStream.schema(EVENTS_SCHEMA).parquet(lsrc)
    right = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(rsrc)
        .withColumnRenamed("ts", "rts").withColumnRenamed("v", "rv")
    )
    joined = interval_stream_join(
        left, right, key="k", left_ts="ts", right_ts="rts", max_delay="10 minutes"
    ).select(F.col("l.k").alias("k"), "v", "rv")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r.k, r.v, r.rv) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    finally:
        q.stop()
    assert rows == {("u1", 1.0, 10.0)}


def test_flatten_geojson_from_json(spark):
    import json as _json

    from earthquake_data_pipeline_spark.sources.usgs import flatten_geojson

    good = _json.dumps(
        {
            "properties": {
                "place": "10 km SE of Somewhere",
                "time": 1700000000000,
                "mag": 5.5,
                "alert": "green",
                "tsunami": 0,
                "tz": None,
                "type": "earthquake",
            },
            "geometry": {"coordinates": [140.5, 35.2, 10.0]},
        }
    )
    bad = "{not valid json"
    df = spark.createDataFrame([(good,), (bad,)], ["feature_json"])
    rows = flatten_geojson(df).collect()
    assert len(rows) == 2
    ok = next(r for r in rows if r.place is not None)
    assert (ok.magnitude, ok.latitude, ok.longitude, ok.depth) == (5.5, 35.2, 140.5, 10.0)
    assert ok.time == 1700000000000 and ok.type == "earthquake"
    nul = next(r for r in rows if r.place is None)
    assert nul.magnitude is None and nul.latitude is None


def test_streaming_token_bucket_matches_batch_replay(spark, tmp_path):
    """Stream-vs-batch equivalence: two micro-batches through the
    stateful bucket must equal operators/admission.py's one-shot batch
    replay of the full history (state carry-over across batches)."""
    from earthquake_data_pipeline_spark.operators.admission import (
        token_bucket_admit,
    )
    from earthquake_data_pipeline_spark.streaming.ratelimit import (
        streaming_token_bucket,
    )

    src = str(tmp_path / "rl_src")
    schema = "event_id long, user_id long, ts_s long"
    batch1 = [(1, 1, 0), (2, 1, 5), (3, 1, 30), (4, 2, 0)]
    batch2 = [(5, 1, 65), (6, 1, 66), (7, 2, 100)]
    spark.createDataFrame(batch1, schema.split(", ")).toDF(
        "event_id", "user_id", "ts_s"
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_token_bucket(
            stream, burst=2, refill_num=1, refill_den=30
        )
        .writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema.split(", ")).toDF(
            "event_id", "user_id", "ts_s"
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            r.event_id: (r.units_before, r.admitted)
            for r in spark.sql("SELECT * FROM rl_out").collect()
        }
    finally:
        q.stop()

    ev = spark.createDataFrame(
        batch1 + batch2, ["event_id", "user_id", "ts_s"]
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    want = {
        r.event_id: (r.units_before, r.admitted)
        for r in token_bucket_admit(
            ev, burst=2, refill_num=1, refill_den=30
        ).collect()
    }
    assert got == want
    # spot-check the recurrence itself: user 1 at t=0 (full 60, admit),
    # t=5 (35, admit), t=30 (min(60, 5+25)=30, admit), t=65 (35, admit),
    # t=66 (6, deny)
    assert got[1] == (60, True) and got[2] == (35, True)
    assert got[3] == (30, True) and got[5] == (35, True)
    assert got[6] == (6, False)


def test_streaming_token_bucket_late_event_never_rewinds_refill_anchor(
    spark, tmp_path
):
    """A cross-batch late arrival must contribute refill 0 AND leave the
    refill anchor (last_ts) at the key's max seen timestamp — otherwise
    the next in-order event re-credits an interval already counted
    (ADVICE r06: last_ts was unconditionally set to the event's ts)."""
    from earthquake_data_pipeline_spark.streaming.ratelimit import (
        streaming_token_bucket,
    )

    src = str(tmp_path / "rl_late_src")
    schema = "event_id long, user_id long, ts_s long"
    cols = ["event_id", "user_id", "ts_s"]
    spark.createDataFrame([(1, 1, 0), (2, 1, 100)], cols).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_token_bucket(stream, burst=2, refill_num=1, refill_den=30)
        .writeStream.format("memory")
        .queryName("rl_late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rl_late_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event 3 is LATE (ts=50 < last seen 100); event 4 is
        # in-order at ts=110 and must refill over 110-100=10s, not
        # 110-50=60s
        spark.createDataFrame([(3, 1, 50), (4, 1, 110)], cols).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = {
            r.event_id: (r.units_before, r.admitted)
            for r in spark.sql("SELECT * FROM rl_late_out").collect()
        }
    finally:
        q.stop()

    # batch 1: t=0 full 60 admit -> 30; t=100 refill 100 -> 60 admit -> 30
    assert got[1] == (60, True) and got[2] == (60, True)
    # late t=50: refill 0 (clamped), 30 admits -> 0; anchor stays 100
    assert got[3] == (30, True)
    # t=110: refill exactly 10 -> 10, denied. A rewound anchor would
    # refill 60 -> full bucket -> admitted (the double-credit bug).
    assert got[4] == (10, False)


def test_streaming_token_bucket_sorts_across_arrow_chunks(spark, tmp_path):
    """A key whose micro-batch spans multiple Arrow record batches must
    still see ONE whole-group (ts, id) sort — per-chunk sorting applies
    the recurrence across an unsorted chunk boundary (ADVICE r06)."""
    from earthquake_data_pipeline_spark.operators.admission import (
        token_bucket_admit,
    )
    from earthquake_data_pipeline_spark.streaming.ratelimit import (
        streaming_token_bucket,
    )

    src = str(tmp_path / "rl_chunk_src")
    schema = "event_id long, user_id long, ts_s long"
    cols = ["event_id", "user_id", "ts_s"]
    # one key, 6 events deliberately out of order in file order
    rows = [(1, 1, 100), (2, 1, 0), (3, 1, 50), (4, 1, 30), (5, 1, 110),
            (6, 1, 20)]
    spark.createDataFrame(rows, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_token_bucket(
                stream, burst=2, refill_num=1, refill_den=30
            )
            .writeStream.format("memory")
            .queryName("rl_chunk_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "rl_chunk_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.event_id: (r.units_before, r.admitted)
                for r in spark.sql("SELECT * FROM rl_chunk_out").collect()
            }
        finally:
            q.stop()
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )

    ev = spark.createDataFrame(rows, cols).withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    )
    want = {
        r.event_id: (r.units_before, r.admitted)
        for r in token_bucket_admit(
            ev, burst=2, refill_num=1, refill_den=30
        ).collect()
    }
    assert got == want


def test_streaming_token_bucket_state_survives_query_restart(spark, tmp_path):
    """Stop the streaming query and START A NEW one on the same
    checkpoint: per-key bucket state (units, last_ts) must resume, so
    the full output equals the batch operator's one-shot replay — the
    recovery guarantee a production ingest edge relies on."""
    from earthquake_data_pipeline_spark.operators.admission import (
        token_bucket_admit,
    )
    from earthquake_data_pipeline_spark.streaming.ratelimit import (
        streaming_token_bucket,
    )

    src = str(tmp_path / "rl_restart_src")
    ckpt = str(tmp_path / "rl_restart_ckpt")
    schema = "event_id long, user_id long, ts_s long"
    cols = ["event_id", "user_id", "ts_s"]
    batch1 = [(1, 1, 0), (2, 1, 5), (3, 1, 30)]
    batch2 = [(4, 1, 65), (5, 1, 66), (6, 2, 10)]

    out_dir = str(tmp_path / "rl_restart_out")

    def start():
        # file sink, not memory: only fault-tolerant sinks support
        # recovering a query from a checkpoint
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            streaming_token_bucket(
                stream, burst=2, refill_num=1, refill_den=30
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    spark.createDataFrame(batch1, cols).write.mode("append").parquet(src)
    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    got1 = {
        r.event_id: (r.units_before, r.admitted)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert set(got1) == {1, 2, 3}

    # new data lands while no query is running; a fresh query resumes
    # from the checkpointed offsets AND the checkpointed bucket state
    spark.createDataFrame(batch2, cols).write.mode("append").parquet(src)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = {
        r.event_id: (r.units_before, r.admitted)
        for r in spark.read.parquet(out_dir).collect()
    }

    ev = spark.createDataFrame(batch1 + batch2, cols).withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    )
    want = {
        r.event_id: (r.units_before, r.admitted)
        for r in token_bucket_admit(
            ev, burst=2, refill_num=1, refill_den=30
        ).collect()
    }
    assert got2 == want
    # user 1 resumed mid-history: t=65 refills 35 over the RESTORED
    # (0-unit, t=30) state, not a fresh full bucket; user 2 is new and
    # starts full
    assert got2[4] == (35, True) and got2[6] == (60, True)


def test_streaming_dedup_within_watermark_suppresses_retries(spark, tmp_path):
    """r12: re-deliveries with a DIFFERENT timestamp (the at-least-once
    retry case streaming_dedup's key+ts dedup passes through) are
    suppressed when they land inside the lateness window."""
    from earthquake_data_pipeline_spark.streaming.incremental import (
        streaming_dedup_within_watermark,
    )

    src = str(tmp_path / "src")
    _write_batch(
        spark,
        src,
        [
            ("a", "2024-01-01 10:00:00", 1.0),
            ("a", "2024-01-01 10:03:00", 1.0),  # retry, later stamp
            ("b", "2024-01-01 10:05:00", 3.0),
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    deduped = streaming_dedup_within_watermark(
        stream, ["k"], "ts", lateness="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM wm_dedup_out").collect()
    finally:
        q.stop()
    # one row per key despite the differing retry timestamp
    assert sorted(r.k for r in rows) == ["a", "b"]
    # and the retry case is exactly what the key+ts face does NOT dedup
    stream2 = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    from earthquake_data_pipeline_spark.streaming.incremental import (
        streaming_dedup,
    )

    q2 = (
        streaming_dedup(stream2, ["k"], "ts")
        .writeStream.format("memory")
        .queryName("kts_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_kts"))
        .start()
    )
    try:
        q2.processAllAvailable()
        rows2 = spark.sql("SELECT * FROM kts_dedup_out").collect()
    finally:
        q2.stop()
    assert sorted(r.k for r in rows2) == ["a", "a", "b"]
