"""Incremental/merge property tests (SURVEY.md §5.3: replay idempotence,
late-data drop; §2.9 I1/I3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from earthquake_data_pipeline_spark.operators.dedup import (
    dedup_row_number,
    exact_dedup,
)
from earthquake_data_pipeline_spark.operators.merge import (
    anti_join_merge,
    high_water_mark_filter,
    incremental_upsert,
)


def _events(spark, rows):
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_anti_join_merge_inserts_only_new(spark):
    existing = _events(spark, [("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)])
    batch = _events(spark, [("b", "2024-01-02", 99.0), ("c", "2024-01-03", 3.0)])
    inserted = anti_join_merge(batch, existing, ["k"])
    assert [r.k for r in inserted.collect()] == ["c"]


def test_merge_replay_idempotence(spark):
    # I3: replaying an already-merged batch inserts zero rows.
    existing = _events(spark, [("a", "2024-01-01", 1.0)])
    batch = _events(spark, [("b", "2024-01-02", 2.0)])
    merged = existing.unionByName(anti_join_merge(batch, existing, ["k"]))
    replay = anti_join_merge(batch, merged, ["k"])
    assert replay.count() == 0


def test_high_water_mark_drops_late_rows(spark):
    # I1 late-data caveat: rows at-or-before max(existing.ts) are dropped.
    existing = _events(spark, [("a", "2024-01-05", 1.0)])
    batch = _events(
        spark,
        [("late", "2024-01-04", 9.0), ("edge", "2024-01-05", 9.0), ("new", "2024-01-06", 9.0)],
    )
    kept = high_water_mark_filter(batch, existing, "ts")
    assert [r.k for r in kept.collect()] == ["new"]


def test_late_data_batch_drops_watermark_bounded_accepts(spark, tmp_path):
    """The I1 divergence made explicit (SURVEY §2.9 caveat,
    stg_earthquake.sql:13-15): a late row older than the current maximum
    is SILENTLY dropped by the batch `>`-high-water path, but the
    streaming watermark face accepts it as long as it lands inside the
    declared lateness horizon — the bound is a contract, not luck."""
    from earthquake_data_pipeline_spark.streaming.incremental import (
        streaming_dedup,
    )

    # -- batch face: 11:30 is behind the 12:00 high-water mark → dropped
    existing = _events(spark, [("hw", "2024-01-01 12:00:00", 1.0)])
    late = _events(spark, [("late_ok", "2024-01-01 11:30:00", 2.0)])
    assert high_water_mark_filter(late, existing, "ts").count() == 0

    # -- streaming face, 1 h watermark: after the 12:00 batch the
    # watermark is 11:00, so the same 11:30 row is bounded-ACCEPTED in
    # the next micro-batch, while a 10:00 row (behind the watermark) is
    # dropped — the declared version of the batch path's silent drop
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("hw", "2024-01-01 12:00:00", 1.0)], ["k", "ts", "v"]
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("k string, ts timestamp, v double").parquet(
        src
    )
    q = (
        streaming_dedup(stream, ["k"], "ts", lateness="1 hour")
        .writeStream.format("memory")
        .queryName("late_bound_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark advances to 11:00
        spark.createDataFrame(
            [
                ("late_ok", "2024-01-01 11:30:00", 2.0),
                ("late_drop", "2024-01-01 10:00:00", 3.0),
            ],
            ["k", "ts", "v"],
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()  # batch 2: one inside, one behind
        keys = sorted(
            r.k for r in spark.sql("SELECT k FROM late_bound_out").collect()
        )
    finally:
        q.stop()
    assert keys == ["hw", "late_ok"]


def test_incremental_upsert_dedups_within_batch(spark):
    existing = _events(spark, [("a", "2024-01-01", 1.0)])
    batch = _events(
        spark,
        [("b", "2024-01-02", 1.0), ("b", "2024-01-02", 2.0), ("a", "2024-01-03", 3.0)],
    )
    out = incremental_upsert(batch, existing, ["k"], "ts")
    rows = out.collect()
    # 'b' deduped to one row; 'a' already exists → only one insert
    assert sorted(r.k for r in rows) == ["b"]


def test_dedup_row_number_deterministic_survivor(spark):
    df = _events(spark, [("k1", "2024-01-02", 2.0), ("k1", "2024-01-01", 1.0)])
    out = dedup_row_number(df, ["k"], tiebreak=["ts"]).collect()
    assert len(out) == 1 and out[0].v == 1.0  # earliest ts survives


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["id", "text"]
    )
    out = {r.kept_id: r.dup_count for r in exact_dedup(df, ["text"], "id").collect()}
    assert out == {1: 2, 3: 1}


def test_upsert_merge_actions_and_null_values(spark):
    from earthquake_data_pipeline_spark.operators.merge import upsert_merge

    existing = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], ["k", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "B"), (4, None)], ["k", "v"]
    )
    out = {r.k: (r.v, r.action) for r in upsert_merge(existing, updates, ["k"]).collect()}
    assert out[1] == ("a", "keep")
    assert out[2] == ("B", "update")   # matched despite NULL existing value
    assert out[3] == ("c", "keep")
    assert out[4] == (None, "insert")  # NULL update value still inserts


def test_scd2_closes_and_versions_changed_keys(spark):
    from earthquake_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [
            # key 1: open row whose attr will change
            (1, "bronze", 100, None, True),
            # key 1 also has history that must pass through untouched
            (1, "trial", 10, 100, False),
            # key 2: open row, unchanged in the snapshot
            (2, "gold", 50, None, True),
            # key 3: open row, absent from the snapshot
            (3, "silver", 70, None, True),
        ],
        "k long, tier string, valid_from long, valid_to long, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "silver", 200), (2, "gold", 200), (9, "new", 200)],
        "k long, tier string, ts long",
    )
    out = scd2_apply(dim, updates, ["k"], ["tier"]).collect()
    rows = {(r["k"], r["tier"], r["valid_from"]): r for r in out}
    assert len(out) == 6
    # changed key: old row closed, new version open
    closed = rows[(1, "bronze", 100)]
    assert closed["valid_to"] == 200 and closed["is_current"] is False
    opened = rows[(1, "silver", 200)]
    assert opened["valid_to"] is None and opened["is_current"] is True
    # history untouched
    assert rows[(1, "trial", 10)]["valid_to"] == 100
    # unchanged + unseen keys untouched, new key inserted open
    assert rows[(2, "gold", 50)]["is_current"] is True
    assert rows[(2, "gold", 50)]["valid_to"] is None
    assert rows[(3, "silver", 70)]["is_current"] is True
    assert rows[(9, "new", 200)]["is_current"] is True


def test_scd2_null_transition_is_a_change(spark):
    from earthquake_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, None, 10, None, True)],
        "k long, tier string, valid_from long, valid_to long, is_current boolean",
    )
    updates = spark.createDataFrame([(1, "gold", 20)], "k long, tier string, ts long")
    out = scd2_apply(dim, updates, ["k"], ["tier"]).collect()
    assert len(out) == 2
    assert {r["is_current"] for r in out} == {True, False}


def test_scd2_tied_valid_from_sorts_total_with_is_current(spark):
    """ADVICE r5: when an update carries the SAME timestamp as the open
    row's valid_from (a user whose events all tie at one ts), the closed
    row and the new open version share (key, valid_from) — is_current as
    the final sort key makes the output order total, matching the
    driver query/oracle discipline (False < True in both engines)."""
    from earthquake_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "bronze", 100, None, True)],
        "k long, tier string, valid_from long, valid_to long, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "silver", 100)], "k long, tier string, ts long"
    )
    out = (
        scd2_apply(dim, updates, ["k"], ["tier"])
        .orderBy("k", "valid_from", "is_current")
        .collect()
    )
    assert [(r.tier, r.valid_from, r.is_current) for r in out] == [
        ("bronze", 100, False),  # closed at its own start: zero-width
        ("silver", 100, True),
    ]


def test_scd2_idempotent_on_replay(spark):
    from earthquake_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", 10, None, True)],
        "k long, tier string, valid_from long, valid_to long, is_current boolean",
    )
    updates = spark.createDataFrame([(1, "b", 20)], "k long, tier string, ts long")
    once = scd2_apply(dim, updates, ["k"], ["tier"])
    twice = scd2_apply(once, updates, ["k"], ["tier"])
    # replaying the same snapshot is a no-op: same rows both times
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


def test_incremental_agg_merge_associative_and_exact(spark):
    from earthquake_data_pipeline_spark.operators.merge import (
        incremental_agg_merge,
    )

    ev = spark.createDataFrame(
        [(i, "t%d" % (i % 3), float(i) * 1.25 - 10) for i in range(60)],
        "id long, k string, v double",
    )
    b0, b1, b2 = (ev.filter(F.col("id") % 3 == i) for i in range(3))
    state = b0.groupBy("k").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("v").cast("decimal(18,2)") * 100).cast("long")).alias(
            "sum_cents"
        ),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    one_by_one = incremental_agg_merge(
        incremental_agg_merge(state, b1, ["k"], "v"), b2, ["k"], "v"
    )
    all_at_once = incremental_agg_merge(state, b1.unionAll(b2), ["k"], "v")
    a = sorted(map(tuple, one_by_one.collect()))
    b = sorted(map(tuple, all_at_once.collect()))
    assert a == b  # associativity, bit-for-bit (integer cents)
    # increment == full recompute (nonfinite is false everywhere on
    # this finite input — the r13 sticky flag rides the state schema)
    from earthquake_data_pipeline_spark.qcommon import nonfinite_flag

    full = sorted(
        map(
            tuple,
            ev.groupBy("k")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    (F.col("v").cast("decimal(18,2)") * 100).cast("long")
                ).alias("sum_cents"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
                F.max(nonfinite_flag("v")).alias("nonfinite"),
            )
            .collect(),
        )
    )
    assert a == full


def test_incremental_agg_merge_nonfinite_flag_is_sticky(spark):
    """r13 non-finite discipline: a NaN/±Inf batch value sets the
    state's nonfinite flag and it survives every later merge (the
    addend silently vanished from the decimal sum — readers NULL the
    sum for flagged keys); min/max stay native float envelopes."""
    import math

    from earthquake_data_pipeline_spark.operators.merge import (
        incremental_agg_merge,
    )

    state = spark.createDataFrame(
        [("a", 1, 100, 1.0, 1.0)],
        "k string, n_rows long, sum_cents long, min_v double, max_v double",
    )
    b1 = spark.createDataFrame(
        [("a", float("nan")), ("b", 2.0)], "k string, v double"
    )
    b2 = spark.createDataFrame([("a", 3.0)], "k string, v double")
    out = {
        r["k"]: r
        for r in incremental_agg_merge(
            incremental_agg_merge(state, b1, ["k"], "v"), b2, ["k"], "v"
        ).collect()
    }
    assert out["a"]["nonfinite"] is True  # sticky across the clean b2
    assert out["b"]["nonfinite"] is False
    # counts still real; the NaN addend vanished from the cents sum
    # (which is exactly why readers must NULL it when flagged)
    assert out["a"]["n_rows"] == 3
    assert int(out["a"]["sum_cents"]) == 400
    assert math.isnan(out["a"]["max_v"])  # native float max propagates


def test_incremental_agg_merge_new_keys_and_empty_batch(spark):
    from earthquake_data_pipeline_spark.operators.merge import (
        incremental_agg_merge,
    )

    state = spark.createDataFrame(
        [("a", 2, 500, 1.0, 4.0)],
        "k string, n_rows long, sum_cents long, min_v double, max_v double",
    )
    batch = spark.createDataFrame([("b", 7.5)], "k string, v double")
    out = {r["k"]: r for r in incremental_agg_merge(state, batch, ["k"], "v").collect()}
    assert out["a"]["n_rows"] == 2 and out["a"]["sum_cents"] == 500
    assert out["b"]["n_rows"] == 1 and out["b"]["sum_cents"] == 750
    empty = batch.filter(F.lit(False))
    out2 = {r["k"]: r for r in incremental_agg_merge(state, empty, ["k"], "v").collect()}
    assert out2["a"]["n_rows"] == 2 and len(out2) == 1


def test_dedup_keep_first_matches_window_form_under_total_order(spark):
    """Round-11 window-skew audit: the aggregate twin must be
    row-for-row identical to dedup_row_number whenever the tiebreak is
    a total order — including across Arrow/partition boundaries and
    with a 90%-duplicate hot key (the case the window form serializes
    into one task)."""
    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.dedup import (
        dedup_keep_first,
        dedup_row_number,
    )

    n = 20_000
    df = spark.range(n).select(
        # hot key: 90% of rows share k=0
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 97).alias("k"),
        F.col("id").alias("rid"),
        (F.col("id") * 31 % 1000).alias("v"),
    )
    a = sorted(
        (r["k"], r["rid"], r["v"])
        for r in dedup_row_number(df, ["k"], tiebreak=["v", "rid"]).collect()
    )
    b = sorted(
        (r["k"], r["rid"], r["v"])
        for r in dedup_keep_first(df, ["k"], tiebreak=["v", "rid"]).collect()
    )
    assert a == b
    assert len(a) == len({k for k, _, _ in a})  # exactly one row per key


def test_dedup_keep_first_plan_is_partial_aggregate(spark):
    """The point of the aggregate twin: map-side partial aggregation
    (skew reduces before the shuffle) and NO window exchange."""
    from earthquake_data_pipeline_spark.operators.dedup import (
        dedup_keep_first,
    )

    df = spark.range(100).selectExpr("id % 5 AS k", "id AS rid")
    plan = dedup_keep_first(df, ["k"], tiebreak=["rid"])._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan
    assert "Window" not in plan


def test_dedup_keep_first_handles_dotted_column_names(spark):
    """Review-hardened (r11): payload rehydration must use getField,
    not dotted string paths — a column literally named 'user.id' works
    through the window twin and must work here too."""
    from earthquake_data_pipeline_spark.operators.dedup import (
        dedup_keep_first,
    )

    df = spark.createDataFrame(
        [(1, 7, "x"), (1, 3, "y"), (2, 5, "z")], ["k", "`t`", "v"]
    ).withColumnRenamed("`t`", "user.id")
    out = sorted(
        (r["k"], r["user.id"], r["v"])
        for r in dedup_keep_first(df, ["k"], tiebreak=["v"]).collect()
    )
    assert out == [(1, 7, "x"), (2, 5, "z")]


def test_dedup_keep_first_carries_map_and_variant_payloads(spark):
    """Map and variant columns have no ordering, yet ride through the
    one keep-one dedup: they enter the ordering struct as to_json, while
    orderable columns keep their native order (v=2.0 < v=10.0, not the
    string order "10.0" < "2.0"). Ties on every orderable column fall to
    the to_json text of the map, then of the variant."""
    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.dedup import (
        dedup_keep_first,
    )

    df = spark.createDataFrame(
        [
            ("a", 10.0, '{"r": "0"}', '{"r": 0}'),
            ("a", 2.0, '{"r": "9"}', '{"r": 9}'),
            ("b", 1.0, '{"r": "2"}', '{"r": 0}'),
            ("b", 1.0, '{"r": "1"}', '{"r": 5}'),
            ("c", 1.0, '{"r": "1"}', '{"r": 7}'),
            ("c", 1.0, '{"r": "1"}', '{"r": 3}'),
        ],
        "k string, v double, jm string, jv string",
    ).select(
        "k",
        "v",
        F.from_json("jm", "map<string,string>").alias("m"),
        F.parse_json("jv").alias("p"),
    )
    for tiebreak in ([], ["v"]):
        out = dedup_keep_first(df, ["k"], tiebreak=tiebreak).select(
            "k", "v", F.to_json("m").alias("m"), F.to_json("p").alias("p")
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            ("a", 2.0, '{"r":"9"}', '{"r":9}'),
            ("b", 1.0, '{"r":"1"}', '{"r":5}'),
            ("c", 1.0, '{"r":"1"}', '{"r":3}'),
        ]
