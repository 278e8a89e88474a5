"""Behavioral analytics operators over event streams: cohort retention,
ordered-step funnels, and statistical outlier detection.

These are the query shapes a product/metrics layer runs on the same
events table the pipeline curates (the reference's analytics models —
dbt_files/models/analytics/ — are the seismic flavor of exactly this
family: group-by rollups over a fact table). All three are pure
DataFrame compositions: window functions partitioned by a real key
(user_id / event_type), integer-exact arithmetic where a SQL oracle
must replay the values bit-for-bit, no UDFs anywhere.

Scale notes per operator live on the functions; the common theme: every
shuffle is keyed by user or type (never a global window), so the plans
hold at 1000 executors — the user axis is the natural partitioner for
behavioral data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..qcommon import epoch_s as _qepoch_s
from ..qcommon import nonfinite_flag as _qnonfinite_flag


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "month",
) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen period
    (their cohort), counted as active per period offset from it.

    Periods are exact integer indices — ``year*12 + month - 1`` for
    months, ``floor(epoch_seconds / 86400)`` for days (FLOOR, not div:
    r13 ts-domain axis — truncation shifts pre-1970 events one day
    late) — so cohort/offset arithmetic is plain subtraction and the
    oracle replays it with year()/month()/epoch(). Month output: (cohort_y, cohort_m, …);
    day output: (cohort_day_s = day start in epoch seconds, …).

    One corpus scan: the cohort period comes from a min() window over
    the user partition instead of a self-join with a per-user
    aggregate — one user-keyed shuffle, then the (cohort, offset)
    aggregate. At 100 TB the user window is the natural partitioning of
    behavioral events; count_distinct over (cohort, offset) groups is
    the only other exchange.
    """
    if granularity == "month":
        idx = F.year(ts_col) * 12 + F.month(ts_col) - 1
        cohort_cols = [
            (F.col("ci") / 12).cast("long").alias("cohort_y"),
            (F.col("ci") % 12 + 1).cast("int").alias("cohort_m"),
        ]
        offset_name = "offset_months"
    elif granularity == "day":
        # floor day buckets (r13 ts-domain axis): `unix_timestamp div
        # 86400` truncates toward zero, shifting every pre-1970 event
        # one day late vs the oracle's floor — epoch_s + floor division
        # is exact for any epoch (|seconds| ≪ 2^53, the double
        # division is exact)
        idx = F.floor(_qepoch_s(F.col(ts_col)) / F.lit(86400)).cast("long")
        cohort_cols = [(F.col("ci") * 86400).cast("long").alias("cohort_day_s")]
        offset_name = "offset_days"
    else:
        raise ValueError(f"granularity must be month|day, got {granularity!r}")
    um = events.select(F.col(user_col).alias("u"), idx.alias("mi"))
    w = Window.partitionBy("u")
    with_cohort = um.withColumn("ci", F.min("mi").over(w))
    out_keys = [c for c in cohort_cols] + [
        (F.col("mi") - F.col("ci")).cast("int").alias(offset_name)
    ]
    grouped = (
        with_cohort.groupBy(*out_keys)
        .agg(F.count_distinct("u").alias("n_users"))
    )
    return grouped.orderBy(*[c for c in grouped.columns if c != "n_users"])


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_s: int | None = None,
) -> DataFrame:
    """Ordered-step funnel: how many users performed step 1, then step 2
    AT OR AFTER their first step-1 event, then step 3 after that, …
    (the product-analytics conversion query). ``within_s`` bounds each
    conversion to a window after the previous step (the Amplitude-style
    "converted within N days" variant); None = unbounded.

    Single corpus scan, single hash exchange: each step's
    first-qualifying timestamp is a min(CASE …) window over the user
    partition, where step k's CASE requires ``ts >= t_{k-1}`` —
    consecutive Window nodes over the SAME partitioning share one
    user-keyed exchange, and because the step times are CONSTANT per
    user, the per-user reduction afterwards (groupBy the same key)
    rides that exchange too. Counting users per step is then plain
    count-non-null over one row per user — no count_distinct, so no
    Expand-tripling of the event stream. No joins, no re-scans.
    Output: one row per step with the surviving-user count.
    """
    w = Window.partitionBy(user_col)
    df = events.select(user_col, type_col, ts_col)
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev))
            if within_s is not None:
                # bounded conversion window (Amplitude-style): step k
                # must land within within_s seconds of step k-1 —
                # FLOOR seconds on both sides (epoch_s, NOT
                # unix_timestamp: the latter truncates toward zero on
                # pre-1970 fractional timestamps, silently admitting a
                # conversion exactly at the bound across a negative
                # second boundary — caught r14 by the ts-domain
                # mirror's within_s pin row)
                cond = cond & (
                    _qepoch_s(F.col(ts_col))
                    <= _qepoch_s(F.col(prev)) + within_s
                )
        cur = f"_t{i}"
        df = df.withColumn(
            cur, F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev = cur
    per_user = df.groupBy(user_col).agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    counts = per_user.agg(
        *[F.count(F.col(f"_t{i}")).alias(f"c{i}") for i in range(len(steps))]
    )
    # unpivot to (step_idx, step, n_users) rows — stack is pure codegen
    stack_args = ", ".join(
        f"{i + 1}, '{s}', c{i}" for i, s in enumerate(steps)
    )
    return counts.select(
        F.expr(
            f"stack({len(steps)}, {stack_args}) AS (step_idx, step, n_users)"
        )
    ).orderBy("step_idx")


def funnel_steps_presplit(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Skew-immune opt-in twin of :func:`funnel_steps` for the
    UNBOUNDED funnel (r12 — the per-user-sequence class member the
    round-11 audit marked inherent; the bounded ``within_s`` variant
    stays on the window face, see below).

    Why it splits: the funnel fold's cross-bucket state is the prefix
    of completed steps, and any threshold inherited from an EARLIER
    bucket is ≤ every timestamp in the current bucket (buckets are
    time-ordered) — so a conditional min against an inherited
    threshold equals the UNCONDITIONAL min. The only genuine intra-
    bucket conditioning is against thresholds set in the SAME bucket,
    which the per-bucket cascade already chains. Hence a (user,
    bucket) summary of k(k+1)/2 values — for each possible ENTRY level
    e (steps completed before the bucket), the local conditional-min
    cascade for steps e+1..k — composes exactly:

        state = first-qualifying times (a prefix-filled array);
        entering a bucket at level e = |filled prefix| extends the
        prefix with that bucket's entry-e cascade values.

    The composition runs as a pure-Column ``F.aggregate`` fold over
    the user's bucket summaries (sort_array of a collect_list —
    ACTIVE-BUCKET-domain-sized per user, e.g. ≤ 3 650 structs for a
    10-year corpus at day buckets, regardless of event count; the
    row-level windows are all (user, bucket)-keyed). Bit-identical
    step times and counts to the window face (test-pinned, including
    funnels completing across many buckets and out-of-order step
    types).

    ``within_s`` is deliberately NOT supported: a bounded conversion
    deadline inherited from a prior bucket cuts MID-bucket at an
    arbitrary point (min step-k ts in [bucket_start, t_prev+within_s]),
    which no fixed per-bucket summary can carry — the window face is
    the only exact form there.
    """
    k = len(steps)
    w = Window.partitionBy(user_col, "__b")
    df = events.select(user_col, type_col, ts_col).withColumn(
        # epoch_s, not unix_timestamp (family convention, r14): bucket
        # ids are stitch-invariant either way, but the floor form keeps
        # every presplit member on the same exact integer day grid
        "__b", F.floor(_qepoch_s(ts_col) / F.lit(bucket_s)).cast("long")
    )
    names: list[str] = []
    for e in range(k):
        prev: str | None = None
        for j in range(e, k):
            cond = F.col(type_col) == steps[j]
            if prev is not None:
                cond = cond & (F.col(ts_col) >= F.col(prev))
            name = f"__t_{e}_{j}"
            df = df.withColumn(
                name, F.min(F.when(cond, F.col(ts_col))).over(w)
            )
            names.append(name)
            prev = name
    summary = df.groupBy(user_col, "__b").agg(
        *[F.max(n).alias(n) for n in names]
    )
    per_user = summary.groupBy(user_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__b"), *names))
        ).alias("__bs")
    )
    init = F.array(
        *[F.lit(None).cast("timestamp") for _ in range(k)]
    )

    def fold(acc, x):
        e = F.size(F.filter(acc, lambda v: v.isNotNull()))
        out = []
        for j in range(k):
            branch = None
            for ee in range(j + 1):
                val = x.getField(f"__t_{ee}_{j}")
                branch = (
                    F.when(e == ee, val)
                    if branch is None
                    else branch.when(e == ee, val)
                )
            out.append(F.coalesce(F.element_at(acc, j + 1), branch))
        return F.array(*out)

    folded = per_user.select(
        F.col(user_col), F.aggregate("__bs", init, fold).alias("__t")
    )
    counts = folded.agg(
        *[
            F.count(F.element_at("__t", i + 1)).alias(f"c{i}")
            for i in range(k)
        ]
    )
    stack_args = ", ".join(
        f"{i + 1}, '{s}', c{i}" for i, s in enumerate(steps)
    )
    return counts.select(
        F.expr(
            f"stack({k}, {stack_args}) AS (step_idx, step, n_users)"
        )
    ).orderBy("step_idx")


def zscore_outlier_stats(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    z_threshold: int = 2,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Per-key z-score outlier census: count values more than
    ``z_threshold`` population standard deviations from their key's
    mean — the monitoring/data-quality face of the aggregate family.

    Exactness: values are fixed to integer cents, and the outlier
    predicate is cleared of division entirely —

        z² > T²  ⟺  n·(n·v − S)² > T²·n·(n·SS − S²)
                 ⟺  (n·v − S)² > T²·(n·SS − S²)

    with S = Σcents, SS = Σcents², accumulated and compared in exact
    decimal(38,0) (round-10 overflow audit: the old int64 moments
    overflowed at n·SS ≥ 2^63 — a few 10^5 rows per key at 1e4-cent
    values, i.e. the FIRST hot key at warehouse scale; DuckDB replays
    bit-for-bit because its integer sums are int128). Decimal envelope:
    cents ≤ 1e9 and n ≤ 1e9 per key keeps every product — dev² and
    T²·(n·SS − S²), both ~n²·cents² — under 10^38; past that Spark
    raises (ANSI) or nulls the flag (permissive) — and because F.sum
    would silently SKIP a nulled flag, an assert_true tripwire on the
    null count fails the query loudly instead of undercounting
    (ADVICE r10). The reported mean is an int/int ratio (decimal→double
    cast is value-determined, not order-dependent), tie-free under the
    round6x contract.

    Exactly two passes, by information flow (a value cannot know its
    key's mean until the key is fully aggregated): a map-side-combined
    stats aggregate (k rows), then the flagging pass with the tiny
    stats frame broadcast — no key-partitioned shuffle of the fact side
    at all. The per-key (n, s) needed for the reported mean ride
    THROUGH the flagging aggregate (constant per key → max()) instead
    of re-joining the stats subtree, which Catalyst would otherwise
    evaluate twice — a third fact scan for nothing.

    ``broadcast_stats`` (round-10 broadcast-size audit): the stats
    frame is KEY-DOMAIN-sized — tiny for an enumerated key like
    event_type, but a caller keying by a high-cardinality column
    (user_id at 10^9 users ≈ tens of GB of (n, s, ss) rows) must pass
    False so the flagging join shuffles on the key instead of
    broadcasting the key domain to every executor; AQE still
    broadcasts at runtime whenever the frame turns out small.
    """
    cents = (
        (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    ).alias("cents")
    ev = events.select(
        F.col(key_col).alias("k"),
        cents,
        # presence of the RAW value: distinguishes a legitimately-NULL
        # input row (skipped by the sums, matching the oracle — must
        # not trip the overflow guard) from a present value whose
        # cents cast or comparison overflowed to null (must trip)
        F.col(value_col).isNotNull().alias("has_value"),
    )
    cents_d = F.col("cents").cast("decimal(19,0)")
    stats = ev.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum(cents_d).alias("s"),
        F.sum(cents_d * cents_d).alias("ss"),
    )
    t2 = z_threshold * z_threshold
    n_d = F.col("n").cast("decimal(19,0)")
    dev = n_d * cents_d - F.col("s")
    var_n3 = n_d * F.col("ss") - F.col("s") * F.col("s")  # = n³·var/n
    stats_side = F.broadcast(stats) if broadcast_stats else stats
    # two stacked selects, not a lateral alias (ADVICE r11): the null
    # check reads is_outlier from the PREVIOUS projection, so the flag
    # evaluates once on any Spark — no reliance on
    # spark.sql.lateralColumnAlias.enableImplicitResolution, and
    # CollapseProject's multi-reference guard keeps the stacked form
    # single-eval
    flagged = ev.join(stats_side, "k").select(
        "k",
        "n",
        "s",
        "has_value",
        (dev * dev > F.lit(t2) * var_n3).cast("int").alias("is_outlier"),
    ).select(
        "k",
        "n",
        "s",
        "is_outlier",
        # tripwire scope: a NULL flag is only an OVERFLOW when the raw
        # input value was present (a NULL value_col row has always been
        # skipped by the sum, matching the oracle — must not trip; a
        # PRESENT value whose cents cast overflowed must)
        (F.col("is_outlier").isNull() & F.col("has_value"))
        .cast("int")
        .alias("__overflowed"),
    )
    from ..qcommon import round6x

    return (
        flagged.groupBy("k")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_outlier").alias("n_outliers"),
            # overflow tripwire (ADVICE r10): a breached decimal
            # envelope nulls is_outlier in a permissive session and
            # F.sum would silently SKIP it — count the nulls so the
            # breach is surfaced, not absorbed
            F.sum("__overflowed").alias(
                "__n_overflow"
            ),
            F.max("n").alias("n"),  # constant per key
            F.max("s").alias("s"),
        )
        .select(
            F.col("k").alias(key_col),
            "n_events",
            # assert_true returns NULL when the guard holds, so the
            # coalesce passes n_outliers through untouched in-envelope
            # and raises LOUDLY (both ANSI and permissive) the moment
            # any flag overflowed to null
            F.coalesce(
                F.assert_true(
                    F.col("__n_overflow") == 0,
                    "zscore_outlier_stats: decimal envelope breached — "
                    "is_outlier overflowed to null; n_outliers would "
                    "silently undercount",
                ).cast("long"),
                F.col("n_outliers"),
            ).alias("n_outliers"),
            # decimal→double first: the oracle divides int/int into a
            # DOUBLE, so the dividend must be the same double here
            round6x(
                F.col("s").cast("double") / (F.col("n") * 100)
            ).alias("mean_value"),
        )
        .orderBy(key_col)
    )


def session_ids(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_us: int = 3_600_000_000,
) -> DataFrame:
    """Gap-based session assignment — the single-window reference form:
    per user, a new session starts after more than ``gap_us`` of
    inactivity; ``session_id`` is the 0-based running count of
    boundaries in (ts, tiebreak) order. One exchange on the user, one
    per-user sort. This is the canonical face (the catalog's
    sessionization query inlines the same shape); the skew path for
    mega-keys is :func:`session_ids_presplit`.
    """
    t_us = F.unix_micros(ts_col)
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    boundary = F.when(
        (t_us - F.lag(t_us, 1).over(w)) > gap_us, 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("session_id", F.sum(boundary).over(run))


def session_ids_presplit(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_us: int = 3_600_000_000,
    bucket_us: int = 86_400_000_000,
    broadcast_offsets: bool = False,
) -> DataFrame:
    """Skew-immune opt-in twin of :func:`session_ids` — the per-(user,
    time-bucket) PRE-SPLIT the round-11 window audit documented for the
    per-user-sequence class (sessionization, funnels, retention,
    debounce all consume a per-user total order), now implemented
    (VERDICT r11 item 6). Bit-identical session ids (test-pinned).

    Why: per-user sequence windows serialize each user's whole history
    into ONE task — inherent when the per-user order IS the semantics,
    and harmless for human users, but a 10^8-event bot key is one
    straggler task. Splitting the window key to (user, day) bounds any
    task by one key-DAY, then a stitch pass repairs sessions that span
    bucket boundaries.

    Split-and-stitch, both passes exact:

    1. LOCAL pass — window over (user, bucket): within-bucket boundary
       flags and running sums exactly as the reference form, except
       each bucket's first event is flagged 0 (unknown yet).
    2. STITCH pass — ONE ROW PER (user, bucket) (≤ days-in-corpus rows
       per user, domain-bounded): lag(last_ts) over the bucket sequence
       decides whether each bucket's first event really starts a new
       session (gap to the previous bucket's last event > gap_us), and
       a running sum of per-bucket boundary counts + bucket-start
       flags yields each bucket's session-id OFFSET. Join the offsets
       back on (user, bucket):
       ``session_id = bucket_offset + local_running_count``.

    Identity (why the ids match bit-for-bit): the reference session id
    of an event is the number of TRUE boundaries at or before it in
    the user's (ts, tiebreak) order; every boundary is either interior
    to a bucket (counted by the local pass) or a bucket's first event
    (counted by the stitch pass) — the offset sums exactly the
    boundaries in earlier buckets plus this bucket's own start flag.
    Events are never compared across buckets except through the
    (first_ts, last_ts) summary, and a bucket's min/max timestamps are
    order-free aggregates. Works for ANY gap_us (a session spanning N
    buckets merges through N−1 zero start-flags in sequence) —
    bucket_us only trades task bound against stitch-frame size.

    The stitch frame is (user × active-day)-sized; its per-user window
    is over THAT frame, so the 10^8-event bot costs max(events-per-
    day) per task instead of its lifetime. Offsets join back keyed on
    (user, bucket) — skew-splittable by AQE, no window over row-level
    data keyed by user alone anywhere. ``broadcast_offsets`` follows
    the broadcast-size law (zscore_outlier_stats): the offsets frame is
    (users × active buckets) — that is DATA-sized for a high-
    cardinality user column (10^8 users × 30 days ≫ any broadcast
    limit), so the default shuffles and lets AQE decide; pass True only
    when the user domain is enumerably small. NULL timestamps and NULL
    users survive (null-safe offset join): a NULL-ts row buckets to
    NULL, which sorts first — exactly where the reference window puts
    it — and merges into session 0, matching :func:`session_ids`.
    """
    t_us = F.unix_micros(ts_col)
    ev = events.withColumn("__b", F.floor(t_us / F.lit(bucket_us)))
    w_local = Window.partitionBy(user_col, "__b").orderBy(
        ts_col, tiebreak_col
    )
    local_boundary = F.when(
        (t_us - F.lag(t_us, 1).over(w_local)) > gap_us, 1
    ).otherwise(0)
    run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ev.withColumn("__lb", local_boundary).withColumn(
        "__ls", F.sum("__lb").over(run)
    )
    summary = local.groupBy(user_col, "__b").agg(
        F.min(t_us).alias("__first_us"),
        F.max(t_us).alias("__last_us"),
        F.sum("__lb").alias("__nb"),
    )
    w_buckets = Window.partitionBy(user_col).orderBy("__b")
    prev_last = F.lag("__last_us", 1).over(w_buckets)
    start_flag = F.when(
        prev_last.isNotNull()
        & (F.col("__first_us") - prev_last > gap_us),
        1,
    ).otherwise(0)
    # offset = boundaries in STRICTLY earlier buckets + start flags of
    # buckets up to AND INCLUDING this one
    run_b = w_buckets.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = (
        summary.withColumn("__sf", start_flag)
        .withColumn(
            "__off",
            F.sum(F.col("__nb") + F.col("__sf")).over(run_b) - F.col("__nb"),
        )
        .select(user_col, "__b", "__off")
    )
    off_side = F.broadcast(offsets) if broadcast_offsets else offsets
    return (
        _nsjoin(local, off_side, [user_col, "__b"])
        .withColumn("session_id", F.col("__off") + F.col("__ls"))
        .drop("__b", "__lb", "__ls", "__off")
    )


def merge_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    duration_s: int = 600,
) -> DataFrame:
    """Coalesce overlapping per-key time intervals (gaps-and-islands):
    each event opens the interval [ts, ts + duration_s]; overlapping or
    touching intervals within a key merge into one island. The classic
    uses — activity spans from heartbeats, downtime windows from
    alerts, visit spans from page events — all reduce to this shape.
    Complements ``sessionization`` (which breaks on inactivity GAPS
    between instants; this merges explicit DURATIONS, so two events
    600 s apart still fuse while sessionization with a 300 s gap would
    split them).

    A new island starts where the event's start exceeds the running
    max of all earlier ends (the cumulative-max window, exclusive of
    the current row — the textbook formulation that stays correct when
    an early long interval swallows later short ones). Island ids are
    a running sum of the start flags. Everything is integer epoch
    seconds — exact in any engine.

    100 TB: one key-partitioned exchange; both windows and the final
    (key, island) aggregate reuse it. Skewed keys are bounded by the
    per-key event count, not corpus size.
    """
    start_s = _qepoch_s(ts_col)  # floor seconds (r13 ts-domain axis)
    ev = events.select(
        F.col(key_col).alias("k"),
        start_s.alias("start_s"),
        (start_s + duration_s).alias("end_s"),
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy("start_s", "end_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("k")
        .orderBy("start_s", "end_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = ev.withColumn(
        "new_island",
        F.when(
            F.col("start_s") > F.coalesce(F.max("end_s").over(w_prev), F.lit(None)),
            1,
        )
        .when(F.max("end_s").over(w_prev).isNull(), 1)
        .otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    return (
        flagged.groupBy("k", "island")
        .agg(
            F.min("start_s").alias("island_start_s"),
            F.max("end_s").alias("island_end_s"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("k").alias(key_col),
            F.col("island").cast("int").alias("island"),
            "island_start_s",
            "island_end_s",
            (F.col("island_end_s") - F.col("island_start_s")).alias("span_s"),
            "n_events",
        )
        .orderBy(key_col, "island")
    )


def merge_intervals_presplit(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    duration_s: int = 600,
    bucket_us: int = 86_400_000_000,
    broadcast_offsets: bool = False,
) -> DataFrame:
    """Skew-immune opt-in twin of :func:`merge_intervals` — the
    per-(key, time-bucket) pre-split, extending the session machinery
    to the gaps-and-islands shape (r12).

    Why it reduces to sessions: this operator's intervals all have the
    SAME duration d, and events sort by start — so the running max of
    earlier ends is always the PREVIOUS start + d, and the island
    boundary condition ``start > max(earlier ends)`` is exactly the
    session condition ``start_i − start_{i−1} > d``. (The window
    form's cumulative-max formulation matters only for VARIABLE-length
    intervals, which this operator does not take; with fixed d, a
    previous BUCKET's max end is always dominated by the current
    bucket's first merged event's end, so only first-in-bucket flags
    need the cross-bucket stitch — the exact structure
    :func:`session_ids_presplit` already repairs.)

    Implementation: session ids at gap = d via the pre-split engine,
    then the per-(key, island) aggregate. Bit-identical islands to the
    window form (test-pinned, bucket-spanning islands included).

    Sub-second alignment (ADVICE r12): the window face compares
    seconds-TRUNCATED starts (``unix_timestamp``), so two events whose
    raw gap is 600.9 s but truncated gap is exactly 600 MERGE there —
    sessionizing on raw ``unix_micros`` would split them. The
    timestamp is therefore truncated to whole seconds BEFORE the
    session pass (one value-determined cast; the final aggregate reads
    the same truncated seconds), keeping the bit-identical contract
    for sub-second inputs (parity test pins a 600.9 s raw gap and a
    same-second tie).
    """
    sess = session_ids_presplit(
        events.select(
            F.col(key_col),
            # floor-truncate to whole seconds (epoch_s, not
            # unix_timestamp — r13 ts-domain axis: unix_timestamp
            # truncates toward zero pre-1970)
            _qepoch_s(ts_col).cast("timestamp").alias(ts_col),
        ),
        user_col=key_col,
        ts_col=ts_col,
        tiebreak_col=ts_col,
        gap_us=duration_s * 1_000_000,
        bucket_us=bucket_us,
        broadcast_offsets=broadcast_offsets,
    )
    start_s = _qepoch_s(ts_col)
    return (
        sess.select(
            F.col(key_col).alias("k"),
            (F.col("session_id") + 1).alias("island"),
            start_s.alias("start_s"),
            (start_s + duration_s).alias("end_s"),
        )
        .groupBy("k", "island")
        .agg(
            F.min("start_s").alias("island_start_s"),
            F.max("end_s").alias("island_end_s"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("k").alias(key_col),
            F.col("island").cast("int").alias("island"),
            "island_start_s",
            "island_end_s",
            (F.col("island_end_s") - F.col("island_start_s")).alias(
                "span_s"
            ),
            "n_events",
        )
        .orderBy(key_col, "island")
    )


def top_key_share(
    df: DataFrame,
    key_col: str | list[str],
    probe_fraction: float = 0.01,
    seed: int = 421,
) -> tuple[float, int]:
    """Sampled top-key-share estimate — the cheap skew probe behind
    :func:`merge_intervals_adaptive` (VERDICT r14 item 5). One
    column-pruned pass over a Bernoulli row sample, one map-side-
    combinable aggregate, and a TWO-VALUE driver action (max per-key
    sample count + sample size) — bounded driver state by construction.

    Why row sampling (not key sampling): a 90 %-mass bot key appears in
    ANY row sample with share ≈ its true share, so ~10^3 sampled rows
    estimate a 0.2 share within a few points; hashing 1 % of KEYS would
    miss the hot key 99 % of the time. At 100 TB the probe reads one
    column (parquet-pruned) and shuffles ≤ |sampled keys| partial
    counts — strictly cheaper than either downstream face.

    Returns ``(share, sample_rows)``; callers must treat a sample below
    their trust floor as "unknown" rather than "uniform". Composite
    window keys (e.g. debounce's (user, type)) pass a list — the
    straggler unit is the whole partition key, so the probe groups on
    the same tuple the window partitions on.
    """
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    row = (
        df.select(*keys)
        .sample(fraction=probe_fraction, seed=seed)
        .groupBy(*keys)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
        .first()
    )
    if row is None or not row["n"]:
        return 0.0, 0
    return float(row["mx"]) / float(row["n"]), int(row["n"])


# (plan semanticHash, keys, fraction) -> (share, n): one probe per
# distinct input per session (VERDICT r15 item 5). Safe because routing
# is parity-pinned — a stale entry (the file behind an identical plan
# changed mid-session) can only change the PLAN, never the rows.
_ROUTE_CACHE: dict[tuple, tuple[float, int]] = {}
_ROUTE_CACHE_MAX = 256


def _route_by_skew(
    events: DataFrame,
    key_col: str | list[str],
    window_face,
    presplit_face,
    skew_threshold: float,
    probe_fraction: float,
    min_sample: int,
    skew_hint: str | None = None,
) -> DataFrame:
    """Shared dispatch for the per-key-sequence family (r15): probe the
    window-partition key's top share on a row sample; route to the
    pre-split twin iff the sample is trustworthy AND the top key holds
    ≥ the threshold. Both faces of every family member are parity-
    pinned bit-identical, so routing can change only the plan.

    NOTE the probe is a Spark ACTION at plan-construction time — an
    ``*_adaptive`` call is not a lazy plan builder, and its plan shape
    can differ across environments with the sample (ADVICE r15; the
    documented trade for skew immunity). Three ways to skip it:

    - ``skew_hint="uniform"``/``"window"`` or ``"skewed"``/``"presplit"``
      — a caller who knows the corpus routes directly;
    - env ``SPARK_GRAFT_DISPATCH=window|presplit`` — the plan-only
      escape hatch for explain/schema tooling (tools/explain.py sets
      it), making plan construction action-free;
    - the session probe cache: repeated calls on the same
      (input plan, key, fraction) reuse the first probe's estimate —
      one probe per input in a multi-call pipeline, not one per call
      (pinned by tests/test_scale.py::
      test_route_by_skew_probes_once_per_input).
    """
    hint = skew_hint or os.environ.get("SPARK_GRAFT_DISPATCH", "")
    if hint in ("window", "uniform"):
        return window_face()
    if hint in ("presplit", "skewed"):
        return presplit_face()
    if hint:
        # A typo'd hint (e.g. 'Window', 'pre-split') must not silently
        # fall through to the probing path — that fires a Spark action
        # at plan-construction time, exactly what the hatch exists to
        # prevent (r17, ADVICE r16).
        raise ValueError(
            f"unrecognized skew hint {hint!r} (from skew_hint or "
            f"SPARK_GRAFT_DISPATCH): expected one of "
            f"'window'/'uniform'/'presplit'/'skewed'"
        )
    keys = tuple([key_col] if isinstance(key_col, str) else key_col)
    try:
        sig = (events.semanticHash(), keys, probe_fraction)
    except Exception:  # plan not hashable (exotic/connect edge) — probe
        sig = None
    if sig is not None and sig in _ROUTE_CACHE:
        share, n = _ROUTE_CACHE[sig]
    else:
        share, n = top_key_share(
            events, key_col, probe_fraction=probe_fraction
        )
        if sig is not None:
            if len(_ROUTE_CACHE) >= _ROUTE_CACHE_MAX:
                _ROUTE_CACHE.clear()  # bounded; re-probing is cheap
            _ROUTE_CACHE[sig] = (share, n)
    if n >= min_sample and share >= skew_threshold:
        return presplit_face()
    return window_face()


def merge_intervals_adaptive(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    duration_s: int = 600,
    skew_threshold: float = 0.20,
    probe_fraction: float = 0.01,
    min_sample: int = 500,
    bucket_us: int = 86_400_000_000,
    skew_hint: str | None = None,
) -> DataFrame:
    """Skew-adaptive dispatch over the two proven interval-merge faces
    (VERDICT r14 item 5): a sampled :func:`top_key_share` probe routes
    uniform inputs to the single-window :func:`merge_intervals` (no
    pre-split stitch tax — the ~2.5× toy-scale cost the r12–r14
    adjudications carried) and skewed inputs to
    :func:`merge_intervals_presplit` (the 4.65×-at-90 %-skew win,
    re-measured r14 / SURVEY entry 77).

    Correctness is dispatch-independent: both faces are oracle-equal
    and parity-test-pinned bit-identical (sub-second truncation
    included), so the probe can only change the PLAN, never the rows —
    a sampling wobble across runs is a performance coin-flip, not a
    result change. Decision rule: route to the pre-split twin iff the
    sample is trustworthy (≥ ``min_sample`` rows) AND the top key holds
    ≥ ``skew_threshold`` of it; an untrusted (tiny) sample means the
    input itself is tiny, where the window face is strictly better.

    100 TB: the probe is one pruned-column sample scan + one combinable
    aggregate; 0.20 is far above any healthy key distribution (10^8
    users → uniform share ~10^-8) and far below a bot key worth the
    stitch, so the threshold does not need tuning per corpus.
    """
    return _route_by_skew(
        events,
        key_col,
        lambda: merge_intervals(
            events, key_col=key_col, ts_col=ts_col, duration_s=duration_s
        ),
        lambda: merge_intervals_presplit(
            events,
            key_col=key_col,
            ts_col=ts_col,
            duration_s=duration_s,
            bucket_us=bucket_us,
        ),
        skew_threshold,
        probe_fraction,
        min_sample,
        skew_hint=skew_hint,
    )


def session_ids_adaptive(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_us: int = 3_600_000_000,
    skew_threshold: float = 0.20,
    probe_fraction: float = 0.01,
    min_sample: int = 500,
    bucket_us: int = 86_400_000_000,
    skew_hint: str | None = None,
) -> DataFrame:
    """Skew-adaptive dispatch over :func:`session_ids` /
    :func:`session_ids_presplit` (r15, extending the interval-merge
    dispatcher family-wide): the uniform-corpus stitch tax goes away
    while the 90 %-skew win (3.3×, tools/skew_bench_presplit.py) stays
    one routed probe away. Faces parity-pinned bit-identical."""
    return _route_by_skew(
        events,
        user_col,
        lambda: session_ids(events, user_col, ts_col, tiebreak_col, gap_us),
        lambda: session_ids_presplit(
            events, user_col, ts_col, tiebreak_col, gap_us, bucket_us
        ),
        skew_threshold,
        probe_fraction,
        min_sample,
        skew_hint=skew_hint,
    )


def funnel_steps_adaptive(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    skew_threshold: float = 0.20,
    probe_fraction: float = 0.01,
    min_sample: int = 500,
    bucket_s: int = 86_400,
    skew_hint: str | None = None,
) -> DataFrame:
    """Skew-adaptive dispatch over the UNBOUNDED funnel faces (r15).
    The bounded ``within_s`` variant stays on the window face by the
    documented not-bucket-summarizable proof — this dispatcher is for
    the unbounded funnel only (the pre-split twin's domain)."""
    return _route_by_skew(
        events,
        user_col,
        lambda: funnel_steps(events, steps, user_col, type_col, ts_col),
        lambda: funnel_steps_presplit(
            events, steps, user_col, type_col, ts_col, bucket_s
        ),
        skew_threshold,
        probe_fraction,
        min_sample,
        skew_hint=skew_hint,
    )


def event_debounce_adaptive(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_gap_s: int = 60,
    skew_threshold: float = 0.20,
    probe_fraction: float = 0.01,
    min_sample: int = 500,
    bucket_s: int = 86_400,
    skew_hint: str | None = None,
) -> DataFrame:
    """Skew-adaptive dispatch over the debounce faces (r15). The probe
    groups on the COMPOSITE window key (the straggler unit is the whole
    partition key, not its first column)."""
    keys = key_cols or ["user_id", "event_type"]
    return _route_by_skew(
        events,
        keys,
        lambda: event_debounce(events, keys, ts_col, id_col, min_gap_s),
        lambda: event_debounce_presplit(
            events, keys, ts_col, id_col, min_gap_s, bucket_s
        ),
        skew_threshold,
        probe_fraction,
        min_sample,
        skew_hint=skew_hint,
    )


def event_transitions_adaptive(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    skew_threshold: float = 0.20,
    probe_fraction: float = 0.01,
    min_sample: int = 500,
    bucket_s: int = 86_400,
    skew_hint: str | None = None,
) -> DataFrame:
    """Skew-adaptive dispatch over the transition-census faces (r15)."""
    return _route_by_skew(
        events,
        user_col,
        lambda: event_transitions(events, user_col, type_col, ts_col, id_col),
        lambda: event_transitions_presplit(
            events, user_col, type_col, ts_col, id_col, bucket_s
        ),
        skew_threshold,
        probe_fraction,
        min_sample,
        skew_hint=skew_hint,
    )


def event_debounce(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_gap_s: int = 60,
) -> DataFrame:
    """Telemetry debounce: drop an event if the PREVIOUS event with the
    same key fired less than ``min_gap_s`` seconds before it — the
    double-click / retry / sensor-chatter filter. Lag-based (each event
    compares to its immediate predecessor, kept or not): the
    non-chained semantics every SQL debounce uses, O(1) state per row;
    the chained variant ("gap from last KEPT event") is inherently
    sequential — that shape lives in streaming/ as stateful dedup.

    One key-partitioned exchange; emits the surviving rows with their
    predecessor gap (null for each key's first event).
    """
    keys = key_cols or ["user_id", "event_type"]
    base = events.select(
        *keys, F.col(id_col), _qepoch_s(ts_col).alias("epoch_s")
    )
    w = Window.partitionBy(*keys).orderBy("epoch_s", id_col)
    return (
        base.withColumn(
            "gap_s", F.col("epoch_s") - F.lag("epoch_s").over(w)
        )
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") >= min_gap_s))
        .withColumn("gap_s", F.coalesce("gap_s", F.lit(-1)))
        .orderBy(id_col)
    )


def event_debounce_presplit(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_gap_s: int = 60,
    bucket_s: int = 86_400,
) -> DataFrame:
    """Skew-immune opt-in twin of :func:`event_debounce` (r12,
    extending the pre-split family): the lag is per-(key, time-bucket),
    so a bot key's task is bounded by one key-day, and the ONLY
    cross-bucket dependency — each bucket's first event needs the
    previous bucket's last timestamp — is a (key, bucket)-summary
    stitch (domain-sized), null-safe-joined back.

    Lag-based debounce is the EASIEST member of the per-user-sequence
    class to split: unlike the chained variant (gap from last KEPT
    event — a serial fold, streaming territory), each event compares
    only to its immediate predecessor, so no offsets or folds are
    needed — just the boundary value. Bit-identical to the window form
    (test-pinned, including gaps that exactly straddle bucket edges
    and NULL-free first events per key).
    """
    keys = key_cols or ["user_id", "event_type"]
    base = events.select(
        *keys, F.col(id_col), _qepoch_s(ts_col).alias("epoch_s")
    ).withColumn("__b", F.floor(F.col("epoch_s") / F.lit(bucket_s)))
    w_local = Window.partitionBy(*keys, "__b").orderBy("epoch_s", id_col)
    local = base.withColumn("__lag", F.lag("epoch_s").over(w_local))
    summary = base.groupBy(*keys, "__b").agg(
        F.max("epoch_s").alias("__last")
    )
    w_buckets = Window.partitionBy(*keys).orderBy("__b")
    prev = summary.withColumn(
        "__prev_last", F.lag("__last").over(w_buckets)
    ).select(*keys, "__b", "__prev_last")
    return (
        _nsjoin(local, prev, [*keys, "__b"])
        .withColumn(
            "gap_s",
            F.col("epoch_s")
            - F.coalesce(F.col("__lag"), F.col("__prev_last")),
        )
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") >= min_gap_s))
        .withColumn("gap_s", F.coalesce("gap_s", F.lit(-1)))
        .drop("__b", "__lag", "__prev_last")
        .orderBy(id_col)
    )


def cumulative_reach(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily active users, new users, and cumulative reach — the
    product-growth triplet. DAU is a per-day distinct count; new_users
    counts users whose FIRST-ever day is that day; cum_reach is the
    running sum of new_users (= distinct users seen to date, without
    ever running a cumulative-distinct, which has no bounded-state
    form).

    Two aggregates (per-(day,user) dedup, then per-day counts) plus a
    running-sum window over the DAY axis — day cardinality is tiny, so
    the unpartitioned window is a non-issue at any scale.
    """
    # floor day buckets (r13 ts-domain axis, self-review follow-up):
    # the old `unix_timestamp div 86400` truncated BOTH steps while the
    # oracle floors seconds first — divergent exactly in the 1-second
    # window after each pre-1970 UTC day boundary (the mirror's
    # −86399.5 s row now pins it)
    day = F.floor(_qepoch_s(F.col(ts_col)) / F.lit(86400)).cast("long")
    ud = (
        events.select(F.col(user_col).alias("u"), day.alias("d"))
        .groupBy("u", "d")
        .agg(F.count("*").alias("n"))
    )
    first = ud.groupBy("u").agg(F.min("d").alias("fd"))
    per_day = (
        ud.join(first, "u")
        .groupBy("d")
        .agg(
            F.count_distinct("u").alias("dau"),
            F.sum((F.col("d") == F.col("fd")).cast("int")).alias("new_users"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.withColumn("cum_reach", F.sum("new_users").over(w))
        .select(
            (F.col("d") * 86400).alias("day_s"),
            "dau",
            F.col("new_users").cast("long").alias("new_users"),
            F.col("cum_reach").cast("long").alias("cum_reach"),
        )
        .orderBy("day_s")
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition census over per-user event
    sequences: counts of consecutive (from_type, to_type) steps and the
    row-normalized transition probability — the "what do users do after
    X" query, and the empirical transition matrix sequence models start
    from.

    One user-keyed exchange for the lag; the (from, to) count and the
    per-from row total (a window over the tiny count frame) are
    key-domain-sized. Probability is an int/int ratio under the
    round6x contract.
    """
    from ..qcommon import round6x

    w = Window.partitionBy(user_col).orderBy(
        _qepoch_s(ts_col), id_col
    )
    steps = (
        events.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_steps")
    )
    wt = Window.partitionBy("from_type")
    return (
        counts.withColumn("row_total", F.sum("n_steps").over(wt))
        .select(
            "from_type",
            "to_type",
            "n_steps",
            F.col("row_total").cast("long").alias("row_total"),
            round6x(F.col("n_steps") / F.col("row_total")).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


def event_transitions_presplit(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Skew-immune opt-in twin of :func:`event_transitions` (r12): the
    consecutive-step lag runs per (user, time-bucket); each bucket's
    first event takes its ``from_type`` from the previous bucket's LAST
    type via the (user, bucket)-summary stitch (max_by over the
    summary frame — domain-sized). Same trivial-stitch shape as
    :func:`event_debounce_presplit` — lag-based operators need only
    the boundary value, no offsets or folds. Bit-identical transition
    census to the window face (test-pinned).
    """
    from ..qcommon import round6x

    base = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        _qepoch_s(ts_col).alias("es"),
        F.col(id_col).alias("id"),
    ).withColumn("__b", F.floor(F.col("es") / F.lit(bucket_s)))
    w_local = Window.partitionBy("u", "__b").orderBy("es", "id")
    local = base.withColumn("__from", F.lag("t").over(w_local))
    summary = base.groupBy("u", "__b").agg(
        F.max_by("t", F.struct("es", "id")).alias("__last_t")
    )
    w_buckets = Window.partitionBy("u").orderBy("__b")
    prev = summary.withColumn(
        "__prev_t", F.lag("__last_t").over(w_buckets)
    ).select("u", "__b", "__prev_t")
    steps = (
        _nsjoin(local, prev, ["u", "__b"])
        .select(
            F.coalesce(F.col("__from"), F.col("__prev_t")).alias(
                "from_type"
            ),
            F.col("t").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_steps")
    )
    wt = Window.partitionBy("from_type")
    return (
        counts.withColumn("row_total", F.sum("n_steps").over(wt))
        .select(
            "from_type",
            "to_type",
            "n_steps",
            F.col("row_total").cast("long").alias("row_total"),
            round6x(F.col("n_steps") / F.col("row_total")).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    monetary_type: str = "purchase",
    type_col: str = "event_type",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation: users scored into quintiles by Recency (days
    since last event), Frequency (event count), Monetary (purchase
    cents), then counted per (r, f, m) segment — the classic customer-
    base decomposition.

    Determinism: every ntile orders by (metric, user id) — a total
    order, so tile boundaries are engine-independent. Scale honesty
    (the quality_deciles note applies): unpartitioned ntile ranks all
    users in one task — fine to millions of users per executor; at
    billions, swap the boundary step for the percentile_approx sketch
    (approx_quality_bins pattern) and keep the segment aggregate.
    Monetary is exact integer cents; the segment's avg_monetary is an
    int/int ratio under the round6x contract.

    Non-finite monetary values (r13 non-finite discipline): a NaN/±Inf
    purchase value cents-casts to a silent NULL in Spark (vanishing
    from the user's monetary sum where a native float sum would go
    NaN). A poisoned user instead (a) ranks FIRST in the monetary
    ntile — replaying the native ordering, where a NaN sum sorts
    greatest — tie-broken by user id alone (native NaN sums are
    indistinguishable), and (b) poisons the segment's avg_monetary to
    NaN, the one visible marker. r/f tiles and n_users are unaffected
    (recency/frequency never touch the value column).
    """
    from ..qcommon import nonfinite_flag, round6x

    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        # floor day (r13 ts-domain axis): div truncation shifts a
        # pre-1970 last event one day late vs the oracle's // floor
        F.max(F.floor(_qepoch_s(F.col(ts_col)) / F.lit(86400)).cast("long"))
        .alias("last_day"),
        F.count("*").alias("frequency"),
        F.coalesce(
            F.sum(F.when(F.col(type_col) == monetary_type, cents)), F.lit(0)
        ).alias("monetary_cents"),
        F.coalesce(
            F.max(
                F.when(
                    F.col(type_col) == monetary_type,
                    nonfinite_flag(F.col(value_col)),
                )
            ),
            F.lit(False),
        ).alias("nf"),
    )
    r = F.ntile(n_tiles).over(Window.orderBy(F.desc("last_day"), F.col("u")))
    f = F.ntile(n_tiles).over(Window.orderBy(F.desc("frequency"), F.col("u")))
    m = F.ntile(n_tiles).over(
        Window.orderBy(
            F.desc("nf"),
            F.when(~F.col("nf"), F.col("monetary_cents")).desc_nulls_last(),
            F.col("u"),
        )
    )
    scored = per_user.select(
        "u",
        "monetary_cents",
        "nf",
        r.alias("r_tile"),
        f.alias("f_tile"),
        m.alias("m_tile"),
    )
    return (
        scored.groupBy("r_tile", "f_tile", "m_tile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("monetary_cents").alias("seg_cents"),
            F.max("nf").alias("__nf"),
        )
        .select(
            "r_tile",
            "f_tile",
            "m_tile",
            "n_users",
            F.when(F.col("__nf"), F.lit(float("nan")))
            .otherwise(
                round6x(F.col("seg_cents") / (F.col("n_users") * 100))
            )
            .alias("avg_monetary"),
        )
        .orderBy("r_tile", "f_tile", "m_tile")
    )


def _nsjoin(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    how: str = "inner",
) -> DataFrame:
    """NULL-SAFE equi-join keeping one copy of the key columns (the
    left's). Every join in the by-counts family goes through this
    (round-12 self-review finding): the histograms' groupBy keeps a
    NULL key as a group — exactly like the window faces' partitionBy
    and the oracles' GROUP BY — but a plain equi-join silently DROPS
    the NULL-key rows at the totals/stats/bounds join, so a nullable
    key column diverged from the parity face. ``eqNullSafe`` (<=>)
    restores the GROUP BY semantics end-to-end.
    """
    l, r = left.alias("__nsl"), right.alias("__nsr")
    cond = None
    for k in keys:
        c = F.col(f"__nsl.{k}").eqNullSafe(F.col(f"__nsr.{k}"))
        cond = c if cond is None else (cond & c)
    out = l.join(r, cond, how)
    for k in keys:
        out = out.drop(F.col(f"__nsr.{k}"))
    return out


def _cum_value_counts(pairs: DataFrame) -> DataFrame:
    """(k, v) pairs → (k, v, c, cum, n): the shared scaffold of the
    by-counts family — one map-side-combined (k, v) count aggregate,
    then ONE window pass computing both the cumulative count over
    distinct values and the per-key total. Callers choose the
    NULL-VALUE policy (filter or keep) and any casts BEFORE calling;
    NULL KEYS always survive (a NULL key is an ordinary window
    partition, exactly as it was a groupBy group).

    r18 rewrite (guide §1.2/§2.4 — don't compute things twice): the
    old shape computed ``n`` as a second groupBy over ``counts`` and
    re-attached it with a null-safe join, which re-evaluated the whole
    counts subtree (scan + fanout + aggregate) once per reference —
    measured 1.60 s → 0.9 s on percentile_stats' histogram leg at
    sf0.1. ``n`` is now ``sum(c)`` over the UNBOUNDED frame of the
    same (partitionBy k, orderBy v) window spec, so both window
    aggregates run in the one WindowExec over the one aggregate
    exchange: same rows, same values, one pass, no join. Per-key
    window state stays O(distinct values) — the family's bounded-
    domain contract, unchanged."""
    counts = pairs.groupBy("k", "v").agg(F.count("*").alias("c"))
    w = Window.partitionBy("k").orderBy("v")
    wfull = (
        Window.partitionBy("k")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return counts.select(
        "k",
        "v",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wfull).alias("n"),
    )


def percentile_by_counts(
    events: DataFrame,
    key_col: str,
    value_col: str,
    percentiles: list[float],
) -> DataFrame:
    """EXACT interpolated percentiles (percentile_cont semantics) per
    key, computed from a VALUE-COUNT HISTOGRAM instead of a per-key
    row sort — the skew-immune twin of ``F.percentile``.

    Why (round-11 straggler audit): ``F.percentile`` buffers and sorts
    every row of a key inside one aggregation buffer, so a
    low-cardinality key over 10^12 rows is a single-task straggler
    (the audit's one flag, ratio 40.5) and an OOM risk. This form
    aggregates to (key, value, count) first — one map-side-combined
    shuffle, output bounded by the DISTINCT VALUE domain — then runs
    the cumulative window over distinct values per key: a key with
    10^12 rows but 10^5 distinct values does 10^5-row window work.

    Exactness: identical interpolation arithmetic to percentile_cont —
    for p over n rows, rank r = p·(n−1) (0-based, double), result =
    v_lo + (r − floor(r))·(v_hi − v_lo) where v_lo/v_hi are the sorted
    values at positions floor(r)+1 / min(floor(r)+2, n). The covering
    distinct value for a position i is the one whose cumulative range
    (cum − count, cum] contains i — a conditional max per key, no
    explode. Parity with F.percentile is test-pinned (including
    duplicate-heavy and two-value edge shapes).

    Output: one row per key with ``p_<idx>`` double columns in
    ``percentiles`` order, plus ``n`` (row count). NULL values are
    excluded, matching percentile_cont; a key with zero non-null
    values drops out (as with F.percentile over an all-null group in
    a groupBy of non-null keys).

    Domain contract (measured r11): this is the scale form for
    BOUNDED-DOMAIN values (quantities, cents, scores, ratings — the
    distinct-value count stays O(domain) as rows grow). For a
    near-continuous column the histogram degenerates to one row per
    input row and the window becomes the row-level straggler again —
    keep the sort aggregate as the bounded-scale face and
    approx_percentile as the scale path there. At toy scale the sort
    aggregate is also ~1.8× faster wall-clock (one in-memory sort vs
    two shuffles + window); the histogram's win is RESIDENCY — a
    10^12-row key needs O(distinct values) memory per task, where the
    sort aggregate's single buffer holds every row of the key and
    cannot run at all.
    """
    v = F.col(value_col).cast("double")
    j = _cum_value_counts(
        events.filter(v.isNotNull()).select(
            F.col(key_col).alias("k"), v.alias("v")
        )
    )
    aggs = [F.max("n").alias("n")]
    outs = []
    for idx, p in enumerate(percentiles):
        r = F.lit(float(p)) * (F.col("n") - 1).cast("double")
        lo_pos = F.floor(r) + 1
        hi_pos = F.least(F.floor(r) + 2, F.col("n"))
        covers_lo = (F.col("cum") - F.col("c") < lo_pos) & (
            lo_pos <= F.col("cum")
        )
        covers_hi = (F.col("cum") - F.col("c") < hi_pos) & (
            hi_pos <= F.col("cum")
        )
        aggs.append(F.max(F.when(covers_lo, F.col("v"))).alias(f"__lo{idx}"))
        aggs.append(F.max(F.when(covers_hi, F.col("v"))).alias(f"__hi{idx}"))
        frac = r - F.floor(r).cast("double")
        outs.append(
            (
                F.col(f"__lo{idx}")
                + frac * (F.col(f"__hi{idx}") - F.col(f"__lo{idx}"))
            ).alias(f"p_{idx}")
        )
    return (
        j.groupBy("k")
        .agg(*aggs)
        .select(F.col("k").alias(key_col), *outs, F.col("n"))
    )


def percentile_moments_by_counts(
    events: DataFrame,
    key_col: str,
    value_col: str,
    percentiles: list[float],
) -> DataFrame:
    """percentile_by_counts FUSED with the sample standard deviation —
    one value-count histogram feeds both, so a stats-profile query
    reads its fact column once instead of once per statistic (r18,
    guide §1.2/§2.3: aggregate before you shuffle, don't compute
    things twice). Two deliberate semantic differences from
    :func:`percentile_by_counts`:

    - EVERY key survives, including keys whose values are all NULL
      (NULL percentiles/sd) — the histogram keeps the (k, NULL) count
      group and the window sums count only non-NULL rows, replaying
      GROUP BY anchor semantics without a separate anchor aggregate;
    - output adds ``sd`` = stddev_samp(value), computed by the
      numerically-stable two-pass form WITHOUT a second data pass: the
      per-key mean rides the same full-frame window as ``n`` (exact
      decimal(38,6) sum of count·value, one cast to double), and the
      final per-key aggregate sums c·(v−mean)² in double. A constant-
      valued key yields exactly 0 (mean equals v bit-for-bit while
      n·v is representable), a 1-row key NULL — matching stddev_samp.
      Accuracy matches the engines' streaming stddev to ~1 ulp·n of
      the variance; every consumer rounds to 6 dp, as all aggregate
      faces here do.

    Percentile arithmetic is byte-identical to percentile_by_counts
    (same covers/interpolation expressions over the same cum/n values).
    Same bounded-domain contract: per-key window state is O(distinct
    values). Output: (key_col, p_<idx>…, n, sd).
    """
    v = F.col(value_col).cast("double")
    pairs = events.select(F.col(key_col).alias("k"), v.alias("v"))
    counts = pairs.groupBy("k", "v").agg(F.count("*").alias("c"))
    nn = F.when(F.col("v").isNotNull(), F.col("c")).otherwise(F.lit(0))
    # decimal(19,0)·decimal(18,12) → decimal(38,12) EXACT (no precision
    # cap hit), sum stays (38,12): exact while |v| < 1e6 and
    # Σ|c·v| < 1e26. Values outside |v| < 1e6 (and NaN/±Inf) never reach
    # the cast — it would throw under ANSI and turn NULL (silently
    # skipped by the sum) without it — and instead NULL their key's sd
    # below, so both modes agree. The 12-dp cast bounds the mean's error
    # at ≤5e-13 absolute, so the two-pass M2 bias n·δ² is ~1e-25·n —
    # invisible at the 6-dp rounding every consumer applies.
    in_domain = F.abs(F.col("v")) < 1e6
    cv = F.col("c").cast("decimal(19,0)") * F.when(
        in_domain, F.col("v")
    ).otherwise(F.lit(0.0)).cast("decimal(18,12)")
    w = Window.partitionBy("k").orderBy(F.asc_nulls_first("v"))
    wfull = (
        Window.partitionBy("k")
        .orderBy(F.asc_nulls_first("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    h = counts.select(
        "k",
        "v",
        "c",
        F.sum(nn).over(w).alias("cum"),
        F.sum(nn).over(wfull).alias("n"),
        F.sum(cv).over(wfull).alias("s1"),
    )
    # n = 0 (all-NULL-value group) must yield NULL stats, not an ANSI
    # divide-by-zero — the group's survival is the operator's anchor
    # contract
    mean = F.when(
        F.col("n") > 0, F.col("s1").cast("double") / F.col("n")
    ).alias("mean")
    h = h.withColumn("mean", mean)
    nonnull = F.col("v").isNotNull()
    dev = F.col("v") - F.col("mean")
    aggs = [
        F.max("n").alias("n"),
        F.sum(F.when(nonnull, F.col("c") * dev * dev)).alias("__m2"),
        F.bool_and(in_domain | ~nonnull).alias("__in_domain"),
    ]
    outs = []
    for idx, p in enumerate(percentiles):
        r = F.lit(float(p)) * (F.col("n") - 1).cast("double")
        lo_pos = F.floor(r) + 1
        hi_pos = F.least(F.floor(r) + 2, F.col("n"))
        covers_lo = nonnull & (F.col("cum") - F.col("c") < lo_pos) & (
            lo_pos <= F.col("cum")
        )
        covers_hi = nonnull & (F.col("cum") - F.col("c") < hi_pos) & (
            hi_pos <= F.col("cum")
        )
        aggs.append(F.max(F.when(covers_lo, F.col("v"))).alias(f"__lo{idx}"))
        aggs.append(F.max(F.when(covers_hi, F.col("v"))).alias(f"__hi{idx}"))
        frac = r - F.floor(r).cast("double")
        outs.append(
            (
                F.col(f"__lo{idx}")
                + frac * (F.col(f"__hi{idx}") - F.col(f"__lo{idx}"))
            ).alias(f"p_{idx}")
        )
    sd = F.when(
        (F.col("n") > 1) & F.col("__in_domain"),
        F.sqrt(F.col("__m2") / (F.col("n") - 1)),
    ).alias("sd")
    return (
        h.groupBy("k")
        .agg(*aggs)
        .select(F.col("k").alias(key_col), *outs, F.col("n"), sd)
    )


def percentile_cont_bracket(
    events: DataFrame,
    key_col: str,
    value_col: str,
    percentiles: list[float],
    accuracy: int = 1000,
    broadcast_bounds: bool = True,
) -> DataFrame:
    """EXACT interpolated percentiles (percentile_cont semantics) for
    NEAR-CONTINUOUS columns — the scale face the by-counts histogram
    cannot cover (its domain contract: a continuous column's histogram
    degenerates to one row per input row, and the per-key cumulative
    window becomes the one-task-per-key straggler again).

    Classic 2-pass bracket selection, every heavy stage balanced:

    1. BRACKET — ``percentile_approx`` (Greenwald-Khanna, rank error
       ≤ n/accuracy, map-side merged — no skew) at p ± 3/accuracy
       gives per-key value brackets GUARANTEED to contain the true
       target ranks (margin 3× the sketch's error bound), plus n.
    2. COUNT-BELOW — one map-side-combined conditional count of rows
       strictly below each bracket per key (balanced scan).
    3. SELECT — only the bracket rows (≈ 6n/accuracy per key per p)
       sort, in a per-(key, percentile) window over that TINY frame;
       global rank = in-bracket row_number + count-below; the values at
       ranks floor(r)+1 and min(floor(r)+2, n) interpolate exactly as
       percentile_cont (identical arithmetic to F.percentile /
       :func:`percentile_by_counts` — bit-identical, test-pinned).

    No stage buffers a key's rows: the sketch merge is per-partition
    partials, the counts are partial aggregates, and the only sort is
    bracket-sized. ``accuracy`` is the residency knob — bracket rows
    per key ≈ 6n/accuracy, so pick accuracy ≈ n / 10^6 at extreme n to
    hold brackets at ~10^6 rows (the result stays EXACT for any
    accuracy; only the bracket size changes). A missed bracket (cannot
    happen within the sketch's guarantee) would surface as an
    assert_true failure, never a silent wrong answer.

    Output: (key_col, p_<idx>… doubles, n). NULL values excluded; keys
    with zero non-null values drop (as with F.percentile) — anchor on
    a groupBy frame and left-join when groups must survive.
    """
    v = F.col(value_col).cast("double")
    base = events.filter(v.isNotNull()).select(
        F.col(key_col).alias("k"), v.alias("v")
    )
    np_ = len(percentiles)
    margin = 3.0 / accuracy
    qs = [max(0.0, p - margin) for p in percentiles] + [
        min(1.0, p + margin) for p in percentiles
    ]
    bounds = (
        base.groupBy("k")
        .agg(
            F.percentile_approx(
                "v", F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)
            ).alias("bq"),
            F.count("*").alias("n"),
        )
        .select(
            "k",
            "n",
            # margin arithmetic: the bracket must cover the target rank
            # ±(sketch error 1/accuracy + 2 ranks) in quantile units =
            # 1/accuracy + 2/n ≤ 3/accuracy whenever n ≥ accuracy. A
            # SMALLER key gets the whole key as its bracket (±inf) —
            # it is bracket-sized by definition, and a fixed query
            # array cannot widen per key
            *[
                F.when(F.col("n") >= accuracy, F.col("bq")[i])
                .otherwise(F.lit(float("-inf")))
                .alias(f"lo_{i}")
                for i in range(np_)
            ],
            *[
                F.when(F.col("n") >= accuracy, F.col("bq")[np_ + i])
                .otherwise(F.lit(float("inf")))
                .alias(f"hi_{i}")
                for i in range(np_)
            ],
        )
    )
    b_side = F.broadcast(bounds) if broadcast_bounds else bounds
    j = _nsjoin(base, b_side, ["k"])
    below = j.groupBy("k").agg(
        *[
            F.sum((F.col("v") < F.col(f"lo_{i}")).cast("long")).alias(
                f"nb_{i}"
            )
            for i in range(np_)
        ]
    )
    brackets = None
    for i in range(np_):
        part = j.filter(
            (F.col("v") >= F.col(f"lo_{i}")) & (F.col("v") <= F.col(f"hi_{i}"))
        ).select("k", "v", F.lit(i).alias("qi"), "n")
        brackets = part if brackets is None else brackets.unionByName(part)
    below_side = F.broadcast(below) if broadcast_bounds else below
    w = Window.partitionBy("k", "qi").orderBy("v")
    ranked = _nsjoin(
        brackets.withColumn("rn", F.row_number().over(w)), below_side, ["k"]
    )
    aggs = [F.max("n").alias("n")]
    outs = []
    for i, p in enumerate(percentiles):
        r = F.lit(float(p)) * (F.col("n") - 1).cast("double")
        lo_pos = F.floor(r) + 1
        # ceil, not floor+2: an INTEGRAL rank needs no second row (frac
        # is exactly 0, interpolation degenerates to lo), and demanding
        # rank floor+2 would require a value the bracket legitimately
        # need not contain (tripwire false-positive on tiny keys)
        hi_pos = F.ceil(r) + 1
        gpos = F.col("rn") + F.col(f"nb_{i}")
        here = F.col("qi") == i
        aggs.append(
            F.max(F.when(here & (gpos == lo_pos), F.col("v"))).alias(
                f"__lo{i}"
            )
        )
        aggs.append(
            F.max(F.when(here & (gpos == hi_pos), F.col("v"))).alias(
                f"__hi{i}"
            )
        )
        frac = r - F.floor(r).cast("double")
        guard = F.assert_true(
            F.col(f"__lo{i}").isNotNull() & F.col(f"__hi{i}").isNotNull(),
            "percentile_cont_bracket: bracket missed the target rank — "
            "sketch guarantee violated",
        )
        outs.append(
            F.coalesce(
                guard.cast("double"),
                F.col(f"__lo{i}")
                + frac * (F.col(f"__hi{i}") - F.col(f"__lo{i}")),
            ).alias(f"p_{i}")
        )
    return (
        ranked.groupBy("k")
        .agg(*aggs)
        .select(F.col("k").alias(key_col), *outs, F.col("n"))
    )


def _mad_value_counts(
    events: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """(k, cents, count, nf) histogram shared by the by-counts MAD
    family — NULL values excluded, matching :func:`mad_outliers`
    (aligned r12, ADVICE r11: the window form used to rank NULLs; both
    now drop them, pinned by a null-bearing parity test).

    ``nf`` (r13 non-finite discipline): a NaN/±Inf value silently
    cents-casts to NULL in Spark (DuckDB raises), so it would otherwise
    vanish from the rank arithmetic while still counting in n — the
    silent-wrong class the NaN-mirror axis exists for. All non-finite
    rows of a key collapse into the single x=NULL histogram row (the
    cents cast cannot NULL a finite in-envelope value — overflow is
    ANSI-loud), flagged nf=true; consumers poison their rank outputs to
    NULL when the key carries the flag."""
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    return (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("k"), cents.alias("x"))
        .agg(
            F.count("*").alias("c"),
            F.max(_qnonfinite_flag(F.col(value_col))).alias("nf"),
        )
    )


def mad_stats_by_counts(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Integer-exact per-key (median, MAD) from value-count histograms —
    the skew-immune stats engine for :func:`mad_outliers`' family
    (same 2×-scale arithmetic, so med2/mad2 are bit-identical to the
    window form's internals — including on nullable columns, since r12
    both forms exclude NULL values before ranking).

    Shape: ONE map-side-combined (key, cents) count aggregate bounds
    everything after it by the distinct-value domain; the deviation
    histogram |2x − med2| derives STRAIGHT from the value histogram
    (deviations of equal-valued rows are equal — no second pass over
    rows, unlike the window form's two full-key rank passes); both
    cumulative windows run over distinct values. A 10^12-row key with
    10^5 distinct cents does 10^5-row window work where the window
    form sorts 10^12 rows in one task twice. Same bounded-domain
    contract as :func:`percentile_by_counts`.

    Output: (key_col, med2, mad2, n) — med2/mad2 at 2× scale (exact
    int64 half-integer medians), n = non-null row count. A key whose
    values include NaN/±Inf emits NULL med2/mad2 (r13 non-finite
    discipline: the cents cast silently NULLs non-finite values, so an
    exact rank statistic over them is unstatable — NULL is the visible
    marker; n still counts every non-null value).
    """
    counts = _mad_value_counts(events, key_col, value_col)
    stats = _mad_stats_from_counts(counts)
    return stats.select(
        F.col("k").alias(key_col),
        F.when(~F.col("nf"), F.col("med2")).alias("med2"),
        F.when(~F.col("nf"), F.col("mad2")).alias("mad2"),
        F.col("n"),
    )


def _mad_stats_from_counts(counts: DataFrame) -> DataFrame:
    """(k, med2, mad2, n) from a (k, x, c) value-count histogram — the
    shared core of :func:`mad_stats_by_counts` and
    :func:`mad_outliers_by_counts` (the latter joins the same histogram
    back for the outlier census, so the histogram aggregate's exchange
    is reused, not recomputed)."""

    def _mid2(hist: DataFrame, val: str) -> DataFrame:
        """sum of the lower+upper middle order statistics (2× median)
        from a (k, val, c, n[, nf]) histogram — nf, when present, is
        key-constant (the totals frame's max) and rides the group keys
        so the flag needs NO extra join downstream."""
        w = Window.partitionBy("k").orderBy(val)
        h = hist.withColumn("cum", F.sum("c").over(w))
        lo = F.floor((F.col("n") + 1) / 2)
        hi = F.floor((F.col("n") + 2) / 2)
        keys = ["k", "n"] + (["nf"] if "nf" in hist.columns else [])

        def covers(pos):
            return (F.col("cum") - F.col("c") < pos) & (pos <= F.col("cum"))

        return h.groupBy(*keys).agg(
            (
                F.max(F.when(covers(lo), F.col(val)))
                + F.max(F.when(covers(hi), F.col(val)))
            ).alias("__m2")
        )

    tot = counts.groupBy("k").agg(
        F.sum("c").alias("n"), F.max("nf").alias("nf")
    )
    # counts re-selected without its per-row nf: the KEY-level flag
    # (tot's max) joins in here once and rides every later group key,
    # so no second totals join is needed at stats assembly
    vh = _nsjoin(counts.select("k", "x", "c"), tot, ["k"])
    med = _mid2(vh, "x").withColumnRenamed("__m2", "med2")
    dev_hist = (
        _nsjoin(counts.select("k", "x", "c"), med, ["k"])
        .select(
            "k",
            "n",
            "nf",
            "med2",
            F.abs(F.col("x") * 2 - F.col("med2")).alias("d"),
            "c",
        )
        .groupBy("k", "n", "nf", "med2", "d")
        .agg(F.sum("c").alias("c"))
    )
    mad = _mid2(
        dev_hist.select("k", "n", "nf", "d", "c"), "d"
    ).withColumnRenamed("__m2", "mad2")
    # UNMASKED med2/mad2 plus the key-level flag, so each consumer pins
    # its own poison shape (stats → NULL med2/mad2; census → NULL all
    # rank outputs)
    return _nsjoin(med, mad.select("k", "mad2"), ["k"]).select(
        "k", "med2", "mad2", "n", "nf"
    )


def mad_outliers_by_counts(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k_half: int = 6,
) -> DataFrame:
    """Skew-immune twin of :func:`mad_outliers` — the full outlier
    census (n_events, n_outliers, med2, mad2) computed from the value-
    count histogram instead of two per-key row-sort windows.

    Why (round-11 straggler audit, executed r12): the window form
    sorts every row of a key inside ONE task twice (rank for the value
    median, rank for the deviation median) — AQE-opaque, so a
    corpus-scale key (event_type has a handful of values at 100 TB) is
    an unsplittable straggler. Here ONE map-side-combined (key, cents)
    aggregate bounds all later work by the distinct-value domain; the
    outlier census itself is the same histogram joined back to the
    (med2, mad2) stats — sum of counts where |2x − med2|·2 > k·mad2 —
    so no pass over ROWS happens after the first aggregate at all.
    Spark's ReuseExchange serves the histogram to both subtrees.

    Bit-identical to :func:`mad_outliers` (test-pinned, including a
    null-bearing case): identical 2×-scale integer arithmetic, and
    equal-valued rows have equal deviations, so the flag census over
    counts replays the per-row census exactly.

    Bounded-domain contract as :func:`percentile_by_counts`: cents of
    a capped value column (scores, magnitudes, prices) keep the
    histogram O(domain); a near-continuous column degenerates to one
    histogram row per input row — keep the window form there.
    """
    counts = _mad_value_counts(events, key_col, value_col)
    stats = _mad_stats_from_counts(counts)
    # med2/mad2 (and the key-level non-finite flag) ride THROUGH the
    # census aggregate (constant per key → max()) instead of a second
    # stats join, which would make Catalyst evaluate the whole
    # two-window stats subtree twice (the zscore pattern)
    return (
        _nsjoin(
            counts.select("k", "x", "c"),
            stats.select("k", "med2", "mad2", "nf"),
            ["k"],
        )
        .select(
            "k",
            "c",
            "med2",
            "mad2",
            "nf",
            (
                F.abs(F.col("x") * 2 - F.col("med2")) * 2
                > F.lit(k_half) * F.col("mad2")
            ).cast("long").alias("o"),
        )
        .groupBy("k")
        .agg(
            F.sum("c").alias("n_events"),
            F.sum(F.col("o") * F.col("c")).cast("long").alias("n_outliers"),
            F.max("med2").cast("long").alias("median_cents_x2"),
            F.max("mad2").cast("long").alias("mad_cents_x2"),
            F.max("nf").alias("__nf"),
        )
        .select(
            F.col("k").alias(key_col),
            "n_events",
            # r13 non-finite discipline: a NaN/±Inf value cents-casts to
            # a silent NULL (so it left the rank arithmetic while still
            # counting in n) — every rank-derived output of a poisoned
            # key goes NULL, the visible marker; n_events stays a real
            # count of non-null values
            F.when(~F.col("__nf"), F.col("n_outliers")).alias("n_outliers"),
            F.when(~F.col("__nf"), F.col("median_cents_x2")).alias(
                "median_cents_x2"
            ),
            F.when(~F.col("__nf"), F.col("mad_cents_x2")).alias(
                "mad_cents_x2"
            ),
        )
        .orderBy(key_col)
    )


def mad_outliers(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k_half: int = 6,
) -> DataFrame:
    """Robust per-key outlier census via Median Absolute Deviation —
    the resistant cousin of zscore_outlier_stats (one 500x spike
    barely moves a median where it drags a mean; MAD flags it without
    the masking effect). Flag x where |x − med| > (k_half/2)·MAD.

    Exactness: values are integer cents; medians of integers live on
    the half-integer grid, so everything is computed at 2× scale —
    med2 = lower middle + upper middle (ROW_NUMBER arithmetic, total
    order by (cents, id)), mad2 likewise over |2·x − med2| — and the
    flag predicate |2·x − med2|·2 > k_half·mad2 is pure int64.

    Shape: two key-partitioned window passes (rank for the value
    median, rank for the deviation median) + the census aggregate —
    the price of EXACT medians; the sketch path for mega-keys is
    percentile_approx, as with quality_deciles. Each pass reuses the
    same key partitioning.

    NULL values are EXCLUDED (ADVICE r11 alignment): a NULL cents row
    previously ranked first and inflated n, poisoning med2's rank
    arithmetic with a meaningless order statistic; now both this form
    and :func:`mad_stats_by_counts` drop NULLs before ranking, so the
    two are bit-identical on nullable columns too (test-pinned with a
    null-bearing case).
    """
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # nf (r13 non-finite discipline): NaN/±Inf cents-cast to silent
    # NULL x, vanishing from the rank windows while still counting in
    # n — the key's rank outputs are poisoned to NULL below, matching
    # mad_outliers_by_counts bit-for-bit (parity-pinned)
    ev = events.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        cents.alias("x"),
        F.col("event_id"),
        _qnonfinite_flag(F.col(value_col)).alias("nf"),
    )
    w_rank = Window.partitionBy("k").orderBy("x", "event_id")
    w_all = Window.partitionBy("k")
    ranked = ev.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count("*").over(w_all)
    )
    lo = (F.col("n") + 1) / 2
    hi = (F.col("n") + 2) / 2
    med2 = F.sum(
        F.when(
            (F.col("rn") == F.floor(lo)) | (F.col("rn") == F.floor(hi)),
            F.when(F.col("n") % 2 == 1, F.col("x") * 2).otherwise(F.col("x")),
        )
    ).over(w_all)
    with_med = ranked.withColumn("med2", med2).withColumn(
        "dev2", F.abs(F.col("x") * 2 - F.col("med2"))
    )
    w_rank_d = Window.partitionBy("k").orderBy("dev2", "event_id")
    ranked_d = with_med.withColumn("rnd", F.row_number().over(w_rank_d))
    mad2 = F.sum(
        F.when(
            (F.col("rnd") == F.floor(lo)) | (F.col("rnd") == F.floor(hi)),
            F.when(F.col("n") % 2 == 1, F.col("dev2") * 2).otherwise(
                F.col("dev2")
            ),
        )
    ).over(w_all)
    flagged = ranked_d.withColumn("mad2", mad2).withColumn(
        "is_outlier",
        (F.col("dev2") * 2 > F.lit(k_half) * F.col("mad2")).cast("int"),
    )
    return (
        flagged.groupBy("k")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_outlier").alias("n_outliers"),
            F.max("med2").alias("med2"),
            F.max("mad2").alias("mad2"),
            F.max("nf").alias("__nf"),
        )
        .select(
            F.col("k").alias(key_col),
            "n_events",
            F.when(~F.col("__nf"), F.col("n_outliers"))
            .cast("long")
            .alias("n_outliers"),
            F.when(~F.col("__nf"), F.col("med2"))
            .cast("long")
            .alias("median_cents_x2"),
            F.when(~F.col("__nf"), F.col("mad2"))
            .cast("long")
            .alias("mad_cents_x2"),
        )
        .orderBy(key_col)
    )


def hourly_profile(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Seasonality profile: per key, events per hour-of-day plus an
    integer concentration index — 24·Σc_h² scaled against n² reads as
    ppm-above-uniform (0 for a flat profile, 10⁶ for a single-hour
    spike): conc_ppm = ⌊10⁶·(24·Σc² − n²)/(23·n²)⌋.

    Σc² and the n² products run in exact decimal(38,0) (round-10
    overflow audit: the old int64 form overflowed at n ≥ ~6·10⁵ rows
    per key — and the key here is event_type, a LOW-cardinality key
    whose every value is corpus-scale at 100 TB; decimal is good to
    n ≤ 10^12 per key). The final ratio divides as double on both
    engines (numerator/denominator are value-determined decimal→double
    casts, exact below 2^53), and conc_ppm itself is bounded ≤ 10⁶.

    One (key, hour) aggregate + a per-key rollup: key-domain-sized.
    """
    hour = F.hour(ts_col)
    per_hour = events.select(
        F.col(key_col).alias("k"), hour.alias("h")
    ).groupBy("k", "h").agg(F.count("*").alias("c"))
    c_d = F.col("c").cast("decimal(19,0)")
    per_key = per_hour.groupBy("k").agg(
        F.sum("c").alias("n"),
        F.max_by("h", F.struct("c", (-F.col("h")).alias("nh"))).alias(
            "peak_hour"
        ),
        F.sum(c_d * c_d).alias("ss"),
    )
    n_d = F.col("n").cast("decimal(19,0)")
    # numerator/denominator exact in decimal, ONE value-determined cast
    # to double each, then the same double division the oracle runs
    conc = F.floor(
        (F.lit(1000000).cast("decimal(19,0)") * (24 * F.col("ss") - n_d * n_d))
        .cast("double")
        / (23 * n_d * n_d).cast("double")
    )
    return per_key.select(
        F.col("k").alias(key_col),
        "n",
        F.col("peak_hour").cast("int").alias("peak_hour"),
        conc.cast("long").alias("conc_ppm"),
    ).orderBy(key_col)


def rate_limit_flags(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    window_s: int = 86400,
    max_n: int = 4,
) -> DataFrame:
    """Per-key rate limiting, both admission disciplines an ingest edge
    runs (reference parity: the reference's API extractor self-throttles
    with request chunking — extract_historical.py:49-120 pages by month
    to stay under the USGS result cap; this is the same policy surface
    applied to the stored event stream):

    - ``n_in_window``: events from the SAME key in the trailing
      ``window_s`` seconds INCLUDING this one — a RANGE frame
      ``[ts - window_s + 1, ts]``, so second-resolution ties are peers
      and share one count (the only tie rule both a range frame and a
      replayed oracle can agree on).
    - ``admitted_sliding``: n_in_window <= max_n. Sliding-window limit
      WITHOUT admission feedback (the count includes throttled events) —
      the stateless form every engine can compute in one window pass.
      The admission-feedback form (counting only admitted events) is
      inherently sequential per key; see
      streaming/ratelimit.py::admit_token_bucket for that face.
    - ``admitted_fixed``: first ``max_n`` events per (key, calendar
      window) by (ts, id) order — the fixed-window discipline (row_number
      over an epoch-quotient bucket).

    100 TB: both flags come from windows partitioned by the key — one
    hash shuffle on ``key_col``, no global ordering anywhere; the RANGE
    frame is a single forward scan per key partition. Skewed keys (one
    bot user with millions of events) are the real hazard: the per-key
    partition is processed by one task, so pre-split hot keys on
    (key, epoch-day) first — the fixed-window flag stays exact under
    that split because the bucket is part of the partition key; the
    sliding count needs a day of overlap carried across splits.
    """
    # epoch_s, not unix_timestamp (r13 ts-domain axis): floor-exact
    # seconds; the old floor() wrapped an ALREADY-truncated long
    ts_s = _qepoch_s(F.col(ts_col))
    e = events.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("k"),
        ts_s.alias("ts_s"),
    )
    sliding = (
        Window.partitionBy("k")
        .orderBy("ts_s")
        .rangeBetween(-(window_s - 1), 0)
    )
    fixed = Window.partitionBy(
        "k", F.floor(F.col("ts_s") / window_s)
    ).orderBy("ts_s", "id")
    return e.select(
        F.col("id").alias(id_col),
        F.col("k").alias(key_col),
        "ts_s",
        F.count("*").over(sliding).alias("n_in_window"),
        (F.count("*").over(sliding) <= max_n).alias("admitted_sliding"),
        (F.row_number().over(fixed) <= max_n).alias("admitted_fixed"),
    )


def trend_fit(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key ordinary-least-squares trend: slope/intercept/r² of the
    value series against elapsed hours since the key's first event —
    the drift detector a curation pipeline runs per source/domain
    (is this feed's quality score trending down?).

    Exactness discipline: x is integer hours (elapsed//3600), y is
    integer milli-units (floor(value*1000)), and the five OLS moment
    sums plus the n·sxy − sx·sy style cross-products run in exact
    decimal(38,0) (round-10 overflow audit: the old int64 moments were
    only safe to ~2e3 rows/key — a per-key envelope a 100 TB feed
    blows immediately; decimal holds to n ≤ 10^9 per key at x ≤ 1e6 h,
    |y| ≤ 1e9 milli, every product < 10^38, and DuckDB replays exactly
    via int128 sums). The only doubles are the final division inputs —
    each a value-determined decimal→double cast, exact below 2^53 —
    sealed with round6x. Spark's built-in regr_slope aggregates FLOATS
    in shuffle order (run-to-run drift); the integer-moment
    formulation is the deterministic equivalent.

    One key-partitioned window (first-event timestamp) + one aggregate
    on the same key: a single hash exchange end-to-end.

    Non-finite values (r13 non-finite discipline): floor(NaN·1000) is
    a silent 0 and floor(±Inf·1000) a silent Long.MIN/MAX saturation
    at the long cast (ANSI raises on the Inf case — loud, but still
    not a statement about the data) — so non-finite values are masked
    to NULL y (excluded from the moments, exactly like a NULL value)
    and the key's slope/intercept/r² are POISONED to NaN, the native
    float OLS answer; n_events stays the real row count.
    """
    from ..qcommon import nonfinite_flag

    # epoch_s, not unix_timestamp (r13 ts-domain axis): floor-exact
    # seconds; the old floor() wrapped an ALREADY-truncated long
    ts_s = _qepoch_s(F.col(ts_col))
    nf = nonfinite_flag(F.col(value_col))
    base = events.select(
        F.col(key_col).alias("k"),
        ts_s.alias("ts_s"),
        F.when(~nf, F.floor(F.col(value_col) * 1000).cast("long")).alias("y"),
        nf.alias("nf"),
    )
    w = Window.partitionBy("k")
    xy = base.select(
        "k",
        F.floor((F.col("ts_s") - F.min("ts_s").over(w)) / 3600)
        .cast("long")
        .alias("x"),
        "y",
        "nf",
    )
    x_d = F.col("x").cast("decimal(19,0)")
    y_d = F.col("y").cast("decimal(19,0)")
    m = xy.groupBy("k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x_d).alias("sx"),
        F.sum(y_d).alias("sy"),
        F.sum(x_d * y_d).alias("sxy"),
        F.sum(x_d * x_d).alias("sxx"),
        F.sum(y_d * y_d).alias("syy"),
        F.max("nf").alias("nf"),
    )
    n_d = F.col("n").cast("decimal(19,0)")
    # cross-products exact in decimal; ONE value-determined cast to
    # double per scalar feeds the same int/int double division the
    # oracle's BIGINT (int128-summed) arithmetic produces
    num = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n_d * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n_d * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    icpt = (
        F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    ).cast("double")
    from ..qcommon import round6x

    poison = F.col("nf")
    return m.select(
        F.col("k").alias(key_col),
        F.col("n").alias("n_events"),
        F.when(poison, F.lit(float("nan")))
        .when(denx != 0, round6x(num / denx))
        .alias("slope_milli_per_hr"),
        F.when(poison, F.lit(float("nan")))
        .when(denx != 0, round6x(icpt / denx))
        .alias("intercept_milli"),
        F.when(poison, F.lit(float("nan")))
        .when(
            (denx != 0) & (deny != 0), round6x((num / denx) * (num / deny))
        )
        .alias("r2"),
    )


def robust_scale(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorize + min-max scale using EXACT order statistics
    — the feature-normalization pass a training pipeline runs per
    source/type, made engine-replayable by avoiding interpolation
    entirely: the p-th percentile is the value at 1-based sorted rank
    ceil(p·n/100) (percentile_disc semantics), an integer row
    selection, so both engines pick the SAME element; the only float
    math is the final (v-lo)/(hi-lo) ratio of two selected values,
    floored to ppm.

    Values are clamped to [p_lo, p_hi] (winsorized) before scaling, so
    scaled_ppm ∈ [0, 1e6]; degenerate groups (p_hi == p_lo) yield null.

    One window + one aggregate + one join, all keyed by the group — a
    single hash exchange lineage. The window sort is per-group; skewed
    groups sort within one task (the exact-order-statistic cost; the
    approx path for scale is approx_stats' KLL-style guarantee).

    NULL values (r13 NaN-mirror axis finding): excluded from the rank
    frame — SQL percentile convention, and the policy the rest of the
    exact-rank family (percentile_by_counts, mad) already applies.
    Ranking NULLs would also be ENGINE-DEPENDENT (Spark windows order
    NULL first, DuckDB last — a silent bound shift). NULL-value rows
    still pass through the output with their key's bounds and a NULL
    scaled_ppm; an all-NULL key has no bounds row and drops (both
    engines, both forms).
    """
    from ..qcommon import reuse

    w = Window.partitionBy("k").orderBy("v", "id")
    # reuse() on the NARROW PROJECTION, not the rank output (r13
    # self-review): since the null-exclusion split, the ranked frame
    # feeds only pcts — but `base` itself fans out to the rank path
    # AND the join-back, and with pcts on the broadcast side there is
    # no exchange for ReuseExchange to dedupe, so an unpinned base
    # scans the source twice. Pinning base keeps one scan; the rank
    # pass still runs once for its one consumer.
    base = reuse(
        events.select(
            F.col(key_col).alias("k"),
            F.col(value_col).alias("v"),
            F.col(id_col).alias("id"),
        )
    )
    ranked = (
        base.filter(F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("k")))
    )
    k_lo = F.expr(f"(n * {lo_pct} + 99) DIV 100")
    k_hi = F.expr(f"(n * {hi_pct} + 99) DIV 100")
    pcts = (
        ranked.groupBy("k")
        .agg(
            F.min(F.when(F.col("rn") == k_lo, F.col("v"))).alias("p_lo"),
            F.min(F.when(F.col("rn") == k_hi, F.col("v"))).alias("p_hi"),
        )
    )
    joined = base.join(pcts, "k")
    wv = F.least(F.greatest(F.col("v"), F.col("p_lo")), F.col("p_hi"))
    # the v-not-null conjunct is load-bearing (r13): greatest/least
    # IGNORE nulls in both engines, so a NULL value would otherwise
    # clamp to p_lo and silently score 0 ppm — NULL in, NULL out.
    # The NaN conjuncts (r13 NaN-mirror axis): NaN ranks LAST in both
    # engines, so a heavy-NaN key can legitimately select a NaN bound,
    # and NaN arithmetic reaching floor() casts to a silent 0 in Spark
    # (vs a loud error in DuckDB) — non-finite in, NULL ppm out
    finite = ~_qnonfinite_flag(F.col("v")) & ~_qnonfinite_flag(F.col("p_lo")) & ~_qnonfinite_flag(F.col("p_hi"))
    scaled = F.when(
        F.col("v").isNotNull() & finite & (F.col("p_hi") > F.col("p_lo")),
        F.floor(
            F.lit(1000000) * (wv - F.col("p_lo"))
            / (F.col("p_hi") - F.col("p_lo"))
        ).cast("long"),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.col("k").alias(key_col),
        F.col("v").alias(value_col),
        F.col("p_lo"),
        F.col("p_hi"),
        scaled.alias("scaled_ppm"),
    )


def robust_scale_by_counts(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    lo_pct: int = 5,
    hi_pct: int = 95,
    broadcast_bounds: bool = True,
) -> DataFrame:
    """Skew-immune twin of :func:`robust_scale` (round-11 straggler
    audit, executed r12): the winsorize bounds come from
    :func:`percentile_disc_by_counts` — O(distinct values) per-key
    window work — instead of a full per-key row sort, and the fact
    side is never window-partitioned at all: the only row-level pass
    is the map-only scaling join against the key-domain-sized bounds
    frame.

    Bit-identical to the window form (test-pinned): percentile_disc
    selects the VALUE at rank ceil(p·n/100) and id tie-breaks never
    change the value at a rank, so p_lo/p_hi match element-for-element;
    the scaling arithmetic is shared.

    ``broadcast_bounds`` follows zscore_outlier_stats' size law: the
    bounds frame is key-domain-sized — broadcast for an enumerated key,
    pass False for a high-cardinality key so the join shuffles instead.

    NULL values (r13 NaN-mirror axis finding): excluded from the
    bounds histogram, mirroring the window face and the family
    convention (percentile_by_counts/mad already filter) — window NULL
    ordering is engine-dependent (Spark first, DuckDB last), so
    counting NULLs in ranks silently shifted the bounds by the null
    count. NULL-value rows still flow through the scaling join with a
    NULL scaled_ppm.
    """
    pcts = percentile_disc_by_counts(
        events.filter(F.col(value_col).isNotNull()).select(
            F.col(key_col).alias("k"), F.col(value_col).alias("v")
        ),
        "k",
        "v",
        [lo_pct, hi_pct],
    ).select(
        "k", F.col("d_0").alias("p_lo"), F.col("d_1").alias("p_hi")
    )
    bounds = F.broadcast(pcts) if broadcast_bounds else pcts
    base = events.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("k"),
        F.col(value_col).alias("v"),
    )
    # deliberately NULL-UNSAFE, unlike the rest of the by-counts family
    # (r12 self-review): robust_scale's OWN join-back (and its oracle's
    # USING (k)) drops NULL-key rows, so the twin must replay that to
    # stay bit-identical to the parity face — the one by-counts form
    # whose face contains a join rather than pure window/groupBy
    joined = base.join(bounds, "k")
    wv = F.least(F.greatest(F.col("v"), F.col("p_lo")), F.col("p_hi"))
    # NULL in, NULL out; non-finite in, NULL ppm out (r13): see
    # robust_scale — greatest/least ignore nulls in both engines (a
    # NULL value would clamp to p_lo and silently score 0 ppm), and
    # NaN arithmetic reaching floor() casts to a silent 0 in Spark
    finite = ~_qnonfinite_flag(F.col("v")) & ~_qnonfinite_flag(F.col("p_lo")) & ~_qnonfinite_flag(F.col("p_hi"))
    scaled = F.when(
        F.col("v").isNotNull() & finite & (F.col("p_hi") > F.col("p_lo")),
        F.floor(
            F.lit(1000000) * (wv - F.col("p_lo"))
            / (F.col("p_hi") - F.col("p_lo"))
        ).cast("long"),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.col("k").alias(key_col),
        F.col("v").alias(value_col),
        F.col("p_lo"),
        F.col("p_hi"),
        scaled.alias("scaled_ppm"),
    )


def trimmed_mean(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    trim_pct: int = 10,
) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest ``trim_pct``
    percent of rows by value (exact rank cut, ties broken by id — the
    same percentile_disc discipline robust_scale uses), then average
    the middle with DECIMAL accumulation so the mean is order-free.

    The robust location estimate to pair with mad_outliers' robust
    spread: one window + one aggregate on the group key.

    NULL values (r13 NaN-mirror axis finding): excluded before
    ranking — n counts non-null values only — per the SQL percentile
    convention and the exact-rank family policy; ranking NULLs is
    engine-dependent (Spark windows order NULL first, DuckDB last)
    and let them eat the bottom trim allowance.
    """
    w = Window.partitionBy("k").orderBy("v", "id")
    base = events.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        F.col(value_col).alias("v"),
        F.col(id_col).alias("id"),
    ).withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("k"))
    )
    k_lo = F.expr(f"(n * {trim_pct}) DIV 100")  # drop ranks <= k_lo
    k_hi = F.expr(f"n - (n * {trim_pct}) DIV 100")  # drop ranks > k_hi
    kept = base.filter((F.col("rn") > k_lo) & (F.col("rn") <= k_hi))
    from ..qcommon import round6x

    # NaN-poisoning (r13 NaN-mirror axis): NaN ranks LAST in both
    # engines, so a NaN can legitimately survive the top cut when the
    # NaN share exceeds trim_pct — it must then poison the mean like
    # the native float avg would (the decimal cast silently drops it)
    return kept.groupBy("k").agg(
        F.first("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_kept"),
        F.min("v").alias("min_kept"),
        F.max("v").alias("max_kept"),
        F.when(F.max(_qnonfinite_flag(F.col("v"))), F.lit(float("nan")))
        .otherwise(
            round6x(
                F.sum(F.col("v").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            )
        )
        .alias("trimmed_mean"),
    ).withColumnRenamed("k", key_col)


def percentile_disc_by_counts(
    events: DataFrame,
    key_col: str,
    value_col: str,
    pcts: list[int],
) -> DataFrame:
    """percentile_disc order statistics per key from a value-count
    histogram (pre-staged r12; the stats engine for
    :func:`robust_scale`'s winsorize bounds): the p-th percentile is
    the VALUE at 1-based sorted rank ceil(p·n/100) — id tie-breaks
    affect which ROW sits at a rank, never the value there, so the
    covering distinct value of the cumulative histogram is exact.
    Same bounded-domain contract and O(distinct values) window work as
    :func:`percentile_by_counts`.

    Output: (key_col, d_<idx>… in ``pcts`` order, n).
    """
    j = _cum_value_counts(
        events.select(F.col(key_col).alias("k"), F.col(value_col).alias("v"))
    )
    aggs = [F.max("n").alias("n")]
    for idx, p in enumerate(pcts):
        pos = F.expr(f"(n * {int(p)} + 99) DIV 100")
        covers = (F.col("cum") - F.col("c") < pos) & (pos <= F.col("cum"))
        aggs.append(F.max(F.when(covers, F.col("v"))).alias(f"d_{idx}"))
    return (
        j.groupBy("k")
        .agg(*aggs)
        .select(
            F.col("k").alias(key_col),
            *[F.col(f"d_{i}") for i in range(len(pcts))],
            F.col("n"),
        )
    )


def trimmed_mean_by_counts(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    trim_pct: int = 10,
) -> DataFrame:
    """Skew-immune twin of :func:`trimmed_mean` (pre-staged r12): the
    same exact rank cut computed from a value-count histogram.

    The window form's id tie-break only decides WHICH duplicate rows
    drop at the trim boundary — tied rows have equal values, so the
    kept VALUE MULTISET is id-independent and a histogram replays it
    exactly: a distinct value covering sorted positions
    (cum−c, cum] keeps ``min(cum, k_hi) − max(cum−c, k_lo)`` copies
    (clamped at 0). Decimal accumulation of count·value keeps the mean
    order-free and bit-identical to the row form (exact rational both
    ways, one value-determined cast to double). Same bounded-domain
    contract and O(distinct values) per-key window work as
    :func:`percentile_by_counts`. NULL values excluded before the
    histogram (r13 NaN-mirror axis finding — the family convention;
    see :func:`trimmed_mean`).
    """
    from ..qcommon import round6x

    j = _cum_value_counts(
        events.filter(F.col(value_col).isNotNull()).select(
            F.col(key_col).alias("k"), F.col(value_col).alias("v")
        )
    )
    k_lo = F.expr(f"(n * {trim_pct}) DIV 100")
    k_hi = F.expr(f"n - (n * {trim_pct}) DIV 100")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cum"), k_hi) - F.greatest(F.col("cum") - F.col("c"), k_lo),
    )
    per_val = j.select(
        "k",
        "n",
        "v",
        kept.alias("kc"),
    ).filter(F.col("kc") > 0)
    return (
        per_val.groupBy("k")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum("kc").cast("long").alias("n_kept"),
            F.min("v").alias("min_kept"),
            F.max("v").alias("max_kept"),
            # NaN-poisoning parity with the window form (r13)
            F.when(F.max(_qnonfinite_flag(F.col("v"))), F.lit(float("nan")))
            .otherwise(
                round6x(
                    F.sum(
                        F.col("kc") * F.col("v").cast("decimal(18,6)")
                    ).cast("double")
                    / F.sum("kc")
                )
            )
            .alias("trimmed_mean"),
        )
        .withColumnRenamed("k", key_col)
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated by any other
    row — maximizing both x and y, where B dominates A iff B.x >= A.x,
    B.y >= A.y and B is strictly better on at least one axis.

    The sort-filter formulation: collapse to the per-distinct-x max y
    (domination within an x group), run one x-DESC window for the max y
    among STRICTLY larger x (the distinct-x frame makes "strictly
    larger" a ROWS frame, immune to arbitrary float gaps), then keep
    rows whose y tops their own x group and strictly beats that running
    max — instead of the naive quadratic self-join.

    Ties: equal (x, y) rows dominate each other only under 'strictly
    better somewhere', so ALL of an equal-point group survive together.

    100 TB: the x-distinct frame is domain-sized; its global window is
    the same single-sort trade equidepth_histogram documents. The
    data-sized work is one groupBy(x) and one join back on x.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    gx = base.groupBy("x").agg(F.max("y").alias("gy"))
    w = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    gx2 = gx.withColumn("my", F.max("gy").over(w))
    return (
        base.join(gx2, "x")
        .filter(
            (F.col("y") == F.col("gy"))
            & (F.col("my").isNull() | (F.col("y") > F.col("my")))
        )
        .select("id", "x", "y")
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    lookback_s: int = 604800,
) -> DataFrame:
    """Last-touch conversion attribution: each conversion event credits
    the key's most recent PRIOR touch event (strictly earlier in the
    (ts, id) total order) if it falls within ``lookback_s`` seconds,
    else the 'none' channel — the marketing-analytics face of the
    funnel/transition family.

    Mechanics: one carry-forward window per key — last(non-null) over
    ROWS UNBOUNDED PRECEDING..1 PRECEDING of (touch ts, touch type)
    nulled on non-touch rows. Both carried columns null on exactly the
    same rows, so they always come from the same touch event — the
    trick that avoids a struct-typed window (engines disagree on struct
    window support, not on aligned scalars). One hash exchange on the
    key; output is conversion-rows-sized before the channel rollup.
    """
    # epoch_s, not unix_timestamp (r13 ts-domain axis): floor-exact
    # seconds; the old floor() wrapped an ALREADY-truncated long
    ts_s = _qepoch_s(F.col(ts_col))
    e = events.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id"),
        F.col(type_col).alias("etype"),
        ts_s.alias("ts_s"),
    )
    is_touch = F.col("etype").isin(touch_types)
    w = (
        Window.partitionBy("k")
        .orderBy("ts_s", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = e.select(
        "k",
        "id",
        "etype",
        "ts_s",
        F.last(F.when(is_touch, F.col("ts_s")), ignorenulls=True)
        .over(w)
        .alias("lt_ts"),
        F.last(F.when(is_touch, F.col("etype")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
    )
    conv = carried.filter(F.col("etype") == conversion_type)
    attributed = F.when(
        F.col("lt_ts").isNotNull()
        & (F.col("ts_s") - F.col("lt_ts") <= lookback_s),
        F.col("lt_type"),
    ).otherwise(F.lit("none"))
    return (
        conv.select(
            "k",
            attributed.alias("channel"),
            F.when(
                attributed != "none", F.col("ts_s") - F.col("lt_ts")
            ).alias("delay_s"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.count_distinct("k").cast("long").alias("n_users"),
            F.coalesce(F.sum("delay_s"), F.lit(0))
            .cast("long")
            .alias("sum_delay_s"),
            F.expr("coalesce(sum(delay_s), 0) DIV count(*)")
            .cast("long")
            .alias("avg_delay_s_floor"),
        )
    )
