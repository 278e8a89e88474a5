"""Incremental / merge operators (SURVEY.md §2.4 R4, §2.2 P10, §2.9 I1/I3).

The reference's incremental story is dbt's high-water-mark branch
(dbt_files/models/core/stg_earthquake.sql:9-23) plus a BigQuery MERGE
insert-if-absent (airflow/dags/earthquake_batch_pipeline.py:171-196).
Spark-first restatement:

- ``high_water_mark_filter`` — scalar-subquery predicate ts > max(existing).
- ``anti_join_merge``        — left_anti on the business key → only genuinely
  new rows survive; append them. Idempotent by construction (replaying a
  batch inserts 0 rows) — the I3 exactly-once-ish contract.
- ``incremental_upsert``     — the full I1 routine: HWM filter → keep-1
  dedup (``dedup_keep_first``, any column type) → anti-join → rows to
  append.

Scale: the anti-join shuffles both sides on the key ONLY if the existing
side is large; when `existing` is a month-partitioned table, partition
pruning on the HWM month bounds the join input to O(new data) — the design
that keeps incremental cost flat as total data grows to 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_keep_first


def high_water_mark_filter(
    new: DataFrame, existing: DataFrame, ts_col: str
) -> DataFrame:
    """P10/A7/I1 — keep only rows strictly past max(existing.ts).

    NOTE (late-data caveat, SURVEY §2.9 I1): rows with timestamps ≤ the
    high-water mark are silently dropped — faithful to the reference. The
    streaming face (streaming/incremental.py) replaces this with a watermark
    that makes the late-data bound explicit.

    The scalar max is computed as a real scalar subquery when `existing`
    is a table-backed plan; here we compute it with a 1-row agg (a cheap
    job even at scale — max is partial-aggregated map-side).
    """
    hwm = existing.agg(F.max(ts_col)).first()[0]
    if hwm is None:
        return new
    return new.filter(F.col(ts_col) > F.lit(hwm))


def anti_join_merge(
    new: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """R4/S13 — MERGE WHEN NOT MATCHED THEN INSERT, Spark-style.

    Returns the rows of ``new`` whose key is absent from ``existing``
    (caller appends them). When `existing` is big and `new` is a small
    increment, Catalyst/AQE broadcast the small side; the existing side
    only needs its KEY columns — project before joining so the scan is
    2 columns, not the full row. Duplicate keys on the existing side
    need no distinct: a left-anti join keeps the same rows either way.
    """
    return new.join(existing.select(*keys), on=list(keys), how="left_anti")


def incremental_upsert(
    new: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """I1 — the full incremental routine: HWM → dedup-within-batch → anti-join.

    Returns the rows to append. Running the same batch twice appends zero
    rows (idempotence property test in tests/test_merge.py).
    """
    batch = high_water_mark_filter(new, existing, ts_col)
    # earliest ts per key wins; (key, ts) ties fall to the rest of the
    # row, so the survivor is deterministic
    batch = dedup_keep_first(batch, keys, tiebreak=[ts_col])
    return anti_join_merge(batch, existing, keys)


def upsert_merge(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Full MERGE semantics as a batch plan: WHEN MATCHED THEN UPDATE,
    WHEN NOT MATCHED THEN INSERT, existing-only rows kept — the general
    upsert the reference's insert-if-absent MERGE (S13) specializes.

    One full-outer equi-join on the keys; non-key columns resolve
    update-wins via coalesce; an ``action`` column records what happened
    per row (the audit a warehouse MERGE reports). With a table format
    (Delta/Iceberg) this becomes MERGE INTO; the join formulation is the
    engine-only equivalent and shuffles once on the key.

    Keys must be unique on each side — SQL MERGE raises on multiple
    source matches; this join formulation would instead fan rows out.
    Deduplicate first (``dedup_keep_first``) when uniqueness is not
    guaranteed.
    """
    key_list = list(keys)
    value_cols = [c for c in existing.columns if c not in key_list]
    # presence markers, not value-column null checks: a legitimately NULL
    # value column must not make a matched row look unmatched
    ex = existing.select(
        *key_list,
        F.lit(1).alias("__ex_present"),
        *[F.col(c).alias(f"__ex_{c}") for c in value_cols],
    )
    up = updates.select(
        *key_list,
        F.lit(1).alias("__up_present"),
        *[F.col(c).alias(f"__up_{c}") for c in value_cols],
    )
    joined = ex.join(up, key_list, "full")
    matched_up = F.col("__up_present").isNotNull()
    matched_ex = F.col("__ex_present").isNotNull()
    action = (
        F.when(matched_up & matched_ex, "update")
        .when(matched_up, "insert")
        .otherwise("keep")
    )
    return joined.select(
        *key_list,
        *[
            F.when(matched_up, F.col(f"__up_{c}"))
            .otherwise(F.col(f"__ex_{c}"))
            .alias(c)
            for c in value_cols
        ],
        action.alias("action"),
    )


def incremental_agg_merge(
    state: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a new batch
    into a persisted per-key aggregate state WITHOUT recomputing history
    — the delta-refresh pattern that keeps a 100 TB rollup's nightly
    cost proportional to the increment, not the corpus.

    State schema per key: (n_rows, sum_cents, min_v, max_v) — the
    mergeable primitives (count/sum/min/max; avg derives as sum/n at
    read time; non-mergeable aggregates like exact median need their own
    sketch and are out of scope by design). Sums accumulate as integer
    cents in exact decimal(38,0), so merging is associative with NO
    float-order drift: merge(state, b1+b2) ≡ merge(merge(state, b1), b2)
    bit-for-bit — the property that makes replay/restatement safe, and
    the one the unit tests pin. decimal(38,0), not long (round-10
    overflow audit, fixed r11): 10^12 rows of ~10^6-cent values sum to
    ~10^18 — brushing int64 under the certified ANSI-off posture where
    the wrap is silent — while decimal(38,0) is exact to 10^38. A long
    sum_cents in a pre-existing state frame is accepted and promoted.

    Shape: aggregate the batch (one shuffle over batch keys only), then
    full-outer join with the state on the key and coalesce-merge — with
    a small increment AQE broadcasts it and the state side is touched
    only on matching partitions.

    Non-finite values (r13 discipline): a NaN/±Inf value silently
    cents-casts to NULL inside the decimal sum — the addend would
    VANISH from sum_cents across any number of merges. The state
    therefore carries a sticky ``nonfinite`` boolean (OR-merged, as
    associative as the sum); readers NULL-poison sum_cents when it is
    set. min_v/max_v stay native float min/max (NaN propagates to max
    identically in both engines — NaN sorts greatest; ±Inf are real
    envelope values). A pre-existing state frame WITHOUT the column is
    accepted and promoted with nonfinite=false, like the long→decimal
    sum promotion.
    """
    from ..qcommon import nonfinite_flag

    key_list = list(keys)
    agg = batch.groupBy(*key_list).agg(
        F.count("*").alias("__b_n"),
        F.sum(
            (F.col(value_col).cast("decimal(18,2)") * 100).cast("decimal(20,0)")
        ).alias("__b_sum"),
        F.min(value_col).alias("__b_min"),
        F.max(value_col).alias("__b_max"),
        F.max(nonfinite_flag(F.col(value_col))).alias("__b_nf"),
    )
    st = state.select(
        *key_list,
        F.col("n_rows").alias("__s_n"),
        F.col("sum_cents").alias("__s_sum"),
        F.col("min_v").alias("__s_min"),
        F.col("max_v").alias("__s_max"),
        (
            F.col("nonfinite")
            if "nonfinite" in state.columns
            else F.lit(False)
        ).alias("__s_nf"),
    )
    j = st.join(agg, key_list, "full")
    return j.select(
        *key_list,
        (F.coalesce("__s_n", F.lit(0)) + F.coalesce("__b_n", F.lit(0))).alias(
            "n_rows"
        ),
        (F.coalesce("__s_sum", F.lit(0)) + F.coalesce("__b_sum", F.lit(0)))
        .cast("decimal(38,0)")  # pin: stable schema across repeated merges
        .alias("sum_cents"),
        F.least(
            F.coalesce("__s_min", "__b_min"), F.coalesce("__b_min", "__s_min")
        ).alias("min_v"),
        F.greatest(
            F.coalesce("__s_max", "__b_max"), F.coalesce("__b_max", "__s_max")
        ).alias("max_v"),
        (
            F.coalesce("__s_nf", F.lit(False))
            | F.coalesce("__b_nf", F.lit(False))
        ).alias("nonfinite"),
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2: version rows instead of
    overwriting them. ``dim`` carries (keys, tracked attrs, valid_from,
    valid_to NULL-when-open, is_current); ``updates`` is one snapshot row
    per key (keys, tracked attrs, ts_col).

    Per key: a changed tracked attribute CLOSES the open row
    (valid_to = update ts, is_current = false) and INSERTS a new open
    version effective at the update ts; unchanged keys pass through;
    unseen keys insert their first version. History rows are untouched.
    NULL-safe change detection (a NULL→value transition is a change).

    Scale: two equi-joins on the key (current rows × updates; updates
    anti existing) — both shuffle-partition by the same key, and with a
    small update batch AQE broadcasts it; history rows stream through
    untouched with no join at all. This is MERGE INTO ... WHEN MATCHED
    AND <changed> in table formats; the join formulation is the
    engine-only equivalent.

    Updates must be unique per key (pre-aggregate the snapshot with
    dedup_keep_first first) — same contract as upsert_merge.
    """
    key_list, tr_list = list(keys), list(tracked)
    hist = dim.filter(~F.col(current_col))
    cur = dim.filter(F.col(current_col))
    up = updates.select(
        *key_list,
        F.lit(1).alias("__up_present"),
        F.col(ts_col).alias("__up_ts"),
        *[F.col(c).alias(f"__up_{c}") for c in tr_list],
    )
    j = cur.join(up, key_list, "left")
    changed = F.col("__up_present").isNotNull() & ~F.expr(
        " AND ".join(f"({c} <=> __up_{c})" for c in tr_list)
    )
    # open rows: closed if their tracked attrs changed, else untouched
    closed_or_kept = j.select(
        *key_list,
        *tr_list,
        F.col(from_col),
        F.when(changed, F.col("__up_ts")).otherwise(F.col(to_col)).alias(to_col),
        (~changed).alias(current_col),
    )
    # new versions for changed keys…
    new_versions = j.filter(changed).select(
        *key_list,
        *[F.col(f"__up_{c}").alias(c) for c in tr_list],
        F.col("__up_ts").alias(from_col),
        F.lit(None).cast(dim.schema[to_col].dataType).alias(to_col),
        F.lit(True).alias(current_col),
    )
    # …and first versions for keys the dimension has never seen
    first_versions = (
        anti_join_merge(updates, dim, key_list)
        .select(
            *key_list,
            *tr_list,
            F.col(ts_col).alias(from_col),
            F.lit(None).cast(dim.schema[to_col].dataType).alias(to_col),
            F.lit(True).alias(current_col),
        )
    )
    cols = [*key_list, *tr_list, from_col, to_col, current_col]
    return (
        hist.select(*cols)
        .unionByName(closed_or_kept.select(*cols))
        .unionByName(new_versions.select(*cols))
        .unionByName(first_versions.select(*cols))
    )


def snapshot_diff(
    events: DataFrame,
    t_old: str,
    t_new: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """CDC-style snapshot diff over an append-only event log: the
    latest state per key as of two cut times, classified added /
    removed / changed / unchanged. This is the audit face of the
    SCD2/upsert family (scd2_apply, upsert_merge) — "what changed
    between Monday's load and today's" without storing either
    snapshot, the question a MERGE-based warehouse (reference
    earthquake_batch_pipeline.py:171-196) answers by diffing table
    copies.

    Both snapshots come from ONE key-partitioned aggregate: latest
    state as-of T is max(CASE WHEN ts <= T THEN struct(ts, id, state))
    — struct max orders lexicographically by (ts, id), so the pick is
    total even under duplicate timestamps, and the conditional form
    computes both cuts in the same map-side-combined pass (no second
    scan, no self-join of ranked subqueries).

    100 TB: one shuffle on the key; partial aggregation reduces each
    partition to <= 2 structs per key before the exchange.
    """
    def latest_at(t: str) -> Column:
        return F.max(
            F.when(
                F.col(ts_col) <= F.lit(t).cast("timestamp"),
                F.struct(ts_col, id_col, state_col),
            )
        )

    agg = events.groupBy(key_col).agg(
        latest_at(t_old).alias("o"), latest_at(t_new).alias("n")
    )
    old_state = F.col("o")[state_col]
    new_state = F.col("n")[state_col]
    change = (
        F.when(old_state.isNull() & new_state.isNotNull(), "added")
        .when(old_state.isNotNull() & new_state.isNull(), "removed")
        .when(old_state != new_state, "changed")
        .otherwise("unchanged")
    )
    return (
        agg.filter(F.col("o").isNotNull() | F.col("n").isNotNull())
        .select(
            key_col,
            old_state.alias("old_state"),
            new_state.alias("new_state"),
            change.alias("change"),
        )
        .orderBy(key_col)
    )


def incremental_join_agg(
    base_a: DataFrame,
    delta_a: DataFrame,
    base_b: DataFrame,
    delta_b: DataFrame,
    key: str,
    agg_col: str,
) -> DataFrame:
    """Incremental maintenance of a join-aggregate view — the delta
    identity Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB applied to
    ``SELECT key, count(*), sum(agg) FROM A JOIN B USING (key)``:
    the new view equals old-view ⊎ the three delta joins, merged by
    ADDING counts/sums (the standard IVM plan for SPJA views; sums ride
    DECIMAL so merge order can't drift them).

    Why it matters at 100 TB: re-joining two petabyte tables to refresh
    a view is the cost IVM avoids — the three delta joins touch only
    delta-sized inputs on the big sides' partitioning. Here the old
    view is recomputed from base (the test fixture IS the proof: the
    incremental result must hash-equal the full recompute the oracle
    runs).
    """
    def view(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, key)
            .groupBy(key)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col(agg_col).cast("decimal(18,2)")).alias("s"),
            )
        )

    parts = [
        view(base_a, base_b),
        view(delta_a, base_b),
        view(base_a, delta_b),
        view(delta_a, delta_b),
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy(key).agg(
        F.sum("n").cast("long").alias("n_pairs"),
        F.sum("s").cast("decimal(18,2)").alias("total"),
    )


def golden_record(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Survivorship / golden-record construction (the MDM merge step):
    per key, each field independently takes its value from the LATEST
    row where that field is non-null — ties on the timestamp break by
    id, so the winner is total and engine-replayable (DuckDB arg_max
    breaks ties arbitrarily; the oracle must use the same explicit
    (ts, id) struct-max instead).

    One aggregate per key: max_by(field, struct(ts, id)) over the
    non-null rows of that field — field-level recency without N
    self-joins. Output carries per-field source timestamps so lineage
    is auditable.
    """
    aggs = []
    for c in value_cols:
        pick = F.when(
            F.col(c).isNotNull(),
            F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i")),
        )
        aggs.append(F.max_by(F.col(c), pick).alias(c))
        aggs.append(F.max(pick).getField("t").alias(f"{c}_ts"))
    aggs.append(F.count("*").cast("long").alias("n_versions"))
    return df.groupBy(key_col).agg(*aggs)
