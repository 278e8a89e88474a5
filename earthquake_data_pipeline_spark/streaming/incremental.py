"""Structured Streaming faces of the incremental routines (SURVEY.md §2.9).

The reference's incremental story is batch-shaped (dbt high-water mark +
BigQuery MERGE); these are the streaming equivalents, sharing the batch
operators via foreachBatch:

- ``streaming_dedup``       — I1's keyed dedup as a stateful streaming
  dedup: watermark bounds the late-data horizon EXPLICITLY (the batch
  `>`-max filter drops late rows silently; the watermark makes the bound a
  declared contract, SURVEY §2.9 I1 caveat).
- ``foreach_batch_merge``   — I3's replay-safe MERGE: every micro-batch is
  anti-joined against the sink before append, so checkpoint replays insert
  zero duplicate keys (exactly-once-ish on top of at-least-once delivery).
- ``windowed_event_counts`` — I2's tumbling-window aggregation with
  watermarked append output. (Calendar months are not fixed durations, so
  monthly rollups stay batch-side as date_trunc('month') group-bys; the
  streaming window here is the fixed-duration analog.)

Scale: streaming dedup state is partitioned by key across executors and
pruned by the watermark — state size is O(keys within the lateness bound),
not O(history). foreachBatch merge reads only the sink's key columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.dedup import dedup_keep_first
from ..operators.merge import anti_join_merge


def audit_checkpoint_inputs(checkpoint_path: str) -> int:
    """Restart guard (r16, caught by tools/file_source_chaos_check.py):
    refuse to resume a file-source stream whose PENDING micro-batches
    pin input files that no longer exist.

    Why: Spark's restarted file source re-plans every batch after the
    last commit from the file list pinned in ``sources/<i>/<batch>``,
    and a pinned file missing at that point drops out at PLANNING time
    — ``spark.sql.files.ignoreMissingFiles=false`` protects only
    task-time disappearance — so the re-planned batch SILENTLY serves
    short (measured: a deleted pending file cost exactly its 585 rows
    with a clean exit). Only batches AFTER the last commit are checked:
    committed batches are never re-read (their effect lives in
    sink+state), so normal input retention — deleting files long since
    processed — stays legal.

    Call before ``.start()`` when resuming from an existing checkpoint;
    :func:`foreach_batch_merge` calls it automatically at writer
    construction. Local/NFS paths are auditable directly; object-store
    URIs are reported as unauditable=skipped rather than guessed at.
    Returns the number of pending-pinned files audited; raises
    FileNotFoundError naming every vanished file.
    """
    import json
    import os
    from urllib.parse import unquote, urlparse

    def _ids(d: str) -> set[int]:
        try:
            return {int(f) for f in os.listdir(d) if f.isdigit()}
        except FileNotFoundError:
            return set()

    sources = os.path.join(checkpoint_path, "sources")
    if not os.path.isdir(sources):
        return 0  # fresh checkpoint: nothing pinned yet
    committed = _ids(os.path.join(checkpoint_path, "commits"))
    last_commit = max(committed) if committed else -1
    audited, missing = 0, []
    for src in sorted(os.listdir(sources)):
        src_dir = os.path.join(sources, src)
        if not os.path.isdir(src_dir):
            continue
        for fname in sorted(os.listdir(src_dir)):
            batch = fname.split(".")[0]
            if not batch.isdigit():
                continue
            is_compact = fname.endswith(".compact")
            if not is_compact and int(batch) <= last_commit:
                continue  # committed batch: never re-read
            with open(os.path.join(src_dir, fname)) as fh:
                for ln in fh:
                    ln = ln.strip()
                    if not ln.startswith("{"):
                        continue  # "v1" header
                    entry = json.loads(ln)
                    if entry.get("batchId", int(batch)) <= last_commit:
                        continue
                    p = entry.get("path")
                    if not p:
                        # not a file-source entry (no path key) — never
                        # count it audited or report '' vanished (r17,
                        # ADVICE r16)
                        continue
                    parsed = urlparse(p)
                    if parsed.scheme not in ("", "file"):
                        continue  # object store: not auditable locally
                    if parsed.scheme == "file" and parsed.netloc:
                        # file://host/path names a REMOTE host — auditing
                        # the local path would silently check the wrong
                        # file; unauditable, like an object store (r17)
                        continue
                    local = unquote(parsed.path) if parsed.scheme else p
                    audited += 1
                    if not os.path.exists(local):
                        missing.append(local)
    if missing:
        raise FileNotFoundError(
            f"checkpoint {checkpoint_path} pins {len(missing)} input "
            f"file(s) for PENDING (uncommitted) micro-batches that no "
            f"longer exist — a restart would re-plan those batches and "
            f"silently serve short (planning-time listing skips missing "
            f"files; ignoreMissingFiles guards task time only): "
            f"{missing[:5]}"
        )
    return audited


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    lateness: str = "1 hour",
) -> DataFrame:
    """Stateful keyed dedup with an explicit late-data bound.

    Rows later than ``lateness`` behind the max observed event time are
    dropped (watermark) — the declared version of the reference's silent
    high-water-mark drop. The dedup key includes the event-time column so
    state for expired windows is reclaimed.
    """
    cols = list(keys) + ([ts_col] if ts_col not in keys else [])
    return stream.withWatermark(ts_col, lateness).dropDuplicates(cols)


def streaming_dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    lateness: str = "1 hour",
) -> DataFrame:
    """Keyed streaming dedup on the BUSINESS KEY ALONE — the face
    :func:`streaming_dedup` cannot provide (r12).

    streaming_dedup appends the event-time column to the dedup key so
    classic dropDuplicates state can ever be reclaimed — but that means
    a RE-DELIVERY with a different timestamp (the at-least-once
    transport's normal failure: same event_id, seconds-later retry
    stamp) passes straight through. ``dropDuplicatesWithinWatermark``
    (Spark 3.5+) dedups on the key alone and still bounds state: a
    key's entry is dropped once the watermark passes its FIRST-SEEN
    event time + lateness, so duplicates arriving within the lateness
    window are suppressed whatever their timestamp, and state is
    O(keys seen within the window), not O(all keys ever).

    Contract: duplicates separated by MORE than the lateness window can
    re-emit (their state was reclaimed) — the same declared-lateness
    trade every watermark face in this module makes; pair with the
    foreach_batch_merge anti-join when the sink must be exact forever.
    """
    return stream.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(
        list(keys)
    )


def foreach_batch_merge(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint_path: str,
) -> DataStreamWriter:
    """Replay-safe append: anti-join each micro-batch against the target
    before writing (R4/S13 per batch). Returns the un-started writer —
    caller does .start()/.trigger() as needed.

    The batch is also deduplicated on ``keys`` WITHIN itself before the
    anti-join (r15, caught by tools/stream_chaos_check.py): an
    at-least-once transport can deliver an original and its re-delivery
    in the SAME micro-batch — observed concretely when a SIGKILL
    interrupted the offsets-log write for batch N and the restarted
    query re-planned N to span two input files, one of which re-carried
    the other's tail rows. The anti-join only guards batch-vs-target,
    so both copies inserted.

    The in-batch pick is DETERMINISTIC (r16, ADVICE r15): when
    duplicate keys carry DIVERGENT payloads (the transport's normal
    retry shape — same event, seconds-later retry timestamp), the row
    with the SMALLEST payload tuple in column order survives
    (``dedup_keep_first(batch, keys)``: ascending, nulls first). A
    keep-any dropDuplicates would let the surviving payload vary across
    runs and partitionings, breaking the repo's bit-reproducibility
    discipline even though the keys match. Note the cross-batch
    contract is unchanged and REMAINS arrival-order (first batch to
    insert a key wins — the anti-join); determinism here is within one
    micro-batch, which is exactly the scope replay re-randomizes. Cost:
    one hash exchange on the merge keys, combined map-side; no sort.

    Non-orderable payload columns (MapType anywhere in the type tree,
    VariantType) tie-break through ``to_json`` (r17, ADVICE r16):
    deterministic for a given row's binary layout, which is exactly
    the replay-re-randomization scope this pick has to pin.
    """

    # restart guard (r16): resuming over a checkpoint whose pending
    # batches pin vanished input files would silently serve short —
    # fail at construction instead (see audit_checkpoint_inputs)
    audit_checkpoint_inputs(checkpoint_path)

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        batch = dedup_keep_first(batch, keys)
        try:
            existing = spark.read.parquet(target_path)
        except AnalysisException as e:
            # ONLY a missing target means "first batch". Any other read
            # failure (throttle, permissions, corrupt footer) must fail
            # the batch — treating it as first-batch would skip the
            # anti-join and append duplicate keys.
            if "PATH_NOT_FOUND" not in str(e) and "does not exist" not in str(e):
                raise
            existing = None
        to_insert = (
            batch if existing is None else anti_join_merge(batch, existing, keys)
        )
        to_insert.write.mode("append").parquet(target_path)

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(merge_batch)
    )


def session_window_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    lateness: str = "1 hour",
    group_cols: Sequence[str] = (),
    value_col: str | None = None,
) -> DataFrame:
    """Gap-based session windows (streaming face of the batch
    sessionization in driver_queries_ext.q_sessionization).

    ``F.session_window`` keeps per-key open-session state; a session
    closes when no event arrives within ``gap``, and the watermark both
    bounds late arrivals and lets closed sessions emit in append mode.
    State is O(open sessions), pruned by the watermark — never O(history).
    """
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("session_value"))
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), *group_cols)
        .agg(*aggs)
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *group_cols,
            "n_events",
            *(["session_value"] if value_col is not None else []),
        )
    )


def running_user_totals(
    stream: DataFrame, key_col: str = "k", value_col: str = "v"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key running
    (count, sum) emitted on every update — the arbitrary-state API for
    semantics the built-in stateful operators can't express.

    State is one (long, double) pair per key, partitioned across executors
    by the group-by hash; each micro-batch touches only the keys present
    in it (Arrow-batched, not row-at-a-time).
    """
    import pandas as pd  # local import: only the workers need it at run time
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key: tuple, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream inner join: right rows within
    [left_ts, left_ts + max_delay] of a matching key.

    Both sides carry watermarks and the join condition bounds event-time
    distance — together they let Spark evict buffered rows once no future
    match is possible, so per-side state is O(rows within
    lateness + max_delay), never O(stream history). Without the time
    bound a stream-stream join must buffer forever.
    """
    lw = left.withWatermark(left_ts, lateness).alias("l")
    rw = right.withWatermark(right_ts, lateness).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(rw, cond, "inner")


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    lateness: str = "1 hour",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling-window counts with watermarked append semantics (I2's
    fixed-duration analog)."""
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window).alias("win"), *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )
