"""Deduplication operators (SURVEY.md §2.6 W1/W2; north-star exact dedup).

Four flavors, all single-shuffle (hash exchange on the dedup key):

- ``dedup_keep_any``    — W2: dropDuplicates(subset) — keep an arbitrary row
  per key (reference: pipeline/clean_historical.py:48).
- ``dedup_keep_first``  — keep the first row per key in a deterministic
  (tiebreak, row) order, as a map-side-combined ``min_by`` aggregate over
  any column type. The package's one keep-one dedup: ``incremental_upsert``
  and ``foreach_batch_merge`` both call it.
- ``dedup_row_number``  — W1: row_number() over (partition by key order by
  tiebreak) + rn=1 (reference: dbt_files/models/core/stg_earthquake.sql:25-29,44),
  kept as the reference form ``dedup_keep_first`` is tested against.
- ``exact_dedup``       — whole-row (or hash-of-content) dedup for the
  training-data pipeline: group by content hash, keep min(id).

Scale: all four are groupBy/Window over the key — partial aggregation
map-side where possible, AQE handles skewed keys. No driver-side state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..qcommon import reuse


def dedup_keep_any(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """W2 — keep-any keyed dedup; Spark plans it as a HashAggregate(first)."""
    return df.dropDuplicates(list(keys))


def dedup_row_number(
    df: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[str] | None = None,
) -> DataFrame:
    """W1 — row_number dedup. ``tiebreak=None`` reproduces the reference's
    order-by-partition-key (arbitrary survivor); pass explicit tiebreak
    columns for a deterministic survivor.
    """
    order = [F.col(c) for c in (tiebreak if tiebreak else keys)]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


def _orderable(dt) -> bool:
    """True iff Spark can ORDER BY a column of this type (r17, ADVICE
    r16): MapType is non-orderable at any nesting depth (Catalyst's
    TypeUtils rejects it inside arrays/structs too), as is VariantType.
    Everything else — atomics, binary, arrays, structs — sorts.
    """
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Keep one row per key: the row with the smallest
    ``(tiebreak…, row)`` tuple, as ``min_by(struct(all columns),
    struct(*tiebreak, *row))`` — the package's one keep-one dedup.

    Why an aggregate, not :func:`dedup_row_number`'s window (round-11
    window-skew audit): a per-key window serializes each key into ONE
    task and is opaque to AQE — and dedup keys are exactly where
    duplicate mass piles up at web scale (10^9 byte-identical copies of
    one hot page = one straggler task sorting 10^9 rows). The aggregate
    partial-aggregates map-side, so the hot key reduces to one row per
    map task before the shuffle — measured −45% on a 90%-one-key frame
    at local[32], and the gap is unbounded in the skew. Trade: the
    window form supports rank>1 consumers (top-k); this form only keeps
    rank 1.

    The whole row follows the tiebreak in the ordering struct (ascending,
    nulls first), so the survivor is deterministic even under tiebreak
    ties. With a TOTAL tiebreak order the output is row-for-row
    identical to ``dedup_row_number(df, keys, tiebreak)`` (test-pinned);
    with a non-total one the window breaks ties by partition order, this
    form by the remaining columns.

    Any column type rides along. Non-orderable columns (a map or a
    variant at any depth) enter the ordering struct as ``to_json`` —
    deterministic for a given value's binary layout; every other column
    keeps its native order (2.0 < 10.0, not the string order).
    """
    # backtick-quoted references and getField, never a bare dotted
    # string: a column literally named "user.id" must round-trip (the
    # window twin never re-parses payload names, so this form must not
    # either; both F.col and df[...] dot-parse unquoted names)
    def _c(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    row = [
        _c(f.name) if _orderable(f.dataType) else F.to_json(_c(f.name))
        for f in df.schema.fields
    ]
    out = df.groupBy(*[_c(k) for k in keys]).agg(
        F.min_by(
            F.struct(*[_c(c) for c in df.columns]),
            F.struct(*[_c(c) for c in tiebreak], *row),
        ).alias("__w")
    )
    return out.select(*[F.col("__w").getField(c).alias(c) for c in df.columns])


def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Exact content dedup: one surviving id per distinct content.

    Hash-groupBy on the content columns keeping ``min(id_col)`` — a single
    shuffle on (typically) a 128-bit content hash; at 100 TB this is the
    cheapest possible exact dedup (map-side partial min, then final).
    Returns (content hash, surviving id, duplicate count).
    """
    fingerprint = F.md5(F.concat_ws("", *[F.col(c).cast("string") for c in content_cols]))
    return (
        df.select(fingerprint.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count("*").alias("dup_count"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list — the fuzzy-dedup
    endgame: near-dup PAIRS (MinHash-LSH / SimHash / embedding buckets)
    become duplicate GROUPS, from which one canonical document per group
    survives.

    Min-label propagation with path halving: every vertex starts labeled
    with its own id; each round takes the min of its label and its
    neighbors' labels (one equi-join + one groupBy-min — the standard
    distributed shape; GraphX/GraphFrames run the same plan), then
    pointer-jumps (label := label's label), which halves remaining label
    paths so convergence is ~log2(diameter) rounds instead of diameter.
    Labels only ever decrease, so the convergence check is a filter on
    the final frame of the round, not a compare join.

    Round-17 optimization (guide §1.2/§2.4 — fewer sequential actions,
    fewer exchanges; output bit-identical, proven by the unchanged
    recursive-CTE oracle):
    - the FIRST propagation step is fused into label init
      (``comp = least(a, min(b))`` straight off the symmetric edge
      groupBy) — one full join+aggregate round disappears;
    - each remaining round materializes ONE frame (step + path-halving
      composed in a single subtree) instead of two, and the convergence
      count rides that same materialized frame: 2 sequential actions
      per round become 1 action + 1 cheap checkpoint-scan count. The
      halving self-join reads the stepped subtree twice inside one job
      — both references are joins of already-checkpointed inputs, so
      the duplicated work is two cheap hash joins, not a recomputed
      lineage (the pre-r17 shape paid a full extra materialization
      barrier per round instead).

    (A pre-partition-by-``b`` of the symmetric edge checkpoint was
    measured and rejected: localCheckpoint in Spark 4.1 reports
    UnknownPartitioning — the probe in the r17 notes — so the extra
    exchange bought nothing.)

    Exit condition: labels decrease monotonically and
    ``halved <= stepped <= old`` pointwise, so "no row with
    halved < old" implies the step alone was also a no-op — and a
    step-stable labeling is constant per component at the component's
    min id (equality propagates across every edge), i.e. exactly the
    state the pre-r17 shape exited with. In persist mode the logical
    tower grows by one cached layer per round — bounded, since path
    halving converges in ~log2(diameter) rounds.

    Output: (doc_id, component_id = min id in component, is_canonical) —
    fully deterministic, so it carries an exact recursive-CTE oracle.
    """
    # pin the edge list BEFORE symmetrizing: union references the
    # subtree twice, and Catalyst re-evaluates it (an LSH pair-generation
    # input would run twice); the reuse() pin makes the second reference
    # a cheap re-scan
    base = reuse(
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
    )
    sym = reuse(
        base.union(base.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    # init == the first propagation round: comp[v] = min(v, min nbr(v))
    # (labels start as own ids, so round 1's join degenerates to this
    # groupBy — same output, one less join+checkpoint+count cycle)
    labels = reuse(
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.least(F.col("a"), F.min("b")).alias("comp"))
        .select("id", "comp")
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy(F.col("a").alias("id2"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr_min, labels["id"] == F.col("id2"), "left")
            .select(
                "id",
                F.col("comp").alias("comp_old"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # path halving composed into the same materialization: comp :=
        # comp's comp. stepped is referenced twice inside one job — both
        # sides are joins over the checkpointed labels/sym, no lineage
        # re-runs — and ONE reuse() pin publishes the round's result.
        lookup = stepped.select(
            F.col("id").alias("jid"), F.col("comp").alias("jcomp")
        )
        halved = reuse(
            stepped.join(lookup, stepped["comp"] == F.col("jid"), "left")
            .select(
                "id",
                "comp_old",
                F.coalesce(F.col("jcomp"), F.col("comp")).alias("comp"),
            )
        )
        changed = halved.filter(F.col("comp") < F.col("comp_old")).count()
        labels = halved.select("id", "comp")
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("id") == F.col("comp")).cast("int").alias("is_canonical"),
    )
