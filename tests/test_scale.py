"""Scale primitives: salted-join equivalence under skew; bucketed tables
join without an Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from earthquake_data_pipeline_spark.operators.scale import (
    bucketed_join_ready,
    salted_join,
    write_bucketed,
)


def test_salted_join_matches_plain_join(spark):
    # skewed left: key 1 holds 90% of rows
    left = spark.createDataFrame(
        [(1, f"v{i}") for i in range(90)] + [(k, f"w{k}") for k in range(2, 12)],
        ["k", "payload"],
    )
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 12)], ["k", "attr"]
    )
    plain = {
        (r.k, r.payload, r.attr)
        for r in left.join(right, "k").collect()
    }
    salted = {
        (r.k, r.payload, r.attr)
        for r in salted_join(left, right, ["k"], salt_factor=4).collect()
    }
    assert salted == plain
    assert len(salted) == 100  # every left row matched exactly once


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], ["k", "p"])
    right = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "q"])
    rows = {
        (r.k, r.p, r.q)
        for r in salted_join(left, right, ["k"], how="left", salt_factor=3).collect()
    }
    assert rows == {(1, "a", "x"), (2, "b", "y"), (99, "c", None)}


def test_bucketed_join_has_no_exchange(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt")
    fact = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dim = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("w")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(fact, "bkt.fact_b", ["k"], num_buckets=8, sort_keys=["k"])
        write_bucketed(dim, "bkt.dim_b", ["k"], num_buckets=8, sort_keys=["k"])
        joined = bucketed_join_ready(spark, "bkt.fact_b", "bkt.dim_b", ["k"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucketing satisfies the distribution
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt.fact_b")
        spark.sql("DROP TABLE IF EXISTS bkt.dim_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_salted_join_rejects_outer_and_keyonly(spark):
    left = spark.createDataFrame([(1, "a")], ["k", "p"])
    right = spark.createDataFrame([(1, "x")], ["k", "q"])
    with pytest.raises(ValueError, match="does not support"):
        salted_join(left, right, ["k"], how="full")
    with pytest.raises(ValueError, match="salt_source"):
        salted_join(left.select("k"), right, ["k"])


def test_zorder_key_interleaves_bits(spark):
    from earthquake_data_pipeline_spark.operators.layout import zorder_key

    def ref(x, y, bits=4):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [(x, y) for x in (0, 1, 5, 10, 15) for y in (0, 3, 6, 15)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "z", zorder_key(["x", "y"], bits=4)
    )
    for r in df.collect():
        assert r["z"] == ref(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_key_rejects_overflow(spark):
    from earthquake_data_pipeline_spark.operators.layout import zorder_key

    with pytest.raises(ValueError, match="overflows"):
        zorder_key(["a", "b", "c", "d"], bits=16)


def test_zorder_layout_bounds_both_dims(spark, tmp_path):
    """The point of Z-order: after range-partitioning on the Morton key,
    EVERY interleaved dimension has bounded min-max per file — versus a
    plain sort where the secondary column spans the full domain (no
    pruning possible on it)."""
    import pyarrow.parquet as pq

    from earthquake_data_pipeline_spark.operators.layout import write_zordered

    df = spark.range(0, 20000).select(
        ((F.col("id") * 2654435761) % 4096).alias("x"),
        ((F.col("id") * 40503 + 17) % 4096).alias("y"),
    )
    zpath, spath = str(tmp_path / "zord"), str(tmp_path / "xsort")
    # 16 files → the top 4 z bits (y11,x11,y10,x10) split BOTH dims twice
    write_zordered(df, zpath, ["x", "y"], bits=12, n_files=16)
    (
        df.repartitionByRange(16, "x").sortWithinPartitions("x")
        .write.parquet(spath, mode="overwrite")
    )

    def avg_range(path, col):
        import glob
        spans = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            t = pq.read_table(f, columns=[col])[col].to_pylist()
            if t:
                spans.append(max(t) - min(t))
        return sum(spans) / len(spans)

    # x-sorted layout: x clustered, y spans ~the full 4096 domain
    assert avg_range(spath, "x") < 600
    assert avg_range(spath, "y") > 3500
    # z-ordered layout: BOTH dims bounded (sampled range boundaries can
    # straddle quadrants, so assert the decisive half-domain bound —
    # versus >3500 for the un-clustered dim above)
    assert avg_range(zpath, "x") < 2048
    assert avg_range(zpath, "y") < 2048


def test_percentile_by_counts_matches_exact_percentile(spark):
    """Round-11 straggler-audit fix (pre-staged for r12 migration): the
    value-count-histogram percentile must be BIT-identical to
    F.percentile (percentile_cont semantics) across hot-key duplicate
    mass, tiny groups, two-value groups, and integer-rank boundaries."""
    import random

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_by_counts,
    )

    random.seed(11)
    rows = []
    # hot key: 5k rows over only 7 distinct values (duplicate mass)
    rows += [("hot", float(random.choice([1, 2, 3, 5, 8, 13, 21])))
             for _ in range(5000)]
    # continuous-ish key
    rows += [("cont", round(random.uniform(0, 100), 3)) for _ in range(997)]
    # tiny and two-value edge groups
    rows += [("one", 42.0)]
    rows += [("two", 1.0), ("two", 2.0)]
    # exact integer-rank boundary: 11 rows, p=0.5 lands on a row
    rows += [("elev", float(i)) for i in range(11)]
    df = spark.createDataFrame(rows, ["k", "v"])

    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    want = {
        r["k"]: (r["pc"], r["n"])
        for r in df.groupBy("k")
        .agg(
            F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("pc"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    got = {
        r["k"]: ([r[f"p_{i}"] for i in range(len(ps))], r["n"])
        for r in percentile_by_counts(df, "k", "v", ps).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1], k
        for i, (a, b) in enumerate(zip(got[k][0], want[k][0])):
            assert a == b, (k, ps[i], a, b)  # exact bits, no tolerance


def test_percentile_moments_by_counts_matches_row_form(spark):
    """r18 fusion (percentile_stats): the moments histogram must match
    percentile_by_counts BIT-identically on percentiles (that operator
    carries the F.percentile-parity pin and the oracle's
    lo + frac·(hi−lo) interpolation — NB F.percentile itself uses the
    two-sided (1−f)·lo + f·hi form, which differs in the last ulp on
    some fracs, so it is NOT the bit-identity reference) and
    stddev_samp to 6-dp-rounding identity, across duplicate mass,
    constant-value groups (sd exactly 0), 1-row groups (sd NULL),
    all-NULL-value groups (group SURVIVES with NULL stats — the anchor
    semantics), and NULL keys."""
    import random

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_moments_by_counts,
    )

    random.seed(18)
    rows = []
    rows += [("hot", float(random.choice([1, 2, 3, 5, 8, 13, 21])))
             for _ in range(5000)]
    rows += [("cont", round(random.uniform(0, 100), 3)) for _ in range(997)]
    rows += [("const", 7.25)] * 40                      # sd must be exactly 0
    rows += [("one", 42.0)]                              # sd NULL
    rows += [("allnull", None), ("allnull", None)]       # group must survive
    rows += [("mixed", None), ("mixed", 1.0), ("mixed", 3.0)]
    rows += [(None, 5.0), (None, 9.0)]                   # NULL key survives
    df = spark.createDataFrame(rows, "k string, v double")

    ps = [0.0, 0.5, 0.9]
    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_by_counts,
    )

    pbc = {
        r["k"]: [r[f"p_{i}"] for i in range(len(ps))]
        for r in percentile_by_counts(df, "k", "v", ps).collect()
    }
    want = {
        r["k"]: (
            pbc.get(r["k"], [None] * len(ps)),  # absent = all-null group
            r["n"],
            r["sd"],
        )
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").isNotNull().cast("long")).alias("n"),
            F.stddev_samp("v").alias("sd"),
        )
        .collect()
    }
    got = {
        r["k"]: ([r[f"p_{i}"] for i in range(len(ps))], r["n"], r["sd"])
        for r in percentile_moments_by_counts(df, "k", "v", ps).collect()
    }
    assert set(got) == set(want)  # every group survives, incl. allnull/NULL
    for k in want:
        assert got[k][1] == want[k][1], k
        for i, (a, b) in enumerate(zip(got[k][0], want[k][0])):
            assert a == b, (k, ps[i], a, b)  # percentiles: exact bits
        sd_g, sd_w = got[k][2], want[k][2]
        if sd_w is None:
            assert sd_g is None, k
        else:
            assert sd_g is not None, k
            assert round(sd_g, 6) == round(sd_w, 6), (k, sd_g, sd_w)
    assert got["const"][2] == 0.0  # exactly zero, not 1e-13


def test_percentile_moments_sd_out_of_domain_is_null_in_both_ansi_modes(spark):
    """A key with any |value| >= 1e6 (or NaN) gets a NULL sd whether ANSI
    is on or off: the exact decimal sum would throw on it under ANSI and
    silently skip it without. In-domain keys and the percentiles are
    unaffected."""
    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_moments_by_counts,
    )

    rows = [("ok", 1.0), ("ok", 2.0), ("ok", 3.0),
            ("big", 1.0), ("big", 2.0e6), ("big", 3.0),
            ("nan", 1.0), ("nan", float("nan"))]
    df = spark.createDataFrame(rows, "k string, v double")
    saved = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = {
                r["k"]: (r["p_0"], r["n"], r["sd"])
                for r in percentile_moments_by_counts(df, "k", "v", [0.5])
                .collect()
            }
            assert got["ok"] == (2.0, 3, 1.0), ansi
            assert got["big"] == (3.0, 3, None), ansi
            assert got["nan"][1:] == (2, None), ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)


def test_percentile_by_counts_plan_has_no_row_level_sort_buffer(spark):
    """The point of the histogram form: the only per-key window runs
    over DISTINCT VALUES (post-aggregation), and no sort-based
    percentile aggregate appears in the plan."""
    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_by_counts,
    )

    df = spark.range(1000).selectExpr("'k' AS k", "CAST(id % 10 AS DOUBLE) AS v")
    plan = (
        percentile_by_counts(df, "k", "v", [0.5])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "percentile" not in plan.lower()
    # the count aggregate reduces BEFORE any window: partial_count on
    # the raw side proves map-side combine ahead of the shuffle
    assert "partial_count" in plan


def test_mad_stats_by_counts_matches_window_arithmetic(spark):
    """Pre-staged r12 (straggler class): the histogram MAD engine must
    reproduce mad_outliers' integer-exact 2x-scale internals — med2 =
    lower+upper middle cents, mad2 likewise over |2x - med2| — on odd,
    even, duplicate-heavy, and single-row keys."""
    import random

    from earthquake_data_pipeline_spark.operators.analytics import (
        mad_stats_by_counts,
    )

    random.seed(23)
    rows = []
    rows += [("odd", float(v)) for v in (1, 7, 3, 9, 5)]
    rows += [("even", float(v)) for v in (10, 20, 30, 40)]
    rows += [("hot", float(random.choice([2, 4, 8])))
             for _ in range(3001)]  # duplicate mass, odd n
    rows += [("one", 12.34)]
    df = spark.createDataFrame(rows, ["event_type", "value"])

    def replay(vals):
        cents = sorted(round(v * 100) for v in vals)
        n = len(cents)
        lo, hi = (n + 1) // 2 - 1, (n + 2) // 2 - 1  # 0-based middles
        med2 = cents[lo] + cents[hi]
        devs = sorted(abs(2 * c - med2) for c in cents)
        mad2 = devs[lo] + devs[hi]
        return med2, mad2, n

    by_key: dict = {}
    for k, v in rows:
        by_key.setdefault(k, []).append(v)
    want = {k: replay(vs) for k, vs in by_key.items()}
    got = {
        r["event_type"]: (r["med2"], r["mad2"], r["n"])
        for r in mad_stats_by_counts(df).collect()
    }
    assert got == want


def test_trimmed_mean_by_counts_matches_window_form(spark):
    """Pre-staged r12: the histogram trim must be row-for-row identical
    to trimmed_mean (the id tie-break only chooses WHICH duplicate
    copies drop; the kept value multiset is id-independent)."""
    import random

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.analytics import (
        trimmed_mean,
        trimmed_mean_by_counts,
    )

    random.seed(31)
    rows = []
    rows += [(i, "hot", float(random.choice([5, 5, 5, 7, 11])))
             for i in range(4001)]  # ties ACROSS the trim boundary
    rows += [(10_000 + i, "cont", round(random.uniform(0, 50), 2))
             for i in range(503)]
    rows += [(20_000, "one", 3.25)]
    # r13 NaN-mirror axis: NULL values are excluded from n and the
    # rank cut on BOTH forms (they used to eat the bottom trim
    # allowance on the Spark side only — engine-dependent NULL order)
    rows += [(21_000 + i, "cont", None) for i in range(60)]
    # NaN IS a value (ranks last in both engines); at 40% NaN it
    # survives the 10%/25% top cuts and must POISON the mean
    # identically in both forms — and max_kept must be NaN in both
    rows += [(22_000 + i, "nan", float("nan")) for i in range(4)]
    rows += [(22_100 + i, "nan", float(i)) for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    for pct in (10, 25):
        a = {
            r["event_type"]: (
                r["n"], r["n_kept"], r["min_kept"], r["max_kept"],
                r["trimmed_mean"],
            )
            for r in trimmed_mean(df, trim_pct=pct).collect()
        }
        b = {
            r["event_type"]: (
                r["n"], r["n_kept"], r["min_kept"], r["max_kept"],
                r["trimmed_mean"],
            )
            for r in trimmed_mean_by_counts(df, trim_pct=pct).collect()
        }
        def canon(d):
            # NaN != NaN: compare via repr so poisoned means align
            return {k: tuple(repr(x) for x in v) for k, v in d.items()}

        assert canon(a) == canon(b), pct
        assert a["cont"][0] == 503  # n counts non-null values only
        assert repr(a["nan"][4]) == "nan"  # kept NaN poisons the mean


def test_percentile_disc_by_counts_matches_robust_scale_bounds(spark):
    """Pre-staged r12: the disc-percentile histogram must select the
    same winsorize bounds as robust_scale's rank windows (value at
    1-based rank ceil(p*n/100) — id ties never change the value at a
    rank)."""
    import random

    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_disc_by_counts,
        robust_scale,
    )

    random.seed(41)
    rows = [(i, "hot", float(random.choice([1, 1, 2, 3, 50])))
            for i in range(2003)]
    rows += [(9_000 + i, "cont", round(random.uniform(-5, 5), 2))
             for i in range(211)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    want = {
        r["event_type"]: (r["p_lo"], r["p_hi"])
        for r in robust_scale(df, lo_pct=5, hi_pct=95)
        .select("event_type", "p_lo", "p_hi")
        .distinct()
        .collect()
    }
    got = {
        r["event_type"]: (r["d_0"], r["d_1"])
        for r in percentile_disc_by_counts(
            df, "event_type", "value", [5, 95]
        ).collect()
    }
    assert got == want


def test_mad_outliers_by_counts_matches_window_form_with_nulls(spark):
    """r12 migration pin (ADVICE r11): the histogram census must be
    bit-identical to the window form INCLUDING on nullable value
    columns — both forms now exclude NULL values before ranking."""
    import random

    from earthquake_data_pipeline_spark.operators.analytics import (
        mad_outliers,
        mad_outliers_by_counts,
    )

    random.seed(53)
    rows = []
    rows += [(i, "hot", float(random.choice([2, 4, 8, 160])))
             for i in range(2001)]
    rows += [(5_000 + i, "hot", None) for i in range(7)]  # nulls ignored
    rows += [(6_000 + i, "mix", v)
             for i, v in enumerate([None, 1.0, 2.0, None, 3.0, 100.0])]
    rows += [(7_000, "one", 5.5)]
    # r13 non-finite discipline: a NaN/±Inf value poisons every
    # rank-derived column of its key to NULL on BOTH forms (the cents
    # cast silently NULLs it, so no exact rank statement exists);
    # n_events still counts it — it is a value, not a NULL
    rows += [(8_000 + i, "poison", v)
             for i, v in enumerate([1.0, float("nan"), 2.0])]
    rows += [(9_000 + i, "inf_poison", v)
             for i, v in enumerate([3.0, float("inf"), float("-inf")])]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    cols = (
        "event_type", "n_events", "n_outliers",
        "median_cents_x2", "mad_cents_x2",
    )
    a = sorted(tuple(r[c] for c in cols)
               for r in mad_outliers(df, k_half=6).collect())
    b = sorted(tuple(r[c] for c in cols)
               for r in mad_outliers_by_counts(df, k_half=6).collect())
    assert a == b
    # NULL rows are excluded from n_events on both forms
    n = {t[0]: t[1] for t in b}
    assert n["hot"] == 2001 and n["mix"] == 4
    by_key = {t[0]: t for t in b}
    assert by_key["poison"] == ("poison", 3, None, None, None)
    assert by_key["inf_poison"] == ("inf_poison", 3, None, None, None)
    # unpoisoned keys keep exact stats beside poisoned ones
    assert by_key["one"] == ("one", 1, 0, 1100, 0)


def test_mad_stats_by_counts_nonfinite_poisons_to_null(spark):
    """r13 non-finite discipline: med2/mad2 go NULL for a key whose
    values include NaN/±Inf (n still counts them); clean keys are
    untouched."""
    from earthquake_data_pipeline_spark.operators.analytics import (
        mad_stats_by_counts,
    )

    df = spark.createDataFrame(
        [("p", 1.0), ("p", float("nan")), ("p", 3.0),
         ("c", 1.0), ("c", 3.0), ("c", 9.0)],
        "event_type string, value double",
    )
    got = {r["event_type"]: (r["med2"], r["mad2"], r["n"])
           for r in mad_stats_by_counts(df).collect()}
    assert got["p"] == (None, None, 3)
    assert got["c"] == (600, 800, 3)


def test_rfm_segments_nonfinite_purchase_poisons_segment(spark):
    """r13 non-finite discipline: a NaN purchase value ranks its user
    FIRST in the monetary ntile (native NaN sums sort greatest) and
    poisons the segment's avg_monetary to NaN; clean segments keep
    their exact cents average."""
    import math

    from earthquake_data_pipeline_spark.operators.analytics import (
        rfm_segments,
    )

    rows = []
    for u in range(10):
        # every user: one purchase of (u+1) dollars on day u
        rows.append((u, f"2024-01-{u + 1:02d} 00:00:00", "purchase",
                     float(u + 1)))
    # user 10: poisoned purchase — must land in m_tile 1 despite a
    # tiny finite partial sum
    rows.append((10, "2024-01-11 00:00:00", "purchase", 0.01))
    rows.append((10, "2024-01-11 01:00:00", "purchase", float("nan")))
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = rfm_segments(df, n_tiles=11).collect()
    seg = {(r["r_tile"], r["f_tile"], r["m_tile"]): r for r in out}
    poisoned = [r for r in out if r["avg_monetary"] != r["avg_monetary"]]
    assert len(poisoned) == 1 and poisoned[0]["m_tile"] == 1
    assert poisoned[0]["n_users"] == 1
    # the clean top-monetary user ($10) now tiles SECOND
    clean_top = [r for r in out
                 if r["m_tile"] == 2 and not math.isnan(r["avg_monetary"])]
    assert len(clean_top) == 1 and clean_top[0]["avg_monetary"] == 10.0
    assert seg  # segments exist


def test_trend_fit_nonfinite_poisons_to_nan(spark):
    """r13 non-finite discipline: a NaN/±Inf value poisons the key's
    slope/intercept/r² to NaN (floor(NaN·1000) is a silent 0 — a fake
    data point — and floor(Inf·1000) an ANSI error); n_events stays
    the real row count, clean keys are exact."""
    import math

    from earthquake_data_pipeline_spark.operators.analytics import trend_fit

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 01:00:00", float("nan")),
        (1, "2024-01-01 02:00:00", 3.0),
        (2, "2024-01-01 00:00:00", 1.0),
        (2, "2024-01-01 01:00:00", float("inf")),
        (2, "2024-01-01 02:00:00", 3.0),
        (3, "2024-01-01 00:00:00", 1.0),
        (3, "2024-01-01 01:00:00", 2.0),
        (3, "2024-01-01 02:00:00", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["user_id"]: r for r in trend_fit(df).collect()}
    for k in (1, 2):
        assert got[k]["n_events"] == 3
        assert math.isnan(got[k]["slope_milli_per_hr"])
        assert math.isnan(got[k]["intercept_milli"])
        assert math.isnan(got[k]["r2"])
    assert got[3]["slope_milli_per_hr"] == 1000.0
    assert got[3]["intercept_milli"] == 1000.0
    assert got[3]["r2"] == 1.0


def test_mad_stats_by_counts_null_values_are_excluded(spark):
    """ADVICE r11: med2/mad2/n must come from the non-null value rows
    only — a NULL value must not shift the rank arithmetic."""
    from earthquake_data_pipeline_spark.operators.analytics import (
        mad_stats_by_counts,
    )

    df = spark.createDataFrame(
        [("k", None), ("k", 1.0), ("k", None), ("k", 3.0), ("k", 9.0)],
        "event_type string, value double",
    )
    [r] = mad_stats_by_counts(df).collect()
    # values {100, 300, 900} cents: med2 = 600, devs {400, 0, 1200} ->
    # mad2 = 800, n = 3
    assert (r["med2"], r["mad2"], r["n"]) == (600, 800, 3)


def test_robust_scale_by_counts_matches_window_form(spark):
    """r12 migration pin: full-output parity with robust_scale —
    identical (p_lo, p_hi, scaled_ppm) per row, including the
    degenerate single-value group (null scaled_ppm)."""
    import random

    from earthquake_data_pipeline_spark.operators.analytics import (
        robust_scale,
        robust_scale_by_counts,
    )

    random.seed(61)
    rows = [(i, "hot", float(random.choice([1, 1, 2, 3, 50])))
            for i in range(2003)]
    rows += [(9_000 + i, "cont", round(random.uniform(-5, 5), 2))
             for i in range(211)]
    rows += [(20_000, "deg", 7.0), (20_001, "deg", 7.0)]
    # r13 NaN-mirror axis: NULL values must not shift the winsorize
    # bounds (excluded from the rank frame on both forms); the rows
    # themselves pass through with NULL scaled_ppm
    rows += [(22_000 + i, "cont", None) for i in range(40)]
    rows += [(23_000, "allnull", None)]  # bound-less key drops entirely
    # NaN IS a value and ranks LAST in both engines — at 20% NaN the
    # p95 bound itself is NaN; scaled_ppm must go NULL (never the
    # silent floor(NaN)->0), identically in both forms
    rows += [(24_000 + i, "nankey", float("nan")) for i in range(4)]
    rows += [(24_100 + i, "nankey", float(i)) for i in range(16)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    cols = ("event_id", "event_type", "value", "p_lo", "p_hi", "scaled_ppm")
    a = sorted(
        tuple(repr(r[c]) for c in cols) for r in robust_scale(df).collect()
    )
    b = sorted(tuple(repr(r[c]) for c in cols)
               for r in robust_scale_by_counts(df).collect())
    assert a == b
    out = {r["event_id"]: r for r in robust_scale_by_counts(df).collect()}
    assert out[22_000]["scaled_ppm"] is None
    assert out[22_000]["p_lo"] is not None
    assert 23_000 not in out  # all-NULL key has no bounds row
    assert repr(out[24_000]["p_hi"]) == "nan"  # NaN legitimately at p95
    assert out[24_000]["scaled_ppm"] is None  # non-finite -> NULL ppm
    assert out[24_100]["scaled_ppm"] is None  # NaN bound poisons key's ppm


def test_quality_decile_stats_by_counts_matches_ntile_form(spark):
    """r12 migration pin: the histogram bin census must replay ntile's
    standard-SQL boundaries exactly — fat-bin remainders, value ties
    SPANNING bin boundaries, strata smaller than n_bins (empty high
    bins), and a duplicate-mass stratum."""
    import random

    from earthquake_data_pipeline_spark.operators.curation import (
        quality_decile_stats,
        quality_decile_stats_by_counts,
    )

    random.seed(71)
    rows = []
    # 1007 rows over 30 distinct scores: remainders + boundary ties
    rows += [(f"a{i}", "en", random.randint(1, 30)) for i in range(1007)]
    # duplicate mass: 90% one score
    rows += [(f"b{i}", "de", 5 if i % 10 else 17) for i in range(800)]
    # tiny stratum: fewer rows than bins
    rows += [(f"c{i}", "fr", 100 + i) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_chars"])
    cols = ("lang", "bin", "n_docs", "min_score", "max_score", "total_score")
    a = sorted(tuple(r[c] for c in cols)
               for r in quality_decile_stats(df).collect())
    b = sorted(tuple(r[c] for c in cols)
               for r in quality_decile_stats_by_counts(df).collect())
    assert a == b
    assert max(t[1] for t in b if t[0] == "fr") == 4  # only 4 bins filled


def test_zscore_outlier_stats_no_lateral_alias_dependency(spark):
    """ADVICE r11: the overflow tripwire must not rely on implicit
    lateral column alias resolution — it must plan and run with the
    resolver flag off (older-Spark behavior)."""
    from earthquake_data_pipeline_spark.operators.analytics import (
        zscore_outlier_stats,
    )

    key = "spark.sql.lateralColumnAlias.enableImplicitResolution"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # n must be large enough that a lone spike can clear |z| > 2
        # (max one-point z is (n-1)/sqrt(n); n=10 allows it, n=4 not)
        df = spark.createDataFrame(
            [("k", 1.0)] * 9 + [("k", 100.0), ("j", None)],
            "event_type string, value double",
        )
        rows = {r["event_type"]: r for r in zscore_outlier_stats(df).collect()}
        assert rows["k"]["n_outliers"] == 1  # the 100.0 spike
        # all-null key: flags all skipped -> NULL census, but the
        # overflow tripwire must NOT fire (has_value gating)
        assert rows["j"]["n_outliers"] is None
    finally:
        spark.conf.set(key, prev)


def test_session_ids_presplit_matches_single_window(spark):
    """VERDICT r11 item 6: the per-(user, bucket) split-and-stitch must
    assign bit-identical session ids to the single-window reference
    form — including sessions that SPAN bucket boundaries (continuous
    activity across many buckets merges through the stitch), gaps that
    exactly straddle a boundary, ts ties resolved by the tiebreak, and
    single-event users."""
    import random
    from datetime import datetime, timedelta

    from earthquake_data_pipeline_spark.operators.analytics import (
        session_ids,
        session_ids_presplit,
    )

    random.seed(83)
    base = datetime(2024, 1, 1)
    rows, eid = [], 0
    # user 1: dense bot activity, sessions crossing many day boundaries
    t = base
    for _ in range(600):
        t += timedelta(minutes=random.choice([5, 30, 90, 2000]))
        rows.append((1, t, eid)); eid += 1
    # user 2: a session whose inactivity gap lands exactly ON a
    # bucket boundary, plus ts ties
    rows += [
        (2, datetime(2024, 1, 3, 23, 30), 100_000),
        (2, datetime(2024, 1, 4, 0, 10), 100_001),   # 40 min: same session
        (2, datetime(2024, 1, 4, 2, 0), 100_002),    # 110 min: new session
        (2, datetime(2024, 1, 4, 2, 0), 100_003),    # tie on ts
    ]
    # user 3: one event
    rows.append((3, datetime(2024, 2, 1, 12, 0), 200_000))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    for gap_h, bucket_h in [(1, 24), (1, 6), (48, 24)]:
        a = {
            (r["user_id"], r["event_id"]): r["session_id"]
            for r in session_ids(df, gap_us=gap_h * 3_600_000_000).collect()
        }
        b = {
            (r["user_id"], r["event_id"]): r["session_id"]
            for r in session_ids_presplit(
                df,
                gap_us=gap_h * 3_600_000_000,
                bucket_us=bucket_h * 3_600_000_000,
            ).collect()
        }
        assert a == b, (gap_h, bucket_h)
    # and the pre-split's row-level windows are keyed by (user, bucket):
    plan = (
        session_ids_presplit(df)._jdf.queryExecution()
        .executedPlan().toString()
    )
    import re
    assert not re.search(r"windowspecdefinition\(user_id#\d+L?,\s*ts", plan)


def test_by_counts_family_keeps_null_key_groups(spark):
    """r12 self-review finding: the histograms' groupBy keeps a NULL
    key as a group (like the window faces' partitionBy and the oracles'
    GROUP BY), but the scaffold's totals/stats/bounds joins were
    null-UNSAFE equi-joins that silently dropped the group. Every
    by-counts form must now match its window face on a nullable key."""
    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.analytics import (
        mad_outliers,
        mad_outliers_by_counts,
        percentile_by_counts,
        robust_scale,
        robust_scale_by_counts,
        trimmed_mean,
        trimmed_mean_by_counts,
    )
    from earthquake_data_pipeline_spark.operators.curation import (
        quality_decile_stats,
        quality_decile_stats_by_counts,
    )

    rows = [(i, None, float(i % 7) + 1) for i in range(40)]
    rows += [(100 + i, "k", float(i % 5) + 2) for i in range(35)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )

    # percentile: by-counts NULL-key group must match F.percentile's
    want = {
        r["event_type"]: r["p"]
        for r in df.groupBy("event_type")
        .agg(F.percentile("value", 0.5).alias("p"))
        .collect()
    }
    got = {
        r["event_type"]: r["p_0"]
        for r in percentile_by_counts(df, "event_type", "value", [0.5]).collect()
    }
    assert got == want and None in got

    # robust_scale included: BOTH its forms drop the NULL-key group at
    # the (null-unsafe) join-back — that is the pinned face/oracle
    # semantics — while the pure window/groupBy faces keep it
    for a_fn, b_fn in [
        (lambda d: mad_outliers(d), lambda d: mad_outliers_by_counts(d)),
        (lambda d: trimmed_mean(d), lambda d: trimmed_mean_by_counts(d)),
        (lambda d: robust_scale(d), lambda d: robust_scale_by_counts(d)),
    ]:
        a = sorted(
            (tuple(r[c] for c in r.asDict()) for r in a_fn(df).collect()),
            key=str,
        )
        b = sorted(
            (tuple(r[c] for c in r.asDict()) for r in b_fn(df).collect()),
            key=str,
        )
        assert a == b and len(a) > 0

    docs = spark.createDataFrame(
        [(f"d{i}", None if i < 25 else "en", 10 + i % 13) for i in range(60)],
        ["doc_id", "lang", "n_chars"],
    )
    a = sorted(
        (tuple(r[c] for c in r.asDict())
         for r in quality_decile_stats(docs).collect()),
        key=str,
    )
    b = sorted(
        (tuple(r[c] for c in r.asDict())
         for r in quality_decile_stats_by_counts(docs).collect()),
        key=str,
    )
    assert a == b and any(t[0] is None for t in b)


def test_session_ids_presplit_null_ts_and_null_user(spark):
    """r12 self-review finding: NULL-ts rows bucket to NULL and a
    null-unsafe offsets join dropped them (and NULL users) entirely;
    the reference window form keeps both in session 0."""
    from datetime import datetime

    from earthquake_data_pipeline_spark.operators.analytics import (
        session_ids,
        session_ids_presplit,
    )

    rows = [
        (1, None, 1),
        (1, datetime(2024, 1, 1, 10), 2),
        (1, datetime(2024, 1, 1, 12), 3),   # new session (2h gap)
        (None, datetime(2024, 1, 2, 9), 4),  # NULL user is a group
        (None, datetime(2024, 1, 2, 9, 30), 5),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    a = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in session_ids(df).collect()
    }
    b = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in session_ids_presplit(df).collect()
    }
    assert a == b and len(b) == 5


@pytest.mark.parametrize("payload", ["map", "variant"])
def test_incremental_upsert_accepts_map_payload(spark, payload):
    """r12 self-review finding: the dedup_keep_first migration must not
    break frames whose payload has no ordering — a map or a variant
    rides through the keep-one dedup (it orders them by to_json)."""
    from datetime import datetime

    from earthquake_data_pipeline_spark.operators.merge import (
        incremental_upsert,
    )

    def frame(rows):
        df = spark.createDataFrame(rows, "k string, ts timestamp, j string")
        props = (
            F.from_json("j", "map<string,string>")
            if payload == "map"
            else F.parse_json("j")
        )
        return df.select("k", "ts", props.alias("props"))

    new = frame(
        [
            ("a", datetime(2024, 1, 2), '{"x": "1"}'),
            ("a", datetime(2024, 1, 3), '{"x": "2"}'),
            ("b", datetime(2024, 1, 2), '{"y": "9"}'),
        ]
    )
    existing = frame([("b", datetime(2024, 1, 1), '{"y": "0"}')])
    out = incremental_upsert(new, existing, ["k"], "ts")
    rows = out.select("k", "ts", F.to_json("props").alias("p")).collect()
    # b exists -> anti-joined away; a deduped to earliest ts, payload intact
    assert [tuple(r) for r in rows] == [("a", datetime(2024, 1, 2), '{"x":"1"}')]


def test_percentile_cont_bracket_matches_exact_percentile(spark):
    """r12: the 2-pass bracket selection must be BIT-identical to
    F.percentile on continuous data — including ranks landing exactly
    on a row, duplicate values straddling the bracket edge, tiny keys,
    and accuracy coarser than the key size."""
    import random

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.analytics import (
        percentile_cont_bracket,
    )

    random.seed(97)
    rows = [("cont", random.uniform(0, 1e6)) for _ in range(20011)]
    rows += [("dup", float(random.choice([10, 10, 10, 20, 30]) * 100))
             for _ in range(5000)]
    rows += [("tiny", float(i)) for i in range(7)]
    rows += [("one", 42.5)]
    df = spark.createDataFrame(rows, ["k", "v"])
    ps = [0.0, 0.25, 0.5, 0.9, 1.0]
    want = {
        r["k"]: (r["pc"], r["n"])
        for r in df.groupBy("k")
        .agg(
            F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("pc"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    for acc in (50, 1000):
        got = {
            r["k"]: ([r[f"p_{i}"] for i in range(len(ps))], r["n"])
            for r in percentile_cont_bracket(df, "k", "v", ps, accuracy=acc)
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k][1] == want[k][1], (k, acc)
            for i, (a, b) in enumerate(zip(got[k][0], want[k][0])):
                assert a == b, (k, ps[i], acc, a, b)  # exact bits


def test_merge_intervals_presplit_matches_window_form(spark):
    """r12: the gaps-and-islands pre-split must produce bit-identical
    islands to merge_intervals — fixed durations make the cumulative-
    max boundary a session boundary, including islands that span many
    bucket boundaries and exact-touch intervals (gap == duration)."""
    import random
    from datetime import datetime, timedelta

    from earthquake_data_pipeline_spark.operators.analytics import (
        merge_intervals,
        merge_intervals_presplit,
    )

    random.seed(101)
    base = datetime(2024, 3, 1)
    rows = []
    t = base
    for _ in range(500):  # dense key: islands cross day boundaries
        t += timedelta(seconds=random.choice([60, 300, 599, 600, 601, 7200]))
        rows.append((1, t))
    rows += [(2, datetime(2024, 3, 3, 23, 55)),  # island straddles midnight
             (2, datetime(2024, 3, 4, 0, 4)),
             (2, datetime(2024, 3, 4, 2, 0))]
    rows.append((3, datetime(2024, 4, 1, 12, 0)))  # single event
    # ADVICE r12: SUB-SECOND timestamps — the window face compares
    # seconds-TRUNCATED starts (unix_timestamp), so a raw-micros gap of
    # 600.899 s truncates to exactly 600 and MERGES; a presplit that
    # sessionizes on raw unix_micros would split here. Also pin two
    # events inside the same second (truncated tie).
    rows += [(4, datetime(2024, 3, 5, 10, 0, 10, 100000)),
             (4, datetime(2024, 3, 5, 10, 0, 10, 700000)),   # same second
             (4, datetime(2024, 3, 5, 10, 10, 10, 999000)),  # trunc gap == 600
             (4, datetime(2024, 3, 5, 10, 20, 12, 50000))]   # trunc gap 602 → split
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    cols = ("user_id", "island", "island_start_s", "island_end_s",
            "span_s", "n_events")
    for bucket_h in (24, 6):
        a = sorted(tuple(r[c] for c in cols)
                   for r in merge_intervals(df, duration_s=600).collect())
        b = sorted(
            tuple(r[c] for c in cols)
            for r in merge_intervals_presplit(
                df, duration_s=600, bucket_us=bucket_h * 3_600_000_000
            ).collect()
        )
        assert a == b, bucket_h


def test_merge_intervals_adaptive_dispatch_routes_by_skew(spark):
    """r15 (VERDICT r14 item 5): the skew-adaptive dispatcher must
    (a) estimate top-key share correctly from a row sample, (b) route a
    uniform corpus to the single-window face (no stitch join in the
    plan) and a bot-skewed corpus to the pre-split twin (stitch join
    present), and (c) produce identical rows on BOTH routes — dispatch
    may change the plan, never the result."""
    from datetime import datetime, timedelta

    from earthquake_data_pipeline_spark.operators.analytics import (
        merge_intervals,
        merge_intervals_adaptive,
        merge_intervals_presplit,
        top_key_share,
    )

    base = datetime(2024, 3, 1)
    uniform = [(u, base + timedelta(minutes=7 * i))
               for u in range(50) for i in range(40)]
    skewed = [(999, base + timedelta(minutes=3 * i)) for i in range(1800)]
    skewed += [(u, base + timedelta(minutes=11 * i))
               for u in range(10) for i in range(20)]
    df_u = spark.createDataFrame(uniform, ["user_id", "ts"])
    df_s = spark.createDataFrame(skewed, ["user_id", "ts"])

    # (a) the probe: full-fraction sample so the estimate is exact
    share_u, n_u = top_key_share(df_u, "user_id", probe_fraction=1.0)
    share_s, n_s = top_key_share(df_s, "user_id", probe_fraction=1.0)
    assert n_u == 2000 and abs(share_u - 1 / 50) < 1e-9
    assert n_s == 2000 and abs(share_s - 0.9) < 1e-9

    # (b) the routes, pinned via the physical plan: the pre-split twin
    # stitches offsets back with a join; the window face has none
    plan_u = merge_intervals_adaptive(
        df_u, duration_s=600, probe_fraction=1.0
    )._jdf.queryExecution().executedPlan().toString()
    plan_s = merge_intervals_adaptive(
        df_s, duration_s=600, probe_fraction=1.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_u, "uniform corpus must take the window face"
    assert "Join" in plan_s, "skewed corpus must take the pre-split twin"

    # (c) both routes equal their canonical faces row-for-row
    cols = ("user_id", "island", "island_start_s", "island_end_s",
            "span_s", "n_events")
    for df in (df_u, df_s):
        want = sorted(tuple(r[c] for c in cols)
                      for r in merge_intervals(df, duration_s=600).collect())
        got = sorted(
            tuple(r[c] for c in cols)
            for r in merge_intervals_adaptive(
                df, duration_s=600, probe_fraction=1.0
            ).collect()
        )
        alt = sorted(
            tuple(r[c] for c in cols)
            for r in merge_intervals_presplit(df, duration_s=600).collect()
        )
        assert got == want == alt

    # tiny sample (< min_sample) must fall back to the window face even
    # when the sampled share is high — small data never needs the stitch
    plan_tiny = merge_intervals_adaptive(
        df_s.limit(100), duration_s=600, probe_fraction=1.0, min_sample=500
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan_tiny


def test_family_adaptive_dispatch_routes_and_matches(spark, monkeypatch):
    """r15 family-wide rollout: each per-key-sequence dispatcher must
    route a uniform corpus to its window face and a bot-skewed corpus
    to its pre-split twin (routing pinned by recording which face the
    dispatcher calls — the funnel twin is join-free, so plan markers
    don't generalize), and both routes must equal the canonical window
    face row-for-row. The debounce probe groups on the COMPOSITE
    (user, type) key."""
    import random
    from datetime import datetime, timedelta

    import earthquake_data_pipeline_spark.operators.analytics as A
    from earthquake_data_pipeline_spark.operators.analytics import (
        event_debounce,
        event_debounce_adaptive,
        event_transitions,
        event_transitions_adaptive,
        funnel_steps,
        funnel_steps_adaptive,
        session_ids,
        session_ids_adaptive,
    )

    routes: list[str] = []

    def record(face_name: str):
        orig = getattr(A, face_name)

        def wrapped(*args, **kwargs):
            routes.append(face_name)
            return orig(*args, **kwargs)

        return wrapped

    for fname in ("session_ids", "session_ids_presplit",
                  "funnel_steps", "funnel_steps_presplit",
                  "event_debounce", "event_debounce_presplit",
                  "event_transitions", "event_transitions_presplit"):
        monkeypatch.setattr(A, fname, record(fname))

    random.seed(77)
    base = datetime(2024, 3, 1)
    types = ["view", "click", "purchase", "noise"]

    def mk(rows):
        return spark.createDataFrame(
            rows, ["user_id", "event_type", "ts", "event_id"]
        )

    uniform = mk([
        (u, types[(u + i) % 4], base + timedelta(minutes=13 * i), u * 1000 + i)
        for u in range(40) for i in range(30)
    ])
    skewed = mk(
        [(7, types[i % 4], base + timedelta(minutes=2 * i), i)
         for i in range(1500)]
        + [(u, types[(u + i) % 4],
            base + timedelta(minutes=17 * i), 100_000 + u * 100 + i)
           for u in range(8) for i in range(20)]
    )

    steps = ["view", "click", "purchase"]
    cases = [
        ("sessions",
         lambda df: session_ids(df).select("user_id", "event_id",
                                           "session_id"),
         lambda df: session_ids_adaptive(
             df, probe_fraction=1.0).select("user_id", "event_id",
                                            "session_id")),
        ("funnel",
         lambda df: funnel_steps(df, steps),
         lambda df: funnel_steps_adaptive(df, steps, probe_fraction=1.0)),
        ("debounce",
         lambda df: event_debounce(df).select("event_id", "gap_s"),
         lambda df: event_debounce_adaptive(
             df, probe_fraction=1.0).select("event_id", "gap_s")),
        ("transitions",
         lambda df: event_transitions(df),
         lambda df: event_transitions_adaptive(df, probe_fraction=1.0)),
    ]
    for name, window_face, adaptive in cases:
        routes.clear()
        adaptive(uniform)
        assert routes and not routes[-1].endswith("_presplit"), (
            f"{name}: uniform must take the window face, got {routes}")
        routes.clear()
        adaptive(skewed)
        assert routes and routes[-1].endswith("_presplit"), (
            f"{name}: skewed must take the pre-split twin, got {routes}")
        for df in (uniform, skewed):
            want = sorted(map(tuple, window_face(df).collect()))
            got = sorted(map(tuple, adaptive(df).collect()))
            assert got == want, name


def test_route_by_skew_probes_once_per_input(spark, monkeypatch):
    """r16 probe-cost hygiene (VERDICT r15 item 5): repeated adaptive
    calls on the same (input plan, key) must run ONE sampled probe —
    the routing decision is cached per (session, plan, key, fraction).
    A caller-supplied skew_hint, or the SPARK_GRAFT_DISPATCH env escape
    hatch for plan-only tooling, must skip the probe entirely (plan
    construction then triggers no Spark action). Safe because routing
    is parity-pinned: a stale cache entry can only change the plan,
    never the rows."""
    from datetime import datetime, timedelta

    import earthquake_data_pipeline_spark.operators.analytics as A

    calls: list[object] = []
    real_probe = A.top_key_share

    def counting(df, key_col, **kw):
        calls.append(key_col)
        return real_probe(df, key_col, **kw)

    monkeypatch.setattr(A, "top_key_share", counting)
    base = datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(u, base + timedelta(minutes=7 * i))
         for u in range(20) for i in range(40)],
        ["user_id", "ts"],
    )

    A._ROUTE_CACHE.clear()
    r1 = A.merge_intervals_adaptive(df, duration_s=600, probe_fraction=1.0)
    r2 = A.merge_intervals_adaptive(df, duration_s=600, probe_fraction=1.0)
    assert len(calls) == 1, f"expected one probe, got {calls}"
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))

    # a DIFFERENT input plan must re-probe (no false cache sharing)
    A.merge_intervals_adaptive(df.limit(700), duration_s=600,
                               probe_fraction=1.0, min_sample=100)
    assert len(calls) == 2

    # explicit hint: no probe, route honored
    calls.clear()
    A._ROUTE_CACHE.clear()
    plan = A.merge_intervals_adaptive(
        df, duration_s=600, skew_hint="skewed"
    )._jdf.queryExecution().executedPlan().toString()
    assert calls == [] and "Join" in plan  # pre-split stitch join present

    # env escape hatch (plan-only tooling): no probe, window face
    monkeypatch.setenv("SPARK_GRAFT_DISPATCH", "window")
    plan = A.merge_intervals_adaptive(
        df, duration_s=600
    )._jdf.queryExecution().executedPlan().toString()
    assert calls == [] and "Join" not in plan
    monkeypatch.delenv("SPARK_GRAFT_DISPATCH")


def test_route_by_skew_rejects_unknown_hint(spark, monkeypatch):
    """r17 (ADVICE r16 low): a typo'd skew_hint or SPARK_GRAFT_DISPATCH
    value ('Window', 'pre-split') must raise ValueError, not silently
    fall through to the probing path — the probe is a Spark ACTION at
    plan-construction time, exactly what the hatch exists to avoid."""
    import earthquake_data_pipeline_spark.operators.analytics as A

    def never(*a, **kw):  # the probe must not fire on a bad hint
        raise AssertionError("probe fired despite a non-empty hint")

    monkeypatch.setattr(A, "top_key_share", never)
    df = spark.createDataFrame([(1, "2024-03-01 00:00:00")],
                               ["user_id", "ts"])
    with pytest.raises(ValueError, match="Window"):
        A.merge_intervals_adaptive(df, skew_hint="Window")
    monkeypatch.setenv("SPARK_GRAFT_DISPATCH", "pre-split")
    with pytest.raises(ValueError, match="pre-split"):
        A.merge_intervals_adaptive(df)
    monkeypatch.delenv("SPARK_GRAFT_DISPATCH")


def test_event_debounce_presplit_matches_window_form(spark):
    """r12: bucket-split lag debounce must match the per-key window —
    including gaps exactly straddling bucket edges and per-key first
    events (gap -1)."""
    import random
    from datetime import datetime, timedelta

    from earthquake_data_pipeline_spark.operators.analytics import (
        event_debounce,
        event_debounce_presplit,
    )

    random.seed(131)
    rows, eid = [], 0
    for u in (1, 2):
        t = datetime(2024, 5, 1)
        for _ in range(300):
            t += timedelta(seconds=random.choice([5, 59, 60, 61, 86_400]))
            rows.append((u, "click", t, eid)); eid += 1
    # straddle: last event of a day then 30s into the next day
    rows += [(3, "x", datetime(2024, 5, 9, 23, 59, 50), 90_000),
             (3, "x", datetime(2024, 5, 10, 0, 0, 20), 90_001)]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    cols = ("user_id", "event_type", "event_id", "epoch_s", "gap_s")
    a = sorted(tuple(r[c] for c in cols)
               for r in event_debounce(df, min_gap_s=60).collect())
    b = sorted(tuple(r[c] for c in cols)
               for r in event_debounce_presplit(df, min_gap_s=60).collect())
    assert a == b
    # the straddle pair: 30s gap across midnight must be dropped by BOTH
    assert not any(t[0] == 3 and t[2] == 90_001 for t in b)


def test_funnel_steps_presplit_matches_window_form(spark):
    """r12: the per-bucket conditional-min cascade + prefix fold must
    reproduce the window funnel exactly — funnels completing across
    many buckets, steps arriving out of order, users stalling at every
    level, and duplicate step events."""
    import random
    from datetime import datetime, timedelta

    from earthquake_data_pipeline_spark.operators.analytics import (
        funnel_steps,
        funnel_steps_presplit,
    )

    random.seed(139)
    steps = ["visit", "signup", "purchase"]
    rows = []
    for u in range(200):
        t = datetime(2024, 6, 1) + timedelta(minutes=u)
        for _ in range(random.randint(1, 25)):
            t += timedelta(hours=random.choice([1, 5, 30, 100]))
            rows.append((u, random.choice(steps + ["noise"]), t))
    # a user whose signup PRECEDES the visit (must not convert further
    # unless a later signup follows)
    rows += [(900, "signup", datetime(2024, 6, 1)),
             (900, "visit", datetime(2024, 6, 2)),
             (900, "purchase", datetime(2024, 6, 10))]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    for bucket_s in (86_400, 6 * 3_600):
        a = [(r["step_idx"], r["step"], r["n_users"])
             for r in funnel_steps(df, steps).collect()]
        b = [(r["step_idx"], r["step"], r["n_users"])
             for r in funnel_steps_presplit(
                 df, steps, bucket_s=bucket_s).collect()]
        assert a == b, bucket_s


def test_event_transitions_presplit_matches_window_form(spark):
    """r12: the bucket-split Markov census must match the per-user lag
    window — transitions crossing bucket boundaries take from_type from
    the previous bucket's last event."""
    import random
    from datetime import datetime, timedelta

    from earthquake_data_pipeline_spark.operators.analytics import (
        event_transitions,
        event_transitions_presplit,
    )

    random.seed(149)
    rows, eid = [], 0
    types = ["view", "click", "buy"]
    for u in range(50):
        t = datetime(2024, 7, 1)
        for _ in range(60):
            t += timedelta(hours=random.choice([1, 10, 40]))
            rows.append((u, random.choice(types), t, eid)); eid += 1
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    cols = ("from_type", "to_type", "n_steps", "row_total", "p")
    a = [tuple(r[c] for c in cols) for r in event_transitions(df).collect()]
    for bucket_s in (86_400, 6 * 3_600):
        b = [tuple(r[c] for c in cols)
             for r in event_transitions_presplit(df, bucket_s=bucket_s).collect()]
        assert a == b, bucket_s
