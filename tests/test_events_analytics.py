"""Semantic properties of the Rakam event-analytics operators —
invariants the value-hash oracle can't state (monotonicity, gap
boundaries, conservation), on the sf0.001 fixture plus small
synthetic frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from presto_rakam_kafka_spark.fixtures import read_table
from presto_rakam_kafka_spark.operators import events as ev


def _events(spark, sf_dir):
    return read_table(spark, sf_dir, "events")


def test_funnel_counts_monotone_nonincreasing(spark, sf_dir):
    rows = {r["step"]: r["n_users"] for r in ev.funnel(_events(spark, sf_dir)).collect()}
    steps = sorted(rows)
    assert steps and steps[0] == 1
    for a, b in zip(steps, steps[1:]):
        assert rows[a] >= rows[b]


def test_funnel_requires_order_not_just_presence(spark):
    """A user who purchases BEFORE viewing must not count past step 1."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: purchase, then view, then click — completes only view→click
        (1, base, 1, "purchase", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 1, "view", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=2), 1, "click", 1.0, "{}"),
        # user 2: full ordered funnel
        (4, base, 2, "view", 1.0, "{}"),
        (5, base + dt.timedelta(minutes=1), 2, "click", 1.0, "{}"),
        (6, base + dt.timedelta(minutes=2), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    got = {r["step_name"]: r["n_users"] for r in ev.funnel(df).collect()}
    assert got == {"view": 2, "click": 2, "purchase": 1}


def test_funnel_step_names_with_backslash_and_quote(spark):
    """Step names reach the output verbatim, whatever characters they
    hold: a backslash (which a SQL string literal would treat as an
    escape) and a quote."""
    base = dt.datetime(2024, 1, 1)
    steps = ("a\\b", "it's", "c\\")
    rows = [
        (i + 1, base + dt.timedelta(minutes=i), 1, s, 1.0, "{}")
        for i, s in enumerate(steps)
    ] + [(9, base, 2, steps[0], 1.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    got = {
        r["step_name"]: r["n_users"] for r in ev.funnel(df, steps).collect()
    }
    assert got == {"a\\b": 2, "it's": 1, "c\\": 1}


def test_report_operators_leave_no_temp_view(spark, sf_dir):
    """Each report operator is one ``spark.sql`` statement over its
    input frame; the temp view that carries the frame into the
    statement is dropped once it is built, however many are built."""
    e = _events(spark, sf_dir)
    for _ in range(10):
        ev.funnel(e)
        ev.retention_cohorts(e)
        ev.user_session_stats(e)
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]
    assert views == []


def test_funnel_window_boundary(spark):
    """A step exactly AT the window edge converts; one microsecond past
    does not — and the windowed funnel can never exceed the unwindowed
    one."""
    base = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    us = dt.timedelta(microseconds=1)
    rows = [
        # user 1: click exactly 72h after view → converts step 2
        (1, base, 1, "view", 0.0, "{}"),
        (2, base + 72 * h, 1, "click", 0.0, "{}"),
        # user 2: click 72h + 1us after view → step 1 only
        (3, base, 2, "view", 0.0, "{}"),
        (4, base + 72 * h + us, 2, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    got = {r["step_name"]: r["n_users"] for r in ev.funnel_windowed(df, window_hours=72).collect()}
    assert got == {"view": 2, "click": 1}


def test_windowed_funnel_bounded_by_unwindowed(spark, sf_dir):
    e = _events(spark, sf_dir)
    plain = {r["step"]: r["n_users"] for r in ev.funnel(e).collect()}
    windowed = {
        r["step"]: r["n_users"] for r in ev.funnel_windowed(e, window_hours=72).collect()
    }
    for step, n in windowed.items():
        assert n <= plain[step]
    assert windowed.get(1) == plain.get(1)  # step 1 has no window constraint


def test_sessionize_gap_boundary_is_strict(spark):
    """Gap exactly == threshold stays ONE session; one microsecond
    more starts a new one."""
    base = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(minutes=30)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, base, 7, "view", 0.0, "{}"),
        (2, base + gap, 7, "view", 0.0, "{}"),          # exactly 30 min: same
        (3, base + gap + gap + us, 7, "view", 0.0, "{}"),  # 30 min + 1 us: new
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    seqs = [r["session_seq"] for r in ev.sessionize(df).orderBy("event_id").collect()]
    assert seqs == [1, 1, 2]


def test_session_stats_conserve_events(spark, sf_dir):
    e = _events(spark, sf_dir)
    stats = ev.user_session_stats(e)
    assert stats.agg(F.sum("n_events")).first()[0] == e.count()
    bad = stats.filter(
        (F.col("max_session_events") > F.col("n_events"))
        | (F.col("n_sessions") < 1)
        | (F.col("total_active_us") < 0)
    )
    assert bad.count() == 0


def test_retention_week0_covers_every_user(spark, sf_dir):
    """Every user is active in their own cohort week, so the
    week_offset=0 cells must sum to the distinct-user count, and no
    offset can be negative."""
    e = _events(spark, sf_dir)
    ret = ev.retention_cohorts(e)
    n_users = e.select("user_id").distinct().count()
    wk0 = ret.filter(F.col("week_offset") == 0).agg(F.sum("n_users")).first()[0]
    assert wk0 == n_users
    assert ret.filter(F.col("week_offset") < 0).count() == 0


def test_top_transitions_conserve_pair_count(spark, sf_dir):
    """Total bigrams across ALL transitions == n_events − n_users
    (each user contributes len−1 pairs)."""
    e = _events(spark, sf_dir)
    all_pairs = ev.top_transitions(e, k=None)
    total = all_pairs.agg(F.sum("n")).first()[0]
    assert total == e.count() - e.select("user_id").distinct().count()


def test_active_users_dau_bounded_by_wau(spark, sf_dir):
    e = _events(spark, sf_dir)
    au = ev.active_users(e, window_days=7)
    assert au.filter(F.col("dau") > F.col("wau")).count() == 0
    n_users = e.select("user_id").distinct().count()
    assert au.filter(F.col("wau") > n_users).count() == 0
    # every active day appears exactly once
    n_days = e.select(F.date_trunc("day", "ts")).distinct().count()
    assert au.count() == n_days


def test_daily_anomaly_first_day_has_no_baseline(spark, sf_dir):
    """The first day of each event_type has an empty trailing window →
    null mean and null z; z is null whenever the window has < 2 points."""
    an = ev.daily_anomaly(_events(spark, sf_dir), trailing_days=7)
    per_type_first = an.groupBy("event_type").agg(F.min("day").alias("day"))
    firsts = an.join(per_type_first, ["event_type", "day"])
    assert firsts.filter(F.col("trailing_mean").isNotNull()).count() == 0
    assert an.filter(F.col("z_score").isNotNull() & F.col("trailing_mean").isNull()).count() == 0


def test_rfm_recency_nonnegative_and_frequency_matches(spark, sf_dir):
    e = _events(spark, sf_dir)
    rfm = ev.user_rfm(e)
    assert rfm.filter(F.col("recency_days") < 0).count() == 0
    n_purchases = e.filter(F.col("event_type") == "purchase").count()
    assert rfm.agg(F.sum("frequency")).first()[0] == n_purchases


def test_funnel_fold_equals_chained_joins_on_random_corpus(spark):
    """Cross-implementation equivalence on a seeded random corpus:
    the one-shuffle sorted-fold must equal the textbook chained
    min-timestamp join construction (the oracle's shape) for both the
    plain and the windowed funnel — including users with shuffled,
    repeated, and missing steps."""
    import random

    rng = random.Random(1234)
    base = dt.datetime(2024, 3, 1)
    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    # Unique timestamps by construction (distinct minute offsets).
    offsets = rng.sample(range(2_000_000), 3000)
    for eid, off in enumerate(offsets):
        rows.append(
            (
                eid,
                base + dt.timedelta(minutes=off),
                rng.randrange(200),
                rng.choice(types),
                0.0,
                "{}",
            )
        )
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )

    def chained(events, steps, window_hours=None):
        cur = (
            events.filter(F.col("event_type") == steps[0])
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        out = {1: cur.count()}
        for i, s in enumerate(steps[1:], start=2):
            nxt = events.filter(F.col("event_type") == s).join(
                cur.withColumnRenamed("t", "prev_t"), "user_id"
            ).filter(F.col("ts") > F.col("prev_t"))
            if window_hours is not None:
                nxt = nxt.filter(
                    F.col("ts").cast("long") - F.col("prev_t").cast("long")
                    <= window_hours * 3600
                )
            cur = nxt.groupBy("user_id").agg(F.min("ts").alias("t"))
            out[i] = cur.count()
        return {k: v for k, v in out.items() if v > 0}

    steps = ("view", "click", "purchase")
    got = {r["step"]: r["n_users"] for r in ev.funnel(df, steps).collect()}
    assert got == chained(df, steps)
    got_w = {
        r["step"]: r["n_users"]
        for r in ev.funnel_windowed(df, steps, window_hours=48).collect()
    }
    assert got_w == chained(df, steps, window_hours=48)


def test_ab_test_degenerate_and_decisive_cases(spark):
    """All-converted pool → z NULL (no variance); a decisive synthetic
    experiment → large positive z and exact counts."""
    base = dt.datetime(2024, 1, 1)
    # 40 users: evens (variant A) all convert, odds never do.
    rows = []
    for u in range(40):
        etype = "purchase" if u % 2 == 0 else "view"
        rows.append((u, base, u, etype, 500.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    r = ev.ab_test(df).first()
    assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (20, 20, 20, 0)
    assert r["z_stat"] is not None and r["z_stat"] > 5

    all_conv = spark.createDataFrame(
        [(u, base, u, "purchase", 500.0, "{}") for u in range(10)],
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    assert ev.ab_test(all_conv).first()["z_stat"] is None


def test_funnel_latency_consistent_with_funnel(spark, sf_dir):
    """n_converted must equal the funnel's final-step user count, and
    the percentiles must be ordered and non-negative."""
    e = _events(spark, sf_dir)
    lat = ev.funnel_latency(e).first()
    final_step = {r["step"]: r["n_users"] for r in ev.funnel(e).collect()}.get(3, 0)
    assert lat["n_converted"] == final_step
    assert 0 <= lat["median_s"] <= lat["p90_s"]


def test_funnel_filtered_event_matching_two_steps_advances_once(spark):
    """An event whose properties satisfy BOTH the current and the next
    step's predicate advances the funnel exactly ONE step (Rakam
    semantics: one event, one step), and null predicate results count
    as no-match."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: one event matching both p1 (value>0) and p2 (value>5)
        # → depth 1, then a second matching p2 → depth 2.
        (1, base, 1, "view", 9.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 1, "view", 9.0, "{}"),
        # user 2: event with NULL value — p-results are NULL → no match
        # for either predicate; funnel depth stays 0.
        (3, base, 2, "view", None, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    steps = [
        ("any_pos", F.col("value") > 0),
        ("big", F.col("value") > 5),
    ]
    got = {r["step_name"]: r["n_users"] for r in ev.funnel_filtered(df, steps).collect()}
    assert got == {"any_pos": 1, "big": 1}


def test_funnel_filtered_completion_is_ansi_safe(spark):
    """A user completing ALL steps must not error under ANSI mode (the
    fold probes index depth+1 past the last step — F.get returns NULL
    out-of-bounds instead of raising)."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
        # extra trailing event after completion
        (3, base + dt.timedelta(minutes=2), 1, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
    ]
    got = {r["step_name"]: r["n_users"] for r in ev.funnel_filtered(df, steps).collect()}
    assert got == {"view": 1, "click": 1}


def test_funnel_segmented_totals_match_plain_funnel(spark, sf_dir):
    """Summing the segmented funnel over segments must reproduce the
    plain funnel's per-step counts exactly (segmentation partitions
    users, never drops or double-counts them)."""
    events = _events(spark, sf_dir)
    plain = {r["step"]: r["n_users"] for r in ev.funnel(events).collect()}
    seg = ev.funnel_segmented(events).collect()
    summed: dict[int, int] = {}
    for r in seg:
        summed[r["step"]] = summed.get(r["step"], 0) + r["n_users"]
    assert summed == plain


def test_funnel_segmented_captures_first_step_segment(spark):
    """The segment must come from the FIRST MATCHED step-1 event, not a
    later one: user views with k=10 (low) then k=90 (high) — their
    whole funnel row belongs to 'low'."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "view", 1.0, '{"k": 10}'),
        (2, base + dt.timedelta(minutes=1), 1, "view", 1.0, '{"k": 90}'),
        (3, base + dt.timedelta(minutes=2), 1, "click", 1.0, '{"k": 50}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    got = {(r["step_name"], r["seg"]): r["n_users"] for r in ev.funnel_segmented(df).collect()}
    assert got == {("view", "low"): 1, ("click", "low"): 1}


def test_retention_filtered_requires_first_action(spark):
    """Users without the first action contribute NOTHING (no cohort),
    even with return actions; offset-0 cells count returns in the
    cohort week itself."""
    base = dt.datetime(2024, 1, 1, 12)
    rows = [
        # user 1: signup week 0, purchase same week and 2 weeks later
        (1, base, 1, "signup", 1.0, "{}"),
        (2, base + dt.timedelta(days=1), 1, "purchase", 1.0, "{}"),
        (3, base + dt.timedelta(days=14), 1, "purchase", 1.0, "{}"),
        # user 2: purchases but never signs up → invisible
        (4, base, 2, "purchase", 1.0, "{}"),
        # user 3: purchase BEFORE the signup week → dropped (wk < cohort)
        (5, base + dt.timedelta(days=21), 3, "signup", 1.0, "{}"),
        (6, base, 3, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in ev.retention_filtered(df).collect()
    }
    assert got == {("2024-01-01", 0): 1, ("2024-01-01", 2): 1}


def test_attribution_window_and_recency(spark):
    """Last touch wins among multiple; a touch exactly at the 7-day
    edge attributes; one microsecond past is 'none'; first_touch is
    the user's earliest touch regardless of the window."""
    base = dt.datetime(2024, 1, 10)
    d = dt.timedelta(days=1)
    us = dt.timedelta(microseconds=1)
    rows = [
        # user 1: view then click then purchase → click (latest) wins
        (1, base, 1, "view", 0.0, "{}"),
        (2, base + d, 1, "click", 0.0, "{}"),
        (3, base + 2 * d, 1, "purchase", 5.0, "{}"),
        # user 2: touch exactly 7 days before the purchase → attributes
        (4, base, 2, "view", 0.0, "{}"),
        (5, base + 7 * d, 2, "purchase", 5.0, "{}"),
        # user 3: touch 7 days + 1us before → 'none', but first_touch
        # still reports it
        (6, base, 3, "click", 0.0, "{}"),
        (7, base + 7 * d + us, 3, "purchase", 5.0, "{}"),
        # user 4: no touch at all
        (8, base, 4, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    got = {
        r["user_id"]: (r["attributed_touch"], r["first_touch"])
        for r in ev.last_touch_attribution(df).collect()
    }
    assert got == {
        1: ("click", "view"),
        2: ("view", "view"),
        3: ("none", "click"),
        4: ("none", "none"),
    }


def test_funnel_trend_isolates_weeks(spark):
    """A journey spanning a week boundary does not convert in either
    week — each calendar week is an independent funnel — while the
    same journey inside one week converts fully."""
    base = dt.datetime(2024, 1, 1)  # a Monday
    d = dt.timedelta(days=1)
    rows = [
        # user 1: view Sunday, click next Monday → two week-1-step rows
        (1, base + 6 * d, 1, "view", 0.0, "{}"),
        (2, base + 7 * d, 1, "click", 0.0, "{}"),
        # user 2: view+click+purchase inside week 1 → full conversion
        (3, base, 2, "view", 0.0, "{}"),
        (4, base + d, 2, "click", 0.0, "{}"),
        (5, base + 2 * d, 2, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    got = {
        (r["wk"], r["step"]): r["n_users"]
        for r in ev.funnel_trend(df).collect()
    }
    assert got == {
        ("2024-01-01", 1): 2,  # both users viewed in week 1
        ("2024-01-01", 2): 1,  # only user 2 clicked in week 1
        ("2024-01-01", 3): 1,
        # user 1's lone week-2 click never matches step 1 → no week-2 rows
    }, got


def test_funnel_filtered_repeated_step_types(spark):
    """Rakam funnels may use the SAME event type at multiple steps
    (view → view → purchase = 'two views before buying'): the
    per-step predicate array handles what the type-keyed map of the
    plain funnel cannot. One view then purchase reaches only step 1;
    two views then purchase completes."""
    base = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: view, purchase — second view never happens
        (1, base, 1, "view", 0.0, "{}"),
        (2, base + m, 1, "purchase", 0.0, "{}"),
        # user 2: view, view, purchase — completes
        (3, base, 2, "view", 0.0, "{}"),
        (4, base + m, 2, "view", 0.0, "{}"),
        (5, base + 2 * m, 2, "purchase", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    steps = [
        ("view_1", F.col("event_type") == "view"),
        ("view_2", F.col("event_type") == "view"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    got = {r["step_name"]: r["n_users"] for r in ev.funnel_filtered(df, steps).collect()}
    assert got == {"view_1": 2, "view_2": 1, "purchase": 1}


def test_unordered_funnel_dominates_ordered(spark, sf_dir):
    """Dropping the ordering constraint can only add users: unordered
    ≥ ordered at every step, equal at step 1."""
    e = _events(spark, sf_dir)
    ordered = {r["step"]: r["n_users"] for r in ev.funnel(e).collect()}
    unordered = {r["step"]: r["n_users"] for r in ev.funnel_unordered(e).collect()}
    for step, n in ordered.items():
        assert unordered.get(step, 0) >= n, (step, unordered.get(step), n)
    assert unordered.get(1) == ordered.get(1)


def test_merge_upsert_semantics(spark):
    """MERGE rules row by row: whole-row update wins, unmatched update
    inserts, flagged match deletes, UNMATCHED delete is a no-op, and
    untouched target rows survive verbatim."""
    from presto_rakam_kafka_spark.operators.warehouse import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k LONG, v STRING, price DOUBLE",
    )
    updates = spark.createDataFrame(
        [
            (2, "B", 21.0, False),   # matched update: whole row replaced
            (4, "d", 40.0, False),   # unmatched: insert
            (3, "c", 30.0, True),    # matched delete
            (9, "x", 99.0, True),    # unmatched delete: no-op
        ],
        "k LONG, v STRING, price DOUBLE, deleted BOOLEAN",
    )
    got = {
        r["k"]: (r["v"], r["price"])
        for r in merge_upsert(target, updates, "k", delete_col="deleted").collect()
    }
    assert got == {1: ("a", 10.0), 2: ("B", 21.0), 4: ("d", 40.0)}


def test_merge_upsert_fold_property(spark):
    """Property (hypothesis): applying CDC batches ONE AT A TIME through
    merge_upsert equals applying the latest-change-per-key of ALL
    batches in one merge — the exact associativity the streaming CDC
    snapshot (streaming/cdc.py) relies on for stream == batch. Random
    keys, values, delete flags, and batch splits; cross-batch order is
    change-sequence order (the per-key in-order delivery contract)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from presto_rakam_kafka_spark.operators.warehouse import merge_upsert

    change = st.tuples(
        st.integers(0, 6),            # key
        st.integers(0, 99),           # value
        st.booleans(),                # delete?
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        changes=st.lists(change, min_size=1, max_size=14),
        cuts=st.sets(st.integers(1, 13), max_size=3),
    )
    def check(changes, cuts):
        sch = "k LONG, v LONG, seq LONG, deleted BOOLEAN"
        rows = [(k, v, i, d) for i, (k, v, d) in enumerate(changes)]
        base = spark.createDataFrame([(99, 0, -1, False)], sch).drop("deleted")

        def latest_per_key(rs):
            best = {}
            for k, v, i, d in rs:
                best[k] = (k, v, i, d)
            return list(best.values())

        def apply_batch(cur, rs):
            upd = spark.createDataFrame(latest_per_key(rs), sch)
            return merge_upsert(cur, upd, "k", delete_col="deleted")

        # incremental: one merge per batch (cut points split the stream)
        bounds = sorted(c for c in cuts if c < len(rows))
        pieces, prev = [], 0
        for b in bounds + [len(rows)]:
            if rows[prev:b]:
                pieces.append(rows[prev:b])
            prev = b
        inc = base
        for piece in pieces:
            inc = apply_batch(inc, piece)

        # one-shot: latest-per-key over the whole stream, single merge
        one = apply_batch(base, rows)

        got = {r["k"]: (r["v"], r["seq"]) for r in inc.collect()}
        want = {r["k"]: (r["v"], r["seq"]) for r in one.collect()}
        assert got == want

    check()


def test_scd2_null_runs_are_tracked(spark):
    """SCD2 change detection is NULL-safe (round 8, ADVICE): a
    non-null→NULL transition opens a new run (the r7 `!=` form was
    three-valued and silently merged the NULL period into its
    predecessor), NULL→non-null closes it, an entity whose FIRST value
    is NULL still gets its opening row, and consecutive NULLs collapse
    into one run like any other value."""
    import datetime as dt

    from presto_rakam_kafka_spark.operators.warehouse import scd2_history

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # entity 1: a → NULL → NULL → a  (3 runs; the NULL pair collapses)
        (1, "a", t(0), 0), (1, None, t(1), 1), (1, None, t(2), 2), (1, "a", t(3), 3),
        # entity 2: starts NULL → b      (2 runs; first row must survive)
        (2, None, t(0), 0), (2, "b", t(1), 1),
    ]
    df = spark.createDataFrame(rows, "k LONG, attr STRING, ts TIMESTAMP, seq LONG")
    got = sorted(
        (
            (r["k"], r["attr"], r["valid_from"], r["valid_to"])
            for r in scd2_history(df, "k", "attr", "ts", "seq").collect()
        ),
        key=lambda t: (t[0], t[1] is None, t[1] or "", t[2]),
    )
    assert got == [
        (1, "a", "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
        (1, "a", "2024-01-01 00:03:00", None),
        (1, None, "2024-01-01 00:01:00", "2024-01-01 00:03:00"),
        (2, "b", "2024-01-01 00:01:00", None),
        (2, None, "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
    ]


def test_peak_concurrency_half_open_tie_semantics(spark):
    """Sweep-line tie rule: a session ending exactly when another
    starts does NOT overlap it (half-open [start, end)); genuinely
    overlapping sessions count; the reported instant is the FIRST time
    the peak is reached."""
    import datetime as dt

    from presto_rakam_kafka_spark.operators.events import peak_concurrency

    t = lambda m: dt.datetime(2024, 1, 1, 12, m)  # noqa: E731
    rows = [
        # user 1: one session 12:00-12:10 (events 10 min apart stay in
        # one session at gap=30)
        (1, 1, "view", t(0)), (2, 1, "view", t(10)),
        # user 2: session 12:10-12:20 — starts exactly at user 1's end:
        # NOT concurrent with it under half-open semantics
        (3, 2, "view", t(10)), (4, 2, "view", t(20)),
        # users 3+4 overlap user 2 at 12:15 → peak 3 first reached then
        (5, 3, "view", t(15)), (6, 3, "view", t(18)),
        (7, 4, "view", t(15)), (8, 4, "view", t(17)),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
    )
    got = peak_concurrency(df).collect()[0]
    assert got["peak_concurrent"] == 3
    assert got["first_peak_ts"] == "2024-01-01 12:15:00"


def test_holt_forecast_linear_series_is_exact_and_fills_gaps(spark):
    """Behavioral contract of the Holt fold: on an exactly-linear daily
    series the level/trend lock on (l₀=y₀, b₀=y₁−y₀ keep l+b=y_next
    inductively), so every h-step forecast extrapolates the line
    EXACTLY; a day with no events participates as an explicit zero
    (dense grid), visible as a trend break vs the gapless series."""
    import datetime as dt

    from presto_rakam_kafka_spark.operators import events as ev

    base = dt.datetime(2024, 3, 1, 12, 0)
    rows = []
    eid = 0
    for d in range(10):            # day d has 3 + 2d events: exact line
        for _ in range(3 + 2 * d):
            rows.append((eid, eid, "view", float(d),
                         base + dt.timedelta(days=d)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, "
              "value DOUBLE, ts TIMESTAMP"
    )
    out = {r["h"]: r["forecast"]
           for r in ev.holt_forecast(df).collect()}
    last, slope = 3 + 2 * 9, 2.0
    assert out == {h: float(last + h * slope) for h in range(1, 8)}, out

    # drop day 5 entirely: the dense grid inserts y=0, so the forecast
    # must differ from the gapless line (the gap is DATA, not absence)
    df2 = df.filter(
        F.date_trunc("day", "ts") != dt.datetime(2024, 3, 6)
    )
    out2 = {r["h"]: r["forecast"] for r in ev.holt_forecast(df2).collect()}
    assert out2[1] != out[1]


def test_with_global_ranks_equals_chained_single_rank(spark):
    """The multi-spec rank pass (round 13) must assign bit-identical
    ranks to the chained per-metric form on tie-heavy data — same
    frozen-boundary buckets, same windows, only the fit/counts jobs
    amortized."""
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.operators.ranks import (
        with_global_rank,
        with_global_ranks,
    )

    rows = [
        (i, (i * 7) % 5, (i * 13) % 3, ((i * 31) % 11) - 5)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "uid LONG, a LONG, b LONG, c LONG")
    multi = with_global_ranks(
        df,
        [(["a", "uid"], "ra"), (["b", "uid"], "rb"), (["c", "uid"], "rc")],
        count_col="n",
    )
    chained = with_global_rank(df, ["a", "uid"], rank_col="ra", count_col="n")
    chained = with_global_rank(chained, ["b", "uid"], rank_col="rb")
    chained = with_global_rank(chained, ["c", "uid"], rank_col="rc")
    key = lambda out: sorted(  # noqa: E731
        (r["uid"], r["ra"], r["rb"], r["rc"], r["n"]) for r in out.collect()
    )
    assert key(multi) == key(chained)
    got = key(multi)
    assert {r[4] for r in got} == {500}  # exact count attached
    assert sorted(r[1] for r in got) == list(range(1, 501))  # a perm
