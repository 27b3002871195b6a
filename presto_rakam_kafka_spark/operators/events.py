"""Event-analytics operators — the queries Rakam itself runs through
the reference connector.

The reference (`pom.xml:12-13` "Presto - Kafka Connector for Rakam";
`KafkaConnectorPageSource.java:88-89,136-138` per-(project, collection)
event streams) exists to feed Rakam's event-analytics product: funnels,
retention cohorts, sessionization, and event segmentation issued as
Presto SQL over the Kafka tables. SURVEY §2.B covers the *generic* host
surface; this module adds the four analytics shapes a Rakam user
actually runs every day, re-expressed Spark-first over the `events`
table (`user_id`, `ts`, `event_type`, `value`, `props`).

100 TB design notes (per operator):

* Every operator's only wide dependency is a hash partition on
  ``user_id`` — the canonical uniform key of an event store (150 users
  in the fixture; millions in production, no hot key by construction).
  Window functions and group-bys over the same key chain without
  re-shuffling pain: the first exchange dominates, later per-user aggs
  are partial-agg'd map-side.
* ``funnel`` is ONE shuffle total: a per-user sorted-fold
  (`array_sort` + `aggregate` HOF, whole-stage codegen) replaces the
  textbook K-step chain of self-joins (K shuffles). Per-user event
  lists are bounded by per-user activity, not corpus size — skew-safe
  unless a single user exceeds executor memory, which the Gopher-style
  per-user event cap upstream should prevent.
* ``retention_cohorts`` and ``segmentation`` produce
  cohort×offset / type×day cells — output cardinality is calendar-
  bounded, never corpus-bounded.
* No Python UDFs anywhere; every expression is JVM codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MINUTES = 30

# The canonical Rakam funnel over the fixture's event vocabulary.
FUNNEL_STEPS = ("view", "click", "purchase")


def _event_order() -> list[Column]:
    # (ts, event_id) is verified collision-free at every fixture SF;
    # event_id breaks any future tie deterministically.
    return [F.col("ts"), F.col("event_id")]


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Assign a per-user ``session_seq`` (1-based) to every event: a new
    session starts when the gap to the previous event exceeds
    ``gap_minutes``. Classic lag-flag-cumsum; both window passes share
    one hash partition on ``user_id``."""
    # Microsecond integers on both engines (`unix_micros` / `epoch_us`):
    # second-floor casts diverge (Spark floors, DuckDB CAST rounds).
    w = Window.partitionBy("user_id").orderBy(*_event_order())
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        gap_us.isNull() | (gap_us > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    running = Window.partitionBy("user_id").orderBy(*_event_order()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("_new_sess", new_sess).withColumn(
        "session_seq", F.sum("_new_sess").over(running)
    ).drop("_new_sess")


def user_session_stats(
    events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Per-user session summary: session count, event count, largest
    session, total active seconds (sum of per-session last−first).
    Integer-only output keeps the oracle hash exact. Two aggregation
    levels, both keyed by a ``user_id`` prefix → one real shuffle plus
    a cheap session-level re-agg."""
    sess = sessionize(events, gap_minutes)
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("active_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
        F.sum("active_us").alias("total_active_us"),
    )


def _prefix_counts(
    depths: DataFrame,
    steps: tuple[str, ...],
    group_before: tuple[str, ...] = (),
    group_after: tuple[str, ...] = (),
) -> DataFrame:
    """Funnel FINISH shared by every variant: per completed prefix
    (and optional extra grouping columns), how many users reached it.
    Each user with depth ≥ 1 contributes one row per prefix via
    ``explode(sequence(1, depth))`` — round 14 replaced the 3-row
    steps-frame ``depth >= step`` θ-join here (a per-run
    createDataFrame, BroadcastExchange job, and BroadcastNestedLoopJoin
    stage ×6 funnel variants) with this generator projection (guide
    §2.4 — remove the join outright). Row-for-row identical: the inner
    θ-join emitted exactly the prefixes 1..depth per user and nothing
    for depth 0; the step-name lookup is ``element_at`` on an array of
    literals (built column-wise, so no step name is ever spliced into
    SQL text). Output columns: [*group_before, step, step_name,
    *group_after, n_users] — the exact former join+groupBy order."""
    names_arr = F.array(*[F.lit(s) for s in steps])
    return (
        depths.filter(F.col("depth") >= 1)
        .select(
            *group_before,
            *group_after,
            F.explode(F.sequence(F.lit(1), F.col("depth"))).alias("step"),
        )
        .groupBy(*group_before, "step", *group_after)
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            *group_before,
            "step",
            F.element_at(names_arr, F.col("step")).alias("step_name"),
            *group_after,
            "n_users",
        )
    )


def funnel(events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS) -> DataFrame:
    """Ordered funnel: for each prefix of ``steps``, how many users
    completed it in order (later steps strictly after earlier ones;
    unrelated events in between allowed — Rakam funnel semantics).

    ONE corpus-sized shuffle: filter to step events, per-user
    ``array_sort`` of (ts, event_id, step_idx) structs, then an
    `aggregate` fold that advances a depth counter whenever the next
    needed step is seen (the later step-level agg shuffles ≤ n_users
    rows). Equivalent to the chained min-timestamp construction
    (`t2 = min ts of step2 with ts > t1`, …) whenever (ts, event_id)
    is unique, which the fixture guarantees and event stores provide
    via offsets."""
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    evs = events.filter(F.col("event_type").isin(list(steps))).select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"), step_idx[F.col("event_type")].alias("idx")
        ).alias("ev"),
    )
    depth = F.aggregate(
        F.array_sort(F.collect_list("ev")),
        F.lit(0),
        lambda acc, ev: F.when(ev["idx"] == acc, acc + 1).otherwise(acc),
    )
    depths = evs.groupBy("user_id").agg(depth.alias("depth"))
    # One row per funnel step: users whose depth reaches that step.
    return _prefix_counts(depths, steps)


def funnel_windowed(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    window_hours: int = 72,
) -> DataFrame:
    """Funnel with a per-step conversion window: each step must occur
    strictly after the previous matched step and within
    ``window_hours`` of it (Rakam's "converted within N" funnels).

    Same one-corpus-shuffle sorted-fold as :func:`funnel`, but the
    accumulator is a (depth, last_ts) struct: a step advances only if
    it is the next needed one AND inside the window from the last
    match. Greedy-first-match semantics — identical to the chained
    ``min ts > prev AND ts <= prev + window`` oracle construction
    under unique (ts, event_id)."""
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    evs = events.filter(F.col("event_type").isin(list(steps))).select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id"),
            step_idx[F.col("event_type")].alias("idx"),
        ).alias("ev"),
    )
    window_us = window_hours * 3600 * 1_000_000
    zero = F.struct(
        F.lit(0).alias("depth"), F.lit(None).cast("long").alias("last_us")
    )
    advance = lambda acc, e: F.when(  # noqa: E731
        (e["idx"] == acc["depth"])
        & (acc["last_us"].isNull() | (e["us"] - acc["last_us"] <= window_us)),
        F.struct((acc["depth"] + 1).alias("depth"), e["us"].alias("last_us")),
    ).otherwise(acc)
    depth = F.aggregate(
        F.array_sort(F.collect_list("ev")), zero, advance
    )["depth"]
    depths = evs.groupBy("user_id").agg(depth.alias("depth"))
    return _prefix_counts(depths, steps)


def funnel_latency(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """Time-to-convert: for users completing the whole funnel, exact
    interpolated median and p90 of (last-step ts − first-step ts), in
    seconds — "how long does view→purchase take".

    Same one-corpus-shuffle fold as :func:`funnel` with the
    accumulator extended to (depth, first_us, last_us); the percentile
    uses the explicit rank-interpolation formula (identical double
    arithmetic to the oracle — the `agg_median_exact` pattern, since
    built-in percentile functions disagree with DuckDB in the last
    ulp). r6: the global rank comes from the distributed order-
    statistics primitive (`operators/ranks.py` — range shuffle +
    machine-local sorts + broadcast offsets), so no single-partition
    window remains (plan-asserted); the exact quantile is now
    distributed over the converter set, with the approx sketch still
    the right trade at extreme converter counts."""
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    evs = events.filter(F.col("event_type").isin(list(steps))).select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id"),
            step_idx[F.col("event_type")].alias("idx"),
        ).alias("ev"),
    )
    zero = F.struct(
        F.lit(0).alias("depth"),
        F.lit(None).cast("long").alias("first_us"),
        F.lit(None).cast("long").alias("last_us"),
    )
    acc_fn = lambda acc, e: F.when(  # noqa: E731
        e["idx"] == acc["depth"],
        F.struct(
            (acc["depth"] + 1).alias("depth"),
            F.coalesce(acc["first_us"], e["us"]).alias("first_us"),
            e["us"].alias("last_us"),
        ),
    ).otherwise(acc)
    folded = evs.groupBy("user_id").agg(
        F.aggregate(F.array_sort(F.collect_list("ev")), zero, acc_fn).alias("acc")
    )
    lat = folded.filter(F.col("acc.depth") == len(steps)).select(
        ((F.col("acc.last_us") - F.col("acc.first_us")) / 1e6).alias("v")
    )
    # r6: the rank comes from the distributed order-statistics
    # primitive (range shuffle + machine-local sort + broadcast
    # offsets, `operators/ranks.py`) and the count from a scalar agg —
    # no single-partition window anywhere (plan-asserted), closing the
    # r5 carried note on this operator.
    from presto_rakam_kafka_spark.operators.ranks import with_global_rank

    # persist=True: `lat` is the expensive per-user collect_list/fold
    # over the whole corpus; the r6 form evaluated that fold THREE
    # times (boundary fit, counts job, final plan) plus a FOURTH for
    # the converter-count crossJoin. Now the rank primitive caches lat
    # for its two internal jobs and unpersists before returning (final
    # action pays the fold exactly once more — 2 evaluations total),
    # and n comes from count_col — the exact total the counts job
    # already knows, attached as a frozen literal — so the n_df
    # aggregate and its crossJoin are gone from the plan entirely.
    ranked = with_global_rank(
        lat, ["v"], rank_col="_gr", persist=True, count_col="_n"
    ).select(
        "v",
        (F.col("_gr") - 1).cast("double").alias("rn"),
        F.col("_n").cast("double").alias("n"),
    )

    def interp(q: str) -> str:
        h = f"(n-1)*{q}"
        lo = f"max(CASE WHEN rn = floor({h}) THEN v END)"
        hi = f"max(CASE WHEN rn = ceil({h}) THEN v END)"
        return f"round({lo} + ({h} - floor({h})) * ({hi} - {lo}), 4)"

    return ranked.groupBy("n").agg(
        F.expr(interp("0.5")).alias("median_s"),
        F.expr(interp("0.9")).alias("p90_s"),
    ).select(F.col("n").cast("long").alias("n_converted"), "median_s", "p90_s")


def funnel_filtered(
    events: DataFrame, steps: list[tuple[str, Column]]
) -> DataFrame:
    """Ordered funnel where each step is an ARBITRARY per-step predicate
    (Rakam funnel steps filter on event properties, not just the event
    type — e.g. ``view WHERE props.k > 40``): for each prefix of
    ``steps``, how many users completed it in order.

    Generalizes :func:`funnel`'s single ``event_type`` step matcher
    (r4 verdict item 6) while keeping the one-corpus-shuffle shape:
    events matching ANY step predicate carry a per-step boolean match
    ARRAY into the per-user sorted fold; the fold advances when the
    event matches the next needed step (``F.get`` is 0-based and
    returns NULL past the last step, so a completed funnel is
    ANSI-safe). Equivalent to the chained min-timestamp construction
    (t_i = min ts with pred_i and ts > t_{i-1}) under unique
    (ts, event_id), same as :func:`funnel`.

    ``steps``: ``[(step_name, Column predicate), …]``. Predicates
    evaluating NULL count as no-match (SQL filter semantics) on both
    the corpus prefilter and the fold."""
    from functools import reduce

    preds = [p for _, p in steps]
    any_pred = reduce(lambda a, b: a | b, preds)
    evs = events.filter(any_pred).select(
        "user_id",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.array(*[p.cast("boolean") for p in preds]).alias("m"),
        ).alias("ev"),
    )
    depth = F.aggregate(
        F.array_sort(F.collect_list("ev")),
        F.lit(0),
        lambda acc, e: F.when(F.get(e["m"], acc), acc + 1).otherwise(acc),
    )
    depths = evs.groupBy("user_id").agg(depth.alias("depth"))
    return _prefix_counts(depths, tuple(name for name, _ in steps))


def funnel_segmented(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    segment: Column | None = None,
) -> DataFrame:
    """Funnel BROKEN DOWN BY A SEGMENT — Rakam's "funnel with segment"
    (each funnel chart grouped by a property of the user's FIRST-step
    event, e.g. the campaign that produced the first view): per
    (step, segment), how many users completed the prefix, where a
    user's segment is the ``segment`` expression evaluated on their
    first matched step-1 event.

    Same one-corpus-shuffle sorted fold as :func:`funnel`; the
    accumulator is (depth, seg) and captures ``seg`` exactly at the
    0→1 advance — greedy-first-match, so it is the chained-min
    construction's step-1 event under unique (ts, event_id). Segment
    cardinality multiplies only the OUTPUT rows (steps × segments),
    never the shuffle."""
    if segment is None:
        segment = F.get_json_object(F.col("props"), "$.k").cast("int") >= F.lit(50)
        segment = F.when(segment, "high").otherwise("low")
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    evs = events.filter(F.col("event_type").isin(list(steps))).select(
        "user_id",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            step_idx[F.col("event_type")].alias("idx"),
            segment.cast("string").alias("seg"),
        ).alias("ev"),
    )
    zero = F.struct(
        F.lit(0).alias("depth"), F.lit(None).cast("string").alias("seg")
    )
    advance = lambda acc, e: F.when(  # noqa: E731
        e["idx"] == acc["depth"],
        F.struct(
            (acc["depth"] + 1).alias("depth"),
            F.when(acc["depth"] == 0, e["seg"]).otherwise(acc["seg"]).alias("seg"),
        ),
    ).otherwise(acc)
    folded = evs.groupBy("user_id").agg(
        F.aggregate(F.array_sort(F.collect_list("ev")), zero, advance).alias("acc")
    )
    depths = folded.select(
        "user_id", F.col("acc.depth").alias("depth"), F.col("acc.seg").alias("seg")
    )
    return _prefix_counts(depths, steps, group_after=("seg",))


def retention_filtered(
    events: DataFrame,
    first_type: str = "signup",
    return_type: str = "purchase",
) -> DataFrame:
    """Retention with CONFIGURED first/return actions — Rakam's
    retention report ("users who did X, who came back and did Y"):
    cohort = week of the user's first ``first_type`` event (users
    without one are excluded); cell (cohort_week, week_offset) counts
    distinct cohort users with a ``return_type`` event in that week
    (offset 0 = the cohort week itself).

    Same single-pass shape as :func:`retention_cohorts`: ONE
    ``user_id`` groupBy computes the conditional first-X timestamp AND
    the distinct Y-weeks (``collect_set`` — bounded by calendar weeks,
    never event volume); explode + a cell-level agg over
    ≤ users×weeks rows. Two exchanges total."""
    per_user = events.groupBy("user_id").agg(
        F.date_trunc(
            "week",
            F.min(F.when(F.col("event_type") == first_type, F.col("ts"))),
        ).alias("cohort_wk"),
        F.collect_set(
            F.when(
                F.col("event_type") == return_type,
                F.date_trunc("week", F.col("ts")),
            )
        ).alias("wks"),
    )
    return (
        per_user.filter(F.col("cohort_wk").isNotNull())
        .select("cohort_wk", F.explode("wks").alias("wk"))
        .filter(F.col("wk") >= F.col("cohort_wk"))
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            (
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk")) / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: cohort = week of a user's first event;
    cell (cohort_week, week_offset) counts distinct users from that
    cohort active ``week_offset`` weeks later.

    Single pass: ONE ``user_id`` groupBy computes the cohort week AND
    the distinct active weeks (``collect_set``, bounded by weeks of
    history — ~52/year — never by event volume), then explode + a
    cell-level agg over ≤ users×weeks rows. The textbook
    firsts⋈activity formulation costs two scans and four exchanges;
    this is one scan and two."""
    per_user = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("wks"),
    )
    return (
        per_user.select(
            "cohort_wk", F.explode("wks").alias("wk")
        )
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def segmentation(events: DataFrame) -> DataFrame:
    """Rakam event segmentation: events per (event_type, day,
    JSON-prop bucket) with distinct-user and value measures. The
    dynamic-schema prop (`props` JSON, Rakam's schemaless columns —
    SURVEY §1.3) is extracted and bucketed JVM-side."""
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy(
        F.col("event_type"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.floor(k / 25).alias("k_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def top_transitions(events: DataFrame, k: int | None = 10) -> DataFrame:
    """Top-k event-type bigrams (user paths): per-user ``lead`` over
    the deterministic event order, then a global count. One user
    shuffle + one bigram agg; top-k is a TakeOrdered, not a sort.
    ``k=None`` returns all transitions (unordered set semantics)."""
    w = Window.partitionBy("user_id").orderBy(*_event_order())
    pairs = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    if k is None:
        return counts
    return counts.orderBy(F.desc("n"), "src", "dst").limit(k)


def active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling distinct active users (DAU + WAU-style trailing window)
    per day.

    Rolling COUNT(DISTINCT) can't be a window function (neither engine
    supports it); the scalable shape is: dedup to (user, day) — the
    only corpus-sized shuffle — then a *calendar range join* against
    the distinct day list (broadcast, |days| rows) and a cell agg over
    ≤ users×days rows. Output is calendar-bounded."""
    user_days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    days = user_days.select(F.col("day").alias("anchor")).distinct()
    span = F.datediff(F.col("anchor"), F.col("day"))
    return (
        user_days.join(
            F.broadcast(days), (span >= 0) & (span < window_days)
        )
        .groupBy(F.date_format("anchor", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count_distinct(
                F.when(F.col("day") == F.col("anchor"), F.col("user_id"))
            ).alias("dau"),
            F.count_distinct("user_id").alias("wau"),
        )
    )


def daily_anomaly(events: DataFrame, trailing_days: int = 7) -> DataFrame:
    """Per-(event_type, day) volume with a trailing-window z-score —
    the alerting query of an event-analytics product. Daily counts
    are calendar-bounded, so the window pass is over tiny data; the
    one corpus-sized operation is the initial day×type agg."""
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").cast("long"))
        .rangeBetween(-trailing_days * 86400, -86400)
    )
    mean = F.avg("n").over(w)
    sd = F.stddev_samp("n").over(w)
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round(mean, 2).alias("trailing_mean"),
        F.round(
            F.when(sd > 0, (F.col("n") - mean) / sd), 2
        ).alias("z_score"),
    )


def ab_test(
    events: DataFrame, goal: str = "purchase", min_value: float = 150.0
) -> DataFrame:
    """Two-variant experiment readout: users are hash-assigned
    (``user_id % 2`` — the deterministic assignment an event pipeline
    uses), conversion = reached the goal event above ``min_value``;
    output is one row with per-variant exposure/conversion counts,
    rates, and the pooled two-proportion z statistic (NULL when pooled
    conversion is degenerate 0/1).

    Cross-engine determinism: counts are integers; every float step
    (rates, pooled p, the z formula) is a chain of IEEE exactly-rounded
    ops (+,−,×,÷,sqrt) over identical inputs in the identical
    expression shape, so the oracle replays it bit-for-bit. One
    corpus-sized shuffle (per-user agg); the variant rollup is 2 rows."""
    per_user = events.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == goal) & (F.col("value") > min_value)).cast("int")
        ).alias("converted")
    )
    v = per_user.select(
        (F.col("user_id") % 2).alias("variant"), "converted"
    )
    wide = v.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = F.when(
        (pooled > 0) & (pooled < 1),
        (p_a - p_b)
        / F.sqrt(
            pooled
            * (F.lit(1.0) - pooled)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    )
    return wide.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(p_a, 4).alias("rate_a"),
        F.round(p_b, 4).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
    )


def user_rfm(events: DataFrame) -> DataFrame:
    """Recency / frequency / monetary per user, relative to the
    corpus's last purchase timestamp (a broadcast scalar): days since
    last purchase, purchase count, total purchase value."""
    purchases = events.filter(F.col("event_type") == "purchase")
    per_user = purchases.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    anchor = purchases.agg(F.max(F.date_trunc("day", "ts")).alias("anchor"))
    return per_user.join(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("anchor"), F.date_trunc("day", "last_ts")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_days: int = 7,
) -> DataFrame:
    """Marketing attribution (the Rakam 'which campaign drove this
    purchase' query): each conversion is attributed to the user's most
    recent touch event at or before it in (ts, event_id) order —
    'none' if no touch exists within ``window_days`` — with the
    user's first-ever touch carried alongside (the classic
    last-touch / first-touch pair).

    Shuffle budget: ONE ``user_id`` exchange feeds both running
    windows (last/first touch carry via IGNORE NULLS over the same
    ordered frame) — the textbook per-conversion as-of join against
    the touch stream would shuffle both sides and skew on hot users;
    the running-carry form is the same single-pass shape as
    sessionize. The interval check is exact microsecond integer
    arithmetic on both engines."""
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin(*touch_types)
    t_ts = F.when(is_touch, F.col("ts"))
    t_type = F.when(is_touch, F.col("event_type"))
    carried = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(t_ts, ignorenulls=True).over(w).alias("_lt_ts"),
        F.last(t_type, ignorenulls=True).over(w).alias("_lt_type"),
        F.first(t_type, ignorenulls=True).over(w).alias("first_touch"),
    )
    within = F.col("_lt_ts").isNotNull() & (
        F.col("_lt_ts") >= F.col("ts") - F.expr(f"INTERVAL {window_days} DAYS")
    )
    return carried.filter(F.col("event_type") == conversion_type).select(
        "user_id",
        F.col("event_id").alias("conversion_id"),
        F.when(within, F.col("_lt_type")).otherwise(F.lit("none")).alias(
            "attributed_touch"
        ),
        F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
    )


def funnel_trend(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """Funnel over time (the Rakam funnel-trend chart): each calendar
    week's events evaluated as an independent ordered funnel —
    (week, step, users reaching step). Same one-corpus-shuffle sorted
    fold as :func:`funnel` with the week riding in the grouping key:
    the shuffle is keyed (week, user), so adding the time grain costs
    nothing extra, and step counts shuffle ≤ users×weeks rows."""
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    evs = events.filter(F.col("event_type").isin(list(steps))).select(
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("wk"),
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"), step_idx[F.col("event_type")].alias("idx")
        ).alias("ev"),
    )
    depth = F.aggregate(
        F.array_sort(F.collect_list("ev")),
        F.lit(0),
        lambda acc, ev: F.when(ev["idx"] == acc, acc + 1).otherwise(acc),
    )
    depths = evs.groupBy("wk", "user_id").agg(depth.alias("depth"))
    return _prefix_counts(depths, steps, group_before=("wk",))


def funnel_unordered(
    events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """Unordered funnel (Rakam's strict-ordering toggle OFF): for each
    prefix of ``steps``, how many users performed ALL of the prefix's
    event types in ANY order. Set semantics, not sequence: one
    groupBy(user) with per-type boolean maxes — no sort, no fold, and
    the step table joins on the count of distinct prefix types seen.
    Always ≥ the ordered funnel at every step (tested)."""
    flags = [
        F.max((F.col("event_type") == s).cast("int")).alias(f"_s{i}")
        for i, s in enumerate(steps)
    ]
    per_user = (
        events.filter(F.col("event_type").isin(list(steps)))
        .groupBy("user_id")
        .agg(*flags)
    )
    # depth = longest prefix fully covered: min over prefix of flags
    depth = None
    prefix_all = None
    for i in range(len(steps)):
        prefix_all = (
            F.col(f"_s{i}") if prefix_all is None else F.least(prefix_all, F.col(f"_s{i}"))
        )
        contrib = prefix_all
        depth = contrib if depth is None else depth + contrib
    per_user = per_user.select("user_id", depth.alias("depth"))
    return _prefix_counts(per_user, steps)


def stickiness(events: DataFrame) -> DataFrame:
    """Engagement stickiness per calendar month — avg(DAU)/MAU, the
    "how habitual is usage" product metric next to retention. ONE
    corpus scan: distinct (month, day, user) triples (the only
    corpus-sized shuffle, map-side partial distinct), from which both
    grains reaggregate — daily actives per day, monthly actives as
    distinct users over the triples — so the corpus is never scanned
    twice. Output rows = months (tiny)."""
    triples = events.select(
        F.date_format("ts", "yyyy-MM").alias("mo"),
        F.to_date("ts").alias("day"),
        "user_id",
    ).distinct()
    return stickiness_from_triples(triples)


def stickiness_from_triples(triples: DataFrame) -> DataFrame:
    """Finish half over the distinct (month, day, user) triples — the
    accumulable part: the triple set is a streaming groupBy, so
    `stream_stickiness` drains it in complete mode and reuses this
    exact tail (the fold-then-finish contract of `stream_hll_users` /
    `stream_retention`)."""
    daily = triples.groupBy("mo", "day").agg(
        F.count("*").alias("dau")
    )
    # the monthly branch renames its key before the join: both sides
    # derive from the SAME triples plan, and a drained (memory-sink)
    # stream yields identical attribute ids that make the self-join
    # ambiguous where a file-sourced plan would auto-dedup
    monthly = (
        triples.select(F.col("mo").alias("_mo"), "user_id")
        .distinct()
        .groupBy("_mo")
        .agg(F.count("*").alias("mau"))
    )
    per_day = daily.groupBy("mo").agg(
        F.count("*").alias("n_days"), F.sum("dau").alias("sum_dau")
    )
    return (
        per_day.join(monthly, per_day["mo"] == monthly["_mo"])
        .select(
            F.col("mo").alias("month"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("mau").cast("long").alias("mau"),
            F.expr(
                "round(sum_dau * 1.0 / (n_days * mau), 6)"
            ).cast("double").alias("stickiness"),
        )
    )


def stickiness_oracle(table: str = "events") -> str:
    return f"""
    WITH triples AS (
      SELECT DISTINCT strftime(ts, '%Y-%m') AS mo, CAST(ts AS DATE) AS day,
             user_id
      FROM {table}),
    daily AS (SELECT mo, day, count(*) AS dau FROM triples GROUP BY mo, day),
    per_day AS (SELECT mo, count(*) AS n_days, sum(dau) AS sum_dau
                FROM daily GROUP BY mo),
    monthly AS (SELECT mo, count(*) AS mau
                FROM (SELECT DISTINCT mo, user_id FROM triples) GROUP BY mo)
    SELECT p.mo AS month,
           CAST(p.n_days AS BIGINT) AS n_days,
           CAST(m.mau AS BIGINT) AS mau,
           round(p.sum_dau * 1.0 / (p.n_days * m.mau), 6) AS stickiness
    FROM per_day p JOIN monthly m ON p.mo = m.mo
    """


def retention_from_parts(per_user_min: DataFrame, user_weeks: DataFrame) -> DataFrame:
    """Finish half of the retention matrix from its two STREAMING-
    ACCUMULABLE parts: ``per_user_min`` = (user_id, min_ts) — min is
    associative/commutative, so it runs as a complete-mode streaming
    aggregation — and ``user_weeks`` = distinct (user_id, wk), a
    streaming groupBy. Joining and bucketing the ≤ users×weeks rows is
    the same tail as :func:`retention_cohorts`; equality with the
    batch matrix is exact because both halves accumulate to the same
    fixpoint regardless of micro-batch cuts (the `stream_hll_users`
    fold-then-finish pattern)."""
    firsts = per_user_min.select(
        "user_id", F.date_trunc("week", F.col("min_ts")).alias("cohort_wk")
    )
    return (
        user_weeks.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def segmentation_from_user_cells(cells: DataFrame) -> DataFrame:
    """Finish half of :func:`segmentation` from its streaming-
    accumulable part: per (event_type, day, k_bucket, USER) event
    counts and value sums — a plain streaming groupBy (counts and sums
    are associative). The regroup collapses users into the cell
    measures: distinct users = one row per user by construction. The
    fourth fold-then-finish rollup (HLL, retention, stickiness)."""
    return cells.groupBy("event_type", "day", "k_bucket").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("sv"), 2).alias("sum_value"),
    )


def lifecycle(events: DataFrame) -> DataFrame:
    """Weekly growth accounting (round 8): every active (user, week)
    classified as NEW (first-ever active week), RETAINED (also active
    the immediately preceding week), or RESURRECTED (returning after a
    gap), plus CHURNED — users active in week w−1 but not in w,
    attributed to w (capped at the last observed week: churn beyond the
    data's edge is unknowable, not zero). The new/retained/resurrected/
    churned quad is the standard growth-accounting decomposition.

    Shape: ONE corpus shuffle — distinct (user, week) pairs fold into a
    per-user sorted week array (partial-agg'd collect_set, bounded by
    weeks-of-history ~52/yr, the `retention_cohorts` discipline); the
    neighbor lookups (prev/next week) are then a shuffle-free HOF
    projection over each user's array, and the final week rollup groups
    ≤ |weeks| keys. No window over the corpus, no self-join."""
    pairs = events.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return lifecycle_from_pairs(pairs)


def lifecycle_from_pairs(pairs: DataFrame) -> DataFrame:
    """Finish half of :func:`lifecycle` from its streaming-accumulable
    part: the distinct (user, week) activity pairs — a plain streaming
    groupBy (distinctness is idempotent-associative). The eighth
    fold-then-finish rollup; the finish touches only the users × weeks
    state, never raw events."""
    per_user = pairs.groupBy("user_id").agg(
        F.sort_array(F.collect_set("wk")).alias("ws")
    )
    max_wk = F.broadcast(pairs.agg(F.max("wk").alias("_max_wk")))
    steps = per_user.selectExpr(
        """
        explode(transform(ws, (w, i) -> named_struct(
            'wk', w,
            'prev', IF(i = 0, CAST(NULL AS TIMESTAMP), ws[i - 1]),
            'next', IF(i = size(ws) - 1, CAST(NULL AS TIMESTAMP), ws[i + 1])
        ))) AS s
        """
    ).select("s.*")
    status = steps.select(
        F.col("wk"),
        F.when(F.col("prev").isNull(), F.lit("new"))
        .when(F.datediff("wk", "prev") == 7, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("status"),
    ).unionAll(
        steps.filter(
            F.col("next").isNull() | (F.datediff("next", "wk") > 7)
        )
        .select(
            (F.col("wk") + F.expr("INTERVAL 7 DAYS")).alias("wk"),
            F.lit("churned").alias("status"),
        )
        .join(max_wk)
        .filter(F.col("wk") <= F.col("_max_wk"))
        .select("wk", "status")
    )
    return status.groupBy(
        F.date_format("wk", "yyyy-MM-dd").alias("week")
    ).agg(
        F.sum((F.col("status") == "new").cast("long")).cast("long").alias("n_new"),
        F.sum((F.col("status") == "retained").cast("long"))
        .cast("long")
        .alias("n_retained"),
        F.sum((F.col("status") == "resurrected").cast("long"))
        .cast("long")
        .alias("n_resurrected"),
        F.sum((F.col("status") == "churned").cast("long"))
        .cast("long")
        .alias("n_churned"),
    )


def lifecycle_oracle(table: str = "events") -> str:
    """DuckDB twin via per-user window lag/lead (values, not plan)."""
    return f"""
    WITH pairs AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM {table}
    ), seq AS (
      SELECT user_id, wk,
             lag(wk) OVER w AS prev, lead(wk) OVER w AS next
      FROM pairs WINDOW w AS (PARTITION BY user_id ORDER BY wk)
    ), mx AS (SELECT max(wk) AS max_wk FROM pairs),
    status AS (
      SELECT wk, CASE WHEN prev IS NULL THEN 'new'
                      WHEN date_diff('day', prev, wk) = 7 THEN 'retained'
                      ELSE 'resurrected' END AS status
      FROM seq
      UNION ALL
      SELECT wk + INTERVAL 7 DAY AS wk, 'churned' AS status
      FROM seq, mx
      WHERE (next IS NULL OR date_diff('day', wk, next) > 7)
        AND wk + INTERVAL 7 DAY <= max_wk
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week,
           CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resurrected,
           CAST(sum(CASE WHEN status = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned
    FROM status GROUP BY 1
    """


def peak_concurrency(
    events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Peak concurrent sessions (round 8): the maximum number of
    simultaneously-open sessions over the whole stream, with the first
    instant it was reached — the "how many users are on RIGHT NOW at
    our busiest" number a live-ops dashboard shows. Sessions come from
    the same gap sessionizer as `user_session_stats`; a session is
    active over the half-open interval [first_event, last_event): the
    classic sweep-line — every session contributes a (+1 at start,
    −1 at end) boundary, ties process −1 first (half-open: a session
    ending exactly when another starts does not overlap it), and the
    running sum of deltas IS the concurrency curve.

    The running sum is the DISTRIBUTED exact cumsum
    (`operators/ranks.py:with_global_cumsum` — frozen-boundary
    buckets, per-bucket sum offsets, no single-partition ORDER BY
    window, which is what the textbook sum-over-global-window plans).
    Cost: one user-keyed shuffle (sessionize + session agg), one
    boundary-keyed exchange for the cumsum over 2·sessions rows, and a
    2-row finish."""
    sess = (
        sessionize(events, gap_minutes)
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
    )
    from presto_rakam_kafka_spark.operators.ranks import eager_pin

    # pin the intervals: the boundary union consumes sess TWICE and the
    # distributed cumsum evaluates its input more than once — without
    # the pin the per-user sessionize windows re-run 4+ times (measured
    # 19.6 s at sf0.1). Fault-tolerant reliable checkpoint, not
    # localCheckpoint: executor loss re-reads durable partitions
    # instead of failing the job
    sess = eager_pin(sess)
    # integer-microsecond order key: the cumsum's frozen-literal bucket
    # boundaries must embed as plain SQL literals, which timestamps
    # can't — micros order == timestamp order exactly
    bounds = sess.select(
        F.col("st").alias("bts"), F.lit(1).alias("delta"),
        "user_id", "session_seq",
    ).unionAll(
        sess.select(
            F.col("en").alias("bts"), F.lit(-1).alias("delta"),
            "user_id", "session_seq",
        )
    ).withColumn("bus", F.unix_micros("bts"))
    from presto_rakam_kafka_spark.operators.ranks import with_global_cumsum

    curve = with_global_cumsum(
        bounds,
        ["bus", "delta", "user_id", "session_seq"],
        "delta",
        cum_col="conc",
        persist=True,
    )
    # finish in ONE aggregate: max over (conc, -bus) picks the peak and,
    # among peak ties, the earliest boundary instant — argmax-by-struct
    # instead of the round-8 peak-broadcast + equality-join + re-agg
    # (which consumed the curve twice and needed an eager_pin to avoid
    # recomputing the cumsum; one pass needs neither the pin nor the
    # join). bus = unix_micros(bts) is injective, so max(-bus) IS the
    # min bts; bts rides along in the struct for the finish projection.
    best = curve.groupBy().agg(
        F.max(
            F.struct(
                F.col("conc"),
                (-F.col("bus")).alias("neg_bus"),
                F.col("bts"),
            )
        ).alias("s")
    )
    return best.select(
        F.col("s.conc").cast("long").alias("peak_concurrent"),
        F.date_format(F.col("s.bts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_peak_ts"
        ),
    )


def peak_concurrency_oracle(
    table: str = "events", gap_minutes: int = SESSION_GAP_MINUTES
) -> str:
    """DuckDB twin: same sessionizer, same half-open sweep-line, the
    cumsum as a plain global window (values, not plan)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
                  THEN 1 ELSE 0 END AS new_sess
      FROM {table}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess_ids AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ), sess AS (
      SELECT user_id, session_seq, min(ts) AS st, max(ts) AS en
      FROM sess_ids GROUP BY user_id, session_seq
    ), b AS (
      SELECT st AS bts, 1 AS delta, user_id, session_seq FROM sess
      UNION ALL
      SELECT en, -1, user_id, session_seq FROM sess
    ), c AS (
      SELECT bts, sum(delta) OVER (ORDER BY bts, delta, user_id, session_seq
                                   ROWS UNBOUNDED PRECEDING) AS conc
      FROM b
    ), m AS (SELECT max(conc) AS peak FROM c)
    SELECT CAST(max(peak) AS BIGINT) AS peak_concurrent,
           strftime(min(bts), '%Y-%m-%d %H:%M:%S') AS first_peak_ts
    FROM c, m WHERE conc = peak
    """


def holt_forecast(
    events: DataFrame,
    horizon: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    group_col: str = "event_type",
) -> DataFrame:
    """Per-series event-volume FORECAST: Holt's linear (double)
    exponential smoothing over the dense daily-count series, projecting
    ``horizon`` days ahead — the "where is this metric going" panel
    every analytics product ships next to its anomaly panel
    (`anomaly_days` flags the past, this extrapolates the future).

    Level/trend fold: ``l₀=y₀, b₀=y₁−y₀``, then for each day
    ``l' = α·y + (1−α)·(l+b);  b' = β·(l'−l) + (1−β)·b``; the h-step
    forecast is ``l_T + h·b_T``. Defaults are DYADIC (α=0.5, β=0.25) so
    every smoothing coefficient is exact in IEEE doubles and the DuckDB
    recursive-CTE replay is bit-identical — no rounding needed on the
    output at all (the same discipline as the sketch estimators).

    Plan: ONE corpus-sized aggregation (daily counts per series); the
    dense day grid (`sequence` + explode), the per-series fold (an
    Arrow `applyInPandas` over days-per-series rows — tens of KB per
    series at ANY corpus size), and the horizon cross join all run on
    the tiny rollup. At 100 TB the daily-count table IS the stored
    rollup; re-forecasting is rollup-only work."""
    daily = events.groupBy(
        F.col(group_col), F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    return holt_forecast_from_daily(
        daily, horizon=horizon, alpha=alpha, beta=beta, group_col=group_col
    )


def holt_forecast_from_daily(
    daily: DataFrame,
    horizon: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    group_col: str = "event_type",
) -> DataFrame:
    """The Holt finish driven by a prebuilt DAILY-COUNT table
    ``(group, day, y)`` — the frame the streaming twin drains (daily
    counts are an associative fold, so the same groupBy runs as a
    complete-mode streaming aggregation and this finish is shared
    verbatim)."""
    import pandas as pd

    a, b_ = float(alpha), float(beta)
    one_a, one_b = 1.0 - a, 1.0 - b_
    span = daily.groupBy(group_col).agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        group_col,
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    # rename the joined leg: grid derives FROM daily, and when daily is
    # a drained streaming memory table the self-join's attributes
    # conflict at analysis (the stream_cohort_ltv lesson)
    d2 = daily.select(
        F.col(group_col).alias("_g2"),
        F.col("day").alias("_d2"),
        F.col("y"),
    )
    series = (
        grid.join(
            d2,
            (F.col(group_col) == F.col("_g2")) & (F.col("day") == F.col("_d2")),
            "left",
        )
        .withColumn("y", F.coalesce(F.col("y"), F.lit(0)).cast("double"))
        .drop("_g2", "_d2")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = [float(v) for v in pdf["y"]]
        lvl = ys[0]
        trend = (ys[1] - ys[0]) if len(ys) > 1 else 0.0
        for y in ys[1:]:
            new_lvl = a * y + one_a * (lvl + trend)
            trend = b_ * (new_lvl - lvl) + one_b * trend
            lvl = new_lvl
        g = pdf[group_col].iloc[0]
        return pd.DataFrame(
            {
                group_col: [g] * horizon,
                "h": list(range(1, horizon + 1)),
                "forecast": [lvl + h * trend for h in range(1, horizon + 1)],
            }
        )

    return series.select(group_col, "day", "y").groupBy(group_col).applyInPandas(
        fold, f"{group_col} STRING, h INT, forecast DOUBLE"
    )


def holt_forecast_oracle(
    table: str = "events",
    horizon: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    group_col: str = "event_type",
) -> str:
    """DuckDB twin: the identical fold as a recursive CTE — same dyadic
    coefficients, same operation order, bit-identical doubles."""
    a, b_ = float(alpha), float(beta)
    one_a, one_b = 1.0 - a, 1.0 - b_
    lnew = f"{a!r}*s.y + {one_a!r}*(r.l + r.b)"
    return f"""
    WITH RECURSIVE daily AS (
      SELECT {group_col}, date_trunc('day', ts) AS day, count(*) AS y
      FROM {table} GROUP BY 1, 2
    ), span AS (
      SELECT {group_col}, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ), grid AS (
      SELECT {group_col},
             unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM span
    ), series AS (
      SELECT g.{group_col}, g.day,
             CAST(coalesce(d.y, 0) AS DOUBLE) AS y,
             row_number() OVER (PARTITION BY g.{group_col}
                                ORDER BY g.day) - 1 AS idx
      FROM grid g LEFT JOIN daily d
        ON d.{group_col} = g.{group_col} AND d.day = g.day
    ), n AS (
      SELECT {group_col}, max(idx) AS maxidx FROM series GROUP BY 1
    ), rec AS (
      SELECT s0.{group_col}, 0 AS idx, s0.y AS l,
             coalesce(s1.y - s0.y, 0.0) AS b
      FROM series s0 LEFT JOIN series s1
        ON s1.{group_col} = s0.{group_col} AND s1.idx = 1
      WHERE s0.idx = 0
      UNION ALL
      SELECT r.{group_col}, r.idx + 1,
             {lnew},
             {b_!r}*(({lnew}) - r.l) + {one_b!r}*r.b
      FROM rec r JOIN series s
        ON s.{group_col} = r.{group_col} AND s.idx = r.idx + 1
    ), fin AS (
      SELECT r.{group_col}, r.l, r.b
      FROM rec r JOIN n ON n.{group_col} = r.{group_col} AND r.idx = n.maxidx
    )
    SELECT fin.{group_col}, CAST(hs.h AS INT) AS h,
           fin.l + hs.h * fin.b AS forecast
    FROM fin, (SELECT unnest(generate_series(1, {horizon})) AS h) hs
    """


def audience_rule(
    events: DataFrame,
    include_type: str = "purchase",
    min_count: int = 3,
    exclude_type: str = "error",
    window_days: int = 30,
) -> DataFrame:
    """Audience builder — Rakam's segment-export feature: the user set
    matching a behavioral INCLUDE rule (did ``include_type`` at least
    ``min_count`` times within the trailing ``window_days`` ending at
    the corpus max-ts) minus a behavioral EXCLUDE rule (did
    ``exclude_type`` in the same window at all), with the evidence
    columns an activation/export pipeline wants (count, first/last
    occurrence, total value).

    ONE corpus shuffle: the window filter is a scan predicate against
    the broadcast max-ts scalar, both rules fold in a single per-user
    conditional aggregate (count_if / max_by shapes — never two scans,
    never a join between the include and exclude legs), and the
    exclude is a HAVING on that aggregate, not an anti-join. Output is
    user-bounded, corpus-independent."""
    mx = F.broadcast(events.groupBy().agg(F.max("ts").alias("_max_ts")))
    w = (
        events.join(mx)
        .filter(
            F.col("ts")
            >= F.col("_max_ts") - F.expr(f"INTERVAL {window_days} DAYS")
        )
        .filter(F.col("event_type").isin([include_type, exclude_type]))
    )
    inc = F.col("event_type") == include_type
    agg = w.groupBy("user_id").agg(
        F.sum(F.when(inc, 1).otherwise(0)).alias("n_include"),
        F.sum(F.when(~inc, 1).otherwise(0)).alias("n_exclude"),
        F.min(F.when(inc, F.col("ts"))).alias("first_ts"),
        F.max(F.when(inc, F.col("ts"))).alias("last_ts"),
        F.round(F.sum(F.when(inc, F.col("value")).otherwise(0.0)), 2).alias(
            "sum_value"
        ),
    )
    return agg.filter(
        (F.col("n_include") >= min_count) & (F.col("n_exclude") == 0)
    ).select(
        "user_id",
        F.col("n_include").cast("long").alias("n_events"),
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "sum_value",
    )
