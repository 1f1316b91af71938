"""Behavioral/event analytics (SURVEY §2C extension surface): sequential
funnel analysis and user-lifecycle summaries over the events stream —
the clickstream-analytics family (the host-engine workload the reference
serves when the store holds product event logs).

Scale notes (100 TB):

* The funnel is K user-keyed aggregations + K-1 user-keyed equi-joins;
  each step's input is type-filtered AT THE SCAN (pushed predicate) and
  each step frame only shrinks (step k+1 is a subset of step k's users),
  so the join sides decrease monotonically.  No window over the whole
  event stream, no per-user event collection.
* The lifecycle summary is one groupBy(user) with distinct-day counting
  — partial aggregation does the heavy lifting map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.plans.materialize import barrier
from cubefs_hadoop_spark.registry import register

_X25_STEPS = ("view", "click", "purchase")
_X25_WINDOW = "interval 1 hour"

_X25_ORACLE = """
WITH a AS (SELECT user_id, MIN(ts) AS ta FROM events
           WHERE event_type = 'view' GROUP BY user_id),
b AS (SELECT e.user_id, MIN(e.ts) AS tb FROM events e JOIN a USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > a.ta
        AND e.ts <= a.ta + INTERVAL 1 HOUR GROUP BY e.user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS tc FROM events e JOIN b USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > b.tb
        AND e.ts <= b.tb + INTERVAL 1 HOUR GROUP BY e.user_id)
SELECT a.user_id, a.ta, b.tb, c.tc
FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
ORDER BY user_id, ta, tb, tc"""


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = _X25_STEPS,
    window: str = _X25_WINDOW,
) -> DataFrame:
    """Sequential conversion funnel: per user, the first time of step 1,
    then the first step-2 event WITHIN ``window`` AFTER it, then step 3
    after that, ... — NULL from the first step a user never completes.

    Each step is min-aggregated AFTER an equi-join against the previous
    step's (user, time) frame with the window as a residual predicate;
    event-type filters push to the scan, and the step frames shrink
    monotonically (step k+1's users ⊆ step k's)."""
    ev = events.select("user_id", "event_type", "ts")
    prev = (
        ev.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    out = prev
    for i, step in enumerate(steps[1:], start=1):
        cur = (
            ev.filter(F.col("event_type") == step)
            .join(prev.select("user_id", f"t{i-1}"), "user_id")
            .filter(
                (F.col("ts") > F.col(f"t{i-1}"))
                & (F.col("ts") <= F.col(f"t{i-1}") + F.expr(window))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t{i}"))
        )
        out = out.join(cur, "user_id", "left")
        prev = cur
    return out


@register("x25_funnel", _X25_ORACLE)
def x25_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25 view -> click -> purchase funnel, 1-hour step windows, per-user
    step timestamps (NULL where the funnel broke)."""
    return (
        funnel(load(spark, sf_dir, "events"))
        .select(
            "user_id",
            F.col("t0").alias("ta"),
            F.col("t1").alias("tb"),
            F.col("t2").alias("tc"),
        )
        .orderBy("user_id", "ta", "tb", "tc")
    )


_X26_ORACLE = """
SELECT user_id,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
       MIN(CAST(ts AS DATE)) AS first_day,
       MAX(CAST(ts AS DATE)) AS last_day,
       CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT) + 1
           AS span_days
FROM events GROUP BY user_id
ORDER BY user_id, active_days, first_day, last_day, span_days"""


def lifecycle_summary(events: DataFrame) -> DataFrame:
    """Per-user activity lifecycle: distinct active days, first/last day,
    and calendar span — the retention-analysis base table.  One
    groupBy(user); distinct-day counting partial-aggregates map-side."""
    day = F.col("ts").cast("date")
    return events.groupBy("user_id").agg(
        F.count_distinct(day).cast("long").alias("active_days"),
        F.min(day).alias("first_day"),
        F.max(day).alias("last_day"),
        (F.datediff(F.max(day), F.min(day)) + 1)
        .cast("long")
        .alias("span_days"),
    )


@register("x26_lifecycle", _X26_ORACLE)
def x26_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 user lifecycle summary over events."""
    return lifecycle_summary(load(spark, sf_dir, "events")).orderBy(
        "user_id", "active_days", "first_day", "last_day", "span_days"
    )


# -- x34: sessionization ----------------------------------------------------

_X34_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _epoch_us(events: DataFrame, ts_col: str) -> F.Column:
    """Exact integer epoch-microseconds for gap arithmetic.  An NTZ
    column only converts through an LTZ cast that interprets wall time
    in the SESSION timezone — under a DST-shifting zone that cast warps
    gaps across transitions (spring-forward inflates a 15-min gap past
    75 min), so refuse anything but a fixed-at-zero offset rather than
    mis-compute (shared by sessionize and x91)."""
    from pyspark.sql import types as T

    ts_type = events.schema[ts_col].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"column {ts_col!r} is TIMESTAMP_NTZ and the session "
                f"timezone is {tz!r}; epoch arithmetic on NTZ wall time "
                "is only gap-safe under UTC — set "
                "spark.sql.session.timeZone=UTC or pass a TIMESTAMP (ltz) "
                "column"
            )
        return F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    return F.unix_micros(F.col(ts_col))

_X34_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_X34_GAP_US}
              THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
  FROM o)
SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS events,
       CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, sess
ORDER BY user_id, session_idx"""


def sessionize(
    events: DataFrame,
    gap_us: int = _X34_GAP_US,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sessionization: split each user's event stream into sessions at
    inactivity gaps > ``gap_us`` microseconds, then summarize per session
    (start, end, event count, duration) — the clickstream base table
    every engagement/attribution query builds on.  Gap arithmetic runs
    on exact integer epoch-microseconds (no interval/rounding semantics
    to disagree on), and ordering tiebreaks on the unique event id, so
    output is fully deterministic.

    Plan shape at 100 TB: ONE user-keyed shuffle — the session-boundary
    lag and the running session counter share the same window spec, and
    the per-(user, session) aggregate's clustering requirement is already
    satisfied by the window's hash partitioning on user (no second
    exchange; the plan gate pins exactly one).  State per user is one
    row, never a collected event array."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    us = _epoch_us(events, ts_col)
    flag = F.when(
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > gap_us), 1
    ).otherwise(0)
    return (
        events.select(user_col, tiebreak_col, ts_col)
        .withColumn("sess", F.sum(flag).over(w))
        .groupBy(user_col, "sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("events"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
        .select(
            user_col,
            F.col("sess").cast("long").alias("session_idx"),
            "session_start",
            "session_end",
            "events",
            "duration_us",
        )
    )


@register("x34_sessionize", _X34_ORACLE)
def x34_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 sessionization: 30-minute-gap sessions over the event stream,
    one user-keyed shuffle."""
    return sessionize(load(spark, sf_dir, "events")).orderBy(
        "user_id", "session_idx"
    )


def sessionize_bucketed(
    events: DataFrame,
    gap_us: int = _X34_GAP_US,
    bucket_us: int = 24 * 3600 * 1_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Skew-safe sessionization: bit-identical to :func:`sessionize`,
    but the event-grain window partitions on (user, time-bucket) so a
    HOT user's stream splits across buckets instead of serializing
    through one task's sort (AQE skew-splitting covers joins only —
    a skewed WINDOW exchange has no runtime remedy, so the remedy is
    the key).  VERDICT r7 item 4.

    Two-level stitching: bucket-local sessions are built exactly like
    :func:`sessionize` within each (user, bucket); boundary merges are
    decided on the BUCKET-GRAIN frame (one row per active (user,
    bucket) — for a bot user owning 10%% of a 100 TB corpus that is
    #buckets rows, not #events) by a per-user window ordered by bucket:
    the first local session of a bucket is the same session as the last
    of the previous ACTIVE bucket iff the boundary gap <= gap_us, and a
    running merge count re-numbers every downstream session.  Spanning
    chains (one session crossing many buckets) fold through the running
    sum; summaries combine by min/max/sum, which is exactly the
    session-aggregate algebra.  Requires ``bucket_us >= gap_us`` (it is
    by 48x at the defaults) only for intuition, not correctness — the
    lag is over active buckets, so an empty bucket inside a still-open
    gap stitches fine."""
    from pyspark.sql import types as T

    ts_type = events.schema[ts_col].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"sessionize_bucketed: column {ts_col!r} is TIMESTAMP_NTZ "
                f"and the session timezone is {tz!r}; see sessionize"
            )
        us = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    else:
        us = F.unix_micros(F.col(ts_col))

    base = events.select(
        user_col,
        tiebreak_col,
        ts_col,
        us.alias("us"),
        F.floor(us / F.lit(int(bucket_us))).cast("long").alias("bkt"),
    )
    # level 1: bucket-local sessions — the event-grain window keys on
    # (user, bucket), the whole point
    wb = Window.partitionBy(user_col, "bkt").orderBy(ts_col, tiebreak_col)
    flag = F.when(
        F.lag("us").over(wb).isNull()
        | (F.col("us") - F.lag("us").over(wb) > gap_us),
        1,
    ).otherwise(0)
    local = (
        base.withColumn("lsess", F.sum(flag).over(wb))
        .groupBy(user_col, "bkt", "lsess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("events"),
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
        )
    )
    # level 2: bucket-grain stitch frame — one row per active (user,
    # bucket); the per-user window here is #active-buckets rows per user
    bstats = local.groupBy(user_col, "bkt").agg(
        F.max("lsess").cast("long").alias("k"),
        F.min("first_us").alias("bkt_first_us"),
        F.max("last_us").alias("bkt_last_us"),
    )
    wu = Window.partitionBy(user_col).orderBy("bkt")
    merged = F.when(
        (F.col("bkt_first_us") - F.lag("bkt_last_us").over(wu)) <= gap_us, 1
    ).otherwise(0)
    stitch = (
        bstats.withColumn(
            "s_before",
            F.coalesce(
                F.sum("k").over(wu.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("m_through", F.sum(merged).over(wu))
        .select(user_col, "bkt", "s_before", "m_through")
    )
    # gidx = sessions before this bucket + local idx - merges so far:
    # a merged bucket's first session lands exactly on the previous
    # bucket's last global index (proof in the docstring's algebra)
    return (
        local.join(stitch, [user_col, "bkt"])
        .withColumn(
            "gidx", F.col("s_before") + F.col("lsess") - F.col("m_through")
        )
        .groupBy(user_col, "gidx")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("events").alias("events"),
            (F.max("last_us") - F.min("first_us")).alias("duration_us"),
        )
        .select(
            user_col,
            F.col("gidx").cast("long").alias("session_idx"),
            "session_start",
            "session_end",
            "events",
            "duration_us",
        )
    )


# -- x52: key-skew profile (the pre-flight shuffle audit) --------------------
#
# Every user-keyed stage in this family (x25 funnel, x26 lifecycle, x34
# sessionize) shuffles on user_id, and the ONE thing that decides
# whether that exchange survives 100 TB is the key-frequency tail —
# AQE can split a skewed JOIN at runtime but not a skewed WINDOW, so
# the decision between x34 and x34b has to be made BEFORE the job runs.
# x52 is that decision's input: the top of the key-frequency
# distribution with exact milli shares, plus the corpus totals, from
# one partial-aggregated pass (aggregation is skew-immune — map-side
# combine collapses a hot key to one row per partition before the
# exchange, so profiling the skew never suffers from it).

_X52_TOP = 20

_X52_ORACLE = f"""
WITH g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY user_id),
t AS (SELECT CAST(SUM(c) AS BIGINT) AS nr, CAST(COUNT(*) AS BIGINT) AS nk
      FROM g),
o AS (SELECT user_id, c,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS BIGINT)
                 AS rk,
             CAST(SUM(c) OVER (ORDER BY c DESC, user_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM g)
SELECT rk, user_id, c AS n_events,
       CAST(1000 * c // t.nr AS BIGINT) AS share_milli,
       CAST(1000 * cum // t.nr AS BIGINT) AS cum_share_milli,
       t.nk AS n_keys, t.nr AS n_rows
FROM o CROSS JOIN t WHERE rk <= {_X52_TOP}
ORDER BY rk, user_id, n_events, share_milli, cum_share_milli"""


def key_skew_profile(
    df: DataFrame, key_col: str = "user_id", top: int = _X52_TOP
) -> DataFrame:
    """Top-``top`` key-frequency profile of ``df[key_col]`` with exact
    integer milli shares and corpus totals — the pre-flight audit for
    any key-partitioned shuffle (is the hottest key's share_milli big
    enough that a window on this key needs the x34b bucketed plan?).

    Scale shape: ONE partial-aggregated groupBy (skew-immune by
    map-side combine), TakeOrderedAndProject for the top slice, totals
    as plan literals from a driver-sized agg, and the only ordered
    window runs on the ``top``-row frame."""
    g = df.groupBy(key_col).agg(F.count(F.lit(1)).cast("long").alias("c"))
    t = g.agg(
        F.sum("c").cast("long").alias("nr"),
        F.count(F.lit(1)).cast("long").alias("nk"),
    ).first()
    nr, nk = int(t["nr"]), int(t["nk"])
    w = Window.orderBy(F.desc("c"), key_col)
    return (
        g.orderBy(F.desc("c"), key_col)
        .limit(int(top))
        .select(
            F.row_number().over(w).cast("long").alias("rk"),
            key_col,
            F.col("c").alias("n_events"),
            F.expr(f"1000 * c div {nr}").alias("share_milli"),
            F.expr(
                f"1000 * sum(c) over (order by c desc, {key_col} "
                f"rows between unbounded preceding and current row) "
                f"div {nr}"
            ).alias("cum_share_milli"),
            F.lit(nk).cast("long").alias("n_keys"),
            F.lit(nr).cast("long").alias("n_rows"),
        )
    )


@register("x52_skew_profile", _X52_ORACLE)
def x52_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52 key-skew profile of the event stream's user_id — the
    pre-flight audit that routes between x34 (plain window) and x34b
    (bucketed window + stitch)."""
    return key_skew_profile(load(spark, sf_dir, "events")).orderBy(
        "rk", "user_id", "n_events", "share_milli", "cum_share_milli"
    )


# Same oracle as x34: the driver's hash gate is the end-to-end proof
# that the bucketed/stitched plan and the single-window plan are the
# same function of the event stream.
@register("x34b_sessionize_skewsafe", _X34_ORACLE)
def x34b_sessionize_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34b skew-safe sessionization: (user, day-bucket) event-grain
    window + bucket-grain boundary stitching — the plan that survives a
    bot user owning 10% of a 100 TB event stream."""
    return sessionize_bucketed(load(spark, sf_dir, "events")).orderBy(
        "user_id", "session_idx"
    )


# -- x74: retention cohort matrix --------------------------------------------
#
# The classic product-analytics rollup this family was missing between
# the funnel (x25: conversion WITHIN a session-scale window) and the
# lifecycle table (x26): users grouped by FIRST-SEEN week, each cohort
# tracked by the share still active k weeks later.  Week indexing is
# exact integer day arithmetic against the corpus's own min event date
# (driver literal, the x52 totals-as-literals pattern) — no calendar
# week-truncation semantics to disagree on across engines.
#
# Scale (100 TB of events): one scan projects (user, week); cohorts are
# one user-grain groupBy (min week — partial-agg'd, skew-immune); the
# active set is a DISTINCT at (user, week) grain (bounded by users x
# weeks, and map-side-combined before its exchange); the matrix is a
# weeks^2 metadata rollup.  No windows, no self-joins, no pairwise —
# a bot user collapses to one row per week on the map side.

_X74_ORACLE = """
WITH w AS (
  SELECT user_id,
         date_diff('day', (SELECT CAST(MIN(ts) AS DATE) FROM events),
                   CAST(ts AS DATE)) // 7 AS week
  FROM events),
c AS (SELECT user_id, MIN(week) AS cw FROM w GROUP BY user_id),
a AS (SELECT DISTINCT w.user_id, c.cw, w.week - c.cw AS off
      FROM w JOIN c USING (user_id)),
n AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM c GROUP BY cw),
m AS (SELECT cw, off, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM a GROUP BY cw, off)
SELECT CAST(m.cw AS BIGINT) AS cohort_week,
       CAST(m.off AS BIGINT) AS week_offset,
       n.n_cohort, m.n_active,
       CAST(1000 * m.n_active // n.n_cohort AS BIGINT) AS retention_milli
FROM m JOIN n USING (cw)
ORDER BY cohort_week, week_offset, n_cohort, n_active, retention_milli"""


def retention_cohorts(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """(cohort_week, week_offset, n_cohort, n_active, retention_milli):
    users bucketed by first-seen week (exact integer day arithmetic
    from the corpus's min event date), each cohort's active share per
    subsequent week in exact millis.  Two partial-agg'd groupBys + one
    (user, week)-grain distinct; the matrix is metadata-sized."""
    anchor_date = events.agg(F.min(F.col(ts_col).cast("date"))).first()[0]
    if anchor_date is None:
        # an empty (or all-NULL-ts) event frame has no week-0 anchor —
        # fail with the reason, not an AttributeError on None (ADVICE r10)
        raise ValueError(
            "retention_cohorts: no events (or all-NULL timestamps) — "
            "cannot derive the first-seen-week anchor"
        )
    anchor = anchor_date.isoformat()
    w = events.select(
        F.col(user_col).alias("user_id"),
        F.expr(
            f"datediff(cast({ts_col} as date), date'{anchor}') div 7"
        ).cast("long").alias("week"),
    )
    c = w.groupBy("user_id").agg(F.min("week").alias("cw"))
    a = (
        w.join(c, "user_id")
        .select("user_id", "cw", (F.col("week") - F.col("cw")).alias("off"))
        .distinct()
    )
    n = c.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("n_cohort"))
    m = a.groupBy("cw", "off").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return m.join(n, "cw").select(
        F.col("cw").cast("long").alias("cohort_week"),
        F.col("off").cast("long").alias("week_offset"),
        "n_cohort",
        "n_active",
        F.expr("1000 * n_active div n_cohort").cast("long")
        .alias("retention_milli"),
    )


@register("x74_retention_cohorts", _X74_ORACLE)
def x74_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74 retention cohort matrix over the event stream: first-seen
    week cohorts x weeks-since-first-seen activity shares — the
    product-analytics rollup between x25's funnel and x26's lifecycle
    table, in exact integer arithmetic end to end."""
    return retention_cohorts(load(spark, sf_dir, "events")).orderBy(
        "cohort_week", "week_offset", "n_cohort", "n_active",
        "retention_milli"
    )


# -- x85: event-type transition matrix ----------------------------------------
#
# The MARKOV view of the event stream, between x25 (one fixed funnel)
# and x74 (when users return): for every ordered pair of event types,
# how often one follows the other within a user's stream, with exact
# per-from-type milli probabilities — the empirical transition matrix
# that surfaces EVERY hot path (not just the funnel you thought to
# ask about: a fat error->signup cell is an onboarding bug, a
# purchase->error cell a checkout bug).
#
# Scale (100 TB of events): ONE lead(1) window per user (event-grain
# key, the x34 shape — a bot user funnels through one task's sort;
# x34b's bucketing applies if that ever binds) + one partial-agg'd
# groupBy on the |types|^2-bounded key; the probability window runs on
# the matrix, not the stream.  Deterministic order within ties via
# (ts, event_id).

_X85_ORACLE = """
WITH s AS (
  SELECT event_type AS ft,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS tt
  FROM events),
c AS (SELECT ft, tt, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE tt IS NOT NULL GROUP BY ft, tt)
SELECT ft AS from_type, tt AS to_type, n,
       CAST(1000 * n // SUM(n) OVER (PARTITION BY ft) AS BIGINT) AS p_milli
FROM c
ORDER BY from_type, to_type, n, p_milli"""


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """(ft, tt, n): within-user next-event transition counts — the
    ADDITIVE sufficient statistic (each transition is a property of two
    adjacent events, so per-batch counts sum, which is what the S25
    streaming sink folds).  ``id_col`` is the deterministic tiebreak
    for equal timestamps (ADVICE r11: previously hardcoded, so a
    differently-shaped event frame couldn't use the verb)."""
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy(user_col).orderBy(ts_col, id_col)
    s = events.select(
        F.col(type_col).alias("ft"),
        F.lead(type_col).over(w).alias("tt"),
    ).filter(F.col("tt").isNotNull())
    return s.groupBy("ft", "tt").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def transitions_from_counts(counts: DataFrame) -> DataFrame:
    """Serve the x85 matrix from folded (ft, tt, n) cells: exact milli
    probabilities over the |types|^2-bounded frame (the share window is
    metadata-scale)."""
    return counts.select(
        F.col("ft").alias("from_type"),
        F.col("tt").alias("to_type"),
        "n",
        F.expr("1000 * n div sum(n) over (partition by ft)")
        .cast("long")
        .alias("p_milli"),
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n, p_milli): the empirical within-user
    event-type transition matrix with exact per-row milli
    probabilities."""
    return transitions_from_counts(
        transition_counts(events, user_col, type_col, ts_col, id_col)
    )


@register("x85_event_transitions", _X85_ORACLE)
def x85_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85 event-type transition matrix: within-user next-event
    frequencies and exact milli probabilities — the Markov table that
    surfaces every hot path (x25 checks ONE funnel; x85 shows them
    all).  One lead(1) window + a |types|^2-bounded rollup."""
    return event_transitions(load(spark, sf_dir, "events")).orderBy(
        "from_type", "to_type", "n", "p_milli"
    )


# -- x87: RFM segmentation -----------------------------------------------------
#
# The SEGMENTATION capstone of the event-analytics family (x25 funnel,
# x26 lifecycle, x74 cohorts, x85 transitions): every user scored on
# Recency (days since last event, against the corpus max date), 
# Frequency (event count), and Monetary (purchase value in exact
# integer cents), each cut into rank-based terciles — NTILE(3) with a
# full deterministic order (metric, user_id tiebreak), identical
# semantics in both engines.  1-1-1 users are the retention core,
# 3-x-x the churn risks — the table a lifecycle-marketing query reads.
#
# Scale (100 TB of events): the metric frame is ONE partial-agg'd
# groupBy(user) — user-grain, orders of magnitude below event grain —
# then three EXACT DISTRIBUTED ranks over it (extensions/ranking.py:
# per-value counts + banded prefix sums; every task bounded by the
# band widths, heavy tie classes collapse to count rows), with the
# tercile as integer arithmetic on (rank, n_users).  No task ever
# sorts the user frame (VERDICT r11 #2: the prior shape ran NTILE as
# three SinglePartition windows).  Money is CAST(ROUND(value*100) AS
# BIGINT) cents: 2-decimal inputs are never half-way in binary, so
# both engines round identically and every sum is exact integers.

_X87_ORACLE = """
WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS d FROM events),
u AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                        (SELECT d FROM mx)) AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(NTILE(3) OVER (ORDER BY recency_days, user_id) AS BIGINT)
           AS r_bucket,
       CAST(NTILE(3) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
           AS f_bucket,
       CAST(NTILE(3) OVER (ORDER BY monetary_cents DESC, user_id)
            AS BIGINT) AS m_bucket
FROM u
ORDER BY user_id, recency_days, frequency, monetary_cents,
         r_bucket, f_bucket, m_bucket"""


def rfm_metric_frame(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(user_id, last_day, frequency, monetary_cents): the ADDITIVE
    per-user RFM sufficient statistics — max of dates, sum of counts,
    sum of cents, so per-batch frames merge (the S26 streaming fold's
    merge law) and fold(state, batch) == full recompute."""
    return events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.max(F.col(ts_col).cast("date")).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(
            F.when(
                F.col(type_col) == purchase_type,
                F.round(F.col(value_col) * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("monetary_cents"),
    )


def rfm_from_metrics(metrics: DataFrame) -> DataFrame:
    """Serve the x87 segmentation from a (user_id, last_day, frequency,
    monetary_cents) metric frame (batch-built or the S26 streamed
    state): recency anchors on the frame's max last_day, terciles ride
    the stacked distributed rank."""
    anchor = metrics.agg(F.max("last_day")).first()[0]
    if anchor is None:
        raise ValueError(
            "rfm_from_metrics: empty metric frame — no events folded"
            " (or all-NULL timestamps); no recency anchor"
        )
    u = metrics.select(
        "user_id",
        F.datediff(F.lit(anchor.isoformat()).cast("date"), F.col("last_day"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    # NTILE without the funnel (VERDICT r11 #2): the r10/r11 shape ran
    # three SinglePartition sorts of the user frame; here each tercile
    # is integer rank arithmetic over the skew-proof exact distributed
    # rank (extensions/ranking.py — counts + banded prefix sums; a
    # billion-user tie class, e.g. monetary_cents = 0, collapses to
    # count rows instead of one task's sort buffer).  Hash-identical to
    # NTILE(3) OVER (ORDER BY metric, user_id): the rank reproduces the
    # full deterministic order, the bucket is a pure function of
    # (rank, n_users).
    from cubefs_hadoop_spark.extensions.ranking import (
        distributed_rank,
        ntile_from_rank,
    )
    from cubefs_hadoop_spark.plans.materialize import barrier

    u = barrier(u, eager=False)  # feeds the stacked rank + the output
    n_users = u.count()
    # ONE rank pass for all three metrics: stack to (user, metric, v)
    # and rank grouped by metric — a DESC metric stacks negated, since
    # (value DESC, user ASC) == (-value ASC, user ASC) exactly.
    stacked = u.select(
        "user_id",
        F.expr(
            "stack(3, 'r', recency_days,"
            " 'f', -frequency, 'm', -monetary_cents) AS (m, v)"
        ),
    )
    # the pivot-back groupBy reconstructs the metric columns from the
    # stacked values (recency = the 'r' row's v, frequency/monetary =
    # the negated 'f'/'m' rows), so no join back to u is needed
    def _pick(m: str, col: str) -> F.Column:
        return F.max(F.when(F.col("m") == m, F.col(col)))

    return (
        distributed_rank(stacked, "v", "user_id", group_cols=["m"])
        .withColumn("b", ntile_from_rank("rank", n_users, 3))
        .groupBy("user_id")
        .agg(
            _pick("r", "v").cast("long").alias("recency_days"),
            (-_pick("f", "v")).cast("long").alias("frequency"),
            (-_pick("m", "v")).cast("long").alias("monetary_cents"),
            _pick("r", "b").cast("long").alias("r_bucket"),
            _pick("f", "b").cast("long").alias("f_bucket"),
            _pick("m", "b").cast("long").alias("m_bucket"),
        )
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_bucket",
            "f_bucket",
            "m_bucket",
        )
    )


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(user_id, recency_days, frequency, monetary_cents, r_bucket,
    f_bucket, m_bucket): rank-exact RFM terciles over the user-grain
    metric frame (bucket 1 = best on every axis) — metric_frame +
    from_metrics, the same halves the S26 streaming fold serves."""
    return rfm_from_metrics(
        rfm_metric_frame(
            events, user_col, ts_col, type_col, value_col, purchase_type
        )
    )


@register("x87_rfm_segments", _X87_ORACLE)
def x87_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87 RFM segmentation: rank-exact recency/frequency/monetary
    terciles per user (deterministic NTILE semantics, exact integer
    cents) — the lifecycle-marketing segmentation table capping the
    event-analytics family; terciles ride the skew-proof exact
    distributed rank, never a SinglePartition sort of the user frame."""
    return rfm_segments(load(spark, sf_dir, "events")).orderBy(
        "user_id", "recency_days", "frequency", "monetary_cents",
        "r_bucket", "f_bucket", "m_bucket"
    )


# -- x88: per-type value percentile profile -----------------------------------
#
# Exact ORDER STATISTICS at group grain, completing the quantile family
# (x45/x45b are corpus-grain sketch/equi-depth; x88 is the exact
# per-event-type profile): n, total, discrete p50/p90 of the value
# column in exact integer cents — the revenue-distribution table read
# next to x85 (which paths are hot) and x87 (who spends).  The
# percentile definition is the discrete lower order statistic (rank
# 1 + (n-1)·q//100 with a (value, event_id) total order), identical
# integer arithmetic in both engines — no interpolation semantics to
# disagree on.
#
# Scale: the event stream reduces to ONE partial-agg'd (type, cents)
# counts frame; the order statistic falls out of banded cumulative
# counts (min c with cum >= rank target) — no event-grain sort, no
# window keyed on the ~6-value type column (VERDICT r11 #3).

_X88_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c, event_id
  FROM events WHERE value IS NOT NULL),
r AS (SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, event_id) AS rn
      FROM v),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS total_cents
      FROM v GROUP BY event_type)
SELECT event_type, n, total_cents,
       CAST(MAX(CASE WHEN rn = 1 + (n - 1) * 50 // 100
                     THEN c END) AS BIGINT) AS p50_cents,
       CAST(MAX(CASE WHEN rn = 1 + (n - 1) * 90 // 100
                     THEN c END) AS BIGINT) AS p90_cents
FROM r JOIN n USING (event_type)
GROUP BY event_type, n, total_cents
ORDER BY event_type, n, total_cents, p50_cents, p90_cents"""


_X88_BAND = 1 << 16  # distinct cent values per prefix-sum band


def value_percentiles(
    events: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
    value_band: int = _X88_BAND,
) -> DataFrame:
    """(event_type, n, total_cents, p50_cents, p90_cents): exact
    discrete per-type order statistics of the value column in integer
    cents (rank 1 + (n-1)·q//100, (value, event_id) total order).

    No event-grain sort anywhere (VERDICT r11 #3: the prior shape ran a
    rank window partitioned by the ~6-value event_type — a whole type's
    events through one task).  The rank-target order statistic only
    needs CUMULATIVE COUNTS: the rn-th smallest cent value is
    ``min(c : cum(c) >= rn)`` regardless of how ties are broken, so the
    event stream reduces to one partial-agg'd (type, c) counts frame,
    cumulated by banded prefix sums — band totals are a (type x bands)
    metadata frame, within-band cumulation partitions by (type, band)
    and a band holds at most ``value_band`` DISTINCT values however
    many events share them.  Totals ride DECIMAL(38,0) (c*cnt products
    overflow int64 at 100 TB event counts — same family as the x78/x84
    lift fix)."""
    return value_percentiles_from_counts(
        barrier(value_cents_counts(events, type_col, value_col), eager=False),
        value_band=value_band,
    )


def value_cents_counts(
    events: DataFrame,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """(event_type, c, cnt): the per-(type, cents) counts frame — the
    ADDITIVE sufficient statistic behind x88 (per-batch counts sum,
    which is what the S27 streaming sink folds)."""
    return (
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.col(type_col).alias("event_type"),
            F.round(F.col(value_col) * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def value_percentiles_from_counts(
    vc: DataFrame, value_band: int = _X88_BAND
) -> DataFrame:
    """Serve the x88 profile from a folded (event_type, c, cnt) counts
    frame (batch-built or the S27 streamed state): percentiles via the
    shared banded machinery, totals in DECIMAL (c*cnt products overflow
    int64 at 100 TB event counts — the x78/x84 family)."""
    from cubefs_hadoop_spark.extensions.ranking import (
        grouped_exact_percentiles,
    )

    pct = grouped_exact_percentiles(
        vc, "c", group_cols=["event_type"], quantiles=(50, 90),
        value_band=value_band, counts_col="cnt",
    )
    totals = vc.groupBy("event_type").agg(
        F.expr(
            "CAST(SUM(CAST(c AS DECIMAL(38,0)) * cnt) AS BIGINT)"
        ).alias("total_cents")
    )
    return pct.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "n",
        "total_cents",
        F.col("p50").alias("p50_cents"),
        F.col("p90").alias("p90_cents"),
    )


@register("x88_value_percentiles", _X88_ORACLE)
def x88_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88 per-type value percentile profile: exact discrete p50/p90 +
    totals in integer cents per event type — the revenue-distribution
    table next to x85's hot paths and x87's spenders; one partial-agg'd
    (type, cents) counts frame + banded cumulative counts, no
    event-grain sort and no window keyed on the ~6-value type."""
    return value_percentiles(load(spark, sf_dir, "events")).orderBy(
        "event_type", "n", "total_cents", "p50_cents", "p90_cents"
    )


# -- x89: event-type mix drift (weekly shares) ---------------------------------
#
# The TIME axis of the event-type family: x85 shows which paths are hot
# over all time; x89 shows how the TYPE MIX moves week to week — the
# drift alarm an event-pipeline owner reads next to x48's length-drift
# (documents) and x63's rejection funnel.  Week = exact integer day
# arithmetic from the corpus min date (the x74 convention — no
# date_trunc semantics to disagree on); share = exact milli over the
# week's total.
#
# Scale: one partial-agg'd groupBy((week, type)) over the event stream;
# the share window runs over the (weeks x types) metadata frame.

_X89_ORACLE = """
WITH w AS (
  SELECT date_diff('day', (SELECT CAST(MIN(ts) AS DATE) FROM events),
                   CAST(ts AS DATE)) // 7 AS week, event_type
  FROM events),
c AS (SELECT week, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM w GROUP BY 1, 2)
SELECT CAST(week AS BIGINT) AS week, event_type, n,
       CAST(1000 * n // SUM(n) OVER (PARTITION BY week) AS BIGINT)
           AS share_milli
FROM c ORDER BY week, event_type, n, share_milli"""


def type_share_drift(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(week, event_type, n, share_milli): each week's event-type mix in
    exact millis — flat shares = stable instrumentation; a moving mix =
    product or pipeline drift."""
    anchor_date = events.agg(F.min(F.col(ts_col).cast("date"))).first()[0]
    if anchor_date is None:
        raise ValueError(
            "type_share_drift: no events (or all-NULL timestamps) — no"
            " week-0 anchor"
        )
    anchor = anchor_date.isoformat()
    c = (
        events.select(
            F.expr(
                f"datediff(cast({ts_col} as date), date'{anchor}') div 7"
            ).cast("long").alias("week"),
            F.col(type_col).alias("event_type"),
        )
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return c.select(
        "week",
        "event_type",
        "n",
        F.expr("1000 * n div sum(n) over (partition by week)")
        .cast("long")
        .alias("share_milli"),
    )


@register("x89_type_share_drift", _X89_ORACLE)
def x89_type_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89 weekly event-type mix: exact milli shares per (week, type) —
    the drift alarm on the event stream's composition; one partial-agg'd
    groupBy, share window over the metadata-sized matrix."""
    return type_share_drift(load(spark, sf_dir, "events")).orderBy(
        "week", "event_type", "n", "share_milli"
    )


# -- x90: session-duration percentile profile ----------------------------------
#
# The engagement summary over x34's session table: exact discrete
# p50/p90 of session duration (integer microseconds) + the session
# count — "how long is a visit" next to x26's lifecycle and x34's raw
# sessions.  Same rank-target definition as x88 (rank 1+(n-1)q//100,
# ascending duration), served by the shared banded-cumulative-counts
# machinery — the session frame is session-grain (far below event
# grain) and even it is never sorted in one task.

_X90_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_X34_GAP_US}
              THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
  FROM o),
d AS (SELECT CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS dur
      FROM s GROUP BY user_id, sess),
r AS (SELECT dur, ROW_NUMBER() OVER (ORDER BY dur) AS rn FROM d),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM d)
SELECT n.n_sessions,
       CAST(MAX(CASE WHEN rn = 1 + (n_sessions - 1) * 50 // 100
                     THEN dur END) AS BIGINT) AS p50_us,
       CAST(MAX(CASE WHEN rn = 1 + (n_sessions - 1) * 90 // 100
                     THEN dur END) AS BIGINT) AS p90_us
FROM r CROSS JOIN n
GROUP BY n.n_sessions
ORDER BY n_sessions, p50_us, p90_us"""


def session_duration_percentiles(
    events: DataFrame, gap_us: int = _X34_GAP_US
) -> DataFrame:
    """(n_sessions, p50_us, p90_us): exact discrete session-duration
    order statistics over the x34 session table."""
    from cubefs_hadoop_spark.extensions.ranking import (
        grouped_exact_percentiles,
    )

    d = sessionize(events, gap_us=gap_us).select("duration_us")
    return grouped_exact_percentiles(
        d, "duration_us", group_cols=(), quantiles=(50, 90)
    ).select(
        F.col("n").alias("n_sessions"),
        F.col("p50").alias("p50_us"),
        F.col("p90").alias("p90_us"),
    )


@register("x90_session_percentiles", _X90_ORACLE)
def x90_session_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 session-duration profile: exact discrete p50/p90 microsecond
    durations over x34's sessions — the engagement summary; the session
    frame reduces to duration counts + banded cumulative sums, never a
    single-task sort."""
    return session_duration_percentiles(load(spark, sf_dir, "events")).orderBy(
        "n_sessions", "p50_us", "p90_us"
    )


# -- x91: purchase inter-arrival percentiles -----------------------------------
#
# The REPEAT-PURCHASE cadence: per user, gaps between consecutive
# purchases (integer seconds); globally, the exact discrete p50/p90 of
# those gaps + the gap count — the replenishment-cycle number a
# lifecycle team reads next to x87's segments (who spends) and x74's
# cohorts (who returns).  Gap arithmetic on exact epoch seconds, same
# rank-target percentile definition as x88/x90.
#
# Scale: the purchase stream is type-filtered AT THE SCAN; the lead
# window keys on user over purchase-grain rows; the percentile rides
# the shared banded-cumulative machinery.

_X91_ORACLE = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
g AS (
  SELECT CAST((epoch_us(LEAD(ts) OVER w) - epoch_us(ts)) // 1000000
              AS BIGINT) AS gap_s
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
d AS (SELECT gap_s FROM g WHERE gap_s IS NOT NULL),
r AS (SELECT gap_s, ROW_NUMBER() OVER (ORDER BY gap_s) AS rn FROM d),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps FROM d)
SELECT n.n_gaps,
       CAST(MAX(CASE WHEN rn = 1 + (n_gaps - 1) * 50 // 100
                     THEN gap_s END) AS BIGINT) AS p50_s,
       CAST(MAX(CASE WHEN rn = 1 + (n_gaps - 1) * 90 // 100
                     THEN gap_s END) AS BIGINT) AS p90_s
FROM r CROSS JOIN n
GROUP BY n.n_gaps
ORDER BY n_gaps, p50_s, p90_s"""


def purchase_interarrival(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(n_gaps, p50_s, p90_s): exact discrete percentiles of the
    per-user consecutive-purchase gap in integer seconds."""
    from cubefs_hadoop_spark.extensions.ranking import (
        grouped_exact_percentiles,
    )

    p = events.filter(F.col(type_col) == purchase_type)
    us = _epoch_us(events, ts_col)  # same NTZ/UTC guard as sessionize
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    g = (
        p.select((F.lead(us).over(w) - us).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select(F.expr("gap_us div 1000000").cast("long").alias("gap_s"))
    )
    return grouped_exact_percentiles(
        g, "gap_s", group_cols=(), quantiles=(50, 90)
    ).select(
        F.col("n").alias("n_gaps"),
        F.col("p50").alias("p50_s"),
        F.col("p90").alias("p90_s"),
    )


@register("x91_purchase_interarrival", _X91_ORACLE)
def x91_purchase_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91 repeat-purchase cadence: exact discrete p50/p90 of the
    per-user gap between consecutive purchases (integer seconds) — the
    replenishment-cycle profile; purchases filtered at the scan, gaps
    via one user-keyed lead window at purchase grain, percentiles via
    the shared no-sort machinery."""
    return purchase_interarrival(load(spark, sf_dir, "events")).orderBy(
        "n_gaps", "p50_s", "p90_s"
    )


# -- x92: revenue concentration (top-share curve) -------------------------------
#
# The PARETO view over x87's monetary axis: what fraction of total
# purchase revenue comes from the top 1% / 10% / 50% of users — the
# whale-dependence number a growth team reads next to x87 (who the
# whales are) and x91 (how often they return).  Tier membership is by
# exact rank (cents DESC, user_id tiebreak — the x87 total order) over
# the skew-proof distributed rank, tier size = n_users*k//1000 (floor),
# and shares are exact millis computed in 128-bit (1000*revenue
# overflows int64 at 100 TB totals — the x78/x84 family).
#
# Scale: user-grain metric frame + ONE distributed rank + one
# conditional aggregation; no task ever sorts the user frame.

_X92_TIERS = (10, 100, 500)  # milli: top 1%, 10%, 50%

_X92_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents
  FROM events GROUP BY user_id),
r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents DESC, user_id) AS rn
      FROM u),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu, CAST(SUM(cents) AS BIGINT)
          AS tot FROM u),
t AS (SELECT UNNEST([10, 100, 500]) AS tier_milli),
j AS (SELECT t.tier_milli, n.nu, n.tot,
             CAST(COALESCE(SUM(CASE WHEN r.rn <= n.nu * t.tier_milli // 1000
                                    THEN r.cents END), 0) AS BIGINT)
                 AS revenue_cents
      FROM t CROSS JOIN n CROSS JOIN r
      GROUP BY 1, 2, 3)
SELECT CAST(tier_milli AS BIGINT) AS tier_milli,
       CAST(nu * tier_milli // 1000 AS BIGINT) AS users,
       revenue_cents,
       CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(CAST(1000 AS HUGEINT) * revenue_cents // tot
                      AS BIGINT) END AS share_milli
FROM j ORDER BY tier_milli, users, revenue_cents, share_milli"""


def revenue_concentration(
    events: DataFrame,
    tiers: tuple = _X92_TIERS,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(tier_milli, users, revenue_cents, share_milli): exact revenue
    share of the top-``tier_milli``/1000 fraction of users by purchase
    cents (rank cut on the distributed rank; floor tier sizes)."""
    from cubefs_hadoop_spark.extensions.intmath import spark_exact_floordiv
    from cubefs_hadoop_spark.extensions.ranking import distributed_rank

    u = events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.sum(
            F.when(
                F.col(type_col) == purchase_type,
                F.round(F.col(value_col) * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("cents")
    )
    u = barrier(u, eager=False)  # feeds the totals AND the rank
    n_users, total = u.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("cents"), F.lit(0))
    ).first()
    if int(n_users) == 0:
        # ADVICE r12: the oracle's CROSS JOIN against an empty ranked
        # frame yields zero rows; match it instead of emitting zeros.
        return events.sparkSession.createDataFrame(
            [],
            "tier_milli long, users long, revenue_cents long,"
            " share_milli long",
        )
    ranked = distributed_rank(u, "cents", "user_id", descending=True)
    cuts = {k: (int(n_users) * int(k)) // 1000 for k in tiers}
    agg = ranked.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("rank") <= cuts[k], F.col("cents"))),
                F.lit(0),
            ).cast("long").alias(f"c{k}")
            for k in tiers
        ]
    )
    stack = ", ".join(
        f"CAST({int(k)} AS BIGINT), CAST({cuts[k]} AS BIGINT), c{k}"
        for k in tiers
    )
    rows = agg.selectExpr(
        f"stack({len(tiers)}, {stack})"
        " AS (tier_milli, users, revenue_cents)"
    )
    share = (
        F.lit(0).cast("long")
        if int(total) == 0
        else F.expr(
            spark_exact_floordiv([1000, "revenue_cents"], [int(total)])
        )
    )
    return rows.select(
        "tier_milli", "users", "revenue_cents", share.alias("share_milli")
    )


@register("x92_revenue_concentration", _X92_ORACLE)
def x92_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92 revenue concentration: exact milli share of purchase revenue
    held by the top 1%/10%/50% of users (rank-exact tiers over the
    skew-proof distributed rank, 128-bit share arithmetic) — the Pareto
    table next to x87's segments; never a single-task sort."""
    return revenue_concentration(load(spark, sf_dir, "events")).orderBy(
        "tier_milli", "users", "revenue_cents", "share_milli"
    )


# -- x94: co-purchase affinity (market-basket lift) -----------------------------
#
# The BASKET view of the event stream — x78's collocation lift at item
# grain: which catalog items are bought by the same users far above
# chance.  Items come from the events ``props`` JSON (``$.k``, the
# catalog-id payload — the first operator to exercise the JSON column),
# baskets are per-user distinct item sets, association is exact
# integer-milli lift P(a,b)/(P(a)P(b)) = 1000·n_pair·n_users //
# (n_a·n_b) in 128-bit (the x78/x84 overflow family), top-k with a
# full deterministic tie order and a support floor.
#
# Scale (100 TB): the basket frame is (user, item)-distinct — bounded
# by users x CATALOG, not by events; the pair join is user-keyed with
# per-user item sets bounded by the catalog (document the contract: a
# per-user item cap is the knob if the catalog is huge); item counts
# are catalog-grain; the top-k is TakeOrderedAndProject.  n_users rides
# as a plan literal (x52 pattern).

_X94_K = 30
_X94_MIN_PAIR = 2

_X94_ORACLE = f"""
WITH p AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE event_type = 'purchase' AND props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
c AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM p GROUP BY k),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM p),
pr AS (SELECT a.k AS item_a, b.k AS item_b, CAST(COUNT(*) AS BIGINT)
           AS n_pair
       FROM p a JOIN p b ON a.user_id = b.user_id AND a.k < b.k
       GROUP BY 1, 2)
SELECT item_a, item_b, n_pair,
       CAST(CAST(1000 AS HUGEINT) * n_pair * nu.n
            // (CAST(ca.n_k AS HUGEINT) * cb.n_k) AS BIGINT) AS lift_milli
FROM pr JOIN c ca ON ca.k = item_a JOIN c cb ON cb.k = item_b CROSS JOIN nu
WHERE n_pair >= {_X94_MIN_PAIR}
ORDER BY lift_milli DESC, n_pair DESC, item_a, item_b
LIMIT {_X94_K}"""


def copurchase_affinity(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    props_col: str = "props",
    item_path: str = "$.k",
    purchase_type: str = "purchase",
    k: int = _X94_K,
    min_pair: int = _X94_MIN_PAIR,
    basket_cap: int | None = None,
) -> DataFrame:
    """(item_a, item_b, n_pair, lift_milli): top-k co-purchased catalog
    item pairs by exact integer-milli lift over independence (support
    floor ``min_pair``; items parsed from the props JSON).

    ``basket_cap`` (VERDICT r12 #2 — the production knob): cap each
    user's basket at N items by deterministic (md5(item), item) order
    BEFORE the pair join.  Uncapped, the pair stage is Σ basket² — one
    bot user with a 10k-item basket contributes ~50M rows to a single
    join group, and AQE skew-splitting cannot change that sum.  The cap
    bounds every user at C(C-1)/2 pairs; the md5 order is a seedless
    uniform sample of the basket (the x17/x19 convention), so the
    capped lift table is a deterministic, reproducible estimate.  All
    downstream counts (n_k, n_users, n_pair) are computed over the
    CAPPED frame — the capped basket table IS the dataset, so lift
    semantics stay internally exact."""
    from cubefs_hadoop_spark.extensions.intmath import spark_exact_floordiv

    p = (
        events.filter(
            (F.col(type_col) == purchase_type)
            & F.col(props_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("u"),
            F.get_json_object(props_col, item_path).cast("long").alias("k"),
        )
        .filter(F.col("k").isNotNull())
        .distinct()
    )
    if basket_cap is not None:
        cap_w = Window.partitionBy("u").orderBy(
            F.md5(F.col("k").cast("string")), "k"
        )
        # WindowGroupLimit pushes the rank filter below the full sort
        p = (
            p.withColumn("_bc_rn", F.row_number().over(cap_w))
            .filter(F.col("_bc_rn") <= int(basket_cap))
            .drop("_bc_rn")
        )
    p = barrier(p, eager=False)  # feeds counts, the literal AND the join
    c = p.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    n_users = int(p.select("u").distinct().count())
    if n_users == 0:
        # ADVICE r12: the oracle returns zero rows on an empty basket
        # frame; match it instead of raising.
        return events.sparkSession.createDataFrame(
            [], "item_a long, item_b long, n_pair long, lift_milli long"
        )
    pr = (
        p.alias("a")
        .join(
            p.alias("b"),
            (F.col("a.u") == F.col("b.u")) & (F.col("a.k") < F.col("b.k")),
        )
        .select(F.col("a.k").alias("item_a"), F.col("b.k").alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_pair))
    )
    ca = c.select(F.col("k").alias("item_a"), F.col("n_k").alias("na"))
    cb = c.select(F.col("k").alias("item_b"), F.col("n_k").alias("nb"))
    return (
        pr.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_pair",
            F.expr(
                spark_exact_floordiv(
                    [1000, "n_pair", n_users], ["na", "nb"]
                )
            ).alias("lift_milli"),
        )
        .orderBy(
            F.col("lift_milli").desc(),
            F.col("n_pair").desc(),
            "item_a",
            "item_b",
        )
        .limit(int(k))
    )


@register("x94_copurchase_affinity", _X94_ORACLE)
def x94_copurchase_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94 market-basket affinity: top-30 co-purchased item pairs by
    exact integer-milli lift (support floor 2, items from the props
    JSON payload — the JSON-column operator) — x78's collocation miner
    at catalog grain; user-keyed pair join over catalog-bounded
    baskets, TakeOrderedAndProject top-k, 128-bit lift."""
    return copurchase_affinity(load(spark, sf_dir, "events"))


# x94b: the PRODUCTION form — per-user baskets capped at _X94B_CAP items
# by deterministic (md5(item), item) order before the pair join, so one
# whale basket can never blow up a join group (pair work per user is
# bounded at C(C-1)/2).  The cap BITES at every test SF (median basket
# 12, max 25 vs cap 8), so the oracle check witnesses the cap's
# semantics, not a no-op.  Counts/lift are computed over the capped
# frame — internally exact over the deterministic basket sample.

_X94B_CAP = 8

_X94B_ORACLE = f"""
WITH p0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE event_type = 'purchase' AND props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
p AS (
  SELECT user_id, k FROM (
    SELECT user_id, k,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY md5(CAST(k AS VARCHAR)), k) AS rn
    FROM p0) WHERE rn <= {_X94B_CAP}),
c AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM p GROUP BY k),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM p),
pr AS (SELECT a.k AS item_a, b.k AS item_b, CAST(COUNT(*) AS BIGINT)
           AS n_pair
       FROM p a JOIN p b ON a.user_id = b.user_id AND a.k < b.k
       GROUP BY 1, 2)
SELECT item_a, item_b, n_pair,
       CAST(CAST(1000 AS HUGEINT) * n_pair * nu.n
            // (CAST(ca.n_k AS HUGEINT) * cb.n_k) AS BIGINT) AS lift_milli
FROM pr JOIN c ca ON ca.k = item_a JOIN c cb ON cb.k = item_b CROSS JOIN nu
WHERE n_pair >= {_X94_MIN_PAIR}
ORDER BY lift_milli DESC, n_pair DESC, item_a, item_b
LIMIT {_X94_K}"""


@register("x94b_copurchase_capped", _X94B_ORACLE)
def x94b_copurchase_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94b market-basket affinity, production form (VERDICT r12 #2):
    x94's lift table over per-user baskets capped at 8 items by
    deterministic md5 order — the whale-basket bound (pair space per
    user ≤ C(C-1)/2 however large the raw basket), at the price of
    estimating lift from a uniform per-user item sample."""
    return copurchase_affinity(
        load(spark, sf_dir, "events"), basket_cap=_X94B_CAP
    )


# -- x95: weekly revenue trend ---------------------------------------------------
#
# The REVENUE time series next to x89's mix drift: purchase revenue per
# week (exact integer cents, x74's week convention) with the
# week-over-week growth in exact millis — the topline an event-pipeline
# owner reads first.  One partial-agg'd groupBy(week); the lag window
# runs over the weeks-count frame (driver-scale).  Growth is
# 1000*(rev - prev) // prev with TRUNCATION-toward-zero semantics on
# negative numerators (DuckDB's native //; the Spark side reconstructs
# it with % — remainder, dividend's sign — in DECIMAL), NULL for the
# first week or a zero-revenue previous week.

_X95_ORACLE = """
WITH w AS (
  SELECT date_diff('day', (SELECT CAST(MIN(ts) AS DATE) FROM events),
                   CAST(ts AS DATE)) // 7 AS week,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
r AS (SELECT week, CAST(SUM(c) AS BIGINT) AS revenue_cents,
             CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM w GROUP BY week),
g AS (SELECT week, n_purchases, revenue_cents,
             LAG(revenue_cents) OVER (ORDER BY week) AS prev
      FROM r)
SELECT CAST(week AS BIGINT) AS week, n_purchases, revenue_cents,
       CAST(CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                 ELSE CAST(1000 AS HUGEINT) * (revenue_cents - prev)
                      // prev END AS BIGINT) AS wow_milli
FROM g ORDER BY week, n_purchases, revenue_cents, wow_milli"""


def weekly_revenue_trend(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(week, n_purchases, revenue_cents, wow_milli): weekly purchase
    revenue in exact cents + week-over-week growth in exact millis
    (NULL for the first week / a zero-revenue previous week)."""
    anchor_date = events.agg(F.min(F.col(ts_col).cast("date"))).first()[0]
    if anchor_date is None:
        raise ValueError(
            "weekly_revenue_trend: no events (or all-NULL timestamps) —"
            " no week-0 anchor"
        )
    anchor = anchor_date.isoformat()
    r = (
        events.filter(
            (F.col(type_col) == purchase_type)
            & F.col(value_col).isNotNull()
        )
        .select(
            F.expr(
                f"datediff(cast({ts_col} as date), date'{anchor}') div 7"
            ).cast("long").alias("week"),
            F.round(F.col(value_col) * 100).cast("long").alias("c"),
        )
        .groupBy("week")
        .agg(
            F.sum("c").cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
        )
    )
    w = Window.orderBy("week")  # weeks-count frame: driver-scale
    g = r.withColumn("prev", F.lag("revenue_cents").over(w))
    # integer division with a possibly-NEGATIVE numerator: DuckDB's //
    # TRUNCATES toward zero (-7 // 2 = -3), so the Spark side uses %
    # (remainder with the dividend's sign — NOT pmod, which would
    # floor) to reconstruct the same truncation exactly; DECIMAL(38,0)
    # keeps it overflow-safe at 100 TB revenue totals
    growth = F.expr(
        "CAST(CASE WHEN prev IS NULL OR prev = 0 THEN NULL ELSE"
        " (CAST(1000 AS DECIMAL(38,0)) * (revenue_cents - prev)"
        " - (CAST(1000 AS DECIMAL(38,0)) * (revenue_cents - prev))"
        " % CAST(prev AS DECIMAL(38,0)))"
        " / CAST(prev AS DECIMAL(38,0)) END AS BIGINT)"
    )
    return g.select(
        "week",
        "n_purchases",
        "revenue_cents",
        growth.alias("wow_milli"),
    )


@register("x95_weekly_revenue", _X95_ORACLE)
def x95_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95 weekly revenue trend: exact integer-cent weekly purchase
    revenue + week-over-week growth millis — the topline time series
    next to x89's mix drift; one partial-agg'd groupBy(week), the lag
    window over the driver-scale weeks frame."""
    return weekly_revenue_trend(load(spark, sf_dir, "events")).orderBy(
        "week", "n_purchases", "revenue_cents", "wow_milli"
    )


# -- x97: funnel conversion rates ------------------------------------------------
#
# The SUMMARY over x25's per-user funnel timestamps — the three-line
# table a growth review actually reads: per step, how many users
# reached it, the exact milli conversion from the funnel start, and
# from the previous step.  Pure rollup of the x25 frame (user-grain);
# rates are exact integer millis with a zero-denominator guard.

_X97_ORACLE = """
WITH a AS (SELECT user_id, MIN(ts) AS ta FROM events
           WHERE event_type = 'view' GROUP BY user_id),
b AS (SELECT e.user_id, MIN(e.ts) AS tb FROM events e JOIN a USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > a.ta
        AND e.ts <= a.ta + INTERVAL 1 HOUR GROUP BY e.user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS tc FROM events e JOIN b USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > b.tb
        AND e.ts <= b.tb + INTERVAL 1 HOUR GROUP BY e.user_id),
f AS (SELECT a.user_id, a.ta, b.tb, c.tc
      FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)),
n AS (SELECT CAST(COUNT(ta) AS BIGINT) AS n1,
             CAST(COUNT(tb) AS BIGINT) AS n2,
             CAST(COUNT(tc) AS BIGINT) AS n3 FROM f),
s AS (SELECT * FROM (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
          AS v(step, step_name))
SELECT CAST(s.step AS BIGINT) AS step, s.step_name,
       CAST(CASE s.step WHEN 1 THEN n.n1 WHEN 2 THEN n.n2
                        ELSE n.n3 END AS BIGINT) AS n_users,
       CAST(CASE WHEN n.n1 = 0 THEN NULL
                 ELSE 1000 * (CASE s.step WHEN 1 THEN n.n1
                              WHEN 2 THEN n.n2 ELSE n.n3 END) // n.n1
            END AS BIGINT) AS conv_from_start_milli,
       CAST(CASE s.step
              WHEN 1 THEN 1000
              WHEN 2 THEN CASE WHEN n.n1 = 0 THEN NULL
                               ELSE 1000 * n.n2 // n.n1 END
              ELSE CASE WHEN n.n2 = 0 THEN NULL
                        ELSE 1000 * n.n3 // n.n2 END
            END AS BIGINT) AS conv_from_prev_milli
FROM s CROSS JOIN n
ORDER BY step, step_name, n_users, conv_from_start_milli,
         conv_from_prev_milli"""


def funnel_conversion_rates(
    events: DataFrame,
    steps: tuple = _X25_STEPS,
    window: str = _X25_WINDOW,
) -> DataFrame:
    """(step, step_name, n_users, conv_from_start_milli,
    conv_from_prev_milli): the exact-milli conversion summary over the
    x25 per-user funnel (NULL rates when the denominator step had no
    users; step 1 converts from itself at 1000)."""
    return _funnel_rates_rollup(funnel(events, steps=steps, window=window), steps)


def _funnel_rates_rollup(per_user: DataFrame, steps: tuple) -> DataFrame:
    """The x97 3-row conversion table from a per-user (t0..tn) funnel
    frame — shared by the batch path and the S29 streamed state."""
    counts = per_user.agg(
        *[
            F.count(f"t{i}").cast("long").alias(f"n{i}")
            for i in range(len(steps))
        ]
    ).first()
    ns = [int(counts[f"n{i}"]) for i in range(len(steps))]
    rows = []
    for i, name in enumerate(steps):
        start = None if ns[0] == 0 else 1000 * ns[i] // ns[0]
        if i == 0:
            prev = 1000
        else:
            prev = None if ns[i - 1] == 0 else 1000 * ns[i] // ns[i - 1]
        rows.append((i + 1, name, ns[i], start, prev))
    return per_user.sparkSession.createDataFrame(
        rows,
        "step long, step_name string, n_users long,"
        " conv_from_start_milli long, conv_from_prev_milli long",
    )


def funnel_rates_from_user_state(
    state: DataFrame, steps: tuple = _X25_STEPS
) -> DataFrame:
    """Serve the live x97 conversion table from the S29 per-user funnel
    state (``streaming.state_sink.sink_user_funnel_state``): the state
    frame IS the x25 per-user (t0..tn) table, so the rollup is the same
    driver-scale literal frame the batch path builds."""
    return _funnel_rates_rollup(
        state.select(*[f"t{i}" for i in range(len(steps))]), steps
    )


@register("x97_funnel_rates", _X97_ORACLE)
def x97_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97 funnel conversion summary: per step the user count and exact
    milli conversion from start / from the previous step — the 3-row
    table over x25's user-grain funnel (the rollup is a driver-scale
    literal frame; the funnel itself is the scale path)."""
    return funnel_conversion_rates(load(spark, sf_dir, "events")).orderBy(
        "step", "step_name", "n_users", "conv_from_start_milli",
        "conv_from_prev_milli"
    )


# -- x98: top event-path trigrams ------------------------------------------------
#
# SEQUENCE mining over the event stream: the most common 3-step
# within-user paths (x85 is the 1-step Markov matrix; x98 surfaces the
# actual multi-step journeys — 'view->click->purchase' vs
# 'view->error->view' is the difference between a checkout flow and a
# broken page).  Two lead windows over the same user-keyed spec (one
# shuffle), a |types|^3-bounded rollup, exact milli share over all
# trigrams, top-k with full deterministic tie order.

_X98_K = 20

_X98_ORACLE = f"""
WITH s AS (
  SELECT event_type AS a,
         LEAD(event_type, 1) OVER w AS b,
         LEAD(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n FROM s
      WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY a, b, c),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
SELECT a AS t1, b AS t2, c AS t3, n,
       CAST(1000 * n // t.tot AS BIGINT) AS share_milli
FROM g CROSS JOIN t
ORDER BY n DESC, t1, t2, t3
LIMIT {_X98_K}"""


def event_path_trigrams(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    k: int = _X98_K,
) -> DataFrame:
    """(t1, t2, t3, n, share_milli): the top-k within-user 3-step event
    paths with exact milli shares over all trigrams — the trigram counts
    served through ``trigrams_from_counts`` (the S28 rollup)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    counts = (
        events.select(
            F.col(type_col).alias("t1"),
            F.lead(type_col, 1).over(w).alias("t2"),
            F.lead(type_col, 2).over(w).alias("t3"),
        )
        .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return trigrams_from_counts(counts, k)


def trigrams_from_counts(counts: DataFrame, k: int = _X98_K) -> DataFrame:
    """The x98 table from (t1, t2, t3, n) trigram cells, batch-counted
    or folded by ``streaming.state_sink.sink_trigram_state``: exact
    milli shares over the |types|^3-bounded frame, top-k with the x98
    tie order."""
    return (
        counts.select(
            "t1",
            "t2",
            "t3",
            "n",
            F.expr("1000 * n div sum(n) over ()").cast("long")
            .alias("share_milli"),
        )
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(int(k))
    )


@register("x98_event_path_trigrams", _X98_ORACLE)
def x98_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98 top event-path trigrams: the 20 most common within-user
    3-step journeys with exact milli shares — the sequence-mining view
    over x85's one-step matrix; two leads on ONE user-keyed window
    spec, a types^3-bounded rollup, TakeOrdered top-k."""
    return event_path_trigrams(load(spark, sf_dir, "events"))


# -- x99: user type-diversity distribution ---------------------------------------
#
# ENGAGEMENT BREADTH: how many distinct event types each user touches,
# rolled up to the distribution (n_types, users, users_share_milli) —
# the one-glance answer to "are users exploring the product or stuck on
# one action", the companion to x85's transition matrix (which says
# WHERE they go, not HOW WIDELY).  One user-keyed countDistinct (the
# distinct partial-aggregates map-side over the tiny type domain), one
# |types|-bounded rollup, exact milli shares.

_X99_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
  FROM events GROUP BY user_id),
g AS (SELECT n_types, CAST(COUNT(*) AS BIGINT) AS users
      FROM u GROUP BY n_types),
t AS (SELECT CAST(SUM(users) AS BIGINT) AS tot FROM g)
SELECT n_types, users,
       CAST(1000 * users // t.tot AS BIGINT) AS users_share_milli
FROM g CROSS JOIN t
ORDER BY n_types, users, users_share_milli"""


def user_type_pairs(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """The x99 statistic: (u, y) user x event-type rows.  Batch x99 rolls
    them up as they come; S30 folds them by set union into the distinct
    pair set.  A NULL type is kept, so a user whose only events are
    NULL-typed still counts, at 0 types."""
    return events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("y")
    )


def user_type_diversity(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(n_types, users, users_share_milli): the distribution of per-user
    distinct event-type counts with exact milli user shares."""
    return diversity_from_user_types(
        user_type_pairs(events, user_col, type_col)
    )


@register("x99_user_type_diversity", _X99_ORACLE)
def x99_user_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99 engagement breadth: distribution of per-user distinct
    event-type counts with exact milli shares — one user-keyed
    countDistinct + a |types|-bounded rollup."""
    return user_type_diversity(load(spark, sf_dir, "events")).orderBy(
        "n_types", "users", "users_share_milli"
    )


# -- x102: peak activity hour per event type -------------------------------------
#
# The OPS-CALENDAR view: for each event type, the (day-of-week, hour)
# cell where it peaks and how concentrated it is there (exact milli
# share of the type's events) — capacity planning (when do purchases
# spike) and anomaly triage (errors peaking at 4am Sunday = a batch
# job, not users).  One partial-agg'd groupBy((type, dow, hour)) over
# the scan; the argmax is a max-of-struct per type over the
# |types|x168-bounded matrix — never a window over event-grain rows.
# Deterministic tie order: highest n, then smallest (dow, hour).
# Day-of-week convention: 0 = Sunday (DuckDB's dayofweek; Spark's
# dayofweek()-1).

_X102_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3),
t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
      FROM c GROUP BY 1),
r AS (SELECT c.*, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY n DESC, dow, hr) AS rn
      FROM c)
SELECT r.event_type, dow, hr, n,
       CAST(1000 * n // t.tot AS BIGINT) AS share_milli
FROM r JOIN t USING (event_type) WHERE rn = 1
ORDER BY event_type, dow, hr, n, share_milli"""


def type_hour_cells(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(event_type, dow, hr, n): the partial-agg'd activity cube at
    (type, day-of-week 0=Sunday, hour) grain — the <=|types|*168-row
    sufficient statistic behind x102's argmax AND x118's seasonality
    matrix (and the S38 streaming state: the cells fold additively)."""
    return (
        events.select(
            F.col(type_col).alias("event_type"),
            (F.dayofweek(ts_col) - 1).cast("long").alias("dow"),
            F.hour(ts_col).cast("long").alias("hr"),
        )
        .groupBy("event_type", "dow", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def peak_hours_from_cells(cells: DataFrame) -> DataFrame:
    """Serve the x102 table from (event_type, dow, hr, n) cells —
    identical math to ``peak_hours`` from the cell grain down."""
    # argmax by (n DESC, dow ASC, hr ASC) = max of (n, -dow, -hr)
    return (
        cells.groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    F.col("n").alias("n"),
                    (-F.col("dow")).alias("nd"),
                    (-F.col("hr")).alias("nh"),
                )
            ).alias("m"),
            F.sum("n").cast("long").alias("tot"),
        )
        .select(
            "event_type",
            (-F.col("m.nd")).cast("long").alias("dow"),
            (-F.col("m.nh")).cast("long").alias("hr"),
            F.col("m.n").alias("n"),
            F.expr("1000 * m.n div tot").cast("long").alias("share_milli"),
        )
    )


def peak_hours(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(event_type, dow, hr, n, share_milli): each type's peak
    (day-of-week 0=Sunday, hour) activity cell with its exact milli
    share of the type's events; ties break to the smallest (dow, hr)."""
    return peak_hours_from_cells(type_hour_cells(events, type_col, ts_col))


@register("x102_peak_hours", _X102_ORACLE)
def x102_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102 peak activity cell per event type: the (dow, hour) where
    each type concentrates, with exact milli share — one partial-agg'd
    (type, dow, hour) rollup + a max-of-struct argmax per type (no
    event-grain window, no sort)."""
    return peak_hours(load(spark, sf_dir, "events")).orderBy(
        "event_type", "dow", "hr", "n", "share_milli"
    )


# -- x118: hourly seasonality matrix ---------------------------------------------
#
# The full (day-of-week, hour) activity matrix with exact milli shares
# — x102 reads the cube's per-type ARGMAX; x118 reads the whole
# marginal surface (capacity planning, anomaly baselines, the "when is
# traffic" heatmap).  Same <=|types|*168-row sufficient statistic
# (type_hour_cells), so the S38 streaming state serves BOTH live.

_X118_ORACLE = """
WITH c AS (
  SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
SELECT dow, hr, n, CAST(1000 * n // t.tot AS BIGINT) AS share_milli
FROM c CROSS JOIN t
ORDER BY dow, hr, n, share_milli"""


def hourly_seasonality_from_cells(cells: DataFrame) -> DataFrame:
    """Serve the x118 matrix from (event_type, dow, hr, n) cells: the
    type marginal collapses first; the share window runs over the
    <=168-row (dow, hr) frame (long-safe: n is a row count)."""
    h = cells.groupBy("dow", "hr").agg(F.sum("n").cast("long").alias("n"))
    return h.select(
        "dow",
        "hr",
        "n",
        F.expr("1000 * n div sum(n) over ()").cast("long").alias(
            "share_milli"
        ),
    )


@register("x118_hourly_seasonality", _X118_ORACLE)
def x118_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118 hourly seasonality matrix: event volume and exact milli
    share per (day-of-week 0=Sunday, hour) cell — the traffic heatmap
    next to x102's per-type peaks.  ONE partial-agg'd rollup over the
    scan; the share window runs over the 168-cell metadata frame."""
    return hourly_seasonality_from_cells(
        type_hour_cells(load(spark, sf_dir, "events"))
    ).orderBy("dow", "hr", "n", "share_milli")


# -- x105: first-touch -> first-purchase conversion latency ----------------------
#
# TIME TO CONVERT: per converting user, the exact integer seconds from
# their first event of any kind to their first purchase; globally the
# exact discrete p50/p90 + converter count — the activation-speed
# number next to x97's conversion RATES and x91's repeat cadence.  One
# user-keyed aggregate (both firsts in a single pass), gap arithmetic
# on exact epoch micros (the x91 NTZ/UTC guard), percentiles on the
# shared banded machinery — no sort anywhere.

_X105_ORACLE = """
WITH u AS (
  SELECT user_id, MIN(ts) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY user_id),
d AS (SELECT CAST((epoch_us(tp) - epoch_us(t0)) // 1000000 AS BIGINT)
          AS gap_s
      FROM u WHERE tp IS NOT NULL),
r AS (SELECT gap_s, ROW_NUMBER() OVER (ORDER BY gap_s) AS rn FROM d),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_converters FROM d)
SELECT n.n_converters,
       CAST(MAX(CASE WHEN rn = 1 + (n_converters - 1) * 50 // 100
                     THEN gap_s END) AS BIGINT) AS p50_s,
       CAST(MAX(CASE WHEN rn = 1 + (n_converters - 1) * 90 // 100
                     THEN gap_s END) AS BIGINT) AS p90_s
FROM r CROSS JOIN n
GROUP BY n.n_converters
ORDER BY n_converters, p50_s, p90_s"""


def conversion_latency(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(n_converters, p50_s, p90_s): exact discrete percentiles of the
    first-touch -> first-purchase gap in integer seconds, over users
    who ever purchased."""
    return conversion_latency_from_state(
        conversion_firsts(events, user_col, type_col, ts_col, purchase_type)
    )


def conversion_firsts(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    purchase_type: str = "purchase",
) -> DataFrame:
    """The x105 statistic: per user (u, e0, ep), the epoch micros of the
    first event and of the first purchase (NULL if none) — both firsts
    in one user-keyed pass, MIN-mergeable (the S31 fold)."""
    us = _epoch_us(events, ts_col)
    return events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(us).cast("long").alias("e0"),
        F.min(F.when(F.col(type_col) == purchase_type, us))
        .cast("long")
        .alias("ep"),
    )


@register("x105_conversion_latency", _X105_ORACLE)
def x105_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105 activation speed: exact p50/p90 seconds from a user's first
    event to their first purchase — one user-keyed two-firsts
    aggregate, exact epoch-micro gaps, shared no-sort percentile
    machinery."""
    return conversion_latency(load(spark, sf_dir, "events"))


def diversity_from_user_types(pairs: DataFrame) -> DataFrame:
    """The x99 distribution from ``user_type_pairs`` rows, raw (batch) or
    the S30 distinct pair state
    (``streaming.state_sink.sink_user_type_state``): one user-keyed
    COUNT(DISTINCT y) — NULL types uncounted, and map-side over the tiny
    type domain — then a |types|-bounded rollup with exact milli
    shares."""
    u = pairs.groupBy("u").agg(
        F.countDistinct("y").cast("long").alias("n_types")
    )
    return (
        u.groupBy("n_types")
        .agg(F.count(F.lit(1)).cast("long").alias("users"))
        # the share window runs over the |types|-bounded distribution
        .select(
            "n_types",
            "users",
            F.expr("1000 * users div sum(users) over ()")
            .cast("long")
            .alias("users_share_milli"),
        )
    )


def conversion_latency_from_state(state: DataFrame) -> DataFrame:
    """The x105 row from a per-user ``conversion_firsts`` frame, batch or
    the S31 min-folded state (``streaming.state_sink.sink_conversion_state``):
    converters' epoch-micro gaps through the banded percentile
    machinery."""
    from cubefs_hadoop_spark.extensions.ranking import (
        grouped_exact_percentiles,
    )

    g = state.filter(F.col("ep").isNotNull()).select(
        F.expr("(ep - e0) div 1000000").cast("long").alias("gap_s")
    )
    return grouped_exact_percentiles(
        g, "gap_s", group_cols=(), quantiles=(50, 90)
    ).select(
        F.col("n").alias("n_converters"),
        F.col("p50").alias("p50_s"),
        F.col("p90").alias("p90_s"),
    )


# -- x107: weekly active users + week-over-week retention -------------------------
#
# The WAU/churn topline next to x95's revenue trend and x74's cohort
# matrix: per week (x74/x89's integer-day convention from the corpus
# min date), the distinct active users, how many of them were ALSO
# active the PREVIOUS week (returning), and the exact milli returning
# share.  One distinct (week, user) frame feeds both counts; the
# returning join is user-keyed against the same frame shifted one week
# — never a cross join, never a window over users.

_X107_ORACLE = """
WITH wu AS (
  SELECT DISTINCT
         date_diff('day', (SELECT CAST(MIN(ts) AS DATE) FROM events),
                   CAST(ts AS DATE)) // 7 AS week,
         user_id
  FROM events),
w AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS wau FROM wu GROUP BY 1),
r AS (SELECT a.week, CAST(COUNT(*) AS BIGINT) AS returning_users
      FROM wu a JOIN wu b
        ON b.user_id = a.user_id AND b.week = a.week - 1
      GROUP BY 1)
SELECT CAST(w.week AS BIGINT) AS week, wau,
       CAST(COALESCE(returning_users, 0) AS BIGINT) AS returning_users,
       CAST(1000 * COALESCE(returning_users, 0) // wau AS BIGINT)
           AS returning_share_milli
FROM w LEFT JOIN r USING (week)
ORDER BY week, wau, returning_users, returning_share_milli"""


def weekly_active_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(week, wau, returning_users, returning_share_milli): weekly
    distinct active users with the week-over-week returning count and
    exact milli share (column named returning_users — RETURNING is a
    DuckDB reserved word)."""
    anchor_date = events.agg(F.min(F.col(ts_col).cast("date"))).first()[0]
    if anchor_date is None:
        raise ValueError("weekly_active_users: no events — no week-0 anchor")
    wu = week_user_pairs(events, anchor_date.isoformat(), user_col, ts_col)
    # the pair frame feeds BOTH counts and the shift join
    return wau_from_week_users(barrier(wu, eager=False))


def _weeks_since(df: DataFrame, ts_col: str, anchor: str) -> DataFrame:
    """``df`` with ``week``: whole weeks from the ISO-date ``anchor`` to
    ``ts_col`` (x74/x89's integer-day convention), under the ONE anchor
    guard of x107/x113 and S32/S37.  A pre-anchor event would give a
    negative datediff, which Spark's ``div 7`` truncates toward zero and
    DuckDB's ``//`` floors — a wrong, engine-divergent week — so it
    fails the query loudly instead (assert_true is NULL on success, so
    the filter keeps every valid row).  A NULL ts passes and lands in
    the NULL week, as in DuckDB."""
    t = F.col(ts_col)
    return df.withColumn(
        "week",
        F.expr(f"datediff(cast({ts_col} as date), date'{anchor}') div 7")
        .cast("long"),
    ).filter(
        F.assert_true(
            t.isNull() | (t.cast("date") >= F.lit(anchor).cast("date")),
            F.lit(
                f"event precedes the pinned week-0 anchor {anchor};"
                " re-anchor the state"
            ),
        ).isNull()
    )


def week_user_pairs(
    events: DataFrame,
    anchor: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """The x107 statistic: the distinct (week, u) activity pairs, weeks
    counted from ``anchor`` — batch x107 pins it to the corpus min date,
    S32 to the caller's (a stream cannot derive the corpus min date)."""
    ev = events.select(ts_col, F.col(user_col).alias("u"))
    return _weeks_since(ev, ts_col, anchor).select("week", "u").distinct()


@register("x107_weekly_active_users", _X107_ORACLE)
def x107_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107 WAU + week-over-week retention: distinct weekly actives and
    the exact milli share also active the previous week — ONE distinct
    (week, user) frame feeding both counts and a user-keyed
    shifted-week equi-join (no window over users, no cross join)."""
    return weekly_active_users(load(spark, sf_dir, "events")).orderBy(
        "week", "wau", "returning_users", "returning_share_milli"
    )


# -- x110: session depth histogram -------------------------------------------------
#
# The ENGAGEMENT-DEPTH axis next to x90's duration percentiles: how
# many events sessions contain — (depth, sessions, sessions_share_milli)
# over x34's sessionization.  A depth-1 spike = bounce traffic; a long
# tail = real engagement.  The session frame collapses to a
# depth-bounded histogram in one partial agg; shares over the
# histogram-sized frame.

_X110_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {_X34_GAP_US}
              THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
  FROM o),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS depth
      FROM s GROUP BY user_id, sess),
g AS (SELECT depth, CAST(COUNT(*) AS BIGINT) AS sessions
      FROM d GROUP BY depth),
t AS (SELECT CAST(SUM(sessions) AS BIGINT) AS tot FROM g)
SELECT depth, sessions,
       CAST(1000 * sessions // t.tot AS BIGINT) AS sessions_share_milli
FROM g CROSS JOIN t
ORDER BY depth, sessions, sessions_share_milli"""


def session_depth_histogram(
    events: DataFrame,
    gap_us: int = _X34_GAP_US,
) -> DataFrame:
    """(depth, sessions, sessions_share_milli): the distribution of
    events-per-session over x34's sessionization."""
    s = sessionize(events, gap_us=gap_us)
    return _depth_shares(
        s.select(
            F.col("events").cast("long").alias("depth"),
            F.lit(1).cast("long").alias("n"),
        )
    )


def _depth_shares(cells: DataFrame) -> DataFrame:
    """The x110 tail, shared with the S33 serve: (depth, n) session
    cells summed per depth, exact milli shares over the depth-bounded
    histogram."""
    return (
        cells.groupBy("depth")
        .agg(F.sum("n").cast("long").alias("sessions"))
        .select(
            "depth",
            "sessions",
            F.expr("1000 * sessions div sum(sessions) over ()")
            .cast("long")
            .alias("sessions_share_milli"),
        )
    )


@register("x110_session_depth", _X110_ORACLE)
def x110_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110 session depth histogram: events-per-session distribution
    with exact milli shares over x34's one-user-keyed-window sessions —
    the bounce-vs-engagement table next to x90's durations."""
    return session_depth_histogram(load(spark, sf_dir, "events")).orderBy(
        "depth", "sessions", "sessions_share_milli"
    )


# -- x111: engagement concentration deciles ----------------------------------------
#
# The POWER-USER CURVE: rank users by event count (DESC, user tiebreak),
# cut into exact NTILE(10) deciles on the skew-proof distributed rank,
# and report each decile's user count, event mass, and exact milli
# share — "the top 10% of users generate X% of events" read off row 1.
# x92 is the money Pareto; this is the activity Pareto; both ride the
# same rank machinery without a single-task sort.

_X111_ORACLE = """
WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev
           FROM events GROUP BY 1),
r AS (SELECT n_ev, NTILE(10) OVER (ORDER BY n_ev DESC, user_id) AS decile
      FROM u),
t AS (SELECT CAST(SUM(n_ev) AS BIGINT) AS tot FROM u)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS users,
       CAST(SUM(n_ev) AS BIGINT) AS events,
       CAST(CAST(1000 AS HUGEINT) * SUM(n_ev) // t.tot AS BIGINT)
           AS share_milli
FROM r CROSS JOIN t
GROUP BY decile, t.tot
ORDER BY decile, users, events, share_milli"""


def engagement_concentration(
    events: DataFrame,
    user_col: str = "user_id",
    k: int = 10,
) -> DataFrame:
    """(decile, users, events, share_milli): exact NTILE(k) activity
    deciles over per-user event counts with exact milli event shares."""
    from cubefs_hadoop_spark.extensions.intmath import spark_exact_floordiv
    from cubefs_hadoop_spark.extensions.ranking import (
        distributed_rank,
        ntile_from_rank,
    )

    u = events.groupBy(F.col(user_col).alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ev")
    )
    u = barrier(u, eager=False)  # feeds the totals AND the rank
    n_users, total = u.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("n_ev"), F.lit(0))
    ).first()
    if int(n_users) == 0:
        return events.sparkSession.createDataFrame(
            [], "decile long, users long, events long, share_milli long"
        )
    ranked = distributed_rank(u, "n_ev", "u", descending=True)
    return (
        ranked.select(
            ntile_from_rank("rank", int(n_users), int(k)).alias("decile"),
            "n_ev",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("users"),
            F.sum("n_ev").cast("long").alias("events"),
        )
        .select(
            "decile",
            "users",
            "events",
            F.expr(
                spark_exact_floordiv([1000, "events"], [int(total)])
            ).alias("share_milli"),
        )
    )


@register("x111_engagement_concentration", _X111_ORACLE)
def x111_engagement_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X111 power-user curve: exact NTILE(10) activity deciles over
    per-user event counts with exact milli event shares — the activity
    Pareto beside x92's revenue Pareto; rank-exact via the skew-proof
    distributed rank + integer NTILE arithmetic, never a global sort."""
    return engagement_concentration(load(spark, sf_dir, "events")).orderBy(
        "decile", "users", "events", "share_milli"
    )


def wau_from_week_users(pairs: DataFrame) -> DataFrame:
    """The x107 table from ``week_user_pairs``, batch or the S32 union
    state (``streaming.state_sink.sink_weekly_users_state``): weekly
    actives, and the returning count by a user-keyed shifted-week
    equi-join."""
    w = pairs.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    prev = pairs.select((F.col("week") + 1).alias("week"), "u")
    r = (
        pairs.join(prev, ["week", "u"])
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("returning_users"))
    )
    return w.join(r, "week", "left").select(
        "week",
        "wau",
        F.coalesce("returning_users", F.lit(0))
        .cast("long")
        .alias("returning_users"),
        F.expr("1000 * coalesce(returning_users, 0) div wau")
        .cast("long")
        .alias("returning_share_milli"),
    )


def session_depth_from_state(
    spark: SparkSession, state_dir: str, open_dir: str
) -> DataFrame:
    """Serve the live x110 histogram from the S33 state
    (``streaming.state_sink.sink_session_depth_state``): closed-session
    (depth, n) cells PLUS each user's still-open session at its current
    depth — together exactly the sessions a batch x110 over everything
    ingested would count, through the same ``_depth_shares`` tail."""
    from cubefs_hadoop_spark.fs import warehouse_fs
    from cubefs_hadoop_spark.streaming.state_sink import (
        _latest_snapshot_batch,
        read_state,
    )
    from cubefs_hadoop_spark.versioning import last_committed_batch

    cells = read_state(spark, state_dir).select("depth", "n")
    # Bound the open-session snapshot to the COMMITTED batch: the
    # snapshot for batch N is published inside stats_fn before the state
    # commits, so an unbounded read during an in-flight commit (or after
    # a crash between snapshot publish and state publish) would pair
    # batch-N open rows with batch-(N-1) closed cells and transiently
    # drop sessions closed by batch N (ADVICE r13).
    committed = last_committed_batch(
        state_dir, warehouse_fs(spark, state_dir)
    )
    fs = warehouse_fs(spark, open_dir)
    b = _latest_snapshot_batch(fs, open_dir, before=committed + 1)
    if b is not None:
        open_counts = (
            spark.read.parquet(fs.join(open_dir, f"batch={b}"))
            .groupBy("depth")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        cells = cells.unionByName(open_counts)
    return _depth_shares(cells)


# -- x112: daily revenue spike detection -------------------------------------------
#
# ALERTING over the revenue series: per day with purchases, the exact
# cent revenue, the trailing sum over the previous 7 OBSERVED purchase
# days (a ROWS frame — both engines agree and a quiet calendar can't
# zero the baseline), and an integer-exact spike flag
# (rev * 7 > 2 * trailing — i.e. the day runs at over 2x the trailing
# mean) — NULL flag until a full 7-day baseline exists.  The day frame
# is calendar-bounded metadata; the lag window runs over it, never
# over events.

_X112_ORACLE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
t AS (
  SELECT day, rev,
         CAST(SUM(rev) OVER (ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS trailing7,
         COUNT(*) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nb
  FROM d)
SELECT day, rev AS rev_cents, trailing7 AS trailing7_cents,
       CASE WHEN nb < 7 THEN NULL
            ELSE rev * 7 > 2 * trailing7 END AS spike
FROM t ORDER BY day, rev_cents, trailing7_cents, spike"""


def revenue_spike_days(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(day, rev_cents, trailing7_cents, spike): daily purchase revenue
    with the trailing-7-observed-days baseline and an integer-exact
    over-2x-mean spike flag (NULL until the baseline is full)."""
    # one cells pass + the trailing window over the calendar-bounded
    # day frame (the halves S36 folds/serves)
    return revenue_spikes_from_cells(
        revenue_day_cells(events, type_col, ts_col, value_col, purchase_type)
    )


@register("x112_revenue_spikes", _X112_ORACLE)
def x112_revenue_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112 revenue spike detection: integer-exact over-2x-trailing-mean
    flags on the daily purchase series — the alerting view over x95's
    weekly topline; one scan-pushed groupBy(day), a ROWS window over
    the calendar-bounded day frame (SinglePartition BY DESIGN at
    metadata scale, the x95 regime)."""
    return revenue_spike_days(load(spark, sf_dir, "events")).orderBy(
        "day", "rev_cents", "trailing7_cents", "spike"
    )


# -- x113: weekly catalog turnover --------------------------------------------------
#
# CATALOG FRESHNESS: per week (x74/x89 convention), how many distinct
# items were purchased and how many were NEW (first purchase ever that
# week) — x66's Heaps-law vocabulary probe at catalog grain, over the
# props JSON payload.  One distinct (week, item) frame; firsts are a
# per-item min-week (catalog-grain partial agg), never a window over
# events.

_X113_ORACLE = """
WITH p AS (
  SELECT DISTINCT
         date_diff('day', (SELECT CAST(MIN(ts) AS DATE) FROM events),
                   CAST(ts AS DATE)) // 7 AS week,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
  WHERE event_type = 'purchase' AND props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL),
f AS (SELECT k, CAST(MIN(week) AS BIGINT) AS first_week FROM p GROUP BY k),
w AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS items FROM p GROUP BY week),
n AS (SELECT first_week AS week, CAST(COUNT(*) AS BIGINT) AS new_items
      FROM f GROUP BY 1)
SELECT CAST(w.week AS BIGINT) AS week, items,
       CAST(COALESCE(new_items, 0) AS BIGINT) AS new_items
FROM w LEFT JOIN n USING (week)
ORDER BY week, items, new_items"""


def catalog_turnover(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    props_col: str = "props",
    item_path: str = "$.k",
    purchase_type: str = "purchase",
) -> DataFrame:
    """(week, items, new_items): weekly distinct purchased items and
    how many were first purchased that week."""
    anchor_date = events.agg(F.min(F.col(ts_col).cast("date"))).first()[0]
    if anchor_date is None:
        raise ValueError("catalog_turnover: no events — no week-0 anchor")
    p = week_item_pairs(
        events,
        anchor_date.isoformat(),
        type_col,
        ts_col,
        props_col,
        item_path,
        purchase_type,
    )
    # the pair frame feeds both rollups
    return catalog_turnover_from_pairs(barrier(p, eager=False))


def week_item_pairs(
    events: DataFrame,
    anchor: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    props_col: str = "props",
    item_path: str = "$.k",
    purchase_type: str = "purchase",
) -> DataFrame:
    """The x113 statistic: the distinct (week, k) purchased-item pairs,
    weeks counted from ``anchor`` (the ``week_user_pairs`` convention;
    S37 folds them by set union)."""
    p = (
        events.filter(
            (F.col(type_col) == purchase_type)
            & F.col(props_col).isNotNull()
        )
        .select(
            ts_col,
            F.get_json_object(props_col, item_path).cast("long").alias("k"),
        )
        .filter(F.col("k").isNotNull())
    )
    return _weeks_since(p, ts_col, anchor).select("week", "k").distinct()


@register("x113_catalog_turnover", _X113_ORACLE)
def x113_catalog_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113 catalog freshness: weekly distinct purchased items + the
    count first purchased that week — x66's vocabulary-growth probe at
    catalog grain over the props JSON; one distinct (week, item) frame
    feeding a week rollup and a catalog-grain min-week rollup."""
    return catalog_turnover(load(spark, sf_dir, "events")).orderBy(
        "week", "items", "new_items"
    )


def revenue_day_cells(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """The x112 sufficient statistic at day grain: (day, rev_cents)
    additive sums — the S36 fold unit."""
    return (
        events.filter(F.col(type_col) == purchase_type)
        .groupBy(F.col(ts_col).cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col(value_col) * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )


def revenue_spikes_from_cells(cells: DataFrame) -> DataFrame:
    """Serve the x112 spike table from folded (day, rev_cents) cells
    (``streaming.state_sink.sink_revenue_day_state``): the trailing
    ROWS window runs over the calendar-bounded day frame — identical
    math to ``revenue_spike_days``."""
    w = Window.orderBy("day").rowsBetween(-7, -1)
    return cells.select(
        "day",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("trailing7_cents"),
        F.when(
            F.count(F.lit(1)).over(w) < 7, F.lit(None).cast("boolean")
        )
        .otherwise(
            F.col("rev_cents") * 7 > 2 * F.sum("rev_cents").over(w)
        )
        .alias("spike"),
    )


def catalog_turnover_from_pairs(pairs: DataFrame) -> DataFrame:
    """The x113 table from ``week_item_pairs``, batch or the S37 union
    state (``streaming.state_sink.sink_catalog_week_state``): weekly
    items, and new items by a catalog-grain min-week rollup."""
    w = pairs.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("items")
    )
    n = (
        pairs.groupBy("k")
        .agg(F.min("week").alias("week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("new_items"))
    )
    return w.join(n, "week", "left").select(
        "week",
        "items",
        F.coalesce("new_items", F.lit(0)).cast("long").alias("new_items"),
    )


# -- x125: user lifespan percentiles ---------------------------------------------
#
# TENURE: per returning user, the exact integer seconds between their
# first and last event; globally the exact discrete p50/p90 + the
# returning-user count — the engagement-duration number next to x105's
# activation speed (first->first-purchase) and x74's cohort retention.
# One user-keyed min/max aggregate (single scan, single shuffle), gap
# arithmetic on exact epoch micros (the x91 NTZ/UTC guard), the shared
# banded percentile machinery — no sort anywhere.

_X125_ORACLE = """
WITH u AS (
  SELECT user_id, MIN(ts) AS t0, MAX(ts) AS t1
  FROM events GROUP BY user_id),
d AS (SELECT CAST((epoch_us(t1) - epoch_us(t0)) // 1000000 AS BIGINT)
          AS span_s
      FROM u WHERE t1 > t0),
r AS (SELECT span_s, ROW_NUMBER() OVER (ORDER BY span_s) AS rn FROM d),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM d)
SELECT n.n_users,
       CAST(MAX(CASE WHEN rn = 1 + (n_users - 1) * 50 // 100
                     THEN span_s END) AS BIGINT) AS p50_s,
       CAST(MAX(CASE WHEN rn = 1 + (n_users - 1) * 90 // 100
                     THEN span_s END) AS BIGINT) AS p90_s
FROM r CROSS JOIN n
GROUP BY n.n_users
ORDER BY n_users, p50_s, p90_s"""


def user_lifespan(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(n_users, p50_s, p90_s): exact discrete percentiles of the
    first-to-last-event span in integer seconds, over users seen more
    than an instant (span > 0 — single-event users carry no tenure
    signal and would crush the percentiles to 0)."""
    return lifespan_from_spans(user_spans(events, user_col, ts_col))


def user_spans(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """The x125 statistic: per user (u, e0, e1), the first and last
    event's epoch micros — MIN/MAX-mergeable (the S39 fold)."""
    us = _epoch_us(events, ts_col)
    return events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(us).cast("long").alias("e0"),
        F.max(us).cast("long").alias("e1"),
    )


def lifespan_from_spans(spans: DataFrame) -> DataFrame:
    """The x125 percentile table from a per-user (e0, e1) epoch-micro
    span frame — shared by the batch path and the S39 streamed state
    (whose min/max fold produces exactly this frame)."""
    from cubefs_hadoop_spark.extensions.ranking import (
        grouped_exact_percentiles,
    )

    g = spans.filter(F.col("e1") > F.col("e0")).select(
        F.expr("(e1 - e0) div 1000000").cast("long").alias("span_s")
    )
    return grouped_exact_percentiles(
        g, "span_s", group_cols=(), quantiles=(50, 90)
    ).select(
        F.col("n").alias("n_users"),
        F.col("p50").alias("p50_s"),
        F.col("p90").alias("p90_s"),
    )


@register("x125_user_lifespan", _X125_ORACLE)
def x125_user_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125 user tenure: exact discrete p50/p90 seconds from a user's
    first to last event + returning-user count — the
    engagement-duration figure beside x105's activation latency.  One
    user-keyed min/max aggregate, banded percentiles, no sort."""
    return user_lifespan(load(spark, sf_dir, "events")).orderBy(
        "n_users", "p50_s", "p90_s"
    )
