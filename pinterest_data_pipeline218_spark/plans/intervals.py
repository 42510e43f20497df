"""Interval analytics over the `events` table: deriving interval relations
(sessions, outage windows) and joining them on TEMPORAL OVERLAP — the
interval-join family, beside the as-of family in `operators/asof.py`.

The naive interval-overlap join is a non-equi θ-join (a.start < b.end AND
b.start <= a.end) that plans as a nested-loop cross product; the
scale-correct form bucketizes both interval sets onto a shared time grain
and equi-joins on the bucket — candidate pairs are bounded by bucket
co-occupancy, every truly-overlapping pair shares at least one covered
bucket (an interval covers every bucket its span touches), and the exact
overlap predicate verifies candidates. This is the same
bucketize-the-range-predicate move the as-of join uses
(`operators/asof.py`), extended from point-in-range to range-vs-range.

Reference scope: beyond-reference (the reference has no interval
operators); extends the temporal family (as-of, sessionization, SCD2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..data import load_table, plan_identity, session_memo
from .events import SESSION_GAP_SECONDS

OVERLAP_BUCKET = "1 hour"  # shared grain for the bucketized overlap join


def user_sessions(ev: DataFrame) -> DataFrame:
    """(user_id, sess_id, sess_start, sess_end, n_events): lag-gap
    sessionization materialized as INTERVALS (the same gap rule as
    ev_sessions_per_user, which only counts them)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("ts") - F.lag("ts").over(w))
            > F.expr(f"INTERVAL {SESSION_GAP_SECONDS} SECONDS"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def outage_windows(ev: DataFrame) -> DataFrame:
    """(outage_id, o_start, o_end): merged intervals of ABOVE-AVERAGE
    error-rate minutes. Hot minute: its error count clears the global
    average by integer cross-multiplication (c · n_minutes > total —
    data-adaptive, no SF-tuned constant); contiguous hot minutes merge by
    gaps-and-islands, o_end exclusive (last hot minute + 1 min).

    Scale: one (minute) aggregate (map-side combinable), a 1-row total
    broadcast back, and DAY-PARTITIONED island windows over the
    hot-minute relation (<= 1440 rows per partition by construction);
    cross-midnight chains merge through a <=2-per-day boundary set
    resolved driver-side — no partitionless window anywhere (r10).

    r11 (ADVICE r10): the two PLANNING jobs (the 1-row totals and the
    boundary-island collect) share one transient persist of the
    minute-aggregate relation — the totals job fills the cache off the
    events scan, the boundary job reads the cache, and the persist is
    dropped (blocking) before the plan is returned. Per execution the
    raw events scan runs twice (planning + the returned plan's interior
    islands), not three times. Plan construction is EAGER by design —
    failures and the two bounded collects surface when the DataFrame is
    built, the documented price of the planning-literal pattern
    (ev_outliers_mad, tpch_q15)."""

    def _minute_agg() -> DataFrame:
        return (
            ev.filter(F.col("event_type") == "error")
            .groupBy(F.date_trunc("minute", F.col("ts")).alias("mn"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    # DAY-PARTITIONED gaps-and-islands (r10, VERDICT r9 #4 — this was the
    # registry's only partitionless-window pair): each day's hot minutes
    # aggregate to ONE sorted position array (<=1440 ints) and the island
    # runs fall out of index-aware higher-order filters — no Window node
    # at all, one exchange. The <=2-per-day islands that TOUCH a midnight
    # are chain-merged driver-side (bounded planning state — 2 rows/day
    # even at a multi-decade span, handles arbitrarily long full-day
    # chains) and unioned back with the untouched interior islands. The
    # result is provably equal to the global-sort islands: islands can
    # only connect at midnights, and interval-touch merging of the
    # boundary set realizes exactly those connections (pinned by the
    # planted cross-midnight pytest + the unchanged global-window oracle).
    def _islands(mins: DataFrame, n_minutes: int, total) -> DataFrame:
        hot = mins.filter(
            F.col("c") * F.lit(n_minutes)
            > F.lit(total if total is not None else 0)
        ).select("mn")
        return (
            hot.groupBy(F.to_date("mn").alias("day"))
            .agg(
                F.array_sort(
                    F.collect_list(F.hour("mn") * 60 + F.minute("mn"))
                ).alias("ps")
            )
            .select(
                "day",
                F.explode(
                    F.arrays_zip(
                        # index args are clamped: ANSI element_at throws on
                        # 0 / past-end, and OR does not short-circuit; the
                        # clamped probe compares x against itself (+1 != x)
                        # exactly when the unclamped index would be out of
                        # range
                        F.expr(
                            "filter(ps, (x, i) -> "
                            "x != element_at(ps, greatest(i, 1)) + 1)"
                        ).alias("s_pos"),
                        F.expr(
                            "filter(ps, (x, i) -> "
                            "element_at(ps, least(i + 2, size(ps))) != x + 1)"
                        ).alias("e_pos"),
                    )
                ).alias("run"),
            )
            .select(
                F.expr(
                    "CAST(day AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, run.s_pos, 0)"
                ).alias("i_start"),
                F.expr(
                    "CAST(day AS TIMESTAMP) + make_interval(0, 0, 0, 0, 0, run.e_pos + 1, 0)"
                ).alias("i_end"),
                (F.col("run.s_pos") == 0).alias("at_head"),
                (F.col("run.e_pos") == 1439).alias("at_tail"),
            )
        )

    # Planning state (r15): the two scalars + the <=2-per-day boundary set
    # are plan-determined kilobytes, but were re-collected (2 jobs + a
    # transient persist) on EVERY execution; memoized per minute-agg plan.
    def build():
        cached = _minute_agg().persist()
        try:
            n_minutes, total = cached.agg(
                F.count(F.lit(1)), F.sum("c")
            ).first()  # 2 scalars of driver state; fills the cache
            bnd = sorted(
                (r.i_start, r.i_end)
                for r in _islands(cached, n_minutes, total)
                .filter(F.col("at_head") | F.col("at_tail"))
                .select("i_start", "i_end")
                .collect()
            )  # <= 2 islands/day of span: bounded driver-side planning
            # state; cache read — no second events scan at planning time
        finally:
            cached.unpersist(blocking=True)
        return n_minutes, total, bnd

    n_minutes, total, bnd = session_memo(
        ev.sparkSession, "outage_planning", plan_identity(_minute_agg()), build
    )
    interior = _islands(_minute_agg(), n_minutes, total).filter(
        ~F.col("at_head") & ~F.col("at_tail")
    ).select("i_start", "i_end")
    merged: list[tuple] = []
    for s, e in bnd:
        if merged and merged[-1][1] == s:  # touch exactly at a midnight
            merged[-1] = (merged[-1][0], e)
        else:
            merged.append((s, e))
    spark = ev.sparkSession
    merged_df = spark.createDataFrame(
        merged, "i_start timestamp, i_end timestamp"
    )
    return interior.unionByName(merged_df).select(
        F.unix_micros(F.col("i_start")).alias("outage_id"),
        F.col("i_start").alias("o_start"),
        F.col("i_end").alias("o_end"),
    )


def _bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
    """Explode an interval relation to every OVERLAP_BUCKET its span
    covers (inclusive of the bucket containing the end point)."""
    return df.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col(start)),
                F.date_trunc("hour", F.col(end)),
                F.expr(f"INTERVAL {OVERLAP_BUCKET}"),
            )
        ),
    )


def ev_session_outage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join, end to end: which user sessions ran through
    a site outage, and for how long — sessions (lag-gap intervals) ⋈
    outage windows (merged above-average error minutes) on temporal
    overlap. Per overlapping (session, outage) pair the overlap duration
    is exact integer µs; output aggregates per session: outages touched
    and total overlapped time.

    Join shape (the module's point): both interval sets explode to their
    covered 1-hour buckets and equi-join on the bucket — a
    hashpartitioned join bounded by co-occupancy, never the θ-join cross
    product — then distinct pairs verify the exact half-open overlap
    predicate (sess_start < o_end AND o_start <= sess_end). Overlap
    convention: sessions are closed [start, end] (event timestamps),
    outages half-open [o_start, o_end); touching at a single instant
    counts with overlap_us = 0."""
    ev = load_table(spark, sf_dir, "events")
    sess = user_sessions(ev)
    out = outage_windows(ev)
    sb = _bucketed(sess, "sess_start", "sess_end")
    ob = _bucketed(out, "o_start", "o_end")
    cand = (
        sb.join(ob, "bucket")
        .select(
            "user_id", "sess_id", "sess_start", "sess_end", "n_events",
            "outage_id", "o_start", "o_end",
        )
        .distinct()
    )
    overlap_us = F.expr(
        "unix_micros(least(sess_end, o_end)) - "
        "unix_micros(greatest(sess_start, o_start))"
    )
    hits = cand.filter(
        (F.col("sess_start") < F.col("o_end"))
        & (F.col("o_start") <= F.col("sess_end"))
    ).select(
        "user_id",
        "sess_id",
        "sess_start",
        "n_events",
        "outage_id",
        F.greatest(overlap_us, F.lit(0)).alias("overlap_us"),
    )
    return (
        hits.groupBy("user_id", "sess_id")
        .agg(
            F.first("sess_start").alias("sess_start"),
            F.first("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_outages"),
            F.sum("overlap_us").alias("overlap_us"),
        )
        .select(
            "user_id", "sess_start", "n_events", "n_outages", "overlap_us"
        )
        .orderBy("user_id", "sess_start")
    )


EV_INTERVAL_OVERLAP_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_SECONDS} SECONDS
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, sess_id, MIN(ts) AS sess_start, MAX(ts) AS sess_end,
         COUNT(*) AS n_events
  FROM (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
    FROM flagged
  )
  GROUP BY user_id, sess_id
), m AS (
  SELECT date_trunc('minute', ts) AS mn, COUNT(*) AS c
  FROM events WHERE event_type = 'error' GROUP BY 1
), hot AS (
  SELECT mn FROM m
  WHERE c * (SELECT COUNT(*) FROM m) > (SELECT SUM(c) FROM m)
), marks AS (
  SELECT mn,
         CASE WHEN mn - LAG(mn) OVER (ORDER BY mn) > INTERVAL 1 MINUTE
              THEN 1 ELSE 0 END AS new_island
  FROM hot
), isl AS (
  SELECT mn,
         SUM(new_island) OVER (ORDER BY mn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS outage_id
  FROM marks
), outage AS (
  SELECT outage_id, MIN(mn) AS o_start,
         MAX(mn) + INTERVAL 1 MINUTE AS o_end
  FROM isl GROUP BY outage_id
), hits AS (
  SELECT s.user_id, s.sess_id, s.sess_start, s.n_events, o.outage_id,
         GREATEST(epoch_us(LEAST(s.sess_end, o.o_end))
                  - epoch_us(GREATEST(s.sess_start, o.o_start)), 0) AS overlap_us
  FROM sess s JOIN outage o
    ON s.sess_start < o.o_end AND o.o_start <= s.sess_end
)
SELECT user_id, ANY_VALUE(sess_start) AS sess_start,
       ANY_VALUE(n_events) AS n_events,
       COUNT(*) AS n_outages,
       CAST(SUM(overlap_us) AS BIGINT) AS overlap_us
FROM hits
GROUP BY user_id, sess_id
ORDER BY user_id, sess_start
"""


QUERIES = {"ev_session_outage_overlap": ev_session_outage_overlap}
ORACLE = {"ev_session_outage_overlap": EV_INTERVAL_OVERLAP_SQL}
