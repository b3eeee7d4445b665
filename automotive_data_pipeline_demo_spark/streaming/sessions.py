"""Session activity tracking (ST5) and rolling analytics (ST8) as
Structured Streaming jobs.

Reference parity: visitor sessions carry first_seen/last_seen/duration
(identity-resolution/database-schema.sql:56-58), re-captured every 30 s by
the browser tracker; match_analytics is the daily/hourly rollup cache
(:196-229). Here: ``session_window`` aggregation with a watermark (state
bounded by gap + watermark), and a two-grain windowed rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows: first/last seen, duration, event count.

    Works identically over a batch DataFrame (session_window is supported
    in batch) — the batch twin is what the oracle checks (catalog
    st5_sessionization expresses the same semantics via lag+cumsum).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"),
        F.col(user_col),
    ).agg(
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))) / 60_000_000.0
         ).alias("session_duration_minutes"),
    )


def match_analytics_breakdown(
    matches: DataFrame,
    ts_col: str = "matched_at",
    method_col: str = "match_method",
) -> DataFrame:
    """Two-grain rollup with per-key breakdown maps — the JSONB
    ``utm_source_breakdown`` / ``match_method_breakdown`` columns of
    match_analytics (identity-resolution/database-schema.sql:211-213).

    The breakdown is built from pre-aggregated (period, method) counts, so
    every exchange carries one row per (day, hour, method) — never raw
    match rows — and the daily grain re-aggregates the hourly partials
    instead of rescanning the input. The map is rendered as an ordered
    ``method:count`` comma-joined string (catalog determinism rule: map and
    array outputs are strings with an explicit element order).
    """
    base = (
        matches.select(
            F.to_date(ts_col).alias("date_period"),
            F.hour(ts_col).alias("hour_period"),
            F.col(method_col).alias("method"),
        )
        .groupBy("date_period", "hour_period", "method")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def fold(grouped) -> DataFrame:
        return grouped.agg(
            F.sum("cnt").alias("total_matches"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("method", "cnt"))),
                    lambda s: F.concat_ws(
                        ":", s["method"], s["cnt"].cast("string")
                    ),
                ),
            ).alias("method_breakdown"),
        )

    hourly = fold(base.groupBy("date_period", "hour_period")).select(
        "date_period", "hour_period", "total_matches", "method_breakdown"
    )
    daily = fold(
        base.groupBy("date_period", "method")
        .agg(F.sum("cnt").alias("cnt"))
        .groupBy("date_period")
    ).select(
        "date_period",
        F.lit(None).cast("int").alias("hour_period"),
        "total_matches",
        "method_breakdown",
    )
    return hourly.unionByName(daily)


def sessionize_capped(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
    cap_minutes: int = 240,
) -> DataFrame:
    """Per-user session counts under BOTH an inactivity gap and a hard
    duration cap (the GA-style "sessions end after 4 hours no matter
    what" rule the plain ``session_window`` gap cannot express).

    The cap is a RUNNING RESET: where the next session starts after a
    cap split depends on every prior assignment, so no fixed window
    frame computes it. Instead each user's events fold once, in
    event-time order, inside a single JVM ``aggregate`` over the
    collected (ts, id) array — one exchange on the user key, integer
    microsecond state, no Python, no iteration. Returns (user, n_events,
    n_sessions, n_cap_splits) where n_cap_splits counts sessions that
    ended by cap rather than by gap.

    Scale note: state per user is one struct; the collected array is the
    user's own events (bounded by per-user activity, the same bound
    session_window's state carries). For power users beyond memory,
    pre-split by (user, day) and merge boundary sessions.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    cap_us = cap_minutes * 60 * 1_000_000
    seq = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.struct(
                # cast: parquet TIMESTAMP_NTZ is rejected by unix_micros
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
                F.col(id_col).cast("long").alias("i"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("seq"))
    )
    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("splits"),
        F.lit(0).cast("long").alias("start"),
        F.lit(0).cast("long").alias("prev"),
    )

    def step(acc, x):
        first = acc["n"] == 0
        gap_new = x["t"] - acc["prev"] > F.lit(gap_us)
        cap_new = x["t"] - acc["start"] > F.lit(cap_us)
        new_sess = first | gap_new | cap_new
        return F.struct(
            (acc["n"] + new_sess.cast("long")).alias("n"),
            (
                acc["splits"]
                + (~first & ~gap_new & cap_new).cast("long")
            ).alias("splits"),
            F.when(new_sess, x["t"]).otherwise(acc["start"]).alias("start"),
            x["t"].alias("prev"),
        )

    folded = seq.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        F.aggregate(F.col("seq"), init, step).alias("acc"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.col("acc.n").alias("n_sessions"),
        F.col("acc.splits").alias("n_cap_splits"),
    )


def capped_sessions_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
    cap_minutes: int = 240,
) -> DataFrame:
    """Streaming twin of :func:`sessionize_capped` on
    ``applyInPandasWithState``: the same gap+cap recurrence, folded
    incrementally per user across micro-batches with one integer state
    struct per key. Emits one updated (user, n_events, n_sessions,
    n_cap_splits) row per touched key per micro-batch; after the stream
    drains, the last row per key equals the batch fold (agreement test
    in tests/test_streaming.py).

    Assumes event-time-ordered arrival per key across micro-batches
    (rows within a batch are sorted here): a running reset cannot be
    revised once folded, so out-of-order inputs belong on the batch
    path after a watermark, not this operator — the same limitation the
    reference's live session tracker has (website-tracker.js re-captures
    every 30 s in order).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    cap_us = cap_minutes * 60 * 1_000_000
    out_schema = (
        f"{user_col} long, n_events long, n_sessions long, n_cap_splits long"
    )
    state_schema = "ne long, n long, splits long, start long, prev long"

    def update(key, pdfs, state: GroupState):
        ne, n, splits, start, prev = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        chunks = [pdf[[ts_col, id_col]] for pdf in pdfs]
        batch = pd.concat(chunks).sort_values([ts_col, id_col])
        for t in batch[ts_col]:
            tus = int(pd.Timestamp(t).value // 1_000)
            first = n == 0
            gap_new = tus - prev > gap_us
            cap_new = tus - start > cap_us
            new_sess = first or gap_new or cap_new
            n += 1 if new_sess else 0
            splits += 1 if (not first and not gap_new and cap_new) else 0
            if new_sess:
                start = tus
            prev = tus
            ne += 1
        state.update((ne, n, splits, start, prev))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "n_events": [ne],
                "n_sessions": [n],
                "n_cap_splits": [splits],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
