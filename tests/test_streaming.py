"""Incremental/streaming semantics tests (SURVEY §5 plan item 3):
ST1 upsert idempotence, ST2 exactly-once, ST4 two-tier identity matching
with late leads, ST5 session windows (streaming twin vs batch formulation).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.sources.merge import merge_upsert
from automotive_data_pipeline_demo_spark.streaming.activation import (
    emit_new_events,
    mark_processed,
)
from automotive_data_pipeline_demo_spark.streaming.identity import (
    resolve_identities_batch,
    streaming_session_match,
)
from automotive_data_pipeline_demo_spark.streaming.sessions import session_rollup_stream


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------- ST1 merge

def test_merge_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "sales")
    batch = spark.createDataFrame(
        [
            Row(dealno="D1", custno="C1", price=100.0, updated=ts("2025-01-01T10:00")),
            Row(dealno="D2", custno="C2", price=200.0, updated=ts("2025-01-01T10:00")),
        ]
    )
    merge_upsert(spark, target, batch, keys=["dealno"], order_by=["updated"])
    # re-deliver the SAME batch: table must not change (ST1)
    merge_upsert(spark, target, batch, keys=["dealno"], order_by=["updated"])
    out = spark.read.parquet(target)
    assert out.count() == 2

    # modified re-delivery replaces on key
    update = spark.createDataFrame(
        [Row(dealno="D1", custno="C1", price=150.0, updated=ts("2025-01-02T10:00"))]
    )
    merge_upsert(spark, target, update, keys=["dealno"], order_by=["updated"])
    rows = {r["dealno"]: r["price"] for r in spark.read.parquet(target).collect()}
    assert rows == {"D1": 150.0, "D2": 200.0}


def test_sessionize_capped_boundaries(spark):
    """Planted edges: gap split, cap split (within-gap), and the exact
    boundary (ts == start + cap stays in-session — strict > semantics,
    matching the oracle's recursive CTE)."""
    from automotive_data_pipeline_demo_spark.streaming.sessions import (
        sessionize_capped,
    )

    t0 = datetime.fromisoformat("2025-01-01T00:00:00")
    mins = lambda m: t0 + timedelta(minutes=m)  # noqa: E731
    rows = [
        # u1: steady 20-min cadence (gap=30) crossing the 60-min cap:
        # events at 0,20,40,60 (boundary: ts==start+cap stays), 80 (cap
        # split), then 200 (gap split)
        Row(user_id=1, event_id=1, ts=mins(0)),
        Row(user_id=1, event_id=2, ts=mins(20)),
        Row(user_id=1, event_id=3, ts=mins(40)),
        Row(user_id=1, event_id=4, ts=mins(60)),
        Row(user_id=1, event_id=5, ts=mins(80)),
        Row(user_id=1, event_id=6, ts=mins(200)),
        # u2: single event
        Row(user_id=2, event_id=7, ts=mins(5)),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["user_id"]: (r["n_events"], r["n_sessions"], r["n_cap_splits"])
        for r in sessionize_capped(
            df, gap_minutes=30, cap_minutes=60
        ).collect()
    }
    # u1: session1 = 0..60 (60 == cap boundary, stays); 80 -> cap split
    # (gap from 60 is 20 <= 30, but 80 - 0 > 60); 200 -> gap split
    assert out[1] == (6, 3, 1)
    assert out[2] == (1, 1, 0)


def test_capped_sessions_stream_matches_batch_fold(spark, tmp_path):
    """Streaming twin agreement: after two ordered micro-batches drain,
    the LAST updated row per user equals sessionize_capped over the same
    events in one batch — cross-batch state carries the open session."""
    from automotive_data_pipeline_demo_spark.streaming.sessions import (
        capped_sessions_stream,
        sessionize_capped,
    )

    t0 = datetime.fromisoformat("2025-01-01T00:00:00")
    mins = lambda m: t0 + timedelta(minutes=m)  # noqa: E731
    batch1 = [
        Row(user_id=1, event_id=1, ts=mins(0)),
        Row(user_id=1, event_id=2, ts=mins(20)),
        Row(user_id=2, event_id=3, ts=mins(5)),
    ]
    batch2 = [
        # u1: 40 and 60 continue the open session (gaps of 20 <= 30);
        # 80 is within-gap of 60 but exceeds the 60-min cap from start 0
        Row(user_id=1, event_id=4, ts=mins(40)),
        Row(user_id=1, event_id=5, ts=mins(60)),
        Row(user_id=1, event_id=6, ts=mins(80)),
        # u2: 100 is a gap split (gap 30 < 95)
        Row(user_id=2, event_id=7, ts=mins(100)),
    ]
    edir = str(tmp_path / "events_capped")
    # one file per batch: each parquet file is one micro-batch, and rows
    # within a batch are sorted by the operator — multi-file writes would
    # split a batch into arbitrarily-ordered micro-batches (the
    # out-of-order arrival the operator documents as unsupported)
    spark.createDataFrame(batch1).coalesce(1).write.parquet(edir)
    schema = spark.read.parquet(edir).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(edir)
    q = (
        capped_sessions_stream(stream, gap_minutes=30, cap_minutes=60)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("capped_out")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2).coalesce(1).write.mode("append").parquet(edir)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM capped_out").collect()
    finally:
        q.stop()
    # latest update per user = the row with the highest (monotone) event
    # count — collect order over the memory sink is not chronological
    last = {}
    for r in rows:
        cur = (r["n_events"], r["n_sessions"], r["n_cap_splits"])
        if r["user_id"] not in last or cur[0] > last[r["user_id"]][0]:
            last[r["user_id"]] = cur
    expected = {
        r["user_id"]: (r["n_events"], r["n_sessions"], r["n_cap_splits"])
        for r in sessionize_capped(
            spark.createDataFrame(batch1 + batch2),
            gap_minutes=30,
            cap_minutes=60,
        ).collect()
    }
    assert last == expected
    assert expected[1] == (5, 2, 1)  # cap split fired (80 within-gap of 60)
    assert expected[2] == (2, 2, 0)  # gap split fired


def test_scd2_merge_cases_and_idempotence(spark):
    """One batch exercises all four SCD2 cases; re-applying the merged
    result against the same batch changes nothing (ST1 idempotence)."""
    from automotive_data_pipeline_demo_spark.sources.merge import scd2_merge

    d = lambda s: datetime.fromisoformat(s).date()  # noqa: E731
    target = spark.createDataFrame(
        [
            # K1: history row + current row (will change)
            Row(k="K1", seg="OLD", valid_from=d("2024-01-01"),
                valid_to=d("2025-01-01"), is_current=0),
            Row(k="K1", seg="A", valid_from=d("2025-01-01"),
                valid_to=None, is_current=1),
            # K2: current row, update matches -> no-op
            Row(k="K2", seg="B", valid_from=d("2025-01-01"),
                valid_to=None, is_current=1),
            # K3: current row, no update -> untouched
            Row(k="K3", seg="C", valid_from=d("2025-01-01"),
                valid_to=None, is_current=1),
        ],
        "k string, seg string, valid_from date, valid_to date, is_current int",
    )
    updates = spark.createDataFrame(
        [
            Row(k="K1", seg="A2", effective_at=d("2025-06-01")),
            Row(k="K2", seg="B", effective_at=d("2025-06-01")),
            Row(k="K4", seg="D", effective_at=d("2025-06-01")),  # new key
        ],
        "k string, seg string, effective_at date",
    )
    merged = scd2_merge(target, updates, keys=["k"], tracked=["seg"])
    got = {
        (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in merged.collect()
    }
    assert got == {
        ("K1", "OLD", "2024-01-01", "2025-01-01", 0),
        ("K1", "A", "2025-01-01", "2025-06-01", 0),   # closed
        ("K1", "A2", "2025-06-01", "None", 1),        # opened
        ("K2", "B", "2025-01-01", "None", 1),         # no-op kept
        ("K3", "C", "2025-01-01", "None", 1),         # untouched
        ("K4", "D", "2025-06-01", "None", 1),         # new key
    }
    # idempotence: the same batch against the merged table is a no-op
    again = scd2_merge(merged, updates, keys=["k"], tracked=["seg"])
    got2 = {
        (r["k"], r["seg"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in again.collect()
    }
    assert got2 == got


def test_merge_upsert_takes_latest_within_batch(spark, tmp_path):
    target = str(tmp_path / "sales2")
    batch = spark.createDataFrame(
        [
            Row(dealno="D1", price=1.0, updated=ts("2025-01-01T00:00")),
            Row(dealno="D1", price=9.0, updated=ts("2025-01-03T00:00")),
            Row(dealno="D1", price=5.0, updated=ts("2025-01-02T00:00")),
        ]
    )
    merge_upsert(spark, target, batch, keys=["dealno"], order_by=["updated"])
    [row] = spark.read.parquet(target).collect()
    assert row["price"] == 9.0


def test_merge_upsert_empty_batch_is_noop(spark, tmp_path):
    """foreachBatch delivers empty micro-batches; the merge must skip the
    rewrite entirely (a zero-row partitioned staging write has no part files
    and would fail the staging re-read)."""
    target = str(tmp_path / "sales3")
    batch = spark.createDataFrame(
        [Row(dealno="D1", price=1.0, sale_year=2025,
             updated=ts("2025-01-01T00:00"))]
    )
    merge_upsert(spark, target, batch, keys=["dealno"], order_by=["updated"],
                 partition_cols=["sale_year"])
    empty = batch.limit(0)
    merge_upsert(spark, target, empty, keys=["dealno"], order_by=["updated"],
                 partition_cols=["sale_year"])  # partitioned no-op
    merge_upsert(spark, target, empty, keys=["dealno"], order_by=["updated"])
    out = spark.read.parquet(target)
    assert out.count() == 1


def test_merge_upsert_preserves_string_partition_values(spark, tmp_path):
    """Partition dir names must not be type-re-inferred: a string month '07'
    has to survive two merges as '07', not become the int 7 / string '7'."""
    target = str(tmp_path / "sales4")
    batch = spark.createDataFrame(
        [Row(dealno="D1", price=1.0, month="07", updated=ts("2025-01-01T00:00"))]
    )
    merge_upsert(spark, target, batch, keys=["dealno"], order_by=["updated"],
                 partition_cols=["month"])
    update = spark.createDataFrame(
        [Row(dealno="D2", price=2.0, month="07", updated=ts("2025-01-02T00:00"))]
    )
    merge_upsert(spark, target, update, keys=["dealno"], order_by=["updated"],
                 partition_cols=["month"])
    out = spark.read.schema(batch.schema).parquet(target)
    assert out.schema["month"].dataType.simpleString() == "string"
    assert {r["month"] for r in out.collect()} == {"07"}


def test_merge_upsert_stage2_failure_preserves_staging(spark, tmp_path, monkeypatch):
    """If the stage-2 commit fails, the staging copy may hold the only intact
    version of touched partitions — it must survive, and the error must say
    where it is."""
    import glob

    import pyspark.sql.session as _sess

    target = str(tmp_path / "sales5")
    batch = spark.createDataFrame(
        [Row(dealno="D1", price=1.0, sale_year=2025,
             updated=ts("2025-01-01T00:00"))]
    )
    merge_upsert(spark, target, batch, keys=["dealno"], order_by=["updated"],
                 partition_cols=["sale_year"])

    # Fail the stage-2 staging re-read (first `spark.read` after staging is
    # written): target read + staging write already happened via the real
    # property, so patching `read` to raise hits exactly the commit step.
    real_read = _sess.SparkSession.read
    calls = {"n": 0}

    def flaky_read(self):
        calls["n"] += 1
        if calls["n"] > 1:  # 1st read = target probe; 2nd = staging re-read
            raise RuntimeError("injected stage-2 failure")
        return real_read.fget(self)

    update = spark.createDataFrame(
        [Row(dealno="D1", price=9.0, sale_year=2025,
             updated=ts("2025-01-02T00:00"))]
    )
    monkeypatch.setattr(_sess.SparkSession, "read", property(flaky_read))
    try:
        with pytest.raises(IOError, match="staging data preserved"):
            merge_upsert(spark, target, update, keys=["dealno"],
                         order_by=["updated"], partition_cols=["sale_year"])
    finally:
        monkeypatch.setattr(_sess.SparkSession, "read", real_read)

    staged = glob.glob(f"{target}__staging_*")
    assert staged, "staging path must survive a failed commit"
    recovered = spark.read.schema(update.schema).parquet(staged[0])
    assert [r["price"] for r in recovered.collect()] == [9.0]


# ----------------------------------------------------------- ST2 exactly-once

def test_exactly_once_emission(spark, tmp_path):
    state = str(tmp_path / "state")
    sales = spark.createDataFrame(
        [
            Row(deal_number="D1", custno="C1", vin="V1", total_price=10.0,
                sale_date=ts("2025-03-01T00:00")),
            Row(deal_number="D2", custno="C2", vin="V2", total_price=20.0,
                sale_date=ts("2025-03-02T00:00")),
            Row(deal_number="D3", custno="C3", vin=None, total_price=30.0,
                sale_date=ts("2025-03-03T00:00")),  # invalid: dropped (P11)
        ]
    )
    first = emit_new_events(spark, sales, state)
    rows = first.collect()
    assert {r["deal_number"] for r in rows} == {"D1", "D2"}
    # message ids are deterministic mints (F18)
    assert all(r["message_id"].startswith("vp_") and len(r["message_id"]) <= 50 for r in rows)

    mark_processed(spark, first, state)
    second = emit_new_events(spark, sales, state)
    assert second.count() == 0  # re-run emits nothing (ST2)

    # a new deal arrives: only it is emitted
    more = sales.union(
        spark.createDataFrame(
            [Row(deal_number="D4", custno="C4", vin="V4", total_price=40.0,
                 sale_date=ts("2025-03-04T00:00"))]
        )
    )
    third = emit_new_events(spark, more, state)
    assert [r["deal_number"] for r in third.collect()] == ["D4"]


def test_track_event_shape(spark, tmp_path):
    sales = spark.createDataFrame(
        [Row(deal_number="D1", custno="C9", vin="V1", total_price=12345.5,
             sale_date=ts("2025-03-01T00:00"))]
    )
    events = emit_new_events(spark, sales, str(tmp_path / "s"))
    [row] = events.select(F.to_json("event").alias("j")).collect()
    import json

    ev = json.loads(row["j"])
    assert ev["type"] == "track"
    assert ev["userId"] == "AUTO-C9"
    assert ev["event"] == "Vehicle Purchased"
    assert ev["timestamp"] == "2025-03-01T12:00:00Z"  # noon pad (F19)
    assert ev["properties"]["revenue"] == 12345.5
    assert ev["context"]["library"]["name"]


# ------------------------------------------------------- ST4 identity tiers

@pytest.fixture()
def identity_frames(spark):
    visitors = spark.createDataFrame(
        [
            Row(visitor_id=1, session_id="S1", email=None, phone=None,
                first_seen=ts("2025-05-01T10:00")),
            Row(visitor_id=2, session_id="S2", email="Match@Ex.Org", phone=None,
                first_seen=ts("2025-05-01T11:00")),
            Row(visitor_id=3, session_id=None, email=None, phone="(555) 111-2222",
                first_seen=ts("2025-05-01T12:00")),
            Row(visitor_id=4, session_id=None, email="other@ex.org", phone=None,
                first_seen=ts("2025-04-01T12:00")),
        ]
    )
    leads = spark.createDataFrame(
        [
            # tier 1: session match (lead 2 h after session)
            Row(lead_id=10, session_id="S1", email=None, phone=None,
                lead_submitted_at=ts("2025-05-01T12:00")),
            # tier 2: email fallback (no session id; matches visitor 2)
            Row(lead_id=11, session_id=None, email="match@ex.org", phone=None,
                lead_submitted_at=ts("2025-05-01T13:00")),
            # tier 2: phone fallback (punctuation differs; matches visitor 3)
            Row(lead_id=12, session_id=None, email=None, phone="555-111-2222",
                lead_submitted_at=ts("2025-05-01T20:00")),
            # late: outside 24 h window -> unmatched (ST9 retained)
            Row(lead_id=13, session_id=None, email="other@ex.org", phone=None,
                lead_submitted_at=ts("2025-04-05T12:00")),
            # no match at all
            Row(lead_id=14, session_id="SX", email="nobody@x.co", phone=None,
                lead_submitted_at=ts("2025-05-01T10:30")),
        ]
    )
    return visitors, leads


def test_two_tier_identity_matching(spark, identity_frames):
    visitors, leads = identity_frames
    out = {r["lead_id"]: r for r in resolve_identities_batch(visitors, leads).collect()}
    assert len(out) == 5  # every lead retained (matched or not)
    assert out[10]["match_method"] == "session_id" and out[10]["visitor_id"] == 1
    assert out[11]["match_method"] == "email_phone" and out[11]["visitor_id"] == 2
    assert out[12]["match_method"] == "email_phone" and out[12]["visitor_id"] == 3
    assert out[13]["match_method"] is None and not out[13]["is_matched"]
    assert out[14]["match_method"] is None
    assert out[10]["is_matched"] and out[10]["matched_at"] is not None


def test_session_priority_over_contact(spark):
    """A lead matching both tiers must resolve via session_id (the
    reference tries session first, api-server.js:249-260)."""
    visitors = spark.createDataFrame(
        [
            Row(visitor_id=1, session_id="S1", email="a@b.co", phone=None,
                first_seen=ts("2025-05-01T10:00")),
            Row(visitor_id=2, session_id="S2", email="a@b.co", phone=None,
                first_seen=ts("2025-05-01T10:30")),
        ],
        schema="visitor_id long, session_id string, email string, phone string, "
               "first_seen timestamp",
    )
    leads = spark.createDataFrame(
        [Row(lead_id=1, session_id="S2", email="a@b.co", phone=None,
             lead_submitted_at=ts("2025-05-01T11:00"))],
        schema="lead_id long, session_id string, email string, phone string, "
               "lead_submitted_at timestamp",
    )
    [row] = resolve_identities_batch(visitors, leads).collect()
    assert row["match_method"] == "session_id"
    assert row["visitor_id"] == 2


def test_streaming_session_match(spark, tmp_path):
    """ST4 streaming twin: file-source micro-batches through the
    watermarked join; late-but-in-window lead still matches."""
    vdir, ldir = str(tmp_path / "v"), str(tmp_path / "l")
    visitors = spark.createDataFrame(
        [Row(visitor_id=1, session_id="S1", first_seen=ts("2025-05-01T10:00")),
         Row(visitor_id=2, session_id="S2", first_seen=ts("2025-05-01T11:00"))]
    )
    leads = spark.createDataFrame(
        [Row(lead_id=10, session_id="S1", lead_submitted_at=ts("2025-05-01T12:00")),
         Row(lead_id=11, session_id="S2", lead_submitted_at=ts("2025-05-02T23:00"))]
    )  # lead 11 is 36 h after its session: outside the 24 h join window
    visitors.write.parquet(vdir)
    leads.write.parquet(ldir)

    v_stream = spark.readStream.schema(visitors.schema).parquet(vdir)
    l_stream = spark.readStream.schema(leads.schema).parquet(ldir)
    matched = streaming_session_match(v_stream, l_stream)
    q = (
        matched.writeStream.outputMode("append")
        .format("memory")
        .queryName("identity_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM identity_out").collect()
    finally:
        q.stop()
    assert [(r["lead_id"], r["visitor_id"]) for r in rows] == [(10, 1)]


# --------------------------------------------------------------- ST5 sessions

def test_session_window_stream_matches_batch(spark, tmp_path):
    """The streaming session_window aggregation agrees with the batch
    lag+cumsum formulation (catalog st5) on the same data."""
    events = spark.createDataFrame(
        [
            Row(user_id=1, ts=ts("2025-06-01T10:00"), event_id=1),
            Row(user_id=1, ts=ts("2025-06-01T10:10"), event_id=2),
            Row(user_id=1, ts=ts("2025-06-01T11:30"), event_id=3),  # new session
            Row(user_id=2, ts=ts("2025-06-01T09:00"), event_id=4),
        ]
    )
    batch_out = session_rollup_stream(events).orderBy("user_id", "first_seen").collect()
    assert [(r["user_id"], r["n_events"]) for r in batch_out] == [(1, 2), (1, 1), (2, 1)]
    assert batch_out[0]["session_duration_minutes"] == 10.0

    edir = str(tmp_path / "events")
    events.write.parquet(edir)
    stream = spark.readStream.schema(events.schema).parquet(edir)
    q = (
        session_rollup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_rows = spark.sql(
            "SELECT user_id, n_events FROM sessions_out ORDER BY user_id, first_seen"
        ).collect()
    finally:
        q.stop()
    # append mode only emits windows the watermark has closed; with a static
    # file source all data is seen, so compare the closed subset
    batch_pairs = [(r["user_id"], r["n_events"]) for r in batch_out]
    for pair in [(r["user_id"], r["n_events"]) for r in stream_rows]:
        assert pair in batch_pairs


# ------------------------------------------------------------ S7/O5 batching

def test_post_events_http_batches(spark, tmp_path):
    """O5: the HTTP sink slices each partition into <=batch_size batches and
    delivers every event exactly once (per attempt)."""
    from automotive_data_pipeline_demo_spark.sources.sinks import post_events_http

    events = spark.range(0, 257).select(
        F.struct(
            F.concat(F.lit("m"), F.col("id")).alias("messageId"),
            F.lit("track").alias("type"),
        ).alias("event")
    ).repartition(2)

    outdir = tmp_path / "batches"
    outdir.mkdir()

    def capture(url: str, batch: list[str]) -> None:
        # executor-side in local mode shares the FS; one file per batch
        import json as _json
        import os as _os
        import uuid as _uuid

        p = outdir / f"{_os.getpid()}_{_uuid.uuid4().hex}.json"
        p.write_text(_json.dumps(batch))

    post_events_http(events, "http://unused", batch_size=100, post_fn=capture)

    import json
    batches = [json.loads(f.read_text()) for f in outdir.iterdir()]
    assert all(len(b) <= 100 for b in batches), "batch size cap violated"
    ids = [json.loads(e)["messageId"] for b in batches for e in b]
    assert len(ids) == 257 and len(set(ids)) == 257


# ------------------------------------------------- custom stateful operator

def test_running_totals_stateful_stream(spark, tmp_path):
    """applyInPandasWithState running totals: after the stream drains, the
    last update per key equals the batch groupBy — an incrementally
    maintained aggregate (A10's LTV, kept live)."""
    from automotive_data_pipeline_demo_spark.streaming.stateful import (
        running_totals_stream,
    )

    rows = [
        Row(custkey=1, amount=10.0), Row(custkey=2, amount=5.0),
        Row(custkey=1, amount=2.5),
    ]
    later = [Row(custkey=1, amount=7.5), Row(custkey=3, amount=1.0)]
    src = tmp_path / "orders_stream"
    src.mkdir()
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(later).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("custkey long, amount double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    updates: list = []

    def sink(batch_df, batch_id):
        updates.extend(batch_df.collect())

    q = (
        running_totals_stream(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = {}
    for r in updates:  # later updates overwrite earlier ones per key
        final[r["custkey"]] = (r["n_orders"], r["lifetime_value"])
    assert final == {1: (3, 20.0), 2: (1, 5.0), 3: (1, 1.0)}


# --------------------------------------- EP3 streaming twin (foreachBatch)

def test_streaming_activation_exactly_once_across_batches(spark, tmp_path):
    """ST2 as a stream: foreachBatch emits track events per micro-batch,
    anti-joining the shared state table — a deal re-delivered in a later
    batch (same message id) is not emitted twice."""
    from automotive_data_pipeline_demo_spark.streaming.activation import (
        emit_new_events,
        mark_processed,
    )

    src = tmp_path / "sales_stream"
    src.mkdir()
    schema = (
        "deal_number string, custno string, vin string, total_price double,"
        " sale_date timestamp"
    )
    b1 = [("D1", "C1", "V1", 100.0, ts("2025-01-02T10:00")),
          ("D2", "C2", "V2", 200.0, ts("2025-01-03T10:00"))]
    # D2 re-delivered (same identity -> same message id) + one new deal
    b2 = [("D2", "C2", "V2", 200.0, ts("2025-01-03T10:00")),
          ("D3", "C3", "V3", 300.0, ts("2025-01-04T10:00"))]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    state = str(tmp_path / "state")
    delivered: list = []

    def activate(batch_df, batch_id):
        ev = emit_new_events(batch_df.sparkSession, batch_df, state)
        rows = ev.collect()
        delivered.extend(rows)
        if rows:
            mark_processed(batch_df.sparkSession, ev, state)

    q = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(activate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    ids = [r["message_id"] for r in delivered]
    assert len(ids) == 3 and len(set(ids)) == 3  # D2 delivered exactly once
    deals = sorted(r["deal_number"] for r in delivered)
    assert deals == ["D1", "D2", "D3"]


def test_streaming_dedup_ingest_drops_near_dups_across_batches(spark, tmp_path):
    """Two micro-batches stream in: batch 1 seeds the corpus, batch 2
    contains a near-dup of a batch-1 doc (dropped), an exact re-delivery
    (dropped by the id guard), and a novel doc (kept). The index grows with
    survivors so later batches dedup against earlier ones."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_dedup_ingest,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    schema = "doc_id long, text string"
    src = tmp_path / "incoming"
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")

    b1 = [(1, base),
          (2, "distinct seed document about watermark semantics and "
              "stateful streaming aggregation behavior")]
    b2 = [(3, base + " with a small tail"),   # near-dup of doc 1 -> dropped
          (1, base),                           # re-delivered id -> dropped
          (4, "entirely novel text concerning bucketed join layouts and "
              "exchange-free physical plans")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    q = streaming_dedup_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        corpus_path, index_path,
        threshold=0.5,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    corpus = spark.read.parquet(corpus_path)
    got = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    assert got == [1, 2, 4], got
    # the index covers every surviving doc
    idx_ids = {r["id"] for r in spark.read.parquet(index_path).select("id").collect()}
    assert idx_ids == {1, 2, 4}


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Re-delivered ids within the watermark window are dropped; distinct
    ids all pass — with per-key state that EXPIRES (the bounded-state
    contract dropDuplicates lacks)."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_exact_dedup,
    )

    schema = "id long, ts timestamp"
    src = tmp_path / "in"
    t0 = ts("2025-01-01T10:00")
    b1 = [(1, t0), (2, ts("2025-01-01T10:01"))]
    b2 = [(1, t0), (3, ts("2025-01-01T10:02"))]  # 1 re-delivered
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_exact_dedup(stream, ["id"], "ts", "10 minutes")
        .writeStream.format("memory").queryName("wm_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT id FROM wm_dedup").collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == [1, 2, 3], ids


def test_streaming_quality_gate(spark, tmp_path):
    """The hashed linear quality classifier is a zero-shuffle narrow map,
    so it composes with Structured Streaming unchanged: stream documents
    through the scorer, keep only gated rows, and match the batch scores
    exactly."""
    from automotive_data_pipeline_demo_spark.extensions.classifier import (
        hashed_linear_score,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate([
            "alpha beta gamma delta", "zzz qqq xxx", "table scan filter join",
            "spark catalyst tungsten codegen", "lorem ipsum dolor sit amet",
        ])]
    )
    ddir = str(tmp_path / "docs")
    docs.write.parquet(ddir)

    batch = {
        r["id"]: (r["quality_logit"], r["keep"])
        for r in hashed_linear_score(docs, "doc_id", "text", threshold=-140.0).collect()
    }

    stream = spark.readStream.schema(docs.schema).parquet(ddir)
    gated = hashed_linear_score(stream, "doc_id", "text", threshold=-140.0).filter(
        F.col("keep") == 1
    )
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("quality_gate_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM quality_gate_out").collect()
    finally:
        q.stop()
    assert rows, "at least one doc must clear the gate"
    for r in rows:
        assert batch[r["id"]] == (r["quality_logit"], r["keep"])
        assert r["keep"] == 1
    assert {r["id"] for r in rows} == {i for i, (_, k) in batch.items() if k == 1}


def test_streaming_dq_gate_per_batch(spark, tmp_path):
    """dq_report composes with foreachBatch as a per-micro-batch publish
    gate: each batch is validated before it lands, and only clean batches
    flow through — the streaming twin of the p_dq_report entry."""
    from automotive_data_pipeline_demo_spark.operators.quality import dq_report

    src = str(tmp_path / "facts")
    clean = spark.createDataFrame(
        [(1, 10, 5.0), (2, 11, 6.0)], "pk long, cust long, amt double"
    )
    clean.coalesce(1).write.parquet(src)  # first micro-batch: passes
    dirty = spark.createDataFrame(
        [(3, 99, -1.0), (3, 10, 2.0)], "pk long, cust long, amt double"
    )
    dirty.coalesce(1).write.mode("append").parquet(src)  # dup pk + negative amt

    dim = spark.createDataFrame([(10,), (11,)], "c long")
    published, rejected = [], []

    def gate(batch_df, batch_id):
        report = dq_report(
            batch_df,
            unique=("pk",),
            ranges=(("amt_nonneg", F.col("amt") >= 0),),
            fk=(("cust",), dim, ("c",)),
        ).collect()
        failed = [r["check_name"] for r in report if r["passed"] == 0]
        if failed:
            rejected.append((sorted(set(r["pk"] for r in batch_df.collect())), sorted(failed)))
        else:
            published.extend(r["pk"] for r in batch_df.collect())

    stream = (
        spark.readStream.schema(clean.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(gate).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert sorted(published) == [1, 2]
    assert len(rejected) == 1
    bad_pks, bad_checks = rejected[0]
    assert bad_pks == [3]
    assert "unique:pk" in bad_checks and "range:amt_nonneg" in bad_checks
    assert "fk:cust" in bad_checks  # pk 3 -> cust 99 has no dimension row


def test_streaming_line_dedup_accumulates_df_across_batches(spark, tmp_path):
    """Cross-batch line-df accumulation matches the batch operator on the
    unioned corpus: a line seen once in batch 1 is not yet boilerplate
    (batch-1 docs keep it), but its accumulated df reaches the threshold
    in batch 2 so batch-2 docs are stripped. Re-delivered ids are dropped
    (no double count, no duplicate output), and empty lines pass through
    per the batch operator's policy."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_line_dedup_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "incoming"
    out = str(tmp_path / "cleaned")
    idx = str(tmp_path / "line_index")

    b1 = [(1, "boiler\nalpha one"), (2, "unique two\n\nafter blank")]
    b2 = [
        (3, "boiler\nbeta three"),   # boiler df hits 2 -> stripped here
        (1, "boiler\nalpha one"),    # re-delivered id -> dropped entirely
        (4, "gamma\n\ndelta"),       # blank separator must survive
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    q = streaming_line_dedup_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        out, idx,
        min_doc_freq=2,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    # batch-1 doc: boiler had df=1 at its batch -> kept (the documented
    # prefix semantics: no retro-strip of already-emitted docs)
    assert rows[1]["cleaned_text"] == "boiler\nalpha one"
    assert rows[1]["n_removed"] == 0
    # batch-2 doc: accumulated df=2 -> stripped
    assert rows[3]["cleaned_text"] == "beta three"
    assert rows[3]["n_removed"] == 1
    # empty line survives corpus-wide dedup
    assert rows[4]["cleaned_text"] == "gamma\n\ndelta"

    # the stored index's accumulated df equals the batch operator's
    # document-frequency aggregate over the UNIONED corpus (reference
    # digests built with the shared line_digest contract helper)
    from pyspark.sql import functions as SF

    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_digest,
    )

    union = spark.createDataFrame(b1 + b2[:1] + b2[2:], schema)
    want = {
        r["h"]: r["df"]
        for r in union.select(
            "doc_id", SF.explode(SF.split("text", "\n")).alias("line")
        )
        .filter(SF.col("line") != "")
        .select("doc_id", line_digest("line").alias("h"))
        .distinct()
        .groupBy("h")
        .agg(SF.count(SF.lit(1)).alias("df"))
        .collect()
    }
    got = {
        r["line_h"]: r["df"]
        for r in spark.read.parquet(idx)
        .groupBy("line_h", "epoch")
        .agg(SF.max("n_docs").alias("n"))
        .groupBy("line_h")
        .agg(SF.sum("n").alias("df"))
        .collect()
    }
    assert got == want


def test_line_df_index_compaction_preserves_accumulation(spark, tmp_path):
    """compact_line_df_index folds the per-epoch index to one row per
    digest (reserved epoch -1) with the read-side aggregate unchanged: a
    batch ingested AFTER compaction sees the same accumulated df as it
    would over the raw epoch rows, and the file count drops."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        compact_line_df_index,
        streaming_line_dedup_ingest,
    )

    schema = "doc_id long, text string"
    src = tmp_path / "incoming"
    out = str(tmp_path / "cleaned")
    idx = str(tmp_path / "line_index")

    b1 = [(1, "boiler\nalpha"), (2, "solo two")]
    b2 = [(3, "keep three\nunique")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))
    q = streaming_line_dedup_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        out, idx, min_doc_freq=2, checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    from pyspark.sql import functions as SF

    def acc_df():
        return {
            r["line_h"]: r["df"]
            for r in spark.read.parquet(idx)
            .groupBy("line_h", "epoch").agg(SF.max("n_docs").alias("n"))
            .groupBy("line_h").agg(SF.sum("n").alias("df")).collect()
        }

    want = acc_df()
    stats = compact_line_df_index(spark, idx)
    assert acc_df() == want
    assert stats["files_after"] <= stats["files_before"]
    assert stats["digests"] == len(want)
    epochs = {r["epoch"] for r in spark.read.parquet(idx).select("epoch").collect()}
    assert epochs == {-1}

    # a post-compaction batch accumulates on top of the folded base:
    # 'boiler' reaches df=2 and is stripped from the new doc
    b3 = [(4, "boiler\ndelta four")]
    spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(str(src))
    q = streaming_line_dedup_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        out, idx, min_doc_freq=2, checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    rows = {r["doc_id"]: r["cleaned_text"]
            for r in spark.read.parquet(out).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[4] == "delta four"
    got = acc_df()
    assert got[[h for h, d in want.items() if d == 1][0]] >= 1
    # boiler digest: folded base 1 + batch-3 contribution 1 (key built
    # with the shared line_digest helper — the index's contract digest)
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_digest,
    )

    bh = (
        spark.createDataFrame([("boiler",)], "line string")
        .select(line_digest("line").alias("h"))
        .collect()[0]["h"]
    )
    assert got[bh] == 2


def test_streaming_semdedup_ingest_accumulates_and_replays(spark, tmp_path):
    """The stored-centroid streaming ingest twin: batch vectors near-dup
    against the accepted corpus AND earlier arrivals (prefix semantics —
    a batch-2 vector duplicating a batch-1 survivor is dropped), in-batch
    dups keep the smaller id, stored vectors are never retro-dropped, and
    a re-delivered batch is a no-op (exactly-once by id for survivors,
    by re-losing for losers)."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_semdedup_ingest,
    )

    schema = "vec_id long, embedding array<double>"
    corpus_rows = [(i, [1.0, 0.001 * i]) for i in range(4)] + [
        (10 + i, [0.001 * i, 1.0]) for i in range(4)
    ]
    corpus = spark.createDataFrame(corpus_rows, schema)
    seeds = corpus.filter(F.col("vec_id").isin(0, 10)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    cents_path = str(tmp_path / "cents")
    corpus_path = str(tmp_path / "corpus")
    kmeans_centroids(corpus, seeds, n_iter=1).write.parquet(cents_path)
    stored_cents = spark.read.parquet(cents_path)
    assign_to_stored_centroids(corpus, stored_cents).join(corpus, "vec_id").select(
        "vec_id", "embedding", "centroid_id"
    ).write.parquet(corpus_path)

    src = tmp_path / "incoming"
    b1 = [
        (100, [1.0, 0.0005]),   # dups stored cluster A -> dropped
        (101, [0.6, 0.8]),      # novel direction -> kept (cell B)
        (102, [0.0005, 1.0]),   # dups stored cluster B -> dropped
    ]
    b2 = [
        (200, [0.6, 0.8]),      # dups the ACCEPTED 101 -> dropped (prefix)
        (201, [0.8, 0.6]),      # novel -> kept
        (203, [0.8, 0.6001]),   # in-batch dup of 201 -> larger id dropped
        (202, [1.0, 0.0015]),   # dups stored cluster A -> dropped
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))

    def run():
        q = streaming_semdedup_ingest(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            corpus_path, cents_path,
            threshold=0.99,
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

    run()
    got = {r["vec_id"] for r in spark.read.parquet(corpus_path).collect()}
    assert got == {0, 1, 2, 3, 10, 11, 12, 13, 101, 201}
    # assignments ride along and come from the STORED cells
    cells = {r["vec_id"]: r["centroid_id"]
             for r in spark.read.parquet(corpus_path).collect()}
    assert cells[101] == 10 and cells[201] == 0

    # re-delivery: replay batch 1 as a new file -> no change, no dup rows
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    run()
    rows = spark.read.parquet(corpus_path).collect()
    assert len(rows) == 10
    assert {r["vec_id"] for r in rows} == got


def test_streaming_semdedup_flood_across_batches(spark, tmp_path):
    """The identical-vector flood through the STREAMING ingest (r11): the
    star-collapsed pair stage must kill every flood copy against the
    accepted corpus regardless of id interleaving — the stored flood
    member carries a LARGER id (500) than every batch copy, so a rep
    rule keyed on min id alone would crown a batch row; the
    old-preferred rep keeps the accepted-corpus kill exact. Batch copies
    above and below the stored id both drop, a novel vector is accepted
    once and its later near-dup drops (prefix semantics), and a replayed
    flood batch is a no-op."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_semdedup_ingest,
    )

    schema = "vec_id long, embedding array<double>"
    corpus_rows = [(i, [1.0, 0.001 * i]) for i in range(4)] + [
        (500, [0.6, 0.8])  # the stored flood representative, top id
    ]
    corpus = spark.createDataFrame(corpus_rows, schema)
    seeds = corpus.filter(F.col("vec_id").isin(0, 500)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    cents_path = str(tmp_path / "cents")
    corpus_path = str(tmp_path / "corpus")
    kmeans_centroids(corpus, seeds, n_iter=1).write.parquet(cents_path)
    stored_cents = spark.read.parquet(cents_path)
    assign_to_stored_centroids(corpus, stored_cents).join(
        corpus, "vec_id"
    ).select("vec_id", "embedding", "centroid_id").write.parquet(corpus_path)

    src = tmp_path / "incoming"
    b1 = [
        (100, [0.6, 0.8]),    # flood copy, id < stored 500 -> dropped
        (101, [0.6, 0.8]),    # flood copy -> dropped
        (110, [-0.8, 0.6]),   # novel -> kept
    ]
    b2 = [
        (50, [0.6, 0.8]),     # flood copy, below every stored id -> dropped
        (51, [0.6, 0.8]),     # flood copy -> dropped
        (111, [-0.8, 0.6001]),  # dups the ACCEPTED 110 -> dropped
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    def run():
        q = streaming_semdedup_ingest(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            corpus_path, cents_path,
            threshold=0.99,
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

    run()
    got = {r["vec_id"] for r in spark.read.parquet(corpus_path).collect()}
    assert got == {0, 1, 2, 3, 500, 110}

    # replay the flood batch -> no change, no duplicate rows
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run()
    rows = spark.read.parquet(corpus_path).collect()
    assert len(rows) == 6
    assert {r["vec_id"] for r in rows} == got


def test_line_df_index_checkpoint_lifecycle(spark, tmp_path):
    """index_path and checkpoint share a lifecycle (the documented
    contract): epoch ids are unique only per checkpoint lineage, so two
    lineages writing one index collide on epoch 0 and the retry-collapse
    max() silently undercounts df — while compacting the index FIRST
    (reserved base epoch -1, which no live lineage emits) lets a fresh
    lineage's epoch 0 accumulate correctly on top."""
    from pyspark.sql import functions as SF

    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        compact_line_df_index,
    )

    # epoch is INT (the ingest writes F.lit(int(epoch_id))); a long-typed
    # test row would mix INT32/INT64 parquet files in one index and trip
    # the vectorized reader depending on file order
    schema = "line_h string, n_docs long, epoch int"

    def acc_df(path):
        return {
            r["line_h"]: r["df"]
            for r in spark.read.parquet(path)
            .groupBy("line_h", "epoch").agg(SF.max("n_docs").alias("n"))
            .groupBy("line_h").agg(SF.sum("n").alias("df")).collect()
        }

    # hazard: two lineages, each one logical batch contributing df=1 for
    # digest 'h', both stamped epoch 0 -> max() collapses them to 1
    collided = str(tmp_path / "idx_collided")
    spark.createDataFrame([("h", 1, 0)], schema).write.mode("append").parquet(collided)
    spark.createDataFrame([("h", 1, 0)], schema).write.mode("append").parquet(collided)
    assert acc_df(collided) == {"h": 1}  # true df is 2 — the documented undercount

    # remedy: compact before resetting the checkpoint — the folded base
    # lands on epoch -1, so the new lineage's epoch 0 cannot collide
    safe = str(tmp_path / "idx_safe")
    spark.createDataFrame([("h", 1, 0)], schema).write.mode("append").parquet(safe)
    compact_line_df_index(spark, safe)
    assert {r["epoch"] for r in spark.read.parquet(safe).collect()} == {-1}
    spark.createDataFrame([("h", 1, 0)], schema).write.mode("append").parquet(safe)
    assert acc_df(safe) == {"h": 2}


def test_incremental_line_dedup_entry_matches_streaming_prefix(spark, tmp_path):
    """The oracled batch entry (x_text_line_dedup_inc) and the streaming
    twin agree: cleaning an incoming batch against the stored corpus's
    accumulated line-df equals what streaming_line_dedup_ingest emits for
    that batch when the corpus streamed in as batch 1."""
    from automotive_data_pipeline_demo_spark.plans.catalog_recent_extensions import (
        q_x_text_line_dedup_inc,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_line_dedup_ingest,
    )

    # doc_id < 400 = stored corpus; >= 400 = incoming batch. Framing is
    # 8-word lines, so craft 8-word segments shared corpus<->batch.
    seg_a = "one two three four five six seven eight"
    seg_b = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (100, seg_a + " " + seg_b),           # corpus: carries both segs
        (101, seg_a + " unique tail words here pad pad pad"),
        (400, seg_a + " " + "brand new content in this batch doc"),
        (401, seg_b + " " + "other novel words appear right here now"),
        (402, "entirely fresh text with no shared segment at all"),
    ]
    schema = "doc_id long, text string"
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, schema).write.parquet(f"{sf}/documents.parquet")

    got = {r["doc_id"]: (r["cleaned_text"], r["n_removed"])
           for r in q_x_text_line_dedup_inc(spark, sf).collect()}
    # seg_a went hot in the corpus (docs 100, 101) -> stripped from 400;
    # seg_b hits df=2 only with the batch's own contribution -> stripped
    # from 401 (prefix semantics include the batch itself)
    assert sorted(got) == [400, 401, 402]
    assert got[400][1] == 1 and seg_a not in got[400][0]
    assert got[401][1] == 1 and seg_b not in got[401][0]
    assert got[402][1] == 0

    # streaming replay: corpus as batch 1 (framed), batch as batch 2
    from pyspark.sql import functions as SF

    words = SF.split(SF.col("text"), " ")
    framed = SF.array_join(
        SF.transform(
            SF.sequence(SF.lit(0), SF.ceil(SF.size(words) / SF.lit(8)).cast("int") - 1),
            lambda i: SF.array_join(SF.slice(words, i * SF.lit(8) + 1, 8), " "),
        ),
        "\n",
    )
    fdf = spark.createDataFrame(rows, schema).select(
        "doc_id", framed.alias("text")
    )
    src = tmp_path / "in"
    fdf.filter("doc_id < 400").coalesce(1).write.mode("append").parquet(str(src))
    fdf.filter("doc_id >= 400").coalesce(1).write.mode("append").parquet(str(src))
    out = str(tmp_path / "out")
    q = streaming_line_dedup_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        out, str(tmp_path / "idx"), min_doc_freq=2,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    stream_got = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed"])
        for r in spark.read.parquet(out).collect()
        if r["doc_id"] >= 400
    }
    assert stream_got == got


def test_streaming_semdedup_intra_batch_duplicate_ids(spark, tmp_path):
    """Two rows with the SAME id in one micro-batch must not both append:
    the anti-join only guards cross-batch re-delivery and the pair stage
    filters same-id pairs, so without the per-batch dropDuplicates the
    corpus index would end up with duplicate ids that the id-based replay
    guard then treats as one."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_centroids,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_semdedup_ingest,
    )

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(0, [1.0, 0.0])], schema)
    seeds = corpus.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    cents_path = str(tmp_path / "cents")
    corpus_path = str(tmp_path / "corpus")
    kmeans_centroids(corpus, seeds, n_iter=1).write.parquet(cents_path)

    src = tmp_path / "incoming"
    # same id twice in ONE batch, plus a distinct novel vector
    batch = [(100, [0.0, 1.0]), (100, [0.0, 1.0]), (101, [0.7, 0.7])]
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(str(src))
    q = streaming_semdedup_ingest(
        spark.readStream.schema(schema).parquet(str(src)),
        corpus_path, cents_path,
        threshold=0.99,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(corpus_path).collect()
    ids = sorted(r["vec_id"] for r in rows)
    assert ids == [100, 101]  # exactly one row per id


def test_streaming_semdedup_loser_chain_truncates(spark, tmp_path):
    """Pins documented deviation 2 (streaming/dedup.py): near-dup loser
    chains truncate at micro-batch boundaries. v100 (batch 1) loses to
    stored v0; v200 (batch 2) near-dups ONLY the rejected v100 — the
    stream keeps v200 (it dedups against accepted survivors only), while
    the same vectors in ONE batch drop both (any smaller-id near-dup
    kills, matching the batch entry over the unioned prefix)."""
    import math as m

    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_centroids,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_semdedup_ingest,
    )

    schema = "vec_id long, embedding array<double>"
    # chain on the unit circle: 0deg (stored), 6deg, 12deg.
    # cos(6deg)=0.9945 >= 0.99 (near-dup); cos(12deg)=0.978 < 0.99.
    def ang(deg):
        return [m.cos(m.radians(deg)), m.sin(m.radians(deg))]

    corpus = spark.createDataFrame([(0, ang(0))], schema)
    seeds = corpus.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )

    def run(batches, sub):
        from automotive_data_pipeline_demo_spark.extensions.similarity import (
            assign_to_stored_centroids,
        )

        cents_path = str(tmp_path / sub / "cents")
        corpus_path = str(tmp_path / sub / "corpus")
        kmeans_centroids(corpus, seeds, n_iter=1).write.parquet(cents_path)
        assign_to_stored_centroids(
            corpus, spark.read.parquet(cents_path)
        ).join(corpus, "vec_id").select(
            "vec_id", "embedding", "centroid_id"
        ).write.parquet(corpus_path)
        src = tmp_path / sub / "incoming"
        for b in batches:
            spark.createDataFrame(b, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src))
        q = streaming_semdedup_ingest(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            corpus_path, cents_path,
            threshold=0.99,
            checkpoint=str(tmp_path / sub / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()
        return {r["vec_id"] for r in spark.read.parquet(corpus_path).collect()}

    b1 = [(100, ang(6))]    # near-dups stored v0 -> rejected
    b2 = [(200, ang(12))]   # near-dups ONLY v100 (rejected)
    # split across batches: the chain truncates, v200 survives
    assert run([b1, b2], "split") == {100 - 100, 200}  # {0, 200}
    # same vectors in one batch: v200 pairs with smaller-id v100 -> both drop
    assert run([b1 + b2], "joint") == {0}


def _seed_semdedup_store(spark, tmp_path, corpus_rows, sub="store"):
    """Train centroids on corpus_rows, persist both stored-centroid
    artifacts (the streaming_semdedup_ingest preamble), return paths."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
    )

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(corpus_rows, schema)
    seed_ids = sorted(r[0] for r in corpus_rows)[:2]
    seeds = corpus.filter(F.col("vec_id").isin(seed_ids)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    cents_path = str(tmp_path / sub / "cents")
    corpus_path = str(tmp_path / sub / "corpus")
    kmeans_centroids(corpus, seeds, n_iter=1).write.parquet(cents_path)
    assign_to_stored_centroids(corpus, spark.read.parquet(cents_path)).join(
        corpus, "vec_id"
    ).select("vec_id", "embedding", "centroid_id").write.parquet(corpus_path)
    return corpus_path, cents_path


def test_refresh_centroids_keep_stability(spark, tmp_path):
    """refresh_centroids changes cell geometry only: the (id, vector) set
    is byte-identical after the swap, a previously-rejected exact
    duplicate still loses against the refreshed index, and a replayed
    batch stays a no-op."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        refresh_centroids,
        streaming_semdedup_ingest,
    )

    schema = "vec_id long, embedding array<double>"
    corpus_rows = [(i, [1.0, 0.01 * i]) for i in range(4)] + [
        (10 + i, [0.01 * i, 1.0]) for i in range(4)
    ]
    corpus_path, cents_path = _seed_semdedup_store(spark, tmp_path, corpus_rows)

    # ingest one batch: 100 dups stored vec 0 (rejected), 101 novel (kept)
    src = tmp_path / "incoming"
    b1 = [(100, [1.0, 0.0001]), (101, [-0.7, 0.7])]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src))

    def run(ck):
        q = streaming_semdedup_ingest(
            spark.readStream.schema(schema).parquet(str(src)),
            corpus_path, cents_path, threshold=0.99,
            checkpoint=str(tmp_path / ck),
        )
        q.processAllAvailable()
        q.stop()

    run("ck1")
    before = {
        (r["vec_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(corpus_path).collect()
    }
    assert {i for i, _ in before} == {0, 1, 2, 3, 10, 11, 12, 13, 101}

    report = refresh_centroids(spark, corpus_path, cents_path, k=3)
    after_rows = spark.read.parquet(corpus_path).collect()
    after = {(r["vec_id"], tuple(r["embedding"])) for r in after_rows}
    # kept stays kept: identical (id, vector) set, only cells may move
    assert after == before
    assert report["n_vectors"] == 9 and report["cells_after"] == 3
    # the swapped centroid artifact matches the corpus's cell vocabulary
    cents = {r["centroid_id"]
             for r in spark.read.parquet(cents_path).collect()}
    assert {r["centroid_id"] for r in after_rows} <= cents

    # dropped stays dropped: an exact duplicate of stored vec 0 re-loses
    # against the refreshed index (identical vectors share any cell), and
    # a replayed batch is still a no-op
    b2 = [(200, [1.0, 0.0])]  # exact dup of vec 0
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(src))
    run("ck2")  # fresh checkpoint replays everything: ids guard survivors
    final = {r["vec_id"] for r in spark.read.parquet(corpus_path).collect()}
    assert final == {0, 1, 2, 3, 10, 11, 12, 13, 101}


def test_refresh_centroids_routed(spark, tmp_path, sf_dir):
    """Routed maintenance: refresh_centroids(route_probe=...) keeps the
    byte-identical (id, vector) corpus (kept-stays-kept holds under any
    assignment), and a FULL-PROBE routed refresh lands every row in the
    identical cell the flat refresh picks — the bit-exact degeneracy pin
    driven end to end through both staged artifact swaps."""
    import shutil

    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        refresh_centroids,
    )

    rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 120).collect()
    ]
    corpus_path, cents_path = _seed_semdedup_store(spark, tmp_path, rows,
                                                   sub="routed")
    flat_dir = tmp_path / "flatcopy"
    shutil.copytree(tmp_path / "routed", flat_dir)
    before = {(r["vec_id"], tuple(r["embedding"]))
              for r in spark.read.parquet(corpus_path).collect()}

    routed = refresh_centroids(
        spark, corpus_path, cents_path, k=12, route_probe=12
    )
    flat = refresh_centroids(
        spark, str(flat_dir / "corpus"), str(flat_dir / "cents"), k=12
    )
    assert routed["n_vectors"] == flat["n_vectors"] == 120
    after = {(r["vec_id"], tuple(r["embedding"]))
             for r in spark.read.parquet(corpus_path).collect()}
    assert after == before  # kept stays kept under a routed refresh
    routed_cells = {r["vec_id"]: r["centroid_id"]
                    for r in spark.read.parquet(corpus_path).collect()}
    flat_cells = {r["vec_id"]: r["centroid_id"]
                  for r in spark.read.parquet(str(flat_dir / "corpus")).collect()}
    assert routed_cells == flat_cells  # full probe ≡ flat, end to end
    # a genuinely pruned probe still satisfies the refresh contracts
    pruned = refresh_centroids(
        spark, corpus_path, cents_path, k=12, route_probe=2
    )
    assert pruned["n_vectors"] == 120
    assert {(r["vec_id"], tuple(r["embedding"]))
            for r in spark.read.parquet(corpus_path).collect()} == before


def test_refresh_centroids_refuses_unassignable_rows(spark, tmp_path):
    """A corpus row the assignment would exclude (ragged vector) must
    abort the refresh BEFORE any swap — kept-stays-kept is a hard
    contract, not a best effort."""
    import pytest as _pytest

    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        refresh_centroids,
    )

    corpus_rows = [(i, [1.0, 0.01 * i]) for i in range(4)]
    corpus_path, cents_path = _seed_semdedup_store(spark, tmp_path, corpus_rows)
    # sneak in a 3-dim row (e.g. written by a buggy upstream)
    spark.createDataFrame(
        [(99, [1.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<double>, centroid_id long",
    ).write.mode("append").parquet(corpus_path)
    before = {(r["vec_id"], tuple(r["embedding"]))
              for r in spark.read.parquet(corpus_path).collect()}
    with _pytest.raises(ValueError, match="kept-stays-kept"):
        refresh_centroids(spark, corpus_path, cents_path, k=2)
    after = {(r["vec_id"], tuple(r["embedding"]))
             for r in spark.read.parquet(corpus_path).collect()}
    assert after == before  # no partial swap


def test_centroid_drift_report_separates_shifted_batch(spark):
    """The staleness signal: an in-distribution batch scores near the
    corpus reference row; a batch concentrated in one cell (new domain /
    embedding-model change) scores high."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        centroid_assignment_drift,
    )

    schema = "vec_id long, centroid_id long"
    corpus = spark.createDataFrame(
        [(i, i % 4) for i in range(400)], schema
    )
    in_dist = spark.createDataFrame(
        [(1000 + i, i % 4) for i in range(40)], schema
    )
    shifted = spark.createDataFrame(
        [(2000 + i, 3) for i in range(40)], schema
    )
    ok = {r["source"]: r for r in
          centroid_assignment_drift(corpus, in_dist).collect()}
    bad = {r["source"]: r for r in
           centroid_assignment_drift(corpus, shifted).collect()}
    assert ok["batch"]["tvd"] < 0.01                  # matches the corpus
    assert bad["batch"]["tvd"] > 0.5                  # concentrated drift
    assert bad["batch"]["tvd"] > 10 * bad["corpus"]["tvd"]  # vs reference
    assert ok["corpus"]["n_docs"] == 400 and ok["batch"]["n_docs"] == 40


def test_centroid_drift_off_live_store(spark, tmp_path):
    """The staleness loop wired end-to-end on the REAL artifacts: ingest a
    batch into the stored-centroid corpus, compute the drift report from
    the store's persisted assignments vs a new batch's frozen-cell
    assignments, and confirm a shifted batch trips the signal that
    refresh_centroids is the answer to."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        centroid_assignment_drift,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_semdedup_ingest,
    )

    schema = "vec_id long, embedding array<double>"
    corpus_rows = [(i, [1.0, 0.01 * i]) for i in range(4)] + [
        (10 + i, [0.01 * i, 1.0]) for i in range(4)
    ]
    corpus_path, cents_path = _seed_semdedup_store(
        spark, tmp_path, corpus_rows, sub="live"
    )
    src = tmp_path / "incoming"
    b1 = [(100, [0.9, 0.1]), (101, [0.1, 0.9])]  # balanced, novel enough
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src))
    q = streaming_semdedup_ingest(
        spark.readStream.schema(schema).parquet(str(src)),
        corpus_path, cents_path, threshold=0.999,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    stored = spark.read.parquet(corpus_path).select("vec_id", "centroid_id")
    cents = spark.read.parquet(cents_path)
    balanced = spark.createDataFrame(
        [(200, [1.0, 0.02]), (201, [0.02, 1.0])], schema
    )
    shifted = spark.createDataFrame(
        [(300 + i, [0.01 * i, 1.0]) for i in range(4)], schema
    )
    ok = {r["source"]: r for r in centroid_assignment_drift(
        stored, assign_to_stored_centroids(balanced, cents)
    ).collect()}
    bad = {r["source"]: r for r in centroid_assignment_drift(
        stored, assign_to_stored_centroids(shifted, cents)
    ).collect()}
    # the live store carries the ingested batch too (10 rows, 5 per cell)
    assert ok["corpus"]["n_docs"] == 10
    assert ok["batch"]["tvd"] == 0.0          # balanced batch: no drift
    # one-cell batch of 4 vs the 14-row pool: 0.5*(5/14 + 5/14) = 0.357
    assert bad["batch"]["tvd"] > 0.3          # signal well off the floor


def test_ingest_twins_collapse_intra_batch_duplicate_ids(spark, tmp_path):
    """All three stored-index ingest twins share the per-id exactly-once
    contract: two same-id rows in ONE micro-batch collapse to one output
    row (the anti-join alone only guards cross-batch re-delivery)."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_dedup_ingest,
        streaming_line_dedup_ingest,
    )

    schema = "doc_id long, text string"
    batch = [
        (1, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (2, "epsilon zeta eta theta"),
    ]

    src1 = tmp_path / "in1"
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(str(src1))
    q = streaming_dedup_ingest(
        spark.readStream.schema(schema).parquet(str(src1)),
        str(tmp_path / "corpus"), str(tmp_path / "index"),
        checkpoint=str(tmp_path / "ck1"),
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(str(tmp_path / "corpus")).collect())
    assert ids == [1, 2]

    src2 = tmp_path / "in2"
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(str(src2))
    q = streaming_line_dedup_ingest(
        spark.readStream.schema(schema).parquet(str(src2)),
        str(tmp_path / "out"), str(tmp_path / "ldx"),
        checkpoint=str(tmp_path / "ck2"),
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(str(tmp_path / "out")).collect())
    assert ids == [1, 2]


def test_dedupe_batch_ids_deterministic_winner(spark):
    """ADVICE r9: dropDuplicates([id]) kept an ARBITRARY same-id row, so a
    checkpoint replay of a failed batch could append a different payload
    than the original attempt. The twins now pick the max-payload-struct
    row — the same winner no matter how the rows arrive."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        _dedupe_batch_ids,
    )

    schema = "doc_id long, text string, score double"
    rows = [
        (1, "alpha", 0.2),
        (1, "zeta", 0.1),   # max struct: text is the leading field
        (2, "only", 1.0),
    ]
    for perm in (rows, rows[::-1]):
        out = {
            r["doc_id"]: (r["text"], r["score"])
            for r in _dedupe_batch_ids(
                spark.createDataFrame(perm, schema).repartition(4), "doc_id"
            ).collect()
        }
        assert out == {1: ("zeta", 0.1), 2: ("only", 1.0)}

    # id-only frame degrades to plain dropDuplicates
    only = spark.createDataFrame([(7,), (7,)], "doc_id long")
    assert _dedupe_batch_ids(only, "doc_id").collect() == [Row(doc_id=7)]

    # array payloads (the semdedup twin's embedding column) are orderable
    vecs = spark.createDataFrame(
        [(1, [0.1, 0.2]), (1, [0.3, 0.0])], "vec_id long, embedding array<double>"
    )
    picked = _dedupe_batch_ids(vecs, "vec_id").collect()
    assert len(picked) == 1 and picked[0]["embedding"] == [0.3, 0.0]


def test_ingest_twin_same_id_winner_is_order_independent(spark, tmp_path):
    """End-to-end determinism: the same conflicting-payload batch fed in
    both row orders appends the SAME surviving text."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        streaming_dedup_ingest,
    )

    schema = "doc_id long, text string"
    conflicting = [
        (1, "alpha beta gamma delta"),
        (1, "omega psi chi phi"),
    ]
    kept = []
    for tag, perm in (("f", conflicting), ("r", conflicting[::-1])):
        src = tmp_path / f"in_{tag}"
        spark.createDataFrame(perm, schema).coalesce(1).write.parquet(str(src))
        q = streaming_dedup_ingest(
            spark.readStream.schema(schema).parquet(str(src)),
            str(tmp_path / f"corpus_{tag}"), str(tmp_path / f"index_{tag}"),
            checkpoint=str(tmp_path / f"ck_{tag}"),
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.read.parquet(str(tmp_path / f"corpus_{tag}")).collect()
        assert len(rows) == 1
        kept.append(rows[0]["text"])
    assert kept[0] == kept[1] == "omega psi chi phi"  # max payload struct


def test_refresh_centroids_leaves_no_pinned_storage(spark, tmp_path):
    """ADVICE r9: refresh_centroids localCheckpoint'ed the full reassigned
    corpus and never unpersisted it — the blocks stayed pinned for the
    rest of the session. The staged parquet is now the pin: after the
    refresh, no NEW RDD storage blocks survive."""
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        refresh_centroids,
    )

    corpus_rows = [(i, [1.0, 0.01 * i]) for i in range(4)] + [
        (10 + i, [0.01 * i, 1.0]) for i in range(4)
    ]
    corpus_path, cents_path = _seed_semdedup_store(
        spark, tmp_path, corpus_rows, sub="nopin"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    report = refresh_centroids(spark, corpus_path, cents_path, k=3)
    assert report["n_vectors"] == 8
    after = {info.id() for info in jsc.getRDDStorageInfo()}
    assert after - before == set()


def test_compact_band_index_folds_files_and_retires_removed_ids(
    spark, tmp_path
):
    """The band index's maintenance half (stored-index trilogy complete):
    per-batch small files fold into few, band rows for docs deleted from
    the corpus are retired, dedup results are byte-identical through a
    pure compaction, and a replayed batch stays a no-op afterwards."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        near_dup_against_index,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        compact_band_index,
        streaming_dedup_ingest,
    )

    schema = "doc_id long, text string"
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")
    src = tmp_path / "incoming"
    batches = [
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five")],
        [(3, "alpha beta gamma delta epsilon zeta")],
        [(4, "totally different words here now")],
    ]

    def run(ck):
        q = streaming_dedup_ingest(
            spark.readStream.schema(schema).parquet(str(src)),
            corpus_path, index_path, checkpoint=str(tmp_path / ck),
        )
        q.processAllAvailable()
        q.stop()

    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run("ck1")  # same checkpoint: three committed micro-batches
    stored = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    )

    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon"),   # exact dup of 1
         (101, "never seen before content words")],
        schema,
    )

    def dedup_rows():
        return sorted(
            (r["new_id"], r["dup_of"], r["jaccard"])
            for r in near_dup_against_index(
                probe,
                spark.read.parquet(index_path),
                spark.read.parquet(corpus_path),
                "doc_id", "text",
            ).collect()
        )

    before_rows = dedup_rows()
    assert [n for n, _, _ in before_rows] == [100]

    # (1) pure compaction: fewer files, identical rows, identical dedup
    idx_rows_before = sorted(
        map(tuple, spark.read.parquet(index_path).collect())
    )
    report = compact_band_index(spark, index_path)
    assert report["retired_rows"] == 0
    assert report["files_after"] <= report["files_before"]
    assert report["rows_after"] == report["rows_before"]
    assert sorted(
        map(tuple, spark.read.parquet(index_path).collect())
    ) == idx_rows_before
    assert dedup_rows() == before_rows

    # (2) retire removed ids: GDPR-style corpus rewrite without doc 1,
    # then the retire pass drops its band rows
    kept = spark.read.parquet(corpus_path).filter(F.col("doc_id") != 1)
    kept.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "corpus2")
    )
    report = compact_band_index(
        spark, index_path, corpus_path=str(tmp_path / "corpus2")
    )
    assert report["retired_rows"] > 0
    left = {r["id"] for r in spark.read.parquet(index_path).collect()}
    assert 1 not in left
    assert left == set(stored) - {1}

    # (3) replay no-op: a fresh checkpoint re-delivers every batch; the
    # corpus anti-join drops survivors, losers re-lose, nothing appends
    n_before = spark.read.parquet(corpus_path).count()
    run("ck_replay")
    assert spark.read.parquet(corpus_path).count() == n_before


def test_drift_threshold_calibrated_by_recall(spark, tmp_path):
    """Calibrates WHAT the drift number means (VERDICT r9 item 2): plant a
    shifted batch, measure in-cell near-dup recall against brute force
    before and after refresh_centroids, and pin the TVD level at which
    recall measurably degrades.

    Geometry: frozen k=2 cells on two orthogonal clusters; the shifted
    batch sits in the diagonal bulge between them, 8:2 across the cell
    bisector, so its near-dup pairs straddle the frozen boundary AND its
    occupancy departs from the pool. Pinned points (the numbers the
    refresh_centroids docstring quotes):

    - in-distribution batch: tvd = 0,     recall = 1.0
    - symmetric straddle:    tvd = 0,     recall ~0.95  <- TVD's blind spot
    - asymmetric shift:      tvd ~0.18,   recall ~0.80  <- refresh trigger
    - after refresh (k=3):   recall = 1.0
    """
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        centroid_assignment_drift,
        embedding_near_dup_pairs,
        kmeans_centroids,
    )
    from automotive_data_pipeline_demo_spark.streaming.dedup import (
        refresh_centroids,
    )

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        sorted(
            [(2 * j, [1.0, 0.03 * j]) for j in range(8)]
            + [(2 * j + 1, [0.03 * j, 1.0]) for j in range(8)]
        ),
        schema,
    )
    seeds = (
        corpus.orderBy("vec_id").limit(2)
        .select(F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("c_vec"))
    )
    cents = kmeans_centroids(corpus, seeds, n_iter=2)
    corpus_assign = assign_to_stored_centroids(corpus, cents)

    def batch(n_diag):
        """10 docs; n_diag in the diagonal bulge (all but two on the
        A side of the bisector), the rest in-distribution."""
        rows = []
        n_a_side = max(0, n_diag - 2)
        for i in range(n_diag):
            if i < n_a_side:
                rows.append((100 + i, [0.72, 0.69 - 0.002 * i]))
            else:
                rows.append(
                    (100 + i, [0.69 - 0.002 * (i - n_a_side), 0.72])
                )
        for i in range(10 - n_diag):
            vec = [1.0, 0.015 + 0.03 * i]
            rows.append((150 + i, vec if i % 2 == 0 else vec[::-1]))
        return spark.createDataFrame(rows, schema)

    def brute_truth(union_df):
        return {(r["a_id"], r["b_id"]) for r in embedding_near_dup_pairs(
            union_df, 0.995, strategy="join").collect()}

    def recall(union_df, cents_df, truth):
        blocked = union_df.join(
            assign_to_stored_centroids(union_df, cents_df), "vec_id"
        )
        # strategy="join": bit-identical to the blocked Arrow scorer
        # (pinned elsewhere) and ~2x faster at this toy scale
        got = {(r["a_id"], r["b_id"]) for r in embedding_near_dup_pairs(
            blocked, 0.995, block_col="centroid_id", strategy="join"
        ).collect()}
        assert got <= truth  # in-cell can only MISS pairs, never invent
        return len(got) / len(truth)

    points = {}
    truths = {}
    for n_diag in (0, 4, 10):
        b = batch(n_diag)
        drift = {r["source"]: r for r in centroid_assignment_drift(
            corpus_assign, assign_to_stored_centroids(b, cents)
        ).collect()}
        union = corpus.unionByName(b)
        truths[n_diag] = brute_truth(union)
        points[n_diag] = (
            drift["batch"]["tvd"], recall(union, cents, truths[n_diag])
        )

    tvd0, rec0 = points[0]
    assert tvd0 == 0.0 and rec0 == 1.0
    # TVD blind spot: a SYMMETRIC boundary-straddling batch keeps the
    # occupancy distribution (tvd 0) while losing recall — why the
    # docstring recommends scheduled refreshes as a backstop
    tvd4, rec4 = points[4]
    assert tvd4 == 0.0 and 0.90 <= rec4 < 1.0
    # the asymmetric shift: occupancy signal fires AND recall degrades
    tvd10, rec10 = points[10]
    assert 0.15 <= tvd10 <= 0.25 and rec10 < 0.85

    # refresh with one more cell: the bulge gets its own centroid and
    # every straddling pair co-locates again
    union = corpus.unionByName(batch(10))
    store = str(tmp_path / "calib_store")
    cdir = str(tmp_path / "calib_cents")
    union.join(
        assign_to_stored_centroids(union, cents), "vec_id"
    ).select("vec_id", "embedding", "centroid_id").write.parquet(store)
    cents.write.parquet(cdir)
    report = refresh_centroids(spark, store, cdir, k=3, n_iter=3)
    assert report["cells_after"] == 3 and report["moved"] >= 10
    assert recall(union, spark.read.parquet(cdir), truths[10]) == 1.0
