"""Event sinks.

Reference parity: S7 — the activation Lambda POSTs one JSON Track event per
row to the Segment HTTP API with batching (100/batch) and a 30 s timeout
(``scripts/lambda_redshift_to_segment.py:426-466, 520-555``). In Spark the
sink is partition-parallel: ``foreachPartition`` posts batches per partition,
so throughput scales with executors instead of a single Lambda loop. Tests
use the JSONL file sink (same event shape, golden-file comparable).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_jsonl_events(events: DataFrame, path: str, event_col: str = "event") -> None:
    """Render the Track-event struct column as one JSON object per line."""
    events.select(F.to_json(F.col(event_col)).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def post_events_http(
    events: DataFrame,
    endpoint: str,
    event_col: str = "event",
    batch_size: int = 100,
    timeout_s: float = 30.0,
    post_fn: Callable[[str, list[str]], None] | None = None,
) -> None:
    """S7: partition-parallel HTTP event delivery.

    ``post_fn(endpoint, batch_of_json_strings)`` is injectable for tests; the
    default uses urllib (standard library; no external deps). Batch size
    mirrors the reference's 100-events cap. Idempotency comes from the
    messageId each event carries (F18) — the receiver dedups on it, so
    at-least-once delivery here composes to exactly-once end-to-end (ST2).
    """
    json_rows = events.select(F.to_json(F.col(event_col)).alias("value"))

    def default_post(url: str, batch: list[str]) -> None:
        import urllib.request

        body = ("[" + ",".join(batch) + "]").encode()
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"}
        )
        urllib.request.urlopen(req, timeout=timeout_s).read()

    poster = post_fn or default_post

    def send_partition(rows: Iterator) -> None:
        batch: list[str] = []
        for row in rows:
            batch.append(row["value"])
            if len(batch) >= batch_size:
                poster(endpoint, batch)
                batch = []
        if batch:
            poster(endpoint, batch)

    json_rows.foreachPartition(send_partition)
