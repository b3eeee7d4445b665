"""Layer spans for the traced run, kept in memory and written at the end.

A span is opened by the benchmark around each call it makes into one of
the package's layers (``LAYERS``). While a span is open the SparkContext
job group names it, so every stage its calls submit can be attributed to
it from the Spark event log afterwards; stages of threads the benchmark
does not control (streaming micro-batches) fall back to the innermost
span open at their submission time. Hadoop FileSystem write counters and
the persisted-storage high-water mark are sampled at span boundaries.

With tracing off every method is a cheap no-op, so the timed run executes
exactly the workload's own calls.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: The package layers, named by module, and the end-to-end metric each
#: layer's metrics should move, on which workload.
LAYERS = {
    "sources.inbox": "op_s_p50 on cdp_daily",
    "sources.readers": "op_s_p50 on cdp_daily",
    "sources.merge": "op_s_p50 and write_amp on cdp_daily; op_s_p50 on stream_ingest",
    "sources.sinks": "op_s_p50 and write_amp on cdp_daily",
    "plans.etl": "op_s_p50 and write_amp on cdp_daily",
    "plans.views": "op_s_p50 on cdp_daily; flat on stream_ingest",
    "plans.refresh": "op_s_p50, write_amp and failed operations on cdp_daily",
    "streaming.activation": "op_s_p50 on cdp_daily",
    "streaming.identity": "op_s_p50 on cdp_daily and on stream_ingest",
    "streaming.upsert": "op_s_p50 on stream_ingest",
    "streaming.dedup": "op_s_p50 on stream_ingest",
    "functions.adf": "op_s_p50 on cdp_daily and on stream_ingest",
    "extensions.text_analysis": "op_s_p50 on stream_ingest; flat on cdp_daily",
    "extensions.dedup_text": "op_s_p50 and rows_per_s on stream_ingest; flat on cdp_daily",
    "extensions.similarity": "op_s_p50 on stream_ingest; flat on cdp_daily",
    "extensions.sampling": "op_s_p50 on stream_ingest; flat on cdp_daily",
    "session": "peak_rss_mb on every workload",
    "trace": "none: the traced run's own cost and its span coverage",
}

#: Per-layer metrics, each ``<layer>.<metric>``: (unit, better).
#: ``self_s``/``task_s``/``shuffle_bytes``/``spill_bytes``/``jobs``/
#: ``task_skew``/``py_worker_task_s``/``bytes_written`` come from spans and
#: the event log, ``add_batch_ms``/``trigger_ms``/``state_rows`` from
#: streaming progress, ratios from ``RATIOS``; the rest are counts the
#: workloads record.
PER_LAYER = {
    "sources.inbox.self_s": ("s", "lower"),
    "sources.inbox.py_worker_task_s": ("s", "lower"),
    "sources.readers.self_s": ("s", "lower"),
    "sources.merge.self_s": ("s", "lower"),
    "sources.merge.rows_in": ("count", "higher"),
    "sources.merge.bytes_written": ("bytes", "lower"),
    "sources.sinks.self_s": ("s", "lower"),
    "sources.sinks.bytes_written": ("bytes", "lower"),
    "plans.etl.self_s": ("s", "lower"),
    "plans.etl.rows_in": ("count", "higher"),
    "plans.etl.rows_rejected": ("count", "lower"),
    "plans.etl.bytes_written": ("bytes", "lower"),
    "plans.views.self_s": ("s", "lower"),
    "plans.views.task_s": ("s", "lower"),
    "plans.views.shuffle_bytes": ("bytes", "lower"),
    "plans.views.spill_bytes": ("bytes", "lower"),
    "plans.refresh.self_s": ("s", "lower"),
    "plans.refresh.bytes_written": ("bytes", "lower"),
    "plans.refresh.rewrite_ratio": ("ratio", "lower"),
    "plans.refresh.fallbacks": ("count", "lower"),
    "streaming.activation.self_s": ("s", "lower"),
    "streaming.activation.events_emitted": ("count", "higher"),
    "streaming.identity.self_s": ("s", "lower"),
    "streaming.identity.leads_in": ("count", "higher"),
    "streaming.identity.match_rate": ("ratio", "higher"),
    "streaming.identity.add_batch_ms": ("ms", "lower"),
    "streaming.identity.trigger_ms": ("ms", "lower"),
    "streaming.identity.state_rows": ("count", "lower"),
    "streaming.upsert.self_s": ("s", "lower"),
    "streaming.upsert.add_batch_ms": ("ms", "lower"),
    "streaming.upsert.trigger_ms": ("ms", "lower"),
    "streaming.upsert.state_rows": ("count", "lower"),
    "streaming.dedup.self_s": ("s", "lower"),
    "streaming.dedup.add_batch_ms": ("ms", "lower"),
    "streaming.dedup.trigger_ms": ("ms", "lower"),
    "streaming.dedup.state_rows": ("count", "lower"),
    "functions.adf.self_s": ("s", "lower"),
    "functions.adf.py_worker_task_s": ("s", "lower"),
    "extensions.text_analysis.self_s": ("s", "lower"),
    "extensions.text_analysis.py_worker_task_s": ("s", "lower"),
    "extensions.dedup_text.self_s": ("s", "lower"),
    "extensions.dedup_text.shuffle_bytes": ("bytes", "lower"),
    "extensions.dedup_text.candidate_pairs": ("count", "lower"),
    "extensions.dedup_text.verify_yield": ("ratio", "higher"),
    "extensions.dedup_text.jobs": ("count", "lower"),
    "extensions.dedup_text.task_skew": ("ratio", "lower"),
    "extensions.similarity.self_s": ("s", "lower"),
    "extensions.similarity.pairs_scored": ("count", "lower"),
    "extensions.sampling.self_s": ("s", "lower"),
    "session.persisted_bytes_max": ("bytes", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.uncovered_frac": ("ratio", "lower"),
}

#: per-layer ratios of two recorded counts: (metric, numerator, denominator)
RATIOS = (
    ("plans.refresh.rewrite_ratio", "plans.refresh.rows_rewritten", "plans.refresh.changed_keys"),
    ("extensions.dedup_text.verify_yield", "extensions.dedup_text.verified_pairs",
     "extensions.dedup_text.candidate_pairs"),
    ("streaming.identity.match_rate", "streaming.identity.leads_matched",
     "streaming.identity.leads_in"),
)

_GROUP = "perfbench"


def fs_bytes_written(spark) -> int:
    """Bytes written so far through Hadoop's local FileSystem (every
    parquet/text/CSV sink and checkpoint of the session)."""
    stats = spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    return sum(int(s.getBytesWritten()) for s in stats if s.getScheme() == "file")


def persisted_bytes(spark) -> int:
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class Tracer:
    """Spans and counts of one run. ``enabled`` is false for timed runs."""

    def __init__(self, spark, event_log_dir: str | None):
        self.spark = spark
        self.event_log_dir = event_log_dir
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: dict[str, dict[tuple, dict]] = defaultdict(dict)
        self.persisted_max = 0
        self._stack: list[dict] = []
        self._observations: list[tuple[dict, Observation]] = []
        self._n_obs = 0
        self.op_id = -1

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        """Time one call into ``layer`` (a no-op when tracing is off)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "layer": layer, "name": name or layer,
             "op": self.op_id, "parent": parent["id"] if parent else None,
             "bytes0": fs_bytes_written(self.spark)}
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"{_GROUP}:{s['id']}", s["name"])
        s["start"] = time.time()
        try:
            yield
        finally:
            s["end"] = time.time()
            s["bytes_written"] = fs_bytes_written(self.spark) - s.pop("bytes0")
            self.persisted_max = max(self.persisted_max, persisted_bytes(self.spark))
            self._stack.pop()
            if parent:
                sc.setJobGroup(f"{_GROUP}:{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # -- counts --------------------------------------------------------------
    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.counts[metric] += value

    def observe(self, df: DataFrame, metrics: dict) -> DataFrame:
        """Aggregate a frame handed to a layer while the layer's own action
        runs (``DataFrame.observe``: no extra job). ``metrics`` maps a
        count name to an aggregate column; ``rows`` counts rows."""
        if not self.enabled:
            return df
        self._n_obs += 1
        obs = Observation(f"pb_{self._n_obs}")
        names = {k.replace(".", "__"): k for k in metrics}
        self._observations.append((names, obs))
        aggs = [F.count(F.lit(1)).alias(n) if isinstance(metrics[k], str)
                else metrics[k].alias(n) for n, k in names.items()]
        return df.observe(obs, *aggs)

    def flush_observations(self) -> None:
        """Add every observed aggregate; call after the consuming actions."""
        for names, obs in self._observations:
            got = obs.get
            for n, k in names.items():
                self.counts[k] += float(got[n] or 0)
        self._observations.clear()

    def stream_progress(self, layer: str, query, after_batch: int) -> None:
        """Keep a streaming query's per-micro-batch progress for the batches
        after ``after_batch`` (each batch once, however often it is read)."""
        if self.enabled:
            for p in query.recentProgress:
                p = json.loads(p.json)
                if p["batchId"] > after_batch:
                    self.progress[layer][(p["runId"], p["batchId"])] = p

    # -- report --------------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")

    def layer_metrics(self, op_walls: list[tuple[float, float]]) -> dict[str, float]:
        """Per-layer metrics from spans, counts, stream progress and the
        event log (read after the SparkContext stopped)."""
        out = dict.fromkeys(PER_LAYER, 0.0)
        stages = _read_event_log(self.event_log_dir) if self.event_log_dir else []
        by_span = self._attribute(stages)
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        per_layer_stages = defaultdict(list)
        for s in self.spans:
            dur = s["end"] - s["start"]
            self_s = dur - _covered([(c["start"], c["end"]) for c in children[s["id"]]],
                                    s["start"], s["end"])
            _bump(out, f"{s['layer']}.self_s", self_s)
            _bump(out, f"{s['layer']}.bytes_written", s["bytes_written"])
            per_layer_stages[s["layer"]] += by_span.get(s["id"], [])
        for layer, sts in per_layer_stages.items():
            _bump(out, f"{layer}.task_s", sum(st["task_s"] for st in sts))
            _bump(out, f"{layer}.shuffle_bytes", sum(st["shuffle_write"] for st in sts))
            _bump(out, f"{layer}.spill_bytes", sum(st["spill"] for st in sts))
            _bump(out, f"{layer}.py_worker_task_s", sum(st["py_task_s"] for st in sts))
            _bump(out, f"{layer}.jobs", len({st["job"] for st in sts}))
            skews = [st["skew"] for st in sts if st["skew"]]
            _bump(out, f"{layer}.task_skew", max(skews, default=0.0))
        for metric, v in self.counts.items():
            _bump(out, metric, v)
        c = self.counts
        for metric, num, den in RATIOS:
            if c.get(den):
                out[metric] = c.get(num, 0.0) / c[den]
        for layer, prog in self.progress.items():
            batches = [p for p in prog.values() if p.get("numInputRows", 0) > 0]
            if not batches:
                continue
            dur = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in batches)  # noqa: E731
            _bump(out, f"{layer}.add_batch_ms", dur("addBatch"))
            _bump(out, f"{layer}.trigger_ms", dur("triggerExecution"))
            state = [sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
                     for p in batches]
            _bump(out, f"{layer}.state_rows", max(state))
        out["session.persisted_bytes_max"] = float(self.persisted_max)
        out["trace.uncovered_frac"] = self.uncovered_frac(op_walls)
        return out

    def uncovered_frac(self, op_walls: list[tuple[float, float]]) -> float:
        """Median share of a traced operation's wall time no top-level
        layer span covers."""
        shares = []
        for start, end in op_walls:
            tops = [(s["start"], s["end"]) for s in self.spans
                    if s["parent"] is None and s["start"] >= start and s["end"] <= end]
            if end > start:
                shares.append(1.0 - _covered(tops, start, end) / (end - start))
        return statistics.median(shares) if shares else 0.0

    def _attribute(self, stages: list[dict]) -> dict[int, list[dict]]:
        """Stage -> span: by job group, else the innermost span open at the
        stage's submission."""
        by_span = defaultdict(list)
        ids = {s["id"] for s in self.spans}
        for st in stages:
            sid = None
            group = st.get("group") or ""
            if group.startswith(f"{_GROUP}:"):
                sid = int(group.split(":")[1])
            elif st.get("submitted"):
                t = st["submitted"] / 1000.0
                open_spans = [s for s in self.spans if s["start"] <= t <= s["end"]]
                if open_spans:
                    sid = max(open_spans, key=lambda s: s["start"])["id"]
            if sid in ids:
                by_span[sid].append(st)
        return by_span


def _bump(out: dict, key: str, value: float) -> None:
    if key in out:
        out[key] += float(value)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _read_event_log(log_dir: str) -> list[dict]:
    """Per-stage task time, shuffle, spill, skew and Python-worker time."""
    stages: dict[int, dict] = {}
    job_of_stage: dict[int, int] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    for path in glob.glob(f"{log_dir}/*"):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    for sid in ev.get("Stage IDs", []):
                        job_of_stage.setdefault(sid, ev["Job ID"])
                elif '"Event":"SparkListenerStageSubmitted"' in line:
                    ev = json.loads(line)
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stages[info["Stage ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": info.get("Submission Time"),
                        "task_s": 0.0, "shuffle_write": 0, "spill": 0, "py_task_s": 0.0,
                    }
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    st = stages.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if st is None or not m:
                        continue
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    st["task_s"] += run_s
                    st["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st["py_task_s"] += sum(
                        int(a.get("Update") or 0) for a in ev["Task Info"].get("Accumulables", [])
                        if a.get("Name") == "time to run Python workers") / 1000.0
                    tasks[ev["Stage ID"]].append(run_s)
    out = []
    for sid, st in stages.items():
        ts = tasks.get(sid, [])
        med = statistics.median(ts) if len(ts) >= 4 else 0.0
        st["skew"] = max(ts) / med if med > 0 else 0.0
        st["job"] = job_of_stage.get(sid, -1)
        out.append(st)
    return out
