#!/usr/bin/env python
"""Benchmark: headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
   "sf": ..., "sf1": {"queries": {...}, "total_sec": ...}}

The printed line is COMPACT (see :func:`_compact_record`): the driver's
envelope captures only the last ~2000 bytes of stdout, and r11's record
was lost (`parsed: null`) when 16 verbose flag rows pushed the line to
~4 kB. Flag rows on the line carry only the essentials; full regression /
env_cleared / A/B detail lives in BENCH_AB.json, and the complete result
in BENCH_LOCAL.json.

Each query executes fully via the noop sink (no driver collect, no sink
I/O in the measurement). Session build time is excluded; a warmup query
primes the JVM/codegen so numbers reflect steady-state plan execution.

sf1 pass: at sf0.1 each query carries ~1 s of fixed JVM/scheduler overhead,
which swamps real work and makes round-over-round deltas unfalsifiable. When
the primary dir is sf0.1 (the driver's default), the bench also synthesizes
a deterministic sf1 under /tmp — ten key-shifted copies of every fact table,
joins staying consistent because every foreign key shifts by the same
per-copy offset — and re-runs the suite there, where per-query time is real
work. Generation happens once and is reused via a marker file. Disable with
SPARK_GRAFT_SF1=0.

sf10 smoke (r13; min-of-2 since r14): in the same round-close mode, the
daily-ingest-posture entries in SF10_SMOKE additionally run against the
decorrelated sf10p probe corpus so a super-linear scaling regression
flags in the per-round record instead of waiting for an ad-hoc
SWEEP_SF10 session. Disable with SPARK_GRAFT_SF10=0.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG
from automotive_data_pipeline_demo_spark.session import get_spark

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SF1_COPIES = 10
_OFFSET = 1_000_000_000  # per-copy id shift, far above any source key

# id-bearing columns per table; every foreign key shifts with its parent so
# the ×10 corpus keeps exactly the source's join structure and cardinality
# ratios (region/nation are dimensions and stay shared, like TPC-H).
_SHIFT_COLS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def ensure_sf1(spark: SparkSession, src_dir: str) -> str:
    """Materialize the synthetic sf1 mirror of ``src_dir`` (idempotent)."""
    marker = os.path.join(SF1_DIR, "_SPARK_GRAFT_SF1_OK")
    if os.path.exists(marker):
        return SF1_DIR
    # events stores TIMESTAMP(NANOS); read it as long (same convention the
    # catalog reader uses) so the copy round-trips bit-identically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for table, shift_cols in _SHIFT_COLS.items():
        src = spark.read.parquet(f"{src_dir}/{table}.parquet")
        if shift_cols:
            copies = []
            for k in range(SF1_COPIES):
                off = k * _OFFSET
                copies.append(
                    src.select(
                        *[
                            (F.col(c) + F.lit(off)).alias(c)
                            if c in shift_cols
                            else F.col(c)
                            for c in src.columns
                        ]
                    )
                )
            out = functools.reduce(DataFrame.union, copies)
        else:
            out = src
        out.write.mode("overwrite").parquet(f"{SF1_DIR}/{table}.parquet")
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write("ok\n")
    return SF1_DIR


def run_suite(spark: SparkSession, sf_dir: str, bench_specs) -> dict[str, float]:
    # warmup: run the flagship once to JIT codegen paths
    warm = next(s for s in bench_specs if s.name == "flagship_segments")
    warm.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # best-of-2 per query: the first execution after a dataset write/generation
    # pays one-off page-cache and codegen costs that can inflate a single-shot
    # number 3-5x; the min of two runs is the steady-state plan cost, which is
    # what round-over-round comparisons need to be falsifiable.
    timings: dict[str, float] = {}
    for spec in bench_specs:
        best = float("inf")
        for _ in range(2):
            # drop DataFrame caches so every timed run is the full query:
            # multi-consumer operators persist intermediates internally
            # (band index, shingle sets, kmeans cells), and CacheManager
            # keys on the canonical plan — without this, run 2 would time a
            # warm-cache re-query instead of the operator.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[spec.name] = round(best, 3)
    return timings


def host_canary(spark: SparkSession, sf_dir: str) -> float:
    """Fixed host-speed calibration, emitted as ``canary_sec``: one
    codegen'd scan+aggregate over lineitem (the TPC-H Q1 shape),
    min-of-3 after a warm pass. The plan is frozen — it never changes
    with engine code — so the ratio of two rounds' canaries measures
    the CONTAINER's speed change and separates environment drift from
    code regressions. (r9: every headline entry ran +25-45% slower with
    byte-identical code; a `git worktree` A/B against the r8 HEAD proved
    the container itself had slowed ~25% since the r8 recording. This
    field makes that control automatic and judge-legible — the gate's
    thresholds are unchanged and still compare raw seconds.)
    """
    li = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    best = float("inf")
    for i in range(4):  # run 0 is the warm pass and never counts
        t0 = time.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        if i > 0:
            best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def host_canary_mc(spark: SparkSession, sf_dir: str) -> float:
    """MULTI-CORE host-speed calibration, emitted as ``canary_mc_sec``
    and PREFERRED over the single-thread canary when the previous round
    recorded one (r12). The single-thread canary measures a regime the
    suite never runs in: on an idle box it rides boost clocks ~20%
    faster than the 32-thread suite (r12 measured canary 0.13 vs prev
    0.17 while the suite total was byte-identical), and under multi-core
    contention it under-reads the slowdown (the r7/r9 signature). This
    plan is frozen like the single-thread one but fans the same Q1-shape
    aggregate out across 64 tasks via an 8x row multiplication and a
    fixed repartition, so its ratio tracks the regime the suite's
    numbers actually move in. min-of-3 after a warm pass."""
    li = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")
    q = (
        li.withColumn("__k", F.explode(F.sequence(F.lit(1), F.lit(8))))
        .repartition(64, "l_orderkey", "__k")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus", "__k")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    best = float("inf")
    for i in range(4):  # run 0 is the warm pass and never counts
        t0 = time.perf_counter()
        q.write.format("noop").mode("overwrite").save()
        if i > 0:
            best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _mc_usable(now_mc, prev_mc) -> bool:
    """True when BOTH rounds recorded a usable multi-core canary."""
    return (
        isinstance(now_mc, (int, float))
        and isinstance(prev_mc, (int, float))
        and prev_mc > 0
        and now_mc > 0
    )


def _pick_host_ratio(now_sc, prev_sc, now_mc, prev_mc) -> float:
    """Host ratio for flag normalization: multi-core canary when BOTH
    rounds recorded one (the better instrument — see
    :func:`host_canary_mc`), else the single-thread ratio (including the
    one transition round after canary_mc_sec first ships). The record's
    ``canary_src`` field says which one a round actually used."""
    if _mc_usable(now_mc, prev_mc):
        return _host_ratio(now_mc, prev_mc)
    return _host_ratio(now_sc, prev_sc)


# Round-over-round regression gate: a query slower than the previous
# round's BENCH_r{N}.json by more than this fraction gets ONE extra timed
# trial (min-of-3); whatever still exceeds the threshold is reported in
# the "regressions" field so drift is visible instead of silently absorbed
# into the total. 25% sits above local[32] GC/page-cache noise for the
# sub-second entries (observed ±20% swings on unchanged plans in r4).
REGRESSION_PCT = 25.0

# sf10 scaling smoke (r13, VERDICT r12 item 5): scaling regressions used
# to surface only in ad-hoc SWEEP_SF10 sessions — the gate saw sf0.1/sf1
# and a super-linear plan change could land unflagged. The round-close
# bench now times daily-ingest-posture entries against the decorrelated
# sf10p probe corpus (tools/sweep_sf10.py builds and caches it under
# /tmp) and diffs them round-over-round like any other section.
# r14 measurement fix: min-of-2 per entry, same methodology as the main
# suite — the original single cold run proved catastrophically
# stall-sensitive (r14 round close recorded scrub at 261.7 s in a box
# stall window that an interleaved min-of-4 A/B measured at 14.7-36.6 s;
# the same session's canary read 0.97, i.e. the stall hit between
# canary and smoke). The bar stays wider than the suite's, and the
# unconditional worktree A/B still adjudicates any flag.
# r14 adds x_text_scrub_spans (VERDICT r13 task 3): the heaviest probe
# entry after the r13 digest rework — its 2.2x win rides two persisted
# shared frames whose loss would only show at probe scale.
# r15 (VERDICT r14 item 3): the smoke grows toward the heavy entries —
# at sf0.1 every 8-vs-32-core scaling ratio is ~1 (scheduler-bound), so
# sf10p is where round-over-round deltas measure algorithm shape. The
# additions are the heaviest PROBE entries that run on the probe corpus
# (documents/embeddings only) plus the new flood-gate entry; the
# original three stay first and nothing is removed.
SF10_SMOKE = [
    "x_dedup_semdedup_inc", "x_text_line_dedup_inc", "x_text_scrub_spans",
    "x_dedup_pipeline", "x_dedup_semdedup", "x_dedup_simhash_dedup",
    "x_text_tfidf", "x_curation_e2e_capped", "x_dedup_flood_collapse",
]
SF10_REGRESSION_PCT = 60.0

# History of the A/B trigger: wide flag storms are almost always the
# host, not the code (r5: 9/10 flags were contention; r7: 19 cleared on
# a quiet rerun; r9: 15 flags, and a manual `git worktree` A/B at the r8
# HEAD proved the container ~25% slower), so r10 automated the control
# at a storm threshold and r11 extended it to unchanged-module flags.
# Since r12 the retime is UNCONDITIONAL for every flag (see ab_control):
# the concurrent new-vs-old comparison is the decisive classifier and
# its cost is bounded below.
AB_MAX_ENTRIES = 20  # bound the A/B's cost on a pathological flag storm


def _host_ratio(now_canary, prev_canary) -> float:
    """Canary-based host-speed ratio used to normalize flag decisions.

    >1 means this box is slower than when the previous round's numbers
    were recorded, so every raw comparison is inflated by that factor;
    <1 means this box is FASTER and raw comparisons are deflated by it.
    SYMMETRIC since r12: the old slower-direction-only rule meant a round
    recorded on a slow box (r10: canary 1.288) granted every entry ~29%
    of free headroom the next round — a faster-host ratio now tightens
    the bar the same way a slower one loosens it. Canary microbenchmark
    noise on the tightened side is absorbed by REGRESSION_PCT and by the
    min-of-3 retime any fresh flag gets before it is reported. Clamped to
    [1/3, 3] — past that the envelope is not comparable at all and the
    unconditional A/B control is the trustworthy signal.
    """
    if (
        isinstance(now_canary, (int, float))
        and isinstance(prev_canary, (int, float))
        and prev_canary > 0
        and now_canary > 0
    ):
        return min(max(now_canary / prev_canary, 1.0 / 3.0), 3.0)
    return 1.0


# The driver's envelope captures only the last ~2000 bytes of stdout and
# parses the bench line out of that window: a line longer than the window
# loses its FRONT and the round records `parsed: null` (r11, when 16
# verbose flag rows pushed the line to ~4 kB). Conservative headroom for
# the trailing newline / any stray final output.
EMIT_BYTE_BUDGET = 1900


def _compact_record(result: dict, budget: int = EMIT_BYTE_BUDGET) -> dict:
    """The record actually PRINTED for the driver: the full per-query
    maps (they are the round's record) plus flag rows slimmed to the
    essentials, sized to stay under ``budget`` bytes when serialized with
    compact separators. Full detail (verbose rows, env_cleared bodies,
    A/B measurements, policy string) lives in BENCH_LOCAL.json and
    BENCH_AB.json; the line carries counts and a pointer instead.
    Degradation order when over budget: (1) drop regression rows off the
    tail (``regressions_n`` keeps the true count); (2) replace the sf1
    then sf10 per-query maps with their counts plus a detail pointer —
    BENCH_LOCAL.json keeps the full maps (sf1 before sf10 since r15:
    the smoke grew to the heavy entries because sf0.1/sf1 carry almost
    no optimization signal — every 8-vs-32-core ratio ~1 — so when one
    section must go, the envelope keeps the scale where round-over-round
    deltas measure algorithm shape; the gate recovers a dropped
    section's map from BENCH_LOCAL.json when the git_sha matches, see
    _prev_round_bench); (3) last resort, trim the
    primary queries map off its tail (``queries_dropped_n`` records how
    many). The line therefore ALWAYS fits: a growing bench catalog can
    no longer silently push it past the envelope (the r11 parsed:null
    failure mode, re-flagged as a runtime hole by r12 ADVICE)."""
    core_keys = (
        "metric", "value", "unit", "queries", "sf", "canary_sec",
        "canary_mc_sec", "canary_ratio", "canary_src", "sf1", "sf10",
        "vs_round", "vs_source", "git_sha",
    )
    out = {k: result[k] for k in core_keys if k in result}

    def slim(row: dict) -> dict:
        keep = ("query", "scope", "prev_sec", "now_sec", "code_suspect")
        return {k: row[k] for k in keep if k in row}

    regs = [slim(r) for r in result.get("regressions", [])]
    out["regressions"] = regs
    out["regressions_n"] = len(result.get("regressions", []))
    out["env_cleared_n"] = len(result.get("env_cleared", []))
    if out["regressions_n"] or out["env_cleared_n"]:
        out["detail"] = "BENCH_AB.json"

    def size(d: dict) -> int:
        return len(json.dumps(d, separators=(",", ":")))

    while regs and size(out) > budget:
        regs.pop()
    for section in ("sf1", "sf10"):
        sub = out.get(section)
        if size(out) <= budget or not isinstance(sub, dict):
            continue
        sub = dict(sub)
        dropped = sub.pop("queries", None)
        if isinstance(dropped, dict):
            sub["queries_n"] = len(dropped)
            sub["detail"] = "BENCH_LOCAL.json"
        out[section] = sub
    q = out.get("queries")
    if isinstance(q, dict) and size(out) > budget:
        names = list(q)
        out["queries_dropped_n"] = 0
        while names and size(out) > budget:
            q.pop(names.pop())
            out["queries_dropped_n"] += 1
    return out


def _recover_from_tail(tail: str) -> dict | None:
    """Best-effort recovery of the bench JSON line from a driver envelope
    whose "parsed" is null because the captured output tail truncated the
    line mid-stream. Three shapes, in order: (1) the full line survives in
    the tail -> parse it whole; (2) the FRONT of the line is cut inside
    the queries map (the r5 shape) -> regex the surviving "name": sec
    pairs before the top-level "sf" key, and parse the balanced "sf1"
    object, which sits later in the line and survives intact; (3) nothing
    usable -> None so the caller falls to an older round instead of
    comparing against an empty dict."""
    i = tail.rfind('{"metric"')
    if i >= 0:
        try:
            full = json.loads(tail[i:])
            if isinstance(full.get("queries"), dict):
                return full
        except ValueError:
            pass
    m = re.search(r'"sf":\s?([0-9.]+)', tail)
    if not m:
        return None
    # everything before the first top-level "sf" key is (a suffix of) the
    # queries map; drop names that are really envelope/top-level scalars
    not_queries = {
        "value", "sf", "n", "rc", "cpus", "total_sec", "gen_sec",
        "prev_sec", "now_sec", "delta_pct",
    }
    out: dict = {
        "sf": float(m.group(1)),
        "queries": {
            k: float(v)
            for k, v in re.findall(
                r'"([A-Za-z0-9_]+)":\s?([0-9][0-9.]*)\s*[,}]',
                tail[: m.start()],
            )
            if k not in not_queries
        },
    }
    j = tail.find('"sf1":')
    start = tail.find("{", j) if j >= 0 else -1
    if start >= 0:
        depth = 0
        for end in range(start, len(tail)):  # names never contain braces
            if tail[end] == "{":
                depth += 1
            elif tail[end] == "}":
                depth -= 1
                if depth == 0:
                    try:
                        sf1 = json.loads(tail[start : end + 1])
                        if isinstance(sf1.get("queries"), dict):
                            out["sf1"] = sf1
                    except ValueError:
                        pass
                    break
    return out if (out["queries"] or "sf1" in out) else None


def _payload_of(data: dict) -> dict | None:
    """Comparable bench payload from one round file's JSON, or None. The
    driver wraps the bench line in an envelope under "parsed"; a payload
    MUST carry a queries dict — r5's truncated envelope had a top-level
    "sf" but no "queries", and accepting it made the gate silently diff
    against {} (zero regressions, no error)."""
    if isinstance(data.get("parsed"), dict):
        data = data["parsed"]
    if isinstance(data.get("queries"), dict):
        return data
    tail = data.get("tail")
    if isinstance(tail, str):
        return _recover_from_tail(tail)
    return None


def _prev_round_bench(root: str) -> dict | None:
    """Most recent comparable bench payload: walk BENCH_r*.json from the
    newest round down, unwrapping the driver envelope and recovering from
    a truncated one. If the NEWEST round's file is unusable, prefer
    BENCH_LOCAL.json — bench.py's own durable record of its last completed
    run (written at the end of main, so the driver's round-N run leaves it
    behind even when the round-N envelope truncates) — before dropping to
    an older round's envelope."""
    import glob

    rounds = []
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    rounds.sort(reverse=True)

    local = None
    try:
        with open(os.path.join(root, "BENCH_LOCAL.json"), encoding="utf-8") as fh:
            cand = json.load(fh)
        if isinstance(cand, dict) and isinstance(cand.get("queries"), dict):
            local = cand
    except (OSError, ValueError):
        pass

    def _restore_sections(payload: dict) -> dict:
        """Merge per-query maps the compact printed line dropped for
        byte budget (r15: the grown sf10 smoke forces one section out)
        back in from BENCH_LOCAL.json — valid only when both records
        come from the same code (git_sha match), since BENCH_LOCAL is
        overwritten by every local bench run. Only ``queries`` is
        merged: the envelope's own section fields (total_sec, gen_sec)
        are the round's record and stay."""
        if local is None or not payload.get("git_sha"):
            return payload
        if local.get("git_sha") != payload.get("git_sha"):
            return payload
        for sec in ("sf1", "sf10"):
            have = payload.get(sec)
            full = local.get(sec)
            if (
                isinstance(have, dict)
                and not isinstance(have.get("queries"), dict)
                and isinstance(full, dict)
                and isinstance(full.get("queries"), dict)
            ):
                payload[sec] = {**have, "queries": full["queries"]}
        return payload

    for n, path in rounds:
        try:
            with open(path, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            data = None
        payload = _payload_of(data) if isinstance(data, dict) else None
        if payload is not None:
            payload["_round"] = n
            return _restore_sections(payload)
        if local is not None:
            # the newest round's envelope is unusable; the local record
            # was written by that round's own bench run (or later), so it
            # is closer to "last round" than any older envelope
            local["_round"] = n
            local["_source"] = "local"
            return local
    if local is not None:
        local.setdefault("_round", None)
        local["_source"] = "local"
        return local
    return None


def gate_regressions(
    spark: SparkSession,
    sf_dir: str,
    bench_specs,
    timings: dict[str, float],
    prev_queries: dict,
    scope: str,
    host_ratio: float = 1.0,
    pct: float = REGRESSION_PCT,
) -> list[dict]:
    """Re-time queries that regressed >``pct`` percent vs last round
    (upgrading them to min-of-3, in place), then report survivors.

    ``host_ratio`` (see :func:`_host_ratio`) normalizes the comparison:
    a flag fires only when ``now`` exceeds ``prev * host_ratio`` by the
    threshold, so a slower container doesn't flag unchanged code. ``pct``
    defaults to REGRESSION_PCT; the single-run sf10 smoke passes its own
    wider bar."""
    if not isinstance(prev_queries, dict):
        return []
    bar = host_ratio * (1 + pct / 100)
    by_name = {s.name: s for s in bench_specs}
    flagged = [
        n
        for n, now in timings.items()
        if isinstance(prev_queries.get(n), (int, float))
        and prev_queries[n] > 0
        and now > prev_queries[n] * bar
    ]
    for name in flagged:
        if name not in by_name:
            continue
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        by_name[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(min(timings[name], time.perf_counter() - t0), 3)
    out = []
    for name in flagged:
        prev, now = prev_queries[name], timings[name]
        if now > prev * bar:
            row = {
                "query": name,
                "scope": scope,
                "prev_sec": prev,
                "now_sec": now,
                "delta_pct": round(100.0 * (now - prev) / prev, 1),
            }
            if host_ratio != 1.0:
                row["norm_delta_pct"] = round(
                    100.0 * (now / host_ratio - prev) / prev, 1
                )
            out.append(row)
    return out


def _prev_code_ref(root: str, prev: dict | None) -> str | None:
    """Git ref for the code that produced the previous round's numbers:
    the payload's own ``git_sha`` when recorded (r10+), else the commit
    that ADDED its BENCH_r{N}.json (the driver commits round artifacts at
    round end, so that commit is the round's final code)."""
    import subprocess

    if not prev:
        return None
    sha = prev.get("git_sha")
    if isinstance(sha, str) and sha:
        return sha
    rnd = prev.get("_round")
    if not isinstance(rnd, int):
        return None
    try:
        out = subprocess.run(
            ["git", "log", "--diff-filter=A", "-n1", "--format=%H",
             "--", f"BENCH_r{rnd:02d}.json"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        sha = out.stdout.strip()
        return sha or None
    except (OSError, subprocess.SubprocessError):
        return None


def _ab_retime_old_code(root: str, ref: str, names_by_dir: dict) -> dict:
    """Re-time entries with the PREVIOUS round's code in a throwaway git
    worktree on this box (the r9 manual control, automated). Returns
    {"<sf_dir>::<name>": sec} via a subprocess so the old package imports
    cleanly; {} on any failure (the caller then keeps the raw flags)."""
    import subprocess
    import tempfile
    import uuid as _uuid

    wt = os.path.join(tempfile.gettempdir(), f"bench_ab_{_uuid.uuid4().hex}")
    runner = (
        "import json, sys, time\n"
        "names_by_dir = json.loads(sys.argv[1])\n"
        "sys.path.insert(0, '.')\n"
        "from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG\n"
        "from automotive_data_pipeline_demo_spark.session import get_spark\n"
        "spark = get_spark(app_name='bench_ab')\n"
        "by_name = {s.name: s for s in CATALOG}\n"
        "out = {}\n"
        "for d, names in names_by_dir.items():\n"
        "    for n in names:\n"
        "        spec = by_name.get(n)\n"
        "        if spec is None:\n"
        "            continue\n"
        "        best = float('inf')\n"
        # min-of-3: flagged entries' own timings are upgraded to min-of-3
        # before the A/B, so the control must sample equally or a lucky
        # new-side draw reads as a code regression at the threshold
        "        for _ in range(3):\n"
        "            spark.catalog.clearCache()\n"
        "            t0 = time.perf_counter()\n"
        "            spec.build(spark, d).write.format('noop')"
        ".mode('overwrite').save()\n"
        "            best = min(best, time.perf_counter() - t0)\n"
        "        out[d + '::' + n] = round(best, 3)\n"
        "print('ABJSON:' + json.dumps(out))\n"
        "spark.stop()\n"
    )
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, ref],
            cwd=root, capture_output=True, timeout=60, check=True,
        )
        res = subprocess.run(
            [sys.executable, "-c", runner, json.dumps(names_by_dir)],
            cwd=wt, capture_output=True, text=True, timeout=1800,
            env={**os.environ, "PYTHONPATH": wt},
        )
        for line in res.stdout.splitlines():
            if line.startswith("ABJSON:"):
                return json.loads(line[len("ABJSON:"):])
        return {}
    except (OSError, subprocess.SubprocessError, ValueError):
        return {}
    finally:
        import subprocess as _sp

        _sp.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=root, capture_output=True, timeout=60,
        )


def split_env_flags(regressions: list[dict], old_times: dict,
                    dir_of_scope: dict) -> tuple[list[dict], list[dict]]:
    """Classify surviving flags with the A/B's CONCURRENT control — the
    decisive instrument, since old and new code ran on the same box in
    the same session: a flag whose new-code time exceeds the old code's
    concurrent time by the regression threshold is code-attributable and
    stays kept with ``code_suspect: true`` (r11's rule cleared
    x_dedup_semdedup as "environment" while its own control read new
    4.27 s vs old-code-now 3.10 s, +38%); any other A/B'd flag clears —
    whether the old code is also slow vs its recording (true environment
    drift) or fine (the flag was manufactured by canary normalization
    noise: r12's single-thread canary read an idle boost-clocked box 23%
    "faster" while the multi-core suite total was byte-identical to the
    previous recording), the CODE is acquitted either way, and that is
    the gate's question. Returns (kept, env_cleared); flags with no A/B
    measurement are kept."""
    kept, cleared = [], []
    bar = 1 + REGRESSION_PCT / 100
    for row in regressions:
        key = f"{dir_of_scope.get(row['scope'], '')}::{row['query']}"
        old_now = old_times.get(key)
        if not isinstance(old_now, (int, float)):
            kept.append(row)
            continue
        row = {**row, "old_code_now_sec": old_now}
        if row["now_sec"] > old_now * bar:
            # concurrent control: new code slower than old code RIGHT NOW
            row["code_suspect"] = True
            kept.append(row)
        else:
            cleared.append(row)
    return kept, cleared


def _strip_docstrings(tree) -> None:
    """Drop the leading string constant from every module/class/function
    body in-place, so a docstring-only edit doesn't read as a code
    change in an AST compare."""
    import ast

    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(
                node,
                (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
                 ast.ClassDef),
            )
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]


def _defining_dumps(src: str, name: str) -> list[str]:
    """``ast.dump`` of every statement in ``src`` that (re)binds ``name``
    at any nesting level: def/class by that name, assignments to it, and
    import bindings. Formatting/comments are invisible (AST compare);
    docstrings are stripped. Sorted so multi-definition modules compare
    as sets."""
    import ast

    tree = ast.parse(src)
    _strip_docstrings(tree)
    out = []
    for node in ast.walk(tree):
        hit = False
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            hit = node.name == name
        elif isinstance(node, ast.Assign):
            hit = any(
                isinstance(n, ast.Name) and n.id == name
                for t in node.targets
                for n in ast.walk(t)
            )
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            hit = (
                isinstance(node.target, ast.Name)
                and node.target.id == name
            )
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            hit = any(
                (a.asname or a.name.split(".")[0]) == name
                for a in node.names
            )
        if hit:
            out.append(ast.dump(node))
    return sorted(out)


def _closure_items(entry: str) -> set[tuple[str, str]] | None:
    """FUNCTION-GRAIN closure of a catalog entry: the set of
    ``(module_relpath, top_level_symbol)`` definitions the entry's
    builder can reach — the builder itself, every package function/class
    it references transitively (by global name or ``pkgmodule.attr``),
    and every module-level constant name it reads (from-import chains
    followed to the defining assignment). ``session.py`` rides along
    whole-file (``(rel, "")``): its spark-conf changes affect every
    entry's runtime without appearing in any builder closure.

    Returns None on any shape that can't be resolved statically —
    closure cells over plain values, partials, package modules used as
    first-class values, nested submodule attribute chains, unreadable
    source — and the caller falls back to module grain. Exists because
    module-grain marked every entry of a 1,800-line module "code
    changed" when r13 added two helpers to it (VERDICT r13)."""
    import ast
    import inspect
    import textwrap
    import types

    import automotive_data_pipeline_demo_spark as _pkg
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

    root = os.path.dirname(os.path.abspath(__file__))
    pkg_name = _pkg.__name__
    prefix = pkg_name + "."

    spec = next((s for s in CATALOG if s.name == entry), None)
    if spec is None:
        return None

    def rel_of(mod) -> str | None:
        path = getattr(mod, "__file__", None)
        if not path:
            return None
        r = os.path.relpath(os.path.abspath(path), root)
        return None if r.startswith("..") else r

    def is_pkg_module(m) -> bool:
        n = getattr(m, "__name__", "")
        return isinstance(m, types.ModuleType) and (
            n == pkg_name or n.startswith(prefix)
        )

    def in_pkg(obj) -> bool:
        m = getattr(obj, "__module__", "") or ""
        return m == pkg_name or m.startswith(prefix)

    items: set[tuple[str, str]] = set()
    seen: set[int] = set()
    queue: list = [spec.build]

    def add_const(mod, nm, depth: int = 0) -> bool:
        """Record the defining assignment of constant ``nm`` visible in
        ``mod``, following from-import bindings to the origin module."""
        if depth > 5:
            return False
        r = rel_of(mod)
        if r is None:
            return False
        try:
            tree = ast.parse(inspect.getsource(mod))
        except Exception:
            return False
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and any(
                    isinstance(t, ast.Name) and t.id == nm
                    for t in node.targets
                )
            ) or (
                isinstance(node, ast.AnnAssign)
                and isinstance(node.target, ast.Name)
                and node.target.id == nm
            ):
                items.add((r, nm))
                return True
        for node in tree.body:
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if (a.asname or a.name) == nm:
                        items.add((r, nm))  # the import binding itself
                        modname = "." * node.level + (node.module or "")
                        try:
                            import importlib

                            origin = importlib.import_module(
                                modname, mod.__package__
                            )
                        except Exception:
                            return False
                        if is_pkg_module(origin):
                            return add_const(origin, a.name, depth + 1)
                        return True  # outside the repo: stable
        return False

    def enqueue_callable(v) -> bool:
        """Queue a function/class for traversal when it lives in the
        package; True unless the value is un-trackable."""
        if isinstance(v, (staticmethod, classmethod)):
            v = v.__func__
        if isinstance(v, functools.partial):
            return False  # bound args unverifiable across refs
        if isinstance(v, (types.FunctionType, type)):
            if in_pkg(v):
                queue.append(v)
            return True
        return True

    while queue:
        obj = queue.pop()
        if isinstance(obj, (staticmethod, classmethod)):
            obj = obj.__func__
        if id(obj) in seen:
            continue
        seen.add(id(obj))

        if isinstance(obj, type):
            mod = sys.modules.get(obj.__module__)
            if mod is None or not is_pkg_module(mod):
                continue
            r = rel_of(mod)
            if r is None:
                return None
            items.add((r, obj.__qualname__.split(".")[0]))
            for v in vars(obj).values():
                if isinstance(
                    v, (types.FunctionType, staticmethod, classmethod)
                ):
                    queue.append(v)
            continue
        if not isinstance(obj, types.FunctionType):
            return None
        mod = sys.modules.get(obj.__module__)
        if mod is None or not is_pkg_module(mod):
            continue  # outside the repo: treated as stable
        r = rel_of(mod)
        if r is None:
            return None
        # a nested def/lambda is covered by its top-level container
        items.add((r, obj.__qualname__.split(".")[0]))
        try:
            tree = ast.parse(textwrap.dedent(inspect.getsource(obj)))
        except Exception:
            return None
        if obj.__closure__:
            for cell in obj.__closure__:
                try:
                    cv = cell.cell_contents
                except ValueError:
                    return None
                if isinstance(
                    cv, (types.FunctionType, staticmethod, classmethod,
                         type),
                ):
                    queue.append(cv)
                elif not isinstance(cv, types.ModuleType):
                    # a plain value closed over from a factory call site
                    # we cannot attribute to a definition
                    return None
        g = obj.__globals__
        recv: set[int] = set()  # Name nodes that are attribute receivers
        mod_attrs: dict[str, set[str]] = {}
        names: list = []
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and isinstance(
                n.value, ast.Name
            ):
                recv.add(id(n.value))
                if is_pkg_module(g.get(n.value.id)):
                    mod_attrs.setdefault(n.value.id, set()).add(n.attr)
            elif isinstance(n, ast.Name):
                names.append(n)
        for n in names:
            nm = n.id
            if nm not in g:
                continue  # local or builtin
            if nm.startswith("__") and nm.endswith("__"):
                continue  # implicit module dunders (__name__, __file__)
            v = g[nm]
            if isinstance(
                v, (types.FunctionType, staticmethod, classmethod, type,
                    functools.partial),
            ):
                if not enqueue_callable(v):
                    return None
            elif is_pkg_module(v):
                if id(n) not in recv:
                    return None  # pkg module used as a value: dynamic
            elif isinstance(v, types.ModuleType):
                continue
            elif callable(v):
                if in_pkg(type(v)):
                    return None  # package callable instance: dynamic
            else:
                if not add_const(mod, nm):
                    return None
        for alias, attrs in mod_attrs.items():
            am = g.get(alias)
            for attr in attrs:
                if not hasattr(am, attr):
                    return None
                av = getattr(am, attr)
                if isinstance(
                    av, (types.FunctionType, staticmethod, classmethod,
                         type, functools.partial),
                ):
                    if not enqueue_callable(av):
                        return None
                elif isinstance(av, types.ModuleType):
                    if is_pkg_module(av):
                        return None  # nested submodule chain: untracked
                else:
                    if not add_const(am, attr):
                        return None

    # runtime-wide infrastructure every entry executes under
    try:
        from automotive_data_pipeline_demo_spark import session as _sess

        sess_rel = rel_of(_sess)
        if sess_rel:
            items.add((sess_rel, ""))
    except Exception:
        return None
    return items


def _git_blob(root: str, tree: str, rel: str) -> str | None:
    import subprocess

    try:
        p = subprocess.run(
            ["git", "show", f"{tree}:{rel}"],
            cwd=root, capture_output=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return p.stdout.decode("utf-8", "replace") if p.returncode == 0 else None


def _items_unchanged(
    root: str, ref: str, items: set[tuple[str, str]]
) -> bool | None:
    """Compare each ``(relpath, symbol)`` definition between ``ref`` and
    HEAD. ``symbol == ""`` means whole-file. True = every definition
    AST-identical; False = a definition differs (or a file is missing in
    one tree); None = a definition can't be located (dynamic creation) —
    the caller should fall back to module grain."""
    for rel, name in sorted(items):
        a = _git_blob(root, ref, rel)
        b = _git_blob(root, "HEAD", rel)
        if a is None or b is None:
            return False
        if a == b:
            continue
        if not name:
            return False  # whole-file item differs
        try:
            da, db = _defining_dumps(a, name), _defining_dumps(b, name)
        except SyntaxError:
            return None
        if not da or not db:
            return None
        if da != db:
            return False
    return True


def _entry_code_unchanged(root: str, ref: str, name: str) -> bool:
    """FUNCTION-GRAIN: True when every definition the entry's builder
    executes — the builder, its transitive package callees/classes, the
    module-level constants it reads, plus session.py whole-file — is
    AST-identical between ``ref`` and HEAD. Module-grain (r12's rule,
    kept as :func:`_entry_module_unchanged`) marked all ~20 entries of a
    1,800-line module "code changed" when r13 added two helper functions
    to it, which let two box-noise flags stand as code_suspect (VERDICT
    r13 task 1). Any closure shape the static walk can't resolve falls
    back to module grain, which can only under-claim "unchanged"."""
    try:
        items = _closure_items(name)
    except Exception:
        items = None
    if items:
        res = _items_unchanged(root, ref, items)
        if res is not None:
            return res
    return _entry_module_unchanged(root, ref, name)


def _entry_module_unchanged(root: str, ref: str, name: str) -> bool:
    """MODULE-GRAIN fallback: True when the flagged entry's DEFINING
    MODULE — and every package module it imports from (one level: the
    objects in its namespace) — is byte-identical between ``ref`` and
    HEAD. Each path is verified to EXIST in both trees first
    (``git cat-file -e``): ``git diff --quiet`` exits 0 on a pathspec
    that matches nothing, which mis-reported untracked/out-of-tree
    modules as "unchanged" (r11 ADVICE). The one-level closure catches
    the r11 shape where an entry's own module was untouched but
    similarity.py on its hot path changed."""
    import inspect
    import subprocess
    import types

    try:
        import automotive_data_pipeline_demo_spark as _pkg
        from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

        spec = next((s for s in CATALOG if s.name == name), None)
        if spec is None:
            return False
        mod = inspect.getmodule(spec.build)
        if mod is None:
            return False
        prefix = _pkg.__name__ + "."
        mods = {mod}
        for v in vars(mod).values():
            m = v if isinstance(v, types.ModuleType) else inspect.getmodule(v)
            if m is not None and getattr(m, "__name__", "").startswith(prefix):
                mods.add(m)
        for m in mods:
            path = getattr(m, "__file__", None)
            if not path:
                return False
            rel = os.path.relpath(os.path.abspath(path), root)
            if rel.startswith(".."):
                return False
            for tree in (ref, "HEAD"):
                if subprocess.run(
                    ["git", "cat-file", "-e", f"{tree}:{rel}"],
                    cwd=root, capture_output=True, timeout=30,
                ).returncode != 0:
                    return False
            if subprocess.run(
                ["git", "diff", "--quiet", ref, "HEAD", "--", rel],
                cwd=root, capture_output=True, timeout=30,
            ).returncode != 0:
                return False
        return True
    except Exception:
        return False


def ab_control(root: str, prev: dict | None, regressions: list[dict],
               dir_of_scope: dict,
               retime=_ab_retime_old_code,
               unchanged=_entry_code_unchanged) -> tuple[list[dict], list[dict]]:
    """Environment-vs-code control: EVERY flagged entry (bounded by
    AB_MAX_ENTRIES) is re-timed with the previous round's code on this
    box (git worktree) and classified by the concurrent new-vs-old
    comparison (:func:`split_env_flags`) — the decisive r9 manual
    control, automated in r10 and made unconditional in r12. Earlier
    rounds gated the retime on a flag storm or a
    byte-unchanged defining module, which left sub-storm flags on
    touched-DEPENDENCY modules un-adjudicated exactly when a round
    edits a shared module like similarity.py; the retime's fixed cost
    (~40 s session + min-of-3 per flagged entry) buys a definitive
    record every time. Each kept row is additionally annotated
    ``code_unchanged`` — FUNCTION grain since r14
    (:func:`_entry_code_unchanged`): the builder's transitive executed
    closure plus session.py, module grain only as fallback. A suspect
    whose executed closure is AST-identical to the old ref is CLEARED
    (``cleared_by: "identical_closure"``): identical code on both A/B
    sides cannot be a code regression, so the reading is noise — r13's
    two kept flags were exactly this shape, stranded because
    module-grain detection marked a 20-entry module "changed" over two
    added helpers.

    Returns (kept_flags, env_cleared_flags); flags without an A/B
    measurement always pass through kept."""
    if not regressions:
        return regressions, []
    ref = _prev_code_ref(root, prev)
    if ref is None:
        return regressions, []
    # Budget priority (r14): sf10-smoke flags first. The smoke is a
    # SINGLE cold run per entry (no min-of-2/3), so its readings are the
    # noisiest in the record AND the widest-bar gate — exactly the flags
    # that must not escape adjudication. In the r14 baseline a flag
    # storm (20 suite flags on a slow box) filled the cap and the one
    # sf10 flag passed through kept un-A/B'd as the 21st row; suite
    # flags are min-of-3 by the time they get here and lose less from
    # missing the cap.
    ordered = sorted(
        regressions, key=lambda r: 0 if r.get("scope") == "sf10" else 1
    )
    rows = ordered[:AB_MAX_ENTRIES]
    names_by_dir: dict[str, list[str]] = {}
    for row in rows:
        d = dir_of_scope.get(row["scope"])
        if d:
            names_by_dir.setdefault(d, []).append(row["query"])
    if not names_by_dir:
        return regressions, []
    old_times = retime(root, ref, names_by_dir)
    if not old_times:
        return regressions, []
    kept, cleared = split_env_flags(regressions, old_times, dir_of_scope)
    still_kept = []
    for row in kept:
        if "old_code_now_sec" not in row:
            still_kept.append(row)
            continue
        row["code_unchanged"] = unchanged(root, ref, row["query"])
        if row.get("code_suspect") and row["code_unchanged"]:
            # the executed closure (function grain, incl. session.py) is
            # AST-identical between the refs: the A/B literally ran the
            # same code on both sides, so a new>old reading is
            # measurement noise by construction, not a code regression —
            # the r13 shape where two box-noise flags stood unadjudicated
            row = {**row, "cleared_by": "identical_closure"}
            row.pop("code_suspect", None)
            cleared.append(row)
            continue
        still_kept.append(row)
    return still_kept, cleared


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="bench")
    bench_specs = [s for s in CATALOG if s.bench]
    prev = _prev_round_bench(os.path.dirname(os.path.abspath(__file__)))
    # only a same-sf previous round is comparable
    prev_comparable = prev if prev and prev.get("sf") == sf else None

    timings = run_suite(spark, sf_dir, bench_specs)
    # canaries BEFORE gating: the flag decisions below normalize by them
    canary = host_canary(spark, sf_dir)
    canary_mc = host_canary_mc(spark, sf_dir)
    host_ratio = _pick_host_ratio(
        canary,
        prev_comparable.get("canary_sec") if prev_comparable else None,
        canary_mc,
        prev_comparable.get("canary_mc_sec") if prev_comparable else None,
    )
    regressions: list[dict] = []
    if prev_comparable:
        regressions += gate_regressions(
            spark, sf_dir, bench_specs, timings,
            prev_comparable.get("queries", {}), f"sf{sf}", host_ratio,
        )
    result = {
        "metric": "catalog_headline_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "policy": (
            "min_of_2; min_of_3 on >25%-vs-prev-round regressions, "
            "canary-normalized (symmetric); unconditional worktree A/B "
            "on flags, concurrent new-vs-old is decisive"
        ),
        # fixed-plan host-speed references: compare across rounds to
        # separate container drift from code regressions (see host_canary
        # / host_canary_mc; the mc ratio is preferred once both rounds
        # record one)
        "canary_sec": canary,
        "canary_mc_sec": canary_mc,
        "canary_ratio": round(host_ratio, 3),
        # normalization provenance: which canary produced canary_ratio
        "canary_src": "mc" if _mc_usable(
            canary_mc,
            prev_comparable.get("canary_mc_sec") if prev_comparable else None,
        ) else "sc",
    }

    root = os.path.dirname(os.path.abspath(__file__))
    dir_of_scope = {f"sf{sf}": sf_dir}
    want_sf1 = os.environ.get("SPARK_GRAFT_SF1")
    run_sf1 = want_sf1 == "1" or (want_sf1 != "0" and sf == 0.1)
    if run_sf1:
        try:
            t_gen = time.perf_counter()
            sf1_dir = ensure_sf1(spark, sf_dir)
            gen_sec = round(time.perf_counter() - t_gen, 3)
            t1 = run_suite(spark, sf1_dir, bench_specs)
            dir_of_scope["sf1"] = sf1_dir
            if prev_comparable:
                regressions += gate_regressions(
                    spark, sf1_dir, bench_specs, t1,
                    prev_comparable.get("sf1", {}).get("queries", {}), "sf1",
                    host_ratio,
                )
            result["sf1"] = {
                "queries": t1,
                "total_sec": round(sum(t1.values()), 3),
                "gen_sec": gen_sec,
            }
        except Exception as exc:  # the primary line must survive an sf1 fault
            result["sf1"] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    want_sf10 = os.environ.get("SPARK_GRAFT_SF10")
    run_sf10 = want_sf10 == "1" or (want_sf10 != "0" and sf == 0.1)
    if run_sf10:
        try:
            sys.path.insert(0, os.path.join(root, "tools"))
            from sweep_sf10 import DIRS as _SF10_DIRS
            from sweep_sf10 import ensure_probe_dirs

            t_gen = time.perf_counter()
            ensure_probe_dirs(spark)
            gen_sec = round(time.perf_counter() - t_gen, 3)
            sf10_dir = _SF10_DIRS["sf10p"][0]
            by_name = {s.name: s for s in CATALOG}
            t10: dict[str, float] = {}
            for name in SF10_SMOKE:  # min-of-2 each — see SF10_SMOKE
                best10 = float("inf")
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    by_name[name].build(spark, sf10_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    best10 = min(best10, time.perf_counter() - t0)
                t10[name] = round(best10, 3)
            dir_of_scope["sf10"] = sf10_dir
            if prev_comparable:
                regressions += gate_regressions(
                    spark, sf10_dir, [by_name[n] for n in SF10_SMOKE], t10,
                    prev_comparable.get("sf10", {}).get("queries", {}),
                    "sf10", host_ratio, pct=SF10_REGRESSION_PCT,
                )
            result["sf10"] = {
                "queries": t10,
                "total_sec": round(sum(t10.values()), 3),
                "gen_sec": gen_sec,
            }
        except Exception as exc:  # the primary line must survive sf10 faults
            result["sf10"] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    regressions, env_cleared = ab_control(
        root, prev_comparable, regressions, dir_of_scope
    )
    result["regressions"] = regressions
    if env_cleared:
        result["env_cleared"] = env_cleared
    result["vs_round"] = prev_comparable["_round"] if prev_comparable else None
    if prev_comparable and prev_comparable.get("_source") == "local":
        result["vs_source"] = "local"
    # recorded so future rounds' A/B control can check out exactly this code
    try:
        import subprocess

        result["git_sha"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        result["git_sha"] = None
    # durable self-record: the driver's envelope capture can truncate the
    # printed line (r5 did), so the gate's next run prefers this file over
    # an unusable newest envelope
    def _write_json(name: str, payload: dict) -> None:
        try:
            with open(
                os.path.join(root, name), "w", encoding="utf-8"
            ) as fh:
                json.dump(payload, fh)
        except OSError:
            pass

    _write_json("BENCH_LOCAL.json", result)
    # full flag/A-B detail the compact printed line elides (r11 lost its
    # whole record to verbose flag rows — see _compact_record)
    _write_json("BENCH_AB.json", {
        "git_sha": result.get("git_sha"),
        "sf": sf,
        "canary_ratio": result.get("canary_ratio"),
        "regressions": result.get("regressions", []),
        "env_cleared": result.get("env_cleared", []),
    })
    print(json.dumps(_compact_record(result), separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
