#!/usr/bin/env python
"""Benchmark: headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
   "sf": ..., "sf1": {"queries": {...}, "total_sec": ...}}

The printed line is COMPACT (see :func:`bench_gate._compact_record`): the
driver's envelope captures only the last ~2000 bytes of stdout, and r11's
record was lost (`parsed: null`) when 16 verbose flag rows pushed the line
to ~4 kB. Flag rows on the line carry only the essentials; the complete
result, with full regression / env_cleared / A/B detail, lives in
BENCH_LOCAL.json. The round-over-round gate that reads the previous record
and adjudicates flags is bench_gate.py.

Each query executes fully via the noop sink (:func:`time_noop`; no driver
collect, no sink I/O in the measurement). Session build time is excluded;
a warmup query primes the JVM/codegen so numbers reflect steady-state plan
execution.

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
from bench_gate import (
    REGRESSION_PCT,
    _compact_record,
    _host_ratio,
    _prev_round_bench,
    ab_control,
)

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
    """Materialize the synthetic sf1 mirror of ``src_dir`` (idempotent).

    The marker records the source directory: a mirror built from another
    source (say sf0.01 forced with SPARK_GRAFT_SF1=1) is rebuilt, not
    timed as sf1."""
    marker = os.path.join(SF1_DIR, "_SPARK_GRAFT_SF1_OK")
    source = os.path.abspath(src_dir)
    try:
        with open(marker, encoding="utf-8") as fh:
            built_from = fh.read().strip()
    except FileNotFoundError:
        built_from = None
    if built_from == source:
        return SF1_DIR
    if built_from is not None:
        os.remove(marker)  # a half-rebuilt mirror must pass as no source
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
        fh.write(source + "\n")
    return SF1_DIR


def time_noop(spark: SparkSession, make, n: int = 1) -> float:
    """Min over ``n`` runs of ``make()`` written to the noop sink: every
    row is computed, with no driver collect and no sink I/O. This is the
    one place a catalog or canary frame is executed for timing.

    The cache is dropped before every run so each run times the full
    query: multi-consumer operators persist intermediates internally
    (band index, shingle sets, kmeans cells), and CacheManager keys on
    the canonical plan, so a repeat would otherwise time a warm-cache
    re-query instead of the operator. ``make`` runs inside the timed
    region because some builders run eager actions."""
    best = float("inf")
    for _ in range(n):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def run_suite(
    spark: SparkSession, sf_dir: str, bench_specs, runs: int = 2
) -> dict[str, float]:
    # warmup: run the flagship once to JIT codegen paths (the sf10 probe
    # corpus has no flagship tables, and its smoke runs without one)
    for spec in bench_specs:
        if spec.name == "flagship_segments":
            time_noop(spark, functools.partial(spec.build, spark, sf_dir))
    # best-of-2 per query: the first execution after a dataset write/generation
    # pays one-off page-cache and codegen costs that can inflate a single-shot
    # number 3-5x; the min of two runs is the steady-state plan cost, which is
    # what round-over-round comparisons need to be falsifiable.
    return {
        spec.name: round(
            time_noop(spark, functools.partial(spec.build, spark, sf_dir), runs),
            3,
        )
        for spec in bench_specs
    }


def _canary_sec(spark: SparkSession, q: DataFrame) -> float:
    """One warm pass that never counts, then min-of-3."""
    time_noop(spark, lambda: q)
    return round(time_noop(spark, lambda: q, 3), 3)


def host_canary_mc(spark: SparkSession, sf_dir: str) -> float:
    """MULTI-CORE host-speed calibration, emitted as ``canary_mc_sec``;
    its ratio to the previous record's normalizes the gate's flag
    decisions (:func:`bench_gate._host_ratio`). The plan is frozen — it
    never changes with engine code — so the ratio of two rounds'
    canaries measures the CONTAINER's speed change and separates
    environment drift from code regressions (r9: every headline entry
    ran +25-45% slower with byte-identical code). It fans a TPC-H
    Q1-shape aggregate out across 64 tasks via an 8x row multiplication
    and a fixed repartition, so it tracks the regime the suite's numbers
    move in: a single-thread scan rode an idle box's boost clocks ~20%
    faster than the suite (r12: 0.13 vs 0.17 s with a byte-identical
    suite total) and under-read multi-core contention (r7/r9).
    min-of-3 after a warm pass."""
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
    return _canary_sec(spark, q)


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

    ``host_ratio`` (see :func:`bench_gate._host_ratio`) normalizes the comparison:
    a flag fires only when ``now`` exceeds ``prev * host_ratio`` by the
    threshold, so a slower container doesn't flag unchanged code. ``pct``
    defaults to REGRESSION_PCT; the sf10 smoke passes its own wider
    bar."""
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
        retimed = time_noop(
            spark, functools.partial(by_name[name].build, spark, sf_dir)
        )
        timings[name] = round(min(timings[name], retimed), 3)
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="bench")
    bench_specs = [s for s in CATALOG if s.bench]
    root = os.path.dirname(os.path.abspath(__file__))
    prev = _prev_round_bench(root)
    # only a same-sf previous round is comparable
    prev_comparable = prev if prev and prev.get("sf") == sf else None

    timings = run_suite(spark, sf_dir, bench_specs)
    # canary BEFORE gating: the flag decisions below normalize by it
    canary_mc = host_canary_mc(spark, sf_dir)
    host_ratio = _host_ratio(
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
        # fixed-plan host-speed reference: compare across rounds to
        # separate container drift from code regressions (host_canary_mc)
        "canary_mc_sec": canary_mc,
        "canary_ratio": round(host_ratio, 3),
    }

    dir_of_scope = {f"sf{sf}": sf_dir}

    def sf10_dir(spark: SparkSession, _src_dir: str) -> str:
        sys.path.insert(0, os.path.join(root, "tools"))
        from sweep_sf10 import DIRS, ensure_probe_dirs

        ensure_probe_dirs(spark)
        return DIRS["sf10p"][0]

    # scale sections, each on by default only at the driver's sf0.1:
    # (section, env switch, directory maker, entries, regression %)
    sections = (
        ("sf1", "SPARK_GRAFT_SF1", ensure_sf1,
         [s.name for s in bench_specs], REGRESSION_PCT),
        ("sf10", "SPARK_GRAFT_SF10", sf10_dir, SF10_SMOKE, SF10_REGRESSION_PCT),
    )
    by_name = {s.name: s for s in CATALOG}
    for section, env, make_dir, names, pct in sections:
        want = os.environ.get(env)
        if not (want == "1" or (want != "0" and sf == 0.1)):
            continue
        try:
            specs = [by_name[n] for n in names]
            t_gen = time.perf_counter()
            section_dir = make_dir(spark, sf_dir)
            gen_sec = round(time.perf_counter() - t_gen, 3)
            t = run_suite(spark, section_dir, specs)
            dir_of_scope[section] = section_dir
            if prev_comparable:
                regressions += gate_regressions(
                    spark, section_dir, specs, t,
                    prev_comparable.get(section, {}).get("queries", {}),
                    section, host_ratio, pct=pct,
                )
            result[section] = {
                "queries": t,
                "total_sec": round(sum(t.values()), 3),
                "gen_sec": gen_sec,
            }
        except Exception as exc:  # the primary line must survive its faults
            result[section] = {"error": f"{type(exc).__name__}: {exc}"[:300]}

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
    # durable self-record with the full flag/A-B detail the compact
    # printed line elides; the driver's envelope capture can truncate the
    # printed line (r5 did), so the gate's next run prefers this file over
    # an unusable newest envelope
    try:
        with open(
            os.path.join(root, "BENCH_LOCAL.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(result, fh)
    except OSError:
        pass
    print(json.dumps(_compact_record(result), separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
