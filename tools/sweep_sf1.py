"""Full-catalog sf1 timing sweep -> SWEEP_SF1.md.

Runs every catalog entry end-to-end through bench.py's noop-sink timer
(bench.time_noop) against the deterministic sf1 mirror (bench.ensure_sf1),
twice each: the first (cold) run pays page cache and codegen, the second
(warm) run after clearCache() is the number the table sorts by. Run on a
QUIET container (no pytest/window_check/bench in flight — contention swings
sf1 timings 2.5x) after any plan-affecting change:

    python tools/sweep_sf1.py            # all entries, rewrites SWEEP_SF1.md
    python tools/sweep_sf1.py name ...   # subset, prints only (no file write)
"""

from __future__ import annotations

import functools
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from automotive_data_pipeline_demo_spark.session import get_spark  # noqa: E402
from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG  # noqa: E402
from bench import ensure_sf1, time_noop  # noqa: E402

HEADER = """# SWEEP_SF1 — full-catalog warm timings at the synthetic sf1

All {n} catalog entries executed end-to-end (noop sink) against the
deterministic sf1 mirror (`bench.py ensure_sf1`: 10 key-shifted copies of
every fact table, ~6M-row facts / 500k docs), warm = second run after
`clearCache()`, generated by `tools/sweep_sf1.py` on a quiet container.
{errors} errors; total warm {warm:.0f} s, total cold {cold:.0f} s.

Reading the tail: the slowest entries are the UNCAPPED pair-enumeration
demonstrations (`max_doc_freq=None` / `max_bucket_size=None` for
declarative-oracle parity). The sf1 mirror gives every document ten
exact copies, so any entry whose OUTPUT is the near-dup pair clique
grows quadratically in the copy factor by definition — output size,
not plan regression: the linear-output companions and the capped
production defaults (`max_doc_freq`, `max_bucket_size`) are the 100 TB
paths and stay sub-linear. Entries under ~1 s are dominated by fixed
per-job overhead.

| entry | warm s | cold s |
|---|---|---|
"""


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark(app_name="sweep_sf1", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    sf1 = ensure_sf1(spark, "/root/testdata/sf0.1")
    rows = []
    errors = 0
    for spec in CATALOG:
        if only and spec.name not in only:
            continue
        make = functools.partial(spec.build, spark, sf1)
        try:
            cold = time_noop(spark, make)
            warm = time_noop(spark, make)
            if warm > cold * 1.5 and warm > 2.0:
                # single-shot warm outlier (GC/page-cache swing — the
                # documented 2x+ variance on dedup entries): one re-time,
                # take the min of the two warm runs
                warm = min(warm, time_noop(spark, make))
        except Exception as exc:  # noqa: BLE001 - record, keep sweeping
            errors += 1
            print(f"ERROR {spec.name}: {exc}", flush=True)
            continue
        rows.append((spec.name, warm, cold))
        print(f"{spec.name}: warm {warm:.2f}s cold {cold:.2f}s", flush=True)
    spark.stop()
    rows.sort(key=lambda r: -r[1])
    warm = sum(r[1] for r in rows)
    cold = sum(r[2] for r in rows)
    print(f"TOTAL warm {warm:.1f}s cold {cold:.1f}s errors {errors}")
    if only:
        return 1 if errors else 0
    out = HEADER.format(n=len(rows), errors=errors, warm=warm, cold=cold)
    out += "".join(f"| {n} | {w:.2f} | {c:.2f} |\n" for n, w, c in rows)
    path = os.path.join(_ROOT, "SWEEP_SF1.md")
    with open(path, "w") as fh:
        fh.write(out)
    print(f"wrote {path}")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
