"""sf1 -> sf10 scaling probe for the heavy dedup/curation entries
(VERDICT r9 item 3) -> SWEEP_SF10.md.

The bench tops out at sf1 and the 100 TB claims rest on plan shapes;
this probe measures how the heaviest entries actually scale across a
10x corpus-size step and records the per-entry time ratio.

## Data construction — decorrelated copies, not verbatim copies

Both probe corpora are built from N dense-id-shifted copies of the
sf0.1 ``documents``/``embeddings`` tables (sf1p = 10 copies ~50k docs,
sf10p = 100 copies ~500k docs / 200k embeddings), but with the content
DECORRELATED per copy. The bench's sf1 mirror copies text verbatim, so
each distinct document gains one exact duplicate per copy — duplicate
COHORT SIZE grows with the copy count and every pairwise stage inflates
quadratically BY CONSTRUCTION; a scaling probe on that data would
mis-attribute the data pathology to the plan. Here:

- **documents**: every non-stopword token in copy k gets a ``c{k}x``
  prefix — a per-copy token RENAMING. Jaccard/shingle/line-digest
  structure is invariant under a bijective token rename, so every
  within-copy near-dup relationship of the sf0.1 corpus is preserved
  exactly, while cross-copy texts share (almost) no shingles. Stopwords
  (the engine's 4 tiny language lists) keep their surface form so
  stopword-gated stages (the curation chain's Gopher gate) pass the
  same per-copy fraction. ``n_chars`` is recomputed after the rename.
- **embeddings**: copy k is reflected through a deterministic per-copy
  sign-flip mask (md5(k) bits, one per dimension). A sign flip applied
  to both sides of a pair is an orthogonal transform, so every
  within-copy cosine is preserved BIT-EXACTLY, while cross-copy
  cosines decorrelate to noise.

Net: the probe corpus is N independent sf0.1-like corpora under one
roof — duplicate-cohort distribution, cluster geometry and gate pass
rates all stay scale-invariant, so the measured ratio isolates how the
PLAN scales with corpus size.

## Reading the ratio

10x rows => a linearly-scaling entry lands at ~10x (<= ~12x with
scheduler/exchange overhead growth). The r9 probe caught
``x_dedup_semdedup`` at 9.4x under its then k = sqrt(n) rule (pair
space ~n^1.5 BY RULE — the flat-kmeans optimum, since flat assignment
is O(n*k) and pairing O(n*(n/k))); r10 moved the entry to a fixed
128-target cell size (k = n/128, linear pair space) with the
two-level ROUTED assignment (O(n*sqrt(k)) per pass,
similarity._assign_numpy_routed) so neither half is the quadratic
term.

Usage (QUIET box — same contention caveats as bench.py):

    python tools/sweep_sf10.py           # generate (once) + time + write md
    python tools/sweep_sf10.py --regen   # force data regeneration
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402

from automotive_data_pipeline_demo_spark.extensions.text_analysis import (  # noqa: E402
    STOPWORDS,
)
from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG  # noqa: E402
from automotive_data_pipeline_demo_spark.session import get_spark  # noqa: E402
from bench import run_suite  # noqa: E402

SRC = "/root/testdata/sf0.1"
DIRS = {"sf1p": ("/tmp/spark_graft_sf1p", 10), "sf10p": ("/tmp/spark_graft_sf10p", 100)}
DOCS_PER_COPY = 5000
VECS_PER_COPY = 2000

PROBE = [
    "x_dedup_pipeline",
    "x_dedup_semdedup",
    "x_dedup_semdedup_inc",
    "x_dedup_simhash_dedup",
    "x_text_line_dedup",
    "x_curation_e2e_capped",
    "x_sim_ivf",
    "x_sim_lsh",
    # r11 additions (VERDICT r10 item 6): the next-heaviest corpus-pair /
    # corpus-stat text entries without a measured ratio
    "x_text_tfidf",
    "x_text_bm25",
    "x_text_contamination",
    "x_text_line_dedup_inc",
    # r12 additions (VERDICT r11 item 7): the last unprobed corpus-pair
    # entries — substring scrubbing (token coverage at corpus grain) and
    # the cross-source gram self-join
    "x_text_scrub_spans",
    "x_text_overlap_matrix",
]

# ratio <= this reads as linear-with-overhead for a 10x data step
LINEAR_BAR = 12.0

NOTES = {
    "x_dedup_pipeline": "banded LSH + components; pair space bounded per band",
    "x_dedup_semdedup": "fixed 128-target cells (k=n/128) => linear pair space; "
                        "assignment two-level ROUTED (O(n*sqrt(k)))",
    "x_dedup_semdedup_inc": "batch-vs-cell pairs only; old x old never enumerated",
    "x_dedup_simhash_dedup": "distinct-fingerprint banding, star edges linear in docs",
    "x_text_line_dedup": "line-digest df + scrub; zero token-grain "
                         "shuffles; 16-byte line_digest keys since r13",
    "x_curation_e2e_capped": "10-stage DAG, capped bands/doc-freq (100 TB path)",
    "x_sim_ivf": "query side probes nprobe cells; corpus touched once for assignment",
    "x_sim_lsh": "sign-LSH bucket join; pair space bounded per bucket",
    "x_text_tfidf": "token-grain agg folds map-side; df table bounded by vocab",
    "x_text_bm25": "per-doc scoring against bounded query terms; one df pass",
    "x_text_contamination": "(size, array)-struct bind_once, persist-free since r10",
    "x_text_line_dedup_inc": "batch lines vs stored line-df index; corpus never rescanned",
    "x_text_scrub_spans": "gram-digest window + doc-grain span arrays; "
                          "Arrow scrubber, no token-grain shuffle; 16-byte "
                          "hash128 gram keys + codegen'd positional gram "
                          "regex since r13",
    "x_text_overlap_matrix": "df-banded [2,10] gram self-join; fan-out "
                             "<= band_width^2 per gram, never corpus^2; "
                             "16-byte hash128 gram keys since r13",
}


def _rename_expr(k: int):
    """Prefix every non-stopword token with c{k}x (see module docstring)."""
    stops = sorted({w for lst in STOPWORDS.values() for w in lst})
    pat = r"(?i)\b(?!(?:" + "|".join(stops) + r")\b)([A-Za-z0-9]+)"
    return F.regexp_replace(F.col("text"), pat, f"c{k}x$1")


def _flip_mask(k: int, dims: int) -> list[float]:
    """Deterministic per-copy sign-flip mask from md5(k) bits."""
    digest = hashlib.md5(str(k).encode()).digest()
    return [
        -1.0 if (digest[i // 8] >> (i % 8)) & 1 else 1.0
        for i in range(dims)
    ]


def ensure_probe_dirs(spark, regen: bool = False) -> None:
    dims = len(
        spark.read.parquet(f"{SRC}/embeddings.parquet")
        .select("embedding").first()[0]
    )
    for name, (path, copies) in DIRS.items():
        marker = os.path.join(path, "_SPARK_GRAFT_PROBE_OK")
        if os.path.exists(marker) and not regen:
            continue
        docs = spark.read.parquet(f"{SRC}/documents.parquet")
        doc_copies = []
        for k in range(copies):
            renamed = _rename_expr(k)
            doc_copies.append(docs.select(
                (F.col("doc_id") + F.lit(k * DOCS_PER_COPY)).alias("doc_id"),
                renamed.alias("text"),
                F.col("lang"),
                F.col("source"),
                F.length(renamed).cast("long").alias("n_chars"),
            ))
        out = doc_copies[0]
        for c in doc_copies[1:]:
            out = out.union(c)
        out.write.mode("overwrite").parquet(f"{path}/documents.parquet")

        emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
        emb_copies = []
        for k in range(copies):
            mask = F.array(*[F.lit(s).cast("float") for s in _flip_mask(k, dims)])
            emb_copies.append(emb.select(
                (F.col("vec_id") + F.lit(k * VECS_PER_COPY)).alias("vec_id"),
                F.zip_with(
                    F.col("embedding"), mask, lambda x, s: (x * s).cast("float")
                ).alias("embedding"),
                F.col("label"),
            ))
        out = emb_copies[0]
        for c in emb_copies[1:]:
            out = out.union(c)
        out.write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("ok\n")


HEADER = """# SWEEP_SF10 — sf1 -> sf10 scaling probe (heavy dedup/curation entries)

{intro}

| entry | sf1p sec | sf10p sec | ratio | verdict | scale shape |
|---|---|---|---|---|---|
"""

INTRO = (
    "Corpora: decorrelated dense-id copies of sf0.1 (sf1p = 10 copies "
    "~50k docs / 20k vecs, sf10p = 100 copies ~500k docs / 200k vecs); "
    "per-copy token renaming (documents) and orthogonal sign-flips "
    "(embeddings) keep every within-copy dedup relationship exactly while "
    "decorrelating copies, so the ratio isolates PLAN scaling, not "
    "copy-inflated duplicate cohorts (see tools/sweep_sf10.py docstring). "
    "min-of-2 per entry, clearCache between runs, quiet box. "
    f"Linear-with-overhead bar for the 10x step: {LINEAR_BAR}x."
)

# Measured mechanism notes appended below the table. A ratio near 10x is
# NOT by itself a super-linearity signal: an entry with little fixed
# overhead relative to its data-proportional work sits near the data
# step, while overhead-dominated entries read lower.
FOOTNOTES = (
    "x_text_overlap_matrix's pre-r13 9.5x ratio was adjudicated LINEAR by "
    "measurement (r13 band-occupancy probe, sf1p -> sf10p): banded grams "
    "103,130 -> 1,031,300 (exactly 10.0x), self-join fan-out sum(df^2) "
    "437,360 -> 4,373,600 (exactly 10.0x), max df 4 at BOTH scales. The "
    "df band's per-gram fan-out is bounded by min(n_sources, 10)^2 and "
    "n_sources is a DIMENSION (20 here, constant as the corpus grows), so "
    "fan-out cannot grow super-linearly in corpus df mass; band occupancy "
    "(gram count) grows linearly with the corpus, and the pre-r13 cost "
    "was dominated by the linear gram materialization + distinct with "
    "almost no fixed overhead to amortize — hence a ratio near the raw "
    "10x data step. r13 then moved the gram keys to 16-byte hash128 "
    "structs (x_text_scrub_spans additionally to one codegen'd positional "
    "gram regex): interleaved old/new A/B measured scrub 64.2 -> 29.5 s "
    "and overlap 36.1 -> 15.7 s at sf10p (2.2x / 2.3x), which also pulls "
    "both entries' 10x-step ratios well off the bar — the mechanism note "
    "above still governs their asymptotic shape."
)


SIDECAR = os.path.join(_ROOT, "SWEEP_SF10.json")


def _render(data: dict, gen_sec: float) -> str:
    lines = []
    for name in PROBE:
        if name not in data:
            # --entries subset run against a missing/partial sidecar:
            # placeholder instead of a KeyError that would drop the
            # measurements already taken
            lines.append(f"| {name} | — | — | — | (not yet timed) | {NOTES[name]} |")
            print(f"{name:28s} (no recorded numbers — run a full sweep)")
            continue
        a, b = data[name]["sf1p"], data[name]["sf10p"]
        ratio = round(b / a, 1) if a > 0 else float("inf")
        verdict = "linear" if ratio <= LINEAR_BAR else "SUPER-LINEAR"
        lines.append(
            f"| {name} | {a} | {b} | {ratio}x | {verdict} | {NOTES[name]} |"
        )
        print(f"{name:28s} sf1p={a:8.2f}s sf10p={b:8.2f}s ratio={ratio}x {verdict}")
    return HEADER.format(intro=INTRO) + "\n".join(lines) + (
        f"\n\n{FOOTNOTES}\n"
        f"\n(data generation: {gen_sec}s, cached under /tmp; "
        "`--regen` to rebuild; raw numbers in SWEEP_SF10.json; "
        "`--entries name...` re-times a subset min-of-3 and merges)\n"
    )


def main() -> None:
    import json

    regen = "--regen" in sys.argv
    # --entries name...: re-time ONLY those entries (min-of-3 — the
    # re-adjudication upgrade the verify recipe prescribes for sweep
    # outliers) and merge into the sidecar; everything else keeps its
    # recorded numbers. Min across sessions is still a min.
    subset = None
    if "--entries" in sys.argv:
        # consume names up to the next --flag (not all remaining argv),
        # and validate against PROBE BEFORE Spark startup — a typo'd name
        # used to raise KeyError after minutes of timing work
        rest = sys.argv[sys.argv.index("--entries") + 1:]
        subset = []
        for a in rest:
            if a.startswith("--"):
                break
            subset.append(a)
        unknown = [n for n in subset if n not in PROBE]
        if not subset or unknown:
            raise SystemExit(
                f"--entries needs probe-entry names; unknown={unknown}; "
                f"valid: {sorted(PROBE)}"
            )
    spark = get_spark(app_name="sweep_sf10")
    t0 = time.perf_counter()
    ensure_probe_dirs(spark, regen)
    gen_sec = round(time.perf_counter() - t0, 1)

    data: dict = {}
    if os.path.exists(SIDECAR):
        with open(SIDECAR, encoding="utf-8") as fh:
            data = json.load(fh)
    by_name = {s.name: s for s in CATALOG}
    names = subset if subset is not None else PROBE
    runs = 3 if subset is not None else 2
    specs = [by_name[n] for n in names]
    t1 = run_suite(spark, DIRS["sf1p"][0], specs, runs)
    t10 = run_suite(spark, DIRS["sf10p"][0], specs, runs)
    for name in names:
        data[name] = {"sf1p": t1[name], "sf10p": t10[name]}

    # self-heal: a full-sweep reading over the linear bar gets an
    # immediate min-of-3 retake of BOTH sides before it is recorded —
    # single min-of-2 draws through a host spike are the dominant
    # false-SUPER-LINEAR source (r13: tfidf/bm25/contamination, three
    # consecutive entries through one spike window, all cleared on
    # re-time)
    if subset is None:
        flagged = [
            n for n in PROBE
            if data[n]["sf1p"] > 0
            and data[n]["sf10p"] / data[n]["sf1p"] > LINEAR_BAR
        ]
        if flagged:
            print(f"re-timing flagged entries min-of-3: {flagged}")
            specs = [by_name[n] for n in flagged]
            r1 = run_suite(spark, DIRS["sf1p"][0], specs, 3)
            r10 = run_suite(spark, DIRS["sf10p"][0], specs, 3)
            for n in flagged:
                data[n] = {
                    "sf1p": min(data[n]["sf1p"], r1[n]),
                    "sf10p": min(data[n]["sf10p"], r10[n]),
                }

    with open(SIDECAR, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
    md = _render(data, gen_sec)
    with open(os.path.join(_ROOT, "SWEEP_SF10.md"), "w", encoding="utf-8") as fh:
        fh.write(md)
    print("wrote SWEEP_SF10.md + SWEEP_SF10.json")
    spark.stop()


if __name__ == "__main__":
    main()
