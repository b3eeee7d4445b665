"""Extension operator tests beyond the SQL oracle: recall/quality properties
that SQL can't express (LSH recall vs brute force, SimHash vs a pure-Python
reference, multimodal decode plumbing, MinHash candidate quality)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from automotive_data_pipeline_demo_spark.extensions.multimodal import (
    attach_binary_metadata,
    decode_media,
    frame_sample_plan,
)
from automotive_data_pipeline_demo_spark.extensions.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_lsh_recall_vs_brute_force(spark, embeddings):
    """Sign-LSH with few planes must recover a solid fraction of the true
    top-10 (same-bucket candidates only)."""
    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=10)
    approx = lsh_bucketed_topk(embeddings, queries, k=10, n_planes=4)

    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # the query itself always shares its own bucket
    assert all((q, q) in approx_pairs for q in range(10))
    # synthetic embeddings are near-uniform on the sphere, so neighbors are
    # barely separated — recall is structurally low; assert it's far above
    # the random-candidate floor (10/500 = 2%) rather than a high bar
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.15, f"recall {recall} at the random floor"
    # scores must agree where pairs overlap (same formula both paths)
    exact_scores = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9


def _py_simhash(text: str, bits: int = 32) -> int:
    votes = [0] * bits
    toks = [t for t in __import__("re").split(r"[^a-zA-Z0-9]+", text.lower()) if t]
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] > 0)


def test_simhash_matches_python_reference(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=1, text="pack my box with five dozen liquor jugs"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog!"),
        ]
    )
    out = {r["id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    for row in docs.collect():
        assert out[row["doc_id"]] == _py_simhash(row["text"]), row["doc_id"]
    # near-identical docs share the fingerprint (only punctuation differs)
    assert out[0] == out[2]


def test_simhash_pairs_exact_within_radius(spark, sf_dir):
    """Pigeonhole banding is EXACT within the Hamming radius: the banded
    pair set equals the all-pairs brute force over the same fingerprints
    (unlike MinHash banding, which is probabilistic)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 150)
    )
    fps = {r["id"]: r["simhash"]
           for r in simhash(docs, "doc_id", "text").collect()}
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(
            docs, "doc_id", "text", max_bucket_size=None
        ).collect()
    }
    assert banded == brute
    assert brute, "fixture should contain at least one near pair"


def test_simhash_dedup_matches_clique_survivors(spark, sf_dir):
    """The scale path (distinct-fingerprint banding + star edges) must keep
    exactly the documents the declarative clique path keeps — connectivity
    is what dedup needs, and stars preserve it."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        connected_components,
        simhash_dedup,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 200)
    )
    pairs = simhash_near_pairs(
        docs, "doc_id", "text", bits=32, max_hamming=3, max_bucket_size=None
    )
    comps = connected_components(pairs, "id_a", "id_b")
    losers = {r["id"] for r in comps.collect() if r["id"] != r["component"]}
    clique_survivors = {
        r["doc_id"] for r in docs.select("doc_id").collect()
    } - losers
    fast_survivors = {
        r["doc_id"]
        for r in simhash_dedup(
            docs, "doc_id", "text", bits=32, max_hamming=3,
            max_bucket_size=None,
        ).select("doc_id").collect()
    }
    assert fast_survivors == clique_survivors
    assert len(fast_survivors) < docs.count()  # fixture has real near-dups


def test_simhash_pairs_bucket_cap_suppresses_hot_cohort(spark):
    """A cohort of identical docs lands in one hot bucket per band; the
    default cap drops those buckets instead of emitting O(n^2) pairs."""
    boiler = [Row(doc_id=i, text="same boilerplate footer text repeated here")
              for i in range(30)]
    near = [
        Row(doc_id=100, text="alpha beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=101, text="alpha beta gamma delta epsilon zeta eta thetaz"),
    ]
    docs = spark.createDataFrame(boiler + near)
    capped = simhash_near_pairs(docs, "doc_id", "text", max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert all(a >= 100 for a, _ in got), got  # boilerplate cohort suppressed
    assert (100, 101) in got  # genuine near pair survives the cap


def test_minhash_candidates_catch_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=base + " extra tail words here"),  # near-dup of 0
            Row(doc_id=2, text="completely different content about spark engines "
                               "and catalyst optimizers running distributed plans"),
        ]
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_candidate_pairs(docs, "doc_id", "text").collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs

    # jaccard verification on the LSH candidates (the scale path)
    cand = minhash_candidate_pairs(docs, "doc_id", "text")
    verified = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5,
                                   candidates=cand).collect()
    assert [(r["id_a"], r["id_b"]) for r in verified] == [(0, 1)]
    assert verified[0]["jaccard"] > 0.5


def test_multimodal_decode_stub_plumbing(spark):
    media = spark.createDataFrame(
        [
            Row(media_id=1, media_type="image", payload=b"\x89PNGfakebytes",
                mime="image/png", meta=Row(width=None, height=None, duration_ms=None)),
            Row(media_id=2, media_type="video", payload=b"\x00\x00ftypmp4fake",
                mime="video/mp4", meta=Row(width=None, height=None, duration_ms=3500)),
        ],
        schema="media_id long, media_type string, payload binary, mime string, "
               "meta struct<width:int, height:int, duration_ms:int>",
    )
    with_meta = attach_binary_metadata(media)
    rows = {r["media_id"]: r for r in with_meta.collect()}
    assert rows[1]["n_bytes"] == len(b"\x89PNGfakebytes")
    assert rows[1]["sha"] == hashlib.sha256(b"\x89PNGfakebytes").hexdigest()

    decoded = decode_media(media, deterministic_fake=True)
    drows = {r["media_id"]: r for r in decoded.collect()}
    assert set(drows) == {1, 2}
    assert len(drows[1]["feature"]) == 8
    assert 1 <= drows[1]["width"] <= 64
    # deterministic: same payload -> same fake features
    again = {r["media_id"]: r for r in decode_media(media, deterministic_fake=True).collect()}
    assert again[1]["feature"] == drows[1]["feature"]

    # real decode path is an explicit stub
    with pytest.raises(Exception) as exc:
        decode_media(media, deterministic_fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or "media decoding" in str(exc.value)

    # pluggable decoder contract end to end: a trivial pure-Python decoder
    # (first two payload bytes are dims, the rest normalize to features)
    # rides the same Arrow-batched mapInPandas path a PIL/ffmpeg wrapper
    # would, proving the batch iterator contract with a real callable
    def header_decoder(payload: bytes, media_type: str):
        w, h = (payload[0], payload[1]) if len(payload) >= 2 else (0, 0)
        return int(w), int(h), [b / 255.0 for b in payload[2:6]]

    custom = {
        r["media_id"]: r
        for r in decode_media(media, decoder=header_decoder).collect()
    }
    assert custom[1]["width"] == b"\x89PNGfakebytes"[0]
    assert custom[1]["height"] == b"\x89PNGfakebytes"[1]
    assert custom[2]["width"] == 0 and custom[2]["height"] == 0
    assert custom[1]["feature"] == [b / 255.0 for b in b"\x89PNGfakebytes"[2:6]]
    # sha/n_bytes columns are decoder-independent
    assert custom[1]["sha"] == hashlib.sha256(b"\x89PNGfakebytes").hexdigest()

    frames = frame_sample_plan(media, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_ms"])
    assert by_id[2] == [0, 1000, 2000, 3000]  # 3.5 s video -> 4 sampled frames
    assert by_id[1] == [0]                    # no duration -> single frame


def test_kmeans_numpy_path_matches_inline(spark, embeddings):
    """The Arrow-batched numpy assignment (k > inline_max_k) must be
    bit-identical to the inline-codegen path: same exact-integer dots,
    same IEEE division, same min-cid tiebreak."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_lloyd,
    )

    emb = embeddings.filter(F.col("vec_id") < 200)
    seeds = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    inline = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(emb, seeds, n_iter=1, inline_max_k=32).collect()
    }
    vectorized = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(emb, seeds, n_iter=1, inline_max_k=0).collect()
    }
    assert inline == vectorized
    assert len(inline) == 200


def test_kmeans_routed_full_probe_matches_flat(spark, embeddings, tmp_path):
    """The two-level routed assignment degenerates to the flat assignment
    BIT-FOR-BIT when every representative is probed (route_probe >= k1):
    the probed candidate set is then all k cells, scored by the identical
    exact-integer rule with the identical min-cid tiebreak. Pinned on
    kmeans_lloyd (both training and final passes routed) and on the
    stored-centroid path."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
        kmeans_lloyd,
    )

    emb = embeddings.filter(F.col("vec_id") < 200)
    seeds = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(emb, seeds, n_iter=1, inline_max_k=0).collect()
    }
    routed_full = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(
            emb, seeds, n_iter=1, route_probe=12
        ).collect()
    }
    assert routed_full == flat
    assert len(flat) == 200

    path = str(tmp_path / "cents")
    kmeans_centroids(emb, seeds, n_iter=1).write.parquet(path)
    stored = spark.read.parquet(path)
    stored_flat = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_stored_centroids(emb, stored, inline_max_k=0).collect()
    }
    stored_full = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_to_stored_centroids(
            emb, stored, route_probe=12
        ).collect()
    }
    assert stored_full == stored_flat == flat


def test_ivf_topk_stored_prunes_partitions(spark, embeddings, tmp_path):
    """The search half of the stored-centroid posture: ivf_topk_stored
    searches the (id, vector, centroid_id) store the ingest/refresh
    machinery maintains WITHOUT re-assigning the corpus, a query finds
    its identical stored vector at score 1.0, results are identical
    whether the store is read partitioned or unpartitioned, and on a
    centroid_id-partitioned store the probe pushes a PartitionFilter into
    the scan — unprobed cells are never read from disk."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        ivf_topk_stored,
        kmeans_centroids,
    )

    emb = embeddings.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    seeds = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    cents = kmeans_centroids(emb, seeds, n_iter=1)
    store = assign_to_stored_centroids(emb, cents).join(emb, "vec_id")
    part_path = str(tmp_path / "ivf_store")
    store.write.partitionBy("centroid_id").parquet(part_path)

    queries = emb.filter(F.col("vec_id").isin(5, 77, 240)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kwargs = dict(k=5, nprobe=2, centroid_vec_col="c_sum")
    stored_part = ivf_topk_stored(
        spark.read.parquet(part_path), queries, cents, **kwargs
    )
    got = [(r["query_id"], r["vec_id"], r["score"]) for r in stored_part.collect()]
    # identical vector in the store -> self-match at 1.0, ranked first
    top1 = {q: v for q, v, s in got
            if s == max(s2 for q2, _, s2 in got if q2 == q)}
    assert top1 == {5: 5, 77: 77, 240: 240}
    assert {s for q, v, s in got if q == v} == {1.0}
    # partitioned and unpartitioned stores agree exactly
    unpart = ivf_topk_stored(store, queries, cents, **kwargs)
    assert sorted(got) == sorted(
        (r["query_id"], r["vec_id"], r["score"]) for r in unpart.collect()
    )
    # the probe lands in the scan as a static partition filter: unprobed
    # cells are pruned at the source, not post-read. The literal IN list
    # is the assertion (Spark additionally plants its own dynamicpruning
    # expression on any broadcast join over the partition column).
    import re as _re

    plan = stored_part._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "centroid_id" in scan[0]
    assert "PartitionFilters: []" not in scan[0]
    assert _re.search(r"centroid_id#\d+ IN \(", scan[0]), scan[0]


def test_routed_pair_recall_tracks_flat(spark, embeddings):
    """Routing's pair-recall contract, measured (see the
    _assign_numpy_routed docstring for the sf0.1-scale numbers): plant
    near-dup pairs at fixed cosine levels (deterministic orthogonal
    noise), assign routed (probe=2) and flat, and pin that (a) routed
    co-location at cos 0.99 stays high — near-identical pairs route on
    near-identical scores, so routing never splits what flat keeps —
    and (b) at every level routed gives up at most a bounded slice of
    flat's co-location (the mid-band cost of probing 2 of k1 reps)."""
    import math

    import numpy as np

    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_lloyd,
    )

    emb = embeddings.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
    base = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    rng = np.random.RandomState(7)
    levels = [0.99, 0.9]
    planted, recs, nid = [], [], 100_000
    for li, lvl in enumerate(levels):
        for src in range(li * 80, li * 80 + 80):
            v = base[src]
            noise = rng.randn(len(v))
            noise -= noise.dot(v) / v.dot(v) * v  # orthogonalize
            noise *= np.linalg.norm(v) / np.linalg.norm(noise)
            w = lvl * v + math.sqrt(1 - lvl * lvl) * noise  # cos == lvl
            recs.append((nid, [float(x) for x in w]))
            planted.append((nid, src, lvl))
            nid += 1
    corpus = emb.unionByName(
        spark.createDataFrame(recs, "vec_id long, embedding array<double>")
    )
    k = max(8, math.ceil(corpus.count() / 64))
    seeds = corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    flat = {r["vec_id"]: r["centroid_id"]
            for r in kmeans_lloyd(corpus, seeds, n_iter=1,
                                  inline_max_k=0).collect()}
    routed = {r["vec_id"]: r["centroid_id"]
              for r in kmeans_lloyd(corpus, seeds, n_iter=1,
                                    route_probe=2).collect()}

    def colocation(assign, lvl):
        pairs = [(p, s) for p, s, l in planted if l == lvl]
        return sum(1 for p, s in pairs if assign[p] == assign[s]) / len(pairs)

    assert colocation(routed, 0.99) >= 0.85
    for lvl in levels:
        assert colocation(routed, lvl) >= colocation(flat, lvl) - 0.15


def test_collapse_identical_vectors_element_null_nan(spark):
    """Element-level degeneracy routing of the pair stage's identity key:
    concat_ws skips NULL array elements, so [1.0, NULL, 2.0] would alias
    [1.0, 2.0] and a NaN element would alias its cast image — both must
    take the per-row fallback key and never collapse, while genuinely
    identical vectors share one key."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        _vector_identity_key,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, None, 2.0]),
            (2, [1.0, 2.0]),
            (3, [float("nan"), 0.0]),
            (4, [0.0, 0.0]),
            (5, [0.0, 0.0]),          # genuine identical pair with 4
            (6, [1.0, None, 2.0]),    # same shape as 1 — still per-row
        ],
        "vec_id long, embedding array<double>",
    )
    key = {
        r["vec_id"]: r["k"]
        for r in df.select(
            "vec_id", _vector_identity_key("vec_id", "embedding").alias("k")
        ).collect()
    }
    for v in (1, 3, 6):
        assert key[v] == f"__row__{v}"
    assert key[4] == key[5]
    assert len({key[v] for v in (1, 2, 3, 4, 6)}) == 5


def _near_dup_all_modes(df, **kw):
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    def canon(p):
        return sorted(
            (r["a_id"], r["b_id"],
             None if r["score"] != r["score"] else r["score"])
            for r in p.collect()
        )

    got = {
        mode: canon(embedding_near_dup_pairs(df, collapse=mode, **kw))
        for mode in ("off", "auto", "star")
    }
    # collapse_min=2 fires the auto gate on any identity group, so the
    # exact expansion runs whatever the flood size
    got["auto_min2"] = canon(
        embedding_near_dup_pairs(df, collapse="auto", collapse_min=2, **kw)
    )
    return got


def test_near_dup_pairs_collapse_exact_and_star(spark):
    """The r11 flood wiring: with a 70-copy identity flood plus
    degenerate vectors, the measured collapse='auto' (whose flood gate
    trips here at the default collapse_min, and at collapse_min=2)
    returns the pair set BYTE-IDENTICAL to the direct plan, while
    collapse='star' returns a component-equivalent set whose size is
    linear in the flood. Degenerate shapes pin the
    blocked scorer's real contract: NULL-element, NaN-element and
    zero-norm vectors pair with nothing (worker NaN crosses Arrow as
    NULL and drops at the threshold filter)."""
    v0 = [1.0, 2.0, 3.0]
    rows = [(i, 0, v0) for i in range(70)]
    rows += [
        (100, 0, [1.0, 2.0, 3.1]),
        (101, 0, [-1.0, -2.0, -3.0]),
        (102, 0, [1.0, None, 2.0]),
        (103, 0, [1.0, 2.0]),
        (104, 0, [float("nan"), 0.0, 0.0]),
        (105, 0, [0.0, 0.0, 0.0]),
        (106, 0, [0.0, 0.0, 0.0]),
        (200, 1, v0), (201, 1, v0), (202, 1, [3.0, 2.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = _near_dup_all_modes(df, threshold=0.5, block_col="label")
    assert got["auto_min2"] == got["off"]
    assert got["auto"] == got["off"]
    # no degenerate-vector pairs anywhere
    flat_ids = {i for t in got["off"] for i in t[:2]}
    assert flat_ids.isdisjoint({102, 103, 104, 105, 106})
    # star: linear in the flood (69 star edges + rep-grain pairs),
    # identical connected components
    assert len(got["star"]) < len(got["off"]) / 10

    def comps(pairs):
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    assert comps(got["star"]) == comps(got["off"])


@pytest.mark.parametrize("collapse", ["exact", "nope"])
def test_near_dup_pairs_rejects_unknown_collapse(spark, collapse):
    """collapse takes off/auto/star only: the exact expansion runs inside
    'auto' when its flood gate fires and is not a mode of its own."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0])],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="unknown collapse"):
        embedding_near_dup_pairs(
            df, threshold=0.5, block_col="label", collapse=collapse
        )


def test_collapse_auto_gate_single_evaluation(spark):
    """The r13 single-evaluation contract: collapse='auto' (the default)
    persists the keyed projection, so the measured stats gate and the
    winning branch together evaluate the INPUT frame exactly once — the
    gate's stats job fills the cache, the caller's action reads it. An
    accumulator inside a mapInPandas stage under the gate counts input
    rows evaluated; both gate outcomes (flood-collapse taken, untouched
    fall-through) must read n, not 2n. The persist is tagged on the
    result (register_caches) and release_caches unpins it — the same
    lifetime contract as line_dedup's auto probe."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    flood = [(i, 0, [1.0, 2.0, 3.0]) for i in range(40)]
    spread = [(100 + i, i % 2, [1.0, float(i), 3.0]) for i in range(20)]

    for rows, label in ((flood + spread, "collapse"), (spread, "untouched")):
        base = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        acc = spark.sparkContext.accumulator(0)

        def mark(batches, acc=acc):
            for b in batches:
                acc.add(len(b))
                yield b

        out = embedding_near_dup_pairs(
            base.mapInPandas(mark, base.schema),
            threshold=0.3, block_col="label", collapse_min=32,
        )
        out.collect()
        assert acc.value == len(rows), (label, acc.value)
        held = getattr(out, "_graft_persisted", [])
        assert held and all(f.is_cached for f in held), label
        release_caches(out)
        assert not any(f.is_cached for f in held), label
    # unconditional modes WITHOUT new_col persist nothing — the gate
    # never runs, and the rep/star branches share via ReuseExchange
    # (their pruned subtrees canonicalize equal when no new flag forks
    # them; the r14 persist applies only to the new_col form — see
    # test_star_collapse_single_evaluation_incremental)
    plain = embedding_near_dup_pairs(
        spark.createDataFrame(
            spread, "vec_id long, label int, embedding array<double>"
        ),
        threshold=0.3, block_col="label", collapse="star",
    )
    assert not getattr(plain, "_graft_persisted", [])


def test_star_collapse_single_evaluation_incremental(spark):
    """Star mode persists the windowed frame. With new_col set, the
    rep-pair and star-edge branches prune DIFFERENT window columns
    (__repnew vs __nb/__rep), their exchange subtrees no longer
    canonicalize equal, and ReuseExchange cannot fire — unpinned, the
    whole input (scan -> assignment -> exchange -> window) executed
    once per branch. An accumulator inside a mapInPandas stage under
    the pair call counts input rows evaluated.

    The persist is lazy (no serializing count), so AQE's racing branch
    materialization may legally duplicate the fill at most once:
    n <= evaluations <= 2n. Lifetime: the persist is tagged on the
    result and released by release_caches, like the auto gate's."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    rows = [
        (i, i % 3, [1.0, float(i % 7), 3.0], i >= 20) for i in range(30)
    ]
    base = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>, is_new boolean"
    )
    acc = spark.sparkContext.accumulator(0)

    def mark(batches, acc=acc):
        for b in batches:
            acc.add(len(b))
            yield b

    out = embedding_near_dup_pairs(
        base.mapInPandas(mark, base.schema),
        threshold=0.3, block_col="cell", new_col="is_new", collapse="star",
    )
    out.collect()
    assert len(rows) <= acc.value <= 2 * len(rows), acc.value
    held = getattr(out, "_graft_persisted", [])
    assert held and all(f.is_cached for f in held)
    release_caches(out)
    assert not any(f.is_cached for f in held)


def test_near_dup_pairs_null_block_rows_never_pair(spark):
    """NULL-block rows are dropped up front in EVERY mode and BOTH
    strategies (r12): before, the equi-join strategy dropped them, the
    blocked scorer paired them as one bucket, and the collapsed path
    filtered them — so the collapsed expansion was not pair-for-pair
    identical to the direct plan on a corpus with NULL blocks."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    v0 = [1.0, 2.0, 3.0]
    rows = [(1, 0, v0), (2, 0, v0), (10, None, v0), (11, None, v0),
            (12, None, [3.0, 2.0, 1.0])]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    for strategy in ("blocked", "join"):
        got = _near_dup_all_modes(
            df, threshold=0.5, block_col="label", strategy=strategy
        )
        for mode, pairs in got.items():
            ids = {i for t in pairs for i in t[:2]}
            assert ids.isdisjoint({10, 11, 12}), (strategy, mode, pairs)
            assert (1, 2, 1.0) in pairs, (strategy, mode)
        # with NULL blocks in play, the auto gate's exact expansion
        # (forced by collapse_min=2) still matches the direct plan
        assert got["auto_min2"] == got["off"]
        assert got["auto"] == got["off"]


def test_near_dup_pairs_star_no_stored_stored_edges(spark):
    """Mixed identity group (stored rep + stored members + new members,
    r12): star edges are restricted to members where the member or its
    rep is new, so every emitted pair touches >= 1 new row — the
    incremental contract the consumers' loser rules are written against.
    Each new member still gets its rep edge (kill parity)."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    v0 = [1.0, 2.0, 3.0]
    rows = (
        # mixed group: stored 1 (rep), stored 2-4, new 100-101
        [(1, False, v0), (2, False, v0), (3, False, v0), (4, False, v0),
         (100, True, v0), (101, True, v0)]
        # all-new group, different vector
        + [(200, True, [9.0, 1.0, 0.0]), (201, True, [9.0, 1.0, 0.0])]
        # all-stored group: nothing new touches it -> zero edges
        + [(50, False, [0.0, 5.0, 5.0]), (51, False, [0.0, 5.0, 5.0])]
    )
    df = spark.createDataFrame(
        [(i, n, v, 0) for i, n, v in rows],
        "vec_id long, is_new boolean, embedding array<double>, cell int",
    )
    pairs = {
        (r["a_id"], r["b_id"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.5, block_col="cell", new_col="is_new",
            collapse="star", collapse_min=2,
        ).collect()
    }
    new_ids = {100, 101, 200, 201}
    assert pairs, "no pairs at all?"
    for a, b in pairs:
        assert a in new_ids or b in new_ids, (a, b)
    # every new member of the mixed group keeps its rep edge
    assert (1, 100) in pairs and (1, 101) in pairs


def test_near_dup_pairs_star_kill_parity_randomized(spark):
    """The star mode's incremental contract (r11): under BOTH downstream
    kill rules — the batch entry's greedy smaller-id rule (valid in its
    id-ordered regime, stored ids below batch ids) and the streaming
    ingest's accepted-corpus rule (arbitrary id interleaving) — the
    collapsed edge set kills exactly the batch vectors the direct plan
    kills. Randomized identity-group corpora cover mixed old/new groups,
    all-new groups, and cross-group near-dups; the auto gate's exact
    expansion (forced by collapse_min=2) stays pair-identical
    throughout."""
    import random

    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    vocab = [
        [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0],
        [0.9, 0.1, 0.0], [0.05, 0.95, 0.0], [0.7, 0.7, 0.0],
        [-1.0, 0.0, 0.0],
    ]
    for seed, ordered in [(0, True), (0, False), (1, True), (1, False),
                          (2, True), (2, False)]:
        rnd = random.Random(seed)
        n = 40
        rows = [[i, False, vocab[rnd.randrange(len(vocab))],
                 rnd.randrange(2)] for i in range(n)]
        for r in rows:
            r[1] = (r[0] >= n * 7 // 10) if ordered else (rnd.random() < 0.4)
        df = spark.createDataFrame(
            [tuple(r) for r in rows],
            "vec_id long, is_new boolean, embedding array<double>, cell int",
        )

        def pp(collapse):
            return [(r["a_id"], r["b_id"]) for r in embedding_near_dup_pairs(
                df, threshold=0.5, block_col="cell", new_col="is_new",
                collapse=collapse, collapse_min=2).collect()]

        direct, starp, autop = pp("off"), pp("star"), pp("auto")
        assert sorted(autop) == sorted(direct)
        new_ids = {r[0] for r in rows if r[1]}
        kill_accepted = lambda ps: {b if b in new_ids else a for a, b in ps}
        assert (new_ids - kill_accepted(direct)
                == new_ids - kill_accepted(starp))
        if ordered:
            assert (new_ids - {b for _, b in direct}
                    == new_ids - {b for _, b in starp})


def test_kmeans_routed_near_dup_pairs_colocate(spark, embeddings):
    """What routing must NOT lose is PAIR recall: a near-duplicate pair
    rides nearly identical routing scores, probes the same reps, and
    lands in one cell together — even where its absolute cell choice
    differs from the flat scan's. Plant exact clones of 40 corpus
    vectors (new ids), run the routed assignment at SemDeDup-entry
    settings (probe=2, k1=ceil(sqrt(k))), and require every clone in the
    SAME cell as its source; the in-cell pair scorer then sees every
    planted pair. Exact clones tie on every score, so any co-location
    miss would be a determinism bug, not a recall bug — which is the
    point: routed dedup recall degrades only at genuine cell-boundary
    margins, never between near-identical rows."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_lloyd,
    )

    emb = embeddings.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    clones = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(clones)
    seeds = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(
            corpus, seeds, n_iter=1, route_probe=2
        ).collect()
    }
    assert len(assign) == 340
    misses = [v for v in range(40) if assign[v] != assign[v + 10_000]]
    assert misses == []


def test_stored_centroid_assign_matches_full_run(spark, embeddings, tmp_path):
    """The stored-centroid posture reproduces the full run exactly:
    kmeans_centroids -> parquet round-trip -> assign_to_stored_centroids
    lands every vector in the same cell kmeans_lloyd's own final
    assignment puts it in (same exact-integer contract), on BOTH the
    inline-codegen and the numpy assignment paths."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
        kmeans_lloyd,
    )

    emb = embeddings.filter(F.col("vec_id") < 200)
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    full = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_lloyd(emb, seeds, n_iter=2).collect()
    }
    path = str(tmp_path / "cents")
    kmeans_centroids(emb, seeds, n_iter=2).write.parquet(path)
    stored = spark.read.parquet(path)
    for inline_max_k in (32, 0):  # codegen path, then numpy path
        got = {
            r["vec_id"]: r["centroid_id"]
            for r in assign_to_stored_centroids(
                emb, stored, inline_max_k=inline_max_k
            ).collect()
        }
        assert got == full
    # a NEW batch (never seen in training) assigns deterministically to
    # the frozen cells — identical across both paths
    batch = embeddings.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 260)
    )
    a = assign_to_stored_centroids(batch, stored, inline_max_k=32).collect()
    b = assign_to_stored_centroids(batch, stored, inline_max_k=0).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 60

    import pytest as _pytest

    with _pytest.raises(ValueError, match="centroid"):
        assign_to_stored_centroids(batch, stored.limit(0))


def test_stored_centroid_assign_poison_rows(spark):
    """NULL and wrong-dimension vectors are EXCLUDED by the stored-assign
    path (same _micro_units guard as kmeans training), never crashed on —
    on both the inline-codegen and numpy paths."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
    )

    clean = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<double>",
    )
    seeds = clean.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    stored = kmeans_centroids(clean, seeds, n_iter=1)
    poison = spark.createDataFrame(
        [
            (10, [0.9, 0.1]),
            (11, None),          # NULL vector -> excluded
            (12, [0.5]),         # ragged dims -> excluded
            (13, [-0.2, 0.8]),
        ],
        "vec_id long, embedding array<double>",
    )
    for k in (32, 0):
        got = {
            r["vec_id"]: r["centroid_id"]
            for r in assign_to_stored_centroids(
                poison, stored, inline_max_k=k
            ).collect()
        }
        assert sorted(got) == [10, 13], k


def test_near_dup_pairs_null_new_flag_treated_as_old(spark):
    """A NULL new_col flag means OLD (stored) on both strategies: the row
    can appear as the a-side of a pair with a new row, but two NULL-flag
    rows never pair with each other."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, 0, None, [1.0, 0.0]),
            (2, 0, None, [1.0, 0.001]),   # near-dup of 1, both NULL-flag
            (3, 0, True, [1.0, 0.002]),   # new: pairs with 1 AND 2
        ],
        "vec_id long, cell int, is_new boolean, embedding array<double>",
    )
    for strategy in ("join", "blocked"):
        pairs = sorted(
            (r["a_id"], r["b_id"])
            for r in embedding_near_dup_pairs(
                df, threshold=0.9, block_col="cell",
                strategy=strategy, new_col="is_new",
            ).collect()
        )
        assert pairs == [(1, 3), (2, 3)], strategy


def test_near_dup_pairs_incremental_mode(spark, embeddings):
    """new_col restricts pair enumeration to pairs touching >= 1 new row:
    both strategies return exactly the full run's pairs filtered to those
    touching the new set (same scores — stored x stored pairs are the
    only omissions), on an embeddings slice with real near-dups."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    df = embeddings.filter(F.col("vec_id") < 300).select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % F.lit(4)).alias("cell"),
        (F.col("vec_id") >= 240).alias("is_new"),
    )
    full = embedding_near_dup_pairs(
        df, threshold=0.30, block_col="cell", strategy="join"
    ).collect()
    want = sorted(
        (r["a_id"], r["b_id"], r["score"])
        for r in full
        if r["a_id"] >= 240 or r["b_id"] >= 240
    )
    assert want, "fixture must produce incremental pairs"
    assert len(want) < len(full), "fixture must have stored-only pairs to omit"
    for strategy in ("join", "blocked"):
        got = sorted(
            map(
                tuple,
                embedding_near_dup_pairs(
                    df, threshold=0.30, block_col="cell",
                    strategy=strategy, new_col="is_new",
                ).collect(),
            )
        )
        assert got == want, strategy


def test_ivf_recall_vs_brute_force(spark, embeddings):
    """IVF with nprobe=2 of 8 cells must beat the random-scan floor by a wide
    margin (structural recall < 1 is expected; vacuous recall is a bug)."""
    from pyspark.sql import functions as F

    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(embeddings, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(embeddings, queries, centroids, k=10, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    # nprobe/n_cells = 1/4 of the corpus scanned; random floor ~0.25
    assert recall >= 0.30, f"IVF recall {recall} at or below the random floor"


def test_embedding_near_dup_pairs_ordering(spark, embeddings):
    """Pairs are canonical (a_id < b_id), deduplicated, and symmetric-safe."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    pairs = embedding_near_dup_pairs(
        embeddings, threshold=0.30, block_col="label"
    ).collect()
    assert pairs, "threshold too high: vacuous result"
    seen = set()
    for r in pairs:
        assert r.a_id < r.b_id
        assert (r.a_id, r.b_id) not in seen
        seen.add((r.a_id, r.b_id))
        assert r.score >= 0.30


def test_near_dup_blocked_matches_join_exactly(spark, embeddings):
    """The Arrow blocked scorer and the equi-self-join fold are
    BIT-identical on a fixed-dims corpus: same pair set, same rounded
    scores (the blocked path folds dot/norm in the same element order and
    rounds JVM-side — the property the driver oracle hashes)."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    join_rows = sorted(
        (r.a_id, r.b_id, r.score)
        for r in embedding_near_dup_pairs(
            embeddings, threshold=0.30, block_col="label", strategy="join"
        ).collect()
    )
    blocked_rows = sorted(
        (r.a_id, r.b_id, r.score)
        for r in embedding_near_dup_pairs(
            embeddings, threshold=0.30, block_col="label", strategy="blocked"
        ).collect()
    )
    assert join_rows, "threshold too high: vacuous parity check"
    assert join_rows == blocked_rows


def test_near_dup_blocked_edge_parity(spark):
    """Degenerate rows behave identically under both strategies: NULL
    ids/blocks/embeddings drop, cross-length (ragged) pairs drop while
    same-length ragged pairs score, zero-norm NaN pairs get the same
    keep-or-drop treatment, and duplicate ids never self-pair. Small
    chunk_pairs exercises the chunked pair loop."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    rows = [
        (1, [1.0, 2.0, 3.0], "A"),
        (2, [1.0, 2.0, 3.0], "A"),
        (3, None, "A"),                    # NULL embedding
        (None, [1.0, 2.0, 3.0], "A"),      # NULL id
        (4, [1.0, 2.0], "A"),              # ragged pair (same length)
        (5, [1.0, 2.0], "A"),
        (6, [0.0, 0.0, 0.0], "A"),         # zero-norm pair -> NaN score
        (7, [0.0, 0.0, 0.0], "A"),
        (8, [1.0, 2.0, 3.0], None),        # NULL block key
        (9, [3.0, 2.0, 1.0], "B"),         # duplicate id within a block
        (9, [3.0, 2.0, 1.0], "B"),
        (10, [3.0, 2.0, 1.0], "B"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )

    def rendered(strategy):
        out = embedding_near_dup_pairs(
            df, threshold=0.0, block_col="label", strategy=strategy,
            chunk_pairs=3,
        ).collect()
        import math

        return sorted(
            (r.a_id, r.b_id, "nan" if math.isnan(r.score) else r.score)
            for r in out
        )

    join_rows = rendered("join")
    blocked_rows = rendered("blocked")
    assert join_rows == blocked_rows
    pair_ids = {(a, b) for a, b, _ in join_rows}
    assert (1, 2) in pair_ids            # fixed-dims pair scores
    assert (4, 5) in pair_ids            # same-length ragged pair scores
    assert not any(3 in p or 8 in p for p in pair_ids)
    assert (9, 9) not in pair_ids        # duplicate ids never self-pair
    assert (9, 10) in pair_ids


def test_jaccard_doc_freq_cap(spark):
    """max_doc_freq drops boilerplate shingles: pairs sharing only an
    ultra-common shingle disappear, genuinely-similar pairs survive."""
    from pyspark.sql import functions as F  # noqa: F811

    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        ngram_jaccard_pairs,
    )

    boiler = "click here to unsubscribe from"
    rows = [
        (1, f"alpha beta gamma delta epsilon {boiler}"),
        (2, f"alpha beta gamma delta epsilon {boiler}"),   # true near-dup of 1
        (3, f"totally different words entirely here {boiler}"),
        (4, f"another unrelated document body text {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1)
    capped = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_doc_freq=2)

    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1, 2) in capped_pairs               # real near-dup survives
    assert (3, 4) in exact_pairs                # boilerplate-only pair, uncapped
    assert (3, 4) not in capped_pairs           # dropped by the cap
    # capped scores for surviving pairs are computed over the capped universe
    s = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert s[(1, 2)] == 1.0


def test_jaccard_cap_is_the_default(spark):
    """A naive call gets the 100 TB-safe capped behavior: a shingle hotter
    than DEFAULT_MAX_DOC_FREQ never pairs, so the boilerplate-only corpus
    yields zero pairs without any explicit knob."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        DEFAULT_MAX_DOC_FREQ,
        ngram_jaccard_pairs,
    )

    boiler = "click here to unsubscribe now"
    n = DEFAULT_MAX_DOC_FREQ + 100
    rows = [(i, f"{boiler} u{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(4)

    # every pair shares ONLY the hot shingle; the default cap drops it, so
    # the d(d-1)/2 ~ 6e5 pair blowup never materializes
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1).count() == 0


def test_scrub_shared_spans_planted(spark):
    """Tokens under a shared 4-gram vanish from every doc carrying it;
    unique text survives untouched and order is preserved."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        scrub_shared_spans,
    )

    boiler = "all rights reserved worldwide"
    rows = [
        (1, f"unique alpha text {boiler} more unique tail"),
        (2, f"other beta body {boiler}"),
        (3, "totally original document body here"),
        (4, boiler),               # fully-scrubbed doc survives as ''
        (5, ""),                   # empty doc round-trips
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in
           scrub_shared_spans(df, "doc_id", "text", n=4, min_count=2).collect()}

    assert out[1]["cleaned_text"] == "unique alpha text more unique tail"
    assert out[1]["n_removed"] == 4
    assert out[2]["cleaned_text"] == "other beta body"
    assert out[3]["cleaned_text"] == "totally original document body here"
    assert out[3]["n_removed"] == 0
    assert out[4]["cleaned_text"] == "" and out[4]["n_removed"] == 4
    assert out[5]["cleaned_text"] == "" and out[5]["n_tokens"] == 0
    # a gram repeated WITHIN one doc also counts toward min_count
    rep = spark.createDataFrame(
        [(1, "spam one two three spam one two three unique ending")],
        "doc_id long, text string",
    )
    r = scrub_shared_spans(rep, "doc_id", "text", n=4, min_count=2).collect()[0]
    assert r["cleaned_text"] == "unique ending"


def test_connected_components_and_dedup_corpus(spark):
    """Min-label propagation finds transitive duplicate clusters; dedup
    keeps exactly one doc (smallest id) per cluster plus all singletons."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        connected_components,
        dedup_corpus,
    )

    # chain 1-2-3 (transitive: 1~2, 2~3 but never 1~3), pair 7-9, singleton 5
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 7)], "a_id long, b_id long"
    )
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    # the distributed label-propagation path (forced past the driver
    # union-find bound) must produce the identical clustering
    dist = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_driver_edges=0).collect()
    }
    assert dist == comps

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 5, 7, 9)], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, pairs, "doc_id").collect())
    assert kept == [1, 5, 7]  # cluster reps 1 and 7, singleton 5


def test_connected_components_over_bound_no_driver_transfer(spark, monkeypatch):
    """Past the driver union-find bound, the path decision is a count() on
    the cached edge frame — NO edge rows are serialized to the driver.
    (Regression pin: an earlier revision merged the probe with the landing
    as limit(bound+1).toPandas(), which over the bound pulled bound+1 rows
    through Arrow just to throw them away.) Under the bound, toPandas runs
    exactly once."""
    try:  # pyspark>=4: the runtime class lives under sql.classic
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - pyspark<4
        from pyspark.sql import DataFrame
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        connected_components,
    )

    calls: list[int] = []
    orig = DataFrame.toPandas

    def spying(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "toPandas", spying)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (9, 7)], "a_id long, b_id long")

    comps = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_driver_edges=1).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    assert calls == []  # over-bound: zero Arrow transfers of edge data

    under = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_driver_edges=10).collect()
    }
    assert under == comps
    assert calls == [1]  # under-bound: exactly one landing, after the probe


def test_line_dedup_boilerplate_removal(spark):
    """CCNet-style line dedup: a line shared by >= min_doc_freq DISTINCT
    docs is dropped everywhere; within-doc repeats do not count toward the
    threshold; surviving lines keep their original order; a doc that was
    all boilerplate comes back as the empty string (never disappears)."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\nCOOKIE BANNER\nbeta\ngamma"),
            (2, "COOKIE BANNER\ndelta"),
            (3, "solo content"),
            (4, "COOKIE BANNER"),
            # 'chorus' repeats WITHIN doc 5 only -> document frequency 1,
            # stays; doc 6 shares nothing
            (5, "chorus\nverse\nchorus"),
            (6, "bridge\noutro"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in line_dedup(docs, "doc_id", "text", min_doc_freq=2).collect()
    }
    assert rows[1]["cleaned_text"] == "alpha\nbeta\ngamma"
    assert rows[1]["n_lines"] == 4 and rows[1]["n_removed"] == 1
    assert rows[2]["cleaned_text"] == "delta"
    assert rows[3]["cleaned_text"] == "solo content"
    assert rows[3]["n_removed"] == 0
    assert rows[4]["cleaned_text"] == "" and rows[4]["n_removed"] == 1
    assert rows[5]["cleaned_text"] == "chorus\nverse\nchorus"
    assert rows[6]["n_removed"] == 0
    assert set(rows) == {1, 2, 3, 4, 5, 6}

    # threshold raised above any cross-doc frequency -> nothing removed
    untouched = line_dedup(docs, "doc_id", "text", min_doc_freq=4).collect()
    assert all(r["n_removed"] == 0 for r in untouched)

    # NULL text is the empty document (one empty line), never size(-1)
    with_null = spark.createDataFrame(
        [(1, None), (2, "a\nb")], "doc_id long, text string"
    )
    nrows = {r["doc_id"]: r for r in line_dedup(with_null, "doc_id", "text").collect()}
    assert nrows[1]["n_lines"] == 1 and nrows[1]["n_removed"] == 0
    assert nrows[2]["cleaned_text"] == "a\nb"


def test_line_dedup_shuffle_fallback_matches_broadcast(spark):
    """broadcast_hot=False drops the forced-broadcast hint on the hot-set
    anti-join (the escape hatch for hot sets that outgrow executor memory
    — long-lived streaming ingest in particular) and produces identical
    output; broadcast_hot=True keeps the hint in the plan."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "boiler\nalpha"), (2, "boiler\nbeta"), (3, "solo\ngamma")],
        "doc_id long, text string",
    )
    hinted = line_dedup(docs, "doc_id", "text")
    fallback = line_dedup(docs, "doc_id", "text", broadcast_hot=False)
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, fallback.collect())
    )
    assert "broadcast" in (
        hinted._jdf.queryExecution().optimizedPlan().toString().lower()
    )
    assert "broadcast" not in (
        fallback._jdf.queryExecution().optimizedPlan().toString().lower()
    )

    # the knob rides through the stored-hot-set (streaming twin) path too
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_digest,
    )

    hot = spark.createDataFrame([("boiler",)], "line string").select(
        line_digest("line").alias("h")
    )
    via_hot = line_dedup(
        docs, "doc_id", "text", hot_digests=hot, broadcast_hot=False
    )
    assert "broadcast" not in (
        via_hot._jdf.queryExecution().optimizedPlan().toString().lower()
    )
    got = {r["doc_id"]: r["cleaned_text"] for r in via_hot.collect()}
    assert got == {1: "alpha", 2: "beta", 3: "solo\ngamma"}


def test_hash128_lanes_are_independent(spark):
    """hash128's two lanes must be independent hash functions of the input.

    Spark folds multi-arg xxhash64 left-to-right with the running hash as
    the next seed, so the r13 form ``xxhash64(c, lit(1))`` was
    ``XXH64(1, seed=h1)`` — a deterministic function of lane 1, collapsing
    the 16-byte struct to 64-bit effective collision resistance (ADVICE
    r13). The fixed form ``xxhash64(lit(1), c)`` hashes the payload under a
    diverged seed. This test pins (a) golden lane values so a silent
    revert or Spark hash change is caught (the persisted line_digest index
    format depends on them), and (b) that lane 2 differs from the broken
    fold form.
    """
    from pyspark.sql import functions as SF

    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        hash128,
    )

    row = (
        spark.range(1)
        .select(
            hash128(SF.lit("a")).alias("h"),
            SF.xxhash64(SF.lit("a"), SF.lit(1)).alias("broken_fold"),
            SF.xxhash64(SF.lit("a")).alias("h1_direct"),
        )
        .collect()[0]
    )
    assert row["h"]["h1"] == row["h1_direct"] == -8582455328737087284
    assert row["h"]["h2"] == 8205864924878002737
    # the broken r13 lane-2 (seed folded AFTER the payload) is a different
    # value — and a pure function of h1, which is exactly why it was wrong
    assert row["broken_fold"] == -4810547614043336770
    assert row["h"]["h2"] != row["broken_fold"]


def test_gopher_rules_planted_failures(spark):
    """Each Gopher rule trips on a doc built to violate exactly it (word
    count aside), and a clean long document passes the full gate."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        gopher_quality_rules,
    )

    good = " ".join(
        ["the quick brown fox and that dog have fun with honest words"] * 6
    )
    rows = {
        r["id"]: r
        for r in gopher_quality_rules(
            spark.createDataFrame(
                [
                    (1, good),
                    (2, "too short to pass"),
                    (3, " ".join(["###"] * 60)),  # symbols + no alpha words
                    (4, " ".join(["zz"] * 60)),  # mean word len < 3, no stops
                    (5, "\n".join(["- bullet line"] * 10)),
                    (6, good + " " + " ".join(["a"] * 200)),  # drags mean len
                ],
                "doc_id long, text string",
            ),
            "doc_id",
            "text",
        ).collect()
    }
    assert rows[1]["gopher_pass"]
    assert rows[1]["ok_words"] and rows[1]["ok_stopwords"]
    assert not rows[2]["ok_words"] and not rows[2]["gopher_pass"]
    assert not rows[3]["ok_alpha"] and not rows[3]["ok_symbols"]
    assert rows[3]["symbol_ratio"] == 3.0  # 3 '#' per word, integer-exact
    assert not rows[4]["ok_word_len"] and rows[4]["mean_word_len"] == 2.0
    assert not rows[5]["ok_lines"] and rows[5]["bullet_frac"] == 1.0
    assert not rows[6]["ok_word_len"] and not rows[6]["gopher_pass"]
    # NULL-safe: ratios are NULL-guarded, flags never NULL
    assert all(
        r[f] is not None
        for r in rows.values()
        for f in ("ok_words", "ok_word_len", "ok_symbols", "ok_alpha",
                  "ok_stopwords", "ok_lines", "gopher_pass")
    )

    # NULL text measures like the empty document: zero words, NULL ratios,
    # gate fails — never a NULL-poisoned or negative fold
    nr = gopher_quality_rules(
        spark.createDataFrame([(9, None)], "doc_id long, text string"),
        "doc_id", "text",
    ).collect()[0]
    assert nr["n_words"] == 0 and nr["mean_word_len"] is None
    assert nr["gopher_pass"] is False


def test_near_dup_dedup_pipeline(spark):
    """One-call pipeline: LSH candidates -> Jaccard verify -> cluster ->
    drop. Exact copies and light edits collapse; distinct docs survive."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        near_dup_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, base),                                   # exact copy of 1
        (3, base + " today"),                        # light edit of 1
        (4, "completely different content about spark catalyst planning"),
        (5, "yet another unrelated document mentioning parquet row groups"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in near_dup_dedup(df, "doc_id", "text", threshold=0.5).collect())
    assert 1 in kept and 4 in kept and 5 in kept
    assert 2 not in kept            # exact dup always collapses
    assert kept == [1, 4, 5] or kept == [1, 3, 4, 5]  # 3 depends on banding luck
    # deterministic: same result on re-run
    kept2 = sorted(r["doc_id"] for r in near_dup_dedup(df, "doc_id", "text", threshold=0.5).collect())
    assert kept == kept2


def test_lsh_multi_probe_improves_recall(spark, embeddings):
    """Multi-probe must raise recall over single-bucket LSH and never emit
    duplicate (query, vector) rows."""
    from pyspark.sql import functions as F  # noqa: F811

    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(embeddings, queries, k=10).collect()
    }

    def recall(multi_probe):
        rows = lsh_bucketed_topk(
            embeddings, queries, k=10, n_planes=8, multi_probe=multi_probe
        ).collect()
        pairs = [(r.query_id, r.vec_id) for r in rows]
        assert len(pairs) == len(set(pairs)), "duplicate pairs emitted"
        return len(exact & set(pairs)) / len(exact)

    r0, r4 = recall(0), recall(4)
    # synthetic embeddings are near-random (within-label cosine max ~0.47),
    # so absolute recall is structurally low; the contract is monotone
    # improvement with probes and no regression below the 1-bucket floor
    assert r4 >= r0, f"multi-probe lowered recall: {r0} -> {r4}"
    assert r4 >= 0.15


def test_asof_join_semantics(spark):
    """As-of: latest right row at-or-before each left ts per key; ties on
    right_ts broken by greatest tiebreak; no prior right row -> NULLs."""
    from datetime import datetime

    from automotive_data_pipeline_demo_spark.operators.asof import asof_join

    ts = datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, "k1", ts("2025-01-10T00:00")),   # after both k1 quotes
         (2, "k1", ts("2025-01-02T12:00")),   # between quotes; inclusive <=
         (3, "k1", ts("2024-12-01T00:00")),   # before any quote -> NULL
         (4, "k2", ts("2025-01-10T00:00"))],  # tied quotes -> greatest qid
        "row_id long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k1", ts("2025-01-01T00:00"), 10.0, 100),
         ("k1", ts("2025-01-02T12:00"), 20.0, 101),   # equal ts: inclusive
         ("k2", ts("2025-01-05T00:00"), 30.0, 200),
         ("k2", ts("2025-01-05T00:00"), 40.0, 201)],  # tie on ts
        "key string, qts timestamp, price double, qid long",
    )
    out = {
        r["row_id"]: (r["matched_price"], r["matched_qid"])
        for r in asof_join(
            left, right, on=["key"], left_ts="ts", right_ts="qts",
            right_cols=["price", "qid"], tiebreak="qid",
        ).collect()
    }
    assert out[1] == (20.0, 101)
    assert out[2] == (20.0, 101)      # <= is inclusive
    assert out[3] == (None, None)     # nothing at or before
    assert out[4] == (40.0, 201)      # tie -> greatest qid wins


def test_range_join_bins_cover_boundaries(spark):
    """Binned interval join equals the naive range predicate, including
    pairs that straddle a bin boundary and exact window edges."""
    from datetime import datetime, timedelta

    from automotive_data_pipeline_demo_spark.operators.asof import range_join

    t0 = datetime(2025, 1, 1, 0, 0, 0)
    # window [+1s, +60s]; bin width 59s — craft pairs at edges and across bins
    lefts = [(i, "k", t0 + timedelta(seconds=s)) for i, s in
             enumerate([0, 30, 58, 59, 120])]
    rights = [(100 + i, "k", t0 + timedelta(seconds=s)) for i, s in
              enumerate([1, 59, 60, 61, 118, 121, 180, 240])]
    L = spark.createDataFrame(lefts, "lid long, key string, ts timestamp")
    R = spark.createDataFrame(rights, "rid long, key string, rts timestamp")

    got = {
        (r["lid"], r["r_rid"])
        for r in range_join(L, R, ["key"], "ts", "rts", 1, 60).collect()
    }
    expect = {
        (lid, rid)
        for lid, _, lts in lefts
        for rid, _, rts in rights
        if timedelta(seconds=1) <= rts - lts <= timedelta(seconds=60)
    }
    assert got == expect and expect, (got, expect)


def test_range_join_left_and_rejected_modes(spark):
    """how='left' must emit each zero-match left row exactly ONCE (the
    exploded bin copies must not each null-extend), and right/full are
    rejected outright."""
    from datetime import datetime, timedelta

    import pytest as _pytest

    from automotive_data_pipeline_demo_spark.operators.asof import range_join

    t0 = datetime(2025, 1, 1, 0, 0, 0)
    lefts = [(0, "k", t0), (1, "k", t0 + timedelta(seconds=300)),
             (2, "other", t0)]
    rights = [(100, "k", t0 + timedelta(seconds=30))]
    L = spark.createDataFrame(lefts, "lid long, key string, ts timestamp")
    R = spark.createDataFrame(rights, "rid long, key string, rts timestamp")

    out = range_join(L, R, ["key"], "ts", "rts", 1, 60, how="left").collect()
    by_lid: dict = {}
    for r in out:
        by_lid.setdefault(r["lid"], []).append(r["r_rid"])
    assert by_lid == {0: [100], 1: [None], 2: [None]}

    for bad in ("right", "full", "outer"):
        with _pytest.raises(ValueError, match="range_join supports"):
            range_join(L, R, ["key"], "ts", "rts", 1, 60, how=bad)


def test_approx_aggregates_within_tolerance(spark, sf_dir):
    """Sketch aggregates must land within their declared error of exact.

    a_approx computes the tolerance check in-query (hll_ok / median_ok
    flags, driver-oracled as constant 1); this test independently recomputes
    the exact aggregates and asserts the emitted exact columns agree and the
    flags hold."""
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

    spec = next(s for s in CATALOG if s.name == "a_approx")
    approx = {r["l_returnflag"]: r for r in spec.build(spark, sf_dir).collect()}

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        e = exact[flag]
        assert a["exact_orders"] == e["n"], flag
        assert a["n_rows"] == e["n_rows"], flag
        assert a["hll_ok"] == 1, f"{flag}: HLL drifted beyond 5x rsd"
        assert a["median_ok"] == 1, f"{flag}: approx median outside p45-p55"


def test_hash_split_deterministic_and_append_stable(spark, sf_dir):
    """Split assignment is a pure function of the id: re-running gives the
    same rows, and shrinking the corpus never reassigns survivors (the
    append-stability property random splits lack)."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", weights).collect()}
    again = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", weights).collect()}
    assert full == again
    half = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.filter("doc_id < 250"), "doc_id", weights).collect()
    }
    assert all(full[k] == v for k, v in half.items())
    n = len(full)
    train_frac = sum(1 for v in full.values() if v == "train") / n
    assert 0.7 < train_frac < 0.9
    assert set(full.values()) == {"train", "val", "test"}


def test_stratified_sample_fractions_and_subset(spark, sf_dir):
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default_fraction=0.2)
    rows = got.select("doc_id", "lang").collect()
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert {r["doc_id"] for r in rows} <= all_ids
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    totals = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    en_frac = len(by_lang.get("en", ())) / totals["en"]
    assert 0.35 < en_frac < 0.65
    for lang, total in totals.items():
        if lang != "en" and total >= 50:
            assert 0.05 < len(by_lang.get(lang, ())) / total < 0.35


def test_pack_sequences_matches_python_reference(spark, sf_dir):
    """Offset packing parity with a pure-Python greedy-concat reference, and
    the structural invariant: a doc's start offset lies inside its bin."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budget, shards = 256, 4
    got = pack_sequences(
        docs, "doc_id", "lang",
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))),
        budget=budget, n_shards=shards,
    ).collect()
    toks = {
        r["doc_id"]: len(r["text"].split())
        for r in docs.select("doc_id", "text").collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    expected = {}
    groups = {}
    for did in sorted(toks):
        groups.setdefault((langs[did], did % shards), []).append(did)
    for key, ids in groups.items():
        offset = 0
        for did in ids:
            expected[did] = offset // budget
            offset += toks[did]
    assert {r["id"]: r["seq_bin"] for r in got} == expected
    for r in got:
        assert r["shard"] == r["id"] % shards
        assert r["n_tokens"] == toks[r["id"]]


def test_ngram_repetition_known_values(spark):
    """Hand-computed trigram repetition: 'a b a b a b' has grams
    [aba, bab, aba, bab] -> 4 grams, 2 distinct, ratio 0.5; short docs
    (< n tokens) report zeros rather than nulls."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        ngram_repetition,
    )

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "w x y z"), (3, "a b"), (4, "")],
        "id long, text string",
    )
    g, d, r = ngram_repetition(F.col("text"), n=3)
    rows = {
        row["id"]: row
        for row in df.select(
            "id", g.alias("g"), d.alias("d"), r.alias("r")
        ).collect()
    }
    assert (rows[1]["g"], rows[1]["d"], rows[1]["r"]) == (4, 2, 0.5)
    assert (rows[2]["g"], rows[2]["d"], rows[2]["r"]) == (2, 2, 0.0)
    assert (rows[3]["g"], rows[3]["d"], rows[3]["r"]) == (0, 0, 0.0)
    assert (rows[4]["g"], rows[4]["d"], rows[4]["r"]) == (0, 0, 0.0)


def test_kmeans_lloyd_iterates_and_keeps_empty_cells(spark, embeddings):
    """Iterating must (a) be deterministic, (b) actually move assignments as
    centroids update, and (c) survive an empty cell by keeping its previous
    centroid rather than crashing or dropping the cell id."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_lloyd,
    )

    seeds = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    one = kmeans_lloyd(embeddings, seeds, n_iter=1)
    one_again = kmeans_lloyd(embeddings, seeds, n_iter=1)
    a = {r["vec_id"]: r["centroid_id"] for r in one.collect()}
    assert a == {r["vec_id"]: r["centroid_id"] for r in one_again.collect()}
    assert len(a) == embeddings.count()

    three = {r["vec_id"]: r["centroid_id"] for r in
             kmeans_lloyd(embeddings, seeds, n_iter=3).collect()}
    assert any(a[v] != three[v] for v in a), "3 iterations changed nothing"

    # empty-cell rule on a controlled 2-D corpus: every vector points into
    # the positive quadrant, so the (-1,-1)-direction seed gets no members
    # (cosine is direction-only) — its cell must persist without crashing
    # and still attract nothing after its centroid "update"
    corpus2d = spark.createDataFrame(
        [(i, [1.0 + (i % 5) * 0.1, 1.0 + (i // 5) * 0.1]) for i in range(25)],
        "vec_id long, embedding array<double>",
    )
    seeds2d = spark.createDataFrame(
        [(0, [1.0, 0.2]), (1, [0.2, 1.0]), (99, [-1.0, -1.0])],
        "centroid_id int, c_vec array<double>",
    )
    out = kmeans_lloyd(corpus2d, seeds2d, n_iter=2)
    got = {r["centroid_id"] for r in out.select("centroid_id").distinct().collect()}
    assert 99 not in got
    assert got <= {0, 1}
    assert out.count() == 25


def test_mixture_resample_proportions_and_stability(spark, sf_dir):
    """The resample must track the recipe within hash-bucket noise, drop
    unlisted groups, keep all of the binding (scarcest) group, stay stable
    under re-runs, and reject malformed weights."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        mixture_resample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    recipe = {"en": 400_000, "zh": 200_000, "es": 200_000, "fr": 200_000}
    out = mixture_resample(docs, "doc_id", "lang", recipe)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "de" not in counts                      # unlisted group dropped
    total = sum(counts.values())
    for g, w in recipe.items():
        assert abs(counts[g] / total - w / 1e6) < 0.05, (g, counts)

    again = mixture_resample(docs, "doc_id", "lang", recipe)
    ids = lambda d: {r["doc_id"] for r in d.select("doc_id").collect()}
    assert ids(out) == ids(again)

    # the scarcest group binds: its cut is the full bucket space
    n_fr = docs.filter("lang = 'fr'").count()
    assert counts["fr"] == n_fr

    import pytest

    with pytest.raises(ValueError, match="sum to 1_000_000"):
        mixture_resample(docs, "doc_id", "lang", {"en": 500_000})


def test_dedup_cluster_stats_mass_conservation(spark, sf_dir):
    """The histogram must account for every document exactly once
    (SUM(n_docs) = corpus size) and agree with the pipeline: survivors of
    near_dup_dedup = SUM(n_clusters) (one representative per cluster)."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        dedup_cluster_stats,
        near_dup_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = dedup_cluster_stats(docs, "doc_id", "text").collect()
    assert sum(r["n_docs"] for r in stats) == docs.count()
    assert all(r["n_docs"] == r["cluster_size"] * r["n_clusters"] for r in stats)
    survivors = near_dup_dedup(docs, "doc_id", "text").count()
    assert sum(r["n_clusters"] for r in stats) == survivors


def test_temperature_weights_flatten_toward_rare_groups(spark, sf_dir):
    """alpha=1 reproduces proportional shares; alpha=0.5 moves every
    rare-group share UP and the top-group share DOWN relative to
    proportional (the mT5 rule's whole point); weights are exact ppm."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        temperature_mixture,
        temperature_weights_ppm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = {r["lang"]: r["n"] for r in
         docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(n.values())

    prop = temperature_weights_ppm(docs, "lang", alpha=1.0)
    assert sum(prop.values()) == 1_000_000
    for g in n:
        assert abs(prop[g] / 1e6 - n[g] / total) < 1e-3, (g, prop)

    flat = temperature_weights_ppm(docs, "lang", alpha=0.5)
    assert sum(flat.values()) == 1_000_000
    top = max(n, key=n.get)
    rare = min(n, key=n.get)
    assert flat[top] < prop[top]
    assert flat[rare] > prop[rare]

    out = temperature_mixture(docs, "doc_id", "lang", alpha=0.5)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    tot_out = sum(got.values())
    for g, w in flat.items():
        assert abs(got[g] / tot_out - w / 1e6) < 0.05, (g, got)

    import pytest

    with pytest.raises(ValueError, match="alpha"):
        temperature_weights_ppm(docs, "lang", alpha=0.0)


def test_near_dup_against_index_flags_only_batch_vs_corpus(spark):
    """Incremental dedup must flag batch docs duplicating the corpus (with
    the right dup_of), ignore novel batch docs, and NOT report corpus-internal
    or batch-internal duplicates — those belong to other stages."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        build_band_index,
        near_dup_against_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame(
        [
            (0, base),
            (1, base + " tiny corpus variation"),  # corpus-internal near-dup of 0
            (2, "completely different corpus text about catalyst planning "
                "and distributed shuffle execution strategies"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, base + " fresh suffix words"),       # near-dup of corpus 0/1
            (101, base + " fresh suffix words again"), # batch-internal near-dup of 100
            (102, "entirely novel incoming document discussing streaming "
                  "watermarks and stateful aggregation semantics"),
        ],
        "doc_id long, text string",
    )
    index = build_band_index(corpus, "doc_id", "text")
    out = near_dup_against_index(
        batch, index, corpus, "doc_id", "text", threshold=0.5
    ).collect()
    flagged = {r["new_id"] for r in out}
    assert 100 in flagged and 101 in flagged
    assert 102 not in flagged
    for r in out:
        assert r["new_id"] >= 100 and r["dup_of"] < 100  # batch-vs-corpus only
        assert r["jaccard"] >= 0.5


def test_ngram_contamination_catches_verbatim_overlap(spark):
    """A corpus doc quoting 8+ consecutive benchmark words is flagged with
    the right benchmark id and shared-gram count; paraphrases (no 8-gram in
    common) and unrelated docs are not."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        ngram_contamination,
    )

    answer = "the capital of france is paris according to the atlas"
    bench = spark.createDataFrame(
        [(1000, answer), (1001, "an unrelated benchmark question entirely")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "some web page text saying " + answer + " and more prose"),
            (2, "paris is france's capital the atlas says"),  # paraphrase
            (3, "totally unrelated web document about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    out = {(r["id"], r["benchmark_id"]): r["n_shared"]
           for r in ngram_contamination(corpus, bench, "doc_id", "text", n=8).collect()}
    assert (1, 1000) in out and out[(1, 1000)] >= 3  # 10-word quote -> 3 8-grams
    assert all(cid != 2 and cid != 3 for cid, _ in out)
    assert all(bid != 1001 for _, bid in out)


def test_kmeans_and_mixture_input_validation(spark, sf_dir):
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        mixture_resample,
    )
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        kmeans_lloyd,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    empty_seeds = spark.createDataFrame([], "centroid_id int, c_vec array<double>")
    with pytest.raises(ValueError, match="at least one seed"):
        kmeans_lloyd(emb, empty_seeds)
    dup_seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.0, 1.0])], "centroid_id int, c_vec array<double>"
    )
    with pytest.raises(ValueError, match="ids must be unique"):
        kmeans_lloyd(emb, dup_seeds)
    with pytest.raises(ValueError, match="positive ppm"):
        mixture_resample(docs, "doc_id", "lang", {"en": 1_000_000, "de": 0})


def test_ccnet_bands_exact_and_approx_paths_agree(spark, sf_dir):
    """The percentile_approx scale path must label every doc, produce
    near-balanced bands, and agree with the rank-based exact path for the
    vast majority of docs (edges may differ by quantile approximation)."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        ccnet_bands,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {r["id"]: r["band"] for r in
             ccnet_bands(docs, "doc_id", "text", "lang", exact=True).collect()}
    approx = {r["id"]: r["band"] for r in
              ccnet_bands(docs, "doc_id", "text", "lang", exact=False).collect()}
    assert set(exact) == set(approx)
    agree = sum(1 for i in exact if exact[i] == approx[i]) / len(exact)
    assert agree >= 0.9, f"paths agree on only {agree:.0%}"
    from collections import Counter

    mix = Counter(exact.values())
    assert set(mix) == {"head", "middle", "tail"}
    assert max(mix.values()) - min(mix.values()) <= len(exact) * 0.05


def test_shard_manifest_detects_membership_changes(spark, sf_dir):
    """The manifest is re-run-deterministic, and dropping one document
    changes its shard's digest (and only its shard's) — the property a
    consumer relies on to verify delivery."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        pack_sequences,
        shard_manifest,
    )
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        token_count_ws,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def manifest(d):
        packed = pack_sequences(d, "doc_id", "lang", token_count_ws("text"),
                                budget=256, n_shards=4)
        return {
            (r["lang"], r["shard"], r["seq_bin"]): (r["n_docs"], r["id_digest"])
            for r in shard_manifest(packed, "lang").collect()
        }

    m1 = manifest(docs)
    assert m1 == manifest(docs)

    victim = docs.select("doc_id", "lang").first()
    m2 = manifest(docs.filter(F.col("doc_id") != victim["doc_id"]))
    changed = {k for k in m1 if k in m2 and m1[k] != m2[k]}
    assert changed, "dropping a doc must perturb at least its own shard"
    # every changed key is in the victim's (lang, shard) slot
    vshard = victim["doc_id"] % 4
    assert all(k[0] == victim["lang"] and k[1] == vshard for k in changed), changed


def test_duplicated_ngram_fraction_planted(spark):
    """Doc A and B share one 3-gram ('x y z'); C is fully unique; D is a
    verbatim copy of A (every gram duplicated)."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        duplicated_ngram_fraction,
    )

    rows = [
        (1, "x y z p q r"),       # grams: "x y z","y z p","z p q","p q r"
        (2, "m n x y z"),         # grams: "m n x","n x y","x y z"
        (3, "a b c d e"),         # no overlap with anyone
        (4, "x y z p q r"),       # copy of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in duplicated_ngram_fraction(df, "doc_id", "text", n=3).collect()
    }
    assert out[1]["n_grams"] == 4 and out[1]["n_dup_grams"] == 4  # copy of 4
    assert out[4]["n_dup_grams"] == 4
    assert out[2]["n_grams"] == 3 and out[2]["n_dup_grams"] == 1  # just "x y z"
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    assert abs(out[2]["dup_fraction"] - 1 / 3) < 1e-12


def test_dedup_corpus_best_keeps_argmax(spark):
    """Cluster {1,2,3} keeps the highest score (doc 2); tie in {10,11}
    breaks to the smaller id; unpaired doc 20 survives."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        dedup_corpus_best,
    )

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0), (10, 4.0), (11, 4.0), (20, 1.0)],
        ["doc_id", "score"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_corpus_best(docs, pairs, "doc_id", "score").collect()
    )
    assert kept == [2, 10, 20]


def test_dedup_corpus_best_idempotent(spark):
    """Re-running the keep-best pipeline on its own survivor set must drop
    nothing (the verified-pair graph over survivors is empty)."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        dedup_corpus_best,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base + f" tail {i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text")
    )

    def run(d):
        cand = minhash_candidate_pairs(d, "doc_id", "text", 8, 2, 3)
        ver = ngram_jaccard_pairs(
            d, "doc_id", "text", threshold=0.8, shingle_n=3, candidates=cand
        )
        return dedup_corpus_best(d, ver, "doc_id", "n_chars")

    once = run(docs)
    twice = run(once)
    assert once.count() == twice.count()
    a = {r["doc_id"] for r in once.collect()}
    b = {r["doc_id"] for r in twice.collect()}
    assert a == b


def test_top_fraction_per_group_planted(spark):
    """Two groups of 4: fraction 0.5 keeps the top-2 by score (ties at the
    threshold kept); thresholds broadcast, corpus side unshuffled."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        top_fraction_per_group,
    )

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 30), ("a", 4, 40),
         ("b", 5, 1), ("b", 6, 1), ("b", 7, 1), ("b", 8, 9)],
        ["grp", "id", "score"],
    )
    kept = top_fraction_per_group(df, "grp", "score", 0.5)
    by_grp = {}
    for r in kept.collect():
        by_grp.setdefault(r["grp"], set()).add(r["id"])
    assert by_grp["a"] == {3, 4}       # >= interpolated p50 (25.0)
    # ties at the threshold are kept: p50 of (1,1,1,9) = 1.0 and every
    # score is >= 1.0, so the whole group survives — documented semantics
    assert by_grp["b"] == {5, 6, 7, 8}
    import pytest as _pt
    with _pt.raises(ValueError):
        top_fraction_per_group(df, "grp", "score", 0.0).collect()

    # score columns whose names need quoting go through the Column API,
    # not SQL-string interpolation
    odd = df.withColumnRenamed("score", "quality score")
    kept_odd = {r["id"] for r in
                top_fraction_per_group(odd, "grp", "quality score", 0.5).collect()}
    assert kept_odd == {3, 4, 5, 6, 7, 8}


def test_curation_funnel_monotone(spark, sf_dir):
    """Stage counts must be a (weakly) decreasing funnel, starting at the
    corpus-slice size."""
    from automotive_data_pipeline_demo_spark.plans.catalog import (
        q_x_curation_funnel,
    )

    rows = {r["stage_no"]: r["n_docs"]
            for r in q_x_curation_funnel(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[1] >= rows[2] >= rows[3] >= rows[4]
    assert rows[1] > 0 and rows[4] > 0


def test_funnel_ordered_is_order_sensitive(spark, sf_dir):
    """A purchase BEFORE the first view must not count as full-funnel: the
    fold advances only on the next stage in sequence."""
    from automotive_data_pipeline_demo_spark.plans.catalog import (
        q_a_funnel_ordered,
    )
    from datetime import datetime

    rows = [
        # user 1: signup -> view -> purchase (full funnel)
        (1, datetime(2024, 1, 1, 0), "signup"),
        (1, datetime(2024, 1, 1, 1), "view"),
        (1, datetime(2024, 1, 1, 2), "purchase"),
        # user 2: purchase first, then signup -> view (depth 2, no funnel)
        (2, datetime(2024, 1, 1, 0), "purchase"),
        (2, datetime(2024, 1, 1, 1), "signup"),
        (2, datetime(2024, 1, 1, 2), "view"),
        # user 3: never signs up (depth 0)
        (3, datetime(2024, 1, 1, 0), "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    import tempfile, os
    d = tempfile.mkdtemp()
    df.select(
        F.monotonically_increasing_id().alias("event_id"), "ts", "user_id",
        "event_type", F.lit(1.0).alias("value"), F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = q_a_funnel_ordered(spark, d).collect()[0]
    assert (out["n_users"], out["n_signup"], out["n_signup_view"],
            out["n_full_funnel"]) == (3, 2, 2, 1)


def test_chunk_tokens_overlap_and_edges(spark):
    """10 tokens, chunk 4 / stride 3: starts 0,3,6,9 — overlapping windows,
    a short tail chunk, and no rows for the empty doc."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        chunk_tokens,
    )

    toks = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = spark.createDataFrame([(1, toks), (2, "")], ["doc_id", "text"])
    rows = sorted(
        (r["id"], r["chunk_idx"], r["n_tokens"])
        for r in chunk_tokens(df, "doc_id", "text", 4, 3).collect()
    )
    assert rows == [(1, 0, 4), (1, 1, 4), (1, 2, 4), (1, 3, 1)]

    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_tokens(df, "doc_id", "text", chunk_size=4, stride=5)


def test_quantized_recall_and_zero_vector(spark, embeddings):
    """Int8 quantization must preserve the neighborhood structure far
    better than LSH bucketing (it only perturbs scores ~1/254), and the
    all-zero vector must quantize to NULL codes, not divide by zero."""
    from automotive_data_pipeline_demo_spark.extensions.quantization import (
        quantize_int8,
        quantized_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=10)
    quant = quantized_topk(embeddings, queries, k=10)
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    quant_pairs = {(r["query_id"], r["vec_id"]) for r in quant.collect()}
    recall = len(exact_pairs & quant_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"int8 recall {recall} — quantization too lossy"

    zero = spark.createDataFrame(
        [Row(vec_id=0, embedding=[0.0, 0.0, 0.0])]
    ).select(quantize_int8(F.col("embedding")).alias("qv"))
    codes = zero.collect()[0]["qv"]
    assert all(c is None for c in codes), codes


def test_hashed_linear_score_weights_override_and_empty_doc(spark):
    """The trained-weights path folds a {bucket: weight} table into the
    plan as a literal map; empty docs get NULL logit and keep=0."""
    from automotive_data_pipeline_demo_spark.extensions.classifier import (
        _bucket,
        hashed_linear_score,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta alpha"), Row(doc_id=2, text="...")]
    )
    buckets = {
        r["t"]: r["b"]
        for r in spark.createDataFrame(
            [Row(t="alpha"), Row(t="beta")]
        ).select("t", _bucket(F.col("t"), 64).alias("b")).collect()
    }
    weights = {buckets["alpha"]: 10, buckets["beta"]: -4}
    out = {
        r["id"]: r
        for r in hashed_linear_score(
            docs, "doc_id", "text", n_buckets=64, threshold=0.0,
            weights=weights,
        ).collect()
    }
    assert out[1]["raw_score"] == 2 * 10 - 4
    assert out[1]["n_tok"] == 3
    assert out[1]["keep"] == 1
    # doc 2 tokenizes to nothing: NULL logit, keep=0, zero raw score
    assert out[2]["n_tok"] == 0
    assert out[2]["quality_logit"] is None
    assert out[2]["keep"] == 0


def test_containment_dominates_jaccard_and_flags_subsets(spark):
    """Overlap coefficient >= Jaccard on every pair, and a doc fully
    embedded in a larger one scores containment 1.0 while Jaccard stays
    below a dedup threshold."""
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"extra{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.0, shingle_n=3, max_doc_freq=None
    ).collect()
    con = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.0, shingle_n=3, max_doc_freq=None,
        metric="containment",
    ).collect()
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac}
    c = {(r["id_a"], r["id_b"]): r["containment"] for r in con}
    assert c[(1, 2)] == 1.0          # small is verbatim inside big
    assert j[(1, 2)] < 0.8           # Jaccard dilutes the embedded doc
    assert all(c[k] >= j[k] for k in j)


def test_interleave_sources_round_robin(spark, sf_dir):
    """Within every shard, the first m positions (m = sources present in
    the shard) are one row from EACH source — the anti-run guarantee."""
    from automotive_data_pipeline_demo_spark.extensions.sampling import (
        interleave_sources,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = interleave_sources(docs, "doc_id", "source", n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 4
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))
        m = len({r["source"] for r in rows})
        head = [r["source"] for r in rows[:m]]
        assert len(set(head)) == m, (shard, head)


def test_minhash_bucket_cap_suppresses_boilerplate_cohort(spark):
    """A bucket larger than max_bucket_size is dropped before pair
    expansion (the candidate-stage fan-out bound); distinct docs keep
    pairing through their other buckets."""
    boiler = "identical boilerplate text repeated across the whole cohort"
    rows = [(i, boiler) for i in range(12)]
    rows += [(100, "unique document alpha beta gamma delta epsilon zeta eta"),
             (101, "unique document alpha beta gamma delta epsilon zeta eta!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(
            df, "doc_id", "text", max_bucket_size=11
        ).collect()
    }
    # the 12-doc boilerplate cohort (identical text -> identical buckets of
    # size 12) is suppressed; the near-dup pair of unique docs survives
    assert (100, 101) in capped
    assert not any(a < 12 and b < 12 for a, b in capped)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(
            df, "doc_id", "text", max_bucket_size=None
        ).collect()
    }
    assert (0, 1) in uncapped and (100, 101) in uncapped


def test_rerank_recovers_exact_topk(spark, embeddings):
    """With prefetch=50 the two-stage retrieval should recover (nearly)
    the exact float top-10, and every emitted score must equal the
    brute-force score for that pair (stage 2 is exact)."""
    from automotive_data_pipeline_demo_spark.extensions.quantization import (
        quantized_rerank_topk,
    )

    queries = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=10)
    rerank = quantized_rerank_topk(embeddings, queries, k=10, prefetch=50)
    exact_rows = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    rr_rows = {(r["query_id"], r["vec_id"]): r["score"] for r in rerank.collect()}
    recall = len(set(exact_rows) & set(rr_rows)) / len(exact_rows)
    assert recall >= 0.9, f"rerank recall {recall}"
    for pair, s in rr_rows.items():
        if pair in exact_rows:
            assert abs(s - exact_rows[pair]) < 1e-9


def test_minhash_estimate_tracks_true_jaccard(spark):
    """Exact copies estimate 1.0; near-dups estimate high; the estimator
    never emits pairs outside the candidate set."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        minhash_jaccard_estimate,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base + " small tail change here"),
         (3, "entirely different words about catalyst shuffle exchanges")],
        "doc_id long, text string",
    )
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_jaccard_estimate(docs, "doc_id", "text").collect()
    }
    assert est[(0, 1)] == 1.0                   # exact copy: all mins agree
    assert est.get((0, 2), 0.0) >= 0.5          # near-dup: most mins agree
    assert not any(3 in p for p in est)         # unrelated never a candidate


def test_pit_join_no_leakage_and_interval_guard(spark):
    """Point-in-time: each fact gets the dimension version valid AT its
    timestamp — never a later one (leakage) — with the open interval
    current, pre-history facts unmatched, and the guard flagging a
    malformed (gapped) timeline."""
    from datetime import datetime

    from automotive_data_pipeline_demo_spark.operators.asof import pit_join

    ts = datetime.fromisoformat
    scd2 = spark.createDataFrame(
        [
            (1, ts("2025-01-01"), ts("2025-02-01"), "bronze"),
            (1, ts("2025-02-01"), None, "gold"),
            # key 2: gap between versions (malformed dimension)
            (2, ts("2025-01-01"), ts("2025-01-10"), "bronze"),
            (2, ts("2025-03-01"), None, "silver"),
        ],
        "cust long, valid_from timestamp, valid_to timestamp, tier string",
    )
    facts = spark.createDataFrame(
        [
            (1, ts("2024-12-30")),  # before any version
            (1, ts("2025-01-15")),  # inside v1
            (1, ts("2025-02-01")),  # boundary: v2 starts (half-open)
            (1, ts("2025-06-01")),  # open interval
            (2, ts("2025-02-01")),  # falls in the GAP
        ],
        "cust long, event_ts timestamp",
    )
    out = {
        (r["cust"], r["event_ts"].isoformat()): (r["matched_tier"], r["pit_valid"])
        for r in pit_join(
            facts, scd2, on=["cust"], left_ts="event_ts", right_cols=["tier"]
        ).collect()
    }
    assert out[(1, "2024-12-30T00:00:00")] == (None, None)
    assert out[(1, "2025-01-15T00:00:00")] == ("bronze", 1)
    assert out[(1, "2025-02-01T00:00:00")] == ("gold", 1)
    assert out[(1, "2025-06-01T00:00:00")] == ("gold", 1)
    assert out[(2, "2025-02-01T00:00:00")] == ("bronze", 0)  # gap flagged


def test_dq_report_counts_planted_violations(spark):
    """Each expectation counts exactly its planted violations: one NULL
    key, one duplicate PK, one negative amount, one FK orphan — and a NULL
    FK key is NOT an orphan (SQL semantics)."""
    from automotive_data_pipeline_demo_spark.operators.quality import dq_report

    facts = spark.createDataFrame(
        [
            (1, 10, 5.0),
            (1, 11, 6.0),      # duplicate PK
            (2, None, 7.0),    # NULL fk key (not an orphan)
            (3, 99, -1.0),     # range violation + FK orphan
        ],
        "pk long, cust long, amt double",
    )
    dim = spark.createDataFrame([(10,), (11,)], "c long")
    out = {
        r["check_name"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in dq_report(
            facts,
            not_null=("cust",),
            unique=("pk",),
            ranges=(("amt_nonneg", F.col("amt") >= 0),),
            fk=(("cust",), dim, ("c",)),
        ).collect()
    }
    assert out["not_null:cust"] == (4, 1, 0)
    assert out["unique:pk"] == (4, 1, 0)
    assert out["range:amt_nonneg"] == (4, 1, 0)
    assert out["fk:cust"] == (4, 1, 0)

    clean = dq_report(dim, not_null=("c",), unique=("c",))
    assert all(r["passed"] == 1 for r in clean.collect())


def test_tokenize_to_ids_unk_and_order(spark):
    """IDs follow frequency order (1 = most frequent), OOV maps to 0, and
    the sequence preserves document token order."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        tokenize_to_ids,
    )

    docs = spark.createDataFrame(
        [(0, "b a b c b a rare"), (1, "a b")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in
           tokenize_to_ids(docs, "doc_id", "text", vocab_size=3).collect()}
    # corpus counts: b=4, a=3, c=1 -> ids b=1, a=2, c=3; 'rare' OOV -> 0
    assert out[0]["ids"] == "1,2,1,3,1,2,0"
    assert out[0]["n_tok"] == 7
    assert out[1]["ids"] == "2,1"


def test_image_dimensions_real_headers(spark):
    """image_dimensions against byte-exact real file headers: a valid
    1-pixel PNG header, a GIF89a screen descriptor, a BMP info header,
    plus JPEG and garbage (-> NULL format, routed to decode_media)."""
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00" + b"\x00" * 8)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    gif87 = b"GIF87a" + struct.pack("<HH", 12, 34) + b"\x80\x00\x00"
    bmp = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
           + struct.pack("<IiiHH", 40, 1024, 768, 1, 24) + b"\x00" * 16)
    jpeg = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + b"\x00" * 16
    junk = b"not an image at all, just bytes"

    df = spark.createDataFrame(
        [(1, png), (2, gif), (3, gif87), (4, bmp), (5, jpeg), (6, junk)],
        schema="id int, payload binary",
    )
    from automotive_data_pipeline_demo_spark.extensions.multimodal import (
        image_dimensions,
    )

    rows = {
        r["id"]: r
        for r in df.select("id", image_dimensions(F.col("payload")).alias("m"))
        .select("id", "m.*")
        .collect()
    }
    assert (rows[1]["format"], rows[1]["width"], rows[1]["height"]) == ("png", 640, 480)
    assert (rows[2]["format"], rows[2]["width"], rows[2]["height"]) == ("gif", 320, 200)
    assert (rows[3]["format"], rows[3]["width"], rows[3]["height"]) == ("gif", 12, 34)
    assert (rows[4]["format"], rows[4]["width"], rows[4]["height"]) == ("bmp", 1024, 768)
    assert rows[5]["format"] is None and rows[5]["width"] is None
    assert rows[6]["format"] is None and rows[6]["height"] is None


def test_image_dimensions_truncated_and_topdown(spark):
    """Robustness (ADVICE r4): magic-intact-but-truncated headers return the
    NULL-format row, never garbage dims; BMP top-down DIBs (negative signed
    biHeight) surface as the positive pixel height."""
    import struct

    png_trunc = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + b"\x02"
    gif_trunc = b"GIF89a" + b"\x40"
    bmp_trunc = b"BM" + struct.pack("<IHHI", 70, 0, 0, 54) + b"\x00" * 6
    bmp_topdown = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
                   + struct.pack("<Iii", 40, 1024, -768)
                   + struct.pack("<HH", 1, 24) + b"\x00" * 16)

    from automotive_data_pipeline_demo_spark.extensions.multimodal import (
        image_dimensions,
    )

    df = spark.createDataFrame(
        [(1, png_trunc), (2, gif_trunc), (3, bmp_trunc), (4, bmp_topdown)],
        schema="id int, payload binary",
    )
    rows = {
        r["id"]: r
        for r in df.select("id", image_dimensions(F.col("payload")).alias("m"))
        .select("id", "m.*")
        .collect()
    }
    for i in (1, 2, 3):
        assert rows[i]["format"] is None and rows[i]["width"] is None, i
    assert (rows[4]["format"], rows[4]["width"], rows[4]["height"]) == (
        "bmp", 1024, 768,
    )


def test_image_dimensions_bmp_edge_headers(spark):
    """BMP edge cases (ADVICE r5): biHeight = INT32_MIN has magnitude 2^31,
    unrepresentable as int — dims go NULL under the 'bmp' tag instead of
    wrapping negative; a 12-byte BITMAPCOREHEADER (16-bit dims at a
    different offset) must NOT be parsed as BITMAPINFOHEADER — it routes to
    the NULL-format/decode_media path; an over-limit PNG width NULLs the
    PNG dims the same way."""
    import struct

    from automotive_data_pipeline_demo_spark.extensions.multimodal import (
        image_dimensions,
    )

    bmp_hmin = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
                + struct.pack("<Iii", 40, 1024, -(1 << 31))
                + struct.pack("<HH", 1, 24) + b"\x00" * 16)
    bmp_core = (b"BM" + struct.pack("<IHHI", 38, 0, 0, 26)
                + struct.pack("<IHHHH", 12, 320, 200, 1, 24) + b"\x00" * 16)
    bmp_wide = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
                + struct.pack("<IIi", 40, (1 << 31) + 5, 600)
                + struct.pack("<HH", 1, 24) + b"\x00" * 16)
    png_wide = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + struct.pack(">II", (1 << 31) + 5, 480) + b"\x00" * 8)

    df = spark.createDataFrame(
        [(1, bmp_hmin), (2, bmp_core), (3, bmp_wide), (4, png_wide)],
        schema="id int, payload binary",
    )
    rows = {
        r["id"]: r
        for r in df.select("id", image_dimensions(F.col("payload")).alias("m"))
        .select("id", "m.*")
        .collect()
    }
    assert rows[1]["format"] == "bmp"
    assert rows[1]["width"] is None and rows[1]["height"] is None
    assert rows[2]["format"] is None and rows[2]["width"] is None
    assert rows[3]["format"] == "bmp"
    assert rows[3]["width"] is None and rows[3]["height"] is None
    assert rows[4]["format"] == "png"
    assert rows[4]["width"] is None and rows[4]["height"] is None


def test_cms_heavy_hitters_invariants(spark, sf_dir):
    """CMS estimates can only overestimate, and on a corpus far smaller
    than the grid (no forced collisions) the top-term estimate is exact."""
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

    spec = next(s for s in CATALOG if s.name == "a_cms_heavy_hitters")
    rows = spec.build(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["over_estimate"] for r in rows)
    assert all(r["cms_estimate"] >= r["exact_cnt"] for r in rows)


def test_nfc_normalize_planted_forms(spark):
    """Composed and decomposed forms converge; exact-dedup hashes agree
    after normalization and disagree before."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        nfc_normalize_text,
    )

    composed = "café résumé"
    decomposed = "café résumé"
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, None)], "id int, text string"
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            nfc_normalize_text("text").alias("norm"),
            F.md5(nfc_normalize_text("text")).alias("h"),
            F.md5("text").alias("raw_h"),
        ).collect()
    }
    assert out[1]["norm"] == out[2]["norm"] == composed
    assert out[1]["h"] == out[2]["h"]
    assert out[1]["raw_h"] != out[2]["raw_h"]
    assert out[3]["norm"] is None


def test_hist_quantiles_containment(spark, sf_dir):
    """The exact quantile must land inside its histogram bin (hard
    invariant of the two-pass selection), and estimates bracket it."""
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

    spec = next(s for s in CATALOG if s.name == "a_hist_quantiles")
    rows = {r["percent"]: r for r in spec.build(spark, sf_dir).collect()}
    assert set(rows) == {50, 90, 99}
    for r in rows.values():
        assert r["within_bin"]
        assert r["est_lo_cents"] <= r["exact_cents"] <= r["est_hi_cents"]
    assert rows[50]["exact_cents"] <= rows[90]["exact_cents"] <= rows[99]["exact_cents"]


def test_group_split_integrity(spark, sf_dir):
    """Every document of a group lands in exactly one split — the
    leakage-safety property per-row splitting cannot give."""
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

    spec = next(s for s in CATALOG if s.name == "x_sample_group_split")
    out = spec.build(spark, sf_dir)
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.filter(F.col("n_splits") > 1).count() == 0


def test_bm25_planted_ranking(spark):
    """A doc saturated with a rare query term must outrank one that merely
    mentions it; docs without any query term are absent; dl is the full
    token length (not just query-term hits)."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "zebra zebra zebra yak"),
            (2, "zebra cow cow cow cow cow cow cow"),
            (3, "cow cow cow"),
            (4, "yak hut"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["zebra", "yak"], k=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 3 not in rows  # no query term
    assert rows[1]["dl"] == 4 and rows[2]["dl"] == 8
    # doc 1: 3x zebra + 1x yak in a short doc beats everything
    assert rows[1]["score"] > rows[4]["score"] > rows[2]["score"]

    # empty query is a caller error, not an IndexError (ADVICE r4)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="query_terms"):
        bm25_topk(docs, "doc_id", "text", [], k=10)


def test_bm25_release_caches_frees_counter_frame(spark):
    """bm25_topk persists a counter frame both plan branches read; the
    returned frame is tagged so a long-lived session can release it after
    its action. release_caches drops the persisted blocks, is idempotent,
    and is a no-op on untagged frames."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        bm25_topk,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "zebra yak"), (2, "cow zebra"), (3, "hut")],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, "doc_id", "text", ["zebra"], k=5)
    assert out.count() == 2  # the terminal action materializes the cache
    # assert on the operator's OWN tagged frames, not the session-global
    # persistent-RDD count: earlier tests' lazy localCheckpoint RDDs
    # (distributed connected-components rounds) are released by the JVM
    # ContextCleaner on GC, so a global-zero assertion is order/GC-racy
    held = list(getattr(out, "_graft_persisted"))
    assert len(held) == 1 and held[0].is_cached  # the counter frame
    assert release_caches(out, blocking=True) == 1
    assert not held[0].is_cached
    assert release_caches(out) == 0  # idempotent
    assert release_caches(docs) == 0  # untagged frame: no-op


def test_curation_e2e_release_caches(spark):
    """Both curation DAG modes tag their persisted stage frames on the
    returned audit frame (3 stage frames + the dedup stage's internal
    holdings, adopted — 1 collapsed set-group table uncapped, 2 in the
    capped path: shared shingle table + verified pairs)."""
    from automotive_data_pipeline_demo_spark.plans.catalog_recent_extensions import (
        q_x_curation_e2e,
        q_x_curation_e2e_capped,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    for build, n_held in ((q_x_curation_e2e, 4), (q_x_curation_e2e_capped, 5)):
        spark.catalog.clearCache()
        out = build(spark, "/root/testdata/sf0.001")
        assert out.count() == 10
        # Checked via the tag, not getPersistentRDDs().size() == 0:
        # earlier tests' lazy localCheckpoint RDDs are GC-collected, so
        # the global count is order/GC-racy.
        held = list(getattr(out, "_graft_persisted"))
        assert len(held) == n_held and all(f.is_cached for f in held)
        assert release_caches(out, blocking=True) == n_held
        assert all(not f.is_cached for f in held)


def test_planted_gate_cohort_thresholds(spark):
    """The planted published-Gopher cohort hits exactly its design: all
    16 docs pass the corpus-tuned chain gate (min_words=20,
    min_stop_hits=1); only the 6 long stopword-rich docs pass the
    PUBLISHED Rae et al. gate (50/2); the 5 short docs fail ONLY
    min_words and the 5 stopword-poor docs fail ONLY min_stop_hits —
    every other published rule passes for all 16, so the registered
    entries' gopher_ok vs gopher_published stage delta is attributable
    to precisely the two published thresholds."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        gopher_quality_rules,
    )
    from automotive_data_pipeline_demo_spark.plans.catalog_recent_extensions import (
        _planted_gate_docs,
    )

    docs = _planted_gate_docs()
    assert len(docs) == 16 and all(i < 0 for i, _ in docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tuned = {r["id"]: r for r in gopher_quality_rules(
        df, "doc_id", "text", min_words=20, min_stop_hits=1).collect()}
    pub = {r["id"]: r for r in gopher_quality_rules(
        df, "doc_id", "text").collect()}  # published defaults: 50 / 2
    assert all(r["gopher_pass"] for r in tuned.values())
    assert sum(r["gopher_pass"] for r in pub.values()) == 6
    for i, r in pub.items():
        # the non-threshold rules pass for every planted doc
        assert r["ok_word_len"] and r["ok_symbols"] and r["ok_alpha"], i
        if not r["gopher_pass"]:
            assert (not r["ok_words"]) != (not r["ok_stopwords"]), i

    # and the registered entry carries the delta end to end
    from automotive_data_pipeline_demo_spark.plans.catalog_recent_extensions import (
        q_x_curation_e2e,
    )
    stages = {r["stage"]: r["n_rows"]
              for r in q_x_curation_e2e(spark, "/root/testdata/sf0.001").collect()}
    assert stages["gopher_published"] == 6
    assert stages["gopher_ok"] > stages["gopher_published"]


def test_curation_e2e_capped_stage_parity(spark):
    """At test scale the production caps (bucket <= 5000, shingle df <=
    1000) never bind, so the capped DAG's audit rows must equal the
    parity mode's — pinning that the capped code path (banded candidates
    without cohort collapse, capped verify universe) computes the same
    stages."""
    from automotive_data_pipeline_demo_spark.plans.catalog_recent_extensions import (
        q_x_curation_e2e,
        q_x_curation_e2e_capped,
    )

    spark.catalog.clearCache()
    sf = "/root/testdata/sf0.001"
    uncapped = {(r.stage_no, r.stage): r.n_rows
                for r in q_x_curation_e2e(spark, sf).collect()}
    capped = {(r.stage_no, r.stage): r.n_rows
              for r in q_x_curation_e2e_capped(spark, sf).collect()}
    assert uncapped == capped
    # every stage is non-trivial: monotone non-increasing doc counts and
    # a real drop somewhere before packing
    by_no = [uncapped[k] for k in sorted(uncapped)]
    assert by_no[0] > 0 and by_no[6] < by_no[5] <= by_no[0]


def test_embedding_dim_stats_exact_on_known_vectors(spark):
    """Quantized mean/mean_sq must be exact for values representable in
    1/2^20 units, and min/max are the true extremes."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_dim_stats,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [3.0, 0.5]), (3, [5.0, 1.5])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["dim"]: r for r in embedding_dim_stats(df).collect()}
    assert rows[0]["n"] == 3 and rows[1]["n"] == 3
    assert rows[0]["mean"] == 3.0 and rows[0]["mean_sq"] == 35.0 / 3
    assert rows[1]["mean"] == 0.0
    assert rows[0]["min_v"] == 1.0 and rows[0]["max_v"] == 5.0
    assert rows[1]["min_v"] == -2.0 and rows[1]["max_v"] == 1.5


def test_source_drift_zero_for_identical_distributions(spark):
    """A source whose bin distribution equals the corpus marginal must
    report (near-)zero drift; a disjoint-length source must not."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        source_drift_report,
    )

    rows = []
    # two sources with the SAME length profile, one wildly different
    for src in ("a", "b"):
        rows += [(src, 50)] * 10 + [(src, 250)] * 10
    rows += [("c", 950)] * 20
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = {r["source"]: r for r in
           source_drift_report(df, "source", "n_chars").collect()}
    assert out["a"]["n_docs"] == 20
    # a and b match each other but not the corpus (c skews the marginal);
    # by symmetry their drift is equal, and c's is strictly larger
    assert abs(out["a"]["tvd"] - out["b"]["tvd"]) < 1e-9
    assert out["c"]["tvd"] > out["a"]["tvd"] > 0
    assert out["c"]["chi2"] > out["a"]["chi2"]


def test_corpus_snapshot_diff_classification(spark):
    """Planted add/remove/change/unchanged cases classify correctly and
    sources with no surviving id still appear via the coalesced group."""
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        corpus_snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", "keep"), (2, "a", "old text"), (3, "b", "gone")],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(1, "a", "keep"), (2, "a", "new text"), (4, "b", "fresh")],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in
           corpus_snapshot_diff(old, new, "doc_id", "text").collect()}
    assert out["a"]["n_unchanged"] == 1 and out["a"]["n_changed"] == 1
    assert out["b"]["n_removed"] == 1 and out["b"]["n_added"] == 1
    assert out["a"]["n_added"] == 0 and out["a"]["n_removed"] == 0


def test_collapsed_pair_graph_matches_per_id_chain(spark):
    """The uncapped collapsed-cohort route must produce the same
    components (hence the same survivors and cluster stats) as the
    per-id banded chain: exact-copy cohorts, a cross-cohort near-dup
    bridge, and untouched singletons."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        collapsed_pair_graph,
        connected_components,
        dedup_corpus,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
        shingle_arrays,
    )

    body = "the quick brown fox jumps over the lazy dog again and again"
    near = body + " extra"
    rows = (
        [(i, body) for i in range(5)]            # 5-copy cohort
        + [(10 + i, near) for i in range(3)]     # 3-copy near-dup cohort
        + [(20, "completely unrelated text about turnips and parsnips"),
           (21, "another standalone document body with no twin at all")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    arrs = shingle_arrays(docs, "doc_id", "text", 3).persist()
    per_id = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3,
        candidates=minhash_candidate_pairs(
            docs, "doc_id", "text", 8, 2, 3,
            max_bucket_size=None, shingles=arrs,
        ),
        max_doc_freq=None, shingle_arrays_df=arrs,
    )
    want = {
        (r.id, r.component)
        for r in connected_components(per_id, "id_a", "id_b").collect()
    }
    edges = collapsed_pair_graph(docs, "doc_id", "text", threshold=0.5)
    got = {
        (r.id, r.component)
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert want and got == want
    # and the public pipeline (caps None -> collapsed route) keeps the
    # same survivors as dedup over the per-id pairs
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        near_dup_dedup,
    )

    kept_collapsed = sorted(
        r.doc_id for r in near_dup_dedup(
            docs, "doc_id", "text", threshold=0.5,
            max_doc_freq=None, max_bucket_size=None,
        ).collect()
    )
    kept_per_id = sorted(
        r.doc_id for r in dedup_corpus(
            docs, per_id, "doc_id", a_col="id_a", b_col="id_b"
        ).collect()
    )
    assert kept_collapsed == kept_per_id


def test_image_dimensions_extended_dib_headers(spark):
    """ADVICE r6: every >=40-byte DIB header (BITMAPV2/V3/OS2v2/V4/V5 =
    52/56/64/108/124) extends BITMAPINFOHEADER's first 40 bytes, so
    width/height parse at offsets 18/22 exactly as for size-40 headers;
    only the sub-40 core-header shapes route to decode_media."""
    import struct

    from automotive_data_pipeline_demo_spark.extensions.multimodal import (
        image_dimensions,
    )

    def bmp(dib_size: int) -> bytes:
        return (
            b"BM" + struct.pack("<IHHI", 14 + dib_size + 12, 0, 0, 14 + dib_size)
            + struct.pack("<Iii", dib_size, 800, 600)
            + struct.pack("<HH", 1, 24) + b"\x00" * (dib_size - 16)
        )

    rows_in = [(s, bmp(s)) for s in (40, 52, 56, 64, 108, 124)]
    df = spark.createDataFrame(rows_in, schema="id int, payload binary")
    rows = {
        r["id"]: r
        for r in df.select("id", image_dimensions(F.col("payload")).alias("m"))
        .select("id", "m.*")
        .collect()
    }
    for s in (40, 52, 56, 64, 108, 124):
        assert (rows[s]["format"], rows[s]["width"], rows[s]["height"]) == (
            "bmp", 800, 600,
        ), s


def test_line_dedup_preserves_blank_lines(spark):
    """ADVICE r6: the empty line (paragraph separator) appears in nearly
    every multi-paragraph corpus, so it must never enter the hot set —
    otherwise min_doc_freq=2 strips ALL blank lines and collapses
    paragraph structure ('a\\n\\nb' -> 'a\\nb'). Non-empty shared lines
    still drop."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta\nFOOTER"),
            (2, "gamma\n\ndelta\nFOOTER"),
            (3, "\n\n"),  # all-blank doc: untouched
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in line_dedup(docs, "doc_id", "text", min_doc_freq=2).collect()
    }
    assert rows[1]["cleaned_text"] == "alpha\n\nbeta"
    assert rows[1]["n_removed"] == 1  # FOOTER only, never the blank
    assert rows[2]["cleaned_text"] == "gamma\n\ndelta"
    assert rows[3]["cleaned_text"] == "\n\n" and rows[3]["n_removed"] == 0


def test_ngram_jaccard_pairs_tags_all_persisted_frames(spark):
    """ADVICE r6: the operator's internal persists are tracked in an
    explicit held list at each persist() site (not locals()-by-name), so
    every mode's cached frames are tagged on the result and released by
    release_caches."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        ngram_jaccard_pairs,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six"),
            (2, "one two three four five seven"),
            (3, "eight nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")

    # (a) no candidates, uncapped: the collapsed set-group table persists
    spark.catalog.clearCache()
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.1, max_doc_freq=None
    )
    out.count()
    held = list(getattr(out, "_graft_persisted"))
    assert len(held) == 1 and all(f.is_cached for f in held)
    assert release_caches(out, blocking=True) == 1

    # (b) candidates + doc-freq cap: shingle rows AND the array table
    spark.catalog.clearCache()
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.1, candidates=cands,
        max_doc_freq=10,
    )
    out.count()
    held = list(getattr(out, "_graft_persisted"))
    assert len(held) == 2 and all(f.is_cached for f in held)
    assert release_caches(out, blocking=True) == 2

    # (c) candidates, uncapped: just the array table
    spark.catalog.clearCache()
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.1, candidates=cands,
        max_doc_freq=None,
    )
    out.count()
    held = list(getattr(out, "_graft_persisted"))
    assert len(held) == 1 and all(f.is_cached for f in held)
    assert release_caches(out, blocking=True) == 1


def test_curation_e2e_planted_stage_semantics(spark, tmp_path):
    """Planted micro-corpus pins each new DAG stage's semantics: the
    per-source chrome line is stripped by the line stage (df = source doc
    count >= 4) while cohort-shared content survives to the doc-level
    near-dup stage; the Gopher gate (min_words=20, min_stop_hits=1) drops
    the short/stopword-free doc; near-dup keeps the min id per cohort."""
    from automotive_data_pipeline_demo_spark.plans.catalog_recent_extensions import (
        _curation_e2e,
    )

    sf = str(tmp_path / "sf")
    filler = ("the quick brown fox jumps over that lazy dog and then "
              "some more plain words follow here to pass the gate ")
    # 2-doc near-dup cohort (>= 0.8 jaccard), one distinct doc, one
    # too-short doc (fails min_words=20); all same source so the chrome
    # line's df = 4 >= min_doc_freq
    rows = [
        (100, filler + "alpha beta gamma delta", "en", "s0"),
        (101, filler + "alpha beta gamma epsilon", "en", "s0"),
        (102, filler + ("unrelated content entirely different words "
                        "about physical plans and exchanges galore ok"),
         "en", "s0"),
        (103, "tiny", "en", "s0"),
        # bench slice (doc_id < 100): must not contaminate (no shared
        # 8-gram with the corpus survivors)
        (1, "benchmark eval question about nothing shared at all", "en",
         "s0"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    # plant_gate=False: this test pins the MICRO corpus's stage counts;
    # the registered entries additionally union the published-Gopher
    # cohort (covered by test_planted_gate_cohort_thresholds)
    stages = {r["stage"]: r["n_rows"]
              for r in _curation_e2e(spark, sf, max_doc_freq=None,
                                     max_bucket_size=None,
                                     plant_gate=False).collect()}
    assert stages["ingested"] == 4
    # every doc keeps its content lines (chrome stripped, none emptied)
    assert stages["line_deduped"] == 4
    # doc 103 fails the word-count rule
    assert stages["gopher_ok"] == 3
    assert stages["quality_ok"] == 3
    # cohort {100, 101} collapses to min id 100
    assert stages["near_deduped"] == 2
    assert stages["decontaminated"] == 2


def test_fuzzy_contamination_catches_planted_paraphrase(spark):
    """The fuzzy mode's reason to exist: a paraphrased eval item (every
    5th word rewritten — longest verbatim run is 4 tokens) shares NO
    exact 8-gram, so the GPT-3 verbatim mode misses it, while the
    short-gram Jaccard mode flags it; a verbatim quote is flagged by
    both; an unrelated doc by neither."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        fuzzy_ngram_contamination,
        ngram_contamination,
    )

    bench_words = [f"tok{i}" for i in range(1, 21)]
    para = list(bench_words)
    for p in (4, 9, 14, 19):  # 0-based: every 5th word rewritten
        para[p] = f"alt{p}"
    rows_b = [(1, " ".join(bench_words))]
    rows_c = [
        (100, " ".join(para)),                      # paraphrase
        (101, "intro words " + " ".join(bench_words[:10]) + " outro"),  # quote
        (102, " ".join(f"zz{i}" for i in range(20))),  # unrelated
    ]
    schema = "doc_id long, text string"
    bench = spark.createDataFrame(rows_b, schema)
    corpus = spark.createDataFrame(rows_c, schema)

    exact = {
        r["id"]
        for r in ngram_contamination(corpus, bench, "doc_id", "text", n=8)
        .collect()
    }
    assert exact == {101}  # verbatim only — the paraphrase slips through

    fz = {
        r["id"]: r
        for r in fuzzy_ngram_contamination(
            corpus, bench, "doc_id", "text", n=4, min_jaccard=0.05
        ).collect()
    }
    assert set(fz) == {100, 101}
    # paraphrase: 4 surviving 4-gram runs over 17+17-gram vocabularies
    assert fz[100]["n_shared"] == 4
    assert fz[100]["jaccard"] == round(4 / (17 + 17 - 4), 4)
    spark.catalog.clearCache()


def test_line_dedup_auto_broadcast_degrades_by_size(spark):
    """broadcast_hot='auto' measures the hot set instead of asking the
    caller: under the byte ceiling the anti-join keeps the broadcast
    hint; past it (forced here with a zero ceiling) it degrades to the
    shuffle join — same rows either way."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_dedup,
    )

    rows = [(i, "hot line\nuniq %d" % i) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def anti_is_hinted(df):
        # hint presence, not physical join choice: on a toy frame the
        # planner broadcasts the tiny side anyway (stats under
        # autoBroadcastJoinThreshold) — what "auto" controls is whether
        # the FORCED hint overrides those stats at scale
        op = df._jdf.queryExecution().optimizedPlan().toString()
        anti = [l for l in op.splitlines() if "LeftAnti" in l]
        assert anti, op
        return all("strategy=broadcast" in l for l in anti)

    small = line_dedup(docs, "doc_id", "text", broadcast_hot="auto")
    big = line_dedup(
        docs, "doc_id", "text", broadcast_hot="auto",
        broadcast_hot_max_bytes=0,
    )
    assert anti_is_hinted(small) is True
    assert anti_is_hinted(big) is False
    a = sorted(map(tuple, small.collect()))
    b = sorted(map(tuple, big.collect()))
    assert a == b
    assert all("hot line" not in r[1] for r in a)  # the hot line stripped
    spark.catalog.clearCache()


def test_line_dedup_auto_tags_and_releases_hot_cache(spark):
    """The 'auto' size probe persists the hot frame and tags it on the
    result (the register_caches contract); release_caches after the
    terminal action unpins it — the per-batch hygiene the streaming
    ingest relies on to avoid one pinned frame per micro-batch forever."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        line_dedup,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    docs = spark.createDataFrame(
        [(i, "hot line\nuniq %d" % i) for i in range(4)],
        "doc_id long, text string",
    )
    out = line_dedup(docs, "doc_id", "text", broadcast_hot="auto")
    held = getattr(out, "_graft_persisted", [])
    assert held and all(f.is_cached for f in held)
    out.count()
    assert release_caches(out) == len(held)
    assert not any(f.is_cached for f in held)
    # non-auto modes persist nothing
    plain = line_dedup(docs, "doc_id", "text", broadcast_hot=True)
    assert not getattr(plain, "_graft_persisted", [])


def test_fuzzy_contamination_binds_grams_without_persist(spark):
    """ADVICE r9: the per-side gram array is let-bound into a (size, array)
    struct instead of persisted — zero cache footprint, and the extraction
    regexes still evaluate once per row per side (the optimized plan
    carries exactly one tokenize + one shingle regex per side; the naive
    projection-collapse shape duplicated them into size() AND explode())."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        fuzzy_ngram_contamination,
    )

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(100, "one two three four five six")], schema
    )
    bench = spark.createDataFrame([(1, "one two three four nine ten")], schema)
    out = fuzzy_ngram_contamination(
        corpus, bench, "doc_id", "text", n=2, min_jaccard=0.01
    )
    assert getattr(out, "_graft_persisted", []) == []
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # word_shingles = 1 tokenizer regex + 1 shingle regex; 2 sides => 4
    assert plan.count("regexp_extract_all") == 4
    assert out.count() >= 1


def test_scrub_shared_spans_pins_and_releases_shared_join(spark):
    """scrub_shared_spans persists the collapse groups, the folded hot
    starts, and the starts-join frame its untouched/touched union
    branches both read (r14: the unpinned post-collapse chain executed
    once per branch — 33.8 s vs 13.2 s pinned at sf10p). All three are
    tagged on the result so release_caches unpins them after the action."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        scrub_shared_spans,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [(1, "shared span one two"), (2, "shared span one two"),
         (3, "lonely original body")],
        "doc_id long, text string",
    )
    out = scrub_shared_spans(df, "doc_id", "text", n=4, min_count=2)
    assert out.count() == 3
    held = list(getattr(out, "_graft_persisted"))
    assert len(held) == 3 and all(f.is_cached for f in held)
    assert release_caches(out, blocking=True) == 3
    assert not any(f.is_cached for f in held)
