"""bench_gate.py's round-over-round gate — round-file parsing (the driver
stores the bench JSON line wrapped in its own envelope under "parsed", and
the gate must unwrap it: r5 found it silently comparing against nothing),
host normalization, the compact printed line, the worktree A/B and the
code-identity check — plus bench.py's shared timer and sf1 mirror."""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_gate import _prev_round_bench  # noqa: E402


def _write(d, name, payload):
    with open(os.path.join(d, name), "w", encoding="utf-8") as fh:
        json.dump(payload, fh)


def test_prev_round_unwraps_driver_envelope(tmp_path):
    d = str(tmp_path)
    _write(d, "BENCH_r03.json", {"parsed": {"sf": 0.1, "queries": {"q": 1.0}}})
    _write(
        d,
        "BENCH_r04.json",
        {"n": 4, "rc": 0, "sf": 0.1,
         "parsed": {"sf": 0.1, "queries": {"q": 2.0}, "value": 2.0}},
    )
    got = _prev_round_bench(d)
    assert got["_round"] == 4
    assert got["queries"] == {"q": 2.0}  # inner payload, not the envelope


def test_prev_round_accepts_bare_payload_and_missing(tmp_path):
    d = str(tmp_path)
    assert _prev_round_bench(d) is None
    _write(d, "BENCH_r07.json", {"sf": 0.1, "queries": {"q": 3.0}})
    got = _prev_round_bench(d)
    assert got["_round"] == 7 and got["queries"] == {"q": 3.0}


def test_prev_round_survives_corrupt_file(tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, "BENCH_r09.json"), "w") as fh:
        fh.write("{not json")
    assert _prev_round_bench(d) is None


def test_prev_round_prefers_local_record_over_unusable_envelope(tmp_path):
    """When the newest envelope is unrecoverable, BENCH_LOCAL.json (the
    bench run's own durable record) wins over older rounds' envelopes."""
    d = str(tmp_path)
    _write(d, "BENCH_r04.json", {"parsed": {"sf": 0.1, "queries": {"q": 9.0}}})
    _write(d, "BENCH_r05.json", {"sf": 0.1, "parsed": None, "tail": "garbage"})
    _write(d, "BENCH_LOCAL.json", {"sf": 0.1, "queries": {"q": 2.0}})
    got = _prev_round_bench(d)
    assert got["_source"] == "local" and got["_round"] == 5
    assert got["queries"] == {"q": 2.0}


def test_prev_round_falls_back_to_older_round_without_local(tmp_path):
    d = str(tmp_path)
    _write(d, "BENCH_r04.json", {"parsed": {"sf": 0.1, "queries": {"q": 9.0}}})
    _write(d, "BENCH_r05.json", {"sf": 0.1, "parsed": None, "tail": "garbage"})
    got = _prev_round_bench(d)
    assert got["_round"] == 4 and got["queries"] == {"q": 9.0}


def test_prev_round_never_returns_queryless_payload(tmp_path):
    """An envelope with sf but no queries must yield None, not a payload
    the gate would silently diff against {}."""
    d = str(tmp_path)
    _write(d, "BENCH_r05.json", {"sf": 0.1, "parsed": None})
    assert _prev_round_bench(d) is None


# --------------------------------------------------- canary normalization


def test_host_ratio_symmetric():
    """r12: a FASTER box tightens the bar the same way a slower one
    loosens it — the old slower-only clamp meant a slow-box recording
    (r10: canary 1.288) granted every entry ~29% free headroom the next
    round."""
    from bench_gate import _host_ratio

    import pytest

    assert _host_ratio(0.13, 0.10) == pytest.approx(1.3)   # 30% slower host
    assert _host_ratio(0.08, 0.10) == pytest.approx(0.8)   # faster: tightens
    assert _host_ratio(1.0, 0.1) == 3.0            # sanity cap, slow side
    assert _host_ratio(0.01, 0.1) == 1.0 / 3.0     # sanity cap, fast side
    assert _host_ratio(None, 0.1) == 1.0           # prev round had none
    assert _host_ratio(0.1, None) == 1.0
    assert _host_ratio(0.1, 0.0) == 1.0


def test_gate_tightens_on_faster_host():
    """An entry that merely holds its slow-box number on a 25%-faster box
    is a real slowdown in normalized terms and must flag (and carry the
    corrected delta); an entry that speeds up with the box clears."""
    from bench import gate_regressions

    flags = gate_regressions(
        None, "/nowhere", [], {"held": 1.0, "scaled": 0.74},
        {"held": 1.0, "scaled": 1.0}, "sf1", host_ratio=0.75,
    )
    assert [f["query"] for f in flags] == ["held"]
    assert flags[0]["norm_delta_pct"] == round(100 * (1.0 / 0.75 - 1), 1)


def test_gate_normalizes_by_canary_on_synthetic_slow_host():
    """The r9 scenario, synthesized: every entry +28% raw on a container
    whose canary says it is 30% slower — the normalized gate clears all
    of them without a single re-time (spark=None proves no re-time ran);
    with ratio 1.0 the same envelope flags everything."""
    from bench import gate_regressions

    prev = {f"q{i}": 1.0 for i in range(15)}
    now = {f"q{i}": 1.28 for i in range(15)}

    flags = gate_regressions(
        None, "/nowhere", [], dict(now), prev, "sf0.1", host_ratio=1.3
    )
    assert flags == []

    raw = gate_regressions(
        None, "/nowhere", [], dict(now), prev, "sf0.1", host_ratio=1.0
    )
    assert len(raw) == 15  # unnormalized, every entry would have flagged


def test_gate_flags_real_regression_through_slow_host():
    """Normalization must not swallow a genuine code regression: an entry
    2.2x slower still flags on a 1.3x-slower host, and the row carries
    the host-corrected delta."""
    from bench import gate_regressions

    flags = gate_regressions(
        None, "/nowhere", [], {"q0": 2.2}, {"q0": 1.0}, "sf1",
        host_ratio=1.3,
    )
    assert [f["query"] for f in flags] == ["q0"]
    assert flags[0]["delta_pct"] == 120.0
    assert flags[0]["norm_delta_pct"] == round(100 * (2.2 / 1.3 - 1), 1)


# --------------------------------------------------- worktree A/B control


def test_ab_control_clears_flags_old_code_reproduces(tmp_path):
    """The r9 manual worktree control, automated: 15 unrelated entries
    flag at once, the previous round's code re-timed on this box shows
    the same elevation, and every flag moves to env_cleared."""
    from bench_gate import ab_control

    prev = {"_round": 9, "git_sha": "deadbeef", "queries": {}}
    flags = [
        {"query": f"q{i}", "scope": "sf0.1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0}
        for i in range(15)
    ]
    old_times = {f"/sf::q{i}": 1.38 for i in range(15)}  # old code also slow

    def fake_retime(root, ref, names_by_dir):
        assert ref == "deadbeef"
        assert names_by_dir == {"/sf": [f"q{i}" for i in range(15)]}
        return old_times

    kept, cleared = ab_control(
        str(tmp_path), prev, flags, {"sf0.1": "/sf"}, retime=fake_retime
    )
    assert kept == []
    assert len(cleared) == 15
    assert all(c["old_code_now_sec"] == 1.38 for c in cleared)


def test_ab_control_retimes_every_flag_and_splits(tmp_path):
    from bench_gate import ab_control, split_env_flags

    # a SINGLE flag is enough to trigger the A/B since r12 (earlier
    # rounds gated on a storm threshold or an unchanged defining module,
    # which left sub-storm flags on touched-dependency modules
    # un-adjudicated): here the old code matches the new time, so the
    # flag clears as not-code-attributable
    few = [{"query": "q0", "scope": "sf1", "prev_sec": 1.0,
            "now_sec": 1.4, "delta_pct": 40.0}]
    kept, cleared = ab_control(
        str(tmp_path), {"git_sha": "x"}, few, {"sf1": "/sf"},
        retime=lambda root, ref, names: {"/sf::q0": 1.38},
        unchanged=lambda *a: True,
    )
    assert kept == [] and [c["query"] for c in cleared] == ["q0"]

    # mixed storm: the concurrent control matches the new time on 4 of 5
    # -> only the entry whose new code outruns its own old code survives
    flags = [
        {"query": f"q{i}", "scope": "sf1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0}
        for i in range(5)
    ]
    old = {f"/sf::q{i}": 1.35 for i in range(4)}
    old["/sf::q4"] = 1.02  # old code is FAST here: q4 is a code regression
    kept, cleared = split_env_flags(flags, old, {"sf1": "/sf"})
    assert [k["query"] for k in kept] == ["q4"]
    assert kept[0]["code_suspect"] is True
    assert len(cleared) == 4

    # no usable measurements (worktree failed): keep everything
    kept, cleared = ab_control(
        str(tmp_path), {"git_sha": "x"}, flags, {"sf1": "/sf"},
        retime=lambda *a: {},
    )
    assert kept == flags and cleared == []

    # no prev ref: keep everything, retime never invoked
    kept, cleared = ab_control(
        str(tmp_path), None, flags, {"sf1": "/sf"},
        retime=lambda *a: (_ for _ in ()).throw(AssertionError("no A/B")),
    )
    assert kept == flags and cleared == []


def test_ab_control_prioritizes_sf10_flags_under_cap(tmp_path):
    """sf10-smoke flags are single cold runs — the noisiest readings in
    the record — so they must never fall off the AB_MAX_ENTRIES budget
    behind a suite flag storm. r14 baseline: 20 suite flags filled the
    cap and the one sf10 flag (x_dedup_semdedup_inc 13.4 -> 37.6 s, a
    cold-corpus first run on a slow box) stood kept WITHOUT an A/B row.
    The budget now orders sf10 flags first."""
    import bench_gate
    from bench_gate import ab_control

    flags = [
        {"query": f"q{i}", "scope": "sf1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0}
        for i in range(bench_gate.AB_MAX_ENTRIES)
    ] + [
        {"query": "smoke_entry", "scope": "sf10", "prev_sec": 13.4,
         "now_sec": 37.6, "delta_pct": 181.0}
    ]
    seen: dict = {}

    def fake_retime(root, ref, names_by_dir):
        seen.update(names_by_dir)
        # old code reproduces every elevation -> everything A/B'd clears
        return {
            f"{d}::{n}": row["now_sec"]
            for d, names in names_by_dir.items()
            for n in names
            for row in flags
            if row["query"] == n
        }

    kept, cleared = ab_control(
        str(tmp_path), {"git_sha": "x"}, flags,
        {"sf1": "/sf1", "sf10": "/sf10p"}, retime=fake_retime,
    )
    # the sf10 flag made the A/B budget...
    assert "smoke_entry" in seen.get("/sf10p", [])
    # ...and cleared through the concurrent control; exactly one suite
    # flag (the one displaced by the budget) passes through kept un-A/B'd
    assert [c["query"] for c in cleared].count("smoke_entry") == 1
    assert len(kept) == 1 and kept[0]["scope"] == "sf1"


def test_ab_control_clears_suspects_with_identical_closure(tmp_path):
    """A code_suspect whose FUNCTION-GRAIN executed closure is
    AST-identical between the refs is CLEARED (cleared_by:
    "identical_closure"): the A/B literally ran the same code on both
    sides, so a new>old reading is noise by construction. r13's two kept
    flags (x_dedup_simhash_dedup, x_text_vocab) were this shape —
    byte-identical closures stranded as code_suspect because
    module-grain detection saw two helper functions added to their
    1,800-line module. A suspect whose closure DID change stays kept
    with code_unchanged=False."""
    from bench_gate import ab_control

    flags = [
        {"query": "q_same", "scope": "sf0.1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0},
        {"query": "q_changed", "scope": "sf0.1", "prev_sec": 1.0,
         "now_sec": 1.5, "delta_pct": 50.0},
    ]

    def fake_retime(root, ref, names_by_dir):
        assert names_by_dir == {"/sf": ["q_same", "q_changed"]}
        # both convict on the concurrent control
        return {"/sf::q_same": 1.0, "/sf::q_changed": 1.0}

    kept, cleared = ab_control(
        str(tmp_path), {"git_sha": "abc123"}, flags, {"sf0.1": "/sf"},
        retime=fake_retime,
        unchanged=lambda root, ref, name: name == "q_same",
    )
    assert [k["query"] for k in kept] == ["q_changed"]
    assert kept[0]["code_suspect"]
    assert kept[0]["code_unchanged"] is False
    assert [c["query"] for c in cleared] == ["q_same"]
    assert cleared[0]["cleared_by"] == "identical_closure"
    assert "code_suspect" not in cleared[0]
    assert cleared[0]["code_unchanged"] is True


def test_function_grain_ignores_unrelated_helper_additions():
    """The r13 false-positive shape, pinned: adding a module-level
    helper (or editing another entry's function, or a docstring) does
    NOT change the defining dumps of an untouched entry's closure —
    only an edit to a definition the entry actually reaches does."""
    from bench_gate import _defining_dumps

    old_src = (
        "X = 7\n"
        "def helper(a):\n"
        "    '''old doc'''\n"
        "    return a + X\n"
        "def entry(spark, sf):\n"
        "    return helper(1)\n"
        "def other_entry(spark, sf):\n"
        "    return 2\n"
    )
    # r13 shape: a NEW helper lands in the module, another entry changes,
    # and the reached function's docstring is reworded
    new_src = (
        "X = 7\n"
        "def brand_new_helper(q):\n"
        "    return q * 3\n"
        "def helper(a):\n"
        "    '''new doc'''\n"
        "    return a + X\n"
        "def entry(spark, sf):\n"
        "    return helper(1)\n"
        "def other_entry(spark, sf):\n"
        "    return 99\n"
    )
    for sym in ("entry", "helper", "X"):
        assert _defining_dumps(old_src, sym) == _defining_dumps(new_src, sym)
    # the grain still bites where it should
    assert _defining_dumps(old_src, "other_entry") != _defining_dumps(
        new_src, "other_entry"
    )
    changed_dep = new_src.replace("return a + X", "return a - X")
    assert _defining_dumps(old_src, "helper") != _defining_dumps(
        changed_dep, "helper"
    )
    changed_const = new_src.replace("X = 7", "X = 8")
    assert _defining_dumps(old_src, "X") != _defining_dumps(
        changed_const, "X"
    )


def test_closure_items_function_grain_on_real_catalog():
    """The live closure walk resolves the r13 false-positive entries at
    function grain and collects exactly the definitions they execute
    (plus session.py whole-file), so a helper addition elsewhere in
    their 1,800-line defining modules cannot flip code_unchanged."""
    from bench_gate import _closure_items

    items = _closure_items("x_text_vocab")
    assert items is not None
    by_file: dict = {}
    for rel, sym in items:
        by_file.setdefault(rel.rsplit("/", 1)[-1], set()).add(sym)
    assert "vocab_oov_rate" in by_file["text_analysis.py"]
    assert "q_x_text_vocab" in by_file["catalog_recent_extensions.py"]
    assert "" in by_file["session.py"]  # runtime-wide whole-file rider
    # untouched helpers of the same module are NOT in the closure
    assert "line_dedup" not in by_file.get("dedup_text.py", set())

    assert _closure_items("x_dedup_simhash_dedup") is not None
    assert _closure_items("definitely_not_an_entry") is None


def test_split_env_flags_concurrent_control_is_decisive():
    """The r11 hole, with r11's own numbers as the fixture: the old code
    ALSO exceeded the prev-round threshold on this box — but the new
    code is +38% over the old code measured in the SAME session, which
    is code-attributable by the A/B's own concurrent control. The flag
    must stay kept, marked code_suspect, not clear as environment. And
    the inverse (r12's canary-noise storm): a flag whose new time
    matches its concurrent old-code time clears even when the old code
    looks FINE vs its recording — the flag was manufactured by the
    normalized bar, not by the code."""
    from bench_gate import split_env_flags

    flags = [
        # x_dedup_semdedup r11: prev 2.36, now 4.27, old-code-now 3.10 —
        # old code over threshold (env component) AND new > old x 1.25
        {"query": "x_dedup_semdedup", "scope": "sf1", "prev_sec": 2.36,
         "now_sec": 4.27, "delta_pct": 80.9},
        # true environment: old code reproduces the elevation and the
        # new code matches the old code
        {"query": "q_env", "scope": "sf1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0},
        # old code fast AND new code slower than it concurrently: the
        # clearest code regression — kept, code_suspect
        {"query": "q_code", "scope": "sf1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0},
        # the r12 canary-noise shape: raw delta tiny (flag existed only
        # under a tightened normalized bar), new within 25% of the
        # concurrent old-code time -> the code is acquitted, clears
        {"query": "q_canary", "scope": "sf1", "prev_sec": 1.0,
         "now_sec": 1.05, "delta_pct": 5.0},
        # no A/B measurement -> passes through kept untouched
        {"query": "q_nomeas", "scope": "sf1", "prev_sec": 1.0,
         "now_sec": 1.4, "delta_pct": 40.0},
    ]
    old = {"/sf::x_dedup_semdedup": 3.10, "/sf::q_env": 1.38,
           "/sf::q_code": 1.02, "/sf::q_canary": 1.03}
    kept, cleared = split_env_flags(flags, old, {"sf1": "/sf"})
    assert [k["query"] for k in kept] == ["x_dedup_semdedup", "q_code",
                                          "q_nomeas"]
    assert kept[0].get("code_suspect") is True
    assert kept[0]["old_code_now_sec"] == 3.10
    assert kept[1].get("code_suspect") is True
    assert "old_code_now_sec" not in kept[2]
    assert [c["query"] for c in cleared] == ["q_env", "q_canary"]


# --------------------------------------------------- compact printed line


def test_compact_record_stays_under_driver_tail_budget():
    """The emitted line must fit the driver's ~2000-byte stdout tail even
    with a full AB_MAX_ENTRIES flag storm over the REAL bench set (r11's
    record was lost to 16 verbose rows). Core fields and the full query
    maps must survive compaction; flag rows slim to essentials."""
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG
    from bench_gate import AB_MAX_ENTRIES, EMIT_BYTE_BUDGET, _compact_record

    names = [s.name for s in CATALOG if s.bench]
    assert names, "bench set is empty?"
    result = {
        "metric": "catalog_headline_total_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: 12.345 for n in names},
        "sf": 0.1,
        "policy": "min_of_2; min_of_3 on >25%-vs-prev-round regressions, "
                  "canary-normalized; worktree A/B on wide flag storms",
        "canary_sec": 0.123,
        "canary_mc_sec": 2.345,
        "canary_ratio": 1.056,
        "canary_src": "mc",
        "sf1": {
            "queries": {n: 123.456 for n in names},
            "total_sec": 1234.567,
            "gen_sec": 12.345,
        },
        "sf10": {
            "queries": {"x_dedup_semdedup_inc": 12.345,
                        "x_text_line_dedup_inc": 12.345},
            "total_sec": 24.69,
            "gen_sec": 123.456,
        },
        "regressions": [
            {"query": n, "scope": "sf1", "prev_sec": 123.456,
             "now_sec": 234.567, "delta_pct": 90.0, "norm_delta_pct": 85.0,
             "old_code_now_sec": 222.333, "code_suspect": True}
            for n in names[:AB_MAX_ENTRIES]
        ],
        "env_cleared": [
            {"query": n, "scope": "sf0.1", "prev_sec": 1.0, "now_sec": 1.4,
             "delta_pct": 40.0, "old_code_now_sec": 1.38}
            for n in names[:AB_MAX_ENTRIES]
        ],
        "vs_round": 11,
        "git_sha": "0" * 40,
    }
    out = _compact_record(result)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= EMIT_BYTE_BUDGET, len(line)
    # the round record survives whole
    assert out["queries"] == result["queries"]
    assert out["sf1"]["queries"] == result["sf1"]["queries"]
    assert out["sf10"]["queries"] == result["sf10"]["queries"]
    assert out["git_sha"] == result["git_sha"]
    assert "canary_sec" not in out and "canary_src" not in out
    # flags: true counts + pointer survive even when rows are dropped
    assert out["regressions_n"] == len(result["regressions"])
    assert out["env_cleared_n"] == len(result["env_cleared"])
    assert out["detail"] == "BENCH_LOCAL.json"
    for row in out["regressions"]:
        assert set(row) <= {"query", "scope", "prev_sec", "now_sec",
                            "code_suspect"}
    # and the line parses back (what the driver does with the tail)
    assert json.loads(line)["queries"] == result["queries"]


def test_compact_record_never_exceeds_budget_on_grown_catalog():
    """The r12 ADVICE hole: popping regression rows was the ONLY
    degradation path, so a bench catalog whose query maps alone exceed
    the budget silently emitted an over-budget line (the r11 parsed:null
    failure mode). The runtime fallback now drops the sf1 then sf10
    per-query maps (counts + a BENCH_LOCAL.json pointer stay) and, as a
    last resort, trims the primary queries map with a recorded count —
    the line always fits and always parses."""
    from bench_gate import EMIT_BYTE_BUDGET, _compact_record

    many = {f"entry_with_a_long_name_{i:04d}": 123.456 for i in range(200)}
    result = {
        "metric": "catalog_headline_total_sec", "value": 1.0, "unit": "sec",
        "queries": dict(many), "sf": 0.1,
        "sf1": {"queries": dict(many), "total_sec": 1.0, "gen_sec": 1.0},
        "sf10": {"queries": dict(many), "total_sec": 1.0, "gen_sec": 1.0},
        "regressions": [],
    }
    out = _compact_record(result)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= EMIT_BYTE_BUDGET, len(line)
    assert json.loads(line)["sf"] == 0.1
    # sub-sections degrade to counts + pointer before the primary map
    for section in ("sf1", "sf10"):
        assert "queries" not in out[section]
        assert out[section]["queries_n"] == len(many)
        assert out[section]["detail"] == "BENCH_LOCAL.json"
        assert out[section]["total_sec"] == 1.0
    # the primary map trims off the tail, with the drop count recorded
    assert 0 < len(out["queries"]) < len(many)
    assert out["queries_dropped_n"] == len(many) - len(out["queries"])


def test_compact_record_keeps_flag_rows_when_they_fit():
    from bench_gate import _compact_record

    result = {
        "metric": "m", "value": 1.0, "unit": "sec",
        "queries": {"q": 1.0}, "sf": 0.1,
        "regressions": [{"query": "q", "scope": "sf1", "prev_sec": 1.0,
                         "now_sec": 1.4, "delta_pct": 40.0}],
    }
    out = _compact_record(result)
    assert out["regressions"] == [
        {"query": "q", "scope": "sf1", "prev_sec": 1.0, "now_sec": 1.4}
    ]
    assert out["regressions_n"] == 1 and out["env_cleared_n"] == 0


def test_compact_record_drops_sf1_map_before_sf10():
    """r15: with the grown sf10 smoke the line cannot always carry both
    sub-section maps. sf1 must be the one that degrades first — sf0.1
    and sf1 carry almost no optimization signal (every 8-vs-32-core
    ratio ~1), so the envelope keeps the scale where round-over-round
    deltas measure algorithm shape. The REAL r15 record shape (24-entry
    primary + 24-entry sf1 + 9-entry sf10) is exactly the overflow case."""
    from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG
    from bench import SF10_SMOKE
    from bench_gate import EMIT_BYTE_BUDGET, _compact_record

    names = [s.name for s in CATALOG if s.bench]
    result = {
        "metric": "catalog_headline_total_sec", "value": 1.0, "unit": "sec",
        "queries": {n: 12.345 for n in names}, "sf": 0.1,
        "canary_sec": 0.123, "canary_mc_sec": 2.345,
        "canary_ratio": 1.056, "canary_src": "mc",
        "sf1": {"queries": {n: 12.345 for n in names},
                "total_sec": 1.0, "gen_sec": 1.0},
        "sf10": {"queries": {n: 12.345 for n in SF10_SMOKE},
                 "total_sec": 1.0, "gen_sec": 1.0},
        "regressions": [], "vs_round": 14, "git_sha": "0" * 40,
    }
    out = _compact_record(result)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= EMIT_BYTE_BUDGET, len(line)
    # the sf10 smoke map SURVIVES; sf1 degraded to counts + pointer
    assert out["sf10"]["queries"] == result["sf10"]["queries"]
    assert "queries" not in out["sf1"]
    assert out["sf1"]["queries_n"] == len(names)
    assert out["sf1"]["detail"] == "BENCH_LOCAL.json"


def test_prev_round_restores_dropped_sections_from_local(tmp_path):
    """r15: when the newest envelope's line dropped a sub-section's
    per-query map for byte budget, the gate merges it back from
    BENCH_LOCAL.json — but ONLY when both records carry the same
    git_sha (BENCH_LOCAL is overwritten by every local run)."""
    import bench_gate

    sha = "a" * 40
    envelope = {"parsed": {
        "metric": "m", "value": 1.0, "queries": {"q": 1.0}, "sf": 0.1,
        "git_sha": sha,
        "sf1": {"queries_n": 24, "detail": "BENCH_LOCAL.json",
                "total_sec": 2.0},
        "sf10": {"queries": {"s": 3.0}, "total_sec": 3.0},
    }}
    local = {
        "metric": "m", "value": 1.0, "queries": {"q": 1.0}, "sf": 0.1,
        "git_sha": sha,
        "sf1": {"queries": {"q": 2.0}, "total_sec": 2.0},
        "sf10": {"queries": {"s": 3.0}, "total_sec": 3.0},
    }
    (tmp_path / "BENCH_r14.json").write_text(json.dumps(envelope))
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(local))
    got = bench_gate._prev_round_bench(str(tmp_path))
    assert got["sf1"]["queries"] == {"q": 2.0}  # restored
    assert got["sf10"]["queries"] == {"s": 3.0}  # untouched

    # sha mismatch: the local record is someone else's run — no merge
    local["git_sha"] = "b" * 40
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(local))
    got = bench_gate._prev_round_bench(str(tmp_path))
    assert "queries" not in got["sf1"]


def test_prev_round_restore_keeps_envelope_section_fields(tmp_path):
    """Restoring a dropped per-query map merges ONLY ``queries``: the
    envelope's own section totals (total_sec, gen_sec) are the round's
    record and must not be replaced by the local run's."""
    import bench_gate

    sha = "c" * 40
    envelope = {"parsed": {
        "metric": "m", "value": 1.0, "queries": {"q": 1.0}, "sf": 0.1,
        "git_sha": sha,
        "sf1": {"queries_n": 1, "detail": "BENCH_LOCAL.json",
                "total_sec": 2.0, "gen_sec": 0.1},
    }}
    local = {
        "metric": "m", "value": 1.0, "queries": {"q": 1.0}, "sf": 0.1,
        "git_sha": sha,
        "sf1": {"queries": {"q": 2.5}, "total_sec": 9.0, "gen_sec": 45.0},
    }
    (tmp_path / "BENCH_r15.json").write_text(json.dumps(envelope))
    (tmp_path / "BENCH_LOCAL.json").write_text(json.dumps(local))
    got = bench_gate._prev_round_bench(str(tmp_path))
    assert got["sf1"]["queries"] == {"q": 2.5}
    assert got["sf1"]["total_sec"] == 2.0
    assert got["sf1"]["gen_sec"] == 0.1
    assert got["sf1"]["queries_n"] == 1


def test_ab_control_needs_recorded_git_sha():
    """The A/B checks out the previous record's own git_sha; a record
    without one gets no A/B and its flags stay kept, even in a checkout
    whose history holds that round's BENCH_r09.json."""
    from bench_gate import ab_control

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    flags = [{"query": "q0", "scope": "sf1", "prev_sec": 1.0,
              "now_sec": 1.4, "delta_pct": 40.0}]
    kept, cleared = ab_control(
        root, {"_round": 9, "queries": {}}, flags, {"sf1": "/sf"},
        retime=lambda *a: (_ for _ in ()).throw(AssertionError("no A/B")),
    )
    assert kept == flags and cleared == []


def test_gate_module_never_imports_bench():
    """The dependency runs one way: bench.py imports bench_gate, and
    bench_gate imports nothing from bench.py."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, bench_gate; print('bench' in sys.modules)"],
        cwd=root, capture_output=True, text=True, timeout=60, check=True,
    )
    assert out.stdout.strip() == "False"


# ------------------------------------------------------ the shared timer


def _fake_spark(log):
    return SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: log.append("clear"))
    )


def _fake_build(monkeypatch, log, costs):
    """A spec builder whose frames log their write chain; each noop save
    advances bench's clock by the next cost, so the timer reads exactly
    ``costs`` in order."""
    import bench

    clock = [0.0]
    monkeypatch.setattr(
        bench, "time", SimpleNamespace(perf_counter=lambda: clock[0])
    )
    costs = list(costs)

    class Writer:
        def format(self, name):
            log.append(f"format:{name}")
            return self

        def mode(self, mode):
            log.append(f"mode:{mode}")
            return self

        def save(self):
            clock[0] += costs.pop(0)
            log.append("save")

    def build(spark, sf_dir):
        log.append(f"build:{sf_dir}")
        return SimpleNamespace(write=Writer())

    return build


def test_timer_clears_cache_writes_noop_and_takes_min(monkeypatch):
    """Every timed run of a catalog frame goes cache-clear -> build ->
    noop write, and the suite records the min of n runs, rounded."""
    import bench

    log: list = []
    spec = SimpleNamespace(
        name="q", build=_fake_build(monkeypatch, log, [3.0, 1.25, 2.0])
    )
    got = bench.run_suite(_fake_spark(log), "/d", [spec], runs=3)
    assert got == {"q": 1.25}
    one_run = ["clear", "build:/d", "format:noop", "mode:overwrite", "save"]
    assert log == one_run * 3


def test_timer_suite_warms_flagship_untimed(monkeypatch):
    """The flagship warm-up runs once, uncounted, before the timed runs."""
    import bench

    log: list = []
    spec = SimpleNamespace(
        name="flagship_segments",
        build=_fake_build(monkeypatch, log, [0.01, 5.0, 4.0]),
    )
    assert bench.run_suite(_fake_spark(log), "/d", [spec]) == {
        "flagship_segments": 4.0
    }
    assert log.count("clear") == log.count("save") == 3


def test_canary_warm_pass_never_counts(monkeypatch):
    import bench

    log: list = []
    frame = _fake_build(monkeypatch, log, [0.01, 5.0, 4.0, 6.0])(None, "/c")
    assert bench._canary_sec(_fake_spark(log), frame) == 4.0
    assert log.count("clear") == log.count("save") == 4
    assert {"format:noop", "mode:overwrite"} <= set(log)


def test_gate_retime_keeps_min_of_previous_and_retimed(monkeypatch):
    """A flagged entry is re-timed once through the shared timer and keeps
    min(previous, retimed): a slower retime cannot raise the record, a
    faster one clears the flag."""
    import bench

    log: list = []
    spec = SimpleNamespace(
        name="q", build=_fake_build(monkeypatch, log, [3.0, 0.5])
    )
    spark = _fake_spark(log)

    timings = {"q": 2.0}
    flags = bench.gate_regressions(
        spark, "/d", [spec], timings, {"q": 1.0}, "sf1"
    )
    assert timings == {"q": 2.0}
    assert [f["now_sec"] for f in flags] == [2.0]

    timings = {"q": 2.0}
    flags = bench.gate_regressions(
        spark, "/d", [spec], timings, {"q": 1.0}, "sf1"
    )
    assert timings == {"q": 0.5}
    assert flags == []
    assert log.count("clear") == log.count("save") == 2


def test_tools_import_without_running_main():
    """Every tool imports cleanly with ``main`` untouched: the sweeps bind
    bench's timer at import, so renaming a bench function fails here
    instead of breaking a tool silently."""
    import glob
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "tools", "*.py")))
    assert paths
    for path in paths:
        stem = os.path.splitext(os.path.basename(path))[0]
        spec = importlib.util.spec_from_file_location(f"_tool_{stem}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert callable(mod.main), stem


def test_ensure_sf1_rebuilds_for_another_source(spark, tmp_path, monkeypatch):
    """The sf1 mirror is reused only for the source it was built from: a
    mirror left by an sf0.01 run must not be timed as the sf0.1 mirror."""
    import shutil

    import bench

    monkeypatch.setattr(bench, "SF1_DIR", str(tmp_path / "sf1"))
    monkeypatch.setattr(bench, "_SHIFT_COLS", {"customer": ["c_custkey"]})
    for name, keys in (("a", [1, 2]), ("b", [5])):
        spark.createDataFrame([(k,) for k in keys], "c_custkey long").write \
            .parquet(str(tmp_path / name / "customer.parquet"))

    def mirrored(src: str) -> set[int]:
        out = bench.ensure_sf1(spark, str(tmp_path / src))
        rows = spark.read.parquet(f"{out}/customer.parquet").collect()
        return {r.c_custkey % bench._OFFSET for r in rows}

    assert mirrored("a") == {1, 2}
    assert mirrored("b") == {5}   # another source: rebuilt
    shutil.rmtree(tmp_path / "b")
    assert mirrored("b") == {5}   # same source: reused, not re-read
