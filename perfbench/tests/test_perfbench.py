"""The benchmark's own tests: seeded inputs and metric names.

    python3 -m pytest perfbench/tests -q
"""

import csv
import hashlib
import json
import os
import re
from collections import defaultdict

import pytest

import gen
import run
from spans import LAYERS, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.WRITERS))
def test_same_seed_writes_identical_bytes(tmp_path, workload):
    a = gen.WRITERS[workload](str(tmp_path / "a"), 7)
    b = gen.WRITERS[workload](str(tmp_path / "b"), 7)
    c = gen.WRITERS[workload](str(tmp_path / "c"), 8)
    da, db, dc = (tree_digest(str(tmp_path / k)) for k in "abc")
    assert da and da == db
    assert da != dc
    assert json.dumps(a).replace("/a/", "/b/") == json.dumps(b)


def test_deals_have_one_customer_except_co_buyers(tmp_path):
    manifest = gen.write_cdp(str(tmp_path), 3)
    owners = defaultdict(set)
    for day in manifest["days"]:
        with open(day["sales"], encoding="utf-8") as fh:
            for row in csv.DictReader(fh):
                if row["dealno"] and row["custno"]:
                    owners[row["dealno"]].add(row["custno"])
    shared = sum(len(c) > 1 for c in owners.values()) / len(owners)
    assert 0 < shared <= 2 * gen.SIZES["cdp_daily"]["co_buyer_frac"]


def test_co_buyers_share_one_deal_and_never_buy_alone(tmp_path):
    manifest = gen.write_cdp(str(tmp_path), 3)
    deals_of = defaultdict(set)
    shared_per_day = []
    for path in [manifest["history"]["sales"]] + [d["sales"] for d in manifest["days"]]:
        owners = defaultdict(set)
        with open(path, encoding="utf-8") as fh:
            for row in csv.DictReader(fh):
                if row["dealno"] and row["custno"]:
                    deals_of[row["custno"]].add(row["dealno"])
                    owners[row["dealno"]].add(row["custno"])
        shared_per_day.append(sum(len(c) > 1 for c in owners.values()))
    first_co_buyer = gen.SIZES["cdp_daily"]["customers"] * (1 - gen.CO_BUYER_POOL)
    co_buyers = [c for c in deals_of if int(c[1:]) > first_co_buyer]
    assert co_buyers and all(len(deals_of[c]) == 1 for c in co_buyers)
    assert len(set(shared_per_day[1:])) == 1


def test_emitted_names_and_units_are_well_formed():
    for name, (unit, better) in {**run.END_TO_END, **PER_LAYER}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), unit
        assert better in ("higher", "lower")
    for name in gen.WRITERS:
        assert NAME.fullmatch(name)


def test_every_per_layer_metric_names_a_mapped_layer():
    for name in PER_LAYER:
        assert name.rsplit(".", 1)[0] in LAYERS, name


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(gen.WRITERS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_volumes_are_one_scale_of_the_reference():
    for sizes in gen.SIZES.values():
        for key in ("customers", "sales_per_day", "visitors_per_day", "leads_per_day"):
            assert sizes[key] == int(gen.BASELINE[key] * gen.SCALE), key
        assert sizes["lead_match"] == gen.BASELINE["lead_match"]


@pytest.mark.parametrize("workload", sorted(gen.WRITERS))
def test_matched_leads_follow_the_match_rate(tmp_path, workload):
    manifest = gen.WRITERS[workload](str(tmp_path), 5)
    ops = manifest.get("days") or manifest["rounds"]
    matched = sum(len(op.get("matched_leads") or op.get("matches")) for op in ops)
    leads = gen.SIZES[workload]["leads_per_day"] * len(ops)
    assert 0.9 <= matched / leads <= 1.0


def test_unstolen_time_is_at_most_wall_time():
    ticks0 = run.cpu_ticks()
    sum(range(10**6))
    stolen = run.stolen_share(ticks0)
    assert 0.0 <= stolen <= 1.0
    assert 0.0 <= run.unstolen(2.0, stolen) <= 2.0


def test_stage_lands_a_whole_file_by_rename(tmp_path):
    from workloads import stage

    (tmp_path / "visitors.jsonl").write_bytes(b"v\n")
    stage(str(tmp_path / "staging"), str(tmp_path / "visitors.jsonl"),
          str(tmp_path / "in/visitors/000.jsonl"))
    assert (tmp_path / "in/visitors/000.jsonl").read_bytes() == b"v\n"
    assert not os.listdir(tmp_path / "staging")
