"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes plain files (CSV,
XOR-"encrypted" CSV, JSON lines, parquet) under a directory it is given;
the program under test only ever sees those files. The same seed writes
byte-identical files. Sizes and mixes live in ``SIZES`` so that the
benchmark, its tests and ``BENCHMARK.json`` state one set of numbers.
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: XOR key of the vendor-inbox cipher (``sources.inbox.xor_decryptor``).
XOR_KEY = 0x5A

#: Fixed view/gold as-of date; every generated sale lies before it.
AS_OF = "2025-09-30"
_DAY0 = datetime(2025, 6, 1)

#: Per-location daily volumes the reference states (BASELINE.md): active
#: customers (``sql/redshift_table_schemas.sql:122``), vehicle_sales rows per
#: day, upper end of 500-1,000 (``:23``), visitor sessions and CRM leads per
#: day, and the identity match rate (``README.md:98, 124``).
BASELINE = {"customers": 50_000, "sales_per_day": 1_000, "visitors_per_day": 500,
            "leads_per_day": 50, "lead_match": 0.98}

#: The one scale factor applied to every ``BASELINE`` volume.
SCALE = 0.2

#: Mix fractions the reference does not state (assumed, each exercising one
#: path): co-buyer rows (refresh_gold's customer<->deal closure), byte-identical
#: redeliveries and newer versions of past deals (merge_upsert's dedup and
#: replace), rows missing a key (the ETL quality gate), and the share of
#: matched leads that carry the visitor's session id (identity tier 1; the
#: rest match on email or phone, tier 2).
MIX = {"co_buyer_frac": 0.02, "redelivered_frac": 0.05, "corrected_frac": 0.05,
       "invalid_frac": 0.03, "lead_session_share": 0.7}

#: Share of customer numbers kept for co-buyers (``_Deals``).
CO_BUYER_POOL = 0.05

_DAILY = {
    "customers": int(BASELINE["customers"] * SCALE),
    "sales_per_day": int(BASELINE["sales_per_day"] * SCALE),
    "visitors_per_day": int(BASELINE["visitors_per_day"] * SCALE),
    "leads_per_day": int(BASELINE["leads_per_day"] * SCALE),
    "lead_match": BASELINE["lead_match"],
}

SIZES = {
    # each day's customer export holds the records of that day's buyers
    "cdp_daily": {**_DAILY, **MIX, "history_days": 5, "days": 3},
    # a round is one day's deltas; the corpus state and deltas have no
    # source in the reference (assumed): ``dup_frac`` of delta documents
    # and vectors near-duplicate a stored or earlier one
    "stream_ingest": {
        # streaming_upsert merges its input as given (the quality gate is
        # the batch ETL's), so its deltas hold no invalid rows. History and
        # rounds share one month, so every round rewrites the one lake
        # partition: with two, how the few corrections of the older month
        # hashed over the shuffle tasks changed the number of files written,
        # and write_amp by up to 7% from seed to seed.
        **_DAILY, **MIX, "invalid_frac": 0.0, "history_days": 25, "rounds": 3,
        "stored_docs": 2_000, "stored_vectors": 2_000, "dims": 32,
        "docs_per_delta": 100, "vectors_per_delta": 100, "dup_frac": 0.25,
    },
}

# ---------------------------------------------------------------- CDP tables

SALES_COLUMNS = [
    "dealno", "custno", "vin", "stockno", "branch", "year", "makename",
    "modelname", "bodystyle", "color", "modeltype", "vehiclemileage",
    "saletype", "dealtype", "cashprice", "costprice", "outthedoorprice",
    "totalgross", "frontgross", "backgross", "customercashdown", "totaldown",
    "financesource", "financeamt", "apr", "term", "paymentamt", "trade1vin",
    "trade1acv", "trade1payoff", "nettrade1", "trade1year", "trade1makename",
    "trade1modelname", "leasetype", "leasepayment", "leasemileageallowance",
    "leaseendvalue", "warrantyfee", "weowesaletotal", "crmsalesmgrname",
    "crmsp1name", "contractdate", "salesdate", "rowlastupdatedutc",
]

#: customer_master export layout and the cast the inbox reader applies.
CUSTOMER_CAST = {
    "custno": "string", "firstname": "string", "lastname": "string",
    "email": "string", "telephone": "string", "address": "string",
    "addresssecondline": "string", "city": "string", "state": "string",
    "ziporpostalcode": "string", "gender": "string", "birthdate": "date",
    "preferredlanguage": "string", "blockdatashare": "boolean",
    "blockemail": "boolean", "blockemailnational": "boolean",
    "blockmail": "boolean", "blockmailnational": "boolean",
    "blockphone": "boolean", "optoutflag": "boolean",
    "optoutdate": "timestamp", "deletedataflag": "boolean",
    "deletedatadate": "timestamp", "isdeleted": "boolean",
    "lastservicedate": "timestamp", "ytdpurchases": "decimal(18,2)",
    "totallabor": "decimal(18,2)", "totalparts": "decimal(18,2)",
    "lastupdated": "timestamp", "dateadded": "timestamp",
}

BRANCHES = ["FORD-MAIN", "TOYOTA-NORTH", "CHEV-SOUTH", "BMW-WEST"]
MAKES = ["Ford", "Toyota", "Chevrolet", "BMW", ""]
MODELS = ["F-150", "Camry", "Silverado", "X3", "Escape", "RAV4"]
MODELTYPES = ["NEW CAR", "New", "used suv", "USED", "Certified Pre-owned", "DEMO", ""]
SALETYPES = ["CASH DEAL", "cash", "FINANCE", "Retail Finance", "LEASE-36", "Wholesale", ""]
FIRST = ["Alice", "Bob", "Carol", "Dave", "Eve", "Frank", "Grace", "Heidi", ""]
LAST = ["Smith", "Jones", "Garcia", "Lee", "Patel", "Nguyen", "Brown", ""]
GENDERS = ["M", "Male", "F", "Female", "f", "X", ""]
DOMAINS = ["dealer.net", "mail.com", "example.com", "web.org", "test.com"]


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _money(rng: random.Random, lo: int, hi: int) -> str:
    return f"{rng.randrange(lo * 4, hi * 4) / 4:.2f}"


def _maybe(rng: random.Random, value: str, p_null: float = 0.1) -> str:
    return "" if rng.random() < p_null else value


def _email(i: int, rng: random.Random) -> str:
    return f"cust{i}@{DOMAINS[i % len(DOMAINS)]}" if rng.random() > 0.1 else ""


def _phone(i: int) -> str:
    return f"555{i:07d}"


def _customer_row(rng: random.Random, i: int, updated: datetime) -> list[str]:
    flag = lambda p: _maybe(rng, "true" if rng.random() < p else "false", 0.3)  # noqa: E731
    birth = datetime(rng.randrange(1940, 2006), rng.randrange(1, 13), rng.randrange(1, 28))
    return [
        f"C{i:06d}", rng.choice(FIRST), rng.choice(LAST), _email(i, rng),
        _maybe(rng, _phone(i), 0.2), _maybe(rng, f" {rng.randrange(1, 999)} Main St "),
        _maybe(rng, "Apt 4", 0.7), _maybe(rng, rng.choice(["Springfield", " Rivertown"])),
        _maybe(rng, rng.choice(["ca", "TX", "Ny", " wa "])),
        _maybe(rng, rng.choice(["94110", "9411O-123", "73301"])), rng.choice(GENDERS),
        _maybe(rng, birth.strftime("%Y-%m-%d"), 0.15),
        _maybe(rng, rng.choice(["English", "Spanish"]), 0.5),
        flag(0.1), flag(0.2), flag(0.1), flag(0.2), flag(0.1), flag(0.2), flag(0.15),
        _maybe(rng, _ts(updated - timedelta(days=rng.randrange(1, 900))), 0.7),
        _maybe(rng, "true" if rng.random() < 0.03 else "false", 0.5),
        _maybe(rng, _ts(updated - timedelta(days=rng.randrange(1, 900))), 0.9),
        _maybe(rng, "true" if rng.random() < 0.03 else "false", 0.5),
        _maybe(rng, _ts(updated - timedelta(days=rng.randrange(1, 500))), 0.25),
        _maybe(rng, _money(rng, 0, 5000), 0.2), _maybe(rng, _money(rng, 0, 4000), 0.15),
        _maybe(rng, _money(rng, 0, 3000), 0.15), _ts(updated),
        _maybe(rng, _ts(updated - timedelta(days=rng.randrange(1, 4000))), 0.05),
    ]


class _Deals:
    """Deal-number, VIN and timestamp minting shared by the sales writers.

    Each deal belongs to one customer; ``co_buyer_frac`` of a day's new
    deals (rounded, so every day has the same number) carry a second row
    for a co-buyer, which links two customers in ``refresh_gold``'s
    customer<->deal closure. Co-buyers come from the top ``CO_BUYER_POOL``
    of customer numbers, which never buy on their own, each one once; and
    the first correction of a day revises a past co-buyer deal. So every
    day's closure takes exactly two rounds: one adds the past co-buyers of
    the day's customers, the next finds nothing new. A third round costs a
    day about a fifth more time, so it must not depend on how a seed
    happens to chain shared deals.
    """

    def __init__(self, rng: random.Random, customers: int):
        self.rng = rng
        self.customers = customers
        self.buyers = customers - int(customers * CO_BUYER_POOL)
        self.next_co_buyer = customers
        self.next_deal = 1
        self.past: list[tuple[str, str, str, datetime]] = []
        self.past_shared: list[tuple[str, str, str, datetime]] = []
        self.tails: list[list[str]] = []
        self.clock = 0

    def _tail(self) -> list[str]:
        rng = self.rng
        trade = rng.random() < 0.4
        return [
            f"S{rng.randrange(1, 99999):05d}",
            rng.choice(BRANCHES), str(rng.randrange(2005, 2026)), rng.choice(MAKES),
            rng.choice(MODELS), rng.choice(["Sedan", "SUV", "Truck"]),
            rng.choice(["Red", "Blue", "Black", "White"]), rng.choice(MODELTYPES),
            str(rng.randrange(0, 120000)), rng.choice(SALETYPES),
            rng.choice(["Retail", "Wholesale"]), _money(rng, 5000, 80000),
            _money(rng, 4000, 70000), _maybe(rng, _money(rng, 5000, 90000), 0.05),
            _money(rng, -2000, 12000), _money(rng, -2000, 8000), _money(rng, 0, 5000),
            _maybe(rng, _money(rng, 0, 20000), 0.2), _maybe(rng, _money(rng, 0, 25000), 0.2),
            _maybe(rng, rng.choice(["Ally", "Chase", "CapOne"]), 0.3),
            _maybe(rng, _money(rng, 0, 70000), 0.3),
            _maybe(rng, f"{rng.randrange(0, 800) / 100:.2f}", 0.3),
            _maybe(rng, str(rng.choice([36, 48, 60, 72])), 0.3),
            _maybe(rng, _money(rng, 100, 1500), 0.3),
            f"TVIN{rng.randrange(1, 10**8):08d}" if trade else "",
            _money(rng, 500, 30000) if trade else "", "", "", "", "", "",
            _maybe(rng, "Closed", 0.8), _maybe(rng, _money(rng, 200, 900), 0.8), "", "",
            _maybe(rng, _money(rng, 0, 3000), 0.5), "",
            _maybe(rng, rng.choice(["Mgr A", "Mgr B"]), 0.2),
            _maybe(rng, rng.choice(["Sales X", "Sales Y"]), 0.2),
        ]

    def _row(self, dealno: str, custno: str, vin: str, sold: datetime) -> list[str]:
        # deal attributes come from a seeded pool: generation stays cheap
        # while keys, dates and update times are unique per row
        if not self.tails:
            self.tails = [self._tail() for _ in range(512)]
        self.clock += 1
        updated = sold + timedelta(hours=12, seconds=self.clock)
        tail = self.tails[self.rng.randrange(len(self.tails))]
        return [dealno, custno, vin, *tail,
                _ts(sold - timedelta(hours=2)), _ts(sold), _ts(updated)]

    def day(self, sold_day: datetime, n: int, mix: dict, buyers: list[int]) -> list[list[str]]:
        """One day's export: new deals plus redeliveries, corrections and
        invalid rows in the stated fractions."""
        rng = self.rng
        rows: list[list[str]] = []
        n_redeliver = int(n * mix.get("redelivered_frac", 0)) if self.past else 0
        n_correct = int(n * mix.get("corrected_frac", 0)) if self.past else 0
        n_invalid = int(n * mix.get("invalid_frac", 0))
        n_new = n - n_redeliver - n_correct - n_invalid
        shared = set(rng.sample(range(n_new), round(n_new * mix.get("co_buyer_frac", 0))))
        new_shared = []
        for k in range(n_new):
            dealno = f"D{self.next_deal:07d}"
            self.next_deal += 1
            cust = buyers[k % len(buyers)] if buyers else rng.randrange(1, self.buyers + 1)
            custno, vin = f"C{cust:06d}", f"VIN{rng.randrange(1, 10**9):09d}"
            sold = sold_day + timedelta(hours=rng.randrange(8, 20))
            row = self._row(dealno, custno, vin, sold)
            rows.append(row)
            self.past.append((dealno, custno, vin, sold))
            if k in shared:
                if self.next_co_buyer <= self.buyers:
                    raise ValueError("co-buyer pool exhausted")
                rows.append(self._row(dealno, f"C{self.next_co_buyer:06d}", vin, sold))
                self.next_co_buyer -= 1
                new_shared.append(self.past[-1])
        for _ in range(n_redeliver):  # byte-identical re-send of a past row
            if rows:
                rows.append(list(rows[rng.randrange(len(rows))]))
        for j in range(n_correct):  # a newer version of an older deal
            pool = self.past_shared if j == 0 and self.past_shared else self.past
            dealno, custno, vin, sold = pool[rng.randrange(len(pool))]
            rows.append(self._row(dealno, custno, vin, sold))
        self.past_shared += new_shared
        for _ in range(n_invalid):  # fails the ETL quality gate
            bad = self._row(f"D{self.next_deal:07d}X", "", "", sold_day)
            self.next_deal += 1
            bad[rng.randrange(3)] = ""
            rows.append(bad)
        return rows


def _write(path: str, data: bytes) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _csv(header: list[str], rows: list[list[str]]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> int:
    return _write(path, _csv(header, rows))


def _write_encrypted_csv(path: str, header: list[str], rows: list[list[str]]) -> int:
    return _write(path, bytes(b ^ XOR_KEY for b in _csv(header, rows)))


def _write_jsonl(path: str, records: list[dict]) -> int:
    return _write(path, "".join(json.dumps(r, sort_keys=True) + "\n" for r in records).encode())


def _adf(lead_id: str, first: str, last: str, email: str, phone: str, session: str) -> str:
    comments = f"<comments>SD_SESSION: {session}</comments>" if session else ""
    return (
        "<?xml version=\"1.0\"?><adf><prospect>"
        f"<id>{lead_id}</id><vehicle><year>2025</year><make>Ford</make>"
        "<model>F-150</model></vehicle><customer><contact>"
        f"<name part=\"first\">{first}</name><name part=\"last\">{last}</name>"
        f"<email>{email}</email><phone>{phone}</phone></contact>{comments}"
        "</customer></prospect></adf>"
    )


def _visitors_and_leads(
    rng: random.Random, tag: str, day: datetime, n_visitors: int, n_leads: int,
    match: float, session_share: float, customers: int,
) -> tuple[list[dict], list[dict]]:
    """A day's visitor sessions and ADF leads. ``match`` of the leads belong
    to a visitor (``visitor_id``; None for the rest): ``session_share`` of
    those carry its session id, the rest only its email or phone."""
    visitors = []
    for v in range(n_visitors):
        cust = rng.randrange(1, customers + 1)
        visitors.append({
            "visitor_id": f"V{tag}_{v:05d}",
            "session_id": f"S{tag}_{v:05d}",
            "email": f"cust{cust}@{DOMAINS[cust % len(DOMAINS)]}" if rng.random() < 0.7 else None,
            "phone": _phone(cust) if rng.random() < 0.5 else None,
            "first_seen": _ts(day + timedelta(minutes=rng.randrange(0, 600))),
        })
    reachable = [v for v in visitors if v["email"] or v["phone"]]
    leads = []
    for k in range(n_leads):
        u = rng.random()
        if u < match * session_share:  # tier 1: shared session id within 24 h
            v = visitors[rng.randrange(len(visitors))]
            session, email, phone = v["session_id"], "", ""
        elif u < match:  # tier 2: the visitor's email or phone
            v = reachable[rng.randrange(len(reachable))]
            session, email, phone = "", v["email"] or "", v["phone"] or ""
        else:  # unmatched: unknown contact, no session
            v = visitors[rng.randrange(len(visitors))]
            session, email, phone = "", f"anon{tag}{k}@nowhere.org", ""
        seen = datetime.strptime(v["first_seen"], "%Y-%m-%d %H:%M:%S")
        lead_id = f"L{tag}_{k:04d}"
        leads.append({
            "lead_id": lead_id,
            "received_at": _ts(seen + timedelta(minutes=rng.randrange(5, 600))),
            "xml": _adf(lead_id, rng.choice(FIRST[:-1]), rng.choice(LAST[:-1]),
                        email, phone, session),
            "visitor_id": v["visitor_id"] if u < match else None,
        })
    return visitors, leads


def write_cdp(root: str, seed: int) -> dict:
    """History load, then per day: sales CSV, encrypted customer export,
    visitor JSONL and ADF lead JSONL. Returns the input manifest."""
    p = SIZES["cdp_daily"]
    rng = random.Random(seed)
    deals = _Deals(rng, p["customers"])
    header = list(CUSTOMER_CAST)
    history_start = _DAY0 - timedelta(days=p["history_days"])
    cust_rows = [_customer_row(rng, i, history_start) for i in range(1, p["customers"] + 1)]
    manifest = {"history": {}, "days": []}
    m = manifest["history"]
    m["customers"] = f"{root}/history/customer_master/c-history.csv.gpg"
    _write_encrypted_csv(m["customers"], header, cust_rows)
    hist = []
    for d in range(p["history_days"]):
        hist += deals.day(history_start + timedelta(days=d), p["sales_per_day"], p, [])
    m["sales"] = f"{root}/history/sales/s000.csv"
    _write_csv(m["sales"], SALES_COLUMNS, hist)
    for d in range(p["days"]):
        day = _DAY0 + timedelta(days=d)
        tag = f"{d:03d}"
        buyers = [rng.randrange(1, deals.buyers + 1) for _ in range(p["sales_per_day"])]
        sales = deals.day(day, p["sales_per_day"], p, buyers)
        touched = sorted(set(buyers))
        updated = day + timedelta(hours=6)
        custs = [_customer_row(rng, i, updated + timedelta(seconds=j))
                 for j, i in enumerate(touched)]
        visitors, leads = _visitors_and_leads(
            rng, tag, day, p["visitors_per_day"], p["leads_per_day"],
            p["lead_match"], p["lead_session_share"], p["customers"],
        )
        e = {"date": day.strftime("%Y-%m-%d"), "sales_rows": len(sales),
             "customer_rows": len(custs), "lead_rows": len(leads),
             "visitor_rows": len(visitors)}
        e["sales"] = f"{root}/days/{tag}/sales/s{tag}.csv"
        e["customers"] = f"{root}/days/{tag}/customer_master/c{tag}.csv.gpg"
        e["visitors"] = f"{root}/days/{tag}/visitors.jsonl"
        e["leads"] = f"{root}/days/{tag}/leads.jsonl"
        e["matched_leads"] = [x["lead_id"] for x in leads if x["visitor_id"]]
        e["bytes"] = (
            _write_csv(e["sales"], SALES_COLUMNS, sales)
            + _write_encrypted_csv(e["customers"], header, custs)
            + _write_jsonl(e["visitors"], visitors)
            + _write_jsonl(e["leads"], [{"received_at": x["received_at"], "xml": x["xml"]}
                                        for x in leads])
        )
        manifest["days"].append(e)
    return manifest


# ------------------------------------------------------------ stream ingest

STOPS = ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"]

#: the incremental twins a ``stream_ingest`` round drains, in order
TWINS = ("upsert", "dedup", "semdedup", "match")


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randrange(4, 9))) for _ in range(n)]


def _doc_words(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    return [rng.choice(STOPS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n_words)]


def _edit(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    out = list(words)
    for _ in range(max(1, len(out) // 40)):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def _write_parquet(path: str, table: pa.Table) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _vectors(vecs: np.ndarray, first_id: int) -> pa.Table:
    return pa.table({"vec_id": pa.array(range(first_id, first_id + len(vecs)), pa.int64()),
                     "embedding": pa.array([r.tolist() for r in vecs], pa.list_(pa.float32()))})


def write_stream(root: str, seed: int) -> dict:
    """Initial state inputs plus ``rounds`` delta files for each ingest twin.

    A round holds one delta for each twin in ``TWINS``. ``dup_frac`` of
    delta documents and vectors near-duplicate a stored or earlier one.
    """
    p = SIZES["stream_ingest"]
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    deals = _Deals(rng, p["customers"])
    day0 = _DAY0 + timedelta(days=p["history_days"])
    hist = []
    for d in range(p["history_days"]):
        hist += deals.day(_DAY0 + timedelta(days=d), p["sales_per_day"], p, [])
    out = {"sales_history": f"{root}/state/sales/s000.csv", "rounds": []}
    _write_csv(out["sales_history"], SALES_COLUMNS, hist)
    vocab = _vocab(rng, 3000)
    sd, sv = p["stored_docs"], p["stored_vectors"]
    total = sd + p["rounds"] * p["docs_per_delta"]
    nd, nvd = p["docs_per_delta"], p["vectors_per_delta"]
    words = [_doc_words(rng, vocab, rng.randrange(30, 110)) for _ in range(total)]
    # every delta holds the same number of near-duplicates
    for d0 in range(sd, total, nd):
        for i in sorted(rng.sample(range(d0, d0 + nd), round(nd * p["dup_frac"]))):
            words[i] = _edit(rng, words[rng.randrange(i)], vocab)
    texts = [" ".join(w) for w in words]
    nv = sv + p["rounds"] * nvd
    vecs = nrng.standard_normal((nv, p["dims"])).astype(np.float32)
    for v0 in range(sv, nv, nvd):
        for i in sorted(nrng.choice(np.arange(v0, v0 + nvd), round(nvd * p["dup_frac"]),
                                    replace=False)):
            vecs[i] = vecs[nrng.integers(0, i)] + 0.01 * nrng.standard_normal(
                p["dims"]).astype(np.float32)
    out["docs"] = f"{root}/state/docs.parquet"
    out["vectors"] = f"{root}/state/vectors.parquet"
    _write_parquet(out["docs"], pa.table(
        {"doc_id": pa.array(range(1, sd + 1), pa.int64()), "text": texts[:sd]}))
    _write_parquet(out["vectors"], _vectors(vecs[:sv], 0))
    for r in range(p["rounds"]):
        tag = f"{r:03d}"
        day = day0 + timedelta(days=r)
        sales = deals.day(day, p["sales_per_day"], p, [])
        d0, v0 = sd + r * nd, sv + r * nvd
        visitors, leads = _visitors_and_leads(
            # streaming_session_match joins on the session id only
            rng, tag, day, p["visitors_per_day"], p["leads_per_day"],
            p["lead_match"], 1.0, p["customers"],
        )
        e = {
            "sales": f"{root}/deltas/sales/{tag}.csv",
            "docs": f"{root}/deltas/docs/{tag}.parquet",
            "vectors": f"{root}/deltas/vectors/{tag}.parquet",
            "visitors": f"{root}/deltas/visitors/{tag}.jsonl",
            "leads": f"{root}/deltas/leads/{tag}.jsonl",
        }
        docs = pa.table({"doc_id": pa.array(range(d0 + 1, d0 + nd + 1), pa.int64()),
                         "text": texts[d0:d0 + nd]})
        e["matches"] = [[x["lead_id"], x["visitor_id"]] for x in leads if x["visitor_id"]]
        match_bytes = _write_jsonl(e["visitors"], visitors) + _write_jsonl(
            e["leads"], [{k: x[k] for k in ("lead_id", "received_at", "xml")} for x in leads])
        e["rows"] = len(sales) + nd + nvd + len(visitors) + len(leads)
        e["bytes"] = (_write_csv(e["sales"], SALES_COLUMNS, sales) + match_bytes
                      + _write_parquet(e["docs"], docs)
                      + _write_parquet(e["vectors"], _vectors(vecs[v0:v0 + nvd], v0)))
        out["rounds"].append(e)
    return out


WRITERS = {"cdp_daily": write_cdp, "stream_ingest": write_stream}
