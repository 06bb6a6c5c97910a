"""Seeded input generators.

Everything the program reads in a benchmark run is made here from the
run's seed: the TPC-H-shaped tables, the ``events`` stream table, the
text corpus and its embeddings (all written as parquet with the same
schemas as the repository's TESTDATA tables), and the radar portal's report
workbooks. The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- tables ---------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
N_LABELS = 10

DAY0 = np.datetime64("1995-01-01", "D")


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _price(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _disjoint_trigram_pair(rng: np.random.Generator) -> tuple[str, str]:
    """Two short documents that share no character 3-gram.

    Adjacent-id n-gram Jaccard (``dedup_ngram_jaccard``) has a known
    disagreement with its oracle on exactly this input: the engine
    emits the pair with jaccard 0.0 and the oracle's inner join drops
    it. Short documents like these occur in real corpora, so the
    corpus always carries one such adjacent pair and the benchmark's
    correctness check sees the case on every seed."""

    def grams(s: str) -> set[str]:
        return {s[i : i + 3] for i in range(len(s) - 2)}

    while True:
        a = " ".join(rng.choice(VOCAB, 4))
        b = " ".join(rng.choice(VOCAB, 4))
        if not grams(a) & grams(b):
            return a, b


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten TESTDATA-shaped tables at scale ``sf``; return row
    counts. Sizes follow TESTDATA.md: lineitem ~6M x sf,
    documents and embeddings floored at 500 rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _price(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _price(rng, 0.0, 9999.99, n_supp),
    })
    adj = np.asarray(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.asarray(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20_000) * 0.1, 2),
    })
    order_day = DAY0 + rng.integers(0, 2404, n_ord)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _price(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": order_day.astype("datetime64[us]"),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": (np.arange(n_line) - run_start + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _price(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": (order_day[l_order] + rng.integers(1, 122, n_line)).astype(
            "datetime64[us]"
        ),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": t0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _price(rng, 0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    lengths = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    # ~5% near duplicates: an earlier document plus one extra token
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    at = int(rng.integers(0, n_docs - 1))
    texts[at], texts[at + 1] = _disjoint_trigram_pair(rng)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    centroids = rng.standard_normal((N_LABELS, EMBED_DIM))
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    return rows


# --- radar portal ---------------------------------------------------------

ROWS_PER_TEMPLATE = {1: 96, 2: 192, 3: 192}
STREETS = ["Rua Blumenau", "Av. Santos Dumont", "Rua XV de Novembro", "Rua Dona Francisca"]


@dataclass
class RadarPlan:
    """The seeded radar world: devices, their report templates, the
    first night's day, and each (device, day)'s first-fetch outcome.

    Outcomes: ``good``; ``fail`` (HTTP 500 on the first attempt, good
    on any retry — 2% of the devices each night); ``bad`` (an
    unparseable workbook on every attempt — 1%); ``stale`` (exactly one
    device per night after the first serves its previous day's report
    again, a re-landed duplicate). The seed picks which devices; the
    counts are fixed, so every seed gives a night, and the backload
    after it, the same amount of work."""

    seed: int
    devices: list[str]
    template: dict[str, int]
    street: dict[str, str]
    day0: dt.date
    outcomes: dict[tuple[str, dt.date], str] = field(default_factory=dict)

    def day(self, night: int) -> dt.date:
        return self.day0 + dt.timedelta(days=night)

    def plan_night(self, night: int) -> None:
        day = self.day(night)
        rng = np.random.default_rng([self.seed, night])
        n = len(self.devices)
        n_fail, n_bad = max(1, round(0.02 * n)), max(1, round(0.01 * n))
        outcome = ["fail"] * n_fail + ["bad"] * n_bad + ["good"] * (n - n_fail - n_bad)
        for dev, o in zip(self.devices, rng.permutation(outcome)):
            self.outcomes[(dev, day)] = str(o)
        if night > 0:
            prev = self.day(night - 1)
            ok = [d for d in self.devices if self.outcomes[(d, prev)] == "good"
                  and self.outcomes[(d, day)] == "good"]
            self.outcomes[(ok[int(rng.integers(0, len(ok)))], day)] = "stale"

    def report(self, dev: str, day: dt.date, attempt: int) -> bytes | None:
        """Bytes the portal serves; None means an HTTP error."""
        from radares_spark.io.report_parser import build_bad_report, build_report

        outcome = self.outcomes[(dev, day)]
        if outcome == "fail" and attempt == 0:
            return None
        if outcome == "bad":
            return build_bad_report()
        if outcome == "stale":
            day = day - dt.timedelta(days=1)
        return build_report(self.template[dev], day, dev, self.street[dev])


def radar_plan(seed: int, n_devices: int) -> RadarPlan:
    rng = np.random.default_rng([seed, 99])
    ids = sorted(rng.choice(np.arange(100, 1000), n_devices, replace=False))
    devices = [f"FS{i}JOI" for i in ids]
    # templates 1/2/3 in fixed shares (50/25/25 %), seeded assignment
    n1, n2 = round(0.5 * n_devices), round(0.25 * n_devices)
    tpl = rng.permutation([1] * n1 + [2] * n2 + [3] * (n_devices - n1 - n2))
    street = rng.integers(0, len(STREETS), n_devices)
    day0 = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    return RadarPlan(
        seed=seed,
        devices=devices,
        template={d: int(t) for d, t in zip(devices, tpl)},
        street={d: STREETS[s] for d, s in zip(devices, street)},
        day0=day0,
    )


class FakePortal:
    """In-process stand-in for the radar portal's HTTP session. Serves
    workbooks built ahead of the timed nights by :meth:`prebuild`."""

    def __init__(self, plan: RadarPlan):
        self.plan = plan
        self.attempts: dict[tuple[str, dt.date], int] = {}
        self.cache: dict[tuple, bytes | None] = {}

    def _key(self, dev: str, day: dt.date, attempt: int) -> tuple:
        # only a first-attempt HTTP failure differs between attempts
        return (dev, day, attempt > 0 and self.plan.outcomes[(dev, day)] == "fail")

    def prebuild(self, pairs, attempt: int) -> None:
        for dev, day in pairs:
            key = self._key(dev, day, attempt)
            if key not in self.cache:
                self.cache[key] = self.plan.report(dev, day, attempt)

    def get(self, url, params=None, stream=False):
        dev = params["equipamento"]
        d, m, y = params["dataStr"].split("/")
        day = dt.date(int(y), int(m), int(d))
        attempt = self.attempts.get((dev, day), 0)
        self.attempts[(dev, day)] = attempt + 1
        self.prebuild([(dev, day)], attempt)
        return _Response(self.cache[self._key(dev, day, attempt)])


class _Response:
    def __init__(self, content: bytes | None):
        self.content = content
        self.status_code = 500 if content is None else 200

    def raise_for_status(self) -> None:
        if self.content is None:
            raise RuntimeError("HTTP 500 from portal")

