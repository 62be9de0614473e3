"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical parquet files and yields the same micro-batch schedule,
a new seed gives new inputs. Value domains mirror the repo's synthetic
TPC-H-ish corpus at sf0.1 (lineitem 600k rows, orders 150k, events
100k, documents 5k, embeddings 2k), so every registry query and its
DuckDB oracle run unchanged against the generated directory.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
         "orders": 150_000, "lineitem": 600_000, "events": 100_000,
         "documents": 5_000, "embeddings": 2_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _perturb(rng, text: str) -> str:
    """A near-duplicate: 1-3 word substitutions, so shingle and LSH
    signatures mostly collide with the original's."""
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 4))):
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(words)


MAX_COPIES = 24


def _skewed_sources(rng, n_src: int, n_copies: int) -> np.ndarray:
    """Which original each near-duplicate copies: Zipf(1.3) ranks over
    a seeded permutation of the originals, with at most ``MAX_COPIES``
    copies of any one original, so a few originals own LSH buckets of a
    controlled depth and the rest stay shallow."""
    perm = rng.permutation(n_src)
    used = np.zeros(n_src, dtype=np.int64)
    out = np.empty(n_copies, dtype=np.int64)
    for i, r in enumerate(np.minimum(rng.zipf(1.3, n_copies), n_src) - 1):
        while used[r] >= MAX_COPIES:
            r = (r + 1) % n_src
        used[r] += 1
        out[i] = perm[r]
    return out


def lineitem(rng, m: int, n: dict[str, int] = SIZES) -> pa.Table:
    lo = _day_us(dt.date(1995, 1, 1))
    qty = rng.integers(1, 51, m).astype("float64")
    sdays = rng.integers(0, 2499, m)
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _ts(lo + (1 + sdays) * _DAY_US)})


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """Every table of the sf0.1 corpus."""
    rng = np.random.default_rng([seed, 1])
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype="int64"),
        "p_name": names[rng.integers(0, len(names), n["part"])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)})
    lo, hi = _day_us(dt.date(1995, 1, 1)), _day_us(dt.date(2001, 8, 1))
    odays = rng.integers(0, (hi - lo) // _DAY_US + 1, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _ts(lo + odays * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n["orders"])]})
    t["lineitem"] = lineitem(rng, n["lineitem"], n)
    e = n["events"]
    ev_lo = _day_us(dt.date(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(ev_lo + ts),
        "user_id": rng.integers(0, 1500, e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    t.update(corpus_tables(seed))
    return t


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """Documents and embeddings: 70% originals, 30% near-duplicate
    replicas of Zipf-chosen originals (skewed LSH bucket depth)."""
    rng = np.random.default_rng([seed, 2])
    nd = SIZES["documents"]
    n_orig = nd * 7 // 10
    texts = [_text(rng, int(rng.integers(10, 101))) for _ in range(n_orig)]
    for src in _skewed_sources(rng, n_orig, nd - n_orig):
        texts.append(_perturb(rng, texts[src]))
    order = rng.permutation(nd)
    texts = [texts[i] for i in order]
    docs = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    ne = SIZES["embeddings"]
    n_orig = ne * 7 // 10
    vec = rng.normal(0, 0.12, (ne, EMBED_DIM)).astype("float32")
    src = _skewed_sources(rng, n_orig, ne - n_orig)
    vec[n_orig:] = vec[src] + rng.normal(0, 0.01, (ne - n_orig, EMBED_DIM)).astype("float32")
    vec = vec[rng.permutation(ne)]
    emb = pa.table({
        "vec_id": np.arange(ne, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, ne).astype("int32")})
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# elt_incremental: the micro-batch schedule and its reference state
# ---------------------------------------------------------------------------

ELT_BASE_COLS = ("id", "Amount", "Account.Unit", "Qty", "op")
MAX_DRIFT = 32


@dataclass
class EltParams:
    """Seed-drawn knobs of the micro-batch stream."""
    batch_rows: int
    share_insert: float
    share_update: float            # remainder of the batch are deletes
    zipf_a: float                  # recency skew of update/delete keys
    drift_every: int               # a new Drift_<k> column every K batches
    dirty_share: float             # share of rows with a dirty Amount

    @classmethod
    def from_seed(cls, seed: int, batch_rows: int) -> "EltParams":
        # Inserts outnumber deletes (at least 5% of a batch and at most
        # 25%), so the table grows slowly and every run keeps updating
        # and deleting live keys; 2-6% dirty values give validation
        # rejects and cleansing repairs in every batch.
        rng = np.random.default_rng([seed, 3])
        ins = float(rng.uniform(0.35, 0.5))
        upd = float(rng.uniform(0.4, 0.55))
        return cls(batch_rows=batch_rows, share_insert=ins,
                   share_update=min(upd, 0.95 - ins),
                   zipf_a=float(rng.uniform(1.2, 1.6)),
                   drift_every=int(rng.integers(1, 3)),
                   dirty_share=float(rng.uniform(0.02, 0.06)))


@dataclass
class EltStream:
    """Generates the initial load and each micro-batch, and keeps the
    reference state (id → cleansed row) the loaded tables must equal.

    Rows are JSON objects whose values are all strings, as the lake
    API serves them. A dirty Amount is either a date string (cleansing
    repairs it to 0.0) or an unparsable token (validation rejects the
    row, so it never reaches the fact table)."""
    seed: int
    params: EltParams
    keys: list[str] = field(default_factory=list)       # live, oldest first
    state: dict[str, dict] = field(default_factory=dict)
    next_key: int = 0
    batch_no: int = 0

    def __post_init__(self):
        self._rng = np.random.default_rng([self.seed, 4])

    def drift_cols(self, batch_no: int) -> list[str]:
        n = min(batch_no // self.params.drift_every, MAX_DRIFT)
        return [f"Drift_{k}" for k in range(1, n + 1)]

    def _new_id(self) -> str:
        self.next_key += 1
        return f"k{self.next_key:08d}"

    def _row(self, key: str, op: str, drift: list[str]) -> tuple[dict, dict | None]:
        rng = self._rng
        amount = f"{rng.uniform(-500, 5000):.2f}"
        clean_amount = float(amount)
        if rng.random() < self.params.dirty_share:
            if rng.random() < 0.5:
                amount, clean_amount = "2024-01-15", 0.0
            else:
                amount, clean_amount = "n/a", None
        unit = f"AU{int(rng.integers(0, 40)):02d}"
        qty = int(rng.integers(1, 100))
        raw = {"id": key, "Amount": amount, "Account.Unit": unit,
               "Qty": str(qty), "op": op}
        for c in drift:
            raw[c] = f"{c.lower()}-{int(rng.integers(0, 1000))}"
        if clean_amount is None:
            return raw, None
        clean = {"id": key, "Amount": clean_amount, "Account_Unit": unit,
                 "Qty": qty, "op": op}
        clean.update({c: raw[c] for c in drift})
        return raw, clean

    def _apply(self, key: str, op: str, clean: dict | None, new: bool) -> None:
        if clean is None:
            if new:
                self.keys.remove(key)
            return
        if op == "D":
            self.keys.remove(key)
            del self.state[key]
        else:
            self.state[key] = clean

    def initial(self, n_rows: int) -> list[dict]:
        """The first load (inserts only, no dirty values)."""
        out = []
        dirty, self.params.dirty_share = self.params.dirty_share, 0.0
        for _ in range(n_rows):
            key = self._new_id()
            self.keys.append(key)
            raw, clean = self._row(key, "I", [])
            self._apply(key, "I", clean, True)
            out.append(raw)
        self.params.dirty_share = dirty
        return out

    def _pick_existing(self, taken: set[str]) -> str:
        # Zipf over recency: rank 1 is the newest live key
        n = len(self.keys)
        while True:
            r = int(min(self._rng.zipf(self.params.zipf_a), n))
            key = self.keys[n - r]
            if key not in taken:
                return key

    def next_batch(self) -> list[dict]:
        """One micro-batch: at most one op per key, updates and deletes
        only on live keys, inserts on fresh keys."""
        self.batch_no += 1
        p = self.params
        drift = self.drift_cols(self.batch_no)
        n_ins = int(round(p.batch_rows * p.share_insert))
        n_upd = int(round(p.batch_rows * p.share_update))
        n_del = p.batch_rows - n_ins - n_upd
        plan: list[tuple[str, str, bool]] = []
        taken: set[str] = set()
        for op, count in (("U", n_upd), ("D", n_del)):
            for _ in range(count):
                key = self._pick_existing(taken)
                taken.add(key)
                plan.append((key, op, False))
        for _ in range(n_ins):
            key = self._new_id()
            self.keys.append(key)
            plan.append((key, "I", True))
        self._rng.shuffle(plan)
        out = []
        for key, op, new in plan:
            raw, clean = self._row(key, op, drift)
            self._apply(key, op, clean, new)
            out.append(raw)
        return out

    def reference_aggregate(self) -> dict[str, tuple[int, float]]:
        """Account_Unit → (rows, round(sum(Amount), 2)) over live rows."""
        agg: dict[str, list] = {}
        for row in self.state.values():
            a = agg.setdefault(row["Account_Unit"], [0, 0.0])
            a[0] += 1
            a[1] += row["Amount"]
        return {k: (n, round(s, 2)) for k, (n, s) in agg.items()}


def to_jsonl(rows: list[dict]) -> bytes:
    return ("\n".join(json.dumps(r, sort_keys=True) for r in rows)).encode()
