"""Generator determinism: the same seed gives byte-identical inputs and
the same micro-batch stream; a new seed gives new inputs."""

from __future__ import annotations

import hashlib
import os

import gen


def _digests(tables, out_dir) -> dict[str, str]:
    gen.write_tables(tables, out_dir)
    return {name: hashlib.sha256(open(os.path.join(out_dir, f"{name}.parquet"), "rb").read())
            .hexdigest() for name in tables}


def test_same_seed_writes_identical_bytes_and_a_new_seed_new_inputs(tmp_path):
    t = gen.warehouse_tables(7)
    assert {k: t[k].num_rows for k in gen.SIZES} == gen.SIZES
    a = _digests(t, tmp_path / "a")
    b = _digests(gen.warehouse_tables(7), tmp_path / "b")
    c = _digests(gen.warehouse_tables(8), tmp_path / "c")
    assert a == b
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    fixed = {"region", "nation"}       # constant dimension tables
    assert all(a[t] != c[t] for t in a if t not in fixed)
    assert all(a[t] == c[t] for t in fixed)


def test_near_duplicate_depth_is_capped():
    docs = gen.corpus_tables(3)["documents"].column("text").to_pylist()
    assert len(docs) == gen.SIZES["documents"]
    # a replica differs from its original by at most three words, so
    # group documents by their first 5 words as a coarse bucket proxy
    buckets: dict[str, int] = {}
    for d in docs:
        key = " ".join(d.split(" ")[:5])
        buckets[key] = buckets.get(key, 0) + 1
    assert max(buckets.values()) <= gen.MAX_COPIES + 1 + 3


def _stream(seed: int, batches: int):
    s = gen.EltStream(seed, gen.EltParams.from_seed(seed, 50))
    out = [gen.to_jsonl(s.initial(100))]
    out += [gen.to_jsonl(s.next_batch()) for _ in range(batches)]
    return s, out


def test_elt_stream_is_deterministic_per_seed():
    s1, a = _stream(5, 6)
    s2, b = _stream(5, 6)
    _, c = _stream(6, 6)
    assert a == b
    assert a[1:] != c[1:]
    assert s1.state == s2.state


def test_elt_reference_state_follows_the_ops():
    s = gen.EltStream(2, gen.EltParams.from_seed(2, 40))
    s.initial(200)
    assert len(s.state) == 200
    for _ in range(8):
        live = set(s.state)
        rows = s.next_batch()
        assert len({r["id"] for r in rows}) == len(rows)       # one op per key
        for r in rows:
            if r["op"] in ("U", "D"):
                assert r["id"] in live
            else:
                assert r["id"] not in live
    assert set(s.keys) == set(s.state)
    # drift columns accumulate every K batches
    k = s.params.drift_every
    assert s.drift_cols(k) == ["Drift_1"]
    assert s.drift_cols(2 * k) == ["Drift_1", "Drift_2"]
