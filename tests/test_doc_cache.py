"""Commit-doc cache hardening (round-10: verdict "what's wrong" #2 +
ADVICE items): returned docs are deep copies (no caller mutation can
poison later replays), create-at-same-path invalidates cached docs
under the table's log dir, and `_nullable_json` never rewrites user
metadata payloads.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Row
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import types as T

from luma_etl_data_platform_spark.sources import lakehouse as LH


def _mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_mutating_returned_doc_lists_cannot_poison_cache(spark, tmp_path):
    """Returned docs have fresh top-level structure: reshaping the
    add/remove lists of one replay's docs never leaks into the next
    (element dicts are shared by documented invariant — the one
    mutating consumer, analyze_table, copies first; see below)."""
    path = str(tmp_path / "t")
    LH.create_table(spark, path, _mk(spark, [dict(k=1, v=10)]), ["k"])
    LH.append_table(spark, path, _mk(spark, [dict(k=2, v=20)]))
    docs = LH._commits(spark, path)          # warms the cache
    before = [LH._copy_json(d) for d in docs]
    docs[0]["add"].append({"path": "bogus.parquet"})
    docs[1]["add"].clear()
    docs[1]["remove"] = ["phantom.parquet"]
    docs[0]["op"] = "clobbered"
    # a subsequent replay must be unaffected
    again = LH._commits(spark, path)
    for d in again:
        d.pop("_txn", None)
    for d in before:
        d.pop("_txn", None)
    assert again == before
    assert LH.read_table(spark, path).count() == 2


def test_analyze_mutations_cannot_poison_cache(spark, tmp_path):
    """analyze_table mutates add-actions (stats merge) obtained from
    the cached replay — it must copy first, so the PRE-analyze
    version's cached docs never gain the new stats."""
    path = str(tmp_path / "t")
    LH.create_table(spark, path,
                    _mk(spark, [dict(k=1, v=10),
                                dict(k=2, v=20)]).coalesce(1), ["k"])
    LH._commits(spark, path)                 # warm cache with v1 doc
    LH.analyze_table(spark, path, stat_cols=["v"])
    v1_doc = [d for d in LH._commits(spark, path) if d["version"] == 1][0]
    # the ORIGINAL create commit's adds must not carry v stats
    assert all("v" not in (a.get("stats") or {}) for a in v1_doc["add"])
    # while the analyze commit's adds do
    v2_doc = [d for d in LH._commits(spark, path) if d["version"] == 2][0]
    assert all("v" in (a.get("stats") or {}) for a in v2_doc["add"])


def test_create_at_same_path_invalidates_cached_docs(spark, tmp_path):
    path = str(tmp_path / "t")
    LH.create_table(spark, path, _mk(spark, [dict(k=1, v=10)]), ["k"])
    LH._commits(spark, path)                 # warms the cache
    prefix = f"{path.rstrip('/')}/{LH._LOG_DIR}/"
    old_keys = [k for k in LH._DOC_CACHE if prefix in k[0]]
    assert old_keys                          # cache really was warm
    shutil.rmtree(path)
    LH.create_table(spark, path, _mk(spark, [dict(k=7, v=70)]), ["k"])
    # the OLD keys are gone regardless of any (mtime, len) collision
    # between the old and new commit files
    assert not any(k in LH._DOC_CACHE for k in old_keys)
    got = LH.read_table(spark, path).collect()
    assert [(r["k"], r["v"]) for r in got] == [(7, 70)]


def test_nullable_json_leaves_user_metadata_untouched(spark, tmp_path):
    """A StructField metadata key literally named 'nullable' or
    'containsNull' is user content — the declared-schema normalizer
    must not rewrite it (ADVICE r9)."""
    meta = {"nullable": False, "containsNull": False, "note": "mine"}
    sch = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.ArrayType(T.LongType(), False), True,
                      metadata=meta)])
    sj = LH._schema_json(sch)
    fields = {f["name"]: f for f in sj["fields"]}
    # schema-structural flags ARE normalized to nullable
    assert fields["k"]["nullable"] is True
    assert fields["v"]["type"]["containsNull"] is True
    # user metadata rides through verbatim
    assert fields["v"]["metadata"] == meta
    # and round-trips through a real table declaration
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, [1, 2])], schema=sch)
    LH.create_table(spark, path, df, ["k"])
    got = LH.table_schema(spark, path)
    assert got["v"].metadata == meta


def test_frozen_docs_trip_on_inplace_mutation(spark, tmp_path):
    """The invariant is MECHANICAL: every cached doc is stored frozen,
    so a deliberate in-place mutation of a shared cache element raises
    at the mutation site."""
    import pytest

    path = str(tmp_path / "t")
    LH.create_table(spark, path, _mk(spark, [dict(k=1, v=10)]), ["k"])
    doc = [d for d in LH._commits(spark, path) if d["version"] == 1][0]
    add = doc["add"][0]
    with pytest.raises(LH.FrozenDocError):
        add["stats"] = {"poison": True}
    with pytest.raises(LH.FrozenDocError):
        add.setdefault("rows", 999)
    nested = add.get("stats")
    if isinstance(nested, dict):
        with pytest.raises(LH.FrozenDocError):
            nested.clear()
    # top-level reshaping stays allowed (fresh per call)
    doc["add"] = []
    assert [d for d in LH._commits(spark, path)
            if d["version"] == 1][0]["add"]
    # and _copy_json yields a fully mutable private copy
    mine = LH._copy_json(add)
    mine["stats"] = {"ok": 1}
    assert mine["stats"] == {"ok": 1}


def test_dml_pins_one_listing_per_attempt(spark, tmp_path, monkeypatch):
    """Round-11 fixed-cost pin: one MERGE attempt lists the commit
    log a bounded number of times (the pinned scope shares one
    listing across its dozen-plus declaration derivations), instead
    of once per derivation. _last_ckpt_anchor runs exactly once per
    REAL listing, so counting it counts listings."""
    path = str(tmp_path / "t")
    LH.create_table(spark, path,
                    _mk(spark, [dict(k=i, v=i * 10) for i in range(6)])
                    .coalesce(2), ["k"])
    calls = {"n": 0}
    real = LH._last_ckpt_anchor

    def counting(io, table_path):
        calls["n"] += 1
        return real(io, table_path)

    monkeypatch.setattr(LH, "_last_ckpt_anchor", counting)
    LH.merge_into(spark, path,
                  _mk(spark, [dict(k=2, v=99), dict(k=9, v=90)]),
                  ["k"])
    merge_listings = calls["n"]
    # merge_into wrapper + one pinned listing + post-commit reads;
    # the pre-pin count was ~15-25 (one per derivation helper)
    assert merge_listings <= 6, merge_listings
    calls["n"] = 0
    LH.append_table(spark, path, _mk(spark, [dict(k=20, v=200)])
                    .coalesce(1))
    assert calls["n"] <= 4, calls["n"]
    # and the merged state is correct (pin never served stale docs)
    got = {(r["k"], r["v"]) for r in LH.read_table(spark, path).collect()}
    assert (2, 99) in got and (9, 90) in got and (20, 200) in got
