"""The filesystem seam (``sources/fileio``): both implementations keep
one contract, the local/Hadoop decision follows ``fs.defaultFS``
without touching a FileSystem, and the whole lakehouse — commits,
placement, maintenance, WAP, the change feed and its ledger, the
multi-table transaction — produces the same tables and the same log
when every call goes through the Hadoop implementation instead of the
local one.
"""

from __future__ import annotations

import json
import os
import re
import threading

import pytest

from luma_etl_data_platform_spark.sources import fileio
from luma_etl_data_platform_spark.sources import lakehouse as LH
from luma_etl_data_platform_spark.sources import lakehouse_txn as TX
from luma_etl_data_platform_spark.streaming.cdf import (
    ChangeFeedLedger, stream_changes)


@pytest.fixture(params=["local", "hadoop"])
def io(request, spark):
    return (fileio.LOCAL if request.param == "local"
            else fileio.HadoopFileIO(spark))


def _tree(root):
    os.makedirs(root / "sub" / "deep")
    (root / "a.json").write_bytes(b"{}")
    (root / "b.parquet").write_bytes(b"x" * 17)
    (root / "sub" / "c.bin").write_bytes(b"yy")
    (root / "sub" / "deep" / "d.bin").write_bytes(b"zzz")


def test_list_and_walk_identical_across_implementations(spark, tmp_path):
    _tree(tmp_path)
    d = str(tmp_path)
    hadoop = fileio.HadoopFileIO(spark)
    local = fileio.LOCAL.list(d)
    assert local == hadoop.list(d)
    assert [(e.name, e.size) for e in local] == [
        ("a.json", 2), ("b.parquet", 17), ("sub", None)]
    assert all(e.path == f"{d}/{e.name}" for e in local)
    walked = fileio.LOCAL.walk_files(d)
    assert walked == hadoop.walk_files(d)
    assert [e.name for e in walked] == [
        "a.json", "b.parquet", "sub/c.bin", "sub/deep/d.bin"]
    # a missing directory lists as empty on both
    assert fileio.LOCAL.list(f"{d}/nope") == hadoop.list(f"{d}/nope") == []
    assert hadoop.walk_files(f"{d}/nope") == []


def test_read_missing_returns_none(io, tmp_path):
    assert io.read_text(str(tmp_path / "missing.json")) is None
    assert io.read_bytes(str(tmp_path / "missing.json")) is None
    assert not io.exists(str(tmp_path / "missing.json"))


def test_publish_is_create_if_absent(io, tmp_path):
    p = str(tmp_path / "log" / "00001.json")
    assert io.publish(p, b"first")
    assert not io.publish(p, b"second")
    assert io.read_text(p) == "first"
    # the temp file never lingers and never shows under its final name
    assert [e.name for e in io.list(str(tmp_path / "log"))
            if not e.name.startswith(".")] == ["00001.json"]


def test_concurrent_publish_has_exactly_one_winner(io, tmp_path):
    p = str(tmp_path / "race.json")
    wins: list[int] = []
    barrier = threading.Barrier(2)

    def racer(i):
        barrier.wait(timeout=30)
        if io.publish(p, str(i).encode()):
            wins.append(i)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(wins) == 1
    assert io.read_text(p) == str(wins[0])


def test_rename_refuses_existing_destination(io, tmp_path):
    src, dst = str(tmp_path / "src.bin"), str(tmp_path / "dst.bin")
    open(src, "wb").write(b"new")
    open(dst, "wb").write(b"old")
    assert not io.rename(src, dst)
    assert io.read_bytes(dst) == b"old" and io.exists(src)
    # a fresh destination (parent created on the way) succeeds
    fresh = str(tmp_path / "p=1" / "moved.bin")
    assert io.rename(src, fresh)
    assert io.read_bytes(fresh) == b"new" and not io.exists(src)
    assert io.delete(fresh) and not io.delete(fresh)


def test_default_fs_decision(spark, tmp_path):
    """A SCHEME-LESS path is local only when fs.defaultFS resolves to
    the local filesystem; explicit file: roots stay local and other
    schemes are Hadoop. The decision reads strings only: no
    FileSystem is built for an hdfs:// or s3a:// root."""
    conf = spark._jsc.hadoopConfiguration()
    orig = conf.get("fs.defaultFS", "file:///")
    p = str(tmp_path / "t")
    assert fileio.file_io(spark, p) is fileio.LOCAL
    try:
        conf.set("fs.defaultFS", "hdfs://nn:8020")
        fileio._MEMO.pop(spark, None)
        io = fileio.file_io(spark, p)
        assert isinstance(io, fileio.HadoopFileIO)
        assert fileio.file_io(spark, f"file:{p}") is fileio.LOCAL
        assert fileio.file_io(spark, "s3a://bucket/t") is io
        assert fileio.file_io(spark, "hdfs://nn:8020/t") is io
        assert io._handles == {}
    finally:
        conf.set("fs.defaultFS", orig)
        fileio._MEMO.pop(spark, None)
    assert fileio.file_io(spark, p) is fileio.LOCAL


# ------------------------------------------------- forced-Hadoop end to end

_UUID = re.compile(r"[0-9a-f]{32}")


def _scenario(spark, root: str) -> dict:
    mk = lambda rows: spark.createDataFrame(rows, ["k", "p", "v"])
    t, u = f"{root}/t", f"{root}/u"
    LH.create_table(spark, t, mk([(i, i % 2, i * 10) for i in range(8)])
                    .repartition(2), ["k"], partition_by=["p"])
    LH.merge_into(spark, t, mk([(1, 1, 11), (9, 1, 90)]), ["k"])
    LH.delete_where(spark, t, "k = 2", mode="mor")
    LH.compact(spark, t, target_rows=100)
    pending = LH.stage_append(spark, t, mk([(20, 0, 200)]).coalesce(1),
                              ["k"])
    LH.publish_staged(spark, t, pending)
    LH.create_table(spark, u, mk([(0, 0, 0)]).coalesce(1), ["k"])
    txn = TX.begin_transaction(spark, f"{root}/_txn")
    txn.stage_append(t, mk([(30, 0, 300)]).coalesce(1), ["k"])
    txn.stage_append(u, mk([(31, 1, 310)]).coalesce(1), ["k"])
    txn.commit()
    batches: list[tuple[int, int]] = []
    feed = stream_changes(
        spark, t, lambda c, v: batches.append((v, c.count())),
        f"{root}/ledger", coalesce_versions=True)
    expired = LH.expire_snapshots(spark, t, keep_last=2)
    vacuumed = LH.vacuum(spark, t)
    out = {
        "rows": {x: sorted(tuple(r) for r in LH.read_table(spark, p)
                           .collect())
                 for x, p in (("t", t), ("u", u))},
        "docs": [{k: v for k, v in d.items() if k != "ts"}
                 for p in (t, u) for d in LH._commits(spark, p)],
        "feed": (feed, batches),
        "ledger": ChangeFeedLedger(spark, f"{root}/ledger")._summary_full(),
        "maintenance": (expired, vacuumed),
        "describe": LH.describe_table(spark, t),
    }
    # run-specific spellings: the root and every uuid-named file; a
    # doc's file lists follow the (random) uuid order of their paths
    text = json.dumps(out, sort_keys=True, default=sorted)
    out = json.loads(_UUID.sub("U", text.replace(root, "<root>")))
    for d in out["docs"]:
        for k in ("add", "remove"):
            d[k] = sorted(d.get(k, []), key=json.dumps)
    return out


def test_forced_hadoop_run_matches_local_run(spark, tmp_path, monkeypatch):
    local = _scenario(spark, str(tmp_path / "local"))
    hadoop_io = fileio.HadoopFileIO(spark)
    published: list[str] = []
    real_publish = hadoop_io.publish

    def counting_publish(path, data):
        published.append(path)
        return real_publish(path, data)

    hadoop_io.publish = counting_publish
    monkeypatch.setattr(fileio, "file_io", lambda sp, p: hadoop_io)
    forced = _scenario(spark, str(tmp_path / "hadoop"))
    assert published  # every commit really went through Hadoop
    assert forced == local
    assert local["rows"]["t"] == [
        [0, 0, 0], [1, 1, 11], [3, 1, 30], [4, 0, 40], [5, 1, 50],
        [6, 0, 60], [7, 1, 70], [9, 1, 90], [20, 0, 200], [30, 0, 300]]
    assert local["rows"]["u"] == [[0, 0, 0], [31, 1, 310]]
    assert local["ledger"][1] == local["feed"][0]["versions_applied"][-1]
