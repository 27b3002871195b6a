"""The generation-store commit protocol (``genstore.py``) as the tiers
use it: durability order, the per-commit log line, the legacy CDC
pointer, and what a refused commit leaves behind."""

from __future__ import annotations

import datetime as dt
import json
import logging
import os
import re
import sys

import pytest

from presto_rakam_kafka_spark.streaming.serving import (
    _read_pointer,
    maintain_rollup,
)
from tests.test_serving import GROUP, _cells, _merge, _write_log

_CDC_SCHEMA = "k LONG, v STRING, ts TIMESTAMP, seq LONG, deleted BOOLEAN"


@pytest.mark.skipif(
    not os.path.isdir("/proc/self/fd"), reason="needs /proc fd links"
)
def test_serving_commit_syncs_files_then_manifest_then_pointer(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One maintenance tick makes its commit durable in dependency
    order: the generation's data files, then its manifest, then the
    rename into place (store dir synced), then the pointer temp file,
    and the store dir last — so after a power loss the pointer never
    names a generation whose files or manifest were lost."""
    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = os.path.realpath(str(tmp_path / "store"))
    synced: list[str] = []
    real_fsync = os.fsync

    def recording_fsync(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        return real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    maintain_rollup(spark, log, store, _cells, GROUP, _merge(), up_to=150)
    monkeypatch.setattr(os, "fsync", real_fsync)

    data = [
        i for i, p in enumerate(synced)
        if "/w-gen-0000000000-" in p and p.endswith(".parquet")
    ]
    manifest_tmp = r"/w-gen-0000000000-\w+/\._MANIFEST\.json\.\w+\.tmp$"
    manifest = [i for i, p in enumerate(synced) if re.search(manifest_tmp, p)]
    pointer = [
        i for i, p in enumerate(synced)
        if re.search(r"/\._CURRENT\.\w+\.tmp$", p)
    ]
    assert data and len(manifest) == 1 and len(pointer) == 1, synced
    assert max(data) < manifest[0] < pointer[0], synced
    # the rename is made durable before the pointer that names it
    assert store in synced[manifest[0] + 1:pointer[0]], synced
    assert synced[-1] == store, synced
    assert _read_pointer(store)[0] == "gen-0000000000"


def test_one_log_line_per_commit_serving_and_cdc(
    spark, sf_dir, tmp_path, monkeypatch, caplog
):
    """Each commit logs one INFO line naming tier, store, the
    generation step, the txn, the files written, the flip-lock wait and
    the generations its GC removed — for serving ticks and CDC merges
    alike."""
    from presto_rakam_kafka_spark import genstore
    from presto_rakam_kafka_spark.streaming import cdc

    monkeypatch.setattr(genstore, "GC_GRACE_S", 0.0)  # GC without grace
    caplog.set_level(logging.INFO, logger=genstore.__name__)

    def commit_lines():
        return [
            r.getMessage() for r in caplog.records
            if r.name == genstore.__name__
        ]

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = str(tmp_path / "store")
    for up_to in (100, 200, 300):
        maintain_rollup(
            spark, log, store, _cells, GROUP, _merge(), up_to=up_to
        )
    lines = commit_lines()
    assert len(lines) == 3, lines
    last = lines[-1]
    assert "tier=serving" in last and f"store={store} " in last, last
    assert "gen=gen-0000000001→gen-0000000002" in last, last
    assert "txn=maintain:2" in last, last
    assert re.search(r" files=[1-9]\d* ", last), last
    assert re.search(r" flip_lock_wait_ms=\d+\.\d ", last), last
    # keep_last=2: the third commit retires the first generation
    assert last.endswith("gc=['gen-0000000000']"), last
    assert lines[0].endswith("gc=[]"), lines[0]

    caplog.clear()
    t0 = dt.datetime(2024, 6, 1, 10, 0)
    path = str(tmp_path / "snap")
    base = spark.createDataFrame([(1, "b", t0, 0, False)], _CDC_SCHEMA)
    cdc.init_snapshot(base.drop("deleted"), path, key_col="k", num_buckets=4)
    cdc.merge_into_snapshot(
        spark.createDataFrame([(2, "x", t0, 1, False)], _CDC_SCHEMA),
        path, "k", delete_col="deleted", txn=("writer", 7),
    )
    lines = commit_lines()
    assert len(lines) == 2, lines  # the init commit, then the merge
    assert "tier=cdc" in lines[1] and f"store={path} " in lines[1]
    assert "gen=gen-0000000000→gen-0000000001" in lines[1]
    assert "txn=writer:7" in lines[1] and "gc=[]" in lines[1]


def test_legacy_two_line_cdc_pointer_is_read_then_rewritten(spark, tmp_path):
    """A snapshot committed by the two-line pointer format (generation,
    then the txn record) keeps its generation and exactly-once record;
    the next commit rewrites the pointer in the shared JSON form."""
    from presto_rakam_kafka_spark.streaming import cdc

    t0 = dt.datetime(2024, 6, 1, 10, 0)
    path = str(tmp_path / "snap")
    base = spark.createDataFrame([(1, "b", t0, 0, False)], _CDC_SCHEMA)
    cdc.init_snapshot(base.drop("deleted"), path, key_col="k", num_buckets=4)
    with open(os.path.join(path, "_CURRENT"), "w") as fh:
        fh.write("gen-0000000000\n" + json.dumps({"txns": {"app": 3}}))
    assert cdc._read_pointer(path) == ("gen-0000000000", {"app": 3})

    fn = cdc.cdc_batch_fn(path, "k", "ts", "seq", delete_col="deleted",
                          app_id="app")
    fn(spark.createDataFrame([(2, "replay", t0, 1, False)], _CDC_SCHEMA), 3)
    assert cdc._read_pointer(path)[0] == "gen-0000000000"  # replay: no-op
    fn(spark.createDataFrame([(2, "new", t0, 1, False)], _CDC_SCHEMA), 4)
    with open(os.path.join(path, "_CURRENT")) as fh:
        ptr = json.load(fh)
    assert ptr == {"gen": "gen-0000000001", "txns": {"app": 4}}
    got = {r["k"]: r["v"] for r in cdc.read_snapshot(spark, path).collect()}
    assert got == {1: "b", 2: "new"}


def test_refused_commit_leaves_nothing_behind(tmp_path):
    """A commit whose fence fails neither moves the pointer nor leaves
    its write dir; a committed generation's files are untouched."""
    from presto_rakam_kafka_spark import genstore

    store = str(tmp_path / "store")
    tier = sys.modules[__name__]
    with genstore.Generation(store, None, tier) as g:
        with open(os.path.join(g.dir, "a.parquet"), "w") as fh:
            fh.write("winner")
        g.commit({}, ("a", 0))
    with pytest.raises(genstore.FencedMaintenanceError):
        with genstore.Generation(store, None, tier) as stale:
            with open(os.path.join(stale.dir, "a.parquet"), "w") as fh:
                fh.write("stale")
            stale.commit({}, ("b", 0))
    assert sorted(e for e in os.listdir(store) if not e.startswith(".")) == [
        "_CURRENT", "gen-0000000000"
    ]
    assert genstore.read_pointer(store) == ("gen-0000000000", {"a": 0}, {})
    with open(os.path.join(store, "gen-0000000000", "a.parquet")) as fh:
        assert fh.read() == "winner"
