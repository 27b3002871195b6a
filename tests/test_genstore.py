"""The generation-store commit protocol (``genstore.py``) as the tiers
use it: durability order, the per-commit log line, the legacy CDC
pointer, what a refused commit leaves behind, and that no other module
publishes by rename."""

from __future__ import annotations

import ast
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
_GEOM = {"num_centroids": 4, "m": 4, "ksub": 16}


def _vecs(spark, lo, hi):
    import numpy as np

    rng = np.random.default_rng(lo)
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(lo, hi)],
        "id LONG, emb ARRAY<FLOAT>",
    )


def _record_fsyncs(monkeypatch, op) -> list[str]:
    """The paths ``op`` fsyncs, in order."""
    synced: list[str] = []
    real_fsync = os.fsync

    def recording_fsync(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        return real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    try:
        op()
    finally:
        monkeypatch.setattr(os, "fsync", real_fsync)
    return synced


def _assert_commit_sync_order(synced: list[str], store: str, gen: str):
    data = [
        i for i, p in enumerate(synced)
        if f"/w-{gen}-" in p and p.endswith(".parquet")
    ]
    manifest_tmp = rf"/w-{gen}-\w+/\._MANIFEST\.json\.\w+\.tmp$"
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


@pytest.mark.skipif(
    not os.path.isdir("/proc/self/fd"), reason="needs /proc fd links"
)
def test_serving_commit_syncs_files_then_manifest_then_pointer(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One maintenance tick — and one IVF-PQ index upsert — makes its
    commit durable in dependency order: the generation's data files,
    then its manifest, then the rename into place (store dir synced),
    then the pointer temp file, and the store dir last — so after a
    power loss the pointer never names a generation whose files or
    manifest were lost. A streaming dataset export syncs its epoch's
    files before the manifest that counts them."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import datasets as ds
    from presto_rakam_kafka_spark.operators import similarity as sim

    log = str(tmp_path / "log")
    _write_log(spark, sf_dir, log, hi=300)
    store = os.path.realpath(str(tmp_path / "store"))
    synced = _record_fsyncs(monkeypatch, lambda: maintain_rollup(
        spark, log, store, _cells, GROUP, _merge(), up_to=150
    ))
    _assert_commit_sync_order(synced, store, "gen-0000000000")
    assert _read_pointer(store)[0] == "gen-0000000000"

    index = os.path.realpath(str(tmp_path / "index"))
    sim.init_ivfpq_index(spark, _vecs(spark, 0, 32), index, "emb", "id", 8,
                         **_GEOM)
    synced = _record_fsyncs(monkeypatch, lambda: sim.upsert_ivfpq_index(
        spark, _vecs(spark, 32, 48), index, "emb", "id", 8, **_GEOM
    ))
    _assert_commit_sync_order(synced, index, "gen-0000000001")

    out = os.path.realpath(str(tmp_path / "export"))
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    fn = ds.export_batch_fn(out, "text", "doc_id", num_shards=4)
    synced = _record_fsyncs(monkeypatch, lambda: fn(docs, 0))
    data = [
        i for i, p in enumerate(synced)
        if "/epoch=0/" in p and p.endswith(".parquet")
    ]
    manifest = [
        i for i, p in enumerate(synced)
        if re.search(r"/\._MANIFEST\.json\.\w+\.tmp$", p)
    ]
    assert data and len(manifest) == 1, synced
    assert max(data) < manifest[0], synced
    assert synced[-1] == out, synced


def test_one_log_line_per_commit_serving_and_cdc(
    spark, sf_dir, tmp_path, monkeypatch, caplog
):
    """Each commit logs one INFO line naming tier, store, the
    generation step, the txn, the files written, the flip-lock wait and
    the generations its GC removed — for serving ticks, CDC merges and
    IVF-PQ index upserts and compactions alike."""
    from presto_rakam_kafka_spark import genstore
    from presto_rakam_kafka_spark.operators import similarity as sim
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
    # keep_last=2: the third commit retires the first generation; its
    # manifest goes, but the later manifests carry its day buckets by
    # reference, so its directory stays and GC names no generation
    assert last.endswith("gc=[]"), last
    gen0 = os.path.join(store, "gen-0000000000")
    assert os.path.isdir(gen0)
    assert not os.path.exists(os.path.join(gen0, genstore.MANIFEST))
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

    index = str(tmp_path / "index")
    sim.init_ivfpq_index(spark, _vecs(spark, 0, 32), index, "emb", "id", 8,
                         **_GEOM)
    caplog.clear()
    sim.upsert_ivfpq_index(spark, _vecs(spark, 32, 48), index, "emb", "id",
                           8, txn=("app", 5), **_GEOM)
    sim.compact_ivfpq_index(spark, index)
    lines = commit_lines()
    assert len(lines) == 2, lines  # the upsert, then the compaction
    assert all(
        "commit tier=similarity" in ln and f"store={index} " in ln
        for ln in lines
    ), lines
    assert "gen=gen-0000000000→gen-0000000001" in lines[0], lines
    assert "txn=app:5" in lines[0], lines
    assert "gen=gen-0000000001→gen-0000000002" in lines[1], lines
    assert "txn=None" in lines[1], lines  # a fold records no new txn


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


def test_gc_names_only_generations_whose_dir_is_gone(tmp_path):
    """A superseded generation whose file the current manifest carries
    by reference loses its manifest to GC but keeps its directory: it is
    not reported removed, on the first pass or any later one, and the
    carried file stays."""
    from presto_rakam_kafka_spark import genstore

    store = str(tmp_path / "store")
    tier = sys.modules[__name__]
    with genstore.Generation(store, None, tier) as g0:
        with open(os.path.join(g0.dir, "a.parquet"), "w") as fh:
            fh.write("carried")
        g0.commit({}, manifest={"files": g0.files()})
    carried = os.path.join(g0.name, "a.parquet")
    with genstore.Generation(store, g0.name, tier) as g1:
        with open(os.path.join(g1.dir, "b.parquet"), "w") as fh:
            fh.write("new")
        g1.commit({}, manifest={"files": [carried, *g1.files()]})
    assert genstore.gc(store, grace_s=0.0) == []
    assert genstore.gc(store, grace_s=0.0) == []
    assert os.path.isfile(os.path.join(store, carried))
    assert not os.path.exists(os.path.join(store, g0.name, genstore.MANIFEST))
    # once nothing carries it, the generation goes and is named
    with genstore.Generation(store, g1.name, tier) as g2:
        with open(os.path.join(g2.dir, "c.parquet"), "w") as fh:
            fh.write("fresh")
        g2.commit({}, manifest={"files": g2.files()})
    assert genstore.gc(store, grace_s=0.0) == [g0.name, g1.name]
    assert not os.path.exists(os.path.join(store, g0.name))


#: the package's ``os.replace``/``os.rename`` calls outside ``genstore``,
#: by (module, enclosing function), each with why it is not a commit
_RENAME_ALLOWLIST = {
    ("sources/kafka_datasource.py", "commit"):
        "segment writer's per-file renames, until appends are one flip",
    ("sources/kafka_datasource.py", "compact_log_by_key_spark"):
        "renames Spark's part files inside its own generation write dir",
    ("sources/kafka_datasource.py", "_bloom_write_sidecar"):
        "bloom sidecar: an index the planner may ignore, never a commit",
    ("gc_utils.py", "retirement_age_s"):
        "the .RETIRED marker, a GC observation, not published state",
    ("queries_dsv2.py", "_publish_registry"):
        "a gate row's schema-registry fixture, not a store",
}


def test_no_rename_publish_outside_genstore():
    """One commit protocol: every ``os.replace``/``os.rename`` in the
    package is in ``genstore.py`` or on the allowlist above, so a new
    pointer or manifest publish cannot grow its own copy of the
    protocol."""
    import presto_rakam_kafka_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found = set()
    for d, _dirs, files in os.walk(root):
        for name in files:
            rel = os.path.relpath(os.path.join(d, name), root)
            if not name.endswith(".py") or rel == "genstore.py":
                continue
            with open(os.path.join(root, rel)) as fh:
                tree = ast.parse(fh.read())
            funcs = [
                n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for call in ast.walk(tree):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr in ("replace", "rename")
                    and isinstance(call.func.value, ast.Name)
                    and call.func.value.id == "os"
                ):
                    continue
                # the innermost function whose span holds the call
                owner = max(
                    (f for f in funcs
                     if f.lineno <= call.lineno <= f.end_lineno),
                    key=lambda f: f.lineno, default=None,
                )
                found.add((rel, owner.name if owner else "<module>"))
    assert found - set(_RENAME_ALLOWLIST) == set(), sorted(found)
