"""The zipimport wrapper behind cheap Python worker round trips: an
unchanged archive is not re-read, a changed one is, and the Python
workers that run this package's DataSource carry the wrapper."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from pyspark import cloudpickle
from pyspark.sql import functions as F

from presto_rakam_kafka_spark import pyworker
from presto_rakam_kafka_spark.sources.kafka_datasource import (
    KafkaSegmentDataSource,
    KafkaSegmentWriter,
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pw_unchanged.zip")
    _write_zip(archive, {"pw_unchanged_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("pw_unchanged_a").X == 1
    assert zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches

    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == []
    sys.modules.pop("pw_unchanged_a", None)


def test_zip_rewritten_in_place_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pw_rewritten.zip")
    _write_zip(archive, {"pw_rewritten_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("pw_rewritten_a").X == 1
    importlib.invalidate_caches()
    inode = os.stat(archive).st_ino

    _write_zip(archive, {"pw_rewritten_a": "X = 1\n", "pw_rewritten_b": "Y = 2\n"})
    assert os.stat(archive).st_ino == inode
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("pw_rewritten_b").Y == 2
    for m in ("pw_rewritten_a", "pw_rewritten_b"):
        sys.modules.pop(m, None)


def _report(report_dir: str, kind: str) -> None:
    installed = zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
    with open(os.path.join(report_dir, f"{kind}-{os.getpid()}"), "w") as fh:
        fh.write(str(installed))


class _ProbeWriter(KafkaSegmentWriter):
    """The segment writer, reporting from each Python worker it runs in."""

    def __init__(self, options, overwrite):
        super().__init__(options, overwrite)
        self._report_dir = options["reportDir"]

    def write(self, iterator):
        staged = super().write(iterator)
        _report(self._report_dir, "write")
        return staged

    def commit(self, messages):
        super().commit(messages)
        _report(self._report_dir, "commit")


class _ProbeSource(KafkaSegmentDataSource):
    @classmethod
    def name(cls):
        return "kafka_segments_pyworker_probe"

    def writer(self, schema, overwrite):
        return _ProbeWriter(self.options, overwrite)


def test_segment_write_and_commit_workers_carry_wrapper(spark, tmp_path):
    """The write task and the commit runner each run in a Python
    worker that unpickled this package, so each has the wrapper
    installed — whatever the worker's request count."""
    reports = tmp_path / "reports"
    reports.mkdir()
    raw = spark.range(40).select(
        F.col("id").alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("id").cast("string").cast("binary").alias("value"),
        F.lit("t").alias("topic"),
        F.current_timestamp().alias("timestamp"),
    )
    module = sys.modules[__name__]
    cloudpickle.register_pickle_by_value(module)
    try:
        spark.dataSource.register(_ProbeSource)
        (
            raw.coalesce(2)
            .write.format("kafka_segments_pyworker_probe")
            .option("path", str(tmp_path / "log"))
            .option("reportDir", str(reports))
            .mode("append")
            .save()
        )
    finally:
        cloudpickle.unregister_pickle_by_value(module)
    seen = {p.name: p.read_text() for p in reports.iterdir()}
    kinds = {name.split("-")[0] for name in seen}
    assert kinds == {"write", "commit"}, seen
    assert set(seen.values()) == {"True"}, seen
    assert all(int(n.split("-")[1]) != os.getpid() for n in seen), seen
