"""One benchmark run, in a fresh process started by ``run.py``.

Usage: python3 perfbench/workloads.py --workload NAME --seed N
       --seconds S --trace 0|1 --run-dir DIR --result FILE

Builds a seeded event log (and rollup store) under ``--run-dir``, warms
up with a fixed number of operations, then runs one closed-loop client
through a fixed seeded sequence of operations sized to last about
``--seconds`` seconds, checking every answer. The result (metrics,
attempted and failed counts) is written to ``--result`` as JSON; with
``--trace 1`` the spans are dumped next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.datasource import GreaterThanOrEqual  # noqa: E402

import gen  # noqa: E402
from presto_rakam_kafka_spark import fixtures, session  # noqa: E402
from presto_rakam_kafka_spark.catalog import EventCatalog  # noqa: E402
from presto_rakam_kafka_spark.metastore import InMemoryMetastore  # noqa: E402
from presto_rakam_kafka_spark.operators import events as ev_ops  # noqa: E402
from presto_rakam_kafka_spark.sources import kafka_datasource as kds  # noqa: E402
from presto_rakam_kafka_spark.streaming import serving  # noqa: E402
from spans import Tracer, op_layers, reduce_ops  # noqa: E402

# 30 days and about 67 events per user, as in the local events test
# table; 30k events keep a report's data work small beside Spark's
# fixed per-job costs, so a run fits its time budget.
SHAPE = gen.LogShape(n_events=30_000, days=30, users=450)
PARTITIONS = 3
SEGMENT_ROWS = 3_000  # per log partition, in the initial log
BATCH = 500  # events per ingest_serve append
TICK_EVERY = 3  # ingest_serve runs a maintenance tick every K-th cycle
# Warm-up operations, counted in setup_s. A fresh JVM's first op is 2-3
# times slower than a warm one, and after one warm-up report the next
# two still ran 17% and 13% slower than reports from the 5th on: four
# reports flatten that. Three cycles take in the first (cold) tick.
WARMUP = {"ingest_serve": 3, "cohort_report": 4}
# Timed operations per second of --seconds: about what a 4-core box
# completes, so a run measures about --seconds seconds while every run
# issues the same seeded sequence of operations.
OPS_PER_S = {"ingest_serve": 0.4, "cohort_report": 0.27}
PROBES = 3  # traced runs: repetitions of each single-layer probe
# the op whose latency each workload reports
HEAD = {"ingest_serve": "cycle", "cohort_report": "report"}
GROUP = ["day", "event_type"]
PAYLOAD = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
FRAME = "offset LONG, key BINARY, value BINARY, timestamp TIMESTAMP"
SEGMENT = re.compile(r"^segment-(\d+)\.parquet$")

# per_layer metrics that hold a median self time, in ms, of a span
LAYER_SPANS = (
    "kafka_datasource.append", "catalog.table",
    "serving.serve_build", "serving.serve_exec", "serving.tick",
    "events.funnel_build", "events.funnel_exec",
    "events.retention_build", "events.retention_exec",
    "events.sessions_build", "events.sessions_exec",
)
OP_KINDS = ("pull", "append", "tick", "report")


def cell_fn(raw):
    """Rollup cells of raw frames: count and sum of value per
    (day, event_type)."""
    r = F.from_json(F.col("value").cast("string"), PAYLOAD)
    rows = raw.select(
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"), r.alias("r")
    ).select("day", "r.event_type", "r.value")
    return rows.groupBy(*GROUP).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )


def merge_exprs():
    return [F.sum("n").alias("n"), F.sum("s").alias("s")]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(path) for f in fs
    )


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median_or_0(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one run: session, generated log, store and samples."""

    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.head = HEAD[args.workload]
        self.tr = Tracer()
        self.samples: dict[str, list[float]] = {}
        self.groups: dict[str, list[str]] = {k: [] for k in OP_KINDS}
        self.counts: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0
        self.n_ops = 0
        self.spark = None
        self.timings: dict[str, float] = {}
        self.reports: dict = {}
        self.key_rng = np.random.default_rng([args.seed, 1])

    # -- helpers -------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG ANSWER: {what}", file=sys.stderr)

    def job_group(self, kind: str, n: int) -> None:
        """Tag the op's Spark jobs (traced runs only)."""
        if self.args.trace:
            gid = f"{kind}-{n}"
            self.spark.sparkContext.setJobGroup(gid, gid)
            if self.tr.on:
                self.groups[kind].append(gid)

    def frames_df(self, events):
        return self.spark.createDataFrame(gen.raw_frames(events), FRAME)

    # -- set-up --------------------------------------------------------
    def start_session(self) -> None:
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(
                    self.args.run_dir, "warehouse"),
                # a fixed heap keeps peak RSS steady between runs
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    "-XX:-UsePerfData -Xms2g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        kds.ensure_segments_source(self.spark)
        self.timings["session.start_s"] = time.perf_counter() - t0

    def build(self) -> None:
        """Set up the data: generate, write the log, then build the store
        (ingest_serve) or register the catalog table (cohort_report)."""
        self.log = os.path.join(self.args.run_dir, "log")
        self.store = os.path.join(self.args.run_dir, "store")
        self.stream = gen.EventStream(self.seed, SHAPE)
        self.events = self.stream.take(SHAPE.n_events)
        raw = self.frames_df(self.events)
        t0 = time.perf_counter()
        kds.write_segments(raw, self.log, num_partitions=PARTITIONS,
                           segment_rows=SEGMENT_ROWS)
        self.timings["kafka_datasource.log_write_s"] = time.perf_counter() - t0
        if self.workload == "cohort_report":
            ms = InMemoryMetastore()
            ms.register_struct("bench", "events", self.spark.createDataFrame(
                [], f"{PAYLOAD}, ts TIMESTAMP").schema)
            self.catalog = EventCatalog(self.spark, ms)
            self.catalog.register_kafka_segments(
                "bench", "events", self.log, value_format="json")
        else:
            self.hwm = serving.maintain_rollup(
                self.spark, self.log, self.store, cell_fn, GROUP,
                merge_exprs())

    def setup(self) -> None:
        fixtures.sweep_staging()
        self.start_session()
        t0 = time.perf_counter()
        self.build()
        self.timings["build_s"] = time.perf_counter() - t0
        self.expected = gen.CellCounts()
        self.expected.add(self.events)
        self.n_log = SHAPE.n_events
        t0 = time.perf_counter()
        for _ in range(WARMUP[self.workload]):
            self.one_op(timed=False)
        self.timings["warmup_s"] = time.perf_counter() - t0

    # -- operations ----------------------------------------------------
    def pull(self, n: int) -> float:
        k = gen.EVENT_TYPES[int(self.key_rng.integers(len(gen.EVENT_TYPES)))]
        if self.tr.on:
            self.count_tail()
        self.job_group("pull", n)
        t0 = time.perf_counter()
        with self.tr.span("serving.serve_build"):
            df = serving.serve_rollup_tail(
                self.spark, self.log, self.store, cell_fn, GROUP,
                merge_exprs(), cell_filter=F.col("event_type") == k)
        with self.tr.span("serving.serve_exec"):
            rows = df.collect()
        t1 = time.perf_counter()
        got = {r["day"]: (r["n"], r["s"]) for r in rows}
        self.check(got == self.expected.pull(k), f"pull-{n} of {k}")
        return t1 - t0

    def append(self, n: int) -> float:
        batch = self.stream.take(BATCH)
        df = self.frames_df(batch).coalesce(1)  # one producer task
        self.job_group("append", n)
        t0 = time.perf_counter()
        with self.tr.span("kafka_datasource.append"):
            (df.write.format("kafka_segments").option("path", self.log)
             .option("numPartitions", str(PARTITIONS)).mode("append").save())
        t1 = time.perf_counter()
        self.n_log += BATCH
        self.expected.add(batch)
        return t1 - t0

    def tick(self, n: int) -> float:
        self.job_group("tick", n)
        t0 = time.perf_counter()
        with self.tr.span("serving.tick"):
            self.hwm = serving.maintain_rollup(
                self.spark, self.log, self.store, cell_fn, GROUP,
                merge_exprs())
        return time.perf_counter() - t0

    def report(self, n: int) -> float:
        lo, hi = gen.window(self.seed, SHAPE, n)
        self.job_group("report", n)
        t0 = time.perf_counter()
        with self.tr.span("catalog.table"):
            w = self.catalog.table("bench", "events").filter(
                (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        with self.tr.span("events.funnel_build"):
            f = ev_ops.funnel(w)
        with self.tr.span("events.funnel_exec"):
            fr = f.collect()
        with self.tr.span("events.retention_build"):
            r = ev_ops.retention_cohorts(w)
        with self.tr.span("events.retention_exec"):
            rr = r.collect()
        with self.tr.span("events.sessions_build"):
            s = ev_ops.user_session_stats(w)
        with self.tr.span("events.sessions_exec"):
            sr = s.collect()
        t1 = time.perf_counter()
        got = gen.report_rows(fr, rr, sr)
        first = self.reports.setdefault((lo, hi), got)
        self.check(got == first, f"report-{n} differs from its window's first")
        return t1 - t0

    def one_op(self, timed: bool = True) -> None:
        """The workload's next operation in its fixed seeded sequence.
        Traced runs trace every other op of the timed phase (and every
        other tick); the untraced ones give the tracing overhead."""
        n = self.n_ops
        self.n_ops += 1
        tracing = timed and bool(self.args.trace)
        self.tr.on = tracing and n % 2 == 0
        self.tr.op = f"{self.head}-{n}"
        lat: dict[str, float] = {}
        with self.tr.span(f"op.{self.head}"):
            if self.head == "report":
                lat["report"] = self.report(n)
            else:
                lat["append"] = self.append(n)
                lat["pull"] = self.pull(n)
                lat["cycle"] = lat["append"] + lat["pull"]
        if timed:
            self.note(lat)
        if self.head == "cycle" and n % TICK_EVERY == TICK_EVERY - 1:
            # a tick follows every K-th cycle; trace every other tick
            self.tr.on = tracing and n // TICK_EVERY % 2 == 0
            self.tr.op = f"tick-{n}"
            with self.tr.span("op.tick"):
                lat = {"tick": self.tick(n)}
            if timed:
                self.note(lat)
        self.tr.on = False
        self.tr.op = None

    def note(self, lat: dict[str, float]) -> None:
        prefix = "traced_" if self.tr.on else ""
        for k, v in lat.items():
            self.samples.setdefault(prefix + k, []).append(1000 * v)

    def count_tail(self) -> None:
        """Traced pulls: how much of the log the serve has to scan."""
        lo = min(self.hwm.values())
        reader = kds.KafkaSegmentReader({"path": self.log})
        reader.pushFilters([GreaterThanOrEqual(("offset",), lo)])
        segs = rows = 0
        for p, h in self.hwm.items():
            pdir = os.path.join(self.log, f"partition={p}")
            for f in os.listdir(pdir):
                if (m := SEGMENT.match(f)) and int(m.group(1)) >= h:
                    segs += 1
                    rows += pq.read_metadata(os.path.join(pdir, f)).num_rows
        for name, v in (("kafka_datasource.tail_partitions",
                         len(reader.partitions())),
                        ("kafka_datasource.tail_segments", segs),
                        ("serving.tail_rows", rows)):
            self.counts.setdefault(name, []).append(v)

    # -- timed phase ---------------------------------------------------
    def measure(self) -> None:
        n = max(1, round(self.args.seconds * OPS_PER_S[self.workload]))
        if self.head == "cycle":  # whole tick periods: same ticks per run
            n = TICK_EVERY * max(1, round(n / TICK_EVERY))
        t0 = time.perf_counter()
        for _ in range(n):
            self.one_op()
        self.timings["measure_s"] = time.perf_counter() - t0
        self.n_timed = n

    def probes(self) -> dict[str, float]:
        """Single-layer probes of traced runs, run after the timed phase."""
        out: dict[str, list[float]] = {}

        def timed(name, fn):
            t0 = time.perf_counter()
            fn()
            out.setdefault(name, []).append(1000 * (time.perf_counter() - t0))

        past_end = self.n_log + 10 * BATCH
        lo, hi = gen.window(self.seed, SHAPE, 0)
        for _ in range(PROBES):
            timed("kafka_datasource.empty_scan_ms", lambda: (
                self.spark.read.format("kafka_segments")
                .option("path", self.log).load()
                .filter(F.col("offset") >= past_end).collect()))
            if self.workload == "cohort_report":
                timed("catalog.scan_decode_ms", lambda: (
                    self.catalog.table("bench", "events")
                    .filter((F.col("ts") >= F.lit(lo))
                            & (F.col("ts") < F.lit(hi)))
                    .write.format("noop").mode("overwrite").save()))
            else:
                timed("serving.cells_read_ms", lambda: (
                    serving.read_store_cells(self.spark, self.store)
                    .filter(F.col("event_type") == "view").collect()))
        return {k: statistics.median(v) for k, v in out.items()}

    def check_reports(self) -> None:
        """Each distinct report window once against DuckDB."""
        for (lo, hi), got in self.reports.items():
            want = gen.report_oracle(self.events, lo, hi)
            self.check(got == want, f"report window {lo} vs DuckDB")

    # -- results -------------------------------------------------------
    def results(self) -> dict:
        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024.0
        self.log_bytes = dir_bytes(self.log)
        self.store_bytes = (dir_bytes(self.store)
                            if os.path.isdir(self.store) else 0)
        t = self.timings
        if self.args.trace:
            metrics = self.layer_metrics()
        else:
            metrics = {
                "setup_s": (t["to_first_op_s"], "s"),
                "op_p50_ms": (statistics.median(self.samples[self.head]),
                              "ms"),
                # the whole timed phase, ticks and answer checks included
                "ops_per_s": (self.n_timed / t["measure_s"], "1/s"),
                "peak_rss_mb": (rss_mb, "MB"),
                "disk_bytes_per_event": (
                    (self.log_bytes + self.store_bytes) / self.n_log,
                    "B/event"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
            "info": {
                "samples": {k: len(v) for k, v in self.samples.items()},
                "series_ms": {k: [round(x) for x in v]
                              for k, v in self.samples.items()},
                "timings_s": {k: round(v, 3) for k, v in t.items()},
            },
        }

    def layer_metrics(self) -> dict:
        per_op = op_layers(self.tr.spans)
        layers = reduce_ops(per_op)
        m = {
            "session.start_s": (self.timings["session.start_s"], "s"),
            "kafka_datasource.log_write_s": (
                self.timings["kafka_datasource.log_write_s"], "s"),
            "kafka_datasource.log_bytes": (self.log_bytes, "B"),
            "serving.store_bytes": (self.store_bytes, "B"),
            "serving.store_generations": (sum(
                1 for e in os.listdir(self.store) if e.startswith("gen-")
            ) if os.path.isdir(self.store) else 0, "count"),
        }
        for name in LAYER_SPANS:
            m[name + "_ms"] = (layers.get(name, 0.0), "ms")
        for name in ("kafka_datasource.empty_scan_ms", "serving.cells_read_ms",
                     "catalog.scan_decode_ms"):
            m[name] = (self.probe_ms.get(name, 0.0), "ms")
        for name in ("kafka_datasource.tail_partitions",
                     "kafka_datasource.tail_segments", "serving.tail_rows"):
            m[name] = (median_or_0(self.counts.get(name)), "count")
        tracker = self.spark.sparkContext.statusTracker()
        for kind in OP_KINDS:
            jobs, tasks = [], []
            for gid in self.groups[kind]:
                ids = tracker.getJobIdsForGroup(gid)
                jobs.append(len(ids))
                tasks.append(sum(
                    si.numCompletedTasks
                    for j in ids if (ji := tracker.getJobInfo(j))
                    for s in ji.stageIds if (si := tracker.getStageInfo(s))))
            m[f"spark.{kind}_jobs"] = (median_or_0(jobs), "count")
            m[f"spark.{kind}_tasks"] = (median_or_0(tasks), "count")
        # The head op's layer self times add up to its timed latency; set
        # beside its untraced latency, the gap is the tracing cost. The
        # root's own time (making the next batch) is outside the timing.
        head_layers = {
            "cycle": ("kafka_datasource.append", "serving.serve_build",
                      "serving.serve_exec"),
            "report": ("catalog.table",) + LAYER_SPANS[5:],
        }[self.head]
        root = f"op.{self.head}"
        m["trace.unattributed_ms"] = (layers.get(root, 0.0), "ms")
        m["trace.layers_sum_ms"] = (median_or_0([
            sum(ls.get(n, 0.0) for n in head_layers)
            for ls in per_op.values() if root in ls]), "ms")
        traced = median_or_0(self.samples.get(f"traced_{self.head}"))
        untraced = median_or_0(self.samples.get(self.head))
        m["trace.traced_op_ms"] = (traced, "ms")
        m["trace.untraced_op_ms"] = (untraced, "ms")
        m["trace.overhead_ms"] = (traced - untraced, "ms")
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(HEAD))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    try:
        run.setup()
        run.timings["to_first_op_s"] = time.perf_counter() - T_PROCESS
        run.measure()
        if args.trace:
            run.probe_ms = run.probes()
        run.check_reports()
        res = run.results()
    finally:
        if run.spark is not None:
            run.spark.stop()
    if args.trace:
        run.tr.dump(args.result + ".spans.jsonl")
    with open(args.result, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
