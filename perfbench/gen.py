"""Seeded event generator and the exact answers the benchmark checks.

The log's shape follows the local ``events`` test table (100k events,
1,500 users, 30 days): the same five event types at equal shares, about
67 events per user, values drawn like its ``value`` column (exponential,
mean 50; here rounded to whole numbers so sums are exact in doubles),
and a uniform event rate. Offset ``o`` is stamped ``T0 + o * spacing``,
so every 7-day window holds the same number of events and every pull
key covers the same share of them.

That table draws the user of each event independently, so at the
30-minute session gap 95% of its sessions hold one event. This
generator groups each user's events into sessions instead: every event
continues one of ``OPEN_SESSIONS`` open sessions, picked at random, and
a session closes after a geometric number of events with mean
``SESSION_MEAN``, when a new session of a uniformly drawn user opens.
"""

from __future__ import annotations

import json
from collections import Counter
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

# the local events table's types, at its equal shares
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VALUE_MEAN = 50.0  # the local events table's mean (and spread) of value
# Sessions are not in the local table; these are chosen. Four open
# sessions at the log's spacing put about six minutes between a
# session's events, well inside the 30-minute gap.
OPEN_SESSIONS = 4
SESSION_MEAN = 5  # events per session
T0 = datetime(2026, 1, 5)  # a Monday: cohort weeks start on day 0
DAY_US = 86_400_000_000


class LogShape:
    """Sizes of one generated log: ``n_events`` spread evenly over
    ``days`` days, ``users`` distinct users."""

    def __init__(self, n_events: int, days: int, users: int):
        self.n_events = n_events
        self.days = days
        self.users = users
        self.spacing_us = days * DAY_US // n_events


class EventStream:
    """The seeded event stream: :meth:`take` returns the next events in
    offset order, so the initial log and every later append batch come
    from one sequence that the seed fixes."""

    def __init__(self, seed: int, shape: LogShape):
        self.shape = shape
        self.rng = np.random.default_rng(seed)
        self.offset = 0
        self.open = [self._session() for _ in range(OPEN_SESSIONS)]

    def _session(self) -> list[int]:
        """A new open session: [user, events left]."""
        return [int(self.rng.integers(self.shape.users)),
                int(self.rng.geometric(1 / SESSION_MEAN))]

    def take(self, n: int) -> pd.DataFrame:
        """The next ``n`` events: event_id (= offset), user_id,
        event_type, value and ts (naive UTC, microseconds)."""
        rng = self.rng
        off = np.arange(self.offset, self.offset + n, dtype=np.int64)
        self.offset += n
        users = np.empty(n, dtype=np.int64)
        for i, k in enumerate(rng.integers(0, OPEN_SESSIONS, n).tolist()):
            s = self.open[k]
            users[i] = s[0]
            s[1] -= 1
            if s[1] == 0:
                self.open[k] = self._session()
        ts = pd.Timestamp(T0) + pd.to_timedelta(
            off * self.shape.spacing_us, unit="us")
        return pd.DataFrame({
            "event_id": off,
            "user_id": users,
            "event_type": np.array(EVENT_TYPES)[
                rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.floor(rng.exponential(VALUE_MEAN, n)),
            "ts": ts.astype("datetime64[us]"),
        })


def raw_frames(ev: pd.DataFrame) -> pd.DataFrame:
    """Kafka-shaped raw frames (offset, key, value JSON, timestamp) for
    the ``kafka_segments`` writers. The payload carries ``ts`` so the
    catalog decode yields it as a column."""
    payload = [
        json.dumps({
            "event_id": int(e), "user_id": int(u), "event_type": t,
            "value": float(v), "ts": str(ts),
        }).encode()
        for e, u, t, v, ts in zip(
            ev["event_id"], ev["user_id"], ev["event_type"], ev["value"],
            ev["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f"),
        )
    ]
    return pd.DataFrame({
        "offset": ev["event_id"],
        "key": [None] * len(ev),
        "value": payload,
        "timestamp": ev["ts"],
    })


class CellCounts:
    """Exact rollup answers: (day, event_type) -> [n, sum(value)]."""

    def __init__(self) -> None:
        self.cells: Counter = Counter()
        self.sums: Counter = Counter()

    def add(self, ev: pd.DataFrame) -> None:
        day = ev["ts"].dt.strftime("%Y-%m-%d")
        g = ev.groupby([day, ev["event_type"]])["value"].agg(["count", "sum"])
        for (d, t), row in g.iterrows():
            self.cells[(d, t)] += int(row["count"])
            self.sums[(d, t)] += float(row["sum"])

    def pull(self, event_type: str) -> dict[str, tuple[int, float]]:
        return {
            d: (n, self.sums[(d, t)])
            for (d, t), n in self.cells.items()
            if t == event_type
        }


def window(seed: int, shape: LogShape, i: int) -> tuple[datetime, datetime]:
    """The ``i``-th report's 7-day ``ts`` window, drawn from the seed."""
    rng = np.random.default_rng([seed, 7, i])
    start = int(rng.integers(0, shape.days - 7 + 1))
    lo = T0 + timedelta(days=start)
    return lo, lo + timedelta(days=7)


# The repository's own DuckDB oracles for the three report queries,
# over a view named ``events``.
REPORT_ORACLES = ("events_funnel", "events_retention", "events_sessionize")


def report_oracle(ev: pd.DataFrame, lo: datetime, hi: datetime) -> tuple:
    """DuckDB answers for one report window, in :func:`report_rows`'s
    shape."""
    import duckdb

    from presto_rakam_kafka_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.register("events", ev[(ev["ts"] >= lo) & (ev["ts"] < hi)])
        return tuple(
            tuple(sorted(tuple(r) for r in con.execute(ORACLES[q]).fetchall()))
            for q in REPORT_ORACLES
        )
    finally:
        con.close()


def report_rows(*results) -> tuple:
    """Collected Spark results of the report queries, each as sorted
    row tuples."""
    return tuple(tuple(sorted(tuple(r) for r in rows)) for rows in results)
