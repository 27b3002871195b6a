"""The one commit protocol of the generation-sequence stores: the
serving store, the rollup state, the CDC snapshot, the IVF-PQ index
and each ``partition=N/`` of a segment log (whose generations carry no
manifest: a partition's segments are its generation dir's listing).
The dataset export's single manifest uses the same lock and durable
JSON write (:func:`maintenance_lock`, :func:`write_json`).

A store is a directory of immutable generation dirs ``gen-NNNNNNNNNN``
plus a ``_CURRENT`` pointer, the JSON object ``{"gen", "txns",
**payload}``: the committed generation, the ``{app_id: last epoch}``
record that makes a replayed epoch a no-op (Delta's foreachBatch
txnAppId recipe — a fresh checkpoint presents a fresh app_id), and the
tier's own state, replaced together (the serving HWM, the rollup's
``emitted_thru``). A commit (:class:`Generation`):

1. names its generation by the STORE-level sequence of the pointer it
   read, never by epoch id (epochs restart with a fresh checkpoint);
2. writes into a unique ``w-<name>-<random>`` dir no reader resolves
   and no other writer shares, so a stale writer can never overwrite a
   committed generation;
3. fsyncs those files and dirs, then writes the optional
   ``_MANIFEST.json`` (store-relative files, possibly in older
   generations: carry by reference, the Delta/Iceberg shape);
4. under the ``.FLIP_LOCK`` flock re-checks the FENCE — the pointer
   still names the generation this commit read — before each mutation,
   renames the write dir into place and replaces the pointer; a moved
   pointer raises :class:`FencedMaintenanceError`. Where flock has no
   semantics the lock degrades to the fence alone;
5. retires superseded generations after the ``gc_utils`` time grace,
   deleting only files no retained manifest references.

A whole maintenance op — read the pointer, write, commit — runs under
:func:`maintenance_lock`, the store's ``.MAINT_LOCK`` flock, so a second
maintainer on the same host (or NFSv4 mount) queues and then reads the
first one's commit. A crashed holder is released by the kernel; a wedged
one makes the waiter raise ``locks.FlockTimeoutError`` after
``MAINT_LOCK_TIMEOUT_S``. Where flock has no semantics (object stores,
NFSv3) the fence in step 4 refuses the later commit.

Durability: JSON is written temp → fsync → ``os.replace`` → fsync of
the directory, and a generation's files, then its manifest, are synced
before the pointer that names them. Each commit logs one INFO line:
tier, store, ``gen_read→gen``, txn, files written, flip-lock wait, GC
victims.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import time
from contextlib import contextmanager, suppress

from presto_rakam_kafka_spark.gc_utils import (
    GC_GRACE_S,
    clear_retirement_marker,
    newest_content_age_s,
    retirement_age_s,
)
from presto_rakam_kafka_spark.locks import flock_guard

POINTER = "_CURRENT"
MANIFEST = "_MANIFEST.json"
FLIP_LOCK = ".FLIP_LOCK"
MAINT_LOCK = ".MAINT_LOCK"

#: how long a maintenance op queues behind the holder of the store's
#: ``.MAINT_LOCK``. Ops legitimately wait out one whole Spark rewrite, so
#: this bound only detects a hung holder (wedged executor, stuck NFS); a
#: crashed holder releases via the kernel at once
MAINT_LOCK_TIMEOUT_S = 600.0

#: the flip section is a pointer read, a rename and one replace, so a
#: wait near this bound means a wedged holder, not contention (a crashed
#: holder releases via the kernel)
_FLIP_LOCK_TIMEOUT_S = 20.0

GEN_DIR = re.compile(r"^gen-(\d+)$")

_log = logging.getLogger(__name__)


class FencedMaintenanceError(RuntimeError):
    """The store's generation moved between this writer's pointer read
    and its commit — another writer (one the maintenance lock does not
    reach) flipped first. The stale commit is refused: its write dir is
    deleted and the pointer is untouched."""


@contextmanager
def maintenance_lock(store: str, op_name: str):
    """Hold ``store``'s ``.MAINT_LOCK`` flock for a whole maintenance op,
    queueing up to ``MAINT_LOCK_TIMEOUT_S`` behind the holder. Yields
    whether the flock is held: only then may a commit reclaim other
    writers' leaked write dirs (``Generation(reclaim=held)``). Logs one
    DEBUG line per acquire with the queue wait."""
    t0 = time.monotonic()
    with flock_guard(
        os.path.join(store, MAINT_LOCK),
        timeout_s=MAINT_LOCK_TIMEOUT_S,
        op_name=op_name,
    ) as held:
        _log.debug(
            "maintenance_lock store=%s op=%s wait_ms=%.1f held=%s",
            store, op_name, (time.monotonic() - t0) * 1e3, held,
        )
        yield held


def fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_tree(root: str) -> int:
    """fsync every file under ``root``, then each dir bottom-up (``root``
    last). Returns the number of files."""
    n = 0
    for d, _dirs, files in os.walk(root, topdown=False):
        for f in files:
            fsync(os.path.join(d, f))
        n += len(files)
        fsync(d)
    return n


def write_json(path: str, obj) -> None:
    """Atomically and durably replace ``path`` with ``obj`` as JSON. The
    temp name is unique, so two writers on a filesystem without flock
    never publish each other's half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{os.urandom(4).hex()}.tmp")
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    fsync(d or ".")


def read_pointer(store: str) -> tuple[str | None, dict[str, int], dict]:
    """``(gen, txns, payload)`` — ``(None, {}, {})`` on a fresh store.
    Also reads the legacy two-line CDC pointer (the generation, then
    ``{"txns": …}``); the next commit rewrites it as JSON."""
    try:
        with open(os.path.join(store, POINTER)) as fh:
            raw = fh.read()
    except FileNotFoundError:
        return None, {}, {}
    try:
        d = json.loads(raw)
    except ValueError:
        gen, _, rest = raw.strip().partition("\n")
        d = dict(json.loads(rest or "{}"), gen=gen)
    txns = {str(k): int(v) for k, v in d.pop("txns", {}).items()}
    return d.pop("gen", None), txns, d


def write_pointer(store: str, gen: str, txns: dict, payload: dict) -> None:
    """Unfenced pointer write — commits go through :func:`fenced_flip`."""
    write_json(
        os.path.join(store, POINTER), {**payload, "gen": gen, "txns": txns}
    )


def _seq(gen: str) -> int:
    return int(gen.rsplit("-", 1)[1])


def next_gen(gen: str | None) -> str:
    return f"gen-{0 if gen is None else _seq(gen) + 1:010d}"


def read_manifest(store: str, gen: str) -> dict:
    """Generation ``gen``'s manifest; FileNotFoundError when it has none."""
    with open(os.path.join(store, gen, MANIFEST)) as fh:
        return json.load(fh)


def manifest_files(man: dict) -> list[str]:
    """The store-relative files a manifest references: each top-level
    list, and each list inside a top-level map (``{"days": {day:
    files}}``, ``{"buckets": {b: files}, "extra": files}``)."""
    out: list[str] = []
    for v in man.values():
        for fs in v.values() if isinstance(v, dict) else [v]:
            out.extend(fs)
    return out


def _hook(tier, name: str) -> None:
    # test-injection points live on the tier module, read at call time
    fn = getattr(tier, name, None)
    if fn is not None:
        fn()


def fenced_flip(
    store: str, gen_read: str | None, gen: str, txns: dict, payload: dict,
    tier, renames: list[tuple[str, str]] = (),
) -> float:
    """Rename each ``(write dir, final path)`` and point the store at
    ``gen``, iff the pointer still names ``gen_read``; returns the
    flip-lock wait in ms. POSIX has no rename-CAS, so check and replace
    are serialized by the ``.FLIP_LOCK`` flock, and the fence is
    re-checked before every mutation so a writer the lock does not reach
    (a false-flock mount) shrinks to a sub-microsecond window.

    A final dir that already exists is crash residue — renamed, never
    flipped: the fence just proved the pointer is below it — and is
    removed under the held lock; without flock semantics it may be a
    racer's just-renamed commit, so refuse instead. ``tier`` is the
    calling module: its ``_before_flip_hook`` runs before the lock and
    its ``_after_flip_lock_hook`` right after it is taken."""
    _hook(tier, "_before_flip_hook")
    t0 = time.monotonic()
    with flock_guard(
        os.path.join(store, FLIP_LOCK),
        timeout_s=_FLIP_LOCK_TIMEOUT_S,
        op_name="fenced_flip",
    ) as held:
        wait_ms = (time.monotonic() - t0) * 1e3
        _hook(tier, "_after_flip_lock_hook")

        def fence() -> None:
            cur = read_pointer(store)[0]
            if cur != gen_read:
                raise FencedMaintenanceError(
                    f"{store}: generation moved {gen_read!r} → {cur!r} "
                    f"since this writer read it; refusing stale commit "
                    f"{gen!r} (another writer committed first)"
                )

        fence()
        for wdir, final in renames:
            if os.path.isdir(final):
                if not held:
                    raise FencedMaintenanceError(
                        f"{final} already exists and this filesystem has "
                        f"no flock semantics — cannot tell crash residue "
                        f"from a concurrent writer's commit; remove it by "
                        f"hand if no other writer is alive"
                    )
                fence()
                shutil.rmtree(final)
            os.rename(wdir, final)
        for parent in {os.path.dirname(final) for _w, final in renames}:
            fsync(parent)
        fence()
        write_pointer(store, gen, txns, payload)
    return wait_ms


def gc(
    store: str, current: str | None = None, keep_last: int = 1,
    grace_s: float | None = None,
) -> list[str]:
    """Retire the generations older than ``current`` (default: the
    pointer's) except the newest ``keep_last - 1``; newer ones are
    in-flight commits and never touched. A victim survives ``grace_s``
    (default ``GC_GRACE_S``; 0.0 forces) after a pass first observes it
    superseded (the ``gc_utils`` marker), so a slow reader keeps its
    snapshot across any number of commits. It then loses only the files
    no retained generation's manifest references; its own manifest
    always goes, so reading it fails loudly. Generations order by
    number, so a shorter legacy ``gen-000001`` sorts below
    ``gen-0000000002``. Paths are compared store-relative and
    normalized, so an aliased store path (trailing slash, ``..``) never
    deletes a referenced file. Returns the generations whose directory
    is gone: a victim still holding files that a retained manifest
    carries by reference loses its manifest but is not reported, so a
    carried generation is never named as removed on every pass."""
    root = os.path.realpath(store)
    if current is None:
        current = read_pointer(root)[0]
    gens = sorted(
        (e for e in os.listdir(root)
         if GEN_DIR.match(e) and os.path.isdir(os.path.join(root, e))),
        key=_seq,
    )
    older = [g for g in gens if current is not None and _seq(g) < _seq(current)]
    victims = older[: max(0, len(older) - max(0, keep_last - 1))]
    for g in gens:
        if g not in victims:
            # a marker from a pass that saw g as a victim would zero its
            # grace once g is vacated again
            clear_retirement_marker(os.path.join(root, g))
    eff = GC_GRACE_S if grace_s is None else float(grace_s)
    if eff > 0:
        victims = [
            g for g in victims
            if (age := retirement_age_s(os.path.join(root, g))) is not None
            and age >= eff
        ]
    if not victims:
        return []
    referenced: set[str] = set()
    for g in gens:
        if g not in victims:
            with suppress(FileNotFoundError):
                referenced.update(
                    os.path.normpath(f)
                    for f in manifest_files(read_manifest(root, g))
                )
    for g in victims:
        for d, _dirs, files in os.walk(os.path.join(root, g), topdown=False):
            for f in files:
                p = os.path.join(d, f)
                if os.path.relpath(p, root) not in referenced:
                    with suppress(FileNotFoundError):
                        os.remove(p)
            with suppress(OSError):  # still holds referenced files
                os.rmdir(d)
    return [g for g in victims if not os.path.isdir(os.path.join(root, g))]


class Generation:
    """One commit in progress: ``name`` is the generation it publishes
    as, ``dir`` the unique write dir its files go to until then. Used as
    a context manager, leaving by an exception — a failed write, a
    refused fence — deletes the write dirs, so nothing is left behind.

    ``reclaim`` (the caller holds the store's lock) first removes other
    writers' leaked write dirs beside each new one once quiet past the
    GC grace; a fresh one may be a live writer's on a mount where flock
    does not span hosts."""

    def __init__(self, store: str, gen_read: str | None, tier,
                 reclaim: bool = False):
        self.store, self.gen_read, self.tier = store, gen_read, tier
        self.reclaim = reclaim
        self.name = next_gen(gen_read)
        self.renames: list[tuple[str, str]] = []
        self.dir = self.write_dir(self.name)

    def __enter__(self) -> Generation:
        return self

    def __exit__(self, exc_type, *_exc) -> bool:
        if exc_type is not None:
            for wdir, _final in self.renames:
                shutil.rmtree(wdir, ignore_errors=True)
        return False

    def write_dir(self, rel: str) -> str:
        """A fresh write dir renamed to ``store/rel`` at publish."""
        final = os.path.join(self.store, rel)
        parent = os.path.dirname(final)
        if self.reclaim and os.path.isdir(parent):
            for e in os.listdir(parent):
                if not e.startswith("w-"):
                    continue
                age = newest_content_age_s(os.path.join(parent, e))
                if age is not None and age > GC_GRACE_S:
                    shutil.rmtree(os.path.join(parent, e), ignore_errors=True)
        wdir = os.path.join(
            parent, f"w-{os.path.basename(final)}-{os.urandom(4).hex()}"
        )
        os.makedirs(wdir)
        self.renames.append((wdir, final))
        return wdir

    def files(self, sub: str = "") -> list[str]:
        """Store-relative published names of the parquet files written
        under ``sub`` of this generation's write dir."""
        d = os.path.join(self.dir, sub)
        if not os.path.isdir(d):
            return []
        return [
            os.path.join(self.name, sub, f)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]

    def commit(
        self, txns: dict, txn: tuple[str, int] | None = None,
        payload: dict | None = None, manifest: dict | None = None,
        keep_last: int | None = None,
    ) -> None:
        """Sync the write dirs, write ``manifest``, record ``txn`` =
        (app_id, epoch) in ``txns`` (never moving an app backwards), flip
        with ``payload``, then :func:`gc` keeping ``keep_last``
        generations (None: no GC)."""
        n_files = sum(fsync_tree(w) for w, _final in self.renames)
        if manifest is not None:
            write_json(os.path.join(self.dir, MANIFEST), manifest)
        txns = dict(txns)
        if txn is not None:
            txns[txn[0]] = max(int(txn[1]), txns.get(txn[0], -1))
        wait_ms = fenced_flip(
            self.store, self.gen_read, self.name, txns, payload or {},
            self.tier, self.renames,
        )
        victims = [] if keep_last is None else gc(
            self.store, self.name, keep_last
        )
        _log.info(
            "commit tier=%s store=%s gen=%s→%s txn=%s files=%d "
            "flip_lock_wait_ms=%.1f gc=%s",
            self.tier.__name__.rsplit(".", 1)[-1], self.store, self.gen_read,
            self.name, "%s:%s" % txn if txn else None, n_files, wait_ms,
            victims,
        )
