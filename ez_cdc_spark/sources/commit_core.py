"""The on-disk commit protocol of a manifest table, in one module.

    table_dir/
      _manifests/.reserve-gen-<g>   O_EXCL number reservation, taken before
                                    any data stages
      _manifests/gen-<g>.json       immutable manifest, created once with a
                                    one-winner ``os.link``
      _MANIFEST, _refs/<name>       pointers, swapped under ``.commit.lock``
                                    after re-checking the parent
      _blooms/<sidecar>.json        per-file bloom bitsets named by
                                    ``bloom_meta.sidecars``

The engine (``manifest.py``), the catalog (``catalog.py``, whose versions
use the same link-once + pointer swap) and the ``ezmanifest`` data source
(``pyds.py``) all commit through these functions, and the engine's
``gc`` and ``vacuum`` delete through :func:`reachable` and :func:`reclaim`.

The data source's ``write()`` and ``commit()`` run in Python worker
processes, and an external driver that put this repo on its own
``sys.path`` leaves those workers unable to import ``ez_cdc_spark``. The
module therefore registers itself with cloudpickle BY VALUE: every
function a worker needs travels inside the pickle. That is also why it
imports only the standard library at module level, plus
``pyspark.cloudpickle`` for that registration call alone (pyarrow is
imported inside the kernels that read parquet), and why nothing here takes a
SparkSession except :func:`map_files`, which only calls methods on the
one it is given.
"""

from __future__ import annotations

import base64
import contextlib
import hashlib
import json
import os
import re
import shutil
import struct
import sys
import time
import uuid
import zlib
from typing import NamedTuple

from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_POINTER = "_MANIFEST"
_REF_DIR = "_refs"
_REF_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
_GEN_RE = re.compile(r"gen-(\d+)(?:\.json)?$")
_NUM_RE = re.compile(r"(\d+)(?:\.json)?$")
_COMMIT_LOCK = ".commit.lock"
_LOCK_STALE_S = 30.0  # a crashed writer's lock is broken after this age
_BLOOMS_DIR = "_blooms"
# Fold the bloom sidecar chain back to ONE file once it reaches this
# length (r17 verdict #6): each bloom-carrying append adds a sidecar, so
# an append-heavy steady state would make every driver-side table_blooms
# read walk O(appends) files. Folding every K appends bounds reads per
# lookup at K while keeping the per-commit write cost amortized O(1)
# sidecars (the fold rewrites the union once per K commits — the classic
# logarithmic-merge bargain, taken at a flat cap because the union is
# already O(live files) bytes).
_BLOOM_FOLD_EVERY = 8
# merge_mor records per-delete-file key counts over this many base hash
# buckets; the change-feed planner maps them onto its own bucket count
_FEED_BASE_BUCKETS = 64


class CommitConflictError(RuntimeError):
    """A concurrent writer committed between this writer's read of the
    table state and its pointer swap (S33 optimistic concurrency): the
    losing commit is rejected — its manifest and staged files remain as
    reclaimable debris (``gc`` with an age threshold collects them) — and
    the caller retries from the NEW committed state, exactly the
    Delta/Iceberg conflict-retry loop."""


# ----- paths and pointer reads -----


def _ref_pointer_path(table_dir: str, ref: str | None) -> str:
    """Pointer file for a ref: the table's ``_MANIFEST`` when ``ref`` is
    None (the main branch), else ``_refs/<name>`` (S38 branches — the
    Iceberg ref model: every branch is just another pointer into the SAME
    shared generation-manifest space, so branch commits and main commits
    share number uniqueness, stats, gc and vacuum machinery)."""
    if ref is None:
        return os.path.join(table_dir, _POINTER)
    if not _REF_RE.match(ref):
        raise ValueError(
            f"invalid branch name {ref!r}: must match {_REF_RE.pattern} "
            f"(no path separators — refs are flat files under {_REF_DIR}/)"
        )
    return os.path.join(table_dir, _REF_DIR, ref)


def _manifest_path(table_dir: str, generation: int) -> str:
    return os.path.join(table_dir, "_manifests", f"gen-{generation}.json")


def _reserve_path(table_dir: str, generation: int) -> str:
    return os.path.join(table_dir, "_manifests", f".reserve-gen-{generation}")


def _gen_of(name: str) -> int | None:
    m = _GEN_RE.search(name)
    return int(m.group(1)) if m else None


def current_generation(table_dir: str, ref: str | None = None) -> int | None:
    """Committed generation number (of the main pointer, or of branch
    ``ref``), or None if nothing was ever committed. A dropped/unknown
    branch also reads as None — callers that require the branch to exist
    use :func:`manifest.branch_head`."""
    try:
        with open(_ref_pointer_path(table_dir, ref)) as fh:
            return _gen_of(json.load(fh)["current"])
    except FileNotFoundError:
        return None


def read_manifest(
    table_dir: str,
    as_of_generation: int | None = None,
    ref: str | None = None,
) -> dict:
    """Resolve a generation manifest: the pointer's by default (main, or
    branch ``ref``'s head — S38), or — time travel (S27) — any
    still-retained older generation by number. Committed manifests are
    immutable JSON, so an as-of read needs no pointer and no locking; it
    fails loudly (FileNotFoundError) if GC already collected that
    generation (or, for a ref read, if the branch was dropped)."""
    if as_of_generation is None:
        with open(_ref_pointer_path(table_dir, ref)) as fh:
            name = json.load(fh)["current"]
    else:
        name = f"gen-{as_of_generation}.json"
    with open(os.path.join(table_dir, "_manifests", name)) as fh:
        return json.load(fh)


# ----- durable JSON files -----


def _fsync_dir(path: str) -> None:
    """Record a completed rename in the directory itself (POSIX durability)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _synced_tmp(path: str, obj) -> str:
    """Write ``obj`` as JSON to a fresh dot-named temp file beside
    ``path`` (readers and listings skip dot names), fsynced; returns it."""
    tmp = os.path.join(
        os.path.dirname(path),
        f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp",
    )
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    return tmp


def _write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj``: fsynced temp file,
    ``os.replace``, then the directory fsynced so the rename is durable."""
    os.replace(_synced_tmp(path, obj), path)
    _fsync_dir(os.path.dirname(path))


def _link_json(path: str, obj) -> None:
    """Create ``path`` holding ``obj`` exactly once. The content is
    fsynced to a temp file first and then hard-linked into place:
    ``os.link`` is an atomic create-if-absent (Delta's putIfAbsent on the
    next log file), so of several writers linking one name exactly one
    wins and the others get FileExistsError — and the name never holds a
    partial file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = _synced_tmp(path, obj)
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)
    _fsync_dir(os.path.dirname(path))


# ----- generation reservation -----


def _reserve(table_dir: str, generation: int) -> None:
    """Take generation ``generation``'s O_EXCL reservation file
    (FileExistsError when a concurrent writer holds it)."""
    os.makedirs(os.path.join(table_dir, "_manifests"), exist_ok=True)
    os.close(
        os.open(
            _reserve_path(table_dir, generation),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
    )


def _release(table_dir: str, generation: int) -> None:
    """Drop generation ``generation``'s reservation, if it is held."""
    with contextlib.suppress(FileNotFoundError):
        os.unlink(_reserve_path(table_dir, generation))


def _reserve_next(table_dir: str, generation: int) -> int:
    """Reserve the lowest free generation number at or above
    ``generation`` — neither linked as a manifest nor reserved by another
    writer — and return it."""
    while True:
        if not os.path.exists(_manifest_path(table_dir, generation)):
            try:
                _reserve(table_dir, generation)
                return generation
            except FileExistsError:
                pass
        generation += 1


def take_generation(
    table_dir: str,
    generation: int | None,
    ref: str | None = None,
    reserve: bool = True,
) -> int | None:
    """The generation number a writer commits as, reserved before any
    data stages. An explicit ``generation`` goes through
    :func:`_validate_generation` unchanged. ``None`` takes the next free
    number above the committed head of ``ref`` (main when None): numbers
    held by a manifest or by another writer's reservation are skipped,
    so an orphan of a crashed attempt never blocks a commit. With
    ``reserve=False`` (a fail-fast pre-check) ``None`` has nothing to
    check and comes back as None."""
    if generation is not None:
        _validate_generation(table_dir, generation, reserve, ref)
        return generation
    if not reserve:
        return None
    return _reserve_next(table_dir, (current_generation(table_dir, ref) or 0) + 1)


def _validate_generation(
    table_dir: str, generation: int, reserve: bool = True, ref: str | None = None
) -> None:
    """Monotonicity + immutability guards, and — S33 — an atomic
    RESERVATION of the generation number taken BEFORE any data is staged:
    two writers racing from the same parent would otherwise both stage
    into ``data/gen-N`` and corrupt each other's files long before either
    reached the manifest step. The O_EXCL reservation file serializes
    number assignment (the loser re-picks a higher number having written
    nothing); it is deleted once the immutable manifest exists and takes
    over the blocking, and a crashed writer's stale reservation is
    age-reclaimed by ``gc(older_than_s=...)``."""
    # monotonicity is REF-relative (a branch's commits advance the branch
    # head, S38); the uniqueness/reservation guards below stay GLOBAL —
    # generation numbers are one shared space across every ref, so a
    # branch commit can never collide with a main commit's number
    committed = current_generation(table_dir, ref)
    if committed is not None and generation <= committed:
        raise ValueError(
            f"generation {generation} must exceed the committed generation "
            f"{committed}: re-publishing the current generation would "
            f"overwrite the directory lazy readers are scanning"
        )
    if os.path.exists(_manifest_path(table_dir, generation)):
        raise FileExistsError(
            f"manifest gen-{generation}.json already exists and is immutable; "
            f"pick a fresh generation (a torn commit's manifest is abandoned, "
            f"never rewritten)"
        )
    if not reserve:
        return  # fail-fast pre-check only (compact validates before its read,
        # then the publish it delegates to takes the real reservation)
    try:
        _reserve(table_dir, generation)
    except FileExistsError:
        raise FileExistsError(
            f"generation {generation} is reserved by a concurrent writer; "
            f"pick a fresh generation"
        ) from None


# ----- pointer lock and the compare-and-swap -----


def _acquire_pointer_lock(table_dir: str) -> int:
    """Short-critical-section mutual exclusion around the pointer swap
    (held for the microseconds of one re-read + one rename, never during
    data staging). O_CREAT|O_EXCL is the POSIX putIfAbsent; a lock older
    than ``_LOCK_STALE_S`` belongs to a crashed writer and is broken —
    the same lease-style recovery object-store commit services use.

    Breaking is serialized by an atomic RENAME to a unique name: with a
    bare unlink, two waiters could both "break" — the second unlinking
    the first's freshly re-acquired lock — and both enter; a rename has
    exactly one winner and the loser just re-loops. The standard lease
    assumption remains and is honest here: the break threshold (30 s) is
    seven orders of magnitude above the critical section (µs), so a lock
    that old belongs to a dead process, not a slow one."""
    lock = os.path.join(table_dir, _COMMIT_LOCK)
    deadline = time.time() + _LOCK_STALE_S * 2
    while True:
        try:
            return os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > _LOCK_STALE_S:
                    # atomic one-winner break of the crashed holder's lock
                    broken = f"{lock}.broken.{uuid.uuid4().hex}"
                    os.rename(lock, broken)
                    os.unlink(broken)
                    continue
            except OSError:
                continue  # holder released / another waiter won the break
            if time.time() > deadline:
                raise TimeoutError(f"commit lock stuck at {lock}") from None
            time.sleep(0.005)


def _release_pointer_lock(table_dir: str, fd: int) -> None:
    """Release only a lock we still OWN (ADVICE r14): if this holder
    stalled past ``_LOCK_STALE_S`` and a waiter broke + re-acquired, an
    unconditional unlink-by-name would delete the WAITER's lock and admit
    a third writer into the CAS section alongside it — a lost update. The
    break path renames the old lock away, so ownership is provable by
    inode: the fd still refers to our original file; unlink only when the
    name's inode matches. (The residual stat→unlink window requires the
    lock to be >30 s old AND a break+re-acquire to land inside it —
    nanoseconds vs the µs-held critical section; the lease assumption the
    acquire docstring states covers it.)"""
    lock = os.path.join(table_dir, _COMMIT_LOCK)
    try:
        owned = os.fstat(fd).st_ino == os.stat(lock).st_ino
    except OSError:
        owned = False  # renamed away by a breaker / already gone
    finally:
        os.close(fd)
    if owned:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass  # broken as stale by a waiter after the inode check


def _swap_pointer(
    lock_dir: str,
    pointer: str,
    linked: str,
    expected: int | None,
    subject: str,
    unit: str = "generation",
    must_exist: bool = False,
) -> None:
    """THE commit point, shared by table manifests, branch refs and
    catalog versions. ``linked`` is the immutable file this writer just
    created with :func:`_link_json`; ``pointer`` currently names the
    state it was derived from, ``expected`` (None: nothing committed).

    Under the pointer lock the pointer is re-read. If it no longer names
    ``expected`` a concurrent commit landed in between: ``linked`` is
    unlinked — exclusively owned (the link had one winner and no pointer
    ever named it), and leaving it would let an as-of read serve a
    REJECTED writer's state as committed history — and
    :class:`CommitConflictError` is raised for the caller's retry loop.
    A later writer reusing the freed number is safe: staging always
    writes mode("overwrite"). Otherwise the pointer is atomically
    replaced to name ``linked``, keeping its other fields (a branch's
    recorded base, fast_forward's divergence witness); with
    ``must_exist`` (a branch) a missing pointer is a conflict too — the
    ref was dropped. Readers are never blocked — they only ever see
    complete committed pointers."""
    fd = _acquire_pointer_lock(lock_dir)
    try:
        try:
            with open(pointer) as fh:
                old = json.load(fh)
        except FileNotFoundError:
            old = None
        m = _NUM_RE.search(old["current"]) if old else None
        cur = int(m.group(1)) if m else None
        if cur != expected or (old is None and must_exist):
            try:
                os.unlink(linked)
            except FileNotFoundError:
                pass
            _fsync_dir(os.path.dirname(linked))
            moved = (
                f"advanced to {unit} {cur}" if old is not None else "was dropped"
            )
            raise CommitConflictError(
                f"commit conflict: {subject} {moved} while this writer was "
                f"building on {expected}: {os.path.basename(linked)} "
                f"rejected, retry from the new committed state"
            )
        _write_json(pointer, {**(old or {}), "current": os.path.basename(linked)})
    finally:
        _release_pointer_lock(lock_dir, fd)


def _commit_manifest(
    table_dir: str,
    generation: int,
    manifest: dict,
    expected_parent: int | None,
    ref: str | None = None,
) -> dict:
    """The shared two-phase commit tail, a real compare-and-swap (S33):

    1. The generation manifest is created with :func:`_link_json` — an
       atomic create-if-absent, so two writers that both picked gen-N
       cannot both own it. The loser gets FileExistsError and retries at
       a higher number. The staging reservation is released once the
       immutable manifest blocks the number (a reservation resurrected by
       a crash here only protects more; gc ages it out).
    2. :func:`_swap_pointer` re-validates under the lock that the
       committed generation is STILL ``expected_parent`` — a concurrent
       commit in between raises :class:`CommitConflictError` instead of
       silently clobbering it (lost update)."""
    mpath = _manifest_path(table_dir, generation)
    try:
        _link_json(mpath, manifest)
    except FileExistsError:
        raise FileExistsError(
            f"manifest gen-{generation}.json already exists and is immutable; "
            f"pick a fresh generation (a torn commit's manifest is abandoned, "
            f"never rewritten)"
        ) from None
    _release(table_dir, generation)  # direct callers (tests) never reserved
    _swap_pointer(
        table_dir,
        _ref_pointer_path(table_dir, ref),
        mpath,
        expected_parent,
        f"branch {ref}" if ref else "table",
        must_exist=ref is not None,
    )
    return manifest


# ----- transaction watermarks and lineage -----


def _fold_txns(parent_txns: dict | None, txn: dict | None) -> dict | None:
    """Per-writer transaction watermarks — the Delta ``txn`` action's
    appId → version map: the parent's map carried forward with this
    commit's tagged ``txn`` folded in under its ``tag``, so N independent
    writers sharing one table each keep their own replay watermark across
    each other's commits (the single-slot ``txn`` field is last-writer-
    wins and would lose writer A's watermark the moment writer B commits).
    Returns None when there is nothing to record."""
    txns = dict(parent_txns or {})
    if txn and "tag" in txn:
        txns[str(txn["tag"])] = {k: v for k, v in txn.items() if k != "tag"}
    return txns or None


def _txns_of(manifest: dict | None) -> dict | None:
    """A committed manifest's per-tag watermark map, SEEDED from the legacy
    single-slot ``txn`` when no map exists yet: a table whose last commit
    predates the multi-writer map must not lose that writer's watermark
    the moment a differently-tagged writer commits on top (the upgrade is
    lossless — the slot's tag becomes the map's first entry)."""
    if not manifest:
        return None
    return manifest.get("txns") or _fold_txns(None, manifest.get("txn"))


def txn_watermark(manifest: dict, tag) -> dict | None:
    """Resolve writer ``tag``'s replay watermark from a committed manifest:
    the per-tag ``txns`` map when present (multi-writer), else the legacy
    single-slot ``txn`` when its tag matches (single-writer sinks).
    Tags normalize through ``str`` on BOTH storage forms so a non-string
    tag (e.g. an int) resolves identically whether it was folded into the
    map (which coerces with ``str``) or still sits in the legacy slot
    (ADVICE r15)."""
    per_tag = (manifest.get("txns") or {}).get(str(tag))
    if per_tag is not None:
        return per_tag
    single = manifest.get("txn")
    if single and "tag" in single and str(single["tag"]) == str(tag):
        return {k: v for k, v in single.items() if k != "tag"}
    return None


# ----- deriving a child manifest from its parent -----

# Each names the operation that wrote a manifest and records its parent;
# a child describes its own commit, so it never inherits these.
_LINEAGE_KEYS = (
    "merge", "append", "evolve", "compact", "mor", "fold", "restore",
    "rename", "drop",
)
# What a commit that changes the file list inherits from its parent: the
# table's identity and its transaction watermarks. Per-file state (file
# list, partition values, stats, eras, delete log) is rebuilt from the
# file delta, or set by the writer that maintains it.
_IDENTITY_KEYS = (
    "schema", "partition_col", "constraints", "partition_transform",
    "bloom_meta", "epoch_maps", "txn", "txns",
)
_KEEP = object()  # derive_manifest: carry the parent's txn and txns as-is


def derive_manifest(
    parent: dict,
    generation: int,
    added: list[str] | None = None,
    removed=(),
    added_stats: dict | None = None,
    added_partitions: dict | None = None,
    txn=_KEEP,
    **fields,
) -> dict:
    """The manifest of a commit built on ``parent``.

    With ``added`` None the commit is metadata only: every parent key
    but the lineage keys carries by reference. With a file delta the
    table identity (``_IDENTITY_KEYS``) carries, and the file list is
    the parent's files minus ``removed``, in order, plus ``added``. Per
    file, carried files keep their partition values, stats and eras;
    added files take ``added_partitions``, ``added_stats`` and the
    current era. ``stats`` is recorded only when ``added_stats`` is
    given, ``partitions`` only on a partitioned table.

    ``fields`` are the keys this commit sets, its lineage entry among
    them; a field given as None is left out. ``txn`` is this commit's
    transaction: it takes the single ``txn`` slot (None leaves it empty)
    and folds into the per-writer ``txns`` map. Left at its default, the
    parent's slot and map carry unchanged."""
    if added is None:
        m = {k: v for k, v in parent.items() if k not in _LINEAGE_KEYS}
    else:
        m = {k: parent[k] for k in _IDENTITY_KEYS if parent.get(k) is not None}
    m["generation"] = generation
    for k, v in fields.items():
        if v is None:
            m.pop(k, None)
        else:
            m[k] = v
    if added is not None:
        gone = set(removed)
        carried = [rel for rel in parent.get("files", []) if rel not in gone]
        m["files"] = carried + list(added)
        m["n_files"] = len(m["files"])
        if m.get("partition_col") is not None:
            parts = parent.get("partitions", {})
            m["partitions"] = {
                **{rel: parts.get(rel) for rel in carried},
                **(added_partitions or {}),
            }
        if added_stats is not None:
            stats = parent.get("stats", {})
            m["stats"] = {
                **{rel: stats[rel] for rel in carried if rel in stats},
                **added_stats,
            }
        if m.get("epoch_maps"):
            # S40: files written now carry the current logical names, so
            # they join the current era; carried files keep theirs
            epoch = parent.get("epoch", 0)
            eras = parent.get("file_epochs", {})
            m["epoch"] = epoch
            m["file_epochs"] = {
                **{rel: eras.get(rel, 0) for rel in carried},
                **{rel: epoch for rel in added},
            }
    if txn is not _KEEP:
        m.pop("txn", None)
        if txn is not None:
            m["txn"] = txn
        folded = _fold_txns(_txns_of(parent), txn)
        if folded:
            m["txns"] = folded
        else:
            m.pop("txns", None)
    return m


def _parent_gen_of(manifest: dict) -> int | None:
    """The generation this commit was derived from, traced through its
    lineage record (merge_mor's ``mor``, compact_mor's ``fold``, merge's
    ``merge``, partial compaction's ``compact``, append/evolve/restore).
    A plain publish records no parent and returns None — chains cannot
    be traced across it."""
    for k in ("mor", "fold", "merge", "append", "evolve", "compact", "restore"):
        lin = manifest.get(k)
        if isinstance(lin, dict) and "parent" in lin:
            return lin["parent"]
    return None


def commit_chain(read, from_generation: int, to_generation: int):
    """``(base, commits)`` for a change-feed interval: ``commits`` are the
    manifests after ``from_generation`` up to ``to_generation``, oldest
    first, traced back from ``to_generation`` through each lineage
    parent; ``base`` is generation ``from_generation``'s manifest.
    ``read(g)`` returns generation ``g``'s manifest.

    ``from_generation == 0`` names the empty table before any commit: the
    trace may end at a parentless genesis publish, and ``base`` is then
    None. Otherwise the trace must reach ``from_generation`` itself. A
    commit without a parent (a plain publish) or an ancestor below
    ``from_generation`` makes the interval untraceable; a restore inside
    it is refused, since a feed across a rollback is undefined."""
    commits = []
    cur = read(to_generation)
    while cur["generation"] > from_generation:
        if "restore" in cur:
            raise ValueError(
                f"the interval {from_generation}..{to_generation} crosses a "
                f"restore: a change feed across a rollback is undefined — "
                f"consume the feed before restoring, or restart a "
                f"change-feed stream from a fresh checkpoint"
            )
        commits.append(cur)
        par = _parent_gen_of(cur)
        if par is None and from_generation == 0:
            return None, commits[::-1]
        if par is None or par < from_generation:
            raise ValueError(
                f"cannot trace the commit lineage from generation "
                f"{to_generation} back to {from_generation}: the interval "
                f"crosses a plain publish/replace, or {from_generation} is "
                f"not an ancestor of {to_generation} — restart a "
                f"change-feed stream from a fresh checkpoint"
            )
        cur = read(par)
    return cur, commits[::-1]


# ----- reclaim: what maintenance keeps, and the one deletion loop -----


def _listdir(path: str) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def list_branches(table_dir: str) -> dict[str, dict]:
    """Every live branch's ref content, by name."""
    rdir = os.path.join(table_dir, _REF_DIR)
    out: dict[str, dict] = {}
    for name in _listdir(rdir):
        if name.startswith("."):
            continue  # a committing writer's pointer tmp
        try:
            with open(os.path.join(rdir, name)) as fh:
                out[name] = json.load(fh)
        except (OSError, ValueError):
            continue  # dropped mid-listing
    return out


class Reachable(NamedTuple):
    """What :func:`reachable` found; paths are joined onto the table dir."""

    head: int | None  # the main pointer's generation
    roots: frozenset  # head, every branch head and the kept generations
    reserved: frozenset  # reserved generation dirs and leased stream dirs
    named: frozenset  # every file a manifest names, and each dir holding one

    def keeps(self, path: str) -> bool:
        """The one survival rule: ``path`` is named by a manifest or holds
        a file that is, or lies in a reserved or leased staging dir."""
        return path in self.named or any(
            path == d or path.startswith(d + os.sep) for d in self.reserved
        )


def reachable(table_dir: str, keep_generations=()) -> Reachable:
    """What ``gc`` and ``vacuum`` must not delete, read in the one safe
    order. The caller lists its candidates BEFORE calling this.

    1. Reservations and leases first: a ``.reserve-gen-N`` protects
       ``data/gen-N`` for a writer's whole staging phase (S33), and a
       streaming sink's ``.reserve-stream-<tag>`` lease its
       ``data/stream-<tag>`` (T44).
    2. Then the pointer and the branch refs: the roots.
    3. Manifests last, listed again: every data file, delete file and
       ``_blooms/`` sidecar that a manifest on disk names.

    The order is load-bearing. A committing writer links ``gen-N.json``
    and only then releases its reservation, and writes its sidecar before
    the link. So if step 1 misses the reservation, the manifest was
    already linked and step 3 sees it, or the writer had not staged yet
    and none of its files was a candidate. Reading manifests first
    re-opened a window that a full-suite stress hit (r15): the manifest
    was not yet linked at the manifest read and the reservation was
    already released at the reservation read, so a committed file was
    vacuumed at ``older_than_s=0``. Re-reading after the caller's walk
    also protects both the old and the new files of a commit that lands
    mid-walk, and a branch cut mid-walk."""
    mdir = os.path.join(table_dir, "_manifests")
    reserved = {
        os.path.join(table_dir, "data", m[len(".reserve-"):])
        for m in _listdir(mdir)
        if m.startswith(".reserve-")
    }
    head = current_generation(table_dir)
    roots = {head, *keep_generations}
    roots.update(
        _gen_of(b.get("current", "")) for b in list_branches(table_dir).values()
    )
    named: set[str] = set()
    for m in _listdir(mdir):
        if m.startswith(".") or _gen_of(m) is None:
            continue  # reservations and mid-commit tmps are not manifests
        try:
            with open(os.path.join(mdir, m)) as fh:
                man = json.load(fh)
        except (OSError, ValueError):
            continue  # removed by a concurrent gc: protects nothing
        sidecars = (man.get("bloom_meta") or {}).get("sidecars", [])
        for rel in [
            *man["files"],
            *(man.get("delete_files") or []),
            *(os.path.join(_BLOOMS_DIR, s) for s in sidecars),
        ]:
            p = os.path.join(table_dir, rel)
            while p not in named and len(p) > len(table_dir):
                named.add(p)
                p = os.path.dirname(p)
    return Reachable(
        head, frozenset(roots - {None}), frozenset(reserved), frozenset(named)
    )


def _newest_mtime(path: str) -> float:
    """Newest mtime under ``path`` recursively: the path itself, every
    subdirectory, every file. A writer staging a partitioned layout
    touches only leaf files inside ``pcol=value`` subdirs, so the
    generation dir's own mtime goes stale long before the write ends
    (ADVICE r14). Raises OSError only if ``path`` itself cannot be dated."""
    newest = os.path.getmtime(path)
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except OSError:
                continue  # vanished mid-walk
    return newest


def _aged(path: str, older_than_s: float | None) -> bool:
    """The one age rule: ``path``'s newest recursive mtime is at least
    ``older_than_s`` old. None is age-blind. A missing path holds nothing
    young; one that cannot be dated otherwise counts as young."""
    if older_than_s is None:
        return True
    try:
        return time.time() - _newest_mtime(path) >= older_than_s
    except FileNotFoundError:
        return True
    except OSError:
        return False


def reclaim(table_dir: str, units, older_than_s: float | None) -> list[str]:
    """The one deletion loop: delete each unit (a file, or a dir with
    everything in it) that is :func:`_aged`. A file takes the
    ``.<name>.crc`` checksum sibling Spark writes beside it. Then prune
    the dirs under ``data/`` the deletions emptied, deepest first, and
    only those: Spark's committer creates a staging dir an instant before
    writing into it, and a sweep of every empty dir once deleted one under
    a running job (r15). Returns the deleted units."""
    data_root = os.path.join(table_dir, "data")
    deleted: list[str] = []
    for path in units:
        if not _aged(path, older_than_s):
            continue
        try:
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.unlink(path)
                d, name = os.path.split(path)
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(d, f".{name}.crc"))
        except FileNotFoundError:
            continue  # a concurrent gc or vacuum got it first
        deleted.append(path)
    prune = set()
    for p in deleted:
        d = os.path.dirname(p)
        while d.startswith(data_root + os.sep):
            prune.add(d)
            d = os.path.dirname(d)
    for d in sorted(prune, key=len, reverse=True):
        with contextlib.suppress(OSError):
            os.rmdir(d)  # still holds carried files
    return deleted


# ----- per-file kernels: footer stats and blooms -----


def _encode_stat(v):
    """JSON-safe, tz-unambiguous encoding of a footer/bound value (r14,
    extending S28/S30 pruning to temporal columns — the most common real
    partition/key type): dates become day counts ``{"d": n}`` and
    timestamps epoch-microsecond counts ``{"us": n}`` (a naive timestamp
    is UTC by this engine's session contract; an aware one converts
    exactly) — integer arithmetic, so no tz-dependent string rendering
    can ever corrupt a comparison. int/float/str pass through; anything
    else returns None and the caller stays conservative."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        # exact integer arithmetic (ADVICE r14): timestamp() goes
        # through a float whose rounding plus int() truncation can land
        # 1µs below the true value, and a max recorded 1µs low makes
        # _range_excludes wrongly skip a file whose boundary row exactly
        # equals the query's lo bound
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return {"us": (v - epoch) // _dt.timedelta(microseconds=1)}
    if isinstance(v, _dt.date):
        return {"d": (v - _dt.date(1970, 1, 1)).days}
    if isinstance(v, (int, float, str)):
        return v
    return None


def _file_stats(path: str, columns: list[str]) -> dict:
    """Per-file column min/max from the parquet FOOTER (no data read):
    merge row-group statistics for each requested column. Missing stats
    for a column simply omit it — pruning treats absence as 'keep'.

    int/float/str stats record verbatim; date/timestamp stats record in
    the integer encoding of ``_encode_stat``. bytes (not order-preserving
    once decoded) and other types stay unrecorded — pruning
    conservatively keeps the file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for col in columns:
        ci = names.get(col)
        if ci is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if not ok or lo is None:
            continue
        lo_e, hi_e = _encode_stat(lo), _encode_stat(hi)
        if lo_e is not None and hi_e is not None:
            out[col] = [lo_e, hi_e]
    return out


def _bloom_positions(v, bits: int):
    """S47 bloom encoding, deterministic and portable: int (non-bool) →
    its decimal string, str → itself, everything else UNRECORDED (None;
    floats excluded on purpose — equality on floats is a bug upstream of
    any index). k=4 positions from the md5 digest's first four big-endian
    u32 words, modulo the bit count. Absence of a value is PROVABLE;
    presence is only 'maybe' — the conservative shape file skipping
    needs."""
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        return None
    canon = str(v).encode() if isinstance(v, int) else v.encode()
    words = struct.unpack(">4I", hashlib.md5(canon).digest()[:16])
    return [w % bits for w in words]


def _file_blooms(path: str, columns: list[str], bits: int) -> dict:
    """``{col: base64 bitset}`` for each of ``columns`` present in the
    parquet file at ``path``: one columnar pass per column. A column
    holding an unencodable type records nothing (pruning then keeps the
    file)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    out = {}
    for col in columns:
        if col not in pf.schema_arrow.names:
            continue
        buf = bytearray(bits // 8)
        ok = True
        for batch in pf.iter_batches(columns=[col]):
            for v in batch.column(0).to_pylist():
                if v is None:
                    continue
                pos = _bloom_positions(v, bits)
                if pos is None:
                    ok = False  # unencodable type: no bloom for this column
                    break
                for p in pos:
                    buf[p >> 3] |= 1 << (p & 7)
            if not ok:
                break
        if ok:
            out[col] = base64.b64encode(bytes(buf)).decode()
    return out


def _bloom_might_contain(b64: str, bits: int, v) -> bool:
    pos = _bloom_positions(v, bits)
    if pos is None:
        return True  # unencodable probe value: conservative keep
    raw = base64.b64decode(b64)
    return all(raw[p >> 3] & (1 << (p & 7)) for p in pos)


def map_files(spark, files: list[str], kernel, max_files: int, max_bytes=None) -> dict:
    """``{path: kernel(path)}`` for every path in ``files``. Up to
    ``max_files`` files (and, when ``max_bytes`` is given, up to that many
    bytes in total) run in-process: a CDC micro-batch commit stages a
    handful of small files, and one parallelize job's fixed cost (~0.25 s)
    dwarfs reading them. Above either bound one parallelize job runs the
    kernel on executor workers, so driver work stays bounded by a
    constant however many files a write stages (r14 verdict #4). A size
    probe that fails takes the executor path."""
    if len(files) <= max_files:
        try:
            small = max_bytes is None or (
                sum(os.path.getsize(f) for f in files) <= max_bytes
            )
        except OSError:
            small = False
        if small:
            return {f: kernel(f) for f in files}
    n = max(1, min(len(files), int(spark.sparkContext.defaultParallelism)))
    return dict(
        spark.sparkContext.parallelize(files, n)
        .map(lambda f: (f, kernel(f)))
        .collect()
    )


# ----- bloom sidecars -----


def _bloom_sidecar_write(table_dir: str, generation: int, blooms: dict) -> str:
    """Persist a ``{rel: {col: b64}}`` bloom map as a SIDECAR file under
    ``_blooms/`` and return its name (r16 verdict #3: inline bitsets made
    the manifest O(files·bits); the manifest carries only sidecar NAMES).
    The name embeds a uuid: two CAS-racing writers of the same
    generation number must not overwrite each other's sidecar before the
    os.link decides the winner — each manifest references exactly the
    bytes its own writer produced; the loser's sidecar becomes
    unreferenced debris for gc."""
    bdir = os.path.join(table_dir, _BLOOMS_DIR)
    os.makedirs(bdir, exist_ok=True)
    name = f"gen-{generation}-{uuid.uuid4().hex[:12]}.json"
    _write_json(os.path.join(bdir, name), blooms)
    return name


def table_blooms(table_dir: str, manifest: dict) -> dict:
    """Resolve a generation's per-file blooms: the legacy INLINE map (pre-
    sidecar manifests keep working) overlaid by each sidecar named in
    ``bloom_meta.sidecars``, in chain order (later writers win a rel).
    A missing/unreadable sidecar contributes nothing — absent blooms mean
    conservative keep, so pruning degrades, correctness never does."""
    out = {k: dict(v) for k, v in (manifest.get("blooms") or {}).items()}
    for name in (manifest.get("bloom_meta") or {}).get("sidecars", []):
        try:
            with open(os.path.join(table_dir, _BLOOMS_DIR, name)) as fh:
                side = json.load(fh)
        except (OSError, ValueError):
            continue
        for rel, per in side.items():
            out[rel] = {**out.get(rel, {}), **per}
    return out


def _carry_blooms(
    table_dir: str,
    parent: dict,
    generation: int,
    fresh: dict,
    live_rels: list[str] | None = None,
) -> dict | None:
    """The S47 carry every bloom-carrying commit shares: ``fresh`` holds
    the bitsets of this commit's NEW files; they persist as this
    generation's sidecar and the returned ``bloom_meta`` extends the
    parent's sidecar chain. A legacy inline parent migrates here: its
    inline map folds into the new sidecar once. Once the chain reaches
    ``_BLOOM_FOLD_EVERY`` entries it FOLDS: the chain's union (pruned to
    ``live_rels`` — entries for files a merge or compaction rewrote are
    debris) rewrites as one sidecar, so lookups read a bounded number of
    sidecar files however many appends the table has absorbed; the
    superseded sidecars become gc debris. A writer that re-indexed every
    live file passes a parent whose chain is empty. Returns None when
    the parent declares no bloom index (ADVICE r16 — before this, one
    append/compact permanently stripped the index)."""
    meta = parent.get("bloom_meta")
    if not meta:
        return None
    payload = {**(parent.get("blooms") or {}), **fresh}
    sidecars = list(meta.get("sidecars", []))
    if payload:
        if len(sidecars) >= _BLOOM_FOLD_EVERY - 1:
            # fold: the whole chain + this commit's payload as ONE sidecar
            merged = table_blooms(table_dir, parent)
            for rel, per in payload.items():
                merged[rel] = {**merged.get(rel, {}), **per}
            if live_rels is not None:
                live = set(live_rels)
                merged = {rel: v for rel, v in merged.items() if rel in live}
            sidecars = [_bloom_sidecar_write(table_dir, generation, merged)]
        else:
            sidecars.append(_bloom_sidecar_write(table_dir, generation, payload))
    return {
        "bits": int(meta["bits"]),
        "columns": meta.get("columns", []),
        "sidecars": sidecars,
    }


# ----- the portable key hash -----


def _stable_bucket(v, n: int) -> int:
    """Deterministic cross-process hash bucket of a key value: crc32 over
    a type-tagged utf-8 rendering. Python's ``hash()`` cannot serve — it
    seeds str hashing per interpreter, and every executor worker is its
    own process. For integral (non-bool) and string values this equals
    the Spark expression in ``manifest._bucket64_counts``: merge_mor
    records write-side base-bucket key counts that the change-feed
    planner uses to SKIP churn-free bucket splits and delete files, so a
    disagreement would silently drop feed rows (parity pinned in
    tests/test_pyds_manifest.py)."""
    if v is None:
        return 0
    if isinstance(v, bool):
        r = f"b{int(v)}"
    elif isinstance(v, int):
        r = f"i{v}"
    elif isinstance(v, float):
        r = f"f{v!r}"
    elif isinstance(v, str):
        r = "s" + v
    else:
        r = "o" + str(v)
    return zlib.crc32(r.encode("utf-8")) % n
