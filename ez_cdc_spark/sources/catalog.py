"""S41: multi-table atomic transactions — a versioned CATALOG over
manifest tables.

The manifest family (manifest.py) makes each TABLE's commit atomic; this
module adds the layer real lakehouses put above that — the catalog
(Iceberg's REST/Hive catalog pointer, Delta's commit coordinator): a
single versioned pointer mapping table name → committed generation, so a
transaction touching SEVERAL tables becomes visible in ONE atomic swap.

    catalog_dir/
      tables/<name>/          ordinary manifest tables (manifest.py owns them)
      _versions/v-<V>.json    immutable catalog snapshots: {"tables": {...}}
      _CATALOG                pointer: {"current": "v-<V>.json"}

The commit protocol mirrors real systems exactly: each table's new
generation commits FIRST through its own manifest chain (data staged,
per-table pointer moved — those commits are durable but UNCOORDINATED),
and the transaction commits by swapping the catalog pointer to a snapshot
naming every table's new generation. Catalog READERS resolve tables
through the snapshot (``read_table`` → ``read_committed(as_of=...)``), so
they see all of a transaction's tables or none of it — a reader racing a
two-table transaction can never observe table A updated and table B not.
The per-table pointers remain the tables' own latest state (useful for
single-table tooling); the catalog is the cross-table consistency
boundary, which is exactly the Iceberg contract (table metadata files
exist on disk before the catalog swap makes them the table).

Concurrency: a catalog version is committed exactly like a table
generation, through ``commit_core``: the immutable version file is linked
once, then the pointer swap re-validates ``expected_version`` under the
same short lock (CAS; a concurrent transaction raises CommitConflictError
and the loser re-derives).
Catalog versions are immutable and time-travelable — a cross-TABLE
consistent snapshot of the whole lake at any retained version.

Retention composes with per-table gc through ``protected_generations``:
every generation named by any retained catalog version must survive
table-level gc, so catalog maintenance resolves the union per table and
passes it through (``manifest.gc(keep_generations=...)``).

At 100 TB the catalog holds one small JSON per version — O(tables), not
O(files) — and a transaction costs its tables' own commits plus one
pointer swap.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from ez_cdc_spark.sources.commit_core import (
    CommitConflictError,
    _acquire_pointer_lock,
    _fold_txns,
    _fsync_dir,
    _link_json,
    _release_pointer_lock,
    _swap_pointer,
)
from ez_cdc_spark.sources.manifest import ConstraintViolationError, read_committed

_POINTER = "_CATALOG"
_VER_RE = re.compile(r"v-(\d+)(?:\.json)?$")
_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
_CARRY = object()  # "carry the previous snapshot's FK declarations" sentinel


def _validate_foreign_keys(
    spark: SparkSession, catalog_dir: str, tables: dict, fks: list, touched: set
) -> None:
    """S45: referential integrity at the CATALOG boundary — the check no
    single-table constraint can express. Each declared FK whose child OR
    parent a transaction touches is re-validated against the POST state
    (the generations the new version would name): every non-NULL child FK
    value must exist among the parent's PK values, checked as one
    left-anti join per affected FK. Touching either side matters — a
    child insert can dangle, and so can a PARENT SHRINK that deletes rows
    children still reference. At 100 TB the parent side projects to the
    single PK column before the join (broadcast when small, shuffle
    otherwise) — one O(child) pass per affected FK, and only transactions
    that touch an FK's tables pay it."""
    from pyspark.sql import functions as F  # noqa: N812

    bad: dict[str, int] = {}
    for fk in fks:
        if fk["child"] not in touched and fk["parent"] not in touched:
            continue
        for side in ("child", "parent"):
            if fk[side] not in tables:
                raise ValueError(
                    f"foreign key references table {fk[side]!r}, which this "
                    f"catalog version does not contain"
                )
        child = read_committed(
            spark,
            table_dir(catalog_dir, fk["child"]),
            as_of_generation=tables[fk["child"]],
        )
        parent = read_committed(
            spark,
            table_dir(catalog_dir, fk["parent"]),
            as_of_generation=tables[fk["parent"]],
        )
        n = (
            child.where(F.col(fk["fk"]).isNotNull())
            .join(
                parent.select(F.col(fk["pk"]).alias("__pk")),
                F.col(fk["fk"]) == F.col("__pk"),
                "left_anti",
            )
            .count()
        )
        if n:
            bad[f"{fk['child']}.{fk['fk']} -> {fk['parent']}.{fk['pk']}"] = n
    if bad:
        raise ConstraintViolationError(
            f"transaction violates catalog foreign keys (dangling child "
            f"rows per declaration): {bad} — commit refused, catalog "
            f"unchanged"
        )


def table_dir(catalog_dir: str, name: str) -> str:
    if not _NAME_RE.match(name):
        raise ValueError(f"invalid table name {name!r}")
    return os.path.join(catalog_dir, "tables", name)


def _version_path(catalog_dir: str, version: int) -> str:
    return os.path.join(catalog_dir, "_versions", f"v-{version}.json")


def current_version(catalog_dir: str) -> int | None:
    try:
        with open(os.path.join(catalog_dir, _POINTER)) as fh:
            m = _VER_RE.search(json.load(fh)["current"])
            return int(m.group(1)) if m else None
    except FileNotFoundError:
        return None


def snapshot(catalog_dir: str, version: int | None = None) -> dict:
    """The catalog snapshot — {'version': V, 'tables': {name: generation}}.
    ``version`` time-travels to any retained catalog version (immutable,
    like generation manifests); default resolves the pointer."""
    if version is None:
        with open(os.path.join(catalog_dir, _POINTER)) as fh:
            name = json.load(fh)["current"]
    else:
        name = f"v-{version}.json"
    with open(os.path.join(catalog_dir, "_versions", name)) as fh:
        return json.load(fh)


def txn_watermark(snap: dict, tag) -> dict | None:
    """A sink's replay watermark from a catalog snapshot (the manifest
    txns map one level up): recorded by ``commit(txn=...)``, advanced
    EXACTLY at publication — a crash between the per-table commits and
    the catalog swap leaves the watermark untouched, so the redelivered
    batch re-runs its (idempotent, keyed) table writes and re-publishes."""
    return (snap.get("txns") or {}).get(str(tag))


def commit(
    catalog_dir: str,
    updates: dict[str, int],
    expected_version: int | None = None,
    txn: dict | None = None,
    _auto: bool = True,
    spark: SparkSession | None = None,
    foreign_keys=_CARRY,
    _views=_CARRY,
) -> dict:
    """Commit a catalog version: the current snapshot's table map with
    ``updates`` (table name → new committed generation) folded in, made
    visible in ONE atomic pointer swap. Each named generation's manifest
    must already exist in the table's own chain (the per-table commits
    happened first — the two-layer protocol in the module docstring);
    a missing manifest refuses BEFORE anything moves. CAS: the committed
    version must still be ``expected_version`` (captured at call time by
    default) at the swap, else CommitConflictError — the standard
    optimistic loop, one level up.

    S45: when the snapshot carries foreign-key declarations (see
    :func:`alter_foreign_keys`), any transaction touching a declared FK's
    child or parent re-validates that FK against the POST state before
    the version file links — refusal leaves the catalog untouched. Such
    a commit requires ``spark`` (the validation is an anti-join); a
    catalog without FKs never needs it."""
    if expected_version is None and _auto:
        expected_version = current_version(catalog_dir)
    prev = snapshot(catalog_dir) if expected_version is not None else {"tables": {}}
    tables = {**prev.get("tables", {})}
    for name, gen in sorted(updates.items()):
        td = table_dir(catalog_dir, name)
        mpath = os.path.join(td, "_manifests", f"gen-{gen}.json")
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"table {name!r} has no committed manifest gen-{gen}: commit "
                f"the table first — the catalog only NAMES durable state"
            )
        tables[name] = gen
    fks = (
        list(prev.get("foreign_keys") or [])
        if foreign_keys is _CARRY
        else list(foreign_keys or [])
    )
    views = (
        dict(prev.get("views") or {})
        if _views is _CARRY
        else dict(_views or {})
    )
    affected = [
        fk for fk in fks if fk["child"] in updates or fk["parent"] in updates
    ]
    if affected:
        if spark is None:
            raise ValueError(
                f"this catalog declares foreign keys over "
                f"{sorted({fk['child'] for fk in affected} | {fk['parent'] for fk in affected})}: "
                f"pass spark= so the transaction can be integrity-checked"
            )
        _validate_foreign_keys(spark, catalog_dir, tables, affected, set(updates))
    version = (expected_version or 0) + 1
    snap = {"version": version, "tables": tables}
    if fks:
        snap["foreign_keys"] = fks
    if views:
        snap["views"] = views
    # per-writer watermarks carry across every commit and fold this
    # commit's tagged txn in — the manifest _fold_txns contract, one
    # level up (a transaction's watermark must advance atomically WITH
    # the tables it published)
    txns = _fold_txns(prev.get("txns"), txn)
    if txns:
        snap["txns"] = txns
    return _commit_version(catalog_dir, snap, expected_version)


def _commit_version(catalog_dir: str, snap: dict, expected: int | None) -> dict:
    """Link ``snap`` as immutable version file ``v-<version>.json`` (one
    writer owns each number) and swap the catalog pointer to it if the
    committed version is still ``expected`` — the manifest protocol one
    level up (commit_core). Either step lost to a concurrent transaction
    raises CommitConflictError; the caller re-derives and retries."""
    vpath = _version_path(catalog_dir, snap["version"])
    try:
        _link_json(vpath, snap)
    except FileExistsError:
        raise CommitConflictError(
            f"catalog version {snap['version']} already committed by a "
            f"concurrent transaction: re-derive from the new snapshot and retry"
        ) from None
    _swap_pointer(
        catalog_dir,
        os.path.join(catalog_dir, _POINTER),
        vpath,
        expected,
        "catalog",
        unit="version",
    )
    return snap


def rollback(catalog_dir: str, to_version: int) -> dict:
    """S41/T40: catalog ROLLBACK — the s37 restore contract one level up:
    every table CHAIN rewinds first (per-table restore commits whose
    content is the target generation's, by reference), then one catalog
    version names the restored generations with the TARGET's txn
    watermarks — so every table rewinds together (a lone per-table
    restore could leave the lake cross-table inconsistent — state rolled
    back, log not), and the watermark rewind makes a
    restarted sink re-apply exactly the batches the rollback un-applied
    across ALL its tables at once (carrying the newer watermarks would
    skip them silently — s37's data-loss-by-bookkeeping, multiplied by
    the fan-out). History stays monotonic: the rolled-back versions stay
    time-travelable until expired, and a rollback is itself a version a
    later rollback can undo. Refuses an unknown target (the version file
    must still exist) and a no-op rollback to the current version.
    Every table generation the target names must still be retained —
    checked up front so a reader of the new version can never dangle."""
    from ez_cdc_spark.sources.manifest import (
        current_generation,
        restore as table_restore,
    )

    cur = current_version(catalog_dir)
    if to_version == cur:
        raise ValueError(f"catalog already at version {to_version}")
    target = snapshot(catalog_dir, to_version)  # loud if expired
    for name, gen in sorted(target.get("tables", {}).items()):
        mpath = os.path.join(
            table_dir(catalog_dir, name), "_manifests", f"gen-{gen}.json"
        )
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"rollback target v{to_version} names {name!r} gen-{gen}, "
                f"which retention already reclaimed"
            )
    # rewind every TABLE CHAIN first (per-table s37 restore commits, each
    # a by-reference metadata commit that also rewinds the table's own
    # txn watermarks): sinks merge from the table heads, so a rollback
    # that moved only the catalog pointer would leave redelivered batches
    # stacking onto un-rolled-back table state. A crash mid-loop leaves
    # some tables restored and the catalog pointer untouched — catalog
    # readers are unaffected and the retried rollback stacks further
    # (idempotent-by-content) restore commits.
    restored: dict[str, int] = {}
    for name, gen in sorted(target.get("tables", {}).items()):
        td = table_dir(catalog_dir, name)
        if current_generation(td) == gen:
            restored[name] = gen  # chain already at the target state
            continue
        restored[name] = table_restore(td, None, as_of_generation=gen)[
            "generation"
        ]
    # one ordinary CAS commit naming the RESTORE generations, with the
    # TARGET's txn watermarks (the REWIND; commit() would carry the
    # current version's watermarks forward, which is exactly wrong here)
    prev = snapshot(catalog_dir)
    version = (cur or 0) + 1
    snap = {"version": version, "tables": restored}
    if target.get("txns"):
        snap["txns"] = dict(target["txns"])
    if target.get("foreign_keys"):
        # restoring a state means ALL of that state (the s37 rule): the
        # target's FK declarations come back with the data they governed
        snap["foreign_keys"] = list(target["foreign_keys"])
    if target.get("views"):
        snap["views"] = dict(target["views"])  # same rule for views
    snap["rollback"] = {"parent": prev.get("version"), "target": to_version}
    return _commit_version(catalog_dir, snap, cur)


def alter_foreign_keys(
    spark: SparkSession,
    catalog_dir: str,
    add: list[dict] | None = None,
    drop: list[dict] | None = None,
) -> dict:
    """S45: declare/retire catalog-scope FOREIGN KEYS — the referential
    integrity layer no per-table constraint (S39 CHECK) can express,
    because it relates TWO tables, and the catalog is the only place two
    tables are consistent at once. Each declaration is
    ``{"child": t, "fk": col, "parent": t, "pk": col}``. ADDING validates
    the declaration against the whole current state Delta-style (existing
    dangling rows refuse the declaration, so a declared FK is never
    retroactively false); DROPPING is pure metadata. The new declaration
    set commits as an ordinary catalog version, so it is itself
    transactional, time-travelable, and rolled back with the data
    (rollback restores the TARGET's declarations). From then on every
    :func:`commit` touching a declared FK's child or parent re-validates
    on the post state and refuses dangling transactions."""
    prev = snapshot(catalog_dir)
    fks = [dict(fk) for fk in (prev.get("foreign_keys") or [])]
    sig = lambda fk: (fk["child"], fk["fk"], fk["parent"], fk["pk"])  # noqa: E731
    for fk in drop or []:
        fks = [f for f in fks if sig(f) != sig(fk)]
    for fk in add or []:
        if any(sig(f) == sig(fk) for f in fks):
            continue
        probe = {k: fk[k] for k in ("child", "fk", "parent", "pk")}
        _validate_foreign_keys(
            spark, catalog_dir, prev.get("tables", {}), [probe],
            {probe["child"], probe["parent"]},
        )
        fks.append(probe)
    return commit(
        catalog_dir,
        {},
        expected_version=prev["version"],
        spark=spark,
        foreign_keys=fks,
    )


def alter_views(
    spark: SparkSession,
    catalog_dir: str,
    add: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> dict:
    """S46: VERSIONED VIEWS — the Iceberg-view analog: a view is a named
    SQL template stored IN the catalog snapshot, referencing catalog
    tables as ``{name}`` placeholders (``spark.sql`` template args), e.g.
    ``SELECT ... FROM {ords} o JOIN {cust} c ON ...``. Because the text
    lives in the immutable snapshot and resolves through
    :func:`read_view` against ONE version's table map, a view read is
    cross-table consistent, time-travelable, and rolled back WITH the
    data (rollback restores the target's view set) — and two concurrent
    read_view calls can never observe each other's versions (resolution
    substitutes version-pinned DataFrames; no session temp-view state is
    mutated). Adding validates eagerly: the template must name only
    catalog tables and must ANALYZE against the current snapshot (a typo
    or a dropped column refuses the declaration, never a reader).
    Dropping is pure metadata. The new view set commits as an ordinary
    catalog version."""
    prev = snapshot(catalog_dir)
    views = dict(prev.get("views") or {})
    for name in drop or []:
        views.pop(name, None)
    for name, sql in (add or {}).items():
        if not _NAME_RE.match(name):
            raise ValueError(f"invalid view name {name!r}")
        _resolve_view(spark, catalog_dir, prev, sql).schema  # analyze now
        views[name] = sql
    return commit(
        catalog_dir, {}, expected_version=prev["version"], spark=spark,
        _views=views,
    )


def _resolve_view(
    spark: SparkSession, catalog_dir: str, snap: dict, sql: str
) -> DataFrame:
    import string

    refs = sorted(
        {f[1] for f in string.Formatter().parse(sql) if f[1] is not None}
    )
    missing = [r for r in refs if r not in snap.get("tables", {})]
    if missing:
        raise KeyError(
            f"view references {missing} — not tables of catalog version "
            f"{snap.get('version')}"
        )
    if not refs:
        raise ValueError(
            "a view must reference at least one catalog table as a "
            "{name} placeholder"
        )
    dfs = {
        r: read_committed(
            spark, table_dir(catalog_dir, r), as_of_generation=snap["tables"][r]
        )
        for r in refs
    }
    return spark.sql(sql, **dfs)


def read_view(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    version: int | None = None,
) -> DataFrame:
    """Resolve view ``name`` against catalog ``version`` (default:
    current): every referenced table reads AS OF that one version's
    generation, so the view is exactly as consistent as a multi-table
    transaction made it."""
    snap = snapshot(catalog_dir, version)
    views = snap.get("views") or {}
    if name not in views:
        raise KeyError(f"view {name!r} not in catalog version {snap['version']}")
    return _resolve_view(spark, catalog_dir, snap, views[name])


def init(catalog_dir: str) -> dict:
    """Create an empty catalog (version 1, no tables). Refuses an existing
    one — a catalog pointer is never re-initialized over live state."""
    if current_version(catalog_dir) is not None:
        raise FileExistsError(f"catalog already initialized at {catalog_dir}")
    os.makedirs(catalog_dir, exist_ok=True)
    return commit(catalog_dir, {}, expected_version=None, _auto=False)


def read_table(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    version: int | None = None,
) -> DataFrame:
    """Read a table AS OF a catalog version (default: current) — the
    cross-table consistent read: two read_table calls at the same version
    can never straddle a transaction."""
    snap = snapshot(catalog_dir, version)
    if name not in snap["tables"]:
        raise KeyError(f"table {name!r} not in catalog version {snap['version']}")
    return read_committed(
        spark, table_dir(catalog_dir, name), as_of_generation=snap["tables"][name]
    )


def expire_versions(catalog_dir: str, retain_versions: int) -> list[int]:
    """Catalog retention — the lifecycle completion of the version chain
    (Iceberg's expire_snapshots at the catalog layer): delete every
    version FILE older than the newest ``retain_versions``, never the
    current one (``retain_versions >= 1`` enforced; numbering stays
    monotonic because the pointer and the next version derive from the
    CURRENT snapshot, not the file listing). Expired versions stop being
    time-travel and rollback targets — both already refuse a missing
    version file loudly — and the table generations ONLY they named
    become reclaimable by the next ``gc(keep_generations=
    protected_generations(...))`` maintenance pass: expiry first, table
    gc second, the same order t40's maintenance loop documents. Runs
    under the pointer lock so an expiry racing a commit can never delete
    the version a concurrent writer is about to re-read. Returns the
    expired version numbers."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1 (the current version)")
    fd = _acquire_pointer_lock(catalog_dir)
    try:
        cur = current_version(catalog_dir)
        vdir = os.path.join(catalog_dir, "_versions")
        versions = sorted(
            int(m.group(1))
            for f in (os.listdir(vdir) if os.path.isdir(vdir) else [])
            if (m := _VER_RE.search(f)) and not f.startswith(".")
        )
        keep = set(versions[-retain_versions:])
        if cur is not None:
            keep.add(cur)
        expired = []
        for v in versions:
            if v in keep:
                continue
            try:
                os.unlink(_version_path(catalog_dir, v))
                expired.append(v)
            except FileNotFoundError:
                pass
        if expired:
            _fsync_dir(vdir)
    finally:
        _release_pointer_lock(catalog_dir, fd)
    return expired


def protected_generations(
    catalog_dir: str, retain_versions: int | None = None
) -> dict[str, set[int]]:
    """Per table, the generations named by retained catalog versions (the
    newest ``retain_versions``, or all) — the set per-table gc must keep:
    pass as ``manifest.gc(..., keep_generations=protected[name])`` during
    catalog maintenance so a catalog-referenced snapshot never dangles."""
    vdir = os.path.join(catalog_dir, "_versions")
    versions = sorted(
        int(m.group(1))
        for f in (os.listdir(vdir) if os.path.isdir(vdir) else [])
        if (m := _VER_RE.search(f)) and not f.startswith(".")
    )
    if retain_versions is not None:
        versions = versions[-retain_versions:]
    out: dict[str, set[int]] = {}
    for v in versions:
        try:
            snap = snapshot(catalog_dir, v)
        except (OSError, ValueError):
            continue
        for name, gen in snap.get("tables", {}).items():
            out.setdefault(name, set()).add(gen)
    return out
