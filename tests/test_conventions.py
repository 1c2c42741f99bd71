"""Repo-wide convention guards (pure AST, no Spark session).

The worker-closure pickling rule: a nested function handed to
mapInPandas/applyInPandas/mapInArrow is cloudpickled BY VALUE, but any
module-level function it references is pickled BY REFERENCE — and an
external driver (the attestation harness) has the repo only on the
DRIVER's sys.path, so executors cannot import ez_cdc_spark and the job
dies deserializing. Modules whose helpers are called from worker closures
must therefore opt into cloudpickle.register_pickle_by_value (multimodal,
sketches and sources/commit_core do), and names imported from such a
module are safe inside a closure. This test re-runs the audit that caught
the a14 failure so the next module can't regress it silently.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1] / "ez_cdc_spark"

# Nested functions that execute on the DRIVER, where ez_cdc_spark is
# importable — module references from them are fine:
#   apply     — foreachBatch callbacks (driver-side by the Streaming API)
#   appender  — s33's ThreadPoolExecutor task (driver threads, never
#               cloudpickled; it drives retry_commit/publish_append)
#   _touched / _overlaps — merge_cow's metadata pruning helpers: pure
#               driver-side binary search over manifest stats, never
#               handed to a Spark worker API
#   _detect_evolve_merge — the t31 drift sink's per-batch body, called
#               only from its foreachBatch apply (driver-side); split out
#               so the batch persist/unpersist wraps it in try/finally
DRIVER_SIDE_CALLBACKS = {
    "apply",
    "appender",
    "_touched",
    "_overlaps",
    "_detect_evolve_merge",
}


def _module_opts_into_by_value(tree: ast.Module) -> bool:
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "register_pickle_by_value"
        ):
            return True
    return False


def _by_value_modules() -> set[str]:
    """Dotted names of the package modules that register themselves with
    cloudpickle by value: functions imported from them travel inside a
    worker closure's pickle instead of as a module reference."""
    out = set()
    for path in ROOT.rglob("*.py"):
        if _module_opts_into_by_value(ast.parse(path.read_text())):
            rel = path.relative_to(ROOT.parent).with_suffix("")
            out.add(".".join(rel.parts))
    return out


def _worker_closure_offenders(source: str, filename: str, by_value: set[str]) -> list[str]:
    """Nested functions and lambdas (outside the driver-side callbacks)
    that reference a module-level function of ``source``, or a name it
    imports from an ``ez_cdc_spark`` module that is pickled by
    reference. Empty for a module that registers itself by value."""
    tree = ast.parse(source)
    if _module_opts_into_by_value(tree):
        return []
    mod_funcs = {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    imported = {}
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.ImportFrom)
            and n.module
            and n.module.startswith("ez_cdc_spark")
            and n.module not in by_value
        ):
            for a in n.names:
                if f"{n.module}.{a.name}" not in by_value:
                    imported[a.asname or a.name] = n.module
    offenders = []

    def refs(node, body, label):
        for sub in ast.walk(body):
            if (
                isinstance(sub, ast.Name)
                and isinstance(sub.ctx, ast.Load)
                and (sub.id in mod_funcs or sub.id in imported)
                # local shadowing (comprehension targets, params,
                # assignments) is not a module reference
                and not _locally_bound(node, sub.id)
            ):
                offenders.append(f"{filename}:{sub.lineno} {label} refs {sub.id}")

    class V(ast.NodeVisitor):
        def __init__(self):
            self.stack = []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            if len(self.stack) >= 2 and not set(self.stack) & DRIVER_SIDE_CALLBACKS:
                refs(node, node, "->".join(self.stack))
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Lambda(self, node):
            # A lambda at stack depth >= 1 (inside any module function)
            # is a nested closure too — e.g. passed inline to
            # mapInPandas — and escapes the FunctionDef walk above, so
            # the exact regression class this audit exists to block
            # could land silently through it.
            if self.stack and not set(self.stack) & DRIVER_SIDE_CALLBACKS:
                refs(node, node.body, "->".join(self.stack) + "-><lambda>")
            self.generic_visit(node)

    V().visit(tree)
    return offenders


def test_worker_closures_never_reference_by_ref_module_functions():
    by_value = _by_value_modules()
    offenders = []
    for path in sorted(ROOT.rglob("*.py")):
        offenders += _worker_closure_offenders(path.read_text(), path.name, by_value)
    assert not offenders, (
        "worker closures reference module-level ez_cdc_spark functions "
        "without by-value registration (crashes external-driver executors):\n"
        + "\n".join(offenders)
    )


def test_worker_closure_audit_tells_by_value_from_by_reference_imports():
    """A nested function may use a name imported from a module that
    registers itself by value (commit_core), but not one imported from a
    module pickled by reference (manifest)."""
    by_value = _by_value_modules()
    assert "ez_cdc_spark.sources.commit_core" in by_value
    assert "ez_cdc_spark.sources.manifest" not in by_value
    template = (
        "from ez_cdc_spark.sources.{mod} import read_manifest\n"
        "def outer(d):\n"
        "    def task(g):\n"
        "        return read_manifest(d, g)\n"
        "    return task\n"
    )
    assert _worker_closure_offenders(
        template.format(mod="commit_core"), "ok.py", by_value
    ) == []
    assert _worker_closure_offenders(
        template.format(mod="manifest"), "bad.py", by_value
    ) == ["bad.py:4 outer->task refs read_manifest"]


def test_commit_protocol_primitives_live_only_in_commit_core():
    """``os.link`` (one-winner create), ``os.O_EXCL`` (reservations, the
    pointer lock) and ``fsync`` (durable JSON writes) belong to the commit
    protocol, which ``sources/commit_core.py`` owns: any other module
    spelling them out is a second copy of it."""
    core = ROOT / "sources" / "commit_core.py"
    sites = []
    for path in sorted(ROOT.rglob("*.py")):
        if path == core:
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Attribute) and (
                n.attr in ("O_EXCL", "fsync")
                or (
                    n.attr == "link"
                    and isinstance(n.value, ast.Name)
                    and n.value.id.lstrip("_") == "os"
                )
            ):
                sites.append(f"{path.relative_to(ROOT)}:{n.lineno} {n.attr}")
            elif isinstance(n, ast.ImportFrom) and n.module == "os":
                sites += [
                    f"{path.relative_to(ROOT)}:{n.lineno} {a.name}"
                    for a in n.names
                    if a.name in ("link", "O_EXCL", "fsync")
                ]
    assert not sites, f"commit-protocol primitives outside commit_core: {sites}"


# (module, top-level function) pairs under sources/ that may delete files
# outside commit_core, each for a reason that is not table reclaim
DELETE_ALLOWED = {
    # mode("overwrite") semantics: the writer clears its own stage dir
    ("manifest.py", "stage_only"): "overwrites its own stage dir",
    ("manifest.py", "_stage_partitioned"): "overwrites its own stage dir",
    ("manifest.py", "drop_branch"): "unlinks the branch's ref pointer",
    # a version-file lifecycle under the catalog lock, not a table walk
    ("catalog.py", "expire_versions"): "deletes expired catalog versions",
    ("bucketing.py", "write_bucketed"): "clears a dropped Spark table's location",
}


def test_table_files_are_deleted_only_in_commit_core():
    """Deleting table files is the reclaim walk's job, and
    ``sources/commit_core.py`` owns it (``reachable`` and ``reclaim``):
    an ``os.remove``/``os.unlink``/``os.rmdir``/``shutil.rmtree`` call
    anywhere else under ``sources/`` is a second copy of it, unless
    ``DELETE_ALLOWED`` names its function with a reason."""
    deleters = {"remove", "unlink", "rmdir", "rmtree"}
    sites = []
    for path in sorted((ROOT / "sources").glob("*.py")):
        if path.name == "commit_core.py":
            continue
        for fn in ast.parse(path.read_text()).body:
            for n in ast.walk(fn):
                if (
                    isinstance(n, ast.Attribute)
                    and n.attr in deleters
                    and isinstance(n.value, ast.Name)
                    and n.value.id.lstrip("_") in ("os", "shutil")
                ) or (
                    isinstance(n, ast.ImportFrom)
                    and n.module in ("os", "shutil")
                    and any(a.name in deleters for a in n.names)
                ):
                    if (path.name, getattr(fn, "name", None)) not in DELETE_ALLOWED:
                        sites.append(f"{path.name}:{n.lineno}")
    assert not sites, f"file deletion outside commit_core: {sites}"


def _catches_file_exists(handler: ast.ExceptHandler) -> bool:
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(isinstance(t, ast.Name) and t.id == "FileExistsError" for t in types)


def test_generation_numbers_are_picked_only_in_commit_core():
    """Writers never choose generation numbers: ``generation=None`` has
    ``commit_core.take_generation`` reserve the next free one, and an
    explicit number goes through the same helper. An ``except
    FileExistsError`` handler that bumps a counter is a second number
    picker, and so is any other use of ``_reserve_next`` or
    ``_validate_generation``. The one other mention allowed is
    ``manifest.py``'s re-export of ``_validate_generation``, for callers
    that import the protocol from there."""
    core = ROOT / "sources" / "commit_core.py"
    pickers = {"_reserve_next", "_validate_generation"}
    sites = []
    for path in sorted(ROOT.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(ROOT)
        if path == core:
            inside = {
                id(sub)
                for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "take_generation"
                for sub in ast.walk(n)
            }
            sites += [
                f"{rel}:{n.lineno} {n.id}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Name) and n.id in pickers
                and id(n) not in inside
            ]
            continue
        for n in ast.walk(tree):
            if isinstance(n, ast.ExceptHandler) and _catches_file_exists(n):
                sites += [
                    f"{rel}:{s.lineno} {s.target.id} += in except FileExistsError"
                    for s in ast.walk(n)
                    if isinstance(s, ast.AugAssign) and isinstance(s.target, ast.Name)
                ]
            elif isinstance(n, ast.Name) and n.id in pickers:
                sites.append(f"{rel}:{n.lineno} {n.id}")
            elif isinstance(n, ast.Attribute) and n.attr in pickers:
                sites.append(f"{rel}:{n.lineno} {n.attr}")
            elif isinstance(n, ast.ImportFrom):
                sites += [
                    f"{rel}:{n.lineno} import {a.name}"
                    for a in n.names
                    if a.name in pickers
                    and not (
                        rel.as_posix() == "sources/manifest.py"
                        and a.name == "_validate_generation"
                    )
                ]
    assert not sites, f"generation numbers picked outside commit_core: {sites}"


def test_last_event_wins_resolve_has_one_implementation():
    """``manifest._resolve_last_event`` is the one last-event-wins
    resolve of the table writers under ``sources/``: a ``max_by`` call
    (or a SQL string spelling one) anywhere else there is a second copy
    of it, and both merge writers call the helper."""
    helper = "_resolve_last_event"
    sites, callers = [], set()
    for path in sorted((ROOT / "sources").rglob("*.py")):
        tree = ast.parse(path.read_text())
        inside = {
            id(sub)
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name == helper
            for sub in ast.walk(n)
        }
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id == helper
                for c in ast.walk(fn)
            ):
                callers.add(fn.name)
        for n in ast.walk(tree):
            if id(n) in inside or not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            spelled = [
                a for a in n.args
                if isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "max_by(" in a.value
            ]
            if name == "max_by" or spelled:
                sites.append(f"{path.relative_to(ROOT)}:{n.lineno}")
    assert not sites, f"max_by outside {helper}: {sites}"
    assert {"merge_cow", "merge_mor"} <= callers, callers


def _locally_bound(fn: ast.AST, name: str) -> bool:
    for sub in ast.walk(fn):
        if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Store) and sub.id == name:
            return True
        if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            args = sub.args
            all_args = (
                args.posonlyargs + args.args + args.kwonlyargs
                + ([args.vararg] if args.vararg else [])
                + ([args.kwarg] if args.kwarg else [])
            )
            if any(a.arg == name for a in all_args):
                return True
        if isinstance(sub, ast.comprehension):
            for t in ast.walk(sub.target):
                if isinstance(t, ast.Name) and t.id == name:
                    return True
    return False


def test_bench_query_lists_resolve_in_registry():
    """Every name bench.py times must exist in the registry — a typo here
    would crash the driver's bench phase, which runs after the correctness
    gate and would waste the round's measurement."""
    import importlib

    from ez_cdc_spark.queries import load_all

    bench = importlib.import_module("bench")
    reg = load_all()
    missing = [n for n in bench.EXTRA_QUERIES if n not in reg]
    assert missing == [], f"bench EXTRA_QUERIES not in registry: {missing}"
    assert len(set(bench.EXTRA_QUERIES)) == len(bench.EXTRA_QUERIES), "duplicates"


def test_cdc_rigs_share_one_replay_runner():
    """streaming/cdc.py's rigs drain their streams through ``_replay`` (the
    foreachBatch runner) and ``_change_feed_to_parquet`` (t46/t47's parquet
    file sink): at most two ``writeStream`` sites, so a rig that spells the
    start/await loop out by hand again fails here."""
    tree = ast.parse((ROOT / "streaming" / "cdc.py").read_text())
    sites = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "writeStream"
    ]
    assert len(sites) <= 2, f"writeStream sites in cdc.py at lines {sites}"


# The forced broadcasts allowed on the CDC path, by function, each with
# the bound that keeps its build side small.
BROADCAST_ALLOWED = {
    ("manifest.py", "_merge_rewrite"): "the changed-key anti-join, taken "
    "only above _REWRITE_LITERAL_MAX_KEYS keys; the keys are one merge batch's",
    ("manifest.py", "_feed_segment"): "the semi-join on a MOR feed "
    "segment's changed keys, taken only above the driver read's bounds or "
    "_REWRITE_LITERAL_MAX_KEYS keys; the keys are the segment's delete "
    "files, churn-sized",
}


def _cdc_path_nodes():
    """(module, top-level function, node) for every AST node under
    ``sources/`` and ``streaming/``."""
    for path in sorted((ROOT / "sources").glob("*.py")) + sorted(
        (ROOT / "streaming").glob("*.py")
    ):
        for fn in ast.parse(path.read_text()).body:
            for n in ast.walk(fn):
                yield path.name, getattr(fn, "name", None), n


def _cdc_path_calls(attr: str):
    """(module, top-level function, call) for every ``.<attr>(...)`` call
    under ``sources/`` and ``streaming/``."""
    for mod, fn, n in _cdc_path_nodes():
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == attr:
            yield mod, fn, n


def test_cdc_path_holds_no_pin_and_only_allowed_broadcasts():
    """``sources/`` and ``streaming/`` pin nothing (no ``localCheckpoint``:
    an eager pin runs Spark jobs when a plan is built, and holds its rows
    for the session) and force a broadcast only where
    ``BROADCAST_ALLOWED`` names the function with its reason."""
    sites = []
    for mod, name, n in _cdc_path_nodes():
        if isinstance(n, ast.Attribute) and n.attr == "localCheckpoint":
            sites.append(f"{mod}:{n.lineno} {name} localCheckpoint")
        if (
            isinstance(n, ast.Call)
            and "broadcast"
            in (getattr(n.func, "attr", None), getattr(n.func, "id", None))
            and (mod, name) not in BROADCAST_ALLOWED
        ):
            sites.append(f"{mod}:{n.lineno} {name} broadcast")
    assert not sites, f"pins or unlisted broadcasts on the CDC path: {sites}"


# The one-partition coalesces allowed outside manifest._one_task_if_small,
# by function, each with why its output must be one file whatever its size.
COALESCE_ONE_ALLOWED = {
    ("cdc.py", "_write_lsn_staged"): "stages each replay stage of a stream "
    "fixture as one JSON file",
    ("replay.py", "events_parquet_staged"): "stages each replay stage of a "
    "stream fixture as one parquet file",
    ("replay.py", "events_parquet_split"): "stages each replay stage of a "
    "stream fixture as one parquet file",
    ("replay.py", "events_parquet_time_split"): "stages each replay stage "
    "of a stream fixture as one parquet file",
}


def test_one_task_aggregations_go_through_the_size_bound():
    """A batch runs in one task (``coalesce(1)``) on the CDC path only
    through ``manifest._one_task_if_small``, which takes it only under
    ``_ONE_TASK_MAX_BYTES``: a bare ``coalesce(1)`` would squeeze a
    backfill of any size through one task. ``COALESCE_ONE_ALLOWED`` names
    the fixture writers that need one file, with their reasons."""
    sites = [
        f"{mod}:{call.lineno} {fn}"
        for mod, fn, call in _cdc_path_calls("coalesce")
        if [ast.unparse(a) for a in call.args] == ["1"]
        and (mod, fn) != ("manifest.py", "_one_task_if_small")
        and (mod, fn) not in COALESCE_ONE_ALLOWED
    ]
    assert not sites, f"coalesce(1) outside _one_task_if_small: {sites}"
    used = {
        fn
        for _, fn, n in _cdc_path_nodes()
        if isinstance(n, ast.Name) and n.id == "_one_task_if_small"
    }
    assert {"_resolve_last_event", "_signed_fold_changes"} <= used, used


# The driver collects allowed on the CDC path, by function, each with the
# bound on what it brings to the driver.
COLLECT_ALLOWED = {
    ("bucketing.py", "_catalog_location"): "DESCRIBE TABLE EXTENDED rows, "
    "catalog metadata",
    ("stats.py", "table_row_count_stat"): "DESCRIBE TABLE EXTENDED rows, "
    "catalog metadata",
    ("commit_core.py", "map_files"): "one kernel result per file, taken only "
    "above the driver path's file and byte bounds",
    ("manifest.py", "_bucket64_counts"): "one row per base hash bucket, at "
    "most 64",
    ("manifest.py", "merge_cow"): "the batch's distinct keys for the "
    "touched-file bisect: batch-sized, with no bound of its own yet",
    ("manifest.py", "_feed_segment"): "a MOR feed segment's changed keys, "
    "taken only above the driver read's bounds; churn-sized",
    ("cdc.py", "upsert_batch"): "the batch's touched bucket ids, at most "
    "n_buckets",
    ("cdc.py", "upsert_with_agg_batch"): "the batch's touched bucket ids, at "
    "most n_buckets",
    ("cdc.py", "scd2_batch"): "the batch's touched bucket ids, at most "
    "n_buckets",
    ("cdc.py", "lakehouse_drift_merge_batch"): "the distinct JSON field "
    "names the batch's payloads carry, schema-sized",
}


def test_cdc_path_collects_only_where_allowed():
    """A ``.collect()`` under ``sources/`` or ``streaming/`` brings rows to
    the driver, so it sits only where ``COLLECT_ALLOWED`` names its
    function with the bound on its rows; an entry with no collect left is
    stale and fails too."""
    seen = {(mod, fn) for mod, fn, _ in _cdc_path_calls("collect")}
    unlisted = sorted(seen - COLLECT_ALLOWED.keys())
    assert not unlisted, f"unlisted collects on the CDC path: {unlisted}"
    stale = sorted(COLLECT_ALLOWED.keys() - seen)
    assert not stale, f"COLLECT_ALLOWED entries without a collect: {stale}"
