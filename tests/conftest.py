import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("EZ_CDC_TEST_SF_DIR", "/root/testdata/sf0.01")


# ---------------------------------------------------------------------------
# r20: in-repo suite sharding (VERDICT r19 #1a — the serialized suite outgrew
# the external verifier's window; pytest-xdist is unavailable offline).
# A FULL-SUITE invocation (e.g. `pytest tests/ -x -q`) fans the collected
# tests out round-robin to N worker subprocesses, each a normal pytest run
# of the same invocation plus EZ_CDC_PYTEST_SHARD=<i>/<n>; workers deselect
# everything outside their shard in pytest_collection_modifyitems. Every
# test still runs exactly once across the fleet; failures propagate to the
# parent's exit status, and -x kills the remaining workers on the first
# failing shard. Focused runs (fewer than _SHARD_MIN_ITEMS collected, or
# EZ_CDC_PYTEST_WORKERS=1) run serially exactly as before. Cross-process
# safety of the shared replay fixtures is provided by
# streaming/replay.py:materialize_once (atomic build+rename); rig and query
# scratch dirs come from streaming/replay.py:rig_dir, keyed on the pid.
# Scratch paths a test names itself (module-level SCRATCH dirs, fixed
# tempdir names) are NOT process-keyed: the sharder runs each test in one
# shard only, but two suite runs at once can still collide on them.
# ---------------------------------------------------------------------------

_SHARD_MIN_ITEMS = int(os.environ.get("EZ_CDC_PYTEST_MIN_ITEMS", "200"))
# Wall-clock budget of one shard: inside the 2670 s Tier-1 window, leaving
# room for collection, the 30 s terminate grace and the fleet summary. A
# shard still running at the deadline is terminated and counted as failed,
# so a hung test fails the run with a named shard and every other shard's
# results instead of the outer timeout killing everything.
_SHARD_DEADLINE_S = 2580


def _shard_workers() -> int:
    try:
        return int(os.environ.get("EZ_CDC_PYTEST_WORKERS", "4"))
    except ValueError:
        return 1


def _shard_heap(workers: int) -> str:
    """Driver heap for each shard's JVM, sized so the whole fleet fits in
    RAM: 40% of /proc/meminfo's MemAvailable split across the workers
    (the rest covers each JVM's off-heap memory and its Python workers:
    at half, four shards left under 1 GB free on a 16 GB host), clamped
    to 1-8 GB. Falls back to session.py's 8g default when /proc/meminfo
    cannot be read."""
    try:
        with open("/proc/meminfo") as fh:
            info = {
                k: int(v.split()[0])
                for k, v in (line.split(":", 1) for line in fh if ":" in line)
            }
        kb = info.get("MemAvailable", info["MemTotal"])
    except (OSError, KeyError, ValueError):
        return "8g"
    mb = kb * 2 // 5 // 1024 // workers
    return f"{max(1024, min(8192, mb))}m"


def pytest_collection_modifyitems(config, items):
    shard = os.environ.get("EZ_CDC_PYTEST_SHARD")
    if not shard:
        return
    idx, n = (int(x) for x in shard.split("/", 1))
    keep = [it for i, it in enumerate(items) if i % n == idx]
    drop = [it for i, it in enumerate(items) if i % n != idx]
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


def pytest_runtestloop(session):
    if os.environ.get("EZ_CDC_PYTEST_SHARD"):
        return None  # worker: run its shard with the default loop
    workers = _shard_workers()
    if (
        workers <= 1
        or len(session.items) < _SHARD_MIN_ITEMS
        or session.config.option.collectonly
        or session.testsfailed
    ):
        return None  # focused/serial run: default loop
    import re
    import subprocess
    import sys
    import tempfile
    import time

    args = list(session.config.invocation_params.args)
    cpus_each = str(max(4, (os.cpu_count() or 32) // workers))
    heap_each = _shard_heap(workers)
    procs = []
    for i in range(workers):
        env = dict(os.environ)
        env["EZ_CDC_PYTEST_SHARD"] = f"{i}/{workers}"
        # a caller's explicit settings win over the sized defaults
        env.setdefault("SPARK_GRAFT_CPUS", cpus_each)
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", heap_each)
        out = tempfile.NamedTemporaryFile(
            mode="w+", prefix=f"pytest-shard{i}-", suffix=".log", delete=False
        )
        p = subprocess.Popen(
            [sys.executable, "-m", "pytest", *args],
            stdout=out,
            stderr=subprocess.STDOUT,
            env=env,
            cwd=str(session.config.rootpath),
        )
        procs.append((i, p, out))
        print(
            f"[shard {i}/{workers}] pid={p.pid} cpus={env['SPARK_GRAFT_CPUS']} "
            f"heap={env['SPARK_GRAFT_DRIVER_MEM']} log={out.name}",
            flush=True,
        )

    # -x/--exitfirst stores maxfail=1; any maxfail means stop the fleet
    # once a shard reports failure
    exitfirst = bool(session.config.getoption("maxfail", 0))
    deadline = time.time() + _SHARD_DEADLINE_S
    done: dict[int, int] = {}
    timed_out: set[int] = set()
    while len(done) < len(procs):
        for i, p, _ in procs:
            if i in done:
                continue
            rc = p.poll()
            if rc is None and time.time() > deadline:
                p.terminate()
                try:
                    rc = p.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    p.kill()
                    rc = p.wait()
                timed_out.add(i)
                print(
                    f"[shard {i}/{workers}] still running after "
                    f"{_SHARD_DEADLINE_S} s: terminated",
                    flush=True,
                )
            if rc is None:
                continue
            done[i] = rc
            print(f"[shard {i}/{workers}] exited rc={rc}", flush=True)
            if rc != 0 and exitfirst:
                for j, q, _ in procs:
                    if j not in done and q.poll() is None:
                        q.terminate()
        time.sleep(0.5)

    passed = failed = 0
    for i, p, out in procs:
        out.flush()
        out.seek(0)
        text = out.read()
        out.close()
        tail = text[-2500:]
        print(f"----- shard {i}/{workers} tail -----\n{tail}", flush=True)
        m_p = re.search(r"(\d+) passed", text)
        m_f = re.search(r"(\d+) failed", text)
        m_e = re.search(r"(\d+) error", text)
        passed += int(m_p.group(1)) if m_p else 0
        failed += int(m_f.group(1)) if m_f else 0
        failed += int(m_e.group(1)) if m_e else 0
        if i in timed_out or (done[i] != 0 and not (m_f or m_e)):
            failed += 1  # crashed/killed/timed-out shard counts as a failure
    verdict = f"{passed} passed" + (f", {failed} failed" if failed else "")
    print(
        f"===== sharded total: {verdict} across {workers} workers =====",
        flush=True,
    )
    session.testsfailed = failed
    # This process ran no test itself, so pytest's closing line would read
    # "no tests ran"; end on the fleet's total instead.
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    if reporter is not None:
        color = "red" if failed else "green"
        parts = [(f"{passed} passed", {"green": True, "bold": not failed})]
        if failed:
            parts.append((f"{failed} failed", {"red": True, "bold": True}))
        reporter.build_summary_stats_line = lambda: (parts, color)
    return True


@pytest.fixture(scope="session")
def spark():
    from ez_cdc_spark.session import get_spark

    s = get_spark("ez_cdc_spark-tests")
    yield s
    # session is shared; don't stop between modules


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


# Exception classes the ordered q.stop() itself produces when it lands
# inside broadcast/batch setup — the only failures the kill rig absorbs.
_INTERRUPT_CLASSES = (
    "java.lang.InterruptedException",
    "java.nio.channels.ClosedByInterruptException",
    "java.io.InterruptedIOException",
)


def _interrupt_in_cause_chain(e) -> bool:
    """True iff the captured exception's JAVA cause chain bottoms out in a
    thread-interrupt class (r14 verdict #5: match the exception CLASS
    chain, not rendered-message substrings — a genuine failure whose
    message merely contains 'interrupt' must re-raise)."""
    jexc = getattr(e, "_origin", None)
    hops = 0
    while jexc is not None and hops < 32:
        if jexc.getClass().getName() in _INTERRUPT_CLASSES:
            return True
        jexc = jexc.getCause()
        hops += 1
    if hops == 0:
        # no Java origin attached (string-rendered capture): fall back to
        # the stack trace's own 'Caused by: <class>' lines — still a
        # class-name match, not a free-text substring
        import re

        trace = getattr(e, "_stackTrace", "") or ""
        return any(
            re.search(rf"(?m)^(Caused by: )?{re.escape(cls)}", trace)
            for cls in _INTERRUPT_CLASSES
        )
    return False


def stop_and_await(q):
    """Kill-rig stop that absorbs the stop-race (r12 verdict #5): the
    deliberate mid-stream q.stop() can land inside broadcast/batch setup,
    and Spark then misclassifies the stop's own InterruptedException as
    STREAM_FAILED — awaitTermination() raises StreamingQueryException for
    what IS the kill the test ordered (observed once in r12's full suite:
    'TorrentBroadcast: Store broadcast fail' at the kill instant, green in
    isolation). The at-least-once contract already tolerates the replayed
    batch, so a failure that (a) did NOT predate the ordered kill and (b)
    carries a thread-interrupt CLASS in its Java cause chain is the kill
    itself; anything else re-raises (ADVICE r13: a failure captured
    BEFORE stop() is genuine regardless of content; r14 verdict #5: the
    message-substring heuristic is gone — _interrupt_in_cause_chain walks
    getCause() class names). The restart-drains-and-matches assertions
    stay load-bearing."""
    from pyspark.errors import StreamingQueryException

    pre_existing = q.exception()  # failed before the kill -> genuine
    q.stop()
    try:
        q.awaitTermination()
    except StreamingQueryException as e:
        if pre_existing is not None or not _interrupt_in_cause_chain(e):
            raise
