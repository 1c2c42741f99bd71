"""Cross-process publish of the shared replay fixtures
(streaming/replay.py:materialize_once).

Two processes build the same fixture over a marker-less leftover of a
crashed build. The publish step (marker check, removal of the leftover,
rename) must be atomic across processes: without the lock, the slower
process finds no marker, then removes the fixture the faster one has just
published and returned.
"""

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import os, shutil, sys, time
sys.path.insert(0, sys.argv[1])
from ez_cdc_spark.streaming import replay

path, who, sync = sys.argv[2], sys.argv[3], sys.argv[4]
real_rmtree = shutil.rmtree

def slow_rmtree(p, *a, **kw):
    # widen the window between the marker check and the removal
    if p == path:
        time.sleep(0.5)
    return real_rmtree(p, *a, **kw)

shutil.rmtree = slow_rmtree

def build(tmp):
    os.makedirs(tmp)
    for i in range(5):
        with open(os.path.join(tmp, f"f{i}"), "w") as fh:
            fh.write(who)

open(os.path.join(sync, f"ready-{who}"), "w").close()
while not os.path.exists(os.path.join(sync, "go")):
    time.sleep(0.01)
replay.materialize_once(path, build)
first = open(os.path.join(path, "f0")).read()
time.sleep(1.5)  # the other process finishes meanwhile
files = sorted(os.listdir(path))
print(first, open(os.path.join(path, "f0")).read(), ",".join(files))
"""


def test_materialize_once_two_processes_over_a_crashed_leftover(tmp_path):
    path = str(tmp_path / "fixture")
    os.makedirs(path)
    open(os.path.join(path, "stale"), "w").close()  # no marker: crashed build
    sync = str(tmp_path)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", CHILD, REPO, path, who, sync],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for who in ("a", "b")
    ]
    deadline = time.time() + 120
    while not all(os.path.exists(os.path.join(sync, f"ready-{w}")) for w in "ab"):
        assert time.time() < deadline, "children did not start"
        assert all(p.poll() is None for p in procs), [p.communicate() for p in procs]
        time.sleep(0.05)
    open(os.path.join(sync, "go"), "w").close()
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(out.split())

    winner = outs[0][0]
    files = "_SUCCESS,f0,f1,f2,f3,f4"
    # both processes read the same published build, before and after the
    # other one finished, and the leftover is gone
    assert outs == [[winner, winner, files], [winner, winner, files]]
    with open(os.path.join(path, "f0")) as fh:
        assert fh.read() == winner
    assert not [d for d in os.listdir(sync) if ".build-" in d]


RIG_DIR_CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
from ez_cdc_spark.streaming.replay import rig_dir

print(rig_dir("/sf", "t30"), rig_dir("/sf", "t30"))
"""


def test_rig_dir_is_per_process():
    """Rigs remove and rebuild their scratch dir on every run: two
    processes running the same rig must get different dirs, or one removes
    the table the other is writing; within a process the dir is stable, so
    a test finds what a query it ran wrote."""
    outs = [
        subprocess.run(
            [sys.executable, "-c", RIG_DIR_CHILD, REPO],
            capture_output=True, text=True, timeout=120, check=True,
        ).stdout.split()
        for _ in range(2)
    ]
    (a1, a2), (b1, b2) = outs
    assert a1 == a2 and b1 == b2
    assert a1 != b1
