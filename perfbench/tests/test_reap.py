"""Unit test for the process-tree clean-up a run ends with (no Spark
needed):

    python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hoststamp  # noqa: E402

# A child that starts a grandchild, prints its pid and exits at once, so
# the grandchild is orphaned; the grandchild outlives it unless stopped.
SPAWNER = """
import subprocess, sys
g = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
print(g.pid, flush=True)
"""


def _running(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_reap_stops_and_reaps_an_orphaned_grandchild():
    hoststamp.adopt_orphans()
    child = subprocess.Popen([sys.executable, "-c", SPAWNER], stdout=subprocess.PIPE, text=True)
    grandchild = int(child.stdout.readline())
    tree = hoststamp.descendants(os.getpid())
    assert {child.pid, grandchild} <= tree
    t0 = time.monotonic()
    hoststamp.reap(tree, grace=0.5)
    assert time.monotonic() - t0 < 10
    assert not _running(grandchild)
    assert not os.path.exists(f"/proc/{grandchild}")  # reaped, not a zombie
    assert hoststamp.descendants(os.getpid()) & tree == set()
    child.stdout.close()


def test_reap_waits_for_processes_that_exit_on_their_own():
    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    t0 = time.monotonic()
    hoststamp.reap({proc.pid}, grace=20.0)
    assert time.monotonic() - t0 < 5  # no signal needed
    assert not os.path.exists(f"/proc/{proc.pid}")
