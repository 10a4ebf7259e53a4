"""tree_cpu_s counts the CPU time of the processes below this one, while
they run and after they have been reaped."""

import subprocess
import sys

from perfbench.run import tree_cpu_s

BURN = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.5:
    pass
print("done", flush=True)
time.sleep(60)
"""


def test_tree_cpu_s_counts_a_child_alive_and_reaped():
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        alive = tree_cpu_s() - before
    finally:
        child.kill()
        child.wait()
        child.stdout.close()
    reaped = tree_cpu_s() - before
    assert alive >= 0.45
    assert reaped >= alive - 0.05
