import subprocess
import sys
import time

from harness import PassClock, tree_cpu_s

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def _children_cpu_s() -> float:
    return tree_cpu_s() - time.process_time()


def test_tree_cpu_counts_reaped_and_live_children():
    before = _children_cpu_s()
    subprocess.run([sys.executable, "-c", _BURN], check=True, timeout=60)
    assert _children_cpu_s() - before >= 0.45  # exited and reaped

    live = subprocess.Popen([sys.executable, "-c", _BURN + "\ninput()"],
                            stdin=subprocess.PIPE, text=True)
    try:
        deadline = time.monotonic() + 30
        while _children_cpu_s() - before < 0.9 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert _children_cpu_s() - before >= 0.9  # still running
    finally:
        live.communicate("\n", timeout=30)
    assert live.returncode == 0


def test_pass_clock_counts_waiting_that_cpu_seconds_miss():
    with PassClock() as c:
        time.sleep(0.3)
    assert c.wall >= 0.3
    assert c.cpu < 0.2
    assert 0 < c.unstolen <= c.wall
