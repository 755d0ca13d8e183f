"""The /proc process-tree sampler, on real child processes."""

import os
import subprocess
import sys
import textwrap

from perfbench.procs import ProcTree, classify, cpu_delta, read_hwm, read_stat

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_read_stat_of_self():
    st = read_stat(os.getpid())
    assert st.ppid == os.getppid()
    assert st.own > 0 and st.rss > 0
    assert read_stat(2**22 + 12345) is None


def test_root_is_the_driver():
    assert classify(os.getpid(), os.getpid()) == "driver"


def test_waited_child_counted_once_through_cutime():
    tree = ProcTree(interval=10)  # no background polls: only cutime sees it
    tree.start()
    try:
        before = tree.cpu()
        subprocess.run([sys.executable, "-c", BURN.format(s=0.4)], check=True)
        d = cpu_delta(tree.cpu(), before)
    finally:
        tree.stop()
    assert 0.35 <= sum(d.values()) <= 0.7
    # never polled while alive, the child reaches the tree through the
    # driver's cutime and is counted under the driver
    assert d["driver"] >= 0.35


def test_unreaped_grandchild_keeps_its_last_seen_cpu():
    # the middle process ignores SIGCHLD, like the PySpark daemon: its
    # child is reaped by the kernel and never reaches anyone's cutime
    middle = textwrap.dedent(f"""
        import os, signal, sys, time
        signal.signal(signal.SIGCHLD, signal.SIG_IGN)
        pid = os.fork()
        if pid == 0:
            exec(compile({BURN.format(s=0.5)!r}, "burn", "exec"))
            os._exit(0)
        deadline = time.time() + 20
        while time.time() < deadline:  # until the kernel has reaped it
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.02)
    """)
    tree = ProcTree(interval=0.02)
    tree.start()
    try:
        before = tree.cpu()
        subprocess.run([sys.executable, "-c", middle], check=True)
        d = cpu_delta(tree.cpu(), before)
    finally:
        tree.stop()
    assert 0.4 <= sum(d.values()) <= 0.8


def test_peak_rss_covers_a_child():
    tree = ProcTree(interval=0.02)
    tree.start()
    try:
        tree.reset_peak()
        alone = tree.peak_rss()
        grow = "import time\nx = bytearray(200 * 2**20)\ntime.sleep(0.5)\n"
        subprocess.run([sys.executable, "-c", grow], check=True)
        peak = tree.peak_rss()
    finally:
        tree.stop()
    assert peak - alone >= 150 * 2**20


def test_peak_rss_catches_a_spike_between_polls_and_resets():
    tree = ProcTree(interval=10)  # polled by hand only
    tree.start()
    spike = ("import sys, time\nx = bytearray(200 * 2**20)\ndel x\n"
             "print(flush=True)\ntime.sleep(30)\n")
    child = subprocess.Popen([sys.executable, "-c", spike], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the spike is over: only the mark keeps it
        tree.poll()
        tree.poll()
        assert read_hwm(child.pid) >= 200 * 2**20
        assert tree.peak_rss() >= 200 * 2**20
        tree.reset_peak()
        assert read_hwm(child.pid) < 100 * 2**20
        assert tree.peak_rss() < 200 * 2**20
    finally:
        child.kill()
        child.wait()
        tree.stop()
