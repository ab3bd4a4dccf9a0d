"""tree_cpu: CPU time of this process and its descendants."""

import subprocess
import sys

import run

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"


def test_tree_cpu_counts_a_reaped_child():
    c0 = run.tree_cpu()
    subprocess.run([sys.executable, "-c", BUSY], check=True)
    assert (run.tree_cpu() - c0).work >= 0.45


def test_tree_cpu_counts_a_live_child_unless_skipped():
    child = subprocess.Popen([sys.executable, "-c", BUSY + "import sys; sys.stdin.read()\n"],
                             stdin=subprocess.PIPE)
    try:
        c0 = run.tree_cpu()
        skipped0 = run.tree_cpu(frozenset([child.pid]))
        while (run.tree_cpu() - c0).work < 0.3:  # the child is busy
            pass
        # the loop above costs this process CPU too, but far less than the child's
        assert (run.tree_cpu(frozenset([child.pid])) - skipped0).work < (run.tree_cpu() - c0).work
    finally:
        child.communicate(b"")


def test_stat_fields_read_names_with_spaces(tmp_path):
    path = tmp_path / "stat"
    path.write_text("42 (C2 CompilerThre) S 1 42 42 0 -1 0 0 0 0 0 7 3 0 0\n")
    name, fields = run._stat_fields(str(path))
    assert name == "C2 CompilerThre"
    assert fields[1] == "1" and fields[11:13] == ["7", "3"]
