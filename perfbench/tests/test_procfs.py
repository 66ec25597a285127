"""The /proc reader on a fake process tree."""

import os

import procfs


def _proc(root, pid, ppid, comm, utime, stime, cutime=0, cstime=0, hwm_kb=1000, rss_kb=None):
    d = os.path.join(root, str(pid))
    os.makedirs(d)
    # fields 3.. of /proc/<pid>/stat: state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = f"S {ppid} 1 1 0 -1 0 0 0 0 0 {utime} {stime} {cutime} {cstime} 20 0 1 0"
    with open(os.path.join(d, "stat"), "w") as f:
        f.write(f"{pid} ({comm}) {rest}\n")
    with open(os.path.join(d, "status"), "w") as f:
        f.write(f"Name:\t{comm}\nVmPeak:\t{hwm_kb * 2} kB\nVmHWM:\t{hwm_kb} kB\n"
                f"VmRSS:\t{hwm_kb if rss_kb is None else rss_kb} kB\n")


def _fake_tree(root):
    _proc(root, 1, 0, "init", 5, 5)
    _proc(root, 100, 1, "python3", 50, 50)  # the benchmark itself
    _proc(root, 200, 100, "java", 300, 100, cutime=40, cstime=10, hwm_kb=2_000_000)
    _proc(root, 300, 200, "python -m pyspark.daemon", 10, 10, cutime=70, cstime=30)
    _proc(root, 301, 300, "python", 120, 30, hwm_kb=150_000)
    _proc(root, 302, 300, "python", 80, 20, hwm_kb=120_000)
    _proc(root, 400, 1, "unrelated", 999, 999)


def test_tree_follows_descendants_only(tmp_path):
    _fake_tree(str(tmp_path))
    procs = procfs.tree(200, str(tmp_path))
    assert sorted(procs) == [200, 300, 301, 302]
    assert procs[300].comm == "python -m pyspark.daemon"  # spaces survive


def test_cpu_counts_reaped_children_once(tmp_path):
    _fake_tree(str(tmp_path))
    s = procfs.cpu(procfs.tree(200, str(tmp_path)), 200)
    tck = procfs.CLK_TCK
    assert s.jvm_s == 400 / tck
    # daemon self + its reaped workers + live workers + JVM-reaped children
    assert s.python_s == (20 + 100 + 150 + 100 + 50) / tck


def test_cpu_delta_survives_a_worker_exit(tmp_path):
    root = str(tmp_path)
    _fake_tree(root)
    before = procfs.cpu(procfs.tree(200, root), 200)
    # worker 302 ran 100 more ticks, exited, and the daemon reaped it
    import shutil

    shutil.rmtree(os.path.join(root, "302"))
    shutil.rmtree(os.path.join(root, "300"))
    _proc(root, 300, 200, "python -m pyspark.daemon", 10, 10, cutime=70 + 200, cstime=30)
    after = procfs.cpu(procfs.tree(200, root), 200)
    assert round((after.python_s - before.python_s) * procfs.CLK_TCK) == 100


def test_vanished_process_reads_as_none(tmp_path):
    assert procfs.read_proc(12345, str(tmp_path)) is None


def test_worker_peak_is_the_largest_single_worker_high_water(tmp_path):
    root = str(tmp_path)
    _fake_tree(root)
    peak = procfs.PeakRss(200, root=root)
    peak.sample()
    import shutil

    # worker 301 exits and a smaller one replaces it: its peak still counts;
    # the JVM's own high-water mark (2 GB) is not a worker's
    shutil.rmtree(os.path.join(root, "301"))
    _proc(root, 303, 300, "python", 1, 1, hwm_kb=50_000)
    peak.sample()
    assert peak.mb() == 150_000 / 1024.0


def _thread(root, pid, tid, name, ticks):
    d = os.path.join(root, str(pid), "task", str(tid))
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "stat"), "w") as f:
        f.write(f"{tid} ({name}) S {pid} 1 1 0 -1 0 0 0 0 0 {ticks} 0 0 0 20 0 1 0\n")


def test_thread_cpu_by_class(tmp_path):
    root = str(tmp_path)
    _fake_tree(root)
    _thread(root, 200, 201, "Executor task l", 10)
    _thread(root, 200, 202, "C2 CompilerThre", 50)
    _thread(root, 200, 203, "GC Thread#0", 5)
    _thread(root, 200, 204, "Thread-3", 7)  # a py4j connection thread
    before = procfs.threads(200, root)
    assert before[202] == ("C2 CompilerThre", 50)
    _thread(root, 200, 201, "Executor task l", 30)
    _thread(root, 200, 202, "C2 CompilerThre", 60)
    _thread(root, 200, 205, "G1 Conc#0", 4)  # started during the pass
    import shutil

    shutil.rmtree(os.path.join(root, "200", "task", "204"))  # ended: unassignable
    delta = procfs.thread_cpu_delta(before, procfs.threads(200, root))
    tck = procfs.CLK_TCK
    assert delta == {"task": 20 / tck, "jit": 10 / tck, "gc": 4 / tck, "driver": 0.0}
    assert procfs.threads(999, root) == {}


def test_host_ticks_reads_steal_from_stat(tmp_path):
    with open(tmp_path / "stat", "w") as f:
        f.write("cpu  100 0 50 800 10 0 5 35 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    assert procfs.host_ticks(str(tmp_path)) == (1000, 35)
