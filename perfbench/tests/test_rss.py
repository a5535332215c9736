"""Which processes the peak-memory poll counts."""

import os
import time

import run


def test_session_members_reads_parent_and_fork_flag():
    pid = os.fork()
    if pid == 0:  # the child sleeps without exec(), then leaves
        time.sleep(2)
        os._exit(0)
    try:
        deadline = time.monotonic() + 1
        members = run._session_members(os.getsid(0))
        while pid not in members and time.monotonic() < deadline:
            members = run._session_members(os.getsid(0))
        ppid, flags = members[pid]
        assert ppid == os.getpid()
        assert flags & run.PF_FORKNOEXEC
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)


def test_a_jvm_child_before_exec_is_not_counted():
    names = {1: "java", 5: "python3"}
    members = {
        1: (0, 0),                    # the JVM
        2: (1, run.PF_FORKNOEXEC),    # vfork()ed by the JVM, no exec() yet
        3: (1, 0),                    # a program the JVM started
        5: (1, 0),                    # the Python worker daemon
        6: (5, run.PF_FORKNOEXEC),    # a Python worker forked from it
    }
    assert run.own_memory(members, names.get) == [1, 3, 5, 6]
