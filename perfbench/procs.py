"""Process-session bookkeeping for benchmark runs (Linux /proc only).

Every workload runs in a worker started with `start_new_session=True`, so
the worker, its Spark JVM and the `pyspark.daemon` workers all share the
worker's session id, even after `pyspark.daemon` moves itself into a
process group of its own. The harness finds them by session id, sums
their proportional resident memory, and after the run waits for all of them to end.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def become_subreaper() -> None:
    """Orphans of the worker (a JVM or Python worker whose parent died)
    are re-parented to this process instead of init, so `reap` can
    collect their exit status and none is left as a zombie."""
    _libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                            ctypes.c_ulong, ctypes.c_ulong]
    _libc.prctl.restype = ctypes.c_int
    _libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2:].split()


def _live(pid: str, state: str) -> bool:
    """Not a zombie. A zombie whose other threads still run is live: the
    JVM's launcher thread (the process's first thread) returns while the
    JVM's own threads are still shutting down, so the process reads as a
    zombie for a while before it ends."""
    if state != "Z":
        return True
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    return any((f := _stat(f"{pid}/task/{tid}")) is not None and f[0] != "Z"
               for tid in tids)


def _session(sid: int) -> dict[int, int]:
    """{pid: parent pid} of every live process of session `sid`."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat(pid)
        # f[0]=state, f[1]=parent, f[3]=session
        if f is not None and int(f[3]) == sid and _live(pid, f[0]):
            out[int(pid)] = int(f[1])
    return out


def session_procs(sid: int) -> list[int]:
    """Every live process of session `sid`."""
    return list(_session(sid))


def _shares_vm(a: int, b: int) -> bool:
    """True when processes `a` and `b` have one address space: a child
    made by vfork or posix_spawn, as the JVM starts helper processes,
    until it execs. Its PSS is its parent's memory counted again (seen as
    a single sample twice the usual peak)."""
    return _SYS_KCMP is not None and _libc.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _pss(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it (forked Python workers share most of
    their pages with pyspark.daemon, so summing RSS would count those
    pages once per worker)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def session_pss(sid: int) -> int:
    """Summed proportional set size of every live process of `sid`,
    counting each address space once."""
    procs = _session(sid)
    return sum(_pss(pid) for pid, parent in procs.items()
               if not (parent in procs and _shares_vm(parent, pid)))


def reap() -> None:
    """Collect the exit status of every finished child or adopted orphan."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_session(sid: int) -> None:
    for pid in session_procs(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def wait_session_gone(sid: int, timeout: float) -> bool:
    """Poll until no process of session `sid` is alive; True if none is."""
    deadline = time.monotonic() + timeout
    while True:
        reap()
        if not session_procs(sid):
            # one that ended after the reap above is a zombie child now
            reap()
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.1)
