"""Process and memory accounting from /proc, for the benchmark's processes."""

from __future__ import annotations

import os


def _stat(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid,
    pgrp, session, ..."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. Spark's Python daemon leaves
    the JVM's process group but stays in its session."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(entry)
            if fields and int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(entry))
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident memory of ``pid``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
