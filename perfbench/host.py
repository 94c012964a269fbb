"""What the host and the checkout looked like during a run: cores, load,
CPU steal, resident memory of the process tree, versions and the source
identity. Everything here reads ``/proc`` or files in the checkout."""

from __future__ import annotations

import hashlib
import os
import platform


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_sample() -> dict:
    """1-minute load and the cumulative steal/total CPU ticks."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"load1": os.getloadavg()[0], "steal_ticks": ticks[7],
            "total_ticks": sum(ticks[:8])}


def steal_share(start: dict, end: dict) -> float:
    total = end["total_ticks"] - start["total_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root_pid: int | None = None) -> dict[str, float]:
    """``VmHWM`` in MB of ``root_pid`` and each live descendant (the Python
    driver, the driver JVM and its Python workers), keyed ``name:pid``."""
    root_pid = root_pid or os.getpid()
    kids = _children()
    todo, out = [root_pid], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = \
                int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def git_commit(root: str) -> str | None:
    """HEAD's commit when the checkout is a git work tree, else None."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        pass
    return None


def digest(root: str, names: list[str]) -> str:
    """Digest of the files at or under ``names`` in the checkout (hidden
    and cache directories skipped): names the code a run measured even
    when the checkout carries no git metadata."""
    paths = []
    for name in names:
        top = os.path.join(root, name)
        if os.path.isfile(top):
            paths.append(top)
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs
                       if not x.startswith(".") and x != "__pycache__"]
            paths += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def versions() -> dict:
    import pyarrow
    import pyspark
    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}
