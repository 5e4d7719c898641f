#!/usr/bin/env python3
"""Count the child processes a running JVM spawns, by command line.

Usage: python3 tools/spawns.py <pid> <seconds>

Polls /proc for <seconds> and records every process whose parent is <pid>
or one of its recorded children, then prints one line per command with its
count, most frequent first, and the total. A command is the program's name
and its arguments, each argument holding a `/` printed as <path>, so
`chmod 0644 /a` and `chmod 0644 /b` count together. Children that start and
exit between two polls are missed, so the counts are a lower bound. A JVM
child is first a copy of the JVM, then `jspawnhelper`, then the real
command; a child that exited before its real command was seen is counted
as "(before exec)".
"""
import os
import sys
import time
from collections import Counter


def stat_ppid(pid):
    """Parent pid of `pid`, or None once it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # fields after the parenthesized command name: state, ppid, ...
    return int(stat[stat.rindex(")") + 2:].split()[1])


BEFORE_EXEC = "(before exec)"


def cmdline(pid):
    """The raw command line of `pid`, None once it exited."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return None


def command(raw, parent_raw):
    """BEFORE_EXEC while the child still runs its parent's program or
    `jspawnhelper`, else its program name and arguments, paths elided."""
    args = [a.decode(errors="replace") for a in (raw or b"").split(b"\0") if a]
    if not args or args[0] == parent_raw.split(b"\0")[0].decode(errors="replace") \
            or args[0].endswith("/jspawnhelper"):
        return BEFORE_EXEC
    return " ".join([os.path.basename(args[0])] +
                    ["<path>" if "/" in a else a for a in args[1:]])


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    root, seconds = int(sys.argv[1]), float(sys.argv[2])
    if stat_ppid(root) is None:
        sys.exit(f"no process {root}")
    family = {root}
    root_cmd = cmdline(root)
    seen = set(p for p in os.listdir("/proc") if p.isdigit())  # already running
    commands = {}  # child pid -> last command line seen
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline:
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            pid = int(name)
            if name not in seen:
                seen.add(name)
                if stat_ppid(pid) in family:
                    family.add(pid)
                    commands[pid] = command(cmdline(pid), root_cmd)
            elif commands.get(pid) == BEFORE_EXEC:
                commands[pid] = command(cmdline(pid), root_cmd)
        time.sleep(0.001)
    counts = Counter(commands.values())
    for cmd, n in counts.most_common():
        print(f"{n:6d}  {cmd}")
    print(f"{sum(counts.values()):6d}  total child processes of {root} in {seconds:g} s")


if __name__ == "__main__":
    main()
