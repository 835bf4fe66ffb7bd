"""The ``live`` workload's event generator, run as its own process.

Appends one whole wire line per event to the graft-sse log on a fixed
schedule (open loop: it never waits for the engine), as the SSE writer
does in production. Event i is due at ``t0 + i / rate``; ``meta.dt``
carries that due (creation) time. Writes a summary of how late it ran.

Usage: python3 benchmark/feed.py SEED T0_US RATE COUNT LOG SUMMARY
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def now_us():
    return time.time_ns() // 1000


def main(seed, t0_us, rate, count, log, summary):
    g = gen.EventGen(seed)
    fd = os.open(log, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    late = []
    first = last = 0
    try:
        for i in range(count):
            due = gen.live_due_us(t0_us, i, rate)
            line = (gen.wire(g.next_event(due)) + "\n").encode("utf-8")
            wait = due - now_us()
            if wait > 0:
                time.sleep(wait / 1e6)
            os.write(fd, line)
            at = now_us()
            late.append(max(0, at - due))
            if i == 0:
                first = at
            last = at
    finally:
        os.close(fd)
    late.sort()
    res = {"count": count,
           "lateness_p50_ms": late[len(late) // 2] / 1000.0,
           "lateness_max_ms": late[-1] / 1000.0,
           "achieved_rate": (count - 1) / ((last - first) / 1e6)
           if last > first else 0.0}
    with open(summary + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(summary + ".tmp", summary)


if __name__ == "__main__":
    a = sys.argv[1:]
    main(int(a[0]), int(a[1]), int(a[2]), int(a[3]), a[4], a[5])
