"""Open-loop feeder: lands staged chunk files into a watched directory on a
fixed schedule, one process, one thread.

Usage: feeder.py STAGE WATCHED FIRST START_MS INTERVAL_MS OPEN BACKLOG LOG

It lands chunks FIRST, FIRST + 1, ... The i-th of them, i < OPEN, is due at
START_MS + i * INTERVAL_MS. The BACKLOG chunks that follow are all due one
interval after the last open-loop chunk. A chunk lands
by an atomic rename, so the engine never lists a half-written file. Its mtime
is set first, one millisecond apart per chunk, because the file source takes
the oldest file first and the chunks must be consumed in feed order. The log
records each chunk's due and landing times in epoch milliseconds.
"""
import json
import os
import sys
import time


def main():
    stage, watched, first, start_ms, interval_ms, n_open, n_backlog, log = sys.argv[1:]
    first, start_ms, interval_ms = int(first), int(start_ms), int(interval_ms)
    n_open, n_backlog = int(n_open), int(n_backlog)
    backlog_due = start_ms + n_open * interval_ms
    feed = []
    for i in range(n_open + n_backlog):
        due = start_ms + i * interval_ms if i < n_open else backlog_due
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"chunk-{first + i:05d}.parquet"
        src = os.path.join(stage, name)
        mtime_ns = (start_ms + i) * 1_000_000
        os.utime(src, ns=(mtime_ns, mtime_ns))
        os.rename(src, os.path.join(watched, name))
        feed.append({"chunk": first + i, "due_ms": due, "landed_ms": time.time() * 1000.0,
                     "open_loop": i < n_open})
    with open(log + ".tmp", "w") as f:
        json.dump(feed, f)
    os.rename(log + ".tmp", log)


if __name__ == "__main__":
    main()
