"""Input generator of the sign_stream workload.

`stage` writes, before the engine starts, the warm-up and backlog inputs
and returns the open-loop payloads; `publish` is run as its own process and
publishes the open-loop files on a fixed schedule whether or not the engine
keeps up (an open loop). Each file is written under a hidden temporary name
and renamed into place, so the engine's file source never sees a partial
file. Every record's `ts` is its creation time.

The payloads are distinct JSON transactions, 10% of which repeat a recent
payload. The fixture's events.props column is not used: it has only 100
distinct values, so replaying it signs 100 records per 100,000.
"""
import base64
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import benchlib

REPEAT_SHARE = 0.10
RATE = 10           # open-loop records per second
FILES_PER_S = 5     # open-loop files per second
WARM = 40           # warm-up records, signed before timing starts
BACKLOG = 400       # records in the drained backlog
BACKLOG_FILES = 4

SCHEMA = pa.schema([("recordId", pa.string()), ("data", pa.string()),
                    ("ts", pa.timestamp("us", tz="UTC"))])


def write_file(directory, name, first_id, payloads, ts_us):
    """Write one input file atomically: temporary name, then rename."""
    ids = [f"r{first_id + i}" for i in range(len(payloads))]
    data = [base64.b64encode(p.encode()).decode() for p in payloads]
    table = pa.table([ids, data, [ts_us] * len(payloads)], schema=SCHEMA)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def plan(seed, seconds):
    """Deterministic inputs of one run: warm-up, open-loop and backlog
    payloads. The backlog continues the open-loop sequence, so its repeats
    may refer to payloads already in the sink."""
    n_open = RATE * seconds
    warm, _ = benchlib.transactions(f"{seed}-warm", WARM, REPEAT_SHARE)
    open_loop, pool = benchlib.transactions(seed, n_open, REPEAT_SHARE)
    backlog, _ = benchlib.transactions(seed, BACKLOG, REPEAT_SHARE,
                                       start=n_open, history=pool)
    return warm, open_loop, backlog


def chunks(xs, n):
    size = -(-len(xs) // n)
    return [xs[i:i + size] for i in range(0, len(xs), size)]


def stage(work, seed, seconds, drains):
    """Write the warm-up input and `drains` identical copies of the backlog."""
    warm, open_loop, backlog = plan(seed, seconds)
    now_us = int(time.time() * 1e6)
    os.makedirs(f"{work}/warm")
    write_file(f"{work}/warm", "w-0.parquet", 0, warm, now_us)
    for d in range(drains):
        os.makedirs(f"{work}/backlog{d}")
        first = len(open_loop)
        for j, part in enumerate(chunks(backlog, BACKLOG_FILES)):
            write_file(f"{work}/backlog{d}", f"b-{j:04d}.parquet", first, part, now_us)
            first += len(part)
    os.makedirs(f"{work}/incoming")


def publish(work, seed, seconds):
    """Open loop: wait for the engine's `ready` marker, then publish file i
    at start + i / FILES_PER_S. A late file is still published, and its
    lateness is logged; latency is measured from the scheduled time."""
    _, open_loop, _ = plan(seed, seconds)
    files = chunks(open_loop, FILES_PER_S * seconds)
    while not os.path.exists(f"{work}/ready"):
        time.sleep(0.01)
    start = time.time() + 0.2
    due, late, first = {}, [], 0
    for i, part in enumerate(files):
        t_due = start + i / FILES_PER_S
        delay = t_due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"f-{i:05d}.parquet"
        write_file(f"{work}/incoming", name, first, part, int(time.time() * 1e6))
        late.append(max(0.0, (time.time() - t_due) * 1000.0))
        due[name] = t_due * 1000.0
        first += len(part)
    log = {"start_ms": start * 1000.0, "due_ms": due, "late_ms": late,
           "records": len(open_loop)}
    with open(f"{work}/.gen.json.tmp", "w") as f:
        json.dump(log, f)
    os.rename(f"{work}/.gen.json.tmp", f"{work}/gen.json")


if __name__ == "__main__":
    publish(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
