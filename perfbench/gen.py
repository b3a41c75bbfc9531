#!/usr/bin/env python3
"""Event generator: the Kafka wire format written as JSON-lines files.

Each line is one message as the reference producer emits it: a JSON object
whose every value is a string, "" standing for a missing value. The events
are a pure function of (seed, event index), so a file holds the same events
whether it is written up front as a backlog or later by the paced loop.

Event time advances DT_S seconds per event (2,500 events per event-time
hour). A seeded share of rows is out of order: LATE_IN_SHARE arrive up to
50 minutes late, inside the pipelines' 60-minute watermark, and
LATE_OUT_SHARE arrive one to two days late, past it whatever the batch
boundaries.

Paced mode is an open loop and runs as its own process:

  python3 perfbench/gen.py paced OUT STAGE SEED FILES EVENTS_PER_FILE INTERVAL_MS T0_MS LOG

File k is due at T0_MS + k * INTERVAL_MS. It is written under STAGE and then
renamed into OUT, so a reader never sees a partial file. The schedule never
waits for the reader; a file published after its due time is published at
once and its lag is logged. The file name carries the due time, and LOG
receives one record per file: name, due_ms, published_ms.
"""
import datetime
import json
import os
import random
import sys
import time

DT_S = 1.44
LATE_IN_SHARE = 0.02
LATE_OUT_SHARE = 0.005
EVENT_TYPES = ["purchase", "signup", "view", "error"]
EVENT_WEIGHTS = [45, 20, 25, 10]
EPOCH = datetime.datetime(1970, 1, 1)


def base_seconds(seed):
    start = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=seed % 50)
    return (start - EPOCH).total_seconds()


def fmt_ts(seconds):
    return (EPOCH + datetime.timedelta(seconds=int(seconds))).strftime("%Y-%m-%d %H:%M:%S")


def event(seed, i, base):
    rng = random.Random(seed * 1_000_003 + i)
    ts = base + i * DT_S
    u = rng.random()
    if u < LATE_OUT_SHARE:
        ts -= rng.uniform(24, 48) * 3600
    elif u < LATE_OUT_SHARE + LATE_IN_SHARE:
        ts -= rng.uniform(1, 50) * 60
    v = rng.random()
    if v < 0.01:
        value = None
    elif v < 0.03:
        value = round(rng.choice([rng.uniform(0.05, 0.95), rng.uniform(121, 500)]), 2)
    else:
        value = round(rng.uniform(2, 110), 2)
    p = rng.random()
    if p < 0.005:
        props = ""
    elif p < 0.01:
        props = json.dumps({"k": "n/a"})
    else:
        claimed = round(value or 0)
        if p < 0.025:
            claimed += rng.randint(101, 400)
        props = json.dumps({"k": claimed})
    etype = "" if rng.random() < 0.01 else rng.choices(EVENT_TYPES, EVENT_WEIGHTS)[0]
    return {
        "event_id": str(i),
        "ts": fmt_ts(ts),
        "user_id": str(rng.randint(1, 5000)),
        "event_type": etype,
        "value": "" if value is None else str(value),
        "props": props,
    }


def file_text(seed, k, events_per_file):
    base = base_seconds(seed)
    first = k * events_per_file
    return "".join(json.dumps(event(seed, i, base)) + "\n"
                   for i in range(first, first + events_per_file))


def file_name(k, due_ms):
    return f"ev-{k:06d}-{due_ms}.json"


def write_backlog(out_dir, seed, files, events_per_file):
    """Write files 0..files-1 at once; their due time is 0 (the drain start)."""
    os.makedirs(out_dir, exist_ok=True)
    for k in range(files):
        with open(os.path.join(out_dir, file_name(k, 0)), "w") as fh:
            fh.write(file_text(seed, k, events_per_file))


def paced(out_dir, stage_dir, seed, files, events_per_file, interval_ms, t0_ms, log_path):
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    log = []
    for k in range(files):
        due_ms = t0_ms + k * interval_ms
        text = file_text(seed, k, events_per_file)
        wait = due_ms / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        name = file_name(k, due_ms)
        staged = os.path.join(stage_dir, name)
        with open(staged, "w") as fh:
            fh.write(text)
        os.rename(staged, os.path.join(out_dir, name))
        log.append({"name": name, "due_ms": due_ms, "published_ms": int(time.time() * 1000)})
    with open(log_path + ".tmp", "w") as fh:
        json.dump(log, fh)
    os.rename(log_path + ".tmp", log_path)


if __name__ == "__main__":
    if len(sys.argv) != 10 or sys.argv[1] != "paced":
        sys.exit(__doc__)
    a = sys.argv[2:]
    paced(a[0], a[1], int(a[2]), int(a[3]), int(a[4]), int(a[5]), int(a[6]), a[7])
