#!/usr/bin/env python3
"""Count the child processes a JVM started, from a Flight Recorder file.

Usage: python3 tools/jfr_forks.py <recording.jfr> [from_ms to_ms]

Record a run with the JDK's `profile` settings, which keep the
`jdk.ProcessStart` event and its stack trace, for example:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile \\
        python3 perfbench/run.py --workload stream --seed 1 --seconds 8 --trace 1

The script reads the recording with the JDK's `jfr` tool and prints two
tables of `jdk.ProcessStart` counts, most frequent first:

- by command (the program's file name) and the first `org.apache.spark`
  frame of the starting thread's stack (`-` when it has none);
- by command and thread, with each streaming query's thread named by its
  query (`stream <name>`) and the numbers in other thread names replaced
  by `N`.

`from_ms` and `to_ms` keep only the processes started in that window, in
Unix epoch milliseconds: the clock of the `start_ms`/`end_ms` fields of a
traced perfbench run's spans (`.bench_build/traces/<workload>-<seed>.jsonl`).
Exits 0 after printing, 1 when `jfr` cannot read the recording, 2 on bad
arguments.
"""
import collections
import datetime
import json
import os
import re
import subprocess
import sys

LAMBDA = re.compile(r'\$\$Lambda.*')
STREAM_THREAD = re.compile(r'^stream execution thread for (\S+) \[')


def epoch_ms(stamp):
    # JFR stamps are ISO 8601 in UTC with nanoseconds ("…T17:39:13.541244557Z")
    return datetime.datetime.fromisoformat(stamp).timestamp() * 1000


def command(values):
    words = (values.get('command') or '').split()
    return os.path.basename(words[0]) if words else '-'


def spark_frame(values):
    for f in (values.get('stackTrace') or {}).get('frames') or []:
        # class names come in the JVM's slashed form; a lambda's hidden
        # class carries a per-run suffix
        owner = LAMBDA.sub('$$Lambda', f['method']['type']['name'].replace('/', '.'))
        if owner.startswith('org.apache.spark.'):
            return f"{owner}.{f['method']['name']}"
    return '-'


def thread(values):
    name = (values.get('eventThread') or {}).get('javaName') or '-'
    m = STREAM_THREAD.match(name)
    return f"stream {m.group(1)}" if m else re.sub(r'\d+', 'N', name)


def table(title, counts):
    print(f"{title}:")
    for (a, b), n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:8d}  {a:<12} {b}")


def arguments(argv):
    """The recording and the window (None for all of it), or None when the
    arguments are bad."""
    if len(argv) not in (2, 4) or not os.path.isfile(argv[1]):
        return None
    try:
        window = tuple(float(x) for x in argv[2:])
    except ValueError:
        return None
    if window and window[0] > window[1]:
        return None
    return argv[1], window or None


def main(argv):
    args = arguments(argv)
    if args is None:
        print(f"usage: {argv[0]} <recording.jfr> [from_ms to_ms]", file=sys.stderr)
        return 2
    path, window = args
    run = subprocess.run(['jfr', 'print', '--json', '--stack-depth', '64', '--events', 'jdk.ProcessStart',
                          path], capture_output=True, text=True)
    if run.returncode != 0:
        print(f"jfr could not read {path}: {run.stderr.strip()}", file=sys.stderr)
        return 1
    events = [e['values'] for e in json.loads(run.stdout)['recording']['events']]
    if window:
        events = [v for v in events if window[0] <= epoch_ms(v['startTime']) <= window[1]]
    by_frame = collections.Counter((command(v), spark_frame(v)) for v in events)
    by_thread = collections.Counter((command(v), thread(v)) for v in events)
    print(f"{len(events)} processes started" + (f" in [{window[0]:.0f}, {window[1]:.0f}] ms" if window else ''))
    table('by command and first Spark frame', by_frame)
    table('by command and thread', by_thread)
    return 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
