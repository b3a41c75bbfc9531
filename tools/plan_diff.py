#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage: python3 tools/plan_diff.py <parent.txt> <change.txt>

Make each dump from its own checkout (for example the parent commit and
the change):

    sbt -batch "runMain graft.Explain <sfDir>" > explain.txt 2>/dev/null

Prints the name of every query whose physical plan differs, followed by
`operators differ` when its sequence of operator names (the `(n) Name`
lines of the formatted plan) differs, or `expressions only` when only
the expressions inside the same operators do. sbt's own
`[info]`/`[success]` lines are dropped, and so is what changes from run
to run: expression ids, plan_id, object hashes (typed aggregators),
lambda class names, round-trip temp paths and the `sizeInBytes` of
`BroadcastQueryStage` statistics (a broadcast's size follows the driver
heap, so two heaps read as a plan difference). q_dedup_corpus,
q_dedup_prf and q_ngram_jaccard number their codegen stages differently
between two runs of the same tree, so their codegen stage numbers are
dropped too. Exits 0 when no plan differs, 1 when some do (or a query is
in only one dump), 2 on bad arguments.
"""
import os
import re
import sys

IDS = [(r'#[0-9]+L?', ''), (r'plan_id=[0-9]+', ''), (r'@[0-9a-f]{5,}', ''),
       (r'Lambda\$[0-9]+/0x[0-9a-f]+', ''), (r'local-[0-9]+', '')]
CODEGEN_NOISE = {'q_dedup_corpus', 'q_dedup_prf', 'q_ngram_jaccard'}
CODEGEN = [(r'\[codegen id : [0-9]+\]', ''), (r'^Arguments: [0-9]+$', 'Arguments:'),
           (r'WholeStageCodegen \([0-9]+\)', 'WholeStageCodegen')]
BROADCAST_SIZE = re.compile(r'(BroadcastQueryStage .*Statistics\(sizeInBytes=)[^,)]*')
HEADER = re.compile(r'^========== (\S+) ==========$')
OPERATOR = re.compile(r'^\([0-9]+\) (.*?)(?: \[codegen id : [0-9]+\])?\s*$')


def plans(path):
    out, name = {}, None
    with open(path) as f:
        for line in f:
            line = line.rstrip('\n')
            if line.startswith('['):
                continue
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
                continue
            if name is None:
                continue
            subs = IDS + (CODEGEN if name in CODEGEN_NOISE else [])
            for pat, rep in subs:
                line = re.sub(pat, rep, line)
            line = BROADCAST_SIZE.sub(r'\1', line)
            out[name].append(line)
    return out


def operators(plan):
    return [m.group(1) for m in map(OPERATOR.match, plan or []) if m]


def main(argv):
    if len(argv) != 3 or not all(os.path.isfile(p) for p in argv[1:]):
        print(f"usage: {argv[0]} <parent.txt> <change.txt>", file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ = sorted(q for q in a.keys() | b.keys() if a.get(q) != b.get(q))
    for q in differ:
        same_ops = operators(a.get(q)) == operators(b.get(q))
        print(q, 'expressions only' if same_ops else 'operators differ')
    print(f"plan_diff: {len(differ)} of {len(a.keys() | b.keys())} queries differ", file=sys.stderr)
    return 1 if differ else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
