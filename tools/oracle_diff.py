#!/usr/bin/env python3
"""Compare two `oracle_sql.json` dumps query by query, by parse tree.

Usage: python3 tools/oracle_diff.py <parent.json> <change.json>

`graft.Verify` writes `oracle_sql.json` (query name -> DuckDB oracle SQL)
next to its output. Make one dump from each checkout (for example the
parent commit and the change) and compare them. Each oracle is parsed
with DuckDB's `json_serialize_sql`, and the `query_location` keys (text
offsets) are dropped, so a change that only moves whitespace or adds
redundant parentheses, such as `round((value) * 100)` against
`round(value * 100)`, compares equal.

Prints the name of every query whose parse tree differs, with
`differs`, `only in parent`, `only in change` or `does not parse`
(an oracle DuckDB cannot parse on either side). Exits 0 when every
entry is identical, 1 when any is not, 2 on bad arguments.
"""
import json
import os
import sys

import duckdb


def strip_locations(node):
    if isinstance(node, dict):
        return {k: strip_locations(v) for k, v in node.items() if k != 'query_location'}
    if isinstance(node, list):
        return [strip_locations(v) for v in node]
    return node


def tree(con, sql):
    out = json.loads(con.execute('SELECT json_serialize_sql(CAST(? AS VARCHAR))', [sql]).fetchone()[0])
    return None if out.get('error') else strip_locations(out['statements'])


def main(argv):
    if len(argv) != 3 or not all(os.path.isfile(p) for p in argv[1:]):
        print(f"usage: {argv[0]} <parent.json> <change.json>", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    con = duckdb.connect()
    differ = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in b:
            status = 'only in parent'
        elif q not in a:
            status = 'only in change'
        else:
            ta, tb = tree(con, a[q]), tree(con, b[q])
            status = ('does not parse' if ta is None or tb is None
                      else None if ta == tb else 'differs')
        if status:
            differ += 1
            print(q, status)
    print(f"oracle_diff: {differ} of {len(a.keys() | b.keys())} oracles differ", file=sys.stderr)
    return 1 if differ else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
