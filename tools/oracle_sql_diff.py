#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by graft.Verify) by parse tree.

Usage: tools/oracle_sql_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

Each query's SQL is parsed by DuckDB's json_serialize_sql; every
`query_location` key is stripped, so whitespace and line layout do not
count but any changed literal, identifier or clause does. Exits 1 on any
added, removed, changed or unparsable query.
"""
import json
import sys

import duckdb


def strip_locations(node):
    if isinstance(node, dict):
        return {k: strip_locations(v) for k, v in node.items()
                if k != "query_location"}
    if isinstance(node, list):
        return [strip_locations(v) for v in node]
    return node


def parse_tree(con, sql):
    tree = json.loads(con.execute(
        "SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
    if tree.get("error"):
        raise ValueError(tree.get("error_message", "parse error"))
    return strip_locations(tree)


def main(path_a, path_b):
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    con = duckdb.connect()
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in b or name not in a:
            print(f"{'REMOVED' if name in a else 'ADDED'} {name}")
            bad += 1
            continue
        try:
            tree_a = parse_tree(con, a[name])
            same = a[name] == b[name] or tree_a == parse_tree(con, b[name])
        except (ValueError, duckdb.Error) as e:
            print(f"UNPARSABLE {name}: {e}")
            bad += 1
            continue
        if not same:
            print(f"CHANGED {name}")
            bad += 1
    identical = sum(1 for k in a if k in b and a[k] == b[k])
    print(f"{len(a)} vs {len(b)} queries, {bad} differ, "
          f"{identical} byte-identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
