"""Output checks of the benchmark, outside the timed passes.

Each checked output is reduced to a fingerprint: its row count, its
columns sorted by name with their DuckDB types, and an order-insensitive
hash (the sum of DuckDB row hashes). An output passes when its
fingerprint equals the expected one, which comes either

  - from the query's DuckDB twin (`SparkEntry.oracleSql`), run over the
    same tables the way `tools/check_oracle.py` runs it, or
  - from `reference/fingerprints.json`, where each entry records how it
    was obtained.

Stream outputs are checked inside the JVM against their batch twins and
arrive here as a verdict.
"""
import datetime
import json
import os
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

ORACLE_TIMEOUT_S = 300


def connect(data=None):
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, min(4, os.cpu_count() or 1))}")
    con.execute("SET memory_limit='4GB'")
    spill = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".state", "duckdb")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    if data:
        for t in TABLES:
            path = os.path.join(data, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            rel = f"SELECT * FROM '{path}'"
            probe = con.sql(rel)
            if t == "events" and dict(zip(probe.columns, map(str, probe.types))).get("ts") \
                    == "BIGINT":
                # replicas written by Spark store ts as epoch nanoseconds;
                # sources.Tables.events reads them back as a timestamp
                rel = f"SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM '{path}'"
            con.execute(f"CREATE VIEW {t} AS {rel}")
    return con


def fingerprint(con, rel, casts=None):
    """Row count, (name, type) columns and order-insensitive hash of a relation.

    `casts` maps column names to DuckDB types; it aligns the partition
    columns of a hive-partitioned export, whose types the files do not
    carry.
    """
    casts = casts or {}
    cols = sorted(rel.columns)
    exprs = [f'CAST("{c}" AS {casts[c]}) AS "{c}"' if c in casts else f'"{c}"'
             for c in cols]
    rel = rel.select(", ".join(exprs))
    types = dict(zip(rel.columns, map(str, rel.types)))
    n, h = rel.aggregate(
        "count(*), coalesce(sum(hash(" + ", ".join(f'"{c}"' for c in cols)
        + ")::HUGEINT), 0)").fetchone()
    return {"rows": int(n), "columns": [[c, types[c]] for c in cols], "hash": str(h)}


def read_output(con, c):
    pattern = os.path.join(c["path"], "**", "*.parquet") if c["hive"] else \
        os.path.join(c["path"], "*.parquet")
    return con.sql(f"SELECT * FROM read_parquet('{pattern}', "
                   f"hive_partitioning={'true' if c['hive'] else 'false'})")


def run_oracle(con, sql, timeout=ORACLE_TIMEOUT_S):
    """Oracle fingerprint, or None when DuckDB cannot finish in time."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return fingerprint(con, con.sql(sql))
    except (duckdb.InterruptException, duckdb.OutOfMemoryException):
        return None
    finally:
        timer.cancel()


def check(checks, data, reference):
    """Verdict per operation. `reference` is "oracle" or a map of stored
    fingerprints."""
    out = {}
    con = None
    for op, c in checks.items():
        if c["kind"] == "jvm":
            out[op] = {"ok": bool(c["ok"]), "detail": json.dumps(c),
                       "rows": c.get("rows", c.get("groups", 0))}
            continue
        if c["kind"] == "error":
            out[op] = {"ok": False, "detail": c["error"]}
            continue
        if con is None:
            con = connect(data)
        if reference == "oracle":
            try:
                exp = run_oracle(con, c["oracle"]) if c.get("oracle") else None
            except duckdb.Error as e:
                out[op] = {"ok": False, "detail": f"oracle error: {e}"}
                continue
            source = "duckdb-oracle"
        else:
            ref = reference.get(op)
            exp = ref["fingerprint"] if ref else None
            source = ref["source"] if ref else None
        casts = {p: t for p, t in exp["columns"] if p in c.get("partition_by", [])} \
            if exp else {}
        got = fingerprint(con, read_output(con, c), casts)
        if exp is None:
            out[op] = {"ok": reference == "oracle", "rows": got["rows"], "fingerprint": got,
                       "source": "spark-output (oracle unavailable)",
                       "detail": f"no expected fingerprint; {got['rows']} rows"}
            continue
        ok = got == exp
        detail = f"{got['rows']} rows, {source}" if ok else \
            f"got {json.dumps(got)} expected {json.dumps(exp)}"
        out[op] = {"ok": ok, "rows": got["rows"], "fingerprint": got, "source": source,
                   "detail": detail}
    if con is not None:
        con.close()
    return out


def load_reference(path):
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)["datasets"]


def save_reference(path, fingerprints, commit, sources):
    """Store fingerprints per table set, with their provenance, keeping
    the stored entries of operations not checked this time."""
    datasets = load_reference(path)
    for ds, ops in fingerprints.items():
        for op, fp in ops.items():
            datasets.setdefault(ds, {})[op] = {"fingerprint": fp, "source": sources[ds][op]}
    doc = {"provenance": {
        "created": datetime.date.today().isoformat(),
        "commit": commit,
        "duckdb": duckdb.__version__,
        "method": "perfbench/run.py --make-reference: each query's Spark output "
                  "(written to parquet outside the timed passes) was compared with "
                  "its DuckDB twin from SparkEntry.oracleSql over the same tables; "
                  "entries whose source is 'duckdb-oracle' matched it exactly. "
                  "Entries whose source is 'spark-output (oracle unavailable)' are "
                  f"the Spark output itself: DuckDB did not finish the twin within "
                  f"{ORACLE_TIMEOUT_S} s on a 4-core box."},
        "datasets": {ds: dict(sorted(ops.items())) for ds, ops in sorted(datasets.items())}}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
        f.write("\n")
