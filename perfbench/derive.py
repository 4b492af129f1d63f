"""Derived numbers of the benchmark: statistics over samples, span self
times, and the per-layer metrics computed from one traced run record.

Pure functions over plain data, so `test_derive.py` can pin each one.
"""
import statistics

# Tail percentiles tried from the highest down; one is reported only
# when at least ten samples lie beyond it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

PER_LAYER = [
    ("engine.session_s", "s"),
    ("construct.s", "s"),
    ("construct.jobs", "count"),
    ("construct.tasks", "count"),
    ("construct.task_s", "s"),
    ("construct.job_wall_s", "s"),
    ("construct.driver_s", "s"),
    ("construct.seams", "count"),
    ("construct.seam_bytes", "bytes"),
    ("plan.analysis_s", "s"),
    ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"),
    ("plan.exchanges", "count"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.peak_mem_bytes", "bytes"),
    ("exec.join_out_rows", "count"),
    ("exec.result_rows", "count"),
    ("exec.yield", "ratio"),
    ("sources.scan_rows", "count"),
    ("sources.scan_bytes", "bytes"),
    ("sources.write_s", "s"),
    ("sources.write_bytes", "bytes"),
    ("sources.write_files", "count"),
    ("stream.batches", "count"),
    ("stream.rows_in", "count"),
    ("stream.batch_p50_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("stream.state_rows", "count"),
    ("stream.state_bytes", "bytes"),
    ("trace.overhead_s", "s"),
    ("trace.unattributed_s", "s"),
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(percentile, value, n) for the highest percentile that has at
    least ten samples beyond it, or None when there are too few samples.
    The value is the nearest-rank sample at that percentile."""
    n = len(xs)
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            rank = max(1, -(-n * p // 100))  # ceil(n * p / 100)
            return p, s[int(rank) - 1], n
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def driver_s(construct_s, job_wall_s):
    """Construction time not spent waiting on Spark jobs."""
    return max(0.0, construct_s - job_wall_s)


def steal_share(t0, t1):
    """Share of the CPU time between two (busy, steal) tick readings
    that the host stole from the virtual CPUs."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (busy + steal) if busy + steal else 0.0


def clean_warm(passes, steal_max):
    """The untraced warm passes during which the host stole at most
    `steal_max` of the CPU time, or every untraced warm pass when none
    did. Returns (passes, all untraced warm passes)."""
    warm = [p for p in passes if p["idx"] != 0 and not p["traced"]]
    return [p for p in warm if p["steal"] <= steal_max] or warm, warm


def yield_ratio(result_rows, join_rows):
    """Result rows per join output row (candidate pair); 0 without joins."""
    return result_rows / join_rows if join_rows > 0 else 0.0


# --- the traced run record --------------------------------------------------

LEAF_KINDS = ("construct", "write", "export", "stream")


def build_spans(trace):
    """Spans of the benchmark's main thread plus job spans, and the
    plan/exec split of each noop-sink write, as one list of dicts with
    times in seconds.

    Each Spark job and SQL execution is attributed to the leaf span
    (construct, write, export, stream) whose interval holds its start.
    """
    spans = []
    for s in trace["spans"]:
        spans.append({"id": s["id"], "parent": s["parent"], "name": s["name"],
                      "kind": s["kind"], "start": s["start_ns"] / 1e9,
                      "end": s["end_ns"] / 1e9, "attrs": dict(s["attrs"])})
    leaves = sorted((s for s in spans if s["kind"] in LEAF_KINDS),
                    key=lambda s: s["start"])

    def owner(t):
        for s in leaves:
            if s["start"] <= t <= s["end"]:
                return s
        return None

    next_id = max((s["id"] for s in spans), default=-1) + 1
    for j in trace["jobs"]:
        start = j["start_ms"] / 1e3
        end = j["end_ms"] / 1e3 if j["end_ms"] >= 0 else start
        o = owner(start)
        if o is None:
            continue
        o.setdefault("jobs", []).append(j)
        spans.append({"id": next_id, "parent": o["id"], "name": f"job:{j['job']}",
                      "kind": "job", "start": start, "end": end, "attrs": j})
        next_id += 1
    for q in trace["sqls"]:
        phases = q["phases"]
        if not phases:
            continue
        t = max(p["end_ms"] for p in phases.values()) / 1e3
        o = owner(t)
        if o is not None:
            o.setdefault("sqls", []).append(q)

    for w in [s for s in spans if s["kind"] == "write"]:
        starts = [p["start_ms"] / 1e3 for q in w.get("sqls", [])
                  for p in q["phases"].values()]
        ends = [p["end_ms"] / 1e3 for q in w.get("sqls", [])
                for p in q["phases"].values()]
        plan_a = min(max(min(starts, default=w["start"]), w["start"]), w["end"])
        plan_b = min(max(max(ends, default=plan_a), plan_a), w["end"])
        for kind, a, b in (("plan", plan_a, plan_b), ("exec", plan_b, w["end"])):
            spans.append({"id": next_id, "parent": w["id"], "name": kind, "kind": kind,
                          "start": a, "end": b, "attrs": {}})
            next_id += 1
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["children"] = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            p["children"].append(s)
    for s in spans:
        s["self"] = self_time(s, s["children"])
    return spans


def _sum_jobs(jobs, key):
    return sum(j[key] for j in jobs)


def query_layers(q, result_rows):
    """Per-layer numbers of one query span (a child of a pass span)."""
    kids = {c["kind"]: c for c in q["children"]}
    out = {}
    c = kids.get("construct")
    w = kids.get("write")
    e = kids.get("export")
    st = kids.get("stream")
    cjobs = c.get("jobs", []) if c else []
    out["construct.s"] = (c["end"] - c["start"]) if c else 0.0
    out["construct.jobs"] = len(cjobs)
    out["construct.tasks"] = _sum_jobs(cjobs, "tasks")
    out["construct.task_s"] = _sum_jobs(cjobs, "task_ms") / 1e3
    out["construct.job_wall_s"] = union_length(
        [(j["start_ms"] / 1e3, max(j["end_ms"], j["start_ms"]) / 1e3) for j in cjobs],
        c["start"], c["end"]) if c else 0.0
    out["construct.driver_s"] = driver_s(out["construct.s"], out["construct.job_wall_s"])
    out["construct.seams"] = q["attrs"].get("seams", 0)
    out["construct.seam_bytes"] = q["attrs"].get("seam_bytes", 0)

    wsqls = w.get("sqls", []) if w else []

    def phase_s(name):
        return sum((p["end_ms"] - p["start_ms"]) / 1e3 for s in wsqls
                   for k, p in s["phases"].items() if k == name)
    out["plan.analysis_s"] = phase_s("analysis")
    out["plan.optimization_s"] = phase_s("optimization")
    out["plan.planning_s"] = phase_s("planning")
    out["plan.exchanges"] = sum(s["exchanges"] for s in wsqls)

    wkids = {k["kind"]: k for k in w["children"]} if w else {}
    wjobs = w.get("jobs", []) if w else []
    out["exec.s"] = (wkids["exec"]["end"] - wkids["exec"]["start"]) if "exec" in wkids else 0.0
    out["exec.jobs"] = len(wjobs)
    out["exec.stages"] = _sum_jobs(wjobs, "stages")
    out["exec.tasks"] = _sum_jobs(wjobs, "tasks")
    out["exec.task_s"] = _sum_jobs(wjobs, "task_ms") / 1e3
    out["exec.cpu_s"] = _sum_jobs(wjobs, "cpu_ns") / 1e9
    out["exec.gc_s"] = _sum_jobs(wjobs, "gc_ms") / 1e3
    out["exec.shuffle_read_bytes"] = _sum_jobs(wjobs, "shuffle_read_bytes")
    out["exec.shuffle_write_bytes"] = _sum_jobs(wjobs, "shuffle_write_bytes")
    out["exec.spill_bytes"] = _sum_jobs(wjobs, "spill_bytes")
    out["exec.peak_mem_bytes"] = max((j["peak_mem_bytes"] for j in wjobs), default=0)
    leaf_sqls = [s for k in (c, w, e) if k for s in k.get("sqls", [])]
    out["exec.join_out_rows"] = sum(s["join_rows"] for s in leaf_sqls)
    out["exec.result_rows"] = result_rows if w else 0
    out["exec.yield"] = yield_ratio(out["exec.result_rows"], out["exec.join_out_rows"])

    alljobs = [j for k in (c, w, e, st) if k for j in k.get("jobs", [])]
    out["sources.scan_rows"] = _sum_jobs(alljobs, "input_rows")
    out["sources.scan_bytes"] = _sum_jobs(alljobs, "input_bytes")
    ejobs = e.get("jobs", []) if e else []
    out["sources.write_s"] = (e["end"] - e["start"]) if e else 0.0
    out["sources.write_bytes"] = _sum_jobs(ejobs, "output_bytes")
    out["sources.write_files"] = q["attrs"].get("files", 0)

    sa = st["attrs"] if st else {}
    out["stream.batches"] = sa.get("batches", 0)
    out["stream.rows_in"] = sa.get("rows_in", 0)
    out["stream.batch_ms"] = list(sa.get("batch_ms", []))
    out["stream.add_batch_s"] = sa.get("add_batch_ms", 0) / 1e3
    out["stream.wal_commit_s"] = sa.get("wal_commit_ms", 0) / 1e3
    out["stream.state_rows"] = sa.get("state_rows", 0)
    out["stream.state_bytes"] = sa.get("state_bytes", 0)
    out["trace.unattributed_s"] = q["self"]
    out["wall_s"] = q["end"] - q["start"]
    return out


def pass_layers(queries):
    """Per-pass totals over the per-query records of one pass."""
    tot = {}
    for name, _ in PER_LAYER:
        if name in ("engine.session_s", "trace.overhead_s", "stream.batch_p50_s"):
            continue
        vals = [q[name] for q in queries]
        tot[name] = max(vals, default=0) if name == "exec.peak_mem_bytes" else sum(vals)
    joined = [q for q in queries if q["exec.join_out_rows"] > 0]
    tot["exec.yield"] = yield_ratio(sum(q["exec.result_rows"] for q in joined),
                                    sum(q["exec.join_out_rows"] for q in joined))
    batch_ms = [b for q in queries for b in q["stream.batch_ms"]]
    tot["stream.batch_p50_s"] = median(batch_ms) / 1e3
    tot["stream.batch_ms"] = batch_ms
    return tot


def layers(record, result_rows):
    """Per-query and per-workload layer numbers of a traced run record.

    `result_rows` maps each operation name to its checked output rows.
    Workload values are medians over the traced warm passes.
    """
    spans = build_spans(record["trace"])
    passes = {p["idx"]: p for p in record["passes"]}
    per_pass = {}
    per_query = {}
    for p in (s for s in spans if s["kind"] == "pass"):
        idx = int(p["name"].split(":")[1])
        if not passes[idx]["traced"]:
            continue
        qs = []
        for q in p["children"]:
            op = q["name"]
            lay = query_layers(q, result_rows.get(op, 0))
            qs.append(lay)
            per_query.setdefault(op, {})[idx] = lay
        per_pass[idx] = pass_layers(qs)
    warm = [i for i in per_pass if i != 0]
    workload = {}
    for name, _ in PER_LAYER:
        if name == "engine.session_s":
            workload[name] = record["engine_session_s"]
        elif name == "trace.overhead_s":
            t = [p["wall_s"] for p in record["passes"] if p["idx"] and p["traced"]]
            u = [p["wall_s"] for p in record["passes"] if p["idx"] and not p["traced"]]
            workload[name] = median(t) - median(u) if t and u else 0.0
        else:
            workload[name] = median([per_pass[i][name] for i in warm])
    batch_ms = [b for i in warm for b in per_pass[i]["stream.batch_ms"]]
    return {"workload": workload, "passes": per_pass, "queries": per_query,
            "stream_batch_tail": tail(batch_ms), "spans": spans}
