#!/usr/bin/env python3
"""graft benchmark: batch ETL, iterative driver loops, pair-candidate
kernels and stream maintenance, measured end to end and layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke <table dir> [--workload <name>]
    python3 perfbench/run.py --make-reference

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import derive  # noqa: E402
import outputs  # noqa: E402

STATE = os.path.join(HERE, ".state")
CLASSPATH = os.path.join(STATE, "classpath.json")
REFERENCE = os.path.join(HERE, "reference", "fingerprints.json")

# What the build compiles: the engine's root build and sources, and the
# benchmark's own build and sources.
SOURCES = ["build.sbt", "project", os.path.join("src", "main"), os.path.join("perfbench", "build.sbt"),
           os.path.join("perfbench", "project"), os.path.join("perfbench", "src")]

# Table sets. `x10` is the committed 10x replica; `x1` keeps its first
# replica, a table set the size of sf0.1.
DATASETS = {
    "x10": {"path": os.path.join("tmp", "sf1")},
    "x1": {"path": os.path.join("perfbench", ".state", "data", "x1"),
           "from": os.path.join("tmp", "sf1"), "replicas": 1},
}

# Stream feeds: 3 micro-batches per stream. On a 4-core box a cusum
# batch cost ~0.25 s plus ~9 us per row and a theta batch ~0.39 s plus
# ~3 us per item (traced runs at 10,000 and 100,000 rows, 20,000 and
# 200,000 items per batch), so the gate's 30,000 rows and 130,000 items
# per batch spend about half of a batch on rows and half on fixed
# per-batch cost; larger batches did not fit the gate's time budget.
# `stream_maintain` feeds 1,000,000-row batches, as graft.StreamBench does.
GATE_STREAM = {"stream-keys": 1000, "stream-buckets": 90, "stream-batches": 3,
               "theta-rows": 130000, "theta-groups": 32}
FULL_STREAM = {"stream-keys": 10000, "stream-buckets": 300, "stream-batches": 3,
               "theta-rows": 1000000, "theta-groups": 32}
SMOKE_STREAM = {"stream-keys": 20, "stream-buckets": 8, "stream-batches": 4,
                "theta-rows": 500, "theta-groups": 4}

EPE_SET = ["q_epe_pipeline", "q_epe_shape_b", "q_union_ingest", "q_unpivot",
           "q_pivot_wider", "q_fill_down", "q_separate", "q_regex_extract",
           "q_date_construct", "export:q_epe_pipeline:ano"]
ITERATIVE_SET = ["q_bpe_merges", "q_train_classifier", "q_dedup_clusters_star",
                 "q_split_by_cluster", "q_cv_folds", "q_ann_ivfpq", "q_corpus_build"]
PAIRS_SET = ["q_dedup_editdist", "q_dedup_snm", "q_audit_entity",
             "q_dedup_embedding", "q_dedup_minhash"]
STREAM_SET = ["stream:cusum", "stream:theta"]

# The gate workloads (BENCHMARK.json) are sized so that every run of
# both fits the benchmark's time budget; the full workloads run the
# complete query sets for same-box A/Bs and take minutes per run.
WORKLOADS = {
    "etl_pairs": {
        "data": "x1", "gate": True, "stream": GATE_STREAM,
        "ops": ["q_epe_pipeline", "export:q_epe_pipeline:ano", "q_dedup_editdist",
                "stream:cusum"],
    },
    "loops_seams": {
        "data": "x1", "gate": True, "stream": GATE_STREAM,
        "ops": ["q_bpe_merges", "stream:theta"],
    },
    "epe_etl_10x": {"data": "x10", "ops": EPE_SET},
    "iterative_sf01": {"data": "x1", "ops": ITERATIVE_SET},
    "dedup_pairs_10x": {"data": "x10", "ops": PAIRS_SET},
    "stream_maintain": {"data": None, "ops": STREAM_SET, "stream": FULL_STREAM},
}

# A fixed-size heap with a fixed young generation under the throughput
# collector: heap growth and young sizing then do not vary run to run,
# which steadies both pass times and the peak resident set. The client
# compiler alone: with C2, JIT threads compiled 5-11 CPU-s per warm pass
# on a 4-core box and made per-pass CPU time swing by a third.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn640m", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
# A pass, set-up or cold pass during which the host stole more than this
# share of the CPU time is contaminated by other tenants' load: on a
# 4-core virtual machine etl_pairs warm passes took 4.6-6.0 s at up to
# 1 % steal and 5.6-8.4 s at 5 % or more. A run stretches its warm
# passes by up to STRETCH_S seconds to collect clean ones, and sets up
# once more in a second JVM when set-up was contaminated and the run is
# younger than RETRY_BEFORE_S seconds. Both are capped so that a run on
# a loaded host still fits the gate's time budget.
STEAL_MAX = 0.02
STRETCH_S = 6
RETRY_BEFORE_S = 60
GATE_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# --- build ---------------------------------------------------------------


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repo_cfg = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repo_cfg):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repo_cfg}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def source_key():
    """Hash of every file the build compiles from, so a change to the
    engine or the benchmark invalidates the cached class path."""
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, subs, fs in os.walk(path)
            for f in fs if not any(p in ("target", "project") or p.startswith(".")
                                   for p in os.path.relpath(d, path).split(os.sep)
                                   if p != os.curdir))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine with the unchanged root build plus the benchmark's
    own code with perfbench/build.sbt, and cache the runtime class path
    under the hash of the sources it was compiled from."""
    key = source_key()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        if cached["sources"] == key and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    os.makedirs(STATE, exist_ok=True)
    log("building (sbt)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        json.dump({"sources": key, "classpath": cp}, f)
    return cp


# --- JVM launch ------------------------------------------------------------


def jvm_cmd(cp, mode, args):
    work = os.path.join(STATE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java"] + JVM_FLAGS + opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main", mode]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(STATE, "work", "warehouse")
    env.pop("SPARK_HOME", None)
    return env


def run_jvm(cp, mode, args, timeout):
    """Run one JVM to completion; returns (launch_ns, stdout)."""
    logf = open(os.path.join(STATE, f"jvm-{mode}.log"), "w")
    launch = time.time_ns()
    p = subprocess.Popen(jvm_cmd(cp, mode, args), cwd=ROOT, env=jvm_env(),
                         stdout=subprocess.PIPE, stderr=logf, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"{mode} JVM timed out after {timeout} s")
    finally:
        logf.close()
    if p.returncode != 0:
        sys.stderr.write(open(os.path.join(STATE, f"jvm-{mode}.log")).read()[-4000:])
        raise SystemExit(f"{mode} JVM failed with code {p.returncode}")
    return launch, out


def data_dir(cp, name):
    """Path of a table set, deriving it from the 10x replica when absent."""
    ds = DATASETS[name]
    path = os.path.join(ROOT, ds["path"])
    if "from" in ds and not os.path.exists(os.path.join(path, "_READY")):
        shutil.rmtree(path, ignore_errors=True)
        log(f"deriving table set {name}")
        run_jvm(cp, "prepare", {"src": os.path.join(ROOT, ds["from"]), "dst": path,
                                "replicas": ds["replicas"]}, timeout=600)
    for t in outputs.TABLES:
        if not os.path.exists(os.path.join(path, f"{t}.parquet")):
            raise SystemExit(f"missing input table {t} in {path}")
    return path


# --- context ---------------------------------------------------------------


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def cpu_ticks():
    """(busy, steal) clock ticks of all CPUs. Steal is time a virtual
    CPU waited for the host: other tenants' load."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "unknown (not a git checkout)"


# --- one run ---------------------------------------------------------------


def measure(cp, workload, seed, seconds, trace, data, stream, min_warm, work, timeout):
    """One measuring JVM; returns (launch ns, launch ticks, its record)."""
    wl = WORKLOADS[workload]
    os.makedirs(work, exist_ok=True)
    common = {"data": data, "tables": ",".join(outputs.TABLES)} if data else {}
    out_json = os.path.join(work, "record.json")
    args = dict(common, seed=seed, seconds=seconds, trace=int(trace), work=work,
                out=out_json, ops=",".join(wl["ops"]),
                **{"min-warm": min_warm, "steal-max": STEAL_MAX,
                   "stretch": STRETCH_S if wl.get("gate") else 0}, **stream)
    ticks = cpu_ticks()
    launch, _ = run_jvm(cp, "run", args, timeout=timeout)
    with open(out_json) as f:
        return launch, ticks, json.load(f)


def measure_setup(cp, data, timeout):
    """(setup_s, host steal share during it) of a JVM that only sets up."""
    common = {"data": data, "tables": ",".join(outputs.TABLES)} if data else {}
    out_json = os.path.join(STATE, "work", "setup.json")
    ticks = cpu_ticks()
    launch, _ = run_jvm(cp, "setup", dict(common, out=out_json), timeout=timeout)
    with open(out_json) as f:
        rec = json.load(f)
    return (rec["ready_ns"] - launch) / 1e9, derive.steal_share(ticks, rec["ready_ticks"])


def execute(cp, workload, seed, seconds, trace, data, stream, reference, min_warm):
    """Run one workload in a fresh measuring JVM; returns (result line, report)."""
    started = time.time()
    wl = WORKLOADS[workload]
    shutil.rmtree(os.path.join(STATE, "work"), ignore_errors=True)
    work = os.path.join(STATE, "work", "run")
    context = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
               "commit": commit(), "nproc": nproc(), "jvm_flags": " ".join(JVM_FLAGS),
               "loadavg_start": loadavg(), "data": data}
    ticks0 = cpu_ticks()
    launch, ticks, rec = measure(cp, workload, seed, seconds, trace, data, stream, min_warm,
                                 work, timeout=GATE_TIMEOUT_S if wl.get("gate") else 1500)
    for k in ("spark_version", "jvm_version", "max_heap_bytes", "master"):
        context[k] = rec[k]

    checked = outputs.check(rec["checks"], data, reference)
    attempted = rec["attempted"]
    failed = rec["failed"]
    for op, c in checked.items():
        if not c["ok"]:
            failed += rec["exec_count"].get(op, 1)
    failed = min(failed, attempted)

    # Set-up happens once per JVM. When the host stole more than
    # STEAL_MAX of the CPU time during it, and the run has time left, a
    # second JVM sets up again, and the run reports the set-up that saw
    # less steal. The cold pass is one sample per run; its steal share
    # is in the report.
    setups = [((rec["ready_ns"] - launch) / 1e9, derive.steal_share(ticks, rec["ready_ticks"]))]
    if (wl.get("gate") and not trace and setups[0][1] > STEAL_MAX
            and time.time() - started < RETRY_BEFORE_S):
        setups.append(measure_setup(cp, data, GATE_TIMEOUT_S - (time.time() - started)))
    setup_s, setup_steal = min(setups, key=lambda x: x[1])
    cold_steal = rec["passes"][0]["steal"]
    context["setup_steal"] = [x[1] for x in setups]
    context["cold_steal"] = cold_steal

    # Warm passes during which the host stole at most STEAL_MAX of the
    # CPU time; all warm passes when none qualifies.
    warm, warm_all = derive.clean_warm(rec["passes"], STEAL_MAX)
    context["loadavg_end"] = loadavg()
    context["steal_share"] = derive.steal_share(ticks0, cpu_ticks())
    context["steal_clean"] = max(setup_steal, cold_steal) <= STEAL_MAX and all(
        p["steal"] <= STEAL_MAX for p in warm)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_s": (rec["passes"][0]["wall_s"], "s"),
        "warm_s": (derive.median([p["wall_s"] for p in warm]), "s"),
        "cpu_s": (derive.median([p["cpu_s"] for p in warm]), "s"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
    }
    report = {"context": context, "passes": rec["passes"], "checks": checked, "errors": rec["errors"],
              "failed_frac": failed / attempted if attempted else 1.0,
              "warm_n": len(warm), "warm_all_n": len(warm_all),
              "warm_tail": derive.tail([p["wall_s"] for p in warm])}
    if trace:
        rows = {op: c.get("rows", 0) for op, c in checked.items()}
        lay = derive.layers(rec, rows)
        units = dict(derive.PER_LAYER)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in lay["workload"].items()}
        report["layers"] = {"workload": lay["workload"], "queries": lay["queries"],
                            "stream_batch_tail": lay["stream_batch_tail"]}
        report["spans"] = [{k: s[k] for k in ("id", "parent", "name", "kind", "start",
                                              "end", "self")} for s in lay["spans"]]
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0 and all(c["ok"] for c in checked.values()),
              "attempted": attempted, "failed": failed, "metrics": metrics}
    report["e2e"] = {k: v for k, (v, _) in e2e.items()}
    return result, report


def summary(workload, result, report):
    e = report["e2e"]
    c = report["context"]
    line = (f"{workload}: setup_s={e['setup_s']:.3f} s  cold_s={e['cold_s']:.3f} s  "
            f"warm_s={e['warm_s']:.3f} s (n={report['warm_n']} of {report['warm_all_n']})  "
            f"cpu_s={e['cpu_s']:.3f} s  peak_rss_mb={e['peak_rss_mb']:.1f} MB  "
            f"failed_frac={report['failed_frac']:.4f} ({result['failed']}/{result['attempted']})  "
            f"steal={c['steal_share']:.1%}")
    if not c["steal_clean"]:
        line += f" (a measured phase above {STEAL_MAX:.0%})"
    if report["warm_tail"]:
        p, v, n = report["warm_tail"]
        line += f"  warm p{p:g}={v:.3f} s (n={n})"
    line += (f"\n  context: commit={c['commit'][:12]} nproc={c['nproc']} "
             f"spark={c['spark_version']} jvm={c['jvm_version']} flags={c['jvm_flags']} "
             f"loadavg={c['loadavg_start']} -> {c['loadavg_end']} seed={c['seed']} "
             f"passes={len(report['passes'])}")
    return line


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", metavar="DIR",
                    help="run every workload (or --workload) briefly on this table "
                         "set, checking outputs against the DuckDB oracle")
    ap.add_argument("--make-reference", action="store_true",
                    help="check every workload's outputs against the DuckDB oracle "
                         "and store their fingerprints")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench must run from a full checkout of the repository")
    cp = build()
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)

    if a.smoke or a.make_reference:
        names = [a.workload] if a.workload else list(WORKLOADS)
        ok = True
        refs, sources = {}, {}
        for w in names:
            wl = WORKLOADS[w]
            data = None
            if wl["data"]:
                data = os.path.abspath(a.smoke) if a.smoke else data_dir(cp, wl["data"])
            result, report = execute(cp, w, a.seed, 0, True, data,
                                     SMOKE_STREAM if a.smoke else wl.get("stream", GATE_STREAM),
                                     reference="oracle", min_warm=0)
            print(summary(w, result, report))
            for op, c in report["checks"].items():
                print(f"  {'PASS' if c['ok'] else 'FAIL'} {op}: {c.get('detail', '')}")
                if c["ok"] and "fingerprint" in c and wl["data"]:
                    refs.setdefault(wl["data"], {})[op] = c["fingerprint"]
                    sources.setdefault(wl["data"], {})[op] = c["source"]
            ok = ok and result["correct"]
        if a.make_reference:
            outputs.save_reference(REFERENCE, refs, commit(), sources)
        print(json.dumps({"correct": ok, "attempted": 1, "failed": 0 if ok else 1,
                          "metrics": {}}))
        return 0 if ok else 1

    if not a.workload:
        ap.error("--workload is required")
    wl = WORKLOADS[a.workload]
    data = data_dir(cp, wl["data"]) if wl["data"] else None
    ref = outputs.load_reference(REFERENCE).get(wl["data"], {}) if wl["data"] else {}
    result, report = execute(cp, a.workload, a.seed, a.seconds, bool(a.trace), data,
                             wl.get("stream", GATE_STREAM), reference=ref, min_warm=2)
    path = os.path.join(STATE, "reports",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f)
    print(summary(a.workload, result, report))
    for op, c in report["checks"].items():
        if not c["ok"]:
            print(f"  FAIL {op}: {c.get('detail', '')}")
    print(f"report: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
