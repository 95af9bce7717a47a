#!/usr/bin/env python3
"""graft's benchmark: one workload, one fresh JVM, one closed-loop client.

    python3 perfbench/run.py --workload olap_interactive --seed 1 \
        --seconds 30 --trace 0

Run from the repository root. The first run builds graft and the harness
into .bench_build (or $CARGO_TARGET_DIR) with perfbench/build.sh. The
harness writes raw samples; this script checks every output, derives the
metrics and prints them. The last stdout line is the result object; the
line before it is the per-workload report (see BENCHMARK.json).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import rules  # noqa: E402

WORKLOADS = ("olap_interactive", "corpus_batch", "living_corpus")
HARD_LIMIT_S = 175
# an oracle query running longer than this leaves its entry unchecked
# (reported by name), rather than stalling the run
ORACLE_LIMIT_S = 20
# untraced runs remembered per workload, the base of trace.overhead_frac
UNTRACED_KEPT = 10
JAVA_MODULES = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"run.py: {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    files = sorted(
        glob.glob(os.path.join(root, "src/main/**/*"), recursive=True)
        + glob.glob(os.path.join(HERE, "harness/*.scala"))
        + [os.path.join(HERE, "build.sh")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    stamp = source_stamp(root)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building graft and the harness")
    os.makedirs(out, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                       cwd=root, stdout=sys.stderr, timeout=800)
    if r.returncode != 0:
        die(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_harness(root, out, work, a, verified, deadline):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(spark_home, "jars")
    if not os.path.isdir(jars):
        die(f"no Spark jars at {jars}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    vfile = os.path.join(work, "verified.txt")
    with open(vfile, "w") as fh:
        fh.writelines(f"{k} {n} {d}\n" for k, n, d in verified)
    result = os.path.join(work, "result.json")
    # -XX:-UsePerfData: the JVM writes nothing outside the build directory
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JAVA_MODULES]
           + ["-cp", f"{os.path.join(out, 'classes')}:{jars}/*",
              "graftbench.Harness", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), os.path.join(HERE, "data"), work, result, vfile])
    with open(os.path.join(work, "harness.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=root, stdout=errf, stderr=errf,
                             start_new_session=True)
        try:
            p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            die("harness timed out")
        finally:
            # also on SIGTERM or a timeout: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness failed ({p.returncode})")
    with open(result) as fh:
        return json.load(fh)


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def load_expected(workload):
    p = expected_path(workload)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {}


def save_expected(workload, exp):
    os.makedirs(os.path.dirname(expected_path(workload)), exist_ok=True)
    tmp = expected_path(workload) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, expected_path(workload))


def input_tables(r):
    """The tables the oracle SQL of this run reads: name -> parquet file
    or directory."""
    d = r["diagnostics"]["tables_dir"]
    return {os.path.basename(f)[:-8]: f
            for f in glob.glob(os.path.join(d, "*.parquet"))}


def check_entries(r):
    """Compare each entry's result with the oracle. Returns the names
    whose output is wrong; records newly verified digests."""
    import oracle
    exp = load_expected(r["workload"])
    key = r["diagnostics"]["input_digest"]
    rec = exp.setdefault(key, {"oracle": {}, "verified": {}})
    missing = {n: s for n, s in r["oracle_sql"].items()
               if n in r["outputs"] and n not in rec["oracle"]}
    if missing:
        t0 = time.monotonic()
        rec["oracle"].update(oracle.oracle_digests(
            input_tables(r), missing, ORACLE_LIMIT_S))
        log(f"oracle digests for {len(missing)} entries in "
            f"{time.monotonic() - t0:.1f}s")
    wrong, unchecked = {}, []
    for name, spark_digest in r["digests"].items():
        if spark_digest in rec["verified"].get(name, []):
            continue
        want = rec["oracle"].get(name, "error: no oracle")
        if want == oracle.TIMEOUT:
            unchecked.append(name)
            continue
        got = oracle.output_digest(r["outputs"][name])
        if got == want and not want.startswith("error"):
            rec["verified"].setdefault(name, []).append(spark_digest)
        else:
            wrong[name] = f"output digest {got[:16]} != oracle {want[:60]}"
    save_expected(r["workload"], exp)
    return wrong, unchecked


def per_kind(ops, kind):
    return sum(1 for o in ops if o["kind"] == kind)


def load_untraced(path):
    """The op_p50_s of the recent untraced runs: [{seed, op_p50_s}]."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)


def trace_metrics(r, untraced_file):
    ops, c, lt = r["ops"], r["counters"], r["listener"]
    g = lambda k: c.get(k, 0.0)  # noqa: E731
    n_ops = max(1, len(ops))
    n_entry = max(1, per_kind(ops, "entry"))
    commits = ["ingest", "upsert", "takedown", "maintain"]
    n = {k: max(1, per_kind(ops, k)) for k in commits + ["probe"]}
    n_commit = max(1, sum(per_kind(ops, k) for k in commits))
    n_sql = max(1, len(r["samples"].get("sqlgen_s", [])))
    trig = g("streaming.triggers")

    spans = [dict(s) for s in r["spans"]]
    by_id = {s["id"]: s for s in spans}
    # Spark jobs become spans under the span that submitted them; jobs
    # from the stream's own thread go under the innermost span that
    # contains them
    for j in r["jobs"]:
        parent = j["span"]
        if parent not in by_id:
            inside = [s for s in spans if s["start"] <= j["start"]
                      and j["end"] <= s["end"] and not
                      str(s["id"]).startswith("job")]
            parent = max(inside, key=lambda s: s["start"])["id"] if inside else -1
        spans.append({"id": f"job{j['id']}", "name": "spark_job",
                      "parent": parent, "start": j["start"], "end": j["end"]})
    for st in r["stages"]:
        if st["job"] >= 0 and st["start"] > 0:
            spans.append({"id": f"stage{st['id']}", "name": "spark_stage",
                          "parent": f"job{st['job']}", "start": st["start"],
                          "end": st["end"]})
    self_t = rules.self_times(spans)
    op_spans = [s for s in spans if s["parent"] == -1 and ":" in s["name"]]
    op_wall = sum(s["end"] - s["start"] for s in op_spans)
    op_self = sum(self_t[s["id"]] for s in op_spans)
    coverage = 1.0 - op_self / op_wall if op_wall > 0 else 0.0
    layer_self = {}
    for s in spans:
        if s["parent"] != -1:
            layer_self[s["name"]] = layer_self.get(s["name"], 0.0) + \
                self_t[s["id"]] / 1000
    commit_span_ids = {s["id"] for s in op_spans
                       if s["name"].split(":")[0] in commits}

    def root_of(sid):
        while sid in by_id and by_id[sid]["parent"] != -1:
            sid = by_id[sid]["parent"]
        return sid
    commit_jobs = sum(1 for j in r["jobs"] if root_of(j["span"]) in commit_span_ids)
    stage_iv = [(st["start"], st["end"]) for st in r["stages"] if st["start"] > 0]
    stage_wall = sum(rules.union_length(stage_iv, s["start"], s["end"])
                     for s in op_spans) / 1000

    m = {
        "queries.build_s": g("queries.build_s") / n_entry,
        "catalyst.analysis_s": g("catalyst.analysis_s") / n_entry,
        "catalyst.optimization_s": g("catalyst.optimization_s") / n_entry,
        "catalyst.planning_s": g("catalyst.planning_s") / n_entry,
        "plan.exchanges": g("plan.exchanges") / n_entry,
        "codegen.classes": g("codegen.classes") / n_ops,
        "codegen.compile_s": g("codegen.compile_s") / n_ops,
        "jvm.jit_s": g("jvm.jit_s") / n_ops,
        "jvm.gc_s": g("jvm.gc_s") / n_ops,
        "scheduler.jobs": lt.get("jobs", 0) / n_ops,
        "scheduler.stages": lt.get("stages", 0) / n_ops,
        "scheduler.tasks": lt.get("tasks", 0) / n_ops,
        "scheduler.wait_s": lt.get("sched_delay_ms", 0) / 1000 / n_ops,
        "scheduler.failed_tasks": lt.get("failed_tasks", 0) / n_ops,
        "executor.run_s": lt.get("run_ms", 0) / 1000 / n_ops,
        "executor.cpu_s": lt.get("cpu_ns", 0) / 1e9 / n_ops,
        "executor.deserialize_s": lt.get("deserialize_ms", 0) / 1000 / n_ops,
        "executor.gc_s": lt.get("gc_ms", 0) / 1000 / n_ops,
        "shuffle.write_bytes": lt.get("shuffle_write_bytes", 0) / n_ops,
        "shuffle.read_bytes": lt.get("shuffle_read_bytes", 0) / n_ops,
        "shuffle.fetch_wait_s": lt.get("fetch_wait_ms", 0) / 1000 / n_ops,
        "spill.bytes": lt.get("spill_bytes", 0) / n_ops,
        "sqlgen.to_sql_s": g("sqlgen.to_sql_s") / n_sql,
        "sqlgen.reparse_s": g("sqlgen.reparse_s") / n_sql,
        "sqlgen.sql_chars": g("sqlgen.sql_chars") / n_sql,
        "sources.ingest_s": g("sources.ingest_s") / n["ingest"],
        "sources.upsert_s": g("sources.upsert_s") / n["upsert"],
        "sources.delete_s": g("sources.delete_s") / n["takedown"],
        "sources.maintain_s": g("sources.maintain_s") / n["maintain"],
        "sources.snapshot_read_s": g("sources.snapshot_read_s"),
        "sources.bytes_written": g("sources.bytes_written") / n_commit,
        "sources.files_written": g("sources.files_written") / n_commit,
        "sources.jobs_per_commit": commit_jobs / n_commit,
        "streaming.drain_s": g("streaming.drain_s") / n_commit,
        "streaming.triggers": trig / n_commit,
        "streaming.planning_s": g("streaming.planning_s") / max(1, trig),
        "streaming.wal_commit_s": g("streaming.wal_commit_s") / max(1, trig),
        "streaming.useful_trigger_frac":
            g("streaming.useful_triggers") / trig if trig else 0.0,
        "operators.index_append_s": g("operators.index_append_s") / n["ingest"],
        "operators.index_delete_s": g("operators.index_delete_s") / n["takedown"],
        "operators.index_compact_s": g("operators.index_compact_s") / n["maintain"],
        "operators.index_probe_s": g("operators.index_probe_s") / n["probe"],
        "trace.coverage_frac": coverage,
    }
    # overhead: this traced run's median operation against the median
    # of the recent untraced runs of the workload in this build
    # directory; without any, the tracer's own bookkeeping share of the
    # loop
    basis = "tracer bookkeeping share of the loop"
    m["trace.overhead_frac"] = g("trace.bookkeeping_s") / max(r["loop_s"], 1e-9)
    history = load_untraced(untraced_file)
    if history:
        base = rules.median([h["op_p50_s"] for h in history])
        m["trace.overhead_frac"] = op_samples_p50(r) / base - 1
        basis = (f"op_p50_s vs the median of {len(history)} untraced runs "
                 f"(seeds {', '.join(str(h['seed']) for h in history)})")
    # the split each workload was chosen for
    fixed = (g("catalyst.analysis_s") + g("catalyst.optimization_s")
             + g("catalyst.planning_s") + g("codegen.compile_s")
             + lt.get("sched_delay_ms", 0) / 1000)
    run_s = lt.get("run_ms", 0) / 1000
    split = {
        "catalyst_codegen_scheduler_s": fixed,
        "executor_run_s": run_s,
        "executor_run_share_of_wall": run_s / max(r["loop_s"], 1e-9),
        "executor_run_share_of_core_wall":
            run_s / max(r["loop_s"] * r["cores"], 1e-9),
        "op_wall_s": op_wall / 1000,
        # wall time inside operations with a stage running, and without
        "stage_wall_s": stage_wall,
        "driver_wall_s": op_wall / 1000 - stage_wall,
        "layer_self_s": {k: round(v, 4) for k, v in sorted(layer_self.items())},
    }
    return m, {"overhead_basis": basis, "split": split}


def op_samples(r):
    s = r["samples"]
    return s.get("cycle_s", []) if r["workload"] == "living_corpus" \
        else s.get("query_s", [])


def op_samples_p50(r):
    return rules.median(op_samples(r))


def end_to_end(r):
    s = r["samples"]
    setup = r["jvm_to_session_s"] + rules.median(r["setup_runs_s"])
    ops = op_samples(r)
    p, tail_v = rules.tail(ops)
    d = r["diagnostics"]
    if r["workload"] == "corpus_batch":
        walls = d.get("pass_walls_s", [])
        items = d["corpus_docs"] / rules.median(walls) if walls else 0.0
    elif r["workload"] == "living_corpus":
        items = d["docs_ingested"] / r["loop_s"]
    else:
        items = sum(1 for o in r["ops"] if o["ok"]) / r["loop_s"]
    e2e = {"setup_s": setup, "op_p50_s": rules.median(ops),
           "op_tail_s": tail_v, "items_per_s": items,
           "heap_peak_mb": r["heap_peak_mb"]}
    rep = {"setup_s": setup, "heap_peak_mb": r["heap_peak_mb"]}
    if r["workload"] in ("olap_interactive", "corpus_batch"):
        rep["query_p50_s"] = rules.median(s.get("query_s", []))
        rep["query_tail_s"] = tail_v
    if r["workload"] == "olap_interactive":
        rep["sqlgen_p50_s"] = rules.median(s.get("sqlgen_s", []))
    if r["workload"] == "corpus_batch":
        rep["docs_per_s"] = items
        rep.update({k: rules.median(v) for k, v in s.items()
                    if k.startswith("entry.")})
    if r["workload"] == "living_corpus":
        rep.update({
            "ingest_p50_s": rules.median(s.get("ingest_s", [])),
            "takedown_p50_s": rules.median(s.get("takedown_s", [])),
            "write_tail_s": rules.tail(s.get("write_s", []))[1],
            "freshness_p50_s": rules.median(s.get("freshness_s", [])),
            "probe_p50_s": rules.median(s.get("probe_s", [])),
            "write_amp": d["bytes_written"] / max(1, d["bytes_ingested"]),
            "space_amp": d["bytes_on_disk"] / max(1, d["live_bytes"]),
        })
    return e2e, rep, p


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    deadline = t_start + HARD_LIMIT_S
    load_start = os.getloadavg()
    root = os.path.dirname(HERE)
    for d in ("src/main/scala/graft", "src/main/resources"):
        if not os.path.isdir(os.path.join(root, d)):
            die(f"{d} not found: run from a graft checkout")
    out = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    build(root, out)
    deadline = max(deadline, time.monotonic() + HARD_LIMIT_S - 10)
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        verified = [(k, n, d)
                    for k, rec in load_expected(a.workload).items()
                    for n, ds in rec.get("verified", {}).items() for d in ds]
        r = run_harness(root, out, work, a, verified, deadline - 15)
        ops = r["ops"]
        failed = {o["id"] for o in ops if not o["ok"]}
        wrong_names, unchecked = {}, []
        if r["workload"] != "living_corpus":
            wrong_names, unchecked = check_entries(r)
        wrong = {o["id"] for o in ops if o["name"] in wrong_names}
        # the living corpus's end-state checks count as operations
        checks = {k: v for k, v in r["checks"].items() if k.endswith("_ok")}
        attempted = len(ops) + len(checks)
        failed |= {f"check:{k}" for k, v in checks.items() if v is not True}
        bad = failed | wrong
        frac = rules.failed_frac(attempted, failed, wrong)
        e2e, rep, tail_p = end_to_end(r)
        rep["failed_frac"] = frac
        untraced_file = os.path.join(out, f"untraced-{a.workload}.json")
        extra = {}
        if a.trace:
            metrics, extra = trace_metrics(r, untraced_file)
            block = rules.metric_block(metrics, rules.PER_LAYER)
            # the spans outlive the run's scratch directory
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            extra["spans_file"] = os.path.join(
                traces, f"{a.workload}-{a.seed}.json")
            with open(extra["spans_file"], "w") as fh:
                json.dump({k: r[k] for k in ("spans", "jobs", "stages", "ops")},
                          fh)
        else:
            block = rules.metric_block(e2e, rules.END_TO_END)
            history = load_untraced(untraced_file)[-(UNTRACED_KEPT - 1):]
            history.append({"seed": a.seed, "op_p50_s": e2e["op_p50_s"]})
            with open(untraced_file, "w") as fh:
                json.dump(history, fh)
        report = {
            "report": {k: {"value": v, "unit": rules.REPORT.get(k, "s")}
                       for k, v in rep.items()},
            "workload": a.workload, "seed": a.seed,
            "tail_percentile": tail_p,
            "samples": {k: len(v) for k, v in r["samples"].items()
                        if not k.startswith("entry.")},
            "failed_ops": sorted({f"{o['kind']}:{o['name']}: "
                                  f"{o['error'] or wrong_names.get(o['name'])}"
                                  for o in ops if o["id"] in bad}),
            "failed_checks": sorted(x for x in failed if isinstance(x, str)),
            "unchecked_entries": sorted(unchecked),
            "checks": r["checks"],
            "diagnostics": r["diagnostics"],
            "loadavg": {"start": load_start, "end": os.getloadavg()},
            **extra,
        }
        print(json.dumps(report))
        print(json.dumps({"correct": not bad, "attempted": attempted,
                          "failed": len(bad), "metrics": block}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
