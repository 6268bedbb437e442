#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 graftbench/run.py --workload superstep_warm --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (into target/ directories and .bench_build/);
later runs reuse that build while the sources are unchanged. The runner
generates the workload's inputs from the seed, starts one JVM per run at
local[k], checks the outputs against reference computations made here, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
derived from the spans the harness records around each call into the
engine (written to the run directory as spans.jsonl). --overhead runs the
workload untraced and then traced and reports the difference.

See README.md in this directory for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

# Seed 7919 is held out: use it only to confirm a claim (README.md).
DEFAULT_SEED = 1

# Input sizes, chosen so that one run stays near a minute on a 4-core box.
WORKLOADS = {
    "crawl_job": {"pages": 2000},
    "superstep_warm": {"vertices": 5000, "degree": 8},
}
# A fixed heap and young generation: the heap's touched pages, and so peak
# RSS, then follow the data a run retains rather than GC sizing choices.
JVM_HEAP = ["-Xms1536m", "-Xmx1536m", "-Xmn384m"]
# lineitem table of the registry queries: rows, orders, parts
LINEITEM = (6000, 1500, 200)

END_TO_END = {"setup_s": "s", "pass_s": "s", "edges_per_s": "1/s",
              "peak_rss_mb": "MB"}
CALL_MEASURES = ["wall_s", "task_s", "gc_s", "driver_s", "jobs", "shuffle_mb",
                 "spill_mb", "skew", "cache_leaked"]
CALL_UNITS = {"wall_s": "s", "task_s": "s", "gc_s": "s", "driver_s": "s",
              "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB",
              "skew": "ratio", "cache_leaked": "count", "supersteps": "count",
              "jobs_per_superstep": "count", "planning_s": "s"}
ITERATIVE = ["algo.lp_fixed5", "algo.lp_converge", "algo.cc_converge",
             "algo.pagerank"]
CALLS = ["build"] + ITERATIVE + ["algo.triangles", "measures.modularity",
                                 "io.write_outputs", "queries.g_kcore_t3"]

OPEN_PACKAGES = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850


def per_layer_names():
    """Every per-layer metric name with its unit, in a fixed order."""
    names = {"session.start.wall_s": "s"}
    for call in CALLS:
        for m in CALL_MEASURES:
            names[f"{call}.{m}"] = CALL_UNITS[m]
        if call in ITERATIVE:
            names[f"{call}.supersteps"] = "count"
            names[f"{call}.jobs_per_superstep"] = "count"
        if call.startswith("queries."):
            names[f"{call}.planning_s"] = "s"
    names["engine.checkpoint_mb"] = "MB"
    names["trace.coverage"] = "ratio"
    names["trace.listener_s"] = "s"
    return names


def log(msg):
    print(f"[graftbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[graftbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ------------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build the engine and the harness once per source state; returns the
    runtime classpath."""
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft")]
    if not all(os.path.exists(p) for p in needed):
        fail("the engine's sources (build.sbt, src/main/scala) are not in "
             "this checkout; run from the repository root")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
           f"-Djna.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    log("building the engine and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see {os.path.join(WORK, 'build.log')}")
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# ------------------------------------------------------------------- inputs

def make_inputs(workload, seed, directory):
    """Generate the seeded inputs; returns what the checks need."""
    seed %= 1 << 63  # numpy seeds must be non-negative
    shutil.rmtree(directory, ignore_errors=True)
    cfg = WORKLOADS[workload]
    tables = os.path.join(directory, "tables")
    made = {"tables": tables}
    if workload == "crawl_job":
        inputs.lineitem(seed, *LINEITEM, os.path.join(tables, "lineitem.parquet"))
        made["links"] = inputs.pages(seed, cfg["pages"],
                                     os.path.join(directory, "pages"))
        made["pages"] = cfg["pages"]
    elif workload == "superstep_warm":
        made["links"] = inputs.long_id_edges(seed, cfg["vertices"], cfg["degree"],
                                             os.path.join(directory, "edges"))
    return made


# ---------------------------------------------------------------------- JVM

def run_jvm(cp, workload, seed, seconds, trace, in_dir, out_dir, cores):
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    opens = [a for p in OPEN_PACKAGES
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    launch_ms = int(time.time() * 1000)
    args = [f"workload={workload}", f"input={in_dir}", f"out={out_dir}",
            f"tables={os.path.join(in_dir, 'tables')}", f"cores={cores}",
            f"seconds={seconds}", f"trace={trace}", f"launch_ms={launch_ms}",
            f"run_id={workload}-s{seed}-t{trace}-{launch_ms}"]
    cmd = (["java", *opens, *JVM_HEAP, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(out_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=out_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        tail = open(os.path.join(out_dir, "jvm.log")).read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"{workload} JVM failed (exit {rc}); see {out_dir}/jvm.log", 1)
    return checks.load_json(result)


# ------------------------------------------------------------------- checks

class Verdicts:
    """Output-check outcomes, keyed by the call they judge (or, for checks
    of no single call, by the check)."""

    def __init__(self):
        self.failed = {}  # call id or check -> reason
        self.notes = []

    def judge(self, call, ok, what):
        self.notes.append(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            self.failed.setdefault(what if call is None else call["id"], what)


def calls_named(res, name, passes=None):
    return [c for c in res["calls"] if c["name"] == name
            and (passes is None or c["pass"] in passes)]


def check_graph_outputs(res, g, v, checked):
    """Label propagation, components, PageRank, modularity and triangles of
    the checked pass against the reference computations."""
    def first(name):
        cs = calls_named(res, name, {checked["pass"]})
        return cs[0] if cs else None

    lp_calls = [("algo.lp_fixed5", "lp_fixed5", 5)] if "lp_fixed5" in checked else []
    lpc = first("algo.lp_converge")
    if lpc is not None and lpc["error"] is None:
        lp_calls.append(("algo.lp_converge", "lp_converge",
                         int(lpc["results"]["iterations"])))
    steps = checks.lp_steps(g, max([s for _, _, s in lp_calls] + [1]))
    lp_hashes = {}
    for name, key, s in lp_calls:
        call = first(name)
        got = checks.labels_of(g, checked[key])
        want = steps[s - 1]
        ok = got is not None and (got == want).all()
        v.judge(call, ok, f"{name}: labels after {s} supersteps match the reference")
        if got is not None:
            lp_hashes[name] = checks.label_hash(g, got)
    mod = first("measures.modularity")
    if mod is not None and lpc is not None and "modularity" in mod["results"]:
        want = checks.modularity(g, steps[int(lpc["results"]["iterations"]) - 1])
        got = float(mod["results"]["modularity"])
        v.judge(mod, abs(got - want) <= checks.MODULARITY_ATOL,
                f"measures.modularity: {got:.12f} vs reference {want:.12f} "
                f"(tolerance {checks.MODULARITY_ATOL:g})")
    cc = first("algo.cc_converge")
    if cc is not None and cc["error"] is None:
        got = checks.labels_of(g, checked["cc_converge"])
        want = checks.components(g)
        v.judge(cc, got is not None and (got == want).all(),
                f"algo.cc_converge: labels match union-find "
                f"({len(set(want.tolist()))} components)")
    pr = first("algo.pagerank")
    if pr is not None and pr["error"] is None:
        iters = int(pr["results"]["iterations"])
        got = checks.labels_of(g, checked["pagerank"], value="rank")
        want = checks.pagerank(g, iters)
        ok = got is not None and bool(
            (abs(got - want) <= checks.PAGERANK_RTOL * abs(want)).all())
        err = float(max(abs(got - want) / want)) if got is not None else float("nan")
        v.judge(pr, ok, f"algo.pagerank: {iters} iterations match power "
                        f"iteration, max relative error {err:.2e} "
                        f"(tolerance {checks.PAGERANK_RTOL:g})")
    tri = first("algo.triangles")
    if tri is not None and tri["error"] is None:
        total = checks.triangles(g)
        got = int(tri["results"]["triangles"])
        v.judge(tri, got == total, f"algo.triangles: {got} vs adjacency "
                                   f"intersection {total}")
    return lp_hashes


def check_consistency(res, v):
    """Timed passes must reproduce the checked pass's results."""
    ref = {c["name"]: c["results"] for c in res["calls"] if c["pass"] == 0}
    for c in res["calls"]:
        if c["pass"] == 0 or c["id"] < 0:
            continue
        if c["error"] is not None:
            continue
        want = ref.get(c["name"], {})
        for key in ("hash", "triangles", "iterations"):
            if key in c["results"] and key in want and c["results"][key] != want[key]:
                v.judge(c, False, f"{c['name']} pass {c['pass']}: {key} "
                                  f"{c['results'][key]} differs from the warm-up "
                                  f"pass ({want[key]})")


def check_pins(workload, seed, hashes, v):
    pins = checks.load_json(os.path.join(HERE, "pins.json"))
    want = pins.get(workload, {}).get(str(seed))
    if not want:
        return
    for name, h in hashes.items():
        if name in want:
            v.judge(None, h == want[name],
                    f"{name}: result hash {h} matches the pin for seed {seed}")


def check_registry(res, made, out_dir, v):
    hashes = {}
    for c in res["calls"]:
        if not c["name"].startswith("queries.") or c["error"] is not None:
            continue
        name = c["name"].split(".", 1)[1]
        target = os.path.join(out_dir, "checks", name)
        if not os.path.isdir(target):
            continue
        sql = open(os.path.join(out_dir, "checks", f"{name}.sql")).read()
        ok, h, detail = checks.oracle_check(made["tables"], target, sql)
        v.judge(c, ok, f"{c['name']}: output matches the DuckDB oracle ({detail})")
        hashes[c["name"]] = h
    return hashes


def verify(workload, seed, res, made, out_dir):
    v = Verdicts()
    hashes = {}
    ck = os.path.join(out_dir, "checks")
    if workload == "superstep_warm":
        src, dst = made["links"]
        g = checks.Graph(src, dst)
        checked = {"pass": 0, "lp_fixed5": f"{ck}/lp_fixed5",
                   "lp_converge": f"{ck}/lp_converge",
                   "cc_converge": f"{ck}/cc_converge", "pagerank": f"{ck}/pagerank"}
        hashes.update(check_graph_outputs(res, g, v, checked))
        check_consistency(res, v)
    elif workload == "crawl_job":
        job = os.path.join(out_dir, "job")
        names, ids = checks.read_parquet(f"{job}/dictionary", ["name", "id"])
        engine_id = dict(zip(names.tolist(), ids.tolist()))
        urls = [inputs.url_of(i) for i in range(made["pages"])]
        v.judge(None, sorted(engine_id) == sorted(urls),
                f"dictionary: {len(engine_id)} urls, one per page")
        lookup = [engine_id.get(u, -1) for u in urls]
        src, dst = made["links"]
        g = checks.Graph([lookup[i] for i in src], [lookup[i] for i in dst])
        checked = {"pass": 0, "lp_converge": f"{job}/lp_labels"}
        hashes.update(check_graph_outputs(res, g, v, checked))
        hashes.update(check_registry(res, made, out_dir, v))
    check_pins(workload, seed, hashes, v)
    # pass-validity guard: every timed pass launches the same jobs and
    # writes the same shuffle bytes as the first timed pass, and each of its
    # analytic calls the same as that call in the warm-up pass
    guard = True
    if workload != "crawl_job":
        timed = [p for p in res["passes"] if not p["warmup"]]
        for p in timed[1:]:
            same = (p["jobs"], p["shuffle_bytes"]) == (timed[0]["jobs"],
                                                       timed[0]["shuffle_bytes"])
            guard &= same
            v.notes.append(f"{'ok  ' if same else 'FAIL'} pass {p['pass']}: "
                           f"{p['jobs']} jobs, {p['shuffle_bytes']} shuffle bytes "
                           f"(first timed pass: {timed[0]['jobs']}, "
                           f"{timed[0]['shuffle_bytes']})")
        warm = {c["name"]: c["metrics"] for c in res["calls"] if c["pass"] == 0}
        for c in res["calls"]:
            ref = warm.get(c["name"])
            if c["pass"] <= 0 or ref is None or c["error"] is not None:
                continue
            same = all(c["metrics"][k] == ref[k] for k in ("jobs", "shuffle_mb"))
            guard &= same
            v.notes.append(f"{'ok  ' if same else 'FAIL'} pass {c['pass']} "
                           f"{c['name']}: {c['metrics']['jobs']:.0f} jobs, "
                           f"{c['metrics']['shuffle_mb']} MB shuffled (warm-up: "
                           f"{ref['jobs']:.0f}, {ref['shuffle_mb']})")
    return v, hashes, guard


# ------------------------------------------------------------------ metrics

def timed_passes(res):
    return [p["pass"] for p in res["passes"] if not p["warmup"]]


def end_to_end(workload, res):
    """The end-to-end metrics of an untraced run."""
    launch = res["launch_ms"]
    slots = int(res.get("slots", 0))
    if workload == "crawl_job":
        passes = [0]
        pass_s = [(res["end_ms"] - launch) / 1e3]  # JVM launch to last output
    else:
        passes = timed_passes(res)
        pass_s = [p["wall_s"] for p in res["passes"] if not p["warmup"]]
    rates = []
    for p in passes:
        work = secs = 0.0
        for c in res["calls"]:
            if c["pass"] == p and c["name"] in ITERATIVE:
                work += slots * c["metrics"].get("supersteps", 0)
                secs += c["metrics"]["wall_s"]
        rates.append(work / secs if secs else 0.0)
    return {"setup_s": (res["setup_end_ms"] - launch) / 1e3,
            "pass_s": statistics.median(pass_s),
            "edges_per_s": statistics.median(rates),
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0}


def per_layer(res):
    """Per-layer metrics: for each call, the median over the timed passes
    of its per-pass total (or its value in the pass where it ran)."""
    names = per_layer_names()
    out = {n: 0.0 for n in names}
    timed = set(timed_passes(res))
    by_call = {}
    for c in res["calls"]:
        if c["name"] == "session.start":
            out["session.start.wall_s"] = c["metrics"]["wall_s"]
            continue
        by_call.setdefault(c["name"], {}).setdefault(c["pass"], []).append(c)
    for name, passes in by_call.items():
        use = [p for p in passes if p in timed] or sorted(passes)[:1]
        for key in CALL_MEASURES + ["supersteps", "planning_s"]:
            full = f"{name}.{key}"
            if full not in names:
                continue
            vals = []
            for p in use:
                ms = [c["metrics"].get(key, 0.0) or 0.0 for c in passes[p]]
                vals.append(max(ms) if key == "skew" else sum(ms))
            out[full] = statistics.median(vals)
        if name in ITERATIVE and out[f"{name}.supersteps"]:
            out[f"{name}.jobs_per_superstep"] = (out[f"{name}.jobs"] /
                                                 out[f"{name}.supersteps"])
    out["engine.checkpoint_mb"] = max(
        [c["metrics"].get("checkpoint_mb", 0.0) for c in res["calls"]] + [0.0])
    out["trace.coverage"] = min(coverage(res) or [0.0])
    out["trace.listener_s"] = res["listener_s"]
    return out


def coverage(res):
    """Share of each pass's wall time covered by call spans."""
    return [p["call_s"] / p["wall_s"] for p in res["passes"] if p["wall_s"] > 0]


# --------------------------------------------------------------------- main

def run_once(cp, args, trace, cores):
    workload, seed = args.workload, args.seed
    in_dir = os.path.join(WORK, "inputs", f"{workload}-s{seed}")
    out_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}")
    t0 = time.time()
    made = make_inputs(workload, seed, in_dir)
    log(f"inputs for seed {seed} generated in {time.time() - t0:.1f} s")
    load_before = os.getloadavg()
    res = run_jvm(cp, workload, seed, args.seconds, trace, in_dir, out_dir, cores)
    load_after = os.getloadavg()
    v, hashes, guard = verify(workload, seed, res, made, out_dir)
    attempted = sum(1 for c in res["calls"] if c["id"] >= 0)
    thrown = {c["id"] for c in res["calls"] if c["error"] is not None}
    failed_ids = thrown | set(v.failed)
    env = {"nproc": os.cpu_count(), "k": cores,
           "loadavg_before": [round(x, 2) for x in load_before],
           "loadavg_after": [round(x, 2) for x in load_after],
           "spark": res.get("spark_version"), "java": res.get("java_version"),
           "jvm": res.get("java_vm"), "seed": seed, "trace": trace,
           "pages": made.get("pages"), "vertices": res.get("vertices"),
           "slots": res.get("slots"), "hashes": hashes}
    return res, v, guard, attempted, len(failed_ids), env, out_dir


def report(workload, res, trace):
    if trace:
        return per_layer(res), per_layer_names()
    return end_to_end(workload, res), END_TO_END


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced, then traced, and report the difference")
    args = ap.parse_args()

    cp = build()
    cores = min(4, os.cpu_count() or 1)
    traces = [0, 1] if args.overhead else [args.trace]
    runs = {}
    correct = True
    for trace in traces:
        res, v, guard, attempted, failed, env, out_dir = run_once(cp, args, trace, cores)
        metrics, units = report(args.workload, res, trace)
        runs[trace] = res
        for note in v.notes:
            log(note)
        log(f"fail_rate {failed / attempted:.4f} ({failed} of {attempted} calls)")
        log("environment " + json.dumps(env))
        for p in res["passes"]:
            log(f"pass {p['pass']}{' (warm-up)' if p['warmup'] else ''}: "
                f"{p['wall_s']:.3f} s, {p['jobs']} jobs, {p['shuffle_bytes']} "
                f"shuffle bytes, call spans cover "
                f"{p['call_s'] / p['wall_s'] if p['wall_s'] else 0:.1%}")
        for c in res["calls"]:
            log(f"call {c['pass']} {c['name']} {c['metrics']['wall_s']:.3f} s "
                f"{json.dumps(c['results'])}"
                + (f" error: {c['error']}" if c["error"] else ""))
        if trace:
            log(f"spans written to {os.path.join(out_dir, 'spans.jsonl')}")
        correct = correct and guard and failed == 0
        if not guard:
            log("pass-validity guard failed: timed passes differ in jobs or "
                "shuffle bytes")
    if args.overhead:
        untraced = report(args.workload, runs[0], 0)[0]
        traced = report(args.workload, runs[1], 0)[0]
        for k in untraced:
            log(f"tracing overhead {k}: {traced[k] - untraced[k]:+.4f} "
                f"(untraced {untraced[k]:.4f}, traced {traced[k]:.4f})")
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
