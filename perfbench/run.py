#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, outputs
under `target/` and `.bench_build/`), generates the input tables, then
launches one fresh JVM for the run: set-up (JVM and session), a cold pass
over the workload's ops and one warm pass. Every op's
output is checked against the fingerprints in `perfbench/expected/`. The
last line of stdout is one JSON object: correct / attempted / failed /
metrics. The seed fixes the op order of every pass; the tables are the
same for every seed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")

HEAP = "7g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

# Scale factor of the generated tables, the same for every workload.
SF = 0.001
# Share of the host's CPU time (cores x run wall) that the hypervisor
# gave to other guests, above which a run's timings are flagged as
# unresolved. Ten runs of the same code spread past the 0.25 bound when
# most runs had a larger share, and stayed within it when none had.
NOISY_STEAL_SHARE = 0.10

# workload -> the registered SparkEntry.queries keys of each pass
WORKLOADS = {
    "graph-iter": ["graph_scc", "graph_msf_boruvka",
                   "graph_connected_components"],
    "query-mix": ["sql_query_interface", "join_shuffle_sortmerge",
                  "agg_rollup", "window_sessionize", "stats_spearman",
                  "events_funnel_detect", "graph_bfs_khop",
                  "motif_where_filter", "text_bm25_topk", "embed_ann_ivf",
                  "table_merge_scd1", "scan_orc_roundtrip",
                  "stream_cdc_parquet"],
}

# Per-layer measures: every module gets the full set or the short set.
FULL = ["wall_s", "jobs", "tasks", "task_s", "gc_s", "shuffle_mb",
        "spill_mb", "plan_s", "codegen_n", "driver_s", "cores_busy"]
SHORT = ["wall_s", "jobs", "task_s", "plan_s", "codegen_n", "driver_s"]
FULL_MODULES = ["GraphOps", "GraphXAlgos", "TextOps", "VectorOps",
                "Streaming", "Sources"]
SHORT_MODULES = ["Relational", "Joins", "Aggregations", "Windows", "Stats",
                 "TimeSeries", "MotifDsl", "Mining"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness when their sources changed; return the
    classpath and the engine's --add-opens flags."""
    proj = os.path.join(ROOT, "project")
    sources = ([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                os.path.join(HARNESS, "build.sbt"),
                os.path.join(HARNESS, "project", "build.properties"),
                os.path.join(HARNESS, "src")]
               + sorted(os.path.join(proj, f) for f in os.listdir(proj)
                        if f.endswith((".sbt", ".properties"))))
    stamp = tree_digest(sources)
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return read_launch(launch)
    # sbt keeps its boot, global, ivy and temp files inside the checkout
    sbt_home = os.path.join(BUILD, "sbt")
    tmp = os.path.join(sbt_home, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # no hsperfdata files in the system temp dir, also from the JVMs the
    # sbt launcher script starts on its own
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        [env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
        f"-Dsbt.global.base={os.path.join(sbt_home, 'global')}",
        f"-Dsbt.boot.directory={os.path.join(sbt_home, 'boot')}",
        f"-Dsbt.ivy.home={os.path.join(sbt_home, 'ivy2')}"])
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    r = subprocess.run(cmd, cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed")
    shutil.copyfile(os.path.join(HARNESS, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        cp, opens = f.read().split("\n")[:2]
    return cp, opens.split()


def data_dir():
    """The generated tables, made once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    d = os.path.join(BUILD, "data", f"sf{SF}-{tree_digest([gen])}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, str(SF)], check=True,
                       timeout=300)
        os.replace(tmp, d)
    return d


def key_modules():
    """key -> the ops module SparkEntry registers it under."""
    with open(ENTRY) as f:
        src = f.read()
    return dict(re.findall(r'"(\w+)"\s*->\s*\(\s*(\w+)\.\w+\s+_\s*\)', src))


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (Linux /proc/stat; 0 elsewhere)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(path, sub))
    return path


def launch(cp, opens, mode, ops, data, run_dir, seed, seconds, trace, cores):
    """One JVM. Returns its parsed output file."""
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    launch_ms = int(time.time() * 1000)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + opens
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", cp, "perfbench.Harness",
              "--mode", mode, "--data", data, "--run-dir", run_dir,
              "--cores", str(cores), "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--launch-ms", str(launch_ms), "--out", out,
              "--ops", ",".join(ops)])
    log_path = os.path.join(run_dir, f"{mode}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env,
                             stdin=subprocess.DEVNULL, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{mode} JVM timed out after {JVM_TIMEOUT_S} s; see {log_path}")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"{mode} JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def check_outputs(res, expected):
    """Count failed ops: a throw, or a fingerprint that differs from the
    recorded one. Returns (attempted, failed, messages)."""
    attempted, failed, msgs = 0, 0, []
    for op in res["ops"]:
        attempted += 1
        exp = expected.get(op["key"])
        why = None
        if op["error"] is not None:
            why = op["error"].splitlines()[0][:300]
        elif exp is None:
            why = "no expected fingerprint recorded"
        elif op["rows"] != exp["rows"]:
            why = f"rows {op['rows']} != expected {exp['rows']}"
        elif exp["hash"] is not None and op["hash"] != exp["hash"]:
            why = f"content hash {op['hash']} != expected {exp['hash']}"
        if why:
            failed += 1
            msgs.append(f"FAILED {op['key']} (pass {op['pass']}): {why}")
    return attempted, failed, msgs


def layer_metrics(res, modules, cores, memo):
    """Roll the traced run's cold-pass op counters up by module."""
    tr = res["trace"]
    acc = {}
    for op in res["ops"]:
        if op["pass"] != 0:
            continue
        t = tr[f"{op['key']}#{op['pass']}"]
        m = acc.setdefault(modules[op["key"]], dict.fromkeys(FULL, 0.0))
        m["wall_s"] += op["wall_ms"] / 1e3
        m["jobs"] += t["jobs"]
        m["tasks"] += t["tasks"]
        m["task_s"] += t["task_ms"] / 1e3
        m["gc_s"] += op["gc_ms"] / 1e3
        m["shuffle_mb"] += t["shuffle_b"] / 2**20
        m["spill_mb"] += t["spill_b"] / 2**20
        m["plan_s"] += t["plan_ms"] / 1e3
        m["codegen_n"] += op["codegen_n"]
        m["driver_s"] += max(0.0, op["wall_ms"] - t["job_cover_ms"]) / 1e3
    out = {}
    for mod in FULL_MODULES + SHORT_MODULES:
        m = acc.get(mod, dict.fromkeys(FULL, 0.0))
        m["cores_busy"] = (m["task_s"] / (m["wall_s"] * cores)
                           if m["wall_s"] else 0.0)
        for k in (FULL if mod in FULL_MODULES else SHORT):
            unit = {"wall_s": "s", "task_s": "s", "gc_s": "s", "plan_s": "s",
                    "driver_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
                    "cores_busy": "ratio"}.get(k, "count")
            out[f"{mod}.{k}"] = {"value": m[k], "unit": unit}
    warm = [op for op in res["ops"] if op["pass"] == 1]
    wt = [tr[f"{o['key']}#1"] for o in warm]
    out["warmpass.jobs"] = {"value": sum(t["jobs"] for t in wt),
                            "unit": "count"}
    out["warmpass.tasks"] = {"value": sum(t["tasks"] for t in wt),
                             "unit": "count"}
    out["warmpass.task_s"] = {"value": sum(t["task_ms"] for t in wt) / 1e3,
                              "unit": "s"}
    out["warmpass.driver_s"] = {"value": sum(
        max(0.0, o["wall_ms"] - t["job_cover_ms"]) for o, t in zip(
            warm, wt)) / 1e3, "unit": "s"}
    out["memo_hit_ops"] = {"value": sum(r["memo_hit"] for r in memo),
                           "unit": "count"}
    out["run.cached_mb"] = {"value": res["end_cached_mb"], "unit": "MB"}
    out["trace.cold_pass_s"] = {"value": res["cold_pass_s"], "unit": "s"}
    return out


def memo_report(res):
    """Per op: cold-pass jobs against warm-pass jobs."""
    tr = res["trace"]
    rows = []
    for key in sorted({op["key"] for op in res["ops"]}):
        cold, warm = tr[f"{key}#0"]["jobs"], tr[f"{key}#1"]["jobs"]
        rows.append({"key": key, "cold_jobs": cold, "warm_jobs": warm,
                     "memo_hit": warm < cold})
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(ENTRY) and os.path.isfile(
            os.path.join(ROOT, "build.sbt"))):
        fail(f"engine sources not found under {ROOT}; run from a checkout")
    ops = WORKLOADS[args.workload]
    exp_path = os.path.join(HERE, "expected", f"{args.workload}.json")
    with open(exp_path) as f:
        expected = json.load(f)

    cp, opens = build()
    data = data_dir()
    modules = key_modules()
    missing = [k for k in ops if k not in modules]
    if missing:
        fail(f"keys not registered in SparkEntry: {missing}")
    cores = os.cpu_count() or 1
    load1 = os.getloadavg()[0]
    steal0 = steal_s()
    cpu0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    wall0 = time.monotonic()
    run_dir = fresh_dir(os.path.join(
        BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}"))
    res = launch(cp, opens, "run", ops, data, run_dir, args.seed,
                 args.seconds, args.trace, cores)
    for sub in ("tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu_s = (cpu1.ru_utime - cpu0.ru_utime) + (cpu1.ru_stime - cpu0.ru_stime)
    steal = steal_s() - steal0
    steal_share = steal / (cores * (time.monotonic() - wall0))

    if res["warm_pass_s"] is None:
        fail(f"the cold pass outlasted twice --seconds ({res['cold_pass_s']:.0f}"
             " s); no warm pass ran")
    attempted, failed, msgs = check_outputs(res, expected["ops"])
    for m in msgs:
        print(f"[perfbench] {m}")
    print(f"[perfbench] workload={args.workload} seed={args.seed} "
          f"cores={cores} sf={SF} load1={load1:.2f} "
          f"process_cpu_s={cpu_s:.1f} host_steal_s={steal:.1f} "
          f"steal_share={steal_share:.3f} ops_checked={attempted}"
          + (" timings=unresolved" if steal_share > NOISY_STEAL_SHARE
             else ""))
    if args.trace:
        memo = memo_report(res)
        metrics = layer_metrics(res, modules, cores, memo)
        for r in memo:
            print(f"[perfbench] memo {r['key']}: cold_jobs={r['cold_jobs']} "
                  f"warm_jobs={r['warm_jobs']}"
                  + (" memo_hit" if r["memo_hit"] else ""))
        with open(os.path.join(run_dir, "memo.json"), "w") as f:
            json.dump(memo, f, indent=1)
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "cold_pass_s": {"value": res["cold_pass_s"], "unit": "s"},
            "warm_pass_s": {"value": res["warm_pass_s"], "unit": "s"},
            "heap_live_mb": {"value": res["heap_live_mb"], "unit": "MB"},
            "disk_mb": {"value": res["disk_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
