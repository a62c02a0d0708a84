#!/usr/bin/env python3
"""Record the expected output fingerprints of a workload's ops.

    python3 perfbench/record.py <workload> [<workload> ...]

For each workload:
  1. runs the harness in `record` mode (one pass over the ops, then each
     op's result dumped as parquet together with the engine's DuckDB
     oracle SQL for those keys);
  2. runs it again in `run` mode with another op order, and keeps a
     content hash only for ops whose fingerprint repeats in every pass
     of both runs (the others are checked by row count alone);
  3. cross-checks each dumped result against the oracle SQL evaluated by
     DuckDB on the same generated tables, through the engine's
     `tools/verify_local.py --skip-spark` (column names, types, row count
     and values in plan order), within ORACLE_TIMEOUT_S;
  4. writes perfbench/expected/<workload>.json.

The fingerprints describe the tables `gen_data.py` writes; re-record
when the generator, the scale or a workload's ops change.
"""
import json
import os
import re
import subprocess
import sys

import run

ORACLE_TIMEOUT_S = 600
VERIFY = os.path.join(run.ROOT, "tools", "verify_local.py")


def oracle_check(data, dump, keys):
    """key -> 'pass' / 'fail: ...' / 'timeout' for keys with oracle SQL,
    from the engine's own DuckDB comparison (`tools/verify_local.py`)."""
    cmd = [sys.executable, VERIFY, data, dump, "--skip-spark", *keys]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=ORACLE_TIMEOUT_S)
        out = r.stdout
        if r.returncode not in (0, 1):  # 1: some key failed
            sys.exit(f"{VERIFY} exited with {r.returncode}:\n{out[-2000:]}")
    except subprocess.TimeoutExpired as e:
        out = e.stdout or ""
        out = out.decode() if isinstance(out, bytes) else out
    verdict = {}
    for line in out.splitlines():
        m = re.match(r"(PASS|FAIL) (\w+)(.*)", line)
        if m:
            verdict[m[2]] = ("pass" if m[1] == "PASS"
                             else "fail" + m[3][:300])
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        for key in json.load(f):
            verdict.setdefault(key, "timeout")
    return verdict


def record(name, cp, opens):
    ops = run.WORKLOADS[name]
    data = run.data_dir()
    cores = os.cpu_count() or 1
    base = os.path.join(run.BUILD, "record", name)
    rec = run.launch(cp, opens, "record", ops, data,
                     run.fresh_dir(os.path.join(base, "record")), 1, 0, 0,
                     cores)
    again = run.launch(cp, opens, "run", ops, data,
                       run.fresh_dir(os.path.join(base, "repeat")), 2, 30, 0,
                       cores)
    seen = {}
    for op in rec["ops"] + again["ops"]:
        if op["error"] is not None:
            sys.exit(f"{name}: {op['key']} failed: {op['error']}")
        seen.setdefault(op["key"], set()).add((op["rows"], op["hash"]))
    expected = {}
    for key in ops:
        prints = seen[key]
        rows = {r for r, _ in prints}
        if len(rows) != 1:
            sys.exit(f"{name}: {key} row count varies between passes: {rows}")
        stable = len(prints) == 1
        expected[key] = {"rows": rows.pop(),
                         "hash": next(iter(prints))[1] if stable else None}
        if not stable:
            print(f"[record] {name}: {key} content varies between passes; "
                  "checking its row count only")
    verdict = oracle_check(data, os.path.join(base, "record", "dump"), ops)
    for key in ops:
        expected[key]["oracle"] = verdict.get(key, "no oracle SQL")
        print(f"[record] {name}: {key}: rows={expected[key]['rows']} "
              f"hash={expected[key]['hash']} oracle={expected[key]['oracle']}")
    out = {"sf": run.SF, "ops": expected}
    with open(os.path.join(run.HERE, "expected", f"{name}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    if any(v.startswith("fail") for v in verdict.values()):
        sys.exit(f"{name}: an op disagrees with its DuckDB oracle")


if __name__ == "__main__":
    cp, opens = run.build()
    for w in sys.argv[1:] or sorted(run.WORKLOADS):
        record(w, cp, opens)
