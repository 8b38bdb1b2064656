#!/usr/bin/env python3
"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload query_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source (`perfbench/build.py`), makes the workload's inputs from `--seed`,
runs the harness JVM, checks every output against its reference, and prints
one JSON line last: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones from a separate traced run. A wrong result makes the exit
code 1. Everything the run writes stays under the build directory
(`.bench_build` unless `CARGO_TARGET_DIR` says otherwise) and the run's
own directory there is removed at the end; a record of the run, with the
host context, is kept under `<build dir>/records/`.

See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import scalegen  # noqa: E402

CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170

# Per-workload settings. `seconds` of open loop or closed loop come from
# the command line; these fix the load.
WORKLOADS = {
    # ScaleGen's sf0.1-shaped corpus (documents and events, the tables the
    # queries read)
    "query_short": {"queries": "queries_short.txt", **scalegen.SF01},
    # events/s in the open loop; backlog rows drained at the end
    "activity_stream": {"rate": 20000, "backlog": 400000},
    # docs/s in the open loop; backlog docs published as it starts (one
    # micro-batch)
    "index_ingest": {"rate": 10, "backlog": 250},
}
# `--smoke`: the smallest inputs that still exercise every code path.
SMOKE = {
    "query_short": {"n_docs": 500, "n_events": 10000, "n_users": 150},
    "activity_stream": {"rate": 2000, "backlog": 10000},
    "index_ingest": {"rate": 5, "backlog": 50},
}


def add_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return out


def steal_ticks():
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if len(parts) > 8 else 0
    except OSError:
        return -1


def host_snapshot():
    return {"loadavg": list(os.getloadavg()), "steal_ticks": steal_ticks(),
            "time": time.time()}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, run_dir, timeout_s):
    cp = os.pathsep.join([os.path.abspath(classes)] + build.spark_classpath())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + add_opens() +
           [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (the self-check)")
    ap.add_argument("--record", help="where to write the run record")
    a = ap.parse_args()
    cfg = dict(WORKLOADS[a.workload])
    if a.smoke:
        cfg.update(SMOKE[a.workload])

    classes = build.build()
    bdir = build.build_dir()
    run_dir = os.path.abspath(os.path.join(
        bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_gen = time.time()
        jargs = ["--workload", a.workload, "--work", os.path.join(run_dir, "work"),
                 "--out", os.path.join(run_dir, "record.json"),
                 "--seconds", str(a.seconds), "--seed", str(a.seed),
                 "--trace", str(a.trace), "--cores", str(CORES)]
        if a.workload == "query_short":
            data = os.path.join(run_dir, "data")
            scalegen.tables(data, a.seed, cfg["n_docs"], cfg["n_events"], cfg["n_users"])
            jargs += ["--data", data, "--queries", os.path.join(HERE, cfg["queries"])]
        else:
            if a.workload == "index_ingest":
                # the feed publishes ScaleGen's documents in order, in slices
                docs = os.path.join(run_dir, "docs.jsonl")
                cols = scalegen.documents(a.seed, scalegen.SF01["n_docs"])
                with open(docs, "w") as fh:
                    for i, t in zip(cols["doc_id"].to_pylist(), cols["text"].to_pylist()):
                        fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
                jargs += ["--docs", docs]
            jargs += ["--rate", str(cfg["rate"]), "--backlog", str(cfg["backlog"])]
        gen_s = time.time() - t_gen

        before = host_snapshot()
        ru0 = os.times()
        wall0 = time.time()
        code = run_jvm(classes, jargs, run_dir, JVM_TIMEOUT_S)
        wall = time.time() - wall0
        ru1 = os.times()
        after = host_snapshot()
        rec_path = os.path.join(run_dir, "record.json")
        if code != 0 or not os.path.exists(rec_path):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"harness JVM exited with {code}")
        with open(rec_path) as fh:
            rec = json.load(fh)

        checks = oracle.check(a.workload, rec, run_dir)
        failed = int(rec["failed"]) + checks["failed"]
        attempted = max(1, int(rec["attempted"]))
        correct = failed == 0
        if a.trace:
            values = metrics.per_layer(a.workload, rec)
        else:
            values = metrics.end_to_end(a.workload, rec)

        host = {
            "nproc": os.cpu_count(), "cores_used": CORES, "before": before, "after": after,
            "jvm_cpu_s": (ru1.children_user - ru0.children_user) +
                         (ru1.children_system - ru0.children_system),
            "jvm_wall_s": wall, "input_gen_s": gen_s,
            "java": rec.get("java_version"), "spark": rec.get("spark_version"),
            "python": platform.python_version(), "commit": git_commit(),
            "source_sha256": build.stamp(),
        }
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "config": cfg, "host": host, "checks": checks,
                  "errors": rec.get("errors", []), "metrics": values,
                  "tails": metrics.tail_info(a.workload, rec)}
        # raw samples, so a reader can tell a noise episode from a change
        record["raw"] = {k: v for k, v in rec.items() if k not in ("spans", "oracle_sql", "serves")}
        record["raw"]["serves"] = [{k: v for k, v in s.items() if k != "rows"}
                                   for s in rec.get("serves", [])]
        if a.trace:
            record["spans"] = metrics.span_summary(rec)
            record["span_list"] = list(metrics.spans_of(rec)[0].values())
        rpath = a.record or os.path.join(
            bdir, "records", f"{a.workload}-s{a.seed}-t{a.trace}-{int(wall0)}.json")
        os.makedirs(os.path.dirname(os.path.abspath(rpath)), exist_ok=True)
        with open(rpath, "w") as fh:
            json.dump(record, fh, indent=1)
        for e in rec.get("errors", []) + checks["messages"]:
            sys.stderr.write(f"[perfbench] {e}\n")
        sys.stderr.write(f"[perfbench] host {json.dumps(host)}\n")
        sys.stderr.write(f"[perfbench] tails {json.dumps(record['tails'])}\n")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
