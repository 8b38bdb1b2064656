#!/usr/bin/env python3
"""Smoke self-check of the benchmark itself, on tiny inputs.

    python3 perfbench/selfcheck.py [--seconds 4]

First checks that `scalegen.py` makes the same column values as
`graft.tools.ScaleGen` (one small corpus, generated both ways). Then, for
every workload in BENCHMARK.json, runs `run.py --smoke` once untraced and
once traced, and checks that:
- the run is correct and prints every metric BENCHMARK.json names, with
  that metric's unit and a finite value;
- the traced run's spans nest (each lies inside its parent, give or take
  the millisecond resolution of Spark's event times), no self time is
  negative, and no span's children cover more time than the span itself.
Exits 1 if any check fails.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import scalegen  # noqa: E402
from run import add_opens  # noqa: E402


def run(workload, trace, seconds, record):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace),
           "--smoke", "--record", record]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr[-3000:]}"
    return json.loads(lines[-1]), None


def check_metrics(out, declared):
    problems = []
    for m in declared:
        got = out["metrics"].get(m["name"])
        if got is None:
            problems.append(f"missing metric {m['name']}")
        elif got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r}, declared {m['unit']!r}")
        elif not isinstance(got.get("value"), (int, float)) or not math.isfinite(got["value"]):
            problems.append(f"{m['name']}: value {got.get('value')!r}")
    extra = set(out["metrics"]) - {m["name"] for m in declared}
    if extra:
        problems.append(f"undeclared metrics {sorted(extra)}")
    return problems


def check_spans(record):
    s = record.get("spans", {})
    problems = []
    if s.get("spans", 0) < 3:
        problems.append("traced run recorded no spans")
    for k in ("not_nested", "negative_self", "children_exceed_parent"):
        if s.get(k):
            problems.append(f"spans {k}: {s[k]}")
    layers = set(s.get("layers", {}))
    for need in ("job", "stage"):
        if need not in layers:
            problems.append(f"no {need} spans")
    return problems


def check_scalegen(tmp, seed=7, n_docs=300, n_events=2000, n_users=50):
    """Runs graft.tools.ScaleGen and compares its documents and events,
    column by column, with scalegen.py's for the same sizes and seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = os.path.abspath(tmp)
    out = os.path.join(tmp, "scalegen")
    cp = os.pathsep.join([os.path.abspath(build.build())] + build.spark_classpath())
    cmd = (["java"] + add_opens() + ["-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graft.tools.ScaleGen", out, str(n_docs), "10", str(n_events), str(n_users), str(seed)])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=tmp, env=dict(os.environ, SPARK_GRAFT_MASTER="local[2]"))
    if p.returncode != 0:
        return [f"ScaleGen exited with {p.returncode}: {p.stdout[-2000:]}"]
    problems = []
    for name, ours, key in (("documents", scalegen.documents(seed, n_docs), "doc_id"),
                            ("events", scalegen.events(seed, n_events, n_users), "event_id")):
        theirs = pq.read_table(os.path.join(out, f"{name}.parquet")).sort_by(key).to_pydict()
        ours = pa.table(ours).to_pydict()
        for col, xs in ours.items():
            ys = theirs.get(col)
            if col == "ts":  # ScaleGen's INT96 timestamps read back naive, in UTC
                ys = [y.replace(tzinfo=None) for y in ys]
            if xs != ys:
                problems.append(f"scalegen {name}.{col} differs from ScaleGen's")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=4)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    bdir = build.build_dir()
    os.makedirs(bdir, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=bdir) as tmp:
        problems = check_scalegen(tmp)
        print(f"scalegen: {'ok' if not problems else 'FAIL'}")
        for p in problems:
            print(f"  {p}")
        failed = bool(problems)
        for w in workloads:
            problems = []
            for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
                rec_path = os.path.join(tmp, f"{w}-{trace}.json")
                out, err = run(w, trace, a.seconds, rec_path)
                if err:
                    problems.append(f"trace {trace}: {err}")
                    continue
                if not out["correct"]:
                    problems.append(f"trace {trace}: incorrect output")
                problems += [f"trace {trace}: {p}" for p in check_metrics(out, declared)]
                if trace:
                    with open(rec_path) as fh:
                        problems += check_spans(json.load(fh))
            print(f"{w}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
