#!/usr/bin/env python3
"""The pipeline benchmark: one command, one workload, one run.

    python3 perfbench/run.py --workload scene_resample --seed 1 \
        --seconds 15 --trace 0

Builds the program from source on first use (perfbench/build.py),
generates the run's inputs from the seed (perfbench/gen.py), runs the
benchmark harness (perfbench/scala) in its own JVM, checks the outputs
(perfbench/check.py), and prints a readable report followed by one JSON
line: every end-to-end metric with --trace 0, every per-layer metric
with --trace 1.  Run from the root of a checkout; everything it writes
stays under perfbench/.  See perfbench/NOTES.md for what is measured.
"""
import argparse
import collections
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CORES = 4
DEADLINE_S = 170  # the whole run, build excluded
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "msgs_per_s": "1/s", "msg_p50_s": "s",
              "heap_retained_mb": "MB"}


def layer_units(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("amplification"):
        return "ratio"
    return "count"


def run_jvm(args, work, result, deadline):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: C2's warm-up of Spark's planning code outlasts a run, and
    # while it compiles, latency drifts down run-long (see NOTES.md)
    cmd = ["java", *opens, "-Xmx1g", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "perfbench.PerfBench",
           args.workload, work, str(args.seconds), str(args.trace),
           str(CORES), result]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            cwd=work, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = "timeout"
    log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"perfbench: harness JVM failed ({code})")


def group_reasons(ops):
    """Abort reasons, grouped with digits folded, most frequent first."""
    c = collections.Counter(re.sub(r"\d+", "#", o["reason"])
                            for o in ops if o["status"] != "ok")
    return c.most_common()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--report", help="also write every computed metric here")
    args = ap.parse_args()

    build.build()  # once per checkout; not part of set-up
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report(args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, work, deadline):
    sp = gen.spec(args.workload)
    t0 = time.monotonic()
    in_dir = gen.generate(args.workload, args.seed, os.path.join(work, "in"))
    gen_s = time.monotonic() - t0
    result = os.path.join(work, "result.json")
    run_jvm(args, work, result, deadline)
    with open(result) as fh:
        res = json.load(fh)

    problems = check.pipeline(res, in_dir, sp)
    q_problems = check.queries(res, in_dir)
    ops = res["ops"]
    bad_ops = {oid for oid, _ in problems if oid is not None}
    failed = sum(o["status"] == "failed" or o["id"] in bad_ops for o in ops)
    q_runs = res.get("queries", {}).get("runs", {})
    q_failed = len({name for name, _ in q_problems})
    problems += q_problems
    ok_lat = [o["latency_s"] for o in ops
              if o["status"] == "ok" and o["id"] not in bad_ops]
    e2e = {
        "setup_s": gen_s + res["jvm_uptime_at_main_s"] + res["session_s"] +
        res["warmup_s"],
        "msgs_per_s": len(ok_lat) / res["timed_s"],
        "msg_p50_s": metrics.median(ok_lat),
        "heap_retained_mb": res["heap_retained_mb"],
    }
    out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    cells = len(sp["products"]) * sp["n"] * sp["n"]
    layers = {}
    if args.trace:
        layers, self_sum = metrics.layer_metrics(res, cells, CORES)
        if self_sum > res["timed_s"] * (1 + 1e-9):
            problems.append((None, f"span self times {self_sum:.3f}s exceed "
                             f"the timed wall {res['timed_s']:.3f}s"))
        print(f"trace: span self times {self_sum:.3f}s of "
              f"{res['timed_s']:.3f}s timed wall")
        layers.update(metrics.query_metrics(res, gen.RASTER_QUERIES))
        out = {k: {"value": v, "unit": layer_units(k)} for k, v in layers.items()}
    correct = not problems and bool(ops)

    n = len(ops)
    n_ok = sum(o["status"] == "ok" for o in ops)
    n_rej = sum(o["status"] == "rejected" for o in ops)
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} seconds={args.seconds}")
    for k, v in e2e.items():
        print(f"  {k:<18} {v:12.4f} {END_TO_END[k]}")
    print("  latencies_s        " + " ".join(f"{o['latency_s']:.3f}" for o in ops))
    tail = metrics.tail_percentile(ok_lat)
    if tail:
        print(f"  msg_tail_s         {tail[1]:12.4f} s   (p{tail[0]}, n={tail[2]})")
    else:
        print(f"  msg_tail_s         omitted: n={len(ok_lat)} leaves no "
              "percentile above p50 with 10 messages beyond")
    print(f"  fail_frac          {failed / max(1, n):12.4f} ratio "
          f"(attempted={n} ok={n_ok} rejected={n_rej} failed={failed})")
    for reason, count in group_reasons(ops):
        print(f"  abort x{count}: {reason}")
    if q_runs:
        print(f"  raster queries     cold pass {res['queries']['cold_pass_s']:.3f} s, "
              f"measured pass {sum(r['s'] for r in q_runs.values()):.3f} s "
              f"(attempted={len(q_runs)} failed={q_failed})")
    for oid, text in problems:
        print(f"  CHECK FAILED {oid or ''}: {text}")
    if args.report:
        with open(args.report, "w") as fh:
            json.dump({"end_to_end": e2e, "per_layer": layers,
                       "attempted": n + len(q_runs),
                       "failed": failed + q_failed}, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": n + len(q_runs),
                      "failed": failed + q_failed, "metrics": out}))


if __name__ == "__main__":
    main()
