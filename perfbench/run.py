#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness
(``perfbench/build.py``), makes the workload's inputs from the seed,
measures set-up time, drives the workload for ``--seconds`` in one
harness JVM, checks every operation's output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics. Everything
it writes stays under ``.bench_build/`` and ``.bench_work/``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ["writer", "fold_views", "query_mix"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm_cmd(work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # ParallelGC: its heap sizing gives a steady peak RSS run to run (G1's
    # varied by ~20 %); a metaspace start size that set-up does not
    # outgrow, so set-up runs no full GCs; no perf-data file outside the
    # checkout
    return (["java", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC",
             "-XX:MetaspaceSize=256m", "-XX:-UsePerfData"] + opens +
            ["-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
             "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
             "-Dspark.ui.enabled=false",
             "-cp", build.runtime_classpath(), "perfbench.Harness"] + args)


def run_harness(work, args, log_name, timeout):
    """Run a harness JVM; return (seconds until READY, RESULT payload)."""
    log = open(os.path.join(work, log_name), "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(jvm_cmd(work, args), cwd=work, stdout=subprocess.PIPE,
                         stderr=log, text=True)
    ready = None
    result = None
    try:
        deadline = time.monotonic() + timeout
        for line in p.stdout:
            if line.startswith("READY") and ready is None:
                ready = time.perf_counter() - t0
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            if time.monotonic() > deadline:
                break
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if p.returncode != 0 or ready is None:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    return ready, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = load_spec()
    build.build()
    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = []
    if a.workload == "query_mix":
        import gen_tables
        data = os.path.join(work, "data")
        gen_tables.generate(data, a.seed)
        extra = ["--data", data]

    # setup_s: fresh JVM until the session is ready and the fixed warm-up
    # action has returned (one sample a run: a second JVM would cost ~9 s
    # of the run budget). The harness may take the budget plus 166 s, so
    # a run at the default 4 s ends within 180 s.
    setup, r = run_harness(work, ["--workload", a.workload, "--seed",
                                  str(a.seed), "--seconds", str(a.seconds),
                                  "--trace", str(a.trace), "--work", work] + extra,
                           "harness.log", a.seconds + 166)
    if r is None:
        raise SystemExit("harness printed no result")

    attempted, failed = r["attempted"], r["failed"]
    if a.workload == "query_mix":
        import oracle
        checked, bad = oracle.check(data, os.path.join(work, "query", "results"))
        attempted += checked
        failed += bad

    e2e = dict(r["e2e"], setup_s=setup, peak_rss_mb=r["peak_rss_mb"])
    e2e_names = [m["name"] for m in spec["end_to_end"]]
    # the untraced run of a seed leaves its end-to-end values behind; the
    # traced run of the same seed reports its own and the difference
    untraced_file = os.path.join(ROOT, ".bench_work",
                                 f"e2e-{a.workload}-{a.seed}.json")
    overhead = None
    if a.trace:
        r["layers"].update({f"trace.{k}": e2e[k] for k in e2e_names})
        metrics = {m["name"]: (r["layers"].get(m["name"]) or 0.0, m["unit"])
                   for m in spec["per_layer"]}
        if os.path.exists(untraced_file):
            with open(untraced_file) as f:
                untraced = json.load(f)
            overhead = {k: e2e[k] - untraced[k] for k in e2e_names}
    else:
        metrics = {m["name"]: (e2e[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
        missing = [k for k, (v, _) in metrics.items() if not v or v <= 0]
        if missing:
            raise SystemExit(f"no measurement for {missing}")
        with open(untraced_file, "w") as f:
            json.dump({k: e2e[k] for k in e2e_names}, f)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(ROOT, ".bench_work",
                                        f"spans-{a.workload}-{a.seed}.jsonl"))
    if failed:
        sys.stderr.write(f"{failed} check(s) failed; logs kept in {work}\n")
    else:
        shutil.rmtree(work, ignore_errors=True)
    # details first (seed, raw samples), the contract line last
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace,
                      "measured_s": r["measured_s"], "samples": r["samples"],
                      "layers": r["layers"], "trace_overhead": overhead}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
