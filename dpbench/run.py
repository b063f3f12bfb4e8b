#!/usr/bin/env python3
"""DP-release benchmark.

Usage, from the repository root:

    python3 dpbench/run.py --workload dp_bound_heavy --seed 1 --seconds 16 --trace 0

Builds the program from source (dpbench/build.py), runs one workload in one
local[N] Spark JVM (N = cores), checks the outputs, prints every metric with
its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json; with --trace 1, the per-layer ones.
Exits non-zero on a failed or wrong release. Workloads and metrics are
described in dpbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("dp_bound_heavy", "entry_mix")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
SAMPLE = os.path.join(HERE, "entry_mix_sample.txt")
SIGNATURES = os.path.join(HERE, "signatures")
JVM_DEADLINE_S = 170  # a run ends within 180 s once built
HEAP = "3g"  # -Xms = -Xmx: the heap never resizes, so peak RSS is steadier

JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xss8m",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]


def log(msg):
    print(f"[dpbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(args, work, deadline):
    """Runs the JVM side; returns its record list. Kills it at the deadline."""
    records = os.path.join(work, "records.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"] + JVM_OPTS +
           ["-cp", build.classpath(), "dpbench.DpBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--records", records, "--data", DATA_DIR, "--sample", SAMPLE])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"benchmark JVM ended with {rc}")
    with open(records) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def compare_signature(workload, sig):
    """Reports whether the traced pass repeats the committed count signature."""
    path = os.path.join(SIGNATURES, f"{workload}.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        want = json.load(fh)["repeating"]
    diffs = [f"{rel}.{k}: {v} -> {sig.get(rel, {}).get(k)}"
             for rel, counts in want.items() for k, v in counts.items()
             if sig.get(rel, {}).get(k) != v]
    log("count signature " + ("matches " + path if not diffs else "differs: " + "; ".join(diffs)))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    spec = benchlib.load_spec()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources (src/main/scala) next to the benchmark")
        return 2
    try:
        build.ensure_built()
    except RuntimeError as e:
        log(f"build failed: {e}")
        return 2
    deadline = time.time() + JVM_DEADLINE_S
    work = os.path.join(build.BUILD_DIR, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        recs = run_jvm(args, work, deadline)
        checks = [r for r in recs if r["type"] == "check"]
        outputs = [r for r in recs if r["type"] == "output"]
        if outputs:
            t0 = time.time()
            checks += oracle.check_outputs(outputs, DATA_DIR)
            log(f"oracle check of {len(outputs)} outputs took {time.time() - t0:.2f}s; slowest "
                "warm-pass queries: " + ", ".join(f"{o['name']} {o['s']:.2f}s" for o in
                                                  sorted(outputs, key=lambda o: -o["s"])[:8]))
    except RuntimeError as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    releases = [r for r in recs if r["type"] == "release"]
    attempted, failed = benchlib.count_failures(releases, checks)
    for c in checks:
        if not c["ok"]:
            log(f"WRONG {c['name']}: {c['detail']}")
        elif "s" in c:
            log(f"check {c['name']} ok in {c['s']:.2f}s: {c['detail']}")
    for r in releases:
        if not r["ok"]:
            log(f"FAILED release {r['id']}: {r['error']}")
    cores = next(r["cores"] for r in recs if r["type"] == "session")
    durations = [r["end"] - r["start"] for r in releases if r["ok"] and not r["traced"]]
    _, level, beyond = benchlib.tail_percentile(durations)
    control = next(r["s"] for r in recs if r["type"] == "control")
    phases = {r["type"]: r for r in recs if r["type"] in ("session", "setup", "timed", "checked")}
    passes = [round(r["wall_s"], 3) for r in recs if r["type"] == "pass" and not r["traced"]]
    log(f"phases: session {phases['session']['s']:.2f}s, generate {phases['setup']['gen_s']}, "
        f"warm {phases['setup']['warm_s']:.2f}s, checks {phases['checked']['s']:.2f}s, "
        f"timed {phases['timed']['wall_s']:.2f}s in passes of {passes}")
    log(f"{args.workload} seed={args.seed}: {len(durations)} timed releases; "
        f"release_p90_s is the p{100 * level:.0f} ({beyond} beyond); "
        f"error_rate={failed / attempted:.4f} ({failed}/{attempted}); "
        f"host.control_s={benchlib.median(control):.4f}")
    if args.trace:
        values = benchlib.per_layer(recs, cores)
        spans = [r for r in recs if r["type"] == "span"]
        for layer, v in sorted(benchlib.layer_report(spans).items()):
            log(f"layer {layer:18s} self_s={v['self_s']:.4f} spans={v['count']}")
        sig = benchlib.signature(recs)
        out = os.path.join(build.BUILD_DIR, "trace")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-{args.seed}.spans.jsonl"), "w") as fh:
            fh.writelines(json.dumps(sp) + "\n" for sp in spans)
        with open(os.path.join(out, f"{args.workload}-{args.seed}.signature.json"), "w") as fh:
            json.dump(sig, fh, indent=1, sort_keys=True)
        compare_signature(args.workload, sig)
        metrics = spec["per_layer"]
    else:
        values = benchlib.end_to_end(recs)
        metrics = spec["end_to_end"]
    for m in metrics:
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
    correct = failed == 0
    print(benchlib.result_line(correct, attempted, failed, values, metrics), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
