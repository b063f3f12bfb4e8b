"""Pure logic of the DP-release benchmark: percentiles, span self time,
failure counting and the metric summary. No Spark, no I/O; see
dpbench/tests/test_benchlib.py."""
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(path=os.path.join(ROOT, "BENCHMARK.json")):
    with open(path) as fh:
        return json.load(fh)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(xs, target=0.9, min_beyond=10):
    """Highest percentile at or below `target` that has at least
    `min_beyond` samples beyond it, by nearest rank; never below the median.

    Returns (value, level, beyond): the sample reported, the rank level it
    stands for, and how many samples exceed its rank."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0
    k = max(0, math.ceil(target * n) - 1)           # nearest-rank index of target
    k = min(k, n - 1 - min_beyond)                  # leave min_beyond beyond it
    k = max(k, n // 2)                              # never below the (upper) median
    return s[k], (k + 1) / n, n - 1 - k


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    counted once). `spans` are dicts with id, start, end, parent."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length([(max(c["start"], s), min(c["end"], e))
                                for c in kids.get(sp["id"], [])])
        out[sp["id"]] = (e - s) - covered
    return out


def layer_of(name):
    """Layer of a span name: the module before the first dot. A release's
    own self time is the part no layer call covers."""
    if name == "release":
        return "unattributed"
    if name == "run":
        return "between_releases"
    return name.split(".")[0] if "." in name else name


def layer_report(spans):
    """Self time and span count per layer."""
    st = self_times(spans)
    rep = {}
    for sp in spans:
        r = rep.setdefault(layer_of(sp["name"]), {"self_s": 0.0, "count": 0})
        r["self_s"] += st[sp["id"]]
        r["count"] += 1
    return rep


def count_failures(releases, checks):
    """attempted/failed over timed releases plus output checks. A failed
    release counts as failed and is never timed; a wrong output counts as a
    failed release too."""
    attempted = len(releases) + len(checks)
    failed = sum(1 for r in releases if not r["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def _records(lines):
    by = {}
    for rec in lines:
        by.setdefault(rec["type"], []).append(rec)
    return by


def end_to_end(recs):
    """End-to-end metrics of an untraced-or-traced run from its records."""
    by = _records(recs)
    timed = [r for r in by.get("release", []) if not r.get("traced")]
    ok = [r for r in timed if r["ok"]]
    durations = [r["end"] - r["start"] for r in ok]
    setup = by["setup"][0]
    gen = setup["gen_s"]
    passes = [p["wall_s"] for p in by.get("pass", []) if not p["traced"]]
    p90, _, _ = tail_percentile(durations)
    util = by.get("utility", [])
    return {
        "setup_s": by["session"][0]["s"] + (median(gen) if gen else 0.0) + setup["warm_s"],
        "wall_s": median(passes),
        "rows_per_s": (sum(r["input_rows"] for r in ok) / sum(durations)) if durations else float("nan"),
        "release_p50_s": median(durations),
        "release_p90_s": p90,
        "peak_rss_mb": by["rss"][0]["peak_mb"],
        "count_rel_error_p50": util[0]["count_rel_error_p50"] if util else float("nan"),
    }


def per_layer(recs, cores):
    """Per-layer metrics of the traced pass (summed over its releases), plus
    family times per untraced pass and the trace accounting."""
    by = _records(recs)
    traced = [r for r in by.get("release", []) if r.get("traced") and r["ok"]]
    spans = by.get("span", [])
    st = self_times(spans)
    names = {sp["id"]: sp["name"] for sp in spans}

    def span_sum(name):
        return sum(sp["end"] - sp["start"] for sp in spans if sp["name"] == name)

    def tot(key):
        return float(sum(r.get(key, 0) for r in traced))

    job_s = 0.0
    for rid in {r["id"] for r in traced}:
        job_s += union_length([(sp["start"], sp["end"]) for sp in spans
                               if sp["name"] == "exec.job" and sp["release"] == rid])
    # releases the benchmark builds through DPEngine.aggregate with private
    # partitions: one selection draw per candidate partition, then one noise
    # draw per released partition and metric column
    dp = [r for r in traced if r.get("metric_cols", 0) > 0]
    candidates = sum(r["dp.merge.rows_out"] for r in dp)
    selected = sum(r["dp.select.rows_out"] for r in dp)
    noise_calls = sum(r["dp.merge.rows_out"] + r["dp.select.rows_out"] * r["metric_cols"]
                      for r in dp)
    bounding = by.get("bounding", [])
    timed = [r for r in by.get("release", []) if not r.get("traced") and r["ok"]]
    n_passes = max(1, len({r["pass"] for r in timed}))
    untraced_pass = median([p["wall_s"] for p in by.get("pass", []) if not p["traced"]])
    traced_pass = [p["wall_s"] for p in by.get("pass", []) if p["traced"]]
    traced_wall = traced_pass[0] if traced_pass else float("nan")
    exec_s = span_sum("exec")
    cpu_s = tot("cpu_s")
    m = {
        "entry.construct_s": span_sum("entry.construct"),
        "entry.construct_jobs": tot("construct_jobs"),
        "core.budgets_s": span_sum("core.budgets"),
        "core.mechanisms": tot("mechanisms"),
        "plan.analyze_s": span_sum("plan.analyze"),
        "plan.optimize_s": span_sum("plan.optimize"),
        "plan.physical_s": span_sum("plan.physical"),
        "plan.operators": tot("plan.operators"),
        "plan.exchanges": tot("plan.exchanges"),
        "plan.windows": tot("plan.windows"),
        "exec.s": exec_s,
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.cpu_s": cpu_s,
        "exec.cpu_util": cpu_s / (job_s * cores) if job_s > 0 else 0.0,
        "exec.gc_s": tot("gc_s"),
        "exec.shuffle_write_records": tot("shuffle_write_records"),
        "exec.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "exec.shuffle_read_records": tot("shuffle_read_records"),
        "exec.spill_bytes": tot("spill_bytes"),
        "exec.task_skew": max([r.get("task_skew", 0.0) for r in traced] or [0.0]),
        "dp.linf.rows_out": tot("dp.linf.rows_out"),
        "dp.linf.sort_s": tot("dp.linf.sort_s"),
        "dp.l0.rows_out": tot("dp.l0.rows_out"),
        "dp.l0.sort_s": tot("dp.l0.sort_s"),
        "dp.bound.kept_share": (bounding[0]["kept_rows"] / bounding[0]["input_rows"]) if bounding else 0.0,
        "dp.merge.rows_out": tot("dp.merge.rows_out"),
        "dp.merge.agg_s": tot("dp.merge.agg_s"),
        "dp.public.rows_out": tot("dp.public.rows_out"),
        "dp.select.kept_share": (selected / candidates) if candidates else 0.0,
        "dp.noise.calls": noise_calls,
        "host.control_s": median(by["control"][0]["s"]),
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_pass,
        "trace.unattributed_s": sum(st[i] for i, n in names.items() if n == "release"),
    }
    for fam in ("dp_aggregate", "range_tree", "ldp", "continual", "ops"):
        m[f"family.{fam}_s"] = sum(r["end"] - r["start"] for r in timed if r["family"] == fam) / n_passes
    return m


def signature(recs):
    """Per-release counts of the traced pass, keyed by release name."""
    keys = ("jobs", "stages", "tasks", "plan.operators", "plan.exchanges", "plan.windows")
    return {r["name"]: {k: r.get(k) for k in keys}
            for r in recs if r["type"] == "release" and r.get("traced") and r["ok"]}


def result_line(correct, attempted, failed, values, spec_metrics):
    """The final JSON line: exactly the metrics named in BENCHMARK.json."""
    metrics = {}
    for m in spec_metrics:
        v = values[m["name"]]
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
