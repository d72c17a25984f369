#!/usr/bin/env python3
"""Median, quartiles and spread of every metric over a set of runs.

    python3 perfbench/summarize.py [runs-dir] [--json out.json]

Reads the run records run.py writes (default
$CARGO_TARGET_DIR/perfbench/runs, CARGO_TARGET_DIR defaulting to
.bench_build) and prints, per workload and trace mode, each metric's
median, first and third quartile (`statistics.quantiles(n=4)`) and the
spread (Q3 − Q1) / median, with the seeds and host calibration range.
"""
import argparse
import glob
import json
import os
import statistics


# reported by an untraced run but not bounded (README)
UNBOUNDED = {"call_s.p50": ("s", lambda r: r["call_s"]["p50"]),
             "call_s.p90": ("s", lambda r: r["call_s"]["p90"]),
             "peak_rss_mb": ("MB", lambda r: r["peak_rss_mb"])}


def summarize(runs_dir):
    groups = {}
    for f in sorted(glob.glob(os.path.join(runs_dir, "*.json"))):
        r = json.load(open(f))
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    out = {}
    for (w, t), rs in sorted(groups.items()):
        metrics = {}
        for k in list(rs[0]["metrics"]) + (list(UNBOUNDED) if t == 0 else []):
            if k in UNBOUNDED:
                unit, get = UNBOUNDED[k]
                vs = [get(r) for r in rs]
            else:
                unit = rs[0]["metrics"][k]["unit"]
                vs = [r["metrics"][k]["value"] for r in rs if k in r["metrics"]]
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            metrics[k] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0, "n": len(vs),
                          "bounded": k not in UNBOUNDED}
        cal = [r[h]["calibration_s"] for r in rs for h in ("host_before", "host_after")]
        out[f"{w}/t{t}"] = {
            "seeds": [r["seed"] for r in rs],
            "correct": all(r["correct"] for r in rs),
            "calibration_s": [min(cal), max(cal)],
            "metrics": metrics,
        }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("runs", nargs="?", default=os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "runs"))
    ap.add_argument("--json")
    a = ap.parse_args()
    s = summarize(a.runs)
    for g, v in s.items():
        print(f"== {g}  seeds={v['seeds']} correct={v['correct']} "
              f"calibration_s={v['calibration_s'][0]:.3f}..{v['calibration_s'][1]:.3f}")
        for k, m in v["metrics"].items():
            print(f"  {k:28s} {m['median']:12.6g} {m['unit']:6s} "
                  f"q1={m['q1']:.6g} q3={m['q3']:.6g} spread={m['spread']:.3f}"
                  + ("" if m["bounded"] else "  (unbounded)"))
    if a.json:
        with open(a.json, "w") as f:
            json.dump(s, f, indent=1)


if __name__ == "__main__":
    main()
