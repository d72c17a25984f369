"""Turns the harness record of one run into the benchmark's metrics."""
import statistics

LAYERS = ["tables", "profile", "cluster", "rules", "outlier", "matching", "eval",
          "pipeline", "dedup", "text", "sim", "streaming", "ops", "queries"]
LAYER_STATS = ["self_s", "jobs", "tasks", "task_s", "cpu_s", "shuffle_mb",
               "spill_mb", "wait_s"]
MB = 1e6


def _pct(xs, q):
    """Linear-interpolated percentile `q` (0..100) of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _pass_of(key):
    """Pass number of a call or probe key, or None."""
    head = key.split(":")[1] if key.startswith("probe:") else key.split(":")[0]
    return int(head) if head.isdigit() else None


def _stability(h, calls):
    """Per call: whether jobs, stages, tasks and shuffle bytes repeat
    exactly across the passes of the run."""
    per = {}
    for a in h["accs"]:
        p = _pass_of(a["key"])
        if p is None or a["key"].startswith("probe:"):
            continue
        name = a["key"].split(":", 1)[1]
        c = per.setdefault(name, {}).setdefault(p, [0, 0, 0, 0])
        x = a["acc"]
        c[0] += x["jobs"]
        c[1] += x["stages"]
        c[2] += x["tasks"]
        c[3] += x["shuffle_read"] + x["shuffle_write"]
    out = {}
    for n in calls:
        passes = per.get(n, {})
        cols = list(zip(*passes.values())) if passes else [(), (), (), ()]
        # exact: the count repeated in every pass; None: one pass only
        out[n] = {k: {"exact": (len(set(v)) == 1) if len(v) > 1 else None,
                      "values": list(v)}
                  for k, v in zip(["jobs", "stages", "tasks", "shuffle_bytes"], cols)}
    return out


def summarize(h, wl, input_rows, mismatch, expected_rows, traced, cores):
    """`mismatch`: call → why its set-up output differs from the oracle;
    `expected_rows`: call → the oracle's row count."""
    names = [n for n, _ in wl.calls]
    calls = h["calls"]
    # an execution fails when it threw, when it forced another row count
    # than the oracle's, or when the call's set-up output was wrong
    def bad(name, rows):
        return rows < 0 or rows != expected_rows.get(name) or name in mismatch
    failed = sum(1 for c in calls if bad(c["name"], c["rows"]))
    setup_bad = [n for n in names if bad(n, h["setup_rows"].get(n, -1))]
    attempted = len(calls)
    # traced runs trace passes 2, 4, …
    traced_passes = [p for p in range(2, h["passes"] + 1, 2) if traced]
    untraced_passes = [p for p in range(1, h["passes"] + 1) if p not in traced_passes]
    pass_s = h["pass_s"]
    call_s = [c["s"] for c in calls if c["rows"] >= 0]

    def pass_sum(field, p):
        return sum(a["acc"][field] for a in h["accs"]
                   if _pass_of(a["key"]) == p and not a["key"].startswith("probe:"))

    # a pass is estimated call by call: each call's median over the
    # passes, summed, so that a burst of host load that hits one call in
    # one pass and another call in the next moves neither
    def call_median(value, passes):
        return sum(statistics.median(value(c) for c in calls
                                     if c["name"] == n and c["pass"] in passes)
                   for n in names)
    cpu_of = {a["key"]: a["acc"]["cpu_ns"] for a in h["accs"] if not a["module"]}
    batch_s = call_median(lambda c: c["s"], untraced_passes)
    cpu_s = call_median(lambda c: cpu_of.get(f"{c['pass']}:{c['name']}", 0) / 1e9,
                        untraced_passes)
    rec = {
        "correct": failed == 0 and not setup_bad and not h["errors"],
        "attempted": attempted,
        "failed": failed,
        "mismatch": mismatch,
        "setup_mismatch": setup_bad,
        "expected_rows": expected_rows,
        "errors": h["errors"],
        "passes": h["passes"],
        "session_s": h["session_s"],
        "peak_rss_mb": h["peak_rss_kb"] / 1024,
        "pass_s": pass_s,
        "call_samples": len(call_s),
        # one call's wall time over every call of the run; not bounded
        # metrics (see README)
        "call_s": {"p50": _pct(call_s, 50), "p90": _pct(call_s, 90)},
        "calls": calls,
        "floor_s": h["floor_s"],
        "stability": _stability(h, names),
        "probe_counts": h.get("probe_counts", []),
    }
    if not traced:
        rec["metrics"] = {
            "setup_s": {"value": h["setup_s"], "unit": "s"},
            "batch_s": {"value": batch_s, "unit": "s"},
            "rows_per_s": {"value": input_rows / batch_s, "unit": "1/s"},
            "cpu_s": {"value": cpu_s, "unit": "s"},
            "ok_frac": {"value": 1 - failed / attempted, "unit": "frac"},
        }
        return rec

    home = dict(wl.calls)
    span_layer = {s["key"]: s["layer"] for s in h["spans"] if s["kind"] == "span"}

    def layer_of(key, module):
        if module:
            return module
        if key in span_layer and key.startswith("probe:"):
            return span_layer[key]
        name = key.split(":", 1)[1] if ":" in key else key
        return home.get(name, "queries")

    n_tr = len(traced_passes)
    m = {f"{l}.{s}": 0.0 for l in LAYERS for s in LAYER_STATS}
    listed = run_stages = failed_tasks = task_ms = 0
    for a in h["accs"]:
        if _pass_of(a["key"]) not in traced_passes:
            continue
        l = layer_of(a["key"], a["module"])
        if l not in LAYERS:
            continue
        x = a["acc"]
        m[f"{l}.jobs"] += x["jobs"]
        m[f"{l}.tasks"] += x["tasks"]
        m[f"{l}.task_s"] += x["task_ms"] / 1e3
        m[f"{l}.cpu_s"] += x["cpu_ns"] / 1e9
        m[f"{l}.shuffle_mb"] += (x["shuffle_read"] + x["shuffle_write"]) / MB
        m[f"{l}.spill_mb"] += x["spill"] / MB
        m[f"{l}.wait_s"] += x["wait_ms"] / 1e3
        listed += x["stages_listed"]
        run_stages += x["stages"]
        failed_tasks += x["failed_tasks"]
        if not a["key"].startswith("probe:"):
            task_ms += x["task_ms"]
    # self time: a span minus the jobs it submitted; a job is its own layer's
    jobs_of = {}
    for s in h["spans"]:
        if s["kind"] == "job":
            jobs_of.setdefault(s["key"], []).append(s)
    for s in h["spans"]:
        if s["kind"] != "span" or _pass_of(s["key"]) not in traced_passes:
            continue
        js = jobs_of.get(s["key"], [])
        own = (s["end"] - s["start"]) - _union((j["start"], j["end"]) for j in js)
        m[f"{s['layer']}.self_s"] += own / 1e3
        by_layer = {}
        for j in js:
            by_layer.setdefault(layer_of(j["key"], j["layer"]), []).append(
                (j["start"], j["end"]))
        for l, iv in by_layer.items():
            if l in LAYERS:
                m[f"{l}.self_s"] += _union(iv) / 1e3
    m = {k: v / n_tr for k, v in m.items()}
    traced_wall = sum(pass_s[p - 1] for p in traced_passes)
    floor_jobs = [a["acc"]["jobs"] for a in h["accs"] if a["key"].startswith("floor:")]
    cands = [v for k, v in h.get("probe_counts", []) if k == "dedup.candidates"]
    pairs = [v for k, v in h.get("probe_counts", []) if k == "dedup.pairs"]
    m.update({
        "engine.slot_util": task_ms / 1e3 / (traced_wall * cores),
        "engine.failed_tasks": failed_tasks / n_tr,
        "floor.call_s": statistics.median(h["floor_s"]),
        "floor.jobs": statistics.median(floor_jobs) if floor_jobs else 0,
        "dedup.pair_yield": (sum(pairs) / sum(cands)) if sum(cands) else 0.0,
        "ops.materialized_mb": statistics.median(
            h["materialized_bytes"][p - 1] for p in traced_passes) / MB,
        "ops.reuse_ratio": (listed - run_stages) / listed if listed else 0.0,
        "tables.input_rows": statistics.median(pass_sum("input_rows", p)
                                               for p in traced_passes),
        "trace_overhead_frac": call_median(lambda c: c["s"], traced_passes) / batch_s - 1,
    })
    units = {"self_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
             "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "wait_s": "s"}
    extra_units = {"engine.slot_util": "frac", "engine.failed_tasks": "count",
                   "floor.call_s": "s", "floor.jobs": "count", "dedup.pair_yield": "frac",
                   "ops.materialized_mb": "MB", "ops.reuse_ratio": "frac",
                   "tables.input_rows": "count", "trace_overhead_frac": "frac"}
    rec["metrics"] = {k: {"value": v, "unit": extra_units.get(k) or units[k.split(".")[1]]}
                      for k, v in m.items()}
    return rec


def lines(rec):
    """Human-readable lines printed before the result line."""
    out = [f"# {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
           f"passes={rec['passes']} calls={rec['call_samples']} "
           f"attempted={rec['attempted']} failed={rec['failed']}"]
    for k, v in rec["metrics"].items():
        out.append(f"#   {k:28s} {v['value']:.6g} {v['unit']}")
    out.append(f"# unbounded: call_s.p50 {rec['call_s']['p50']:.6g} s, "
               f"call_s.p90 {rec['call_s']['p90']:.6g} s "
               f"({rec['call_samples']} samples), "
               f"peak_rss_mb {rec['peak_rss_mb']:.6g} MB")
    varying = sorted(f"{n}.{k}" for n, st in rec["stability"].items()
                     for k, s in st.items() if s["exact"] is False)
    if rec["passes"] > 1:
        out.append("# counts that vary across passes: " + (", ".join(varying) or "none"))
    for tag in ("host_before", "host_after"):
        h = rec[tag]
        out.append(f"# {tag}: nproc={h['nproc']} load={h['loadavg'][0]:.2f} "
                   f"calibration={h['calibration_s']:.4f}s")
    for n, why in rec["mismatch"].items():
        out.append(f"# MISMATCH {n}: {why}")
    for n in rec["setup_mismatch"]:
        out.append(f"# MISMATCH {n}: set-up execution")
    for c in rec["calls"]:
        if c["rows"] >= 0 and c["rows"] != rec["expected_rows"].get(c["name"]):
            out.append(f"# MISMATCH {c['name']} pass {c['pass']}: {c['rows']} rows, "
                       f"oracle {rec['expected_rows'].get(c['name'])}")
    for k, why in rec["errors"]:
        out.append(f"# ERROR {k}: {why}")
    return out
