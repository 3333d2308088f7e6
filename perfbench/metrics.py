"""Derives the benchmark's metrics from the raw record the JVM side writes.

End-to-end metrics come from the untraced run's own timings; per-layer
metrics from the traced run's spans and the listener's per-job-group totals.
A per-layer metric of a layer the workload never calls reads 0.
"""
import math
import statistics

# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "recall": "ratio",
    "stored_bytes_per_raw_byte": "ratio",
}

PER_LAYER = {
    "fixture.generate_s": "s",
    "sources.write_s": "s",
    "search.postings_build_s": "s",
    "sources.cheap_bytes_per_row": "B",
    "sources.full_bytes_per_row": "B",
    "refine.cheap_s": "s",
    "refine.fetched_s": "s",
    "refine.rank_s": "s",
    "refine.survivors_per_query": "count",
    "refine.filter_pass_ratio": "ratio",
    "refine.fetch_useful_ratio": "ratio",
    "refine.exact_s": "s",
    "refine.vs_exact_ratio": "ratio",
    "refine.save_modeled": "ratio",
    "refine.save_measured": "ratio",
    "spark.jobs_per_call": "count",
    "spark.stages_per_call": "count",
    "spark.tasks_per_call": "count",
    "spark.driver_gap_s": "s",
    "spark.codegen_compiles_per_call": "count",
    "spark.task_cpu_s_per_call": "s",
    "spark.executor_busy_frac": "ratio",
    "spark.shuffle_bytes_per_call": "B",
    "search.serve_s": "s",
    "sources.commit_s": "s",
    "sources.commit_rewrite_bytes_per_row": "B",
    "jvm.gc_s_per_call": "s",
    "bench.self_s_per_op": "s",
    "trace.overhead_s_per_call": "s",
}

# spans whose Spark work is "one call" for the spark.* metrics
CALL_SPANS = ("refine.call", "search.serve")
# spans wrapping one closed-loop operation; their self time is the
# benchmark's own work around the calls
OP_SPANS = ("refine.batch", "serve.op", "commit.op")


# ---- helpers ---------------------------------------------------------------

def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def ratio(num, den):
    """num / den, or 0 when there is no base (the layer did no work)."""
    return num / den if den else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, beyond=10):
    """The highest whole percentile with at least `beyond` of `n` samples
    above it, or None when there are too few samples for one above p0."""
    for p in range(99, 0, -1):
        if n - 1 - math.floor((n - 1) * p / 100.0) >= beyond:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


# ---- derivation ------------------------------------------------------------

def end_to_end(raw):
    ops = raw["ops"]
    queries = [o["dur_s"] for o in ops if o["kind"] == "query"]
    return {
        "setup_s": statistics.median(b["total_s"] for b in raw["builds"])
                   + raw["warmup_s"],
        "query_p50_s": statistics.median(queries),
        "queries_per_s": ratio(sum(o["queries"] for o in ops),
                               sum(o["dur_s"] for o in ops)),
        "recall": mean(raw["recall"]),
        "stored_bytes_per_raw_byte": ratio(raw["stored_bytes"],
                                           raw["raw_bytes"]),
    }


def with_self_times(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return [dict(s, self_ms=self_time((s["start_ms"], s["end_ms"]),
                                      kids.get(s["id"], [])))
            for s in spans]


def per_layer(raw):
    spans = with_self_times(raw["spans"])
    layer = raw["layer"]
    groups = raw["groups"]
    jobs_of = {}
    for j in raw["jobs"]:
        jobs_of.setdefault(j["group"], []).append((j["start_ms"], j["end_ms"]))

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    def mean_dur(name):
        return mean(dur(s) for s in spans if s["name"] == name)

    calls = [s for s in spans if s["name"] in CALL_SPANS]

    def per_call(f):
        return mean(f(s, groups.get(f"span-{s['id']}", {})) for s in calls)

    batches = layer.get("batches", [])
    fetched = sum(b["fetched"] for b in batches)
    nq = sum(b["n"] * b["q"] for b in batches)
    kq = sum(b["k"] * b["q"] for b in batches)
    cheap_b = layer.get("cheap_bytes_per_row", 0.0)
    full_b = layer.get("full_bytes_per_row", 0.0)
    # refine.exact and refine.call are siblings under one refine.batch
    vs_exact = []
    for bs in (s for s in spans if s["name"] == "refine.batch"):
        kid = {s["name"]: dur(s) for s in spans if s["parent"] == bs["id"]}
        vs_exact.append(ratio(kid.get("refine.exact", 0.0),
                              kid.get("refine.call", 0.0)))
    commits = layer.get("commits", [])
    cores = raw["cores"]
    return {
        "fixture.generate_s": mean_dur("fixture.generate"),
        "sources.write_s": mean_dur("sources.write"),
        "search.postings_build_s": mean_dur("search.postings_build"),
        "sources.cheap_bytes_per_row": cheap_b,
        "sources.full_bytes_per_row": full_b,
        "refine.cheap_s": mean_dur("refine.cheap"),
        "refine.fetched_s": mean_dur("refine.fetched"),
        "refine.rank_s": (mean_dur("refine.topk") - mean_dur("refine.fetched")
                          if batches else 0.0),
        "refine.survivors_per_query": mean(b["fetched"] / b["q"]
                                           for b in batches),
        "refine.filter_pass_ratio": ratio(fetched, nq),
        "refine.fetch_useful_ratio": ratio(kq, fetched),
        "refine.exact_s": mean_dur("refine.exact"),
        "refine.vs_exact_ratio": mean(vs_exact),
        "refine.save_modeled": mean(layer.get("save_modeled", {}).values()),
        # the model's formula with footer bytes in place of modeled ones,
        # on the batch the model ran on (the first)
        "refine.save_measured": mean(
            1.0 - ratio(cheap_b * b["n"] * b["q"] + full_b * b["fetched"],
                        full_b * b["n"] * b["q"])
            for b in batches[:1]),
        "spark.jobs_per_call": per_call(lambda s, g: g.get("jobs", 0)),
        "spark.stages_per_call": per_call(lambda s, g: g.get("stages", 0)),
        "spark.tasks_per_call": per_call(lambda s, g: g.get("tasks", 0)),
        "spark.driver_gap_s": per_call(lambda s, g: dur(s) - union_length(
            clip(jobs_of.get(f"span-{s['id']}", []), s["start_ms"],
                 s["end_ms"])) / 1000.0),
        "spark.codegen_compiles_per_call": per_call(
            lambda s, g: s["codegen_compiles"]),
        "spark.task_cpu_s_per_call": per_call(
            lambda s, g: g.get("cpu_ns", 0) / 1e9),
        "spark.executor_busy_frac": per_call(
            lambda s, g: ratio(g.get("run_ms", 0) / 1000.0, dur(s) * cores)),
        "spark.shuffle_bytes_per_call": per_call(
            lambda s, g: g.get("shuffle_write_bytes", 0)),
        "search.serve_s": mean_dur("search.serve"),
        "sources.commit_s": mean_dur("sources.commit"),
        "sources.commit_rewrite_bytes_per_row": ratio(
            sum(c["rewrite_bytes"] for c in commits),
            sum(c["rows"] for c in commits)),
        "jvm.gc_s_per_call": per_call(lambda s, g: s["gc_ms"] / 1000.0),
        "bench.self_s_per_op": mean(s["self_ms"] / 1000.0 for s in spans
                                    if s["name"] in OP_SPANS),
        "trace.overhead_s_per_call": mean(
            t - u for t, u in layer.get("overhead_pairs", [])),
    }


def report(raw):
    """(metrics dict, extra human-readable lines) for one run."""
    ops = raw["ops"]
    attempted = raw["attempted"]
    failed = len(raw["failures"])
    lines = [f"failed_frac {ratio(failed, attempted):.4f} ratio "
             f"({failed} of {attempted} checked operations)"]
    if raw["traced"]:
        vals, units = per_layer(raw), PER_LAYER
    else:
        vals, units = end_to_end(raw), END_TO_END
        for i, st in enumerate(raw["builds"]):
            lines.append(f"build {i + 1}: " + " ".join(
                f"{k} {v:.3f}" for k, v in sorted(st.items())))
        lines.append(f"warmup_s {raw['warmup_s']:.3f}")
        lines.append("ops: " + " ".join(
            f"{o['name']} {o['dur_s']:.3f}" for o in ops))
        commits = [o["dur_s"] for o in ops if o["kind"] == "commit"]
        if commits:
            lines.append(f"commit_p50_s {statistics.median(commits):.4f} s "
                         f"({len(commits)} commits)")
        q = sorted(o["dur_s"] for o in ops if o["kind"] == "query")
        p = tail_percentile(len(q))
        lines.append(
            f"query_tail_s {percentile(q, p):.4f} s (p{p} of {len(q)} calls)"
            if p else f"query_tail_s n/a ({len(q)} calls; a percentile with "
                      "ten calls beyond it needs at least 11)")
    metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
    return metrics, lines
