"""Turns the raw record of one benchmark JVM run into named metrics.

Pure functions, no I/O: the statistics (median, tail percentile, interval
union), the per-layer aggregation of spans and Spark stages, and the
validation of the result line the benchmark prints last.
"""

import json
import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10

LAYERS = ("gen", "lake.merge", "lake.maintenance", "lake.table",
          "engine.pipeline", "streaming.feed")
# (metric, unit, which direction is better)
COMMON = (("calls", "count", "higher"), ("wall_s", "s", "lower"),
          ("jobs", "count", "lower"), ("tasks", "count", "lower"),
          ("exec_cpu_s", "s", "lower"), ("exec_run_s", "s", "lower"),
          ("gc_s", "s", "lower"), ("shuffle_bytes", "bytes", "lower"),
          ("spill_bytes", "bytes", "lower"), ("driver_s", "s", "lower"),
          ("core_util", "ratio", "higher"))
# engine.pipeline reports its jobs as jobs_per_epoch (one call is one epoch)
SKIP_COMMON = {("engine.pipeline", "jobs")}
DOMAINS = ("person", "visit_occurrence", "condition_occurrence",
           "drug_exposure", "measurement")
EXTRA = (
    ("lake.merge.events", "events", "higher"),
    ("lake.merge.keys_per_event", "ratio", "higher"),
    ("lake.merge.bytes_written", "bytes", "lower"),
    ("lake.merge.buckets_touched", "count", "lower"),
    ("lake.merge.map_stage_s", "s", "lower"),
    ("lake.merge.write_stage_s", "s", "lower"),
    ("lake.maintenance.bytes_rewritten", "bytes", "lower"),
    ("lake.maintenance.delta_files_before", "count", "lower"),
    ("lake.table.manifest_read_s", "s", "lower"),
    ("lake.table.manifest_bytes", "bytes", "lower"),
    ("lake.table.lookup_buckets", "count", "lower"),
    ("lake.table.lookup_rows_read_per_hit", "ratio", "lower"),
    ("lake.table.delta_files", "count", "lower"),
    ("engine.pipeline.jobs_per_epoch", "count", "lower"),
) + tuple(("engine.pipeline.domain.%s.commit_offset_s" % d, "s", "lower")
          for d in DOMAINS) + (
    ("streaming.feed.poll_s", "s", "lower"),
    ("streaming.feed.mirror_s", "s", "lower"),
    ("streaming.feed.rows_per_increment", "rows", "higher"),
    ("trace.events_per_s", "events/s", "higher"),
    ("trace.epoch_s_p50", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.overhead_baseline_runs", "count", "higher"),
)


def per_layer_names():
    """Every per-layer metric as (name, unit, better), in a fixed order."""
    out = [("%s.%s" % (layer, m), unit, better) for layer in LAYERS
           for m, unit, better in COMMON if (layer, m) not in SKIP_COMMON]
    return out + list(EXTRA)


# (metric, unit, which direction is better)
END_TO_END = (("setup_s", "s", "lower"), ("events_per_s", "events/s", "higher"),
              ("epoch_s_p50", "s", "lower"),
              ("write_bytes_per_event", "bytes/event", "lower"),
              ("peak_rss_mb", "MB", "lower"))


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, pct):
    """Nearest-rank percentile."""
    v = sorted(xs)
    rank = max(1, math.ceil(pct / 100.0 * len(v)))
    return v[rank - 1]


def tail(xs):
    """The highest ladder percentile that has at least TAIL_MIN_BEYOND
    samples above its rank, as (percentile, value, sample count); None when
    even the median has fewer than that beyond it."""
    n = len(xs)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return pct, percentile(xs, pct), n
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_length([(c["start"], c["end"])
                              for c in children.get(s["id"], [])],
                             s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - cover
    return out


def _mean(total, calls):
    return total / calls if calls else 0.0


def layer_metrics(spans, jobs, stages, cores):
    """Per-layer metrics of a traced run. Times and counts are means per
    call; `calls` is the number of calls, `core_util` is executor run time
    over (wall time x cores)."""
    self_t = span_self_times(spans)
    by_span = {}
    for st in stages:
        by_span.setdefault(st["span"], []).append(st)
    jobs_of = {}
    for j in jobs:
        jobs_of[j["span"]] = jobs_of.get(j["span"], 0) + 1
    acc = {layer: dict.fromkeys(
        ("calls", "wall_s", "jobs", "tasks", "exec_cpu_s", "exec_run_s",
         "gc_s", "shuffle_bytes", "spill_bytes", "driver_s"), 0.0)
        for layer in LAYERS}
    attrs = {layer: {} for layer in LAYERS}
    names = {layer: {} for layer in LAYERS}
    stage_split = {"map": 0.0, "result": 0.0}
    for s in spans:
        layer = s["layer"]
        if layer not in acc:
            continue
        a = acc[layer]
        own = by_span.get(s["id"], [])
        a["calls"] += 1
        a["wall_s"] += self_t[s["id"]]
        a["jobs"] += jobs_of.get(s["id"], 0)
        for st in own:
            a["tasks"] += st.get("tasks", 0)
            a["exec_cpu_s"] += st.get("cpu_s", 0.0)
            a["exec_run_s"] += st.get("run_s", 0.0)
            a["gc_s"] += st.get("gc_s", 0.0)
            a["shuffle_bytes"] += st.get("shuffle_bytes", 0)
            a["spill_bytes"] += st.get("spill_bytes", 0)
        active = union_length([(st["start"], st["end"]) for st in own],
                              s["start"], s["end"])
        a["driver_s"] += max(0.0, self_t[s["id"]] - active)
        if layer == "lake.merge":
            for kind, flag in (("map", True), ("result", False)):
                stage_split[kind] += union_length(
                    [(st["start"], st["end"]) for st in own
                     if st["map"] == flag], s["start"], s["end"])
        for k, v in s.get("attrs", {}).items():
            attrs[layer].setdefault(k, []).append(v)
        names[layer].setdefault(s["name"], []).append(s)

    out = {}
    for layer in LAYERS:
        a = acc[layer]
        calls = a["calls"]
        out[layer + ".calls"] = calls
        for k in ("wall_s", "jobs", "tasks", "exec_cpu_s", "exec_run_s",
                  "gc_s", "shuffle_bytes", "spill_bytes", "driver_s"):
            if (layer, k) not in SKIP_COMMON:
                out["%s.%s" % (layer, k)] = _mean(a[k], calls)
        out[layer + ".core_util"] = (a["exec_run_s"] / (a["wall_s"] * cores)
                                     if a["wall_s"] > 0 else 0.0)

    def attr_mean(layer, key):
        xs = attrs[layer].get(key, [])
        return sum(xs) / len(xs) if xs else 0.0

    merge_calls = acc["lake.merge"]["calls"]
    out["lake.merge.events"] = attr_mean("lake.merge", "events")
    ev = sum(attrs["lake.merge"].get("events", []))
    out["lake.merge.keys_per_event"] = (
        sum(attrs["lake.merge"].get("keys", [])) / ev if ev else 0.0)
    out["lake.merge.bytes_written"] = attr_mean("lake.merge", "bytes_written")
    out["lake.merge.buckets_touched"] = attr_mean("lake.merge",
                                                  "buckets_touched")
    out["lake.merge.map_stage_s"] = _mean(stage_split["map"], merge_calls)
    out["lake.merge.write_stage_s"] = _mean(stage_split["result"], merge_calls)
    out["lake.maintenance.bytes_rewritten"] = attr_mean("lake.maintenance",
                                                        "bytes_rewritten")
    out["lake.maintenance.delta_files_before"] = attr_mean(
        "lake.maintenance", "delta_files_before")
    reads = names["lake.table"].get("currentManifest", [])
    out["lake.table.manifest_read_s"] = _mean(
        sum(self_t[s["id"]] for s in reads), len(reads))
    out["lake.table.manifest_bytes"] = attr_mean("lake.table",
                                                 "manifest_bytes")
    out["lake.table.lookup_buckets"] = attr_mean("lake.table",
                                                 "lookup_buckets")
    returned = sum(attrs["lake.table"].get("rows_returned", []))
    out["lake.table.lookup_rows_read_per_hit"] = (
        sum(attrs["lake.table"].get("rows_read", [])) / returned
        if returned else 0.0)
    out["lake.table.delta_files"] = attr_mean("lake.table", "delta_files")
    runs = acc["engine.pipeline"]
    out["engine.pipeline.jobs_per_epoch"] = _mean(runs["jobs"], runs["calls"])
    for d in DOMAINS:
        out["engine.pipeline.domain.%s.commit_offset_s" % d] = attr_mean(
            "engine.pipeline", "domain.%s.commit_offset_s" % d)
    drains = names["streaming.feed"].get("drain", [])
    mirrors = names["streaming.feed"].get("mirrorInto", [])
    out["streaming.feed.poll_s"] = _mean(
        sum(self_t[s["id"]] for s in drains), len(drains))
    out["streaming.feed.mirror_s"] = _mean(
        sum(s["end"] - s["start"] for s in mirrors), len(mirrors))
    out["streaming.feed.rows_per_increment"] = attr_mean("streaming.feed",
                                                         "rows")
    return out


def end_to_end(raw):
    """End-to-end metrics of one run, plus the report-only extras."""
    v = raw["values"]
    samples = raw["samples"]
    epochs = samples.get("epoch_s", [])
    events = v.get("events", 0)
    out = {
        "setup_s": median(v["setup_reps_s"]),
        "events_per_s": events / v["window_s"] if v.get("window_s") else 0.0,
        "epoch_s_p50": median(epochs) if epochs else 0.0,
        "write_bytes_per_event": (v.get("bytes_written", 0) / events
                                  if events else 0.0),
        "peak_rss_mb": v["peak_rss_mb"],
    }
    extra = {
        "input_gen_s": (v["input_gen_s"], "s"),
        "setup_first_s": (v["setup_first_s"], "s"),
        "window_s": (v.get("window_s", 0.0), "s"),
        "events": (events, "events"),
        "epochs": (v.get("epochs", 0), "count"),
        "control_s": (median(v["control_s"]), "s"),
        "failed_ops_frac": (raw["failed"] / raw["attempted"]
                            if raw["attempted"] else 0.0, "ratio"),
        "attempted_ops": (raw["attempted"], "count"),
    }
    if "epoch_growth" in v:
        extra["epoch_growth"] = (v["epoch_growth"], "ratio")
    for key in ("epoch_s", "feed_lag_s", "lookup_s", "scan_s"):
        xs = samples.get(key, [])
        if not xs:
            continue
        if key != "epoch_s":
            extra[key + "_p50"] = (median(xs), "s")
        t = tail(xs)
        if t is not None:
            extra[key + "_tail"] = (t[1], "s")
            extra[key + "_tail_pct"] = (t[0], "percentile")
        extra[key + "_samples"] = (len(xs), "count")
    extra["epoch_s_each"] = ([round(x, 4) for x in epochs], "s")
    return out, extra


def repeat_counts(raw, e2e):
    """The counts that must repeat exactly for the same code and seed: each
    merge's events, keys and bytes written, and the write amplification."""
    counts = dict(raw.get("counts", {}))
    counts["write_bytes_per_event"] = e2e["write_bytes_per_event"]
    return counts


def result_line(correct, attempted, failed, metrics):
    """The result object printed as the last line of standard output."""
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def parse_result(stdout_text, expected_names=None):
    """Parses and validates the last line of a run's standard output."""
    lines = [ln for ln in stdout_text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys are %s" % sorted(obj))
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError("%s is not a whole number" % k)
    if obj["attempted"] < 1:
        raise ValueError("attempted < 1")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"}:
            raise ValueError("metric %s has keys %s" % (name, sorted(m)))
        if (not isinstance(m["value"], (int, float))
                or isinstance(m["value"], bool)
                or not math.isfinite(m["value"])):
            raise ValueError("metric %s is not a finite number" % name)
    if expected_names is not None and set(obj["metrics"]) != set(
            expected_names):
        raise ValueError("metrics %s, expected %s" % (
            sorted(obj["metrics"]), sorted(expected_names)))
    return obj
