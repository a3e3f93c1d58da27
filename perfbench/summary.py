"""Turns one run's raw record (result.json, written by perfbench.Main) into
the benchmark's metrics. Pure functions only, so tests can drive them."""
import json
import os
import statistics

# The metric names and units are BENCHMARK.json's, at the repository root.
with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)

LAYERS = ["datagen", "ingest", "lake", "streaming", "analytics", "serve",
          "operators", "plans", "core"]

# Every end-to-end metric, per workload: (name, unit).
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]

# Every per-layer metric: (name, unit); 0 where a workload does not reach
# the layer.
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]

# Units of the figures on the named line, under the names the workloads'
# users know them by.
NAMED_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "failed_share": "share",
               "ingest_rps": "1/s", "first_batch_ms": "ms",
               "lake_latency_p50_ms": "ms",
               "lake_latency_tail_ms": "ms", "sessionize_rps": "1/s",
               "batch_p50_ms": "ms", "gold_job_p50_s": "s",
               "gold_rows_per_s": "1/s", "gold_cold_job_s": "s",
               "mix_pass_s": "s",
               "mix_cold_pass_s": "s", "query_tail_s": "s"}

# Layer metrics of daily_gold alone, which runs outside the gated set.
PER_LAYER_GOLD = [("lake.read_s", "s"), ("gold.session_level_s", "s"),
                  ("gold.user_level_s", "s"), ("serve.overwrite_s", "s"),
                  ("serve.rows_written", "count")]


def tail(values):
    """The highest nearest-rank percentile with at least ten samples beyond
    it: (value, percentile, sample count), or None under eleven samples."""
    xs = sorted(values)
    n = len(xs)
    k = n - 10
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / n, n


def median(values):
    return statistics.median(values) if values else float("nan")


def self_times(spans):
    """Span id -> self time in ns: its duration minus its children's."""
    own = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end_ns"] - s["start_ns"]
    return own


def self_by_layer(spans):
    """Layer -> summed self time in seconds."""
    own = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]] / 1e9
    return out


def _op_samples(r):
    """(warm per-op latencies in ms, throughput in 1/s). An op is a paced
    file on stream_ingest, a daily job on daily_gold and a pass of the mix
    on query_mix."""
    o = r["out"]
    w = r["workload"]
    if w == "stream_ingest":
        return o["lake_latency_ms"], median(o["drain_rps"])
    if w == "daily_gold":
        return o["gold_job_ms"], o["gold_rows_per_s"]
    queries = sum(len(xs) for xs in o["query_s"].values())
    return [x * 1000 for x in o["mix_pass_s"]], queries / sum(o["mix_pass_s"])


def setup_s(r):
    return r["session_s"] + median(r["out"]["setup_data_s"])


def end_to_end(r):
    ops, rate = _op_samples(r)
    return {"setup_s": setup_s(r), "op_p50_ms": median(ops),
            "throughput_rps": rate}


def named(r):
    """The workload's figures under the names its users know them by, each
    as {"value", "unit"}; tails also carry their percentile and samples."""
    o = r["out"]
    w = r["workload"]
    out = {"setup_s": setup_s(r), "peak_rss_mb": r["peak_rss_kb"] / 1024.0,
           "failed_share": r["failed"] / max(1, r["attempted"])}
    tails = {}
    if w == "stream_ingest":
        lat = o["lake_latency_ms"]
        tails["lake_latency_tail_ms"] = tail(lat)
        out.update(ingest_rps=median(o["drain_rps"]),
                   first_batch_ms=o["first_batch_ms"],
                   lake_latency_p50_ms=median(lat),
                   sessionize_rps=o["sessionize_rps"],
                   batch_p50_ms=median(o["stream_batch_ms"]))
    elif w == "daily_gold":
        out.update(gold_job_p50_s=median(o["gold_job_ms"]) / 1000,
                   gold_rows_per_s=o["gold_rows_per_s"],
                   gold_cold_job_s=o["gold_cold_ms"] / 1000)
    else:
        tails["query_tail_s"] = tail(
            [x for xs in o["query_s"].values() for x in xs])
        out.update(mix_pass_s=median(o["mix_pass_s"]),
                   mix_cold_pass_s=o["mix_cold_pass_s"])
    res = {k: {"value": v, "unit": NAMED_UNITS[k]} for k, v in out.items()}
    for k, t in tails.items():
        res[k] = {"value": t and t[0], "unit": NAMED_UNITS[k],
                  "percentile": t and t[1], "samples": t and t[2]}
    return res


def per_layer(r):
    """Every per-layer metric as (name, unit, value); 0 where the workload
    does not reach the layer."""
    lay = dict(r["layers"])
    o = r["out"]
    spans = r["spans"]
    names = PER_LAYER + (PER_LAYER_GOLD if r["workload"] == "daily_gold" else [])
    names += [("query.%s_s" % q, "s") for q in o.get("query_s", {})
              if ("query.%s_s" % q, "s") not in names]
    out = {name: float(lay.get(name, 0.0)) for name, _ in names}
    nq = lay.get("plan.queries", 0)
    if nq:
        out["plan.exchanges"] = lay["plan.exchanges_total"] / nq
        out["plan.scans"] = lay["plan.scans_total"] / nq
        out["plan.planning_ms"] = lay["plan.planning_ms_total"] / nq
        out["lake.rows_scanned"] = lay["plan.file_rows_scanned"] / nq
    durations = {}
    for s in spans:
        durations.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    if "serve.overwrite" in durations:
        out["serve.overwrite_s"] = median(durations["serve.overwrite"])
    out["serve.append_s"] = sum(durations.get("serve.append", []))
    if "gen_late_ms_max" in o:
        out["gen.late_ms_max"] = float(o["gen_late_ms_max"])
        out["gen.records"] = float(o["gen_records"])
    for layer, secs in self_by_layer(spans).items():
        out["self.%s_s" % layer] = secs
    for q, xs in o.get("query_s", {}).items():
        out["query.%s_s" % q] = median(xs)
    return [(name, unit, out[name]) for name, unit in names]


def spread(values):
    """Inter-quartile range over the median, as the acceptance rule reads it."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
