"""Turns one run's raw samples (written by perfbench.Main) into the
metrics named in BENCHMARK.json, plus the detail record."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Per-layer metrics of layers a workload never calls into: reported as 0.
NOT_APPLICABLE = {
    "olap_sf01": ("tables.", "streams."),
    "ingest_mixed": ("entry.", "op."),
}


class TooFewSamples(ValueError):
    pass


def percentile(samples, q, min_beyond=10):
    """Nearest-rank percentile q (0 < q < 1) of samples. A tail percentile
    (q > 0.5) is refused unless at least `min_beyond` samples lie above
    it, so a p90 needs at least 100 samples."""
    xs = sorted(samples)
    if not xs:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(q * len(xs)))
    beyond = len(xs) - rank
    if q > 0.5 and beyond < min_beyond:
        raise TooFewSamples(
            f"p{round(q * 100)} of {len(xs)} samples has {beyond} beyond it, "
            f"needs {min_beyond}")
    return xs[rank - 1]


def highest_tail(samples, levels=(0.99, 0.95, 0.9, 0.75)):
    """(level, value) of the highest listed percentile the rule allows,
    or None."""
    for q in levels:
        try:
            return q, percentile(samples, q)
        except TooFewSamples:
            continue
    return None


def window_seconds(ops):
    if not ops:
        return 0.0
    return max(o["t"] + o["ms"] / 1000.0 for o in ops) - min(o["t"] for o in ops)


def throughput(ops):
    secs = window_seconds(ops)
    return len(ops) / secs if secs > 0 else 0.0


def read_samples(workload, ops):
    """Latencies of the workload's reads: every OLAP query is a read; in
    ingest each `read` span is one."""
    if workload.startswith("olap"):
        return [o["ms"] for o in ops]
    return [ms for o in ops for name, ms in o["spans"] if name == "read"]


def steadiness(ops):
    """Throughput of the first and second half of the window's operations
    (by count: with whole OLAP passes, pass against pass), so drift
    (table growth, JIT warm-up, eviction) is visible."""
    if len(ops) < 2:
        return {}
    ops = sorted(ops, key=lambda o: o["t"])
    half = len(ops) // 2
    out = {"first_half_ops_per_s": throughput(ops[:half]),
           "second_half_ops_per_s": throughput(ops[half:])}
    if out["first_half_ops_per_s"] > 0:
        out["second_over_first"] = (out["second_half_ops_per_s"]
                                    / out["first_half_ops_per_s"])
    return out


def span_medians(ops):
    """Median ms of each child span name over all its spans."""
    spans = {}
    for o in ops:
        for name, ms in o["spans"]:
            spans.setdefault(name, []).append(ms)
    return {k: statistics.median(v) for k, v in sorted(spans.items())}


def geometric_mean(samples):
    """Geometric mean: every operation's relative change weighs the same,
    so a mix of query families (tens to thousands of ms) is not ruled by
    its slowest family, and no cluster boundary makes it jump the way a
    median of a multimodal mix does."""
    return math.exp(statistics.mean(math.log(x) for x in samples))


def medians(raw):
    """Plain medians of operation and read latency, for the detail record."""
    ops = raw["plain"]
    return {"op_ms_p50": statistics.median(o["ms"] for o in ops),
            "read_ms_p50": statistics.median(read_samples(raw["workload"], ops))}


def end_to_end(raw):
    ops = raw["plain"]
    lat = [o["ms"] for o in ops]
    return {
        "ops_per_s": throughput(ops),
        "op_ms_geomean": geometric_mean(lat),
        "read_ms_mean": statistics.mean(read_samples(raw["workload"], ops)),
        "space_amp": raw["space_amp"],
        "setup_s": raw["setup_s"] + raw["warm_s"],
    }


def per_layer(raw, names):
    """Layer aggregates of the traced window, per-query medians and the
    tracing overhead; layers the workload never uses read 0."""
    ops = raw["traced"]
    vals = dict(raw["layers"])
    by_query = {}
    for o in ops:
        by_query.setdefault(o["name"], []).append(o["ms"])
    for q, xs in by_query.items():
        vals[f"op.{q}.ms_p50"] = statistics.median(xs)
    plain = throughput(raw["plain"])
    vals["trace_overhead"] = throughput(ops) / plain if plain > 0 else 0.0
    skip = NOT_APPLICABLE.get(raw["workload"], ())
    out, missing = {}, []
    for n in names:
        if n in vals:
            out[n] = vals[n]
        elif n.startswith(skip):
            out[n] = 0.0
        else:
            missing.append(n)
    return out, missing


def check_names(names):
    bad = [n for n in names if not NAME_RE.match(n)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]: {bad}")
