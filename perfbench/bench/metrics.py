"""Metric rules of the benchmark, kept free of I/O so they can be tested.

The JVM harness (perfbench/src/graftbench/Harness.scala) writes raw
samples; everything here turns them into the reported numbers.
"""
import math
from statistics import median

# A tail percentile is reported only with this many samples beyond it.
TAIL_BEYOND = 10


def nearest_rank(sorted_xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    n = len(sorted_xs)
    k = max(1, math.ceil(p / 100.0 * n))
    return sorted_xs[k - 1]


def beyond(n, p):
    """Samples above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n):
    """The highest whole percentile, from 50 up, with at least
    TAIL_BEYOND of n samples beyond it; None when n is too small."""
    best = None
    for p in range(50, 100):
        if beyond(n, p) >= TAIL_BEYOND:
            best = p
    return best


def tail(xs, n_min):
    """Tail latency of samples xs. The percentile is fixed by n_min, the
    fewest samples a run of the workload can yield, so every run of a
    workload reports the same percentile however many passes fit in its
    window. Returns (percentile, value, sample count)."""
    if len(xs) < n_min:
        raise ValueError("%d samples, expected at least %d" % (len(xs), n_min))
    p = tail_percentile(n_min)
    if p is None:
        raise ValueError("%d samples leave none with %d beyond the median"
                         % (n_min, TAIL_BEYOND))
    return p, nearest_rank(sorted(xs), p), len(xs)


def idle_core_s(cores, pass_s, task_run_s):
    """Core-seconds of a pass in which no task ran."""
    return cores * pass_s - task_run_s


def busy_ratio(cores, pass_s, task_run_s):
    """Share of the pass's core-seconds spent running tasks."""
    return task_run_s / (cores * pass_s)


def compare_fingerprints(live, reference):
    """Check each live output fingerprint against the reference.

    `live` maps a query to {"rows", "hash"} or {"error"}; `reference`
    maps a query to {"rows", "hash"}. Returns {query: reason} for every
    query that failed, has no reference, or differs from it."""
    bad = {}
    for q, got in sorted(live.items()):
        want = reference.get(q)
        if "error" in got:
            bad[q] = "failed: " + got["error"]
        elif want is None:
            bad[q] = "no reference fingerprint"
        elif got["rows"] != want["rows"]:
            bad[q] = "rows %d, expected %d" % (got["rows"], want["rows"])
        elif got["hash"] != want["hash"]:
            bad[q] = "row hash %s, expected %s" % (got["hash"], want["hash"])
    return bad


def query_samples(passes):
    """Latencies (build + execute) of the successful executions."""
    return [e["build_s"] + e["exec_s"]
            for p in passes for e in p["execs"] if "error" not in e]


def end_to_end(raw, mismatches, passes):
    """The end-to-end metrics of an untraced run, plus the figures that
    accompany them in the report. Only untraced warm passes count;
    `passes` is the fewest warm passes such a run makes.

    The live heap is read after every pass, and it grows from pass to
    pass, so its peak is taken over the
    cold pass and the first `passes` warm ones: a faster program that
    fits more passes into the window does not read as a larger one."""
    warm = [p for p in raw["warm"] if not p["traced"]]
    samples = query_samples(warm)
    pct, tail_s, n = tail(samples, passes * len(raw["cold"]["execs"]))
    attempted, failed = attempts(raw, mismatches)
    metrics = {
        "setup_s": median(raw["setup_s"]),
        "cold_pass_s": raw["cold"]["wall_s"],
        "pass_s": median([p["wall_s"] for p in warm]),
        "query_p50_s": median(samples),
        "query_tail_s": tail_s,
        "live_heap_mb": max(raw["live_heap_mb"][:1 + passes]),
    }
    extra = {
        "failed_ratio": failed / attempted,
        "tail_percentile": pct,
        "query_samples": n,
        "warm_passes": len(warm),
    }
    return metrics, extra


def attempts(raw, mismatches):
    """Query executions attempted and failed: every timed execution,
    plus one check execution per fingerprinted query. An execution
    failed if it raised; a check failed if its output differs."""
    passes = [raw["cold"]] + raw["warm"]
    execs = [e for p in passes for e in p["execs"]]
    attempted = len(execs) + len(raw["fingerprints"])
    failed = sum(1 for e in execs if "error" in e) + len(mismatches)
    return attempted, failed


SETUP_SPANS = {
    "Sessions.start_s": lambda k: k == "Sessions.local",
    "sources.open_s": lambda k: k.startswith("sources.open."),
    "Caches.warm_s": lambda k: k.startswith("Caches.warm."),
}


def per_layer(raw):
    """Per-layer metrics of a traced run: per traced warm pass values
    are reduced by their median; set-up spans and the cache census
    after the last pass are taken once."""
    cores = raw["cores"]
    traced = [p for p in raw["warm"] if p["traced"]]
    untraced = [p for p in raw["warm"] if not p["traced"]]
    if not traced or not untraced:
        raise ValueError("a traced run needs traced and untraced warm passes")
    rows = []
    for p in traced:
        layers = dict(p["layers"])
        family = {k: v for k, v in layers.items() if k.startswith("operators.")}
        for part in ("build_s", "exec_s"):
            layers["operators." + part] = sum(
                v for k, v in family.items() if k.endswith("." + part))
        layers["spark.idle_core_s"] = idle_core_s(
            cores, p["wall_s"], layers["spark.task_run_s"])
        layers["spark.busy_ratio"] = busy_ratio(
            cores, p["wall_s"], layers["spark.task_run_s"])
        rows.append(layers)
    keys = sorted(set().union(*rows))
    out = {k: median([r.get(k, 0.0) for r in rows]) for k in keys}
    spans = raw["setup_spans"]
    for name, match in SETUP_SPANS.items():
        out[name] = sum(v for k, v in spans.items() if match(k))
    for k, v in spans.items():
        if k.startswith("Caches.warm."):
            out["Caches.warm_s." + k[len("Caches.warm."):]] = v
    out.update(raw["caches"])
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                               median([p["wall_s"] for p in untraced]))
    return out
