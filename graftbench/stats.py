"""Statistics and trace attribution for graftbench.

Pure functions over the harness's raw records, so the benchmark's own
tests can drive them without Spark.
"""
import statistics

# A tail percentile is reported only where this many samples lie beyond it.
MIN_BEYOND = 10
# timed.trend outside 1 +- TREND_TOLERANCE flags a timed phase still
# warming up.
TREND_TOLERANCE = 0.10


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return statistics.geometric_mean(xs)


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, i.e. the (n-10)-th smallest of n samples, at
    percentile 100*(n-10)/n. Below twenty samples no percentile at or
    above the median has ten beyond it, and the tail is the median."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * MIN_BEYOND:
        return median(s), 50.0, n
    k = n - MIN_BEYOND
    return s[k - 1], 100.0 * k / n, n


def trend(xs):
    """Median of the last quarter of a time-ordered series over the median
    of its first quarter; a quarter holds at least two samples where the
    series has four, so that one noisy sample cannot set the trend."""
    q = max(len(xs) // 4, min(2, len(xs) // 2), 1)
    return median(xs[-q:]) / median(xs[:q])


def mix_trend(passes):
    """The trend of a query mix run in passes (one list of per-query times
    per pass, in one query order): the median over queries of each
    query's own trend."""
    return median([trend([p[i] for p in passes]) for i in range(len(passes[0]))])


def trend_flag(ratio):
    """Whether the timed phase was still warming up: its trend is more
    than the tolerance away from 1."""
    return abs(ratio - 1.0) > TREND_TOLERANCE


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs, units):
    """Assign every job to exactly one (unit, layer).

    A job the harness tagged `gb|<unit>|<layer>` belongs to that unit and
    layer (a CDC epoch's public call, or a batch pass's query). An
    untagged job that started inside a unit's interval is the engine's
    own work for that unit (layer `engine`, e.g. a stream's trigger).
    Anything else is `outside` every unit. Returns a dict
    job id -> (unit id or None, layer)."""
    spans = sorted((u["start_ms"], u["end_ms"], u["id"]) for u in units)
    out = {}
    for j in jobs:
        g = j.get("group") or ""
        if g.startswith("gb|"):
            _, unit, layer = g.split("|", 2)
            out[j["id"]] = (unit, layer)
            continue
        owner = next((uid for s, e, uid in spans if s <= j["start_ms"] <= e), None)
        out[j["id"]] = (owner, "engine" if owner else "outside")
    return out
