"""Pure statistics behind the benchmark's report and its compare tool.

Nothing here touches Spark or the file system, so the rules that decide
what a run reports and what a comparison concludes are unit-tested in
`perfbench/tests/test_stats.py`.
"""
import math
import statistics

# A tail percentile is reported only with at least this many samples
# beyond it.
TAIL_BEYOND = 10
# A change wins a comparison only if it wins this share of the pairs.
WIN_SHARE = 0.9


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def tail(values, beyond=TAIL_BEYOND):
    """The highest whole percentile with at least `beyond` samples above it.

    Nearest-rank percentiles: percentile p is the sample of rank
    ceil(p * n / 100). Returns (percentile, value, n). With `beyond`
    samples or fewer no percentile qualifies; the maximum is returned
    as percentile 100, so the caller can state that it is a maximum.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return 100, xs[-1], n
    p = (100 * (n - beyond)) // n
    while p > 0 and math.ceil(p * n / 100) > n - beyond:
        p -= 1
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1], n


def better(a, b, direction):
    """True when value `b` is strictly better than value `a`."""
    return b < a if direction == "lower" else b > a


def pair_wins(parent, change, direction):
    """Share of (parent[i], change[i]) pairs the change wins.

    Runs are paired in the order given; ties count for neither side.
    """
    pairs = list(zip(parent, change))
    if not pairs:
        raise ValueError("no pairs to compare")
    wins = sum(1 for a, b in pairs if better(a, b, direction))
    return wins / len(pairs)


def compare_metric(parent, change, direction, bound):
    """Verdict for one (metric, workload) from two sets of runs.

    - "unresolved": the parent's own spread is wider than the bound, and
      not every change run beats every parent run;
    - "regression": the change's median is worse than the parent's by
      more than `bound` (a share of the parent's median);
    - "gain": the change wins at least WIN_SHARE of the pairs and the
      medians differ by more than the parent's quartile distance;
    - "no change" otherwise.
    """
    pq1, pm, pq3 = quartiles(parent)
    cq1, cm, cq3 = quartiles(change)
    worse = (cm - pm) if direction == "lower" else (pm - cm)
    worse_share = worse / pm if pm else (0.0 if worse == 0 else math.inf)
    wins = pair_wins(parent, change, direction)
    all_better = all(better(a, b, direction) for a in parent for b in change)
    parent_spread = spread(parent)
    if parent_spread > bound and not all_better:
        verdict = "unresolved"
    elif worse_share > bound:
        verdict = "regression"
    elif wins >= WIN_SHARE and abs(cm - pm) > (pq3 - pq1):
        verdict = "gain"
    else:
        verdict = "no change"
    return {
        "parent": {"q1": pq1, "median": pm, "q3": pq3, "n": len(parent)},
        "change": {"q1": cq1, "median": cm, "q3": cq3, "n": len(change)},
        "worse_share": worse_share,
        "bound": bound,
        "within_bound": worse_share <= bound,
        "pairs_won": wins,
        "parent_spread": parent_spread,
        "verdict": verdict,
    }


def geomean(values):
    values = list(values)
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def row_ratios(parent_rows, change_rows):
    """Per-row change/parent ratios of median latency, and their geomean.

    Each argument maps row name -> list of latencies. Rows present on
    one side only are listed as missing rather than dropped silently.
    """
    common = sorted(set(parent_rows) & set(change_rows))
    ratios = {r: median(change_rows[r]) / median(parent_rows[r])
              for r in common}
    missing = sorted(set(parent_rows) ^ set(change_rows))
    return {
        "ratios": ratios,
        "geomean": geomean(ratios.values()) if ratios else None,
        "missing": missing,
    }
