"""Pure helpers shared by the benchmark runner and the steadiness helper."""
import random
import statistics

# The conventional tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile `p` (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_level(n, beyond=TAIL_BEYOND):
    """Highest ladder percentile with at least `beyond` of `n` samples above
    it; 50 when even the median has fewer (the median is then the tail)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            return p
    return 50.0


def tail(values):
    """(value, percentile, n) of the tail as `tail_level` defines it."""
    p = tail_level(len(values))
    return percentile(values, p), p, len(values)


def seeded_passes(keys, seed, salt, n_passes):
    """`n_passes` orders of `keys`, each a permutation drawn from one RNG
    seeded by (`salt`, `seed`): the same seed always gives the same orders."""
    rng = random.Random(f"{salt}:{seed}")
    out = []
    for _ in range(n_passes):
        order = list(keys)
        rng.shuffle(order)
        out.append(order)
    return out


def count_failures(ops, checks):
    """(attempted, failed) over the timed ops.

    An op fails when it threw, or when the untimed check it names in
    `check` found a wrong result or threw: every timed execution of a key
    returns what its check saw. `checks` maps a check name to True
    (correct), False (wrong or threw) or None (no oracle).
    """
    failed = 0
    for op in ops:
        if op.get("error") or checks.get(op.get("check")) is False:
            failed += 1
    return len(ops), failed


def spread(values):
    """(median, q1, q3, iqr / median) as statistics.quantiles(n=4) gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def self_times(spans):
    """Self time of each span: its duration minus the union of its children's
    intervals clipped to it. `spans` are dicts with id, parent, start, end;
    returns {id: self_ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(c["start"], lo), min(c["end"], hi))
                           for c in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(hi - lo, 0.0) - covered
    return out
