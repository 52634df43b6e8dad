"""Pure helpers of the benchmark harness: percentiles, spread and the
host-load guard. Kept free of I/O so tests/test_harness.py can pin them."""
import statistics

# A run that starts with the 1-minute load average above this many runnable
# tasks per core is marked unusable: co-tenant load would distort it.
LOAD_PER_CORE_BOUND = 1.5


def percentile(values, p):
    """p-th percentile (0 < p < 100), linear between closest ranks, as
    numpy's default and Python's quantiles(method='inclusive') compute it."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spread(values):
    """Inter-quartile distance as a share of the median, with the quartiles
    of statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def load_usable(load1, nproc, bound=LOAD_PER_CORE_BOUND):
    """True when the 1-minute load average is within the guard bound."""
    return load1 <= bound * nproc
