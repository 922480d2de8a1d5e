"""Summary statistics for the end-to-end metrics.

Per-call latencies of a cold board are spread thinly (0.1 s to 6 s over
a few dozen calls), so a single order statistic jumps between neighbours
from run to run. Quantiles are therefore Harrell-Davis estimates: a
Beta-weighted mean of all order statistics, concentrated on the ranks
around the quantile (Harrell and Davis, Biometrika 69(3), 1982)."""
import math

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(xs):
    return quantile(xs, 0.5)


def tail(xs):
    """(value, percentile) at the highest percentile that has at least
    TAIL_BEYOND of the n samples beyond it: percentile
    100 * (n - TAIL_BEYOND) / n. With n at most TAIL_BEYOND no such
    percentile exists; the median stands in, reported as percentile 50."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return median(xs), 50.0
    p = (n - TAIL_BEYOND) / n
    return quantile(xs, p), 100.0 * p


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile of xs."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (Numerical Recipes, 2nd ed., section 6.4)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _betacf(a, b, x):
    tiny = 1e-300

    def clamp(v):
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / clamp(1.0 - (a + b) * x / (a + 1))
    h = d
    for m in range(1, 500):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 / clamp(1.0 + aa * d)
            c = clamp(1.0 + aa / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h
