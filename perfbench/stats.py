"""Pure functions of the benchmark: summary statistics, the result hash
(the Python twin of graftbench.RowHash) and the attribution of traced Spark
events to operations. test_bench.py checks them.
"""

import datetime as dt
import decimal
import hashlib
import math
import statistics

# ---- summary statistics -------------------------------------------------


def percentile(values, q):
    """The q-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def betainc(a, b, x):
    """The regularized incomplete beta function I_x(a, b), by the continued
    fraction of Numerical Recipes (betai/betacf)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _betacf(a, b, x, eps=3e-14, tiny=1e-300):
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < eps:
            return h
    raise ArithmeticError("incomplete beta did not converge")


def hd_quantile(values, q):
    """The Harrell-Davis estimate of the q-th percentile (0 < q < 100): a
    weighted sum of all order statistics, weights from the beta
    distribution with a = (n+1)q, b = (n+1)(1-q). It reads every sample,
    not the one or two at the rank, so with a few dozen samples it moves
    less from run to run than the interpolated percentile."""
    xs = sorted(values)
    n = len(xs)
    if not xs:
        raise ValueError("quantile of no values")
    a, b = (n + 1) * q / 100.0, (n + 1) * (1 - q / 100.0)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def quartile_spread(values):
    """(q3 - q1) / median, the quartiles as statistics.quantiles(n=4)
    gives them: the run-to-run spread the benchmark is judged by."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ---- result hash --------------------------------------------------------

_CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1)


def canon_number(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
    d = _CTX.plus(decimal.Decimal(x))
    if d.is_zero():
        return "0"
    return format(d.normalize(_CTX), "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return canon_number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH
        return "T%d" % (delta.days * 86400_000_000 + delta.seconds * 1_000_000
                        + delta.microseconds)
    if isinstance(v, dt.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_hash(s):
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def result_hash(columns, rows):
    """(row count, 16-hex-digit hash): columns in name order, the sum of
    per-row MD5 prefixes modulo 2**64, so row order does not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash("\x1f".join(canon(r[i]) for i in order))) % (1 << 64)
        n += 1
    return n, "%016x" % total


# ---- trace attribution --------------------------------------------------


def attribute_stages(jobs, stages):
    """Map each completed stage record to the operation whose job listed
    its stage id in SparkListenerJobStart.stageIds. A stage shared by
    several jobs goes to the job that started first. Returns
    {op: [stage records]}."""
    owner = {}
    for j in sorted((j for j in jobs if "stage_ids" in j), key=lambda j: j["job"]):
        for sid in j["stage_ids"]:
            owner.setdefault(sid, j["op"])
    by_op = {}
    for s in stages:
        op = owner.get(s["stage"])
        if op is not None:
            by_op.setdefault(op, []).append(s)
    return by_op


def job_intervals(jobs):
    """{job id: {"op", "start_ms", "end_ms"}} from start and end records."""
    out = {}
    for j in jobs:
        rec = out.setdefault(j["job"], {})
        rec.update({k: j[k] for k in ("op", "start_ms", "end_ms") if k in j})
    return out


def covered_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
