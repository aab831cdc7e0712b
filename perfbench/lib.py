"""Pure helpers of the benchmark: percentiles, seeded workload inputs, the
order-insensitive result hash and the parent-versus-change decision rules.
Kept free of I/O beyond writing the request file, so the tests can
exercise them."""
import math
import random
import statistics

TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


# --------------------------------------------------------------- percentiles

def percentile(xs, p):
    """Nearest-rank percentile, p in (0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile position."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(xs):
    """The highest of TAIL_PERCENTILES that leaves at least MIN_BEYOND
    samples beyond it, as (percentile, value); None if even the median
    does not."""
    for p in TAIL_PERCENTILES:
        if beyond(len(xs), p) >= MIN_BEYOND:
            return p, percentile(xs, p)
    return None


def iqr_share(values):
    """Distance between the first and third quartile as a share of the
    median, with statistics.quantiles' default method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# ------------------------------------------------------------ seeded inputs

MISS_SHARE = 0.10
N_TICKERS = 37


def request_sequence(seed, client, n):
    """One client's requests as (path, expected status, body checked): 40%
    /company (a tenth of them, at least one, unknown tickers, which must
    404), 40% /ratios and 20% /screener with a random subset of its filters.
    The counts are exact, so seeds vary only the order, the tickers and the
    parameters."""
    rng = random.Random(f"api:{seed}:{client}")
    n_company, n_ratios = round(0.4 * n), round(0.4 * n)
    n_miss = max(1, round(MISS_SHARE * n_company))
    kinds = (["miss"] * n_miss + ["company"] * (n_company - n_miss) +
             ["ratios"] * n_ratios + ["screener"] * (n - n_company - n_ratios))
    rng.shuffle(kinds)
    out = []
    for kind in kinds:
        if kind == "miss":
            out.append((f"/company/ZZ{rng.randrange(1000)}", 404, False))
        elif kind == "company":
            out.append((f"/company/TKR{rng.randrange(N_TICKERS)}", 200, False))
        elif kind == "ratios":
            out.append((f"/ratios/TKR{rng.randrange(N_TICKERS)}"
                        f"?limit={rng.randint(1, 10)}", 200, rng.random() < 0.15))
        else:
            params = []
            if rng.random() < 0.5:
                params.append(f"year={rng.randint(1995, 2001)}")
            for name, lo, hi in (("min_roe", -0.5, 1.0),
                                 ("min_fcf_margin", -0.5, 0.5),
                                 ("min_net_margin", -0.5, 0.5)):
                if rng.random() < 0.5:
                    params.append(f"{name}={round(rng.uniform(lo, hi), 2)}")
            params.append(f"limit={rng.randint(1, 50)}")
            out.append(("/screener?" + "&".join(params), 200, rng.random() < 0.15))
    return out


def write_requests(path, seed, clients, per_client):
    with open(path, "w") as f:
        for c in range(clients):
            for p, status, check in request_sequence(seed, c, per_client):
                f.write(f"{c}\t{p}\t{status}\t{int(check)}\n")


# -------------------------------------------------------------- result hash

def hash_sql(relation, columns):
    """Row count and an order-insensitive hash of `relation` over `columns`
    (sorted by name), every value rendered by DuckDB as text."""
    cols = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '<null>')"
                     for c in sorted(columns))
    return (f"SELECT count(*), coalesce(sum(hash(concat_ws('|', {cols}))"
            f"::HUGEINT), 0) FROM ({relation})")


# --------------------------------------------------------------- comparison

def decide(parent, change, bound, lower_is_better=True, min_pairs=10):
    """Verdict for one workload x metric from paired runs (parent[i] and
    change[i] measured back to back, alternating which ran first):
      - 'too few pairs' below min_pairs;
      - 'unresolved' when either side's quartile spread exceeds the bound,
        unless every change run beats every parent run;
      - 'better' when the change wins at least 9/10 of the pairs (ties count
        for neither) and the medians differ by more than the parent's IQR;
      - 'regression' when the change's median is worse by more than the bound;
      - otherwise 'no change'."""
    n = min(len(parent), len(change))
    if n < min_pairs:
        return "too few pairs"
    parent, change = list(parent[:n]), list(change[:n])
    sign = 1.0 if lower_is_better else -1.0
    mp, mc = statistics.median(parent), statistics.median(change)
    worse_by = sign * (mc - mp) / mp
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    all_better = (max(sign * c for c in change) < min(sign * p for p in parent))
    if max(iqr_share(parent), iqr_share(change)) > bound and not all_better:
        return "unresolved"
    if wins >= math.ceil(0.9 * n) and abs(mc - mp) > (q3 - q1) and worse_by < 0:
        return "better"
    if worse_by > bound:
        return "regression"
    return "no change"
