"""Pure helpers of the benchmark: statistics, output digests, the open-loop
generator's inputs and the file -> micro-batch latency mapping.

Nothing here starts a process or touches Spark, so test_benchlib.py covers
all of it in a fraction of a second.
"""
import datetime
import hashlib
import json
import math
import os
import random

# A percentile is reported only when at least this many samples lie beyond
# it; the tail percentile of every workload is chosen so that a normal run
# meets the rule (see README.md, "Latency samples").
MIN_BEYOND = 10
TAIL_Q = 0.75


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """Linear-interpolated percentile (the numpy default), q in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz's method)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 1000):
        m2 = 2 * m
        for aa in (m * (b - m) * x / ((a - 1.0 + m2) * (a + m2)),
                   -(a + m) * (a + b + m) * x / ((a + m2) * (a + 1.0 + m2))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(x, a, b):
    """Cumulative distribution of Beta(a, b) at x (the regularized
    incomplete beta function)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def quantile(values, q):
    """Harrell-Davis estimate of the q-th quantile, q in (0, 1): a weighted
    mean of every order statistic, the i-th of n weighted by the mass of
    Beta((n+1)q, (n+1)(1-q)) between (i-1)/n and i/n.

    Latencies come in groups (the fifteen queries of a mix, the files of one
    micro-batch), and a percentile interpolated between the two samples
    nearest its rank jumps whenever the gap between two groups moves across
    that rank; this estimate moves smoothly."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile rank."""
    return n - 1 - math.floor(q * (n - 1))


def min_samples(q, need=MIN_BEYOND):
    """Smallest sample count whose q-th percentile has `need` samples beyond."""
    n = 1
    while beyond(n, q) < need:
        n += 1
    return n


def latency_summary(values_ms, tail_q=TAIL_Q):
    """Median and tail percentile (Harrell-Davis estimates) with the sample
    count and the count beyond the tail."""
    n = len(values_ms)
    return {
        "n": n,
        "p50": quantile(values_ms, 0.5),
        "tail": quantile(values_ms, tail_q),
        "beyond_tail": beyond(n, tail_q),
    }


# ------------------------------------------------------------------- digests

_NULL = "\0NULL"


def _canon(kind, v):
    if v is None:
        return _NULL
    if kind == "f":
        f = float(v)
        if math.isnan(f):
            return _NULL
        return repr(f + 0.0)  # folds -0.0 into 0.0
    if kind in "iu":
        return str(int(v))
    if kind == "b":
        return "1" if v else "0"
    if isinstance(v, float) and math.isnan(v):
        return _NULL
    if kind == "M":
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def frame_digest(df):
    """Order-insensitive digest of a pandas DataFrame.

    Columns are taken in name order; each column contributes its dtype kind
    (float widths folded together) so that an oracle returning, say, an
    integer where Spark returns a double does not match, as in
    tools/compare.py. Rows are canonicalised and hashed one by one, and the
    sorted row hashes are hashed again, so row order does not matter.
    """
    cols = sorted(df.columns)
    kinds = [df[c].dtype.kind for c in cols]
    head = "|".join(f"{c}:{k}" for c, k in zip(cols, kinds))
    rows = []
    columns = [df[c].tolist() for c in cols]
    for i in range(len(df)):
        text = "\x1f".join(_canon(k, col[i]) for k, col in zip(kinds, columns))
        rows.append(hashlib.sha256(text.encode()).digest())
    h = hashlib.sha256(head.encode())
    for r in sorted(rows):
        h.update(r)
    return f"{len(df)}:{h.hexdigest()[:32]}"


# ----------------------------------------------------------------- generator

def transactions(seed, n, repeat_share, start=0, history=()):
    """n JSON transactions for the signing stream, deterministic in `seed`.

    Record i (counting from `start`) is a fresh payload with a unique nonce,
    except that with probability `repeat_share` it repeats one of the last
    200 payloads, which keeps every repeat inside the stream's 10-minute
    watermark. `history` seeds the pool of repeatable payloads. Returns
    (payloads, pool) so that a later call can continue the sequence.
    """
    rng = random.Random(f"{seed}:{start}")
    pool = list(history)[-200:]
    out = []
    for i in range(start, start + n):
        if pool and rng.random() < repeat_share:
            out.append(pool[rng.randrange(len(pool))])
            continue
        p = json.dumps({
            "k": rng.randrange(1000),
            "to": "0x%040x" % rng.getrandbits(160),
            "amount": rng.randrange(1, 10 ** 9),
            "nonce": i,
        }, separators=(",", ":"))
        out.append(p)
        pool.append(p)
        if len(pool) > 200:
            pool.pop(0)
    return out, pool


# ------------------------------------------------- file -> batch -> latency

def source_log(ckpt):
    """file name -> micro-batch id, from the file source's checkpoint log
    (`<ckpt>/sources/0/<batch>` and its `<batch>.compact` roll-ups)."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                base = os.path.basename(e["path"])
                out[base] = min(out.get(base, e["batchId"]), e["batchId"])
    return out


def parse_ts_ms(ts):
    """StreamingQueryProgress.timestamp ('2026-10-17T04:52:18.123Z') -> ms."""
    t = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def commit_times(progress):
    """batch id -> wall-clock ms at which the batch committed: the trigger's
    start plus its whole execution time. Trailing no-data triggers repeat a
    batch id; the first report of each id is the one that processed it."""
    out = {}
    for p in progress:
        if p["numInputRows"] == 0 and p["batchId"] in out:
            continue
        out.setdefault(p["batchId"],
                       parse_ts_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"])
    return out


def file_latencies(published, file_batch, commits):
    """Latency of each published file from its scheduled publish time to the
    commit of the batch that read it. `published` maps file name -> scheduled
    ms. Returns (latencies_ms, names never committed)."""
    lat, missing = [], []
    for name, due in sorted(published.items(), key=lambda kv: kv[1]):
        b = file_batch.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            lat.append(commits[b] - due)
    return lat, missing


def backlog_growing(pending):
    """True when the open-loop backlog grew over the run. `pending` is the
    number of published-but-unread files at each trigger start, in time
    order. The backlog of a stream that keeps up stays level; one that does
    not keeps rising, so the last sample is compared with the median of the
    first half."""
    if len(pending) < 4:
        return False
    first = sorted(pending[: len(pending) // 2])
    median = first[len(first) // 2]
    return pending[-1] > 2 * max(median, 1)
