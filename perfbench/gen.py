"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed: the same seed gives the
same bytes and the same request lists, and the program under test only
ever sees what these functions produce. The corpus the requests run on is
graft's standard sf0.1 corpus, kept verbatim under corpus/.

  search_requests(seed, n)      the `search` request mix
  syslog_dir(seed, dir, ...)    a raw syslog directory with known counts
  cdc(seed, ...)                a keyed base table plus CDC batches with
                                the expected per-bucket state after each
"""
import bisect
import datetime
import gzip
import math
import os
import random

# what the sf0.1 corpus holds: five event types, 1500 users, events over
# 2024-01-01 .. 2024-01-30, documents as word salad over this vocabulary
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
USERS = 1500
EVENTS_SPAN_S = 30 * 86400
DOC_VOCAB = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()

# ---------------------------------------------------------------- search --

# request-class shares of the `search` mix
SEARCH_SHARES = {"kw": 0.40, "kw_range": 0.20, "docs": 0.15,
                 "report": 0.10, "sql": 0.15}
EVENT_KEYWORDS = EVENT_TYPES + ["err", "ick", "sign", "ase", "iew", "42",
                                "7}", "13}", "99", ": 5", "0}", "k", "zzz"]
DOC_KEYWORDS = DOC_VOCAB + ["spa", "indow", "merge join",
                            "fast scan", "vector hash", "xyz"]
REPORTS = ["top-talkers", "error-bursts", "slo"]


class _Zipf:
    """Zipf(s) over a seeded permutation of `items`."""

    def __init__(self, rng, items, s=1.1):
        self.rng = rng
        self.items = list(items)
        rng.shuffle(self.items)
        w = [1.0 / (r + 1) ** s for r in range(len(self.items))]
        tot = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / tot
            self.cdf.append(acc)

    def draw(self):
        i = bisect.bisect_left(self.cdf, self.rng.random())
        return self.items[min(i, len(self.items) - 1)]


def _ts(sec):
    return (datetime.datetime(2024, 1, 1)
            + datetime.timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")


class _Deck:
    """Draws every item once per shuffled round, so shares hold exactly
    over each round instead of only on average."""

    def __init__(self, rng, items):
        self.rng, self.items, self.left = rng, list(items), []

    def draw(self):
        if not self.left:
            self.left = list(self.items)
            self.rng.shuffle(self.left)
        return self.left.pop()


def search_requests(seed, n):
    """`n` requests: dicts with a class `cls` and its arguments. Class
    shares, report names and SQL templates are dealt from decks, so every
    block of 20 requests has the exact shares; keywords, users, days and
    ranges are drawn."""
    rng = random.Random(seed)
    ev_kw = _Zipf(rng, EVENT_KEYWORDS)
    doc_kw = _Zipf(rng, DOC_KEYWORDS)
    user = _Zipf(rng, range(USERS), s=1.2)
    day = _Zipf(rng, range(30))
    floor = _Zipf(rng, [0, 10, 50, 100, 200, 400])
    classes = _Deck(rng, [c for c, share in SEARCH_SHARES.items()
                          for _ in range(round(share * 20))])
    reports = _Deck(rng, REPORTS)
    templates = _Deck(rng, ["per_type", "per_user", "hourly"])
    out = []
    for _ in range(n):
        cls = classes.draw()
        if cls == "kw":
            r = {"keyword": ev_kw.draw()}
        elif cls == "kw_range":
            # width log-uniform from 1 h to 30 d
            width = int(math.exp(rng.uniform(math.log(3600), math.log(30 * 86400))))
            start = rng.randrange(0, EVENTS_SPAN_S - width + 1)
            r = {"keyword": ev_kw.draw(), "from": _ts(start), "to": _ts(start + width)}
        elif cls == "docs":
            r = {"keyword": doc_kw.draw()}
        elif cls == "report":
            r = {"report": reports.draw()}
        else:
            kind = templates.draw()
            if kind == "per_type":
                q = ("SELECT event_type, count(*) AS n, min(value) AS vmin, "
                     "max(value) AS vmax FROM events WHERE value >= %d "
                     "GROUP BY event_type ORDER BY event_type" % floor.draw())
            elif kind == "per_user":
                q = ("SELECT event_id, ts, event_type, value FROM events "
                     "WHERE user_id = %d ORDER BY ts, event_id LIMIT 50" % user.draw())
            else:
                d = day.draw()
                q = ("SELECT date_trunc('hour', ts) AS hour, count(*) AS n "
                     "FROM events WHERE event_type = '%s' AND ts >= TIMESTAMP '%s' "
                     "AND ts < TIMESTAMP '%s' GROUP BY 1 ORDER BY 1"
                     % (rng.choice(EVENT_TYPES), _ts(d * 86400), _ts((d + 1) * 86400)))
            r = {"sql": q, "template": kind}
        r["cls"] = cls
        out.append(r)
    return out


# ---------------------------------------------------------------- syslog --

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
HOSTS = [f"node{i:02d}" for i in range(12)]
PROCS = ["sshd", "kernel", "cron", "nginx", "dockerd", "systemd", "app-api",
         "postgres"]
WORDS = ("connection accepted closed timeout retry user session opened "
         "failed disk usage high request served cache miss upstream "
         "healthy unhealthy restart backoff").split()


def _msg(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 14))) + \
        f" id={rng.randrange(10**6)}"


def syslog_dir(seed, out, n_files=16, lines_per_file=12000, malformed=0.03):
    """Write a raw syslog directory; return the record counts the parser
    must produce, keyed "fmt|severity" ("" for a null severity)."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    expected = {}

    def count(fmt, sev):
        k = f"{fmt}|{'' if sev is None else sev}"
        expected[k] = expected.get(k, 0) + 1

    kinds = ["rfc3164", "rfc5424", "journald"]
    for f in range(n_files):
        kind = kinds[f % 3]
        lines = []
        for _ in range(lines_per_file):
            if rng.random() < malformed:
                # no header, no leading blank, not FIELD=value: a raw record
                lines.append(f"### truncated write {rng.randrange(10**9)} ???")
                count("raw", None)
                continue
            host, proc = rng.choice(HOSTS), rng.choice(PROCS)
            pid = rng.randrange(1, 65536)
            fac, sev = rng.randrange(24), rng.randrange(8)
            if kind == "rfc3164":
                has_pri = rng.random() < 0.7
                pri = f"<{fac * 8 + sev}>" if has_pri else ""
                lines.append(f"{pri}{rng.choice(MONTHS)} {rng.randint(1, 28):2d} "
                             f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
                             f"{rng.randrange(60):02d} {host} {proc}[{pid}]: {_msg(rng)}")
                if rng.random() < 0.05:  # a stack trace: continuation lines
                    for d in range(rng.randint(1, 4)):
                        lines.append(f"\tat com.example.Svc{d}.call(Svc.java:{rng.randrange(999)})")
                count("rfc3164", sev if has_pri else None)
            elif kind == "rfc5424":
                sd = "-" if rng.random() < 0.5 else \
                    f'[meta@32473 seq="{rng.randrange(10**6)}" zone="z{rng.randrange(4)}"]'
                msgid = rng.choice(["-", "ID47", "REQ", "AUDIT"])
                lines.append(f"<{fac * 8 + sev}>1 2024-01-{rng.randint(1, 28):02d}T"
                             f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
                             f"{rng.randrange(60):02d}.{rng.randrange(1000):03d}Z "
                             f"{host} {proc} {pid} {msgid} {sd} {_msg(rng)}")
                count("rfc5424", sev)
            else:
                lines += [f"__REALTIME_TIMESTAMP={1704067200000000 + rng.randrange(10**12)}",
                          f"_HOSTNAME={host}", f"SYSLOG_IDENTIFIER={proc}",
                          f"_PID={pid}", f"PRIORITY={sev}",
                          f"SYSLOG_FACILITY={fac}", f"MESSAGE={_msg(rng)}", ""]
                count("journald", sev)
        data = ("\n".join(lines) + "\n").encode()
        name = f"{out}/{kind}-{f}.log"
        if f % 4 == 3:  # a logrotate-style compressed rotation
            with open(name + ".1.gz", "wb") as fh:
                fh.write(gzip.compress(data, mtime=0))
        else:
            with open(name, "wb") as fh:
                fh.write(data)
    return expected


# ------------------------------------------------------------------- cdc --

N_BUCKETS = 16


def cdc(seed, n_base, n_batches, ops_per_batch=400, buckets_per_batch=3):
    """Base rows (event_id, user_id, value) and `n_batches` CDC batches of
    one op per key over a few buckets each. Returns (base, batches,
    expected) where expected[i] maps bucket -> [rows, sum(user_id)] after
    batch i is merged."""
    rng = random.Random(seed)
    state = {k: (rng.randrange(5000), round(rng.uniform(0, 500), 2))
             for k in range(n_base)}
    base = [(k, u, v) for k, (u, v) in state.items()]
    rows = [0] * N_BUCKETS
    users = [0] * N_BUCKETS
    for k, (u, _) in state.items():
        rows[k % N_BUCKETS] += 1
        users[k % N_BUCKETS] += u
    next_key = n_base
    batches, expected = [], []
    for _ in range(n_batches):
        touched = rng.sample(range(N_BUCKETS), buckets_per_batch)
        ops, used = [], set()
        while len(ops) < ops_per_batch:
            b = rng.choice(touched)
            r = rng.random()
            if r < 0.6:  # delete or update a key that may or may not exist
                k = rng.randrange(next_key // N_BUCKETS + 1) * N_BUCKETS + b
                if k in used or k not in state:
                    continue
                op = "D" if r < 0.25 else "U"
            else:
                k = (next_key // N_BUCKETS + 1) * N_BUCKETS + b
                next_key = k + 1
                op = "I"
            used.add(k)
            u, v = (0, 0.0) if op == "D" else \
                (rng.randrange(5000), round(rng.uniform(0, 500), 2))
            ops.append((op, k, u, v))
            if k in state:
                rows[b] -= 1
                users[b] -= state.pop(k)[0]
            if op != "D":
                state[k] = (u, v)
                rows[b] += 1
                users[b] += u
        batches.append(ops)
        expected.append({b: [rows[b], users[b]]
                         for b in range(N_BUCKETS) if rows[b]})
    return base, batches, expected
