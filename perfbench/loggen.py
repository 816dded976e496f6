"""Seeded Nginx combined-format log generator and the tallies the
benchmark checks the pipeline and the server against.

Everything here is a pure function of its arguments: the same seed gives
byte-identical lines. Popularity of endpoints and clients is Zipf-skewed,
some request paths carry query strings, some byte counts are `-`, and a
fixed share of the lines is malformed in the four ways `LogParser` must
drop (blank, garbage, non-numeric bytes, impossible dates).
"""
import bisect
import datetime as dt
import random
from decimal import ROUND_HALF_UP, Decimal

MALFORMED_SHARE = 0.02
MALFORMED_KINDS = ("blank", "garbage", "bad_bytes", "bad_date")

ENDPOINTS = (
    ["/", "/health", "/login", "/logout", "/static/app.js", "/static/app.css",
     "/favicon.ico", "/api/v1/items", "/api/v1/items/search", "/api/v1/users",
     "/api/v1/orders", "/api/v1/cart", "/api/v1/checkout", "/auth/login",
     "/auth/refresh", "/admin", "/metrics", "/robots.txt"]
    + [f"/api/v2/resource{i}" for i in range(22)])
QUERY_ENDPOINTS = {"/api/v1/items", "/api/v1/items/search", "/api/v1/orders",
                   "/api/v1/users"} | {f"/api/v2/resource{i}" for i in range(0, 22, 3)}
N_CLIENTS = 2000
USER_AGENTS = (
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/126.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:127.0) Gecko/20100101 Firefox/127.0",
    "curl/8.1.2", "python-requests/2.32.3", "Googlebot/2.1 (+http://www.google.com/bot.html)")
STATUSES = (200, 304, 301, 401, 404, 500, 503)
STATUS_W = (70, 8, 3, 4, 7, 5, 3)
METHODS = ("GET", "POST", "PUT", "DELETE")
METHOD_W = (85, 10, 3, 2)
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
          "Nov", "Dec")
TZS = ("+0000", "+0530", "-0700", "+0100")


def _zipf_cum(n, s):
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return out


_EP_CUM = _zipf_cum(len(ENDPOINTS), 1.1)
_CLIENT_CUM = _zipf_cum(N_CLIENTS, 1.0)


def client_ip(i):
    return f"10.{i // 250 % 256}.{i % 250}.{(i * 37) % 254 + 1}"


class Tally:
    """Per (date, hour, endpoint) counts of the valid lines."""

    def __init__(self):
        self.groups = {}  # (date, hour, endpoint) -> [requests, errors, [bytes]]
        self.valid = 0
        self.malformed = 0

    def add(self, date, hour, endpoint, status, nbytes):
        g = self.groups.get((date, hour, endpoint))
        if g is None:
            g = self.groups[(date, hour, endpoint)] = [0, 0, []]
        g[0] += 1
        g[1] += status >= 400
        g[2].append(nbytes)
        self.valid += 1

    def merge(self, other):
        for k, (r, e, b) in other.groups.items():
            g = self.groups.setdefault(k, [0, 0, []])
            g[0] += r
            g[1] += e
            g[2].extend(b)
        self.valid += other.valid
        self.malformed += other.malformed

    def per_date(self):
        """date -> [requests, errors]"""
        out = {}
        for (d, _, _), (r, e, _) in self.groups.items():
            t = out.setdefault(d, [0, 0])
            t[0] += r
            t[1] += e
        return out


def _malformed(rng, kind, day):
    if kind == "blank":
        return ""
    if kind == "garbage":
        return "GARBAGE " + "".join(rng.choice("abcdefxyz0123 ") for _ in range(24))
    if kind == "bad_bytes":
        return (f'{client_ip(rng.randrange(N_CLIENTS))} - - [{day.day:02d}/'
                f'{MONTHS[day.month - 1]}/{day.year}:10:00:00 +0000] "GET /health '
                f'HTTP/1.1" 200 12x4 "-" "curl/8.1.2"')
    # a bracketed timestamp that matches the grammar but is no real date
    return (f'{client_ip(rng.randrange(N_CLIENTS))} - - [30/Feb/{day.year}:25:61:00 '
            f'+0000] "GET /health HTTP/1.1" 200 8 "-" "curl/8.1.2"')


def render_day(rng, day, n_lines, tally):
    """`n_lines` lines for `day`, time-ordered, exactly
    round(n_lines * MALFORMED_SHARE) of them malformed."""
    n_bad = round(n_lines * MALFORMED_SHARE)
    n_good = n_lines - n_bad
    secs = sorted(rng.randrange(86400) for _ in range(n_good))
    eps = rng.choices(ENDPOINTS, cum_weights=_EP_CUM, k=n_good)
    clients = [bisect.bisect_left(_CLIENT_CUM, rng.random() * _CLIENT_CUM[-1])
               for _ in range(n_good)]
    statuses = rng.choices(STATUSES, weights=STATUS_W, k=n_good)
    methods = rng.choices(METHODS, weights=METHOD_W, k=n_good)
    dstr = day.isoformat()
    mon = MONTHS[day.month - 1]
    lines = []
    for i in range(n_good):
        s, ep, st = secs[i], eps[i], statuses[i]
        hh, mm, ss = s // 3600, s // 60 % 60, s % 60
        path = ep
        if ep in QUERY_ENDPOINTS and rng.random() < 0.6:
            path = f"{ep}?id={rng.randrange(1, 5000)}" if rng.random() < 0.7 \
                else f"{ep}?page={rng.randrange(1, 40)}&sort=asc"
        if st == 304 or rng.random() < 0.04:
            braw, nbytes = "-", 0
        else:
            nbytes = int(rng.lognormvariate(7.0, 1.2))
            braw = str(nbytes)
        ref = "-" if rng.random() < 0.7 else f"https://example.com{ep}"
        ua = USER_AGENTS[clients[i] % len(USER_AGENTS)]
        lines.append(
            f'{client_ip(clients[i])} - - [{day.day:02d}/{mon}/{day.year}:'
            f'{hh:02d}:{mm:02d}:{ss:02d} {TZS[clients[i] % len(TZS)]}] '
            f'"{methods[i]} {path} HTTP/1.1" {st} {braw} "{ref}" "{ua}"')
        tally.add(dstr, f"{hh:02d}", ep, st, nbytes)
    for j, pos in enumerate(sorted(rng.sample(range(n_lines), n_bad))):
        lines.insert(pos, _malformed(rng, MALFORMED_KINDS[j % len(MALFORMED_KINDS)], day))
    tally.malformed += n_bad
    return lines


def render(seed, days):
    """`days`: [(datetime.date, n_lines)]. Returns (text, Tally); the text
    ends with a newline. One RNG stream per (seed, day), so a day's lines do
    not depend on which other days are rendered with it."""
    tally, out = Tally(), []
    for day, n in days:
        rng = random.Random(f"{seed}:{day.isoformat()}")
        out.extend(render_day(rng, day, n, tally))
    return "\n".join(out) + "\n", tally


# ---- the server's answers, precomputed from the tallies ----

def _by_endpoint(tally, date):
    agg = {}
    for (d, _, ep), (r, e, _) in tally.groups.items():
        if d == date:
            t = agg.setdefault(ep, [0, 0])
            t[0] += r
            t[1] += e
    return agg


def errors_by_endpoint_body(tally, date):
    rows = sorted(_by_endpoint(tally, date).items(), key=lambda kv: (-kv[1][1], -kv[1][0], kv[0]))
    body = ",".join(f'{{"endpoint":"{ep}","errors":{e},"requests":{r}}}' for ep, (r, e) in rows)
    return f'{{"date":"{date}","rows":[{body}]}}'


def top_endpoints_body(tally, date, limit):
    rows = sorted(_by_endpoint(tally, date).items(), key=lambda kv: (-kv[1][0], -kv[1][1], kv[0]))
    body = ",".join(f'{{"endpoint":"{ep}","requests":{r},"errors":{e}}}'
                    for ep, (r, e) in rows[:limit])
    return f'{{"date":"{date}","rows":[{body}]}}'


def exact_percentile(values, q):
    """Spark's `percentile`: linear interpolation at (n - 1) * q."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo, hi = int(pos // 1), int(-(-pos // 1))
    if lo == hi or v[lo] == v[hi]:
        return float(v[lo])
    return (hi - pos) * v[lo] + (pos - lo) * v[hi]


def dashboard_expected(tally, date):
    """What the dashboard page must show for `date`: the date picker, the
    KPI tiles and the hourly breakdown rows."""
    dates = sorted({d for d, _, _ in tally.groups})
    rows = sorted(((h, ep, r, e, exact_percentile(b, 0.95))
                   for (d, h, ep), (r, e, b) in tally.groups.items() if d == date),
                  key=lambda t: (t[0], t[1]))
    req = sum(t[2] for t in rows)
    err = sum(t[3] for t in rows)
    rate = err / req * 100.0 if req else 0.0
    rate_s = str(Decimal(rate).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
    return {"dates": dates, "requests": req, "errors": err, "rate": rate_s, "rows": rows}


def days_from(start, n):
    return [start + dt.timedelta(days=i) for i in range(n)]
