"""Expected results.

Reads of the events series are checked against DuckDB over the same
points, with the window and rounding rules of the `tsql_*` gate
oracles (graft.queries.TsqlSurface): min/max take the earliest
timestamp on ties, avg and SAMPLE BY divide an exact decimal sum by the
count as a double and round that double to 4 places (round4), and a
SAMPLE BY row is stamped at the end of its window. Ingest is checked
against a client-side model of what was acknowledged.
"""
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

import duckdb

import wire

_SIX = Decimal("0.000001")
_FOUR = Decimal("0.0001")
_MEAN = "CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*)"


def round4(mean):
    """The gate oracles' `round(<double mean>, 4)` as Spark's round reads
    it: the double's decimal text (the shortest that reads back as the
    same double) rounded half-up to 4 places. DuckDB's own round scales by
    10^4 in binary first, which can turn a double just below a half-way
    point into an exact .5: 6692.19 / 120 is the double
    55.768249999999995, which rounds to 55.7682, but DuckDB answers
    55.7683. DuckDB still computes the windows, the exact sums, the
    counts and the division."""
    return float(Decimal(repr(mean)).quantize(_FOUR, rounding=ROUND_HALF_UP))


def fmt(value):
    """The server's record value text: the exact binary value rounded
    half-even to 6 decimals, like C's %lf."""
    return str(Decimal(value).quantize(_SIX, rounding=ROUND_HALF_EVEN))


def same_records(resp, expected):
    return isinstance(resp, wire.Records) and resp.records == expected


class EventsOracle:
    def __init__(self, parquet_path):
        self.db = duckdb.connect()
        self.db.execute(f"CREATE TABLE ev AS SELECT timestamp, value FROM read_parquet('{parquet_path}')")

    def _records(self, sql, params):
        return [(int(t), fmt(v)) for t, v in self.db.execute(sql, params).fetchall()]

    def expected(self, spec):
        """Expected response for a read spec (fn, t0, t1, sample_ns):
        a list of records, or ("avg", value, n) for avg."""
        fn, t0, t1, sample = spec
        where = "FROM ev WHERE timestamp BETWEEN ? AND ?"
        if sample:
            rows = self.db.execute(
                f"SELECT (timestamp - timestamp % {sample}) + {sample} AS s, {_MEAN} "
                f"{where} GROUP BY 1 ORDER BY 1", [t0, t1]).fetchall()
            return [(int(t), fmt(round4(m))) for t, m in rows]
        if fn is None:
            return self._records(f"SELECT timestamp, value {where} ORDER BY timestamp", [t0, t1])
        if fn == "avg":
            mean, n = self.db.execute(f"SELECT {_MEAN}, count(*) {where}", [t0, t1]).fetchone()
            return ("avg", round4(mean) if n else None, n)
        order = {"min": "value ASC, timestamp ASC", "max": "value DESC, timestamp ASC",
                 "latest": "timestamp DESC"}[fn]
        return self._records(f"SELECT timestamp, value {where} ORDER BY {order} LIMIT 1", [t0, t1])

    def check(self, spec, resp):
        exp = self.expected(spec)
        if isinstance(exp, tuple):
            if exp[2] == 0:  # avg of nothing is an error
                return isinstance(resp, wire.Str) and not resp.ok
            if not (isinstance(resp, wire.Str) and resp.ok):
                return False
            parts = resp.message.split()
            return len(parts) == 2 and float(parts[0]) == exp[1] and int(parts[1]) == exp[2]
        if spec[0] is not None and not exp:  # an aggregate of nothing is an error
            return isinstance(resp, wire.Str) and not resp.ok
        return same_records(resp, exp)


class IngestModel:
    """What one series should hold after its acknowledged INSERTs:
    every point under `insert`; the first value of a timestamp under
    `ignore`."""

    def __init__(self, policy):
        self.policy, self.points = policy, {}

    def expected_ack(self, pts):
        return sum(1 for t, _ in pts if t not in self.points) if self.policy == "ignore" \
            else len(pts)

    def apply(self, pts):
        for t, v in pts:
            if self.policy == "insert" or t not in self.points:
                self.points[t] = v

    def window(self, t0, t1):
        return [(t, fmt(v)) for t, v in sorted(self.points.items()) if t0 <= t <= t1]

    def latest(self):
        t = max(self.points)
        return [(t, fmt(self.points[t]))]

    def all(self):
        return [(t, fmt(v)) for t, v in sorted(self.points.items())]


def acked_count(resp):
    """Points the server says it inserted, from `<n> point(s) inserted, ...`."""
    if isinstance(resp, wire.Str) and resp.ok and "point(s) inserted" in resp.message:
        return int(resp.message.split()[0])
    return None
