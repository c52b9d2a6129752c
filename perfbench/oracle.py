"""Output checks against DuckDB, an engine independent of the code under
test. Both sides are brought to one canonical form before comparing:
timestamps as `YYYY-MM-DD HH:MM:SS.ffffff`, intervals as seconds, structs
as their field values in order, floats compared with a relative
tolerance."""

import datetime
import decimal
import math
import re

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_TS = re.compile(r"^(\d{4}-\d{2}-\d{2})[ T](\d{2}:\d{2}:\d{2})(\.\d{1,9})?Z?$")
_ISO_DURATION = re.compile(
    r"^P(?:(\d+)D)?(?:T(?:(-?\d+)H)?(?:(-?\d+)M)?(?:(-?[\d.]+)S)?)?$")
_SPARK_DAY_INTERVAL = re.compile(r"^INTERVAL '(-?\d+)(?: (\d+):(\d+):([\d.]+))?' DAY")


class Oracle:
    """DuckDB views over the input copy a run reads."""

    def __init__(self, sf_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self._cache = {}

    def answer(self, sql):
        """(column names, canonical rows) of `sql`, cached by its text."""
        if sql not in self._cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._cache[sql] = (cols, [[canon(v) for v in row] for row in cur.fetchall()])
        return self._cache[sql]

    def close(self):
        self.con.close()


def canon(v):
    """Canonical, engine-independent form of one value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return v.total_seconds()
    if isinstance(v, str):
        return _canon_str(v)
    if isinstance(v, dict):
        return [canon(x) for x in v.values()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _canon_str(s):
    m = _TS.match(s)
    if m:
        frac = (m.group(3) or ".0")[1:]
        return f"{m.group(1)} {m.group(2)}.{frac[:6].ljust(6, '0')}"
    m = _ISO_DURATION.match(s)
    if m and s != "P":
        d, h, mi, sec = (float(x) if x else 0.0 for x in m.groups())
        return d * 86400 + h * 3600 + mi * 60 + sec
    m = _SPARK_DAY_INTERVAL.match(s)
    if m:
        d, h, mi, sec = (float(x) if x else 0.0 for x in m.groups())
        sign = -1.0 if d < 0 or s.startswith("INTERVAL '-") else 1.0
        return d * 86400 + sign * (h * 3600 + mi * 60 + sec)
    if s == "NaN":
        return None
    return s


def same(a, b):
    """Equality of canonical values, floats within a relative tolerance."""
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def _sort_key(row):
    def k(v):
        if isinstance(v, float):
            return (1, f"{v:.6g}")
        return (0 if v is None else 1, repr(v))
    return [k(v) for v in row]


def compare(expected_cols, expected_rows, actual_cols, actual_rows, ordered):
    """None when the results agree, else a one-line reason. Expected rows
    are canonical already (see `Oracle.answer`). Unordered results are
    compared as sorted multisets, as the repository's own oracle sweep
    compares them."""
    ec = [c.lower() for c in expected_cols]
    ac = [c.lower() for c in actual_cols]
    if sorted(ec) != sorted(ac):
        return f"columns differ: expected {ec}, got {ac}"
    if len(expected_rows) != len(actual_rows):
        return f"row count differs: expected {len(expected_rows)}, got {len(actual_rows)}"
    perm = [ac.index(c) for c in ec]
    if ordered:
        for i, (e, row) in enumerate(zip(expected_rows, actual_rows)):
            a = [row[j] for j in perm]
            if a != e:
                a = [canon(v) for v in a]
                if not same(e, a):
                    return _differs(i, e, a)
        return None
    exp = sorted(expected_rows, key=_sort_key)
    act = sorted(([canon(row[j]) for j in perm] for row in actual_rows), key=_sort_key)
    for i, (e, a) in enumerate(zip(exp, act)):
        if not same(e, a):
            return _differs(i, e, a)
    return None


def _differs(i, e, a):
    return f"row {i} differs: expected {str(e)[:160]}, got {str(a)[:160]}"
