"""Check query and replay outputs against their DuckDB oracles.

The rules follow tools/check.py: columns compared by name, rows as a
multiset, and cells by value (floats exactly, NaN equal to NaN). Results
arrive as JSON from the harness, typed by their Spark column types;
DuckDB's values are brought to the same form (timestamps as epoch
microseconds, dates as ISO strings). Oracle results depend only on the
SQL and the fixed tables, so they are cached by their SQL's hash.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

INTEGRAL = {"long", "integer", "short", "byte"}
FLOATING = {"double", "float"}
TIMESTAMPS = {"timestamp", "timestamp_ntz"}
EPOCH = datetime.datetime(1970, 1, 1)


def norm(v, typ):
    if v is None:
        return None
    if typ in TIMESTAMPS:
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            d = v - EPOCH
            return (d.days * 86400 + d.seconds) * 1000000 + d.microseconds
        if isinstance(v, datetime.date):
            # a DATE where Spark has a timestamp (date_trunc): midnight,
            # as tools/check.py compares both as datetime64
            return (v - EPOCH.date()).days * 86400 * 1000000
        return int(v)
    if typ == "date":
        return v.isoformat() if isinstance(v, datetime.date) else str(v)
    if typ in FLOATING:
        return float(v)
    if typ in INTEGRAL:
        if isinstance(v, float) and v.is_integer():
            return int(v)
        if isinstance(v, decimal.Decimal) and v == v.to_integral_value():
            return int(v)
        return v
    if typ == "boolean":
        return bool(v)
    return str(v)


def sort_key(row):
    key = []
    for v in row:
        if v is None:
            key.append((0,))
        elif isinstance(v, float) and math.isnan(v):
            key.append((1,))
        elif isinstance(v, (int, float, bool)):
            key.append((2, v))
        else:
            key.append((3, str(v)))
    return key


def canon(columns, types, rows):
    """Rows with columns in name order, normalized and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[norm(r[i], types[i]) for i in order] for r in rows]
    out.sort(key=sort_key)
    return [columns[i] for i in order], out


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return fa == fb or (math.isnan(fa) and math.isnan(fb))
    return a == b


class Oracle:
    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.con = None

    def _connect(self):
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            for p in sorted(glob.glob(os.path.join(self.data_dir, "*.parquet"))):
                name = os.path.basename(p)[:-len(".parquet")]
                self.con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def expected(self, sql, types_by_name):
        key = hashlib.sha256((self.data_dir + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        cur = self._connect().execute(sql)
        columns = [d[0] for d in cur.description]
        rows = cur.fetchall()
        types = [types_by_name.get(c, "string") for c in columns]
        cols, out = canon(columns, types, rows)
        res = {"columns": cols, "rows": out}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(res, f)
        os.replace(tmp, path)
        return res

    def check(self, output_path, sql):
        """None when the output matches its oracle, else why not."""
        with open(output_path) as f:
            got = json.load(f)
        cols, rows = canon(got["columns"], got["types"], got["rows"])
        exp = self.expected(sql, dict(zip(got["columns"], got["types"])))
        # cached rows went through JSON: normalize again to compare like types
        types = dict(zip(got["columns"], got["types"]))
        exp_rows = [[norm(v, types.get(c, "string")) for c, v in
                     zip(exp["columns"], r)] for r in exp["rows"]]
        if exp["columns"] != cols:
            return f"columns {cols} != oracle {exp['columns']}"
        if len(exp_rows) != len(rows):
            return f"{len(rows)} rows != oracle {len(exp_rows)}"
        for i, (g, e) in enumerate(zip(rows, exp_rows)):
            for c, a, b in zip(cols, g, e):
                if not cells_equal(a, b):
                    return f"row {i} column {c}: {a!r} != oracle {b!r}"
        return None
