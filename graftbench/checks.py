"""Output checks and the statistics the report is built from.

The canonical form is the one `tools/verify_local.py` compares in:
columns sorted by name, each row's values in that column order as
strings with floats at 9 significant digits, rows sorted.
"""
import hashlib
import math
import statistics

import pyarrow as pa


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(f"{r[i]:.9g}" if isinstance(r[i], float) else str(r[i])
                         for i in order))
    return sorted(cols), sorted(out)


def fingerprint(cols, rows):
    c, r = canon(cols, rows)
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def table_rows(tb):
    cols = list(tb.column_names)
    return cols, [tuple(d[c] for c in cols) for d in tb.to_pylist()]


def _type_cat(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "float"
    return str(t)


def compare_tables(spark_tb, duck_tb):
    """None when both tables have the same canonical fingerprint and
    compatible column types, else a one-line reason."""
    s_types = {f.name: _type_cat(f.type) for f in spark_tb.schema}
    d_types = {f.name: _type_cat(f.type) for f in duck_tb.schema}
    bad = [c for c in sorted(set(s_types) & set(d_types)) if s_types[c] != d_types[c]]
    if bad:
        return f"column types differ: {bad}"
    fs, fd = fingerprint(*table_rows(spark_tb)), fingerprint(*table_rows(duck_tb))
    if fs != fd:
        return (f"fingerprint {fs} ({spark_tb.num_rows} rows) != oracle "
                f"{fd} ({duck_tb.num_rows} rows)")
    return None


def tail_percentile(values, p=90, beyond=10):
    """(percentile, value, n) at the highest percentile <= p that has at
    least `beyond` samples above its nearest-rank position; None when
    there are too few samples for any."""
    v = sorted(values)
    n = len(v)
    for q in range(p, 0, -1):
        rank = math.ceil(q * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return q, v[rank - 1], n
    return None


def median(values):
    return statistics.median(values) if values else None


def geomean(values):
    return statistics.geometric_mean(values) if values else None
