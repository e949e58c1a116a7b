"""Output checks behind the benchmark's `failed` count.

XBRL: every manifest table is present with the manifest's row count and
numeric column sums, no unexpected table is written, and both
datapackage descriptors and the taxonomy-metadata JSON parse and list
every written table.

Queries: a result's row count and an order-independent content hash,
compared with the DuckDB oracle (SparkEntry.oracleSql) or, for a query
without an oracle, with a pinned row count.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq


def check_xbrl(out_dir, manifest):
    """Returns (attempted, [failure messages], summary)."""
    tables_dir = os.path.join(out_dir, "ferc1_xbrl")
    expected = manifest["tables"]
    written = sorted(d[:-len(".parquet")] for d in os.listdir(tables_dir)
                     if d.endswith(".parquet")) if os.path.isdir(tables_dir) else []
    fails, rows_total = [], 0
    for name in sorted(set(expected) | set(written)):
        if name not in expected:
            fails.append(f"{name}: written but not expected")
            continue
        exp = expected[name]
        if name not in written:
            fails.append(f"{name}: missing")
            continue
        t = pq.read_table(os.path.join(tables_dir, f"{name}.parquet"))
        rows_total += t.num_rows
        if t.num_rows != exp["rows"]:
            fails.append(f"{name}: rows {t.num_rows} != {exp['rows']}")
            continue
        for col, want in exp["sums"].items():
            got = pc.sum(t[col]).as_py() if col in t.column_names else None
            if got is None or abs(got - want) > 1e-6 * max(1.0, abs(want)):
                fails.append(f"{name}.{col}: sum {got} != {want}")
                break
    descriptors = {
        "sqlite datapackage": ("ferc1_xbrl_datapackage.json", "resources"),
        "parquet datapackage": ("ferc1_xbrl/datapackage.json", "resources"),
        "taxonomy metadata": ("ferc1_xbrl_taxonomy_metadata.json", None),
    }
    for label, (rel, key) in descriptors.items():
        try:
            with open(os.path.join(out_dir, rel)) as f:
                doc = json.load(f)
            listed = {r["name"] for r in doc[key]} if key else set(doc)
            missing = set(written) - listed
            if missing:
                fails.append(f"{label}: does not list {sorted(missing)[:3]}")
        except (OSError, ValueError, KeyError, TypeError) as e:
            fails.append(f"{label}: {e}")
    attempted = len(set(expected) | set(written)) + len(descriptors)
    files = [f for f in glob.glob(f"{tables_dir}/*.parquet/*") if f.endswith(".parquet")]
    out_bytes = sum(os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(out_dir) for f in fs)
    summary = {"rows": rows_total, "files": len(files), "bytes": out_bytes}
    return attempted, fails, summary


# ---- query results ----------------------------------------------------------

def _norm(v):
    """Canonical text of one value: numbers compare by value across
    integer, decimal and floating types, as the oracle check compares."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "null" if math.isnan(f) else repr(f)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def content_hash(columns, rows):
    """Row count and order-independent hash of a result: columns sorted
    by name, each row canonicalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()


def spark_result(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return [], []
    t = pq.ParquetDataset(files).read()
    cols = t.column_names
    data = [t.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if cols else []


def oracle_result(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()
