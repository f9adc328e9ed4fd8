"""Correctness gate for the benchmark: every checked result's value digest
must equal the digest of the same query run by DuckDB over the same
parquet files.

A digest is a SHA-256 over the sorted column names and the rows, each
value in a canonical form: floats to 9 significant digits, decimals with
their scale, dates and timestamps in ISO form, nested values element by
element. Every checked query fully orders its result, so row order is part
of the digest, except for async results: those are the union of
per-branch spills, in no order, so they are compared as multisets, and
without the provenance columns the async path adds to every row.
"""
import datetime
import decimal
import hashlib
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

PROVENANCE = ("_source_relay_", "_source_id_")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, int) or isinstance(v, str):
        return v
    if isinstance(v, float):
        return "NaN" if v != v else float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "bin:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in sorted(v.items())}
    return repr(v)


def rows_of(table):
    cols = sorted(table.column_names)
    rows = [json.dumps([canon(r[c]) for c in cols], sort_keys=True)
            for r in table.select(cols).to_pylist()]
    return cols, rows


def digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.cache = {}

    def query(self, sql):
        if sql not in self.cache:
            self.cache[sql] = self.con.execute(sql).fetch_arrow_table()
        return self.cache[sql]

    def check(self, c):
        """None if check `c` (one entry of the harness's result.json)
        holds, else a one-line reason."""
        kind = c["kind"]
        if kind == "sync":
            got = read_body(c["file"], c["format"])
            return compare(got, self.query(c["duck_sql"]))
        if kind == "async":
            got = read_body(c["file"], c["format"])
            if got is not None:
                got = got.drop([p for p in PROVENANCE if p in got.column_names])
            return compare(got, self.query(c["duck_sql"]), ordered=False)
        if kind == "pipeline":
            got = pq.read_table(c["file"])
            if not c["duck_sql"]:
                return None if got.num_rows > 0 else "no oracle and no rows"
            return compare(got, self.query(c["duck_sql"]))
        return f"unknown check kind {kind}"


def read_body(path, fmt):
    """A relay response body as an Arrow table; None for an empty body
    (graft answers an empty parquet result with no bytes)."""
    data = open(path, "rb").read()
    if not data:
        return None
    if fmt == "arrow":
        return pa.ipc.open_stream(pa.BufferReader(data)).read_all()
    return pq.read_table(pa.BufferReader(data))


def compare(got, exp, ordered=True):
    if got is None:
        return None if exp.num_rows == 0 else f"empty result, oracle has {exp.num_rows} rows"
    gcols, grows = rows_of(got)
    ecols, erows = rows_of(exp)
    if not ordered:
        grows, erows = sorted(grows), sorted(erows)
    if gcols != ecols:
        return f"columns {gcols} != oracle {ecols}"
    if len(grows) != len(erows):
        return f"{len(grows)} rows != oracle {len(erows)}"
    if digest(gcols, grows) != digest(ecols, erows):
        return "value digest differs from the oracle"
    return None


def gate(result, data_dir):
    """Run every check in `result`; returns (failed op count, named
    mismatches)."""
    oracle = Oracle(data_dir)
    failed, names = 0, []
    for c in result["checks"]:
        try:
            why = oracle.check(c)
        except Exception as e:  # an unreadable result is a wrong result
            why = f"check error: {e}"
        if why:
            failed += c["count"]
            names.append(f"{c['name']}: {why}")
    return failed, names


if __name__ == "__main__":
    import sys
    res = json.load(open(sys.argv[1]))
    n, names = gate(res, sys.argv[2])
    print(n, *names, sep="\n")
    sys.exit(1 if n else 0)
