"""DuckDB oracle fingerprints for the query workloads.

Each listed query's oracle SQL runs in DuckDB against views over the same
parquet tables the engine reads, and the result is fingerprinted exactly
as `graft.bench.Canon` fingerprints the engine's collected rows. The
canonicalization is that of `tools/check_oracle.py`: columns sorted by
name, rows compared as a multiset, values compared exactly (integral
numbers equal across integer and floating types, NaN equal to NaN).
"""
import datetime
import decimal
import hashlib
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_DAY_US = 86_400_000_000


def _num(x):
    if x != x:
        return "N"
    if x in (float("inf"), float("-inf")):
        return "f+inf" if x > 0 else "f-inf"
    if x.is_integer() and abs(x) < 9.0e18:
        return "i%d" % int(x)
    return "f%x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        base = _EPOCH_TZ if v.tzinfo is not None else _EPOCH
        return "t%d" % ((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "t%d" % ((v - datetime.date(1970, 1, 1)).days * _DAY_US)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + "\u0003".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + "\u0003".join(cell(x) for x in v.values()) + "}"
    return "?" + str(v)


def fingerprint(columns, rows, extra=()):
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    digests = [hashlib.sha1("\u0001".join(cell(r[i]) for i in order).encode("utf-8")).hexdigest()
               for r in rows]
    digests += [hashlib.sha1(e.encode("utf-8")).hexdigest() for e in extra]
    head = "\u0001".join(columns[i] for i in order)
    return hashlib.sha256((head + "\u0002" + "\n".join(sorted(digests))).encode("utf-8")).hexdigest()


def oracle_fingerprints(data_dir, sqls, threads=4):
    """{query name: fingerprint or an 'error: ...' string} for `sqls`."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, sql in sqls.items():
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = fingerprint(cols, cur.fetchall())
        except Exception as e:  # an oracle that cannot run fails its query
            out[name] = f"error: {type(e).__name__}: {e}"
    con.close()
    return out
