#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py [sfDir] [verifyOut]

Reads each parquet result written by graft.Verify, runs the matching
DuckDB oracle SQL from oracle_sql.json against the same tables, sorts
columns by name + rows by all columns, and compares values exactly
(with a float near-miss report to distinguish rounding ulps from real
bugs).

Gate scope (round 7: BOTH sides fingerprinted): each pass records
oracle_sha256 (the SQL text) AND impl_sha256 (the normalized analyzed
logical plan of the Spark-side fn at the canonical SF, dumped by
Verify as impl_fp.json). OracleGateSpec turns red on an edited oracle
without a re-run; ImplGateSpec turns red on an edited Spark fn (or
shared helper that changes its plan) without a re-run — the previously
documented scope gap. Each pass also records result_sha256 (a hash of
the canonicalized Spark output) so cross-round output drift shows in
the gate-log diff even when both fingerprints are unchanged.
"""
import hashlib, json, math, os, sys

import duckdb

# Registration gate: every PASS is recorded here keyed by query name
# with a sha256 of the exact oracle SQL; OracleGateSpec fails `sbt
# test` for any registered oracle whose current SQL has no recorded
# pass (new query never gate-checked, edited SQL not re-checked, or a
# FAIL that evicted the entry).
GATE_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "gate_log.json")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

# Scala-side fingerprints (Verify dumps sha256 of each query's
# normalized analyzed plan at the canonical SF). Recorded into each
# gate pass so ImplGateSpec can detect fn edits that leave the oracle
# SQL untouched — closing the documented gate-scope gap. Absent file
# (old Verify output) carries prior hashes forward rather than evicting.
impl_fp = {}
if os.path.exists(f"{OUT}/impl_fp.json"):
    impl_fp = json.load(open(f"{OUT}/impl_fp.json"))

def canon(df):
    df = df[sorted(df.columns)]
    # arrays/lists aren't sortable/hashable in pandas — canonicalize to tuples
    for c in df.columns:
        if df[c].map(lambda x: isinstance(x, (list, tuple)) or
                     getattr(x, "ndim", 0) > 0).any():
            df[c] = df[c].map(lambda x: tuple(x) if x is not None else None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b

# query -> "ExceptionClass: message" for each query whose Verify run
# failed; older Verify output has no errors.json
errors = {}
if os.path.exists(f"{OUT}/errors.json"):
    errors = json.load(open(f"{OUT}/errors.json"))

gate = {}
if os.path.exists(GATE_LOG):
    gate = json.load(open(GATE_LOG))

npass = nfail = nskip = 0
for name, sql in sorted(oracle.items()):
    ok, nrows = False, 0
    if not os.path.isdir(os.path.join(OUT, name)):
        # output never dumped (stale/partial verify dir) — not a
        # comparison failure: leave any recorded gate pass untouched
        cause = f" ({errors[name]})" if name in errors else ""
        print(f"SKIP {name}: no output at {OUT}/{name}{cause}")
        nskip += 1
        continue
    try:
        got = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
        want = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        nfail += 1
        gate.pop(name, None)
        continue
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs oracle {list(w.columns)}")
        nfail += 1
    elif len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} vs oracle {len(w)}")
        nfail += 1
    else:
        bad = []
        for c in g.columns:
            gv, wv = g[c].tolist(), w[c].tolist()
            for i, (x, y) in enumerate(zip(gv, wv)):
                if not cell_eq(x, y):
                    bad.append((c, i, x, y))
                    if len(bad) > 4:
                        break
            if len(bad) > 4:
                break
        if bad:
            print(f"FAIL {name}: {len(bad)}+ cell diffs, first: {bad[:3]}")
            nfail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            npass += 1
            ok, nrows = True, len(g)
    if ok:
        entry = {
            "oracle_sha256": hashlib.sha256(sql.encode("utf-8")).hexdigest(),
            "result_sha256": hashlib.sha256(
                g.to_csv(index=False, float_format="%.17g").encode("utf-8")
            ).hexdigest(),
            "sf": os.path.basename(SF.rstrip("/")),
            "rows": nrows,
        }
        ih = impl_fp.get(name)
        if ih is None and impl_fp:
            # impl_fp.json exists but this query has no fresh fingerprint:
            # Verify's fingerprint path failed silently for it. Carrying the
            # old hash forward would stamp this PASS with a fingerprint the
            # run never computed — warn loudly and keep the stale hash only
            # so ImplGateSpec still fails closed on real edits.
            ih = gate.get(name, {}).get("impl_sha256")
            print(f"WARN {name}: no fresh impl fingerprint in impl_fp.json — "
                  f"Verify's fingerprint dump failed for this query; "
                  f"{'reusing the PREVIOUS impl_sha256' if ih else 'recording no impl_sha256'}")
        elif ih is None:
            ih = gate.get(name, {}).get("impl_sha256")
        if ih:
            entry["impl_sha256"] = ih
        # Never silently DOWNGRADE a larger-SF record (round 17, after
        # the same full-sf0.01-run downgrade recurred in r15 AND r16):
        # if the existing entry was recorded at a larger SF and both
        # the oracle and impl hashes are unchanged, the sf0.1 result
        # record still stands for this exact computation — keep it.
        # Any hash change (real edit) still replaces the entry.
        old = gate.get(name)
        def _sfv(e):
            try:
                return float(e.get("sf", "sf0")[2:])
            except (ValueError, AttributeError):
                # Visible, not silent (r17 ADVICE): a malformed sf
                # (e.g. a staged-drill dir "sf0.1_staged") ranks lowest
                # and can never win KEEP protection — safe direction,
                # but the operator should know the field is malformed.
                print(f"WARN {name}: unparseable sf {e.get('sf')!r} "
                      f"in gate record, treating as 0.0")
                return 0.0
        if (old and _sfv(old) > _sfv(entry)
                and old.get("oracle_sha256") == entry["oracle_sha256"]
                and old.get("impl_sha256") == entry.get("impl_sha256")):
            print(f"KEEP {name}: existing {old['sf']} gate record preserved "
                  f"(hashes unchanged; this {entry['sf']} pass adds nothing)")
        else:
            gate[name] = entry
    else:
        gate.pop(name, None)

with open(GATE_LOG, "w") as f:
    json.dump(gate, f, indent=1, sort_keys=True)
    f.write("\n")

skipnote = f", {nskip} skipped (no output)" if nskip else ""
print(f"\n{npass} pass, {nfail} fail{skipnote}, {len(oracle)} oracle-checked "
      f"(gate log: {len(gate)} recorded passes)")
sys.exit(1 if nfail else 0)
