#!/usr/bin/env python3
"""Local pre-check mimicking the driver's t2 gate (dev tool only, not part
of the library): reads Verify output dir, runs each oracle SQL in DuckDB
against the same sf dir, and compares row sets.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [onlySubstr1,onlySubstr2,...]
       python3 tools/check.py --digest <verifyOutDir>

The optional third arg restricts the compare to queries whose name
contains any of the comma-separated substrings (for scaled-dir runs
where some oracles are deliberately out of scope).

--digest prints one `name sha256` line per query output directory,
hashing the rows after the same canon() the oracle compare applies
(floats at full round-trip precision). Two Verify runs with equal
digests produced bit-identical outputs, which is the only exact check
the queries without an oracle have. It needs no DuckDB.
"""
import sys, json, glob, os, hashlib
import pyarrow.parquet as pq
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def read_output(spark_dir):
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else None

def digest(out_dir):
    for name in sorted(os.listdir(out_dir)):
        got = read_output(os.path.join(out_dir, name))
        if got is None:
            continue
        g = canon(got)
        body = ",".join(f"{c}:{t}" for c, t in zip(g.columns, g.dtypes)) + "\n" + g.to_csv(index=False)
        print(f"{name} {hashlib.sha256(body.encode()).hexdigest()}")
    return 0

def main(sf_dir, out_dir, only=None):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        sel = "*"
        if t == "events":
            # ScaleUp-written dirs carry ts as raw nanos BIGINT (Spark
            # can't write TIMESTAMP(NANOS)); rebuild the same µs-precision
            # TIMESTAMP DuckDB reads from the driver's original file
            schema = pq.read_schema(glob.glob(os.path.join(p, "*.parquet"))[0]
                                    if os.path.isdir(p) else p)
            if str(schema.field("ts").type) == "int64":
                sel = "* REPLACE (make_timestamp(ts // 1000) AS ts)"
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM read_parquet('{src}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    if only:
        pats = [s for s in only.split(",") if s]
        oracle = {k: v for k, v in oracle.items() if any(s in k for s in pats)}
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        got = read_output(os.path.join(out_dir, name))
        if got is None:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_bad += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}"); n_bad += 1; continue
        if g.shape != e.shape:
            print(f"FAIL {name}: shape {g.shape} vs {e.shape}"); n_bad += 1; continue
        dtypes_g, dtypes_e = list(map(str, g.dtypes)), list(map(str, e.dtypes))
        if dtypes_g != dtypes_e:
            print(f"WARN {name}: dtypes {dtypes_g} vs {dtypes_e}")
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            print(f"OK   {name}  ({g.shape[0]} rows)"); n_ok += 1
        except AssertionError as ex:
            msg = str(ex).splitlines()
            print(f"FAIL {name}: {msg[0]} | {' '.join(msg[1:4])}"); n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0

if __name__ == "__main__":
    if sys.argv[1] == "--digest":
        sys.exit(digest(sys.argv[2]))
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None))
