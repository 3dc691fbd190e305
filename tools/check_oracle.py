#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir> [name,name,...]

Reads each <name>/ parquet dir written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sfDir parquet tables,
then compares: row count, column names, and a hash of the value matrix
(columns sorted by name, rows sorted). The optional third argument is the
comma-separated name list graft.Verify accepts: the check then covers
exactly those rows; a listed name without a dump fails, as in the full check.
"""
import sys, json, glob, os, hashlib, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)

def frame_hash(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = ["|".join(norm_cell(v) for v in rec) for rec in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return h, cols, len(rows)

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written table (e.g. the GenScale sf1 fixture): a
            # directory of part files rather than the driver's single file
            con.sql(f"create view {t} as select * from '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"create view {t} as select * from '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted([os.path.basename(d) for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d)])
    n_pass = n_fail = n_noora = 0
    if only is not None:
        for unknown in sorted(only - set(oracles) - set(names)):
            print(f"✗ {unknown}: NO DUMP AND NO ORACLE (unknown name?)")
            n_fail += 1
        oracles = {k: v for k, v in oracles.items() if k in only}
        names = [n for n in names if n in only]
    # an oracle key with no dump dir means the query FAILED inside Verify
    # (it swallows per-query errors to stderr) — count it as a failure, the
    # way the driver's compare would
    for missing in sorted(set(oracles) - set(names)):
        print(f"✗ {missing}: NO DUMP (query failed in Verify — see its stderr)")
        n_fail += 1
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        got = pq.ParquetDataset(files).read().to_pandas() if files else pd.DataFrame()
        gh, gcols, gn = frame_hash(got)
        if name not in oracles:
            print(f"  {name}: NO-ORACLE rows={gn}")
            n_noora += 1
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        eh, ecols, en = frame_hash(exp)
        ok = (gh == eh) and (gcols == ecols) and (gn == en)
        if ok:
            print(f"✓ {name}: rows={gn}")
            n_pass += 1
        else:
            n_fail += 1
            print(f"✗ {name}: rows {gn} vs {en}; cols {gcols} vs {ecols}; hash {gh} vs {eh}")
            if gcols == ecols and gn == en:
                cols = sorted(got.columns)
                g = got[cols].sort_values(cols).reset_index(drop=True)
                e = exp[cols].sort_values(cols).reset_index(drop=True)
                for i in range(min(len(g), 5000)):
                    if any(norm_cell(a) != norm_cell(b) for a, b in zip(g.iloc[i], e.iloc[i])):
                        print(f"    first diff row {i}:\n      got {list(g.iloc[i])}\n      exp {list(e.iloc[i])}")
                        break
    print(f"PASS {n_pass} FAIL {n_fail} NO-ORACLE {n_noora}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    only = set(filter(None, sys.argv[3].split(","))) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
