"""DuckDB oracle check of the pipeline workload's timed query results.

Each `<dumps>/<query>/` parquet holds the rows a query returned in the
timed loop; `oracle_sql.json` holds `SparkEntry.oracleSql` for them and
`data_dir` the generated source tables. The comparison follows the rules of
scripts/selfcheck.py: columns matched by name, result types compared with
the integer widths folded together, row counts equal, and every row equal
in the order produced (the judged queries all have a total ORDER BY).
"""
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _canon(t):
    t = str(t).upper()
    if t == "TIMESTAMP WITH TIME ZONE":
        return "TIMESTAMP"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "INT_FAMILY"
    return t


def compare(dumps):
    with open(os.path.join(dumps, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(dumps, "data_dir")) as fh:
        data = fh.read().strip()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    checks = []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(dumps, name, "*.parquet"))
        if not files:
            checks.append({"name": f"oracle {name}", "ok": False, "detail": "no result dumped"})
            continue
        got = con.sql(f"SELECT * FROM '{files[0]}'")
        gcols, gtypes, grows = list(got.columns), [_canon(t) for t in got.types], got.fetchall()
        try:
            exp = con.sql(oracle[name])
            ecols, etypes, erows = list(exp.columns), [_canon(t) for t in exp.types], exp.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"name": f"oracle {name}", "ok": False, "detail": f"oracle error: {e}"})
            continue
        detail = ""
        if sorted(gcols) != sorted(ecols):
            detail = f"columns differ: {sorted(gcols)} vs {sorted(ecols)}"
        else:
            gi = [gcols.index(c) for c in sorted(gcols)]
            ei = [ecols.index(c) for c in sorted(ecols)]
            drift = [(c, gtypes[g], etypes[e]) for c, g, e in zip(sorted(gcols), gi, ei)
                     if gtypes[g] != etypes[e]]
            if drift:
                detail = f"column types differ: {drift}"
            elif len(grows) != len(erows):
                detail = f"row count differs: spark={len(grows)} oracle={len(erows)}"
            else:
                for i, (gr, er) in enumerate(zip(grows, erows)):
                    gv, ev = [_norm(gr[j]) for j in gi], [_norm(er[j]) for j in ei]
                    if gv != ev:
                        detail = f"row {i}: spark={gv} oracle={ev}"
                        break
        checks.append({"name": f"oracle {name}", "ok": not detail,
                       "detail": detail or f"{len(grows)} rows"})
    return checks
