"""Local simulation of the driver's DuckDB oracle comparison.

Runs each queries()[name] on Spark and oracle_sql()[name] on DuckDB over
the same sf dir, compares row count + column names + order-insensitive
row multiset (values normalized: floats rounded to 9 significant debug
digits, timestamps to ISO strings).
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the JVM and its Python workers inherit this environment, so UDF workers
# can import osmgraft whatever directory the tool runs from
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

VIEWS = "region nation customer supplier part orders lineitem events documents".split()


def _spark_dtype_kind(dt: str) -> str:
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "i"
    if dt in ("float", "double"):
        return "f"
    return ""


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def main():
    from __spark_entry__ import oracle_sql, queries
    from osmgraft.session import get_spark

    # progress bars interleave carriage returns into the ok/FAIL lines,
    # breaking line-oriented consumers of this tool's output
    spark = get_spark(
        cores=8, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in VIEWS:
        con.execute(f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')")

    qs, os_ = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        has_oracle = name in os_
        try:
            sdf = fn(spark, SF)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            failures += 1
            continue
        if not has_oracle:
            print(f"ok   {name}: rows-only, {len(srows)} rows")
            continue
        try:
            res = con.execute(os_[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            failures += 1
            continue
        # dtype-kind cross-check: the driver hashes values after a pandas
        # fetch, where e.g. DuckDB HUGEINT (sum of BIGINT) lands as float64
        # and renders "1981.0" against Spark's int64 "1981" — a hash
        # mismatch invisible to the Python-object comparison below.
        try:
            ddf = con.execute(os_[name]).fetchdf()
            kind_fail = False
            for c in scols:
                skind = _spark_dtype_kind(dict(sdf.dtypes)[c])
                dkind = ddf[c].dtype.kind if c in ddf.columns else "?"
                if skind and dkind in "if" and skind != dkind:
                    print(f"FAIL {name}: dtype kind mismatch on {c}: spark {skind} vs duckdb-pandas {dkind}")
                    kind_fail = True
            if kind_fail:
                failures += 1
                continue
        except Exception as e:  # pragma: no cover - diagnostic only
            print(f"warn {name}: dtype cross-check skipped ({e})")
        # reorder duck columns to spark order
        idx = [dcols.index(c) for c in scols]
        sset = sorted(tuple(norm(r[c]) for c in scols) for r in srows)
        dset = sorted(tuple(norm(r[i]) for i in idx) for r in drows)
        if len(sset) != len(dset):
            print(f"FAIL {name}: rowcount {len(sset)} vs {len(dset)}")
            failures += 1
            continue
        if sset != dset:
            diff_s = [r for r in sset if r not in set(dset)][:3]
            diff_d = [r for r in dset if r not in set(sset)][:3]
            print(f"FAIL {name}: values differ; spark-only {diff_s} duck-only {diff_d}")
            failures += 1
            continue
        print(f"ok   {name}: {len(sset)} rows match")
    print("FAILURES:", failures)
    return failures


if __name__ == "__main__":
    raise SystemExit(1 if main() else 0)
