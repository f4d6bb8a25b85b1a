"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names,
and values (columns sorted by name, rows sorted, exact equality; floats
compared exactly after both engines' own rounding). Stricter than any
reasonable hash, so a PASS here should mean a PASS in CORRECTNESS_r{N}.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def normalize(df, colnames):
    import pandas as pd

    df = df[sorted(colnames)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str).where(df[c].notna(), None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last").reset_index(drop=True)
    return df


def compare(name, spark_pdf, duck_pdf):
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    if problems:
        return problems
    s = normalize(spark_pdf, s_cols)
    d = normalize(duck_pdf, d_cols)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if str(sv.dtype).startswith("datetime") or str(dv.dtype).startswith("datetime"):
            eq = (sv == dv) | (sv.isna() & dv.isna())
            if not eq.all():
                i = int((~eq).idxmax())
                problems.append(
                    f"col {c}: {int((~eq).sum())} ts mismatches, first at row {i}: "
                    f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
                )
        elif str(sv.dtype).startswith("float") or str(dv.dtype).startswith("float"):
            both_nan = sv.isna() & dv.isna()
            eq = (sv == dv) | both_nan
            if not eq.all():
                diffs = (sv - dv).abs()
                mx = diffs.max()
                n_bad = int((~eq).sum())
                problems.append(f"col {c}: {n_bad} float mismatches, max abs diff {mx}")
        else:
            svn = sv.where(sv.notna(), None)
            dvn = dv.where(dv.notna(), None)
            neq = [
                i
                for i, (a, b) in enumerate(zip(svn.tolist(), dvn.tolist()))
                if a != b and not (a is None and b is None)
                and not (isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b))
            ]
            if neq:
                i = neq[0]
                problems.append(
                    f"col {c}: {len(neq)} mismatches, first at row {i}: spark={svn.iloc[i]!r} duck={dvn.iloc[i]!r}"
                )
    return problems


def main():
    import duckdb

    import __spark_entry__ as E
    from tcdb_spark.schemas import TESTDATA_TABLES
    from tcdb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    passed, failed, weak = [], [], []
    rows: list[tuple[str, str, int, float]] = []  # (name, status, n, sec)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failed.append(name)
            rows.append((name, "FAIL", -1, time.time() - t0))
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            continue
        if name not in oracles:
            weak.append(name)
            rows.append((name, "WEAK", len(sdf), time.time() - t0))
            print(f"WEAK {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            failed.append(name)
            rows.append((name, "FAIL", len(sdf), time.time() - t0))
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failed.append(name)
            rows.append((name, "FAIL", len(sdf), time.time() - t0))
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            passed.append(name)
            rows.append((name, "PASS", len(sdf), time.time() - t0))
            print(f"PASS {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(weak)} weak (rows-only)")
    if not only:
        # full-matrix runs commit the evidence as a first-class artifact:
        # the driver samples only ~50 lanes per round, so this file is the
        # correctness record for the other ~150 (VERDICT r5 #4).  Gated
        # for freshness by tools/refresh_artifacts.py.
        write_artifact(sf_dir, rows, len(passed), len(failed), len(weak))
    if failed:
        print("failed:", ", ".join(failed))
        sys.exit(1)


def write_artifact(sf_dir, rows, n_pass, n_fail, n_weak):
    lines = [
        "# ORACLE_SUPERSET — full-catalog correctness evidence",
        "",
        f"Every registered query run against its DuckDB oracle at `{sf_dir}`",
        "(exact value equality after column-name sort + row sort — stricter",
        "than the driver's hash compare). Regenerated by",
        "`python tools/check_oracle.py <sf_dir>` and freshness-gated by",
        "`tools/refresh_artifacts.py`; WEAK = registered without an oracle",
        "(rows-only by nature).",
        "",
        f"**{len(rows)} queries audited: {n_pass} passed, {n_fail} failed, "
        f"{n_weak} weak (rows-only).**",
        "",
        "| query | status | rows | sec |",
        "|---|---|---|---|",
    ]
    for name, status, n, sec in rows:
        lines.append(f"| {name} | {status} | {n} | {sec:.1f} |")
    with open(os.path.join(REPO, "ORACLE_SUPERSET.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote ORACLE_SUPERSET.md ({len(rows)} rows)")


if __name__ == "__main__":
    main()
