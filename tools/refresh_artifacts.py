"""End-of-round artifact gate: regenerate PLAN_LINT.md, EXPLAINS.md and
SHUFFLE_PROFILE.md in one command and FAIL if any of them lags the
catalog at HEAD.

Round-4 process defect: 13 late-session queries were allowlisted in the
lint but the committed PLAN_LINT.md was never regenerated — the lint's
own completeness gate would have caught it, if anyone had re-run it.
This tool makes "re-run everything" one command whose exit code is the
round's artifact contract:

  python tools/refresh_artifacts.py [lint_sf_dir] [profile_sf_dir]

Steps (each a subprocess so their Spark sessions don't interfere):
  1. tools/plan_lint.py       at lint_sf_dir    (default sf0.01) — also
     enforces the per-query runtime budget and plan-shape rules.
  2. tools/explain_report.py  at lint_sf_dir.
  3. tools/shuffle_profile.py at profile_sf_dir (default sf0.1).
  4. Staleness check: PLAN_LINT.md's audited-row count must equal
     len(QUERIES) imported fresh from HEAD, and every artifact's mtime
     must be newer than the newest source file under tcdb_spark/.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ARTIFACTS = [
    "PLAN_LINT.md",
    "EXPLAINS.md",
    "SHUFFLE_PROFILE.md",
    "ORACLE_SUPERSET.md",
    "CATALOG.md",
]


def newest_source_mtime() -> float:
    newest = 0.0
    for root, _dirs, files in os.walk(os.path.join(REPO, "tcdb_spark")):
        for n in files:
            if n.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(root, n)))
    return newest


def main() -> None:
    lint_sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prof_sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    failures: list[str] = []

    steps = [
        ([sys.executable, "tools/plan_lint.py", lint_sf], "plan_lint"),
        ([sys.executable, "tools/explain_report.py", lint_sf], "explain_report"),
        ([sys.executable, "tools/shuffle_profile.py", prof_sf], "shuffle_profile"),
        # full-matrix oracle run writes ORACLE_SUPERSET.md — the
        # correctness record for the ~150 lanes the driver never samples
        ([sys.executable, "tools/check_oracle.py", lint_sf], "check_oracle"),
        # registry-derived lane index (VERDICT r6 #8) — regenerated here
        # so it can never lag the catalog
        ([sys.executable, "tools/catalog_map.py"], "catalog_map"),
    ]
    for cmd, label in steps:
        print(f"==> {label} ({' '.join(cmd[2:])})", flush=True)
        rc = subprocess.run(cmd, cwd=REPO).returncode
        if rc != 0:
            failures.append(f"{label} exited {rc}")

    # catalog-count staleness gate (imported fresh from HEAD)
    from tcdb_spark.plans import QUERIES

    lint_path = os.path.join(REPO, "PLAN_LINT.md")
    m = re.search(r"^(\d+) queries audited", open(lint_path).read(), re.M)
    audited = int(m.group(1)) if m else -1
    if audited != len(QUERIES):
        failures.append(
            f"PLAN_LINT.md audited {audited} queries but the catalog has "
            f"{len(QUERIES)} — artifact lags HEAD"
        )

    sup_path = os.path.join(REPO, "ORACLE_SUPERSET.md")
    if os.path.exists(sup_path):
        m = re.search(r"\*\*(\d+) queries audited", open(sup_path).read())
        sup_n = int(m.group(1)) if m else -1
        if sup_n != len(QUERIES):
            failures.append(
                f"ORACLE_SUPERSET.md audited {sup_n} queries but the catalog "
                f"has {len(QUERIES)} — artifact lags HEAD"
            )

    src_mtime = newest_source_mtime()
    for a in ARTIFACTS:
        p = os.path.join(REPO, a)
        if not os.path.exists(p):
            failures.append(f"{a} missing")
        elif os.path.getmtime(p) < src_mtime:
            failures.append(f"{a} older than the newest tcdb_spark/ source")

    # bench-recording hygiene gate (VERDICT r6 #2): a BENCH artifact whose
    # own loadavg_before shows external contention must not be blessed as
    # the round's number — two consecutive rounds lost comparability to
    # exactly this.  Older artifacts predate the flag and are skipped.
    import glob
    import json

    for bench_path in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        try:
            rec = json.load(open(bench_path))
        except (OSError, ValueError):
            continue
        if rec.get("contaminated"):
            failures.append(
                f"{os.path.basename(bench_path)} is marked contaminated "
                f"(loadavg_before={rec.get('loadavg_before')}) — re-record "
                "on an idle box before blessing the round"
            )

    if failures:
        print("ARTIFACT GATE FAILED:")
        for f_ in failures:
            print(" -", f_)
        sys.exit(1)
    print(f"artifacts fresh: {', '.join(ARTIFACTS)} @ {len(QUERIES)} catalog queries")


if __name__ == "__main__":
    main()
