"""Capture .explain("formatted") for every headline lane into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
plan evidence, against which plan-shape claims are checked.

Usage: python tools/capture_plans.py <round> <before|after> [sf_dir] [lane ...]

``round`` names the output directory (``r08``, ``r09``, ...); ``sf_dir``
defaults to the bench's ($SPARK_GRAFT_SF_DIR, else sf0.1).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    from bench import HEADLINE, headline_impls
    from tcdb_spark.session import get_spark, sf_dir

    sf = sys.argv[3] if len(sys.argv) > 3 else sf_dir()
    lanes = sys.argv[4:] or HEADLINE
    spark = get_spark("plan-capture")
    impls = headline_impls()
    out_dir = os.path.join(_REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in lanes:
        df = impls[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"captured {name}_{tag}")


if __name__ == "__main__":
    main()
