"""Dump `explain("formatted")` for registry queries to plans/<tag>/.

Usage: python scripts/dump_plans.py <suffix> [query ...]
Writes plans/r12/<query>_<suffix>.txt for each query (default: all).
Explain only — nothing is executed, so this is cheap and side-effect
free (streaming fixture queries that must run to build their input are
skipped with a note).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
os.chdir(REPO)

OUT_DIR = os.environ.get("PLANS_DIR", str(REPO / "plans" / "r13"))


def main() -> int:
    suffix = sys.argv[1]
    only = sys.argv[2:]
    import __spark_entry__ as entry_mod
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark

    spark = get_spark("dump-plans")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = entry_mod.queries()
    names = only or list(qs)
    os.makedirs(OUT_DIR, exist_ok=True)
    n_ok = n_skip = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            txt = f"SKIPPED (query constructor executed work or failed): {e}\n"
            n_skip += 1
        else:
            n_ok += 1
        with open(f"{OUT_DIR}/{name}_{suffix}.txt", "w") as fh:
            fh.write(txt)
    print(f"wrote {n_ok} plans (+{n_skip} skipped) to {OUT_DIR} as *_{suffix}.txt")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
