"""Generate EXPLAINS.md: `explain("formatted")` for every headline query —
the artifact for reviewing that plans stay scan-pruned / broadcast /
codegen'd as designed.

Usage:
    python scripts/explain_report.py [sf_dir]   # regenerate EXPLAINS.md
    python scripts/explain_report.py audit      # audit committed EXPLAINS.md

Both modes enforce the BNLJ allowlist below (round-10 VERDICT item 6):
a BroadcastNestedLoopJoin in any plan whose query is not in
``BNLJ_ALLOWLIST`` is a FAILURE, and a stale allowlist entry (query in
the artifact with zero BNLJ sites) is also a failure — the header is
generated from the dict, so prose can never drift from the census again.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# Machine-readable BNLJ allowlist: every BroadcastNestedLoopJoin site in
# the plan corpus must belong to a query listed here, with the reason
# its broadcast side is deliberately tiny (a scalar bound or a handful
# of rows — never a fact table).
BNLJ_ALLOWLIST: dict[str, str] = {
    "e_period_lookback": "scalar cutoff",
    "emb_ann_topk": "10-row query set",
    "emb_ivf_ann": "centroid table",
    "emb_ivf_probe": "centroid table",
    "d_tfidf_topk": "one-row corpus-total scalar",
    "d_unigram_xent": "one-row corpus-total scalar",
    "d_bigram_xent": "one-row corpus-total scalar",
    "d_dsir_weights": "one-row corpus-total scalar",
    "d_bm25_topk": "one-row corpus-total scalar",
    "e_cost_rollup": "one-row total scalar",
    "d_mixture_plan": "one-row water-level scalar",
    "d_unimax_plan": (
        "sorted-array pack is one row; the scalar (k, level) reduction"
        " broadcasts back as one row — round 9 replaced its ungrouped"
        " windows with these"
    ),
    "e_benford_digits": "one-row total scalar",
    "d_ccnet_buckets": "one-row quantile cut scalars",
    "d_quality_fusion": (
        "one-row corpus-total scalar (its unigram_xent stage, visible"
        " since the rank stopped checkpointing its input)"
    ),
    "e_rfm_segments": "one-row quantile cut scalars",
    "e_value_histogram": "one-row min-max bounds",
    "e_pareto_share": "one-row grand-total bound",
    "emb_hard_negatives": "labels-row centroid table under a != predicate",
    "emb_silhouette": "centroid table",
    "e_funnel_conversion": "per-stage scalar mins",
    "e_rolling_hll_wau": "one-row max-day bound",
    "d_rrf_fusion": "bounded per-list top-k rows",
    "emb_recall_report": "bounded per-list top-k rows",
    "emb_ivf_recall": (
        "bounded per-list top-k rows; the IVF side also inherits its"
        " parent's centroid-table sites"
    ),
    "d_minhash_recall": (
        "the guarded O(n^2) ground-truth twin's inequality pair join"
        " over the explicit 10% sample, plus 1-row report cross joins —"
        " quadratic BY DESIGN, see the query docstring"
    ),
    "q11_important_parts": "one-row scalar-subquery cross join (TPC-H shape)",
    "q22_idle_rich_customers": (
        "one-row scalar-subquery cross join (TPC-H shape)"
    ),
    "d_threshold_curve": (
        "two one-row aggregate frames cross-joined before the stack —"
        " the report's four output rows"
    ),
    "o_zorder_skipping": (
        "the one-row (max_x, max_y) rank-normalization scalar,"
        " cross-joined once per layout branch"
    ),
    "e_kmv_type_overlap": (
        "n_types^2 pair join of the tiny per-type sketch table"
        " (5 rows of 64-hash arrays)"
    ),
    "s_emb_drift_recall": (
        "guarded exact-twin: broadcast bounded holdout sample x corpus"
        " (the d_minhash_recall convention) + centroid-table assignment"
        " sites"
    ),
}


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as text."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def plan_tree(plan: str) -> str:
    """The operator tree of a formatted plan: the lines after
    ``== Physical Plan ==`` up to the first blank line. It carries no
    expression or RDD ids, so it compares across sessions."""
    body = plan.split("== Physical Plan ==\n", 1)[1]
    return body.split("\n\n", 1)[0].rstrip()


def committed_plans(txt: str) -> dict[str, str]:
    """Per-query plan section of an EXPLAINS.md body."""
    plans: dict[str, str] = {}
    for sec in re.split(r"\n## ", txt)[1:]:
        name, body = sec.split("\n", 1)
        plans[name.strip()] = body
    return plans


def _census_from_text(txt: str) -> dict[str, int]:
    """Per-query BNLJ occurrence counts from an EXPLAINS.md body (the
    formatted explain mentions the operator in both the tree and the
    detail section, so counts are ~2x the site count — comparisons stay
    within this convention)."""
    return {
        n: p.count("BroadcastNestedLoopJoin")
        for n, p in committed_plans(txt).items()
    }


def _audit(census: dict[str, int], strict_missing: bool) -> list[str]:
    """Return a list of violations. ``strict_missing`` additionally
    fails allowlist entries absent from the census (full regeneration
    knows the whole registry; the committed-artifact audit tolerates
    queries added since the last regen, with a warning)."""
    errors = []
    for name, hits in sorted(census.items()):
        if hits > 0 and name not in BNLJ_ALLOWLIST:
            errors.append(
                f"UNLISTED BNLJ: {name} has {hits} BroadcastNestedLoopJoin"
                f" mention(s) but is not in BNLJ_ALLOWLIST"
            )
    for name in sorted(BNLJ_ALLOWLIST):
        if name in census and census[name] == 0:
            errors.append(
                f"STALE ALLOWLIST ENTRY: {name} is allowlisted but its"
                f" plan has no BroadcastNestedLoopJoin — remove it"
            )
        elif name not in census:
            msg = (
                f"allowlist entry {name} not present in the plan corpus"
                f" (not yet regenerated?)"
            )
            if strict_missing:
                errors.append("MISSING PLAN: " + msg)
            else:
                print(f"note: {msg}")
    return errors


def _header(census: dict[str, int]) -> str:
    rows = "".join(
        f"- `{n}` ({census.get(n, '?')} mentions): {why}\n"
        for n, why in sorted(BNLJ_ALLOWLIST.items())
    )
    n_q = sum(1 for v in census.values() if v > 0)
    n_m = sum(census.values())
    return (
        f"\nKnown-benign BroadcastNestedLoopJoins — {n_q} queries,"
        f" {n_m} operator mentions (tree + detail, ~2x sites), census"
        " and list generated from scripts/explain_report.py's"
        " BNLJ_ALLOWLIST dict; generation FAILS on any BNLJ outside"
        " this list and on any stale entry. Each broadcasts a"
        " deliberately tiny side (a scalar bound or a handful of rows"
        " — never a fact table):\n" + rows
    )


def audit_committed() -> None:
    txt = open(REPO / "EXPLAINS.md").read()
    census = _census_from_text(txt)
    errors = _audit(census, strict_missing=False)
    if errors:
        print("\n".join(errors), file=sys.stderr)
        raise SystemExit(1)
    n_q = sum(1 for v in census.values() if v > 0)
    print(
        f"BNLJ audit OK: {len(census)} plans, {n_q} allowlisted queries"
        f" with BNLJ, 0 unlisted, 0 stale"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E
    from automated_ohlcv_data_pipeline_for_algorithmic_trading_spark import get_spark

    spark = get_spark("explain-report")
    qs = E.queries()

    # Self-auditing inventory (VERDICT r9 ask #5): the header states
    # exactly what is and is not covered, and generation FAILS if the
    # exclusion list drifts from the actual registry-vs-headline
    # difference — the count can never silently disagree with the
    # registry again.
    EXCLUDED = {
        "d_jaccard_pairs": (
            "guarded O(n^2) exact-verification twin of the LSH path — "
            "bench-excluded by design (never run at scale; see its "
            "docstring), so it has no plan to audit"
        ),
    }
    registry = set(qs)
    headline = [n for n in E.HEADLINE_QUERIES if n in registry]
    actual_excluded = registry - set(headline)
    assert actual_excluded == set(EXCLUDED), (
        f"EXPLAINS exclusion list drifted: registry-minus-headline = "
        f"{sorted(actual_excluded)} but documented = {sorted(EXCLUDED)}"
    )
    excl_lines = "".join(
        f"- `{n}`: {why}\n" for n, why in sorted(EXCLUDED.items())
    )
    plans = {name: formatted_plan(qs[name](spark, sf_dir)) for name in headline}
    census = {n: p.count("BroadcastNestedLoopJoin") for n, p in plans.items()}
    errors = _audit(census, strict_missing=True)
    if errors:
        print("\n".join(errors), file=sys.stderr)
        raise SystemExit(1)
    out = [
        "# Physical plans (explain formatted)\n",
        f"\nInventory: {len(headline)} plans for a {len(registry)}-entry"
        f" registry. Excluded ({len(EXCLUDED)}):\n{excl_lines}\n",
        f"Generated against `{sf_dir}`. Checks: pushed filters reach the\n"
        "parquet scan, projections prune columns, dims broadcast, top-k is\n"
        "TakeOrderedAndProject, core queries stay in WholeStageCodegen.\n",
        _header(census),
    ]
    for name in headline:
        out.append(f"\n## {name}\n\n```\n{plans[name]}\n```\n")
    with open(REPO / "EXPLAINS.md", "w") as f:
        f.write("".join(out))
    print(
        f"wrote EXPLAINS.md ({len(headline)} plans, {len(registry)}"
        f" registry); BNLJ census: "
        f"{sum(1 for v in census.values() if v > 0)} queries /"
        f" {sum(census.values())} mentions, all allowlisted"
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "audit":
        audit_committed()
    else:
        main()
