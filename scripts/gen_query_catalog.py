"""Generate QUERIES.md — the query catalog — from __spark_entry__.py
(docstrings/comments + oracle status), so the doc can't drift from the
code. Usage: python scripts/gen_query_catalog.py"""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as m  # noqa: E402



# fallback one-liners for queries whose code carries no docstring/comment
FALLBACK = {
    "q01_scan_project": "scan + dynamic-label projection (R7/R14)",
    "q03a_neq_sql_3vl": "neq matcher, SQL three-valued logic (NULL dropped)",
    "q03b_neq_prometheus": "neq matcher, Prometheus absent-label-as-empty semantics",
    "q04_regex": "anchored regex matcher + group count (R11)",
    "q05_neg_regex": "negated anchored regex (R12)",
    "q06_series_regroup": "series regroup: per label set count/span/decimal sum (R17/R19)",
    "q07_sorted_merge": "duplicate-preserving sorted merge, ties left-run-first (R18)",
    "q08_meta": "table metadata: count + time span (R22)",
    "q09_join_agg": "customer x orders x lineitem join + revenue agg (broadcast dims)",
    "q10_left_outer_join": "left outer join keeping zero-order customers",
    "q11_semi_join": "EXISTS as left_semi join",
    "q12_anti_join": "NOT EXISTS as left_anti join",
    "q13_broadcast_join": "explicit broadcast-hint dimension join",
    "q14_interval_self_join": "interval self-join on equi key + time range (no cartesian)",
    "q15_multi_agg": "TPC-H Q1 shape: multi-aggregate with decimal-before-sum",
    "q16_count_distinct": "exact COUNT(DISTINCT) per group",
    "q17_rollup_grouping": "ROLLUP with GROUPING() indicators",
    "q18_topk_per_group": "top-k per group via row_number <= k",
    "q19_lag_moving_avg": "LAG + moving average over a ROWS frame",
    "q20_global_topk": "global sort + limit (TakeOrderedAndProject)",
    "q21a_intersect": "INTERSECT of customer/supplier nation keys",
    "q21b_except": "EXCEPT of customer/supplier nation keys",
    "q21c_union_distinct": "UNION (distinct) of customer/supplier nation keys",
    "q22_scalar_functions": "string/date/math/JSON scalar function suite",
    "q23_array_functions": "array size / element_at / round",
    "q24_exact_dedup": "exact dedup: per distinct text keep min id + count",
    "q25_tokenize_counts": "tokenize + top-20 word counts",
    "q26_cosine_topk": "exact cosine top-k, literal query vector, no shuffle",
    "q27_tumbling_window": "tumbling 1h window counts + decimal sums (batch twin)",
    "q28_session_windows": "30-min-gap sessionization via windows",
    "q29_text_quality": "per-doc quality features (chars/words/punct/stopwords)",
    "q31_cube_grouping": "CUBE over region/nation with GROUPING() indicators",
    "q32_median_percentile": "exact per-group median + 0.9 quantile (linear interpolation)",
    "llm_language_id": "stopword-overlap language id",
    "llm_doc_fingerprint": "normalized xxhash64 document fingerprint",
}

def first_comment_or_doc(fn) -> str:
    doc = inspect.getdoc(fn)
    if doc:
        return " ".join(doc.split("\n")[0:2]).strip()
    src = inspect.getsource(fn)
    for line in src.splitlines():
        s = line.strip()
        if s.startswith("#"):
            return s.lstrip("# ").strip()
    return ""


def coverage_ledger(queries: dict) -> list[str]:
    """Per-query ledger of driver CORRECTNESS records across rounds, so a
    rotation gap (an entry never placed in the driver's 50-entry window,
    like q49 in r3-r5) is visible in the doc instead of latent."""
    import glob
    import json

    rounds: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = p.rsplit("_r", 1)[1].split(".")[0].lstrip("0") or "0"
        rounds[f"r{rnd}"] = json.load(open(p))
    lines = [
        "",
        "## Driver-verification coverage",
        "",
        "Which rounds the driver recorded each query in (the driver checks "
        "the first 50 insertion-ordered `queries()` entries per round; the "
        "builder rotates the window). `pass` = rows+schema+hash all match; "
        "`rows` = rows-only record (no oracle); `FAIL` = a recorded "
        "mismatch/error that round. `—` = not in that round's window.",
        "",
        "| query | " + " | ".join(rounds) + " | in-window now |",
        "|---|" + "---|" * (len(rounds) + 1),
    ]
    never: list[str] = []
    for i, name in enumerate(queries):
        cells = []
        for rnd, recs in rounds.items():
            if name not in recs:
                cells.append("—")
                continue
            r = recs[name]
            if r.get("err") == "no_oracle" and r.get("spark_rows") is not None:
                cells.append("rows")
            elif r.get("err"):
                cells.append("FAIL")
            elif r.get("hash_match"):
                cells.append("pass")
            else:
                cells.append("FAIL")
        window = "yes" if i < 50 else "no"
        if all(c in ("—",) for c in cells):
            never.append(name)
        lines.append(f"| {name} | " + " | ".join(cells) + f" | {window} |")
    if never:
        lines += ["", f"Never driver-recorded yet ({len(never)}): " + ", ".join(never) + "."]
    return lines


def main() -> None:
    queries = m.queries()
    oracles = m.oracle_sql()
    lines = [
        "# QUERIES — the declared query catalog",
        "",
        "Generated by `scripts/gen_query_catalog.py` from `__spark_entry__.py`.",
        f"{len(queries)} queries; {len(oracles)} DuckDB-oracle-checked "
        "(the rest are rows-only by design: approximate/hash-defined ops).",
        "",
        "| id | oracle | what it does |",
        "|---|---|---|",
    ]
    for name, fn in queries.items():
        has = "yes" if name in oracles else "rows-only"
        desc = (first_comment_or_doc(fn) or FALLBACK.get(name, "")).replace("|", "\\|")
        lines.append(f"| {name} | {has} | {desc} |")
    lines += coverage_ledger(queries)
    open(os.path.join(ROOT, "QUERIES.md"), "w").write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md: {len(queries)} queries")


if __name__ == "__main__":
    main()
