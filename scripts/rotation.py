"""Driver-window rotation planner — mechanizes the policy documented
in ``__spark_entry__.queries()``:

  1. flagship first;
  2. queries changed/new this round (must re-prove on current code) —
     supplied via --changed, or inferred as "registered but never
     driver-green";
  3. remaining slots stalest-first by the round of each query's most
     recent green CORRECTNESS_r*.json row;
  4. bank-core singles sort last within a staleness tier (the
     flagship composes them, so they re-prove every round anyway).

Usage:
    python scripts/rotation.py [--changed q1,q2,...] [--apply]

Prints the recommended 50-entry window and a diff against the current
``queries()`` order so reordering is a mechanical copy, not a
judgment call. ``--apply`` goes one further and REWRITES the
``queries()`` dict body in ``__spark_entry__.py`` in plan order —
preserving each entry's value expression, regenerating the tier
comments and the slot-50 boundary marker (the marker was misplaced by
hand twice in r7; ``tests/test_registry.py`` pins it, this writes it).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50
FLAGSHIP = "pipeline_enriched"
BANK_SINGLES = {
    "age_group", "wealth_segment", "contact_day_type", "has_loans",
    "engagement_score", "rfm_scores", "customer_segment", "normalize",
    "range_filter", "required_filter", "lineage",
}


def last_green() -> dict[str, int]:
    out: dict[str, int] = {}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()))
        with open(path, encoding="utf-8") as f:
            rows = json.load(f)
        for name, row in rows.items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            if ok:
                out[name] = max(out.get(name, 0), rnd)
    return out


def compute_plan(changed: list[str]):
    import __spark_entry__ as entry

    registered = list(entry.queries())
    green = last_green()
    never_green = [q for q in registered if q not in green]
    tier2 = []
    for q in changed + never_green:
        if q != FLAGSHIP and q in registered and q not in tier2:
            tier2.append(q)
    rest = [q for q in registered if q != FLAGSHIP and q not in tier2]
    # stalest first; bank singles last within a tier; stable by the
    # current registry order inside equal keys
    rest.sort(
        key=lambda q: (green.get(q, 0), q in BANK_SINGLES, registered.index(q))
    )
    return [FLAGSHIP] + tier2 + rest, tier2, green, registered


def apply_plan(plan: list[str], tier2: list[str], green: dict[str, int]) -> None:
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "__spark_entry__.py")
    src = open(path, encoding="utf-8").read()
    m = re.search(r"(def queries\(\).*?registry = \{\n)(.*?)(\n    \}\n)", src, re.S)
    body = m.group(2)
    exprs = dict(re.findall(r'"([a-z0-9_]+)":\s*(Q\.[A-Za-z0-9_]+),', body))
    assert set(exprs) == set(plan), "registry/plan name mismatch"
    out = ["        # --- tier 1: flagship (green every round)"]
    out.append(f'        "{plan[0]}": {exprs[plan[0]]},')
    if tier2:
        out.append(
            "        # --- tier 2: new or changed this round — must"
        )
        out.append("        # re-prove on current code")
        for q in tier2:
            out.append(f'        "{q}": {exprs[q]},')
    out.append(
        "        # --- tier 3: stalest-first by last green driver round"
    )
    prev_round = None
    for i, q in enumerate(plan[1 + len(tier2):], start=2 + len(tier2)):
        r = green.get(q, 0)
        if r != prev_round:
            out.append(f"        # r{r:02d}-green")
            prev_round = r
        if i == WINDOW + 1:
            out.append(
                "        # ---- driver checks the first 50 entries; the"
            )
            out.append(
                f"        # ---- window boundary falls HERE ({plan[WINDOW - 1]}"
            )
            out.append(
                "        # ---- is slot 50). Tail order = next rounds'"
            )
            out.append("        # ---- rotation queue (stalest first).")
        out.append(f'        "{q}": {exprs[q]},')
    new_src = src[: m.start(2)] + "\n".join(out) + src[m.end(2):]
    open(path, "w", encoding="utf-8").write(new_src)
    print(f"rewrote {path} ({len(plan)} entries, boundary after slot {WINDOW})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changed", default="", help="comma-separated names")
    ap.add_argument(
        "--apply", action="store_true",
        help="rewrite __spark_entry__.queries() in plan order",
    )
    args = ap.parse_args()

    changed = [q for q in args.changed.split(",") if q]
    plan, tier2, green, registered = compute_plan(changed)
    window = plan[:WINDOW]

    cur_window = registered[:WINDOW]
    print(f"# recommended window (first {WINDOW} of {len(plan)}):")
    for i, q in enumerate(window, 1):
        mark = ""
        if q in tier2:
            mark = "  [re-prove: changed/new]"
        elif green.get(q):
            mark = f"  [last green r{green[q]:02d}]"
        print(f"{i:3d}. {q}{mark}")
    missing = [q for q in window if q not in cur_window]
    extra = [q for q in cur_window if q not in window]
    print("\n# vs current queries() order:")
    print("  should enter window:", missing or "(none)")
    print("  may leave window:   ", extra or "(none)")
    if args.apply:
        apply_plan(plan, tier2, green)


if __name__ == "__main__":
    main()
