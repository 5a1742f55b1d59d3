"""Physical-plan audit: one summary row per headline query → PLANS.md.

For each benched query, records the properties that matter at 100 TB —
exchange (shuffle) count, broadcast joins, pushed filters, scan schema
width, Python-eval stages, TakeOrderedAndProject — plus the full formatted
plan in a collapsible block. Regenerated automatically at the end of
every ``bench.py`` run (round 8 — the table can no longer go stale);
run standalone after plan-affecting changes to diff the committed
PLANS.md and see exactly which plans moved.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
  (reads the testdata under sf_dir, default sf0.01: building the query
  frames runs every eager pin and collect inside them — about 2 minutes
  of Spark stages at sf0.01; only the final plans are left unexecuted)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from airflow_retail_etl_spark.plans.explain import formatted_plan
from airflow_retail_etl_spark.session import get_spark
from bench import HEADLINE, _production_sketches


def audit_one(name: str, plan: str) -> dict:
    return {
        "name": name,
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "broadcast_joins": len(
            re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan)
        ),
        "sort_merge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "top_k": "TakeOrderedAndProject" in plan,
        "python_stages": len(
            re.findall(r"\(\d+\) (?:Batch|Arrow)EvalPython", plan)
        )
        + len(re.findall(r"\(\d+\) MapInPandas", plan))
        + len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)),
        "pushed_filters": len(
            [
                f
                for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)
                for f in m.group(1).split(",")
                if f.strip()
            ]
        ),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
    }


def run_audit(spark, sf_dir: str, out_md: Path) -> int:
    """Regenerate PLANS.md with ``spark``; returns the row count.
    Callable in-process from bench so the audit can't go stale relative
    to the benched plans. The final plans are only explained, but each
    query function runs its eager pins (``localCheckpoint``) and
    driver collects while its frame is built, so the audit executes a
    real share of every query — about 2 minutes of Spark stages over
    the headline at sf0.01 — and needs ``sf_dir``'s testdata present."""
    queries = {**entry_mod.queries(), **_production_sketches()}

    rows, details = [], []
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        plan = formatted_plan(fn(spark, sf_dir))
        rows.append(audit_one(name, plan))
        details.append(
            f"<details><summary><code>{name}</code></summary>\n\n"
            f"```\n{plan.strip()}\n```\n</details>\n"
        )

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}` "
        "(regenerate + diff after plan-affecting changes).",
        "",
        "Python stages appear ONLY where built-ins can't express the math "
        "(ANN signature matmuls, media decode) — never in relational paths.",
        "",
        "| query | exchanges | broadcast | SMJ | top-k | python | pushed filters | codegen spans |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['exchanges']} | {r['broadcast_joins']} | "
            f"{r['sort_merge_joins']} | {'✔' if r['top_k'] else ''} | "
            f"{r['python_stages']} | {r['pushed_filters']} | {r['codegen_spans']} |"
        )
    lines += ["", "## Full plans", ""] + details
    out_md.write_text("\n".join(lines))
    return len(rows)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_md = Path(args[1] if len(args) > 1 else "PLANS.md")

    spark = get_spark(
        app_name="plan_audit", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = run_audit(spark, sf_dir, out_md)
    print(f"wrote {out_md} ({n} queries)")


if __name__ == "__main__":
    main()
