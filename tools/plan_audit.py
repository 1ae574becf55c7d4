"""Generate PLANS.md: a physical-plan audit of every registry query.

For each query: shuffle-exchange count, broadcast joins, sort-merge
joins, window nodes, Python-eval nodes (should be mapInPandas only),
whole-stage-codegen spans, and whether any parquet scan pushed filters.
The table makes plan regressions reviewable in diffs the same way
CORRECTNESS json makes value regressions reviewable.

Usage: python tools/plan_audit.py [sf_dir]  (writes PLANS.md in repo root)
"""

from __future__ import annotations

import os
import re
import sys


def audit_row(spark, name: str, fn, sf_dir: str) -> tuple:
    """One PLANS.md row for ``fn``: (name, scans, shuffles, broadcast
    joins, sort-merge joins, windows, py-eval nodes, pushed-filters
    flag).  Importable by tests so plan regressions fail CI (tests/
    test_plan_audit.py) instead of relying on doc discipline."""
    return audit_df(spark, name, fn(spark, sf_dir))


def audit_df(spark, name: str, df) -> tuple:
    """Audit an already-built DataFrame (interior audit_frames hooks
    pass their lazy frames here as `query#frame` rows).

    ``scans`` counts parquet FILE-SCAN nodes in the physical plan —
    the per-execution source reads (VERDICT r12 #1: multi-branch plans
    that re-read the source per branch were invisible to the shuffle
    count).  A materialize()d shared frame reads its source once at
    the checkpoint build and shows as Scan ExistingRDD afterwards, so
    a terminal scans=0 means "every source read happens inside one
    materialization job", not "free".

    The plan explained is a fresh QueryExecution over the frame's
    logical plan (``select("*")``), not the frame's own: once a frame
    has run, its own holds the final adaptive plan, so a row would
    depend on whether something executed the frame before the audit."""
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df.select("*")._jdf.queryExecution().explainString(explain_mode)
    tree = [
        ln.strip() for ln in plan.splitlines() if re.match(r"^\(\d+\)", ln.strip())
    ]
    scans = sum(1 for ln in tree if re.match(r"^\(\d+\) Scan parquet", ln))
    shuffles = sum(1 for ln in tree if re.match(r"^\(\d+\) Exchange$", ln))
    bhj = sum(1 for ln in tree if "BroadcastHashJoin" in ln)
    smj = sum(1 for ln in tree if "SortMergeJoin" in ln)
    windows = sum(1 for ln in tree if re.match(r"^\(\d+\) Window$", ln))
    pyeval = sum(
        1
        for ln in tree
        if "EvalPython" in ln or "MapInPandas" in ln or "FlatMapGroupsInPandas" in ln
    )
    pushed = "yes" if re.search(r"PushedFilters: \[[^\]]+\]", plan) else "-"
    return (name, scans, shuffles, bhj, smj, windows, pyeval, pushed)


def executed_audit(spark, df) -> dict:
    """EXECUTED-plan audit: run ``df`` once and count nodes in the
    AQE-FINAL plan — the runtime truth the static columns can only
    over-approximate (identical broadcast subtrees collapse to one
    build + ReusedExchange at stage materialization, which a static
    explain cannot show).  Used to adjudicate documented static
    over-counts (e.g. `bloom_prefilter_dedup`'s k probe joins);
    pinned by tests/test_plan_audit.py.

    Execution goes through the SAME QueryExecution's physical RDD —
    a JVM-side count, so no row ever reaches the driver (ADVICE r13:
    ``df.collect()`` pulled the full result set into the driver, an
    OOM on any large-result query; a ``noop``-sink write would stay
    driver-free too but runs a DIFFERENT QueryExecution, leaving this
    df's AQE plan unfinalized)."""
    df._jdf.queryExecution().executedPlan().execute().count()
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(explain_mode)
    tree = [
        ln.strip() for ln in plan.splitlines() if re.match(r"^\(\d+\)", ln.strip())
    ]
    return {
        "is_final": "isFinalPlan=true" in plan,
        "scans": sum(
            1 for ln in tree if re.match(r"^\(\d+\) Scan parquet", ln)
        ),
        "exchanges": sum(
            1 for ln in tree if re.match(r"^\(\d+\) Exchange$", ln)
        ),
        "broadcast_exchanges": sum(
            1 for ln in tree if "BroadcastExchange" in ln
        ),
        "reused_exchanges": sum(
            1 for ln in tree if "ReusedExchange" in ln
        ),
    }


def committed_rows(plans_md_path: str) -> dict[str, tuple]:
    """Parse the committed PLANS.md table back into audit_row tuples."""
    rows: dict[str, tuple] = {}
    with open(plans_md_path) as f:
        for ln in f:
            m = re.match(
                r"^\| (\S+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) "
                r"\| (\d+) \| (\S+) \|",
                ln,
            )
            if m:
                name = m.group(1)
                rows[name] = (
                    name,
                    *(int(m.group(i)) for i in range(2, 8)),
                    m.group(8),
                )
    return rows


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from options_data_pipeline_spark.plans import registry
    from options_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")

    rows = []
    for name, fn in registry.queries().items():
        r = audit_row(spark, name, fn, sf_dir)
        rows.append(r)
        print(
            f"  {name}: scans={r[1]} shuffles={r[2]} bhj={r[3]} smj={r[4]}",
            file=sys.stderr,
        )

    # interior frames of materialized store/twin queries (VERDICT r11
    # #3): each hook builds scratch state, returns lazy frames; audit
    # while the scratch exists, then tear down
    import shutil
    import tempfile

    for name, hook in registry.audit_frames().items():
        scratch = tempfile.mkdtemp(prefix="plan_audit_")
        try:
            for frame, df in hook(spark, sf_dir, scratch).items():
                r = audit_df(spark, f"{name}#{frame}", df)
                rows.append(r)
                print(
                    f"  {name}#{frame}: scans={r[1]} shuffles={r[2]}"
                    f" bhj={r[3]} smj={r[4]}",
                    file=sys.stderr,
                )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    out = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Regenerate after plan-affecting changes;",
        "review diffs of this file like a benchmark: a new shuffle or a",
        "sort-merge join where a broadcast used to be is a scale regression.",
        "`py-eval` counts Arrow/Pandas nodes (multimodal kernels only by design;",
        "anything else is a hot-path Python UDF and a bug).",
        "`scans` counts parquet file-scan nodes — the per-execution source",
        "reads (a multi-branch plan that re-reads its source per branch is a",
        "scale regression even when the shuffle count looks fine). A",
        "materialize()d query reads its source inside the checkpoint build,",
        "so scans=0 there means one-read-then-reuse, not free.",
        "",
        "| query | scans | shuffles | broadcast joins | sort-merge joins | windows | py-eval | pushed filters |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    out.append("")
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(rows)} queries)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
