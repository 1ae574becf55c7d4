"""Benchmark harness: run every registry query at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line on stdout:
    {"metric": "total_query_sec", "value": N, "unit": "sec", "sf": 0.1,
     "n_queries": N, "queries": {10 slowest: sec}, "detail": path}
and writes the FULL per-query map to BENCH_DETAIL.json next to this file
(the >4 KB full map overflowed the driver's stdout tail capture in round
2 — BENCH_r02.json came back ``parsed: null``).

All logs go to stderr so stdout stays machine-readable. Each query is
executed to completion through a ``noop`` sink (full plan runs on the
cluster; no driver-side materialization skews the timing).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prev_round_detail(detail_path: str) -> dict[str, float]:
    """Per-query timings from the PREVIOUS ROUND's committed detail.

    The noise-rerun threshold must anchor to the last ``round N:``
    driver commit, not the last mid-round commit: anchoring to every
    intermediate commit re-bases the >2x trigger and lets a steady
    1.3-1.5x-per-commit drift compound to >2x round-over-round without
    ever being flagged (exactly how stream_dedup_twin's r6->r7 2.04x
    move escaped, VERDICT r7 ask #2). Falls back to the working-tree
    file when git history is unavailable.
    """
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        out = subprocess.run(
            ["git", "log", "--format=%H %s", "-200"],
            cwd=repo, capture_output=True, text=True, timeout=30,
        ).stdout
        for line in out.splitlines():
            sha, _, subject = line.partition(" ")
            if re.match(r"^round \d+:", subject):
                blob = subprocess.run(
                    ["git", "show", f"{sha}:BENCH_DETAIL.json"],
                    cwd=repo, capture_output=True, text=True, timeout=30,
                )
                if blob.returncode == 0:
                    log(f"  noise anchor: BENCH_DETAIL.json @ {sha[:9]} "
                        f"({subject[:60]})")
                    return json.loads(blob.stdout).get("queries", {})
                break  # round commit exists but file missing: fall back
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        with open(detail_path) as fh:
            log("  noise anchor: working-tree BENCH_DETAIL.json (no round "
                "commit found)")
            return json.load(fh).get("queries", {})
    except (OSError, ValueError):
        return {}


#: Fixed canary set (VERDICT r10 ask #2): ten cheap, code-stable r1-era
#: queries whose collective runtime MEASURES the host, not the code —
#: they run untimed-for-the-headline at session start, middle, and end,
#: and the committed detail records all three sweeps.  A cross-round
#: comparison can then normalize by the canary medians instead of
#: re-litigating "environment or regression?" from scratch (r10's
#: common-set anchor swung 1.02x-1.20x across one evening purely from
#: shared-host drift).
CANARY_QUERIES = [
    "daily_sessions",
    "weekly_sessions",
    "monthly_sessions",
    "candle_resample",
    "pricing_summary",
    "top_supplier",
    "top2_extremes",
    "watermark_probe",
    "gap_scan",
    "option_chain_ohlc",
]


def _run_canary(spark, sf_dir: str, qmap, phase: str) -> dict[str, float]:
    """One single-execution sweep of the canary set.  Single runs on
    purpose: the canary measures what the host gives a query RIGHT NOW,
    so min-of-2 smoothing would hide exactly the drift it exists to
    record."""
    sweep: dict[str, float] = {}
    for name in CANARY_QUERIES:
        fn = qmap.get(name)
        if fn is None:  # registry rename: record the hole, don't crash
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        sweep[name] = round(time.perf_counter() - t0, 3)
    tot = sum(sweep.values())
    log(f"  canary[{phase}]: {tot:.2f}s total over {len(sweep)} queries")
    return sweep


def prev_detail_canary(detail_path: str) -> float | None:
    """Previous round's committed canary total (median sweep) for the
    cross-round host normalization — same `round N:` anchor discipline
    as :func:`_prev_round_detail`."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        out = subprocess.run(
            ["git", "log", "--format=%H %s", "-200"],
            cwd=repo, capture_output=True, text=True, timeout=30,
        ).stdout
        for line in out.splitlines():
            sha, _, subject = line.partition(" ")
            if re.match(r"^round \d+:", subject):
                blob = subprocess.run(
                    ["git", "show", f"{sha}:BENCH_DETAIL.json"],
                    cwd=repo, capture_output=True, text=True, timeout=30,
                )
                if blob.returncode == 0:
                    return (
                        json.loads(blob.stdout)
                        .get("canary", {})
                        .get("total_median_sec")
                    )
                break
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from options_data_pipeline_spark.plans import registry
    from options_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    log(f"bench: sf_dir={sf_dir} master={spark.sparkContext.master}")

    # untimed warmup: JVM JIT, codegen, shuffle service, parquet footer
    # caches — one shuffle job + one scan so the first timed query isn't
    # dominated by session startup
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.sources.tables import load_table

    t0 = time.perf_counter()
    spark.range(1_000_000).groupBy(F.col("id") % 7).count().count()
    load_table(spark, sf_dir, "events").count()
    log(f"  warmup: {time.perf_counter()-t0:.2f}s (untimed)")

    timings: dict[str, float] = {}

    from options_data_pipeline_spark.plans import registry as _reg

    qmap_canary = _reg.queries()
    canary: dict[str, dict[str, float]] = {}
    canary["start"] = _run_canary(spark, sf_dir, qmap_canary, "start")

    # Session ARTIFACTS (operators/artifacts.py) are derived once per corpus
    # snapshot, then shared by every downstream query — the artifact-store
    # behavior the engine has in production. Time each build explicitly here
    # (cache cleared, min-of-2 like every entry) so the total pays for every
    # artifact exactly once and the per-query numbers below mean "with the
    # artifact store warm".
    from options_data_pipeline_spark.operators import artifacts
    from options_data_pipeline_spark.plans.affinity import support_edge_artifact
    from options_data_pipeline_spark.plans.text import (
        minhash_band_artifact,
        planted_near_dup_pairs,
        q_unigram_logprob,
    )
    from options_data_pipeline_spark.plans.text import irls_beta_artifact
    from options_data_pipeline_spark.plans.tpch3 import weekly_pair_artifact
    from options_data_pipeline_spark.plans.vectors import q_semantic_prune

    artifact_builds = {
        "near_dup_artifact_build": lambda: planted_near_dup_pairs(spark, sf_dir),
        # q_unigram_logprob is a thin select over the unigram_doc_scores
        # artifact — with the cache cleared this times the artifact build
        "unigram_lm_artifact_build": lambda: q_unigram_logprob(spark, sf_dir),
        "affinity_edges_artifact_build": lambda: support_edge_artifact(
            spark, sf_dir
        ),
        # q_semantic_prune serves its dropped set from the artifact store
        # (also consumed by curation_decisions) — this times the build
        "semdedup_artifact_build": lambda: q_semantic_prune(spark, sf_dir),
        # the standing band index consumed by minhash_index_maintain —
        # the one-time full-corpus signature pass, split out of the
        # maintenance row (VERDICT r9 ask #5)
        "minhash_band_artifact_build": lambda: minhash_band_artifact(
            spark, sf_dir
        ),
        # r15 additions (VERDICT r14 asks #5/#7): the week-pair frame
        # shared by theil_sen/hodges_lehmann and the trained IRLS
        # coefficient row shared by logistic_irls/calibration_curve —
        # both timed cold here so the headline total pays each build
        # exactly once and the consumer rows mean "store warm"
        "weekly_pairs_artifact_build": lambda: weekly_pair_artifact(
            spark, sf_dir
        ),
        "irls_beta_artifact_build": lambda: irls_beta_artifact(
            spark, sf_dir
        ),
    }
    for bname, builder in artifact_builds.items():
        build_runs = []
        for _ in range(2):
            artifacts._CACHE.clear()  # force a real rebuild
            t0 = time.perf_counter()
            builder().write.mode("overwrite").format("noop").save()
            build_runs.append(time.perf_counter() - t0)
        timings[bname] = round(min(build_runs), 3)
        log(
            f"  {bname}: {min(build_runs):.2f}s "
            f"(runs: {', '.join(f'{r:.2f}' for r in build_runs)})"
        )
    # rebuild the artifacts warm so query timings see a fully-warm store
    planted_near_dup_pairs(spark, sf_dir)
    q_unigram_logprob(spark, sf_dir)
    support_edge_artifact(spark, sf_dir)
    q_semantic_prune(spark, sf_dir)
    minhash_band_artifact(spark, sf_dir)
    weekly_pair_artifact(spark, sf_dir)
    irls_beta_artifact(spark, sf_dir)

    # STABLE execution order (r15, VERDICT r14 ask #2): registration
    # order, decoupled from the _PRIORITY promotion that orders the
    # driver's oracle sample — promoted (= this round's changed)
    # queries no longer pay the cold-start seat at the session front.
    # Timing methodology (noop sink, min-of-2, canary, noise protocol)
    # is unchanged; only the seating order moved.
    _qmap_all = registry.queries()
    all_queries = [(n, _qmap_all[n]) for n in registry.bench_order()]
    mid_at = len(all_queries) // 2
    for i, (name, fn) in enumerate(all_queries):
        if i == mid_at:
            canary["mid"] = _run_canary(spark, sf_dir, qmap_canary, "mid")
        # two executions, report the min: the first pays plan compilation
        # and fills OS page cache; the min is the steady-state number a
        # warmed cluster would see and is far less noisy on a shared host
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        log(f"  {name}: {min(runs):.2f}s (runs: {', '.join(f'{r:.2f}' for r in runs)})")

    # Noise protocol (VERDICT r6 ask #4, re-anchored per r7 ask #2): on
    # a shared host, single queries can swing 2-4x round-over-round for
    # environmental reasons. Any entry that moved >2x either way vs the
    # PREVIOUS ROUND's committed detail (the BENCH_DETAIL.json at the
    # last `round N:` driver commit — NOT the last mid-round commit,
    # which would let a 1.4x-per-commit drift re-base itself under the
    # threshold) is re-run (two more executions) after the main loop —
    # by then the session is maximally warm — and both numbers are
    # recorded. A slow first pass keeps the min of all runs (real
    # regressions stay slow on re-run); a suspiciously FAST first pass
    # keeps max(first, rerun_min) so a non-reproducible fluke speedup
    # can't become the committed timing (ADVICE r7).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    prev: dict[str, float] = _prev_round_detail(detail_path)
    noise_reruns: dict[str, dict[str, float]] = {}
    qmap = registry.queries()
    for name, t_new in list(timings.items()):
        t_old = prev.get(name)
        if name not in qmap or not t_old or t_old <= 0:
            continue
        ratio = t_new / t_old
        # Hard flag: >2x either way.  Soft flag (VERDICT r9 ask #2): >=1.5x
        # either way AND >=0.5s absolute delta — catches core-anchor drift
        # that sits just under the hard gate (option_chain_ohlc's r9 1.78x)
        # so it gets a same-session adjudication record instead of silently
        # re-basing next round's anchor.
        hard = ratio > 2.0 or ratio < 0.5
        soft = (ratio >= 1.5 or ratio <= 1 / 1.5) and abs(t_new - t_old) >= 0.5
        if not (hard or soft):
            continue
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(time.perf_counter() - t0)
        rerun_min = round(min(runs), 3)
        noise_reruns[name] = {
            "prev_round": t_old,
            "first_pass": t_new,
            "rerun_min": rerun_min,
        }
        if t_new > t_old:
            # flagged slow: a fast rerun clears it (environmental)
            timings[name] = min(t_new, rerun_min)
        else:
            # flagged suspiciously fast: the rerun must REPRODUCE the
            # speedup to keep it — otherwise record the slower number
            timings[name] = max(t_new, rerun_min)
        log(
            f"  noise-rerun {name}: prev={t_old:.2f}s first={t_new:.2f}s "
            f"rerun_min={rerun_min:.2f}s"
        )

    canary["end"] = _run_canary(spark, sf_dir, qmap_canary, "end")
    # per-query median across the three sweeps + session drift summary:
    # end/start total ratio quantifies how much the HOST moved during
    # this run, and prev_total (previous round's committed end sweep)
    # anchors the cross-round normalization
    canary_median: dict[str, float] = {}
    for q in CANARY_QUERIES:
        vals = sorted(ph[q] for ph in canary.values() if q in ph)
        if vals:
            canary_median[q] = round(vals[len(vals) // 2], 3)
    c_start = sum(canary["start"].values())
    c_end = sum(canary["end"].values())
    canary_block = {
        "sweeps": canary,
        "median_sec": canary_median,
        "total_median_sec": round(sum(canary_median.values()), 3),
        "session_drift_end_over_start": (
            round(c_end / c_start, 3) if c_start else None
        ),
    }
    prev_canary = prev_detail_canary(detail_path)
    if prev_canary:
        canary_block["prev_total_median_sec"] = prev_canary
        if prev_canary > 0:
            canary_block["host_ratio_vs_prev_round"] = round(
                canary_block["total_median_sec"] / prev_canary, 3
            )
    log(
        f"  canary: median total {canary_block['total_median_sec']:.2f}s, "
        f"session drift {canary_block['session_drift_end_over_start']}, "
        f"vs prev round {canary_block.get('host_ratio_vs_prev_round')}"
    )

    total = round(sum(timings.values()), 3)
    # analytics vs adjudication-harness subtotals (VERDICT r12 #4): the
    # harness entries (scratch stores / layouts / replay waves, tagged
    # in registry._HARNESS_QUERIES) grew the headline ~28 s/round while
    # the ~250 cheap analytics queries became a rounding error in it —
    # split the headline so each population trends on its own.
    harness_names = registry.harness_queries()
    artifact_names = set(artifact_builds)

    def _tag(name: str) -> str:
        if name in artifact_names:
            return "artifact"
        return "harness" if name in harness_names else "analytics"

    subtotals = {
        t: round(
            sum(v for q, v in timings.items() if _tag(q) == t), 3
        )
        for t in ("analytics", "harness", "artifact")
    }
    log(
        f"  subtotals: analytics {subtotals['analytics']:.1f}s, "
        f"harness {subtotals['harness']:.1f}s, "
        f"artifact {subtotals['artifact']:.1f}s"
    )
    # cross-round common-set ratios, RAW and CANARY-NORMALIZED (the r12
    # protocol): the anchor is the last `round N:` commit's detail, the
    # divisor is the canary host ratio — emitted into both the detail
    # and the driver-captured stdout line so every future round's
    # comparison is mechanical, not re-derived by hand.  Since r13 the
    # block also carries the per-tag split.
    common_block = None
    host_ratio = canary_block.get("host_ratio_vs_prev_round")
    common = [q for q in timings if q in prev and prev[q] > 0]
    if common and host_ratio:
        t_new = sum(timings[q] for q in common)
        t_old = sum(prev[q] for q in common)
        common_block = {
            "n_common": len(common),
            "new_sec": round(t_new, 3),
            "prev_sec": round(t_old, 3),
            "raw_ratio": round(t_new / t_old, 3),
            "canary_normalized_ratio": round(
                (t_new / t_old) / host_ratio, 3
            ),
        }
        for t in ("analytics", "harness"):
            sub = [q for q in common if _tag(q) == t]
            if not sub:
                continue
            s_new = sum(timings[q] for q in sub)
            s_old = sum(prev[q] for q in sub)
            if s_old > 0:
                common_block[t] = {
                    "n_common": len(sub),
                    "new_sec": round(s_new, 3),
                    "prev_sec": round(s_old, 3),
                    "raw_ratio": round(s_new / s_old, 3),
                    "canary_normalized_ratio": round(
                        (s_new / s_old) / host_ratio, 3
                    ),
                }
        log(
            f"  common set ({len(common)}): raw "
            f"{common_block['raw_ratio']}x, canary-normalized "
            f"{common_block['canary_normalized_ratio']}x"
        )
        for t in ("analytics", "harness"):
            if t in common_block:
                log(
                    f"    {t} common ({common_block[t]['n_common']}): raw "
                    f"{common_block[t]['raw_ratio']}x, canary-normalized "
                    f"{common_block[t]['canary_normalized_ratio']}x"
                )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": timings,
                "subtotals": subtotals,
                "noise_reruns": noise_reruns,
                "canary": canary_block,
                "common_vs_prev_round": common_block,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    # stdout stays COMPACT (a full 100+ query map overflowed the driver's
    # tail capture in round 2): total + the 10 slowest; full map on disk.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(json.dumps({
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": slowest,
        "subtotals": subtotals,
        "canary_median_sec": canary_block["total_median_sec"],
        "canary_host_ratio_vs_prev_round": canary_block.get(
            "host_ratio_vs_prev_round"
        ),
        "common_vs_prev_round": common_block,
        "detail": "BENCH_DETAIL.json",
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
