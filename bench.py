"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec, ...}, "sf": ..., "controls": {...}}.

The compact line is deliberately small (≈1 KB) so the driver's output-tail
capture always parses it — BENCH_r05's enriched single line outgrew the
capture and landed as `parsed: null`. The full evidence blob (raw samples
per query, control probe values, settle history, warm-up times) is written
to ``bench_samples.json`` next to this script instead, referenced from the
compact line via ``samples_file``.

Measurement protocol (BASELINE.md band story, self-evidencing):
- Each query is executed to completion (count() action — results are
  consumed, not collected, so the measurement is engine time).
- One UNTIMED warm-up pass over ALL headline queries runs first: BENCH_r05
  showed the first timed run is the max for nearly every query (codegen /
  JIT compile inside the median), and compiling 24 distinct queries warms
  the JVM enough to move a control probe taken beforehand by ~30%.
- SETTLE phase (after the warm-up pass): the fixed 3-query control probe
  (q1, inner join, running window — plans untouched since round 1) is
  re-run (bounded, ≤5 probes, each a MEDIAN-OF-3 so single-run ±20%
  noise can't fake or block convergence) until two consecutive probe
  totals agree within 10%, so the timed run starts on a box at steady
  state rather than mid-drift (r5 started at −43.7%). "settled": false
  in the output flags an exhausted probe budget.
- The last settled probe is the FIRST drift endpoint; the probe re-runs
  once LAST; per-query drift and the mean are emitted under "controls". A contended box inflates the probe
  uniformly (band); a plan regression moves specific headline queries
  while the probe stays flat.
- Median of n runs per query; the two widest-spread queries
  (pipeline_training_data: CC fixpoint + two localCheckpoint
  materializations; dedup_minhash_candidates: largest non-funnel query,
  samples still descending at n=3 in r5) sample at n>=5 so their medians
  converge instead of driving the total's band. Per-query run counts are
  disclosed under "runs".
- DRIFT-BREACH RETRY (round-7, VERDICT r6 task 4): if the emitted pass's
  |mean control drift| exceeds 10% — contention arrived MID-RUN, which
  the settle phase cannot see — the whole pass (settle + timed + drift
  endpoints) re-runs once and the LAST pass is emitted, with
  "drift_retries" disclosed in the compact line and every discarded
  pass's evidence kept in bench_samples.json.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from rws_data_ingester_spark.plans import REGISTRY  # noqa: E402
from rws_data_ingester_spark.session import get_spark  # noqa: E402

# Representative slice of SURVEY.md §2: scan/agg, star join, windows,
# sessionization, as-of, dedup (exact + MinHash), text, similarity.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "join_broadcast_star",
    "join_inner_customer_orders",
    "join_asof_last_click",
    "agg_rollup",
    "agg_distinct",
    "window_topk_per_group",
    "window_running",
    "session_window_islands",
    "tumbling_window_hourly",
    "dedup_exact_hash",
    "dedup_minhash_candidates",
    "text_token_topk",
    "text_quality_scores",
    "simsearch_topk_exact",
    "simsearch_topk_exact_np",
    # round-2 additions (all end in aggregates, so count() measures the
    # full pipeline, not a pruned projection): rule quality gate, MERGE
    # upsert, bucketed interval join, k-means semantic dedup, and the
    # end-to-end curation funnel.
    "pipeline_quality_filter",
    "pipeline_incremental_merge",
    "join_interval_bucketed",
    "pipeline_semantic_dedup",
    "pipeline_training_data",
    # round-11 additions (VERDICT r10 item 1): noop-sink twins. count()
    # lets Catalyst left-join-eliminate the entire pair-scoring subtree
    # of the embedding-dedup family (unique right keys), so the original
    # entries time only the eager IVF fit + rollup — the r10 norm-hoist
    # (−71% on the scorer, measured by noop A/B) was bench-invisible.
    # Each twin runs the SAME registered query through the noop sink
    # (guide §1.4), which computes every column of every row, so the
    # timed plan contains the scoring Join. ADDITIONS only: the original
    # 24 entries keep their names, count() action and methodology.
    "pipeline_semantic_dedup_noop",
    "pipeline_embedding_dedup_noop",
    "pipeline_embedding_dedup_lsh_noop",
]

# twin name -> (registered query, action). "noop" twins time
# fn().write.format("noop") instead of fn().count(). Kept OUT of the
# headline total (`value`): the total is a round-over-round continuity
# metric for the original 24 — adding ~3 full-plan entries to the sum
# would read as a fake 40% regression. Twin medians are reported under
# "queries" like everything else and enumerated under "noop_twins".
NOOP_TWINS = {
    "pipeline_semantic_dedup_noop": "pipeline_semantic_dedup",
    "pipeline_embedding_dedup_noop": "pipeline_embedding_dedup",
    "pipeline_embedding_dedup_lsh_noop": "pipeline_embedding_dedup_lsh",
}

CPU_CONTROL = "control_cpu_hash16"
CONTROLS = [
    "q1_pricing_summary",
    "join_inner_customer_orders",
    "window_running",
    CPU_CONTROL,
]

# How many synthetic rows the CPU control hashes (16 chained xxhash64
# rounds each). Pinned — NOT scaled by sf — so the probe reads pure
# per-core speed: no scan, no shuffle, no Python, one codegen stage.
# 2M rows x 16 rounds lands ~0.15-0.2 s on this box's healthy band,
# comparable to the three light controls.
CPU_CONTROL_ROWS = 2_000_000


def run_cpu_control(spark) -> None:
    """The compute-bound control (VERDICT r8, task 3): the original three
    controls are all shuffle-light sub-0.4 s queries, so a CPU-contended
    box inflated the compute-heavy headline queries 1.3-1.4x while the
    controls stayed near band — CPU-band and shuffle/scan-band were not
    separately visible. This probe is the opposite extreme: a fixed
    16-round xxhash64 chain over a pinned row count (sf-independent),
    fully inside one WholeStageCodegen span with zero I/O — it moves if
    and only if per-core compute throughput moved. spark.range is
    evenly split, so there is no skew and no scheduler variance beyond
    task launch."""
    from pyspark.sql import functions as F

    col = F.col("id")
    for j in range(16):
        # XOR seeding + XOR aggregate: hash outputs span the full long
        # range, so +/sum would ARITHMETIC_OVERFLOW under the engine's
        # pinned ANSI mode
        col = F.xxhash64(col.bitwiseXOR(F.lit(j)))
    # the aggregate consumes the hash chain — count() would let Catalyst
    # prune the whole expression away
    spark.range(CPU_CONTROL_ROWS).select(col.alias("h")).agg(
        F.expr("bit_xor(h)")
    ).first()

SETTLE_MAX_PROBES = 5
SETTLE_TOLERANCE = 0.10
# Drift-breach auto-retry (VERDICT r6, task 4): BENCH_r06's finished-tree
# trio had a middle run whose +17.6% control drift flagged contention
# arriving MID-RUN — the settle loop can only catch drift that precedes
# the timed pass. If |mean control drift| ends past this budget, the
# whole pass (settle + timed runs + drift endpoints) re-runs once, so an
# emitted BENCH_rN artifact is settled by construction rather than by
# flanking evidence. One retry is enough: a box contended across BOTH
# passes is genuinely busy, and that state is disclosed, not hidden.
DRIFT_BUDGET_PCT = 10.0
DRIFT_MAX_RETRIES = 1


def measure_pass(run_once, headline, controls, n_runs, extra_runs) -> dict:
    """One full measurement pass: settle, timed medians, drift endpoints.

    SETTLE: probe until two consecutive probe totals agree within
    SETTLE_TOLERANCE (bounded). Each settle probe is a MEDIAN-OF-3
    (round-6 ADVICE): single control runs carry the documented ±20%
    noise, so two single probes could agree by coincidence mid-drift —
    or never agree on a steady box and silently exhaust the budget.
    Convergence of medians is the signal the drift endpoints actually
    use, so the last settled probe doubles as ctrl_first (no extra
    probe). `settled` is emitted so an exhausted budget is visible.
    """

    def probe_median3() -> dict[str, float]:
        ps = [{n: run_once(n) for n in controls} for _ in range(3)]
        return {n: sorted(p[n] for p in ps)[1] for n in controls}

    settle_history: list[dict[str, float]] = [probe_median3()]
    settled = False
    while len(settle_history) < SETTLE_MAX_PROBES:
        nxt = probe_median3()
        prev_total = sum(settle_history[-1].values())
        settle_history.append(nxt)
        if prev_total > 0 and abs(sum(nxt.values()) - prev_total) / prev_total <= SETTLE_TOLERANCE:
            settled = True
            break
    ctrl_first = settle_history[-1]

    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in headline:
        samples = [run_once(name) for _ in range(extra_runs.get(name, n_runs))]
        raw[name] = samples
        timings[name] = sorted(samples)[len(samples) // 2]

    ctrl_last = probe_median3()
    # Drift guard (round-5 ADVICE): run_once rounds to 3 decimals, so a
    # sub-0.5 ms control would record 0.0 — emit null for that control
    # instead of dividing by zero.
    drift_pct: dict[str, float | None] = {}
    for n in controls:
        if ctrl_first[n] == 0.0:
            drift_pct[n] = None
        else:
            drift_pct[n] = round(
                (ctrl_last[n] - ctrl_first[n]) / ctrl_first[n] * 100.0, 1
            )
    finite = [d for d in drift_pct.values() if d is not None]
    mean_drift = round(sum(finite) / len(finite), 1) if finite else None
    return {
        "timings": timings,
        "raw": raw,
        "settle_history": settle_history,
        "settled": settled,
        "ctrl_first": ctrl_first,
        "ctrl_last": ctrl_last,
        "drift_pct": drift_pct,
        "mean_drift_pct": mean_drift,
    }


def run_with_drift_retry(run_once, headline, controls, n_runs, extra_runs) -> list[dict]:
    """DRIFT-BREACH RETRY: a pass whose endpoint drift exceeds the budget
    measured a box that changed state MID-RUN — its medians are
    band-inflated no matter how well the settle phase did. Re-run the
    whole pass (bounded) and emit the LAST one; every attempted pass's
    evidence lands in the samples blob so a retry is auditable."""
    passes = [measure_pass(run_once, headline, controls, n_runs, extra_runs)]
    while (
        len(passes) <= DRIFT_MAX_RETRIES
        and passes[-1]["mean_drift_pct"] is not None
        and abs(passes[-1]["mean_drift_pct"]) > DRIFT_BUDGET_PCT
    ):
        passes.append(measure_pass(run_once, headline, controls, n_runs, extra_runs))
    return passes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench")

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        if name == CPU_CONTROL:
            run_cpu_control(spark)
        elif name in NOOP_TWINS:
            df = REGISTRY[NOOP_TWINS[name]].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        else:
            REGISTRY[name].fn(spark, sf_dir).count()
        return round(time.perf_counter() - t0, 3)

    # GLOBAL WARM-UP: one untimed pass over every headline query BEFORE
    # anything is measured. Two reasons: (a) BENCH_r05 showed the first
    # timed run is the max for nearly every query (codegen/JIT compile
    # inside the median); (b) compiling 24 distinct queries warms the JVM
    # so much that a control probe taken before this pass reads ~30% slow
    # — the settle probes below must see the box the TIMED queries will
    # see, or first-vs-last control drift measures our own warm-up.
    warmups: dict[str, float] = {n: run_once(n) for n in HEADLINE}

    # Median of n runs per query (BASELINE.md protocol): single runs show
    # ±0.3 s noise on this box, which swamps small plan-level regressions.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    extra_runs = {
        "pipeline_training_data": max(n_runs, 5),
        "dedup_minhash_candidates": max(n_runs, 5),
    }

    passes = run_with_drift_retry(run_once, HEADLINE, CONTROLS, n_runs, extra_runs)
    final = passes[-1]
    timings = final["timings"]

    total = round(
        sum(v for k, v in timings.items() if k not in NOOP_TWINS), 3
    )
    samples_path = REPO / "bench_samples.json"
    samples_path.write_text(
        json.dumps(
            {
                "sf": sf,
                "samples": final["raw"],
                "warmups": warmups,
                "settle_history": final["settle_history"],
                "controls": {
                    "first": final["ctrl_first"],
                    "last": final["ctrl_last"],
                },
                "discarded_passes": [
                    {
                        "samples": p["raw"],
                        "settle_history": p["settle_history"],
                        "controls": {
                            "first": p["ctrl_first"],
                            "last": p["ctrl_last"],
                        },
                        "mean_drift_pct": p["mean_drift_pct"],
                    }
                    for p in passes[:-1]
                ],
            },
            indent=1,
        )
        + "\n"
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": {"default": n_runs, **extra_runs},
                # enumerated so the artifact is self-documenting: these
                # entries are noop-sink additions NOT counted in `value`
                "noop_twins": sorted(NOOP_TWINS),
                "controls": {
                    # the control probe VALUES (not just drift) make the
                    # artifact band-legible on its own: drift measures
                    # within-run change, so a box running uniformly slow
                    # emits a settled low-drift pass with an inflated
                    # total — the first/last control medians against the
                    # re-baselined control band (BASELINE.md: q1
                    # 0.33-0.37 s) distinguish that band inflation from
                    # a plan regression without the samples blob.
                    "first": final["ctrl_first"],
                    "last": final["ctrl_last"],
                    "drift_pct": final["drift_pct"],
                    "mean_drift_pct": final["mean_drift_pct"],
                    "settle_probes": len(final["settle_history"]),
                    "settled": final["settled"],
                    "drift_retries": len(passes) - 1,
                },
                "samples_file": samples_path.name,
            }
        )
    )


if __name__ == "__main__":
    main()
