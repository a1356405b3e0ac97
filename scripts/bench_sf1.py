#!/usr/bin/env python
"""Scale-degradation bench: the heaviest headline queries at sf0.1
AND sf1 (10x) in one session, with final-AQE-plan shape capture
(VERDICT r5 item 3).

For each query and scale: one warm-up pass (plan compile + page
cache -- without it the first query ever run absorbs session startup
and the ratios are meaningless), one TIMED noop-sink run (same
estimator as bench.py), then one untimed ``collect()`` on the same
DataFrame so AQE finalizes ITS plan (isFinalPlan=true) and the
inspected shape reflects the runtime join-strategy decisions:
broadcast vs sort-merge vs shuffled hash, skew-join activation.

A query that REFUSES at a scale (a refuse-guard raising ValueError,
e.g. the exact link-prediction wedge budget at sf1) records the
refusal as the intended result, distinct from a FAIL.

Writes BENCH_SF1.md at the repo root, merging the hand-written notes
from scripts/bench_sf1_notes.md verbatim (VERDICT r11 item 5: notes
live THERE and survive regeneration; this file is disposable output).
"""

from __future__ import annotations

import os
import sys
import time
import uuid

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from hq_master_data_warehouse_spark import obs, registry
from hq_master_data_warehouse_spark.session import get_spark

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/.data/sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(
    len(os.sched_getaffinity(0))
)

#: the heaviest headline queries whose cost scales with INPUT size.
#: Near-dup/contamination text ops are excluded: the sf1 derivation
#: replicates documents verbatim, so their pair outputs would grow
#: quadratically in the replica count -- measuring the data artifact,
#: not the operator (see scripts/gen_sf1.py docstring).
HEAVY = [
    "flagship_range_counts",
    "tpch_q9_product_profit",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_orders",
    "graph_pagerank_copurchase",
    "orders_rfm_scores",
    "ml_bootstrap_mean_ci",
    "ml_ks_statistic",
    "dedup_embedding_cosine",
    "sketch_cms_heavy_hitters",
    # round-6 wave: the iterative CC, the sweep, and the skyline are
    # the new cells whose scale behavior needs evidence
    "graph_connected_components",
    "events_peak_concurrency",
    "orders_pareto_skyline",
    # round-6 continuation wave: iterative peel, replicate-trick
    # resampling, boosting passes, modularity joins, per-user
    # windows, month-grid moments, NB model join
    "graph_kcore_decomposition",
    "ml_permutation_test",
    "ml_adaboost_stumps",
    "graph_modularity_score",
    "dq_gap_and_islands",
    "orders_xyz_analysis",
    "ml_naive_bayes_langid",
    # round-8 wave (VERDICT r7 item 7): the rewritten dedup family
    # and the heaviest curation composition.  sf1 documents are
    # verbatim 10x replicas, so near-dup PAIR OUTPUTS are dominated
    # by replica-pairs -- but the stop-shingle guard (df >
    # MAX_SHINGLE_DF kills a shingle) bounds the candidate join
    # exactly as it would on any pathological real corpus, so the
    # RUNTIME ratio remains a valid scale measurement even though
    # the result rows measure the replica artifact.
    "dedup_minhash_lsh",
    "dedup_tfidf_cosine_pairs",
    "pipeline_pretraining_pack",
    # one structured-streaming availableNow drain (state store +
    # micro-batch scheduling at 10x input)
    "streaming_tumbling_counts",
    # round-9 wave (VERDICT r8 item 6): the retrieval-eval battery
    # (three grouped-window passes over the shared margin ranking),
    # the grouped two-pass Tukey rank, the 16-term truncated EWMA,
    # and the rewritten md5-family simhash (same replica-pair output
    # caveat as minhash; the runtime ratio is the evidence)
    "ml_ndcg_at_k",
    "ml_mrr_reciprocal_ranks",
    "ml_precision_recall_at_k",
    "dq_tukey_fence_outliers",
    "window_ewma_customer_revenue",
    "dedup_simhash",
    # round-9 curated wave: batch-vs-corpus probe (same replica-pair
    # output caveat as minhash), the cluster-representative split
    # (reads the shared matcache component table since r10), and the
    # change feed (file-level CDF since r10; stages the
    # default-variant txn table fresh at first run per scale)
    "dedup_incremental_lsh",
    "split_leakage_safe",
    "source_txn_log_changes",
    # round-11: the heaviest single op (exact top-k Jaccard link
    # prediction, sum-of-C(d,2) wedge aggregation -- 148.8M wedges at
    # sf0.1).  Since r12 the sf1 half of this cell records the wedge
    # guard's REFUSAL (1.46e9 wedges > the 4e8 budget): the one
    # completed sf1 pass measured 950-1190 s disk-spill-bound (r11)
    # and the guard now exists precisely so that run never happens
    # silently.  sf0.1 still times the exact plan.
    "graph_link_prediction_jaccard",
    # round-12: the sanctioned corpus-scale twin (banded adjacency-set
    # minhash candidates + exact verify on candidates only) -- the sf1
    # cell that REPLACES the exact op's spill wall with a linear,
    # zero-spill plan; its ratio is the headline evidence that the
    # refuse-guard points somewhere real.
    "graph_link_prediction_minhash",
    # round-11 window sweep: the converted row-scale windows now run
    # through the two-pass bucket helpers; one representative per
    # helper type carries the sf1 scale curve -- _grouped_global_rank
    # over lineitem (approx sketches), _global_cumsum + boundary lead
    # over near-unique doubles (wasserstein), and the per-segment
    # rank-derived ntile/percent_rank/cume_dist battery (customers)
    "agg_approx_sketches",
    "ml_wasserstein_distance",
    "window_distribution_functions",
]

# Queries whose construction EXECUTES jobs eagerly (iterative loops
# with per-round localCheckpoint): re-timing only a write of the
# already-checkpointed result would skip the iterations entirely, so
# the timed pass re-constructs the DataFrame (bench.py measures every
# query this way; here only these need it to keep the other rows
# comparable with the prior run of this script).
CONSTRUCT_TIMED = {
    "graph_connected_components",
    "graph_kcore_decomposition",
    "graph_modularity_score",
    # the leakage-safe split consumes the matcache component table;
    # construction is a cheap cache read when warm, but on a cache
    # miss it runs the full CC build eagerly -- keep it
    # construction-timed so a cold cell is attributed honestly
    "split_leakage_safe",
    # the availableNow drain runs the stream EAGERLY at construction
    # and returns the memory-sink table; re-writing that table would
    # time nothing
    "streaming_tumbling_counts",
}


# (The r11 SINGLE_PASS / FRESH_SESSION machinery existed solely for
# the exact link-pred's 43 GiB sf1 wedge shuffle; the r12 refuse-guard
# retired that run, so every cell is back to the uniform
# warm-up/timed/collect protocol and every captured shape is an
# EXECUTED adaptive plan -- which also closes ADVICE r11 items 1 and 3
# about the single-pass path's compile-time plans and fragile
# basename keying.)


# Multi-job compositions whose RETURNED DataFrame is not the executed
# composite (VERDICT r12 nit): kcore's loop checkpoints per peel round
# -- the returned df is a scan of the last checkpoint, so its own plan
# never flips isFinalPlan (each ROUND's executed plan was adaptive);
# streaming_tumbling_counts returns the memory-sink TABLE -- the work
# ran inside the streaming query, the returned plan is the sink scan.
# Their shape cells are annotated instead of reading 'final': False
# under a header that promises executed adaptive plans.
COMPOSITE_PLAN = {
    "graph_kcore_decomposition": "multi-job loop; per-round plans adaptive",
    "streaming_tumbling_counts": "streaming sink scan; work ran in-stream",
}


def run(spark, name: str, sf_dir: str) -> tuple[float, dict]:
    df = registry.QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # warm-up
    t0 = time.perf_counter()
    if name in CONSTRUCT_TIMED:
        df = registry.QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    df.collect()  # untimed: finalizes df's own adaptive plan
    shape = obs.plan_summary(obs.explain(spark, df))
    if name in COMPOSITE_PLAN:
        shape["final"] = COMPOSITE_PLAN[name]
    return round(dt, 2), shape


def delta_roundtrip(spark, sf_dir: str) -> tuple[float, int, int]:
    """Fresh-staged txn-log lifecycle at this scale: bucketed v0
    load -> distributed v1 delete-rewrite -> v2 append -> compact ->
    Delta export -> readback aggregate.  Returns (seconds,
    v1 live-file count, readback rows).  VERDICT r6 item 7: the
    file-count column proves the commit-log path (staging included)
    is not driver-bound past 100 files -- at sf1 the bucket layout
    yields ~18k files and the whole lifecycle must stay minutes-free
    because every data pass is ONE distributed job."""
    import shutil

    from hq_master_data_warehouse_spark.sources.txn_log import (
        _table_dir,
        build_txn_table,
        compact_table,
        live_files,
    )
    from hq_master_data_warehouse_spark.sources.delta_export import (
        export_delta_log,
        read_delta_export,
    )

    variant = "bench-sf1-delta"
    shutil.rmtree(_table_dir(sf_dir, variant), ignore_errors=True)
    t0 = time.perf_counter()
    d = build_txn_table(spark, sf_dir, variant=variant)
    n_files = len(live_files(d, 1))
    compact_table(spark, d)
    export_delta_log(spark, d)
    n_rows = read_delta_export(spark, d).count()
    dt = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    return round(dt, 2), n_files, n_rows


def memory_evidence(spark, name: str, sf_dir: str) -> dict:
    """Run one cold pass of ``name`` and return the shuffle/spill
    totals of exactly the stages that pass executed (VERDICT r9 item
    5: the 100 TB narrative needs a memory story, not just
    wall-clock).  Spilled memory and disk == 0 means the whole plan
    ran in-memory at this scale.  Each call runs under a fresh job
    group, so a repeated name (warm row, then cold row) counts only
    its own pass."""
    group = f"mem:{name}:{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, "bench_sf1 memory evidence")
    df = registry.QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    rows = obs.stage_rows(spark, group)
    tot = lambda k: round(sum(r[k] for r in rows), 1)  # noqa: E731
    return {
        "stages": len(rows),
        "shuffle_write_mb": tot("sw_mb"),
        "peak_stage_shuffle_write_mb": round(
            max((r["sw_mb"] for r in rows), default=0), 1
        ),
        "shuffle_read_mb": tot("sr_mb"),
        "memory_spilled_mb": tot("mem_spill_mb"),
        "disk_spilled_mb": tot("spill_mb"),
    }


#: queries whose sf1 memory/spill profile is recorded (the heavy
#: tail: the largest iterative-join plan and the CC-consumer split).
#: cold=True clears the shared matcache first, so the profile
#: includes the once-per-snapshot component BUILD; cold=False is the
#: steady-state consumer plan (what the bench cells measure).
MEM_EVIDENCE = [
    # warm rows FIRST: the cold rows clear the SHARED matcache, so a
    # warm row after them would silently include a rebuild
    ("graph_modularity_score", False),
    ("split_leakage_safe", False),
    # r12 (VERDICT r11 item 7): the heavy dedup family's spill story
    # at both scales -- banded/blocked candidate generation must stay
    # zero-spill at sf1 or the 100 TB narrative has a hole.  These
    # consume no matcache, so warm/cold is immaterial.
    ("dedup_tfidf_cosine_pairs", False),
    ("dedup_simhash", False),
    ("dedup_minhash_lsh", False),
    # r12: the approximate link-prediction twin -- the zero-spill
    # claim vs the exact op's 12 GiB sort spill is its whole reason
    # to exist
    ("graph_link_prediction_minhash", False),
    ("graph_modularity_score", True),
    ("split_leakage_safe", True),
]


def _clear_matcache() -> None:
    import glob
    import shutil
    import tempfile

    for d in glob.glob(
        os.path.join(tempfile.gettempdir(), "hqmdw_mat_*")
    ):
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    registry.load_catalog()
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, tuple] = {}

    def one(sess, name, sf_dir):
        """(seconds, shape) | ('refused', guard-shape) | ('FAIL', ...).
        A refuse-guard ValueError is the op's documented contract at
        this scale, recorded distinctly from a crash; any other
        failure records FAIL so one broken cell cannot lose the whole
        run (r11: a session-state OOM at cell 31 of 33 discarded 40
        minutes of measurements -- the writer only runs at the end)."""
        try:
            return run(sess, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            if obs.is_refusal(e):
                return "refused", {"guard": "refused by budget guard"}
            return "FAIL", {"error": type(e).__name__}

    def cell(sess, name):
        t01, s01 = one(sess, name, SF01)
        t1, s1 = one(sess, name, SF1)
        ratio = (
            round(t1 / t01, 2)
            if isinstance(t01, float) and isinstance(t1, float) and t01
            else "-"
        )
        results[name] = (name, t01, t1, ratio, s01, s1)
        print(name, t01, t1, ratio, s01, "->", s1, flush=True)

    for name in HEAVY:
        cell(spark, name)

    # ADVICE r11 item 2: the memory-evidence loop and the delta
    # roundtrip run with the same record-FAIL-and-continue protection
    # as the cells -- they execute after 30+ queries and before the
    # writer, exactly where a session-state failure used to discard
    # every recorded measurement.
    mem_rows = []
    for name, cold in MEM_EVIDENCE:
        label = f"{name} ({'cold: + CC build' if cold else 'warm'})"
        try:
            if cold:
                _clear_matcache()
            m01 = memory_evidence(spark, name, SF01)
            if cold:
                _clear_matcache()
            m1 = memory_evidence(spark, name, SF1)
        except Exception as e:  # noqa: BLE001
            err = {"stages": "FAIL", "error": type(e).__name__}
            mem_rows.append((label, err, err))
            print("mem", label, "FAILED", type(e).__name__, flush=True)
            continue
        mem_rows.append((label, m01, m1))
        print("mem", label, m01, "->", m1, flush=True)

    try:
        dt01, nf01, nr01 = delta_roundtrip(spark, SF01)
        dt1, nf1, nr1 = delta_roundtrip(spark, SF1)
        assert nf1 > 100, (
            f"sf1 staging produced only {nf1} live files -- the "
            ">100-file commit-log claim needs a bigger keyspace"
        )
        delta_row = (
            "layout_delta_export_roundtrip (fresh staging)",
            dt01,
            dt1,
            round(dt1 / dt01, 2),
            {"files_v1": nf01, "rows": nr01},
            {"files_v1": nf1, "rows": nr1},
        )
    except Exception as e:  # noqa: BLE001
        delta_row = (
            "layout_delta_export_roundtrip (fresh staging)",
            "FAIL", "FAIL", "-", {"error": type(e).__name__}, {},
        )
    print(delta_row, flush=True)

    rows = [results[n] for n in HEAVY if n in results]
    rows.append(delta_row)

    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_SF1.md"),
        "w",
    ) as f:
        f.write(
            "# BENCH_SF1 — scale-degradation evidence (sf0.1 -> sf1)\n\n"
            "Generated by `scripts/bench_sf1.py` on local[%s]; sf1 = "
            "10x replica of the driver's sf0.1 with key-shifted "
            "referential integrity (`scripts/gen_sf1.py`).  One cold "
            "timed run per scale in one session; plan shapes are the "
            "EXECUTED adaptive plans (two multi-job cells -- kcore's "
            "checkpointed loop and the streaming sink scan -- cannot "
            "expose one composite plan and say so in their `final` "
            "field instead).  A healthy scale curve for "
            "shuffle-bound plans is ~10x or less at 10x data on fixed "
            "cores; the exact-GEMM anchor is O(n^2) BY CONTRACT and "
            "is expected near 100x.  A cell reading `refused` hit an "
            "operator's refuse-guard at that scale -- the documented "
            "contract (see Notes), not a failure.\n\n" % CPUS
        )
        f.write(
            "| query | sf0.1 s | sf1 s | ratio | plan shape sf0.1 | "
            "plan shape sf1 |\n|---|---|---|---|---|---|\n"
        )
        for name, t01, t1, ratio, s01, s1 in rows:
            # refused/failed cells carry ratio='-'; suffix the 'x'
            # only when the ratio is numeric (ADVICE r12: '-x').
            rtxt = f"{ratio}x" if isinstance(ratio, float) else ratio
            f.write(
                f"| {name} | {t01} | {t1} | {rtxt} | `{s01}` | "
                f"`{s1}` |\n"
            )
        f.write(
            "\n## Memory / spill evidence (heavy tail)\n\n"
            "Shuffle and spill totals over exactly the stages one "
            "cold pass executed (status-store stage metrics).  Zero "
            "spill = the plan fits executor memory at this scale; "
            "shuffle volume growing ~linearly with data while spill "
            "stays zero is the headroom story for the next 10x.\n\n"
            "| query | scale | stages | shuffle write MB | peak "
            "stage write MB | shuffle read MB | mem spilled MB | "
            "disk spilled MB |\n|---|---|---|---|---|---|---|---|\n"
        )
        for name, m01, m1 in mem_rows:
            for scale, m in (("sf0.1", m01), ("sf1", m1)):
                if m.get("stages") == "FAIL":
                    f.write(
                        f"| {name} | {scale} | FAIL "
                        f"({m.get('error')}) | - | - | - | - | - |\n"
                    )
                    continue
                f.write(
                    f"| {name} | {scale} | {m['stages']} | "
                    f"{m['shuffle_write_mb']} | "
                    f"{m['peak_stage_shuffle_write_mb']} | "
                    f"{m['shuffle_read_mb']} | "
                    f"{m['memory_spilled_mb']} | "
                    f"{m['disk_spilled_mb']} |\n"
                )
        # hand-written notes survive regeneration: they live in
        # scripts/bench_sf1_notes.md and are merged verbatim
        # (VERDICT r11 item 5)
        f.write("\n## Notes (merged from scripts/bench_sf1_notes.md"
                " — edit THAT file, not this section)\n\n")
        f.write(_notes_blob())
    spark.stop()


def _notes_blob() -> str:
    notes_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "bench_sf1_notes.md",
    )
    try:
        with open(notes_path) as nf:
            return nf.read()
    except OSError:
        return "_(no notes file found)_\n"


if __name__ == "__main__":
    main()
