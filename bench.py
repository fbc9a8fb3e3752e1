#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact (<1 KB) JSON line: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {engine_*: sec}, "core_total": ...,
"extension_total": ..., "sf": ...}.  The full per-query dict (all ~71
timings) is written to BENCH_DETAIL.json and echoed to stderr — it
outgrew the driver's stdout tail-capture window in round 6
(VERDICT r6 #2), so the final stdout line carries only totals plus
the four engine headline numbers.

Each query is fully materialized (count + a cheap checksum collect) so
lazy plans can't cheat.  A warmup pass primes the JVM/code-cache; the
reported time is the best of N timed runs per query (steady-state
throughput, what a long-running service sees).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from ong_tsdb_spark import entry_queries  # noqa: E402

# PINNED CORE (round-6 split, VERDICT r5 #8): the registry queries of
# the 35-query r4-comparable set (engine_ingest/upsert/range/last are
# the other 4, timed by bench_engine below).  This list is the
# round-over-round TREND — do NOT add to it; new operators go in
# EXTENSION.  ``value`` in the JSON line is the CORE+engine total so
# r4/r5/r6 totals stay comparable; ``extension_total`` reports the
# rest separately.
#
# r10 comparability breaks (registry retirements, ROADMAP ledger):
# emb_neardup_numpy LEFT the set (31 -> 30 members; it timed ~0.35 s
# at r9 sf0.1, so r10+ ``value`` runs ~0.35 s lighter than r9 on
# identical code — account for that before reading a trend), and
# dedup_simhash32's slot is now dedup_simhash (the surviving 64-bit
# twin, same banded plan class).  NOTE dedup_simhash has no committed
# pre-r10 timing (it sat outside CORE+EXTENSION), so its first r10
# sample REBASELINES that slot — bench_drift reports the pair as
# added/removed, not as a mover; read the r9->r10 CORE total with
# both substitutions in mind and trend from r10 forward.
# r11 registry retirements (107 -> 100, VERDICT r10 #3) change this
# set's membership: ts_gap_fill/ts_delta/ts_rolling_mean leave (their
# survivors ts_gap_fill_linear / ts_rate / ts_moving_range_avg keep
# the slots) and emb_cosine_topk's slot becomes emb_ann_recall (which
# runs the brute kernel INSIDE the recall join, so the timed work is a
# superset — rebaseline that slot from r11).  bench_drift reports all
# four pairs as added/removed, not movers.
CORE = [
    "ts_range_read",
    "ts_snap_grid",
    "ts_downsample_first",
    "ts_upsert_last_wins",
    "ts_asof_join",
    "ts_sessionize",
    "tpch_q1",
    "tpch_q3_topk",
    "tpch_q5ish",
    "tpch_q6",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "text_langid",
    "emb_ann_recall",
    "emb_neardup_blocked",
    "emb_neardup_lsh",
    "corpus_clean_pipeline",
    "ts_cumulative_sum_chunked",
    "ts_moving_range_avg",
    # chunk-parallel window family (operators/chunkwin.py)
    "ts_rate",
    "ts_gap_fill_linear",
    # round-4 operators
    "dedup_passage_stats",
    "text_gopher_quality",
    "text_contamination",
    "dedup_clusters",
]

# ROTATING EXTENSION: everything newer than the r4 core — reported
# under the same per-query keys plus an ``extension_total``.
EXTENSION = [
    # round-5 operators (+ the now-oracle-checked IVF path; r11: the
    # emb_ivf_topk slot is its survivor emb_ivf_recall — same IVF plan
    # nested inside the recall join, rebaseline from r11)
    "emb_ivf_recall",
    "dedup_keep_best",
    "doc_length_band",
    "text_rare_tokens",
    "corpus_pack_stats",
    "dedup_semantic",
    "text_bm25_topk",
    "ts_ewma",
    "emb_centroid_dist",
    "corpus_mix_weights",
    "ts_mad_anomaly",
    "dedup_minhash_error",
    "corpus_curation_report",
    "text_fertility",
    "corpus_delta_stats",
    "corpus_pack_sequences",
    "text_dup_spans",
    "text_c4_quality",
    "text_classifier_quality",
    "corpus_dsir_weights",
    "emb_pq_adc_topk",
    "text_bpe_pairs",
    "doc_chunk_stats",
    "events_funnel",
    # round-6 operators
    "events_interval_join",
    "events_retention",
    "graph_pagerank",
    "text_bigram_novelty",
    "dedup_ledger_replay",
    "dedup_near_ledger_replay",
    "corpus_topic_sample",
    "emb_kmeans_k64",
    # round-7 operators
    "dedup_ledger_crash_replay",
    "corpus_epoch_mix",
    # round-8 operators
    "corpus_epoch_shards",
    "text_classifier_train",
    "corpus_shuffled_shards",
]

# back-compat: tests and tools address the full timed set by this name
HEADLINE = CORE + EXTENSION

# best-of-3 by default: this host has noisy neighbors (observed ±25%
# on identical code) and a single bad run otherwise pollutes the
# recorded per-query time
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# --scale10 mode: the operator families whose upward-scale behavior the
# 10x replica corpus is built to probe (dedup/graph/text/emb — the
# LLM-pipeline surface) plus two ts/tpch anchors for context
SCALE_FAMILIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_winnow",
    "dedup_simhash",
    "dedup_passage_stats",
    "dedup_clusters",
    "text_contamination",
    "text_vocab",
    "text_gopher_quality",
    "corpus_sample_stats",
    "emb_neardup_lsh",
    "emb_ivf_recall",
    "corpus_clean_pipeline",
    "ts_moving_range_avg",
    "tpch_q3_topk",
    # round-5 operators
    "dedup_keep_best",
    "doc_length_band",
    "text_rare_tokens",
    "emb_ann_recall",
    "corpus_pack_stats",
    "dedup_semantic",
    "text_bm25_topk",
    "emb_centroid_dist",
    "corpus_mix_weights",
    "ts_mad_anomaly",
    "dedup_minhash_error",
    "corpus_curation_report",
    "text_fertility",
    "corpus_delta_stats",
    "corpus_pack_sequences",
    "text_dup_spans",
    "emb_pq_adc_topk",
    "text_classifier_quality",
    "corpus_dsir_weights",
    "text_bpe_pairs",
    "doc_chunk_stats",
    "events_funnel",
    # round-6 operators
    "events_interval_join",
    "events_retention",
    "graph_pagerank",
    "text_bigram_novelty",
    "dedup_ledger_replay",
    "dedup_near_ledger_replay",
    "corpus_topic_sample",
    "emb_kmeans_k64",
    # round-7 operators
    "corpus_epoch_mix",
    # round-8 operators
    "corpus_epoch_shards",
    "text_classifier_train",
    "corpus_shuffled_shards",
]


def session_builder(cpus: str, app_name: str) -> SparkSession.Builder:
    """The bench session's conf on ``local[cpus]``, not yet created.
    ``main()`` and the tools that re-time bench rows (driver_drift,
    scale100, split_profile, opt_profile, quiet_bench) all build from
    it, so their numbers share one session shape."""
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )


def bench_bpe_trainer(spark, sf_dir: str) -> dict[str, float]:
    """The BPE TRAINER itself (plans/bpe.py train_bpe_merges), not just
    pair counting: 24 merges over the documents corpus — the n-gram-
    summary CASCADE (default; exact, follows merge chains) vs the
    non-interacting exact batcher vs the one-merge-per-round reference
    loop.  Records wall time, realized round counts, and the
    round-reduction factors — the quantity that decides whether a
    production 30k-merge vocab is 60k Spark jobs or ~1k."""
    from ong_tsdb_spark.plans import bpe

    docs = entry_queries.load(spark, sf_dir, "documents")
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    cascade = bpe.train_bpe_merges(docs, n_merges=24, batch=64)
    out["bpe_train_cascade"] = round(time.perf_counter() - t0, 4)
    rounds_cascade = bpe.LAST_TRAIN_ROUNDS
    # The reference rows run 8 merges since r15 (24 through r14 —
    # recorded in the detail JSON's ``protocols`` so drift tooling
    # rebaselines instead of reading a 3x mover; VERDICT r14 #6): the
    # one-merge-per-round loop exists only to assert the batchers'
    # bit-identity, and greedy BPE is PREFIX-STABLE — the first 8
    # merges of the 24-merge production cascade above ARE the 8-merge
    # greedy sequence — so the identity asserts keep tying the
    # production row to the reference while the lap stops paying ~17 s
    # for rounds 9..24 of two reference loops.  tests/test_bpe.py
    # still pins the full algorithm against a pure-Python twin.
    t0 = time.perf_counter()
    batched = bpe.train_bpe_merges(docs, n_merges=8, batch=16, guard="exact")
    out["bpe_train_batched"] = round(time.perf_counter() - t0, 4)
    rounds_batched = bpe.LAST_TRAIN_ROUNDS
    t0 = time.perf_counter()
    sequential = bpe.train_bpe_merges(docs, n_merges=8, batch=1, guard="exact")
    out["bpe_train_sequential"] = round(time.perf_counter() - t0, 4)
    rounds_seq = bpe.LAST_TRAIN_ROUNDS
    assert cascade[:8] == sequential, (
        "cascade BPE diverged from reference loop on the shared prefix"
    )
    assert batched == sequential, "exact-batched BPE diverged from reference loop"
    out["bpe_train_rounds_cascade"] = float(rounds_cascade)
    out["bpe_train_rounds_batched"] = float(rounds_batched)
    out["bpe_train_rounds_sequential"] = float(rounds_seq)
    print(
        f"[bench] bpe_trainer: cascade 24 merges, {rounds_cascade} "
        f"rounds ({out['bpe_train_cascade']:.2f}s, first 8 == sequential), "
        f"exact-batched 8 merges, {rounds_batched} rounds "
        f"({out['bpe_train_batched']:.2f}s, table == sequential), "
        f"sequential 8 merges, {rounds_seq} rounds "
        f"({out['bpe_train_sequential']:.2f}s); round reduction "
        f"{rounds_seq / max(rounds_batched, 1):.1f}x exact-batched at 8",
        file=sys.stderr,
    )
    return out


def release_blocks(spark) -> None:
    """Drop every persisted RDD (cache + localCheckpoint blocks).

    The pair-generator queries materialize their index tables via
    eager localCheckpoint; those blocks live until the DataFrame is
    GC'd, so a long single-session run (the bench, or any service
    embedding the registry) accumulates executor block-store usage
    from queries that already finished — observed as a creeping
    ~0.5 s/query slowdown late in the 50-query bench.  Timings are
    unaffected per-query because each timed run constructs (and
    checkpoints) its own plan anyway."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd_id in list(jsc.getPersistentRDDs().keySet().toArray()):
        try:
            jsc.getPersistentRDDs().get(rdd_id).unpersist(False)
        except Exception:
            pass  # racing GC of a block already being dropped is fine


def _prev_sweep_artifact(prefix: str) -> dict:
    """Newest committed ``<prefix>_rNN.json`` at git HEAD from a round
    STRICTLY BEFORE the one being written — the round-over-round
    baseline for the sweep directional verdicts (VERDICT r11 #4).
    Round-aware like tools/sweep_drift.py's ``_prev_committed``
    (ADVICE r12: baselining against the current round's own committed
    artifact made a sweep rerun adjudicate vs itself while the gate
    compared vs the prior round).  {} when none is committed yet."""
    import re as _re
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    ls = subprocess.run(
        ["git", "-C", here, "ls-files", f"{prefix}_r*.json"],
        capture_output=True, text=True,
    ).stdout.split()

    def rnd(p: str) -> int:
        m = _re.search(rf"{prefix}_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    # the round being written = newest driver round file + 1 (the
    # round_close.current_round convention)
    writing = max(
        (int(m.group(1))
         for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
         if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))),
        default=0,
    ) + 1
    ls = [p for p in ls if rnd(p) < writing]
    if not ls:
        return {}
    proc = subprocess.run(
        ["git", "-C", here, "show", f"HEAD:{max(ls, key=rnd)}"],
        capture_output=True, text=True,
    )
    try:
        return json.loads(proc.stdout) if proc.returncode == 0 else {}
    except ValueError:
        return {}


#: a family's warm ratio moving beyond this factor vs the previous
#: round's committed sweep artifact triggers the in-run recheck
SWEEP_MOVE_TRIGGER = 1.5


def _adjudicate_sweep_movers(spark, out, prev, runners, pairs) -> None:
    """Directional verdicts for the 10x/skew sweeps (VERDICT r11 #4):
    any family whose warm ratio moved >SWEEP_MOVE_TRIGGER vs the
    previous round's committed artifact is re-measured IN ISOLATION at
    the end of the sweep (blocks released, discard-first lap, then
    best-of-RUNS per side — the same protocol the r10/r11 quiet
    rechecks applied by hand), and its row gains ``prev_ratio`` /
    ``ratio_recheck`` / ``direction`` so a bare-ratio drift can never
    again ride into the artifact unadjudicated.  Directions:
    ``recheck-exonerated`` (the isolated ratio is back within the
    trigger of the previous round — sweep-position/host noise) or
    ``drift-real`` (the isolated ratio confirms the move — needs a
    named cause in BENCH.md).  tools/sweep_drift.py (run by
    round_close) fails the close on any mover without a direction."""
    prev_q = prev.get("queries", {})
    num_tag, den_tag = pairs[1][0], pairs[0][0]
    for name, rec in out.items():
        old = prev_q.get(name, {}).get("ratio_warm")
        if not old or old <= 0:
            continue
        move = rec["ratio_warm"] / old
        if 1.0 / SWEEP_MOVE_TRIGGER < move < SWEEP_MOVE_TRIGGER:
            continue
        rec["prev_ratio"] = old
        run_one = runners[name]
        warms: dict[str, float] = {}
        for tag, d in pairs:
            release_blocks(spark)
            run_one(d)  # discard-first
            best = float("inf")
            for _ in range(RUNS):
                t0 = time.perf_counter()
                run_one(d)
                best = min(best, time.perf_counter() - t0)
            warms[tag] = best
        release_blocks(spark)
        rec["ratio_recheck"] = round(warms[num_tag] / warms[den_tag], 2)
        move2 = rec["ratio_recheck"] / old
        if 1.0 / SWEEP_MOVE_TRIGGER < move2 < SWEEP_MOVE_TRIGGER:
            rec["direction"] = "recheck-exonerated"
        else:
            rec["direction"] = "drift-real"
        print(
            f"[sweep-mover] {name}: ratio {old}x -> {rec['ratio_warm']}x "
            f"in-sweep, {rec['ratio_recheck']}x isolated -> "
            f"{rec['direction']}",
            file=sys.stderr,
        )


def bench_scale10(spark, sf_dir: str) -> None:
    """One scripted run behind ``--scale10``: regenerate the 10x
    replica corpus (tools/gen_scale.py — ids offset, document token
    spaces disjoint, embedding labels namespaced, so duplicate RATE and
    block SIZE stay constant while content scales 10x), then run each
    scale family at 1x and 10x recording COLD (first run — fresh plan,
    and for the 10x side freshly-written parquet) and WARM (best of
    RUNS after) times.  Prints the BENCH.md table to stderr and one
    JSON line to stdout."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    dst = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/sf_scale10")
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(here, "tools", "gen_scale.py"), sf_dir, dst, "10"],
        check=True,
        stdout=sys.stderr,
    )
    print(f"[scale10] corpus generated in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    registry = entry_queries.queries()
    out: dict[str, dict[str, float]] = {}
    for name in SCALE_FAMILIES:
        fn = registry[name]
        rec: dict[str, float] = {}
        for tag, d in (("x1", sf_dir), ("x10", dst)):
            t0 = time.perf_counter()
            fn(spark, d).count()
            rec[f"{tag}_cold"] = round(time.perf_counter() - t0, 4)
            best = float("inf")
            for _ in range(RUNS):
                t0 = time.perf_counter()
                fn(spark, d).count()
                best = min(best, time.perf_counter() - t0)
            rec[f"{tag}_warm"] = round(best, 4)
            release_blocks(spark)
        rec["ratio_cold"] = round(rec["x10_cold"] / rec["x1_cold"], 2)
        rec["ratio_warm"] = round(rec["x10_warm"] / rec["x1_warm"], 2)
        out[name] = rec
        print(
            f"[scale10] {name}: 1x {rec['x1_cold']:.2f}/{rec['x1_warm']:.2f}s "
            f"10x {rec['x10_cold']:.2f}/{rec['x10_warm']:.2f}s "
            f"(cold/warm; ratios {rec['ratio_cold']}x/{rec['ratio_warm']}x)",
            file=sys.stderr,
        )

    # the BPE trainer itself (not a registry query): 24 batched merges
    # at 1x and 10x — the 10x scale row VERDICT r5 #5 asks for
    from ong_tsdb_spark.plans import bpe

    rec = {}
    for tag, d in (("x1", sf_dir), ("x10", dst)):
        docs = entry_queries.load(spark, d, "documents")
        t0 = time.perf_counter()
        bpe.train_bpe_merges(docs, n_merges=24, batch=16)
        rec[f"{tag}_cold"] = round(time.perf_counter() - t0, 4)
        rec[f"{tag}_warm"] = rec[f"{tag}_cold"]  # iterative: no warm rerun
        release_blocks(spark)
    rec["ratio_cold"] = round(rec["x10_cold"] / rec["x1_cold"], 2)
    rec["ratio_warm"] = rec["ratio_cold"]
    rec["rounds"] = float(bpe.LAST_TRAIN_ROUNDS)
    out["bpe_train_batched"] = rec
    print(
        f"[scale10] bpe_train_batched: 1x {rec['x1_cold']:.2f}s 10x "
        f"{rec['x10_cold']:.2f}s (ratio {rec['ratio_cold']}x, "
        f"{int(rec['rounds'])} rounds at 10x)",
        file=sys.stderr,
    )

    runners = {
        n: (lambda d, f=registry[n]: f(spark, d).count())
        for n in SCALE_FAMILIES
    }
    runners["bpe_train_batched"] = lambda d: bpe.train_bpe_merges(
        entry_queries.load(spark, d, "documents"), n_merges=24, batch=16
    )
    _adjudicate_sweep_movers(
        spark, out, _prev_sweep_artifact("SCALE10"), runners,
        (("x1", sf_dir), ("x10", dst)),
    )

    print("\n| query | 1x cold | 1x warm | 10x cold | 10x warm | ratio (cold) | ratio (warm) |", file=sys.stderr)
    print("|---|---|---|---|---|---|---|", file=sys.stderr)
    for name, r in out.items():
        print(
            f"| {name} | {r['x1_cold']:.2f} | {r['x1_warm']:.2f} | {r['x10_cold']:.2f} "
            f"| {r['x10_warm']:.2f} | {r['ratio_cold']}x | {r['ratio_warm']}x |",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "scale10_families",
                "value": round(sum(r["x10_cold"] for r in out.values()), 4),
                "unit": "sec",
                "queries": out,
                "sf": "10x-" + sf_dir.rstrip("/").split("sf")[-1],
            }
        )
    )


def bench_skew(spark, sf_dir: str) -> None:
    """One scripted run behind ``--skew``: clone the sf dir with the
    hot-key rewrite (tools/skew_corpus.py — row counts UNCHANGED; 50%
    hot source/user/vector/orderkey, 25% exact-duplicate text), then
    run each scale family on clean vs skew recording cold and warm
    (best of RUNS) times.  Because row counts are identical by
    construction, the warm ratio is the PURE hot-key cost: straggler
    tasks, quadratic candidate blow-ups in dedup buckets, hot-bucket
    joins.  Prints the BENCH.md table to stderr and one JSON line to
    stdout."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    dst = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/sf_skew")
    subprocess.run(
        [sys.executable, os.path.join(here, "tools", "skew_corpus.py"),
         "--base", sf_dir, "--out", dst],
        check=True,
        stdout=sys.stderr,
    )

    registry = entry_queries.queries()
    out: dict[str, dict[str, float]] = {}
    for name in SCALE_FAMILIES:
        fn = registry[name]
        rec: dict[str, float] = {}
        for tag, d in (("clean", sf_dir), ("skew", dst)):
            t0 = time.perf_counter()
            fn(spark, d).count()
            rec[f"{tag}_cold"] = round(time.perf_counter() - t0, 4)
            best = float("inf")
            for _ in range(RUNS):
                t0 = time.perf_counter()
                fn(spark, d).count()
                best = min(best, time.perf_counter() - t0)
            rec[f"{tag}_warm"] = round(best, 4)
            release_blocks(spark)
        rec["ratio_warm"] = round(rec["skew_warm"] / rec["clean_warm"], 2)
        out[name] = rec
        print(
            f"[skew] {name}: clean {rec['clean_warm']:.2f}s "
            f"skew {rec['skew_warm']:.2f}s (warm ratio {rec['ratio_warm']}x)",
            file=sys.stderr,
        )

    _adjudicate_sweep_movers(
        spark, out, _prev_sweep_artifact("SKEW"),
        {n: (lambda d, f=registry[n]: f(spark, d).count())
         for n in SCALE_FAMILIES},
        (("clean", sf_dir), ("skew", dst)),
    )

    print("\n| query | clean warm | skew warm | ratio |", file=sys.stderr)
    print("|---|---|---|---|", file=sys.stderr)
    for name, r in sorted(out.items(), key=lambda kv: -kv[1]["ratio_warm"]):
        print(
            f"| {name} | {r['clean_warm']:.2f} | {r['skew_warm']:.2f} "
            f"| {r['ratio_warm']}x |",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "skew_families",
                "value": round(sum(r["skew_warm"] for r in out.values()), 4),
                "unit": "sec",
                "queries": out,
                "sf": "skew-" + sf_dir.rstrip("/").split("sf")[-1],
            }
        )
    )


def bench_engine(spark, sf_dir: str, serve_steady: int = 0) -> dict[str, float]:
    """Engine write/read path throughput on the reference's workload
    shape: fixed-interval upsert ingest + pruned range reads.  Uses
    the events table as the tick source (ns ts -> 1 s grid).

    ``serve_steady > 0`` additionally runs that many back-to-back
    serving reads and records their median/p90 as
    ``engine_serve_read_7d_steady_p50``/``_p90`` — the long-lived
    serving-session latency contract (VERDICT r10 #2: one pass can't
    distinguish a GC hiccup from a session-aging slope)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ong_tsdb_spark import OngTsdbSpark

    base = tempfile.mkdtemp(prefix="bench_tsdb_")
    out: dict[str, float] = {}
    try:
        eng = OngTsdbSpark(spark, base)
        eng.create_db("bench")
        eng.create_sensor("bench", "events_1s", "1s", ["value"])
        from ong_tsdb_spark.functions.timeseries import epoch_us

        ev = entry_queries.load(spark, sf_dir, "events")
        # dtype-adaptive: events.ts has shipped as both long-ns and
        # timestamp[us] — go through epoch-µs and divide down to seconds
        ticks = ev.select(
            (epoch_us(ev, "ts") / F.lit(1e6)).alias("ts_sec"),
            F.col("value").cast("double").alias("value"),
        )
        n = ticks.count()
        t0 = time.perf_counter()
        eng.write_spark_df("bench", "events_1s", ticks)
        ingest_s = time.perf_counter() - t0
        out["engine_ingest"] = round(ingest_s, 4)
        print(f"[bench] engine_ingest: {n} ticks in {ingest_s:.2f}s "
              f"({n / ingest_s:,.0f} rows/s)", file=sys.stderr)

        # upsert a 10% slice on top (read-modify-write of touched partitions)
        slice_df = ticks.limit(max(n // 10, 1))
        t0 = time.perf_counter()
        eng.write_spark_df("bench", "events_1s", slice_df)
        out["engine_upsert_10pct"] = round(time.perf_counter() - t0, 4)

        lo = ticks.agg(F.min("ts_sec")).first()[0]
        t0 = time.perf_counter()
        eng.read("bench", "events_1s", start_ts=lo, end_ts=lo + 7 * 86400).count()
        out["engine_range_read"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        eng.get_last_timestamp("bench", "events_1s")
        out["engine_last_ts"] = round(time.perf_counter() - t0, 4)
        # the SERVING read (round-6 pyarrow fast path): same 7-day
        # window to a pandas frame, no Spark job — the latency tier
        # the reference's embedded store competes in.  Best-of-3
        # (r11): a SINGLE shot of this ~35 ms pure-driver read has a
        # 30-65 ms per-lap spread (first-touch warmup after the store
        # rebuild — page cache + pyarrow metadata, NOT session aging;
        # BENCH.md round-11 serve-read subsection), which at
        # single-shot sampling produced a spurious 1.655x "aging"
        # ratio in BENCH_QUIET_r10.  Three laps cost < 0.2 s and pin
        # the number the serving tier actually delivers.
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            n_serve = len(eng.read_pandas("bench", "events_1s",
                                          start_ts=lo, end_ts=lo + 7 * 86400))
            best = min(best, time.perf_counter() - t0)
        out["engine_serve_read_7d"] = round(best, 4)
        print(f"[bench] engine_serve_read_7d: {n_serve} rows in "
              f"{out['engine_serve_read_7d'] * 1000:.1f} ms", file=sys.stderr)
        # SCALING-SIGNAL row (VERDICT r14 #2, additive — never remove):
        # the five rows above are second-scale micro-queries dominated
        # by fixed per-job cost at sf0.1, so the driver's low-core lap
        # saw ratios ~1 and read the engine as "serial".  This row
        # folds a 100x-replicated tick stream (10M rows at sf0.1)
        # through the same snap + last-wins upsert write — enough
        # compute that the 8-vs-32-core ratio tracks the core ratio.
        # The replication crossJoin is pre-materialized off the clock
        # (guide §1.4) so the timed region is the engine fold+write;
        # replicas are value-identical, so the last-wins winner (and
        # the written store) is deterministic regardless of arrival
        # order.  Excluded from core_total (the r4-comparable trend).
        ticks100 = (
            ticks.crossJoin(spark.range(100))
            .select("ts_sec", "value")
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        n100 = ticks100.count()
        eng.create_sensor("bench", "events_1s_100x", "1s", ["value"])
        t0 = time.perf_counter()
        eng.write_spark_df("bench", "events_1s_100x", ticks100)
        out["engine_ingest_100x"] = round(time.perf_counter() - t0, 4)
        print(
            f"[bench] engine_ingest_100x: {n100} ticks in "
            f"{out['engine_ingest_100x']:.2f}s "
            f"({n100 / out['engine_ingest_100x']:,.0f} rows/s)",
            file=sys.stderr,
        )
        release_blocks(spark)  # free the 10M-row checkpoint before ticks300
        # SCALING-SIGNAL row, revision 2 (still r15, additive — the 100x
        # row above stays per the additions-only contract).  Measured
        # same-day interleaved fresh-JVM laps showed the single-shot
        # 100x reading is unusable as a core signal on this host: the
        # 32-core side has a multi-lap warmup slope (first write lap
        # 4.5-8.4 s settling to ~1.3 s) that one shot lands anywhere on,
        # so the 8-vs-32 ratio came out 1.62, 0.80 and 0.46 in three
        # windows of the SAME code.  At 300x (30M rows) the last-wins
        # fold dominates the fixed write/commit cost and best-of-3
        # fresh-sensor writes step over the slope: every same-window
        # pairing measured 32c < 8c (best-of-3 2.4 vs 2.9, 3.7 vs 4.2,
        # 2.65 vs 5.4 s; BENCH.md round 15).  Each shot writes
        # a FRESH sensor so all three time the identical fresh-write
        # shape; replicas are value-identical so last-wins stays
        # deterministic.  Excluded from core_total like the 100x row.
        ticks300 = (
            ticks.crossJoin(spark.range(300))
            .select("ts_sec", "value")
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        n300 = ticks300.count()
        best300 = float("inf")
        for i in range(3):
            name300 = f"events_1s_300x_{i}"
            eng.create_sensor("bench", name300, "1s", ["value"])
            t0 = time.perf_counter()
            eng.write_spark_df("bench", name300, ticks300)
            best300 = min(best300, time.perf_counter() - t0)
        out["engine_ingest_300x"] = round(best300, 4)
        print(
            f"[bench] engine_ingest_300x: {n300} ticks, best-of-3 "
            f"{out['engine_ingest_300x']:.2f}s "
            f"({n300 / out['engine_ingest_300x']:,.0f} rows/s)",
            file=sys.stderr,
        )
        release_blocks(spark)  # free the 10M/30M-row checkpoint blocks
        if serve_steady > 0:
            laps = []
            for _ in range(serve_steady):
                t0 = time.perf_counter()
                eng.read_pandas("bench", "events_1s",
                                start_ts=lo, end_ts=lo + 7 * 86400)
                laps.append(time.perf_counter() - t0)
            laps.sort()
            out["engine_serve_read_7d_steady_p50"] = round(
                laps[len(laps) // 2], 4)
            # nearest-rank p90 = ceil(0.9 * n)-th lap (ADVICE r11: the
            # old int(n * 0.9) index was the nearest-rank p95 at n=20)
            p90_idx = (9 * len(laps) + 9) // 10 - 1
            out["engine_serve_read_7d_steady_p90"] = round(
                laps[min(len(laps) - 1, p90_idx)], 4)
            print(f"[bench] serve steady ({serve_steady} laps): "
                  f"p50 {out['engine_serve_read_7d_steady_p50'] * 1000:.1f} ms, "
                  f"p90 {out['engine_serve_read_7d_steady_p90'] * 1000:.1f} ms",
                  file=sys.stderr)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def make_summary(
    timings: dict[str, float],
    engine_keys: list[str],
    core_total: float,
    extension_total: float,
    sf,
) -> str:
    """The FINAL stdout line, as one compact JSON string.  Contract
    (pinned by tests/test_entry.py::test_bench_summary_line_compact):
    single line, < 1024 bytes regardless of registry growth — only the
    engine headline numbers ride in ``queries``."""
    summary = {
        "metric": "headline_queries_total",
        "value": core_total,
        "unit": "sec",
        "queries": {k: timings[k] for k in sorted(engine_keys)},
        "core_total": core_total,
        "extension_total": extension_total,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(summary)
    assert "\n" not in line and len(line) < 1024, (
        f"stdout summary line too long ({len(line)} B)"
    )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = session_builder(cpus, "ong_tsdb_spark-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if "--scale10" in sys.argv:
        bench_scale10(spark, sf_dir)
        spark.stop()
        return

    if "--skew" in sys.argv:
        bench_skew(spark, sf_dir)
        spark.stop()
        return

    registry = entry_queries.queries()
    timings: dict[str, float] = {}
    engine_t = bench_engine(spark, sf_dir)
    timings.update(engine_t)

    def timed(name: str) -> float:
        fn = registry[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()  # warmup (plan + code cache + page cache)
        warm = time.perf_counter() - t0
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        print(f"[bench] {name}: warmup {warm:.2f}s best {best:.2f}s", file=sys.stderr)
        release_blocks(spark)
        return round(best, 4)

    for name in CORE:
        timings[name] = timed(name)
    # engine + pinned core; the round-6 serving metric and the two r15
    # scaling-signal rows are reported but kept OUT of the
    # r4-comparable total
    core_total = round(
        sum(
            v
            for k, v in timings.items()
            if k not in ("engine_serve_read_7d", "engine_ingest_100x",
                         "engine_ingest_300x")
        ),
        4,
    )
    for name in EXTENSION:
        timings[name] = timed(name)
    extension_total = round(sum(timings[n] for n in EXTENSION), 4)
    bpe_t = bench_bpe_trainer(spark, sf_dir)
    timings["bpe_train_cascade"] = bpe_t["bpe_train_cascade"]
    timings["bpe_train_batched"] = bpe_t["bpe_train_batched"]
    timings["bpe_train_sequential"] = bpe_t["bpe_train_sequential"]

    # ``value`` stays the r4-comparable 35-query total (4 engine + 31
    # core) so the round-over-round trend is one number; the growing
    # operator surface reports under extension_total.
    #
    # VERDICT r6 #2: the full per-query dict (~71 entries, ~3 KB) used
    # to ride the final stdout line and outgrew the driver's
    # tail-capture window, leaving BENCH_r06 unparseable.  The detail
    # now goes to BENCH_DETAIL.json (and stderr); the FINAL stdout
    # line is compact (<1 KB): totals + the 4 engine headline numbers.
    detail = {
        "metric": "headline_queries_total",
        "value": core_total,
        "unit": "sec",
        "queries": timings,
        "core_total": core_total,
        "extension_total": extension_total,
        "bpe_rounds": {
            "cascade": bpe_t["bpe_train_rounds_cascade"],
            "batched": bpe_t["bpe_train_rounds_batched"],
            "sequential": bpe_t["bpe_train_rounds_sequential"],
        },
        # sampling protocol per metric, where it differs from the
        # default single-shot timing (ADVICE r11: a protocol change
        # under an unchanged key made the r10->r11 serve-read pair
        # look like real movement).  bench_drift reads this and
        # reports a protocol mismatch as a REBASELINE, not a mover.
        # NOTE: the string IS the identity (ADVICE r12) — rewording it
        # retriggers a one-round rebaseline, so treat each value as a
        # frozen id and only change it when the protocol itself changes.
        "protocols": {
            "engine_serve_read_7d": "best-of-3-min (since r11; "
                                    "single-shot through r10)",
            "engine_ingest_100x": "added r15 (scaling-signal row: "
                                  "100x-replicated ticks, input "
                                  "pre-materialized off the clock, "
                                  "single-shot; excluded from "
                                  "core_total)",
            "engine_ingest_300x": "added r15 (scaling-signal row rev 2: "
                                  "300x-replicated ticks, input "
                                  "pre-materialized off the clock, "
                                  "best-of-3 fresh-sensor writes; "
                                  "excluded from core_total)",
            "bpe_train_batched": "8-merge run since r15 (24 through "
                                 "r14; identity vs sequential still "
                                 "asserted)",
            "bpe_train_sequential": "8-merge reference since r15 (24 "
                                    "through r14; cascade row stays "
                                    "24 merges, its first 8 asserted "
                                    "== this reference)",
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print("[bench] detail: " + json.dumps(detail), file=sys.stderr)
    print(make_summary(timings, list(engine_t), core_total,
                       extension_total, detail["sf"]))
    spark.stop()


if __name__ == "__main__":
    main()
