#!/usr/bin/env python
"""Directional drift gate for the DRIVER bench itself (VERDICT r12 #2).

``tools/sweep_drift.py`` gates the SCALE10/SKEW sweep artifacts, but
nothing adjudicated ``BENCH_rN`` vs ``BENCH_rN-1`` — which is exactly
where the r11->r12 movers lived (five >1.5x single-shot denominators
on untouched code, the same profile as the r10 serve-read scare).
This gate closes that blind spot:

    python tools/driver_drift.py            # gate: every mover needs a verdict
    python tools/driver_drift.py --recheck  # measure verdicts (quiet host)

Gate mode diffs the per-query seconds of the newest ``BENCH_rN.json``
in the tree against the newest *committed* one with a strictly lower
round (round-aware on both sides, per the r12 ADVICE on
``_prev_sweep_artifact``), flags every >``TRIGGER`` mover above the
``MIN_SEC`` floor, and requires each to carry a ``direction`` verdict
in ``DRIVER_DRIFT_rN.json``.  Exit 1 lists unexplained movers;
``drift-real`` verdicts pass but print loudly — they owe a named cause
in BENCH.md.

``--recheck`` measures the verdicts: each mover that is a registry
entry is re-run IN ISOLATION under the best-of-3 discard-first
protocol (the round-12 recheck recorded in BENCH.md) on the bench
session, then classified against the two driver readings —
``recheck-exonerated`` when the isolated time sits at the rN-1 level
(the rN reading was driver-host noise), ``drift-real`` when it
confirms rN, ``inconclusive`` otherwise.  Engine-family metrics
(``engine_*``) are not registry entries; their adjudication channel is
the quiet-host A/B (``BENCH_QUIET_rNN.json``), so the recheck marks
them ``see-quiet-ab`` and the gate accepts that only when the matching
quiet artifact exists.

The per-query seconds of a BENCH_rN.json are recovered from its
``parsed.queries`` dict plus the (possibly truncated) ``tail`` string
the driver stores — the tail carries the full bench JSON line, so
regex pairs recover every registry query even when ``parsed.queries``
holds only the engine family.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRIGGER = 1.5   # same bar as the sweep gate (bench.SWEEP_MOVE_TRIGGER)
MIN_SEC = 0.1   # same floor as tools/bench_drift.py


# ---------------------------------------------------------------- load

def _round_of(path: str) -> int:
    m = re.search(r"BENCH_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def bench_queries(doc: dict) -> dict[str, float]:
    """Recover the per-query seconds from one driver bench artifact.

    ``parsed.queries`` is authoritative but may hold only the headline
    subset; the ``tail`` string carries the full JSON line (possibly
    truncated at the front), so name/float pairs are regex-recovered
    first and then overlaid by the parsed dict."""
    qs: dict[str, float] = {}
    for m in re.finditer(r'"([a-z][a-z0-9_]*)":\s*([0-9]+\.[0-9]+)',
                         doc.get("tail", "") or ""):
        qs[m.group(1)] = float(m.group(2))
    # the tail regex also matches scalar fields like "sf": 0.1 — drop
    # the bench-envelope keys, they are not queries
    for k in ("sf", "value", "core_total", "extension_total"):
        qs.pop(k, None)
    parsed = doc.get("parsed") or {}
    for k, v in (parsed.get("queries") or {}).items():
        try:
            qs[k] = float(v)
        except (TypeError, ValueError):
            continue
    return qs


def newest_worktree() -> str | None:
    paths = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    return max(paths, key=_round_of) if paths else None


def prev_committed(newer_than: int) -> tuple[int, dict] | None:
    ls = subprocess.run(
        ["git", "-C", REPO, "ls-files", "BENCH_r*.json"],
        capture_output=True, text=True,
    ).stdout.split()
    older = [p for p in ls if 0 <= _round_of(p) < newer_than]
    if not older:
        return None
    newest = max(older, key=_round_of)
    proc = subprocess.run(
        ["git", "-C", REPO, "show", f"HEAD:{newest}"],
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        return None
    try:
        return _round_of(newest), json.loads(proc.stdout)
    except ValueError:
        return None


# ---------------------------------------------------------------- diff

def movers(old_q: dict[str, float], new_q: dict[str, float]) -> list[dict]:
    """>TRIGGER movers above the MIN_SEC floor, worst first."""
    out = []
    for name in sorted(set(old_q) & set(new_q)):
        a, b = old_q[name], new_q[name]
        if a <= 0 or max(a, b) < MIN_SEC:
            continue
        ratio = b / a
        if 1.0 / TRIGGER < ratio < TRIGGER:
            continue
        out.append({"query": name, "old": a, "new": b,
                    "ratio": round(ratio, 2)})
    out.sort(key=lambda r: -max(r["ratio"], 1.0 / r["ratio"]))
    return out


def load_verdicts(new_round: int) -> dict:
    path = os.path.join(REPO, f"DRIVER_DRIFT_r{new_round:02d}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        doc = json.load(f)
    return doc.get("movers", {})


def gate(mover_rows: list[dict], verdicts: dict, new_round: int,
         quiet_exists: bool) -> tuple[list[str], list[str]]:
    """-> (unexplained, drift-real) tags."""
    unexplained, real = [], []
    for row in mover_rows:
        name = row["query"]
        v = verdicts.get(name, {})
        direction = v.get("direction")
        tag = (f"{name}: {row['old']}s -> {row['new']}s "
               f"({row['ratio']}x), direction={direction!r}")
        if direction is None:
            unexplained.append(tag)
        elif direction == "see-quiet-ab" and not quiet_exists:
            unexplained.append(tag + " (no BENCH_QUIET artifact to back it)")
        elif str(direction).startswith("drift-real"):
            real.append(tag)
        elif str(direction).startswith("inconclusive"):
            # a recheck that matched NEITHER reading is not green — it
            # stays in the unexplained set so the gate's "every mover
            # adjudicated" claim holds and it owes a BENCH.md note
            # (ADVICE r13)
            unexplained.append(tag + " (recheck inconclusive)")
        print(f"[driver-drift] mover {tag}")
    return unexplained, real


# -------------------------------------------------------------- recheck

def recheck(mover_rows: list[dict], new_round: int) -> dict:
    """Isolated best-of-3 per mover; writes DRIVER_DRIFT_rN.json."""
    import time

    sys.path.insert(0, REPO)
    import bench
    from ong_tsdb_spark import entry_queries

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.session_builder(cpus, "driver-drift-recheck").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_queries.queries()

    rows: dict[str, dict] = {}
    for row in mover_rows:
        name, old_s, new_s = row["query"], row["old"], row["new"]
        if name not in registry:
            rows[name] = {**row, "direction": "see-quiet-ab"}
            continue
        fn = registry[name]
        bench.release_blocks(spark)
        fn(spark, sf_dir).count()  # discard-first warmup
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        rec = {**row, "bo3": round(best, 4)}
        # escalation tier: a bo3 that does NOT exonerate gets a
        # steady-state pass before any drift-real verdict — some
        # sub-second queries have a >10-lap JIT warmup tail (the r12
        # events_retention reading decayed 0.64 -> 0.29 s over 20
        # laps), and both the driver's single warmup and a bo3 land
        # inside that tail
        if max(best, old_s) / max(min(best, old_s), 1e-9) >= TRIGGER:
            laps = []
            for _ in range(12):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                laps.append(time.perf_counter() - t0)
            best = min(best, min(laps))
            rec["steady"] = round(min(laps[-6:]), 4)
            rec["protocol"] = "steady-15lap"
        bench.release_blocks(spark)
        # classify vs the two driver readings, same 1.5x bar
        if max(best, old_s) / max(min(best, old_s), 1e-9) < TRIGGER:
            direction = ("recheck-exonerated (isolated steady-state at "
                         "the previous round's level; the driver "
                         "reading was host noise / warmup tail)")
        elif max(best, new_s) / max(min(best, new_s), 1e-9) < TRIGGER:
            direction = ("drift-real (isolated steady-state confirms "
                         "the driver reading)")
        else:
            direction = ("inconclusive (isolated steady-state matches "
                         "neither reading)")
        rec["direction"] = direction
        rows[name] = rec
        print(f"[recheck] {name}: bo3 {rec['bo3']:.3f}s"
              + (f" steady {rec['steady']:.3f}s" if "steady" in rec else "")
              + f" vs driver {old_s}->{new_s} => {direction}")
    spark.stop()

    doc = {"round": new_round, "protocol": "isolated-bo3-discard-first",
           "sf_dir": sf_dir, "movers": rows}
    path = os.path.join(REPO, f"DRIVER_DRIFT_r{new_round:02d}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")
    return rows


# ----------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--recheck", action="store_true",
                    help="measure direction verdicts for the movers "
                         "(isolated best-of-3) and write "
                         "DRIVER_DRIFT_rN.json")
    args = ap.parse_args(argv)

    new_path = newest_worktree()
    if new_path is None:
        print("[driver-drift] no BENCH_rN.json in the tree — nothing to check")
        return 0
    new_round = _round_of(new_path)
    with open(new_path) as f:
        new_doc = json.load(f)
    prev = prev_committed(new_round)
    if prev is None:
        print(f"[driver-drift] {os.path.basename(new_path)}: no earlier "
              "committed BENCH artifact — nothing to compare")
        return 0
    old_round, old_doc = prev
    old_q, new_q = bench_queries(old_doc), bench_queries(new_doc)
    rows = movers(old_q, new_q)
    print(f"[driver-drift] BENCH_r{old_round:02d} -> BENCH_r{new_round:02d}: "
          f"{len(set(old_q) & set(new_q))} common queries, "
          f"{len(rows)} mover(s) beyond {TRIGGER}x")

    if args.recheck:
        if not rows:
            print("[driver-drift] nothing to recheck")
            return 0
        recheck(rows, new_round)

    verdicts = load_verdicts(new_round)
    quiet_exists = os.path.exists(
        os.path.join(REPO, f"BENCH_QUIET_r{new_round:02d}.json"))
    unexplained, real = gate(rows, verdicts, new_round, quiet_exists)
    if real:
        print("DRIFT-REAL (gate passes; these owe a named cause in BENCH.md):")
        for t in real:
            print(f"  {t}")
    if unexplained:
        print("UNEXPLAINED DRIVER MOVERS (run tools/driver_drift.py "
              "--recheck on a quiet host):")
        for t in unexplained:
            print(f"  {t}")
        return 1
    if not rows:
        print("[driver-drift] no movers — gate green")
    else:
        print("[driver-drift] every mover adjudicated — gate green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
