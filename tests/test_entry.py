"""Local twin of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet, compare row count + column names + values.

Values are compared exactly (after sorting columns by name and rows by
all columns) — the registry's determinism rules are designed for
bit-identical doubles, so any drift is a bug to fix here, not to
tolerate.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from ong_tsdb_spark.compare import TABLES, canon_rows

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


_rows_canon = canon_rows  # THE shared definition (ong_tsdb_spark.compare)


QUERY_NAMES = sorted(entry_mod.queries().keys())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_vs_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = list(sdf.columns)
    srows = [tuple(r) for r in sdf.collect()]

    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        # rows-only check (non-SQL-expressible op)
        assert len(srows) >= 0
        return

    res = duck.sql(sql)
    dcols = list(res.columns)
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sc = _rows_canon(scols, srows)
    dc = _rows_canon(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"


def test_registry_window_invariants():
    """The correctness driver samples the FIRST 50 registry entries;
    round 4 shipped an operator at head position 51 with zero driver
    evidence.  Pin the invariants so that class of bug cannot recur:
    head <= 50, the tail really sits at the end in rotation order,
    every tail name exists, and every entry has an oracle."""
    from ong_tsdb_spark import entry_queries as eq

    qs = list(entry_mod.queries().keys())
    tail = eq._TAIL_ROTATION
    head = [q for q in qs if q not in tail]
    assert len(head) <= 50, (
        f"registry head is {len(head)} > 50 — rotate more green queries "
        "into _TAIL_ROTATION or the newest operators get no driver row"
    )
    assert set(tail) <= set(qs), "tail names must be registered queries"
    assert qs[len(head):] == [q for q in tail if q in qs]
    oracles = entry_mod.oracle_sql()
    missing = [q for q in qs if not oracles.get(q)]
    assert not missing, f"entries without value-checked oracles: {missing}"


def test_bench_and_cluster_lists_resolve():
    """Every query name bench.py and tools/cluster_check.py reference
    must exist in the registry (plus the engine-path names bench
    implements itself) — a rename or rotation typo would otherwise
    surface only as a driver-time bench crash."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _load(name, path):
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    bench = _load("bench_mod", os.path.join(repo, "bench.py"))
    cc = _load("cc_mod", os.path.join(repo, "tools", "cluster_check.py"))
    qs = set(entry_mod.queries())
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"bench.HEADLINE names not in registry: {missing}"
    missing = [n for n in bench.SCALE_FAMILIES if n not in qs]
    assert not missing, f"bench.SCALE_FAMILIES names not in registry: {missing}"
    missing = [n for n in cc.PINNED_SHAPES if n not in qs]
    assert not missing, f"cluster_check.PINNED_SHAPES not in registry: {missing}"
    # the rotated subset resolves too, and stays within the registry
    subset = cc.pick_subset(list(qs), 29)
    assert len(subset) == 29 and set(subset) <= qs, subset
    # ...and the coverage ledger never references a renamed/dead entry
    stale = [n for n in cc.load_coverage().get("checked", {}) if n not in qs]
    assert not stale, f"cluster_coverage.json references unknown entries: {stale}"


def test_bench_scaling_rows_contract():
    """The two r15 scaling-signal rows are ADDITIVE side channels: both
    must be excluded from the r4-comparable core_total sum and both
    must carry a protocol string (bench_drift rebaselines on protocol
    identity, so a protocol-less timing row would read as a mover).
    Pins the source, not a lap: the exclusion tuple and the protocols
    literals must name both rows."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "bench.py")) as fh:
        src = fh.read()
    # each anchor must occur exactly once, or a split could pick the
    # wrong occurrence and pass against an unrelated literal
    for anchor in ("if k not in (", '"protocols": {'):
        assert src.count(anchor) == 1, anchor
    excl = src.split("if k not in (")[1].split(")")[0]
    protocols = src.split('"protocols": {')[1].split("},")[0]
    for row in ("engine_ingest_100x", "engine_ingest_300x"):
        # appears in the core_total exclusion tuple...
        assert row in excl, f"{row} missing from core_total exclusion"
        # ...and in the protocols map
        assert row in protocols, f"{row} missing from protocols map"


def test_bench_summary_line_compact():
    """The bench's FINAL stdout line must stay under the driver's
    tail-capture window (VERDICT r6 #2: the 71-entry per-query dict
    made BENCH_r06 unparseable).  Simulate a registry 5x today's size
    feeding worst-case timing values — the summary must stay one line
    under 1 KB because only the engine headline numbers ride in it."""
    import importlib.util
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod2", os.path.join(repo, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    engine_keys = [
        "engine_ingest", "engine_upsert_10pct", "engine_range_read",
        "engine_last_ts", "engine_serve_read_7d",
    ]
    timings = {f"query_with_a_long_name_{i:03d}": 12345.6789 for i in range(500)}
    timings.update({k: 12345.6789 for k in engine_keys})
    line = bench.make_summary(timings, engine_keys, 99999.9999, 99999.9999, 0.1)
    assert "\n" not in line and len(line) < 1024
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert set(parsed["queries"]) == set(engine_keys)
    for key in ("value", "core_total", "extension_total", "sf"):
        assert key in parsed


def test_rotation_planner_invariants(tmp_path):
    """tools/rotate.py must (a) put every never-proven entry in the
    head, (b) cap the head, (c) match the CURRENT file's head set when
    the plan is recomputed over the SAME evidence window the committed
    rotation was planned on (the `# planned-on: rN..rM` marker written
    by --write) — a new driver round file landing after the plan must
    NOT turn this red (VERDICT r6 #1), and (d) rewrite idempotently.
    Invariants (a)/(b)/(d) run against ALL evidence unconditionally.
    If (c) fails after an intentional re-plan: run
    `python tools/rotate.py --write` and commit the rewrite."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_mod", os.path.join(repo, "tools", "rotate.py")
    )
    rot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rot)

    qs = list(entry_mod.queries())
    # unconditional invariants over ALL evidence (any round files present)
    head_all, tail_all, green_all = rot.plan(50)
    assert len(head_all) <= 50 and len(head_all) + len(tail_all) == len(qs)
    from ong_tsdb_spark import entry_queries as eq

    current_head = [q for q in qs if q not in eq._TAIL_ROTATION]
    assert len(current_head) <= 50, "committed head exceeds the driver window"
    never = [n for n in qs if n not in green_all]
    assert set(never) <= set(current_head), (
        "never-proven entries must be in the committed head"
    )
    # plan-equality, pinned to the committed rotation's evidence window
    # AND its code-scan commit (the `@ sha` marker suffix): both are
    # needed to reproduce the plan after further commits land
    planned_on = rot.read_planned_on()
    assert planned_on is not None, (
        "managed block lacks a planned-on marker: run tools/rotate.py --write"
    )
    code_upper = rot.read_code_upper()
    head, tail, _green = rot.plan(50, max_round=planned_on, code_upper=code_upper)
    assert set(head) == set(current_head), (
        f"committed rotation diverged from tools/rotate.py output over its "
        f"planned-on window r01..r{planned_on:02d} — run tools/rotate.py "
        f"--write and commit"
    )
    # idempotence: rewriting with the same plan + same window is a
    # no-op — proven on a TEMP COPY so a failing assertion can never
    # leave the tracked source mutated by a test run
    import shutil
    import tempfile

    src = os.path.join(repo, "ong_tsdb_spark", "entry_queries.py")
    with tempfile.TemporaryDirectory() as td:
        copy = os.path.join(td, "entry_queries.py")
        shutil.copyfile(src, copy)
        rot.rewrite_tail(tail, path=copy, planned_on=planned_on,
                         code_upper=code_upper)
        assert open(copy).read() == open(src).read()


def test_bench_drift_flags_movers():
    """tools/bench_drift.drift: flags >=threshold movers in either
    direction, ignores sub-floor noise, reports added/removed and the
    common-total ratio."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_drift_mod", os.path.join(repo, "tools", "bench_drift.py")
    )
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)

    old = {"queries": {"a": 1.0, "b": 0.5, "tiny": 0.01, "gone": 1.0, "fast": 2.0}}
    new = {"queries": {"a": 1.5, "b": 0.55, "tiny": 0.05, "new1": 3.0, "fast": 1.0}}
    d = bd.drift(old, new, threshold=1.3)
    names = [m[0] for m in d["movers"]]
    assert "a" in names          # 1.5x regression
    assert "fast" in names       # 0.5x improvement (both directions)
    assert "b" not in names      # 1.1x, under threshold
    assert "tiny" not in names   # 5x but under the 0.1s floor
    assert d["added"] == ["new1"] and d["removed"] == ["gone"]
    assert d["common"] == 4
    # worst mover first
    assert names[0] == "fast"


def test_rotation_code_change_ranking():
    """VERDICT r8 #7: an entry whose implementing module changed AFTER
    its last driver-green round must outrank an untouched entry with
    OLDER evidence — so post-green code edits can never ride on stale
    driver rows silently.  Pure-ranking unit test plus a live check
    that the r8 module edits (text.py, streaming/dedup.py,
    operators/events.py) flag their dependents."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_mod2", os.path.join(repo, "tools", "rotate.py")
    )
    rot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rot)

    names = ["untouched_r7", "touched_r8", "fresh_r8", "never", "untouched_r6"]
    green = {"untouched_r7": 7, "touched_r8": 8, "fresh_r8": 8,
             "untouched_r6": 6}
    changed = {"touched_r8": ["ong_tsdb_spark/operators/text.py"]}
    ranked = rot.rank_entries(names, green, changed)
    # never-proven first, then the code-touched r8 entry BEFORE the
    # untouched r7 one, untouched fresh last — and the half-step
    # penalty: an UNTOUCHED two-rounds-stale entry still beats a
    # code-touched latest-round one (histogram bound survives a busy
    # round that touches many modules)
    assert ranked.index("never") == 0
    assert ranked.index("touched_r8") < ranked.index("untouched_r7")
    assert ranked.index("untouched_r6") < ranked.index("touched_r8")
    assert ranked[-1] == "fresh_r8"

    # live detection over committed history: the four entries the r8
    # verdict named as changed-after-green must be flagged
    green_live = rot.last_green_rounds(max_round=8)
    changed_live = rot.changed_since_green(green_live, 8)
    for entry in (
        "corpus_epoch_mix",
        "events_retention",
        "dedup_ledger_replay",
        "dedup_near_ledger_replay",
    ):
        assert entry in changed_live, f"{entry} should be flagged as code-changed"
    # and an untouched-module entry must NOT be flagged
    assert "graph_pagerank" not in changed_live

    # mid-round scan (code_upper past the close commit): r8-green
    # entries over modules edited THIS round must flag immediately —
    # without code_upper they are invisible until the r10 replan (the
    # one-round lag the r8 verdict called out).  Window: r8 close
    # commit .. the r9 commit that hardened operators/dedup.py.
    changed_now = rot.changed_since_green(green_live, 8, code_upper="HEAD")
    import subprocess

    r8_close = rot.round_close_commit(8)
    touched = subprocess.run(
        ["git", "diff", "--name-only", f"{r8_close}..HEAD"],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    if "ong_tsdb_spark/operators/dedup.py" in touched:
        assert "dedup_exact" in changed_now, (
            "r8-green entry over a module edited after the r8 close must "
            "be flagged by the mid-round scan"
        )
    # legacy scan (no code_upper) must NOT flag same-round-green entries
    assert all(green_live.get(n, 0) < 8 for n in changed_live)


def test_rotation_inline_import_regex_consecutive():
    """Code-review r9: two consecutive unparenthesized inline imports
    must BOTH be tracked (the old greedy names-class swallowed the
    second statement's `from` keyword), and a parenthesized multi-line
    import resolves its module too."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_mod3", os.path.join(repo, "tools", "rotate.py")
    )
    rot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rot)

    src = (
        "def q(spark, sf):\n"
        "    from .operators.asof import asof_join\n"
        "    from .operators.gapfill import gap_fill_ffill\n"
        "    from .streaming.dedup import (\n"
        "        FINGERPRINT_COL,\n"
        "        content_fingerprint,\n"
        "    )\n"
        "    return None\n"
    )
    files = set()
    for m in rot._INLINE_IMPORT_RE.finditer(src):
        files.update(rot._resolve_module(m.group(1), m.group(2)))
    assert "ong_tsdb_spark/operators/asof.py" in files
    assert "ong_tsdb_spark/operators/gapfill.py" in files
    assert "ong_tsdb_spark/streaming/dedup.py" in files


def _load_rotate():
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_mod4", os.path.join(repo, "tools", "rotate.py")
    )
    rot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rot)
    return rot


def test_rotation_transitive_impl_map():
    """VERDICT r9 #1: the code-change scan must follow imports
    transitively and resolve REGISTRY dispatch — no blind entries.

    (a) an entry whose module imports other package modules inherits
        them (corpus_curation_report reaches dedup/similarity/text
        THROUGH plans/curation.py's imports);
    (b) the recall gauges, which dispatch through ``REGISTRY[...].fn``,
        resolve to the dispatched entries' modules instead of zero
        files;
    (c) any entry still mapping to zero files must be genuinely
        self-contained: its effective chunk (own block + every module
        helper it transitively references) contains no intra-package
        imports, no operator-alias uses, and no registry dispatch —
        its evidence is then guarded by the effective-chunk diff."""
    rot = _load_rotate()
    impl = rot.entry_impl_files()

    # (a) transitive closure through plans/curation.py
    report = impl["corpus_curation_report"]
    for f in (
        "ong_tsdb_spark/plans/curation.py",
        "ong_tsdb_spark/operators/dedup.py",
        "ong_tsdb_spark/operators/similarity.py",
        "ong_tsdb_spark/operators/text.py",
    ):
        assert f in report, f"curation closure missing {f}"
    # ...and one more hop: dedup.py's own import of xxh64_sql.py
    assert "ong_tsdb_spark/operators/xxh64_sql.py" in impl["dedup_simhash"]

    # (b) REGISTRY dispatch resolved to the dispatched plans' modules
    for gauge in ("emb_ann_recall", "emb_ivf_recall", "emb_pq_recall"):
        assert "ong_tsdb_spark/operators/similarity.py" in impl[gauge], (
            f"{gauge} dispatches through REGISTRY[...] and must inherit "
            "the dispatched entries' implementing modules"
        )

    # (c) empty mappings only for genuinely self-contained entries
    src = open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "ong_tsdb_spark",
            "entry_queries.py",
        )
    ).read()
    eff = rot.effective_chunks(src, normalize=False)
    from ong_tsdb_spark.entry_queries import REGISTRY

    for name, files in impl.items():
        if files:
            continue
        text = eff[REGISTRY[name].fn.__name__]
        assert not rot._REGISTRY_DISPATCH_RE.search(text), (
            f"{name}: empty mapping but dispatches through REGISTRY"
        )
        assert not rot._INLINE_IMPORT_RE.search(text), (
            f"{name}: empty mapping but has intra-package imports"
        )
        for alias in rot._ALIAS_FILES:
            assert not __import__("re").search(rf"\b{alias}\.\w", text), (
                f"{name}: empty mapping but uses operator alias {alias}"
            )


def test_rotation_effective_chunk_helper_diff():
    """A change to a shared module-level helper must invalidate every
    entry that (transitively) references it — and ONLY those; waived
    member transitions are hash-pinned so any further edit re-flags."""
    rot = _load_rotate()
    old = (
        "K = 2\n"
        "def helper(x):\n"
        "    return x + K\n"
        "def q_a(spark, sf):\n"
        "    return helper(1)\n"
        "def q_b(spark, sf):\n"
        "    return 42\n"
    )
    new = old.replace("x + K", "x * K")
    po, pn = rot.chunk_parts(old), rot.chunk_parts(new)
    assert rot._changed_members(po, pn, "q_a") == ["helper"]
    assert rot._changed_members(po, pn, "q_b") == []
    # constant edits propagate through the helper that uses them
    new_k = old.replace("K = 2", "K = 3")
    assert "K" in rot._changed_members(po, rot.chunk_parts(new_k), "q_a")
    # waiver: exactly this old->new pair is neutral; any other edit flags
    h = rot._member_hash
    key = ("helper", h(po["q_a"]["helper"]), h(pn["q_a"]["helper"]))
    rot.WAIVED_MEMBER_DIFFS[key] = "test"
    try:
        assert rot._changed_members(po, pn, "q_a") == []
        third = rot.chunk_parts(old.replace("x + K", "x - K"))
        assert rot._changed_members(po, third, "q_a") == ["helper"]
    finally:
        del rot.WAIVED_MEMBER_DIFFS[key]


def test_rotation_r10_head_contains_curation_pair():
    """VERDICT r9 #1 'done' check: corpus_curation_report (transitively
    code-changed through curation.py after its r7 green) and
    corpus_delta_stats (r7-stale) must be IN the r10 head, with the
    report carrying a module-level CODE-CHANGED reason."""
    rot = _load_rotate()
    green = rot.last_green_rounds(max_round=9)
    if max(green.values(), default=0) < 9:
        pytest.skip("r9 evidence not present")
    changed = rot.changed_since_green(green, 9, code_upper="HEAD")
    reasons = changed.get("corpus_curation_report", [])
    assert any(
        r.startswith("ong_tsdb_spark/operators/") for r in reasons
    ), f"corpus_curation_report must be transitively flagged, got {reasons}"
    head, _tail, _g = rot.plan(50, max_round=9, code_upper="HEAD")
    assert "corpus_curation_report" in head
    assert "corpus_delta_stats" in head


def test_bench_drift_protocol_change_is_rebaseline_not_mover():
    """ADVICE r11: a metric whose recorded sampling protocol changed
    between the two snapshots (BENCH_DETAIL's ``protocols`` map) is
    reported as a rebaseline and excluded from movers and totals."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_drift_mod2", os.path.join(repo, "tools", "bench_drift.py")
    )
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)

    old = {"queries": {"serve": 0.12, "a": 1.0}, "protocols": {}}
    new = {"queries": {"serve": 0.03, "a": 1.0},
           "protocols": {"serve": "best-of-3-min"}}
    d = bd.drift(old, new, threshold=1.3)
    assert d["rebaselined"] == ["serve"]
    assert not d["movers"] and d["common"] == 1
    # same protocol on both sides -> ordinary mover semantics
    old2 = {"queries": old["queries"], "protocols": new["protocols"]}
    d2 = bd.drift(old2, new, threshold=1.3)
    assert d2["rebaselined"] == [] and [m[0] for m in d2["movers"]] == ["serve"]


def test_sweep_drift_gate_requires_direction_on_movers():
    """VERDICT r11 #4 gate (tools/sweep_drift.py): a >1.5x
    round-over-round ratio mover in a sweep artifact without a
    ``direction`` verdict is unexplained (gate fails); adjudicated
    movers pass, with drift-real reported apart; sub-trigger moves are
    ignored."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "sweep_drift_mod", os.path.join(repo, "tools", "sweep_drift.py")
    )
    sd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sd)

    old = {"queries": {
        "bare": {"ratio_warm": 2.0},
        "ok": {"ratio_warm": 2.0},
        "real": {"ratio_warm": 2.0},
        "steady": {"ratio_warm": 2.0},
    }}
    new = {"queries": {
        "bare": {"ratio_warm": 4.0},                                  # unexplained
        "ok": {"ratio_warm": 0.9, "direction": "recheck-exonerated"},  # adjudicated
        "real": {"ratio_warm": 4.0, "direction": "drift-real"},       # named drift
        "steady": {"ratio_warm": 2.4},                                # 1.2x, no trigger
    }}
    sd._newest_worktree = lambda prefix: "/tmp/FAKE_r12.json"
    sd._prev_committed = lambda prefix, newer_than: old
    import json as _json
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix="_r12.json",
                                     delete=False) as f:
        _json.dump(new, f)
        fake = f.name
    sd._newest_worktree = lambda prefix: fake
    sd._round_of = lambda prefix, path: 12
    unexplained, real = sd.check("FAKE")
    assert [t.split(":")[0] for t in unexplained] == ["bare"]
    assert [t.split(":")[0] for t in real] == ["real"]
    os.unlink(fake)


def _load_tool(name):
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        f"{name}_mod", os.path.join(repo, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_drift_missing_old_protocols_is_not_rebaseline():
    """ADVICE r12: an OLD snapshot with no ``protocols`` key at all
    (pre-r12 artifact) means "same protocol", not "changed" — the
    metric stays an ordinary mover instead of being excluded for a
    round."""
    bd = _load_tool("bench_drift")
    old = {"queries": {"serve": 0.12, "a": 1.0}}  # no protocols key
    new = {"queries": {"serve": 0.03, "a": 1.0},
           "protocols": {"serve": "best-of-3-min"}}
    d = bd.drift(old, new, threshold=1.3)
    assert d["rebaselined"] == []
    assert [m[0] for m in d["movers"]] == ["serve"]


def test_driver_drift_tail_recovery_and_movers():
    """tools/driver_drift.bench_queries recovers per-query seconds
    from a truncated ``tail`` string overlaid by ``parsed.queries``;
    movers() applies the 1.5x trigger and 0.1s floor in both
    directions."""
    dd = _load_tool("driver_drift")
    doc = {
        # tail truncated at the front, carries envelope scalars too
        "tail": '79, "q_a": 0.2561, "q_b": 1.0, "sf": 0.1, '
                '"core_total": 12.3}',
        "parsed": {"queries": {"engine_ingest": 4.525, "q_b": 1.1}},
    }
    qs = dd.bench_queries(doc)
    assert qs["q_a"] == 0.2561
    assert qs["q_b"] == 1.1              # parsed overlays tail
    assert qs["engine_ingest"] == 4.525
    assert "sf" not in qs and "core_total" not in qs

    old = {"q_a": 0.2561, "q_b": 1.0, "tiny": 0.01, "fast": 2.0}
    new = {"q_a": 0.5957, "q_b": 1.2, "tiny": 0.09, "fast": 1.0}
    rows = dd.movers(old, new)
    names = [r["query"] for r in rows]
    assert names == ["q_a", "fast"]      # worst first; both directions
    assert rows[0]["ratio"] == 2.33
    assert "tiny" not in names           # under the 0.1s floor
    assert "q_b" not in names            # 1.2x, under trigger


def test_driver_drift_gate_requires_direction():
    """VERDICT r12 #2 gate: a >1.5x driver-bench mover without a
    direction verdict in DRIVER_DRIFT_rN.json is unexplained (exit
    path); exonerated movers pass; drift-real passes but is reported
    apart; engine movers marked see-quiet-ab need the matching
    BENCH_QUIET artifact."""
    dd = _load_tool("driver_drift")
    rows = [
        {"query": "bare", "old": 0.2, "new": 0.6, "ratio": 3.0},
        {"query": "ok", "old": 0.2, "new": 0.6, "ratio": 3.0},
        {"query": "real", "old": 0.2, "new": 0.6, "ratio": 3.0},
        {"query": "engine_x", "old": 1.0, "new": 2.0, "ratio": 2.0},
    ]
    verdicts = {
        "ok": {"direction": "recheck-exonerated (...)"},
        "real": {"direction": "drift-real (...)"},
        "engine_x": {"direction": "see-quiet-ab"},
    }
    unexplained, real = dd.gate(rows, verdicts, 12, quiet_exists=True)
    assert [t.split(":")[0] for t in unexplained] == ["bare"]
    assert [t.split(":")[0] for t in real] == ["real"]
    # without the quiet artifact the see-quiet-ab verdict is not enough
    unexplained2, _ = dd.gate(rows, verdicts, 12, quiet_exists=False)
    assert {t.split(":")[0] for t in unexplained2} == {"bare", "engine_x"}
    # ADVICE r13: an inconclusive recheck (matches NEITHER reading) is
    # not green — it stays unexplained and owes a BENCH.md note
    rows.append({"query": "shrug", "old": 0.2, "new": 0.6, "ratio": 3.0})
    verdicts["shrug"] = {
        "direction": "inconclusive (isolated steady-state matches neither)"
    }
    unexplained3, real3 = dd.gate(rows, verdicts, 12, quiet_exists=True)
    assert {t.split(":")[0] for t in unexplained3} == {"bare", "shrug"}
    assert [t.split(":")[0] for t in real3] == ["real"]
