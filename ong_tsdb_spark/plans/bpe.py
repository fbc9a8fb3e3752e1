"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

The classic greedy merge loop, re-expressed for Spark's execution
model: the corpus lives distributed as per-word SYMBOL STRINGS
(space-joined symbols, round 0 = characters), and each round is

  1. one pair-count aggregate — pairs are generated map-side from the
     symbol arrays and hash-combined before the shuffle, so the wire
     carries ``mappers x |distinct pairs|`` rows (symbol-vocab^2
     bounded), never the corpus token stream;
  2. a driver-side argmax of ONE (pair, count) row — the only data
     the driver ever holds is the merge table itself;
  3. a map-side merge application: one ``regexp_replace`` with
     zero-width lookarounds (``(?<= |^)a b(?= |$)``) so consecutive
     occurrences sharing a boundary space all merge in a single pass
     — exactly the greedy left-to-right non-overlapping scan of the
     reference algorithm (pinned against a pure-Python twin in
     tests/test_bpe.py).

State between rounds is localCheckpoint-ed: the symbol table is
corpus-sized and each round's replace would otherwise stack one more
regex onto the lineage, re-running the whole chain per count job.

At 100 TB the binding constraint is ROUNDS (each is a full corpus
scan + shuffle): greedy merges chain ((a,t) -> (at,c) -> (atc,h)), so
same-round "non-interacting merge" batching (``guard="exact"``) caps
near 2x.  The default ``guard="cascade"`` mode breaks the chain
dependence while staying bit-identical to the reference loop: each
round collects a top-K n-gram summary (levels 1..G, one aggregate
job), and the driver simulates the exact greedy loop over it — counts
of pairs created by an in-round merge are derived from higher-level
n-grams by inclusion-exclusion, with interval bounds covering
everything the top-K truncation hid — accepting merges as long as the
argmax stays provable, and falling back to a single-merge round when
it is not.  Cluster-wide work stays bounded by one corpus scan per
round and driver memory by the G*K summary + merge table.  These two
modes are the only ones; both learn the reference table exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

__all__ = [
    "train_bpe_merges",
    "tokenize_with_merges",
    "tokenize_expr",
    "merge_word_py",
    "apply_merges_py",
]


def _sym_string(word):
    """'abc' -> 'a b c' (space-joined single-char symbols).  DOTALL so
    embedded line terminators become symbols like any other character
    — without it a word containing ``\\n`` would keep a multi-char
    ``\\nX`` unit that the pure-Python reference (``list(word)``) can
    never produce, silently desynchronizing train and serve."""
    return F.trim(F.regexp_replace(word, "(?s)(.)", "$1 "))


def _pairs_expr(syms):
    """array<string> of 'a b' adjacent-symbol pairs (null if < 2)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i.cast("int")),
                F.lit(" "),
                F.element_at(syms, (i + F.lit(1)).cast("int")),
            ),
        ),
    )


def _quote_replacement(s: str) -> str:
    """Escape Java Matcher replacement metacharacters (backslash, $)."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


#: rounds the most recent train_bpe_merges call took (each round is
#: one pair-count aggregate + one rewrite) — the bench reads this to
#: report the batching factor without changing the trainer's API.
LAST_TRAIN_ROUNDS = 0

#: merges accepted per round in the most recent train_bpe_merges call
#: (sums to the returned table length; a 0 entry is a cascade round
#: that proved nothing and fell back to a single-merge round, which is
#: the NEXT entry).  tools/bpe_scale.py reads this to report the
#: acceptance-rate-vs-round curve — the quantity that decides whether
#: the cascade's round reduction survives past the G-gram horizon as
#: the symbol table grows (VERDICT r7 #3).
LAST_TRAIN_HISTORY: list[int] = []

#: rows the DRIVER collected per round in the most recent
#: train_bpe_merges call — the ONLY corpus-derived data the driver
#: process ever holds (the summary / ranked-prefix collect; everything
#: else is the merge table and the capped simulation memo).  Bounded
#: by (G + 1) * top-K + |symbol universe| per round INDEPENDENT OF
#: CORPUS SIZE; tests/test_bpe.py pins the bound so a future edit
#: cannot quietly put the driver back in the data path.
LAST_DRIVER_ROWS: list[int] = []

#: peak _GramSummary memo size over the most recent training run —
#: the other driver-side allocation, hard-capped at CASCADE_MEMO_CAP.
LAST_MEMO_PEAK = 0

# deterministic release of a superseded round's checkpoint blocks —
# the r11 10x-Zipf OOM fix; shared with the other iterative operators
from ..blockstore import free_checkpoint as _free_checkpoint  # noqa: E402


def _exact_batch(
    top: list[tuple[str, int]],
    floor: int,
    limit: int,
    min_count: int,
    prior_outputs: frozenset[str] = frozenset(),
) -> list[tuple[str, str]]:
    """The longest PREFIX of the (count desc, pair asc)-sorted
    candidate list that sequential greedy BPE would provably pick in
    this order WITHOUT recounting — the key to batching merges per
    round while keeping the merge table bit-identical to the
    one-merge-per-round reference.

    Exactness argument (each accepted candidate after the first):

    * prefix rule — every pair ranked above it was itself accepted, so
      skipped/uncollected pairs all rank below it in the OLD order and
      applying the earlier merges can only DECREASE their counts
      (a merge touching symbols {a, b} never creates new occurrences
      of a pair not involving a, b or the merged symbol);
    * disjointness — its symbols don't touch any earlier merge's
      {a, b, a+b}, so its own count is UNCHANGED by applying them;
    * new-pair guard — merges create NEW pairs (x, ab) / (ab, y) whose
      counts are bounded by the OLD counts of (x, a) / (b, y); the
      candidate must rank STRICTLY above the max such bound
      (``right_max[a]`` / ``left_max[b]``) so no freshly created pair
      can outrank it in the recounted table;
    * floor guard — pairs beyond the collected top-M have count <=
      ``floor``; the candidate must rank strictly above that too, or
      an uncollected pair (or a new pair bounded only by floor) could
      tie or win.

    A self-pair (a, a) interacts with its own output ("a a a a" ->
    "aa aa" changes (a,a)'s count nonlinearly), so it always ENDS the
    batch after being accepted.  Any violated guard ends the batch —
    the next round recounts and continues exactly."""
    left_max: dict[str, int] = {}
    right_max: dict[str, int] = {}
    for p, n in top:
        a, b = p.split(" ")
        left_max[a] = max(left_max.get(a, 0), n)
        right_max[b] = max(right_max.get(b, 0), n)
    accepted: list[tuple[str, str]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    outputs: set[str] = set()
    new_bound = 0
    for p, n in top:
        if len(accepted) >= limit or n < min_count:
            break
        a, b = p.split(" ")
        if accepted:
            # EDGE-interaction rule (VERDICT r6 #5 relaxation): a later
            # candidate (a, b) is count-affected by an earlier accepted
            # (p, q) only when a == q (its left is the earlier RIGHT —
            # "p q" merges consume the q of "q b") or b == p (its right
            # is the earlier LEFT — "a p" loses the p of "p q").
            # Same-side sharing (a == p / b == q) leaves every
            # occurrence untouched by the greedy rewrite, so those
            # candidates now batch where full symbol-disjointness
            # rejected them.
            if a in rights or b in lefts or a in outputs or b in outputs:
                break
            if n <= new_bound or n <= floor:
                break
        accepted.append((a, b))
        if a == b:
            break  # self-pair: nonlinear self-interaction ends the batch
        if a + b in prior_outputs or a + b in outputs:
            # the merged symbol collides with an existing symbol (a
            # prior-round output, or — defense in depth — an output
            # already accepted THIS batch, e.g. ('ab','c') then
            # ('a','bc'), both -> 'abc'): created occurrences would
            # ADD to that symbol's pair counts, voiding the new-pair
            # bound (a max, not a sum) — force a recount
            break
        lefts.add(a)
        rights.add(b)
        outputs.add(a + b)
        new_bound = max(
            new_bound, right_max.get(a, 0), left_max.get(b, 0), floor
        )
    return accepted


# ----------------------------------------------------------------------
# n-gram-summary cascade (guard="cascade", the default): one Spark
# aggregate per ROUND collects the top-K symbol n-grams per level
# n = 1..G; the driver then simulates the exact greedy merge loop over
# that summary — including the counts of pairs CREATED by in-round
# merges, computed by inclusion-exclusion over higher-level n-grams —
# accepting merges as long as the argmax is PROVABLE from the summary.
# On natural text this yields tens of exact merges per Spark job
# (measured 24/24 bench merges in ONE round, 89 merges in 3 rounds at
# sf0.01), where conservative same-round batch guards cap out near 2x:
# greedy BPE merges chain ((a,t) -> (at,c) -> (atc,h)), and a chain can
# only be followed by re-deriving the created pairs' counts, not by
# independence arguments.
# ----------------------------------------------------------------------

#: summary collection depth/width: G symbol-gram levels, top-K per
#: level.  G bounds the provable cascade depth (each in-round merge
#: deepens the n-gram queries by up to one level); K sets the
#: per-level count floor that uncollected grams are bounded by.
CASCADE_G = 6
CASCADE_TOPK = 4096

#: hard cap on the driver-side simulation memo (distinct (gram, depth)
#: interval queries per round).  The memo is the one cascade
#: allocation without a closed-form bound — created-pair queries
#: recurse through inclusion-exclusion expansions whose count depends
#: on how the accepted merges chain — so it gets a budget instead:
#: blowing it simply ENDS the round after the merges already proven
#: (the next round recounts exactly), trading a little batching for a
#: corpus-independent driver-memory ceiling.  ~60 bytes/entry -> the
#: default caps the memo near 60 MB; measured natural-text rounds peak
#: around 1e4-1e5 entries, far below it.
CASCADE_MEMO_CAP = 1 << 20


class _MemoBudgetExceeded(Exception):
    """Internal: the in-round simulation memo hit CASCADE_MEMO_CAP."""


class _GramSummary:
    """Top-K per-level symbol n-gram counts with per-level floors,
    answering INTERVAL queries ``(lo, hi)`` for the count of any gram
    at any in-round merge depth.

    Exactness model: a collected gram's state-0 count is exact; an
    uncollected level-n gram is bounded by that level's floor (the
    K-th collected count — everything below it was truncated away); a
    gram longer than G is bounded by its best level-G window.  For
    depth k > 0 the gram is expanded one merge back (``c -> a b``) and
    corrected by inclusion-exclusion for boundary consumption: a
    leading ``b`` is consumed iff preceded by ``a``, a trailing ``a``
    iff followed by ``b`` — exact because for a != b every "a b"
    adjacency greedy-merges (occurrences cannot overlap), and a gram
    containing an adjacent "a b" AFTER the merge has count zero.
    Self-pairs (a == b) never enter ``merges`` (they end the round),
    so the no-overlap argument always holds."""

    def __init__(
        self,
        grams: dict[tuple[str, ...], int],
        floors: dict[int, int],
        G: int,
    ) -> None:
        self.grams = grams
        self.floors = floors
        self.G = G
        self.merges: list[tuple[str, str, str]] = []  # in-round (a, b, a+b)
        self._memo: dict[tuple[tuple[str, ...], int], tuple[int, int]] = {}
        self.collected_rows = 0  # set by _collect_summary

    def query(
        self, gram: tuple[str, ...], k: int | None = None
    ) -> tuple[int, int]:
        if k is None:
            k = len(self.merges)
        key = (gram, k)
        hit = self._memo.get(key)
        if hit is not None:
            return hit
        if k == 0:
            if len(gram) > self.G:
                hi = min(
                    self.query(gram[i:i + self.G], 0)[1]
                    for i in range(len(gram) - self.G + 1)
                )
                out = (0, hi)
            elif gram in self.grams:
                c = self.grams[gram]
                out = (c, c)
            else:
                out = (0, self.floors.get(len(gram), 0))
        else:
            a, b, c = self.merges[k - 1]
            if any(
                gram[i] == a and gram[i + 1] == b
                for i in range(len(gram) - 1)
            ):
                out = (0, 0)  # "a b" cannot survive adjacent post-merge
            else:
                ex: list[str] = []
                for s in gram:
                    ex.extend((a, b) if s == c else (s,))
                E = tuple(ex)
                lo, hi = self.query(E, k - 1)
                if E[0] == b:
                    l2, h2 = self.query((a,) + E, k - 1)
                    lo, hi = lo - h2, hi - l2
                if E[-1] == a:
                    l3, h3 = self.query(E + (b,), k - 1)
                    lo, hi = lo - h3, hi - l3
                    if E[0] == b:
                        l4, h4 = self.query((a,) + E + (b,), k - 1)
                        lo, hi = lo + l4, hi + h4
                out = (max(lo, 0), max(hi, 0))
        if len(self._memo) >= CASCADE_MEMO_CAP:
            raise _MemoBudgetExceeded
        self._memo[key] = out
        return out


def _ngram_expr(levels) -> F.Column:
    """All space-joined symbol n-grams of ``syms`` for the given
    levels, one flattened array per row."""
    syms = F.split(F.col("syms"), " ")

    def gram_at(n: int):
        # MUST be a one-parameter lambda: pyspark's ``transform``
        # calls a two-parameter function as (element, index), so the
        # usual `n=n` default-arg capture would silently rebind n to
        # the index column
        return lambda i: F.concat_ws(" ", F.slice(syms, i, F.lit(n)))

    return F.flatten(
        F.array(
            *[
                F.when(
                    F.size(syms) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - n + 1),
                        gram_at(n),
                    ),
                ).otherwise(F.array().cast("array<string>"))
                for n in levels
            ]
        )
    )


def _ranked_topk(counted, topk: int):
    """Per-level top-K in TWO stages: a (lvl, partition)-local rank —
    exact, because after a groupBy each gram lives in exactly one
    partition, so the global top-K is a subset of the union of
    per-partition top-Ks — then the global rank over that small
    union.  A single Window.partitionBy("lvl") would funnel EVERY
    distinct gram count into <= G tasks, a skew bottleneck at corpus
    scale.  Level 1 (the symbol universe) is never truncated at
    either stage."""
    from pyspark.sql import Window

    keep = (F.col("rk") <= topk) | (F.col("lvl") == 1)
    w_local = Window.partitionBy("lvl", "pid").orderBy(
        F.col("n").desc(), F.col("g").asc()
    )
    w_final = Window.partitionBy("lvl").orderBy(
        F.col("n").desc(), F.col("g").asc()
    )
    return (
        counted.withColumn("pid", F.spark_partition_id())
        .withColumn("rk", F.row_number().over(w_local))
        .filter(keep)
        .drop("pid", "rk")
        .withColumn("rk", F.row_number().over(w_final))
        .filter(keep)
        .collect()
    )


def _collect_summary(cur, G: int, topk: int) -> _GramSummary:
    """TWO aggregate jobs per round, prefix-filtered so the wire never
    carries the (near-unique at corpus scale) cold-prefix high-gram
    tail:

    1. the full PAIR count — top-K ranked, floor2 = the K-th count;
    2. levels {1} u {3..G}, with every level >= 3 gram dropped
       MAP-SIDE unless its leading pair is in the broadcast top-K
       pair set.  Sound because count(gram) <= count(any sub-gram):
       a dropped gram's leading pair missed the top-K, so its count
       <= floor2 — the per-level floor becomes max(K-th kept count,
       floor2) and every interval stays a true bound.

    Without the filter the level-6 distinct cardinality approaches
    the corpus token count (measured: the one-job variant was ~2x
    slower wall-clock than 17 pair-count rounds at the 10x corpus);
    with it, job 2's aggregate is hot-prefix-bounded.  Determinism:
    exact integer counts, ranks tie-broken by gram string — the
    summary, and therefore the whole cascade, is
    partitioning-independent."""
    pair_rows = _ranked_topk(
        cur.select(F.explode(_ngram_expr([2])).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lvl", F.lit(2)),
        topk,
    )
    top_pairs = [r["g"] for r in pair_rows]
    floor2 = (
        min(int(r["n"]) for r in pair_rows) if len(pair_rows) == topk else 0
    )
    hot = (F.size(F.split(F.col("g"), " ")) <= 1) | F.substring_index(
        F.col("g"), " ", 2
    ).isin(top_pairs)
    levels = [1] + list(range(3, G + 1))
    rows = _ranked_topk(
        cur.select(F.explode(_ngram_expr(levels)).alias("g"))
        .filter(hot)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lvl", F.size(F.split(F.col("g"), " "))),
        topk,
    )
    grams_d: dict[tuple[str, ...], int] = {}
    level_rows: dict[int, list[int]] = {}
    for r in list(pair_rows) + list(rows):
        g = tuple(r["g"].split(" "))
        grams_d[g] = int(r["n"])
        level_rows.setdefault(r["lvl"], []).append(int(r["n"]))
    floors = {2: floor2}
    for lvl in range(3, G + 1):
        ns = level_rows.get(lvl, [])
        kth = min(ns) if len(ns) == topk else 0
        floors[lvl] = max(kth, floor2)
    S = _GramSummary(grams_d, floors, G)
    S.collected_rows = len(pair_rows) + len(rows)
    return S


def _pair_str(p: tuple[str, str]) -> str:
    return p[0] + " " + p[1]


def _cascade_round(
    S: _GramSummary,
    limit: int,
    min_count: int,
) -> tuple[list[tuple[str, str]], bool]:
    """Simulate exact greedy over the summary.  Returns (accepted,
    exhausted): ``exhausted`` is True only when the summary PROVES no
    remaining pair reaches ``min_count`` (safe to stop training);
    otherwise an empty ``accepted`` means the caller must fall back to
    a classic single-merge round."""
    table: dict[tuple[str, str], tuple[int, int]] = {
        (g[0], g[1]): (n, n) for g, n in S.grams.items() if len(g) == 2
    }
    pair_floor = S.floors.get(2, 0)
    # the CURRENT symbol universe is exactly the level-1 grams (kept
    # in full, never top-K-truncated)
    universe = {g[0] for g in S.grams if len(g) == 1}
    accepted: list[tuple[str, str]] = []
    while len(accepted) < limit:
        best = None
        # scan the top few by exact-lower-bound for a PROVABLE argmax
        cands = sorted(table.items(), key=lambda kv: (-kv[1][0], _pair_str(kv[0])))
        for p, (lo, hi) in cands[:8]:
            if lo < min_count:
                break
            others_hi = max(
                [h for q, (_, h) in table.items() if q != p] + [pair_floor]
            )
            if lo > others_hi:
                best = p
                break
            if lo == others_hi and lo > pair_floor and all(
                _pair_str(p) < _pair_str(q)
                for q, (_, h) in table.items()
                if q != p and h == others_hi
            ):
                best = p
                break
        if best is None:
            exhausted = pair_floor < min_count and all(
                h < min_count for _, h in table.values()
            )
            return accepted, exhausted
        a, b = best
        accepted.append((a, b))
        c = a + b
        if a == b or c in universe:
            # self-pair nonlinearity / merged-symbol collision: apply
            # this merge, then force a full recount next round
            return accepted, False
        S.merges.append((a, b, c))
        universe.add(c)
        del table[best]
        try:
            for p in list(table):
                if a in p or b in p:
                    table[p] = S.query(p)
            # created pairs: every current symbol is in `universe`
            # (alphabet + all merge outputs), so this enumeration is
            # complete — no unknown-context bound is needed
            for x in universe:
                for p in ((x, c), (c, x)):
                    lo, hi = S.query(p)
                    if hi > 0:
                        table[p] = (lo, hi)
        except _MemoBudgetExceeded:
            # driver-memory ceiling: keep everything proven so far and
            # force a recount — exactness is untouched, the round just
            # batches less (see CASCADE_MEMO_CAP)
            return accepted, False
    return accepted, False


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    min_count: int = 2,
    batch: int = 16,
    guard: str = "cascade",
    cascade_g: int | None = None,
    cascade_topk: int | None = None,
    storage_level: StorageLevel = StorageLevel.DISK_ONLY,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus.  Returns the
    ordered merge table [(a, b), ...]; stops early when the best
    remaining pair occurs fewer than ``min_count`` times.

    Determinism & exactness: both ``guard`` modes yield the IDENTICAL
    merge table to the one-merge-per-round reference loop (pinned
    against the pure-Python twin in tests/test_bpe.py), independent of
    partitioning and of ``batch``.  The two modes, fastest first:

    * ``guard="cascade"`` (default): per round, ONE n-gram-summary
      aggregate (levels 1..CASCADE_G, top-CASCADE_TOPK each), then a
      driver-side exact greedy simulation over the summary
      (:class:`_GramSummary` / :func:`_cascade_round`) that follows
      merge CHAINS — the counts of pairs created by an in-round merge
      are derived exactly from higher-level n-grams — accepting up to
      ``batch`` merges while the argmax stays provable.  Measured:
      24 bench merges in ONE round; 89 merges (vocab exhaustion) in
      3 rounds vs 89 sequential.  Falls back to a classic single-merge
      round whenever a round proves nothing but exhaustion is
      unproven, so training NEVER truncates early.
    * ``guard="exact"``: same-round batching of provably
      NON-INTERACTING merges only (edge-sharing interaction rule +
      created-pair/floor bounds, :func:`_exact_batch`) — chains cap
      this near ~2x on natural text.

    Any other ``guard`` raises ``ValueError``.

    The sequential loop is one Spark job pair PER MERGE — at a
    production 30k-merge vocab that is 60k+ jobs; cascade turns that
    into ~(30k / avg-provable-chain) summary jobs.
    ``LAST_TRAIN_ROUNDS`` records the realized round count;
    ``LAST_TRAIN_HISTORY`` the merges accepted per round —
    ``len(LAST_TRAIN_HISTORY) == LAST_TRAIN_ROUNDS`` on EVERY exit
    path (exhaustion/empty-batch breaks append a trailing 0 round), so
    acceptance-curve tooling never drops the final probe round.
    ``cascade_g`` / ``cascade_topk`` override the summary horizon /
    width (default CASCADE_G=6 / CASCADE_TOPK=4096) — exactness holds
    for any values (the simulation only accepts provable argmaxes; a
    narrower summary just proves less per round).

    MEMORY CONTRACT (the 100 TB shape): the driver holds O(G * top-K)
    summary rows per round (``LAST_DRIVER_ROWS``), the merge table,
    and a simulation memo hard-capped at ``CASCADE_MEMO_CAP`` —
    nothing that grows with the corpus.  The corpus-sized symbol table
    lives in the block store at ``storage_level`` (default DISK_ONLY:
    executor local disk on a cluster; in local mode that disk residency
    is what keeps the single shared JVM's heap free for the pair-count
    hash aggregate — and it is the configuration the 1 GiB-heap proof
    below ran under.  Measured tradeoff, BENCH.md round-13: at 12M
    tokens MEMORY_AND_DISK is only 0.3% faster — the aggregate, not
    symbol-table IO, is the critical path — so the default stays
    DISK_ONLY; pass MEMORY_AND_DISK for small-corpus interactive use,
    where it wins ~14%), and exactly ONE round's copy is ever live — each
    rewrite frees the superseded round's blocks deterministically
    (:func:`_free_checkpoint`) instead of waiting out the
    ContextCleaner's periodic-GC sweep.  Proven: 1k merges on the 12M-
    token 10x Zipf corpus at the 1 GiB default driver heap (BENCH.md
    round-12 row; the r11 run OOMed there before this contract)."""
    from ..operators.dedup import ensure_parallelism
    from ..operators.text import tokens

    global LAST_TRAIN_ROUNDS, LAST_TRAIN_HISTORY
    global LAST_DRIVER_ROWS, LAST_MEMO_PEAK
    history: list[int] = []
    driver_rows: list[int] = []
    memo_peak = 0
    if guard not in ("cascade", "exact"):
        raise ValueError(f"guard must be 'cascade' or 'exact', got {guard!r}")
    batch = max(1, int(batch))
    cur = (
        ensure_parallelism(df)
        .select(F.explode_outer(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w").isNotNull() & (F.length("w") >= 1))
        .select(_sym_string(F.col("w")).alias("syms"))
        .localCheckpoint(eager=True, storageLevel=storage_level)
    )
    merges: list[tuple[str, str]] = []
    rounds = 0

    def _single_merge() -> list[tuple[str, str]]:
        """Classic exact argmax: full pair aggregate, top 1."""
        top = (
            cur.select(
                F.explode_outer(
                    _pairs_expr(F.split(F.col("syms"), " "))
                ).alias("p")
            )
            .filter(F.col("p").isNotNull())
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("p").asc())
            .limit(1)
            .collect()
        )
        driver_rows.append(len(top))
        if not top or int(top[0]["n"]) < min_count:
            return []
        a, b = top[0]["p"].split(" ")
        return [(a, b)]

    while len(merges) < n_merges:
        limit = min(batch, n_merges - len(merges))
        if guard == "cascade":
            S = _collect_summary(
                cur, cascade_g or CASCADE_G, cascade_topk or CASCADE_TOPK
            )
            rounds += 1
            driver_rows.append(S.collected_rows)
            accepted, exhausted = _cascade_round(S, limit, min_count)
            memo_peak = max(memo_peak, len(S._memo))
            if not accepted:
                if exhausted:
                    # final probe round accepted nothing: record it so
                    # len(history) == rounds holds on every exit path
                    history.append(0)
                    break
                history.append(0)
                rounds += 1
                accepted = _single_merge()
                if not accepted:
                    history.append(0)
                    break
        else:
            # collect enough of the ranking that the batch rule has
            # slack: the floor guard stops the batch at the horizon
            top_m = 1 if batch == 1 else max(64, 8 * batch)
            top = (
                cur.select(
                    F.explode_outer(
                        _pairs_expr(F.split(F.col("syms"), " "))
                    ).alias("p")
                )
                .filter(F.col("p").isNotNull())
                .groupBy("p")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), F.col("p").asc())
                .limit(top_m)
                .collect()
            )
            rounds += 1
            driver_rows.append(len(top))
            ranked = [(r["p"], int(r["n"])) for r in top]
            # a short collection saw the WHOLE table: nothing lurks below
            floor = ranked[-1][1] if len(ranked) == top_m else 0
            accepted = _exact_batch(
                ranked, floor, limit=limit, min_count=min_count,
                prior_outputs=frozenset(a + b for a, b in merges),
            )
            if not accepted:
                history.append(0)
                break
        history.append(len(accepted))
        merges.extend(accepted)
        syms = F.col("syms")
        # chained replaces apply IN ACCEPTANCE ORDER — required where
        # in-batch merges interact (cascade chains); a no-op
        # reordering for the exact mode's non-interacting batches
        for a, b in accepted:
            syms = F.regexp_replace(
                syms, merges_pattern(a, b), _quote_replacement(a + b)
            )
        prev = cur
        cur = cur.select(syms.alias("syms")).localCheckpoint(
            eager=True, storageLevel=storage_level
        )
        # exactly one live corpus copy: the new round's blocks are
        # materialized, so the superseded round's can go NOW
        _free_checkpoint(prev)
    _free_checkpoint(cur)
    LAST_TRAIN_ROUNDS = rounds
    LAST_TRAIN_HISTORY = history
    LAST_DRIVER_ROWS = driver_rows
    LAST_MEMO_PEAK = memo_peak
    return merges



# ----------------------------------------------------------------------
# pure-Python reference (the pinned twin — also the serving-side
# tokenizer for callers that want to apply a learned table off-Spark)
# ----------------------------------------------------------------------

def merge_word_py(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of (a, b) — the
    reference semantics the distributed regexp_replace must match."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def apply_merges_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Tokenize one word with a learned merge table (in order)."""
    syms = list(word)
    for a, b in merges:
        syms = merge_word_py(syms, a, b)
    return syms


def merges_pattern(a: str, b: str) -> str:
    """The zero-width-lookaround pattern applying merge (a, b) to a
    space-joined symbol string — shared by training and inference so
    the two can never diverge.  ``\\z``, NOT ``$``: Java's ``$`` also
    matches before a FINAL line terminator, so a symbol string ending
    in a newline symbol (e.g. ["q", "a\\n"] -> "q a\\n") would
    false-match ``q a(?= |$)`` mid-symbol and merge across the symbol
    boundary; ``\\z`` anchors to the true end of input."""
    return f"(?<= |^){re.escape(a)} {re.escape(b)}(?= |\\z)"


def tokenize_expr(text, merges: list[tuple[str, str]]):
    """Tokenize a text column with a learned merge table, as ONE pure
    column expression: per word, start from the character symbol
    string and apply every merge in order via the same lookaround
    regex the trainer uses, then split back to symbols.

    Map-side only — the merge table is baked into the plan as
    |merges| chained regexp_replace calls (a broadcast-sized model,
    like the classifier weights), so corpus-scale tokenization costs
    exactly the scan.  Returns array<string> of subword tokens in
    document order (word boundaries flattened).  Equal to the
    pure-Python ``apply_merges_py`` per word — pinned by test."""

    def _tok_word(w):
        s = _sym_string(w)
        for a, b in merges:
            s = F.regexp_replace(s, merges_pattern(a, b), _quote_replacement(a + b))
        return F.split(s, " ")

    # empty words (consecutive/leading/trailing spaces) contribute NO
    # symbols — exactly like the trainer's length>=1 filter and the
    # reference's list('') == []; without this each empty word would
    # emit a spurious '' token and inflate n_tokens
    words = F.filter(F.split(text, " "), lambda w: w != F.lit(""))
    return F.flatten(F.transform(words, _tok_word))


def tokenize_with_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens array<string>, n_tokens) for every document under a
    learned BPE merge table — the inference side of
    :func:`train_bpe_merges`, closing the train -> apply loop at
    corpus scale."""
    toks = tokenize_expr(F.col(text_col), merges)
    return df.select(
        F.col(id_col),
        toks.alias("tokens"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
