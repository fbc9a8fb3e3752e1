"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard (inverted-index join), MinHash+LSH, SimHash.

Scale notes (the point of each design):

* **exact**: hash-groupBy on md5(text) — one shuffle keyed by digest,
  16-byte keys instead of full documents.  At 100 TB this is the only
  exact method that doesn't move document bodies through the shuffle.
* **n-gram Jaccard**: shingle -> explode -> self-join on shingle is an
  *inverted-index* join: pair candidates are generated only for docs
  sharing a shingle (vs O(n^2) crossJoin).  Hot shingles are the skew
  risk — ``max_shingle_freq`` drops shingles shared by more than N
  docs (stopword-like shingles carry no dedup signal but quadratic
  pair cost), which bounds the blowup exactly like salting would.
* **MinHash+LSH**: constant-size signatures (k hashes) per doc, then a
  band-bucket equi-join — candidate generation cost is linear in docs
  x bands, independent of document length.  The hash is md5 (same
  digest available in the oracle engine), min over hex strings.
* **SimHash**: 64-bit xxhash64-based signed-bit aggregate; hamming
  proximity via banded exact match over 16-bit sub-keys.

No Python UDFs anywhere — shingling/hashing are Catalyst lambda
expressions inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------
def keeper_groups(fp_df: DataFrame, id_col: str = "doc_id", fp_col: str = "fingerprint") -> DataFrame:
    """THE canonical exact-dup keep policy over a pre-fingerprinted
    table: lowest id per digest wins.  Shared by
    :func:`exact_duplicates` and the curation report so the policy
    cannot fork."""
    return fp_df.groupBy(fp_col).agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
    )


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group by content digest; keep the min id as the canonical doc
    (:func:`keeper_groups`).  Returns (fingerprint, keeper_id,
    n_copies) per distinct content."""
    return keeper_groups(
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col)), id_col
    )


def exact_duplicates_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Exact dedup with a QUALITY-AWARE keep policy: within each
    content-digest group the representative is the copy with the
    highest ``score_col`` (ties to the lowest id) — the standard
    pipeline rule when duplicates differ in metadata completeness or
    extraction quality and "first id wins" would keep a worse copy.

    Returns (fingerprint, keeper_id, keeper_score, n_copies).

    Scale shape: one shuffle on the 16-byte digest; the keep decision
    is a MIN aggregate over (-score, id) structs — partial-combine
    friendly, no window over the corpus, and integer tie-breaking means
    any engine picks the identical representative.

    NULL scores LOSE to any scored copy: the ordering struct leads
    with a has-score bit (0 = scored, 1 = null), so a bare struct-min
    can't crown a null-score copy (Spark sorts the null field FIRST,
    diverging from the oracle's ``ORDER BY score DESC`` nulls-last);
    an all-null group still falls back to the lowest id.  The
    negation runs in DECIMAL(38,18) — wide enough that no long score
    (including LONG_MIN, 19 integer digits) can overflow it, where
    ``-bigint`` would wrap (or throw under ANSI) at the boundary, and
    PRECISE enough that fractional scores rank exactly: the old
    ``cast('long')`` before ranking truncated every double score (two
    quality scores 0.12 vs 0.98 tied at 0 and the keeper degenerated
    to lowest-id — the exact failure this function exists to prevent;
    code-review r9).  ``keeper_score`` stays bigint in the OUTPUT
    contract (truncating only the report, never the ranking).

    UNRANKABLE scores (NULL, NaN, ±Inf, |x| >= 1e20 — outside the
    decimal's 20 integer digits) all set the missing bit and lose to
    any rankable copy: the bit is computed on the ``try_cast`` RESULT,
    so an extreme double can neither job-kill the cast under ANSI nor
    slip through as a NULL ``neg_score`` that struct-min (nulls first)
    would wrongly crown (ADVICE r9).  The OUTPUT cast is a try_cast
    too: a rankable winner in the (2^63, 1e20) gap ranks correctly but
    cannot be reported as bigint, so ``keeper_score`` is NULL for it —
    truncating only the report, never the keep decision (code-review
    r10: the plain output cast job-killed on a 1e19 winner).
    Real-world scores — quality fractions, char/token counts, any
    bigint — are far inside the supported ranges."""
    neg = -F.col(score_col).try_cast("decimal(38,18)")
    best = F.min(
        F.struct(
            F.when(neg.isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
                "score_missing"
            ),
            neg.alias("neg_score"),
            F.col(id_col).alias("id"),
        )
    )
    return (
        df.select(
            F.md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
            F.col(score_col),
        )
        .groupBy("fingerprint")
        .agg(best.alias("__b"), F.count("*").alias("n_copies"))
        .select(
            "fingerprint",
            F.col("__b.id").alias("keeper_id"),
            (-F.col("__b.neg_score")).try_cast("bigint").alias("keeper_score"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
        )
    )


# ----------------------------------------------------------------------
# shingling
# ----------------------------------------------------------------------
def _shingles_of(toks: Column, n: int) -> Column:
    """n-gram shingles from a *materialized* token-array column.

    CRITICAL PERF NOTE: ``toks`` must be a bound column reference, not
    a computed expression.  A captured expression (e.g. ``F.split``)
    is re-evaluated for every ``element_at`` inside the lambda —
    observed as O(len^2) interpreted ``StringSplit`` per doc, turning
    the sf0.1 shingle scan from seconds into minutes.  1-based
    element_at matches the oracle's 1-based list indexing."""
    count = F.size(toks)
    idx = F.when(count >= n, F.sequence(F.lit(1), count - F.lit(n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a text column; fine for expression
    contexts, but dataframe-level shingling should go through
    shingle_table* (token materialization, see _shingles_of)."""
    return _shingles_of(F.split(text, " "), n)


def materialize_for_self_join(df: DataFrame) -> DataFrame:
    """Compute a pair-generator's index table ONCE and let every
    consumer read the stored partitions.

    All candidate-pair generators self-join their exploded/hashed
    index table (shingles, band signatures, fingerprints), and
    Catalyst does NOT produce a ReusedExchange for the two join sides
    (verified on the executed plans), so without this the whole
    tokenize/hash/explode pipeline — the dominant CPU cost — runs once
    per consumer (2x for the join, +1 for any frequency/stats pass).
    ``localCheckpoint`` stores the computed partitions in the executor
    block store (memory, spilling to disk) and truncates lineage.
    Storage is the operator's own corpus-bounded output table; blocks
    are dropped when the DataFrame is garbage collected.

    CALLER CONTRACT — this is EAGER by design: merely *constructing* a
    query through this helper launches the Spark jobs that compute the
    index table (plan inspection is not free), and the checkpointed
    blocks live until the returned DataFrame is GC'd, so building many
    such queries in one session accumulates block-store usage.  Eager
    is deliberate: a lazy checkpoint lets the two self-join map stages
    run concurrently and RACE on the not-yet-cached partitions,
    re-running the expensive tokenize/hash pipeline for whatever
    overlaps — the exact double-compute this helper exists to prevent."""
    return df.localCheckpoint(eager=True)


#: per-source-path scan partition counts, weakly keyed by session —
#: see :func:`ensure_parallelism`.  Eagerly initialized (ADVICE r14):
#: a lazy ``is None`` check could race under multi-threaded first
#: construction and silently drop already-cached entries.
import weakref as _weakref

_NPARTS_CACHE: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input has fewer partitions (e.g. one small Parquet file -> one
    split -> one task doing ALL the per-doc compute).  No-op at scale
    where scans already produce many splits; the small shuffle this
    adds is repaid many times over by parallel lambda evaluation.

    The partition-count probe (``df.rdd.getNumPartitions()``) converts
    the whole plan to an RDD — ~0.1 s of driver work PER QUERY
    CONSTRUCTION (optimization r14, guide §1.2 driver overhead).  For
    the common shape — the df IS a raw table scan that
    ``entry_queries.load`` tagged with its source path — the probe
    result is memoized per (live session, path): same path + same
    session conf => same split count, and the cached value only gates
    a repartition DECISION (results are identical either way; a stale
    count after a mid-session conf change costs at most one redundant
    shuffle).  Untagged inputs take the uncached probe as before."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    src = getattr(df, "_ong_src_path", None)
    if src is None:
        n = df.rdd.getNumPartitions()
    else:
        per_session = _NPARTS_CACHE.setdefault(df.sparkSession, {})
        n = per_session.get(src)
        if n is None:
            n = df.rdd.getNumPartitions()
            per_session[src] = n
    if n < target:
        return df.repartition(target)
    return df


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int,
    parallelize: bool = True,
) -> DataFrame:
    """(id, __arr): per-doc distinct shingle array, with tokens and
    the shingle array materialized in separate projections so nothing
    is recomputed inside lambdas or across consumers.

    ``parallelize=False`` skips the :func:`ensure_parallelism` width
    probe — for inputs already known to be tiny (e.g. the
    candidate-filtered re-shingle in minhash_error_stats), where the
    probe's plan->RDD conversion would cost more than the skipped
    repartition could save."""
    src = ensure_parallelism(df) if parallelize else df
    toks = src.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    return toks.select(
        F.col(id_col),
        F.array_distinct(_shingles_of(F.col("__toks"), n)).alias("__arr"),
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows, distinct per doc — the inverted index.
    Dedup happens *inside the row* (array_distinct before explode), so
    no shuffle is spent on DISTINCT — shingles of one doc never span
    partitions."""
    # explode_outer, NOT explode: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, which clones the whole shingle
    # expression into a filter pushed below the repartition — i.e. the
    # entire O(doc) lambda pipeline re-runs serially on the unsplit
    # input.  outer + isNotNull keeps the plan shape with zero
    # recompute (observed 3.6 s -> 0.6 s on the sf0.1 shingle scan).
    return (
        _shingle_arrays(df, text_col, id_col, n)
        .select(F.col(id_col), F.explode_outer(F.col("__arr")).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def shingle_table_with_size(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    parallelize: bool = True,
) -> DataFrame:
    """Like shingle_table but each row also carries the doc's distinct
    shingle count — computed from the array pre-explode, which later
    saves a groupBy(doc) shuffle plus two joins in Jaccard scoring."""
    return (
        _shingle_arrays(df, text_col, id_col, n, parallelize=parallelize)
        .select(
            F.col(id_col),
            F.size(F.col("__arr")).alias("n_sh"),
            F.explode_outer(F.col("__arr")).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )


# ----------------------------------------------------------------------
# n-gram Jaccard via inverted-index join
# ----------------------------------------------------------------------
#: auto-cap rule: cap = max(AUTO_CAP_FLOOR, ceil(AUTO_CAP_MULT * mean
#: shingle frequency)), computed in EXACT integer arithmetic so any
#: engine reproduces the same cap from the same corpus.
AUTO_CAP_FLOOR = 64
AUTO_CAP_MULT = 32


#: driver-side hot-set ceiling: past this many hot shingles the
#: isin-filter plan falls back to a distributed anti-join
MAX_DRIVER_HOT_SET = 100_000


def shingle_cap_rule(total: int, n_distinct: int) -> int:
    """THE cap rule — exact ceil(AUTO_CAP_MULT * total / distinct) in
    integers, floored at AUTO_CAP_FLOOR.  Single definition shared by
    the DataFrame paths; the SQL oracle (entry_queries) embeds the
    identical integer arithmetic."""
    if not n_distinct:
        return AUTO_CAP_FLOOR
    return max(AUTO_CAP_FLOOR, -(-AUTO_CAP_MULT * int(total) // int(n_distinct)))


def auto_shingle_cap(freq: DataFrame) -> int:
    """Choose the hot-shingle cap from the shingle frequency table
    ((shingle, __f) rows): one tiny aggregate (two bigints to the
    driver).  A uniform corpus sits far below the cap (results
    identical to uncapped); a skewed corpus has its stopword-like
    mega-shingles dropped, bounding the inverted-index join blowup by
    construction."""
    row = freq.agg(F.sum("__f").alias("total"), F.count("*").alias("distinct")).first()
    return shingle_cap_rule(row["total"] or 0, row["distinct"])


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | str | None = "auto",
) -> DataFrame:
    """All pairs (d1 < d2) with shingle-set Jaccard >= threshold.
    Returns (d1, d2, jaccard double — exact int division, so
    bit-identical across engines).

    ``max_shingle_freq="auto"`` (the default) derives the hot-shingle
    cap from the corpus itself via :func:`auto_shingle_cap`; pass an
    int for a fixed cap or ``None`` to disable capping entirely.

    Cap plan: the materialized inverted index feeds ONE stats
    aggregate (sum/count/max of shingle frequency — three bigints to
    the driver).  ``max_f <= cap`` proves the hot set empty with no
    further jobs — the common, uniform-corpus case keeps the exact
    uncapped plan.  Only a genuinely skewed corpus pays for pulling
    the hot set (stopword-like mega-shingles, small by construction)
    and the isin-filter + re-size; >100k hot shingles falls back to a
    distributed anti-join."""
    sh = materialize_for_self_join(shingle_table_with_size(df, text_col, id_col, n))
    if max_shingle_freq is not None:
        # NOTE: capping drops hot (stopword-like) shingles from both
        # the intersection AND the sizes, so Jaccard stays consistent;
        # it bounds the join blowup like salting would.
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__f"))
        stats = freq.agg(
            F.sum("__f").alias("total"),
            F.count("*").alias("n_distinct"),
            F.max("__f").alias("max_f"),
        ).first()
        if max_shingle_freq == "auto":
            max_shingle_freq = shingle_cap_rule(stats["total"] or 0, stats["n_distinct"])
        if stats["max_f"] is not None and stats["max_f"] > max_shingle_freq:
            hot = freq.filter(F.col("__f") > max_shingle_freq).select("shingle")
            hot_head = [r[0] for r in hot.take(MAX_DRIVER_HOT_SET + 1)]
            if len(hot_head) <= MAX_DRIVER_HOT_SET:
                sh = sh.filter(~F.col("shingle").isin(hot_head))
            else:  # pathological: distributed anti-join instead
                sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
            sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh2"))
            sh = sh.drop("n_sh").join(sizes, id_col).withColumnRenamed("n_sh2", "n_sh")
    a = sh.alias("a")
    b = sh.alias("b")
    # n_sh rides along into the pair groupBy keys — no sizes join needed
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_inter")
    ).cast("double")
    # null-tolerant threshold (coalesce): a plain `>=` is
    # null-intolerant, so Catalyst infers isnotnull(n1/n2) constraints
    # and pushes them below the repartition with the whole shingle
    # expression substituted in — re-running the O(doc) lambda pipeline
    # serially on the unsplit input.  jaccard is never null, so the
    # semantics are identical.
    return inter.select("d1", "d2", jac.alias("jaccard")).filter(
        F.coalesce(F.col("jaccard") >= threshold, F.lit(False))
    )


# ----------------------------------------------------------------------
# MinHash + LSH
# ----------------------------------------------------------------------
HASHES_PER_DIGEST = 4  # one md5 yields four independent 32-bit minhashes


def wide_minhash_table(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The wide signature table (id, [carries], h0..h{n-1}) from a
    shingle table — one md5 per digest-seed per shingle (each digest
    yields 4 hashes), map-side partial min, ONE shuffle.  Shared by
    the band generator and the sketch-error evaluator so the hash
    family cannot desynchronize between them.  ``carry_cols`` are
    per-doc constants (e.g. n_sh) ridden through the aggregate."""
    n_seeds = (num_hashes + HASHES_PER_DIGEST - 1) // HASHES_PER_DIGEST
    with_digests = sh.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        *[
            F.md5(F.concat(F.lit(str(s)), F.lit("|"), F.col("shingle"))).alias(f"_d{s}")
            for s in range(n_seeds)
        ],
    )
    mins = [F.min(c).alias(c) for c in carry_cols]
    for i in range(num_hashes):
        s, j = divmod(i, HASHES_PER_DIGEST)
        mins.append(
            F.min(F.substring(F.col(f"_d{s}"), j * 8 + 1, 8)).alias(f"h{i}")
        )
    return with_digests.groupBy(id_col).agg(*mins)


def band_structs_expr(num_hashes: int, band_size: int) -> Column:
    """The LSH band keys as an array of (band, sig) structs over the
    wide signature columns — plain column concats, no per-hash row
    explosion."""
    if num_hashes % band_size:
        # a silent floor would drop the trailing hashes: the caller
        # paid to compute them and the realized (bands, rows) collision
        # curve would differ from the configured one with no signal
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}) — trailing hashes would be silently dropped"
        )
    n_bands = num_hashes // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"h{b * band_size + k}") for k in range(band_size)]
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )


def band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, sig) LSH band signatures in ONE shuffle: the 16
    minhashes are 16 ``min`` aggregate columns over the shingle table
    (:func:`wide_minhash_table`), and band keys are plain column
    concats (:func:`band_structs_expr`) — no per-hash row explosion,
    no collect_list second shuffle."""
    sh = shingle_table(df, text_col, id_col, n)
    sigs = wide_minhash_table(sh, id_col, num_hashes)
    bands = band_structs_expr(num_hashes, band_size)
    return sigs.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


def _exact_dup_collapse(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int | None = None,
    force: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """Eligibility + slim tables for the exact-duplicate collapse
    shared by ``lsh_candidate_pairs`` and ``minhash_error_stats``
    (r10 skew finding): every signature/band/intersection depends
    only on the TEXT, so exact-duplicate groups can run the pair
    machinery once per distinct text.

    Returns ``None`` when the duplicate-pair mass is immaterial —
    the exact integer rule ``sum over groups of g*(g-1) >= 2*n_docs``
    (the member pairs a collapse would save rival a full extra corpus
    pass; EXACT_MAX_ABS eligibility pattern, one digest aggregate) —
    else ``(mem, groups, rep_docs)``: the checkpointed slim
    (digest, id) membership table, the checkpointed per-digest
    (rep, size) table, and the representative documents frame.

    ``min_tokens`` (ADVICE r10): groups whose text is too short to
    shingle (fewer whitespace tokens than the shingle width) produce
    no signatures, no bands and no pairs — their duplicate mass saves
    NOTHING, so the savings side of the eligibility rule excludes
    them (the cost side, 2*n_docs, stays corpus-sized: the extra
    stages run over everything either way).  A corpus dominated by
    short duplicated strings no longer mis-triggers the plumbing.

    ``force=True`` skips the eligibility aggregate entirely (no job
    at construction time) and always builds the collapse tables —
    the deterministic-branch hook for lint/invariance harnesses."""
    keyed = df.select(F.col(id_col), F.col(text_col)).withColumn(
        "__dig", F.md5(F.col(text_col))
    )
    if not force:
        nonnull = keyed.filter(F.col("__dig").isNotNull())
        saved_term = F.col("__g") * (F.col("__g") - F.lit(1))
        if min_tokens is not None:
            can = (
                F.size(F.split(F.col(text_col), " ")) >= min_tokens
            ).cast("bigint")
            grp_tbl = nonnull.groupBy("__dig").agg(
                F.count("*").alias("__g"), F.max(can).alias("__can")
            )
            saved_term = saved_term * F.col("__can")
        else:
            grp_tbl = nonnull.groupBy("__dig").agg(F.count("*").alias("__g"))
        row = grp_tbl.agg(
            F.sum(saved_term).alias("__saved2"),
            F.sum("__g").alias("__n"),
        ).head()
        saved2 = (row["__saved2"] or 0) if row else 0
        n_docs = (row["__n"] or 0) if row else 0
        if saved2 < 2 * n_docs:
            return None
    mem = materialize_for_self_join(keyed.select("__dig", id_col))
    groups = materialize_for_self_join(
        mem.groupBy("__dig").agg(
            F.min(F.col(id_col)).alias("__rep"), F.count("*").alias("__g")
        )
    )
    # select reps by ID against the checkpointed groups — joining on
    # the digest would recompute md5 over every row's text a third
    # time (code-review r10)
    rep_docs = df.join(
        groups.select(F.col("__rep").alias(id_col)), on=id_col
    ).select(F.col(id_col), F.col(text_col))
    return mem, groups, rep_docs


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    mem: DataFrame,
    groups: DataFrame,
    elig_reps: DataFrame,
    id_col: str,
    carry_cols: tuple[str, ...] = (),
    intra_literals: tuple[Column, ...] = (),
) -> DataFrame:
    """Expand representative-level pairs back to member pairs.

    Cross-group member pairs inherit the rep pair's ``carry_cols``
    verbatim (all carried values are symmetric in (d1, d2), emitted
    as (least, greatest)); intra-group pairs — groups of >= 2 whose
    rep appears in ``elig_reps`` (i.e. the text actually signs/bands)
    — are candidates by construction and carry ``intra_literals``.
    The rep-pair frame is candidate-sized, so AQE broadcasts it into
    the digest-keyed member joins; the result is output-sized."""
    g1map = groups.select(F.col("__rep").alias("d1"), F.col("__dig").alias("g1"))
    g2map = groups.select(F.col("__rep").alias("d2"), F.col("__dig").alias("g2"))
    rp = rep_pairs.join(g1map, on="d1").join(g2map, on="d2")
    mem1 = mem.select(F.col("__dig").alias("g1"), F.col(id_col).alias("m1"))
    mem2 = mem.select(F.col("__dig").alias("g2"), F.col(id_col).alias("m2"))
    cross = (
        rp.join(mem1, on="g1")
        .join(mem2, on="g2")
        .select(
            F.least("m1", "m2").alias("d1"),
            F.greatest("m1", "m2").alias("d2"),
            *carry_cols,
        )
    )
    elig_digs = (
        groups.filter(F.col("__g") >= 2)
        .join(elig_reps.select(F.col(id_col).alias("__rep")), on="__rep")
        .select("__dig")
    )
    mem_elig = mem.join(elig_digs, on="__dig")
    ia = mem_elig.select("__dig", F.col(id_col).alias("d1"))
    ib = mem_elig.select("__dig", F.col(id_col).alias("d2"))
    intra = (
        ia.join(ib, on="__dig")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1", "d2",
            *[lit.alias(c) for c, lit in zip(carry_cols, intra_literals)],
        )
    )
    return cross.unionByName(intra)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    summarize: bool = False,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs agreeing on all hashes of at
    least one band.  Returns distinct (d1 < d2).

    The band signature join is an equi-join on (band, sig) — at scale
    the shuffle key cardinality is ~n_docs x n_bands and each bucket
    is tiny unless documents truly collide.  Boilerplate mass makes
    that 'unless' real (the r10 skew bench measured 1.71x on a
    25%-one-text corpus), and the ``_exact_dup_collapse`` + expansion
    treatment was MEASURED here and REJECTED: the pair stream is
    output-bound (the quadratic pairs ARE the result, per-pair compute
    is nil), so collapsing saved only ~0.5 s on the bare stream while
    its main consumer — connected components, which eagerly
    checkpoints the symmetrized edges once and then iterates — paid
    ~+1.2 s warm for the extra eager stages and the hot-digest intra
    self-join (skew sf0.1: clusters 4.0 s brute vs 5.2 s collapsed).
    The collapse stays where per-pair compute is heavy
    (``minhash_error_stats``: 16-hash compare + shingle intersection
    per pair, 2.3x there).

    ``summarize=True`` (VERDICT r10 #5) is the STATS-ONLY output mode
    for consumers that never need the pair list — one row per doc that
    produced >= 1 band signature:

        (id, n_cand_bands, cand_degree_ub, has_candidate)

    where ``has_candidate`` is EXACT (a doc appears in >= 1 candidate
    pair iff one of its (band, sig) buckets holds >= 2 docs),
    ``n_cand_bands`` counts its colliding bands, and
    ``cand_degree_ub`` = sum over bands of (bucket_size - 1) — an
    upper bound on the distinct candidate degree (a pair colliding in
    k bands is counted k times; equality whenever every candidate pair
    collides in exactly one band).  Plan shape: one (band, sig)
    window count + one per-doc aggregate — NEVER the pair self-join,
    so a hot boilerplate bucket of size g costs O(g) instead of the
    C(g,2) output the pair mode is bound to.  Docs with zero shingles
    emit no bands and are absent; consumers left-join + coalesce."""
    if summarize:
        from pyspark.sql import Window

        sigs = band_signatures(df, text_col, id_col, n, num_hashes, band_size)
        m = F.count("*").over(Window.partitionBy("band", "sig"))
        per_band = sigs.select(F.col(id_col), (m - F.lit(1)).alias("__x"))
        return per_band.groupBy(id_col).agg(
            F.sum((F.col("__x") >= 1).cast("bigint")).alias("n_cand_bands"),
            F.sum("__x").cast("bigint").alias("cand_degree_ub"),
            F.max(F.col("__x") >= 1).alias("has_candidate"),
        )
    sigs = materialize_for_self_join(
        band_signatures(df, text_col, id_col, n, num_hashes, band_size)
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, on=["band", "sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------
def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens: for each bit, sum +1/-1 by
    token-hash bit, take the sign.  xxhash64 is JVM-side; the digest
    differs from any oracle engine's hash, so this operator gets a
    rows-only correctness check (documented non-SQL-expressible)."""
    toks = F.explode(F.split(F.col(text_col), " ")).alias("tok")
    per_tok = df.select(F.col(id_col), toks).withColumn("h", F.xxhash64("tok"))
    # one parsed SQL expression per aggregate column and ONE for the
    # 64-term signature sum (optimization r14, guide §1.2 driver
    # overhead): the loop-built Column version cost ~1 s of py4j
    # round-trips per construction; the parsed trees are operator-
    # identical (same Sum/CaseWhen aggregates, same left-assoc bigint
    # sum with sign-bit shiftleft wrap) — pinned bit-identical by
    # test_simhash_sql_twin
    bit_cols = [
        F.expr(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}")
        for b in range(64)
    ]
    agg = per_tok.groupBy(id_col).agg(*bit_cols)
    # shiftleft wraps at bit 63 (sign bit) — fine for a hash key
    sig_sql = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"(CASE WHEN b{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(64)
        ]
    )
    return agg.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Oracle-portable SimHash: token hash = first 8 hex chars of
    md5 as a 32-bit int (Spark ``conv(hex,16,10)`` == DuckDB
    ``('0x'||hex)::BIGINT``), signature = sign-bit aggregate.  Slower
    than the xxhash64 variant (md5 + string slicing per token) but
    bit-identical across engines, so it gets a full value-check."""
    toks = F.explode(F.split(F.col(text_col), " ")).alias("tok")
    per_tok = df.select(F.col(id_col), toks).withColumn(
        "h32", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    # parsed-SQL construction, same rationale (and twin-test pin) as
    # :func:`simhash` above
    bit_cols = [
        F.expr(f"sum(CASE WHEN (h32 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}")
        for b in range(bits)
    ]
    agg = per_tok.groupBy(id_col).agg(*bit_cols)
    sig_sql = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        ]
    )
    return agg.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))


def simhash64_pairs_oracle_sql() -> str:
    """DuckDB twin of ``simhash_candidate_pairs``: per-token XXH64
    (seed 42, identical to Spark's xxhash64 — emitted by
    operators/xxh64_sql.py), signed-bit aggregate per doc, 16-bit
    band keys, band equi-join.  The vocabulary is hashed DISTINCT
    then joined back (the hash expression is exact but heavyweight;
    the corpus vocabulary is far smaller than the token stream)."""
    from .xxh64_sql import xxh64_sql

    bit_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (hu // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    vocab AS (SELECT DISTINCT t FROM tok),
    vh AS (SELECT t, {xxh64_sql('t')} AS hu FROM vocab),
    th AS (SELECT tok.doc_id, vh.hu FROM tok JOIN vh USING (t)),
    sigs AS (SELECT doc_id, ({bit_terms}) AS sig_u FROM th GROUP BY doc_id),
    banded AS (
      SELECT doc_id, band,
             CAST((sig_u // (CASE band WHEN 0 THEN 1::HUGEINT WHEN 1 THEN 65536
                             WHEN 2 THEN 4294967296 ELSE 281474976710656 END)) % 65536
                  AS BIGINT) AS key
      FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band)
    )
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


def simhash_candidate_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates: equal 16-bit SimHash sub-bands (docs within
    hamming distance 3 of each other share at least one of 4 bands)."""
    sigs = simhash(df, text_col, id_col)
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.expr(f"(simhash >> {16 * i}) & 65535").alias("key"),
                )
                for i in range(4)
            ])
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded = materialize_for_self_join(banded)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )


# ----------------------------------------------------------------------
# Winnowing (MOSS-style) fingerprints
# ----------------------------------------------------------------------
def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, fingerprint) — winnowing document fingerprints (the MOSS
    selection rule, Schleimer et al. 2003): hash every word n-gram,
    slide a ``window`` over consecutive hashes, keep the minimum of
    each window, dedupe.  Guarantees any shared run of ~window+n-1
    tokens between two docs yields at least one shared fingerprint,
    while storing only ~2/(window+1) of the hashes.

    Everything is per-row Catalyst lambda work (transform over a
    materialized token array, md5 hex as the hash so the oracle's min
    agrees byte-for-byte); the only shuffle is whatever the caller
    does with the fingerprints."""
    toks = ensure_parallelism(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    grams = toks.select(
        F.col(id_col), _shingles_of(F.col("__toks"), n).alias("__sh")
    )
    hashed = grams.select(
        F.col(id_col), F.transform(F.col("__sh"), lambda s: F.md5(s)).alias("__h")
    )
    cnt = F.size(F.col("__h"))
    idx = F.when(
        cnt >= window, F.sequence(F.lit(1), cnt - F.lit(window - 1))
    ).otherwise(
        # short docs: one window over whatever hashes exist (>=1)
        F.when(cnt >= 1, F.sequence(F.lit(1), F.lit(1))).otherwise(
            F.array().cast("array<int>")
        )
    )
    mins = hashed.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.array_min(F.slice(F.col("__h"), i, window)),
            )
        ).alias("__fp"),
    )
    return (
        mins.select(F.col(id_col), F.explode_outer(F.col("__fp")).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidates via shared winnow fingerprints: the same
    inverted-index equi-join shape as the shingle join, but over the
    winnowed subset (~2/(window+1) the rows) — cheaper pair generation
    at the same guarantee level for runs >= window+n-1 tokens."""
    fp = materialize_for_self_join(winnow_fingerprints(df, text_col, id_col, n, window))
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, on="fingerprint")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.coalesce(F.col("n_shared") >= min_shared, F.lit(False)))
    )


# ----------------------------------------------------------------------
# passage-level exact dedup (C4-style repeated-span removal)
# ----------------------------------------------------------------------
def passage_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_words: int = 8,
) -> DataFrame:
    """Per-document repeated-passage statistics: split each document
    into non-overlapping ``passage_words``-token passages, hash each,
    and count how many passages already occurred earlier in the corpus
    (first occurrence = smallest ``(doc_id, position)``, the C4 rule of
    keeping the first copy of a repeated span).

    Returns (doc_id, n_passages, n_dup_passages, dup_frac) for every
    document with at least one full passage.

    Scale shape: passages are hashed map-side, so the only shuffle is
    the groupBy on the 16-byte digest carrying one bigint occurrence
    key — document text never moves.  The occurrence key packs
    (doc_id, position) into one bigint (positions < 1e6 per doc), so
    "earliest occurrence" is a plain MIN aggregate with map-side
    partial combine, and the per-doc rollup is a second digest-free
    groupBy on doc_id.  No windows, no skew beyond true duplicate mass.

    Plan hygiene (mirrors shingle_table): the input goes through
    ensure_parallelism, and short docs are dropped via explode_outer +
    isNotNull on the GENERATED column — a pre-explode filter on the
    computed passage count would be cloned below the repartition by
    InferFiltersFromGenerate and re-run the whole tokenize expression
    serially on the unsplit input.  The passage table feeds two
    consumers (the first-occurrence MIN and the per-doc join), and
    Catalyst gives self-consumers no ReusedExchange, so it is
    materialized once.
    """
    toks = F.split(F.col(text_col), " ")
    m = F.floor(F.size(toks) / F.lit(passage_words)).cast("int")
    # sequence(1, m) flips to a DESCENDING sequence when m < 1, so the
    # whole array is gated behind the count check; explode_outer turns
    # the null (short-doc) case into one null row filtered on the
    # output column, not the generator input
    passages = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(
                    F.slice(
                        toks, (i - F.lit(1)) * passage_words + F.lit(1), passage_words
                    ),
                    " ",
                ).alias("p"),
            ),
        ),
    )
    occ = materialize_for_self_join(
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode_outer(passages).alias("e"))
        .filter(F.col("e").isNotNull())
        .select(
            F.col(id_col),
            F.md5(F.col("e.p")).alias("h"),
            # long cast FIRST: an int32 id column would overflow the
            # *1e6 at doc_id >= 2148 (throwing under ANSI, silently
            # wrapping negative otherwise — corrupting the MIN-based
            # first-occurrence order; code-review r9)
            (F.col(id_col).cast("long") * F.lit(1_000_000) + F.col("e.pos")).alias("k"),
        )
    )
    firsts = occ.groupBy("h").agg(F.min("k").alias("first_k"))
    return (
        occ.join(firsts, on="h")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.sum((F.col("k") > F.col("first_k")).cast("long"))
            .cast("bigint")
            .alias("n_dup_passages"),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_passages").cast("double") / F.col("n_passages").cast("double"),
        )
    )


def minhash_error_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    collapse: str = "auto",
) -> DataFrame:
    """Sketch-quality evaluation for the MinHash-LSH dedup path: for
    every LSH candidate pair, the MinHash Jaccard ESTIMATE (fraction
    of agreeing minhashes — what the sketch promises) next to the
    EXACT shingle-set Jaccard, and the absolute estimation error —
    the number a pipeline operator reads before trusting the sketch
    threshold at scale (E[err] ~ 1/sqrt(num_hashes)).

    Returns (d1, d2, est_jaccard, exact_jaccard, abs_err) — every
    column deterministic (integer counts, single double divisions),
    so even the error report has an exact oracle twin, like
    emb_ann_recall does for the ANN path.

    Plan shape (since optimization r15): the corpus-wide shingle
    table stays LAZY and is consumed exactly once — inside the wide
    signature aggregate (16 min columns, map-side partial), which is
    the one materialized corpus-sized table and feeds the band
    self-join (candidate generation) and both signature lookups; the
    inverted-index intersection re-shingles only the CANDIDATE docs
    after a broadcast semi-join.  Candidate pairs are few by
    construction, so the two signature lookups broadcast.

    EXACT-DUPLICATE COLLAPSE (r10 skew finding): signatures, bands
    and shingle intersections depend only on the TEXT, so a corpus
    with an exact-duplicate group of size g (boilerplate — the 100 TB
    norm; the skew bench measured 3.78x amplification at 25% one-text
    mass) would otherwise pay the band join, the inverted-index join
    and the signature comparison C(g,2) times for identical answers.
    When the corpus carries MATERIAL duplicate mass (one cheap digest
    aggregate decides — the EXACT_MAX_ABS eligibility pattern; the
    exact integer rule is sum over groups of g*(g-1) >= 2*n_docs,
    i.e. the member pairs the collapse would save rival a full extra
    corpus pass), the sketch pipeline runs on one representative per
    distinct text and the per-pair rows are expanded afterwards:
    cross-group member pairs inherit the rep pair's (est, exact)
    verbatim (values are symmetric, emitted as (least, greatest));
    intra-group pairs are candidates by construction (identical
    signatures share every band) with est = exact = 1 and err = 0,
    provided the text has at least one shingle.  A corpus below the
    threshold skips the collapse plumbing entirely (incidental
    duplicates cost less than the extra stages).  Both paths are
    value-identical — the DuckDB oracle is unchanged — and compute
    stays distinct-text-sized; only the OUTPUT remains pair-sized,
    as the semantics demand.

    ``collapse`` (ADVICE r10): ``"auto"`` (default) runs the one-job
    eligibility aggregate at construction time and picks the branch
    the data warrants; ``"off"`` skips the aggregate AND the collapse
    (pure lazy uncollapsed plan — what a lint harness audits without
    paying construction-time jobs); ``"on"`` skips the aggregate and
    forces the collapse plumbing (the other branch, deterministically).
    All three are value-identical; the eligibility savings aggregate
    only counts groups whose text can actually shingle
    (``min_tokens=n``), so short-string duplicate mass no longer
    mis-triggers the plumbing."""
    if collapse not in ("auto", "on", "off"):
        raise ValueError(f"collapse must be auto|on|off, got {collapse!r}")
    chosen = (
        None
        if collapse == "off"
        else _exact_dup_collapse(
            df, text_col, id_col, min_tokens=n, force=(collapse == "on")
        )
    )
    if chosen is None:
        pairs, _sigs = _minhash_error_core(df, text_col, id_col, n,
                                           num_hashes, band_size)
        return pairs
    mem, groups, rep_docs = chosen
    rep_pairs, sigs = _minhash_error_core(rep_docs, text_col, id_col, n,
                                          num_hashes, band_size)
    # intra-group pairs (identical texts with >= 1 shingle) are
    # candidates by construction with a zero-error perfect estimate
    elig_reps = sigs.select(F.col(id_col)).distinct()
    return _expand_rep_pairs(
        rep_pairs, mem, groups, elig_reps, id_col,
        carry_cols=("est_jaccard", "exact_jaccard", "abs_err"),
        intra_literals=(F.lit(1.0), F.lit(1.0), F.lit(0.0)),
    )


def _minhash_error_core(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    band_size: int,
) -> tuple[DataFrame, DataFrame]:
    """The uncollapsed sketch-vs-exact pipeline over ``df`` (one row
    per DISTINCT text when called from the collapse path).  Returns
    (pairs, sigs) — sigs so the caller can decide intra-group
    eligibility (a text with zero shingles never signs, bands or
    candidates)."""
    # ONE fewer eager materialization (optimization r15, VERDICT r14
    # #3): the corpus-wide exploded shingle table is consumed exactly
    # ONCE now — inside the signature-aggregate job below — so its own
    # eager checkpoint (a whole extra pass at r14) is gone; the exact
    # intersection re-shingles only the CANDIDATE docs (few by
    # construction, see sh_c below), which is cheaper than reading the
    # corpus-sized checkpointed table ever was.  Shingling is a pure
    # function of the text, so values are unchanged.
    sh = shingle_table_with_size(df, text_col, id_col, n)
    sigs = materialize_for_self_join(
        wide_minhash_table(sh, id_col, num_hashes, carry_cols=("n_sh",))
    )
    bands = sigs.select(
        F.col(id_col), F.explode(band_structs_expr(num_hashes, band_size)).alias("bk")
    ).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(bb, on=["band", "sig"])
        .filter(F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}"))
        .select(
            F.col(f"ba.{id_col}").alias("d1"), F.col(f"bb.{id_col}").alias("d2")
        )
        .distinct()
    )

    # the exact intersection is only needed for CANDIDATE docs — a
    # broadcast semi-join on the (small) candidate id set cuts the
    # inverted-index self-join from corpus x corpus to cand x cand.
    # The candidates are RE-SHINGLED from the raw docs AFTER that
    # filter (r15): the explode runs over the few candidate docs
    # instead of the whole corpus, and the width probe is skipped for
    # this deliberately tiny input.
    cand = materialize_for_self_join(cand)
    cand_ids = (
        cand.select(F.col("d1").alias(id_col))
        .union(cand.select(F.col("d2").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(F.broadcast(cand_ids), on=id_col).select(
        F.col(id_col), F.col(text_col)
    )
    sh_c = shingle_table_with_size(
        cand_docs, text_col, id_col, n, parallelize=False
    )
    a, b = sh_c.alias("a"), sh_c.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count("*").alias("i"))
    )

    # attach both sides' signatures by BROADCASTING THE CANDIDATES
    # (few by construction) and probing the corpus-sized signature
    # table — never the other way around; n_sh rides in the signature
    # row, so no separate sizes table or join exists
    s1 = sigs.select(
        F.col(id_col).alias("d1"),
        F.col("n_sh").alias("n1"),
        *[F.col(f"h{i}").alias(f"x{i}") for i in range(num_hashes)],
    )
    s2 = sigs.select(
        F.col(id_col).alias("d2"),
        F.col("n_sh").alias("n2"),
        *[F.col(f"h{i}").alias(f"y{i}") for i in range(num_hashes)],
    )
    left = s1.join(F.broadcast(cand), on="d1")
    both = s2.join(F.broadcast(left), on="d2")

    matches = None
    for i in range(num_hashes):
        t = (F.col(f"x{i}") == F.col(f"y{i}")).cast("int")
        matches = t if matches is None else matches + t
    est = matches.cast("bigint").cast("double") / F.lit(float(num_hashes))
    exact = F.coalesce(F.col("i"), F.lit(0)).cast("double") / (
        F.col("n1") + F.col("n2") - F.coalesce(F.col("i"), F.lit(0))
    ).cast("double")
    pairs = (
        both.join(inter.select("d1", "d2", "i"), on=["d1", "d2"], how="left")
        .select(
            "d1", "d2",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
        )
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))
    )
    return pairs, sigs
