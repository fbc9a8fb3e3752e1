"""Unit tests for the operator modules (dedup, text, similarity,
downsample, multimodal, influx source, streaming ingest, maintenance).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ong_tsdb_spark import OngTsdbSpark
from ong_tsdb_spark.operators import dedup, multimodal, similarity, text
from ong_tsdb_spark.sources import influx


# ----------------------------------------------------------------------
# dedup
# ----------------------------------------------------------------------
def _docs(spark):
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),          # exact dup of 1
        (3, "a b c d e f g"),        # near dup of 1
        (4, "x y z w v u"),
        (5, "completely different words here now"),
        (6, "x"),                    # shorter than shingle size
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(_docs(spark)).collect()
    by_n = {r["keeper_id"]: r["n_copies"] for r in out}
    assert by_n[1] == 2  # docs 1 and 2 collapse
    assert len(out) == 5  # 5 distinct contents


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a",)], "text string")
    out = df.select(dedup.word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == []


def test_ngram_jaccard(spark):
    out = dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    # doc 3 shares 4 of its 5 shingles with 1 and 2: j = 4/5
    assert pairs[(1, 3)] == pytest.approx(0.8)
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_exact_dups(spark):
    out = dedup.lsh_candidate_pairs(_docs(spark)).collect()
    pairs = {(r["d1"], r["d2"]) for r in out}
    assert (1, 2) in pairs  # identical docs always collide on all bands
    assert (1, 4) not in pairs


def test_xxh64_sql_matches_spark(spark):
    """The generated DuckDB XXH64 expression equals Spark's xxhash64
    (seed 42) bit-for-bit on randomized unicode strings across every
    length branch (empty / <8 / <32 / multi-stripe)."""
    import random

    import duckdb

    from ong_tsdb_spark.operators.xxh64_sql import xxh64_sql

    random.seed(3)
    pool = "abcXYZ019 àéßñ日本語🎉-_'"
    samples = ["", "a", "12345678", "x" * 31, "y" * 32, "z" * 100] + [
        "".join(random.choice(pool) for _ in range(random.randint(0, 80)))
        for _ in range(60)
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in sdf.select("s", F.xxhash64("s").alias("h")).collect()}
    con = duckdb.connect()
    rows = con.execute(
        "SELECT s, " + xxh64_sql("s") + " AS h FROM (SELECT unnest(?) AS s)",
        [samples],
    ).fetchall()
    for s, hu in rows:
        h = int(hu)
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == got[s], f"xxh64 mismatch for {s!r}"


def test_simhash_sql_twin(spark):
    """The parsed-SQL construction of simhash / simhash_portable
    (optimization r14) is bit-identical to the original loop-built
    Column path, reproduced here verbatim as the reference."""
    df = _docs(spark)

    def reference(per_tok_col, bits, shift_wrap):
        toks = F.explode(F.split(F.col("text"), " ")).alias("tok")
        if per_tok_col == "h":
            per_tok = df.select(F.col("doc_id"), toks).withColumn(
                "h", F.xxhash64("tok"))
        else:
            per_tok = df.select(F.col("doc_id"), toks).withColumn(
                "h32", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
        bit_cols = [
            F.sum(
                F.when(F.expr(f"({per_tok_col} >> {b}) & 1") == 1, F.lit(1))
                .otherwise(F.lit(-1))
            ).alias(f"b{b}")
            for b in range(bits)
        ]
        agg = per_tok.groupBy("doc_id").agg(*bit_cols)
        sig = F.lit(0).cast("long")
        for b in range(bits):
            one = (F.shiftleft(F.lit(1).cast("long"), b) if shift_wrap
                   else F.lit(1 << b).cast("long"))
            sig = sig + F.when(F.col(f"b{b}") > 0, one).otherwise(
                F.lit(0).cast("long"))
        return {r["doc_id"]: r["simhash"]
                for r in agg.select("doc_id", sig.alias("simhash")).collect()}

    fast64 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert fast64 == reference("h", 64, shift_wrap=True)
    fast32 = {r["doc_id"]: r["simhash"]
              for r in dedup.simhash_portable(df).collect()}
    assert fast32 == reference("h32", 32, shift_wrap=False)


def test_literal_weight_array_sql_twins(spark):
    """The parsed-SQL literal weight arrays (optimization r14) in
    classifier_score_expr and dsir_importance are bit-identical to the
    original loop-built F.lit constructions, reproduced here verbatim
    as the reference."""
    df = _docs(spark)

    # classifier: integer weights, default 256-bucket vector
    w = text.classifier_weights()
    warr_ref = F.array(*[F.lit(int(x)).cast("long") for x in w])
    score_ref = F.aggregate(
        text.tokens(F.col("text")),
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr_ref, (text.hash_bucket(t, len(w)) + F.lit(1)).cast("int")),
    )
    ref = {r["doc_id"]: r["s"]
           for r in df.select("doc_id", score_ref.alias("s")).collect()}
    fast = {r["doc_id"]: r["s"]
            for r in df.select(
                "doc_id", text.classifier_score_expr(F.col("text")).alias("s")
            ).collect()}
    assert fast == ref

    # dsir: double weights including exact-int-division values; pin
    # the parsed double array against the F.lit one element-wise
    wts = [(t + 1) / (r + 1) for t, r in zip(range(7), [3, 1, 0, 5, 2, 9, 4])]
    from ong_tsdb_spark.operators.similarity import _lit_double_array_sql

    got = spark.range(1).select(
        F.expr(_lit_double_array_sql(wts)).alias("a"),
        F.array(*[F.lit(float(x)).cast("double") for x in wts]).alias("b"),
    ).first()
    import struct

    assert [struct.pack("<d", v) for v in got["a"]] == [
        struct.pack("<d", v) for v in got["b"]
    ]


def test_simhash_near_for_near_docs(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]
    ham13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    ham14 = bin((sigs[1] ^ sigs[4]) & (2**64 - 1)).count("1")
    assert ham13 < ham14


# ----------------------------------------------------------------------
# text
# ----------------------------------------------------------------------
def test_text_features(spark):
    df = spark.createDataFrame([(1, "the quick fox and the dog")], "doc_id long, text string")
    q = text.quality_features(df).first()
    assert q["n_tokens"] == 6
    assert q["stopword_ratio"] == pytest.approx(3 / 6)  # the, and, the
    lid = text.language_id(df).first()
    assert lid["lang_pred"] == "en"
    es = spark.createDataFrame([(2, "el perro y la casa es grande")], "doc_id long, text string")
    assert text.language_id(es).first()["lang_pred"] == "es"


def test_rolling_hash_table(spark):
    """Rabin-Karp window hashes: hand-computed oracle for one window,
    shared windows between docs produce shared hashes, short docs
    produce none."""
    import hashlib as hl

    from ong_tsdb_spark.operators.text import ROLL_BASE, ROLL_MOD, rolling_hash_table

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y a b c d"), (3, "a b c")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: list(r["hashes"]) for r in rolling_hash_table(df, k=4).collect()}

    def w(tok):
        return int(hl.md5(tok.encode()).hexdigest()[:8], 16) % ROLL_MOD

    def h(win):
        acc = 0
        for t in win:
            acc = (acc * ROLL_BASE + w(t)) % ROLL_MOD
        return acc

    assert out[1] == [h(["a", "b", "c", "d"]), h(["b", "c", "d", "e"])]
    assert out[3] == []  # shorter than the window
    # doc 2 contains the window "a b c d" too -> shared hash
    assert h(["a", "b", "c", "d"]) in out[2]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " hello   WORLD ")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in text.fingerprint(df).collect()}
    assert fps[1] == fps[2] == fps[3]


# ----------------------------------------------------------------------
# similarity
# ----------------------------------------------------------------------
def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(50, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    out = similarity.cosine_topk(df, q, k=5, exclude_ids=[0]).collect()
    # numpy oracle
    d = vecs.astype("float64")
    cos = (d @ d[0]) / (np.linalg.norm(d, axis=1) * np.linalg.norm(d[0]))
    cos[0] = -np.inf
    expect = np.argsort(-cos)[:5].tolist()
    assert [r["vec_id"] for r in out] == expect
    for r in out:
        assert r["cosine"] == pytest.approx(cos[r["vec_id"]], rel=1e-9)


def test_lsh_bucket_expr_sql_twin(spark):
    """The fast SQL-text construction of the LSH bucket (str column
    input) is bit-identical to the original loop-built Column path
    (Column input) — the optimization-r14 construction-cost rewrite
    may not change a single bucket."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(80, 16).astype("float64")
    # include edge vectors: zeros and exact repr-roundtrip stress values
    vecs[3] = 0.0
    vecs[4] = np.array([1e-300, -1e-300] * 8)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fast = df.select(
        "vec_id", similarity.lsh_bucket_expr("embedding", 16, 16).alias("b")
    ).collect()
    slow = df.select(
        "vec_id", similarity.lsh_bucket_expr(F.col("embedding"), 16, 16).alias("b")
    ).collect()
    assert {r["vec_id"]: r["b"] for r in fast} == {r["vec_id"]: r["b"] for r in slow}


def test_lit_double_array_sql_bit_exact(spark):
    """repr() literals parse back to the identical IEEE-754 doubles."""
    rng = np.random.RandomState(3)
    vals = [float(x) for x in rng.randn(64) * 1e3] + [0.0, -0.0, 1e-308, -1.5e300]
    row = spark.sql(
        "select " + similarity._lit_double_array_sql(vals) + " as a"
    ).first()[0]
    assert len(row) == len(vals)
    assert all(x == y for x, y in zip(row, vals))
    # non-finite values must take the fallback path
    assert not similarity._finite_floats([1.0, float("nan")])
    assert not similarity._finite_floats([float("inf")])
    assert similarity._finite_floats(vals)


def test_cosine_pairs_blocked(spark):
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.01], "a"),   # near dup of 1, same block
        (3, [0.0, 1.0], "a"),
        (4, [1.0, 0.0], "b"),    # identical to 1 but different block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = similarity.cosine_pairs_blocked(df, "label", threshold=0.99).collect()
    pairs = {(r["d1"], r["d2"]) for r in out}
    assert (1, 2) in pairs
    assert all(p[0] != 4 and p[1] != 4 for p in pairs)  # cross-block never compared


# ----------------------------------------------------------------------
# influx source
# ----------------------------------------------------------------------
def test_influx_parse(spark):
    lines = spark.createDataFrame(
        [
            ("mydb,key=sensor1 active=9,reactive=10 1672617600000000000",),
            ("mydb,key=sensor1 active=11 1672617601000000000",),
            ("otherdb,key=s2 m=1.5",),  # no timestamp
        ],
        "line string",
    )
    out = influx.parse_lines(lines).collect()
    assert len(out) == 4
    r0 = out[0]
    assert (r0["db"], r0["sensor"], r0["metric"], r0["value"]) == (
        "mydb", "sensor1", "active", 9.0,
    )
    assert r0["ts_ns"] == 1672617600000000000
    assert out[3]["ts_ns"] is None


def test_influx_format_parse_roundtrip(spark):
    df = spark.createDataFrame([(5.25, 1672617600000000000)], "v double, ts long")
    lines = influx.format_lines(
        df, F.lit("db1"), F.lit("s1"), [("m1", F.col("v"))], F.col("ts")
    )
    out = influx.parse_lines(lines).first()
    assert out["value"] == 5.25
    assert out["ts_ns"] == 1672617600000000000


# ----------------------------------------------------------------------
# multimodal
# ----------------------------------------------------------------------
def test_multimodal_features(spark):
    docs = spark.createDataFrame([(1, "hello", "s")], "doc_id long, text string, source string")
    media = multimodal.fake_media_table(docs)
    out = multimodal.extract_features(media).first()
    assert out["n_bytes"] == 5
    assert out["sha256"] == hashlib.sha256(b"hello").hexdigest()
    assert 64 <= out["width"] <= 255 and out["duration_s"] == 0.0


def test_multimodal_resize_and_frame_sample(spark):
    """Resize is a 1->1 binary transform; frame sampling fans 1 row
    out to N (stub: 1 + n_bytes mod max_frames) — both through Arrow
    mapInPandas with the payload never leaving the executor."""
    docs = spark.createDataFrame(
        [(1, "abcde", "s"), (2, "xy", "s")], "doc_id long, text string, source string"
    )
    media = multimodal.fake_media_table(docs, media_type="video")
    rs = {r["item_id"]: r for r in multimodal.resize_images(
        media, 32, 24, decoders="stub").collect()}
    assert bytes(rs[1]["payload"]) == b"RSZ\x00abcde"
    assert rs[1]["width"] == 32 and rs[1]["height"] == 24
    fr = multimodal.sample_frames(media, every_s=2.0, max_frames=5, decoders="stub").collect()
    by_item = {}
    for r in fr:
        by_item.setdefault(r["item_id"], []).append(r)
    # 5 bytes -> 1 + 5 % 5 = 1 frame; 2 bytes -> 1 + 2 % 5 = 3 frames
    assert len(by_item[1]) == 1 and len(by_item[2]) == 3
    assert [r["frame_idx"] for r in sorted(by_item[2], key=lambda r: r["frame_idx"])] == [0, 1, 2]
    assert sorted(r["ts_s"] for r in by_item[2]) == [0.0, 2.0, 4.0]
    assert all(len(bytes(r["frame_payload"])) == 32 for r in fr)  # sha256 stub


def test_multimodal_corrupt_payload_tier_fallthrough(spark):
    """Code-review r9: an importable decoder that cannot parse one
    payload must fall THROUGH under 'auto' (stdlib wave here — RIFF
    magic, corrupt header), not kill the job; the stub digest features
    come out instead.  A zero max_frames is rejected up front (the
    stub fan-out computes % max_frames per row)."""
    corrupt_wav = b"RIFF" + b"\x00\x04\x00\x00" + b"WAVE" + b"garbage!"
    media = spark.createDataFrame(
        [(1, corrupt_wav, "audio")], "item_id long, payload binary, media_type string"
    )
    out = multimodal.extract_features(media, decoders="auto").first()
    assert out["sha256"] == hashlib.sha256(corrupt_wav).hexdigest()
    assert out["duration_s"] >= 1.0  # stub fake, not a wave parse

    with pytest.raises(Exception, match="NotImplementedError|real"):
        multimodal.extract_features(media, decoders="real").first()

    with pytest.raises(ValueError, match="max_frames"):
        multimodal.sample_frames(media, max_frames=0)


def test_multimodal_decoder_modes(spark):
    """decoders='real' refuses to fake when the media libs are absent
    (this container has none); 'auto' and 'stub' agree here because
    auto falls back to the deterministic stub.  When PIL exists in the
    environment, 'auto' decodes a real PNG instead."""
    docs = spark.createDataFrame([(1, "hello", "s")], "doc_id long, text string, source string")
    media = multimodal.fake_media_table(docs)
    stub = multimodal.extract_features(media, decoders="stub").first()
    try:
        import PIL.Image  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        auto = multimodal.extract_features(media, decoders="auto").first()
        assert auto == stub
        with pytest.raises(Exception) as ei:
            multimodal.extract_features(media, decoders="real").collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError
        )
    with pytest.raises(ValueError):
        multimodal.extract_features(media, decoders="nope")


# ----------------------------------------------------------------------
# engine downsample + maintenance + streaming
# ----------------------------------------------------------------------
@pytest.fixture()
def eng(spark, tmp_path):
    e = OngTsdbSpark(spark, str(tmp_path / "tsdb"))
    e.create_db("d")
    return e


def test_engine_read_downsampled(eng):
    eng.create_sensor("d", "s", "1s", ["v"])
    idx = pd.date_range("2023-01-02", periods=100, freq="1s", tz="UTC")
    eng.write_df("d", "s", pd.DataFrame({"v": np.arange(100.0)}, index=idx))
    start, end = idx[0].timestamp(), idx[-1].timestamp()
    out = eng.read_downsampled("d", "s", start, end, max_datapoints=10).collect()
    assert len(out) == 10
    assert [r["v"] for r in out] == [0.0, 10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0]


def test_downsample_rejects_nonpositive_max_datapoints(spark):
    """Code-review r9: max_datapoints=0 was a ZeroDivisionError inside
    the spread computation; a hand-rolled client must get a ValueError
    up front."""
    from ong_tsdb_spark.operators.downsample import downsample_max_datapoints

    df = spark.createDataFrame([(1, 1.0)], "ts_sec long, v double")
    with pytest.raises(ValueError, match="max_datapoints"):
        downsample_max_datapoints(df, "ts_sec", 0, 10, 0, [], ["v"])


def test_maintenance_verify_and_compact(eng):
    from ong_tsdb_spark.plans import maintenance

    eng.create_sensor("d", "s", "1h", ["v"])
    idx = pd.date_range("2023-01-02", periods=50, freq="1h", tz="UTC")
    eng.write_df("d", "s", pd.DataFrame({"v": np.ones(50)}, index=idx))
    st = maintenance.verify_sensor(eng, "d", "s")
    assert st.n_rows == 50 and st.duplicate_ts == 0 and st.off_grid == 0
    # keep_recent_chunks > partition count must compact NOTHING (a
    # negative slice bound would wrap and rewrite the oldest chunk)
    assert maintenance.compact_sensor(
        eng, "d", "s", codec="zstd", keep_recent_chunks=st.n_chunks + 5
    ) == 0
    n = maintenance.compact_sensor(eng, "d", "s", codec="zstd")
    assert n == st.n_chunks
    # data unchanged after compaction
    assert eng.read_pandas("d", "s")["v"].sum() == 50.0


def test_compact_schema_grown_sensor_keeps_fill_values(eng):
    """Compaction rewrites through the upsert's fold: cells from before
    a schema growth are written as the metric's fill value, so the
    pyarrow fast path and the Spark read still agree afterwards (a raw
    rewrite stored them as NULL, which the fast path read as NaN)."""
    from ong_tsdb_spark.plans import maintenance

    eng.create_sensor("d", "g", "1s", ["a"])
    t0 = 1672617600 // 16384 * 16384
    old = pd.to_datetime([t0 + i for i in range(4)], unit="s", utc=True)
    eng.write_df("d", "g", pd.DataFrame({"a": np.arange(4.0)}, index=old))
    new = pd.to_datetime([t0 + 16384, t0 + 16385], unit="s", utc=True)
    eng.write_df(
        "d", "g", pd.DataFrame({"a": [5.0, 6.0], "b": [3.0, 3.0]}, index=new),
        fill_value=7.0,
    )
    before = eng.read_pandas("d", "g")
    assert before["b"].tolist() == [7, 7, 7, 7, 3, 3]

    assert maintenance.compact_sensor(eng, "d", "g", codec="snappy") == 2
    fast = eng.read_pandas("d", "g")
    spark_read = eng.read("d", "g").toPandas()
    assert fast.equals(before)
    assert fast["b"].tolist() == spark_read["b"].tolist()
    assert fast["a"].tolist() == spark_read["a"].tolist()


def test_streaming_ingest(eng, tmp_path):
    from ong_tsdb_spark.streaming import ingest

    eng.create_sensor("d", "s", "1s", ["active", "reactive"])
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "batch1.txt").write_text(
        "d,key=s active=1,reactive=2 1672617600000000000\n"
        "d,key=s active=3 1672617601000000000\n"
    )
    q = ingest.start_influx_file_stream(
        eng, str(in_dir), str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    out = eng.read_pandas("d", "s")
    assert len(out) == 2
    assert out["active"].tolist() == [1.0, 3.0]
    assert out["reactive"].iloc[0] == 2.0 and math.isnan(out["reactive"].iloc[1])


def test_streaming_rollup_refresh(eng, tmp_path):
    """Continuous aggregates: the ingest stream incrementally
    refreshes registered rollups per micro-batch, so downsampled
    reads keep serving from the rollup — including when a later batch
    lands mid-bucket (the refresh is bucket-aligned)."""
    from ong_tsdb_spark.plans.rollup import rollup_sensor
    from ong_tsdb_spark.streaming import ingest

    eng.create_sensor("d", "sr", "1s", ["v"])
    t0 = 1672617600  # minute-aligned
    # register the rollup (empty source -> empty rollup)
    rollup_sensor(eng, "d", "sr", "sr_1m", freq="60s", agg="first")

    in_dir = tmp_path / "in2"
    in_dir.mkdir()
    lines = [f"d,key=sr v={i} {(t0 + i) * 10**9}" for i in range(0, 90)]
    (in_dir / "b1.txt").write_text("\n".join(lines))
    q = ingest.start_influx_file_stream(
        eng, str(in_dir), str(tmp_path / "ckpt2"), trigger_once=True,
        refresh_rollups=True,
    )
    q.awaitTermination(120)
    roll = eng.read_pandas("d", "sr_1m")
    assert len(roll) == 2  # two 60s buckets
    assert roll["v"].tolist() == [0.0, 60.0]  # first of each bucket

    # a second batch lands MID-bucket (t0+95): its refresh span must
    # re-aggregate the whole [t0+60, t0+120) bucket, keeping first=60
    (in_dir / "b2.txt").write_text(f"d,key=sr v=95 {(t0 + 95) * 10**9}")
    q = ingest.start_influx_file_stream(
        eng, str(in_dir), str(tmp_path / "ckpt2"), trigger_once=True,
        refresh_rollups=True,
    )
    q.awaitTermination(120)
    roll2 = eng.read_pandas("d", "sr_1m")
    assert roll2["v"].tolist() == [0.0, 60.0]  # NOT 95 — bucket-aligned refresh
    # and the rollup now serves downsampled reads (fresh through range)
    assert (
        eng._pick_rollup_for("d", "sr", float(t0), float(t0 + 119), 60, None)
        == "sr_1m"
    )


# ----------------------------------------------------------------------
# as-of join
# ----------------------------------------------------------------------
def test_asof_join_basic(spark):
    from ong_tsdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 200), (3, "u2", 150), (4, "u3", 50)],
        "event_id long, user string, ts long",
    )
    right = spark.createDataFrame(
        [("u1", 90, 9.0), ("u1", 150, 15.0), ("u2", 150, 99.0)],
        "user string, ts long, v double",
    )
    out = {
        r["event_id"]: (r["v_right"], r["ts_right"])
        for r in asof_join(left, right, "ts", ["user"], ["v"]).collect()
    }
    assert out[1] == (9.0, 90)     # latest right <= 100
    assert out[2] == (15.0, 150)   # picks the newer one
    assert out[3] == (99.0, 150)   # exactly simultaneous matches
    assert out[4] == (None, None)  # no right rows for u3


def test_asof_join_null_ts_right_rows_never_match(spark):
    """Code-review r9: a NULL-ts right row used to sort to the window
    head (nulls first) where last(ignorenulls) picked up its VALUE while
    __f_ts kept another row's timestamp — left rows reported values from
    a row that never matched.  Such rows must be invisible, like
    DuckDB's ASOF JOIN treats a NULL-ts build row."""
    from ong_tsdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u2", 100)], "event_id long, user string, ts long"
    )
    right = spark.createDataFrame(
        [("u1", None, 666.0), ("u1", 90, 9.0), ("u2", None, 777.0)],
        "user string, ts long, v double",
    )
    out = {
        r["event_id"]: (r["v_right"], r["ts_right"])
        for r in asof_join(left, right, "ts", ["user"], ["v"]).collect()
    }
    assert out[1] == (9.0, 90)      # real row wins; 666.0 never leaks
    assert out[2] == (None, None)   # only a null-ts row -> no match


def test_asof_join_tolerance(spark):
    from ong_tsdb_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "u", 1000)], "id long, user string, ts long")
    right = spark.createDataFrame([("u", 100, 5.0)], "user string, ts long, v double")
    out = asof_join(left, right, "ts", ["user"], ["v"], tolerance=100).first()
    assert out["v_right"] is None  # match is 900 ticks old > tolerance
    out2 = asof_join(left, right, "ts", ["user"], ["v"], tolerance=1000).first()
    assert out2["v_right"] == 5.0


# ----------------------------------------------------------------------
# stateful streaming (EWMA anomaly)
# ----------------------------------------------------------------------
def test_ewma_anomaly_stream(spark, tmp_path):
    import json

    from ong_tsdb_spark.streaming.stateful import ewma_anomaly_stream

    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    rows = [{"sensor": "s1", "ts_sec": float(i), "value": 10.0} for i in range(20)]
    rows.append({"sensor": "s1", "ts_sec": 20.0, "value": 1000.0})  # spike
    (in_dir / "b.json").write_text("\n".join(json.dumps(r) for r in rows))

    ticks = (
        spark.readStream.schema("sensor string, ts_sec double, value double")
        .json(str(in_dir))
    )
    out = ewma_anomaly_stream(ticks, alpha=0.2, z_threshold=3.0)
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM ewma_out ORDER BY ts_sec").collect()
    assert len(res) == 21
    assert all(r["is_anomaly"] == 0 for r in res[:20])  # flat series: no anomalies
    assert res[20]["is_anomaly"] == 1                   # the spike flags
    assert res[20]["value"] == 1000.0


def test_ewma_state_survives_batches(spark, tmp_path):
    import json

    from ong_tsdb_spark.streaming.stateful import ewma_anomaly_stream

    in_dir = tmp_path / "stream_in2"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text(
        "\n".join(json.dumps({"sensor": "s", "ts_sec": float(i), "value": 5.0}) for i in range(10))
    )
    ticks = (
        spark.readStream.schema("sensor string, ts_sec double, value double")
        .json(str(in_dir))
    )
    out = ewma_anomaly_stream(ticks, alpha=0.5, z_threshold=2.0)
    ckpt = str(tmp_path / "ckpt2")
    sink = str(tmp_path / "sink2")

    def run_once():
        q = (
            out.writeStream.format("json").option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    # second batch: a spike that is only anomalous if state persisted
    (in_dir / "b2.json").write_text(json.dumps({"sensor": "s", "ts_sec": 10.0, "value": 500.0}))
    run_once()
    res = (
        spark.read.schema(
            "sensor string, ts_sec double, value double, ewma double, zscore double, is_anomaly long"
        )
        .json(sink)
        .orderBy("ts_sec")
        .collect()
    )
    assert len(res) == 11
    assert res[10]["is_anomaly"] == 1


# ----------------------------------------------------------------------
# auth
# ----------------------------------------------------------------------
def test_auth_roles(spark, tmp_path):
    from ong_tsdb_spark.auth import NotAuthorizedError, generate_token

    admin = generate_token()
    e = OngTsdbSpark(spark, str(tmp_path / "authdb"), admin_key=admin)
    with pytest.raises(NotAuthorizedError):
        e.create_db("d")  # no key
    with pytest.raises(NotAuthorizedError):
        e.create_db("d", key="wrong")
    e.create_db("d", key=admin)
    e.create_sensor("d", "s", "1s", ["v"], read_key="rk", write_key="wk", key=admin)

    idx = pd.date_range("2023-01-02", periods=2, freq="1s", tz="UTC")
    pdf = pd.DataFrame({"v": [1.0, 2.0]}, index=idx)

    with pytest.raises(NotAuthorizedError):
        e.write_spark_df("d", "s", spark.createDataFrame([(1.0, 1.0)], "ts_sec double, v double"), key="rk")

    # write key can write AND read; read key reads only
    sdf = spark.createDataFrame([(1672617600.0, 5.0)], "ts_sec double, v double")
    e.write_spark_df("d", "s", sdf, key="wk")
    assert e.read("d", "s", key="wk").count() == 1
    assert e.read("d", "s", key="rk").count() == 1
    assert e.read("d", "s", key=admin).count() == 1
    with pytest.raises(NotAuthorizedError):
        e.read("d", "s", key="wrong")
    with pytest.raises(NotAuthorizedError):
        e.delete_sensor("d", "s", key="wk")  # DDL needs admin


def test_auth_keyless_sensor_requires_admin(spark, tmp_path):
    """Reference parity (__is_key database.py:142-152): when an admin
    key exists, a sensor with no configured read/write keys admits
    ONLY the admin key — unset keys are closed, not open."""
    from ong_tsdb_spark.auth import NotAuthorizedError, generate_token

    admin = generate_token()
    e = OngTsdbSpark(spark, str(tmp_path / "authdb2"), admin_key=admin)
    e.create_db("d", key=admin)
    e.create_sensor("d", "s", "1s", ["v"], key=admin)  # no sensor keys
    sdf = spark.createDataFrame([(1672617600.0, 5.0)], "ts_sec double, v double")
    with pytest.raises(NotAuthorizedError):
        e.write_spark_df("d", "s", sdf)  # no key
    e.write_spark_df("d", "s", sdf, key=admin)
    # every read-shaped accessor now requires READ auth (ADVICE r1)
    for call in (
        lambda k: e.read("d", "s", key=k),
        lambda k: e.read_pandas("d", "s", key=k),
        lambda k: e.read_downsampled("d", "s", 0, 2e9, 10, key=k),
        lambda k: e.get_last_timestamp("d", "s", key=k),
        lambda k: e.get_metrics("d", "s", key=k),
        lambda k: e.get_metadata("d", "s", key=k),
    ):
        with pytest.raises(NotAuthorizedError):
            call(None)
        call(admin)  # admin key passes


def test_auth_disabled_by_default(spark, tmp_path):
    e = OngTsdbSpark(spark, str(tmp_path / "open"))
    e.create_db("d")
    e.create_sensor("d", "s", "1s", ["v"])
    assert e.read("d", "s") is None  # no data yet, but no auth error


# ----------------------------------------------------------------------
# IVF (k-means coarse quantizer + nprobe search)
# ----------------------------------------------------------------------
def test_ivf_kmeans_and_search(spark):
    rng = np.random.RandomState(11)
    # 3 well-separated clusters in 8-d
    centers = np.eye(3, 8) * 10
    vecs = np.vstack([centers[i % 3] + rng.randn(8) * 0.1 for i in range(90)]).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(90)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from ong_tsdb_spark.operators.similarity import (
        cosine_topk, ivf_assign, ivf_topk, train_ivf_centroids,
    )

    cents = train_ivf_centroids(df, k=3, iters=4)
    assert len(cents) == 3 and len(cents[0]) == 8
    # all members of one true cluster land in one IVF list
    assigned = ivf_assign(df, cents)
    purity = (
        assigned.withColumn("true_c", F.col("vec_id") % 3)
        .groupBy("true_c")
        .agg(F.countDistinct("ivf_cluster").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in purity)

    # nprobe=1 search returns exactly the brute-force top-k (clusters
    # are separated, so the true neighbors share the query's list)
    q = [float(x) for x in vecs[0]]
    ivf = ivf_topk(df, cents, q, k=5, nprobe=1, exclude_ids=[0]).collect()
    brute = cosine_topk(df, q, k=5, exclude_ids=[0]).collect()
    assert [r["vec_id"] for r in ivf] == [r["vec_id"] for r in brute]


def test_ivf_exact_trainer_partition_invariant(spark):
    """The integer-exact trainer's whole point: centroids are
    BIT-IDENTICAL regardless of physical partitioning (a double-avg
    trainer cannot promise this — partial-sum order varies), and they
    match a pure-Python reference implementation of the same spec."""
    import math

    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 6).astype("float32") * 0.4
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]

    from ong_tsdb_spark.operators.similarity import (
        IVF_QUANT_SCALE, cosine_topk, ivf_quantize_py, ivf_topk_exact,
        train_ivf_centroids_exact,
    )

    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df32 = df1.repartition(32)
    df3 = df1.repartition(3, "vec_id")
    c1 = train_ivf_centroids_exact(df1, k=4, iters=2)
    c32 = train_ivf_centroids_exact(df32, k=4, iters=2)
    c3 = train_ivf_centroids_exact(df3, k=4, iters=2)
    assert c1 == c32 == c3  # exact integer equality
    # the Arrow int64-matmul assignment and the Catalyst fold are the
    # same exact arithmetic: identical centroids, bit for bit
    assert train_ivf_centroids_exact(df32, k=4, iters=2, use_arrow=False) == c1

    # pure-Python reference of the same spec
    qvs = {i: ivf_quantize_py(list(map(float, vecs[i]))) for i in range(60)}
    cents = [qvs[i] for i in range(4)]
    for _ in range(2):
        buckets: dict[int, list[list[int]]] = {}
        for i in range(60):
            d = [
                (sum((a - b) * (a - b) for a, b in zip(qvs[i], c)), j)
                for j, c in enumerate(cents)
            ]
            buckets.setdefault(min(d)[1], []).append(qvs[i])
        cents = [
            [sum(col) // len(col) for col in zip(*buckets[j])]
            if j in buckets
            else cents[j]
            for j in range(4)
        ]
    assert c1 == cents

    # quantization really is rounding-free: scale is a power of two
    assert IVF_QUANT_SCALE & (IVF_QUANT_SCALE - 1) == 0
    q = [float(x) for x in vecs[0]]
    got = ivf_topk_exact(df1, c1, q, k=5, nprobe=4, exclude_ids=[0]).collect()
    brute = cosine_topk(df1, q, k=5, exclude_ids=[0]).collect()
    # nprobe = k probes everything -> exact equality with brute force
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]


def test_lsh_bucket_expr_non_identifier_column(spark):
    """ADVICE r14: a column name that needs backticks (space, dot,
    reserved word) must not be interpolated raw into the SQL fast
    path — it takes the Column-loop fallback and yields the same
    buckets as an identifier-named column."""
    from ong_tsdb_spark.operators.similarity import lsh_bucket_expr

    rows = [(i, [float(i) - 2.0, 1.0, -1.0, 0.5]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = [
        r[0]
        for r in df.select(lsh_bucket_expr("embedding", 4, 8)).collect()
    ]
    for weird in ("vec col", "select", "a.b"):
        got = [
            r[0]
            for r in df.withColumnRenamed("embedding", weird)
            .select(lsh_bucket_expr(weird, 4, 8))
            .collect()
        ]
        assert got == want, weird


def test_load_plan_cache_survives_regeneration(spark, tmp_path):
    """ADVICE r14: load()'s per-session scan memo must not serve a
    stale file-listing snapshot when a testdata path is REGENERATED
    within one session — the memo key carries the path's mtime."""
    import os
    import time as _time

    from ong_tsdb_spark import entry_queries

    p = str(tmp_path)
    spark.range(3).toDF("x").write.mode("overwrite").parquet(
        f"{p}/t.parquet"
    )
    assert entry_queries.load(spark, p, "t").count() == 3
    _time.sleep(0.01)  # ensure a distinct mtime_ns
    spark.range(7).toDF("x").write.mode("overwrite").parquet(
        f"{p}/t.parquet"
    )
    os.utime(f"{p}/t.parquet")
    assert entry_queries.load(spark, p, "t").count() == 7


def test_ivf_trainer_fused_partials_dirty_corpus(spark):
    """The r15 fused assignment+partial-sum Arrow boundary (the
    trainer returns per-batch (cluster, n, dim sums) partials instead
    of per-row assignments) must train BIT-IDENTICAL centroids to the
    Catalyst reference on a corpus carrying every dirty-vector class
    the quantizer nulls (null vector, null element, NaN, Inf,
    |x| > EXACT_MAX_ABS), and regardless of batch/partition
    boundaries (partials are summed across batches)."""
    import random

    from ong_tsdb_spark.operators.similarity import train_ivf_centroids_exact

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    rows += [
        (90, None),
        (91, [None] + [0.1] * 7),
        (92, [float("nan")] + [0.2] * 7),
        (93, [float("inf")] + [0.3] * 7),
        (94, [1e30] + [0.4] * 7),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ref = train_ivf_centroids_exact(df, k=4, iters=3, use_arrow=False)
    assert train_ivf_centroids_exact(df, k=4, iters=3) == ref
    assert (
        train_ivf_centroids_exact(df.repartition(16), k=4, iters=3) == ref
    )
    assert (
        train_ivf_centroids_exact(df.coalesce(1), k=4, iters=3) == ref
    )


def test_adaptive_shingle_cap_skewed_corpus(spark):
    """ROADMAP #4: on a skewed corpus (one 3-gram shared by every doc)
    the auto cap drops the mega-shingle before the pair join — pair
    candidates collapse from C(n,2) to ~0.  On a corpus with no hot
    shingle the auto cap changes nothing."""
    from ong_tsdb_spark.operators import dedup

    n_docs = 100
    skewed = spark.createDataFrame(
        [(i, f"common phrase here u{i}a u{i}b u{i}c") for i in range(n_docs)],
        "doc_id long, text string",
    )
    uncapped = dedup.ngram_jaccard_pairs(
        skewed, threshold=0.0, max_shingle_freq=None
    ).count()
    auto = dedup.ngram_jaccard_pairs(
        skewed, threshold=0.0, max_shingle_freq="auto"
    ).count()
    assert uncapped == n_docs * (n_docs - 1) // 2  # quadratic blowup
    assert auto == 0  # hot shingle dropped, no candidates at all

    uniform = spark.createDataFrame(
        [(i, f"w{i}x w{i}y w{i}z w{i}q w{(i+1) % 20}x shared{i % 2}") for i in range(40)],
        "doc_id long, text string",
    )
    plain = dedup.ngram_jaccard_pairs(
        uniform, threshold=0.0, max_shingle_freq=None
    ).collect()
    adaptive = dedup.ngram_jaccard_pairs(
        uniform, threshold=0.0, max_shingle_freq="auto"
    ).collect()
    key = lambda r: (r["d1"], r["d2"], r["jaccard"])
    assert sorted(map(key, adaptive)) == sorted(map(key, plain))


def test_quantize_embeddings_roundtrip(spark):
    """int8 quantization: values land in [-128, 127], dequantization
    error is bounded by one quantization step (1/scale), zero vectors
    are dropped."""
    from ong_tsdb_spark.operators.similarity import dequantize_expr, quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 1.0]),
        (2, [100.0, -50.0, 0.0, 25.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qt = quantize_embeddings(df)
    out = {r["vec_id"]: r for r in qt.collect()}
    assert 3 not in out and len(out) == 2
    for vid, orig in [(1, rows[0][1]), (2, rows[1][1])]:
        r = out[vid]
        assert all(-128 <= q <= 127 for q in r["qvec"])
        step = 1.0 / r["scale"]
        deq = [q / r["scale"] for q in r["qvec"]]
        assert all(abs(d - o) <= step + 1e-12 for d, o in zip(deq, orig))
    # dequantize_expr matches the python reconstruction
    d = qt.select("vec_id", dequantize_expr(F.col("qvec"), F.col("scale")).alias("d")).collect()
    for r in d:
        q = out[r["vec_id"]]
        assert list(r["d"]) == [x / q["scale"] for x in q["qvec"]]


def test_ivf_index_persistence(spark, tmp_path):
    """ROADMAP #3: persisted index (centroids sidecar + ivf_cluster
    partitioning) returns the same results as in-memory ivf_topk, and
    the probe prunes partitions at the source."""
    rng = np.random.RandomState(7)
    centers = np.eye(4, 16) * 8
    vecs = np.vstack([centers[i % 4] + rng.randn(16) * 0.1 for i in range(80)]).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    from ong_tsdb_spark.operators.similarity import (
        ivf_topk, ivf_topk_persisted, read_ivf_centroids, train_ivf_centroids,
        write_ivf_index,
    )

    cents = train_ivf_centroids(df, k=4, iters=4)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(df, cents, path)
    assert read_ivf_centroids(path) == cents

    q = [float(x) for x in vecs[1]]
    live = ivf_topk(df, cents, q, k=5, nprobe=2, exclude_ids=[1]).collect()
    persisted = ivf_topk_persisted(spark, path, q, k=5, nprobe=2, exclude_ids=[1])
    got = persisted.collect()
    assert [(r["vec_id"], r["rank"]) for r in got] == [
        (r["vec_id"], r["rank"]) for r in live
    ]
    # the probe must prune ivf_cluster partitions at the scan
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split("PartitionFilters")[1][:200]


def test_blocked_pairs_max_block_size(spark):
    """The cap excludes oversized blocks from the pair join entirely
    (bounded quadratic term by construction)."""
    from ong_tsdb_spark.operators.similarity import cosine_pairs_blocked

    rows = [(i, "hot" if i < 50 else "cold", [1.0, 0.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, blk string, embedding array<float>")
    capped = cosine_pairs_blocked(
        df, block_col="blk", threshold=0.5, max_block_size=20
    )
    out = capped.collect()
    # hot block (50 members) dropped; cold block (10) produces C(10,2)
    assert len(out) == 45
    assert all(r["d1"] >= 50 for r in out)


def test_blocked_pairs_cap_defaults_on(spark):
    """Both pair executors ship with the block cap ON: a block above
    DEFAULT_BLOCK_CAP is silently excluded unless the caller passes
    max_block_size=None explicitly."""
    from ong_tsdb_spark.operators.similarity import (
        DEFAULT_BLOCK_CAP,
        cosine_pairs_blocked,
        cosine_pairs_blocked_numpy,
    )

    n_hot = DEFAULT_BLOCK_CAP + 1
    rows = [(i, "hot", [1.0, 0.0]) for i in range(n_hot)] + [
        (n_hot, "cold", [1.0, 0.0]),
        (n_hot + 1, "cold", [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, blk string, embedding array<float>")
    for fn in (cosine_pairs_blocked, cosine_pairs_blocked_numpy):
        out = fn(df, block_col="blk", threshold=0.5).collect()
        assert len(out) == 1 and out[0]["d1"] == n_hot, fn.__name__
    # explicit opt-out restores the full quadratic set
    uncapped = cosine_pairs_blocked_numpy(
        df, block_col="blk", threshold=0.5, max_block_size=None
    )
    assert uncapped.count() == n_hot * (n_hot - 1) // 2 + 1


# ----------------------------------------------------------------------
# rollup (continuous aggregates)
# ----------------------------------------------------------------------
def test_rollup_sensor(eng):
    from ong_tsdb_spark.plans.rollup import rollup_sensor

    eng.create_sensor("d", "raw", "1s", ["v"])
    idx = pd.date_range("2023-01-02", periods=3600, freq="1s", tz="UTC")
    eng.write_df("d", "raw", pd.DataFrame({"v": np.arange(3600.0)}, index=idx))
    rollup_sensor(eng, "d", "raw", "raw_1h", freq="1h", agg="avg")
    out = eng.read_pandas("d", "raw_1h")
    assert len(out) == 1
    assert out["v"].iloc[0] == pytest.approx(np.arange(3600.0).mean())
    assert eng.get_metadata("d", "raw_1h")["rollup_of"] == "raw"
    # incremental refresh: new source hour -> only that bucket changes
    idx2 = pd.date_range("2023-01-02 01:00", periods=3600, freq="1s", tz="UTC")
    eng.write_df("d", "raw", pd.DataFrame({"v": np.full(3600, 7.0)}, index=idx2))
    rollup_sensor(eng, "d", "raw", "raw_1h", freq="1h", agg="avg",
                  start_ts=idx2[0].timestamp())
    out2 = eng.read_pandas("d", "raw_1h")
    assert len(out2) == 2
    assert out2["v"].iloc[0] == pytest.approx(np.arange(3600.0).mean())  # untouched
    assert out2["v"].iloc[1] == 7.0


def test_rollup_refresh_mid_bucket_keeps_full_bucket(eng):
    """Regression (round-2 ADVICE): an incremental refresh whose span
    ENDS mid-bucket, while later source data exists, must not recompute
    the following bucket from partial data.  The old end clamp
    (snap(end) + tick - 1e-9) rounded to exactly the next bucket start
    at epoch magnitudes, pulling that bucket's first source sample into
    the refresh and overwriting its correct average via last-wins."""
    from ong_tsdb_spark.plans.rollup import rollup_sensor

    eng.create_sensor("d", "rawmb", "1s", ["v"])
    # two full minutes; minute 1's FIRST sample (100) differs from its
    # average (129.5) so partial recomputation is detectable
    idx = pd.date_range("2023-01-02", periods=120, freq="1s", tz="UTC")
    vals = np.concatenate([np.full(60, 1.0), np.arange(60.0) + 100.0])
    eng.write_df("d", "rawmb", pd.DataFrame({"v": vals}, index=idx))
    rollup_sensor(eng, "d", "rawmb", "rawmb_1m", freq="60s", agg="avg")
    out = eng.read_pandas("d", "rawmb_1m")
    assert list(out["v"]) == [1.0, 129.5]
    # refresh a span ending mid-bucket-0 (t0+30 s); bucket 1 has data
    t0 = idx[0].timestamp()
    rollup_sensor(eng, "d", "rawmb", "rawmb_1m", freq="60s", agg="avg",
                  start_ts=t0, end_ts=t0 + 30)
    out2 = eng.read_pandas("d", "rawmb_1m")
    # bucket 0 recomputed from its FULL source minute, bucket 1 untouched
    assert list(out2["v"]) == [1.0, 129.5]


def test_chunked_running_sum_matches_single_window(spark):
    """The two-pass chunked prefix sum equals the single-window plan
    value-for-value (decimal exactness), including chunk-boundary rows
    and keys whose data spans one chunk only."""
    from ong_tsdb_spark.operators.prefix import chunked_running_sum

    rows = [
        ("a", t, t % 7, float(t % 13) - 3.0) for t in range(200)
    ] + [("b", t, t, 0.25 * t) for t in range(35)]
    df = spark.createDataFrame(rows, "k string, ts long, id long, value double")
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    plain = df.select(
        "k", "ts", "id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("rt"),
    ).collect()
    chunked = chunked_running_sum(
        df,
        key_cols=["k"],
        order_cols=["ts", "id"],
        value=F.col("value").cast("decimal(18,2)"),
        chunk=F.floor(F.col("ts") / F.lit(50)),
        out_col="rt",
    ).select("k", "ts", "id", F.col("rt").cast("double").alias("rt")).collect()
    key = lambda r: (r["k"], r["ts"], r["id"])
    assert sorted(chunked, key=key) == sorted(plain, key=key)


def test_chunked_running_sum_null_key_rows_survive(spark):
    """Code-review r9 (edge corpus): a window PARTITION BY treats a
    NULL key as a real group, but the offset join's plain equi-keys
    silently DROPPED null-keyed rows — the chunked plan lost rows the
    single-window plan keeps.  Null-safe join keys fix it; values must
    still match the single window exactly."""
    from ong_tsdb_spark.operators.prefix import chunked_running_sum

    rows = [("a", 1, 1, 1.0), ("a", 2, 2, 2.0),
            (None, 1, 3, 5.0), (None, 60, 4, 7.0)]
    df = spark.createDataFrame(rows, "k string, ts long, id long, value double")
    out = chunked_running_sum(
        df, key_cols=["k"], order_cols=["ts", "id"],
        value=F.col("value").cast("decimal(18,2)"),
        chunk=F.floor(F.col("ts") / F.lit(50)),
        out_col="rt",
    ).collect()
    assert len(out) == 4  # nothing dropped
    got = {r["id"]: float(r["rt"]) for r in out}
    assert got[3] == 5.0 and got[4] == 12.0  # NULL-key prefix sums


def test_gap_fill_null_series_survives(spark):
    """Code-review r9 (edge corpus): the grid/carry stitching joins
    dropped a NULL-keyed series entirely; with null-safe keys the
    series fills like any other."""
    from ong_tsdb_spark.operators.gapfill import gap_fill_ffill, gap_fill_linear

    rows = [(None, 0, 1, 1.0), (None, 1800, 2, 3.0), ("a", 0, 3, 9.0)]
    df = spark.createDataFrame(rows, "k string, s long, id long, v double")
    ff = gap_fill_ffill(df, ts_sec_col="s", series_cols=["k"],
                        value_cols=["v"], tick_seconds=900,
                        tiebreak_cols=["id"])
    got = {(r["k"], r["tick_s"]): r["v"] for r in ff.collect()}
    assert got[(None, 0)] == 1.0
    assert got[(None, 900)] == 1.0   # forward-filled inside NULL series
    assert got[(None, 1800)] == 3.0
    assert got[("a", 0)] == 9.0
    lin = gap_fill_linear(df, ts_sec_col="s", series_cols=["k"],
                          value_col="v", tick_seconds=900,
                          tiebreak_cols=["id"])
    gl = {(r["k"], r["tick_s"]): r["v"] for r in lin.collect()}
    assert gl[(None, 900)] == 2.0    # midpoint interpolation


def test_influx_parse_malformed_lines_tolerant(spark):
    """Code-review r9 (edge corpus): garbage lines must parse to NULL
    cells, never ANSI-kill the batch — a line without a field section
    hit element_at(head, 2), a field group without '=' hit the value
    pick, and non-numeric ts/value hit the plain casts."""
    from ong_tsdb_spark.sources import influx

    lines = spark.createDataFrame(
        [("just-one-section",),
         ("db,key=s value= 123",),          # empty value after '='
         ("db,key=s novalue 456",),         # kv without '='
         ("db,key=s value=abc notanum",),   # garbage value + ts
         (None,)],
        "line string",
    )
    out = influx.parse_lines(lines).collect()  # must not throw
    by_metric = {}
    for r in out:
        by_metric.setdefault(r["metric"], []).append(r)
    assert by_metric["novalue"][0]["value"] is None
    assert by_metric["value"] and all(
        r["value"] is None for r in by_metric["value"]
    )  # '' and 'abc' both null, never an exception


def test_retention_null_user_dropped(spark):
    """Code-review r9 (edge corpus): an anonymous (NULL-user) event has
    no retention identity — the join-free groupBy must not count the
    NULL key as one phantom user."""
    from ong_tsdb_spark.operators.events import WEEK_US, retention_cohorts

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (None, 0)], "user_id long, us long"
    )
    out = retention_cohorts(df, period_us=WEEK_US).collect()
    assert len(out) == 1 and out[0]["n_users"] == 2


def test_read_downsampled_served_from_rollup(eng):
    """ROADMAP #7: a 'first' rollup serves maxDataPoints reads exactly
    when its tick divides the spread and the phase aligns; misaligned
    or stale requests fall back to the raw scan."""
    from ong_tsdb_spark.plans.rollup import rollup_sensor

    eng.create_sensor("d", "r2", "1s", ["v"])
    t0 = 1672617600  # aligned to any integer tick
    idx = pd.date_range("2023-01-02", periods=7200, freq="1s", tz="UTC")
    eng.write_df("d", "r2", pd.DataFrame({"v": np.arange(7200.0)}, index=idx))
    rollup_sensor(eng, "d", "r2", "r2_1m", freq="60s", agg="first")

    start, end = float(t0), float(t0 + 7199)
    # spread = 7200/60 = 120 s -> divisible by the 60 s rollup tick
    assert eng._pick_rollup_for("d", "r2", start, end, 120, None) == "r2_1m"
    served = eng.read_downsampled("d", "r2", start, end, 60).collect()
    raw = eng.read_downsampled("d", "r2", start, end, 60, use_rollups=False).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in raw]
    assert len(served) == 60

    # misaligned phase (start not on the rollup grid) -> raw fallback
    assert eng._pick_rollup_for("d", "r2", start + 7, end + 7, 120, None) is None
    # spread not a multiple of the tick -> raw fallback
    assert eng._pick_rollup_for("d", "r2", start, end, 90, None) is None

    # stale rollup (new raw data past the rollup horizon) -> fallback
    idx2 = pd.date_range("2023-01-02 02:00", periods=60, freq="1s", tz="UTC")
    eng.write_df("d", "r2", pd.DataFrame({"v": np.zeros(60)}, index=idx2))
    assert (
        eng._pick_rollup_for("d", "r2", start, float(t0 + 7259), 120, None) is None
    )
    # refresh -> served again
    rollup_sensor(eng, "d", "r2", "r2_1m", freq="60s", agg="first",
                  start_ts=idx2[0].timestamp())
    assert (
        eng._pick_rollup_for("d", "r2", start, float(t0 + 7259), 120, None) == "r2_1m"
    )


def test_scrub_pii_and_repetition(spark):
    df = spark.createDataFrame(
        [(1, "write to bob.smith+x@mail.co or call +1 (555) 123-4567 at 192.168.0.1 now"),
         (2, "a b a b a b a b"),
         (3, "all words unique here today")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["s"] for r in df.select("doc_id", text.scrub_pii(F.col("text")).alias("s")).collect()}
    assert "<EMAIL>" in out[1] and "<PHONE>" in out[1] and "<IP>" in out[1]
    assert "bob" not in out[1] and "555" not in out[1] and "192.168" not in out[1]
    rep = {r["doc_id"]: r["r"] for r in df.select("doc_id", text.repetition_ratio(F.col("text")).alias("r")).collect()}
    assert rep[2] > 0.5      # heavy 3-gram repetition
    assert rep[3] == 0.0     # no repeats


# ----------------------------------------------------------------------
# streaming windowed aggregation (watermarked)
# ----------------------------------------------------------------------
def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    import json

    from ong_tsdb_spark.streaming.windows import windowed_agg

    in_dir = tmp_path / "win_in"
    in_dir.mkdir()
    rows = [
        {"sensor": "s", "ts": "2023-01-02 00:00:05", "value": 1.0},
        {"sensor": "s", "ts": "2023-01-02 00:00:40", "value": 2.0},
        {"sensor": "s", "ts": "2023-01-02 00:01:10", "value": 3.0},
        {"sensor": "s", "ts": "2023-01-02 00:05:00", "value": 9.0},  # advances watermark
    ]
    (in_dir / "b.json").write_text("\n".join(json.dumps(r) for r in rows))
    ticks = (
        spark.readStream.schema("sensor string, ts timestamp, value double")
        .json(str(in_dir))
    )
    out = windowed_agg(ticks, "1 minute", watermark_delay="2 minutes")
    q = (
        out.writeStream.format("memory").queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    res = {r["window_start"].isoformat(): r for r in spark.sql("SELECT * FROM win_out").collect()}
    # windows sealed by the watermark (00:00 and 00:01) are emitted
    assert "2023-01-02T00:00:00" in res
    w0 = res["2023-01-02T00:00:00"]
    assert w0["n"] == 2 and w0["sum_v"] == 3.0 and w0["max_v"] == 2.0
    assert res["2023-01-02T00:01:00"]["n"] == 1


def test_retention_drop(eng):
    from ong_tsdb_spark.plans import maintenance

    eng.create_sensor("d", "ret", "1s", ["v"])
    # 3 chunks: 16384 s apart
    idx = pd.to_datetime([1672617600 + i * 16384 for i in range(3)], unit="s", utc=True)
    eng.write_df("d", "ret", pd.DataFrame({"v": [1.0, 2.0, 3.0]}, index=idx))
    st = maintenance.verify_sensor(eng, "d", "ret")
    assert st.n_chunks == 3
    dropped = maintenance.apply_retention(eng, "d", "ret", older_than_ts=idx[2].timestamp())
    assert dropped == 2
    out = eng.read_pandas("d", "ret")
    assert out["v"].tolist() == [3.0]


def test_gap_fill_linear(spark):
    from ong_tsdb_spark.operators.gapfill import gap_fill_linear

    df = spark.createDataFrame(
        [("s", 0, 10.0), ("s", 40, 50.0), ("s", 50, 0.0)],
        "k string, ts long, v double",
    )
    out = {
        r["tick_s"]: r["v"]
        for r in gap_fill_linear(df, "ts", ["k"], "v", tick_seconds=10).collect()
    }
    assert out[0] == 10.0 and out[40] == 50.0 and out[50] == 0.0
    assert out[10] == 20.0 and out[20] == 30.0 and out[30] == 40.0  # interpolated


# ----------------------------------------------------------------------
# CLI (python -m ong_tsdb_spark)
# ----------------------------------------------------------------------
def test_cli_maintenance_surface(spark, tmp_path, capsys):
    """verify / rollup / retention / stats through main(argv) — the
    reference's __main__ maintenance surface."""
    from ong_tsdb_spark.__main__ import main

    base = str(tmp_path / "clidb")
    e = OngTsdbSpark(spark, base)
    e.create_db("d")
    e.create_sensor("d", "s", "1s", ["v"])
    idx = pd.date_range("2023-01-02", periods=3600, freq="1s", tz="UTC")
    e.write_df("d", "s", pd.DataFrame({"v": np.arange(3600.0)}, index=idx))

    assert main(["verify", "--base", base]) == 0
    out = capsys.readouterr().out
    assert "d.s: 3600 rows" in out

    assert main(["rollup", "--base", base, "--db", "d", "--sensor", "s",
                 "--dst", "s_1h", "--freq", "1h", "--agg", "first"]) == 0
    assert e.read_pandas("d", "s_1h")["v"].tolist() == [0.0]

    assert main(["stats", "--base", base]) == 0
    assert "d.s: freq=1s" in capsys.readouterr().out

    # retention: cutoff after everything -> all chunk partitions drop
    cutoff = idx[-1].timestamp() + 20000
    assert main(["retention", "--base", base, "--db", "d", "--sensor", "s",
                 "--older-than-ts", str(cutoff)]) == 0
    assert "dropped" in capsys.readouterr().out
    assert len(e.read_pandas("d", "s")) == 0


# ---------------------------------------------------------------------------
# chunked per-series windows (operators/chunkwin.py)
# ---------------------------------------------------------------------------

def _chunkwin_data(spark):
    """Two keys: 'a' dense (boundary-straddling), 'b' sparse — exactly
    one row per chunk, so lag(3) must cascade across three chunks."""
    rows = [("a", t, t % 5, float(t % 11) - 2.0) for t in range(0, 180)] + [
        ("b", t, 0, float(t)) for t in range(0, 500, 50)
    ]
    return spark.createDataFrame(rows, "k string, ts long, id long, value double")


def test_chunked_window_lag_matches_plain(spark):
    from ong_tsdb_spark.operators.chunkwin import chunked_window

    df = _chunkwin_data(spark)
    w = Window.partitionBy("k").orderBy("ts", "id")
    plain = df.select(
        "k", "ts", "id", F.lag("value", 1).over(w).alias("l1")
    ).collect()
    out = chunked_window(
        df,
        key_cols=["k"],
        order_cols=["ts", "id"],
        chunk_len=50,
        build=lambda w: {"l1": F.lag("value", 1).over(w)},
        rows_before=1,
    ).select("k", "ts", "id", "l1").collect()
    key = lambda r: (r["k"], r["ts"], r["id"])
    assert sorted(out, key=key) == sorted(plain, key=key)


def test_chunked_window_null_key_series_carries(spark):
    """Code-review r9 (edge corpus): the carry-cascade equi-joins
    dropped a NULL-keyed series' cross-chunk carries (NULL never
    equals NULL) — lag at that series' chunk edges diverged from the
    global window.  Null-safe keys fix it: a NULL series spanning
    three chunks must match the plain window row-for-row."""
    from ong_tsdb_spark.operators.chunkwin import chunked_window

    rows = [(None, t, t, float(t)) for t in (10, 60, 110, 160)] + [
        ("a", 10, 90, 1.0), ("a", 60, 91, 2.0)
    ]
    df = spark.createDataFrame(rows, "k string, ts long, id long, value double")
    w = Window.partitionBy("k").orderBy("ts", "id")
    plain = df.select(
        "k", "ts", "id", F.lag("value", 1).over(w).alias("l1")
    ).collect()
    out = chunked_window(
        df, key_cols=["k"], order_cols=["ts", "id"], chunk_len=50,
        build=lambda w: {"l1": F.lag("value", 1).over(w)}, rows_before=1,
    ).select("k", "ts", "id", "l1").collect()
    key = lambda r: (repr(r["k"]), r["ts"], r["id"])
    assert sorted(out, key=key) == sorted(plain, key=key)
    # the null series' 2nd..4th rows must SEE their predecessors
    null_lags = {r["ts"]: r["l1"] for r in out if r["k"] is None}
    assert null_lags == {10: None, 60: 10.0, 110: 60.0, 160: 110.0}


def test_chunked_window_rolling_rows_sparse_cascade(spark):
    """ROWS 3 PRECEDING with one-row chunks: carries must come from the
    three nearest non-empty chunks, not just the adjacent one."""
    from ong_tsdb_spark.operators.chunkwin import chunked_window

    df = _chunkwin_data(spark)
    w = Window.partitionBy("k").orderBy("ts", "id").rowsBetween(-3, 0)
    plain = df.select(
        "k", "ts", "id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("s"),
        F.count("value").over(w).alias("n"),
    ).collect()
    out = chunked_window(
        df,
        key_cols=["k"],
        order_cols=["ts", "id"],
        chunk_len=50,
        build=lambda wb: {
            "s": F.sum(F.col("value").cast("decimal(18,2)"))
            .over(wb.rowsBetween(-3, 0))
            .cast("double"),
            "n": F.count("value").over(wb.rowsBetween(-3, 0)),
        },
        rows_before=3,
    ).select("k", "ts", "id", "s", "n").collect()
    key = lambda r: (r["k"], r["ts"], r["id"])
    assert sorted(out, key=key) == sorted(plain, key=key)


def test_chunked_window_lead_matches_plain(spark):
    from ong_tsdb_spark.operators.chunkwin import chunked_window

    df = _chunkwin_data(spark)
    w = Window.partitionBy("k").orderBy("ts", "id")
    plain = df.select("k", "ts", "id", F.lead("ts").over(w).alias("nxt")).collect()
    out = chunked_window(
        df,
        key_cols=["k"],
        order_cols=["ts", "id"],
        chunk_len=50,
        build=lambda w: {"nxt": F.lead("ts").over(w)},
        rows_after=1,
    ).select("k", "ts", "id", "nxt").collect()
    key = lambda r: (r["k"], r["ts"], r["id"])
    assert sorted(out, key=key) == sorted(plain, key=key)


def test_chunked_window_range_frame_matches_plain(spark):
    """RANGE r PRECEDING with boundary-exact carries: rows landing
    exactly r before a next-chunk row must be inside its frame."""
    from ong_tsdb_spark.operators.chunkwin import chunked_window

    df = _chunkwin_data(spark)
    w = Window.partitionBy("k").orderBy("ts").rangeBetween(-20, 0)
    plain = df.select(
        "k", "ts", "id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("s"),
        F.count("*").over(w).alias("n"),
    ).collect()
    out = chunked_window(
        df,
        key_cols=["k"],
        order_cols=["ts"],
        chunk_len=50,
        build=lambda wb: {
            "s": F.sum(F.col("value").cast("decimal(18,2)"))
            .over(wb.rangeBetween(-20, 0))
            .cast("double"),
            "n": F.count("*").over(wb.rangeBetween(-20, 0)),
        },
        range_before=20,
    ).select("k", "ts", "id", "s", "n").collect()
    key = lambda r: (r["k"], r["ts"], r["id"])
    assert sorted(out, key=key) == sorted(plain, key=key)


def test_chunked_window_rejects_mixed_backward_modes(spark):
    from ong_tsdb_spark.operators.chunkwin import chunked_window

    df = _chunkwin_data(spark)
    with pytest.raises(ValueError):
        chunked_window(
            df, ["k"], ["ts"], 50, lambda w: {}, rows_before=1, range_before=10
        )
    with pytest.raises(ValueError):
        chunked_window(df, ["k"], ["ts"], 50, lambda w: {}, range_before=51)


def test_gap_fill_chunked_matches_unchunked(spark):
    """Tiny chunks (4 ticks) vs one giant chunk: identical output for
    both fill modes, including gaps that span whole empty chunks and
    carry-in/carry-out across many chunk edges."""
    from ong_tsdb_spark.operators.gapfill import gap_fill_ffill, gap_fill_linear

    # sparse series: observations at ticks 0, 30, 200, 210 (tick=10)
    # -> the 30..200 gap spans 4 entirely-empty 4-tick chunks
    rows = [("k1", 0, 1.0), ("k1", 30, 4.0), ("k1", 200, 21.0), ("k1", 210, 0.5),
            ("k2", 55, 7.0)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    for fn, kw in [
        (gap_fill_ffill, {"value_cols": ["v"]}),
        (gap_fill_linear, {"value_col": "v"}),
    ]:
        small = fn(df, "ts", ["k"], tick_seconds=10, chunk_ticks=4, **kw)
        big = fn(df, "ts", ["k"], tick_seconds=10, chunk_ticks=10_000, **kw)
        key = lambda r: (r["k"], r["tick_s"])
        assert sorted(small.collect(), key=key) == sorted(big.collect(), key=key)


def _tiny_png(w: int, h: int) -> bytes:
    """Author a real, spec-valid PNG with stdlib only."""
    import struct
    import zlib as _zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", _zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    scanlines = b"".join(b"\x00" + b"\x10\x20\x30" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def _tiny_wav(duration_s: float, rate: int = 8000) -> bytes:
    """Author a real WAV with stdlib only."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * int(rate * duration_s))
    return buf.getvalue()


def test_multimodal_real_decode_png_wav(spark):
    """decoders='real' extracts TRUE width/height/duration from
    real in-test payloads (stdlib PNG IHDR / wave decoders — no
    third-party libs needed), and refuses to fake what it can't
    decode."""
    rows = [
        (1, _tiny_png(37, 21), "image"),
        (2, _tiny_wav(2.5), "audio"),
    ]
    df = spark.createDataFrame(
        rows, "item_id long, payload binary, media_type string"
    )
    out = {
        r["item_id"]: r
        for r in multimodal.extract_features(df, decoders="real").collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (37, 21)
    assert out[1]["duration_s"] == 0.0
    assert abs(out[2]["duration_s"] - 2.5) < 1e-6
    # an undecodable payload must raise in real mode, not fabricate
    junk = spark.createDataFrame(
        [(3, b"not-an-image", "image")],
        "item_id long, payload binary, media_type string",
    )
    with pytest.raises(Exception, match="NotImplementedError|truly decode"):
        multimodal.extract_features(junk, decoders="real").collect()
    # auto mode on the same payloads: real values, stub for the junk
    all_rows = df.union(junk)
    auto = {
        r["item_id"]: r
        for r in multimodal.extract_features(all_rows, decoders="auto").collect()
    }
    assert (auto[1]["width"], auto[1]["height"]) == (37, 21)
    assert abs(auto[2]["duration_s"] - 2.5) < 1e-6
    assert auto[3]["width"] >= 64  # digest stub range


@pytest.mark.skipif(
    not all(
        __import__("importlib").util.find_spec(m) for m in ["PIL"]
    ),
    reason="PIL not installed",
)
def test_multimodal_real_decode_via_pil(spark):
    """When PIL is importable the library tier decodes (takes priority
    over the stdlib PNG parse) — same true dimensions."""
    df = spark.createDataFrame(
        [(1, _tiny_png(5, 9), "image")],
        "item_id long, payload binary, media_type string",
    )
    r = multimodal.extract_features(df, decoders="real").first()
    assert (r["width"], r["height"]) == (5, 9)


# ----------------------------------------------------------------------
# streaming dedup (bounded-state + persistent ledger)
# ----------------------------------------------------------------------
def test_ledger_dedup_batch_logic(spark, tmp_path):
    """The ledger protocol, unit-level: within-batch dedup, cross-batch
    anti-join, ledger idempotency on replay, compaction."""
    from ong_tsdb_spark.streaming.dedup import (
        FINGERPRINT_COL, compact_ledger, dedup_batch_against_ledger,
    )

    ledger = str(tmp_path / "ledger")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    fresh1 = dedup_batch_against_ledger(spark, b1, ledger)
    assert fresh1.count() == 2  # alpha kept once within the batch
    fresh1.select(FINGERPRINT_COL).write.mode("append").parquet(ledger)

    # batch 2: one true duplicate of batch 1, one new doc
    b2 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], "doc_id long, text string"
    )
    fresh2 = dedup_batch_against_ledger(spark, b2, ledger)
    assert [r["doc_id"] for r in fresh2.collect()] == [5]
    fresh2.select(FINGERPRINT_COL).write.mode("append").parquet(ledger)

    # replay batch 2 (at-least-once delivery): nothing new emitted
    assert dedup_batch_against_ledger(spark, b2, ledger).count() == 0
    # replay may have appended duplicate digest rows: compaction
    fresh2.select(FINGERPRINT_COL).write.mode("append").parquet(ledger)
    assert compact_ledger(spark, ledger) == 3  # alpha, beta, gamma


def test_ledger_dedup_stream_end_to_end(spark, tmp_path):
    """Real streaming query: two duplicate-bearing files through
    start_ledger_dedup — output has one copy per distinct content and
    the ledger holds exactly the distinct digests."""
    import json

    from ong_tsdb_spark.streaming.dedup import start_ledger_dedup

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()
    (in_dir / "f1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": "alpha"},
                {"doc_id": 2, "text": "beta"},
                {"doc_id": 3, "text": "alpha"},
            ]
        )
    )
    (in_dir / "f2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 4, "text": "beta"},
                {"doc_id": 5, "text": "gamma"},
            ]
        )
    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).json(str(in_dir))
    q = start_ledger_dedup(
        spark,
        stream,
        ledger_path=str(tmp_path / "ledger"),
        out_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    texts = sorted(r["text"] for r in out.collect())
    assert texts == ["alpha", "beta", "gamma"]
    ledger = spark.read.parquet(str(tmp_path / "ledger"))
    assert ledger.distinct().count() == 3


def test_semantic_dedup_planted(spark):
    """SemDedup on a planted fixture: two tight duplicate groups and a
    singleton.  Keep = lowest id per similar group; BLAS and Catalyst
    paths must agree bit-for-bit."""
    dim = 8
    a = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    a2 = [0.999, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    a3 = [0.998, 0.0, 0.02, 0.0, 0.0, 0.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    b2 = [0.01, 0.999, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    c = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]
    rows = [(0, a), (1, b), (2, a2), (3, a3), (4, b2), (5, c)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {
        r["vec_id"]: (r["cid"], r["keep"])
        for r in similarity.semantic_dedup(df, k=2, iters=2, threshold=0.95).collect()
    }
    keeps = {v: out[v][1] for v in sorted(out)}
    # lowest id of each near-dup group survives; the singleton survives
    assert keeps == {0: True, 1: True, 2: False, 3: False, 4: False, 5: True}

    ref = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(
            df, k=2, iters=2, threshold=0.95, use_blas=False
        ).collect()
    )
    blas = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(df, k=2, iters=2, threshold=0.95).collect()
    )
    assert ref == blas


def test_semantic_dedup_tiling_invariant(spark):
    """The tiled BLAS comparison (tile_rows < cluster size) must give
    the same keep set as one whole-cluster matmul."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 10, [float(x) for x in v]))
        rows.append((i * 10 + 1, [float(x) for x in v + 0.001]))  # near-dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    big = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(df, k=3, iters=2, threshold=0.99).collect()
    )
    tiled = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(
            df, k=3, iters=2, threshold=0.99, tile_rows=2
        ).collect()
    )
    assert big == tiled
    # every planted near-dup pair must lose at least its higher id
    keeps = {vid: keep for vid, _, keep in big}
    assert sum(1 for k in keeps.values() if not k) >= 6
    for i in range(6):
        assert not (keeps[i * 10] and keeps[i * 10 + 1])


def test_bm25_scores_fixture(spark):
    """BM25 on a hand fixture — expected scores computed with the
    IDENTICAL expression order in Python doubles (all ops correctly
    rounded, so equality is exact)."""
    docs = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "cherry durian"),
        (4, "apple"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r["score"]
        for r in text.bm25_scores(df, ["apple", "banana"]).collect()
    }
    assert set(out) == {1, 2, 4}  # doc 3 matches no term

    n_docs, avgdl = 4.0, (3 + 2 + 2 + 1) / 4
    k1, k1p1, b, omb = text.BM25_K1, text.BM25_K1 + 1.0, text.BM25_B, 1.0 - text.BM25_B

    def part(tf, dfq, dl):
        idf = (n_docs - dfq + 0.5) / (dfq + 0.5)
        return idf * ((tf * k1p1) / (tf + k1 * (omb + b * (dl / avgdl))))

    assert out[1] == part(2, 2.0, 3) + part(1, 2.0, 3)
    assert out[2] == part(0, 2.0, 2) + part(1, 2.0, 2)
    assert out[4] == part(1, 2.0, 1) + part(0, 2.0, 1)
    # the rare-term doc outranks the common-term docs it ties on tf with
    assert out[1] > out[2]


def test_ts_ewma_chunked_matches_global_window(spark, sf_dir):
    """The chunk-parallel EWMA must be bit-identical to the same
    expression over a plain per-series global window."""
    from functools import reduce
    from operator import add

    from ong_tsdb_spark import entry_queries as eq

    out = eq.queries()["ts_ewma"](spark, sf_dir)
    got = sorted(tuple(r) for r in out.collect())

    ev = eq.load(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", eq._us(ev, "ts"))
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    nums, dens = [], []
    for j, wt in enumerate(eq._EWMA_WEIGHTS):
        x = F.col("value") if j == 0 else F.lag("value", j).over(w)
        nums.append(F.when(x.isNotNull(), F.lit(wt) * x).otherwise(F.lit(0.0)))
        dens.append(F.when(x.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0)))
    num, den = reduce(add, nums), reduce(add, dens)
    exp = ev.select(
        "event_type", "ts_us", "value",
        F.when(den > F.lit(0.0), num / den).alias("ewma8"),
    )
    want = sorted(tuple(r) for r in exp.collect())
    assert got == want


def test_centroid_distances_exact(spark):
    """centroid_distances must equal a pure-Python recomputation of
    quantize -> assign -> integer sqdist (same tie-breaks)."""
    import math

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.1, 0.95]),
        (4, [0.52, 0.51]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["cid"], r["sqdist"])
        for r in similarity.centroid_distances(df, k=2, iters=2).collect()
    }

    # python twin (float32 storage -> double -> quantize like the engine)
    import numpy as np

    vecs = {
        i: [math.floor(float(np.float32(x)) * similarity.IVF_QUANT_SCALE) for x in v]
        for i, v in rows
    }
    cents = [vecs[0], vecs[1]]
    for _ in range(2):
        groups: dict[int, list[list[int]]] = {}
        for i, q in vecs.items():
            d = [sum((a - b) ** 2 for a, b in zip(q, c)) for c in cents]
            groups.setdefault(d.index(min(d)), []).append(q)
        cents = [
            [sum(col) // len(g) for col in zip(*g)] if (g := groups.get(j)) else cents[j]
            for j in range(2)
        ]
    for i, q in vecs.items():
        d = [sum((a - b) ** 2 for a, b in zip(q, c)) for c in cents]
        cid = d.index(min(d))
        assert got[i] == (cid, d[cid]), f"vec {i}"


def test_mixture_plan_fixture(spark):
    """Downsample-only mixing plan on known counts: the binding source
    keeps everything; the others keep floor(t_s * n_star / t_star)."""
    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(20)] + [
        ("c", i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    plan = {
        r["source"]: (r["n_docs"], r["n_keep"])
        for r in text.mixture_plan(
            df, {"a": 500_000, "b": 300_000, "c": 200_000}
        ).collect()
    }
    # ratios n/t: a binds (10/5e5 smallest) -> keep a=10, b=6, c=4
    assert plan == {"a": (10, 10), "b": (20, 6), "c": (30, 4)}
    kept = [plan[s][1] for s in ("a", "b", "c")]
    assert kept == [10, 6, 4]  # 50/30/20% of the kept corpus


def test_mad_rule_flags_planted_outlier(spark):
    """The |x - med| > 3*MAD rule on a planted fixture: the spike is
    flagged, steady values are not, and a zero-MAD series still flags
    its single deviant."""
    rows = [("s1", i, v) for i, v in enumerate([10.0, 10.4, 9.6, 10.2, 9.8, 50.0])]
    rows += [("s2", i, 5.0) for i in range(5)] + [("s2", 5, 5.1)]
    df = spark.createDataFrame(rows, "event_type string, ts_us long, value double")
    med = df.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    d = df.join(F.broadcast(med), on="event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = d.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    out = d.join(F.broadcast(mad), on="event_type").filter(
        F.col("adev") > F.lit(3.0) * F.col("mad")
    )
    flagged = {(r["event_type"], r["value"]) for r in out.collect()}
    assert flagged == {("s1", 50.0), ("s2", 5.1)}


def test_minhash_error_stats_planted(spark):
    """Identical docs must be candidates with est = exact = 1.0 and
    zero error; every candidate's exact_jaccard must agree with the
    uncapped inverted-index Jaccard scorer."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta other words here"),
        (4, "completely different tokens in this doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["d1"], r["d2"]): r
        for r in dedup.minhash_error_stats(df).collect()
    }
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["est_jaccard"] == 1.0 and r["exact_jaccard"] == 1.0
    assert r["abs_err"] == 0.0
    for r in out.values():
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert r["abs_err"] == abs(r["est_jaccard"] - r["exact_jaccard"])

    exact = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.0, max_shingle_freq=None
        ).collect()
    }
    for (d1, d2), r in out.items():
        assert r["exact_jaccard"] == exact.get((d1, d2), 0.0)


def test_minhash_error_collapse_is_value_identical(spark):
    """The exact-duplicate collapse (r10 skew fix) must return the
    SAME pair rows as the uncollapsed pipeline on a duplicate-heavy
    corpus — intra-group pairs est = exact = 1, cross-group pairs
    inherit the rep pair verbatim, zero-shingle duplicates excluded."""
    base = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta other words here",
        "completely different tokens in this doc",
    ]
    rows = [(i + 1, base[0]) for i in range(12)]          # hot group g=12
    rows += [(101, base[1]), (102, base[2]), (103, base[1])]
    rows += [(201, "tiny"), (202, "tiny")]                # 0 shingles (< n)
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # threshold check: saved2 = 12*11 + 2*1 + 2*1 = 136 >= 2*17 -> collapse
    collapsed = dedup.minhash_error_stats(df)
    brute, _sigs = dedup._minhash_error_core(
        df, "text", "doc_id", 3, 16, 2)
    key = lambda r: (r["d1"], r["d2"])  # noqa: E731
    c = {key(r): r for r in collapsed.collect()}
    b = {key(r): r for r in brute.collect()}
    assert set(c) == set(b)
    for k in c:
        assert c[k]["est_jaccard"] == b[k]["est_jaccard"], k
        assert c[k]["exact_jaccard"] == b[k]["exact_jaccard"], k
        assert c[k]["abs_err"] == b[k]["abs_err"], k
    # the hot group contributes exactly C(12,2) + no zero-shingle pairs
    intra = [k for k in c if k[0] <= 12 and k[1] <= 12]
    assert len(intra) == 66
    assert not any(k[0] >= 201 or k[1] >= 201 for k in c)


def test_minhash_error_collapse_kwarg_branches(spark, sf_dir):
    """ADVICE r10: collapse=auto|on|off — all three branches must be
    value-identical (the kwarg exists so harnesses can audit either
    physical branch deterministically, and 'off' without paying the
    construction-time eligibility job)."""
    from ong_tsdb_spark import entry_queries as eq

    docs = eq.load(spark, sf_dir, "documents")
    auto = sorted(tuple(r) for r in dedup.minhash_error_stats(docs).collect())
    off = sorted(
        tuple(r) for r in dedup.minhash_error_stats(docs, collapse="off").collect()
    )
    on = sorted(
        tuple(r) for r in dedup.minhash_error_stats(docs, collapse="on").collect()
    )
    assert auto == off == on and len(auto) > 0
    with pytest.raises(ValueError):
        dedup.minhash_error_stats(docs, collapse="maybe")


def test_collapse_eligibility_ignores_unshingleable_dups(spark):
    """ADVICE r10: duplicate groups of texts too short to shingle save
    no pair work (they never sign/band), so they must not count toward
    the collapse's saved-pair mass — a corpus dominated by short
    duplicated strings stays on the plain path."""
    rows = [(i, "hi") for i in range(100)]
    rows += [(100 + i, f"alpha beta gamma delta {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup._exact_dup_collapse(df, "text", "doc_id", min_tokens=3) is None
    # sanity: without the guard the same corpus WOULD trigger (the
    # mis-trigger the guard exists to prevent)
    assert dedup._exact_dup_collapse(df, "text", "doc_id") is not None
    # and force=True always builds the tables, no eligibility job
    assert (
        dedup._exact_dup_collapse(df, "text", "doc_id", min_tokens=3, force=True)
        is not None
    )


def test_lsh_summarize_matches_pair_stream(spark, sf_dir):
    """VERDICT r10 #5: the stats-only summarize mode must agree with
    the pair stream exactly on has_candidate (bucket >= 2 <=> appears
    in >= 1 pair), upper-bound the true distinct candidate degree, and
    hit zero degree exactly on candidate-free docs."""
    import collections

    from ong_tsdb_spark import entry_queries as eq

    docs = eq.load(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs).collect()
    summ = {
        r["doc_id"]: r
        for r in dedup.lsh_candidate_pairs(docs, summarize=True).collect()
    }
    deg = collections.Counter()
    for r in pairs:
        deg[r["d1"]] += 1
        deg[r["d2"]] += 1
    assert {d for d, r in summ.items() if r["has_candidate"]} == set(deg)
    for d, true_deg in deg.items():
        assert summ[d]["cand_degree_ub"] >= true_deg, d
    for d, r in summ.items():
        assert (r["cand_degree_ub"] == 0) == (d not in deg), d
        assert (r["n_cand_bands"] == 0) == (d not in deg), d


def test_curation_report_components_agree(spark, sf_dir):
    """Each curation-report column must equal its generating operator
    family computed independently."""
    from ong_tsdb_spark import entry_queries as eq

    rep = {
        r["doc_id"]: r
        for r in eq.queries()["corpus_curation_report"](spark, sf_dir).collect()
    }
    docs = eq.load(spark, sf_dir, "documents")
    emb = eq.load(spark, sf_dir, "embeddings")

    keepers = {
        r["keeper_id"] for r in dedup.exact_duplicates(docs).collect()
    }
    gopher = {
        r["doc_id"]: r["gopher_pass"] for r in text.gopher_quality(docs).collect()
    }
    sem = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup(emb, k=8, iters=2, threshold=0.4).collect()
    }
    nd_docs = set()
    for r in dedup.lsh_candidate_pairs(docs).collect():
        nd_docs.add(r["d1"])
        nd_docs.add(r["d2"])
    assert set(rep) == set(gopher)
    for d, r in rep.items():
        assert r["exact_keep"] == (d in keepers)
        assert r["gopher_pass"] == gopher[d]
        assert r["semantic_keep"] == sem[d]
        # near_dup rides the summarize path but must equal the pair
        # stream's membership exactly (VERDICT r10 #5)
        assert r["near_dup"] == (d in nd_docs)
        assert r["keep"] == (r["exact_keep"] and r["gopher_pass"] and r["semantic_keep"])


def test_curation_report_incremental_parity(spark, sf_dir, tmp_path):
    """The persisted-centroid (incremental) curation path must be
    bit-identical to the trained-per-run registry path: training is
    integer-exact, so reloading the persisted k x dim ints and skipping
    Lloyd's cannot change a single verdict."""
    from ong_tsdb_spark import entry_queries as eq
    from ong_tsdb_spark.plans import curation

    docs = eq.load(spark, sf_dir, "documents")
    emb = eq.load(spark, sf_dir, "embeddings")

    cpath = str(tmp_path / "curation_centroids.json")
    cents = curation.train_curation_centroids(emb, cpath, k=8, iters=2)
    assert similarity.read_exact_centroids(cpath) == cents

    full = sorted(
        tuple(r) for r in curation.curation_report(docs, emb, k=8, iters=2).collect()
    )
    inc = sorted(
        tuple(r)
        for r in curation.curation_report_incremental(docs, emb, cpath).collect()
    )
    assert inc == full and len(inc) > 0


def test_fertility_by_lang_fixture(spark):
    """Fertility on a hand fixture: punctuation-heavy text emits more
    BPE-proxy tokens per word than plain words."""
    rows = [
        (1, "plain simple words here", "en"),
        (2, "plain simple words here", "en"),
        (3, "co-ordinate: punct-heavy!! (tokens)", "xx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in text.fertility_by_lang(df).collect()}
    assert out["en"]["n_docs"] == 2 and out["xx"]["n_docs"] == 1
    assert out["en"]["n_words"] == 8
    # 4 words -> 4 BPE tokens per doc in plain text
    assert out["en"]["fertility"] == out["en"]["n_bpe_tokens"] / out["en"]["n_words"]
    assert out["xx"]["fertility"] > out["en"]["fertility"]


def test_semantic_dedup_zero_vector_parity(spark):
    """A zero-norm vector gives cosine NaN; both execution paths must
    agree it is NOT similar to anything (Spark's native NaN ordering
    would silently call it a duplicate in a bare >= filter)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (2, [0.0, 0.0, 0.0, 0.0]),  # another zero vector
        (3, [0.99, 0.01, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    blas = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(df, k=2, iters=1, threshold=0.9).collect()
    )
    ref = sorted(
        tuple(r)
        for r in similarity.semantic_dedup(
            df, k=2, iters=1, threshold=0.9, use_blas=False
        ).collect()
    )
    assert blas == ref
    keeps = {vid: keep for vid, _, keep in blas}
    # zero vectors are never "similar" to anything — all kept
    assert keeps[1] and keeps[2]
    # the genuine near-dup still loses
    assert not keeps[3]


def test_keep_best_null_score_loses(spark):
    """A NULL-score copy must lose to any scored copy (a bare
    struct-min sorts the null field first and would crown it); an
    all-null group falls back to the lowest id with a NULL score —
    both matching the oracle's ORDER BY score DESC (nulls last)."""
    rows = [
        (1, "same", 10),
        (2, "same", None),
        (3, "othr", None),
        (4, "othr", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {
        r["keeper_id"]: r["keeper_score"]
        for r in dedup.exact_duplicates_keep_best(df).collect()
    }
    assert out == {1: 10, 3: None}


def test_length_band_ignores_null_lengths(spark):
    """NULL lengths are excluded from the order statistics — the band
    over 1..10 plus a NULL row equals the band over 1..10 alone."""
    rows = [("en", i, i) for i in range(1, 11)] + [("en", 99, None)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_chars long")
    out = text.length_band_stats(df).collect()[0]
    clean = text.length_band_stats(
        spark.createDataFrame(rows[:10], "lang string, doc_id long, n_chars long")
    ).collect()[0]
    assert (out["p_lo"], out["p_hi"], out["n_total"]) == (
        clean["p_lo"], clean["p_hi"], clean["n_total"],
    )


def test_ivf_trainer_small_input_and_null_vectors(spark):
    """k > n trains with the vectors that exist (no IndexError); a
    NULL embedding gets a NULL cluster on BOTH assignment paths."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.train_ivf_centroids_exact(df, k=8, iters=2)
    assert len(cents) == 3  # the NULL vector trains nothing
    arrow = {
        r["vec_id"]: r["ivf_cluster"]
        for r in similarity.ivf_assign_exact(df, cents).collect()
    }
    catalyst = {
        r["vec_id"]: r["ivf_cluster"]
        for r in similarity.ivf_assign_exact(df, cents, use_arrow=False).collect()
    }
    assert arrow == catalyst
    assert arrow[2] is None
    assert similarity.train_ivf_centroids_exact(df.limit(0), k=8, iters=2) == []


def test_ledger_replay_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch (foreachBatch is at-least-once) must
    not duplicate documents: the per-batch directory overwrite plus
    the self-excluding anti-join make a replay rewrite exactly its own
    output, even when its own ledger partition was already written."""
    from ong_tsdb_spark.streaming.dedup import (
        FINGERPRINT_COL,
        content_fingerprint,
        dedup_batch_against_ledger,
    )

    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    batch = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string"
    )

    def run_batch(bdf, bid):
        fresh = dedup_batch_against_ledger(
            spark, bdf, ledger, exclude_batch=bid
        ).localCheckpoint(eager=True)
        fresh.drop(FINGERPRINT_COL).write.mode("overwrite").parquet(f"{out}/batch={bid}")
        fresh.select(FINGERPRINT_COL).write.mode("overwrite").parquet(
            f"{ledger}/batch={bid}"
        )

    run_batch(batch, 0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]  # doc 3 is an in-batch dup of doc 1
    # simulate the crash-replay: ledger batch=0 already exists, the
    # batch runs again
    run_batch(batch, 0)
    again = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert again == [1, 2]  # no duplicates, nothing lost
    # a later batch with one seen and one new doc
    batch2 = spark.createDataFrame(
        [(10, "aaa"), (11, "ccc")], "doc_id long, text string"
    )
    run_batch(batch2, 1)
    final = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert final == [1, 2, 11]


def test_corrupt_ledger_fails_loudly(spark, tmp_path):
    """A ledger directory that exists but is unreadable must FAIL the
    batch — not silently disable dedup (only path-not-found means
    'first batch ever')."""
    import pytest as _pytest

    from ong_tsdb_spark.streaming.dedup import dedup_batch_against_ledger

    ledger = tmp_path / "ledger"
    ledger.mkdir()
    (ledger / "junk.parquet").write_text("this is not parquet")
    batch = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    with _pytest.raises(Exception):
        dedup_batch_against_ledger(spark, batch, str(ledger)).collect()


def test_ledger_replay_after_compaction_keeps_output(spark, tmp_path):
    """If compaction folded a batch's digests into batch=-1 before the
    checkpoint committed, the replay's self-exclusion cannot see them —
    a committed output directory must therefore be KEPT, not
    overwritten with the (now empty) recomputation."""
    from ong_tsdb_spark.streaming import dedup as sd

    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    src = tmp_path / "drop"
    src.mkdir()
    import json as _json

    (src / "s1.jsonl").write_text(
        _json.dumps({"doc_id": 1, "text": "unique content", "lang": "en",
                     "source": "s", "n_chars": 1}) + "\n"
    )
    from ong_tsdb_spark.sources.jsonl import DOCUMENTS_SCHEMA

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).json(str(src))
    q = sd.start_ledger_dedup(spark, stream, ledger, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1

    # compaction folds batch=0 into batch=-1 and deletes it
    n = sd.compact_ledger(spark, ledger)
    assert n == 1
    # simulate the replay of batch 0 (checkpoint lost): the committed
    # output must survive and the ledger partition be re-derived
    batch = spark.read.parquet(out).drop("batch")
    def replay():
        import pyspark.sql.functions as SF
        fresh = sd.dedup_batch_against_ledger(spark, batch, ledger, exclude_batch=0)
        import os
        out_dir = f"{out}/batch=0"
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            raise AssertionError("expected committed output")
        spark.read.parquet(out_dir).select(
            SF.md5(SF.col("text")).alias(sd.FINGERPRINT_COL)
        ).distinct().write.mode("overwrite").parquet(f"{ledger}/batch=0")
    replay()
    assert spark.read.parquet(out).count() == 1  # nothing lost
    # the doc's digest exists in the ledger (batch=-1 and/or batch=0)
    assert spark.read.parquet(ledger).select(sd.FINGERPRINT_COL).distinct().count() == 1


def test_compact_ledger_spares_uncommitted_partitions(spark, tmp_path):
    """A batch directory without _SUCCESS (in-flight write) must
    survive compaction untouched."""
    import os

    from ong_tsdb_spark.streaming import dedup as sd

    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([("abc",)], f"{sd.FINGERPRINT_COL} string").write.parquet(
        f"{ledger}/batch=0"
    )
    inflight = tmp_path / "ledger" / "batch=9"
    inflight.mkdir()
    (inflight / "_temporary_marker").write_text("in flight")
    n = sd.compact_ledger(spark, ledger)
    assert n == 1
    assert not os.path.exists(f"{ledger}/batch=0")  # committed: folded+removed
    assert os.path.exists(str(inflight))  # in-flight: untouched
    assert os.path.exists(f"{ledger}/batch=-1")


def test_compact_ledger_flat_layout(spark, tmp_path):
    """The sequential-backfill flat layout compacts in place (no
    batch=-1 directory beside root part files — that mixed structure
    breaks partition discovery on every later read)."""
    import os

    from ong_tsdb_spark.streaming import dedup as sd

    ledger = str(tmp_path / "ledger")
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",)], f"{sd.FINGERPRINT_COL} string"
    )
    df.write.parquet(ledger)
    df.write.mode("append").parquet(ledger)
    n = sd.compact_ledger(spark, ledger)
    assert n == 2
    assert not os.path.exists(f"{ledger}/batch=-1")
    assert spark.read.parquet(ledger).count() == 2  # still readable, deduped


def test_local_dir_uri_forms():
    """Hadoop normalizes file:// URIs to the single-slash file:/path
    form — both (and file://localhost/...) must resolve to the local
    path so the compaction lock engages; remote schemes and
    file://otherhost stay None (ADVICE r13: the old '://' test
    silently skipped the lock for file:/path)."""
    from ong_tsdb_spark.object_store import local_path

    assert local_path("/tmp/ledger") == "/tmp/ledger"
    assert local_path("file:///tmp/ledger") == "/tmp/ledger"
    assert local_path("file:/tmp/ledger") == "/tmp/ledger"
    assert local_path("file://localhost/tmp/ledger") == "/tmp/ledger"
    assert local_path("file://otherhost/tmp/ledger") is None
    assert local_path("s3a://bucket/ledger") is None
    assert local_path("hdfs://nn/ledger") is None


def test_compact_ledger_flat_layout_keeps_lock_dir_intact(spark, tmp_path):
    """Flat-layout compaction must NOT delete _writer.lock or _version
    mid-critical-section (ADVICE r13: a root overwrite unlinked the
    held lockfile, opening the exact race the lock closes).  Also: a
    single-slash file:/ URI — the Hadoop-normalized form — must still
    engage the lock (returns -1 while another compactor holds it)."""
    import os

    from ong_tsdb_spark.locks import LOCK_NAME, SensorFileLock, VERSION_NAME
    from ong_tsdb_spark.streaming import dedup as sd

    ledger = str(tmp_path / "ledger")
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",)], f"{sd.FINGERPRINT_COL} string"
    )
    df.write.parquet(ledger)
    df.write.mode("append").parquet(ledger)
    (tmp_path / "ledger" / VERSION_NAME).write_text("7")

    # lock engagement through the file:/ URI spelling
    holder = SensorFileLock(ledger, timeout=5.0)
    holder.acquire()
    try:
        assert sd.compact_ledger(spark, f"file:{ledger}") == -1
    finally:
        holder.release()

    n = sd.compact_ledger(spark, f"file:{ledger}")
    assert n == 2
    # markers survived the rewrite; lockfile released (not deleted
    # mid-section — release() removed it after the swap)
    assert (tmp_path / "ledger" / VERSION_NAME).read_text() == "7"
    assert not os.path.exists(os.path.join(ledger, LOCK_NAME))
    assert not os.path.exists(ledger + "__compact_tmp")
    assert spark.read.parquet(ledger).count() == 2
    vals = {
        r[0] for r in spark.read.parquet(ledger).select(sd.FINGERPRINT_COL).collect()
    }
    assert vals == {"a", "b"}


def test_ledger_empty_directory_is_first_batch(spark, tmp_path):
    """A pre-created empty ledger directory means 'no ledger yet' —
    it must not wedge the stream."""
    from ong_tsdb_spark.streaming.dedup import dedup_batch_against_ledger

    ledger = tmp_path / "ledger"
    ledger.mkdir()
    batch = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    out = dedup_batch_against_ledger(spark, batch, str(ledger)).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_ledger_dedup_with_map_column(spark, tmp_path):
    """A docs stream carrying a map-typed payload column must still
    dedup (maps are not orderable; the representative picker orders on
    the orderable columns only)."""
    from ong_tsdb_spark.streaming.dedup import dedup_batch_against_ledger

    batch = spark.createDataFrame(
        [(2, "aaa", {"k": "v2"}), (1, "aaa", {"k": "v1"}), (3, "bbb", {})],
        "doc_id long, text string, meta map<string,string>",
    )
    out = {r["doc_id"] for r in
           dedup_batch_against_ledger(spark, batch, str(tmp_path / "none")).collect()}
    assert out == {1, 3}  # lowest doc_id represents the 'aaa' pair


def test_keep_best_extreme_scores(spark):
    """Negation runs in DECIMAL: LONG_MIN scores neither wrap nor
    throw, and no sentinel collision exists at the long boundary."""
    lo = -(1 << 63)
    rows = [(1, "same", lo), (2, "same", lo + 1), (3, "same", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = dedup.exact_duplicates_keep_best(df).collect()[0]
    assert out["keeper_id"] == 2 and out["keeper_score"] == lo + 1


def test_keep_best_unrankable_double_scores(spark):
    """ADVICE r9: a double score outside DECIMAL(38,18)'s range (|x| >=
    1e20, or NaN/Inf) must neither job-kill the cast under ANSI nor
    become a NULL neg_score that struct-min wrongly crowns — it sets
    the missing bit (computed on the try_cast RESULT) and loses to any
    rankable copy; an all-unrankable group falls back to lowest id."""
    rows = [
        (1, "g1", 1.0e25), (2, "g1", 5.0),              # extreme loses to 5.0
        (3, "g2", float("nan")), (4, "g2", float("inf")), (5, "g2", None),
        (6, "g3", float("-inf")), (7, "g3", -1.0e21), (8, "g3", 0.25),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    out = {
        r["keeper_id"]
        for r in dedup.exact_duplicates_keep_best(df, score_col="score").collect()
    }
    assert out == {2, 3, 8}


def test_keep_best_bigint_gap_winner_reports_null_score(spark):
    """Code-review r10: a RANKABLE winner in the (2^63, 1e20) gap must
    win the keep decision without job-killing the OUTPUT bigint cast
    under ANSI — keeper_score is NULL for it (the report truncates,
    the ranking does not)."""
    rows = [(1, "g", 1.0e19), (2, "g", 5.0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    out = dedup.exact_duplicates_keep_best(df, score_col="score").collect()[0]
    assert out["keeper_id"] == 1 and out["keeper_score"] is None


def test_ivf_null_element_vector(spark):
    """A vector with a null ELEMENT gets a NULL cluster on both
    assignment paths and never crashes the Arrow batch."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, None]), (3, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.train_ivf_centroids_exact(df, k=2, iters=1)
    assert len(cents) == 2
    arrow = {r["vec_id"]: r["ivf_cluster"]
             for r in similarity.ivf_assign_exact(df, cents).collect()}
    catalyst = {r["vec_id"]: r["ivf_cluster"]
                for r in similarity.ivf_assign_exact(df, cents, use_arrow=False).collect()}
    assert arrow == catalyst
    assert arrow[2] is None


def test_corpus_delta_stats_planted(spark):
    """Snapshot diff on planted content: 2 shared, 1 removed, 1 added
    (by CONTENT, not id), duplicate contents counted once."""
    from ong_tsdb_spark import entry_queries as eq

    rows = [
        (0, "shared one"), (1, "shared two"), (2, "only v1"), (3, "shared one"),
        (250, "shared one"), (251, "shared two"), (252, "only v2"),
    ]
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = df.select(SF.md5("text").alias("f"), "doc_id")
    v1 = fp.filter(SF.col("doc_id") < 250).select(SF.col("f").alias("f1")).distinct()
    v2 = fp.filter(SF.col("doc_id") >= 250).select(SF.col("f").alias("f2")).distinct()
    j = v1.join(v2, v1["f1"] == v2["f2"], how="full")
    out = j.agg(
        SF.count("f1").alias("n_v1"), SF.count("f2").alias("n_v2"),
        SF.sum(SF.col("f1").isNull().cast("long")).alias("n_added"),
        SF.sum(SF.col("f2").isNull().cast("long")).alias("n_removed"),
        SF.sum((SF.col("f1").isNotNull() & SF.col("f2").isNotNull()).cast("long")).alias("n_retained"),
    ).collect()[0]
    assert (out["n_v1"], out["n_v2"]) == (3, 3)
    assert (out["n_added"], out["n_removed"], out["n_retained"]) == (1, 1, 2)


def test_compact_ledger_never_overwrites_in_place(spark, tmp_path):
    """Successive compactions write FRESH negative partitions (-1,
    then -2, ...) — never an in-place overwrite whose delete-then-
    write window could destroy previously compacted digests — and the
    full digest set survives every step."""
    import os

    from ong_tsdb_spark.streaming import dedup as sd

    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([("a",), ("b",)], f"{sd.FINGERPRINT_COL} string").write.parquet(
        f"{ledger}/batch=0"
    )
    assert sd.compact_ledger(spark, ledger) == 2
    assert os.path.exists(f"{ledger}/batch=-1")
    spark.createDataFrame([("c",)], f"{sd.FINGERPRINT_COL} string").write.parquet(
        f"{ledger}/batch=1"
    )
    assert sd.compact_ledger(spark, ledger) == 3
    assert os.path.exists(f"{ledger}/batch=-2")
    assert not os.path.exists(f"{ledger}/batch=-1")  # folded and removed
    got = sorted(
        r[sd.FINGERPRINT_COL]
        for r in spark.read.parquet(ledger).select(sd.FINGERPRINT_COL).distinct().collect()
    )
    assert got == ["a", "b", "c"]


def test_dup_span_stats_planted(spark):
    """Hand-checkable duplicated-span coverage: a shared 4-token span
    covers exactly 4 tokens in each doc carrying it; a fully
    self-repeating doc reaches dup_frac 1.0 with overlapping windows
    union-merged (9 consecutive dup windows over 12 tokens count 12
    covered tokens, not 36); a unique doc reports zero."""
    rows = [
        (0, "a b c d e f"),            # shares [a b c d] with doc 1 and 3
        (1, "a b c d x y"),
        (2, "q r s t"),                # all windows unique
        (3, "a b c d a b c d a b c d"),  # every window duplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.dup_span_stats(df, k=4).collect()}
    assert out[0]["n_tokens"] == 6 and out[0]["n_windows"] == 3
    assert out[0]["n_dup_windows"] == 1 and out[0]["dup_cover_tokens"] == 4
    assert out[0]["dup_frac"] == 4 / 6
    assert out[1]["dup_cover_tokens"] == 4
    assert out[2]["n_dup_windows"] == 0 and out[2]["dup_frac"] == 0.0
    assert out[3]["n_windows"] == 9 and out[3]["n_dup_windows"] == 9
    assert out[3]["dup_cover_tokens"] == 12 and out[3]["dup_frac"] == 1.0


def test_dup_span_stats_matches_python_model(spark):
    """dup_span_stats vs an exact Python twin over a randomized corpus
    shape: same md5-derived Rabin-Karp hashes, same >= 2 frequency
    rule, same sorted-gap interval union."""
    import hashlib
    import random

    M, B, K = 2_147_483_647, 1_000_003, 4
    rng = random.Random(42)
    words = ["aa", "bb", "cc", "dd", "ee"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
        for _ in range(30)
    ]

    def wval(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % M

    def hashes_of(text: str) -> list[int]:
        toks = text.split(" ")
        vals = [wval(t) for t in toks]
        if len(vals) < K:
            return []
        out = []
        for i in range(len(vals) - K + 1):
            acc = 0
            for w in vals[i : i + K]:
                acc = (acc * B + w) % M
            out.append(acc)
        return out

    hs = {i: hashes_of(t) for i, t in enumerate(texts)}
    freq: dict[int, int] = {}
    for h in hs.values():
        for x in h:
            freq[x] = freq.get(x, 0) + 1
    want = {}
    for i, t in enumerate(texts):
        dup = [p for p, x in enumerate(hs[i]) if freq[x] >= 2]
        cover = sum(
            min(K, dup[j + 1] - dup[j]) if j + 1 < len(dup) else K
            for j in range(len(dup))
        )
        want[i] = (len(t.split(" ")), len(hs[i]), len(dup), cover)

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_windows"], r["n_dup_windows"], r["dup_cover_tokens"])
        for r in text.dup_span_stats(df, k=K).collect()
    }
    assert got == want


def test_c4_quality_fixture(spark):
    """C4 rules on hand-built pages: line filtering (terminal punct +
    5 words), the 3-sentence page rule over RETAINED lines only, and
    the brace / boilerplate drops."""
    good = (
        "this page has a first real sentence.\n"
        "short line.\n"                             # < 5 words -> dropped
        "another proper sentence follows right here!\n"
        "a third full sentence closes the page?"
    )
    unpunct = "lines with five good words\nbut none end with punctuation"
    braced = good + "\nfunction() { return 1; }"
    policy = good + "\nplease read our privacy policy."
    rows = [(0, good), (1, unpunct), (2, braced), (3, policy)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.c4_quality(df).collect()}

    assert out[0]["n_lines"] == 4 and out[0]["n_kept_lines"] == 3
    assert out[0]["n_sentences"] == 3 and out[0]["c4_pass"]
    assert out[1]["n_kept_lines"] == 0 and out[1]["n_sentences"] == 0
    assert not out[1]["c4_pass"]
    assert out[2]["has_brace"] and not out[2]["c4_pass"]
    assert out[3]["has_policy"] and not out[3]["c4_pass"]


def test_c4_quality_oracle_on_fixture(spark, tmp_path):
    """The synthetic corpus has no newlines/punctuation, so the driver
    row can't exercise the line-filter lambda; run the DuckDB twin on
    the NON-degenerate fixture corpus and require exact equality."""
    import duckdb

    from ong_tsdb_spark import entry_queries as eq
    from ong_tsdb_spark.compare import canon_rows

    good = (
        "this page has a first real sentence.\n"
        "short line.\n"
        "another proper sentence follows right here!\n"
        "a third full sentence closes the page?"
    )
    rows = [
        (0, good),
        (1, "lines with five good words\nbut none end with punctuation"),
        (2, good + "\nfunction() { return 1; }"),
        (3, good + "\nplease read our privacy policy."),
        (4, 'a quoted ending with five words"'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{p}/*.parquet'")
    sdf = text.c4_quality(df)
    srows = canon_rows(sdf.columns, sdf.collect())
    rel = con.sql(eq.REGISTRY["text_c4_quality"].sql)
    orows = canon_rows(rel.columns, rel.fetchall())
    assert srows == orows


def test_classifier_quality_python_twin(spark):
    """The hashed linear classifier against an independent pure-Python
    model (hashlib.md5 + int weights) — exact equality, including the
    empty-token edge (split('') == ['']) and the pass verdict."""
    docs = [
        (1, "the quick brown fox"),
        (2, "the the the"),
        (3, ""),
        (4, "zebra quux " * 20 + "end"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.classifier_quality(df).collect()}

    w = text.classifier_weights()
    for doc_id, t in docs:
        toks = t.split(" ")
        score = sum(
            w[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % len(w)]
            for tok in toks
        )
        r = out[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["score"] == score
        assert r["mean_weight"] == score / len(toks)
        assert r["clf_pass"] == (score > 0)


def test_dsir_importance_python_twin_and_ranking(spark):
    """DSIR importance on a planted two-domain corpus: exact equality
    with an independent Python model (hashlib buckets, add-one ratio
    weights, left-to-right float fold), and the semantic property —
    documents made of target-domain vocabulary score higher than
    off-domain documents."""
    docs = [
        (1, "alpha beta alpha gamma", "en"),
        (2, "alpha beta beta", "en"),
        (3, "uno dos tres quatro", "es"),
        (4, "alpha beta gamma", "es"),  # target-vocab doc outside the domain
        (5, "uno uno dos", "es"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in text.dsir_importance(df).collect()}

    nb = text.DSIR_BUCKETS

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % nb

    raw, tgt = [0] * nb, [0] * nb
    for _, t, lang in docs:
        for tok in t.split(" "):
            raw[bucket(tok)] += 1
            if lang == "en":
                tgt[bucket(tok)] += 1
    w = [(t + 1) / (r + 1) for t, r in zip(tgt, raw)]

    for doc_id, t, lang in docs:
        toks = t.split(" ")
        imp = 0.0
        for tok in toks:
            imp += w[bucket(tok)]
        r = out[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["imp_sum"] == imp
        assert r["imp_mean"] == imp / len(toks)
        assert r["is_target"] == (lang == "en")

    # the ranking property DSIR exists for: target-vocab docs (even the
    # one labeled outside the domain) outscore off-domain-vocab docs
    assert out[4]["imp_mean"] > out[3]["imp_mean"]
    assert out[4]["imp_mean"] > out[5]["imp_mean"]
    assert out[1]["imp_mean"] > out[3]["imp_mean"]


def test_pq_fused_training_matches_reference(spark):
    """The fused one-aggregate-per-iteration PQ trainer must be
    BIT-IDENTICAL to m independent integer-exact Lloyd's runs (the
    reference path) — same seeds, same assignments, same floored
    means."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    # partially-null vectors (null in ONE subspace) must be excluded
    # from training on BOTH paths — null only in subspace 0 here, so a
    # per-slice filter would still train subspaces 1..3 on it and the
    # paths would diverge
    rows.append((97, [None] + [0.5] * 15))
    rows.append((98, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fused = similarity.train_pq_codebooks_exact(df, m=4, k=4, iters=2, fused=True)
    ref = similarity.train_pq_codebooks_exact(df, m=4, k=4, iters=2, fused=False)
    assert fused == ref


def test_pq_encode_arrow_matches_catalyst_and_nulls(spark):
    """Arrow and Catalyst PQ encoders agree code-for-code, and a NULL
    vector / null-element vector gets NULL codes on both paths."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    rows.append((98, None))
    rows.append((99, [0.1] * 7 + [None]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clean = df.filter(F.col("vec_id") < 90)
    books = similarity.train_pq_codebooks_exact(clean, m=2, k=3, iters=1)
    cols = ["vec_id", "pq_code_0", "pq_code_1"]
    a = {
        r["vec_id"]: (r["pq_code_0"], r["pq_code_1"])
        for r in similarity.pq_encode_exact(df, books, use_arrow=True).select(*cols).collect()
    }
    c = {
        r["vec_id"]: (r["pq_code_0"], r["pq_code_1"])
        for r in similarity.pq_encode_exact(df, books, use_arrow=False).select(*cols).collect()
    }
    assert a == c
    assert a[98] == (None, None)
    assert a[99] == (None, None)


def test_pq_adc_planted_duplicates_rank_first(spark):
    """ADC distance of an exact duplicate of the query is 0 in every
    subspace, so planted copies must occupy the top ranks."""
    import random

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [(0, base), (1, list(base)), (2, list(base))]
    rows += [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(3, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = similarity.train_pq_codebooks_exact(df, m=4, k=4, iters=2)
    # query AS STORED (float32) — quantizing the unrounded Python
    # double would differ from the corpus copies by a few grid cells
    qvec = [float(x) for x in df.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = similarity.pq_adc_topk(df, books, qvec, topk=5, exclude_ids=[0]).collect()
    by_rank = {r["rank"]: r for r in out}
    assert by_rank[1]["vec_id"] == 1 and by_rank[1]["adc_dist"] == 0
    assert by_rank[2]["vec_id"] == 2 and by_rank[2]["adc_dist"] == 0


def test_chunk_table_windows_and_coverage(spark):
    """Chunk boundaries against hand-computed windows: overlap, short
    tail, sub-window doc, and content hashes from an independent
    Python model."""
    w9 = " ".join(f"t{i}" for i in range(9))     # 9 words, W=4 S=3 -> 3 chunks
    w4 = " ".join(f"u{i}" for i in range(4))     # exactly one window
    w5 = " ".join(f"v{i}" for i in range(5))     # one full + one short tail
    df = spark.createDataFrame(
        [(1, w9), (2, w4), (3, w5), (4, "solo")], "doc_id long, text string"
    )
    out = text.chunk_table(df, chunk_words=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_words"], r["chunk_hash"]) for r in out}

    def h(words):
        return hashlib.md5(" ".join(words).encode()).hexdigest()

    toks9, toks5 = w9.split(" "), w5.split(" ")
    want = {
        (1, 0): (4, h(toks9[0:4])),
        (1, 1): (4, h(toks9[3:7])),
        (1, 2): (3, h(toks9[6:9])),   # short tail
        (2, 0): (4, h(w4.split(" "))),
        (3, 0): (4, h(toks5[0:4])),
        (3, 1): (2, h(toks5[3:5])),
        (4, 0): (1, h(["solo"])),
    }
    assert got == want
    # every word of doc 1 is inside at least one chunk (tail covered)
    assert sum(n for (d, _), (n, _) in want.items() if d == 1) >= 9


def test_events_funnel_strict_ordering(spark, tmp_path):
    """Funnel semantics on a hand-built event log: a click BEFORE (or
    simultaneous with) the first view doesn't convert, nor does a
    purchase not strictly after the first qualifying click — and the
    Spark result matches the DuckDB oracle on the same fixture."""
    import datetime as _dt

    import duckdb

    from ong_tsdb_spark import entry_queries as eq
    from ong_tsdb_spark.compare import canon_rows

    def ts(sec):
        return _dt.datetime(2024, 1, 1, 0, 0, sec)

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, ts(1), 1, "view", 0.0, "{}"),
        (2, ts(2), 1, "click", 0.0, "{}"),
        (3, ts(3), 1, "purchase", 0.0, "{}"),   # full funnel
        (4, ts(1), 2, "click", 0.0, "{}"),
        (5, ts(2), 2, "view", 0.0, "{}"),        # click before view
        (6, ts(1), 3, "view", 0.0, "{}"),
        (7, ts(1), 3, "click", 0.0, "{}"),       # simultaneous
        (8, ts(1), 4, "view", 0.0, "{}"),
        (9, ts(2), 4, "click", 0.0, "{}"),
        (10, ts(2), 4, "purchase", 0.0, "{}"),   # purchase not after click
        (11, ts(1), 5, "purchase", 0.0, "{}"),   # no view at all
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    out = eq.REGISTRY["events_funnel"].fn(spark, str(tmp_path))
    got = {r["stage"]: r["n_users"] for r in out.collect()}
    assert got == {"view": 4, "click": 2, "purchase": 1}

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    rel = con.sql(eq.REGISTRY["events_funnel"].sql)
    assert canon_rows(out.columns, out.collect()) == canon_rows(
        rel.columns, rel.fetchall()
    )


def test_pq_index_persistence(spark, tmp_path):
    """Persisted PQ index: same ranking as the live pipeline on the
    same codebooks, codebooks survive the sidecar round-trip, and the
    serving scan's ReadSchema carries ONLY the id + code columns — the
    memory-compression contract (no embedding column in the plan)."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = similarity.train_pq_codebooks_exact(df, m=4, k=4, iters=2)
    path = str(tmp_path / "pq_index")
    similarity.write_pq_index(df, books, path)
    assert similarity.read_pq_codebooks(path) == books

    q = [float(x) for x in df.filter(F.col("vec_id") == 3).first()["embedding"]]
    live = similarity.pq_adc_topk(df, books, q, topk=5, exclude_ids=[3]).collect()
    persisted = similarity.pq_adc_topk_persisted(
        spark, path, q, topk=5, exclude_ids=[3]
    )
    got = persisted.collect()
    assert [(r["vec_id"], r["adc_dist"], r["rank"]) for r in got] == [
        (r["vec_id"], r["adc_dist"], r["rank"]) for r in live
    ]
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "embedding" not in plan
    assert "pq_code_0" in plan


def test_ivfpq_index_both_scale_levers(spark, tmp_path):
    """IVF-PQ: the persisted index search must (a) return the same
    ranking as the equivalent in-memory pipeline restricted to the
    probed lists, (b) prune ivf_cluster partitions at the source, and
    (c) read no embedding column — partition pruning AND code-only
    scans in ONE executed plan."""
    rng = np.random.RandomState(11)
    centers = np.eye(4, 16) * 8
    vecs = np.vstack(
        [centers[i % 4] + rng.randn(16) * 0.1 for i in range(80)]
    ).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.train_ivf_centroids_exact(df, k=4, iters=2)
    books = similarity.train_pq_codebooks_exact(df, m=4, k=4, iters=2)
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(df, cents, books, path)
    rc, rb = similarity.read_ivfpq_meta(path)
    assert rc == cents and rb == books

    q = [float(x) for x in vecs[1]]
    got_df = similarity.ivfpq_topk_persisted(
        spark, path, q, topk=5, nprobe=2, exclude_ids=[1]
    )
    got = got_df.collect()
    assert len(got) == 5

    # reference: in-memory assignment + ADC restricted to the same lists
    qq = similarity.ivf_quantize_py(q)
    probe = sorted(
        range(len(cents)),
        key=lambda j: (sum((a - b) * (a - b) for a, b in zip(qq, cents[j])), j),
    )[:2]
    assigned = similarity.ivf_assign_exact(df, cents)
    cand = assigned.filter(F.col("ivf_cluster").isin(probe)).drop("ivf_cluster")
    want = similarity.pq_adc_topk(cand, books, q, topk=5, exclude_ids=[1]).collect()
    assert [(r["vec_id"], r["adc_dist"], r["rank"]) for r in got] == [
        (r["vec_id"], r["adc_dist"], r["rank"]) for r in want
    ]

    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan
    assert "embedding" not in plan
    assert "pq_code_0" in plan


def test_retention_cohorts_fixture(spark):
    """Cohort retention triangle on a hand-built event log, checked
    against hand counts and a DuckDB twin of the same computation."""
    import duckdb

    from ong_tsdb_spark.compare import canon_rows
    from ong_tsdb_spark.operators.events import WEEK_US, retention_cohorts

    def us(week, day=0):
        return week * WEEK_US + day * 86_400 * 1_000_000

    rows = [
        # user 1: first week 0, active weeks 0,1,2 (two events in wk 0)
        (1, us(0)), (1, us(0, 3)), (1, us(1)), (1, us(2)),
        # user 2: first week 0, active weeks 0,2
        (2, us(0, 1)), (2, us(2, 4)),
        # user 3: first week 1, active week 1 only
        (3, us(1, 2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long")
    out = retention_cohorts(df)
    got = {(r["cohort"], r["period"]): (r["periods_since"], r["n_users"])
           for r in out.collect()}
    assert got == {
        (0, 0): (0, 2),
        (0, 1): (1, 1),
        (0, 2): (2, 2),
        (1, 1): (0, 1),
    }

    con = duckdb.connect()
    con.register("ev", out.sparkSession.createDataFrame(rows, "user_id BIGINT, us BIGINT").toPandas())
    rel = con.sql(f"""
        WITH w AS (SELECT DISTINCT user_id, us // {WEEK_US} AS period FROM ev),
        f AS (SELECT user_id, min(period) AS cohort FROM w GROUP BY user_id)
        SELECT cohort, period,
               CAST(period - cohort AS BIGINT) AS periods_since,
               CAST(count(*) AS BIGINT) AS n_users
        FROM w JOIN f USING (user_id)
        GROUP BY cohort, period
    """)
    assert canon_rows(out.columns, out.collect()) == canon_rows(rel.columns, rel.fetchall())


def test_retention_cohorts_drops_null_timestamps(spark):
    """Null timestamps are dropped EXPLICITLY (ADVICE r7): a user
    whose events all have null us contributes no rows at all, and a
    user with a mix of null and real events is cohorted/counted from
    the real ones only — same result as if the null rows didn't
    exist."""
    from ong_tsdb_spark.operators.events import WEEK_US, retention_cohorts

    rows = [
        (1, 0 * WEEK_US), (1, None), (1, 2 * WEEK_US),  # mixed
        (2, None), (2, None),                            # all-null
        (3, 1 * WEEK_US),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long")
    out = retention_cohorts(df)
    got = {(r["cohort"], r["period"]): r["n_users"] for r in out.collect()}
    assert got == {(0, 0): 1, (0, 2): 1, (1, 1): 1}
    # identical to the null-free projection of the same log
    clean = retention_cohorts(df.filter(F.col("us").isNotNull()))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, clean.collect()))


def test_interval_join_matches_naive_and_plan(spark):
    """Chunk-bucketed interval join: exact equality with the naive
    cross+filter join on a fixture with boundary hits, chunk-spanning
    intervals and unmatched events; the left variant keeps unmatched
    events; and the plan is an equi-join, never a nested loop."""
    from ong_tsdb_spark.operators.intervaljoin import interval_join

    H = 3_600 * 1_000_000
    events = spark.createDataFrame(
        [(1, 0), (2, H // 2), (3, H), (4, 5 * H + 7), (5, 99 * H)],
        "event_id long, us long",
    )
    intervals = spark.createDataFrame(
        [
            (10, 0, H // 2),          # boundary-inclusive both ends
            (11, H // 4, 6 * H),      # spans 7 chunks
            (12, 50 * H, 60 * H),     # matches nothing
        ],
        "iv_id long, start_us long, end_us long",
    )
    got = sorted(
        (r["event_id"], r["iv_id"])
        for r in interval_join(events, intervals).collect()
    )
    naive = sorted(
        (r["event_id"], r["iv_id"])
        for r in events.crossJoin(intervals)
        .filter((F.col("us") >= F.col("start_us")) & (F.col("us") <= F.col("end_us")))
        .collect()
    )
    assert got == naive == [(1, 10), (2, 10), (2, 11), (3, 11), (4, 11)]

    left = interval_join(events, intervals, how="left")
    rows = [(r["event_id"], r["iv_id"]) for r in left.collect()]
    assert sorted(r for r in rows if r[1] is not None) == naive
    assert (5, None) in rows  # unmatched event survives

    plan = interval_join(events, intervals)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        interval_join(events, intervals, how="full")


def test_pagerank_exact_python_twin_and_invariance(spark):
    """Integer-exact PageRank equals an independent Python model on a
    hand graph, is invariant to edge partitioning (the integer-ops
    guarantee), and ranks the high-in-degree hub first."""
    from ong_tsdb_spark.operators.graph import pagerank_exact

    edges = [
        (1, 4), (2, 4), (3, 4),      # hub 4
        (4, 5), (5, 1), (2, 5), (6, 1),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: (r["pr_scaled"], r["pr"])
           for r in pagerank_exact(df, iters=8).collect()}
    out2 = {r["node"]: (r["pr_scaled"], r["pr"])
            for r in pagerank_exact(df.repartition(7), iters=8).collect()}
    assert out == out2

    # independent model: same floor-division recurrence
    scale, num, den = 1_000_000_000, 17, 20
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    score = {n: scale for n in nodes}
    for _ in range(8):
        inc = {n: 0 for n in nodes}
        for s, d in edges:
            inc[d] += score[s] // outdeg[s]
        score = {n: ((den - num) * scale + num * inc[n]) // den for n in nodes}
    for n in nodes:
        assert out[n] == (score[n], score[n] / scale), n

    # source-only nodes (2, 3, 6 receive no edges) sit at the damping
    # floor; the hub out-ranks them, and the hub's sole heir (5, which
    # inherits ALL of 4's mass plus 2's split) tops the graph
    assert out[2] == out[3] == out[6]
    assert out[4][0] > out[2][0]
    assert out[5][0] == max(s for s, _ in out.values())


def test_bigram_novelty_fixture(spark, tmp_path):
    """Bigram novelty on a planted corpus: a repeated formulaic doc
    scores 0, a unique-sequence doc scores 1, hand counts verified,
    and the DuckDB twin of the computation agrees exactly."""
    import duckdb

    from ong_tsdb_spark.compare import canon_rows

    rows = [
        (1, "a b c d"),          # bigrams shared with doc 2
        (2, "a b c d"),
        (3, "x y z w"),          # every bigram unique corpus-wide
        (4, "a b q"),            # 'a b' common, 'b q' rare
        (5, "solo"),             # no bigrams -> omitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.bigram_novelty(df)
    got = {r["doc_id"]: (r["n_bigrams"], r["n_rare"], r["novelty"])
           for r in out.collect()}
    assert got == {
        1: (3, 0, 0.0),
        2: (3, 0, 0.0),
        3: (3, 3, 1.0),
        4: (2, 1, 0.5),
    }

    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'")
    rel = con.sql("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
                     i -> w[i] || ' ' || w[i+1])) AS g
              FROM t WHERE len(w) >= 2),
        c AS (SELECT g, count(*) AS n FROM g GROUP BY g)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
               CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS novelty
        FROM g JOIN c USING (g) GROUP BY doc_id
    """)
    assert canon_rows(out.columns, out.collect()) == canon_rows(rel.columns, rel.fetchall())


def test_bigram_novelty_threshold_semantics(spark):
    """Threshold semantics of the single canonical implementation:
    t=2 (rare = corpus count 1) and t=3 must genuinely differ on
    count-2 bigrams — including a doc repeating its own bigram (count
    2 from ONE doc) and a rare-only doc — guarding any future variant
    from silently shifting the rare predicate."""
    from pyspark.sql import functions as F

    rows = [
        (1, "a b c d"), (2, "a b c d"), (3, "x y z w"),
        (4, "a b q"), (5, "solo"), (6, "r r r"),  # (r,r) count 2, same doc
        (7, ""), (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {r["doc_id"]: (r["n_bigrams"], r["n_rare"], r["novelty"])
            for r in text.bigram_novelty(df, rare_threshold=2).collect()}
    # force the general path with an equivalent threshold: count < 2
    # and count <= 1 are the same predicate over integer counts, so
    # compare against threshold=2 routed through the join shape by
    # calling the module-private general branch via a higher threshold
    # on a corpus where counts 1 and 2 are the only values: threshold 2
    # (rare = {1}) vs threshold 3 (rare = {1, 2}) differ exactly on
    # count-2 bigrams, which pins that the fast path is NOT silently
    # implementing threshold 3
    gen3 = {r["doc_id"]: (r["n_bigrams"], r["n_rare"])
            for r in text.bigram_novelty(df, rare_threshold=3).collect()}
    assert fast == {
        1: (3, 0, 0.0), 2: (3, 0, 0.0), 3: (3, 3, 1.0),
        4: (2, 1, 0.5), 6: (2, 0, 0.0),
    }
    assert gen3[6] == (2, 2)  # count-2 self-repeat IS rare at t=3
    # doc1: (a,b) count 3 (docs 1,2,4) stays common; (b,c),(c,d)
    # count 2 turn rare at t=3
    assert gen3[1] == (3, 2)


def test_topic_balanced_sample_quotas_and_prototypes(spark):
    """Planted two tight clusters with known sizes: quotas must be the
    exact integer proportional split, and within each cluster the
    kept members must be the lowest-distance (most prototypical)
    ones, ties to the lowest id."""
    from pyspark.sql import functions as F

    from ong_tsdb_spark.operators import similarity

    # 6 vectors near [0,..]; 3 vectors near [100,..] (dim 4)
    rows = []
    for i in range(6):
        rows.append((i, [float(i) * 0.001, 0.0, 0.0, 0.0]))
    for i in range(3):
        rows.append((10 + i, [100.0 + i * 0.001, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.topic_balanced_sample(df, total=6, k=2, iters=2).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append((r["rank"], r["vec_id"], r["sqdist"]))
    # quotas: floor(6*6/9)=4 and floor(6*3/9)=2
    sizes = sorted(len(v) for v in by_cid.values())
    assert sizes == [2, 4], by_cid
    for cid, members in by_cid.items():
        members.sort()
        # ranks are 1..quota and distances non-decreasing
        assert [m[0] for m in members] == list(range(1, len(members) + 1))
        dists = [m[2] for m in members]
        assert dists == sorted(dists)


def test_epoch_mix_sample_quotas_and_determinism(spark):
    """epoch_mix_sample must (a) keep exactly mixture_plan's n_keep per
    source, (b) pick the md5(doc-id)-ranked prefix (independent Python
    model), (c) be invariant to repartitioning, and (d) keep one
    source's picks fixed when ANOTHER source grows (as long as the
    binding source is unchanged)."""
    import hashlib

    from ong_tsdb_spark.operators import text as t

    rows = [(i, f"src{i % 3}", f"text {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    tgt = {"src0": 500_000, "src1": 300_000, "src2": 200_000}
    got = {
        (r["source"], r["doc_id"]): r["keep_rank"]
        for r in t.epoch_mix_sample(df, target_ppm=tgt).collect()
    }
    plan = {
        r["source"]: r["n_keep"]
        for r in t.mixture_plan(df, target_ppm=tgt).collect()
    }

    def model():
        by_src = {}
        for i, s, _ in rows:
            h = hashlib.md5(f"mix|{i}".encode()).hexdigest()
            by_src.setdefault(s, []).append((h, i))
        want = {}
        for s, items in by_src.items():
            for rk, (_h, i) in enumerate(sorted(items), start=1):
                if rk <= plan.get(s, 0):
                    want[(s, i)] = rk
        return want

    want = model()
    assert got == want
    from collections import Counter

    kept_per_src = Counter(s for s, _ in got)
    for s, n_keep in plan.items():
        assert kept_per_src.get(s, 0) == n_keep, (s, n_keep)
    # (c) partitioning invariance
    got2 = {
        (r["source"], r["doc_id"]): r["keep_rank"]
        for r in t.epoch_mix_sample(df.repartition(13), target_ppm=tgt).collect()
    }
    assert got2 == got
    # (d) growing src2 (non-binding: smallest n/t stays src-dependent)
    grown = df.unionByName(
        spark.createDataFrame(
            [(1000 + i, "src2", "new") for i in range(10)],
            "doc_id long, source string, text string",
        )
    )
    plan_g = {
        r["source"]: r["n_keep"]
        for r in t.mixture_plan(grown, target_ppm=tgt).collect()
    }
    if plan_g.get("src0") == plan.get("src0"):  # binding unchanged
        got_g = {
            k: v
            for k, v in (
                (
                    (r["source"], r["doc_id"]),
                    r["keep_rank"],
                )
                for r in t.epoch_mix_sample(grown, target_ppm=tgt).collect()
            )
            if k[0] == "src0"
        }
        want_src0 = {k: v for k, v in got.items() if k[0] == "src0"}
        assert got_g == want_src0


def test_nb_train_weights_fixture_and_roundtrip(spark):
    """nb_train_weights: per-bucket counts and integer purity weights
    against hand counts with explicit labels; the trained table,
    densified into the classifier's weight vector, then separates the
    classes it was trained on (the train -> score loop closes)."""
    from ong_tsdb_spark.operators import text as t

    rows = [
        (1, "good good fine", True),
        (2, "good fine", True),
        (3, "bad bad junk", False),
        (4, "bad junk", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab boolean")
    n_b = 64
    out = {r["bucket"]: r for r in t.nb_train_weights(
        df, label_col="lab", n_buckets=n_b).collect()}

    import hashlib

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_b

    # hand counts per token occurrence
    want: dict[int, list[int]] = {}
    for _, txt, lab in rows:
        for tok in txt.split(" "):
            b = bucket(tok)
            pn = want.setdefault(b, [0, 0])
            pn[0 if lab else 1] += 1
    assert set(out) == set(want)
    for b, (pos, neg) in want.items():
        assert out[b]["n_pos"] == pos and out[b]["n_neg"] == neg, b
        assert out[b]["weight"] == (pos * 1000) // (pos + neg + 1) - 500, b

    # round trip: densify and score with the trained table
    dense = [0] * n_b
    for b, r in out.items():
        dense[b] = r["weight"]
    scored = df.select(
        "doc_id", t.classifier_score_expr(F.col("text"), dense).alias("s")
    ).collect()
    s = {r["doc_id"]: r["s"] for r in scored}
    assert min(s[1], s[2]) > max(s[3], s[4]), s  # classes separate

    # default weak label (longer than mean, integer-exact): just shape
    auto = t.nb_train_weights(df.select("doc_id", "text"), n_buckets=n_b)
    cols = auto.columns
    assert cols == ["bucket", "n_pos", "n_neg", "weight"]
    assert auto.count() == len(want)


def test_streaming_ingest_default_sensor_on_tagless_lines(eng, tmp_path):
    """Code-review r9: parse_lines yields EMPTY STRINGS (not nulls)
    for absent parts, so the default_db/default_sensor coalesce was
    dead and tagless lines targeted a sensor literally named ''.
    A line with no ,key= tag must land in the configured default."""
    from ong_tsdb_spark.sources.influx import parse_lines
    from ong_tsdb_spark.streaming.ingest import upsert_parsed_batch

    eng.create_sensor("d", "s1", "1s", ["temp"])
    lines = eng.spark.createDataFrame(
        [("d temp=1.5 1672617600000000000",)], "line string"
    )
    upsert_parsed_batch(
        eng,
        parse_lines(lines),
        default_db="d",
        default_sensor="s1",
    )
    out = eng.read_pandas("d", "s1")
    assert len(out) == 1 and out["temp"].iloc[0] == 1.5


def test_ewma_updater_chunked_nan_and_warmup():
    """Code-review r9, three contracts of the stateful EWMA updater,
    driven directly (pure function + a state stub):
    1. multiple Arrow chunks whose time ranges interleave are
       concatenated and sorted ONCE (per-chunk sorting corrupts the
       recursion order);
    2. a NaN value passes through without poisoning state;
    3. the second sample of a series never flags (zero observed
       variance makes any deviation z=inf) — warmup suppresses it."""
    import pandas as pd

    from ong_tsdb_spark.streaming.stateful import make_ewma_updater

    class FakeState:
        def __init__(self):
            self.exists = False
            self.saved = None

        @property
        def get(self):
            return self.saved

        def update(self, v):
            self.saved = v
            self.exists = True

    up = make_ewma_updater(alpha=0.5, z_threshold=2.0, warmup=3)

    # (1) chunks interleave in time: chunk1 has ts 0,2 chunk2 has ts 1
    st = FakeState()
    c1 = pd.DataFrame({"ts_sec": [0.0, 2.0], "value": [10.0, 30.0]})
    c2 = pd.DataFrame({"ts_sec": [1.0], "value": [20.0]})
    frames = list(up(("s",), iter([c1, c2]), st))
    out = pd.concat(frames, ignore_index=True)
    assert out["ts_sec"].tolist() == [0.0, 1.0, 2.0]
    # processed in global time order: ewma after 10,20 is 15, not the
    # 10,30,20 order per-chunk sorting would produce
    assert out["value"].tolist() == [10.0, 20.0, 30.0]
    assert out["ewma"].tolist()[1] == 15.0

    # (2) NaN neither flags nor poisons
    st2 = FakeState()
    pdf = pd.DataFrame(
        {"ts_sec": [0.0, 1.0, 2.0], "value": [10.0, float("nan"), 12.0]}
    )
    out2 = pd.concat(list(up(("s",), iter([pdf]), st2)), ignore_index=True)
    assert out2["is_anomaly"].tolist() == [0, 0, 0]
    ewma_saved, ewmvar_saved, count_saved = st2.saved
    assert ewma_saved == ewma_saved  # not NaN
    assert count_saved == 2  # the NaN row did not advance the count

    # (3) second-sample inf z is reported but not flagged under warmup
    st3 = FakeState()
    pdf3 = pd.DataFrame({"ts_sec": [0.0, 1.0], "value": [20.0, 20.0001]})
    out3 = pd.concat(list(up(("s",), iter([pdf3]), st3)), ignore_index=True)
    assert out3["zscore"].tolist()[1] == float("inf")
    assert out3["is_anomaly"].tolist() == [0, 0]


def test_downsample_subsecond_tiebreak_deterministic(eng):
    """Code-review r9: read_downsampled truncated ts to whole seconds
    for bucketing AND ordering, so on sub-second grids every row in a
    second tied and 'first' was shuffle-order. The real timestamp now
    breaks the tie: the true earliest row of each bucket wins, every
    run."""
    # 250 ms: exactly representable in binary floats, so grid snap
    # at epoch magnitudes is collision-free (0.1 s steps are not)
    eng.create_sensor("d", "sub", "250ms", ["v"])
    t0 = 1672617600
    rows = [("v", float(i), t0 + i * 0.25) for i in range(4)]  # 4 rows in 1 s
    rows += [("v", float(100 + i), t0 + 1 + i * 0.25) for i in range(4)]
    eng.write_points("d", "sub", rows)
    for _ in range(3):  # determinism across replans
        out = eng.read_downsampled(
            "d", "sub", t0, t0 + 1.9, max_datapoints=2, use_rollups=False
        ).collect()
        assert [r["v"] for r in out] == [0.0, 100.0]
        assert [round(r["ts_sec"], 1) for r in out] == [t0, t0 + 1]


def test_rollup_skips_when_schema_grew(eng):
    """Code-review r9: with metrics=None a rollup created BEFORE later
    schema growth must not serve the downsampled read (it lacks the
    grown column) — the raw scan serves and the new metric is
    present."""
    from ong_tsdb_spark.plans.rollup import rollup_sensor

    eng.create_sensor("d", "raw1", "1s", ["a"])
    t0 = 1672617600
    eng.write_points("d", "raw1", [("a", float(i), t0 + i) for i in range(120)])
    rollup_sensor(eng, "d", "raw1", "raw1_1m", freq="60s", agg="first")
    # grow the raw schema with metric b
    eng.write_points("d", "raw1", [("b", 7.5, t0 + 50)])
    out = eng.read_downsampled("d", "raw1", t0, t0 + 119, max_datapoints=2)
    cols = out.columns
    assert "b" in cols, f"grown metric missing (served from stale rollup): {cols}"
    rows = out.collect()
    assert len(rows) == 2


def test_rollup_first_is_time_ordered(eng):
    """Code-review r9: the 'first' rollup aggregation is min-by-time
    over non-null cells (deterministic), not F.first's post-shuffle
    row order; a bucket whose earliest cell is NaN takes the earliest
    NON-NULL value."""
    import math as _math

    from ong_tsdb_spark.plans.rollup import rollup_sensor

    eng.create_sensor("d", "raw2", "1s", ["x", "y"])
    t0 = 1672617600
    # bucket [t0, t0+60): x written late with a SMALLER value at an
    # earlier... craft: x at t0+5 = 9.0 (earliest non-null), x at
    # t0+40 = 1.0; y only at t0+30
    eng.write_points("d", "raw2", [("x", 1.0, t0 + 40), ("x", 9.0, t0 + 5)])
    eng.write_points("d", "raw2", [("y", 3.0, t0 + 30)])
    rollup_sensor(eng, "d", "raw2", "raw2_1m", freq="60s", agg="first")
    row = eng.read("d", "raw2_1m").collect()[0]
    assert row["x"] == 9.0  # earliest-by-time, not min or shuffle order
    assert row["y"] == 3.0
    assert row["ts_sec"] == t0
    # the 'last' twin
    rollup_sensor(eng, "d", "raw2", "raw2_1m_last", freq="60s", agg="last")
    row = eng.read("d", "raw2_1m_last").collect()[0]
    assert row["x"] == 1.0 and row["y"] == 3.0
    assert not _math.isnan(row["x"])


def test_pick_rollup_sensor_deleted_race(eng, monkeypatch):
    """ADVICE r9: a sensor deleted between auth and the rollup picker
    must fall back to the raw-scan path (return None), not raise out of
    read_downsampled — the config read sits inside the same guard as
    get_sensors and only runs when no explicit projection is given."""
    eng.create_sensor("d", "race", "1s", ["v"])
    idx = pd.date_range("2023-01-02", periods=10, freq="1s", tz="UTC")
    eng.write_df("d", "race", pd.DataFrame({"v": np.arange(10.0)}, index=idx))
    t0 = idx[0].timestamp()

    real_get_config = eng.catalog.get_config

    def racy_get_config(db, sensor):
        if sensor == "race":
            raise FileNotFoundError("deleted between auth and picker")
        return real_get_config(db, sensor)

    monkeypatch.setattr(eng.catalog, "get_config", racy_get_config)
    assert eng._pick_rollup_for("d", "race", t0, t0 + 9, 5, None) is None
    # explicit projection never needs the raw config at all
    assert eng._pick_rollup_for("d", "race", t0, t0 + 9, 5, ["v"]) is None


def test_is_path_not_found_prefers_error_class():
    """ADVICE r9: the no-data test matches the structured error class
    when present; message substrings are only the class-less fallback
    — a classed exception whose MESSAGE merely mentions the string
    must not be treated as 'no data' (it would skip the cellwise merge
    and overwrite existing chunks)."""
    from ong_tsdb_spark.engine import _is_path_not_found

    class Classed(Exception):
        def __init__(self, klass, msg):
            super().__init__(msg)
            self._k = klass

        def getErrorClass(self):
            return self._k

    class Classless(Exception):
        pass

    assert _is_path_not_found(Classed("PATH_NOT_FOUND", "whatever"))
    assert not _is_path_not_found(
        Classed("UNRESOLVED_COLUMN", "looking at Path does not exist str")
    )
    assert _is_path_not_found(Classless("[PATH_NOT_FOUND] Path does not exist"))
    assert not _is_path_not_found(Classless("permission denied"))
