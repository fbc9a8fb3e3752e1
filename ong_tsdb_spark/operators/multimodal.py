"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Design for 100 TB: the binary column never leaves the executor —
decode/feature-extract runs per Arrow batch next to the Parquet scan;
only small typed features shuffle.

Decoders, three tiers per media type:

1. library decoders (PIL for images, soundfile for audio, av for
   video) when importable on the executors;
2. stdlib REAL decoders that need no third-party install: PNG
   width/height parsed from the IHDR chunk, WAV duration via the
   ``wave`` module — true values from the actual container format;
3. a clearly-deterministic STUB that derives fake (width, height,
   duration) from the payload digest, so the Spark-side plumbing —
   schema, batch shape, partitioning — stays testable with arbitrary
   payloads.

``decoders="auto"`` (default) tries 1 -> 2 -> 3; ``decoders="real"``
tries 1 -> 2 and raises NotImplementedError when neither can truly
decode the payload; ``decoders="stub"`` forces 3 (the oracle-checked
registry query uses it for digest-determinism).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of the extracted feature rows
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.FloatType()),
    ]
)


def extract_features(
    df: DataFrame,
    id_col: str = "item_id",
    payload_col: str = "payload",
    type_col: str = "media_type",
    decoders: str = "auto",
) -> DataFrame:
    """Arrow-batched feature extraction over a binary column.  The
    generator-of-DataFrames shape keeps peak memory to one Arrow batch
    regardless of partition size.

    ``decoders``: "auto" (library, else stdlib PNG/WAV parse, else
    stub), "stub" (always deterministic), or "real" (library or
    stdlib parse; raise NotImplementedError when the payload cannot be
    truly decoded)."""
    if decoders not in ("auto", "stub", "real"):
        raise ValueError(f"decoders must be auto|stub|real, got {decoders!r}")

    # NOTE: the batch function must be fully self-contained — any
    # reference to a module-level name would be pickled *by reference*
    # and executor Python workers would need ong_tsdb_spark importable
    # (they inherit PYTHONPATH, not the driver's sys.path mutations).
    # Third-party libs (PIL/soundfile/av) import fine by name when
    # installed on the executors.
    col_names = [f.name for f in FEATURE_SCHEMA.fields]
    mode = decoders

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io
        import wave as _wave

        import pandas as _pd

        def _try_import(name: str):
            if mode == "stub":
                return None
            try:
                return __import__(name, fromlist=["_"])
            except ImportError:
                return None

        pil_image = _try_import("PIL.Image")
        soundfile = _try_import("soundfile")
        av = _try_import("av")

        def decode(payload: bytes, media_type: str) -> tuple[int, int, float]:
            if media_type not in ("image", "audio", "video"):
                raise NotImplementedError(f"unknown media_type {media_type!r}")
            # each tier is a TRY: a library that IS importable but
            # cannot parse this particular payload (corrupt bytes, a
            # container it doesn't know) must fall THROUGH to the next
            # tier under "auto" — a per-row decode error would
            # otherwise kill the whole job the moment PIL/soundfile/av
            # happen to be installed (code-review r9); "real" reports
            # the failure as its documented NotImplementedError below
            if mode != "stub":
                if media_type == "image":
                    if pil_image is not None:
                        try:
                            with pil_image.open(_io.BytesIO(payload)) as im:
                                return im.width, im.height, 0.0
                        except Exception:  # noqa: BLE001 — tier fallthrough
                            pass
                    # stdlib real decode: PNG IHDR (first chunk by spec)
                    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
                        return (
                            int.from_bytes(payload[16:20], "big"),
                            int.from_bytes(payload[20:24], "big"),
                            0.0,
                        )
                if media_type == "audio":
                    if soundfile is not None:
                        try:
                            info = soundfile.info(_io.BytesIO(payload))
                            return 0, 0, float(info.frames) / float(
                                info.samplerate or 1
                            )
                        except Exception:  # noqa: BLE001 — tier fallthrough
                            pass
                    # stdlib real decode: WAV via the wave module
                    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                        try:
                            with _wave.open(_io.BytesIO(payload)) as wf:
                                return 0, 0, float(wf.getnframes()) / float(
                                    wf.getframerate() or 1
                                )
                        except Exception:  # noqa: BLE001 — tier fallthrough
                            # RIFF/WAVE magic but corrupt/truncated: the
                            # wave module raises wave.Error, EOFError, or
                            # a bare RuntimeError (chunk.skip on a short
                            # chunk) depending on where the data ends
                            pass
                if media_type == "video" and av is not None:
                    try:
                        with av.open(_io.BytesIO(payload)) as container:
                            stream = container.streams.video[0]
                            dur = float(container.duration or 0) / 1_000_000.0
                            return int(stream.width), int(stream.height), dur
                    except Exception:  # noqa: BLE001 — tier fallthrough
                        pass
            if mode == "real":
                raise NotImplementedError(
                    f"decoders='real': no decoder can truly decode this "
                    f"{media_type} payload (library missing / unknown format)"
                )
            # stub fallback: deterministic fake features from the digest
            d = _hashlib.sha256(payload).digest()
            return 64 + d[0] % 192, 64 + d[1] % 192, (
                0.0 if media_type == "image" else float(1 + d[2] % 60)
            )

        for pdf in batches:
            payloads = pdf[payload_col]
            types = pdf[type_col]
            rows = []
            for i in range(len(pdf)):
                raw = bytes(payloads.iloc[i] or b"")
                mt = types.iloc[i]
                w, h, dur = decode(raw, mt)
                rows.append(
                    (
                        int(pdf[id_col].iloc[i]),
                        mt,
                        len(raw),
                        _hashlib.sha256(raw).hexdigest(),
                        w,
                        h,
                        dur,
                    )
                )
            yield _pd.DataFrame(rows, columns=col_names)

    return df.mapInPandas(run, FEATURE_SCHEMA)


def fake_media_table(docs: DataFrame, media_type: str = "image") -> DataFrame:
    """Build a synthetic media table from the documents corpus: the
    text bytes stand in for an encoded payload (deterministic), with
    the typed-metadata columns a real pipeline would carry."""
    return docs.select(
        F.col("doc_id").alias("item_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.col("source").alias("origin"),
    )


#: schema of resized-image rows (payload stays binary, opaque)
RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

#: schema of sampled-frame rows (1 input row -> N frame rows)
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_s", T.FloatType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "item_id",
    payload_col: str = "payload",
    decoders: str = "auto",
) -> DataFrame:
    """1->1 binary transform over Arrow batches: re-encode every image
    at (width, height).  With PIL importable on the executors the
    resize is real (LANCZOS + PNG re-encode); otherwise the payload is
    passed through with a deterministic stub header so the plumbing
    (binary in -> binary out, schema, batching) still runs end-to-end.
    The payload never shuffles — this runs next to the scan."""
    if decoders not in ("auto", "stub", "real"):
        raise ValueError(f"decoders must be auto|stub|real, got {decoders!r}")
    mode, w_t, h_t = decoders, int(width), int(height)
    col_names = [f.name for f in RESIZE_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        import pandas as _pd

        pil = None
        if mode != "stub":
            try:
                pil = __import__("PIL.Image", fromlist=["_"])
            except ImportError:
                if mode == "real":
                    raise NotImplementedError(
                        "decoders='real' but PIL is not installed"
                    ) from None

        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                raw = bytes(pdf[payload_col].iloc[i] or b"")
                payload = None
                if pil is not None:
                    try:
                        with pil.open(_io.BytesIO(raw)) as im:
                            out = _io.BytesIO()
                            im.resize((w_t, h_t)).save(out, format="PNG")
                            payload = out.getvalue()
                    except Exception:  # noqa: BLE001 — see extract_features
                        if mode == "real":
                            raise NotImplementedError(
                                "decoders='real': PIL cannot decode this payload"
                            ) from None
                if payload is None:
                    # stub: tagged pass-through, deterministic
                    payload = b"RSZ\x00" + raw
                rows.append((int(pdf[id_col].iloc[i]), payload, w_t, h_t))
            yield _pd.DataFrame(rows, columns=col_names)

    return df.mapInPandas(run, RESIZE_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_s: float = 1.0,
    max_frames: int = 5,
    id_col: str = "item_id",
    payload_col: str = "payload",
    decoders: str = "auto",
) -> DataFrame:
    """1->N frame sampling over Arrow batches: each video row yields
    one row per sampled frame (the generator shape makes the fan-out
    streaming — no giant in-memory frame list).  With av importable
    the frames are real decoded images; the stub derives a
    DETERMINISTIC frame count from the payload size
    (1 + n_bytes mod max_frames) so the fan-out is oracle-checkable."""
    if decoders not in ("auto", "stub", "real"):
        raise ValueError(f"decoders must be auto|stub|real, got {decoders!r}")
    if int(max_frames) < 1:
        # the stub fan-out is 1 + n_bytes mod max_frames — a zero cap
        # would be a per-row ZeroDivisionError inside the Arrow batch
        raise ValueError(f"max_frames must be >= 1, got {max_frames}")
    mode, step, cap = decoders, float(every_s), int(max_frames)
    col_names = [f.name for f in FRAME_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io

        import pandas as _pd

        av = None
        if mode != "stub":
            try:
                av = __import__("av")
            except ImportError:
                if mode == "real":
                    raise NotImplementedError(
                        "decoders='real' but av is not installed"
                    ) from None

        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                item = int(pdf[id_col].iloc[i])
                raw = bytes(pdf[payload_col].iloc[i] or b"")
                decoded = False
                if av is not None:
                    # buffer per item: a mid-stream decode error must
                    # not leave half the real frames in the output next
                    # to the stub fan-out for the same item
                    item_rows = []
                    try:
                        with av.open(_io.BytesIO(raw)) as container:
                            next_t, idx = 0.0, 0
                            for frame in container.decode(video=0):
                                if frame.time is None or frame.time + 1e-9 < next_t:
                                    continue
                                buf = _io.BytesIO()
                                frame.to_image().save(buf, format="PNG")
                                item_rows.append(
                                    (item, idx, float(frame.time), buf.getvalue())
                                )
                                idx += 1
                                next_t += step
                                if idx >= cap:
                                    break
                        rows.extend(item_rows)
                        decoded = True
                    except Exception:  # noqa: BLE001 — see extract_features
                        if mode == "real":
                            raise NotImplementedError(
                                "decoders='real': av cannot decode this payload"
                            ) from None
                if not decoded:
                    n = 1 + len(raw) % cap  # deterministic stub fan-out
                    for k in range(n):
                        fp = _hashlib.sha256(raw + k.to_bytes(4, "big")).digest()
                        rows.append((item, k, float(k) * step, fp))
            yield _pd.DataFrame(rows, columns=col_names)

    return df.mapInPandas(run, FRAME_SCHEMA)
