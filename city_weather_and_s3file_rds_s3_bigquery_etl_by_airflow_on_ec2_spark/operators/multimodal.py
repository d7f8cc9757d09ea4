"""Multimodal column conventions (SURVEY.md §2.13).

Images/audio/video are opaque ``binary`` columns plus a typed metadata
struct — the parquet-native layout that lets Catalyst prune/push down
on metadata while the payload bytes stream through untouched. The
decode/feature steps run as Arrow-batched ``mapInPandas`` (the real
plumbing: schema, batch iteration, partition alignment), with the
actual codec stubbed when no image/audio library is installed: decode
then falls to a clearly-marked deterministic fake.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# metadata struct convention carried beside every binary payload column
MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType()),   # "image" | "audio" | ...
    T.StructField("format", T.StringType()),       # "png", "wav", ...
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
])


def attach_media_columns(df: DataFrame, payload_text_col: str,
                         media_type: str = "image",
                         fmt: str = "fake") -> DataFrame:
    """Wrap a column's bytes as an opaque media payload + metadata
    struct. (Testdata has no true binaries, so payload bytes are the
    UTF-8 encoding of a text column — the *column conventions* are what
    downstream operators depend on, not the codec.)"""
    payload = F.encode(F.col(payload_text_col), "UTF-8")
    return df.withColumn("media_bytes", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ),
    )


def _stub_dims(raw: bytes) -> tuple[int, int]:
    """Deterministic fake width/height derived from the payload sha —
    the documented stand-in when no codec applies to the bytes."""
    d = hashlib.sha256(raw).digest()
    return 16 + d[0] % 240, 16 + d[1] % 240


def _pil_codec(raw: bytes) -> tuple[int, int]:
    """Real image decode via PIL (executor-side import).

    Falls back to the deterministic stub dims only on the
    "not an image" family — UnidentifiedImageError is an OSError
    subclass, and truncated/garbage headers surface as OSError or
    ValueError (ADVICE r2/r3): auto-resolved decode must never crash
    on non-image payloads (the testdata wraps UTF-8 text as the binary
    column) but unexpected decode errors (e.g. decompression-bomb
    guards, executor-side PIL bugs) must propagate rather than be
    silently replaced with plausible-looking fake dims."""
    from io import BytesIO

    from PIL import Image

    try:
        with Image.open(BytesIO(raw)) as im:
            return im.width, im.height
    except (OSError, ValueError):
        return _stub_dims(raw)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_header_codec(raw: bytes) -> tuple[int, int]:
    """Real (if minimal) image decode: parse a PNG's IHDR chunk.

    Pure-Python reading of the actual byte layout — 8-byte signature,
    then the mandatory first chunk ``IHDR`` whose 13-byte payload
    starts with width/height as big-endian uint32 (PNG spec §11.2.2).
    The chunk CRC is verified (zlib.crc32 over type+data) so truncated
    or corrupted headers are rejected, not misread. Raises ValueError
    on non-PNG bytes — callers that want tolerance compose it with
    ``_stub_dims`` the way ``_pil_codec`` does."""
    import struct
    import zlib

    if len(raw) < 33 or raw[:8] != _PNG_SIG:
        raise ValueError("not a PNG byte stream")
    (length,) = struct.unpack(">I", raw[8:12])
    if length != 13 or raw[12:16] != b"IHDR":
        raise ValueError("PNG missing IHDR first chunk")
    (crc,) = struct.unpack(">I", raw[29:33])
    if zlib.crc32(raw[12:29]) & 0xFFFFFFFF != crc:
        raise ValueError("PNG IHDR CRC mismatch")
    width, height = struct.unpack(">II", raw[16:24])
    if width == 0 or height == 0:
        raise ValueError("PNG dimensions must be positive")
    return width, height


def encode_png(width: int, height: int, gray: int = 0) -> bytes:
    """Minimal spec-valid PNG encoder (PNG spec §11/§13: signature,
    CRC'd IHDR, one zlib IDAT of filter-0 scanlines, IEND) for a solid
    8-bit grayscale image — pure stdlib, executor-safe.  Exists so the
    engine can MANUFACTURE genuine PNG payloads from lake columns and
    round-trip them through the real IHDR decoder under the driver's
    oracle gate (``multimodal_png_roundtrip``); a real vision pipeline
    replaces it with actual image bytes, not this generator."""
    import struct
    import zlib

    if width <= 0 or height <= 0:
        raise ValueError("PNG dimensions must be positive")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([gray & 0xFF]) * width
                   for _ in range(height))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _png_or_stub_codec(raw: bytes) -> tuple[int, int]:
    """Middle resolution tier: real dims for PNG payloads via the
    pure-Python CRC-verified IHDR parser, deterministic stub dims for
    everything else."""
    try:
        return png_header_codec(raw)
    except ValueError:
        return _stub_dims(raw)


def resolve_codec():
    """Three-tier codec resolution (VERDICT r3 #7):
    PIL (all formats) → PNG-IHDR header parser (real dims for PNG
    lakes even without PIL) → deterministic stub for non-image bytes.
    Probed at call time (driver side) so environments that do ship
    PIL get full decode without code changes; environments without it
    still read true dimensions out of real PNG payloads. The registry
    entry stays pinned to ``codec=None`` (environment-independent
    oracle)."""
    try:
        import PIL  # noqa: F401
    except ImportError:
        return _png_or_stub_codec
    return _pil_codec


_AUTO = object()


def decode_and_extract(df: DataFrame, id_col: str = "doc_id",
                       codec=_AUTO) -> DataFrame:
    """Decode + feature-extract over media payloads via mapInPandas.

    ``codec`` is a ``bytes -> (width, height)`` callable; by default it
    resolves through :func:`resolve_codec`. With ``codec=None`` the
    width/height are deterministic fakes derived from the payload sha,
    so the distributed plumbing (Arrow batches, schema,
    partition-parallel execution) is fully exercised and testable
    either way."""
    if codec is _AUTO:
        codec = resolve_codec()
    fn = codec if codec is not None else _stub_dims

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["media_bytes"].map(lambda b: fn(bytes(b)))
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "width": dims.map(lambda d: d[0]).astype("int32"),
                "height": dims.map(lambda d: d[1]).astype("int32"),
                "n_bytes": pdf["media_bytes"].map(len).astype("int64"),
            })

    return df.select(id_col, "media_bytes").mapInPandas(extract, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("resized_bytes", T.BinaryType()),
    T.StructField("n_bytes", T.LongType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.LongType()),
    T.StructField("byte_offset", T.LongType()),
    T.StructField("frame_bytes", T.BinaryType()),
])


def resize_media(df: DataFrame, target_w: int, target_h: int,
                 id_col: str = "doc_id", resizer=_AUTO) -> DataFrame:
    """Resize every media payload to (target_w, target_h) via
    Arrow-batched ``mapInPandas`` — the batch-transform shape of a
    vision-pretraining preprocessing stage.

    ``resizer`` is ``bytes -> bytes`` (decoded, resized, re-encoded).
    Auto-resolution mirrors ``decode_and_extract``: a real PIL
    resize+PNG-re-encode when PIL imports, else the deterministic
    stub (sha-keyed fake payload of ``target_w*target_h`` bytes) so
    the plumbing — binary in/out columns, output schema, partition
    parallelism — is exercised without the codec."""
    if resizer is _AUTO:
        resizer = _resolve_resizer(target_w, target_h)

    def stub(raw: bytes) -> bytes:
        d = hashlib.sha256(raw).digest()
        reps = (target_w * target_h) // len(d) + 1
        return (d * reps)[: target_w * target_h]

    fn = resizer if resizer is not None else stub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf["media_bytes"].map(lambda b: fn(bytes(b)))
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "width": target_w,
                "height": target_h,
                "resized_bytes": out,
                "n_bytes": out.map(len).astype("int64"),
            })

    return df.select(id_col, "media_bytes").mapInPandas(run, RESIZE_SCHEMA)


def _resolve_resizer(target_w: int, target_h: int):
    """PIL resize+re-encode when importable (same tier logic as
    resolve_codec), else None → caller falls to the stub."""
    try:
        import io

        from PIL import Image  # noqa: F401
    except Exception:
        return None

    def pil_resize(raw: bytes) -> bytes:
        import io

        from PIL import Image, UnidentifiedImageError
        try:
            img = Image.open(io.BytesIO(raw))
            img = img.resize((target_w, target_h))
            buf = io.BytesIO()
            img.save(buf, format="PNG")
            return buf.getvalue()
        except (UnidentifiedImageError, OSError, ValueError):
            # "not an image" family only — mirrors _pil_codec's
            # narrowed fallback (ADVICE r4): fake payload, observable
            # via the deterministic stub size
            d = hashlib.sha256(raw).digest()
            reps = (target_w * target_h) // len(d) + 1
            return (d * reps)[: target_w * target_h]

    return pil_resize


def sample_frames(df: DataFrame, frame_size: int = 256, stride: int = 4,
                  id_col: str = "doc_id") -> DataFrame:
    """Frame-sample a video-typed payload: emit every ``stride``-th
    fixed-size frame with its index and byte offset — the row-fanout
    shape (one input row → many frame rows) of video-pretraining
    ingest, via ``mapInPandas`` so a single huge payload never
    round-trips through a Python list column.

    Container parsing is the deterministic stand-in (fixed
    ``frame_size``-byte frames — no video demuxer ships in this
    environment; a real implementation swaps the chunker for an
    ffmpeg/pyav keyframe iterator with the SAME output schema). The
    Spark-side contract — schema, fanout, offsets, partition
    parallelism — is real and tested."""
    if frame_size <= 0 or stride <= 0:
        raise ValueError("frame_size and stride must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, frames = [], [], [], []
            for doc_id, raw in zip(pdf[id_col], pdf["media_bytes"]):
                raw = bytes(raw)
                n_frames = (len(raw) + frame_size - 1) // frame_size
                for fi in range(0, n_frames, stride):
                    ids.append(doc_id)
                    idxs.append(fi)
                    offs.append(fi * frame_size)
                    frames.append(raw[fi * frame_size:(fi + 1) * frame_size])
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "byte_offset": pd.Series(offs, dtype="int64"),
                "frame_bytes": pd.Series(frames, dtype=object),
            })

    return df.select(id_col, "media_bytes").mapInPandas(run, FRAME_SCHEMA)


ARROW_META_SCHEMA = ("doc_id long, n_bytes long, n_frames long, "
                     "odd_bytes boolean")


def arrow_batch_meta(df: DataFrame, id_col: str = "doc_id",
                     frame_size: int = 256) -> DataFrame:
    """Payload metadata via ``mapInArrow`` — the Arrow-NATIVE batch
    surface (§2.11's last family): the function receives
    ``pyarrow.RecordBatch``es and answers with pure ``pyarrow.compute``
    kernels, so payload bytes are never copied into pandas objects or
    Python row loops — the cheapest possible Python-side pass over a
    100 TB binary column (per-batch work is a handful of vectorized
    C++ kernel calls).

    Emits per payload: byte length, fixed-``frame_size`` frame count
    (the chunk census ``sample_frames`` fans out to), and a parity
    flag — all integer arithmetic, hence SQL-expressible and
    oracle-checked end-to-end."""
    if frame_size <= 0:
        raise ValueError("frame_size must be positive")

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n = pc.cast(pc.binary_length(b.column("media_bytes")),
                        pa.int64())
            frames = pc.divide(pc.add(n, frame_size - 1),
                               pa.scalar(frame_size, pa.int64()))
            odd = pc.equal(pc.bit_wise_and(n, pa.scalar(1, pa.int64())),
                           pa.scalar(1, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), n, frames, odd],
                names=["doc_id", "n_bytes", "n_frames", "odd_bytes"])

    return df.select(id_col, "media_bytes").mapInArrow(
        run, ARROW_META_SCHEMA)


WAV_RMS_SCHEMA = ("doc_id long, frame_idx long, sample_offset long, "
                  "n_samples long, rms double")


def wav_rms_energy(df: DataFrame, frame_samples: int = 1024,
                   id_col: str = "doc_id") -> DataFrame:
    """REAL audio decode tier (VERDICT r5 #6): parse genuine RIFF/WAVE
    payloads with the stdlib ``wave`` reader (always available — no
    optional codec), deinterleave 16-bit PCM with NumPy, and emit one
    RMS energy row per ``frame_samples``-sample frame — the actual
    feature a speech-pretraining filter thresholds on (silence/clipping
    detection), not the sha stand-in of :func:`frame_energy`.

    Multi-channel audio is averaged to mono before the RMS (the usual
    VAD convention). Non-WAV or non-16-bit payloads raise ValueError —
    callers wanting tolerance pre-filter on ``media_meta.format``,
    which is exactly what the metadata struct is for.  Plan: same
    map-side fanout as ``frame_energy`` — payload bytes never shuffle;
    output rows ≈ n_samples/frame_samples."""
    if frame_samples <= 0:
        raise ValueError("frame_samples must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in batches:
            ids, idxs, offs, lens, rms = [], [], [], [], []
            for doc_id, raw in zip(pdf[id_col], pdf["media_bytes"]):
                try:
                    with wave.open(io.BytesIO(bytes(raw))) as w:
                        if w.getsampwidth() != 2:
                            raise ValueError("only 16-bit PCM supported")
                        n_ch = w.getnchannels()
                        pcm = np.frombuffer(
                            w.readframes(w.getnframes()), dtype="<i2")
                except (wave.Error, EOFError) as exc:
                    raise ValueError(f"not a readable WAV payload: {exc}")
                mono = pcm.reshape(-1, n_ch).mean(axis=1)
                for k in range(0, len(mono), frame_samples):
                    frame = mono[k:k + frame_samples]
                    ids.append(doc_id)
                    idxs.append(k // frame_samples)
                    offs.append(k)
                    lens.append(len(frame))
                    rms.append(float(np.sqrt(np.mean(frame ** 2))))
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "sample_offset": pd.Series(offs, dtype="int64"),
                "n_samples": pd.Series(lens, dtype="int64"),
                "rms": pd.Series(rms, dtype="float64"),
            })

    return df.select(id_col, "media_bytes").mapInPandas(run, WAV_RMS_SCHEMA)


ENERGY_SCHEMA = ("doc_id long, frame_idx long, byte_offset long, "
                 "n_frame_bytes long, energy_stub long")


def frame_energy(df: DataFrame, frame_size: int = 256,
                 id_col: str = "doc_id") -> DataFrame:
    """Per-frame energy extraction for an audio-typed payload — the
    third modality's feature shape (image=decode/resize, video=frame
    sample, audio=frame energy): chunk the waveform container into
    fixed-size frames and emit one feature row per frame via
    Arrow-batched ``mapInPandas``.

    The "decoder" is the deterministic stand-in tier (no audio codec
    ships in this environment): a frame's energy is derived from the
    sha256 of its bytes (first byte of the digest), which keeps the
    WHOLE transform — chunking, offsets, and the feature value —
    SQL-expressible and therefore fully oracle-checked; a real
    implementation swaps the stub for an RMS over PCM samples with
    the SAME schema.  Plan: pure row fanout inside map tasks, output
    rows ≈ payload_bytes/frame_size, payloads never shuffle."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, eners = [], [], [], [], []
            for doc_id, raw in zip(pdf[id_col], pdf["media_bytes"]):
                b = bytes(raw)
                n_frames = max(1, -(-len(b) // frame_size))
                for k in range(n_frames):
                    chunk = b[k * frame_size:(k + 1) * frame_size]
                    ids.append(doc_id)
                    idxs.append(k)
                    offs.append(k * frame_size)
                    lens.append(len(chunk))
                    eners.append(hashlib.sha256(chunk).digest()[0])
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "byte_offset": pd.Series(offs, dtype="int64"),
                "n_frame_bytes": pd.Series(lens, dtype="int64"),
                "energy_stub": pd.Series(eners, dtype="int64"),
            })

    return df.select(id_col, "media_bytes").mapInPandas(run, ENERGY_SCHEMA)
