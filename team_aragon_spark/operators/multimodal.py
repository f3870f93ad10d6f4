"""Multimodal (image/audio/video) column plumbing (north-star extension).

Design: media payloads are opaque ``binary`` columns travelling next
to typed metadata; decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` stages so each Python worker
processes columnar batches, never rows.

The actual codecs (PIL/ffmpeg/torchaudio) are NOT in this
environment, so the decode kernel is pluggable:

- ``fake_decode_meta`` — deterministic arithmetic stand-in used by
  tests and the DuckDB oracle (real Spark plumbing, fake pixels);
- ``real_decode_meta`` — real PIL-backed image decode behind an
  import guard: fails fast driver-side with a clear error where
  Pillow is absent (this container), decodes for real where it is
  installed (``tests/test_operators.py::test_real_decode_meta_pil``
  runs there, skip-marked here).

Scale notes: media batches are large — keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` small (e.g. 64) for
multi-MB payloads, and repartition by size-bucket before decode so
batches are uniform and no worker gets all the 4K videos.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from team_aragon_spark.session import ensure_parallelism

META_SCHEMA = (
    "doc_id bigint, byte_len bigint, width int, height int, n_frames int, modality string"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text", out_col: str = "payload") -> DataFrame:
    """Opaque binary column (here: utf-8 bytes of text as a stand-in
    payload; in production this is the raw image/audio/video blob
    loaded via ``spark.read.format('binaryFile')``)."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def fake_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Deterministic stand-in "decode": metadata derived from byte length.

    Exercises the real distributed plumbing — Arrow batch iteration,
    schema contract, per-partition execution — with a kernel the
    oracle can replicate arithmetically.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blen = pdf[payload_col].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": blen,
                    "width": (blen % 640).astype("int32"),
                    "height": ((blen * 7) % 480).astype("int32"),
                    "n_frames": (blen % 16).astype("int32"),
                    "modality": pd.Series(["image"] * len(pdf)),
                }
            )

    # Widen a single-split input, but cap the width: each mapInPandas
    # partition starts (or leases) a Python worker whose startup cost
    # (~0.2s, pandas import) dwarfs per-row work on small inputs.  At
    # real scale width comes from upstream splits; ensure_parallelism
    # only ever raises the count.
    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col, payload_col), width).mapInPandas(
        kernel, schema=META_SCHEMA
    )


def pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def real_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Real image decode (Pillow): same output schema, batching, and
    partitioning contract as ``fake_decode_meta``.

    Import-guarded at CALL time on the driver — where Pillow is absent
    the caller gets one clear ``ModuleNotFoundError`` up front, not a
    per-task executor crash mid-job.  Undecodable payloads yield NULL
    dims with ``modality='unknown'`` (quarantine-style: the batch
    never fails on one corrupt blob — at 100 TB some blobs WILL be
    corrupt).  ``n_frames`` comes from the image when the container is
    multi-frame (GIF/TIFF), else 1.  Audio/video need an av/ffmpeg
    kernel with this same contract.
    """
    if not pil_available():
        raise ModuleNotFoundError(
            "real_decode_meta needs Pillow, which this environment does not ship; "
            "use fake_decode_meta for plumbing tests (same schema/batch contract) "
            "or install Pillow where real pixels matter"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        for pdf in batches:
            ws: list[int | None] = []
            hs: list[int | None] = []
            nf: list[int | None] = []
            mods: list[str] = []
            for b in pdf[payload_col]:
                try:
                    with Image.open(io.BytesIO(bytes(b))) as img:
                        ws.append(int(img.width))
                        hs.append(int(img.height))
                        nf.append(int(getattr(img, "n_frames", 1)))
                        mods.append("image")
                except Exception:
                    ws.append(None)
                    hs.append(None)
                    nf.append(None)
                    mods.append("unknown")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pdf[payload_col].map(len).astype("int64"),
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "n_frames": pd.array(nf, dtype="Int32"),
                    "modality": pd.Series(mods, dtype="object"),
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col, payload_col), width).mapInPandas(
        kernel, schema=META_SCHEMA
    )


def fake_resize(df: DataFrame, out_w: int = 224, out_h: int = 224, payload_col: str = "payload") -> DataFrame:
    """Resize stage (stand-in): deterministic payload rewrite + target
    dims.  The real kernel decodes, resizes (PIL/opencv), re-encodes —
    same mapInPandas contract; batch shape and schema are what's being
    exercised.  Output payload here is a truncated/padded byte slice so
    downstream size-based stages remain deterministic."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out[payload_col] = out[payload_col].map(
                lambda b: bytes(b[: out_w * out_h // 1024].ljust(out_w * out_h // 1024, b"\0"))
            )
            out["width"] = out_w
            out["height"] = out_h
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", width int, height int"
    return df.mapInPandas(kernel, schema=schema)


def fake_embed_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", dim: int = 16
) -> DataFrame:
    """Feature-extraction stage (stand-in): payload → fixed-dim float
    vector.  Deterministic: byte-sum histogram over ``dim`` buckets,
    L1-normalized — the real kernel runs a vision/audio encoder over
    the same Arrow batches and returns the same (id, array<float>)
    shape, ready for the similarity operators (q22/q26/q42)."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[payload_col]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype("float64")
                total = hist.sum() or 1.0
                feats.append((hist / total).tolist())
            yield pd.DataFrame({"doc_id": pdf[id_col], "features": feats})

    return df.select(id_col, payload_col).mapInPandas(
        kernel, schema=f"doc_id bigint, features array<double>"
    )


# ---------------------------------------------------------------------------
# Audio (REAL decode — stdlib `wave`, no external deps) and video
# (av/ffmpeg contract, import-guarded like the PIL image path)
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = (
    "doc_id bigint, byte_len bigint, sample_rate int, n_channels int, "
    "sample_width int, n_samples bigint, duration_ms bigint, modality string"
)

_WAV_RATES = (8000, 16000, 44100)


def synth_wav_payload(df: DataFrame, id_col: str = "doc_id", out_col: str = "payload") -> DataFrame:
    """Deterministic REAL RIFF/WAV payloads, one per row.

    Stands in for ``spark.read.format('binaryFile')`` over an audio
    bucket: emits a genuine mono 16-bit PCM WAV container whose
    parameters derive arithmetically from the id —
    ``sample_rate = _WAV_RATES[id % 3]``, ``n_samples = 64 + id % 256``
    — so a SQL oracle can pin what a real decoder must recover.
    The samples are a deterministic sawtooth; the header is written by
    the stdlib ``wave`` module, i.e. the bytes are decodable by ANY
    wav reader, not just ours.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                i = int(i)
                rate = _WAV_RATES[i % len(_WAV_RATES)]
                n = 64 + i % 256
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    w.writeframes(
                        b"".join(
                            ((j * 257 + i) % 65536 - 32768).to_bytes(2, "little", signed=True)
                            for j in range(n)
                        )
                    )
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"), "payload": payloads})

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col), width).mapInPandas(
        kernel, schema="doc_id bigint, payload binary"
    )


def audio_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """REAL audio metadata decode for WAV containers — stdlib ``wave``.

    The audio sibling of ``real_decode_meta`` (images/PIL): same
    Arrow-batched ``mapInPandas`` contract, same quarantine semantics —
    undecodable payloads yield NULL fields with ``modality='unknown'``
    instead of failing the batch (at 100 TB some blobs WILL be
    corrupt).  ``duration_ms`` is floor(n_samples * 1000 / rate).
    Non-WAV audio (mp3/flac/ogg) needs an av/ffmpeg kernel with this
    exact schema and batching contract — see ``video_decode_meta`` for
    the guarded pattern.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            rates: list[int | None] = []
            chans: list[int | None] = []
            widths: list[int | None] = []
            samples: list[int | None] = []
            durs: list[int | None] = []
            mods: list[str] = []
            for b in pdf[payload_col]:
                try:
                    with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                        rate = w.getframerate()
                        n = w.getnframes()
                        rates.append(int(rate))
                        chans.append(int(w.getnchannels()))
                        widths.append(int(w.getsampwidth()))
                        samples.append(int(n))
                        durs.append(int(n * 1000 // rate) if rate else None)
                        mods.append("audio")
                except Exception:
                    rates.append(None)
                    chans.append(None)
                    widths.append(None)
                    samples.append(None)
                    durs.append(None)
                    mods.append("unknown")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pdf[payload_col].map(len).astype("int64"),
                    "sample_rate": pd.array(rates, dtype="Int32"),
                    "n_channels": pd.array(chans, dtype="Int32"),
                    "sample_width": pd.array(widths, dtype="Int32"),
                    "n_samples": pd.array(samples, dtype="Int64"),
                    "duration_ms": pd.array(durs, dtype="Int64"),
                    "modality": pd.Series(mods, dtype="object"),
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col, payload_col), width).mapInPandas(
        kernel, schema=AUDIO_META_SCHEMA
    )


VIDEO_META_SCHEMA = (
    "doc_id bigint, byte_len bigint, width int, height int, n_frames int, "
    "fps double, duration_ms bigint, modality string"
)


def av_available() -> bool:
    try:
        import av  # noqa: F401

        return True
    except ImportError:
        return False


def video_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Video metadata decode contract (PyAV/ffmpeg) — import-guarded.

    Mirrors ``real_decode_meta``'s guard: where PyAV is absent (this
    container) the caller gets ONE clear driver-side error, not a
    per-task executor crash.  Where it is installed, the kernel opens
    each payload with ``av.open``, reads the first video stream's
    dimensions / frame count / average_rate, and quarantines
    undecodable blobs as ``modality='unknown'`` — identical batching,
    schema, and error semantics to the image and audio kernels above.
    """
    if not av_available():
        raise ModuleNotFoundError(
            "video_decode_meta needs PyAV (ffmpeg bindings), which this "
            "environment does not ship; use fake_video_decode_meta for "
            "plumbing tests (same schema/batch contract) or install av "
            "where real frames matter"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import av

        for pdf in batches:
            out = {k: [] for k in ("width", "height", "n_frames", "fps", "duration_ms", "modality")}
            for b in pdf[payload_col]:
                try:
                    with av.open(io.BytesIO(bytes(b))) as container:
                        vs = container.streams.video[0]
                        out["width"].append(int(vs.codec_context.width))
                        out["height"].append(int(vs.codec_context.height))
                        out["n_frames"].append(int(vs.frames or 0))
                        out["fps"].append(float(vs.average_rate) if vs.average_rate else None)
                        out["duration_ms"].append(
                            int(container.duration // 1000) if container.duration else None
                        )
                        out["modality"].append("video")
                except Exception:
                    for k in ("width", "height", "n_frames", "fps", "duration_ms"):
                        out[k].append(None)
                    out["modality"].append("unknown")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pdf[payload_col].map(len).astype("int64"),
                    "width": pd.array(out["width"], dtype="Int32"),
                    "height": pd.array(out["height"], dtype="Int32"),
                    "n_frames": pd.array(out["n_frames"], dtype="Int32"),
                    "fps": pd.array(out["fps"], dtype="Float64"),
                    "duration_ms": pd.array(out["duration_ms"], dtype="Int64"),
                    "modality": pd.Series(out["modality"], dtype="object"),
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col, payload_col), width).mapInPandas(
        kernel, schema=VIDEO_META_SCHEMA
    )


# -- MP4 (REAL stdlib decode — ISO BMFF box tree, no external deps) --------
#
# The same synth-then-decode pattern as the WAV path above: synthesize a
# genuine ISO base-media container (ftyp + moov{mvhd, trak{tkhd,
# mdia{mdhd, minf{stbl{stts}}}}}) with stdlib ``struct``, then recover
# the metadata by walking the box tree — real parsing of the real
# container format, verifiable in an environment with no PyAV/ffmpeg.
# Codec payloads (mdat) are out of scope here; ``video_decode_meta``
# above remains the guarded full-decode kernel.

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
_MP4_MOVIE_TIMESCALE = 1000
_MP4_MEDIA_TIMESCALE = 12288  # divisible by 24/32/48 fps -> exact deltas


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _synth_mp4_bytes(i: int) -> bytes:
    """One deterministic, structurally valid MP4 for id ``i``.

    Arithmetic contract (pinned by q103's oracle):
    width = 320 + (i%4)*160, height = 240 + (i%3)*120,
    duration_ms = 1000 + (i%500)*40, fps = (24, 32, 48)[i%3],
    n_frames = 24 + i%96.
    """
    import struct

    w = 320 + (i % 4) * 160
    h = 240 + (i % 3) * 120
    dur_ms = 1000 + (i % 500) * 40
    fps = (24, 32, 48)[i % 3]
    n_frames = 24 + i % 96
    delta = _MP4_MEDIA_TIMESCALE // fps

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = _mp4_box(
        b"mvhd",
        struct.pack(
            ">B3x II II I 2s 10x 36s 24x I",
            0,  # version 0 (+3 flag bytes via 3x)
            0, 0,  # creation / modification
            _MP4_MOVIE_TIMESCALE,
            dur_ms * _MP4_MOVIE_TIMESCALE // 1000,
            0x00010000,  # rate 1.0 (16.16)
            struct.pack(">H", 0x0100),  # volume 1.0 (8.8)
            struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000),
            2,  # next track id
        ),
    )
    tkhd = _mp4_box(
        b"tkhd",
        struct.pack(
            ">B3B II I 4x I 8x hhh 2x 36s II",
            0, 0, 0, 7,  # version 0, flags = enabled|in-movie|in-preview
            0, 0,  # creation / modification
            1,  # track id
            dur_ms * _MP4_MOVIE_TIMESCALE // 1000,
            0, 0, 0,  # layer, alternate group, volume (video: 0)
            struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000),
            w << 16, h << 16,  # 16.16 fixed point
        ),
    )
    mdhd = _mp4_box(
        b"mdhd",
        struct.pack(
            ">B3x II I I Hxx",
            0, 0, 0,
            _MP4_MEDIA_TIMESCALE,
            n_frames * delta,
            0x55C4,  # language 'und'
        ),
    )
    hdlr = _mp4_box(b"hdlr", struct.pack(">B3x 4x 4s 12x", 0, b"vide") + b"vide\0")
    vmhd = _mp4_box(b"vmhd", struct.pack(">B3B 4H", 0, 0, 0, 1, 0, 0, 0, 0))
    stts = _mp4_box(b"stts", struct.pack(">B3x I II", 0, 1, n_frames, delta))
    stbl = _mp4_box(b"stbl", stts)
    minf = _mp4_box(b"minf", vmhd + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + moov + _mp4_box(b"mdat", b"\0" * 16)


def _walk_mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in a span."""
    import struct

    off = start
    while off + 8 <= end:
        size = struct.unpack_from(">I", data, off)[0]
        typ = data[off + 4 : off + 8]
        body = off + 8
        if size == 1:  # 64-bit largesize
            size = struct.unpack_from(">Q", data, off + 8)[0]
            body = off + 16
        elif size == 0:  # box extends to end of file
            size = end - off
        if size < 8 or off + size > end:
            raise ValueError("malformed box")
        yield typ, body, off + size
        off += size


def _parse_mp4_meta(data: bytes) -> dict:
    """Recover (width, height, n_frames, fps, duration_ms) from the box
    tree.  Raises on anything structurally invalid (caller quarantines)."""
    import struct

    out: dict = {}
    media_timescale = None

    def walk(start: int, end: int) -> None:
        nonlocal media_timescale
        for typ, b, e in _walk_mp4_boxes(data, start, end):
            if typ in _MP4_CONTAINERS:
                walk(b, e)
            elif typ == b"mvhd":
                ver = data[b]
                if ver == 0:
                    ts, dur = struct.unpack_from(">II", data, b + 12)
                else:  # version 1: 64-bit times
                    ts = struct.unpack_from(">I", data, b + 20)[0]
                    dur = struct.unpack_from(">Q", data, b + 24)[0]
                out["duration_ms"] = dur * 1000 // ts
            elif typ == b"tkhd":
                ver = data[b]
                base = b + (32 if ver == 0 else 44)  # up to layer field
                # layer(2)+alt_group(2)+volume(2)+reserved(2)+matrix(36)=44
                out["width"] = struct.unpack_from(">I", data, base + 44)[0] >> 16
                out["height"] = struct.unpack_from(">I", data, base + 48)[0] >> 16
            elif typ == b"mdhd":
                ver = data[b]
                media_timescale = struct.unpack_from(
                    ">I", data, b + (12 if ver == 0 else 20)
                )[0]
            elif typ == b"stts":
                n_entries = struct.unpack_from(">I", data, b + 4)[0]
                counts, deltas = [], []
                for k in range(n_entries):
                    c, d = struct.unpack_from(">II", data, b + 8 + 8 * k)
                    counts.append(c)
                    deltas.append(d)
                out["n_frames"] = sum(counts)
                if len(deltas) == 1 and deltas[0] and media_timescale:
                    out["fps"] = media_timescale / deltas[0]

    if data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    walk(0, len(data))
    if "width" not in out or "duration_ms" not in out:
        raise ValueError("no video track metadata")
    return out


def synth_mp4_payload(df: DataFrame, id_col: str = "doc_id", out_col: str = "payload") -> DataFrame:
    """Deterministic REAL ISO-BMFF/MP4 payloads, one per row — the
    video sibling of ``synth_wav_payload``: a genuine box tree any
    MP4 demuxer can walk, parameters arithmetic in the id so a SQL
    oracle can pin what a correct parser must recover."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    out_col: [_synth_mp4_bytes(int(i)) for i in pdf[id_col]],
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col), width).mapInPandas(
        kernel, schema=f"doc_id bigint, {out_col} binary"
    )


def mp4_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """REAL video-metadata decode for MP4/ISO-BMFF containers — stdlib
    ``struct`` box-tree walk, no PyAV needed.

    Recovers width/height from ``tkhd`` (16.16 fixed point), duration
    from ``mvhd`` (movie timescale), frame count and nominal fps from
    ``stts`` + ``mdhd`` — i.e. the demuxer-metadata half of
    ``video_decode_meta``, executable and verifiable in this
    environment.  Same contract as every kernel in this module:
    Arrow-batched ``mapInPandas``, corrupt payloads quarantine per-row
    as ``modality='unknown'`` with NULL fields, never failing the
    batch.  Codec-level truths (actual decoded frames) still need the
    PyAV kernel above.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                k: [] for k in ("width", "height", "n_frames", "fps", "duration_ms", "modality")
            }
            for b in pdf[payload_col]:
                try:
                    meta = _parse_mp4_meta(bytes(b))
                    cols["width"].append(meta.get("width"))
                    cols["height"].append(meta.get("height"))
                    cols["n_frames"].append(meta.get("n_frames"))
                    cols["fps"].append(meta.get("fps"))
                    cols["duration_ms"].append(meta.get("duration_ms"))
                    cols["modality"].append("video")
                except Exception:
                    for k in ("width", "height", "n_frames", "fps", "duration_ms"):
                        cols[k].append(None)
                    cols["modality"].append("unknown")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pdf[payload_col].map(len).astype("int64"),
                    "width": pd.array(cols["width"], dtype="Int32"),
                    "height": pd.array(cols["height"], dtype="Int32"),
                    "n_frames": pd.array(cols["n_frames"], dtype="Int32"),
                    "fps": pd.array(cols["fps"], dtype="Float64"),
                    "duration_ms": pd.array(cols["duration_ms"], dtype="Int64"),
                    "modality": pd.Series(cols["modality"], dtype="object"),
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col, payload_col), width).mapInPandas(
        kernel, schema=VIDEO_META_SCHEMA
    )


def fake_video_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Deterministic stand-in with ``video_decode_meta``'s exact schema
    (arithmetic on byte length), for plumbing tests where PyAV is
    absent — the video analogue of ``fake_decode_meta``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blen = pdf[payload_col].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": blen,
                    "width": (320 + (blen % 4) * 320).astype("int32"),
                    "height": (240 + (blen % 4) * 240).astype("int32"),
                    "n_frames": (24 + blen % 240).astype("int32"),
                    "fps": pd.Series([24.0] * len(pdf)),
                    "duration_ms": ((24 + blen % 240) * 1000 // 24).astype("int64"),
                    "modality": pd.Series(["video"] * len(pdf)),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=VIDEO_META_SCHEMA)


# ---------------------------------------------------------------------------
# Image: REAL PNG synth + decode round-trip (stdlib struct + zlib)
# ---------------------------------------------------------------------------

IMAGE_PNG_META_SCHEMA = (
    "doc_id bigint, byte_len bigint, width int, height int, bit_depth int, "
    "color_type int, n_pixels bigint, pixel_sum bigint, modality string"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def _synth_png_bytes(i: int) -> bytes:
    """A genuine 8-bit grayscale PNG whose geometry and pixels derive
    arithmetically from the id: width = 16 + i%32, height = 8 + i%16,
    pixel(x, y) = (7x + 13y + i) % 256, filter byte 0 per scanline.
    Decodable by ANY png reader (PIL, browsers), not just ours."""
    import struct
    import zlib

    w, h = 16 + i % 32, 8 + i % 16
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(
        b"\x00" + bytes((7 * x + 13 * y + i) % 256 for x in range(w))
        for y in range(h)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter_scanlines(raw: bytes, w: int, h: int, bpp: int = 1) -> bytearray:
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth) for an 8-bit grayscale image — a REAL decoder, not a
    filter-0 shortcut, so foreign PNGs decode too.

    None/Sub/Up reconstruct as whole-scanline numpy ops (copy /
    mod-256 cumsum / vectorized add): those three have no intra-line
    sequential dependency beyond a prefix sum, and they dominate real
    encoders' output.  Average and Paeth predict from the previous
    OUTPUT byte, so they stay per-byte — the measured cost of the
    all-Python loop was 66 µs/image at the 100x posture run
    (PLANS.md); the vectorized common path removes it."""
    import numpy as np

    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    arr = np.frombuffer(raw, dtype=np.uint8)
    pos = 0
    zeros = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(arr[pos])
        line = arr[pos + 1 : pos + 1 + stride]
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else zeros
        if f == 0:
            out[y] = line
        elif f == 1:
            # o[x] = v[x] + o[x-bpp]: per-channel prefix sum mod 256
            out[y] = (
                np.cumsum(line.reshape(-1, bpp).astype(np.int64), axis=0) % 256
            ).astype(np.uint8).reshape(-1)
        elif f == 2:
            out[y] = line + prev  # uint8 add wraps mod 256
        elif f in (3, 4):
            o = out[y]
            for x in range(stride):
                a = int(o[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if f == 3:
                    r = int(line[x]) + (a + b) // 2
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    r = int(line[x]) + pred
                o[x] = r & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
    return bytearray(out.tobytes())


def _png_pixels(data: bytes) -> tuple[int, int, bytearray]:
    """Decode an 8-bit grayscale PNG to raw pixels: signature + chunk
    walk with CRC verification, zlib IDAT inflate, five-filter
    scanline reconstruction.  Shared by the metadata query (q115) and
    the aHash feature kernel (q120)."""
    import struct
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("bad signature")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if len(payload) != ln:
            raise ValueError("torn chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + payload) & 0xFFFFFFFF != crc:
            raise ValueError("crc mismatch")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("no IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype != 0 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError("unsupported png flavor")
    px = _unfilter_scanlines(zlib.decompress(idat), w, h)
    if len(px) != w * h:
        raise ValueError("pixel count mismatch")
    return w, h, px


def _parse_png_meta(data: bytes) -> dict:
    w, h, px = _png_pixels(data)
    return {
        "width": w,
        "height": h,
        "bit_depth": 8,
        "color_type": 0,
        "n_pixels": w * h,
        "pixel_sum": sum(px),
    }


def synth_png_payload(df: DataFrame, id_col: str = "doc_id", out_col: str = "payload") -> DataFrame:
    """Deterministic REAL PNG payloads, one per row — the image leg of
    the synth-then-decode family (WAV: synth_wav_payload, MP4:
    synth_mp4_payload).  Stands in for binaryFile over an image
    bucket; geometry and pixels are id-arithmetic so a SQL oracle can
    pin what a real decoder must recover, including the PIXEL SUM
    after zlib inflate + scanline unfiltering."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": [_synth_png_bytes(int(i)) for i in pdf[id_col]],
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col), width).mapInPandas(
        kernel, schema="doc_id bigint, payload binary"
    )


def png_decode_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """REAL PNG decode — signature + chunk walk with CRC verification,
    zlib IDAT inflate, full five-filter scanline reconstruction (spec
    §9), pixel aggregation.  Same Arrow mapInPandas + per-row
    quarantine contract as audio_decode_meta/mp4_decode_meta: corrupt
    or torn payloads yield NULL fields with modality='unknown', never
    a failed batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {
                "width": [], "height": [], "bit_depth": [], "color_type": [],
                "n_pixels": [], "pixel_sum": [], "modality": [],
            }
            for b in pdf[payload_col]:
                try:
                    m = _parse_png_meta(bytes(b))
                    for k in ("width", "height", "bit_depth", "color_type",
                              "n_pixels", "pixel_sum"):
                        cols[k].append(m[k])
                    cols["modality"].append("image")
                except Exception:
                    for k in ("width", "height", "bit_depth", "color_type",
                              "n_pixels", "pixel_sum"):
                        cols[k].append(None)
                    cols["modality"].append("unknown")
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pdf[payload_col].map(len).astype("int64"),
                    "width": pd.array(cols["width"], dtype="Int32"),
                    "height": pd.array(cols["height"], dtype="Int32"),
                    "bit_depth": pd.array(cols["bit_depth"], dtype="Int32"),
                    "color_type": pd.array(cols["color_type"], dtype="Int32"),
                    "n_pixels": pd.array(cols["n_pixels"], dtype="Int64"),
                    "pixel_sum": pd.array(cols["pixel_sum"], dtype="Int64"),
                    "modality": pd.Series(cols["modality"], dtype="object"),
                }
            )

    from team_aragon_spark.session import default_parallelism

    width = min(8, default_parallelism())
    return ensure_parallelism(df.select(id_col, payload_col), width).mapInPandas(
        kernel, schema=IMAGE_PNG_META_SCHEMA
    )


IMAGE_AHASH_SCHEMA = "doc_id bigint, ahash bigint, width int, height int, modality string"


def _ahash_of_pixels(w: int, h: int, px: bytearray, grid: int = 8) -> int:
    """Average hash (aHash): area-mean downsample to a grid x grid
    thumbnail, threshold each cell at the IMAGE mean, pack the bits
    row-major.  The canonical cheap perceptual fingerprint (Krawetz's
    "Looks Like It" aHash family): constant-luminance shifts and
    resolution changes preserve the bit pattern, so re-encoded /
    rescaled copies of one image collide.

    The threshold comparison is EXACT integer arithmetic:
    ``cell_sum * n_pixels > image_sum * cell_n`` avoids any float
    mean, so the hash is bit-portable engine-to-engine — which is
    what lets q120 carry a full SQL value oracle instead of a
    rows-only check."""
    import numpy as np

    img = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w)
    total = int(img.sum(dtype=np.int64))
    n_total = w * h
    bits = 0
    i = 0
    for gy in range(grid):
        y0, y1 = gy * h // grid, max((gy + 1) * h // grid, gy * h // grid + 1)
        for gx in range(grid):
            x0, x1 = gx * w // grid, max((gx + 1) * w // grid, gx * w // grid + 1)
            box = img[y0 : min(y1, h), x0 : min(x1, w)]
            if int(box.sum(dtype=np.int64)) * n_total > total * max(box.size, 1):
                bits |= 1 << i
            i += 1
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_ahash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", grid: int = 8
) -> DataFrame:
    """Decode → resize → feature-extract in one Arrow pass: each PNG
    payload becomes a 64-bit average hash (``_ahash_of_pixels``) for
    image near-duplicate detection — the multimodal leg of the dedup
    family (text: MinHash q24 / SimHash q25; images: aHash equality
    or low Hamming distance).

    Same per-row quarantine contract as png_decode_meta: corrupt
    payloads yield NULL hash with modality='unknown', never a failed
    batch.  Narrow map, no shuffle; downstream clustering is one
    hash-keyed aggregate (q120)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "ahash": [], "width": [], "height": [], "modality": [],
            }
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(int(i))
                try:
                    w, h, px = _png_pixels(bytes(b))
                    out["ahash"].append(_ahash_of_pixels(w, h, px, grid))
                    out["width"].append(w)
                    out["height"].append(h)
                    out["modality"].append("image")
                except Exception:
                    out["ahash"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["modality"].append("unknown")
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        kernel, schema=IMAGE_AHASH_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, n_samples bigint, peak int, rms double, "
    "n_zero_crossings bigint, silence_ratio double, modality string"
)


def audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    silence_abs: int = 1000,
) -> DataFrame:
    """REAL audio feature extraction over WAV payloads: decode the PCM
    frames (stdlib ``wave`` + numpy int16 view) and compute the
    classic signal features a speech/audio curation pipeline filters
    on — peak amplitude, RMS energy, zero-crossing count (the cheap
    voiced/unvoiced + noisiness proxies), and the fraction of samples
    under a silence threshold.

    Unlike q92's header round-trip this reads every SAMPLE, so the
    q121 oracle pins the decoder down to per-sample values.  Integer
    accumulations (sum of squares, crossing and silence counts) are
    exact, and the only float ops are one division and one IEEE
    (correctly-rounded) sqrt — so rms/silence_ratio are bit-portable
    WITHOUT rounding.  Same Arrow mapInPandas + per-row quarantine contract
    as audio_decode_meta; narrow map, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import math
        import wave

        import numpy as np

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "n_samples": [], "peak": [], "rms": [],
                "n_zero_crossings": [], "silence_ratio": [], "modality": [],
            }
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(int(i))
                try:
                    with wave.open(io.BytesIO(bytes(b)), "rb") as w:
                        if w.getsampwidth() != 2 or w.getnchannels() != 1:
                            raise ValueError("unsupported wav flavor")
                        n = w.getnframes()
                        s = np.frombuffer(w.readframes(n), dtype="<i2").astype(np.int64)
                    if len(s) != n or n == 0:
                        raise ValueError("frame count mismatch")
                    out["n_samples"].append(n)
                    out["peak"].append(int(np.abs(s).max()))
                    # no rounding: sum-of-squares is exact integer, the
                    # division is one double op, and IEEE sqrt is
                    # correctly rounded — the oracle computes the SAME
                    # double bit-for-bit
                    out["rms"].append(math.sqrt(int((s * s).sum()) / n))
                    out["n_zero_crossings"].append(int((s[1:] * s[:-1] < 0).sum()))
                    out["silence_ratio"].append(int((np.abs(s) < silence_abs).sum()) / n)
                    out["modality"].append("audio")
                except Exception:
                    out["n_samples"].append(None)
                    out["peak"].append(None)
                    out["rms"].append(None)
                    out["n_zero_crossings"].append(None)
                    out["silence_ratio"].append(None)
                    out["modality"].append("unknown")
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        kernel, schema=AUDIO_FEATURES_SCHEMA
    )
