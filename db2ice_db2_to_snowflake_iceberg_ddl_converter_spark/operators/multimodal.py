"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Images/audio/video ride through the engine as binary columns with a metadata
struct (modality, byte length, content hash). The Spark-side plumbing —
schema, partitioning, Arrow batch shape, mapInPandas UDF signatures — is
real and tested. The codec layer is split honestly: UNCOMPRESSED formats
(24-bit BMP, 16-bit PCM WAV) are decoded/encoded FOR REAL in pure
stdlib+numpy (``decode_bmp``/``decode_wav_pcm16``), including a real
nearest-neighbor BMP resizer; compressed formats (JPEG/MP3/H.264 …) need a
media library this environment lacks, so ``decode_payload`` raises
NotImplementedError for them and every operator takes a pluggable
``decoder=``/``resizer=`` for prod codecs. ``extract_features``
demonstrates the deterministic feature-extraction path end-to-end with a
byte-level fake extractor shaped exactly like a real one (fixed-size float
vector per asset).
"""

from __future__ import annotations

import pandas as pd  # module-top: pandas_udf type hints must resolve at def time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import ld_docs

FEATURE_DIM = 8


def attach_binary_payload(spark, sf_dir) -> DataFrame:
    """Manufacture a binary asset column from document text (UTF-8 bytes)
    plus the typed metadata struct a real media table would carry."""
    d = ld_docs(spark, sf_dir)   # NULL text: no asset to manufacture
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("modality"),
            F.length(payload).alias("n_bytes"),
            F.crc32(payload).alias("checksum"),
        ).alias("asset_meta"),
    )


def multimodal_metadata(spark, sf_dir) -> DataFrame:
    """Oracle-checkable slice of the binary plumbing: byte lengths survive
    the encode → binary → metadata path."""
    df = attach_binary_payload(spark, sf_dir)
    return df.select("doc_id",
                     F.col("asset_meta.modality").alias("modality"),
                     F.col("asset_meta.n_bytes").alias("n_bytes"))


ORACLE_MULTIMODAL_META = """
SELECT doc_id, 'text/plain' AS modality, octet_length(encode(text)) AS n_bytes
FROM documents WHERE text IS NOT NULL
"""


def decode_bmp(payload: bytes):
    """REAL decoder for uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB)
    — pure stdlib+numpy, no codec library. Returns an (h, w, 3) uint8 RGB
    array. Raises ValueError on anything outside that profile (compressed
    BMP variants belong to a plugged codec like the other formats)."""
    import struct

    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP profile (bpp={bpp}, "
                         f"compression={compression}); plug a codec")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)[:, :w * 3]
    img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return img[::-1] if bottom_up else img


def encode_bmp(img) -> bytes:
    """Inverse of :func:`decode_bmp` (24-bit bottom-up BI_RGB)."""
    import struct

    import numpy as np

    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    data = rows.tobytes()
    return (b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                          2835, 2835, 0, 0)
            + data)


def decode_wav_pcm16(payload: bytes):
    """REAL decoder for 16-bit PCM RIFF/WAVE — pure stdlib+numpy.
    Returns ``(samples int16 ndarray [n, channels], sample_rate)``."""
    import struct

    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack_from("<I", payload,
                                                             pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _bps, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV profile (format={audio_format}, "
                         f"bits={bits}); plug a codec")
    samples = np.frombuffer(data, dtype="<i2")
    return samples.reshape(-1, channels), rate


def decode_payload(fmt: str):
    """Codec dispatch. Uncompressed formats are decoded FOR REAL here
    (stdlib+numpy — no media library needed); compressed formats raise
    NotImplementedError so the pipeline shape stays honest: plug PIL /
    torchaudio / pyav via ``extract_features(decoder=...)`` in prod."""
    if fmt in ("image/bmp", "bmp"):
        return decode_bmp
    if fmt in ("audio/wav", "audio/x-wav", "wav"):
        return decode_wav_pcm16
    raise NotImplementedError(
        f"media codec for {fmt!r} not available in this environment; "
        "plug a decoder into extract_features(decoder=...)")


def pillow_feature_decoder():
    """Factory for a Pillow-backed image feature extractor covering the
    compressed formats (PNG/JPEG/GIF/WebP) the built-in codecs honestly
    refuse. Returns a ``bytes → float[FEATURE_DIM]`` callable shaped like
    ``bmp_feature_decoder`` so it plugs straight into
    ``extract_features(decoder=...)``.

    Gated behind an import-try: this container ships no Pillow, so the
    factory raising ImportError (with the install hint) IS the designed
    behavior here — the pytest asserts exactly that, and asserts the
    seam works by injecting a fake. On a cluster with Pillow the same
    call returns a real decoder with zero code changes."""
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - env-dependent branch
        raise ImportError(
            "Pillow is not installed; `pip install Pillow` on the cluster "
            "image, or plug another decoder into "
            "extract_features(decoder=...)") from exc

    import io

    import numpy as np

    def _decode(payload: bytes) -> list[float]:  # pragma: no cover
        img = np.asarray(
            Image.open(io.BytesIO(payload)).convert("RGB"), dtype="float64")
        means = img.mean(axis=(0, 1))
        stds = img.std(axis=(0, 1))
        return [float(img.shape[1]), float(img.shape[0]),
                *[float(x) for x in means], *[float(x) for x in stds]]

    return _decode


def bmp_feature_decoder(payload: bytes) -> list[float]:
    """bytes → float[FEATURE_DIM] for BMP images: dims + per-channel
    mean/std (the classic cheap visual signature)."""
    img = decode_bmp(payload).astype("float64")
    means = img.mean(axis=(0, 1))
    stds = img.std(axis=(0, 1))
    return [float(img.shape[1]), float(img.shape[0]),
            *[float(x) for x in means], *[float(x) for x in stds]]


def wav_feature_decoder(payload: bytes) -> list[float]:
    """bytes → float[FEATURE_DIM] for PCM WAV: rate/shape + amplitude
    statistics + zero-crossing count."""
    import numpy as np

    samples, rate = decode_wav_pcm16(payload)
    mono = samples.astype("float64").mean(axis=1)
    zc = int(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    return [float(rate), float(samples.shape[0]), float(samples.shape[1]),
            float(mono.mean()), float(np.sqrt((mono ** 2).mean())),
            float(mono.min()), float(mono.max()), float(zc)]


def _default_fake_decoder(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode+embed: fixed-size byte statistics.

    Shaped exactly like a real extractor (bytes → float[FEATURE_DIM]) so the
    Spark plumbing (Arrow batching, schema, partition parallelism) is fully
    exercised.
    """
    n = len(payload) or 1
    buckets = [0.0] * FEATURE_DIM
    for i, byte in enumerate(payload):
        buckets[i % FEATURE_DIM] += byte
    return [b / n for b in buckets]


def extract_features(df: DataFrame, decoder=None) -> DataFrame:
    """Batch feature extraction over binary payloads via mapInPandas.

    One Arrow batch in → one Arrow batch out; the decoder runs per asset
    inside the batch loop (vectorize inside the decoder when the codec
    allows). Partition count carries over, so a 100 TB asset table keeps
    its read parallelism through extraction.
    """
    import pandas as pd

    decode = decoder or _default_fake_decoder

    def run(batches):
        for pdf in batches:
            feats = [decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "features": feats,
            })

    return df.mapInPandas(run, schema=f"doc_id long, features array<double>")


def resize_assets(df: DataFrame, target: tuple[int, int] = (64, 64),
                  resizer=None) -> DataFrame:
    """Resize plumbing over binary image payloads via mapInPandas.

    For 24-bit BMP payloads pass ``resizer=bmp_resizer(target)`` — a REAL
    nearest-neighbor resample through decode_bmp/encode_bmp. For compressed
    formats swap ``resizer`` for a codec adapter (PIL/cv2) in prod; the
    default is a deterministic byte-stride fake with the same signature so
    the Spark side (Arrow batching, typed dimensions, partition-preserving
    map) is exercised on any payload.
    """
    import pandas as pd

    w, h = target

    def fake_resize(payload: bytes) -> bytes:
        # deterministic "resample": stride-sample the byte stream to w*h
        n = max(1, len(payload))
        stride = max(1, n // (w * h))
        return bytes(payload[::stride][: w * h])

    resize = resizer or fake_resize

    def run(batches):
        for pdf in batches:
            out = [resize(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": out,
                "width": [w] * len(pdf),
                "height": [h] * len(pdf),
            })

    return df.mapInPandas(
        run, schema="doc_id long, payload binary, width int, height int")


def bmp_resizer(target: tuple[int, int] = (64, 64)):
    """Real BMP resize: decode → nearest-neighbor index sample → re-encode.
    Returns a ``bytes → bytes`` callable for :func:`resize_assets`."""
    import numpy as np

    w, h = target

    def resize(payload: bytes) -> bytes:
        img = decode_bmp(payload)
        src_h, src_w, _ = img.shape
        yi = np.minimum((np.arange(h) * src_h) // h, src_h - 1)
        xi = np.minimum((np.arange(w) * src_w) // w, src_w - 1)
        return encode_bmp(img[yi][:, xi])

    return resize


def pillow_resizer(target: tuple[int, int] = (64, 64),
                   out_format: str = "PNG"):
    """Factory for a Pillow-backed ``bytes → bytes`` resizer covering the
    compressed formats (PNG/JPEG/GIF/WebP) that ``bmp_resizer`` honestly
    refuses — the resize-seam companion to ``pillow_feature_decoder``.
    Plugs straight into ``resize_assets(resizer=...)``; same import gate:
    raising ImportError with the install hint IS the designed behavior in
    a Pillow-less environment (the pytest pins both branches)."""
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - env-dependent branch
        raise ImportError(
            "Pillow is not installed; `pip install Pillow` on the cluster "
            "image, or plug another resizer into "
            "resize_assets(resizer=...)") from exc

    import io

    w, h = target

    def resize(payload: bytes) -> bytes:  # pragma: no cover
        img = Image.open(io.BytesIO(payload)).convert("RGB")
        buf = io.BytesIO()
        img.resize((w, h), Image.NEAREST).save(buf, format=out_format)
        return buf.getvalue()

    return resize


def sample_frames(df: DataFrame, every_nth: int = 10,
                  frame_size: int = 256, sampler=None) -> DataFrame:
    """Frame-sampling plumbing for video-shaped payloads: one input row →
    N frame rows (the explode-shaped mapInPandas; output cardinality is
    data-dependent, which is why this is not a pandas_udf).

    Default sampler treats the payload as fixed-size frames and keeps every
    ``every_nth`` one — deterministic, shaped exactly like a container
    demuxer (bytes → [(frame_idx, frame_bytes)]).
    """
    import pandas as pd

    def fake_sampler(payload: bytes):
        frames = [payload[i:i + frame_size]
                  for i in range(0, len(payload), frame_size)]
        return [(i, f) for i, f in enumerate(frames) if i % every_nth == 0]

    sample = sampler or fake_sampler

    def run(batches):
        for pdf in batches:
            ids, idxs, blobs = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, frame in sample(bytes(payload)):
                    ids.append(doc_id)
                    idxs.append(idx)
                    blobs.append(frame)
            yield pd.DataFrame({
                "doc_id": ids, "frame_idx": idxs, "frame": blobs})

    return df.mapInPandas(
        run, schema="doc_id long, frame_idx int, frame binary")


def multimodal_features(spark, sf_dir) -> DataFrame:
    """Full plumbing demo: text → binary payload → mapInPandas extraction →
    per-asset feature vector norm (rows-only driver check; pytest asserts
    determinism and batch-shape invariants)."""
    assets = attach_binary_payload(spark, sf_dir)
    feats = extract_features(assets.select("doc_id", "payload"))
    norm = F.sqrt(F.aggregate(
        F.transform("features", lambda x: x * x), F.lit(0.0),
        lambda acc, v: acc + v))
    return feats.select("doc_id", norm.alias("feature_norm")).orderBy("doc_id")


def encode_wav_pcm16(samples, rate: int = 8000) -> bytes:
    """Inverse of :func:`decode_wav_pcm16` — mono/stereo 16-bit PCM
    RIFF/WAVE from an int16 ndarray ``[n, channels]``."""
    import struct

    channels = samples.shape[1] if samples.ndim == 2 else 1
    data = samples.astype("<i2").tobytes()
    block = channels * 2
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                    rate * block, block, 16)
            + b"data" + struct.pack("<I", len(data)) + data)


def synth_pcm_from_text(text: str, samples_per_char: int = 16,
                        max_chars: int = 128):
    """Deterministic PCM synthesizer: each character becomes a constant
    amplitude burst (spaces → silence), so every doc yields a unique,
    reproducible waveform with KNOWN silence structure — the stand-in
    for real recordings that keeps the audio plumbing testable without a
    media library (same honesty contract as the BMP/WAV codecs above)."""
    import numpy as np

    t = text[:max_chars]
    amps = np.array([0 if c == " " else (ord(c) % 64) * 512 - 16000
                     for c in t], dtype=np.int16)
    return np.repeat(amps, samples_per_char).reshape(-1, 1)


def multimodal_audio_energy(spark, sf_dir, frame: int = 64,
                            silence_rms: float = 1.0) -> DataFrame:
    """Per-asset audio energy profile over the binary WAV column: frame
    RMS energy, silence ratio, peak level, and voice-activity segment
    count — the triage features an audio-corpus curation pass computes
    before any expensive ASR/embedding step (drop silent/clipped files,
    route the rest).

    Spark shape (r12): synth → REAL RIFF/WAVE encode → decode → frame
    analysis all run in ONE ``mapInPandas`` pass — the fixture payload
    is manufactured and consumed inside the same Python task, so the
    WAV bytes cross the JVM↔Python boundary ZERO times instead of twice
    (the old shape was a pandas-UDF synth node feeding a separate
    analyze node), and the per-row decode work rides the ``ld_py``
    fan-out instead of serializing on the fixture's single scan
    partition. The codec round-trip itself is unchanged — every number
    is still a pure function of the asset's real encoded bytes in fixed
    numpy order, so results are bit-identical to the two-node shape
    (pytest pins a pure-python replay); rows-only driver check (binary
    decode is not SQL-expressible). On a real asset table the same
    function body runs over an ingested payload column.
    """
    import numpy as np

    docs = ld_docs(spark, sf_dir, py=True).select("doc_id", "text")

    def analyze(batches):
        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "sample_rate": [],
                   "n_frames": [], "silence_ratio": [], "peak_rms": [],
                   "n_active_segments": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = encode_wav_pcm16(synth_pcm_from_text(text))
                samples, rate = decode_wav_pcm16(payload)
                mono = samples[:, 0].astype(np.float64)
                n = len(mono) - len(mono) % frame
                frames = mono[:n].reshape(-1, frame)
                rms = np.sqrt((frames * frames).mean(axis=1))
                active = rms >= silence_rms
                segs = int(np.count_nonzero(
                    active[1:] & ~active[:-1])) + int(bool(active[:1].any()))
                out["doc_id"].append(doc_id)
                out["n_samples"].append(len(mono))
                out["sample_rate"].append(rate)
                out["n_frames"].append(len(rms))
                out["silence_ratio"].append(
                    float((~active).sum() / len(rms)) if len(rms) else 1.0)
                out["peak_rms"].append(float(rms.max()) if len(rms) else 0.0)
                out["n_active_segments"].append(segs)
            yield pd.DataFrame(out)

    return (docs.mapInPandas(
        analyze,
        schema="doc_id long, n_samples long, sample_rate int, "
               "n_frames long, silence_ratio double, peak_rms double, "
               "n_active_segments int")
        .orderBy("doc_id"))


def multimodal_audio_energy_checked(spark, sf_dir, frame: int = 64,
                                    silence_rms: float = 1.0) -> DataFrame:
    """Partial-oracle form of :func:`multimodal_audio_energy` (round 9):
    the synth WAV's shape is an exact function of the text — n_samples =
    16·min(chars, 128), rate 8000, n_frames = n_samples div 64 — so
    those ride the DuckDB hash gate per asset (a codec header/framing
    bug turns the row red), and the float energy profile collapses to
    its structural invariants as oracle-asserted booleans:
    silence_ratio ∈ [0,1]; peak_rms ∈ [0, 16256] (the synth amplitude
    range |(ord%64)·512 − 16000|); segment count in [0, n_frames] and
    ≥1 exactly when some frame is active (silence_ratio < 1). The exact
    RMS/VAD values stay pinned by the pure-Python replay pytest on the
    raw core."""
    base = multimodal_audio_energy(spark, sf_dir, frame=frame,
                                   silence_rms=silence_rms)
    active_iff = F.when(
        F.col("n_frames") > 0,
        (F.col("silence_ratio") < 1.0) == (F.col("n_active_segments") >= 1)
    ).otherwise(F.col("n_active_segments") == 0)
    return base.select(
        "doc_id", "n_samples", "sample_rate", "n_frames",
        ((F.col("silence_ratio") >= 0) & (F.col("silence_ratio") <= 1))
        .alias("silence_in_unit"),
        ((F.col("peak_rms") >= 0) & (F.col("peak_rms") <= 16256))
        .alias("peak_in_range"),
        ((F.col("n_active_segments") >= 0)
         & (F.col("n_active_segments") <= F.col("n_frames"))
         & active_iff).alias("segments_consistent")).orderBy("doc_id")


ORACLE_AUDIO_ENERGY_CHECKED = """
SELECT doc_id,
       CAST(16 * LEAST(length(text), 128) AS BIGINT) AS n_samples,
       8000 AS sample_rate,
       CAST((16 * LEAST(length(text), 128)) // 64 AS BIGINT) AS n_frames,
       TRUE AS silence_in_unit,
       TRUE AS peak_in_range,
       TRUE AS segments_consistent
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
"""


def multimodal_image_stats_checked(spark, sf_dir) -> DataFrame:
    """Partial-oracle form of :func:`multimodal_image_stats` (round 9):
    the synth BMP dimensions are fixed (16×8), so doc_id/width/height
    ride the DuckDB hash gate per asset (a decode-geometry bug turns
    the row red), and the float statistics collapse to their byte-range
    invariants: channel means ∈ [0, 255], contrast ∈ [0, 255]. The
    exact means/contrast stay pinned by the pure-numpy replay pytest on
    the raw core."""
    base = multimodal_image_stats(spark, sf_dir)
    in_byte = [
        ((F.col(c) >= 0) & (F.col(c) <= 255)) for c in
        ("mean_r", "mean_g", "mean_b")]
    means_ok = in_byte[0] & in_byte[1] & in_byte[2]
    return base.select(
        "doc_id", "width", "height",
        means_ok.alias("means_in_byte_range"),
        ((F.col("contrast") >= 0) & (F.col("contrast") <= 255))
        .alias("contrast_in_range")).orderBy("doc_id")


ORACLE_IMAGE_STATS_CHECKED = """
SELECT doc_id, 16 AS width, 8 AS height,
       TRUE AS means_in_byte_range, TRUE AS contrast_in_range
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
"""


def synth_bmp_from_text(text: str, width: int = 16, height: int = 8):
    """Deterministic 24-bit image synthesizer: text bytes tile the pixel
    grid (R = byte, G = byte of the reversed text, B = position mix), so
    every doc yields a unique, reproducible image — the image-side
    analogue of :func:`synth_pcm_from_text`, keeping the REAL BMP codec
    exercised end-to-end without a media library."""
    import numpy as np

    b = (text or " ").encode("utf-8", "replace")
    n = width * height
    fwd = np.frombuffer((b * (n // len(b) + 1))[:n], dtype=np.uint8)
    rev = np.frombuffer((b[::-1] * (n // len(b) + 1))[:n], dtype=np.uint8)
    pos = (np.arange(n, dtype=np.uint32) * 37 % 251).astype(np.uint8)
    img = np.stack([fwd, rev, pos], axis=1).reshape(height, width, 3)
    return img


def multimodal_image_stats(spark, sf_dir) -> DataFrame:
    """Per-asset image statistics over the binary BMP column: dimensions,
    per-channel means, global contrast (luma max − min) — the triage
    features an image-corpus curation pass computes before any model
    step (drop blank/low-contrast assets, balance by brightness).

    Spark shape (r12, same fusion as the audio twin): synth → REAL
    24-bit BMP encode → ``decode_bmp`` → fixed-order numpy stats in ONE
    ``mapInPandas`` pass over the ``ld_py`` fan-out — the BMP bytes
    never transit the JVM↔Python boundary (the old shape paid a
    pandas-UDF synth node plus a separate analyze node on one scan
    partition). The honest-codec contract is unchanged: every number
    is a bit-stable pure function of the asset's real encoded bytes.
    Rows-only driver check; pytest replays the synth+decode+stats chain
    in pure python/numpy.
    """
    import numpy as np

    docs = ld_docs(spark, sf_dir, py=True).select("doc_id", "text")

    def analyze(batches):
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "mean_r": [], "mean_g": [], "mean_b": [],
                   "contrast": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = encode_bmp(synth_bmp_from_text(text))
                img = decode_bmp(payload).astype(np.float64)
                luma = img.mean(axis=2)
                out["doc_id"].append(doc_id)
                out["height"].append(img.shape[0])
                out["width"].append(img.shape[1])
                out["mean_r"].append(float(img[:, :, 0].mean()))
                out["mean_g"].append(float(img[:, :, 1].mean()))
                out["mean_b"].append(float(img[:, :, 2].mean()))
                out["contrast"].append(float(luma.max() - luma.min()))
            yield pd.DataFrame(out)

    return (docs.mapInPandas(
        analyze,
        schema="doc_id long, width int, height int, mean_r double, "
               "mean_g double, mean_b double, contrast double")
        .orderBy("doc_id"))


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (the JPEG/pHash transform) as a fixed
    numpy matrix — DCT(A) = D @ A @ D.T. Deterministic to the bit for a
    given n; no scipy dependency."""
    import numpy as np

    k = np.arange(n, dtype=np.float64)
    D = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    D[0] *= np.sqrt(1.0 / n)
    D[1:] *= np.sqrt(2.0 / n)
    return D


def phash64(img) -> int:
    """64-bit perceptual hash of an RGB image: luma → 8×8 block-mean →
    2-D DCT-II → sign-vs-median bits (DC excluded, bit kept 0 — the
    classic pHash recipe). Bit-deterministic: fixed-order numpy ops on
    float64."""
    import numpy as np

    a = img.astype(np.float64).mean(axis=2)          # luma
    h, w = a.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    a = a[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    D = _dct_matrix(8)
    coef = D @ a @ D.T
    flat = coef.flatten()
    med = float(np.median(flat[1:]))                 # DC excluded
    bits = 0
    for i, v in enumerate(flat):
        if i and v > med:
            bits |= 1 << i
    # wrap to signed 64-bit so the value round-trips a Spark BIGINT
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def multimodal_phash_neardup(spark, sf_dir,
                             max_hamming: int = 8) -> DataFrame:
    """Image near-duplicate detection via perceptual hashing — the
    multimodal twin of the SimHash text entry: per asset a 64-bit DCT
    pHash (robust to brightness/noise, unlike the byte-exact dedup),
    then banded candidate generation (four 16-bit bands; two hashes
    within Hamming ≤ 8 of 63 usable bits almost surely agree on ≥1
    band — same pigeonhole as the SimHash entry) and exact
    ``bit_count(a ^ b)`` verification JVM-side.

    Scale shape: ONE Arrow ``mapInPandas`` pass synthesizes, encodes,
    decodes (the REAL BMP codec round-trip — honest-codec contract) and
    hashes, fused r12 so the BMP bytes never cross the JVM↔Python
    boundary and the per-row decode+DCT work rides the ``ld_py``
    fan-out; the candidate join is band-bucketed (never all-pairs) and
    the verify is a codegen'd bit op. Rows-only (hash bits are
    codec-derived); the pytest replays phash64 in pure numpy, pins
    exact-duplicate collision, and recounts the surviving pairs by
    brute force.
    """
    import numpy as np  # noqa: F401 — decode path uses it

    docs = ld_docs(spark, sf_dir, py=True).select("doc_id", "text")

    def hash_batch(batches):
        for pdf in batches:
            out = {"doc_id": [], "phash": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = encode_bmp(synth_bmp_from_text(text))
                out["doc_id"].append(doc_id)
                out["phash"].append(phash64(decode_bmp(payload)))
            yield pd.DataFrame(out)

    hashed = (docs.mapInPandas(hash_batch,
                               "doc_id long, phash long")
              .localCheckpoint())    # two consumers (bands a/b sides)
    bands = hashed.select(
        "doc_id", "phash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.expr(f"(phash >> {16 * i}) & 65535")
                     .alias("val"))
            for i in range(4)])).alias("b")).select(
        "doc_id", "phash", "b.band", "b.val")
    cand = (bands.alias("a").join(
        bands.alias("b"),
        on=[F.col("a.band") == F.col("b.band"),
            F.col("a.val") == F.col("b.val"),
            F.col("a.doc_id") < F.col("b.doc_id")])
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.phash").alias("ha"),
                F.col("b.phash").alias("hb"))
        .dropDuplicates(["doc_a", "doc_b"]))
    return (cand
            .withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
            .orderBy("doc_a", "doc_b"))


def multimodal_phash_neardup_checked(spark, sf_dir,
                                     max_hamming: int = 8) -> DataFrame:
    """Partial-oracle form of :func:`multimodal_phash_neardup` (round 8):
    the pair list itself is codec-derived (DCT pHash has no DuckDB twin),
    but its exact anchor IS recomputable — documents with byte-identical
    text synthesize byte-identical BMPs, whose pHashes collide exactly,
    so every identical-text pair MUST be found at Hamming 0. The census
    row carries ``n_exact_text_pairs`` (DuckDB: Σ c·(c−1)/2 over text
    groups) on the hash gate, plus two structural booleans the oracle
    asserts TRUE: ``all_exact_pairs_found`` (each identical-text pair
    appears in the found set with hamming = 0 — the decode→hash→band→
    verify chain preserved exact duplicates) and ``near_ge_exact``
    (found pairs ⊇ exact pairs in count). The pair-list core stays for
    the brute-force pytests."""
    # pin (r9): the decode->hash->band->verify pair list feeds two
    # consumers in the census (the multi-consumer rule)
    from .dedup import exact_anchor_census
    from .scale import pin
    pairs = pin(multimodal_phash_neardup(spark, sf_dir,
                                         max_hamming=max_hamming))
    d = ld_docs(spark, sf_dir).select("doc_id", "text")
    return exact_anchor_census(d, "text", pairs, ids=("doc_a", "doc_b"),
                               anchor=F.col("hamming") == 0)


ORACLE_PHASH_NEARDUP_CHECKED = """
SELECT CAST(COALESCE(SUM(c * (c - 1) / 2), 0) AS BIGINT)
         AS n_exact_text_pairs,
       TRUE AS all_exact_pairs_found,
       TRUE AS near_ge_exact
FROM (SELECT COUNT(*) AS c FROM documents
      WHERE text IS NOT NULL GROUP BY text)
"""
