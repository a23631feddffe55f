"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decode strategy, two tiers (checked in order per payload), both
dependency-free so no installed package can change an output:

1. **Header parsing and real decoding** — PNG IHDR, JPEG SOFn, GIF, BMP
   dimension extraction, PNG pixel decoding and RIFF/WAVE PCM decoding
   (stdlib ``wave`` + numpy) are implemented for real: these are simple
   public formats and need no third-party libs.
2. **Deterministic stub** — unrecognized payloads get fake features
   derived from the bytes (clearly marked), keeping the Arrow contract
   exercised end-to-end.

Pixel statistics (mean_luma) need a full decoder for every container, so
they come from the stub even when dimensions were sniffed.

Scale notes: binary payloads ride the shuffle only when explicitly
repartitioned; feature extraction is map-only (mapInPandas), so the 100 TB
plan is scan → Arrow batches → features, no wide rows ever shuffled.
"""

from __future__ import annotations

import io
import struct
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# typed metadata schema carried alongside every media payload
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),  # decoded/sniffed container
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        # declared metadata carried through the Arrow batch unchanged —
        # deterministic regardless of which decode tier ran
        T.StructField("meta_format", T.StringType()),
        T.StructField("meta_width", T.IntegerType()),
        T.StructField("meta_height", T.IntegerType()),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Derive a deterministic fake binary payload + metadata from text —
    stands in for a real (payload, metadata) pair so the plumbing is
    exercised end-to-end on the driver tables."""
    payload = F.encode(F.col(text_col), "utf-8").cast("binary")
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake").alias("format"),
        (F.length(F.col(text_col)) % 1024 + 1).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 768 + 1).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def sniff_image_dims(payload: bytes) -> Optional[tuple[str, int, int]]:
    """Dependency-free (format, width, height) from the header bytes of the
    common image containers — real parsing of the public format specs:

    - PNG: IHDR chunk at offset 16 (two big-endian u32)
    - GIF87a/89a: logical screen descriptor (two little-endian u16)
    - BMP: BITMAPINFOHEADER (two little-endian i32 at offset 18)
    - JPEG: walk the segment chain to the first SOFn marker

    Returns None when the payload matches none of them.
    """
    if payload is None or len(payload) < 10:
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        w, h = struct.unpack(">II", payload[16:24])
        return "png", w, h
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return "gif", w, h
    if payload[:2] == b"BM" and len(payload) >= 26:
        # require the BMP size field to equal the payload length — "BM" is
        # printable ASCII, so text payloads could otherwise false-match
        if struct.unpack("<I", payload[2:6])[0] == len(payload):
            w, h = struct.unpack("<ii", payload[18:26])
            return "bmp", w, abs(h)
        return None
    if payload[:2] == b"\xff\xd8":  # JPEG SOI; walk segments to SOFn
        i = 2
        while i + 9 < len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker == 0xFF:
                # 0xFF fill/padding bytes are legal between segments — treat
                # them as alignment, not as a marker with a length field
                # (r9 review: reading a fill byte's "length" jumped the walk
                # to a garbage offset and missed the real SOFn)
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return "jpeg", w, h
            i += 2 + seg_len
    return None


def _decode_image_stub(payload: bytes) -> tuple[int, int, float]:
    """STUB decoder for unrecognized payloads: deterministic fake
    (width, height, mean_luma) derived from the payload bytes — keeps the
    pipeline shape (Arrow batch in, typed features out) fully real.  Real
    decoding happens in :func:`_decode_image` when the payload is a known
    container."""
    if payload is None:
        raise NotImplementedError("image decode of NULL payload")
    n = len(payload)
    width = n % 1024 + 1
    height = n % 768 + 1
    mean_luma = (sum(payload[:64]) / max(1, min(n, 64))) / 255.0
    return width, height, mean_luma


def _decode_image(payload: bytes) -> tuple[str, int, int, float]:
    """(format, width, height, mean_luma) — header sniffing for dims with
    stub luma (tier 1), full stub (tier 2)."""
    if payload is None:
        # surface the stub tier's intended error, not a len TypeError
        raise NotImplementedError("image decode of NULL payload")
    sniffed = sniff_image_dims(payload)
    if sniffed is not None:
        fmt, w, h = sniffed
        _, _, luma = _decode_image_stub(payload)  # pixel stats need a decoder
        return fmt, w, h, luma
    w, h, luma = _decode_image_stub(payload)
    return "fake", w, h, luma


def extract_image_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, meta) rows via
    ``mapInPandas`` — the pattern for any real decode/resize/frame-sample
    kernel.  Map-only: no shuffle, parallelism = input partitions.

    ``format``/``width``/``height``/``mean_luma`` come from the tiered
    decoder (:func:`_decode_image`); the ``meta_*`` columns carry the
    declared metadata through the Arrow batch untouched, giving downstream
    aggregations a decoder-independent deterministic surface."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_image(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "format": [d[0] for d in decoded],
                    "width": [d[1] for d in decoded],
                    "height": [d[2] for d in decoded],
                    "mean_luma": [d[3] for d in decoded],
                    "meta_format": pdf["meta"].map(lambda m: m["format"]),
                    "meta_width": pdf["meta"].map(lambda m: m["width"]),
                    "meta_height": pdf["meta"].map(lambda m: m["height"]),
                }
            )

    return media.mapInPandas(feats, schema=IMAGE_FEATURES_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_video_frames(media: DataFrame, every_nth: int = 10, max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing: one input row fans out to ≤ ``max_frames``
    frame rows — the 1→N batch shape any real ffmpeg kernel needs.  STUB
    decoder slices the payload deterministically.  Map-only; downstream
    per-frame ops (dedup, embedding) group/shuffle on (doc_id, frame_idx)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = min(max_frames, max(1, len(payload) // max(1, every_nth)))
                for i in range(n_frames):
                    # STUB: real impl decodes frame i*every_nth via ffmpeg
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(payload[i * every_nth : (i + 1) * every_nth])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": frames,
                }
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def _decode_audio_stub(payload: bytes) -> tuple[int, float, int]:
    """STUB decoder for unrecognized payloads: the bytes stand in for a
    waveform (centered samples in [-128, 127], 8 kHz nominal rate) —
    (duration_ms, rms, zero_crossings) keep the real feature shapes.  Real
    decoding happens in :func:`_decode_audio` for PCM WAV (stdlib)."""
    if payload is None:
        raise NotImplementedError("audio decode of NULL payload")
    samples = [b - 128 for b in payload]
    n = max(1, len(samples))
    duration_ms = int(n * 1000 / 8000)
    rms = (sum(s * s for s in samples) / n) ** 0.5
    zc = sum(
        1 for a, b in zip(samples, samples[1:]) if (a >= 0) != (b >= 0)
    )
    return duration_ms, rms, zc


def _wave_features(samples, framerate: int, nframes: int) -> tuple[int, float, int]:
    import numpy as np

    duration_ms = int(nframes * 1000 / max(1, framerate))
    if len(samples) == 0:
        return duration_ms, 0.0, 0
    s = np.asarray(samples, dtype="float64")
    rms = float(np.sqrt(np.mean(s * s)))
    sign = s >= 0
    zc = int(np.count_nonzero(sign[1:] != sign[:-1]))
    return duration_ms, rms, zc


def _decode_audio(payload: bytes) -> tuple[int, float, int]:
    """(duration_ms, rms, zero_crossings) — REAL decode for PCM WAV via the
    stdlib ``wave`` module + numpy (tier 1, no third-party deps);
    deterministic stub otherwise (tier 2)."""
    import numpy as np

    if payload is None:
        # surface the stub tier's intended error, not a slicing TypeError
        raise NotImplementedError("audio decode of NULL payload")
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import wave

        with wave.open(io.BytesIO(payload)) as w:
            sr, nch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
            nframes = w.getnframes()
            raw = w.readframes(nframes)
        dtype = {1: "u1", 2: "<i2", 4: "<i4"}.get(sw)
        if dtype is not None:
            s = np.frombuffer(raw, dtype=dtype).astype("float64")
            if sw == 1:
                s -= 128.0  # 8-bit WAV is unsigned
            if nch > 1:
                s = s.reshape(-1, nch).mean(axis=1)
            return _wave_features(s, sr, nframes)
    return _decode_audio_stub(payload)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio analog of :func:`extract_image_features`: Arrow-batched,
    map-only (doc_id, payload) → (duration, rms, zero-crossing) features."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_audio(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "duration_ms": [d[0] for d in decoded],
                    "rms": [d[1] for d in decoded],
                    "zero_crossings": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(feats, schema=AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing: image near-duplicate detection (pHash + banded
# hamming buckets) — the image-modality analog of MinHash/LSH text dedup
# ---------------------------------------------------------------------------


def decode_png_pixels(payload: bytes):
    """REAL dependency-free PNG pixel decode (stdlib zlib): 8-bit
    grayscale/RGB/RGBA, non-interlaced, all 5 scanline filters.  Returns a
    float64 (h, w) grayscale array (BT.601 luma), or None when the payload
    is not a PNG this decoder handles (caller falls back a tier)."""
    import zlib

    import numpy as np

    if payload is None or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, b""
    try:
        while pos + 8 <= len(payload):
            (ln,) = struct.unpack(">I", payload[pos : pos + 4])
            tag = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + ln]
            if tag == b"IHDR":
                ihdr = data
            elif tag == b"IDAT":
                idat += data
            elif tag == b"IEND":
                break
            pos += 12 + ln
        if ihdr is None:
            return None
        w, h = struct.unpack(">II", ihdr[:8])
        depth, color, _, _, interlace = ihdr[8:13]
        channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
        if depth != 8 or channels is None or interlace != 0:
            return None
        raw = zlib.decompress(idat)
        stride = w * channels
        if len(raw) < h * (stride + 1):
            return None
        out = np.empty((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int64)
        for y in range(h):
            row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
            filt, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).astype(np.int64)
            if filt == 0:
                cur = line
            elif filt == 2:  # Up
                cur = (line + prev) & 0xFF
            else:  # Sub/Average/Paeth need the running left pixel
                cur = np.empty(stride, dtype=np.int64)
                for x in range(stride):
                    a = cur[x - channels] if x >= channels else 0
                    b = prev[x]
                    c = prev[x - channels] if x >= channels else 0
                    if filt == 1:
                        cur[x] = (line[x] + a) & 0xFF
                    elif filt == 3:
                        cur[x] = (line[x] + (a + b) // 2) & 0xFF
                    elif filt == 4:
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                        cur[x] = (line[x] + pred) & 0xFF
                    else:
                        return None
            out[y] = cur
            prev = cur
        px = out.reshape(h, w, channels).astype(np.float64)
        if channels == 1:
            return px[:, :, 0]
        if channels == 2:  # gray + alpha
            return px[:, :, 0]
        return 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    except Exception:
        return None


def _gray_32(payload: bytes):
    """32×32 float grayscale for hashing: dep-free PNG decode (tier 1) →
    deterministic byte-derived stub (tier 2).  Resize is area-mean over
    nearest-index blocks — deterministic, numpy-only."""
    import numpy as np

    arr = decode_png_pixels(payload)
    if arr is None:
        # tier-2 stub: tile the payload bytes to 1024 cells, then mix each
        # cell with its POSITION (splitmix64 finalizer).  Raw tiling made a
        # short payload's matrix rank-deficient (every row identical when
        # len % 32 divides), collapsing the DCT spectrum to a handful of
        # informative bits — small stub frames then all collided once the
        # hash went integer-exact (the float version's BLAS rounding noise
        # had been papering over it).  The mix keeps the contract that
        # matters for a placeholder: identical payloads → identical
        # matrices, different payloads → uncorrelated dense spectra.
        n = max(1, len(payload or b""))
        reps = -(-1024 // n)
        flat = (
            np.frombuffer((payload or b"\x00") * reps, dtype=np.uint8)[:1024]
            .astype(np.uint64)
        )
        x = flat * np.uint64(0x9E3779B97F4A7C15) + np.arange(
            1024, dtype=np.uint64
        ) * np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return (x & np.uint64(0xFF)).astype(np.float64).reshape(32, 32)
    h, w = arr.shape
    ys = np.linspace(0, h, 33).astype(int)
    xs = np.linspace(0, w, 33).astype(int)
    out = np.empty((32, 32), dtype=np.float64)
    for i in range(32):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(32):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = arr[min(y0, h - 1) : y1, min(x0, w - 1) : x1].mean()
    return out


def _dct_matrix(n: int):
    import numpy as np

    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    C = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    C[0] /= np.sqrt(2.0)
    return C


# fixed-point scales for the integer-exact hash pipeline (see phash_one)
_PHASH_DCT_SCALE = 1 << 14  # DCT basis quantization
_PHASH_GRAY_SCALE = 8  # grayscale block-mean quantization


def _dct_matrix_q(n: int):
    """DCT-II basis quantized to int64 fixed point (× 2^14).  Integer
    matmul never dispatches to BLAS, so the transform is bit-identical
    on every platform/BLAS build — a float `C @ g @ C.T` is not, and a
    drifted low bit flips any coefficient sitting near the AC median
    (observed r10: a container rebuild changed 4 of 7 pinned fixture
    hashes with zero code change)."""
    import numpy as np

    return np.rint(_dct_matrix(n) * _PHASH_DCT_SCALE).astype(np.int64)


def phash_one(payload: bytes) -> int:
    """64-bit perceptual hash: 32×32 grayscale → 2-D DCT-II → top-left 8×8
    low-frequency block, DC coefficient EXCLUDED (r9 review: DC — overall
    brightness — is essentially always above the AC median, so hashing it
    burned a constant always-1 bit; the row/col-0 AC frequencies stay, they
    carry real horizontal/vertical structure) → bit i = AC coeff_i > median
    of the 63 ACs.  63 informative bits, bit 63 constant 0.  Signed int64
    so the value round-trips a Spark LongType exactly.

    HASH VERSION 3 (r10, integer-exact): the grayscale block means are
    quantized to 1/8-gray-level fixed point and the DCT is an int64
    matmul against a quantized basis (``_dct_matrix_q``), with an integer
    median — no BLAS anywhere, so the hash is reproducible across
    platforms and numpy/BLAS builds.  v2 (r9) computed the same layout in
    float64 via BLAS matmul, whose rounding varies by build: v3 values
    differ from v2 on coefficients near the median.  LAYOUT note from v2
    stands: v1 hashed the DC coefficient as bit 0.  Hashes from different
    versions are NOT comparable — a persisted perceptual-hash index built
    under an older version must be rebuilt (cross-version Hamming
    distances silently stop matching rather than erroring).  In-repo
    fixtures/pins are regenerated by scripts/make_media_fixture.py and
    make_video_fixture.py."""
    import numpy as np

    g = _gray_32(payload)
    gi = np.rint(g * float(_PHASH_GRAY_SCALE)).astype(np.int64)
    C = _dct_matrix_q(32)
    d = (C @ gi @ C.T)[:8, :8].ravel()[1:]
    # 63 values (odd count): the median IS the middle element — integer,
    # so the strict > below never compares against a synthetic midpoint
    med = int(np.partition(d, 31)[31])
    bits = 0
    for i, v in enumerate(d):
        if v > med:
            bits |= 1 << i
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_phash(media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Per-image perceptual hash — map-only Arrow batches, one int64 per
    image (the image analog of a MinHash signature).  Output: (id, phash)."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "phash": [phash_one(p) for p in pdf[payload_col]],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(hashes, "id long, phash long")


def phash_near_duplicates(
    hashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by pHash hamming distance ≤ ``max_hamming``
    via banded exact-match buckets (the hamming analog of MinHash LSH
    banding): split the 64-bit hash into ``bands`` equal bit-slices; by
    pigeonhole, two hashes within hamming h share at least one identical
    band whenever h < bands — so recall is GUARANTEED for
    ``max_hamming < bands`` and pair enumeration stays bucket-local, never
    all-pairs.  Wider bands (fewer of them) are more selective at scale;
    ``max_bucket_size`` caps a degenerate bucket exactly like the LSH text
    path.  Output: (id_a, id_b, hamming), id_a < id_b.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("phash"), b * width).bitwiseAND(F.lit(mask)).alias("bk"),
        )
        for b in range(bands)
    ]
    from .dedup import sorted_bucket_pairs

    rows = hashes.select(
        F.col("id"), F.col("phash"), F.explode(F.array(*band_cols)).alias("bandkey")
    ).select("id", "phash", F.col("bandkey.band").alias("band"), F.col("bandkey.bk").alias("bk"))
    pairs = sorted_bucket_pairs(
        rows, ["band", "bk"], F.struct("id", "phash"),
        lambda a, b: F.struct(
            a["id"].alias("id_a"), b["id"].alias("id_b"),
            F.bit_count(a["phash"].bitwiseXOR(b["phash"])).alias("hamming"),
        ),
        max_bucket_size,
    )
    return (
        pairs.select("p.id_a", "p.id_b", "p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _wav_samples(payload: bytes):
    """(mono float64 samples, framerate) for PCM WAV payloads, else None —
    the sample-level twin of :func:`_decode_audio`'s tier 1."""
    import numpy as np

    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            sr, nch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
            raw = w.readframes(w.getnframes())
        dtype = {1: "u1", 2: "<i2", 4: "<i4"}.get(sw)
        if dtype is None:
            return None
        s = np.frombuffer(raw, dtype=dtype).astype("float64")
        if sw == 1:
            s -= 128.0
        if nch > 1:
            s = s.reshape(-1, nch).mean(axis=1)
        return s, sr
    except Exception:
        return None


def audio_fingerprint_one(payload: bytes, frame: int = 1024, hop: int = 512) -> int:
    """64-bit spectral audio fingerprint: rfft magnitude spectrogram →
    4 time segments × 16 log-spaced frequency bands of mean log-energy →
    bit = cell above its segment's median (gain-invariant by
    construction).  REAL for PCM WAV (stdlib decode); unrecognized
    payloads get the deterministic byte-derived stub spectrum.  Signed
    int64, directly comparable with
    :func:`phash_near_duplicates`-style banded hamming search."""
    import numpy as np

    dec = _wav_samples(payload)
    if dec is None:
        n = max(1, len(payload or b""))
        reps = -(-4096 // n)
        s = np.frombuffer((payload or b"\x00") * reps, dtype=np.uint8)[:4096].astype("float64") - 128.0
    else:
        s = dec[0]
    if len(s) < frame:
        s = np.pad(s, (0, frame - len(s)))
    starts = range(0, len(s) - frame + 1, hop)
    mags = np.abs(np.array([np.fft.rfft(s[i : i + frame] * np.hanning(frame)) for i in starts]))
    nbins = mags.shape[1]
    edges = np.unique(np.geomspace(1, nbins - 1, 17).astype(int))
    while len(edges) < 17:  # tiny spectra: pad band edges
        edges = np.append(edges, edges[-1] + 1)
    t_edges = np.linspace(0, mags.shape[0], 5).astype(int)
    bits = 0
    for t in range(4):
        seg = mags[t_edges[t] : max(t_edges[t + 1], t_edges[t] + 1)]
        # pure log, not log1p: an ideal gain change scales every band's
        # energy by the same factor, so log energies (and their median)
        # shift uniformly and the bits are gain-robust — the +1 floor of
        # log1p breaks even that for quiet bands.  (Exact invariance is
        # limited by quantization noise, whose floor does NOT scale with
        # amplitude.)
        energy = np.array([
            np.log(max(seg[:, edges[b] : max(edges[b + 1], edges[b] + 1)].mean(), 1e-12))
            for b in range(16)
        ])
        med = np.median(energy)
        for b in range(16):
            if energy[b] > med:
                bits |= 1 << (t * 16 + b)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def audio_fingerprint(media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Per-clip spectral fingerprint — map-only Arrow batches.  Output:
    (id, phash) with the hash in the ``phash`` column so the output feeds
    :func:`phash_near_duplicates` unchanged (banded hamming buckets work
    on any 64-bit locality-preserving hash)."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "phash": [audio_fingerprint_one(p) for p in pdf[payload_col]],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(hashes, "id long, phash long")


def video_phash(
    media: DataFrame,
    every_nth: int = 10,
    max_frames: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-sampled-frame perceptual hashes for video payloads: the keyframe
    fingerprint table real video dedup pipelines build.  Composition:
    :func:`sample_video_frames` (1→N fan-out; stub frame decode until an
    ffmpeg kernel lands) → :func:`phash_one` per frame, all map-only.
    Output: (id, frame_idx, phash)."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"].astype("int64"),
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "phash": [phash_one(p) for p in pdf["frame"]],
                }
            )

    frames = sample_video_frames(
        media.select(F.col(id_col).alias("doc_id"), "payload"),
        every_nth=every_nth,
        max_frames=max_frames,
    )
    return frames.mapInPandas(hashes, "id long, frame_idx int, phash long")


def video_near_duplicates(
    frame_hashes: DataFrame,
    min_shared_frames: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Video near-dup pairs: videos sharing ≥ ``min_shared_frames``
    identical frame hashes (the shared-keyframe criterion).  One groupBy
    on the 64-bit frame hash builds the inverted index (distinct video ids
    per hash, so a video repeating a frame doesn't self-inflate), pairs
    enumerate map-side via the bucket-array plan, and a pair-count groupBy
    applies the threshold.  Output: (id_a, id_b, n_shared_frames)."""
    from .dedup import sorted_bucket_pairs

    rows = frame_hashes.select("phash", "id").distinct()
    pairs = sorted_bucket_pairs(
        rows, ["phash"], F.col("id"),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        max_bucket_size,
    )
    return (
        pairs.groupBy(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_frames"))
        .where(F.col("n_shared_frames") >= min_shared_frames)
    )
