"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched pandas UDFs over ``mapInPandas``.

``decode_media`` is a REAL dependency-free decoder for two container
formats — BMP (BITMAPINFOHEADER parse → width/height/bpp) and WAV (RIFF
chunk walk → sample rate/channels/sample count). Formats that need a
codec library (PNG/JPEG/MP4 …) raise ``NotImplementedError`` with the
missing dependency named; the Spark-side plumbing — binary schema, Arrow
batch shape, ``mapInPandas`` signature, partition behavior — is identical
for every format and is real and tested. ``synthesize_media`` builds
deterministic BMP/WAV payloads from the documents table so the
decode path round-trips against a SQL-expressible oracle.

Scale notes:
- ``mapInPandas`` streams Arrow record batches; per-batch Python overhead is
  amortized, payload bytes never materialize on the driver.
- Input batches are ``session.ARROW_BATCH_ROWS`` (1024) rows: ``get_spark``
  and ``pin_session`` both pin ``spark.sql.execution.arrow.maxRecordsPerBatch``
  to it, so payload batches stay ~12 MB with no caller setting. Kernels
  that fabricate payloads bound their output batches by ``_YIELD_ROWS``.
- Feature extraction is embarrassingly parallel (no shuffle); partition
  count should track input file splits.

Every container is written and read by one helper each: ``_bmp_header`` /
``_bmp_geometry`` for BMP, ``_wav_header`` / ``_riff_chunks`` for WAV.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Max payload rows per yielded pandas frame in payload-PRODUCING
# mapInPandas kernels. Each yielded frame becomes one Arrow batch, so
# this — not spark.sql.execution.arrow.maxRecordsPerBatch, which only
# chunks the INPUT side — is what bounds executor memory when a kernel
# fabricates multi-KB binary payloads from small input rows (measured:
# 10k-row yields of 12 KB BMPs OOM'd a 24 GiB heap at 500k docs).
_YIELD_ROWS = 512

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("header_hex", StringType()),
        StructField("n_marker_bytes", LongType()),
    ]
)


def to_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap a text column as an opaque binary payload with typed metadata —
    the storage model for image/audio/video at rest (binary + metadata
    columns in Parquet, one row per asset)."""
    return df.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bpp", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_channels", LongType()),
        StructField("n_samples", LongType()),
    ]
)


def _bmp_stride(w: int) -> int:
    """Bytes per pixel row of a 24-bit BMP: rows pad to 4-byte boundaries."""
    return (3 * w + 3) // 4 * 4


def _bmp_header(w: int, h: int) -> bytes:
    """54-byte header (file header + BITMAPINFOHEADER) of an uncompressed
    24-bit ``w``×``h`` BMP whose pixel rows start at offset 54."""
    n = _bmp_stride(w) * h
    return struct.pack(
        "<2sIIIIiiHHII16x", b"BM", 54 + n, 0, 54, 40, w, h, 1, 24, 0, n
    )


def _bmp_geometry(p: bytes) -> tuple[int, int, int, int]:
    """(width, height, bits per pixel, pixel-array offset) of a BMP."""
    return (
        int.from_bytes(p[18:22], "little", signed=True),
        int.from_bytes(p[22:26], "little", signed=True),
        int.from_bytes(p[28:30], "little"),
        int.from_bytes(p[10:14], "little"),
    )


def _bmp_batchable(p: bytes) -> tuple[int, int, int, int] | None:
    """``_bmp_geometry`` of a BMP whose pixel array lies inside the
    payload — what the batched kernels need — else None."""
    if len(p) >= 54:
        w, h, bpp, off = geometry = _bmp_geometry(p)
        if 0 < w and 0 < h and off + _bmp_stride(w) * h <= len(p):
            return geometry
    return None


def _wav_header(rate: int, n: int) -> bytes:
    """44-byte header of an 8-bit mono PCM WAV holding ``n`` samples:
    RIFF/WAVE, a 16-byte ``fmt `` chunk, then the ``data`` chunk's id and
    length (byte rate = sample rate at one byte per frame)."""
    return struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + n, b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate, 1, 8, b"data", n,
    )


def _riff_chunks(p: bytes) -> Iterator[tuple[bytes, int, int]]:
    """(chunk id, body offset, declared length) of each RIFF chunk after
    the 12-byte RIFF/WAVE preamble, in file order (chunks are
    word-aligned)."""
    pos = 12
    while pos + 8 <= len(p):
        clen = int.from_bytes(p[pos + 4 : pos + 8], "little")
        yield p[pos : pos + 4], pos + 8, clen
        pos += 8 + clen + (clen % 2)


def _wav_format(p: bytes, media_type: str) -> tuple[int, int, int, int, int]:
    """(sample rate, channels, bits per sample, data offset, data length)
    of a RIFF/WAVE payload; the last ``fmt `` and ``data`` chunks win, and
    a ``fmt `` chunk shorter than its 16 PCM bytes is not one."""
    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise NotImplementedError(
            f"decode of {media_type!r} requires a codec library (PIL/ffmpeg);"
            " only BMP and WAV decode natively"
        )
    rate = off = None
    for cid, o, n in _riff_chunks(p):
        if cid == b"fmt " and n >= 16:
            channels = int.from_bytes(p[o + 2 : o + 4], "little")
            rate = int.from_bytes(p[o + 4 : o + 8], "little")
            bits = int.from_bytes(p[o + 14 : o + 16], "little")
        elif cid == b"data":
            off, nb = o, n
    if rate is None or off is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, channels, bits, off, nb


def _wav_data(p: bytes) -> tuple[int, int]:
    """(offset, length clipped to the payload) of the FIRST ``data``
    chunk — the samples the fingerprints read."""
    for cid, o, n in _riff_chunks(p):
        if cid == b"data":
            return o, min(n, len(p) - o)
    raise ValueError("WAV missing data chunk")


def make_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal valid 24-bit uncompressed BMP (BITMAPINFOHEADER) with
    deterministic pixel bytes — used by ``synthesize_media`` and tests."""
    n = _bmp_stride(width) * height
    return _bmp_header(width, height) + bytes((seed + i) % 256 for i in range(n))


def make_wav(sample_rate: int, n_samples: int, seed: int = 0) -> bytes:
    """Minimal valid 8-bit mono PCM WAV with deterministic sample bytes."""
    data = bytes((seed + i) % 256 for i in range(n_samples))
    return _wav_header(sample_rate, n_samples) + data


def decode_media(payload: bytes, media_type: str) -> dict:
    """Dependency-free media header decode.

    BMP: validates the ``BM`` magic and BITMAPINFOHEADER, returns
    width/height/bpp. WAV: validates ``RIFF``/``WAVE``, walks the chunk
    list to the ``fmt `` and ``data`` chunks, returns sample rate, channel
    count and per-channel sample count. Raises ``ValueError`` on corrupt
    payloads and ``NotImplementedError`` for formats that need a codec
    library (PNG/JPEG/MP4 …, not installed here).
    """
    p = bytes(payload)
    if p[:2] == b"BM":
        if len(p) < 54:
            raise ValueError("truncated BMP header")
        w, h, bpp, _ = _bmp_geometry(p)
        return {
            "width": w,
            "height": h,
            "bpp": bpp,
            "sample_rate": None,
            "n_channels": None,
            "n_samples": None,
        }
    rate, channels, bits, _, nb = _wav_format(p, media_type)
    return {
        "width": None,
        "height": None,
        "bpp": None,
        "sample_rate": rate,
        "n_channels": channels,
        "n_samples": nb // (channels * max(bits // 8, 1)),
    }


def extract_features(media: DataFrame, marker: bytes = b"a") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The "features" are deterministic byte-level stats (size, 8-byte header
    hex, marker-byte count) standing in for a real decoder's output; the
    batch iteration, schema contract, and zero-copy Arrow transfer are the
    production plumbing.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # a NULL payload (to_media of a NULL text) has NULL features
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len, na_action="ignore").astype(
                        "Int64"
                    ),
                    "header_hex": payloads.map(
                        lambda b: bytes(b[:8]).hex(), na_action="ignore"
                    ),
                    "n_marker_bytes": payloads.map(
                        lambda b: bytes(b).count(marker), na_action="ignore"
                    ).astype("Int64"),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def _slices(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Input batches cut to at most ``_YIELD_ROWS`` rows: a kernel that
    fabricates payloads yields one frame per slice (see ``_YIELD_ROWS``)."""
    for pdf in batches:
        for c0 in range(0, len(pdf), _YIELD_ROWS):
            yield pdf.iloc[c0 : c0 + _YIELD_ROWS]


def _modality(ids) -> tuple:
    """Synthesized corpora: even doc_ids are BMP images, odd doc_ids WAV
    audio. ``ids`` is an int64 array; returns (image mask, media types)."""
    image = ids % 2 == 0
    return image, ["image/bmp" if m else "audio/wav" for m in image]


def synthesize_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic media payloads from the documents table: even doc_ids
    become 24-bit BMPs (width 1+id%16, height 1+id%8), odd doc_ids become
    8-bit mono WAVs (rate 8000+4000·(id%4), one sample per text char).

    Runs in ``mapInPandas`` (payload bytes built executor-side, never on
    the driver); the parameters are pure functions of (doc_id, n_chars) so
    a SQL oracle can state the expected decode output without byte-level
    logic — what the round-trip test then verifies is the DECODER.

    An odd doc_id with a NULL text is refused by name: its asset would be
    a WAV with a sample rate but no sample count, which no container can
    hold."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _slices(batches):
            ids = pdf["doc_id"].to_numpy()
            image, types = _modality(ids)
            payloads = []
            for i, is_image, text in zip(ids.tolist(), image, pdf[text_col]):
                if is_image:
                    payloads.append(make_bmp(1 + i % 16, 1 + i % 8, seed=i))
                elif text is None:
                    raise ValueError(
                        f"synthesize_media: doc_id {i} has a NULL text, so"
                        " its audio asset has no sample count"
                    )
                else:
                    rate = 8000 + 4000 * (i % 4)
                    payloads.append(make_wav(rate, len(text), seed=i))
            yield pd.DataFrame(
                {"doc_id": ids, "media_type": types, "payload": payloads}
            )

    return df.select("doc_id", text_col).mapInPandas(_synth, schema=MEDIA_SCHEMA)


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode over binary payloads: each batch row's
    container header is parsed by ``decode_media``; output is the typed
    per-modality feature struct (NULLs for the other modality's fields).
    Embarrassingly parallel — no shuffle, batches stream through Arrow."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(payload, mt)
                for payload, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out

    return media.mapInPandas(_decode, schema=DECODED_SCHEMA)


def _resize_bmp(p: bytes, scale_div: int) -> bytes:
    """Nearest-neighbor downscale of a 24-bit uncompressed BMP by an
    integer factor (pure bytes + arithmetic, no codec library)."""
    w, h, bpp, off = _bmp_geometry(p)
    if bpp != 24:
        raise ValueError(f"resize supports 24-bit BMP only, got {bpp}")
    in_stride = _bmp_stride(w)
    ow, oh = max(1, w // scale_div), max(1, h // scale_div)
    out_stride = _bmp_stride(ow)
    out = bytearray(out_stride * oh)
    for y in range(oh):
        src_row = off + (y * h // oh) * in_stride
        dst_row = y * out_stride
        for x in range(ow):
            sx = src_row + (x * w // ow) * 3
            dx = dst_row + x * 3
            out[dx : dx + 3] = p[sx : sx + 3]
    return _bmp_header(ow, oh) + bytes(out)


def _decimate_wav(p: bytes, sample_every: int) -> bytes:
    """Frame-sample an 8-bit mono PCM WAV: keep every ``sample_every``-th
    sample and divide the declared rate to match (decimation without an
    anti-alias filter — the frame-SAMPLING shape, not a resampler)."""
    rate, channels, bits, off, nb = _wav_format(p, "audio/wav")
    if channels != 1:
        raise ValueError("frame sampling supports mono PCM only")
    # byte-stride slicing below assumes 1 byte == 1 sample; a 16-bit
    # payload would be split mid-sample-pair and emit corrupt-but-valid-
    # looking audio, so fail loudly (mirror of the mono-only check).
    if bits != 8:
        raise ValueError("frame sampling supports 8-bit PCM only")
    kept = p[off : off + nb][::sample_every]
    return _wav_header(max(1, rate // sample_every), len(kept)) + kept


def transform_media(
    media: DataFrame, scale_div: int = 2, sample_every: int = 4
) -> DataFrame:
    """REAL media transforms over binary payloads, Arrow-batched: images
    (BMP) are nearest-neighbor downscaled by ``scale_div``; audio (WAV) is
    frame-sampled to every ``sample_every``-th sample — the
    resize / frame-sample stage of a multimodal training-data pipeline.
    Output payloads are VALID containers: re-running the real decoder on
    them is how the registry query (and its SQL oracle on the expected
    geometry) verifies the transform byte-for-byte plumbing.

    Formats needing a codec library (JPEG resize, MP4 frame extraction)
    would slot into the same ``mapInPandas`` signature; only BMP/WAV are
    available dependency-free in this environment.

    Scale: embarrassingly parallel, no shuffle; payload bytes stream
    through Arrow record batches and never touch the driver.
    """

    def _tx(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "payload": _tx_payloads(
                        payloads, scale_div, sample_every
                    ),
                }
            )

    return media.mapInPandas(_tx, schema=MEDIA_SCHEMA)


def _tx_payloads(
    payloads: list, scale_div: int, sample_every: int
) -> list:
    """Batch core of ``transform_media``: raw payload list → transformed
    payload list, in input order. Same-geometry BMPs resize as one
    strided gather per chip (the scalar per-pixel Python loop was ~1k
    iterations per 64→32 asset); byte output identical by construction.
    Shared by the chained operator and ``structured_phash``'s fused
    kernel."""
    import numpy as np

    out = [b""] * len(payloads)
    groups: dict = {}
    for i, p in enumerate(payloads):
        if p[:2] != b"BM":
            out[i] = _decimate_wav(p, sample_every)
        elif (g := _bmp_batchable(p)) is not None and g[2] == 24:
            groups.setdefault((len(p), *g), []).append(i)
        else:
            out[i] = _resize_bmp(p, scale_div)
    for (_, w, h, _, off), chip, raw in _chips(payloads, groups):
        ow, oh = max(1, w // scale_div), max(1, h // scale_div)
        rows_idx = (np.arange(oh) * h) // oh
        byte_idx = (
            ((np.arange(ow) * w) // ow)[:, None] * 3
            + np.arange(3)[None, :]
        ).reshape(-1)
        px = raw[:, off : off + _bmp_stride(w) * h].reshape(len(chip), h, -1)
        buf = np.zeros((len(chip), oh, _bmp_stride(ow)), dtype=np.uint8)
        buf[:, :, : 3 * ow] = px[:, rows_idx][:, :, byte_idx]
        hdr = _bmp_header(ow, oh)
        for i, b in zip(chip, buf):
            out[i] = hdr + b.tobytes()
    return out


# Fixed-point DCT-II cosine table, COS_Q16[t] = round(cos(pi*t/32) *
# 2^16): the 16-point DCT basis is B[k,n] = COS_Q16[((2n+1)*k) mod 64]
# (cosine period 2*pi = 64 table steps). INTEGER by construction so the
# whole fingerprint — luma, pooling, DCT, median, bits — is exact int64
# arithmetic, replayable bit-for-bit by the DuckDB oracle SQL
# (SQL_MEDIA_PHASH embeds this same table as a literal). Magnitude
# bound: |dct| <= 16*16 * 2^16 (basis) * 2^16 (basis) * 2^16 (pooled
# luma <= 255*256) = 2^56 — no int64 overflow.
COS_Q16 = (
    65536, 65220, 64277, 62714, 60547, 57798, 54491, 50660,
    46341, 41576, 36410, 30893, 25080, 19024, 12785, 6424,
    0, -6424, -12785, -19024, -25080, -30893, -36410, -41576,
    -46341, -50660, -54491, -57798, -60547, -62714, -64277, -65220,
    -65536, -65220, -64277, -62714, -60547, -57798, -54491, -50660,
    -46341, -41576, -36410, -30893, -25080, -19024, -12785, -6424,
    0, 6424, 12785, 19024, 25080, 30893, 36410, 41576,
    46341, 50660, 54491, 57798, 60547, 62714, 64277, 65220,
)


def _phash_bmp(p: bytes, grid: int = 8) -> int:
    """Perceptual hash of a 24-bit BMP: luma plane → nearest-bin mean
    pooling to a 16×16 grid → 2D DCT-II → top-left ``grid``×``grid``
    low-frequency block (DC dropped) → one bit per coefficient,
    above/below the block median. The classic pHash construction, so
    the hash is stable under resizing/re-encoding — the property the
    near-dup test asserts via ``_resize_bmp``.

    INTEGER-EXACT (round 11): luma stays at the 256× integer scale
    (29B+150G+77R, no division), pooling is a round-half-up integer
    mean, the DCT uses the ``COS_Q16`` fixed-point basis, and the
    median of the 63 AC coefficients is the exact middle element
    (odd count → ``np.partition(...)[31]``, never float — dct values
    reach 2^56, past float64's 2^53 exact-integer range). Every bit is
    therefore replayable in pure SQL, which is what gives
    ``media_phash``/``media_near_dup`` full value-hash oracles."""
    import numpy as np

    w, h, _, off = _bmp_geometry(p)
    stride = _bmp_stride(w)
    buf = np.frombuffer(p, dtype=np.uint8)
    # BGR -> integer-weighted luma (ITU-R 601 ratios over 256), fully
    # vectorized: view the pixel array as (h, stride) and slice off the
    # row padding — the per-row Python loop was ~10x the whole DCT cost
    # at corpus scale. Kept at the 256x scale: the DCT is linear and
    # the median scales with it, so the bits don't change and nothing
    # leaves integer arithmetic.
    px = (
        buf[off : off + stride * h]
        .reshape(h, stride)[:, : 3 * w]
        .reshape(h, w, 3)
        .astype(np.int64)
    )
    img = 29 * px[:, :, 0] + 150 * px[:, :, 1] + 77 * px[:, :, 2]
    # mean-pool to 16x16 (nearest-bin pooling; handles any input size);
    # round-half-up integer mean: (2*sum + area) // (2*area)
    n = 16
    if h % n == 0 and w % n == 0:
        # divisible fast path: one reshape-sum, no Python loop; all
        # cells share one area. Same cells, same rounded mean — the
        # pinned fixture hashes assert the two paths stay bit-compatible.
        area = (h // n) * (w // n)
        sums = img.reshape(n, h // n, n, w // n).sum(axis=(1, 3))
        pooled = (2 * sums + area) // (2 * area)
    else:
        # general path (any w, h — including tiny payloads smaller than
        # the grid): same nearest-bin cells, but pooled via a 2D
        # integral image instead of a 256-iteration Python slice loop —
        # the loop dominated the whole fingerprint at corpus scale
        ys = (np.arange(n + 1) * h) // n
        xs = (np.arange(n + 1) * w) // n
        y0, x0 = ys[:n], xs[:n]
        y1 = np.minimum(np.maximum(y0 + 1, ys[1:]), h)
        x1 = np.minimum(np.maximum(x0 + 1, xs[1:]), w)
        S = np.zeros((h + 1, w + 1), dtype=np.int64)
        S[1:, 1:] = img.cumsum(axis=0).cumsum(axis=1)
        sums = (
            S[y1][:, x1] - S[y0][:, x1] - S[y1][:, x0] + S[y0][:, x0]
        )
        area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
        pooled = (2 * sums + area) // (2 * area)
    k = np.arange(n)
    tbl = np.asarray(COS_Q16, dtype=np.int64)
    basis = tbl[((2 * k[None, :] + 1) * k[:, None]) % 64]
    dct = basis @ pooled @ basis.T
    block = dct[:grid, :grid].flatten()[1:]  # drop DC
    mid = (block.size - 1) // 2  # index 31 for the 63 AC coefficients
    med = int(np.partition(block, mid)[mid])
    bits = 0
    for b in block > med:
        bits = (bits << 1) | int(b)
    return bits


def _phash_wav(p: bytes, n_frames: int = 64) -> int:
    """Energy-delta fingerprint of an 8-bit mono PCM WAV: split samples
    into ``n_frames`` equal frames, per-frame mean absolute deviation
    from 128 (unsigned PCM midpoint), one bit per adjacent frame pair
    (energy rising = 1) — the Shazam-lite shape that survives
    decimation, which is what the near-dup test asserts via
    ``_decimate_wav``.

    INTEGER-EXACT (round 11): frame energies are integer sums of
    |s-128| and the adjacent-frame "rising" comparison cross-multiplies
    by frame lengths (sum[f+1]*len[f] > sum[f]*len[f+1]) — exactly the
    mean comparison, no division, no float. On the structured corpus
    (constant-amplitude frames) the comparison reduces to the integer
    amplitudes themselves, which is what the DuckDB oracle replays."""
    import numpy as np

    off, nb = _wav_data(p)
    s = np.frombuffer(p, dtype=np.uint8, count=nb, offset=off).astype(
        np.int64
    )
    if len(s) == 0:
        return 0
    dev = np.abs(s - 128)
    if len(s) % n_frames == 0:
        # divisible fast path: one reshape-sum (same frames, same sums)
        sums = dev.reshape(n_frames, -1).sum(axis=1)
        lens = np.full(n_frames, len(s) // n_frames, dtype=np.int64)
    else:
        sums = np.zeros(n_frames, dtype=np.int64)
        lens = np.ones(n_frames, dtype=np.int64)
        bounds = (np.arange(n_frames + 1) * len(s)) // n_frames
        for i in range(n_frames):
            a, b = bounds[i], min(max(bounds[i] + 1, bounds[i + 1]), len(s))
            sums[i] = dev[a:b].sum()
            lens[i] = b - a
    rising = sums[1:] * lens[:-1] > sums[:-1] * lens[1:]
    bits = 0
    for b in rising:
        bits = (bits << 1) | int(b)
    return bits


# Row chip for the batched fingerprint kernels: bounds the (chip, h, w,
# 3) int64 luma temp (~25 MB at 256 rows of 64×64 BMP) so 32 parallel
# tasks stay well inside the heap even on default Arrow batch sizes.
_PHASH_CHIP = 256


def _chips(payloads: list, groups: dict) -> Iterator[tuple]:
    """(group key, chip, payload matrix) for every chip of at most
    ``_PHASH_CHIP`` indices of each group: the chip's payloads, which
    share one length, stacked as a (len(chip), length) uint8 matrix."""
    import numpy as np

    for key, idxs in groups.items():
        for c0 in range(0, len(idxs), _PHASH_CHIP):
            chip = idxs[c0 : c0 + _PHASH_CHIP]
            raw = np.frombuffer(
                b"".join(payloads[i] for i in chip), dtype=np.uint8
            )
            yield key, chip, raw.reshape(len(chip), -1)


def _bits_from_bool_rows(b) -> "np.ndarray":  # noqa: F821
    """MSB-first bit packing of a (B, nbits) bool matrix into int64 —
    the vectorized form of the scalar ``(bits << 1) | bit`` loop. nbits
    ≤ 63 keeps every value in [0, 2^63), so no sign handling needed."""
    import numpy as np

    nbits = b.shape[1]
    assert nbits <= 63
    pw = np.left_shift(np.int64(1), np.arange(nbits - 1, -1, -1))
    return (b.astype(np.int64) * pw[None, :]).sum(axis=1)


def _phash_bmp_batch(raw, w: int, h: int, off: int, grid: int = 8):
    """Batched ``_phash_bmp``: one (B, L) uint8 payload matrix of
    SAME-GEOMETRY BMPs → (B,) int64 fingerprints. Every step is the
    scalar function's integer arithmetic with a leading batch axis
    (batched reshape-pool / integral-image pool, one stacked DCT
    matmul, per-row exact median, MSB-first bit pack), so the bits are
    bit-identical by construction — the batch-vs-scalar property test
    pins it. The per-asset Python dispatch (~20 tiny-array NumPy calls
    per payload) dominated fingerprinting at corpus scale; batching
    amortizes it across the Arrow batch."""
    import numpy as np

    stride = _bmp_stride(w)
    B = raw.shape[0]
    px = (
        raw[:, off : off + stride * h]
        .reshape(B, h, stride)[:, :, : 3 * w]
        .reshape(B, h, w, 3)
        .astype(np.int64)
    )
    img = 29 * px[:, :, :, 0] + 150 * px[:, :, :, 1] + 77 * px[:, :, :, 2]
    n = 16
    if h % n == 0 and w % n == 0:
        area = (h // n) * (w // n)
        sums = img.reshape(B, n, h // n, n, w // n).sum(axis=(2, 4))
        pooled = (2 * sums + area) // (2 * area)
    else:
        ys = (np.arange(n + 1) * h) // n
        xs = (np.arange(n + 1) * w) // n
        y0, x0 = ys[:n], xs[:n]
        y1 = np.minimum(np.maximum(y0 + 1, ys[1:]), h)
        x1 = np.minimum(np.maximum(x0 + 1, xs[1:]), w)
        S = np.zeros((B, h + 1, w + 1), dtype=np.int64)
        S[:, 1:, 1:] = img.cumsum(axis=1).cumsum(axis=2)
        sums = (
            S[:, y1[:, None], x1[None, :]]
            - S[:, y0[:, None], x1[None, :]]
            - S[:, y1[:, None], x0[None, :]]
            + S[:, y0[:, None], x0[None, :]]
        )
        area = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[None, :, :]
        pooled = (2 * sums + area) // (2 * area)
    k = np.arange(n)
    tbl = np.asarray(COS_Q16, dtype=np.int64)
    basis = tbl[((2 * k[None, :] + 1) * k[:, None]) % 64]
    dct = basis[None, :, :] @ pooled @ basis.T[None, :, :]
    block = dct[:, :grid, :grid].reshape(B, grid * grid)[:, 1:]
    mid = (block.shape[1] - 1) // 2
    med = np.partition(block, mid, axis=1)[:, mid]
    return _bits_from_bool_rows(block > med[:, None])


def _phash_wav_batch(raw, off: int, nb: int, n_frames: int = 64):
    """Batched ``_phash_wav``: (B, L) uint8 payload matrix of WAVs
    sharing one (data offset, byte count) layout → (B,) int64
    fingerprints; integer arithmetic identical to the scalar function
    (cumsum frame sums on the general path replay the same per-frame
    [a, b) bounds)."""
    import numpy as np

    s = raw[:, off : off + nb].astype(np.int64)
    dev = np.abs(s - 128)
    B, ns = dev.shape
    if ns % n_frames == 0:
        sums = dev.reshape(B, n_frames, -1).sum(axis=2)
        lens = np.full(n_frames, ns // n_frames, dtype=np.int64)[None, :]
    else:
        bounds = (np.arange(n_frames + 1) * ns) // n_frames
        a = bounds[:n_frames]
        b = np.minimum(np.maximum(a + 1, bounds[1:]), ns)
        cs = np.zeros((B, ns + 1), dtype=np.int64)
        cs[:, 1:] = dev.cumsum(axis=1)
        sums = cs[:, b] - cs[:, a]
        lens = np.broadcast_to((b - a).astype(np.int64), (B, n_frames))
    rising = sums[:, 1:] * lens[:, :-1] > sums[:, :-1] * lens[:, 1:]
    return _bits_from_bool_rows(rising)


def _phash_payloads(payloads: list) -> list:
    """Fingerprint a list of raw payloads, batching same-geometry
    containers through the vectorized kernels and falling back to the
    scalar functions for odd shapes (empty WAV data chunk, geometry
    that doesn't cover the byte range). Returns signed-int64 phashes in
    input order."""
    out = [0] * len(payloads)
    groups: dict = {}
    for i, p in enumerate(payloads):
        if p[:2] == b"BM":
            g = _bmp_batchable(p)
            if g is None:
                out[i] = _phash_bmp(p)  # odd geometry: scalar (raises as before)
                continue
            key = (_phash_bmp_batch, len(p), g[0], g[1], g[3])
        else:
            off, nb = _wav_data(p)
            if nb <= 0:
                continue  # no samples: fingerprint 0
            key = (_phash_wav_batch, len(p), off, nb)
        groups.setdefault(key, []).append(i)
    for (kernel, _, *geometry), chip, raw in _chips(payloads, groups):
        for i, ph in zip(chip, kernel(raw, *geometry)):
            out[i] = int(ph)
    return out


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("phash", LongType()),
    ]
)


def media_phash(media: DataFrame) -> DataFrame:
    """Perceptual fingerprints over binary media payloads — the
    multimodal near-dup primitive (image pHash / audio energy-delta):
    re-encoded, resized, or decimated variants of the same asset land
    within a few Hamming bits of each other, so the SAME banded/MIH
    pair-mining machinery the text SimHash family uses
    (``dedup.simhash_near_dup``) applies to media columns unchanged —
    fingerprints here, band join there, no new shuffle shape.

    Arrow-batched ``mapInPandas``, embarrassingly parallel, payloads
    never touch the driver. Formats needing codec libraries (JPEG/MP4)
    raise through ``decode_media``'s documented contract. Round 11:
    both fingerprints are integer-exact end-to-end (fixed-point DCT via
    ``COS_Q16``, integer medians / cross-multiplied energy
    comparisons), so on the structured corpus — a pure integer function
    of doc_id — the DuckDB oracle replays every bit and the driver
    value-hashes the row (``SQL_MEDIA_PHASH``). The robustness PROPERTY
    (phash(resize(x)) == phash(x), phash(decimate(x)) == phash(x)) and
    exact fixture hashes stay pinned in tests.
    """

    def _ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            hs = _phash_payloads(payloads)
            # both fingerprints are 63-bit (the DC / first-frame slot is
            # dropped), so the sign bit is never set — no wrap needed
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "phash": pd.Series(hs, dtype="int64"),
                }
            )

    return media.mapInPandas(_ph, schema=PHASH_SCHEMA)


def _hash_grid_batch(doc_ids, rows: int, cols: int):
    """Batched ``_hash_grid``: (B,) doc ids → (B, rows, cols) uint8
    grids, one avalanche per cell, identical values to the scalar form
    (uint64 product replays Python's exact ``(doc_id * K) & 0xFFFFFFFF``
    for any id below 2^64 / K)."""
    import numpy as np

    i = np.arange(rows, dtype=np.uint32)[None, :, None]
    j = np.arange(cols, dtype=np.uint32)[None, None, :]
    with np.errstate(over="ignore"):
        d = (
            (
                np.asarray(doc_ids, dtype=np.uint64)
                * np.uint64(0x85EBCA6B)
            )
            & np.uint64(0xFFFFFFFF)
        ).astype(np.uint32)[:, None, None]
        x = (
            i * np.uint32(8191) + j * np.uint32(131) + np.uint32(0x9E3779B9)
        ) ^ d
        x ^= x >> np.uint32(16)
        x = x * np.uint32(0x85EBCA6B)
        x ^= x >> np.uint32(13)
        x = x * np.uint32(0xC2B2AE35)
        x ^= x >> np.uint32(16)
    return (x >> np.uint32(24)).astype(np.uint8)


def _hash_grid(doc_id: int, rows: int, cols: int):
    """Deterministic pseudo-random byte grid from a doc id — the content
    seed for structured payloads. Murmur3-style avalanche finalizer: an
    affine-in-doc_id mix is NOT enough here (adding a constant to every
    cell mostly preserves adjacent-cell ORDER, which is exactly what the
    audio energy-delta fingerprint reads — measured cross-doc Hamming
    collapsed to ~8/63 bits), so each cell must avalanche independently."""
    import numpy as np

    i = np.arange(rows, dtype=np.uint32)[:, None]
    j = np.arange(cols, dtype=np.uint32)[None, :]
    with np.errstate(over="ignore"):
        x = (
            i * np.uint32(8191) + j * np.uint32(131) + np.uint32(0x9E3779B9)
        ) ^ np.uint32((doc_id * 0x85EBCA6B) & 0xFFFFFFFF)
        x ^= x >> np.uint32(16)
        x = x * np.uint32(0x85EBCA6B)
        x ^= x >> np.uint32(13)
        x = x * np.uint32(0xC2B2AE35)
        x ^= x >> np.uint32(16)
    return (x >> np.uint32(24)).astype(np.uint8)


def synthesize_structured_media(
    df: DataFrame,
) -> DataFrame:
    """Media payloads whose content lives at the PERCEPTUAL scale —
    what real photos/audio have and ``synthesize_media``'s per-pixel
    noise does not. Even doc_ids become 64×64 grayscale BMPs: a
    deterministic 16×16 byte grid (pure function of doc_id) upscaled
    4×4, so the structure sits exactly at pHash's pooling grid and a
    power-of-two resize keeps the pooling cell-aligned — the
    fingerprint survives exactly (measured: resize ÷2 and ÷4 both
    Hamming 0) while distinct doc_ids land ~32 bits apart (min 22
    over a cross matrix). A 64×48 variant broke that alignment
    (24 resized rows / 16 pooling cells straddle grid blocks;
    resize distance ballooned to ~14 bits) — keep dimensions a
    power-of-two multiple of the 16-cell grid. Odd doc_ids become 4096-sample 8-bit WAVs
    with 64 constant-energy frames (per-frame amplitude from the same
    hash grid), so decimation preserves the energy-delta fingerprint
    exactly. The perceptual-fingerprint test corpus for
    ``media_near_dup``; ``synthesize_media`` remains the decode-path
    corpus. Arrow ``mapInPandas``, payloads built executor-side."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _slices(batches):
            ids = pdf["doc_id"].to_numpy()
            types, payloads = _synth_structured_chunk(ids)
            yield pd.DataFrame(
                {"doc_id": ids, "media_type": types, "payload": payloads}
            )

    return df.select("doc_id").mapInPandas(_synth, schema=MEDIA_SCHEMA)


def _synth_structured_chunk(ids) -> tuple[list, list]:
    """Batch core of ``synthesize_structured_media``: doc ids → (media
    types, payload bytes) in input order. Every image is a 64×64 BMP and
    every audio asset a 4096-sample WAV, so one header serves each
    modality. Content bytes are computed BATCHED (one avalanche/upscale
    pass for every image, one amplitude pass for every audio asset);
    only the per-row tobytes() stays a Python loop."""
    import numpy as np

    image, types = _modality(ids)
    ev, od = np.flatnonzero(image), np.flatnonzero(~image)
    payloads: list = [None] * len(ids)
    if len(ev):
        g = _hash_grid_batch(ids[ev], 16, 16)
        img = np.repeat(np.repeat(g, 4, axis=1), 4, axis=2)
        data = np.repeat(img, 3, axis=2)  # (E, 64, 192) BGR
        hdr = _bmp_header(64, 64)
        for k, d in zip(ev, data):
            payloads[k] = hdr + d.tobytes()
    if len(od):
        # integer amplitudes (round 11): 10 + g*100//255 in
        # [10, 110], so samples are exactly 128±amp and the
        # frame energy IS the amplitude — the oracle SQL
        # replays `10 + (g*100)//255` from the hash grid
        g = (
            _hash_grid_batch(ids[od], 8, 8)
            .reshape(len(od), 64)
            .astype(np.int64)
        )
        amp = 10 + (g * 100) // 255
        frames = np.repeat(amp, 64, axis=1)  # (O, 4096)
        sgn = np.tile([1, -1], 2048)[None, :]
        s = (128 + frames * sgn).astype(np.uint8)
        hdr = _wav_header(8000, 4096)
        for k, d in zip(od, s):
            payloads[k] = hdr + d.tobytes()
    return types, payloads


def structured_phash(
    df: DataFrame,
    transform: tuple[int, int] | None = None,
    id_offset: int = 0,
) -> DataFrame:
    """FUSED synthesize → (transform) → phash over the structured
    corpus: one Python stage instead of two (or three, with a
    transform), so the ~12 KB payloads never cross the JVM↔Python
    boundary at all — only (doc_id, media_type, phash) leaves the
    worker (optimization guide §4.1: control how many columns cross;
    §8: move heavy bytes zero times when the decision needs only a
    proxy). Byte path is IDENTICAL to chaining the public operators —
    the same ``_synth_structured_chunk`` builds the container, the same
    ``_tx_payloads`` resizes/decimates it, the same ``_phash_payloads``
    decodes and fingerprints it (test-pinned value-equal to the chained
    plan) — so the real codec work all still runs; only the transport
    between the stages is gone.

    ``transform=(scale_div, sample_every)`` applies ``transform_media``'s
    kernel between synthesis and fingerprinting; ``id_offset`` re-labels
    output doc_ids (the planted-variant convention) without an extra
    projection on the payload stream.
    """

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _slices(batches):
            ids = pdf["doc_id"].to_numpy()
            types, payloads = _synth_structured_chunk(ids)
            if transform is not None:
                payloads = _tx_payloads(payloads, transform[0], transform[1])
            yield pd.DataFrame(
                {
                    "doc_id": ids + id_offset,
                    "media_type": types,
                    "phash": pd.Series(_phash_payloads(payloads), dtype="int64"),
                }
            )

    from .cleaning import spread

    # Round 15 (guide §2.2): the input rows are 8-byte doc_ids but each
    # synthesizes a ~12 KB payload plus a DCT/energy fingerprint in the
    # kernel (~150 µs/row), so a one-row-group corpus runs the whole
    # fused pipeline on ONE Python worker. The width sweep at sf0.1
    # (5k assets, interleaved medians) read 0.96 s unspread / 1.19 @2 /
    # 0.63 @8 / 0.77 @16 / 0.83 @32 — wide fan-outs pay worker/task
    # fixed costs faster than they amortize the kernel, so the cost
    # factor targets ~700 rows (~0.1 s of kernel) per task rather than
    # the core count. Values are per-row pure functions of doc_id, so
    # partitioning cannot change them.
    return (
        spread(df.select("doc_id"), cost=_SYNTH_COST)
        .mapInPandas(_fused, schema=PHASH_SCHEMA)
    )


# spread() work multiplier for the fused synthesize→phash kernel: sized
# from the measured ~150 µs/row kernel against spread's 128 KB/task
# target on ~23 estimated bytes/row id projections (see the width sweep
# in structured_phash).
_SYNTH_COST = 8


# Below this many assets the banded expression plan (no Python stage)
# beats the MIH kernel's fixed Arrow/worker overhead; occupancy² per
# 8-bit band bucket stays small (n/256 ≤ ~78 at the threshold).
MEDIA_MIH_MIN_ASSETS = 20_000


def _media_banded_pairs(fp: DataFrame, max_hamming: int) -> DataFrame:
    """Small-corpus pair arm: b = ``mih_bands(h, 0)`` disjoint w-bit
    bands (8×8-bit at h ≤ 7), exact-match pigeonhole (h < b ⇒ some band
    identical), in-row a<b pair combos with full-64-bit bit_count
    verification — the media mirror of the simhash family's small
    expression plan. Value-identical to the MIH arm by the same argument
    (every qualifying pair collides in ≥ 1 band; verification is exact;
    multi-band collisions dedup in the final groupBy)."""
    from .dedup import _band_combo_pairs, mih_bands

    b = mih_bands(max_hamming, 0)
    w = 64 // b
    bands = F.expr(
        "array("
        + ",".join(
            f"struct({k} AS band, (shiftrightunsigned(phash, {w * k})"
            f" & {(1 << w) - 1}) AS band_val)"
            for k in range(b)
        )
        + ")"
    )
    ex = fp.select(
        "doc_id", "media_type", "phash", F.explode(bands).alias("bk")
    ).select("doc_id", "media_type", "phash", "bk.band", "bk.band_val")
    return _band_combo_pairs(ex, ("phash",), max_hamming, keys=("media_type",))


def media_near_dup(
    fp: DataFrame,
    max_hamming: int = 7,
    n_assets: int | None = None,
    max_compares: float | None = None,
) -> DataFrame:
    """Near-duplicate media pairs from perceptual fingerprints: Hamming
    distance ≤ ``max_hamming`` over the 64-bit ``phash`` column, mined
    by ``dedup.mih_pairs`` (multi-index hashing, Norouzi et al.
    CVPR'12) — the pair miner of the text SimHash family — over the two
    32-bit halves of phash, grouped by ``media_type``. The band count
    follows the text family's rule, ``dedup.mih_bands(max_hamming)``:
    2×32-bit bands at h ≤ 3, 4×16-bit at h ≤ 7; h > 7 raises. The pair
    set is EXACTLY {a<b : hamming ≤ max_hamming} per modality
    (property-tested against brute force). Pairs never cross
    modalities (an image pHash and an audio energy profile are
    different spaces); mass-duplicate fingerprints should be
    exact-deduped on phash first, as with SimHash — the miner's
    planned-compare probe refuses them above ``max_compares`` past
    ``dedup.MIH_PROBE_MIN_DOCS`` assets.

    Why wide bands at all (the round-9 rebuild): 8-bit buckets hold
    n/256 assets per modality and the pair term is occupancy² — 500k
    assets put ~10⁹ structs on single tasks and OOM'd a 32 GiB heap.
    16-bit buckets hold n/65536 exacts; past ~10M assets/modality the
    miner grows its sub-bit count (pass ``n_assets`` from a count the
    caller already has) and band widening applies unchanged (SCALING.md
    geometry contract).

    Full value-hash driver check (round 11): the upstream fingerprints
    are integer-exact and variant-invariant, so the oracle replays
    phash(doc_id) from the hash grid in SQL and brute-forces the pairs
    with bit_count(xor(...)) — see ``SQL_MEDIA_NEAR_DUP``. The recall
    property (planted resized/decimated variants are recovered,
    distinct assets are not) stays pinned in tests as well."""
    from .dedup import mih_bands, mih_pairs

    n_bands = mih_bands(max_hamming)
    # SMALL-corpus arm (round 11, the simhash family's gated-plan
    # precedent): below MEDIA_MIH_MIN_ASSETS the whole pair stage runs
    # as in-row expression combos over exact-match pigeonhole bands —
    # h ≤ 7 over 8 disjoint 8-bit bands guarantees one IDENTICAL band,
    # so no variant keys and NO Python stage at all. The interpreted
    # per-pair cost is occupancy²-bounded (n/256 per band), fine at
    # this size, and the ~2 s of Arrow/worker fixed overhead the MIH
    # kernel pays on a 6k-asset corpus disappears. Measured (round-12
    # interleaved A/B, tools/ab_media_small_arm.py, fingerprints
    # checkpointed so only the pair stage moves): 0.69 s vs 2.80 s
    # median at sf0.1 — ~4x on the stage the gate switches. The BENCH
    # row only moves ~2.1 -> ~4.2 s because the fingerprint pipeline
    # (~1.4 s) rides every run. Value-identical to the MIH arm
    # (test-asserted); pass n_assets=None to force the corpus-scale
    # plan.
    if n_assets is not None and n_assets <= MEDIA_MIH_MIN_ASSETS:
        return _media_banded_pairs(fp, max_hamming)
    lanes = fp.select(
        "doc_id",
        "media_type",
        F.col("phash").bitwiseAND(F.lit(0xFFFFFFFF)).alias("ph_lo"),
        F.shiftrightunsigned("phash", 32).alias("ph_hi"),
    )
    return mih_pairs(
        lanes,
        n_bands,
        max_hamming,
        n_docs=n_assets,
        max_compares=max_compares,
        keys=("media_type",),
        name="media_near_dup",
        sig="phash values",
    )
