"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design: media travels as a ``binary`` column plus a metadata struct
(modality, n_bytes, content_md5). Decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so each Python worker sees whole batches.

The decode path is REAL: pure-Python (stdlib ``struct``) RIFF/WAVE and
BMP container codecs — ``decode_media`` sniffs the magic bytes, walks the
chunk/header structure, and returns typed samples/pixels. Rich formats
(JPEG/MP3/MP4) need external codec libraries not present in this
container; they would slot in behind the same ``decode_media`` dispatch
without touching the Spark-side plumbing.

At 100 TB: binary payloads dominate partition size — size
``spark.sql.files.maxPartitionBytes`` down (or store media in sidecar
object storage and carry references) so a partition of decoded batches
fits executor memory; decode + feature extraction is embarrassingly
parallel with zero shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions.dedup import winnow_candidates_from

# Integer-exact features only: derived ratios (mean amplitude etc.) belong
# in engine SQL (F.round is HALF_UP, matching DuckDB's ties-away for
# positive values) — Python round() is banker's and would drift on ties.
FEATURE_SCHEMA = (
    "doc_id long, modality string, n_units long, sample_rate int, "
    "channels int, sum_val long, peak_val int"
)

WAV_RATE = 8000


def encode_wav(samples: bytes, sample_rate: int = WAV_RATE, channels: int = 1) -> bytes:
    """Canonical 44-byte-header RIFF/WAVE container around 8-bit PCM mono
    samples. Pure stdlib; the inverse of ``decode_wav``."""
    n = len(samples)
    bits = 8
    block_align = channels * bits // 8
    return (
        struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF",
            36 + n,
            b"WAVE",
            b"fmt ",
            16,
            1,  # PCM
            channels,
            sample_rate,
            sample_rate * block_align,
            block_align,
            bits,
            b"data",
            n,
        )
        + samples
    )


def decode_wav(payload: bytes) -> dict:
    """Parse a RIFF/WAVE container: walk the chunk list (any order), read
    the fmt chunk's rate/channels/bits and the data chunk's PCM samples.
    Raises ValueError on malformed containers (the dead-letter contract)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, channels, rate, _byte_rate, _align, bits = fmt
    if audio_format != 1 or bits != 8:
        raise ValueError(f"unsupported WAVE encoding (format={audio_format}, bits={bits})")
    return {
        "modality": "audio",
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "samples": list(data),  # 8-bit PCM: unsigned bytes
    }


def encode_bmp(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """24-bpp bottom-up BMP (BITMAPINFOHEADER) from a row-major RGB grid.
    Pure stdlib; the inverse of ``decode_bmp``."""
    height, width = len(pixels), len(pixels[0])
    pad = (-(width * 3)) % 4
    rows = b"".join(
        b"".join(bytes((b, g, r)) for (r, g, b) in row) + b"\x00" * pad
        for row in reversed(pixels)
    )
    header = struct.pack(
        "<2sIHHI" + "IiiHHIIiiII",
        b"BM",
        54 + len(rows),
        0,
        0,
        54,
        40,
        width,
        height,
        1,
        24,
        0,
        len(rows),
        2835,
        2835,
        0,
        0,
    )
    return header + rows


def decode_bmp(payload: bytes) -> dict:
    """Parse a 24-bpp uncompressed BMP: header offsets, row padding,
    bottom-up row order. Returns pixels row-major as (r, g, b) tuples."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack("<I", payload[10:14])[0]
    width, height = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    if height <= 0 or width <= 0:
        # negative height means top-down row order, which neither codec
        # implements; rejecting here (rather than returning an empty
        # grid) keeps decode_bmp and _decode_bmp_gray_np pinned
        # equivalent for ALL inputs (ADVICE r7)
        raise ValueError(f"unsupported BMP dims (width={width}, height={height})")
    stride = (width * 3 + 3) & ~3
    rows = []
    for y in range(height):
        base = offset + (height - 1 - y) * stride  # bottom-up
        row = [
            (payload[base + x * 3 + 2], payload[base + x * 3 + 1], payload[base + x * 3])
            for x in range(width)
        ]
        rows.append(row)
    return {"modality": "image", "width": width, "height": height, "pixels": rows}


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + metadata struct.

    Real pipelines read payloads from parquet binary columns; the metadata
    shape (modality/n_bytes/content_md5) is the contract downstream
    operators rely on.
    """
    payload = F.col(text_col).cast("binary")
    meta = F.struct(
        F.lit("text").alias("modality"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )
    return docs.select("doc_id", payload.alias("payload"), meta.alias("meta"))


def decode_media(payload: bytes, modality: str | None = None) -> dict:
    """Decode a media payload by sniffing its container magic.

    Supported containers (pure-Python codecs above): RIFF/WAVE 8-bit PCM
    audio and 24-bpp BMP images. ``modality`` is an optional cross-check
    against the sniffed container. Raises ValueError for unknown or
    malformed payloads — callers route those to dead-letter output.
    """
    if payload[:4] == b"RIFF":
        out = decode_wav(payload)
    elif payload[:2] == b"BM":
        out = decode_bmp(payload)
    else:
        raise ValueError("unknown media container (expected RIFF/WAVE or BMP)")
    if modality is not None and modality != out["modality"]:
        raise ValueError(f"modality mismatch: declared {modality}, decoded {out['modality']}")
    return out


def synthesize_wav(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a (doc_id, payload, meta) media table of real WAV containers
    whose 8-bit PCM samples are the document's utf-8 bytes — a
    deterministic ingestion stand-in that exercises the full encode →
    decode → feature path with verifiable content. Pure map, zero shuffle.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode_wav(t.encode("utf-8")) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": payloads,
                    "modality": "audio",
                    "n_bytes": [len(p) for p in payloads],
                    "content_md5": [hashlib.md5(p).hexdigest() for p in payloads],
                }
            )

    flat = docs.select("doc_id", text_col).mapInPandas(
        run,
        schema="doc_id long, payload binary, modality string, n_bytes long, content_md5 string",
    )
    return flat.select(
        "doc_id",
        "payload",
        F.struct("modality", "n_bytes", "content_md5").alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction over the binary column.

    Each payload is decoded by the real container codecs (``decode_media``)
    and summarized into one feature row: audio → (n_samples, sample_rate,
    channels, sum/peak amplitude); image → (n_pixels, 0, 3 channels,
    sum/peak channel value). ``mapInPandas`` keeps whole Arrow batches in
    the Python worker; zero shuffle, scales with input splits.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "modality", "n_units", "sample_rate", "channels", "sum_val", "peak_val")}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_media(bytes(p))
                if d["modality"] == "audio":
                    vals = d["samples"]
                    rate, channels = d["sample_rate"], d["channels"]
                    n_units = len(vals)
                else:
                    vals = [c for row in d["pixels"] for px in row for c in px]
                    rate, channels = 0, 3
                    n_units = len(vals) // 3
                rows["doc_id"].append(doc_id)
                rows["modality"].append(d["modality"])
                rows["n_units"].append(n_units)
                rows["sample_rate"].append(rate)
                rows["channels"].append(channels)
                rows["sum_val"].append(sum(vals))
                rows["peak_val"].append(max(vals) if vals else None)
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_media(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Resize plumbing: one output payload per input, fixed target shape.

    The deterministic fake "resamples" the payload to width*height bytes by
    striding (real path: decode_media -> PIL resize -> re-encode). Output
    carries the target dims + resized payload — the schema a thumbnailing
    stage hands to training-data writers.
    """
    target = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                b = bytes(p)
                if len(b) >= target:
                    step = len(b) // target
                    out.append(bytes(b[i * step] for i in range(target)))
                else:  # pad by cycling
                    out.append((b * (target // max(len(b), 1) + 1))[:target] if b else b"\x00" * target)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "width": width,
                    "height": height,
                    "thumb": out,
                }
            )

    return media.mapInPandas(run, schema="doc_id long, width int, height int, thumb binary")


def sample_frames(media: DataFrame, frame_bytes: int = 64, every: int = 3) -> DataFrame:
    """Frame-sampling plumbing: explode each payload into fixed-size frames,
    keep every ``every``-th (video-keyframe shape: one input row fans out to
    N output rows inside the Python worker, still zero shuffle).

    Emits (doc_id, frame_idx, frame_md5) — md5 instead of raw bytes so the
    result is oracle-checkable.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every):
                    ids.append(doc_id)
                    idxs.append(i)
                    sums.append(hashlib.md5(b[i * frame_bytes : (i + 1) * frame_bytes]).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_md5": sums})

    return media.mapInPandas(run, schema="doc_id long, frame_idx long, frame_md5 string")


# --- perceptual near-dup (round 7): the multimodal leg of the dedup stack --


def _meta(payloads: list[bytes], modality: str) -> dict:
    import hashlib

    return {
        "modality": modality,
        "n_bytes": [len(p) for p in payloads],
        "content_md5": [hashlib.md5(p).hexdigest() for p in payloads],
    }


def synthesize_gray_bmp(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a (doc_id, payload, meta) table of REAL 24-bpp BMP containers:
    a 9x8 grayscale grid whose pixel (y, x) is the codepoint (mod 256) of
    the document character at FIXED stride ``IMG_STRIDE`` — deterministic
    ingestion stand-in, so near-dup documents yield near-dup images and
    the oracle can re-derive every pixel from the text. Documents shorter
    than the sampled region are skipped (no signal to hash). Pure map,
    zero shuffle."""
    cols, rows, stride = C.IMG_DHASH_COLS, C.IMG_DHASH_ROWS, C.IMG_STRIDE

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                grid = [
                    [
                        (
                            ord(t[(y * cols + x) * stride]) % 256,
                        )
                        * 3
                        for x in range(cols)
                    ]
                    for y in range(rows)
                ]
                ids.append(doc_id)
                payloads.append(encode_bmp(grid))
            out = {"doc_id": ids, "payload": payloads}
            out.update(_meta(payloads, "image"))
            yield pd.DataFrame(out)

    flat = (
        docs.filter(F.length(text_col) >= C.IMG_MIN_CHARS)
        .select("doc_id", text_col)
        .mapInPandas(
            run,
            schema="doc_id long, payload binary, modality string, "
            "n_bytes long, content_md5 string",
        )
    )
    return flat.select(
        "doc_id", "payload", F.struct("modality", "n_bytes", "content_md5").alias("meta")
    )


def synthesize_tone_wav(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a (doc_id, payload, meta) table of REAL RIFF/WAVE containers
    whose 8-bit PCM samples are the first ``AUD_FP_SAMPLES`` character
    codepoints (mod 256) of the document — the audio twin of
    ``synthesize_gray_bmp`` (fixed-prefix sampling keeps near-dup
    locality; the oracle re-derives every sample from the text). Pure
    map, zero shuffle."""
    n = C.AUD_FP_SAMPLES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf[text_col]):
                ids.append(doc_id)
                payloads.append(encode_wav(bytes(ord(c) % 256 for c in t[:n])))
            out = {"doc_id": ids, "payload": payloads}
            out.update(_meta(payloads, "audio"))
            yield pd.DataFrame(out)

    flat = (
        docs.filter(F.length(text_col) >= n)
        .select("doc_id", text_col)
        .mapInPandas(
            run,
            schema="doc_id long, payload binary, modality string, "
            "n_bytes long, content_md5 string",
        )
    )
    return flat.select(
        "doc_id", "payload", F.struct("modality", "n_bytes", "content_md5").alias("meta")
    )


def _gradient_bands(values: list[int], row_len: int) -> list[int]:
    """Row-wise gradient bits (v[i] < v[i+1], dHash rule) over a row-major
    grid, packed little-endian into HAM_BAND_BITS-wide integer bands.
    Integer-exact everywhere — both engines replay it bit-identically."""
    bits = []
    n_rows = len(values) // row_len
    for y in range(n_rows):
        row = values[y * row_len : (y + 1) * row_len]
        bits.extend(1 if row[x] < row[x + 1] else 0 for x in range(row_len - 1))
    width = C.HAM_BAND_BITS
    n_bands = (len(bits) + width - 1) // width
    bands = [0] * n_bands
    for k, b in enumerate(bits):
        bands[k // width] |= b << (k % width)
    return bands


def _decode_bmp_gray_np(payload: bytes):
    """Vectorized gray-channel decode of the same 24-bpp BMP container
    ``decode_bmp`` parses (header offsets, row padding, bottom-up order,
    red channel) via one ``np.frombuffer`` strided view instead of
    per-pixel Python tuples — the hot path for corpus-scale hashing
    (the 30x ladder read the per-pixel loop as the dominant cost).
    Equivalence with the reference codec is pinned by a test. Returns
    (gray row-major int array, width)."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack("<I", payload[10:14])[0]
    width, height = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    if height <= 0 or width <= 0:
        # same contract as decode_bmp: top-down (negative-height) BMPs
        # are rejected loudly in BOTH codecs (ADVICE r7)
        raise ValueError(f"unsupported BMP dims (width={width}, height={height})")
    stride = (width * 3 + 3) & ~3
    buf = np.frombuffer(payload, dtype=np.uint8, count=height * stride, offset=offset)
    rows = buf.reshape(height, stride)[::-1, : width * 3]  # bottom-up -> top-down
    return rows[:, 2::3].reshape(-1).astype(np.int64), width  # red channel


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual dHash over REAL BMP payloads: decode the container
    (the vectorized twin of ``decode_bmp``), gray = red channel (the
    synthetic grids are achromatic), then row-wise gradient bits packed
    into 16-bit bands. Emits (doc_id, band, val) — 4 rows per image, the
    long-format hash table ``hamming_neardup`` joins on. Arrow-batched
    map, zero shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, vals = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                gray, width = _decode_bmp_gray_np(bytes(p))
                for b, v in enumerate(_gradient_bands(list(gray), width)):
                    ids.append(doc_id)
                    bands.append(b)
                    vals.append(v)
            yield pd.DataFrame({"doc_id": ids, "band": bands, "val": vals})

    return media.select("doc_id", "payload").mapInPandas(
        run, schema="doc_id long, band int, val long"
    )


def audio_envelope_hash(media: DataFrame) -> DataFrame:
    """Energy-envelope fingerprint over REAL WAV payloads: decode the
    container (``decode_wav``), sum 8-bit PCM amplitude per
    ``AUD_FP_WINDOW``-sample window (exact ints), then window-to-window
    gradient bits packed into 16-bit bands — the spectral-free shape of
    an acoustic fingerprint (Haitsma-Kalker energy-band signs). Emits
    (doc_id, band, val), 2 rows per clip. Arrow-batched map, zero
    shuffle."""
    w = C.AUD_FP_WINDOW

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, vals = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                s = decode_wav(bytes(p))["samples"]
                env = [sum(s[i : i + w]) for i in range(0, len(s), w)]
                for b, v in enumerate(_gradient_bands(env, len(env))):
                    ids.append(doc_id)
                    bands.append(b)
                    vals.append(v)
            yield pd.DataFrame({"doc_id": ids, "band": bands, "val": vals})

    return media.select("doc_id", "payload").mapInPandas(
        run, schema="doc_id long, band int, val long"
    )


def hamming_neardup(
    hashes: DataFrame, max_hamming: int, bucket_bands: int = 1
) -> DataFrame:
    """Banded Hamming near-dup join over a long-format (doc_id, band, val)
    hash table: candidate pairs share >=1 exact band bucket — an
    EQUI-join on the bucket, never all-pairs (the SimHash-banding
    shape, dedup.py); exact Hamming distance is then verified from the
    xor popcount of the two band vectors and filtered to ``max_hamming``.

    Scale: the hash table is a few dozen bytes per document (vs the
    payload's KBs-MBs), so even the 100 TB corpus's hash side is
    TB-scale at most; the three joins are all keyed equi-joins that
    partial-aggregate map-side. Candidate volume is governed by the
    bucket width exactly as in LSH analysis — ``bucket_bands`` groups
    that many ADJACENT bands into one candidate bucket (effective width
    bucket_bands × HAM_BAND_BITS bits), the knob to turn as the corpus
    grows (the 30× ladder read the 16-bit buckets as the growth term at
    ~77k docs). Recall contract: a pair within radius r is GUARANTEED a
    shared bucket while r < n_bands/bucket_bands (pigeonhole); beyond
    that the join is probabilistic-recall LSH, and widening buckets
    trades recall for candidate volume. The exact verify is unchanged —
    every emitted pair's Hamming distance is true regardless.

    The hash table feeds FOUR plan branches (both candidate sides, both
    verify sides), so it is materialized once — otherwise the upstream
    synthesize/decode/hash chain re-executes per branch (measured ~4x the
    op's whole cost at the 30x ladder). At cluster scale this is the
    persisted fingerprint table every production dedup pipeline keeps
    (~40 bytes/doc — orders of magnitude below the payload corpus).
    """
    hashes = hashes.localCheckpoint(eager=True)
    a = hashes.select(
        F.col("doc_id").alias("__ia"), "band", F.col("val").alias("__va")
    )
    b = hashes.select(
        F.col("doc_id").alias("__ib"), "band", F.col("val").alias("__vb")
    )
    if bucket_bands > 1:
        # one row per (doc, band group): the bucket key is the group's
        # band values in band order — a deterministic string both sides
        # build identically (equi-joinable, map-side aggregated)
        def grouped(df, id_col, val_col):
            return (
                df.groupBy(id_col, (F.col("band") / bucket_bands).cast("int").alias("__grp"))
                .agg(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.sort_array(
                                F.collect_list(F.struct("band", F.col(val_col).alias("v")))
                            ),
                            lambda s: s["v"].cast("string"),
                        ),
                    ).alias("__key")
                )
            )

        cand = (
            grouped(a, "__ia", "__va")
            .join(grouped(b, "__ib", "__vb"), ["__grp", "__key"])
            .filter(F.col("__ia") < F.col("__ib"))
            .select("__ia", "__ib")
            .distinct()
        )
    else:
        cand = (
            a.join(b, "band")
            .filter(
                (F.col("__ia") < F.col("__ib")) & (F.col("__va") == F.col("__vb"))
            )
            .select("__ia", "__ib")
            .distinct()
        )
    return _hamming_verify(cand, hashes, hashes, max_hamming).select(
        F.col("__ia").alias("doc_id_a"), F.col("__ib").alias("doc_id_b"), "hamming"
    )


def _hamming_verify(
    cand: DataFrame, left: DataFrame, right: DataFrame, max_hamming: int
) -> DataFrame:
    """(__ia, __ib, hamming) for each candidate pair (__ia from ``left``,
    __ib from ``right``) within ``max_hamming``: the exact distance is the
    summed xor popcount of the two band vectors, joined per band on the
    candidate keys — every emitted distance is true, whatever rule made
    the candidates."""
    x = left.select(F.col("doc_id").alias("__ia"), "band", F.col("val").alias("__xa"))
    y = right.select(F.col("doc_id").alias("__ib"), "band", F.col("val").alias("__xb"))
    return (
        cand.join(x, "__ia")
        .join(y, ["__ib", "band"])
        .groupBy("__ia", "__ib")
        .agg(
            F.sum(F.bit_count(F.col("__xa").bitwiseXOR(F.col("__xb"))))
            .cast("long")
            .alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_neardup_incremental(
    new_hashes: DataFrame, corpus_hashes: DataFrame, max_hamming: int
) -> DataFrame:
    """Incremental perceptual near-dup: check an INCOMING batch's
    fingerprints against the EXISTING corpus fingerprint store without
    re-pairing the corpus with itself — the production ingest shape
    (text's ``dedup.neardup_incremental`` for the Hamming modality).
    Candidates are new x corpus on the exact band bucket, so candidate
    volume scales with the batch, never the corpus squared; the corpus
    side is exactly the persisted ~40 B/doc hash table. Output
    (doc_new, doc_old, hamming), exact distances. Both sides are
    materialized once (each feeds its candidate AND verify branch)."""
    new_hashes = new_hashes.localCheckpoint(eager=True)
    corpus_hashes = corpus_hashes.localCheckpoint(eager=True)
    a = new_hashes.select(
        F.col("doc_id").alias("__ia"), "band", F.col("val").alias("__va")
    )
    b = corpus_hashes.select(
        F.col("doc_id").alias("__ib"), "band", F.col("val").alias("__vb")
    )
    cand = (
        a.join(b, "band")
        .filter((F.col("__va") == F.col("__vb")) & (F.col("__ia") != F.col("__ib")))
        .select("__ia", "__ib")
        .distinct()
    )
    return _hamming_verify(cand, new_hashes, corpus_hashes, max_hamming).select(
        F.col("__ia").alias("doc_new"), F.col("__ib").alias("doc_old"), "hamming"
    )


def shared_frame_neardup(
    frames: DataFrame,
    min_shared: int = C.VID_SHARED_FRAMES,
    df_cap: int = C.VID_FRAME_DF_CAP,
) -> DataFrame:
    """Video-shape near-dup over a sampled-keyframe table (doc_id,
    frame_idx, frame_md5): documents sharing >= ``min_shared`` DISTINCT
    frame hashes are near-dup candidates (clips containing the same
    scenes). Output (doc_id_a, doc_id_b, n_shared).

    Scale shape: the distinct (doc, hash) table runs through
    ``dedup.winnow_candidates_from``, the shared-key pair count: hashes
    appearing in more than ``df_cap`` documents are dropped (a
    boilerplate frame shared by k docs would emit k²/2 pairs; this
    changes semantics only for frames too common to indicate pairwise
    duplication), then one hash-keyed equi-join and a pair-keyed count
    — never all-pairs, every stage map-side-partial.
    """
    fr = frames.select("doc_id", F.col("frame_md5").alias("fp")).distinct()
    return winnow_candidates_from(fr, min_shared, df_cap).select(
        F.col("doc_a").alias("doc_id_a"), F.col("doc_b").alias("doc_id_b"), "n_shared"
    )
