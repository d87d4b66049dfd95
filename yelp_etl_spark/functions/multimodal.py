"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for 100 TB multimodal datasets: media lives as a ``binary``
column (or object-store URI) beside typed metadata columns. Everything
cheap (sizing, hashing, format sniffing) is Catalyst built-ins on the
binary column; everything heavy (decode, resize, frame sampling) runs
in Arrow-batched ``mapInPandas`` so the Python worker cost is amortized
per batch and the operator pipelines with the surrounding plan — no
shuffle, scales linearly with executors.

The actual codec step is STUBBED (no image/audio libraries in this
environment): ``decode_fn=None`` uses a deterministic fake decoder so
the Spark-side plumbing — schema, batch iteration, partitioning — is
real and tested; pass a real decode_fn (PIL/librosa/av) in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Magic-byte prefixes → format tag (hex, uppercase).
_MAGIC = {
    "89504E47": "png",
    "FFD8FF": "jpeg",
    "47494638": "gif",
    "52494646": "riff",  # wav/avi container
    "66747970": "mp4",  # 'ftyp' at offset 4 in practice; simplified
}


def attach_blob_metadata(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """Cheap JVM-side metadata: byte size, stable content hash, magic-
    byte format sniff. No Python involved — runs in codegen."""
    blob = F.col(blob_col)
    head = F.upper(F.hex(F.expr(f"substring({blob_col}, 1, 4)")))
    fmt = F.lit(None).cast("string")
    for magic, name in reversed(_MAGIC.items()):
        fmt = F.when(head.startswith(magic), F.lit(name)).otherwise(fmt)
    return df.withColumns(
        {
            "blob_bytes": F.length(blob).cast("long"),
            "blob_hash": F.xxhash64(blob),
            "blob_format": fmt,
        }
    )


DECODED_SCHEMA = (
    "width int, height int, n_channels int, decode_ok boolean, decode_error string"
)


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image decoder: derives plausible
    dimensions from a content digest. Replace with a real codec in
    production (the NotImplementedError path documents the boundary)."""
    digest = hashlib.sha256(payload).digest()
    return {
        "width": 64 + digest[0] % 192,
        "height": 64 + digest[1] % 192,
        "n_channels": 1 + digest[2] % 4,
        "decode_ok": True,
        "decode_error": None,
    }


def decode_blobs(
    df: DataFrame,
    blob_col: str = "content",
    decode_fn: Callable[[bytes], dict] | None = None,
    batch_schema: str | None = None,
) -> DataFrame:
    """Decode binary payloads via Arrow-batched mapInPandas, attaching
    the decoded metadata columns to every input column.

    decode_fn: bytes → dict matching ``batch_schema`` fields. None →
    deterministic fake (see module docstring). Exceptions per item are
    captured into decode_ok/decode_error instead of failing the task —
    at billions of blobs, poison inputs are a certainty.
    """
    import pandas as pd

    decode = decode_fn or _fake_decode
    meta_schema = batch_schema or DECODED_SCHEMA
    out_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in df.dtypes
    ) + ", " + meta_schema
    meta_cols = [s.strip().split(" ")[0] for s in meta_schema.split(",")]

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for payload in pdf[blob_col]:
                try:
                    metas.append(decode(bytes(payload)))
                except NotImplementedError:
                    raise
                except Exception as e:  # poison blob → row-level error
                    metas.append(
                        {
                            "width": None,
                            "height": None,
                            "n_channels": None,
                            "decode_ok": False,
                            "decode_error": str(e)[:200],
                        }
                    )
            meta_df = pd.DataFrame(metas, columns=meta_cols)
            yield pd.concat(
                [pdf.reset_index(drop=True), meta_df.reset_index(drop=True)], axis=1
            )

    return df.mapInPandas(process, schema=out_schema)


BYTE_FEATURE_SCHEMA = (
    "byte_entropy double, entropy_micro long, printable_ratio double, "
    "null_ratio double, mean_byte double, distinct_bytes int"
)


def extract_byte_features(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """Codec-free feature extraction over binary payloads: Shannon
    entropy of the byte distribution, printable-ASCII ratio, NUL-byte
    ratio, mean byte value, distinct byte count. These are the
    standard corpus-triage signals — compressed/encrypted blobs sit
    near 8 bits of entropy, text near 4-5, sparse/padded media lower —
    and unlike decode_blobs they need no external library, so this
    path is fully real, not stubbed.

    numpy over Arrow batches (np.bincount per blob), map-only, zero
    shuffle — the same 100 TB shape as every other mapInPandas stage.
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        ", ".join(f"{name} {dtype}" for name, dtype in df.dtypes)
        + ", "
        + BYTE_FEATURE_SCHEMA
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[blob_col]:
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(b) == 0:
                    feats.append((0.0, 0, 0.0, 0.0, 0.0, 0))
                    continue
                counts = np.bincount(b, minlength=256)
                nz = counts[counts > 0].astype(np.int64)
                p = nz / len(b)
                entropy = float(-(p * np.log2(p)).sum())
                # exact-integer twin (the _qlog micro-quantization
                # discipline): H = log2(n) - (Σ c·log2(c))/n with every
                # log2 quantized to micro-bits BEFORE the sum, so the
                # result is pure int64 arithmetic any engine replays
                # bit-exactly (numpy float sums are order-dependent;
                # this is not). floor(x+0.5), not np.round — numpy
                # rounds half-to-even, SQL engines half-up.
                qc = np.floor(np.log2(nz) * 1e6 + 0.5).astype(np.int64)
                qn = int(np.floor(np.log2(len(b)) * 1e6 + 0.5))
                ent_micro = qn - int((nz * qc).sum()) // len(b)
                printable = float(counts[32:127].sum() / len(b))
                nul = float(counts[0] / len(b))
                feats.append(
                    (
                        entropy,
                        ent_micro,
                        printable,
                        nul,
                        float(b.mean()),
                        int((counts > 0).sum()),
                    )
                )
            feat_df = pd.DataFrame(
                feats,
                columns=[
                    "byte_entropy",
                    "entropy_micro",
                    "printable_ratio",
                    "null_ratio",
                    "mean_byte",
                    "distinct_bytes",
                ],
            )
            yield pd.concat(
                [pdf.reset_index(drop=True), feat_df.reset_index(drop=True)], axis=1
            )

    return df.mapInPandas(process, schema=out_schema)


FRAME_SCHEMA = "frame_index int, frame_offset_bytes long, frame_hash long"


def sample_frames(
    df: DataFrame,
    blob_col: str = "content",
    n_frames: int = 4,
    frame_bytes: int = 1024,
) -> DataFrame:
    """Frame sampling for video-like payloads: emit ``n_frames`` evenly
    spaced fixed-size byte windows per blob as one row each (real
    pipelines replace the byte window with a decoded keyframe; offsets
    and plumbing are the real part). Pure Catalyst — explode over a
    computed offset array, substring on binary, no Python."""
    blob = F.col(blob_col)
    total = F.length(blob)
    stride = F.greatest((total / n_frames).cast("long"), F.lit(1))
    offsets = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: (i * stride + 1).cast("long"),
    )
    out = df.withColumn("__off", F.explode(offsets)).filter(F.col("__off") <= total)
    frame = F.expr(f"substring({blob_col}, __off, {frame_bytes})")
    return (
        out.withColumn("frame_offset_bytes", F.col("__off"))
        .withColumn("frame_hash", F.xxhash64(frame))
        .withColumn(
            "frame_index",
            ((F.col("__off") - 1) / stride).cast("int"),
        )
        .drop("__off")
    )


def synthesize_blobs(df: DataFrame, from_col: str = "text") -> DataFrame:
    """Test helper: manufacture a binary payload column from a string
    column (deterministic), tagged with a fake PNG header so the format
    sniffer has something to find."""
    return df.withColumn(
        "content",
        F.concat(
            F.unhex(F.lit("89504E470D0A1A0A")), F.encode(F.col(from_col), "utf-8")
        ),
    )


def _be_int(blob_col: str, start: int, nbytes: int):
    """Big-endian unsigned int from 1-indexed byte offset (JVM-side:
    substring → hex → conv; stays in codegen, no Python)."""
    return F.conv(
        F.hex(F.expr(f"substring({blob_col}, {start}, {nbytes})")), 16, 10
    ).cast("long")


def _le_int(blob_col: str, start: int, nbytes: int):
    """Little-endian unsigned int, built from per-byte BE reads."""
    total = F.lit(0).cast("long")
    for i in range(nbytes - 1, -1, -1):
        total = total * 256 + _be_int(blob_col, start + i, 1)
    return total


def parse_media_headers(df: DataFrame, blob_col: str = "content") -> DataFrame:
    """Real (codec-free) media metadata from container headers — pure
    byte arithmetic, so unlike pixel decoding it needs no image/audio
    library and runs fully JVM-side inside codegen:

    - PNG:  IHDR width/height (big-endian 32-bit at fixed offsets)
    - GIF:  logical-screen width/height (little-endian 16-bit)
    - WAV:  canonical fmt chunk → channels + sample rate
    - JPEG: dimensions need a variable-length marker scan → see
      jpeg_dimensions (Arrow-batched); null here.

    Adds media_width / media_height / audio_channels /
    audio_sample_rate (null where the format doesn't carry them).
    Composes with attach_blob_metadata's format sniff. At 100 TB this
    is the cheap first pass that routes blobs to per-format decode
    stages without reading beyond the header bytes."""
    out = df if "blob_format" in df.columns else attach_blob_metadata(df, blob_col)
    fmt = F.col("blob_format")
    is_gif = fmt == "gif"
    is_png = fmt == "png"
    is_wav = (fmt == "riff") & (
        F.expr(f"substring({blob_col}, 9, 4)") == F.lit(b"WAVE")
    )
    width = F.when(is_png, _be_int(blob_col, 17, 4)).when(
        is_gif, _le_int(blob_col, 7, 2)
    )
    height = F.when(is_png, _be_int(blob_col, 21, 4)).when(
        is_gif, _le_int(blob_col, 9, 2)
    )
    channels = F.when(is_wav, _le_int(blob_col, 23, 2))
    rate = F.when(is_wav, _le_int(blob_col, 25, 4))
    return out.withColumns(
        {
            "media_width": width.cast("int"),
            "media_height": height.cast("int"),
            "audio_channels": channels.cast("int"),
            "audio_sample_rate": rate.cast("int"),
        }
    )


JPEG_DIM_SCHEMA = "jpeg_width int, jpeg_height int"


def jpeg_dimensions(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """JPEG dimensions via an SOF-marker scan (variable-length segments
    make this inexpressible as fixed-offset column arithmetic): walk
    the segment chain, find the first start-of-frame marker
    (FFC0–FFCF minus C4/C8/CC), read height/width (big-endian) at
    +5/+7. Arrow-batched mapInPandas over (id, blob) only — run it on
    the jpeg-sniffed subset after parse_media_headers routes formats.
    Bytes examined per blob ≈ header segments, not the payload."""
    import pandas as pd

    src = df.select(id_col, blob_col)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def dims(payload):
            b = bytes(payload) if payload is not None else b""
            if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
                return None, None
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h = int.from_bytes(b[i + 5 : i + 7], "big")
                    w = int.from_bytes(b[i + 7 : i + 9], "big")
                    return w, h
                i += 2 + seg_len
            return None, None

        for pdf in batches:
            parsed = [dims(p) for p in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "jpeg_width": [w for w, _ in parsed],
                    "jpeg_height": [h for _, h in parsed],
                }
            )

    schema = f"{id_col} long, {JPEG_DIM_SCHEMA}"
    return src.mapInPandas(scan, schema)


MP4_META_SCHEMA = "mp4_duration_s double, mp4_width int, mp4_height int"


def mp4_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Video container metadata from an ISO-BMFF (MP4/MOV) box walk —
    duration (mvhd timescale/duration, v0 and v1 layouts) and the first
    track's presentation width/height (tkhd 16.16 fixed point). Like
    jpeg_dimensions this is codec-free: only box headers are examined,
    never sample data, so bytes touched ≈ moov size regardless of
    payload size — the routing pass that decides which blobs reach a
    (cluster-side, library-backed) frame-decode stage. Variable-length
    nested boxes make this inexpressible as fixed-offset column
    arithmetic → Arrow-batched mapInPandas over (id, blob).

    Returns (id, mp4_duration_s, mp4_width, mp4_height); nulls for
    blobs that aren't ISO-BMFF or lack the boxes.
    """
    import pandas as pd

    src = df.select(id_col, blob_col)

    def boxes(b, start, end):
        i = start
        while i + 8 <= end:
            size = int.from_bytes(b[i : i + 4], "big")
            btype = b[i + 4 : i + 8]
            if size == 1:  # 64-bit largesize
                if i + 16 > end:
                    return
                size = int.from_bytes(b[i + 8 : i + 16], "big")
                body = i + 16
            else:
                body = i + 8
            if size < 8 or i + size > end:
                return
            yield btype, body, i + size
            i += size

    def parse(payload):
        b = bytes(payload) if payload is not None else b""
        if len(b) < 12 or b[4:8] != b"ftyp":
            return None, None, None
        dur = width = height = None
        for btype, body, bend in boxes(b, 0, len(b)):
            if btype != b"moov":
                continue
            for ctype, cbody, cend in boxes(b, body, bend):
                if ctype == b"mvhd" and dur is None:
                    v = b[cbody]
                    if v == 1:
                        ts = int.from_bytes(b[cbody + 20 : cbody + 24], "big")
                        d = int.from_bytes(b[cbody + 24 : cbody + 32], "big")
                    else:
                        ts = int.from_bytes(b[cbody + 12 : cbody + 16], "big")
                        d = int.from_bytes(b[cbody + 16 : cbody + 20], "big")
                    if ts:
                        dur = d / ts
                elif ctype == b"trak" and width is None:
                    for ttype, tbody, _tend in boxes(b, cbody, cend):
                        if ttype != b"tkhd":
                            continue
                        off = 88 if b[tbody] == 1 else 76
                        w = int.from_bytes(b[tbody + off : tbody + off + 4], "big")
                        h = int.from_bytes(
                            b[tbody + off + 4 : tbody + off + 8], "big"
                        )
                        if w and h:  # audio tracks carry 0x0
                            width, height = w >> 16, h >> 16
        return dur, width, height

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse(p) for p in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "mp4_duration_s": [d for d, _, _ in parsed],
                    "mp4_width": [w for _, w, _ in parsed],
                    "mp4_height": [h for _, _, h in parsed],
                }
            )

    schema = f"{id_col} long, {MP4_META_SCHEMA}"
    return src.mapInPandas(scan, schema)


def pcm_int16_stats(
    df: DataFrame,
    blob_col: str = "content",
    id_col: str = "doc_id",
    n_samples: int = 64,
) -> DataFrame:
    """Codec-free audio-style signal statistics: interpret the blob's
    leading bytes as little-endian SIGNED int16 PCM samples and compute
    peak amplitude, RMS, and zero-crossing count per payload — real
    waveform math (the WAV data chunk is exactly this layout) done
    entirely in Catalyst byte arithmetic: explode over sample offsets,
    two 1-byte reads per sample, sign via two's-complement fold. No
    Python, no audio library — the decode boundary documented in
    decode_blobs applies only to COMPRESSED codecs.

    Parity: sample values and Σs² are exact BIGINT; RMS is one
    sqrt+mul+round; zero crossings use strict sign products (a zero
    sample never crosses). The per-payload window is bounded by
    ``n_samples``.

    Returns (id, n_samples, peak, rms_micro, zero_crossings)."""
    from pyspark.sql import Window

    blob = F.col(blob_col)
    total = F.length(blob)
    out = df.select(id_col, blob_col).withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.lit(n_samples - 1)))
    ).filter(2 * F.col("__i") + 2 <= total)
    lo = F.conv(
        F.hex(F.expr(f"substring({blob_col}, __i * 2 + 1, 1)")), 16, 10
    ).cast("long")
    hi = F.conv(
        F.hex(F.expr(f"substring({blob_col}, __i * 2 + 2, 1)")), 16, 10
    ).cast("long")
    u = lo + 256 * hi
    s = u - F.when(u >= 32768, F.lit(65536)).otherwise(F.lit(0))
    samples = out.select(
        F.col(id_col).alias("id"), F.col("__i").alias("i"), s.alias("s")
    )
    sign = F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    w = Window.partitionBy("id").orderBy("i")
    stepped = samples.withColumn("sgn", sign).withColumn(
        "xing",
        (
            F.col("sgn") * F.lag("sgn").over(w) == -1
        ).cast("long"),
    )
    return (
        stepped.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_samples"),
            F.max(F.abs(F.col("s"))).cast("long").alias("peak"),
            F.round(
                F.sqrt(
                    F.sum(F.col("s") * F.col("s"))
                    / F.count("*")
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("rms_micro"),
            F.coalesce(F.sum("xing"), F.lit(0))
            .cast("long")
            .alias("zero_crossings"),
        )
        .orderBy("id")
    )


def _le_hex(col, nbytes: int):
    """Little-endian hex rendering of an integer column (2·nbytes hex
    chars): byte-swapped big-endian padding. Shared by the WAV
    synthesizer so the DuckDB oracle can rebuild the identical
    container from the same arithmetic."""
    h = F.lpad(F.hex(col), 2 * nbytes, "0")
    return F.concat(
        *[F.substring(h, 2 * i + 1, 2) for i in range(nbytes - 1, -1, -1)]
    )


def wav_synthesize(
    df: DataFrame, from_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic WAV/RIFF container around a text-derived PCM
    payload — the audio-ingest fixture (the real corpus would carry
    .wav bytes in a binary column; the fixture has none, so the
    container is manufactured from document text exactly like the
    JPEG/PNG/PCM fixtures). Layout: RIFF header, canonical 16-byte
    'fmt ' chunk (PCM, 16-bit, per-doc channel count and sample rate),
    a VARIABLE-LENGTH 'LIST INFO' chunk (per-doc padding — so the
    'data' chunk offset differs per file and a parser must actually
    walk the chunk list), then 'data' with up to 64 payload bytes
    (even-trimmed to the 16-bit block align)."""
    did = F.col(id_col)
    l = F.length(F.col(from_col))
    datasz = F.least(F.lit(64), l - l % 2).cast("long")
    pad = ((did % 12) * 2).cast("long")
    listsz = (pad + 4).cast("long")
    channels = (did % 2 + 1).cast("long")
    rate = (F.lit(8000) + (did % 5) * 1000).cast("long")
    block = (channels * 2).cast("long")
    byterate = (rate * block).cast("long")
    riffsz = (F.lit(4 + 24 + 8) + listsz + 8 + datasz).cast("long")
    hex_parts = F.concat(
        F.lit("52494646"),  # RIFF
        _le_hex(riffsz, 4),
        F.lit("57415645666D7420"),  # WAVE, 'fmt '
        _le_hex(F.lit(16).cast("long"), 4),
        _le_hex(F.lit(1).cast("long"), 2),  # PCM
        _le_hex(channels, 2),
        _le_hex(rate, 4),
        _le_hex(byterate, 4),
        _le_hex(block, 2),
        _le_hex(F.lit(16).cast("long"), 2),  # bits
        F.lit("4C495354"),  # LIST
        _le_hex(listsz, 4),
        F.lit("494E464F"),  # INFO
        F.repeat(F.lit("20"), pad.cast("int")),
        F.lit("64617461"),  # data
        _le_hex(datasz, 4),
        F.hex(F.expr(f"substring(encode({from_col}, 'utf-8'), 1, "
                      f"least(64, length({from_col}) - length({from_col}) % 2))")),
    )
    return df.select(
        F.col(id_col), F.unhex(hex_parts).alias("content")
    )


def wav_riff_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Audio container metadata from a WAV/RIFF chunk walk — the audio
    sibling of jpeg_dimensions (images) and mp4_metadata (video), and
    the routing pass before any (library-backed) sample decode: only
    chunk headers are read, never audio samples. RIFF's chunk list is
    FLAT with a statically bounded prefix (fmt, one optional metadata
    chunk, data), so unlike ISO-BMFF's arbitrary nesting
    (mp4_metadata's documented mapInPandas boundary) the walk unrolls
    into pure Catalyst arithmetic — whole-stage codegen, no Python,
    with an exact SQL twin for the oracle gate. The 'data' offset is
    computed from the preceding chunk's DECLARED size (+ RIFF's
    odd-size pad rule): the walk is real, not fixed offsets.

    The arithmetic runs on a hex rendering of the first 256 bytes only
    (``hex(substring(content, 1, 256))``) — bytes touched stay
    O(header) however large the audio payload, the property that makes
    this the cheap routing pass at 100 TB.

    Returns (id, channels, sample_rate, bits, data_bytes, n_samples,
    is_data_chunk, head_checksum, riff_ok); junk bytes yield
    riff_ok=false rows, never errors."""

    def le(pos: str, nbytes: int) -> str:
        terms = [
            f"CAST(conv(substring(hx, ({pos}) + {2 * i}, 2), 16, 10)"
            f" AS BIGINT) * {256 ** i}"
            for i in range(nbytes)
        ]
        return "(" + " + ".join(terms) + ")"

    sz2 = le("81", 4)  # chunk between fmt and data: declared size
    dpos = f"(2 * (45 + {sz2} + ({sz2}) % 2) - 1)"  # data hdr, hex pos
    datasz = le(f"{dpos} + 8", 4)
    checksum = " + ".join(
        f"(CASE WHEN {datasz} > {i} THEN CAST(conv(substring(hx,"
        f" {dpos} + 16 + {2 * i}, 2), 16, 10) AS BIGINT) ELSE 0 END)"
        for i in range(8)
    )
    hx = df.select(
        F.col(id_col),
        F.expr(f"hex(substring({blob_col}, 1, 256))").alias("hx"),
    )
    return hx.select(
        id_col,
        F.expr(le("45", 2)).alias("channels"),
        F.expr(le("49", 4)).alias("sample_rate"),
        F.expr(le("69", 2)).alias("bits"),
        F.expr(datasz).alias("data_bytes"),
        F.expr(f"{datasz} div {le('65', 2)}").alias("n_samples"),
        F.expr(f"substring(hx, {dpos}, 8) = '64617461'").alias(
            "is_data_chunk"
        ),
        F.expr(f"CAST({checksum} AS BIGINT)").alias("head_checksum"),
        F.expr(
            "substring(hx, 1, 8) = '52494646'"
            " AND substring(hx, 17, 8) = '57415645'"
        ).alias("riff_ok"),
    )


def tiff_synthesize(
    df: DataFrame, from_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic little-endian TIFF (the EXIF container format)
    around text-derived pixel bytes — the image-metadata fixture
    (fixtures carry no real TIFFs; same convention as the WAV/JPEG/PCM
    synthesizers). Layout: 'II*\\0' header, a 4-byte IFD offset that
    VARIES per doc (padding before the IFD, so a parser must chase the
    offset, not assume byte 9), one IFD with 4 entries — ImageWidth
    (256), ImageLength (257), BitsPerSample (258), StripByteCounts
    (279) — each the real 12-byte tag/type/count/value layout, then a
    zero next-IFD pointer."""
    did = F.col(id_col)
    l = F.length(F.col(from_col))
    width = (did % 64 + 16).cast("long")
    height = (did % 48 + 8).cast("long")
    bits = F.lit(16).cast("long")
    strip = F.least(F.lit(64), l).cast("long")
    pad = ((did % 8) * 2).cast("long")  # pre-IFD padding: offset varies
    ifd_off = (F.lit(8) + pad).cast("long")

    def entry(tag: int, value):
        # tag(2) type(2=SHORT? use 3=SHORT for w/h/bits, 4=LONG for strip)
        ttype = 4  # LONG everywhere: one layout, value in 4 bytes
        return F.concat(
            _le_hex(F.lit(tag).cast("long"), 2),
            _le_hex(F.lit(ttype).cast("long"), 2),
            _le_hex(F.lit(1).cast("long"), 4),
            _le_hex(value, 4),
        )

    hex_parts = F.concat(
        F.lit("49492A00"),  # 'II', 42 LE
        _le_hex(ifd_off, 4),
        F.repeat(F.lit("00"), pad.cast("int")),
        _le_hex(F.lit(4).cast("long"), 2),  # entry count
        entry(256, width),
        entry(257, height),
        entry(258, bits),
        entry(279, strip),
        _le_hex(F.lit(0).cast("long"), 4),  # next IFD: none
        F.hex(F.expr(f"substring(encode({from_col}, 'utf-8'), 1, "
                      f"least(64, length({from_col})))")),
    )
    return df.select(F.col(id_col), F.unhex(hex_parts).alias("content"))


def tiff_ifd_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id",
    max_entries: int = 8,
) -> DataFrame:
    """Image metadata from a little-endian TIFF IFD walk — the
    offset-chasing pattern WAV's linear chunk list doesn't exercise:
    the header's IFD pointer is read first, the entry count lives AT
    that offset, and each 12-byte entry is scanned for the wanted
    tags. Entry scan unrolls to ``max_entries`` slots in pure Catalyst
    hex arithmetic over the first 256 bytes (bytes touched O(header),
    the multimodal routing-pass rule); big-endian ('MM') or non-TIFF
    bytes yield tiff_ok=false rows, never errors.

    Returns (id, width, height, bits, strip_bytes, n_entries,
    tiff_ok)."""

    def le(pos: str, nbytes: int) -> str:
        terms = [
            f"CAST(conv(substring(hx, ({pos}) + {2 * i}, 2), 16, 10)"
            f" AS BIGINT) * {256 ** i}"
            for i in range(nbytes)
        ]
        return "(" + " + ".join(terms) + ")"

    # Positions and per-slot entry fields materialize as COLUMNS
    # behind select boundaries instead of textual substitution (the
    # r15 jpeg/gif container-walk fix, applied to the IFD walk in
    # r16): the old tag_value re-embedded the whole ifd_pos/n_entries
    # subtree into every (tag × slot) pair — 4 tags × 8 slots of
    # duplicated conv-chains that Catalyst re-analyzed per output
    # column (job profile: 1.85 s of a 2.49 s wall was inter-job
    # driver time). Each slot's tag/value now parses ONCE; the four
    # outputs are cheap CASE/COALESCE over the shared slot columns.
    # CollapseProject keeps multi-referenced non-cheap aliases
    # un-inlined, so the layering survives optimization. Values are
    # identical expressions over identical positions.
    hx = df.select(
        F.col(id_col),
        F.expr(f"hex(substring({blob_col}, 1, 256))").alias("hx"),
    )
    ifd_off = le("9", 4)  # byte 5 (1-indexed) -> hex pos 9
    ptr = hx.select(
        F.col(id_col),
        "hx",
        F.expr(f"(2 * {ifd_off} + 1)").alias("__ifd_pos"),
    )
    cnt = ptr.select(
        F.col(id_col),
        "hx",
        "__ifd_pos",
        F.expr(le("__ifd_pos", 2)).alias("__n_entries"),
    )
    slot_cols = []
    for i in range(max_entries):
        # entry i starts at ifd_pos + 4 (count) + 24*i hex chars
        epos = f"(__ifd_pos + 4 + {24 * i})"
        slot_cols.append(F.expr(le(epos, 2)).alias(f"__tag{i}"))
        slot_cols.append(F.expr(le(f"{epos} + 16", 4)).alias(f"__val{i}"))
    slots = cnt.select(
        F.col(id_col), "hx", "__n_entries", *slot_cols
    )

    def tag_value(tag: int):
        return F.coalesce(
            *[
                F.when(
                    (F.col("__n_entries") > i)
                    & (F.col(f"__tag{i}") == tag),
                    F.col(f"__val{i}"),
                )
                for i in range(max_entries)
            ],
            F.lit(None).cast("long"),
        )

    return slots.select(
        F.col(id_col),
        tag_value(256).alias("width"),
        tag_value(257).alias("height"),
        tag_value(258).alias("bits"),
        tag_value(279).alias("strip_bytes"),
        F.col("__n_entries").cast("long").alias("n_entries"),
        F.expr("substring(hx, 1, 8) = '49492A00'").alias("tiff_ok"),
    )


def _be_hex(col, nbytes: int):
    """Big-endian hex rendering of an integer column (2·nbytes hex
    chars) — PNG/JPEG network byte order, the trivial rendering (hex
    is already big-endian); the LE formats byte-swap via _le_hex."""
    return F.lpad(F.hex(col), 2 * nbytes, "0")


def png_synthesize(
    df: DataFrame, from_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic PNG container around text-derived IDAT bytes —
    the image-ingest fixture for the network-byte-order chunk family
    (fixtures carry no real PNGs; same convention as the WAV/TIFF/PCM
    synthesizers). Layout: the 8-byte signature, the spec-mandated
    IHDR first chunk (width/height/bit-depth/color-type varying per
    doc), a VARIABLE-LENGTH tEXt chunk (per-doc padding, so the IDAT
    offset differs per file and a parser must chase the BIG-ENDIAN
    declared lengths), IDAT with up to 64 payload bytes, then IEND.
    Chunk CRCs are deterministic fillers — the parser never verifies
    them (neither does any metadata-routing pass; full CRC checking
    belongs to the decode stage this pass routes TO)."""
    did = F.col(id_col)
    l = F.length(F.col(from_col))
    width = (did % 96 + 32).cast("long")
    height = (did % 64 + 16).cast("long")
    bit_depth = ((did % 5 % 2 + 1) * 8).cast("long")  # 8 or 16
    color_type = F.when(did % 3 == 0, F.lit(0)).otherwise(F.lit(2)).cast("long")
    pad = ((did % 10) * 2).cast("long")  # tEXt data length: varies
    datasz = F.least(F.lit(64), l).cast("long")
    hex_parts = F.concat(
        F.lit("89504E470D0A1A0A"),          # signature
        _be_hex(F.lit(13).cast("long"), 4),  # IHDR length
        F.lit("49484452"),                   # 'IHDR'
        _be_hex(width, 4),
        _be_hex(height, 4),
        _be_hex(bit_depth, 1),
        _be_hex(color_type, 1),
        F.lit("000000"),                     # compression/filter/interlace
        _be_hex((width * 31 + height).cast("long"), 4),  # filler CRC
        _be_hex(pad, 4),                     # tEXt length (varies)
        F.lit("74455874"),                   # 'tEXt'
        F.repeat(F.lit("20"), pad.cast("int")),
        F.lit("00000000"),                   # tEXt CRC filler
        _be_hex(datasz, 4),                  # IDAT length
        F.lit("49444154"),                   # 'IDAT'
        F.hex(F.expr(
            f"substring(encode({from_col}, 'utf-8'), 1, "
            f"least(64, length({from_col})))"
        )),
        F.lit("00000000"),                   # IDAT CRC filler
        _be_hex(F.lit(0).cast("long"), 4),   # IEND length
        F.lit("49454E44"),                   # 'IEND'
        F.lit("AE426082"),                   # IEND CRC (constant per spec)
    )
    return df.select(F.col(id_col), F.unhex(hex_parts).alias("content"))


def png_chunk_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id",
    max_chunks: int = 6,
) -> DataFrame:
    """Image metadata from a PNG chunk walk — the BIG-ENDIAN sibling
    of wav_riff_metadata's little-endian chunk list: IHDR fields sit
    at spec-fixed offsets (PNG mandates IHDR first, so width/height/
    bit-depth/color-type are genuinely fixed-offset — that's the
    format, not a shortcut), but the IDAT offset is found by WALKING
    the chunk chain from the first post-IHDR chunk, chasing each
    chunk's declared big-endian length (+12 bytes of length/type/CRC
    framing), unrolled to ``max_chunks`` Catalyst slots. Arithmetic
    runs on ``hex(substring(content, 1, 256))`` — bytes touched stay
    O(header) however large the image, the multimodal routing-pass
    rule. Non-PNG bytes yield png_ok=false rows, never errors.

    Returns (id, width, height, bit_depth, color_type, idat_bytes,
    idat_offset [1-indexed byte position of the chunk's length field],
    png_ok)."""

    def be(pos: str, nbytes: int) -> str:
        return (
            f"CAST(conv(substring(hx, ({pos}), {2 * nbytes}), 16, 10)"
            f" AS BIGINT)"
        )

    # signature = 16 hex chars; IHDR chunk = 8 (len) + 8 (type) + 26
    # (13 data bytes) + 8 (crc) = 50 → first walked chunk at hex 67.
    # Positions are materialized as per-chunk columns behind select
    # boundaries (not textually substituted — the substituted form
    # doubled the position subtree per chunk; see jpeg_sof_metadata's
    # r15 note). Same arithmetic, linear tree.
    cur = df.select(
        F.col(id_col),
        F.expr(f"hex(substring({blob_col}, 1, 256))").alias("hx"),
        F.expr("67").alias("__p0"),
    )
    idat_len_slots: list[str] = []
    idat_pos_slots: list[str] = []
    for k in range(max_chunks):
        p = f"__p{k}"
        # the declared chunk length feeds both the IDAT slot and the hop
        cur = cur.select("*", F.expr(be(p, 4)).alias(f"__len{k}"))
        is_idat = f"substring(hx, ({p}) + 8, 8) = '49444154'"
        cur = cur.select(
            "*",
            F.expr(f"(CASE WHEN {is_idat} THEN __len{k} END)").alias(
                f"__il{k}"
            ),
            F.expr(f"(CASE WHEN {is_idat} THEN (({p}) + 1) div 2 END)").alias(
                f"__ip{k}"
            ),
            # next chunk: 24 hex framing + 2·declared-length hex data
            F.expr(f"(({p}) + 24 + 2 * __len{k})").alias(f"__p{k + 1}"),
        )
        idat_len_slots.append(f"__il{k}")
        idat_pos_slots.append(f"__ip{k}")
    idat_bytes = "COALESCE(" + ", ".join(idat_len_slots) + ")"
    idat_offset = "COALESCE(" + ", ".join(idat_pos_slots) + ")"
    return cur.select(
        id_col,
        F.expr(be("33", 4)).alias("width"),
        F.expr(be("41", 4)).alias("height"),
        F.expr(be("49", 1)).alias("bit_depth"),
        F.expr(be("51", 1)).alias("color_type"),
        F.expr(idat_bytes).alias("idat_bytes"),
        F.expr(idat_offset).alias("idat_offset"),
        F.expr(
            "substring(hx, 1, 16) = '89504E470D0A1A0A'"
            " AND substring(hx, 25, 8) = '49484452'"
        ).alias("png_ok"),
    )


def jpeg_synthesize(
    df: DataFrame, from_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic baseline JPEG/JFIF header around text-derived
    entropy bytes — the marker-segment fixture (fixtures carry no real
    JPEGs; same convention as the PNG/WAV/TIFF synthesizers). Layout:
    SOI, the canonical 16-byte APP0/JFIF segment, a VARIABLE-LENGTH
    COM segment (per-doc padding, so SOF0's offset differs per file
    and a parser must chase the big-endian segment lengths — which,
    unlike PNG/RIFF chunk lengths, INCLUDE the 2-byte length field
    itself), an SOF0 frame header carrying precision/height/width and
    a per-doc component count (1=grayscale or 3=YCbCr with real
    per-component sampling/quant bytes), then EOI."""
    did = F.col(id_col)
    height = (did % 200 + 16).cast("long")
    width = (did % 160 + 24).cast("long")
    ncomp = (did % 2 * 2 + 1).cast("long")  # 1 or 3
    pad = ((did % 9) * 2).cast("long")
    comp = F.concat(
        F.lit("01"), F.lit("11"), F.lit("00"),  # id, 1x1 sampling, qtable 0
        F.when(
            ncomp == 3, F.lit("021100" "031100")
        ).otherwise(F.lit("")),
    )
    hex_parts = F.concat(
        F.lit("FFD8"),                            # SOI
        F.lit("FFE0"), _be_hex(F.lit(16).cast("long"), 2),  # APP0 len
        F.lit("4A46494600"),                      # 'JFIF\0'
        F.lit("0101"),                            # version 1.1
        F.lit("00"), F.lit("0048"), F.lit("0048"),  # units, 72x72 dpi
        F.lit("0000"),                            # no thumbnail
        F.lit("FFFE"), _be_hex(pad + 2, 2),       # COM len (incl itself)
        F.repeat(F.lit("20"), pad.cast("int")),
        F.lit("FFC0"), _be_hex(ncomp * 3 + 8, 2),  # SOF0 len
        F.lit("08"),                              # precision
        _be_hex(height, 2),
        _be_hex(width, 2),
        _be_hex(ncomp, 1),
        comp,
        F.hex(F.expr(
            f"substring(encode({from_col}, 'utf-8'), 1, "
            f"least(32, length({from_col})))"
        )),
        F.lit("FFD9"),                            # EOI
    )
    return df.select(F.col(id_col), F.unhex(hex_parts).alias("content"))


def jpeg_sof_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id",
    max_segments: int = 6,
) -> DataFrame:
    """JPEG frame metadata from a marker-segment walk in pure Catalyst
    hex arithmetic — the fixed-unroll twin of jpeg_dimensions (which
    stays the mapInPandas fallback for wild files whose marker chains
    exceed any fixed unroll: thumbnails-in-APP1, multi-APPn stacks).
    From SOI, each slot reads the marker and its big-endian declared
    length (INCLUSIVE of the length field — JPEG's rule, unlike
    PNG/RIFF) and either recognizes a start-of-frame marker
    (FFC0–FFCF minus the C4/C8/CC non-frame codes, the same family
    rule jpeg_dimensions applies) or hops ``2 + length`` bytes to the
    next marker. Runs on the first 256 bytes only; non-JPEG bytes
    yield jpeg_ok=false rows, never errors.

    Returns (id, precision, height, width, n_components, sof_marker
    [the numeric second marker byte, 192..207 — distinguishes
    baseline/progressive/lossless], jpeg_ok)."""

    def be(pos: str, nbytes: int) -> str:
        return (
            f"CAST(conv(substring(hx, ({pos}), {2 * nbytes}), 16, 10)"
            f" AS BIGINT)"
        )

    # Each slot's position is MATERIALIZED as a per-slot column behind
    # a select boundary instead of textually substituted into the next
    # slot (the r15 optimization round: the substituted form doubled
    # the position expression per slot — 2^max_segments subtree copies
    # — and Catalyst re-analyzes/optimizes that whole tree on every
    # invocation; measured ~4 s of pure driver planning per run at ANY
    # SF. CollapseProject keeps the boundaries: a non-trivial alias
    # referenced more than once is never inlined, and every __p{k} is
    # referenced ~10× by slot k's fields). Same arithmetic, same
    # results — the tree is now linear in max_segments.
    cur = df.select(
        F.col(id_col),
        F.expr(f"hex(substring({blob_col}, 1, 256))").alias("hx"),
        F.expr("5").alias("__p0"),  # first marker after SOI: byte 3 → hex pos 5
    )
    field_slots: dict[str, list[str]] = {
        "precision": [], "height": [], "width": [],
        "n_components": [], "sof_marker": [],
    }
    for k in range(max_segments):
        p = f"__p{k}"
        # the marker byte feeds the SOF predicate twice and the sof
        # field once — materialize it, then the predicate, so the five
        # field CASEs below test one boolean column each
        cur = cur.select("*", F.expr(be(f"({p}) + 2", 1)).alias(f"__m{k}"))
        is_sof = (
            f"(substring(hx, ({p}), 2) = 'FF'"
            f" AND __m{k} BETWEEN 192 AND 207"
            f" AND __m{k} NOT IN (196, 200, 204))"
        )
        slot_cols = {
            f"__sof{k}": f"(CASE WHEN {is_sof} THEN __m{k} END)",
            f"__prec{k}": f"(CASE WHEN {is_sof} THEN {be(f'({p}) + 8', 1)} END)",
            f"__hgt{k}": f"(CASE WHEN {is_sof} THEN {be(f'({p}) + 10', 2)} END)",
            f"__wid{k}": f"(CASE WHEN {is_sof} THEN {be(f'({p}) + 14', 2)} END)",
            f"__nc{k}": f"(CASE WHEN {is_sof} THEN {be(f'({p}) + 18', 1)} END)",
            # hop: marker (2 bytes) + declared length (includes len field)
            f"__p{k + 1}": f"(({p}) + 4 + 2 * {be(f'({p}) + 4', 2)})",
        }
        cur = cur.select(
            "*", *[F.expr(e).alias(n) for n, e in slot_cols.items()]
        )
        field_slots["sof_marker"].append(f"__sof{k}")
        field_slots["precision"].append(f"__prec{k}")
        field_slots["height"].append(f"__hgt{k}")
        field_slots["width"].append(f"__wid{k}")
        field_slots["n_components"].append(f"__nc{k}")
    return cur.select(
        id_col,
        *[
            F.expr("COALESCE(" + ", ".join(slots) + ")").alias(name)
            for name, slots in field_slots.items()
        ],
        F.expr("substring(hx, 1, 4) = 'FFD8'").alias("jpeg_ok"),
    )


def gif_synthesize(
    df: DataFrame, from_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic GIF89a container with a VARIABLE NUMBER of image
    frames — the repeated-substructure fixture (PNG/RIFF walk one
    declared-length chain; GIF repeats whole blocks until the
    trailer): logical screen descriptor (no global color table), one
    comment extension with per-doc padding, then 1–3 image
    descriptors (animation frames), each with real left/top/width/
    height geometry, an LZW minimum-code byte and ONE data sub-block
    from document text, then the 0x3B trailer. Frame count and the
    comment length vary per doc, so a parser must dispatch per block
    type and chase sub-block lengths, not assume offsets."""
    did = F.col(id_col)
    l = F.length(F.col(from_col))
    lsd_w = (did % 200 + 20).cast("long")
    lsd_h = (did % 150 + 15).cast("long")
    n_frames = (did % 3 + 1).cast("long")
    pad = (did % 9 + 1).cast("long")
    dsz = F.least(F.lit(16), F.greatest(F.lit(1), l)).cast("long")

    def frame(f: int):
        w = (did % 30 + 5 + f).cast("long")
        h = (did % 20 + 4).cast("long")
        return F.when(
            n_frames > f,
            F.concat(
                F.lit("2C"),
                _le_hex(F.lit(2 * f).cast("long"), 2),  # left
                _le_hex(F.lit(0).cast("long"), 2),      # top
                _le_hex(w, 2),
                _le_hex(h, 2),
                F.lit("00"),                            # no local table
                F.lit("02"),                            # LZW min code
                _le_hex(dsz, 1),
                # concat(text,'.') guarantees >=1 byte (read only when
                # text is empty), so the declared sub-block
                # length always equals the bytes written (an empty text
                # would otherwise declare 1 and write 0, desyncing the
                # walk one byte into the next block — r9 review)
                F.hex(F.expr(
                    f"substring(encode(concat({from_col}, '.'), 'utf-8'),"
                    f" 1, greatest(1, least(16, length({from_col}))))"
                )),
                F.lit("00"),                            # sub-block term
            ),
        ).otherwise(F.lit(""))

    hex_parts = F.concat(
        F.lit("474946383961"),                   # 'GIF89a'
        _le_hex(lsd_w, 2),
        _le_hex(lsd_h, 2),
        F.lit("000000"),                         # packed/bg/aspect
        F.lit("21FE"),                           # comment extension
        _le_hex(pad, 1),
        F.repeat(F.lit("41"), pad.cast("int")),
        F.lit("00"),                             # sub-block terminator
        frame(0), frame(1), frame(2),
        F.lit("3B"),                             # trailer
    )
    return df.select(F.col(id_col), F.unhex(hex_parts).alias("content"))


def gif_block_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id",
    max_blocks: int = 4,
) -> DataFrame:
    """GIF metadata from a typed block walk — the REPEATED-substructure
    pattern completing the container matrix (RIFF: linear chunks;
    TIFF: offset chase; PNG: BE chunk chain; JPEG: inclusive-length
    segments; MP4: nested boxes via mapInPandas; GIF: a type-dispatched
    block LIST that repeats until the trailer). Each unrolled slot
    reads the block's type byte and either counts an image descriptor
    (accumulating its width×height), skips an extension by its
    sub-block length, or stops at the trailer; position chains through
    a per-type CASE. ``max_blocks`` bounds the unroll (one extension +
    three frames covers the synthesized fixture; wild GIFs with longer
    block lists are the documented mapInPandas boundary, exactly
    mp4_metadata's rule — expression text grows ~7× per slot, so a
    fixed small unroll is the Catalyst-side budget). Parses the
    no-global-color-table subset (packed byte < 0x80 — flagged in
    gif_ok, never silently misparsed); arithmetic runs on the first
    256 bytes' hex only.

    Returns (id, lsd_width, lsd_height, n_frames, n_extensions,
    frame_area_sum, gif_ok)."""

    def le(pos: str, nbytes: int) -> str:
        terms = [
            f"CAST(conv(substring(hx, ({pos}) + {2 * i}, 2), 16, 10)"
            f" AS BIGINT) * {256 ** i}"
            for i in range(nbytes)
        ]
        return "(" + " + ".join(terms) + ")"

    # Positions and block-type bytes are materialized as per-slot
    # columns behind select boundaries (not textually substituted —
    # the substituted form grew the position subtree ~7× per slot, the
    # docstring's old Catalyst budget; see jpeg_sof_metadata's r15
    # note). Same arithmetic, linear tree — and the unroll budget is
    # no longer expression-blowup-bound.
    cur = df.select(
        F.col(id_col),
        F.expr(f"hex(substring({blob_col}, 1, 256))").alias("hx"),
        F.expr("27").alias("__p0"),  # first block: byte 14
    )
    frames, exts, areas = [], [], []
    for k in range(max_blocks):
        p = f"__p{k}"
        cur = cur.select(
            "*", F.expr(f"substring(hx, ({p}), 2)").alias(f"__tb{k}")
        )
        tb = f"__tb{k}"
        cur = cur.select(
            "*",
            F.expr(f"(CASE WHEN {tb} = '2C' THEN 1 ELSE 0 END)").alias(
                f"__fr{k}"
            ),
            F.expr(f"(CASE WHEN {tb} = '21' THEN 1 ELSE 0 END)").alias(
                f"__ex{k}"
            ),
            F.expr(
                f"(CASE WHEN {tb} = '2C'"
                f" THEN {le(f'({p}) + 10', 2)} * {le(f'({p}) + 14', 2)}"
                f" ELSE 0 END)"
            ).alias(f"__ar{k}"),
            F.expr(
                f"(CASE WHEN {tb} = '2C'"
                f" THEN ({p}) + 26 + 2 * {le(f'({p}) + 22', 1)}"
                f" WHEN {tb} = '21'"
                f" THEN ({p}) + 8 + 2 * {le(f'({p}) + 4', 1)}"
                f" ELSE ({p}) END)"
            ).alias(f"__p{k + 1}"),
        )
        frames.append(f"__fr{k}")
        exts.append(f"__ex{k}")
        areas.append(f"__ar{k}")
    return cur.select(
        id_col,
        F.expr(le("13", 2)).alias("lsd_width"),
        F.expr(le("17", 2)).alias("lsd_height"),
        F.expr("CAST(" + " + ".join(frames) + " AS BIGINT)").alias(
            "n_frames"
        ),
        F.expr("CAST(" + " + ".join(exts) + " AS BIGINT)").alias(
            "n_extensions"
        ),
        F.expr("CAST(" + " + ".join(areas) + " AS BIGINT)").alias(
            "frame_area_sum"
        ),
        F.expr(
            "substring(hx, 1, 12) = '474946383961'"
            f" AND {le('21', 1)} < 128"
        ).alias("gif_ok"),
    )


def zip_synthesize(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ZIP archive fixture (PKZIP layout, stored/method-0
    members) — the ARCHIVE container beside the image/audio/video
    formats (real crawls deliver bundles as .zip/.warc members, and the
    central directory is the index a distributed reader must walk).
    Layout per doc: 1–3 members, each a real 30-byte local file header
    (sig 504b0304) + 2-byte name ('f1'..'f3') + di filler bytes, then
    the central directory (one real 46-byte header + name per member,
    sig 504b0102, with the member's local-header OFFSET chased into the
    entry), then a comment-free EOCD (sig 504b0506) recording count,
    CD size and CD offset. Member sizes vary per doc (di = 4 +
    (doc_id+i) % 5) so every offset in the file moves; the fixture
    CRC is the documented fake di·7+i (the container fixtures carry
    structure, not payload integrity — the PCM/WAV convention)."""
    did = F.col(id_col)
    m = (did % 3 + 1).cast("long")  # member count 1..3

    def d(i: int):
        return ((did + i) % 5 + 4).cast("long")

    def local_hdr(i: int):
        di = d(i)
        return F.concat(
            F.lit("504B0304"),
            _le_hex(F.lit(20).cast("long"), 2),   # version needed
            _le_hex(F.lit(0).cast("long"), 2),    # flags
            _le_hex(F.lit(0).cast("long"), 2),    # method: stored
            _le_hex(F.lit(0).cast("long"), 2),    # time
            _le_hex(F.lit(0).cast("long"), 2),    # date
            _le_hex(di * 7 + i, 4),               # crc (fixture fake)
            _le_hex(di, 4),                       # compressed size
            _le_hex(di, 4),                       # uncompressed size
            _le_hex(F.lit(2).cast("long"), 2),    # name length
            _le_hex(F.lit(0).cast("long"), 2),    # extra length
            F.hex(F.lit(f"f{i}")),                # name
            F.repeat(F.lit("AB"), di.cast("int")),  # stored payload
        )

    def offset(i: int):
        # local header i starts after members 1..i-1 (32 + dj each)
        off = F.lit(0).cast("long")
        for j in range(1, i):
            off = off + 32 + d(j)
        return off

    def cd_entry(i: int):
        di = d(i)
        return F.concat(
            F.lit("504B0102"),
            _le_hex(F.lit(20).cast("long"), 2),   # version made by
            _le_hex(F.lit(20).cast("long"), 2),   # version needed
            _le_hex(F.lit(0).cast("long"), 2),    # flags
            _le_hex(F.lit(0).cast("long"), 2),    # method
            _le_hex(F.lit(0).cast("long"), 2),    # time
            _le_hex(F.lit(0).cast("long"), 2),    # date
            _le_hex(di * 7 + i, 4),               # crc
            _le_hex(di, 4),                       # csize
            _le_hex(di, 4),                       # usize
            _le_hex(F.lit(2).cast("long"), 2),    # name length
            _le_hex(F.lit(0).cast("long"), 2),    # extra length
            _le_hex(F.lit(0).cast("long"), 2),    # comment length
            _le_hex(F.lit(0).cast("long"), 2),    # disk start
            _le_hex(F.lit(0).cast("long"), 2),    # internal attrs
            _le_hex(F.lit(0).cast("long"), 4),    # external attrs
            _le_hex(offset(i), 4),                # local header offset
            F.hex(F.lit(f"f{i}")),                # name
        )

    def if_member(i: int, col):
        return F.when(m >= i, col).otherwise(F.lit(""))

    # CD starts after the m ACTUAL members' local sections
    cd_off = F.lit(0).cast("long")
    for j in range(1, 4):
        cd_off = cd_off + F.when(m >= j, 32 + d(j)).otherwise(0)
    cd_size = m * 48

    eocd = F.concat(
        F.lit("504B0506"),
        _le_hex(F.lit(0).cast("long"), 2),  # disk
        _le_hex(F.lit(0).cast("long"), 2),  # cd disk
        _le_hex(m, 2),                      # entries this disk
        _le_hex(m, 2),                      # entries total
        _le_hex(cd_size, 4),                # cd size
        _le_hex(cd_off, 4),                 # cd offset
        _le_hex(F.lit(0).cast("long"), 2),  # comment length
    )
    hex_all = F.concat(
        if_member(1, local_hdr(1)),
        if_member(2, local_hdr(2)),
        if_member(3, local_hdr(3)),
        if_member(1, cd_entry(1)),
        if_member(2, cd_entry(2)),
        if_member(3, cd_entry(3)),
        eocd,
    )
    return df.select(F.col(id_col), F.unhex(hex_all).alias("content"))


def zip_central_dir_metadata(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id",
    max_members: int = 4,
) -> DataFrame:
    """Archive index from a ZIP central-directory walk — END-anchored
    offset chasing (the one access pattern the TIFF/WAV walks don't
    exercise: the index lives at the END of the blob, located from the
    EOCD trailer, the way a remote reader range-requests a ZIP). Reads
    the last 22 bytes, verifies the EOCD signature, takes member count
    + CD offset from it, then hex-walks up to ``max_members`` unrolled
    46-byte+name central headers AT that offset — per-entry signature
    checked, sizes/offsets/names extracted. Bytes touched are
    O(trailer + index), never the payload (the multimodal routing-pass
    rule). Malformed blobs yield eocd_ok=false, never errors.

    Returns (id, n_members, total_usize, total_crc, names_csv,
    cd_size_ok, entries_ok, eocd_ok)."""

    def le(src: str, pos: str, nbytes: int) -> str:
        terms = [
            f"CAST(conv(substring({src}, ({pos}) + {2 * i}, 2), 16, 10)"
            f" AS BIGINT) * {256 ** i}"
            for i in range(nbytes)
        ]
        return "(" + " + ".join(terms) + ")"

    hx = df.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN length({blob_col}) >= 22 THEN"
            f" hex(substring({blob_col}, length({blob_col}) - 21, 22))"
            " ELSE '' END"
        ).alias("tl"),
        F.col(blob_col),
    )
    n_total = le("tl", "21", 2)
    cd_size = le("tl", "25", 4)
    cd_off = le("tl", "33", 4)
    # every field extraction is GATED on the EOCD signature: junk
    # bytes decode to arbitrary offsets, and an unguarded
    # CAST(offset AS INT) + substring THROWS under ANSI mode on blobs
    # that aren't ZIPs (caught by the malformed-blob test) — the
    # routing pass must flag, never error
    ok = "(substring(tl, 1, 8) = '504B0506')"
    with_cd = hx.select(
        id_col,
        "tl",
        F.expr(
            f"CAST(CASE WHEN {ok} THEN {n_total} ELSE 0 END AS BIGINT)"
        ).alias("n_members"),
        F.expr(
            f"CAST(CASE WHEN {ok} THEN {cd_size} ELSE -1 END AS BIGINT)"
        ).alias("cd_size"),
        F.expr(
            f"CASE WHEN {ok} THEN hex(substring({blob_col},"
            f" CAST(LEAST({cd_off},"
            f" CAST(length({blob_col}) AS BIGINT)) AS INT) + 1, 200))"
            " ELSE '' END"
        ).alias("cd"),
    )

    def slot(i: int, what: str) -> str:
        pos = f"(1 + {96 * i})"
        fields = {
            "sig_ok": f"(substring(cd, {pos}, 8) = '504B0102')",
            "crc": le("cd", f"{pos} + 32", 4),
            "usize": le("cd", f"{pos} + 48", 4),
            "namelen": le("cd", f"{pos} + 56", 2),
            "name": (
                f"decode(unhex(substring(cd, {pos} + 92,"
                f" CAST(2 * {le('cd', f'{pos} + 56', 2)} AS INT))), 'UTF-8')"
            ),
        }
        return f"(CASE WHEN n_members > {i} THEN {fields[what]} END)"

    def summed(what: str) -> str:
        return "(" + " + ".join(
            f"COALESCE({slot(i, what)}, 0)" for i in range(max_members)
        ) + ")"

    sig_all = " AND ".join(
        f"COALESCE({slot(i, 'sig_ok')}, TRUE)" for i in range(max_members)
    )
    names = ", ".join(slot(i, "name") for i in range(max_members))
    return with_cd.select(
        id_col,
        "n_members",
        F.expr(f"CAST({summed('usize')} AS BIGINT)").alias("total_usize"),
        F.expr(f"CAST({summed('crc')} AS BIGINT)").alias("total_crc"),
        F.expr(
            f"array_join(array({names}), ',')"
        ).alias("names_csv"),
        (F.col("cd_size") == F.col("n_members") * 48).alias("cd_size_ok"),
        F.expr(sig_all).alias("entries_ok"),
        F.expr("substring(tl, 1, 8) = '504B0506'").alias("eocd_ok"),
    )
