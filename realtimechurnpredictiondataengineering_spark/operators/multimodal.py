"""Multimodal (image/audio/video) column handling (north star §2.10).

Media travel as opaque ``binary`` columns with a typed metadata struct —
the parquet-native representation that scales: payload bytes stay
columnar/compressed, metadata is filterable/prunable without touching
bytes.  Per-item compute (decode, feature-extract, frame-sample)
runs in Arrow-batched ``mapInPandas`` kernels so Python cost is amortized
per batch, and the batch never exceeds
``spark.sql.execution.arrow.maxRecordsPerBatch``.

This container has no image/audio codecs, so the *decode* inner step is
STUBBED with a deterministic fake (clearly marked below); the Spark-side
plumbing — schema, partitioning, UDF signatures, batch iteration — is
real and tested.  On a cluster, swap ``_fake_decode`` for PIL/ffmpeg.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def documents_as_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Adapter: wrap the ``documents`` table into the media schema (text
    bytes as a stand-in payload) so the multimodal path has real data to
    move through parquet/shuffles in tests."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit("raw").alias("format"),
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


#: Header-decode prefix bound (bytes): every HEADER decoder below hexes
#: only the first ``_HEADER_PREFIX_BYTES`` of the payload, so per-row
#: expression work is O(header window), not O(payload) — on real
#: multi-MB media a whole-payload hex would materialize a 2x string
#: copy per row just to read ~100 bytes.  64 KiB is the classic
#: "headers live up front" contract (a single JPEG APPn segment maxes
#: at 64 KiB); fields past the window degrade exactly like truncation
#: (``conv('')`` → NULL), and the twins read the identically bounded
#: hex.  CONTENT kernels (``bmp_pixel_stats``, ``wav_pcm_stats``, the
#: WARC walk) keep the full view — their work is O(content) by nature.
_HEADER_PREFIX_BYTES = 65536

#: all-ASCII gate over a hex view (first nibble 0-7 ⟺ byte < 0x80):
#: counted/terminated string fields (gzip FNAME) decode only when all
#: bytes are ASCII, because the engines disagree on invalid UTF-8
#: (Spark substitutes U+FFFD, DuckDB's decode raises) — RFC 1952 says
#: ISO-8859-1, which neither engine can decode SQL-side, so non-ASCII
#: names surface as NULL identically on both.
_ASCII_HEX_RE = "^([0-7][0-9A-F])*$"


def _header_hex(col: str = "payload") -> F.Column:
    """Hex view of the bounded payload prefix (see
    ``_HEADER_PREFIX_BYTES``)."""
    return F.hex(F.col(col).substr(F.lit(1), F.lit(_HEADER_PREFIX_BYTES)))


#: Bounded JPEG segment-walk budget for ``media_header_dims``: each step
#: consumes one marker segment, and a real camera/encoder header carries
#: well under this many before the frame header (APPn thumbnails, COM,
#: DQT/DHT tables all count).  A file whose SOF hides deeper reports
#: NULL dims rather than scanning entropy data.
_JPEG_WALK_STEPS = 24

_PNG_SIG_HEX = "89504E470D0A1A0A"
_SOF_MARKERS = ("FFC0", "FFC1", "FFC2", "FFC3")
_GIF_SIGS = ("474946383761", "474946383961")  # GIF87a / GIF89a
#: DIB header sizes whose width/height are signed 32-bit LE at bytes
#: 19-22/23-26: BITMAPINFOHEADER(40), V4(108), V5(124).  The ancient
#: BITMAPCOREHEADER(12) keeps u16 dims at different offsets — out of
#: contract, reported as fmt 'bmp' with NULL dims.
_BMP_DIB_SIZES = (40, 108, 124)


def media_header_dims(media: DataFrame) -> DataFrame:
    """REAL image-dimension decode from header BYTES — no codec, no
    Python, no UDF: pure scan-local byte arithmetic over the hex view
    of the payload, so the whole parse stays inside whole-stage codegen
    and scales like any other projection.

    - PNG: the spec fixes IHDR as the first chunk, so width/height sit
      at byte offsets 17-20/21-24 (big-endian) — two ``conv`` calls.
    - JPEG: the frame header (SOF0-SOF3) floats behind a variable
      number of APPn/COM/DQT/DHT segments, so the parser WALKS the
      segment chain: a bounded ``aggregate`` fold steps marker →
      length → next marker (byte-aligned — no substring scanning, so
      entropy bytes can never false-match a marker), stopping at SOF
      (dims read), SOS/EOI, a non-marker byte, or end of payload.
    - GIF (87a/89a): the logical screen descriptor follows the 6-byte
      magic, so width/height are little-endian u16 at fixed bytes
      7-8/9-10 — byte-reversed hex reads, no walk at all.
    - BMP ('BM'): the DIB header starts at byte 15; for the
      BITMAPINFOHEADER family (size 40/108/124 at bytes 15-18 LE)
      width/height are SIGNED 32-bit LE at bytes 19-22/23-26 — a
      negative height is the spec's top-down marker and surfaces
      as-is.  Other DIB sizes report NULL dims.
    - anything else: format 'unknown', NULL dims.

    Truncation degrades exactly like the audio walk: a field read past
    the payload end is NULL (``conv('')``), a partially-present field
    zero-pads its missing high bytes — both mirrored by the twins'
    ``TRY_CAST`` hex reads.

    This replaces the ``_fake_decode`` stand-in for the header leg of
    the multimodal stack (feature EXTRACTION below still stubs its
    pixel decode — that genuinely needs a codec; header geometry does
    not).  Returns (media_id, fmt, width, height, n_bytes).
    """
    h = _header_hex()
    hexlen = F.length(h)
    is_png = F.substring(h, 1, 16) == F.lit(_PNG_SIG_HEX)
    is_jpeg = F.substring(h, 1, 4) == F.lit("FFD8")
    is_gif = F.substring(h, 1, 12).isin(*_GIF_SIGS)
    is_bmp = F.substring(h, 1, 4) == F.lit("424D")
    png_w = F.conv(F.substring(h, 33, 8), 16, 10).cast("int")
    png_h = F.conv(F.substring(h, 41, 8), 16, 10).cast("int")

    def le_at(p: int, n_bytes: int) -> F.Column:
        # little-endian read at fixed byte position p (1-based)
        pairs = [F.substring(h, (p + i) * 2 - 1, 2) for i in range(n_bytes)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    gif_w = le_at(7, 2).cast("int")
    gif_h = le_at(9, 2).cast("int")

    def signed32(raw: F.Column) -> F.Column:
        return (
            F.when(raw >= F.lit(2**31), raw - F.lit(2**32)).otherwise(raw)
        ).cast("int")

    bmp_dib = le_at(15, 4)
    bmp_ok = bmp_dib.isin(*_BMP_DIB_SIZES)
    bmp_w = F.when(bmp_ok, signed32(le_at(19, 4)))
    bmp_h = F.when(bmp_ok, signed32(le_at(23, 4)))

    def hex_at(p: F.Column, n_bytes: int) -> F.Column:
        # byte position p (1-based) → its hex substring (byte-aligned)
        return F.substr(h, p * 2 - 1, F.lit(2 * n_bytes))

    def walk_step(acc, _):
        p = acc["p"]
        marker = hex_at(p, 2)
        is_sof = marker.isin(*_SOF_MARKERS)
        done = (
            acc["ww"].isNotNull()
            | (p * 2 + 3 > hexlen)
            | (hex_at(p, 1) != F.lit("FF"))
            | marker.isin("FFDA", "FFD9")
        )
        seglen = F.conv(hex_at(p + 2, 2), 16, 10).cast("int")
        return F.when(done, acc).otherwise(
            F.when(
                is_sof,
                F.struct(
                    p.alias("p"),
                    F.conv(hex_at(p + 5, 2), 16, 10).cast("int").alias("hh"),
                    F.conv(hex_at(p + 7, 2), 16, 10).cast("int").alias("ww"),
                ),
            ).otherwise(
                F.struct(
                    (p + 2 + seglen).alias("p"),
                    acc["hh"].alias("hh"),
                    acc["ww"].alias("ww"),
                )
            )
        )

    jpeg = F.aggregate(
        F.sequence(F.lit(1), F.lit(_JPEG_WALK_STEPS)),
        F.struct(
            F.lit(3).alias("p"),
            F.lit(None).cast("int").alias("hh"),
            F.lit(None).cast("int").alias("ww"),
        ),
        walk_step,
    )
    return media.select(
        "media_id",
        F.when(is_png, F.lit("png"))
        .when(is_jpeg, F.lit("jpeg"))
        .when(is_gif, F.lit("gif"))
        .when(is_bmp, F.lit("bmp"))
        .otherwise(F.lit("unknown"))
        .alias("fmt"),
        F.when(is_png, png_w)
        .when(is_jpeg, jpeg["ww"])
        .when(is_gif, gif_w)
        .when(is_bmp, bmp_w)
        .alias("width"),
        F.when(is_png, png_h)
        .when(is_jpeg, jpeg["hh"])
        .when(is_gif, gif_h)
        .when(is_bmp, bmp_h)
        .alias("height"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


#: Bounded RIFF chunk-walk budget for ``audio_header_meta`` — real WAV
#: headers carry a handful of chunks (LIST/INFO, fact, cue) before fmt
#: and data; a file whose fmt/data hide deeper reports NULLs.
_RIFF_WALK_STEPS = 16


def audio_header_meta(media: DataFrame) -> DataFrame:
    """REAL audio-header decode from RIFF/WAVE bytes — the m03 pattern
    (scan-local hex arithmetic, zero Python, zero codec) on the audio
    leg, with one twist: RIFF fields are LITTLE-endian, so each value
    reads as the byte-reversed hex window.

    The parser verifies the RIFF/WAVE signature, then WALKS the chunk
    chain (id → declared size → next chunk, word-aligned: odd sizes pad
    one byte) with a bounded ``aggregate`` fold, capturing the PCM
    ``fmt `` fields (channels, sample rate, byte rate, bits/sample) and
    the ``data`` chunk's payload size.  Aligned jumps make it immune to
    chunk-id bytes embedded in payloads (decoy-pinned, like the JPEG
    walk).  Duration derives as floor(data_bytes·1000/byte_rate).
    Returns (media_id, fmt, n_channels, sample_rate, bits_per_sample,
    data_bytes, duration_ms, n_bytes) — NULL fields for truncated or
    non-RIFF payloads.
    """
    h = _header_hex()
    hexlen = F.length(h)
    # 'RIFF'=52494646, 'WAVE'=57415645 at bytes 1-4 / 9-12
    is_wav = (F.substring(h, 1, 8) == F.lit("52494646")) & (
        F.substring(h, 17, 8) == F.lit("57415645")
    )

    def hex_at(p: F.Column, n_bytes: int) -> F.Column:
        return F.substr(h, p * 2 - 1, F.lit(2 * n_bytes))

    def le_at(p: F.Column, n_bytes: int) -> F.Column:
        # little-endian read: reverse the byte order of the hex window
        pairs = [hex_at(p + i, 1) for i in range(n_bytes)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    FMT, DATA = "666D7420", "64617461"  # 'fmt ', 'data'

    def walk_step(acc, _):
        p = acc["p"]
        cid = hex_at(p, 4)
        size = le_at(p + 4, 4)
        # in-bounds = the full 8-byte chunk header (id + size) is
        # readable: p+7 <= n_bytes ⟺ p*2+14 <= hexlen.  The earlier
        # +15 bound rejected a zero-size final chunk whose header ends
        # exactly at the payload boundary (hypothesis-found).
        done = (
            (acc["rate"].isNotNull() & acc["db"].isNotNull())
            | (p * 2 + 14 > hexlen)
        )
        skip = p + 8 + size + (size % 2)
        return F.when(done, acc).otherwise(
            F.when(
                cid == F.lit(FMT),
                F.struct(
                    skip.alias("p"),
                    le_at(p + 10, 2).cast("int").alias("ch"),
                    le_at(p + 12, 4).alias("rate"),
                    le_at(p + 16, 4).alias("brate"),
                    le_at(p + 22, 2).cast("int").alias("bits"),
                    acc["db"].alias("db"),
                ),
            )
            .when(
                cid == F.lit(DATA),
                F.struct(
                    skip.alias("p"),
                    acc["ch"].alias("ch"),
                    acc["rate"].alias("rate"),
                    acc["brate"].alias("brate"),
                    acc["bits"].alias("bits"),
                    size.alias("db"),
                ),
            )
            .otherwise(
                F.struct(
                    skip.alias("p"),
                    acc["ch"].alias("ch"),
                    acc["rate"].alias("rate"),
                    acc["brate"].alias("brate"),
                    acc["bits"].alias("bits"),
                    acc["db"].alias("db"),
                )
            )
        )

    parsed = F.aggregate(
        F.sequence(F.lit(1), F.lit(_RIFF_WALK_STEPS)),
        F.struct(
            # long, not int: the step's `skip` arithmetic carries the
            # BIGINT chunk size, and the fold's accumulator type must
            # match the init type exactly
            F.lit(13).cast("long").alias("p"),
            F.lit(None).cast("int").alias("ch"),
            F.lit(None).cast("long").alias("rate"),
            F.lit(None).cast("long").alias("brate"),
            F.lit(None).cast("int").alias("bits"),
            F.lit(None).cast("long").alias("db"),
        ),
        walk_step,
    )
    guarded = F.when(is_wav, parsed)
    return media.select(
        "media_id",
        F.when(is_wav, F.lit("wav")).otherwise(F.lit("unknown")).alias("fmt"),
        guarded["ch"].alias("n_channels"),
        guarded["rate"].cast("int").alias("sample_rate"),
        guarded["bits"].alias("bits_per_sample"),
        guarded["db"].alias("data_bytes"),
        F.floor(guarded["db"] * 1000 / guarded["brate"])
        .cast("long")
        .alias("duration_ms"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


#: Bounded MP3 frame-walk budget — enough to prove a stream's frame
#: chain and count short clips exactly; a longer stream reports NULL
#: frame counts (its duration estimate comes from bitrate × size, not
#: from walking entropy data).
_MP3_WALK_STEPS = 24

#: MPEG-1 Layer III bitrate table (kbps), header indices 1-14.
_MP3_BITRATES = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
#: MPEG-1 sample-rate table (Hz), header indices 0-2.
_MP3_RATES = (44100, 48000, 32000)


def mp3_header_meta(media: DataFrame) -> DataFrame:
    """REAL MP3 header decode — the m03/m04 pattern on the MPEG frame
    chain: pure scan-local hex arithmetic in whole-stage codegen, zero
    Python, zero codec.

    Parsing steps, all from the payload bytes:

    - an ID3v2 tag ('ID3' magic) is skipped by its SYNCSAFE size (four
      7-bit bytes — the spec's guard against false frame sync inside
      tag data, which is also what makes the skip immune to 0xFF decoy
      bytes embedded in the tag);
    - the first MPEG frame header (4 bytes: 11-bit sync, version,
      layer, bitrate index, sample-rate index, padding, channel mode)
      decodes via integer div/mod bit extraction — this operator's
      contract is MPEG-1 Layer III (the overwhelming production case);
      other versions/layers report fmt 'mp3' with NULL fields;
    - a bounded frame WALK (the m04 shape: header → computed frame
      length ``floor(144000·bitrate/rate) + padding`` → next header)
      counts frames, so short clips get an exact frame count and
      duration (1152 samples/frame); a stream still mid-chain when the
      budget ends reports NULL n_frames/duration — walking a full song
      is entropy-scan territory, which is why ``est_duration_ms``
      (CBR estimate: audio bytes × 8 / bitrate) is also emitted, the
      number a production probe actually uses.

    Returns (media_id, fmt, bitrate_kbps, sample_rate, n_channels,
    n_frames, duration_ms, est_duration_ms, n_bytes).

    Bounded-prefix caveat (documented contract, round-13 ADVICE): all
    reads happen inside the ``_HEADER_PREFIX_BYTES`` hex window, so an
    MP3 whose ID3v2 tag exceeds 64 KiB — embedded cover art is the
    common real-world case — reports fmt 'mp3' with NULL frame fields
    on BOTH engines (the tag's syncsafe size still parses; the first
    frame header lies past the window).  The trade is deliberate:
    O(header) per row instead of O(payload) at 100 TB; raise the
    window for cover-art-heavy corpora."""
    h = _header_hex()
    hexlen = F.length(h)
    n_bytes = F.length("payload").cast("long")

    def u8(p: F.Column) -> F.Column:
        return F.conv(F.substr(h, p * 2 - 1, F.lit(2)), 16, 10).cast("long")

    brs = F.array(*[F.lit(b).cast("long") for b in _MP3_BITRATES])
    srs = F.array(*[F.lit(r).cast("long") for r in _MP3_RATES])

    is_id3 = F.substring(h, 1, 6) == F.lit("494433")
    one = F.lit(1).cast("long")
    syncsafe = (
        u8(F.lit(7)) * 2097152
        + u8(F.lit(8)) * 16384
        + u8(F.lit(9)) * 128
        + u8(F.lit(10))
    )
    start = F.when(is_id3, F.lit(11).cast("long") + syncsafe).otherwise(one)

    def frame_fields(p: F.Column) -> dict[str, F.Column]:
        v1, v2, v3 = u8(p + 1), u8(p + 2), u8(p + 3)
        bi = F.floor(v2 / 16).cast("long")
        sri = F.floor(v2 / 4).cast("long") % 4
        valid = (
            (p * 2 + 7 <= hexlen)
            & (F.substr(h, p * 2 - 1, F.lit(2)) == F.lit("FF"))
            & (v1 >= 224)
            & (F.floor(v1 / 8).cast("long") % 4 == 3)  # MPEG-1
            & (F.floor(v1 / 2).cast("long") % 4 == 1)  # Layer III
            & bi.between(1, 14)
            & sri.between(0, 2)
        )
        br = F.element_at(brs, bi.cast("int"))
        sr = F.element_at(srs, (sri + 1).cast("int"))
        pad = F.floor(v2 / 2).cast("long") % 2
        return {
            "valid": valid,
            "br": br,
            "sr": sr,
            "flen": F.floor(F.lit(144000).cast("long") * br / sr).cast("long") + pad,
            "channels": F.when(F.floor(v3 / 64).cast("long") == 3, 1).otherwise(2),
        }

    first = frame_fields(start)

    def walk_step(acc, _):
        p = acc["p"]
        f = frame_fields(p)
        return F.when(acc["done"], acc).otherwise(
            F.when(
                f["valid"],
                F.struct(
                    (p + f["flen"]).alias("p"),
                    (acc["frames"] + 1).alias("frames"),
                    F.lit(False).alias("done"),
                ),
            ).otherwise(
                F.struct(
                    p.alias("p"), acc["frames"].alias("frames"), F.lit(True).alias("done")
                )
            )
        )

    walked = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MP3_WALK_STEPS)),
        F.struct(
            start.alias("p"),
            F.lit(0).cast("long").alias("frames"),
            F.lit(False).alias("done"),
        ),
        walk_step,
    )
    # frames are exact when the walk ENDED (non-frame bytes / truncation
    # / trailing ID3v1 tag) or consumed the payload precisely; a chain
    # still live at the budget reports NULL — the count is unknown
    walk_done = walked["done"] | (walked["p"] > n_bytes)
    n_frames = F.when(first["valid"] & walk_done, walked["frames"])
    # fmt is sync-level: an ID3 tag or a readable 11-bit frame sync says
    # "this is an MPEG audio stream" even when the frame is outside the
    # MPEG-1 Layer III field contract (MPEG-2, Layer II, truncated
    # header) — those report fmt 'mp3' with NULL fields
    first_sync = (
        (start * 2 + 3 <= hexlen)
        & (F.substr(h, start * 2 - 1, F.lit(2)) == F.lit("FF"))
        & (u8(start + 1) >= 224)
    )
    fmt = F.when(is_id3 | first_sync, F.lit("mp3")).otherwise(F.lit("unknown"))
    guard = lambda c: F.when(first["valid"], c)  # noqa: E731
    return media.select(
        "media_id",
        fmt.alias("fmt"),
        guard(first["br"]).cast("int").alias("bitrate_kbps"),
        guard(first["sr"]).cast("int").alias("sample_rate"),
        guard(first["channels"]).cast("int").alias("n_channels"),
        n_frames.cast("long").alias("n_frames"),
        F.floor(n_frames * 1152000 / first["sr"]).cast("long").alias("duration_ms"),
        guard(
            F.floor((n_bytes - start + 1) * 8 / first["br"]).cast("long")
        ).alias("est_duration_ms"),
        n_bytes.alias("n_bytes"),
    )


#: Bounded MP4 box-walk budget, applied independently to the top-level
#: box chain (finding moov) and to moov's children (mvhd + trak count).
_MP4_WALK_STEPS = 16

_MP4_TOP_TYPES = (
    "66747970",  # ftyp
    "6D6F6F76",  # moov
    "6D646174",  # mdat
    "66726565",  # free
    "736B6970",  # skip
    "77696465",  # wide
    "7064696E",  # pdin
)


def mp4_header_meta(media: DataFrame) -> DataFrame:
    """REAL MP4/ISO-BMFF header decode — the video leg of the family,
    and the first NESTED walk: boxes are [u32 size][4cc type][payload],
    so the parser walks the TOP-LEVEL chain to find ``moov`` (handling
    the spec's size==1 64-bit extension and size==0 to-EOF forms), then
    walks ``moov``'s children for ``mvhd`` (timescale + duration at
    version-dependent offsets: v0 packs u32 times, v1 u64) and counts
    ``trak`` boxes.  Box-aligned jumps make 'moov'/'mvhd' bytes planted
    inside an ``mdat`` payload invisible (decoy-pinned, the family
    rule).  All scan-local hex arithmetic in whole-stage codegen; both
    walks are budgeted — a header hiding deeper reports NULLs.

    Returns (media_id, fmt, major_brand, timescale, duration_ms,
    n_tracks, n_bytes).

    Bounded-prefix caveat (documented contract, round-13 ADVICE): a
    streaming-unfriendly file whose ``moov`` FOLLOWS a large ``mdat``
    (> 64 KiB) reports fmt 'mp4' with NULL timescale/duration on both
    engines — the top-level walk cannot jump past data outside the
    ``_HEADER_PREFIX_BYTES`` window.  Faststart files (moov first, the
    web-serving norm) always parse; raise the window where
    moov-at-end archives dominate."""
    h = _header_hex()
    hexlen = F.length(h)
    n_bytes = F.length("payload").cast("long")

    def u8(p: F.Column) -> F.Column:
        return F.conv(F.substr(h, p * 2 - 1, F.lit(2)), 16, 10).cast("long")

    def u32(p: F.Column) -> F.Column:
        return F.conv(F.substr(h, p * 2 - 1, F.lit(8)), 16, 10).cast("long")

    def u64(p: F.Column) -> F.Column:
        return F.conv(F.substr(h, p * 2 - 1, F.lit(16)), 16, 10).cast("long")

    def box_at(p: F.Column) -> tuple[F.Column, F.Column, F.Column]:
        """(type_hex, header_len, effective_size) of the box at p."""
        sz = u32(p)
        typ = F.substr(h, (p + 4) * 2 - 1, F.lit(8))
        hdr = F.when(sz == 1, F.lit(16).cast("long")).otherwise(
            F.lit(8).cast("long")
        )
        eff = (
            F.when(sz == 1, u64(p + 8))
            .when(sz == 0, n_bytes - p + 1)
            .otherwise(sz)
        )
        return typ, hdr, eff

    MOOV, MVHD, TRAK = "6D6F6F76", "6D766864", "7472616B"

    def top_step(acc, _):
        p = acc["p"]
        typ, hdr, eff = box_at(p)
        readable = p * 2 + 15 <= hexlen
        found = readable & (typ == F.lit(MOOV))
        bad = ~readable | eff.isNull() | (eff < hdr)
        return F.when(acc["done"], acc).otherwise(
            F.when(
                found,
                F.struct(
                    p.alias("p"),
                    (p + hdr).alias("ms"),
                    (p + eff - 1).alias("me"),
                    F.lit(True).alias("done"),
                ),
            )
            .when(
                bad,
                F.struct(
                    p.alias("p"), acc["ms"].alias("ms"), acc["me"].alias("me"),
                    F.lit(True).alias("done"),
                ),
            )
            .otherwise(
                F.struct(
                    (p + eff).alias("p"), acc["ms"].alias("ms"),
                    acc["me"].alias("me"), F.lit(False).alias("done"),
                )
            )
        )

    top = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MP4_WALK_STEPS)),
        F.struct(
            F.lit(1).cast("long").alias("p"),
            F.lit(None).cast("long").alias("ms"),
            F.lit(None).cast("long").alias("me"),
            F.lit(False).alias("done"),
        ),
        top_step,
    )
    ms, me = top["ms"], top["me"]

    def child_step(acc, _):
        q = acc["q"]
        typ, hdr, eff = box_at(q)
        readable = (q + 7 <= me) & (q * 2 + 15 <= hexlen)
        bad = ~readable | eff.isNull() | (eff < hdr)
        ver = u8(q + 8)
        is_mvhd = typ == F.lit(MVHD)
        ts = F.when(ver == 1, u32(q + 28)).otherwise(u32(q + 20))
        dur = F.when(ver == 1, u64(q + 32)).otherwise(u32(q + 24))
        return F.when(acc["done"], acc).otherwise(
            F.when(
                bad,
                F.struct(
                    q.alias("q"), acc["ts"].alias("ts"), acc["dur"].alias("dur"),
                    acc["ntrak"].alias("ntrak"), F.lit(True).alias("done"),
                ),
            ).otherwise(
                F.struct(
                    (q + eff).alias("q"),
                    F.when(is_mvhd, ts).otherwise(acc["ts"]).alias("ts"),
                    F.when(is_mvhd, dur).otherwise(acc["dur"]).alias("dur"),
                    (
                        acc["ntrak"]
                        + F.when(typ == F.lit(TRAK), F.lit(1).cast("long")).otherwise(
                            F.lit(0).cast("long")
                        )
                    ).alias("ntrak"),
                    F.lit(False).alias("done"),
                )
            )
        )

    children = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MP4_WALK_STEPS)),
        F.struct(
            ms.alias("q"),
            F.lit(None).cast("long").alias("ts"),
            F.lit(None).cast("long").alias("dur"),
            F.lit(0).cast("long").alias("ntrak"),
            F.lit(False).alias("done"),
        ),
        child_step,
    )
    first_typ = F.substr(h, F.lit(9), F.lit(8))
    is_mp4 = (hexlen >= 16) & first_typ.isin(*_MP4_TOP_TYPES)
    brand = F.when(
        first_typ == F.lit("66747970"),
        F.decode(F.col("payload").substr(F.lit(9), F.lit(4)), "UTF-8"),
    )
    # child-walk counts are exact when the walk ended (clean EOF of the
    # moov payload or an unparseable child); still mid-chain at the
    # budget → unknown → NULL
    child_done = children["done"] | (children["q"] > me)
    moov_found = ms.isNotNull()
    return media.select(
        "media_id",
        F.when(is_mp4, F.lit("mp4")).otherwise(F.lit("unknown")).alias("fmt"),
        F.when(is_mp4, brand).alias("major_brand"),
        F.when(moov_found & child_done, children["ts"]).cast("int").alias("timescale"),
        F.when(
            moov_found & child_done,
            F.floor(children["dur"] * 1000 / children["ts"]),
        )
        .cast("long")
        .alias("duration_ms"),
        F.when(moov_found & child_done, children["ntrak"])
        .cast("int")
        .alias("n_tracks"),
        n_bytes.alias("n_bytes"),
    )


#: IFD entries scanned per file — real camera/scanner IFDs carry a few
#: dozen tags; dims hiding past the budget report NULL (unknown), the
#: family's honest answer.
_TIFF_IFD_BUDGET = 32


def tiff_header_meta(media: DataFrame) -> DataFrame:
    """REAL TIFF header decode — the family's first ENDIAN-DISPATCHED
    format and its first TABLE-driven scan: TIFF files carry the same
    layout in either byte order ('II' little-endian / 'MM' big-endian,
    declared by the first two bytes), and the metadata lives in an IFD
    — a COUNTED TABLE of fixed-stride 12-byte entries reached through
    an absolute offset pointer — not in a chained walk, so the parse is
    ``transform`` over entry indices + ``filter`` by tag, not a fold.

    Layout: magic 42 as a u16 in the declared order at bytes 2-3, IFD0
    file offset as u32 at bytes 4-7; at the IFD a u16 entry count, then
    per entry [u16 tag][u16 type][u32 count][4-byte value field].  For
    count==1 the value is LEFT-JUSTIFIED in the 4-byte field: a SHORT
    (type 3) reads its 2 bytes at the field start in the file's order,
    a LONG (type 4) all 4 — the left-justification is a spec detail a
    fake decoder papers over (a big-endian SHORT is NOT the low half of
    the 4-byte read).  Tags: 256 ImageWidth, 257 ImageLength, 258
    BitsPerSample (count>1 means the value field holds an offset, NULL
    by contract — chasing value offsets is pixel-decode territory).
    The first WELL-TYPED occurrence of a tag wins, so a malformed
    duplicate cannot shadow a later valid entry.  Only IFD0 is read
    (the next-IFD pointer — multi-page TIFF — is out of contract, like
    MP3's later frames).  BigTIFF (magic 43) is a different layout and
    reports 'unknown'.

    All scan-local hex arithmetic in whole-stage codegen, zero Python,
    zero codec; entry reads past the payload end degrade to NULL
    (``conv('')``), partially-present fields keep their readable bytes
    — the family's TRY_CAST truncation parity.  An IFD longer than the
    budget reports NULL for tags not found in the scanned prefix.

    Returns (media_id, fmt, byte_order, width, height,
    bits_per_sample, n_ifd_entries, n_bytes)."""
    h = _header_hex()
    n_bytes = F.length("payload").cast("long")
    bo = F.substring(h, 1, 4)
    is_le = bo == F.lit("4949")
    is_be = bo == F.lit("4D4D")

    def rd(p: F.Column, nb: int) -> F.Column:
        # byte-order-dispatched unsigned read at 1-based byte position p
        be = F.conv(F.substr(h, p * 2 - 1, F.lit(2 * nb)), 16, 10)
        pairs = [F.substr(h, (p + i) * 2 - 1, F.lit(2)) for i in range(nb)]
        le = F.conv(F.concat(*reversed(pairs)), 16, 10)
        return F.when(is_le, le).otherwise(be).cast("long")

    magic = rd(F.lit(3).cast("long"), 2)
    is_tiff = (is_le | is_be) & (magic == 42)
    ifd_off = rd(F.lit(5).cast("long"), 4)  # file offset (0-based)
    n_entries = rd(ifd_off + 1, 2)
    cap = F.least(n_entries, F.lit(_TIFF_IFD_BUDGET).cast("long"))

    def entry(i: F.Column) -> F.Column:
        p = ifd_off + 3 + i * 12
        typ = rd(p + 2, 2)
        cnt = rd(p + 4, 4)
        value = (
            F.when((cnt == 1) & (typ == 3), rd(p + 8, 2))
            .when((cnt == 1) & (typ == 4), rd(p + 8, 4))
            .otherwise(F.lit(None).cast("long"))
        )
        return F.struct(rd(p, 2).alias("tag"), value.alias("value"))

    entries = F.when(
        is_tiff & (cap >= 1),
        F.transform(F.sequence(F.lit(0).cast("long"), cap - 1), entry),
    ).otherwise(F.array().cast("array<struct<tag:long,value:long>>"))

    def first_valid(tag: int) -> F.Column:
        hits = F.filter(
            entries, lambda e: (e["tag"] == tag) & e["value"].isNotNull()
        )
        # try_element_at: an absent tag is an EMPTY hits array, which is
        # the NULL answer, not an ANSI index error
        return F.try_element_at(hits, F.lit(1))["value"]

    return media.select(
        "media_id",
        F.when(is_tiff, F.lit("tiff")).otherwise(F.lit("unknown")).alias("fmt"),
        F.when(is_tiff & is_le, F.lit("II"))
        .when(is_tiff & is_be, F.lit("MM"))
        .alias("byte_order"),
        first_valid(256).cast("int").alias("width"),
        first_valid(257).cast("int").alias("height"),
        first_valid(258).cast("int").alias("bits_per_sample"),
        F.when(is_tiff, n_entries).cast("int").alias("n_ifd_entries"),
        n_bytes.alias("n_bytes"),
    )


#: Bytes scanned for the FNAME zero terminator — RFC 1952 puts no bound
#: on the field, real filenames fit comfortably; an unterminated name
#: past the budget reports NULL (unknown), the family's honest answer.
_GZIP_NAME_BUDGET = 64


def gzip_header_meta(media: DataFrame) -> DataFrame:
    """REAL gzip member-header decode (RFC 1952) — the archive leg of
    the family, and the format a crawl pipeline actually meets first
    (WARC/WET shards ship gzipped).  Two new primitives: a bounded
    ZERO-TERMINATOR scan (FNAME is a C string, not a counted field —
    the scan is the m08 table idiom, ``filter`` over indexed bytes +
    first hit, budgeted) and a read positioned from the END of the
    payload (the ISIZE trailer lives in the last 4 bytes, hexed from a
    bounded 4-byte payload SUFFIX slice; for CONCATENATED members that
    read is the LAST member's size — real gzip semantics,
    fixture-pinned).  FNAME decodes under the family's ASCII gate
    (see ``_ASCII_HEX_RE``).

    Layout: magic 1F 8B, CM (8 = deflate — anything else is not a
    member this contract decodes), FLG bits (FTEXT/FHCRC/FEXTRA/FNAME/
    FCOMMENT), MTIME u32 LE (0 = no timestamp, surfaced raw), XFL, OS.
    FEXTRA (u16 LE length + payload) shifts FNAME's start; FCOMMENT
    and FHCRC follow FNAME, so they never affect it.  All scan-local
    hex arithmetic in whole-stage codegen; truncated reads degrade by
    the family's ``conv('')``/zero-pad contract.

    Returns (media_id, fmt, is_text, mtime, os_code, filename, isize,
    n_bytes)."""
    h = _header_hex()
    hexlen = F.length(h)
    n_bytes = F.length("payload").cast("long")

    def u8(p) -> F.Column:
        p = F.lit(p).cast("long") if isinstance(p, int) else p
        return F.conv(F.substr(h, p * 2 - 1, F.lit(2)), 16, 10).cast("long")

    def le(p, nb: int) -> F.Column:
        p = F.lit(p).cast("long") if isinstance(p, int) else p
        pairs = [F.substr(h, (p + i) * 2 - 1, F.lit(2)) for i in range(nb)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    is_gzip = (F.substring(h, 1, 4) == F.lit("1F8B")) & (u8(3) == 8)
    flg = u8(4)
    has_fextra = (F.floor(flg / 4) % 2) == 1
    has_fname = (F.floor(flg / 8) % 2) == 1
    xlen = F.when(has_fextra, le(11, 2)).otherwise(F.lit(0).cast("long"))
    fs = F.lit(11).cast("long") + F.when(has_fextra, xlen + 2).otherwise(
        F.lit(0).cast("long")
    )
    # bounded terminator scan: first zero byte within the budget
    idx = F.filter(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(_GZIP_NAME_BUDGET - 1).cast("long")),
            lambda i: F.struct(
                i.alias("i"),
                ((fs + i) * 2 <= hexlen).alias("inside"),
                (F.substr(h, (fs + i) * 2 - 1, F.lit(2)) == F.lit("00")).alias("z"),
            ),
        ),
        lambda e: e["inside"] & e["z"],
    )
    name_len = F.try_element_at(idx, F.lit(1))["i"]
    # FNAME is ISO-8859-1 per RFC 1952; neither engine can decode
    # latin-1 SQL-side and they DISAGREE on invalid UTF-8 (Spark
    # substitutes U+FFFD, DuckDB raises), so the contract is the
    # family's ASCII gate: non-ASCII names surface as NULL on both
    # engines (fixture-pinned).
    fname_hex = F.substr(h, fs * 2 - 1, name_len * 2)
    filename = F.when(
        is_gzip & has_fname & name_len.isNotNull() & fname_hex.rlike(_ASCII_HEX_RE),
        F.decode(F.unhex(fname_hex), "UTF-8"),
    )
    # the ISIZE trailer lives in the LAST 4 bytes — read it from a
    # bounded payload SUFFIX slice, never by hexing the whole blob
    ht = F.hex(F.col("payload").substr((n_bytes - 3).cast("int"), F.lit(4)))

    def le_t(p: int, nb: int) -> F.Column:
        pairs = [F.substr(ht, F.lit((p + i) * 2 - 1), F.lit(2)) for i in range(nb)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    isize = F.when(n_bytes >= 18, le_t(1, 4))
    return media.select(
        "media_id",
        F.when(is_gzip, F.lit("gzip")).otherwise(F.lit("unknown")).alias("fmt"),
        F.when(is_gzip, (flg % 2) == 1).alias("is_text"),
        F.when(is_gzip, le(5, 4)).alias("mtime"),
        F.when(is_gzip, u8(10)).cast("int").alias("os_code"),
        filename.alias("filename"),
        F.when(is_gzip, isize).alias("isize"),
        n_bytes.alias("n_bytes"),
    )


#: Expression-path pixel/sample fold budgets: the scan-local stats
#: kernels below fold over one array element per pixel/sample, which is
#: the right cost model for thumbnail/clip-class payloads (and for the
#: oracle gate, which needs SQL-expressible semantics).  Payloads past
#: the budget report NULL stats — at real media sizes the Arrow
#: ``mapInPandas`` kernels (``extract_media_features`` shape) are the
#: scale path, exactly as documented for ``_fake_decode``.
_BMP_PIXEL_BUDGET = 4096
_WAV_SAMPLE_BUDGET = 4096


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL pixel decode — the first stats kernel of the family that
    reads IMAGE CONTENT, not just headers, and it needs no codec: a
    24bpp uncompressed BMP's pixel array is raw BGR bytes at the data
    offset the file header declares (bytes 11-14 LE), rows padded to
    4-byte boundaries, bottom-up (or top-down when height < 0 — the
    channel means are orientation-invariant, so the sign only affects
    geometry, never the stats).

    Per in-contract row (DIB in the INFOHEADER family, bpp=24,
    BI_RGB compression, positive width, pixel array fully present,
    pixel count within ``_BMP_PIXEL_BUDGET``): one ``aggregate`` fold
    over the pixel index accumulates exact INTEGER channel sums —
    order-independent and engine-portable — then derives channel means
    and Rec.601 luma with a single float division per output, so both
    engines compute the identical double.  Everything is scan-local
    hex arithmetic inside whole-stage codegen: zero Python, zero
    codec, zero shuffle.

    Returns (media_id, fmt, width, height, n_px, mean_r, mean_g,
    mean_b, mean_luma, n_bytes); out-of-contract rows keep the m05
    geometry semantics with NULL stats.
    """
    h = F.hex("payload")
    n = F.length("payload").cast("long")

    def le(p: int, nb: int) -> F.Column:
        pairs = [F.substring(h, (p + i) * 2 - 1, 2) for i in range(nb)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    def signed32(raw: F.Column) -> F.Column:
        return F.when(raw >= F.lit(2**31), raw - F.lit(2**32)).otherwise(raw)

    is_bmp = F.substring(h, 1, 4) == F.lit("424D")
    data_off = le(11, 4)
    dib = le(15, 4)
    dib_ok = dib.isin(*_BMP_DIB_SIZES)
    w = signed32(le(19, 4))
    hgt = signed32(le(23, 4))
    bpp = le(29, 2)
    comp = le(31, 4)
    absh = F.abs(hgt)
    stride = (F.floor((w * 3 + 3) / 4) * 4).cast("long")
    npix = w * absh
    # w and absh are bounded by the budget BEFORE the npix product is
    # trusted: garbage dims on non-BMP rows could overflow the 64-bit
    # product (DuckDB raises, Spark wraps — either way the product is
    # meaningless), so the budget gate must never be the only guard.
    valid = (
        is_bmp
        & dib_ok
        & (bpp == 24)
        & (comp == 0)
        & (w > 0)
        & (w <= F.lit(_BMP_PIXEL_BUDGET))
        & (absh > 0)
        & (absh <= F.lit(_BMP_PIXEL_BUDGET))
        & (npix <= F.lit(_BMP_PIXEL_BUDGET))
        & (data_off + stride * absh <= n)
    )

    # STAGE the header scalars (and the hex view) as real columns
    # before the pixel fold — the fold reads the data offset / stride /
    # width once per PIXEL, and inlining their conv-chains per step
    # bloats codegen past the JIT budget (see the wav kernel's staging
    # note: the un-staged shape fell back to interpreted eval).
    staged = media.select(
        "media_id",
        h.alias("__hx"),
        n.alias("__n"),
        is_bmp.alias("__bmp"),
        F.when(is_bmp & dib_ok, w).cast("int").alias("__w32"),
        F.when(is_bmp & dib_ok, hgt).cast("int").alias("__h32"),
        data_off.alias("__do"),
        stride.alias("__st"),
        F.when(valid, npix).alias("__npix"),
    )
    hx = F.col("__hx")
    w_c = F.col("__w32").cast("long")
    do_c, st_c, npix_c = F.col("__do"), F.col("__st"), F.col("__npix")

    def u8(pos: F.Column) -> F.Column:
        # pos is a 1-based byte position
        return F.conv(F.substr(hx, pos * 2 - 1, F.lit(2)), 16, 10).cast("long")

    def fold_step(acc, i):
        r = F.floor(i / w_c).cast("long")
        pos = do_c + r * st_c + (i - r * w_c) * 3 + 1
        return F.struct(
            (acc["sb"] + u8(pos)).alias("sb"),
            (acc["sg"] + u8(pos + 1)).alias("sg"),
            (acc["sr"] + u8(pos + 2)).alias("sr"),
        )

    zero = F.lit(0).cast("long")
    sums = F.when(
        npix_c.isNotNull(),
        F.aggregate(
            F.sequence(zero, npix_c - 1),
            F.struct(zero.alias("sb"), zero.alias("sg"), zero.alias("sr")),
            fold_step,
        ),
    )
    return staged.select(
        "media_id",
        F.when(F.col("__bmp"), F.lit("bmp")).otherwise(F.lit("unknown")).alias("fmt"),
        F.col("__w32").alias("width"),
        F.col("__h32").alias("height"),
        npix_c.alias("n_px"),
        (sums["sr"] / npix_c).alias("mean_r"),
        (sums["sg"] / npix_c).alias("mean_g"),
        (sums["sb"] / npix_c).alias("mean_b"),
        (
            (
                F.lit(0.299) * sums["sr"]
                + F.lit(0.587) * sums["sg"]
                + F.lit(0.114) * sums["sb"]
            )
            / npix_c
        ).alias("mean_luma"),
        F.col("__n").alias("n_bytes"),
    )


def wav_pcm_stats(media: DataFrame) -> DataFrame:
    """REAL audio-sample decode — RMS/peak/mean over the 16-bit PCM
    samples in the WAV data chunk, no codec needed (PCM *is* the raw
    samples).  The m04 chunk walk runs again here, extended to capture
    the fmt AUDIO FORMAT CODE and the data chunk's byte OFFSET (m04
    only needed its size); stats engage only for in-contract rows
    (format code 1 = integer PCM, 16 bits/sample, declared data fully
    present, sample count within ``_WAV_SAMPLE_BUDGET``).

    One ``aggregate`` fold over the sample index reads each
    little-endian s16, accumulating exact integer sum / sum-of-squares
    / peak-of-abs; mean and RMS derive with one float division (and
    one IEEE-correctly-rounded sqrt), so both engines land the
    identical double.  Scan-local, codegen-resident, zero Python.

    Returns (media_id, fmt, sample_rate, n_samples, mean_amp, rms,
    peak_amp, n_bytes); out-of-contract rows surface NULL stats (and
    NULL n_samples when no data chunk was found).
    """
    h = F.hex("payload")
    hexlen = F.length(h)
    n = F.length("payload").cast("long")
    is_wav = (F.substring(h, 1, 8) == F.lit("52494646")) & (
        F.substring(h, 17, 8) == F.lit("57415645")
    )

    def hex_at(p: F.Column, nb: int) -> F.Column:
        return F.substr(h, p * 2 - 1, F.lit(2 * nb))

    def le_at(p: F.Column, nb: int) -> F.Column:
        pairs = [hex_at(p + i, 1) for i in range(nb)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    FMT, DATA = "666D7420", "64617461"

    def walk_step(acc, _):
        p = acc["p"]
        cid = hex_at(p, 4)
        size = le_at(p + 4, 4)
        done = (
            (acc["rate"].isNotNull() & acc["db"].isNotNull())
            | (p * 2 + 14 > hexlen)
        )
        skip = p + 8 + size + (size % 2)

        def st(**kw):
            fields = []
            for k in ("p", "code", "ch", "rate", "bits", "db", "doff"):
                fields.append(kw.get(k, acc[k]).alias(k))
            return F.struct(*fields)

        return F.when(done, acc).otherwise(
            F.when(
                cid == F.lit(FMT),
                st(
                    p=skip,
                    code=le_at(p + 8, 2).cast("int"),
                    ch=le_at(p + 10, 2).cast("int"),
                    rate=le_at(p + 12, 4),
                    bits=le_at(p + 22, 2).cast("int"),
                ),
            )
            .when(cid == F.lit(DATA), st(p=skip, db=size, doff=p + 8))
            .otherwise(st(p=skip))
        )

    parsed = F.aggregate(
        F.sequence(F.lit(1), F.lit(_RIFF_WALK_STEPS)),
        F.struct(
            F.lit(13).cast("long").alias("p"),
            F.lit(None).cast("int").alias("code"),
            F.lit(None).cast("int").alias("ch"),
            F.lit(None).cast("long").alias("rate"),
            F.lit(None).cast("int").alias("bits"),
            F.lit(None).cast("long").alias("db"),
            F.lit(None).cast("long").alias("doff"),
        ),
        walk_step,
    )
    # STAGE the walk result (and the hex view) as real columns before
    # the sample fold: the fold references the data offset once per
    # SAMPLE, and an inlined 16-step walk expression per sample blows
    # the codegen budget (the un-staged version fell back to
    # interpreted eval and ran ~18x slower at the bench gate).  The
    # non-cheap multiply-referenced aliases keep CollapseProject from
    # re-inlining them.
    staged = media.select(
        "media_id",
        h.alias("__hx"),
        n.alias("__n"),
        is_wav.alias("__w"),
        F.when(is_wav, parsed).alias("__g"),
    )
    hx = F.col("__hx")
    nn = F.col("__n")
    is_w = F.col("__w")
    g = F.col("__g")
    nsamp = F.floor(g["db"] / 2).cast("long")
    valid = (
        is_w
        & (g["code"] == 1)
        & (g["bits"] == 16)
        & g["doff"].isNotNull()
        & (nsamp > 0)
        & (nsamp <= F.lit(_WAV_SAMPLE_BUDGET))
        & (g["doff"] + nsamp * 2 - 1 <= nn)
    )

    def u8(pos: F.Column) -> F.Column:
        return F.conv(F.substr(hx, pos * 2 - 1, F.lit(2)), 16, 10).cast("long")

    def fold_step(acc, i):
        pos = g["doff"] + i * 2
        raw = u8(pos) + u8(pos + 1) * 256
        sv = F.when(raw >= 32768, raw - 65536).otherwise(raw)
        return F.struct(
            (acc["s"] + sv).alias("s"),
            (acc["q"] + sv * sv).alias("q"),
            F.greatest(acc["pk"], F.abs(sv)).alias("pk"),
        )

    zero = F.lit(0).cast("long")
    sums = F.when(
        valid,
        F.aggregate(
            F.sequence(zero, nsamp - 1),
            F.struct(zero.alias("s"), zero.alias("q"), zero.alias("pk")),
            fold_step,
        ),
    )
    return staged.select(
        "media_id",
        F.when(is_w, F.lit("wav")).otherwise(F.lit("unknown")).alias("fmt"),
        g["rate"].cast("int").alias("sample_rate"),
        F.when(is_w & g["db"].isNotNull(), nsamp).alias("n_samples"),
        (sums["s"] / nsamp).alias("mean_amp"),
        F.sqrt(sums["q"] / nsamp).alias("rms"),
        sums["pk"].cast("int").alias("peak_amp"),
        nn.alias("n_bytes"),
    )


#: RIFF chunk-walk budgets for the AVI kernel: top-level chunks
#: (hdrl / JUNK / movi / idx1), header-list children, and movi
#: subchunks (frame + junk chunks) walked per payload.
_AVI_TOP_BUDGET = 6
_AVI_HDRL_BUDGET = 4
_AVI_FRAME_BUDGET = 8

_AVI_CHUNK_ARR_DDL = "array<struct<off:bigint,cid:string,sub:string,size:bigint>>"

_LIST_HEX = "4C495354"   # 'LIST'
_HDRL_HEX = "6864726C"   # 'hdrl'
_MOVI_HEX = "6D6F7669"   # 'movi'
_AVIH_HEX = "61766968"   # 'avih'
_00DB_HEX = "30306462"   # '00db' (uncompressed DIB frame)
_00DC_HEX = "30306463"   # '00dc' (compressed frame)


def _riff_chunk_walk(h: F.Column, start: F.Column, end: F.Column, budget: int) -> F.Column:
    """Bounded RIFF chunk walk over a hex view: from 1-based byte
    ``start`` while the FULL chunk (8-byte header + declared data)
    fits within byte ``end`` inclusive, jumping word-aligned (odd
    sizes pad one byte) — the m04 alignment discipline, so fourcc
    strings embedded in payloads can never re-sync the walk.  Returns
    ``array<struct<off,cid,sub,size>>`` (``sub`` = the first 4 data
    bytes, a LIST's subtype).  Any violation stops the walk with prior
    chunks intact."""

    def le(p: F.Column, nb: int) -> F.Column:
        pairs = [F.substr(h, (p + i) * 2 - 1, F.lit(2)) for i in range(nb)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    def step(acc, _):
        p = acc["p"]
        size = le(p + 4, 4)
        good = acc["ok"] & (p + 7 <= end) & (p + 8 + size - 1 <= end)
        chunk = F.struct(
            p.alias("off"),
            F.substr(h, p * 2 - 1, F.lit(8)).alias("cid"),
            F.substr(h, (p + 8) * 2 - 1, F.lit(8)).alias("sub"),
            size.alias("size"),
        )
        return F.when(
            F.coalesce(good, F.lit(False)),
            F.struct(
                (p + 8 + size + size % 2).alias("p"),
                F.concat(acc["ms"], F.array(chunk)).alias("ms"),
                F.lit(True).alias("ok"),
            ),
        ).otherwise(
            F.struct(acc["p"].alias("p"), acc["ms"].alias("ms"), F.lit(False).alias("ok"))
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(budget)),
        F.struct(
            start.cast("long").alias("p"),
            F.expr(f"CAST(array() AS {_AVI_CHUNK_ARR_DDL})").alias("ms"),
            F.lit(True).alias("ok"),
        ),
        step,
    )["ms"]


def avi_frame_stats(media: DataFrame) -> DataFrame:
    """REAL frame-content decode for the codec-free VIDEO leg (m15):
    an AVI is RIFF('AVI ') → LIST ``hdrl`` (``avih`` main header with
    dwWidth/dwHeight) → LIST ``movi`` whose ``00db`` chunks hold raw
    uncompressed bottom-up BGR24 frames — exactly a BMP pixel array,
    so the m10 fold applies PER FRAME.  One output row per ``00db``
    frame: geometry, exact-integer channel means and Rec.601 luma
    (one float division per output, bit-identical across engines).

    Three bounded chunk walks (top-level → hdrl children → movi
    subchunks) stay scan-local in whole-stage codegen; ``00dc``
    (compressed) chunks advance the frame ordinal but emit no row —
    the codec-gated ``_fake_decode`` remains only for those.  Frames
    out of contract (missing/garbage avih, declared size ≠
    stride·|height|, pixel count past ``_BMP_PIXEL_BUDGET``) emit with
    NULL geometry/stats; walks stop at truncation with prior frames
    intact (the WARC convention).
    """
    h = F.hex("payload")
    n = F.length("payload").cast("long")
    is_avi = (F.substring(h, 1, 8) == F.lit("52494646")) & (
        F.substring(h, 17, 8) == F.lit("41564920")
    )
    s0 = media.select(
        "media_id",
        h.alias("__h"),
        F.when(is_avi, _riff_chunk_walk(h, F.lit(13), n, _AVI_TOP_BUDGET)).alias(
            "__top"
        ),
    )
    hx = F.col("__h")

    def first_match(arr: F.Column, cid_hex: str, sub_hex: str | None = None) -> F.Column:
        cond = (
            (lambda c: (c["cid"] == F.lit(cid_hex)) & (c["sub"] == F.lit(sub_hex)))
            if sub_hex is not None
            else (lambda c: c["cid"] == F.lit(cid_hex))
        )
        return F.try_element_at(F.filter(arr, cond), F.lit(1))

    s1 = s0.select(
        "media_id",
        "__h",
        first_match(F.col("__top"), _LIST_HEX, _HDRL_HEX).alias("__hdrl"),
        first_match(F.col("__top"), _LIST_HEX, _MOVI_HEX).alias("__movi"),
    )
    hd = F.col("__hdrl")
    s2 = s1.select(
        "media_id",
        "__h",
        "__movi",
        F.when(
            hd.isNotNull(),
            _riff_chunk_walk(
                hx, hd["off"] + 12, hd["off"] + 7 + hd["size"], _AVI_HDRL_BUDGET
            ),
        ).alias("__hc"),
    )
    mv = F.col("__movi")
    s3 = s2.select(
        "media_id",
        "__h",
        first_match(F.col("__hc"), _AVIH_HEX).alias("__avih"),
        F.when(
            mv.isNotNull(),
            _riff_chunk_walk(
                hx, mv["off"] + 12, mv["off"] + 7 + mv["size"], _AVI_FRAME_BUDGET
            ),
        ).alias("__mc"),
    )

    def le_at(p: F.Column, nb: int) -> F.Column:
        pairs = [F.substr(hx, (p + i) * 2 - 1, F.lit(2)) for i in range(nb)]
        return F.conv(F.concat(*reversed(pairs)), 16, 10).cast("long")

    def signed32(raw: F.Column) -> F.Column:
        return F.when(raw >= F.lit(2**31), raw - F.lit(2**32)).otherwise(raw)

    av = F.col("__avih")
    avih_ok = av.isNotNull() & (av["size"] >= 40)
    mc = F.col("__mc")
    # frame ordinal = count of frame chunks (00db OR 00dc) strictly
    # before this movi subchunk — compressed frames keep the numbering
    frames = F.filter(
        F.transform(
            mc,
            lambda c, i: F.struct(
                c["off"].alias("off"),
                c["cid"].alias("cid"),
                c["size"].alias("size"),
                F.size(
                    F.filter(
                        F.slice(mc, F.lit(1), i),
                        lambda q: q["cid"].isin(_00DB_HEX, _00DC_HEX),
                    )
                )
                .cast("int")
                .alias("fno"),
            ),
        ),
        lambda c: c["cid"] == F.lit(_00DB_HEX),
    )
    s4 = s3.select(
        "media_id",
        "__h",
        F.when(avih_ok, signed32(le_at(av["off"] + 40, 4))).alias("__w"),
        F.when(avih_ok, signed32(le_at(av["off"] + 44, 4))).alias("__hgt"),
        frames.alias("__frames"),
    ).select("media_id", "__h", "__w", "__hgt", F.posexplode("__frames").alias("_i", "fr"))
    w = F.col("__w")
    absh = F.abs(F.col("__hgt"))
    stride = (F.floor((w * 3 + 3) / 4) * 4).cast("long")
    # bound w/|h| BEFORE trusting the products (the m10 overflow rule)
    geom_ok = (
        w.isNotNull()
        & (w > 0)
        & (w <= F.lit(_BMP_PIXEL_BUDGET))
        & (absh > 0)
        & (absh <= F.lit(_BMP_PIXEL_BUDGET))
    )
    npix = F.when(
        geom_ok & (w * absh <= F.lit(_BMP_PIXEL_BUDGET)),
        F.when(F.col("fr.size") == stride * absh, w * absh),
    )
    s5 = s4.select(
        "media_id",
        "__h",
        F.col("__w").cast("int").alias("__w32"),
        F.col("__hgt").cast("int").alias("__h32"),
        F.col("fr.fno").alias("frame_no"),
        F.col("fr.size").alias("__fsize"),
        (F.col("fr.off") + 8).alias("__do"),  # frame data start (1-based)
        stride.alias("__st"),
        npix.alias("__npix"),
    )
    hs = F.col("__h")
    w_c = F.col("__w32").cast("long")
    do_c, st_c, npix_c = F.col("__do"), F.col("__st"), F.col("__npix")

    def u8(pos: F.Column) -> F.Column:
        return F.conv(F.substr(hs, pos * 2 - 1, F.lit(2)), 16, 10).cast("long")

    def fold_step(acc, i):
        r = F.floor(i / w_c).cast("long")
        pos = do_c + r * st_c + (i - r * w_c) * 3
        return F.struct(
            (acc["sb"] + u8(pos)).alias("sb"),
            (acc["sg"] + u8(pos + 1)).alias("sg"),
            (acc["sr"] + u8(pos + 2)).alias("sr"),
        )

    zero = F.lit(0).cast("long")
    sums = F.when(
        npix_c.isNotNull(),
        F.aggregate(
            F.sequence(zero, npix_c - 1),
            F.struct(zero.alias("sb"), zero.alias("sg"), zero.alias("sr")),
            fold_step,
        ),
    )
    return s5.select(
        "media_id",
        "frame_no",
        F.col("__w32").alias("width"),
        F.col("__h32").alias("height"),
        npix_c.alias("n_px"),
        (sums["sr"] / npix_c).alias("mean_r"),
        (sums["sg"] / npix_c).alias("mean_g"),
        (sums["sb"] / npix_c).alias("mean_b"),
        (
            (
                F.lit(0.299) * sums["sr"]
                + F.lit(0.587) * sums["sg"]
                + F.lit(0.114) * sums["sb"]
            )
            / npix_c
        ).alias("mean_luma"),
        F.col("__fsize").alias("frame_bytes"),
    )


def _real_decode_bmp(b: bytes) -> tuple[int, int, list[float]] | None:
    """REAL pixel decode for the codec-free format: 24bpp BI_RGB BMP.
    Vectorized over the raw pixel array (numpy frombuffer + strided
    reshape — no per-pixel Python), returning (width, |height|, 8-dim
    feature = per-channel mean/std + luma mean + fill).  Returns None
    when the payload is not an in-contract BMP (caller falls back)."""
    if len(b) < 34 or b[:2] != b"BM":
        return None
    import numpy as np

    data_off = struct.unpack_from("<I", b, 10)[0]
    dib = struct.unpack_from("<I", b, 14)[0]
    w, hgt = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    absh, stride = abs(hgt), (3 * w + 3) // 4 * 4
    if not (
        dib in _BMP_DIB_SIZES and bpp == 24 and comp == 0
        and w > 0 and absh > 0 and data_off + stride * absh <= len(b)
    ):
        return None
    arr = np.frombuffer(b, dtype=np.uint8, count=stride * absh, offset=data_off)
    px = arr.reshape(absh, stride)[:, : 3 * w].reshape(-1, 3).astype(np.float64)
    bgr_mean = px.mean(axis=0)
    bgr_std = px.std(axis=0)
    luma = 0.299 * bgr_mean[2] + 0.587 * bgr_mean[1] + 0.114 * bgr_mean[0]
    feature = [
        bgr_mean[2] / 255.0, bgr_mean[1] / 255.0, bgr_mean[0] / 255.0,
        luma / 255.0,
        bgr_std[2] / 255.0, bgr_std[1] / 255.0, bgr_std[0] / 255.0,
        0.0,
    ]
    return w, absh, feature


def _parse_avi(
    b: bytes,
) -> tuple[int | None, int | None, list[tuple[int, bytes, bytes]]] | None:
    """Kernel twin of the ``avi_frame_stats`` chunk walks: returns
    (width, height, frames) where frames is
    ``[(frame_no, fourcc, data), ...]`` over the movi subchunks (both
    '00db' and '00dc'; the ordinal counts both), or None when the
    payload is not RIFF('AVI ').  Same budgets and bounds as the
    expression path."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None

    def chunks(lo: int, hi: int, budget: int) -> list[tuple[int, bytes, int]]:
        out, p, steps = [], lo, 0
        while steps < budget and p + 8 <= hi:
            cid = b[p : p + 4]
            (sz,) = struct.unpack_from("<I", b, p + 4)
            if p + 8 + sz > hi:
                break
            out.append((p, cid, sz))
            p += 8 + sz + (sz % 2)
            steps += 1
        return out

    def first_list(top, subtype):
        for off, cid, sz in top:
            if cid == b"LIST" and b[off + 8 : off + 12] == subtype:
                return off, sz
        return None

    top = chunks(12, len(b), _AVI_TOP_BUDGET)
    w = hgt = None
    hdrl = first_list(top, b"hdrl")
    if hdrl is not None:
        for off, cid, sz in chunks(hdrl[0] + 12, hdrl[0] + 8 + hdrl[1], _AVI_HDRL_BUDGET):
            if cid == b"avih" and sz >= 40:
                w, hgt = struct.unpack_from("<ii", b, off + 8 + 32)
                break
    frames: list[tuple[int, bytes, bytes]] = []
    movi = first_list(top, b"movi")
    if movi is not None:
        fno = 0
        for off, cid, sz in chunks(movi[0] + 12, movi[0] + 8 + movi[1], _AVI_FRAME_BUDGET):
            if cid in (b"00db", b"00dc"):
                frames.append((fno, cid, b[off + 8 : off + 8 + sz]))
                fno += 1
    return w, hgt, frames


def _real_decode_avi(b: bytes) -> tuple[int, int, list[float]] | None:
    """REAL frame decode for the codec-free video format: the FIRST
    uncompressed ('00db') frame of an AVI is a raw bottom-up BGR24
    pixel array — featurized exactly like ``_real_decode_bmp``
    (vectorized numpy, no per-pixel Python).  Returns None when the
    payload is not an AVI or carries no in-contract uncompressed frame
    (caller falls back to the codec-gated fake)."""
    parsed = _parse_avi(b)
    if parsed is None:
        return None
    w, hgt, frames = parsed
    if w is None or w <= 0 or hgt is None or hgt == 0:
        return None
    import numpy as np

    absh, stride = abs(hgt), (3 * w + 3) // 4 * 4
    for _fno, cc, data in frames:
        if cc != b"00db" or len(data) != stride * absh:
            continue
        arr = np.frombuffer(data, dtype=np.uint8)
        px = arr.reshape(absh, stride)[:, : 3 * w].reshape(-1, 3).astype(np.float64)
        bgr_mean = px.mean(axis=0)
        bgr_std = px.std(axis=0)
        luma = 0.299 * bgr_mean[2] + 0.587 * bgr_mean[1] + 0.114 * bgr_mean[0]
        return w, absh, [
            bgr_mean[2] / 255.0, bgr_mean[1] / 255.0, bgr_mean[0] / 255.0,
            luma / 255.0,
            bgr_std[2] / 255.0, bgr_std[1] / 255.0, bgr_std[0] / 255.0,
            0.0,
        ]
    return None


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB decode — deterministic fake standing in for PIL/ffmpeg on
    COMPRESSED formats only (the codec-free ones decode for real:
    ``_real_decode_bmp`` / ``_real_decode_avi`` here, the m03-m15
    expression kernels engine-side).

    Real deployment: ``Image.open(io.BytesIO(payload))`` etc.  Here the
    "image" dimensions and an 8-dim "feature vector" derive from the
    payload's sha256 so results are stable for tests.  Raises on None to
    mirror a real decoder's failure mode.
    """
    if payload is None:
        raise NotImplementedError("decode of null payload (real codec would raise)")
    digest = hashlib.sha256(bytes(payload)).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    feature = [b / 255.0 for b in digest[:8]]
    return width, height, feature


def _decode_dispatch(payload: bytes) -> tuple[int, int, list[float]]:
    """Real decode where no codec is needed (uncompressed BMP pixels,
    uncompressed-AVI frames), deterministic fake elsewhere."""
    if payload is not None:
        b = bytes(payload)
        real = _real_decode_bmp(b) or _real_decode_avi(b)
        if real is not None:
            return real
    return _fake_decode(payload)


def extract_media_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Decode + featurize media payloads via Arrow-batched mapInPandas.

    Partition-parallel: each task pulls Arrow batches, decodes rows in
    Python once per batch, emits a typed feature frame.  No driver
    collection, no per-row UDF dispatch.  24bpp BMP payloads decode
    for REAL (numpy over the raw pixel array); compressed formats keep
    the documented ``_fake_decode`` stand-in until a codec exists in
    the environment.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["meta"].map(lambda m: m["kind"]),
                "n_bytes": pdf["meta"].map(lambda m: m["n_bytes"]),
            }
            decoded = pdf["payload"].map(_decode_dispatch)
            out["width"] = decoded.map(lambda d: d[0]).astype("int32")
            out["height"] = decoded.map(lambda d: d[1]).astype("int32")
            out["feature"] = decoded.map(lambda d: d[2])
            yield pd.DataFrame(out)

    return media.mapInPandas(kernel, schema=FEATURES_SCHEMA)



def sample_video_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling kernel shape: one input row → many frame rows
    (mapInPandas is the right operator because output cardinality
    changes).  Uncompressed AVIs decode for REAL: every ``every_n``-th
    ``00db`` frame's raw BGR24 bytes emit with its true frame ordinal
    (``_parse_avi`` — the same walks as the m15 expression kernel).
    Only payloads with no decodable uncompressed frame keep the STUB
    (``n_bytes // (every_n * 1024) + 1`` synthetic rows with
    deterministic ids) — the codec gate, same as ``_fake_decode``."""
    frame_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                payload = r["payload"]
                parsed = _parse_avi(bytes(payload)) if payload is not None else None
                real = [
                    (fno, data)
                    for fno, cc, data in (parsed[2] if parsed else [])
                    if cc == b"00db"
                ]
                if real:
                    for fno, data in real:
                        if fno % every_n == 0:
                            rows.append((r["media_id"], fno, data))
                    continue
                n_frames = int(r["meta"]["n_bytes"]) // (every_n * 1024) + 1
                for i in range(n_frames):
                    rows.append((r["media_id"], i, bytes(r["payload"][:16])))
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame"])

    return media.mapInPandas(kernel, schema=frame_schema)
