"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video content is carried as opaque ``binary`` columns with
typed metadata alongside. The Spark-side plumbing — schema, Arrow batch
shape, partitioning — is real and tested, and every per-blob extractor
runs through the one ``mapInArrow`` kernel,
:func:`parquet_compactor_spark.llm.extract.extract`.
Image HEADER decoding (dimensions/bit-depth/mode for PNG, JPEG, GIF) is
real too — a pure-Python byte parse, no codec library (``decode_image``) —
and so is PIXEL decoding for all three: PNG (stdlib zlib + integer
unfilter, ``decode_png_pixels``), GIF (a from-spec LZW,
``decode_gif_pixels``), and baseline JPEG (huffman + fixed-point
integer IDCT, ``decode_jpeg_pixels``). Progressive JPEG and non-image
codecs remain the documented external-library seam; non-image payloads
take a deterministic fake keyed on payload bytes so the pipeline stays
SQL-oracle-expressible.

The fixture lake has no binary table, so payloads are derived from
``documents.text`` utf-8 bytes — which also makes the fake-decode
arithmetic SQL-expressible, so even the Python per-blob path is
oracle-checked.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_compactor_spark.llm.extract import DECODE_ERRORS, extract
from parquet_compactor_spark.registry import load, register

META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, n_frames int, modality string"
)


def fake_decode_meta(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic stand-in for a codec header parse.

    STUB — a real deployment replaces this with PIL/ffprobe/soundfile; see
    :func:`decode_image`. Keyed only on payload length so the DuckDB oracle
    can replicate it.
    """
    n = len(payload)
    width = 64 + n % 512
    height = 64 + (n * 7) % 512
    n_frames = 1 + n % 30
    modality = ("image", "audio", "video")[n % 3]
    return width, height, n_frames, modality


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
_JPEG_MODES = {1: "L", 3: "RGB", 4: "CMYK"}
# SOF0..SOF15 carry frame dimensions, EXCEPT the non-frame members of
# the 0xC0 block: DHT (C4), JPG (C8), DAC (CC).
_JPEG_NON_FRAME = (0xC4, 0xC8, 0xCC)


def decode_image(payload: bytes) -> dict:
    """Real image HEADER decode — pure Python, no codec library.

    Parses the three formats whose headers are fully specified by public
    byte layouts: PNG (8-byte magic + IHDR at offset 12: width/height as
    big-endian u32, bit depth, color type — PNG spec §11.2.2), JPEG
    (SOI then marker segments; the first SOF frame header carries
    precision/height/width/components — ITU T.81 §B.2.2), and GIF
    (``GIF87a``/``GIF89a`` + little-endian u16 logical screen size).

    Returns ``{"format", "width", "height", "bit_depth", "mode"}``.
    Raises ``ValueError`` for a recognized-but-corrupt payload (loud
    failure, same discipline as the avro decoder) and
    ``NotImplementedError`` for genuinely unsupported codecs — PIXEL
    decoding (and every other format) still needs an external library;
    this seam is where it plugs in.
    """
    if payload[:8] == _PNG_MAGIC:
        if len(payload) < 26 or payload[12:16] != b"IHDR":
            raise ValueError("corrupt PNG: IHDR chunk not at byte 12")
        w, h, depth, color_type = struct.unpack(">IIBB", payload[16:26])
        if not w or not h:
            raise ValueError(f"corrupt PNG: zero dimension {w}x{h}")
        return {
            "format": "png",
            "width": w,
            "height": h,
            "bit_depth": depth,
            "mode": _PNG_MODES.get(color_type, f"type{color_type}"),
        }
    if payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:
                raise ValueError(f"corrupt JPEG: expected marker at byte {i}")
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte padding before a marker
                i += 1
                continue
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if marker == 0xD9:  # EOI before any SOF
                break
            (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
            if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NON_FRAME:
                if i + 10 > len(payload):
                    raise ValueError("corrupt JPEG: truncated SOF header")
                depth, h, w, ncomp = struct.unpack(
                    ">BHHB", payload[i + 4 : i + 10]
                )
                return {
                    "format": "jpeg",
                    "width": w,
                    "height": h,
                    "bit_depth": depth,
                    "mode": _JPEG_MODES.get(ncomp, f"{ncomp}comp"),
                }
            i += 2 + seg_len
        raise ValueError("corrupt JPEG: no SOF frame header before EOI")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            raise ValueError("corrupt GIF: truncated logical screen descriptor")
        w, h = struct.unpack("<HH", payload[6:10])
        return {"format": "gif", "width": w, "height": h, "bit_depth": 8, "mode": "P"}
    raise NotImplementedError(
        f"unsupported image format (magic {payload[:8]!r}): PNG/JPEG/GIF "
        "headers are parsed natively; other codecs (and pixel decoding) "
        "require an external library at this seam"
    )


def _blob_meta(payload: bytes) -> tuple[int, int, int, str]:
    """Per-blob metadata: real header parse for real images, fake elsewhere.

    Only the pure-binary magics (PNG ``\\x89PNG``, JPEG ``\\xff\\xd8``) are
    auto-sniffed here: neither byte sequence can occur in utf-8 text, so
    the fixture's text-derived payloads deterministically take the fake
    path and stay SQL-oracle-expressible, while any genuine image blob
    (e.g. via :func:`ingest_binary_dir`) gets its actual dimensions. GIF's
    ASCII magic could collide with text content, so GIF decoding is
    explicit-call only (:func:`decode_image`).

    A magic match is a HINT, not proof: arbitrary binary (audio, video,
    truncated uploads) hits the two-byte JPEG magic at ~1/65536, which
    is a certainty across a real lake. A failed parse therefore degrades
    to the fake-meta path instead of propagating — one corrupt blob must
    never abort a whole extract job; :func:`decode_image` stays strict
    for callers that want the loud failure.
    """
    b = b"" if payload is None else bytes(payload)  # NULL cell ≠ job abort
    if b[:8] == _PNG_MAGIC or b[:2] == b"\xff\xd8":
        try:
            m = decode_image(b)
        except DECODE_ERRORS:
            return fake_decode_meta(b)
        return m["width"], m["height"], 1, "image"
    return fake_decode_meta(b)


def extract_media_meta(df: DataFrame) -> DataFrame:
    """Metadata extraction over (doc_id, payload: binary).

    Arrow-batched through :func:`extract`: payload bytes → typed metadata
    columns. This is the canonical shape for any per-blob Python work
    (decode, feature-extract, resize): PNG/JPEG payloads get a real
    header parse (:func:`_blob_meta`), everything else the deterministic
    fake — swap in a full codec at the same seam and the distributed
    plumbing is unchanged.
    """

    def meta(payload) -> dict:
        width, height, n_frames, modality = _blob_meta(payload)
        return {
            "n_bytes": 0 if payload is None else len(payload),
            "width": width,
            "height": height,
            "n_frames": n_frames,
            "modality": modality,
        }

    return extract(df, meta, META_SCHEMA)


@register(
    "q_multimodal_meta",
    oracle="""
    WITH meta AS (
        SELECT doc_id,
               source,
               strlen(text)                    AS n_bytes,
               64 + strlen(text) % 512         AS width,
               64 + (strlen(text) * 7) % 512   AS height,
               1 + strlen(text) % 30           AS n_frames,
               ['image', 'audio', 'video'][1 + strlen(text) % 3] AS modality
        -- a NULL payload has no modality: pinned out on BOTH engines
        -- (the decode stage skips it; the oracle would otherwise grow a
        -- NULL-modality group — r7 hostile NULL-text sweep find)
        FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           modality,
           COUNT(*)        AS n_blobs,
           CAST(SUM(n_bytes) AS BIGINT)    AS total_bytes,
           MAX(width)      AS max_width,
           MAX(height)     AS max_height,
           CAST(SUM(n_frames) AS BIGINT)   AS total_frames
    FROM meta
    GROUP BY source, modality
    """,
    doc="Multimodal metadata pipeline: binary payload column → Arrow-"
    "batched mapInArrow decode (deterministic fake; real codec is the "
    "documented stub seam) → typed metadata → relational agg. Proves the "
    "full binary-column plumbing end-to-end against a SQL oracle.",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", "source", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    meta = extract_media_meta(payloads.select("doc_id", "payload"))
    return (
        meta.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "modality")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.max("height").alias("max_height"),
            F.sum("n_frames").alias("total_frames"),
        )
    )


def sample_frames(meta: DataFrame, every_k: int = 5) -> DataFrame:
    """Frame sampling over video metadata: one output row per sampled frame.

    Takes the ``extract_media_meta`` output, keeps videos, and explodes a
    stride-``every_k`` frame-index sequence with the byte offset each frame
    would be decoded from. This is the distributed frame-sampling plumbing
    (explode keeps it JVM-side and shuffle-free); the per-frame pixel
    decode plugs in at :func:`decode_image`.
    """
    return (
        meta.filter(F.col("modality") == "video")
        .select(
            "doc_id",
            "n_frames",
            "n_bytes",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "n_frames",
            "frame_idx",
            (F.col("frame_idx") * (F.col("n_bytes") / F.col("n_frames")).cast("bigint"))
            .alias("byte_offset"),
        )
    )


@register(
    "q_frame_sample",
    oracle="""
    WITH meta AS (
        SELECT doc_id,
               strlen(text)                  AS n_bytes,
               1 + strlen(text) % 30         AS n_frames,
               strlen(text) % 3              AS m_idx
        FROM documents
    ),
    vids AS (SELECT * FROM meta WHERE m_idx = 2)
    SELECT doc_id,
           n_frames,
           unnest(range(0, n_frames, 5))                         AS frame_idx,
           unnest(range(0, n_frames, 5)) * (n_bytes // n_frames) AS byte_offset
    FROM vids
    """,
    doc="Video frame sampling: binary payloads → mapInArrow metadata → "
    "every-5th-frame index/byte-offset explosion (the decode-ready work "
    "list a video pipeline feeds to per-frame codecs). Narrow ops only — "
    "no shuffle; at 100 TB each executor samples its own blobs.",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    meta = extract_media_meta(payloads)
    return sample_frames(meta, every_k=5)


def ingest_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw blob directory → the engine's (doc_id, payload) multimodal shape.

    Reads whole files via the ``binaryFile`` source (one row per blob,
    parallel across executors), derives a stable ``doc_id`` from the file
    path (xxhash64 — deterministic across runs, unlike
    ``monotonically_increasing_id``), and carries ``source_path`` for
    lineage. Output plugs straight into :func:`extract_media_meta`.
    """
    from parquet_compactor_spark.sources.io import read_binary_files

    blobs = read_binary_files(spark, path, glob=glob)
    return blobs.select(
        F.xxhash64("path").alias("doc_id"),
        F.col("path").alias("source_path"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )


# --------------------------------------------------------------------------
# ISO-BMFF (MP4/MOV) metadata: real box-walk parser + synthetic encoder
# --------------------------------------------------------------------------
#
# The video column's q_multimodal_meta-style step (round-13 verdict,
# missing #1): a metadata-only ISO base-media box walk — duration,
# timescale, track count, codec fourcc, sample/keyframe counts and the
# keyframe byte offset — parsed from the public byte layout (ISO/IEC
# 14496-12: box = u32 size + fourcc, size==1 -> u64 largesize,
# size==0 -> to EOF; FullBox = u8 version + u24 flags). This is what a
# training-data pipeline actually needs from a 100 TB video lake before
# any pixel work (dedup keys, duration/keyframe budgeting, codec
# routing), and unlike pixel decode it is bit-deterministic by
# construction — header integers, no codec, no float.
#
# Correctness story (the q_phash_dedup recipe): the fixture lake has no
# binary table, so q_video_meta SYNTHESIZES a real container per row —
# deterministic parameters from the payload byte length, byte-encoded
# via _synth_mp4 — and runs the REAL parser over those real bytes; the
# DuckDB oracle replays the parameter closed form, so a parser bug (or
# an encoder/parser disagreement about the spec) diverges and fails the
# driver row. Planted-fixture pytest covers genuine-lake shapes the
# closed form can't reach (corrupt truncations, box overruns,
# largesize/free variants at every position).

#: 16.16 fixed-point identity matrix (ISO 14496-12 §8.2.2.2).
_MP4_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)
#: Containers the box walk recurses into (everything else is a leaf).
_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def synth_mp4_params(n: int) -> dict:
    """The deterministic container parameters for a payload of ``n``
    bytes — the single closed form shared by the encoder, the query's
    expected output, and the DuckDB oracle. Chosen to sweep the parse
    paths: mvhd version 0/1 by parity, both codec fourccs, a 1- or
    2-track layout, and (in :func:`_synth_mp4`) largesize mdat and
    ``free``-box skips on residue classes."""
    n_samples = 1 + n % 60
    return {
        "major_brand": "isom" if n % 2 == 0 else "mp42",
        "mvhd_version": n % 2,
        "timescale": 600 + 100 * (n % 5),
        "n_samples": n_samples,
        "frame_delta": 256,
        "duration": n_samples * 256,
        "video_codec": "hev1" if n % 3 == 0 else "avc1",
        "width": 16 * (4 + n % 60),
        "height": 16 * (3 + n % 34),
        "sample_size": 100 + n % 900,
        "kf_interval": 8,
        "has_audio": n % 4 != 0,
        "chunk_offset": 4096,
    }


def _box(fourcc: bytes, payload: bytes, large: bool = False) -> bytes:
    if large:
        return struct.pack(">I4sQ", 1, fourcc, 16 + len(payload)) + payload
    return struct.pack(">I4s", 8 + len(payload), fourcc) + payload


def _full(version: int, flags: int = 0) -> bytes:
    return struct.pack(">I", (version << 24) | flags)


def _synth_mp4(n: int) -> bytes:
    """A REAL (structurally valid, spec-layout) ISO-BMFF container for
    the :func:`synth_mp4_params` of ``n`` — every box a player's
    demuxer would walk for metadata, with deterministic contents. The
    mdat carries filler (no actual codec bitstream): the fixture is for
    the METADATA pipeline, exactly as the q_frame_sample docstring
    scopes the video column."""
    p = synth_mp4_params(n)
    ts, dur, ns = p["timescale"], p["duration"], p["n_samples"]

    ftyp = _box(
        b"ftyp",
        p["major_brand"].encode() + struct.pack(">I", 0) + b"iso2",
    )
    if p["mvhd_version"]:
        head = _full(1) + struct.pack(">QQIQ", 0, 0, ts, dur)
    else:
        head = _full(0) + struct.pack(">IIII", 0, 0, ts, dur)
    mvhd = _box(
        b"mvhd",
        head
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
        + b"\x00" * 8
        + _MP4_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 3),  # next_track_ID
    )

    def tkhd(track_id: int, w: int, h: int) -> bytes:
        return _box(
            b"tkhd",
            _full(0, 7)
            + struct.pack(">IIIII", 0, 0, track_id, 0, dur)
            + b"\x00" * 8
            + struct.pack(">hhHH", 0, 0, 0, 0)
            + _MP4_MATRIX
            + struct.pack(">II", w << 16, h << 16),
        )

    def hdlr(handler: bytes) -> bytes:
        return _box(
            b"hdlr",
            _full(0) + struct.pack(">I", 0) + handler + b"\x00" * 12 + b"\x00",
        )

    def stts() -> bytes:
        return _box(
            b"stts",
            _full(0) + struct.pack(">III", 1, ns, p["frame_delta"]),
        )

    def stsz() -> bytes:
        return _box(
            b"stsz", _full(0) + struct.pack(">II", p["sample_size"], ns)
        )

    def stco() -> bytes:
        return _box(
            b"stco", _full(0) + struct.pack(">II", 1, p["chunk_offset"])
        )

    # Video track: VisualSampleEntry (86 bytes, ISO 14496-12 §12.1.3).
    ventry = (
        struct.pack(">I4s", 86, p["video_codec"].encode())
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + struct.pack(">HH", 0, 0)
        + b"\x00" * 12
        + struct.pack(">HH", p["width"], p["height"])
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 0x0018, -1)
    )
    kfs = list(range(1, ns + 1, p["kf_interval"]))
    v_stbl = _box(
        b"stbl",
        _box(b"stsd", _full(0) + struct.pack(">I", 1) + ventry)
        + stts()
        + _box(
            b"stss",
            _full(0) + struct.pack(f">I{len(kfs)}I", len(kfs), *kfs),
        )
        + stsz()
        + _box(b"stsc", _full(0) + struct.pack(">IIII", 1, 1, ns, 1))
        + stco(),
    )
    v_mdhd = _box(
        b"mdhd",
        _full(0)
        + struct.pack(">IIII", 0, 0, ts, dur)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    v_trak = _box(
        b"trak",
        tkhd(1, p["width"], p["height"])
        + _box(
            b"mdia", v_mdhd + hdlr(b"vide") + _box(b"minf", v_stbl)
        ),
    )

    traks = v_trak
    if p["has_audio"]:
        # AudioSampleEntry (36 bytes); mdhd v1 exercises the 64-bit
        # fullbox parse on the track level.
        aentry = (
            struct.pack(">I4s", 36, b"mp4a")
            + b"\x00" * 6
            + struct.pack(">H", 1)
            + b"\x00" * 8
            + struct.pack(">HHHH", 2, 16, 0, 0)
            + struct.pack(">I", 48000 << 16)
        )
        a_stbl = _box(
            b"stbl",
            _box(b"stsd", _full(0) + struct.pack(">I", 1) + aentry)
            + stts()
            + stsz()
            + stco(),
        )
        a_mdhd = _box(
            b"mdhd",
            _full(1)
            + struct.pack(">QQIQ", 0, 0, 48000, dur)
            + struct.pack(">HH", 0x55C4, 0),
        )
        traks += _box(
            b"trak",
            tkhd(2, 0, 0)
            + _box(
                b"mdia", a_mdhd + hdlr(b"soun") + _box(b"minf", a_stbl)
            ),
        )

    moov = _box(b"moov", mvhd + traks)
    out = ftyp
    if n % 7 == 0:  # exercise the skip path at top level
        out += _box(b"free", b"\x00" * 8)
    out += moov
    out += _box(b"mdat", b"\xab" * (n % 17), large=(n % 5 == 0))
    return out


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for the boxes in [start, end).

    Loud on structural corruption: a box that overruns its container or
    a truncated size/largesize header raises ValueError (one corrupt
    blob degrades row-wise at the extract seam, same discipline as the
    image decoders)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("corrupt ISO-BMFF: truncated box header")
        size, typ = struct.unpack_from(">I4s", buf, pos)
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("corrupt ISO-BMFF: truncated largesize")
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            hdr = 16
        elif size == 0:  # box extends to end of enclosing container
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(
                f"corrupt ISO-BMFF: box {typ!r} overruns its container"
            )
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_fullbox_version(buf: bytes, b0: int, b1: int) -> int:
    if b1 - b0 < 4:
        raise ValueError("corrupt ISO-BMFF: truncated FullBox")
    return buf[b0]


def _parse_mvhd(buf: bytes, b0: int, b1: int) -> tuple[int, int, int]:
    v = _mp4_fullbox_version(buf, b0, b1)
    if v == 1:
        if b1 - b0 < 32:
            raise ValueError("corrupt ISO-BMFF: short mvhd v1")
        (ts,) = struct.unpack_from(">I", buf, b0 + 20)
        (dur,) = struct.unpack_from(">Q", buf, b0 + 24)
    elif v == 0:
        if b1 - b0 < 20:
            raise ValueError("corrupt ISO-BMFF: short mvhd v0")
        ts, dur = struct.unpack_from(">II", buf, b0 + 12)
    else:
        raise ValueError(f"corrupt ISO-BMFF: mvhd version {v}")
    return v, ts, dur


def _parse_trak(buf: bytes, b0: int, b1: int) -> dict:
    t: dict = {"handler": None, "codec": None}
    for typ, c0, c1 in _mp4_boxes(buf, b0, b1):
        if typ != b"mdia":
            continue
        for m, d0, d1 in _mp4_boxes(buf, c0, c1):
            if m == b"hdlr":
                if d1 - d0 < 12:
                    raise ValueError("corrupt ISO-BMFF: short hdlr")
                t["handler"] = buf[d0 + 8 : d0 + 12].decode("latin-1")
            elif m == b"minf":
                for s, e0, e1 in _mp4_boxes(buf, d0, d1):
                    if s == b"stbl":
                        t.update(_parse_stbl(buf, e0, e1))
    return t


def _parse_stbl(buf: bytes, b0: int, b1: int) -> dict:
    out: dict = {}
    for typ, c0, c1 in _mp4_boxes(buf, b0, b1):
        if typ == b"stsd":
            if c1 - c0 < 16:
                raise ValueError("corrupt ISO-BMFF: short stsd")
            (n_entries,) = struct.unpack_from(">I", buf, c0 + 4)
            if n_entries < 1:
                raise ValueError("corrupt ISO-BMFF: empty stsd")
            e0 = c0 + 8
            out["codec"] = buf[e0 + 4 : e0 + 8].decode("latin-1")
            if c1 - e0 >= 36:
                out["se_width"], out["se_height"] = struct.unpack_from(
                    ">HH", buf, e0 + 32
                )
        elif typ == b"stts":
            (n_entries,) = struct.unpack_from(">I", buf, c0 + 4)
            total = dur = 0
            for i in range(n_entries):
                cnt, delta = struct.unpack_from(">II", buf, c0 + 8 + 8 * i)
                total += cnt
                dur += cnt * delta
            out["stts_samples"], out["stts_duration"] = total, dur
        elif typ == b"stss":
            (n_kf,) = struct.unpack_from(">I", buf, c0 + 4)
            out["sync_samples"] = list(
                struct.unpack_from(f">{n_kf}I", buf, c0 + 8)
            )
        elif typ == b"stsz":
            out["sample_size"], out["n_samples"] = struct.unpack_from(
                ">II", buf, c0 + 4
            )
        elif typ == b"stco":
            (n_co,) = struct.unpack_from(">I", buf, c0 + 4)
            if n_co >= 1:
                (out["chunk_offset"],) = struct.unpack_from(
                    ">I", buf, c0 + 8
                )
    return out


def decode_mp4_meta(payload: bytes) -> dict:
    """Real ISO-BMFF (MP4/MOV/3GP…) METADATA decode — a pure-Python box
    walk over the public byte layout (ISO/IEC 14496-12), no codec
    library, integer-only outputs (DuckDB-replayable).

    Returns ``{"major_brand", "mvhd_version", "timescale", "duration",
    "n_tracks", "video_codec", "audio_codec", "width", "height",
    "n_samples", "n_keyframes", "last_kf_offset"}`` — duration in
    movie-timescale units (rendering to seconds is the caller's
    division); width/height from the visual sample entry; keyframe
    facts from stss/stsz/stco (``last_kf_offset`` is exact for
    constant-size samples, the common metadata case, else None).

    Raises ``ValueError`` on structural corruption (box overruns,
    truncated headers, stts/stsz sample-count disagreement — the walk
    cross-checks them) so callers can degrade row-wise; stays metadata-
    only by design: pixel/audio decode is the documented external-
    library seam. Handles largesize (64-bit) boxes, size-0
    to-end-of-file boxes, and mvhd/mdhd versions 0 and 1.
    """
    buf = bytes(payload)
    if len(buf) < 12 or buf[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp at offset 4)")
    major = mvhd = None
    tracks: list[dict] = []
    for typ, b0, b1 in _mp4_boxes(buf, 0, len(buf)):
        if typ == b"ftyp":
            if b1 - b0 < 4:
                raise ValueError("corrupt ISO-BMFF: short ftyp")
            major = buf[b0 : b0 + 4].decode("latin-1")
        elif typ == b"moov":
            for m, c0, c1 in _mp4_boxes(buf, b0, b1):
                if m == b"mvhd":
                    mvhd = _parse_mvhd(buf, c0, c1)
                elif m == b"trak":
                    tracks.append(_parse_trak(buf, c0, c1))
    if major is None or mvhd is None or not tracks:
        raise ValueError("corrupt ISO-BMFF: missing ftyp/moov/mvhd/trak")
    video = next((t for t in tracks if t.get("handler") == "vide"), None)
    audio = next((t for t in tracks if t.get("handler") == "soun"), None)
    out = {
        "major_brand": major,
        "mvhd_version": mvhd[0],
        "timescale": mvhd[1],
        "duration": mvhd[2],
        "n_tracks": len(tracks),
        "video_codec": video["codec"] if video else None,
        "audio_codec": audio["codec"] if audio else None,
        "width": video.get("se_width") if video else None,
        "height": video.get("se_height") if video else None,
        "n_samples": None,
        "n_keyframes": None,
        "last_kf_offset": None,
    }
    if video:
        ns = video.get("n_samples")
        if ns is not None and video.get("stts_samples") not in (None, ns):
            raise ValueError(
                "corrupt ISO-BMFF: stts/stsz sample counts disagree "
                f"({video.get('stts_samples')} vs {ns})"
            )
        out["n_samples"] = ns
        sync = video.get("sync_samples")
        if sync is not None:
            out["n_keyframes"] = len(sync)
            sz = video.get("sample_size")
            co = video.get("chunk_offset")
            if sync and sz and co is not None:
                out["last_kf_offset"] = co + (sync[-1] - 1) * sz
    return out


VIDEO_META_SCHEMA = (
    "doc_id bigint, major_brand string, n_tracks int, timescale bigint, "
    "duration bigint, video_codec string, width int, height int, "
    "n_samples int, n_keyframes int, last_kf_offset bigint"
)


def extract_video_meta(df: DataFrame) -> DataFrame:
    """ISO-BMFF metadata over (doc_id, payload: binary) —
    the genuine-lake entry point (``ingest_binary_dir`` →
    ``extract_video_meta``). Rows whose payload is not a parseable
    container are DROPPED (row-wise degrade — one corrupt blob must
    never abort a 100 TB sweep; route non-video blobs to
    :func:`extract_media_meta` instead). Arrow-batched; header-only
    parsing, so cost per blob is independent of blob size once the
    bytes are local."""
    return extract(df, lambda b: decode_mp4_meta(b or b""), VIDEO_META_SCHEMA)


@register(
    "q_video_meta",
    oracle="""
    SELECT doc_id,
           CASE WHEN strlen(text) % 2 = 0 THEN 'isom' ELSE 'mp42' END
               AS major_brand,
           CASE WHEN strlen(text) % 4 = 0 THEN 1 ELSE 2 END AS n_tracks,
           600 + 100 * (strlen(text) % 5)                   AS timescale,
           CAST((1 + strlen(text) % 60) * 256 AS BIGINT)    AS duration,
           CASE WHEN strlen(text) % 3 = 0 THEN 'hev1' ELSE 'avc1' END
               AS video_codec,
           16 * (4 + strlen(text) % 60)                     AS width,
           16 * (3 + strlen(text) % 34)                     AS height,
           CAST(1 + strlen(text) % 60 AS INT)               AS n_samples,
           CAST(1 + (strlen(text) % 60) // 8 AS INT)        AS n_keyframes,
           CAST(4096 + (8 * ((strlen(text) % 60) // 8))
                * (100 + strlen(text) % 900) AS BIGINT)     AS last_kf_offset
    FROM documents WHERE text IS NOT NULL
    """,
    doc="ISO-BMFF video metadata: per row, a REAL MP4 container is "
    "synthesized from the payload's byte length (deterministic "
    "parameters, spec byte layout — mvhd v0/v1, 1-2 tracks, avc1/hev1, "
    "largesize mdat and free-box variants on residue classes) and the "
    "REAL box-walk parser (decode_mp4_meta) recovers brand, timescale, "
    "duration, track count, codec fourcc, sample/keyframe counts and "
    "the last keyframe's byte offset (stss+stsz+stco arithmetic). The "
    "oracle replays the parameter closed form, so the driver row "
    "checks the parser against an independent computation — the video "
    "twin of q_phash_dedup's recipe. Map-only (no shuffle); on a "
    "genuine lake the same parser runs via ingest_binary_dir -> "
    "extract_video_meta.",
)
def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )
    return extract(
        payloads,
        lambda n: decode_mp4_meta(_synth_mp4(n)),
        VIDEO_META_SCHEMA,
        col="n",
    )


# --------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection (dHash + Hamming banding)
# --------------------------------------------------------------------------

#: dHash grid: 6 block rows x 11 block columns -> 6*10 = 60 horizontal
#: gradient comparisons = a 60-bit hash. 60 bits (not the classic 64)
#: keeps the whole family in the engine-portable space the simhash /
#: KMV operators already use: every ``1 << k`` stays positive in int64
#: on BOTH engines, and the 4-chunk pigeonhole blocking divides evenly
#: into 15-bit chunks.
PHASH_ROWS = 6
PHASH_COLS = 11
PHASH_BITS = PHASH_ROWS * (PHASH_COLS - 1)

#: 1-D fake dHash segment count (PHASH_BITS + 1 segments -> PHASH_BITS
#: adjacent-segment comparisons) and FIXED segment width in codepoints.
#: Fixed positions — seg k covers codepoints [4k, 4k+4) — rather than
#: length-scaled boundaries: a suffix append then only perturbs the
#: segments past the old end (measured: the fixture's planted
#: `text + " dup"` near-dups land at Hamming 0-3, random word-soup
#: pairs at ~25-30), whereas length-scaled boundaries shift EVERY
#: segment on a 3% length change and scatter true near-dups to
#: Hamming 10+ on short docs.
_FAKE_SEGS = PHASH_BITS + 1
_FAKE_SEG_CHARS = 4
_FAKE_WINDOW = _FAKE_SEGS * _FAKE_SEG_CHARS


def decode_png_pixels(payload: bytes):
    """Real PNG PIXEL decode — pure Python (stdlib zlib + numpy), no
    codec library.

    Supports the common web subset: bit depth 8, color types 0 (gray),
    2 (RGB), 3 (palette), 6 (RGBA), non-interlaced, all five scanline
    filters (None/Sub/Up/Average/Paeth — PNG spec §9). Returns an
    int64 ``(H, W)`` grayscale array (integer ITU-R 601 luma
    ``(299R + 587G + 114B) // 1000`` — pure integer arithmetic, so the
    hash downstream is deterministic across platforms). Raises
    ``ValueError`` on a corrupt payload and ``NotImplementedError`` on
    a valid-but-unsupported variant (16-bit, interlaced) — same loud
    discipline as :func:`decode_image`; JPEG pixel decode still needs a
    real codec and plugs in at this same seam.
    """
    import zlib

    import numpy as np

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("corrupt PNG: truncated chunk")
        if typ == b"IHDR":
            if ln < 13:
                raise ValueError("corrupt PNG: short IHDR")
            w, h, depth, ctype, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
        elif typ == b"PLTE":
            plte = bytes(data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + crc
    if w is None:
        raise ValueError("corrupt PNG: no IHDR chunk")
    if not w or not h:
        raise ValueError(f"corrupt PNG: zero dimension {w}x{h}")
    if depth != 8 or interlace != 0 or ctype not in (0, 2, 3, 6):
        raise NotImplementedError(
            f"PNG variant not supported by the pure-Python decoder "
            f"(depth={depth}, color_type={ctype}, interlace={interlace}): "
            "8-bit non-interlaced gray/RGB/palette/RGBA only"
        )
    nch = {0: 1, 2: 3, 3: 1, 6: 4}[ctype]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG: IDAT inflate failed ({e})")
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"corrupt PNG: {len(raw)} decompressed bytes, "
            f"expected {h * (stride + 1)}"
        )
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    rows = arr[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.int64)
    zero = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f = int(ftypes[r])
        prior = out[r - 1] if r else zero
        if f == 0:
            out[r] = rows[r]
        elif f == 2:  # Up: vectorized (no left dependence)
            out[r] = (rows[r] + prior) & 0xFF
        elif f in (1, 3, 4):
            cur = out[r]
            row = rows[r]
            for x in range(stride):
                a = cur[x - nch] if x >= nch else 0
                b = prior[x]
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                else:  # Paeth
                    c = prior[x - nch] if x >= nch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"corrupt PNG: unknown filter type {f} at row {r}")
    px = out.reshape(h, w, nch)
    if ctype == 0:
        return px[:, :, 0]
    if ctype == 3:
        if plte is None:
            raise ValueError("corrupt PNG: paletted image without PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8)
        if len(pal) % 3:
            raise ValueError("corrupt PNG: PLTE length not a multiple of 3")
        pal = pal.reshape(-1, 3).astype(np.int64)
        idx = px[:, :, 0]
        if int(idx.max()) >= len(pal):
            raise ValueError("corrupt PNG: palette index out of range")
        rgb = pal[idx]
    else:
        rgb = px[:, :, :3]
    return (299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]) // 1000


#: JPEG natural-order index for each zigzag position (ITU T.81 fig A.6).
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

#: Fixed-point 1-D IDCT basis, AI[u][x] = round(c(u)*cos((2x+1)u*pi/16)/2
#: * 2^17) with c(0)=1/sqrt(2) — HARDCODED so the decode is pure int64
#: arithmetic (f = (AI^T F AI + 2^33) >> 34): bit-identical on every
#: platform, the same determinism discipline as the PNG/GIF paths
#: (libm cos at import time would reintroduce 1-ulp platform skew).
#: Validated within +/-1 of the float64 reference over random blocks.
_JPEG_IDCT_FIX = [
    [46341, 46341, 46341, 46341, 46341, 46341, 46341, 46341],
    [64277, 54491, 36410, 12785, -12785, -36410, -54491, -64277],
    [60547, 25080, -25080, -60547, -60547, -25080, 25080, 60547],
    [54491, -12785, -64277, -36410, 36410, 64277, 12785, -54491],
    [46341, -46341, -46341, 46341, 46341, -46341, -46341, 46341],
    [36410, -64277, 12785, 54491, -54491, -12785, 64277, -36410],
    [25080, -60547, 60547, -25080, -25080, 60547, -60547, 25080],
    [12785, -36410, 54491, -64277, 64277, -54491, 36410, -12785],
]


def _jpeg_build_decode(bits: list, vals: list) -> dict:
    """(length, code) -> value huffman lookup (ITU T.81 annex C.2)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """Entropy-segment bit reader: MSB-first, 0xFF00 byte-stuffing
    unstuffed. Restart markers ARE handled — the scan loop calls
    :meth:`restart` at each DRI interval (byte-align, consume the
    expected RSTn, caller resets the DC predictors); any OTHER marker
    inside the stream is an error."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("corrupt JPEG: entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if (
                    self.pos < len(self.data)
                    and self.data[self.pos] == 0x00
                ):
                    self.pos += 1
                else:
                    raise ValueError(
                        "corrupt JPEG: marker inside entropy data"
                    )
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expect: int) -> None:
        """Consume an RSTn marker at a restart interval: drop the
        partial byte (the encoder pads to a byte boundary before the
        marker), then require 0xFF 0xD0+expect (ITU T.81 E.1.4 — the
        low 3 bits cycle 0..7)."""
        self.n = 0  # byte-align
        if self.pos + 2 > len(self.data):
            raise ValueError("corrupt JPEG: truncated restart marker")
        if self.data[self.pos] != 0xFF or self.data[
            self.pos + 1
        ] != 0xD0 + (expect & 7):
            raise ValueError(
                f"corrupt JPEG: expected RST{expect & 7} at byte {self.pos}"
            )
        self.pos += 2


def _jpeg_huff(br: _JpegBits, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("corrupt JPEG: invalid huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """DC/AC magnitude-category sign extension (ITU T.81 F.2.2.1)."""
    if s == 0:
        return 0
    if v < (1 << (s - 1)):
        return v - (1 << s) + 1
    return v


def decode_jpeg_pixels(payload: bytes):
    """Real baseline JPEG PIXEL decode — pure Python + numpy, no codec
    library: DQT/DHT/SOF0 parse, huffman entropy decode, dequantize,
    fixed-point integer IDCT (``_JPEG_IDCT_FIX`` — bit-identical across
    platforms), nearest-neighbor chroma upsampling, integer YCbCr->RGB
    (ITU BT.601 fixed-point), integer luma. Returns the int64 ``(H, W)``
    grayscale array — the same output contract as
    :func:`decode_png_pixels` / :func:`decode_gif_pixels`.

    Scope: baseline sequential (SOF0/SOF1), 8-bit, 1 or 3 components,
    any sampling factors (4:4:4 and 4:2:0 tested), restart markers
    (DRI + cycling RSTn with DC-predictor reset — the common camera
    output), no progressive (SOF2+, degrades to the fake hash at the
    :func:`phash_blob` seam). The per-coefficient Python huffman loop is the
    decode seam's cost — production throughput swaps in a real codec at
    exactly this function; correctness is pinned by round-trip against
    an independent from-spec encoder (tests/test_llm.py: flat blocks
    decode EXACTLY, textured images within quantization tolerance).
    """
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    i = 2
    qts: dict[int, "np.ndarray"] = {}
    hts: dict[int, dict] = {}
    frame = None
    dri = 0
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at byte {i}")
        m = payload[i + 1]
        if m == 0xFF:
            i += 1
            continue
        if m == 0xD9:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        (ln,) = struct.unpack(">H", payload[i + 2 : i + 4])
        seg = payload[i + 4 : i + 2 + ln]
        if len(seg) != ln - 2:
            raise ValueError("corrupt JPEG: truncated segment")
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant table")
                if j + 65 > len(seg):
                    raise ValueError("corrupt JPEG: short DQT")
                qts[tq] = np.frombuffer(
                    seg[j + 1 : j + 65], dtype=np.uint8
                ).astype(np.int64)
                j += 65
        elif m == 0xC4:  # DHT
            j = 0
            while j + 17 <= len(seg):
                tc_th = seg[j]
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17 : j + 17 + nv])
                if len(vals) < nv:
                    raise ValueError("corrupt JPEG: short DHT")
                hts[tc_th] = _jpeg_build_decode(bits, vals)
                j += 17 + nv
        elif m in (0xC0, 0xC1):  # baseline SOF
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            if not w or not h:
                raise ValueError(f"corrupt JPEG: zero dimension {w}x{h}")
            comps = []
            for k in range(nc):
                cid, hv, tq = seg[6 + 3 * k : 9 + 3 * k]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
        elif 0xC2 <= m <= 0xCF and m not in _JPEG_NON_FRAME:
            raise NotImplementedError(
                f"non-baseline JPEG (SOF{m - 0xC0}): progressive/lossless"
            )
        elif m == 0xDD:  # DRI: restart interval in MCUs (0 disables)
            if len(seg) < 2:
                raise ValueError("corrupt JPEG: short DRI")
            (dri,) = struct.unpack(">H", seg[:2])
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = seg[0]
            smap = {}
            for k in range(ns):
                cs = seg[1 + 2 * k]
                td_ta = seg[2 + 2 * k]
                smap[cs] = (td_ta >> 4, td_ta & 15)
            return _jpeg_decode_scan(
                payload[i + 2 + ln :], frame, smap, qts, hts, dri
            )
        i += 2 + ln
    raise ValueError("corrupt JPEG: no SOS scan before EOI")


def _jpeg_decode_scan(ent: bytes, frame, smap, qts, hts, dri: int = 0):
    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if not hmax or not vmax:
        raise ValueError("corrupt JPEG: zero sampling factor")
    for _cid, hf, vf, _tq in comps:
        # The chroma upsampling below is np.repeat by (vmax//vf,
        # hmax//hf) — only correct when the max factors are exact
        # multiples (4:4:4 / 4:2:2 / 4:2:0 / 4:1:1 all are). A
        # legal-but-rare non-divisible layout (e.g. 3:2) would
        # integer-divide into an UNDER-upsampled plane that can still
        # slice to (h, w) on small images, i.e. silently wrong pixels
        # -> wrong phash/thumbnail. Keep the loud-degrade discipline:
        # raise here so phash_blob falls back to the fake hash.
        if hmax % hf or vmax % vf:
            raise NotImplementedError(
                f"non-divisible JPEG sampling factors {hf}x{vf} "
                f"(max {hmax}x{vmax})"
            )
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    ai = np.array(_JPEG_IDCT_FIX, dtype=np.int64)
    planes = {
        cid: np.zeros((mcuy * vf * 8, mcux * hf * 8), dtype=np.int64)
        for cid, hf, vf, _tq in comps
    }
    br = _JpegBits(ent)
    prev_dc = {cid: 0 for cid, *_ in comps}
    for cid, *_ in comps:
        if cid not in smap:
            raise ValueError("corrupt JPEG: component missing from scan")
    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_n and mcu_n % dri == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                prev_dc = {cid: 0 for cid, *_ in comps}
            mcu_n += 1
            for cid, hf, vf, tq in comps:
                td, ta = smap[cid]
                if tq not in qts or td not in hts or (0x10 | ta) not in hts:
                    raise ValueError("corrupt JPEG: missing table")
                qt = qts[tq]
                dct = hts[td]
                act = hts[0x10 | ta]
                for v in range(vf):
                    for u in range(hf):
                        s = _jpeg_huff(br, dct)
                        prev_dc[cid] += _jpeg_extend(br.bits(s), s)
                        zz = np.zeros(64, dtype=np.int64)
                        zz[0] = prev_dc[cid]
                        k = 1
                        while k < 64:
                            rs = _jpeg_huff(br, act)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError(
                                    "corrupt JPEG: AC index overflow"
                                )
                            zz[k] = _jpeg_extend(br.bits(rs & 15), rs & 15)
                            k += 1
                        deq = np.zeros(64, dtype=np.int64)
                        deq[_JPEG_ZIGZAG] = zz * qt
                        t = ai.T @ deq.reshape(8, 8) @ ai
                        blk = ((t + (1 << 33)) >> 34) + 128
                        y0 = (my * vf + v) * 8
                        x0 = (mx * hf + u) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = blk
    outs = []
    for cid, hf, vf, _tq in comps:
        p = planes[cid]
        p = np.repeat(
            np.repeat(p, vmax // vf, axis=0), hmax // hf, axis=1
        )
        outs.append(np.clip(p[:h, :w], 0, 255))
    if len(outs) == 1:
        return outs[0]
    if len(outs) != 3:
        raise NotImplementedError(f"{len(outs)}-component JPEG")
    y, cb, cr = outs
    cb = cb - 128
    cr = cr - 128
    # BT.601 fixed-point: round(1.402*2^16)=91881, 0.344136->22554,
    # 0.714136->46802, 1.772->116130; +2^15 then >>16 rounds.
    r = y + ((91881 * cr + 32768) >> 16)
    g = y - ((22554 * cb + 46802 * cr + 32768) >> 16)
    b = y + ((116130 * cb + 32768) >> 16)
    rgb = [np.clip(c, 0, 255) for c in (r, g, b)]
    return (299 * rgb[0] + 587 * rgb[1] + 114 * rgb[2]) // 1000


def _gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """GIF-variant LZW decompression (GIF89a spec appendix F): LSB-first
    bit packing, CLEAR/END control codes, dictionary growth to 12 bits
    then deferred-clear freeze. Validated by round-trip against an
    independent encoder over random index streams including 12-bit
    saturation (tests/test_llm.py)."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = end + 1
    out = bytearray()
    prev = None
    bitpos = 0
    total = len(data) * 8
    while len(out) < expected:
        if bitpos + code_size > total:
            raise ValueError("corrupt GIF: LZW stream exhausted")
        v = 0
        for i in range(code_size):
            v |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += code_size
        if v == clear:
            table = dict(base)
            next_code = end + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if v == end:
            break
        if prev is None:
            if v not in table:
                raise ValueError("corrupt GIF: first LZW code not a root")
            entry = table[v]
        elif v in table:
            entry = table[v]
        elif v == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("corrupt GIF: LZW code out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return bytes(out[:expected])


def decode_gif_pixels(payload: bytes):
    """Real GIF PIXEL decode — pure Python, stdlib only (the LZW variant
    GIF uses is not zlib; :func:`_gif_lzw_decode` implements it).

    Parses the logical screen descriptor, global/local color tables,
    extension blocks (skipped), and the FIRST image descriptor —
    animated GIFs hash their first frame, the standard perceptual-hash
    convention — including 4-pass interlacing. Returns the int64
    ``(H, W)`` grayscale array (same integer ITU-R 601 luma as
    :func:`decode_png_pixels`, so the SAME pixels hash identically
    regardless of container format). Raises ``ValueError`` on corrupt
    payloads — callers that must survive a hostile lake go through
    :func:`phash_blob`, which degrades to the fake hash.
    """
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("corrupt GIF: truncated logical screen descriptor")
    _sw, _sh, flags, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 0x07) + 1)
        gct = payload[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("corrupt GIF: truncated global color table")
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label byte + data sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("corrupt GIF: truncated image descriptor")
            _left, _top, w, h, iflags = struct.unpack(
                "<HHHHB", payload[pos + 1 : pos + 10]
            )
            pos += 10
            if not w or not h:
                raise ValueError(f"corrupt GIF: zero dimension {w}x{h}")
            pal = gct
            if iflags & 0x80:
                n = 2 ** ((iflags & 0x07) + 1)
                pal = payload[pos : pos + 3 * n]
                if len(pal) < 3 * n:
                    raise ValueError("corrupt GIF: truncated local color table")
                pos += 3 * n
            if pal is None:
                raise ValueError("corrupt GIF: image without any color table")
            if pos >= len(payload):
                raise ValueError("corrupt GIF: missing LZW min code size")
            mcs = payload[pos]
            pos += 1
            if not 2 <= mcs <= 8:
                raise ValueError(f"corrupt GIF: LZW min code size {mcs}")
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                chunk = payload[pos + 1 : pos + 1 + ln]
                if len(chunk) < ln:
                    raise ValueError("corrupt GIF: truncated data sub-block")
                data += chunk
                pos += 1 + ln
            idx = _gif_lzw_decode(bytes(data), mcs, w * h)
            if len(idx) < w * h:
                raise ValueError("corrupt GIF: short pixel data")
            arr = (
                np.frombuffer(idx, dtype=np.uint8)
                .astype(np.int64)
                .reshape(h, w)
            )
            if iflags & 0x40:  # interlaced: stored in 4-pass row order
                order = (
                    list(range(0, h, 8))
                    + list(range(4, h, 8))
                    + list(range(2, h, 4))
                    + list(range(1, h, 2))
                )
                de = np.zeros_like(arr)
                de[order] = arr
                arr = de
            p = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
            p = p.astype(np.int64)
            if int(arr.max()) >= len(p):
                raise ValueError("corrupt GIF: palette index out of range")
            rgb = p[arr]
            return (
                299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]
            ) // 1000
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"corrupt GIF: unknown block 0x{block:02x}")
    raise ValueError("corrupt GIF: no image descriptor before trailer")


def dhash_gray(gray) -> int:
    """60-bit difference hash over a grayscale pixel array.

    The classic dHash recipe (Krawetz) with every step integer-exact so
    two platforms hash identical pixels to identical bits: block means
    on a ``PHASH_ROWS x PHASH_COLS`` grid (integral-image sums, floor
    division — deterministic area downsampling instead of a float
    resize), bit ``r*(COLS-1)+c`` set when the block right of ``(r,c)``
    is strictly brighter. Brightness/contrast shifts preserve the
    gradient signs (the property that makes dHash perceptual); a
    rotation does not.
    """
    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    if g.ndim != 2 or g.shape[0] < 1 or g.shape[1] < 1:
        raise ValueError(f"expected a non-empty 2-D gray array, got {g.shape}")
    hh, ww = g.shape
    ii = np.zeros((hh + 1, ww + 1), dtype=np.int64)
    ii[1:, 1:] = g.cumsum(0).cumsum(1)
    rb = (np.arange(PHASH_ROWS + 1, dtype=np.int64) * hh) // PHASH_ROWS
    cb = (np.arange(PHASH_COLS + 1, dtype=np.int64) * ww) // PHASH_COLS
    bm = np.zeros((PHASH_ROWS, PHASH_COLS), dtype=np.int64)
    for r in range(PHASH_ROWS):
        for c in range(PHASH_COLS):
            r0, r1, c0, c1 = rb[r], rb[r + 1], cb[c], cb[c + 1]
            area = int(r1 - r0) * int(c1 - c0)
            if area:  # tiny images leave empty blocks -> mean 0
                s = int(ii[r1, c1] - ii[r0, c1] - ii[r1, c0] + ii[r0, c0])
                bm[r, c] = s // area
    h = 0
    for r in range(PHASH_ROWS):
        for c in range(PHASH_COLS - 1):
            if bm[r, c + 1] > bm[r, c]:
                h |= 1 << (r * (PHASH_COLS - 1) + c)
    return h


def fake_phash(payload: bytes) -> int:
    """Deterministic SQL-replicable stand-in hash for non-image payloads.

    A 1-D dHash over the payload's first ``_FAKE_WINDOW`` utf-8
    CODEPOINTS on a FIXED segment grid (codepoint ``p`` maps to segment
    ``p // _FAKE_SEG_CHARS`` — see ``_FAKE_SEGS`` for why fixed, not
    length-scaled): bit ``k`` set when segment ``k+1``'s mean codepoint
    exceeds segment ``k``'s — compared exactly by integer
    cross-multiplication ``sum[k+1]*cnt[k] > sum[k]*cnt[k+1]``, so an
    independent engine replays it bit-for-bit (DuckDB: ``unicode()``
    over ``substr`` positions; see the q_phash_dedup oracle). Same
    gradient-sign structure as the real dHash, so near-identical texts
    land at small Hamming distance — a faithful behavioral stand-in
    until a pixel codec is plugged in at :func:`decode_png_pixels`.
    Codepoints (not bytes) so the SQL side needs no blob indexing and
    multi-byte characters count once on both engines.
    """
    import numpy as np

    b = b"" if payload is None else bytes(payload)
    s = b.decode("utf-8", errors="replace")
    n = len(s)
    if n == 0:
        return 0
    cps = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(np.int64)[
        :_FAKE_WINDOW
    ]
    seg = np.arange(len(cps), dtype=np.int64) // _FAKE_SEG_CHARS
    sums = np.zeros(_FAKE_SEGS, dtype=np.int64)
    np.add.at(sums, seg, cps)
    cnts = np.bincount(seg, minlength=_FAKE_SEGS).astype(np.int64)
    lhs = sums[1:] * cnts[:-1]
    rhs = sums[:-1] * cnts[1:]
    h = 0
    for k in np.nonzero(lhs > rhs)[0]:
        h |= 1 << int(k)
    return h


def phash_blob(payload, sniff_gif: bool = False) -> int:
    """Per-blob perceptual hash: real pixel dHash for decodable PNGs
    (and, opt-in, GIFs), the deterministic fake elsewhere.

    Same sniff-and-degrade discipline as :func:`_blob_meta`: the PNG
    magic cannot occur in utf-8 text (0x89 is not a valid utf-8 lead
    byte), so text-derived fixture payloads deterministically take the
    fake path and stay SQL-oracle-expressible, while genuine PNG blobs
    (via :func:`ingest_binary_dir`) are hashed from their actual
    pixels. GIF's ASCII magic CAN occur in text, so GIF pixel decoding
    (:func:`decode_gif_pixels` — real, pure-Python LZW) is opt-in via
    ``sniff_gif`` for genuine blob lakes (the claim gate passes True;
    the oracle-checked fixture query must not, or a document whose text
    starts with "GIF87a" would diverge from the SQL fake). A
    recognized-but-undecodable blob degrades to the fake hash instead
    of propagating — one corrupt image must never abort a lake sweep.
    Baseline JPEGs decode for real too (:func:`decode_jpeg_pixels`,
    fixed-point integer IDCT), INCLUDING restart-marker streams (DRI +
    RSTn consume + DC predictor reset) and standard chroma subsampling;
    only progressive/lossless/arithmetic variants (and non-divisible
    sampling-factor layouts) degrade to the fake path until a full
    codec is plugged in at that seam.
    """
    b = b"" if payload is None else bytes(payload)
    if b[:8] == _PNG_MAGIC:
        try:
            return dhash_gray(decode_png_pixels(b))
        except DECODE_ERRORS:
            return fake_phash(b)
    if b[:2] == b"\xff\xd8":  # JPEG SOI: invalid utf-8, safe to sniff
        try:
            return dhash_gray(decode_jpeg_pixels(b))
        except DECODE_ERRORS:
            return fake_phash(b)
    if sniff_gif and b[:6] in (b"GIF87a", b"GIF89a"):
        try:
            return dhash_gray(decode_gif_pixels(b))
        except DECODE_ERRORS:
            return fake_phash(b)
    return fake_phash(b)


PHASH_SCHEMA = "doc_id bigint, phash bigint"


def extract_phash(df: DataFrame, sniff_gif: bool = False) -> DataFrame:
    """Perceptual-hash extraction over
    ``(doc_id, payload: binary)`` — Arrow-batched, one 60-bit hash per
    blob, the same distributed seam as :func:`extract_media_meta`.
    ``sniff_gif``: see :func:`phash_blob` (True for genuine blob lakes,
    False for anything whose payloads may be text)."""
    return extract(
        df,
        lambda b: {"phash": phash_blob(b, sniff_gif=sniff_gif)},
        PHASH_SCHEMA,
    )


@register(
    "q_phash_dedup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents WHERE text IS NOT NULL
    ),
    seg AS (
        SELECT doc_id,
               p // {_FAKE_SEG_CHARS} AS k,
               unicode(substr(text, CAST(p + 1 AS INT), 1)) AS cp
        FROM (SELECT doc_id, text,
                     unnest(range(0, least(n, {_FAKE_WINDOW}))) AS p
              FROM d WHERE n > 0)
    ),
    agg AS (
        SELECT doc_id, k, SUM(cp) AS s, COUNT(*) AS c
        FROM seg GROUP BY 1, 2
    ),
    bits AS (
        SELECT a.doc_id,
               SUM(CASE WHEN b.s * a.c > a.s * b.c
                        THEN (1::BIGINT << CAST(a.k AS INT)) ELSE 0 END) AS h
        FROM agg a JOIN agg b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        WHERE a.k < {PHASH_BITS}
        GROUP BY 1
    ),
    sig AS (
        SELECT d.doc_id, CAST(COALESCE(bits.h, 0) AS BIGINT) AS ph
        FROM d LEFT JOIN bits USING (doc_id)
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= 3
    """,
    doc="Perceptual-hash (dHash) near-duplicate image pairs — the "
    "multimodal member of the near-dup family. Binary payloads -> "
    "Arrow-batched mapInArrow hash (REAL pixel dHash for decodable "
    "PNGs: stdlib-zlib inflate + integer unfilter + integral-image "
    "block means, all integer-exact; the deterministic 1-D codepoint "
    "dHash for everything else) -> the same 4-chunk pigeonhole Hamming "
    "banding as q_dedup_simhash (full recall at distance <= 3, one "
    "shuffle on the 15-bit chunk key, never all-pairs). DIFFERENTIAL "
    "ORACLE: the fixture's text-derived payloads all take the fake "
    "path, which DuckDB rebuilds bit-for-bit and brute-forces; the "
    "real-pixel path is pinned by planted synthetic-PNG tests "
    "(near-identical images collide at Hamming <= 3, a rotation does "
    "not, a corrupt blob degrades instead of aborting).",
)
def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_compactor_spark.llm.dedup import hamming_banded_pairs
    from parquet_compactor_spark.llm.text import spread_scan

    # spread_scan: ADOPTED on a measured win at ramp scale (round 14).
    # The r13 sf0.1 A/B read a no-op (warm 1.35 vs 1.10 s) because 5k
    # docs are cheap even on one task; the x10 ramp level exposed the
    # real mechanism — 50k docs scanning to TWO byte-proportioned
    # splits ran the whole hash map on 2 of 32 cores (the non-monotone
    # x10 ramp row, 3 reproduced readings ~9.5 s vs x25's ~3.3 s on 6
    # splits). Measured min-of-3 with the guard: x10 9.55 -> 2.09 s
    # (4.6x); x25 3.28 -> 4.03 (the already-6-wide level pays the
    # row exchange, bounded); at 100 TB the scan is wide and the guard
    # is a driver-side no-op.
    d = spread_scan(
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    sigs = extract_phash(payloads)
    return hamming_banded_pairs(
        sigs, sig_col="phash", max_hamming=3, bits=PHASH_BITS
    )


# --------------------------------------------------------------------------
# Resize / thumbnail extraction (the remaining mandated per-blob op)
# --------------------------------------------------------------------------


def resize_gray(gray, out_h: int, out_w: int):
    """Deterministic integer AREA-MEAN resize of a grayscale array —
    the general form of the dHash block grid: output cell (r, c) is the
    floor-mean of input block [r*H//oh, (r+1)*H//oh) x [c*W//ow,
    (c+1)*W//ow), computed from an int64 integral image. Pure integer
    arithmetic, so two platforms resize identical pixels identically
    (the same determinism contract as the decoders). Upscaling repeats
    source pixels (empty blocks impossible: boundaries are monotone and
    cover every output cell when oh <= H; for oh > H nearest-neighbor
    index mapping is used instead).
    """
    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    if g.ndim != 2 or not g.size:
        raise ValueError(f"expected a non-empty 2-D gray array, got {g.shape}")
    if out_h < 1 or out_w < 1:
        raise ValueError(f"bad target size {out_h}x{out_w}")
    hh, ww = g.shape
    if out_h > hh or out_w > ww:  # upscale: nearest source index
        ri = (np.arange(out_h, dtype=np.int64) * hh) // out_h
        ci = (np.arange(out_w, dtype=np.int64) * ww) // out_w
        return g[ri][:, ci]
    ii = np.zeros((hh + 1, ww + 1), dtype=np.int64)
    ii[1:, 1:] = g.cumsum(0).cumsum(1)
    rb = (np.arange(out_h + 1, dtype=np.int64) * hh) // out_h
    cb = (np.arange(out_w + 1, dtype=np.int64) * ww) // out_w
    out = np.zeros((out_h, out_w), dtype=np.int64)
    for r in range(out_h):
        r0, r1 = rb[r], rb[r + 1]
        row = ii[r1] - ii[r0]
        for c in range(out_w):
            c0, c1 = cb[c], cb[c + 1]
            area = int(r1 - r0) * int(c1 - c0)
            out[r, c] = int(row[c1] - row[c0]) // area
    return out


def encode_png_gray(gray) -> bytes:
    """Minimal PNG writer (8-bit grayscale, filter 0, one IDAT) — the
    re-encode half of the thumbnail pipeline; stdlib zlib only.
    Round-trips exactly through :func:`decode_png_pixels`."""
    import zlib

    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    if g.ndim != 2 or not g.size:
        raise ValueError(f"expected a non-empty 2-D gray array, got {g.shape}")
    if int(g.min()) < 0 or int(g.max()) > 255:
        raise ValueError("gray values outside [0, 255]")
    h, w = g.shape
    raw = bytearray()
    px = g.astype(np.uint8)
    for r in range(h):
        raw.append(0)
        raw += px[r].tobytes()

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", crc)
        )

    return (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


THUMB_SCHEMA = "doc_id bigint, thumb binary, thumb_w int, thumb_h int"


def extract_thumbnails(
    df: DataFrame, out_h: int = 32, out_w: int = 32, sniff_gif: bool = False
) -> DataFrame:
    """Thumbnail extraction over
    ``(doc_id, payload: binary)``: decode (real pixels for PNG / GIF /
    baseline JPEG via the same sniff rules as :func:`phash_blob`) ->
    integer area-mean :func:`resize_gray` -> re-encode as an 8-bit
    grayscale PNG. Blobs that cannot be decoded yield a NULL thumb (the
    degrade-not-abort discipline); the whole chain is deterministic, so
    a re-run produces byte-identical thumbnails — the property that
    makes thumbnail tables idempotently refreshable at lake scale. This
    completes the mandated per-blob op set (decode / feature-extract /
    resize / frame-sample), all at the same Arrow-batched seam.
    """

    def thumb_of(payload) -> dict:
        b = payload or b""
        gray = None
        if b[:8] == _PNG_MAGIC:
            try:
                gray = decode_png_pixels(b)
            except DECODE_ERRORS:
                gray = None
        elif b[:2] == b"\xff\xd8":
            try:
                gray = decode_jpeg_pixels(b)
            except DECODE_ERRORS:
                gray = None
        elif sniff_gif and b[:6] in (b"GIF87a", b"GIF89a"):
            try:
                gray = decode_gif_pixels(b)
            except DECODE_ERRORS:
                gray = None
        if gray is None:
            return {"thumb": None, "thumb_w": None, "thumb_h": None}
        small = resize_gray(gray, out_h, out_w)
        return {"thumb": encode_png_gray(small), "thumb_w": out_w, "thumb_h": out_h}

    return extract(df, thumb_of, THUMB_SCHEMA)


# --------------------------------------------------------------------------
# Audio modality: RIFF/WAVE (incl. RF64 + WAVE_FORMAT_EXTENSIBLE) and FLAC
# STREAMINFO metadata — the audio twin of decode_mp4_meta / q_video_meta.
# --------------------------------------------------------------------------

#: WAVE_FORMAT_EXTENSIBLE SubFormat GUID suffix (bytes 2..16 of the GUID;
#: the leading u16 little-endian carries the real format tag). Public
#: constant from the Microsoft multimedia registration space
#: (KSDATAFORMAT_SUBTYPE_*).
_WAV_GUID_SUFFIX = b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"

#: RIFF format tags this parser resolves to a codec name. Anything else
#: is a loud NotImplementedError (valid-but-unsupported — same
#: discipline as the image decoders).
_WAV_TAGS = {1: "pcm", 3: "float"}


def synth_wav_params(n: int) -> dict:
    """Deterministic RIFF/WAVE container parameters for a payload of
    ``n`` bytes — one closed form shared by the encoder, the query's
    expected output, and the DuckDB oracle (q_audio_meta). Residue
    classes sweep the parse paths: PCM vs IEEE-float (%3), 16- vs
    24-bit PCM (%4), mono/stereo (n//2 %2 — decoupled from the query's
    even-n gate), five sample rates (%5), WAVE_FORMAT_EXTENSIBLE (%7),
    RF64 64-bit sizes (%11), LIST/INFO metadata with the odd-size pad
    byte (%5), and an unknown JUNK chunk to skip (%13)."""
    is_float = n % 3 == 0
    bits = 32 if is_float else (16 if n % 4 == 0 else 24)
    ch = 1 + (n // 2) % 2
    sr = (8000, 16000, 22050, 44100, 48000)[n % 5]
    n_frames = 1 + n % 480
    return {
        "container": "RF64" if n % 11 == 0 else "RIFF",
        "codec": "float" if is_float else "pcm",
        "extensible": n % 7 == 0,
        "channels": ch,
        "sample_rate": sr,
        "bits_per_sample": bits,
        "n_frames": n_frames,
        "block_align": ch * (bits // 8),
        "byte_rate": sr * ch * (bits // 8),
        "info_comment": n % 5 == 0,
        "junk_chunk": n % 13 == 0,
    }


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    """One RIFF chunk with the spec's word-alignment pad byte."""
    out = fourcc + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        out += b"\x00"
    return out


def _synth_wav(n: int) -> bytes:
    """A REAL (structurally valid, spec-layout) RIFF/WAVE or RF64 file
    for the :func:`synth_wav_params` of ``n``. The data chunk carries
    filler (no audible signal): the fixture is for the METADATA
    pipeline, exactly like :func:`_synth_mp4`'s mdat."""
    p = synth_wav_params(n)
    tag = 3 if p["codec"] == "float" else 1
    fmt_core = struct.pack(
        "<HHIIHH",
        0xFFFE if p["extensible"] else tag,
        p["channels"],
        p["sample_rate"],
        p["byte_rate"],
        p["block_align"],
        p["bits_per_sample"],
    )
    if p["extensible"]:
        fmt_body = fmt_core + struct.pack(
            "<HHI", 22, p["bits_per_sample"], (1 << p["channels"]) - 1
        ) + struct.pack("<H", tag) + b"\x00\x00" + _WAV_GUID_SUFFIX
    elif tag == 3:
        fmt_body = fmt_core + struct.pack("<H", 0)  # cbSize present, 0
    else:
        fmt_body = fmt_core  # classic 16-byte PCM fmt
    chunks = _riff_chunk(b"fmt ", fmt_body)
    if p["junk_chunk"]:
        chunks += _riff_chunk(b"JUNK", b"\x00" * 11)  # odd size: pad path
    if tag != 1:  # fact required for non-PCM
        chunks += _riff_chunk(b"fact", struct.pack("<I", p["n_frames"]))
    if p["info_comment"]:
        comment = f"synth {n}".encode()
        info = b"INFO" + _riff_chunk(b"ICMT", comment)
        chunks += _riff_chunk(b"LIST", info)
    data = b"\xa5" * (p["n_frames"] * p["block_align"])
    if p["container"] == "RF64":
        data_chunk = _riff_chunk(b"data", data)
        data_chunk = b"data" + struct.pack("<I", 0xFFFFFFFF) + data_chunk[8:]
        ds64 = _riff_chunk(
            b"ds64",
            struct.pack(
                "<QQQI",
                4 + 28 + 8 + len(chunks) + len(data_chunk),
                len(data),
                p["n_frames"],
                0,
            ),
        )
        body = b"WAVE" + ds64 + chunks + data_chunk
        return b"RF64" + struct.pack("<I", 0xFFFFFFFF) + body
    body = b"WAVE" + chunks + _riff_chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_meta(payload: bytes) -> dict:
    """Real RIFF/WAVE METADATA decode — a pure-Python chunk walk over
    the public byte layout (RIFF-1991 / EBU Tech 3306 for RF64), no
    audio library, integer-only outputs (DuckDB-replayable).

    Handles: classic 16-byte PCM fmt, the 18-byte cbSize form,
    WAVE_FORMAT_EXTENSIBLE (codec resolved through the SubFormat
    GUID), the fact chunk, LIST/INFO metadata (counted into
    ``n_meta``), unknown chunks (skipped, per spec), odd-size chunk
    pad bytes, and RF64 (sizes lifted from the mandatory leading ds64
    chunk — the >4 GiB form a 100 TB lake actually contains).

    Raises ``ValueError`` on structural corruption (truncated chunk,
    overrun, missing fmt/data, RF64 without ds64, fact/data frame-count
    disagreement — the walk cross-checks them) and
    ``NotImplementedError`` on a valid-but-unsupported format tag, so
    callers can degrade row-wise."""
    buf = bytes(payload)
    if len(buf) < 12 or buf[:4] not in (b"RIFF", b"RF64"):
        raise ValueError("not a RIFF/RF64 payload")
    if buf[8:12] != b"WAVE":
        raise ValueError("RIFF form type is not WAVE")
    container = buf[:4].decode("latin-1")
    is_rf64 = container == "RF64"
    (riff_size,) = struct.unpack_from("<I", buf, 4)
    end = len(buf) if is_rf64 else min(len(buf), 8 + riff_size)

    fmt = fact_frames = data_size = ds64 = None
    n_meta = 0
    pos = 12
    first = True
    while pos < end:
        if pos + 8 > end:
            raise ValueError("corrupt WAV: truncated chunk header")
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = pos + 8
        if is_rf64 and first and fourcc != b"ds64":
            raise ValueError("corrupt RF64: first chunk must be ds64")
        first = False
        if fourcc == b"data" and size == 0xFFFFFFFF and is_rf64:
            if ds64 is None:
                raise ValueError("corrupt RF64: data before ds64")
            size = ds64[1]
        if body + size > end:
            raise ValueError(
                f"corrupt WAV: chunk {fourcc!r} overruns the file"
            )
        if fourcc == b"ds64":
            if size < 28:
                raise ValueError("corrupt RF64: short ds64")
            ds64 = struct.unpack_from("<QQQ", buf, body)
        elif fourcc == b"fmt ":
            if size < 16:
                raise ValueError("corrupt WAV: short fmt chunk")
            tag, ch, sr, br, ba, bits = struct.unpack_from("<HHIIHH", buf, body)
            if tag == 0xFFFE:
                if size < 40:
                    raise ValueError("corrupt WAV: short extensible fmt")
                (sub,) = struct.unpack_from("<H", buf, body + 24)
                if buf[body + 28 : body + 40] != _WAV_GUID_SUFFIX:
                    raise ValueError("corrupt WAV: bad SubFormat GUID")
                tag = sub
            if tag not in _WAV_TAGS:
                raise NotImplementedError(
                    f"unsupported WAVE format tag {tag:#06x}"
                )
            fmt = (tag, ch, sr, br, ba, bits)
        elif fourcc == b"fact":
            if size < 4:
                raise ValueError("corrupt WAV: short fact chunk")
            (fact_frames,) = struct.unpack_from("<I", buf, body)
        elif fourcc == b"data":
            data_size = size
        elif fourcc == b"LIST" and size >= 4 and buf[body : body + 4] == b"INFO":
            sub = body + 4
            sub_end = body + size
            while sub + 8 <= sub_end:
                (sub_size,) = struct.unpack_from("<I", buf, sub + 4)
                if sub + 8 + sub_size > sub_end:
                    raise ValueError("corrupt WAV: INFO tag overrun")
                n_meta += 1
                sub += 8 + sub_size + (sub_size % 2)
        pos = body + size + (size % 2)

    if fmt is None or data_size is None:
        raise ValueError("corrupt WAV: missing fmt or data chunk")
    tag, ch, sr, br, ba, bits = fmt
    if ch < 1 or sr < 1 or ba < 1:
        raise ValueError("corrupt WAV: zero channels/rate/block align")
    if ba != ch * (bits // 8) or br != sr * ba:
        raise ValueError("corrupt WAV: fmt byte-rate/block-align disagree")
    if data_size % ba:
        raise ValueError("corrupt WAV: data size not frame-aligned")
    n_frames = data_size // ba
    if is_rf64:
        if ds64 is None:
            raise ValueError("corrupt RF64: missing ds64 chunk")
        # EBU Tech 3306: ds64's sampleCount mirrors the fact chunk and
        # real PCM RF64 writers commonly emit 0 there — cross-check only
        # a non-zero count.
        if ds64[2] != 0 and ds64[2] != n_frames:
            raise ValueError(
                f"corrupt RF64: ds64 sample count {ds64[2]} != data-derived {n_frames}"
            )
    if fact_frames is not None and fact_frames != n_frames:
        raise ValueError(
            f"corrupt WAV: fact count {fact_frames} != data-derived {n_frames}"
        )
    return {
        "container": container,
        "codec": _WAV_TAGS[tag],
        "channels": ch,
        "sample_rate": sr,
        "bits_per_sample": bits,
        "n_frames": n_frames,
        "byte_rate": br,
        "n_meta": n_meta,
        "checksum": None,
    }


def synth_flac_params(n: int) -> dict:
    """Deterministic FLAC STREAMINFO parameters for a payload of ``n``
    bytes — the closed form shared with the q_audio_meta oracle.
    Sweeps: six sample rates (%6), the full 1-8 channel field (%8),
    six bit depths (n//3 %6 — decoupled from the rate index), the
    36-bit total-samples path (>2^33 on %9 — the field width a 100 TB
    lake's long masters actually need), vorbis-comment count (%4),
    a PADDING block (%5), and an APPLICATION block to skip (%13)."""
    return {
        "sample_rate": (8000, 16000, 22050, 44100, 48000, 96000)[n % 6],
        "channels": 1 + n % 8,
        "bits_per_sample": (8, 12, 16, 20, 24, 32)[(n // 3) % 6],
        "total_samples": ((1 << 33) + n) if n % 9 == 0 else 1 + n % 100000,
        "min_block": 4096,
        "max_block": 4096 + 64 * (n % 7),
        "min_frame": 100 + n % 1000,
        "max_frame": 100 + n % 1000 + n % 5000,
        "n_comments": n % 4,
        "padding": n % 5 == 0,
        "application": n % 13 == 0,
    }


def _flac_block(btype: int, body: bytes, last: bool) -> bytes:
    return bytes([(0x80 if last else 0) | btype]) + len(body).to_bytes(3, "big") + body


def _synth_flac(n: int) -> bytes:
    """A REAL (spec-layout) FLAC metadata stream for the
    :func:`synth_flac_params` of ``n``: the mandatory leading
    STREAMINFO (34 bytes, bit-packed per the FLAC format spec §9.1),
    then optional VORBIS_COMMENT (little-endian lengths — the
    endianness contrast with the big-endian block headers is a real
    parse path), PADDING, and APPLICATION blocks. No audio frames:
    metadata fixture, same scope as :func:`_synth_mp4`."""
    import hashlib

    p = synth_flac_params(n)
    v = p["min_block"]
    v = (v << 16) | p["max_block"]
    v = (v << 24) | p["min_frame"]
    v = (v << 24) | p["max_frame"]
    v = (v << 20) | p["sample_rate"]
    v = (v << 3) | (p["channels"] - 1)
    v = (v << 5) | (p["bits_per_sample"] - 1)
    v = (v << 36) | p["total_samples"]
    streaminfo = v.to_bytes(18, "big") + hashlib.md5(f"flac-{n}".encode()).digest()

    blocks = []
    if p["application"]:
        blocks.append((2, b"apID" + b"\x00" * 8))
    if p["n_comments"]:
        vendor = b"synthflac"
        body = struct.pack("<I", len(vendor)) + vendor
        body += struct.pack("<I", p["n_comments"])
        for i in range(p["n_comments"]):
            c = f"k{i}=v{i}".encode()
            body += struct.pack("<I", len(c)) + c
        blocks.append((4, body))
    if p["padding"]:
        blocks.append((1, b"\x00" * 16))

    out = b"fLaC" + _flac_block(0, streaminfo, last=not blocks)
    for i, (btype, body) in enumerate(blocks):
        out += _flac_block(btype, body, last=i == len(blocks) - 1)
    return out


def decode_flac_meta(payload: bytes) -> dict:
    """Real FLAC METADATA decode — pure-Python bit unpack of the
    mandatory leading STREAMINFO block plus a walk of the remaining
    metadata blocks (vorbis comments counted, unknown types skipped
    per spec), no codec library.

    Integer/hex-string outputs only, so the DuckDB oracle replays the
    md5 checksum with its own ``md5()``. Raises ``ValueError`` on
    structural corruption (bad magic, STREAMINFO not first or not 34
    bytes, block overrun, truncated comment vector, zero sample
    rate)."""
    buf = bytes(payload)
    if len(buf) < 8 or buf[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (no fLaC magic)")
    pos = 4
    first = True
    info = None
    n_comments = 0
    n_blocks = 0
    last = False
    while not last:
        if pos + 4 > len(buf):
            raise ValueError("corrupt FLAC: truncated block header")
        hdr = buf[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        size = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        body = pos + 4
        if body + size > len(buf):
            raise ValueError("corrupt FLAC: metadata block overruns the file")
        if first:
            if btype != 0 or size != 34:
                raise ValueError(
                    "corrupt FLAC: first block must be a 34-byte STREAMINFO"
                )
            v = int.from_bytes(buf[body : body + 18], "big")
            total = v & ((1 << 36) - 1)
            v >>= 36
            bits = (v & 0x1F) + 1
            v >>= 5
            ch = (v & 0x7) + 1
            v >>= 3
            sr = v & ((1 << 20) - 1)
            v >>= 20
            max_frame = v & ((1 << 24) - 1)
            v >>= 24
            min_frame = v & ((1 << 24) - 1)
            v >>= 24
            max_block = v & 0xFFFF
            min_block = v >> 16
            if sr == 0:
                raise ValueError("corrupt FLAC: zero sample rate")
            info = {
                "min_block": min_block,
                "max_block": max_block,
                "min_frame": min_frame,
                "max_frame": max_frame,
                "sample_rate": sr,
                "channels": ch,
                "bits_per_sample": bits,
                "total_samples": total,
                "checksum": buf[body + 18 : body + 34].hex(),
            }
            first = False
        elif btype == 0:
            raise ValueError("corrupt FLAC: duplicate STREAMINFO")
        elif btype == 4:
            if size < 8:
                raise ValueError("corrupt FLAC: short vorbis comment block")
            (vlen,) = struct.unpack_from("<I", buf, body)
            cpos = body + 4 + vlen
            if cpos + 4 > body + size:
                raise ValueError("corrupt FLAC: truncated vendor string")
            (cnt,) = struct.unpack_from("<I", buf, cpos)
            cpos += 4
            for _ in range(cnt):
                if cpos + 4 > body + size:
                    raise ValueError("corrupt FLAC: truncated comment vector")
                (clen,) = struct.unpack_from("<I", buf, cpos)
                cpos += 4 + clen
            if cpos > body + size:
                raise ValueError("corrupt FLAC: comment overruns its block")
            n_comments = cnt
        n_blocks += 1
        pos = body + size
    if info is None:
        raise ValueError("corrupt FLAC: no metadata blocks")
    info["n_comments"] = n_comments
    info["n_blocks"] = n_blocks
    return info


# --------------------------------------------------------------------------
# MPEG audio (MP3): frame-header walk + ID3v2/ID3v1 tags — the lossy side
# of the audio lake. Public layouts: ISO/IEC 11172-3 (MPEG-1),
# ISO/IEC 13818-3 (MPEG-2 / the 2.5 extension), id3.org (ID3v2.3/2.4, v1).
# --------------------------------------------------------------------------

#: Bitrate tables in kbit/s, index 1..14 (0 = "free format" — legal but
#: unsupported here, loud NotImplementedError; 15 = forbidden, ValueError).
_MP3_BITRATES = {
    ("MPEG1", 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    ("MPEG1", 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    ("MPEG1", 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    ("MPEG2", 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    ("MPEG2", 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    ("MPEG2", 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_BITRATES[("MPEG2.5", 1)] = _MP3_BITRATES[("MPEG2", 1)]
_MP3_BITRATES[("MPEG2.5", 2)] = _MP3_BITRATES[("MPEG2", 2)]
_MP3_BITRATES[("MPEG2.5", 3)] = _MP3_BITRATES[("MPEG2", 3)]

_MP3_RATES = {
    "MPEG1": (44100, 48000, 32000),
    "MPEG2": (22050, 24000, 16000),
    "MPEG2.5": (11025, 12000, 8000),
}

#: Header version bits (B) and layer bits (C) per the 32-bit layout
#: AAAAAAAA AAABBCCD EEEEFFGH IIJJKLMM.
_MP3_VERSION_BITS = {"MPEG2.5": 0b00, "MPEG2": 0b10, "MPEG1": 0b11}
_MP3_LAYER_BITS = {1: 0b11, 2: 0b10, 3: 0b01}


def _mp3_samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "MPEG1" else 576


def _mp3_frame_bytes(version: str, layer: int, kbps: int, sr: int, pad: bool) -> int:
    """Spec frame length. Layer I counts 4-byte slots; II/III count bytes."""
    if layer == 1:
        return (12 * kbps * 1000 // sr + (1 if pad else 0)) * 4
    spf = _mp3_samples_per_frame(version, layer)
    return spf // 8 * (kbps * 1000) // sr + (1 if pad else 0)


def synth_mp3_params(n: int) -> dict:
    """Deterministic MPEG-audio parameters for a payload of ``n`` bytes —
    one closed form shared by the encoder, the parser's expected output,
    and the DuckDB oracle (q_mp3_meta). Residues sweep the parse paths:
    MPEG version (%3 — 1/2/2.5 sample-rate tables), layer (//3 %3 — the
    Layer-I 4-byte-slot size formula vs II/III), sample rate (//2 %3),
    base bitrate index (1 + //5 %14), VBR (%9 — per-frame index walk,
    byte_rate NULL), per-frame padding bit ((n+i)%4), CRC-protected
    headers (%7 — 2 extra bytes each), channel mode (//4 %4, mono=3),
    ID3v2 tag (%5; v2.4 syncsafe frame sizes when %10, else v2.3) with
    1 + n%4 frames, trailing ID3v1 tag (%6)."""
    version = ("MPEG1", "MPEG2", "MPEG2.5")[n % 3]
    layer = (3, 2, 1)[(n // 3) % 3]
    sr = _MP3_RATES[version][(n // 2) % 3]
    bi = 1 + (n // 5) % 14
    vbr = n % 9 == 0
    n_frames = 2 + n % 29
    mode = (n // 4) % 4
    id3v2 = n % 5 == 0
    id3v2_frames = 1 + n % 4 if id3v2 else 0
    table = _MP3_BITRATES[(version, layer)]
    return {
        "version": version,
        "layer": layer,
        "sample_rate": sr,
        "bitrate_idx": bi,
        "vbr": vbr,
        "n_frames": n_frames,
        "crc": n % 7 == 0,
        "mode": mode,
        "channels": 1 if mode == 3 else 2,
        "id3v2": id3v2,
        "id3v2_four": n % 10 == 0,  # v2.4 (syncsafe frame sizes) vs v2.3
        "id3v2_frames": id3v2_frames,
        "id3v1": n % 6 == 0,
        "n_meta": id3v2_frames + (1 if n % 6 == 0 else 0),
        "samples_per_frame": _mp3_samples_per_frame(version, layer),
        # CBR byte rate; NULL under VBR (n_frames >= 2 guarantees at
        # least two distinct per-frame indices when vbr is set).
        "byte_rate": None if vbr else table[bi - 1] * 1000 // 8,
    }


def _syncsafe(v: int) -> bytes:
    return bytes(((v >> s) & 0x7F) for s in (21, 14, 7, 0))


def _synth_mp3(n: int) -> bytes:
    """A REAL (spec-layout) MPEG-audio stream for :func:`synth_mp3_params`
    of ``n``: optional ID3v2 tag, CBR or VBR frame sequence with padding
    and CRC variations, optional trailing ID3v1 tag. Frame payloads are
    filler — the fixture is for the METADATA pipeline, like
    :func:`_synth_wav`'s data chunk."""
    p = synth_mp3_params(n)
    out = bytearray()
    if p["id3v2"]:
        frames = bytearray()
        for i in range(p["id3v2_frames"]):
            fid = (b"TIT2", b"TPE1", b"TALB", b"TRCK")[i]
            body = f"synth {n}/{i}".encode()
            size = (
                _syncsafe(len(body)) if p["id3v2_four"] else struct.pack(">I", len(body))
            )
            frames += fid + size + b"\x00\x00" + body
        frames += b"\x00" * (n % 3)  # spec-legal tag padding
        out += (
            b"ID3"
            + bytes((4 if p["id3v2_four"] else 3, 0, 0))
            + _syncsafe(len(frames))
            + frames
        )
    table = _MP3_BITRATES[(p["version"], p["layer"])]
    for i in range(p["n_frames"]):
        bi = 1 + ((n // 5) + i) % 14 if p["vbr"] else p["bitrate_idx"]
        pad = (n + i) % 4 == 0
        hdr = (
            (0x7FF << 21)
            | (_MP3_VERSION_BITS[p["version"]] << 19)
            | (_MP3_LAYER_BITS[p["layer"]] << 17)
            | ((0 if p["crc"] else 1) << 16)
            | (bi << 12)
            | (((n // 2) % 3) << 10)
            | ((1 if pad else 0) << 9)
            | (p["mode"] << 6)
        )
        size = _mp3_frame_bytes(p["version"], p["layer"], table[bi - 1], p["sample_rate"], pad)
        frame = bytearray(struct.pack(">I", hdr))
        if p["crc"]:
            frame += struct.pack(">H", (n + i) & 0xFFFF)  # placeholder CRC16
        frame += b"\xa5" * (size - len(frame))
        out += frame
    if p["id3v1"]:
        out += b"TAG" + bytes(125)
    return bytes(out)


def decode_mp3_meta(payload: bytes) -> dict:
    """Real MPEG-audio METADATA decode — a pure-Python frame-header walk
    (no audio library, integer-only outputs): skips an ID3v2 tag
    (counting its frames), walks every MPEG frame header (version /
    layer / bitrate / sample-rate tables, padding, optional CRC16),
    recognizes a trailing ID3v1 tag, and reports total sample count,
    channel count, and the CBR byte rate (NULL when frame bitrates
    vary — VBR). Loud on corruption (lost sync, forbidden bitrate or
    sample-rate index, reserved version/layer, truncated frame,
    truncated or overrunning ID3v2 tag); "free format" (bitrate index
    0) is legal-but-unsupported → NotImplementedError, the image-decoder
    discipline. Returns: sample_rate, channels, n_frames (MPEG frames),
    total_samples, byte_rate, n_meta, layer, version."""
    buf = bytes(payload)
    pos = 0
    n_meta = 0
    if buf[:3] == b"ID3":
        if len(buf) < 10:
            raise ValueError("truncated ID3v2 header")
        major = buf[3]
        if any(b & 0x80 for b in buf[6:10]):
            raise ValueError("corrupt ID3v2 size (non-syncsafe byte)")
        tag_size = (buf[6] << 21) | (buf[7] << 14) | (buf[8] << 7) | buf[9]
        tag_end = 10 + tag_size
        if tag_end > len(buf):
            raise ValueError("ID3v2 tag overruns payload")
        f = 10
        while f + 10 <= tag_end and buf[f] != 0:
            fsize_raw = buf[f + 4 : f + 8]
            if major >= 4:
                if any(b & 0x80 for b in fsize_raw):
                    raise ValueError("corrupt ID3v2.4 frame size")
                fsize = (
                    (fsize_raw[0] << 21)
                    | (fsize_raw[1] << 14)
                    | (fsize_raw[2] << 7)
                    | fsize_raw[3]
                )
            else:
                fsize = struct.unpack(">I", fsize_raw)[0]
            if f + 10 + fsize > tag_end:
                raise ValueError("ID3v2 frame overruns tag")
            n_meta += 1
            f = f + 10 + fsize
        pos = tag_end
    end = len(buf)
    if end - pos >= 128 and buf[end - 128 : end - 125] == b"TAG":
        n_meta += 1
        end -= 128
    n_frames = 0
    rates: set[int] = set()
    sr = channels = spf = None
    version = layer = None
    while pos < end:
        if end - pos < 4:
            raise ValueError("truncated MPEG frame header")
        h = struct.unpack_from(">I", buf, pos)[0]
        if h >> 21 != 0x7FF:
            raise ValueError("lost MPEG frame sync")
        vbits = (h >> 19) & 0b11
        if vbits == 0b01:
            raise ValueError("reserved MPEG version")
        v = {0b00: "MPEG2.5", 0b10: "MPEG2", 0b11: "MPEG1"}[vbits]
        lbits = (h >> 17) & 0b11
        if lbits == 0b00:
            raise ValueError("reserved MPEG layer")
        lay = {0b11: 1, 0b10: 2, 0b01: 3}[lbits]
        bi = (h >> 12) & 0xF
        if bi == 0xF:
            raise ValueError("forbidden MPEG bitrate index")
        if bi == 0:
            raise NotImplementedError("free-format MPEG bitrate")
        sri = (h >> 10) & 0b11
        if sri == 0b11:
            raise ValueError("reserved MPEG sample-rate index")
        if version is None:
            version, layer = v, lay
            sr = _MP3_RATES[v][sri]
            channels = 1 if (h >> 6) & 0b11 == 0b11 else 2
            spf = _mp3_samples_per_frame(v, lay)
        elif (v, lay, _MP3_RATES[v][sri]) != (version, layer, sr):
            raise ValueError("MPEG stream parameters change mid-stream")
        kbps = _MP3_BITRATES[(v, lay)][bi - 1]
        rates.add(kbps)
        size = _mp3_frame_bytes(v, lay, kbps, sr, bool((h >> 9) & 1))
        if pos + size > end:
            raise ValueError("MPEG frame overruns payload")
        n_frames += 1
        pos += size
    if n_frames == 0:
        raise ValueError("no MPEG frames")
    return {
        "version": version,
        "layer": layer,
        "sample_rate": sr,
        "channels": channels,
        "n_frames": n_frames,
        "total_samples": n_frames * spf,
        "byte_rate": (rates.pop() * 1000 // 8) if len(rates) == 1 else None,
        "n_meta": n_meta,
    }


AUDIO_META_SCHEMA = (
    "doc_id bigint, container string, codec string, channels int, "
    "sample_rate int, bits_per_sample int, n_frames bigint, "
    "duration_ms bigint, byte_rate int, n_meta int, checksum string"
)


def decode_audio_meta(payload: bytes) -> dict:
    """Unified audio metadata: dispatch on magic to the WAV, FLAC,
    Ogg (Vorbis/Opus), or MPEG-audio parser and map all onto one schema
    (``AUDIO_META_SCHEMA`` minus doc_id). ``byte_rate`` is NULL for FLAC
    and VBR MP3 (no fixed rate), ``checksum`` is NULL except FLAC,
    ``bits_per_sample`` is NULL for MP3 (lossy — no PCM width);
    ``n_frames`` is uniformly the SAMPLE count (MP3's MPEG-frame count
    times samples-per-frame; Ogg's final granule position, minus
    pre-skip for Opus whose clock — and reported sample_rate — is
    always 48 kHz), so ``duration_ms`` is the exact integer
    ``n_frames * 1000 // sample_rate`` on every path. ``byte_rate`` is
    NULL wherever no fixed rate exists (FLAC, VBR MP3, Opus, Vorbis
    with an unset nominal bitrate)."""
    buf = bytes(payload)
    if buf[:4] in (b"RIFF", b"RF64"):
        m = decode_wav_meta(buf)
    elif buf[:4] == b"OggS":
        m = decode_ogg_meta(buf)
    elif buf[:4] == b"fLaC":
        f = decode_flac_meta(buf)
        m = {
            "container": "fLaC",
            "codec": "flac",
            "channels": f["channels"],
            "sample_rate": f["sample_rate"],
            "bits_per_sample": f["bits_per_sample"],
            "n_frames": f["total_samples"],
            "byte_rate": None,
            "n_meta": f["n_comments"],
            "checksum": f["checksum"],
        }
    elif buf[:3] == b"ID3" or (
        len(buf) >= 2 and buf[0] == 0xFF and buf[1] & 0xE0 == 0xE0
    ):
        g = decode_mp3_meta(buf)
        m = {
            "container": "MP3",
            "codec": "mp3",
            "channels": g["channels"],
            "sample_rate": g["sample_rate"],
            "bits_per_sample": None,
            "n_frames": g["total_samples"],
            "byte_rate": g["byte_rate"],
            "n_meta": g["n_meta"],
            "checksum": None,
        }
    else:
        raise ValueError(
            "not a recognized audio payload (RIFF/RF64/OggS/fLaC/MPEG)"
        )
    m["duration_ms"] = m["n_frames"] * 1000 // m["sample_rate"]
    return m


def extract_audio_meta(df: DataFrame) -> DataFrame:
    """Audio metadata over (doc_id, payload: binary) —
    the genuine-lake entry point, twin of :func:`extract_video_meta`.
    Rows whose payload is not a parseable WAV/RF64/FLAC container are
    DROPPED (row-wise degrade; NotImplementedError — a legal but
    unsupported format tag — degrades the same way, never aborts the
    sweep). Header-only: cost per blob is independent of blob size."""
    return extract(df, lambda b: decode_audio_meta(b or b""), AUDIO_META_SCHEMA)


#: q_audio_meta's DuckDB oracle — the parameter closed form replayed in
#: SQL (incl. the md5 checksum via DuckDB's own md5()). Kept as a module
#: constant because the query's REGISTRATION is deferred to round 15 by
#: the standing window-budgeting rule (registry.py: the round-14 driver
#: window is exactly full); tests/test_llm.py runs the same differential
#: compare the driver would.
AUDIO_META_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), p AS (
        SELECT doc_id, n, n % 2 = 1 AS is_flac,
               CASE WHEN n % 2 = 1
                    THEN ([8000,16000,22050,44100,48000,96000])[1 + n % 6]
                    ELSE ([8000,16000,22050,44100,48000])[1 + n % 5]
               END AS sr,
               CASE WHEN n % 2 = 1 THEN 1 + n % 8
                    ELSE 1 + (n // 2) % 2 END AS ch,
               CASE WHEN n % 2 = 1 THEN ([8,12,16,20,24,32])[1 + (n // 3) % 6]
                    WHEN n % 3 = 0 THEN 32
                    WHEN n % 4 = 0 THEN 16
                    ELSE 24 END AS bits,
               CASE WHEN n % 2 = 1
                    THEN CASE WHEN n % 9 = 0 THEN 8589934592 + n
                              ELSE 1 + n % 100000 END
                    ELSE 1 + n % 480 END AS nf
        FROM t
    )
    SELECT doc_id,
           CASE WHEN is_flac THEN 'fLaC'
                WHEN n % 11 = 0 THEN 'RF64' ELSE 'RIFF' END AS container,
           CASE WHEN is_flac THEN 'flac'
                WHEN n % 3 = 0 THEN 'float' ELSE 'pcm' END AS codec,
           CAST(ch AS INT) AS channels,
           CAST(sr AS INT) AS sample_rate,
           CAST(bits AS INT) AS bits_per_sample,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(nf * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(CASE WHEN is_flac THEN NULL
                     ELSE sr * ch * (bits // 8) END AS INT) AS byte_rate,
           CAST(CASE WHEN is_flac THEN n % 4
                     WHEN n % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_meta,
           CASE WHEN is_flac THEN md5('flac-' || CAST(n AS VARCHAR))
                ELSE NULL END AS checksum
    FROM p
"""


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata: per row, a REAL WAV/RF64 (even byte lengths) or
    FLAC (odd byte lengths) container is synthesized from the
    payload's byte length and the REAL parsers
    (:func:`decode_wav_meta` / :func:`decode_flac_meta`) recover the
    unified metadata row; ``AUDIO_META_ORACLE`` replays the parameter
    closed form so the differential checks the parsers against an
    independent computation — the audio twin of q_video_meta's recipe.
    Map-only (no shuffle); on a genuine lake the same parsers run via
    ``ingest_binary_dir -> extract_audio_meta``.

    REGISTRATION DEFERRED to round 15 (window budgeting — see
    registry.py's round-15 plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # Only the payload's byte LENGTH parameterizes the synth container,
    # so ship 8 bytes per row through Arrow, not the whole document body
    # (same cheap form as q_subtitle_meta).
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: decode_audio_meta(_synth_flac(n) if n % 2 else _synth_wav(n)),
        AUDIO_META_SCHEMA,
        col="n",
    )


#: q_mp3_meta's DuckDB oracle — the synth_mp3_params closed form replayed
#: in SQL (bitrate/sample-rate tables as DuckDB list literals). Module
#: constant like AUDIO_META_ORACLE: registration is deferred by the
#: standing window-budgeting rule; tests run the same differential the
#: driver would.
MP3_META_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), p AS (
        SELECT doc_id, n,
               n % 3 AS vi,
               ([3,2,1])[1 + (n // 3) % 3] AS layer,
               CASE n % 3
                    WHEN 0 THEN ([44100,48000,32000])[1 + (n // 2) % 3]
                    WHEN 1 THEN ([22050,24000,16000])[1 + (n // 2) % 3]
                    ELSE ([11025,12000,8000])[1 + (n // 2) % 3]
               END AS sr,
               1 + (n // 5) % 14 AS bi,
               2 + n % 29 AS nf,
               CASE WHEN (n // 4) % 4 = 3 THEN 1 ELSE 2 END AS ch
        FROM t
    ), q AS (
        SELECT *,
               CASE WHEN layer = 1 THEN 384
                    WHEN layer = 2 THEN 1152
                    WHEN vi = 0 THEN 1152 ELSE 576 END AS spf,
               CASE WHEN n % 9 = 0 THEN NULL
                    WHEN vi = 0 AND layer = 1 THEN
                        ([32,64,96,128,160,192,224,256,288,320,352,384,416,448])[bi]
                    WHEN vi = 0 AND layer = 2 THEN
                        ([32,48,56,64,80,96,112,128,160,192,224,256,320,384])[bi]
                    WHEN vi = 0 THEN
                        ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bi]
                    WHEN layer = 1 THEN
                        ([32,48,56,64,80,96,112,128,144,160,176,192,224,256])[bi]
                    ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,160])[bi]
               END AS kbps
        FROM p
    )
    SELECT doc_id,
           'MP3' AS container,
           'mp3' AS codec,
           CAST(ch AS INT) AS channels,
           CAST(sr AS INT) AS sample_rate,
           CAST(NULL AS INT) AS bits_per_sample,
           CAST(nf * spf AS BIGINT) AS n_frames,
           CAST(nf * spf * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(kbps * 1000 // 8 AS INT) AS byte_rate,
           CAST(CASE WHEN n % 5 = 0 THEN 1 + n % 4 ELSE 0 END +
                CASE WHEN n % 6 = 0 THEN 1 ELSE 0 END AS INT) AS n_meta,
           CAST(NULL AS VARCHAR) AS checksum
    FROM q
"""


def q_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-audio metadata: per row, a REAL MP3 stream (frame sequence
    with VBR/CRC/padding variations, ID3v2 + ID3v1 tags) is synthesized
    from the payload's byte length and the REAL parser
    (:func:`decode_mp3_meta` via the unified dispatch) recovers the
    AUDIO_META_SCHEMA row; ``MP3_META_ORACLE`` replays the parameter
    closed form — the lossy-side twin of q_audio_meta's recipe.
    Map-only (no shuffle); on a genuine lake the same parser runs via
    ``ingest_binary_dir -> extract_audio_meta``.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: decode_audio_meta(_synth_mp3(n)),
        AUDIO_META_SCHEMA,
        col="n",
    )


# --------------------------------------------------------------------------
# Subtitle / caption tracks: SRT (SubRip) + WebVTT cue metadata — the text
# side of a video lake (alignment budgeting, caption dedup keys, CPS QA).
# --------------------------------------------------------------------------

import re as _re

#: One timecode grammar serves both formats: SRT separates millis with
#: a comma, WebVTT with a dot; WebVTT also allows the hours field to be
#: omitted. Groups: h (optional), m, s, ms.
#: Hours are 1+ digits: WebVTT's grammar says "two or more" and long
#: lecture/stream captions legitimately pass 99 hours (bounded at 6
#: digits to keep the ms arithmetic comfortably in int64).
_CUE_TIME_RE = _re.compile(
    r"^(?:(\d{1,6}):)?(\d{2}):(\d{2})[,.](\d{3})$"
)

#: Fixed-length per-cue text (16 chars) so the DuckDB oracle's char
#: arithmetic is a closed form: 'subtitle text ' + one letter + '.'.
_SUB_TEXT_CHARS = 16


def synth_subtitle_params(n: int) -> dict:
    """Deterministic subtitle-track parameters for a payload of ``n``
    bytes — the closed form shared with q_subtitle_meta's oracle.
    Sweeps: SRT vs WebVTT (%2), cue count (%12), a start offset (%500),
    cue duration (%7), and (in :func:`_synth_subtitles`) WebVTT's
    optional cue identifiers (%3) and hour-less timecodes (%5)."""
    return {
        "format": "vtt" if n % 2 else "srt",
        "n_cues": 1 + n % 12,
        "start_offset_ms": n % 500,
        "cue_ms": 800 + 100 * (n % 7),
        "gap_ms": 2000,
    }


def _fmt_timecode(ms: int, vtt: bool, drop_hours: bool) -> str:
    h, rest = divmod(ms, 3600000)
    m, rest = divmod(rest, 60000)
    s, milli = divmod(rest, 1000)
    sep = "." if vtt else ","
    if vtt and drop_hours and h == 0:
        return f"{m:02d}:{s:02d}{sep}{milli:03d}"
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{milli:03d}"


def _synth_subtitles(n: int) -> str:
    """A REAL (spec-layout) SRT or WebVTT document for the
    :func:`synth_subtitle_params` of ``n``: numbered cues (SRT always;
    WebVTT on the %3 residue — cue ids are optional there), timecode
    lines, one fixed-length text line each, blank-line separated."""
    p = synth_subtitle_params(n)
    vtt = p["format"] == "vtt"
    drop_hours = vtt and n % 5 == 0
    out = ["WEBVTT", ""] if vtt else []
    for i in range(p["n_cues"]):
        start = p["start_offset_ms"] + i * p["gap_ms"]
        end = start + p["cue_ms"]
        if not vtt or n % 3 == 0:
            out.append(str(i + 1))
        arrow = (
            f"{_fmt_timecode(start, vtt, drop_hours)} --> "
            f"{_fmt_timecode(end, vtt, drop_hours)}"
        )
        out.append(arrow)
        out.append(f"subtitle text {chr(97 + i % 26)}.")
        out.append("")
    return "\n".join(out)


def _parse_timecode(tc: str) -> int:
    m = _CUE_TIME_RE.match(tc.strip())
    if m is None:
        raise ValueError(f"malformed subtitle timecode: {tc!r}")
    h, mi, s, ms = m.groups()
    return (
        (int(h) if h else 0) * 3600000 + int(mi) * 60000 + int(s) * 1000 + int(ms)
    )


def parse_subtitles(payload: str) -> dict:
    """Real SRT/WebVTT METADATA parse — cue count, first start / last
    end, summed cue duration, summed text chars — integer outputs only
    (DuckDB-replayable). Format is detected by the WEBVTT header;
    otherwise SubRip is assumed. Cue ids are optional (WebVTT) or
    required-numeric (SRT: a cue whose first line is not its index is
    malformed). Raises ``ValueError`` on structural corruption: a
    malformed timecode line, end before start, a cue with no text, or
    an out-of-order cue (starts must be non-decreasing) — so the
    extract seam can degrade row-wise, same discipline as the binary
    decoders."""
    text = str(payload).replace("\r\n", "\n").replace("\r", "\n")
    lines = text.split("\n")
    vtt = bool(lines) and lines[0].strip().startswith("WEBVTT")
    body = lines[1:] if vtt else lines
    if vtt:
        # WebVTT header metadata ("Kind: captions", "Language: en", …)
        # continues on the lines after the WEBVTT signature until the
        # first blank line — drop it so it is never mistaken for a cue.
        # Hand-authored files often OMIT the blank line before the
        # first cue, so also stop when the current or next line is a
        # cue timing line (header metadata can never contain "-->").
        i = 0
        while i < len(body) and body[i].strip() != "":
            if "-->" in body[i] or (
                i + 1 < len(body) and "-->" in body[i + 1]
            ):
                break
            i += 1
        body = body[i:]

    # Split into blank-line-separated cue blocks.
    blocks: list[list[str]] = []
    cur: list[str] = []
    for ln in body:
        if ln.strip() == "":
            if cur:
                blocks.append(cur)
                cur = []
        else:
            cur.append(ln)
    if cur:
        blocks.append(cur)
    if vtt:
        # NOTE / STYLE / REGION blocks are spec-legal non-cue blocks —
        # skip them instead of misreading their first line as a cue id.
        blocks = [
            b
            for b in blocks
            if not _re.match(r"^(NOTE|STYLE|REGION)\b", b[0].strip())
        ]
    if not blocks:
        raise ValueError("subtitle document has no cues")

    n_cues = total_ms = total_chars = 0
    first_start = last_end = None
    prev_start = -1
    expected_idx = 1
    for blk in blocks:
        rows = list(blk)
        if "-->" not in rows[0]:
            ident = rows.pop(0).strip()
            if not vtt:
                if not ident.isdigit() or int(ident) != expected_idx:
                    raise ValueError(
                        f"malformed SRT cue index: {ident!r} "
                        f"(expected {expected_idx})"
                    )
            if not rows:
                raise ValueError("subtitle cue is missing its timecode line")
        if "-->" not in rows[0]:
            raise ValueError(
                f"subtitle cue is missing its timecode line: {rows[0]!r}"
            )
        tc_parts = rows[0].split("-->")
        if len(tc_parts) != 2:
            raise ValueError(f"malformed cue timing line: {rows[0]!r}")
        # WebVTT allows settings after the end timecode; take token 1.
        start = _parse_timecode(tc_parts[0])
        end = _parse_timecode(tc_parts[1].strip().split(" ")[0])
        if end < start:
            raise ValueError(f"subtitle cue ends before it starts: {rows[0]!r}")
        if start < prev_start:
            raise ValueError("subtitle cues are out of order")
        cue_text = rows[1:]
        if not cue_text:
            raise ValueError("subtitle cue has no text lines")
        n_cues += 1
        expected_idx += 1
        prev_start = start
        total_ms += end - start
        total_chars += sum(len(t) for t in cue_text)
        if first_start is None:
            first_start = start
        last_end = end
    return {
        "format": "vtt" if vtt else "srt",
        "n_cues": n_cues,
        "first_start_ms": first_start,
        "last_end_ms": last_end,
        "total_cue_ms": total_ms,
        "total_chars": total_chars,
    }


SUBTITLE_META_SCHEMA = (
    "doc_id bigint, format string, n_cues int, first_start_ms bigint, "
    "last_end_ms bigint, total_cue_ms bigint, total_chars bigint"
)


def extract_subtitle_meta(df: DataFrame) -> DataFrame:
    """Subtitle metadata over (doc_id, payload: string)
    — the genuine-lake seam for caption sidecar files (ingest the .srt/
    .vtt blobs, decode utf-8, route here). Unparseable rows are DROPPED
    (row-wise degrade, the extract_video_meta discipline)."""
    return extract(df, lambda s: parse_subtitles(s or ""), SUBTITLE_META_SCHEMA)


#: q_subtitle_meta's DuckDB oracle — the parameter closed form.
#: Registration deferred to round 15 with q_audio_meta / q_url_dedup
#: (window budgeting — registry.py); pytest runs the differential.
SUBTITLE_META_ORACLE = """
    WITH p AS (
        SELECT doc_id, strlen(text) AS n,
               1 + strlen(text) % 12 AS n_cues,
               strlen(text) % 500 AS off,
               800 + 100 * (strlen(text) % 7) AS cue_ms
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CASE WHEN n % 2 = 1 THEN 'vtt' ELSE 'srt' END AS format,
           CAST(n_cues AS INT) AS n_cues,
           CAST(off AS BIGINT) AS first_start_ms,
           CAST(off + (n_cues - 1) * 2000 + cue_ms AS BIGINT) AS last_end_ms,
           CAST(n_cues * cue_ms AS BIGINT) AS total_cue_ms,
           CAST(n_cues * 16 AS BIGINT) AS total_chars
    FROM p
"""


def q_subtitle_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle-track metadata: per row, a REAL SRT (even byte lengths)
    or WebVTT (odd) caption document is synthesized from the payload's
    byte length and the REAL parser (:func:`parse_subtitles`) recovers
    cue count, span, summed cue time, and text chars; the oracle
    replays the closed form — the caption twin of q_video_meta. Map-
    only (no shuffle); on a genuine lake the same parser runs via
    ``ingest_binary_dir -> decode -> extract_subtitle_meta``.

    REGISTRATION DEFERRED to round 15 (window budgeting — see
    registry.py's round-15 plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "utf-8")).alias("n"),
    )

    return extract(
        payloads,
        lambda n: parse_subtitles(_synth_subtitles(n)),
        SUBTITLE_META_SCHEMA,
        col="n",
    )


# --------------------------------------------------------------------------
# EXIF (TIFF IFD) metadata: the image lake's tag walk — orientation,
# camera make/model, capture time, pixel dimensions, GPS presence.
# Public layouts: TIFF 6.0 (Adobe, 1992) + Exif 2.x (JEITA CP-3451);
# carried in a JPEG APP1 segment ("Exif\0\0") or a PNG eXIf chunk.
# --------------------------------------------------------------------------

#: TIFF field type -> byte width (types this parser needs; unknown types
#: are skipped but still counted — real cameras emit maker-note exotica).
_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

_EXIF_TAG_MAKE = 0x010F
_EXIF_TAG_MODEL = 0x0110
_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_DATETIME = 0x0132
_EXIF_TAG_EXIF_IFD = 0x8769
_EXIF_TAG_GPS_IFD = 0x8825
_EXIF_TAG_DT_ORIGINAL = 0x9003
_EXIF_TAG_PIX_X = 0xA002
_EXIF_TAG_PIX_Y = 0xA003


def synth_exif_params(n: int) -> dict:
    """Deterministic Exif/TIFF parameters for a payload of ``n`` bytes —
    one closed form shared by the encoder, the parser's expected output,
    and the DuckDB oracle (q_exif_meta). Residues sweep the parse paths:
    byte order (%2 — II little vs MM big endian), orientation (1 + %8,
    the full flip/rotate set), GPS sub-IFD presence (%5), string values
    long enough to take the offset (not inline) representation, and the
    Exif sub-IFD pointer chain."""
    sec = n % 60
    return {
        "byte_order": "II" if n % 2 == 0 else "MM",
        "orientation": 1 + n % 8,
        "make": f"Make{n % 100}",
        "model": f"Model{(n // 3) % 100}",
        "datetime": f"2026:08:16 12:00:{sec:02d}",
        "datetime_original": f"2026:08:15 09:30:{sec:02d}",
        "pix_x": 100 + n % 4000,
        "pix_y": 100 + (n // 2) % 4000,
        "has_gps": n % 5 == 0,
        # DATA tags only (sub-IFD pointers are structure, not data):
        # IFD0 carries make/model/orientation/datetime, the Exif
        # sub-IFD dt-original + x + y, the GPS sub-IFD GPSVersionID.
        "n_tags": 4 + 3 + (1 if n % 5 == 0 else 0),
    }


def _synth_exif_tiff(n: int) -> bytes:
    """A REAL (spec-layout) TIFF/Exif byte block for
    :func:`synth_exif_params` of ``n`` — the exact payload a JPEG APP1
    segment or PNG eXIf chunk carries. Offsets are assembled the way a
    camera writes them: IFD0 -> Exif IFD [-> GPS IFD] -> data area for
    the out-of-line ASCII values."""
    p = synth_exif_params(n)
    little = p["byte_order"] == "II"
    e = "<" if little else ">"

    def u16(v):
        return struct.pack(e + "H", v)

    def u32(v):
        return struct.pack(e + "I", v)

    make = p["make"].encode() + b"\x00"
    model = p["model"].encode() + b"\x00"
    dt = p["datetime"].encode() + b"\x00"
    dto = p["datetime_original"].encode() + b"\x00"

    n_ifd0 = 6 if p["has_gps"] else 5
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 12 * n_ifd0 + 4
    gps_off = exif_off + 2 + 12 * 3 + 4
    data_off = gps_off + (2 + 12 * 1 + 4 if p["has_gps"] else 0)

    data = bytearray()

    def ascii_entry(tag, s):
        nonlocal data
        if len(s) <= 4:
            return u16(tag) + u16(2) + u32(len(s)) + s.ljust(4, b"\x00")
        off = data_off + len(data)
        data += s
        return u16(tag) + u16(2) + u32(len(s)) + u32(off)

    def short_entry(tag, v):
        # SHORT value occupies the FIRST two bytes of the 4-byte field
        # in either endian (TIFF 6.0: left-justified within the field).
        return u16(tag) + u16(3) + u32(1) + u16(v) + b"\x00\x00"

    def long_entry(tag, v, typ=4):
        return u16(tag) + u16(typ) + u32(1) + u32(v)

    ifd0 = u16(n_ifd0)
    ifd0 += ascii_entry(_EXIF_TAG_MAKE, make)
    ifd0 += ascii_entry(_EXIF_TAG_MODEL, model)
    ifd0 += short_entry(_EXIF_TAG_ORIENTATION, p["orientation"])
    ifd0 += ascii_entry(_EXIF_TAG_DATETIME, dt)
    ifd0 += long_entry(_EXIF_TAG_EXIF_IFD, exif_off)
    if p["has_gps"]:
        ifd0 += long_entry(_EXIF_TAG_GPS_IFD, gps_off)
    ifd0 += u32(0)  # no IFD1 (thumbnail directory)

    exif_ifd = u16(3)
    exif_ifd += ascii_entry(_EXIF_TAG_DT_ORIGINAL, dto)
    exif_ifd += long_entry(_EXIF_TAG_PIX_X, p["pix_x"])
    exif_ifd += long_entry(_EXIF_TAG_PIX_Y, p["pix_y"])
    exif_ifd += u32(0)

    gps_ifd = b""
    if p["has_gps"]:
        # GPSVersionID: BYTE x4, inline.
        gps_ifd = u16(1) + u16(0) + u16(1) + u32(4) + b"\x02\x03\x00\x00" + u32(0)

    header = (b"II" if little else b"MM") + u16(42) + u32(ifd0_off)
    return header + ifd0 + exif_ifd + gps_ifd + bytes(data)


def parse_exif(payload: bytes) -> dict:
    """Real Exif/TIFF METADATA decode — a pure-Python IFD walk over the
    public TIFF 6.0 layout (both byte orders), following the Exif and
    GPS sub-IFD pointers one level deep. Unknown tags and field types
    are SKIPPED but counted in ``n_tags`` (cameras emit maker-note
    exotica; a parser that rejects them would drop most of a real
    lake). Loud ValueError on structural corruption: bad byte-order
    mark, magic != 42, an IFD or out-of-line value overrunning the
    buffer, or a sub-IFD pointer landing outside it."""
    buf = bytes(payload)
    if len(buf) < 8:
        raise ValueError("truncated TIFF header")
    if buf[:2] == b"II":
        e = "<"
    elif buf[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("bad TIFF byte-order mark")
    if struct.unpack_from(e + "H", buf, 2)[0] != 42:
        raise ValueError("bad TIFF magic")
    ifd0_off = struct.unpack_from(e + "I", buf, 4)[0]

    out = {
        "byte_order": buf[:2].decode(),
        "orientation": None,
        "make": None,
        "model": None,
        "datetime": None,
        "datetime_original": None,
        "pix_x": None,
        "pix_y": None,
        "has_gps": False,
        "n_tags": 0,
    }

    def read_value(typ, count, field):
        size = _TIFF_TYPE_SIZES.get(typ, 0) * count
        if size == 0:
            return None
        if size <= 4:
            raw = field[:size]
        else:
            off = struct.unpack(e + "I", field)[0]
            if off + size > len(buf):
                raise ValueError("TIFF value overruns payload")
            raw = buf[off : off + size]
        if typ == 2:  # ASCII, NUL-terminated
            return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        if typ == 3:
            return struct.unpack(e + "H", raw[:2])[0]
        if typ == 4:
            return struct.unpack(e + "I", raw[:4])[0]
        return raw

    def walk(off, depth):
        if depth > 2:
            raise ValueError("TIFF IFD chain too deep")
        if off + 2 > len(buf):
            raise ValueError("TIFF IFD overruns payload")
        (count,) = struct.unpack_from(e + "H", buf, off)
        end = off + 2 + 12 * count
        if end + 4 > len(buf):
            raise ValueError("TIFF IFD overruns payload")
        for i in range(count):
            base = off + 2 + 12 * i
            tag, typ = struct.unpack_from(e + "HH", buf, base)
            (cnt,) = struct.unpack_from(e + "I", buf, base + 4)
            field = buf[base + 8 : base + 12]
            out["n_tags"] += 1
            if tag == _EXIF_TAG_EXIF_IFD:
                out["n_tags"] -= 1  # pointer, not a data tag
                sub = read_value(4, 1, field)
                walk(sub, depth + 1)
            elif tag == _EXIF_TAG_GPS_IFD:
                out["n_tags"] -= 1
                out["has_gps"] = True
                sub = read_value(4, 1, field)
                walk(sub, depth + 1)
            elif tag == _EXIF_TAG_MAKE:
                out["make"] = read_value(typ, cnt, field)
            elif tag == _EXIF_TAG_MODEL:
                out["model"] = read_value(typ, cnt, field)
            elif tag == _EXIF_TAG_ORIENTATION:
                out["orientation"] = read_value(typ, cnt, field)
            elif tag == _EXIF_TAG_DATETIME:
                out["datetime"] = read_value(typ, cnt, field)
            elif tag == _EXIF_TAG_DT_ORIGINAL:
                out["datetime_original"] = read_value(typ, cnt, field)
            elif tag == _EXIF_TAG_PIX_X:
                out["pix_x"] = read_value(typ, cnt, field)
            elif tag == _EXIF_TAG_PIX_Y:
                out["pix_y"] = read_value(typ, cnt, field)

    walk(ifd0_off, 0)
    return out


def extract_exif_payload(blob: bytes) -> bytes:
    """Locate the Exif/TIFF block inside a real image container: a JPEG
    APP1 segment whose body starts ``Exif\\0\\0``, or a PNG eXIf chunk
    (PNG extension 1.5.0). ValueError when the container carries no
    Exif — callers at the lake seam degrade row-wise."""
    buf = bytes(blob)
    if buf[:2] == b"\xff\xd8":  # JPEG: walk segments up to SOS
        pos = 2
        while pos + 2 <= len(buf):
            if buf[pos] != 0xFF:
                raise ValueError("corrupt JPEG segment stream")
            # Spec B.1.1.2: any marker may be preceded by fill 0xFF
            # bytes — skip padding so ...FF FF E1 parses as APP1.
            while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
                pos += 1
            marker = buf[pos + 1]
            if marker == 0xDA:  # SOS — entropy data, no more headers
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                pos += 2  # standalone markers carry no length field
                continue
            if pos + 4 > len(buf):
                break
            (seg_len,) = struct.unpack_from(">H", buf, pos + 2)
            body = buf[pos + 4 : pos + 2 + seg_len]
            if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
                return body[6:]
            pos += 2 + seg_len
        raise ValueError("JPEG carries no Exif APP1 segment")
    if buf[:8] == b"\x89PNG\r\n\x1a\n":  # PNG: walk chunks
        pos = 8
        while pos + 8 <= len(buf):
            (clen,) = struct.unpack_from(">I", buf, pos)
            ctype = buf[pos + 4 : pos + 8]
            if ctype == b"eXIf":
                return buf[pos + 8 : pos + 8 + clen]
            pos += 12 + clen
        raise ValueError("PNG carries no eXIf chunk")
    raise ValueError("not a JPEG or PNG container")


EXIF_META_SCHEMA = (
    "doc_id bigint, byte_order string, orientation int, make string, "
    "model string, dt string, dt_original string, pix_x int, pix_y int, "
    "has_gps boolean, n_tags int"
)


def extract_exif_meta(df: DataFrame) -> DataFrame:
    """Exif metadata over (doc_id, payload: binary) —
    the genuine-lake entry point: JPEG/PNG blobs in, one metadata row
    per blob that carries a parseable Exif block; all other rows are
    DROPPED (row-wise degrade). Header-only: cost per blob is the
    segment/chunk walk, independent of pixel data size."""
    return extract(
        df,
        lambda b: _exif_row(parse_exif(extract_exif_payload(b or b""))),
        EXIF_META_SCHEMA,
    )


def _exif_row(m: dict) -> dict:
    """parse_exif's dict under EXIF_META_SCHEMA's column names."""
    return dict(m, dt=m["datetime"], dt_original=m["datetime_original"])


#: q_exif_meta's DuckDB oracle — the synth_exif_params closed form in
#: SQL. Module constant like the other deferred metadata oracles.
EXIF_META_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CASE WHEN n % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(1 + n % 8 AS INT) AS orientation,
           'Make' || CAST(n % 100 AS VARCHAR) AS make,
           'Model' || CAST((n // 3) % 100 AS VARCHAR) AS model,
           '2026:08:16 12:00:' || lpad(CAST(n % 60 AS VARCHAR), 2, '0') AS dt,
           '2026:08:15 09:30:' || lpad(CAST(n % 60 AS VARCHAR), 2, '0')
               AS dt_original,
           CAST(100 + n % 4000 AS INT) AS pix_x,
           CAST(100 + (n // 2) % 4000 AS INT) AS pix_y,
           n % 5 = 0 AS has_gps,
           CAST(CASE WHEN n % 5 = 0 THEN 8 ELSE 7 END AS INT) AS n_tags
    FROM t
"""


def q_exif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exif metadata: per row, a REAL TIFF/Exif block (IFD0 + Exif +
    optional GPS sub-IFDs, both byte orders, out-of-line ASCII values)
    is synthesized from the payload's byte length and the REAL parser
    (:func:`parse_exif`) walks it back; ``EXIF_META_ORACLE`` replays
    the parameter closed form — the tag-walk member of the image
    modality, next to q_multimodal_meta's dimension parse and
    q_phash_dedup's pixel decode. Map-only (no shuffle); on a genuine
    lake the same walk runs via ``ingest_binary_dir ->
    extract_exif_meta`` over JPEG APP1 / PNG eXIf containers.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: _exif_row(parse_exif(_synth_exif_tiff(n))),
        EXIF_META_SCHEMA,
        col="n",
    )


# --------------------------------------------------------------------------
# Matroska / WebM (EBML) metadata: the second big video container — the
# open-web side of a video lake, next to q_video_meta's ISO-BMFF walk.
# Public layouts: RFC 8794 (EBML) + the Matroska element registry.
# --------------------------------------------------------------------------

#: Element IDs (full encoded form, as they appear on the wire).
_EBML_HEADER = 0x1A45DFA3
_EBML_DOCTYPE = 0x4282
_EBML_DOCTYPE_VERSION = 0x4287
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TIMESTAMP_SCALE = 0x2AD7B1
_MKV_DURATION = 0x4489
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACK_ENTRY = 0xAE
_MKV_TRACK_TYPE = 0x83
_MKV_CODEC_ID = 0x86
_MKV_VIDEO = 0xE0
_MKV_PIXEL_WIDTH = 0xB0
_MKV_PIXEL_HEIGHT = 0xBA
_MKV_AUDIO = 0xE1
_MKV_SAMPLING_FREQ = 0xB5
_MKV_CHANNELS = 0x9F

#: Master elements this parser recurses into; everything else is skipped
#: by size (Clusters, Cues, SeekHead, Tags — content, not metadata).
_MKV_MASTERS = {
    _EBML_HEADER,
    _MKV_SEGMENT,
    _MKV_INFO,
    _MKV_TRACKS,
    _MKV_TRACK_ENTRY,
    _MKV_VIDEO,
    _MKV_AUDIO,
}


def synth_webm_params(n: int) -> dict:
    """Deterministic Matroska/WebM parameters for a payload of ``n``
    bytes — one closed form shared by the encoder, the parser's
    expected output, and the DuckDB oracle (q_webm_meta). Residues
    sweep the parse paths: doctype (%2), doctype version (2 + %3),
    timestamp scale (%4 — the 100 us vs the default 1 ms tick),
    video codec (%3 over VP8/VP9/AV1), audio track presence (%4) with
    codec (%2 over Opus/Vorbis), and (in :func:`_synth_webm`) an
    unknown-size Segment on %7 — the live-stream form — plus skipped
    SeekHead/Cluster elements."""
    scale = 100_000 if n % 4 == 0 else 1_000_000
    # duration ticks are a multiple of 10 so duration_ms is exact under
    # BOTH scales (ticks * scale // 1e6).
    dur_ticks = 10 * (1 + n % 500)
    has_audio = n % 4 != 0
    return {
        "doctype": "webm" if n % 2 == 0 else "matroska",
        "doctype_version": 2 + n % 3,
        "timestamp_scale": scale,
        "duration_ticks": dur_ticks,
        "duration_ms": dur_ticks * scale // 1_000_000,
        "video_codec": ("V_VP8", "V_VP9", "V_AV1")[n % 3],
        "width": 16 * (4 + n % 60),
        "height": 16 * (3 + n % 34),
        "has_audio": has_audio,
        "n_tracks": 2 if has_audio else 1,
        "audio_codec": ("A_OPUS" if n % 2 == 0 else "A_VORBIS")
        if has_audio
        else None,
        "audio_channels": 1 + (n // 3) % 2 if has_audio else None,
        "sampling_hz": (48000 if n % 5 else 44100) if has_audio else None,
        "unknown_size_segment": n % 7 == 0,
    }


def _ebml_id(eid: int) -> bytes:
    out = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    return out


def _ebml_size(v: int) -> bytes:
    """Shortest VINT encoding of a known size."""
    for width in range(1, 9):
        if v < (1 << (7 * width)) - 1:  # all-ones is reserved (unknown)
            return ((1 << (7 * width)) | v).to_bytes(width, "big")
    raise ValueError("EBML size too large")


def _ebml_el(eid: int, payload: bytes) -> bytes:
    return _ebml_id(eid) + _ebml_size(len(payload)) + payload


def _ebml_uint(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def _synth_webm(n: int) -> bytes:
    """A REAL (spec-layout) Matroska/WebM container for
    :func:`synth_webm_params` of ``n``: EBML header, Segment with Info
    and Tracks, a skipped SeekHead stand-in and a Cluster of filler.
    On the %7 residue the Segment uses the UNKNOWN size marker (the
    live-stream/streaming-recorder form) so the parser's
    rest-of-buffer path is exercised."""
    p = synth_webm_params(n)
    header = _ebml_el(
        _EBML_HEADER,
        _ebml_el(0x4286, _ebml_uint(1))  # EBMLVersion
        + _ebml_el(0x42F7, _ebml_uint(1))  # EBMLReadVersion
        + _ebml_el(_EBML_DOCTYPE, p["doctype"].encode())
        + _ebml_el(_EBML_DOCTYPE_VERSION, _ebml_uint(p["doctype_version"])),
    )
    info = _ebml_el(
        _MKV_INFO,
        _ebml_el(_MKV_TIMESTAMP_SCALE, _ebml_uint(p["timestamp_scale"]))
        + _ebml_el(_MKV_DURATION, struct.pack(">d", float(p["duration_ticks"]))),
    )
    video_track = _ebml_el(
        _MKV_TRACK_ENTRY,
        _ebml_el(0xD7, _ebml_uint(1))  # TrackNumber
        + _ebml_el(_MKV_TRACK_TYPE, _ebml_uint(1))
        + _ebml_el(_MKV_CODEC_ID, p["video_codec"].encode())
        + _ebml_el(
            _MKV_VIDEO,
            _ebml_el(_MKV_PIXEL_WIDTH, _ebml_uint(p["width"]))
            + _ebml_el(_MKV_PIXEL_HEIGHT, _ebml_uint(p["height"])),
        ),
    )
    tracks_payload = video_track
    if p["has_audio"]:
        tracks_payload += _ebml_el(
            _MKV_TRACK_ENTRY,
            _ebml_el(0xD7, _ebml_uint(2))
            + _ebml_el(_MKV_TRACK_TYPE, _ebml_uint(2))
            + _ebml_el(_MKV_CODEC_ID, p["audio_codec"].encode())
            + _ebml_el(
                _MKV_AUDIO,
                _ebml_el(
                    _MKV_SAMPLING_FREQ,
                    struct.pack(">d", float(p["sampling_hz"])),
                )
                + _ebml_el(0x9F, _ebml_uint(p["audio_channels"])),
            ),
        )
    tracks = _ebml_el(_MKV_TRACKS, tracks_payload)
    # A skipped element (Void, 0xEC) and a Cluster of filler bytes —
    # the parser must hop both by size without reading their content.
    void = _ebml_el(0xEC, b"\x00" * (n % 17))
    cluster = _ebml_el(0x1F43B675, b"\xa5" * (8 + n % 64))
    seg_payload = void + info + tracks + cluster
    if p["unknown_size_segment"]:
        seg = _ebml_id(_MKV_SEGMENT) + b"\xff" + seg_payload
    else:
        seg = _ebml_el(_MKV_SEGMENT, seg_payload)
    return header + seg


def decode_webm_meta(payload: bytes) -> dict:
    """Real Matroska/WebM METADATA decode — a pure-Python EBML walk
    (RFC 8794 varints, both the known-size and the live-stream
    unknown-size Segment forms), recursing only into the master
    elements that carry metadata and hopping Clusters/Cues/Void by
    size. Integer-only outputs (duration_ms is computed from the
    float Duration element's exactly-representable integer tick count
    and the integer TimestampScale). Loud ValueError on structural
    corruption: missing EBML header, zero-byte (invalid) varint,
    element overrun, unknown-size on a non-Segment element, truncated
    float. Unsupported float widths (not 4/8) are corrupt per RFC 8794."""
    buf = bytes(payload)

    def read_vint(pos, keep_marker):
        if pos >= len(buf):
            raise ValueError("truncated EBML varint")
        first = buf[pos]
        if first == 0:
            raise ValueError("invalid EBML varint (zero descriptor)")
        width = 9 - first.bit_length()
        if pos + width > len(buf):
            raise ValueError("truncated EBML varint")
        raw = int.from_bytes(buf[pos : pos + width], "big")
        if not keep_marker:
            marker = 1 << (7 * width)
            val = raw - marker
            # all value bits set = unknown size
            if val == marker - 1:
                return None, pos + width
            return val, pos + width
        return raw, pos + width

    out = {
        "doctype": None,
        "doctype_version": 1,
        "timestamp_scale": 1_000_000,  # Matroska default
        "duration_ms": None,
        "n_tracks": 0,
        "video_codec": None,
        "width": None,
        "height": None,
        "audio_codec": None,
        "audio_channels": None,
        "sampling_hz": None,
    }
    duration_ticks = None
    # TrackEntry children arrive in ANY order (RFC 8794 does not mandate
    # element order inside a master), so CodecID routing must wait until
    # the whole TrackEntry has been walked — buffer per-track fields on
    # a stack and resolve at TrackEntry close.
    track_stack: list[dict] = []

    def read_float(body):
        if len(body) == 4:
            return struct.unpack(">f", body)[0]
        if len(body) == 8:
            return struct.unpack(">d", body)[0]
        raise ValueError("corrupt EBML float width")

    def walk(pos, end):
        nonlocal duration_ticks
        while pos < end:
            eid, pos = read_vint(pos, keep_marker=True)
            size, pos = read_vint(pos, keep_marker=False)
            if size is None:
                if eid != _MKV_SEGMENT:
                    raise ValueError("unknown EBML size outside Segment")
                size = end - pos
            if pos + size > end:
                raise ValueError("EBML element overruns payload")
            body = buf[pos:pos + size]
            if eid in _MKV_MASTERS:
                if eid == _MKV_TRACK_ENTRY:
                    track_stack.append({"type": None, "codec": None})
                    walk(pos, pos + size)
                    track = track_stack.pop()
                    out["n_tracks"] += 1
                    if track["codec"] is not None:
                        if track["type"] == 2:
                            out["audio_codec"] = track["codec"]
                        else:
                            out["video_codec"] = track["codec"]
                else:
                    walk(pos, pos + size)
            elif eid == _EBML_DOCTYPE:
                out["doctype"] = body.decode("ascii", "replace")
            elif eid == _EBML_DOCTYPE_VERSION:
                out["doctype_version"] = int.from_bytes(body, "big")
            elif eid == _MKV_TIMESTAMP_SCALE:
                out["timestamp_scale"] = int.from_bytes(body, "big")
            elif eid == _MKV_DURATION:
                duration_ticks = read_float(body)
            elif eid == _MKV_TRACK_TYPE:
                if track_stack:
                    track_stack[-1]["type"] = int.from_bytes(body, "big")
            elif eid == _MKV_CODEC_ID:
                if track_stack:
                    track_stack[-1]["codec"] = body.decode("ascii", "replace")
            elif eid == _MKV_PIXEL_WIDTH:
                out["width"] = int.from_bytes(body, "big")
            elif eid == _MKV_PIXEL_HEIGHT:
                out["height"] = int.from_bytes(body, "big")
            elif eid == _MKV_SAMPLING_FREQ:
                out["sampling_hz"] = int(read_float(body))
            elif eid == _MKV_CHANNELS:
                out["audio_channels"] = int.from_bytes(body, "big")
            pos += size

    if not buf or len(buf) < 4 or int.from_bytes(buf[:4], "big") != _EBML_HEADER:
        raise ValueError("not an EBML/Matroska payload")
    walk(0, len(buf))
    if out["doctype"] is None:
        raise ValueError("EBML header carries no DocType")
    if duration_ticks is not None:
        # The tick count is a whole number in any sane muxer output;
        # int() of an exactly-representable whole float is exact.
        out["duration_ms"] = (
            int(duration_ticks) * out["timestamp_scale"] // 1_000_000
        )
    return out


WEBM_META_SCHEMA = (
    "doc_id bigint, doctype string, doctype_version int, "
    "timestamp_scale bigint, duration_ms bigint, n_tracks int, "
    "video_codec string, width int, height int, audio_codec string, "
    "audio_channels int, sampling_hz int"
)


def extract_webm_meta(df: DataFrame) -> DataFrame:
    """Matroska/WebM metadata over (doc_id, payload:
    binary) — the genuine-lake entry point, twin of
    :func:`extract_video_meta` for the EBML container family. Rows
    whose payload is not a parseable Matroska stream are DROPPED
    (row-wise degrade). Header-only: Clusters are hopped by size,
    never read."""
    return extract(df, lambda b: decode_webm_meta(b or b""), WEBM_META_SCHEMA)


#: q_webm_meta's DuckDB oracle — the synth_webm_params closed form.
WEBM_META_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), p AS (
        SELECT doc_id, n,
               CASE WHEN n % 4 = 0 THEN 100000 ELSE 1000000 END AS scale,
               10 * (1 + n % 500) AS ticks,
               n % 4 != 0 AS has_audio
        FROM t
    )
    SELECT doc_id,
           CASE WHEN n % 2 = 0 THEN 'webm' ELSE 'matroska' END AS doctype,
           CAST(2 + n % 3 AS INT) AS doctype_version,
           CAST(scale AS BIGINT) AS timestamp_scale,
           CAST(ticks * scale // 1000000 AS BIGINT) AS duration_ms,
           CAST(CASE WHEN has_audio THEN 2 ELSE 1 END AS INT) AS n_tracks,
           (['V_VP8','V_VP9','V_AV1'])[1 + n % 3] AS video_codec,
           CAST(16 * (4 + n % 60) AS INT) AS width,
           CAST(16 * (3 + n % 34) AS INT) AS height,
           CASE WHEN NOT has_audio THEN NULL
                WHEN n % 2 = 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END
               AS audio_codec,
           CAST(CASE WHEN has_audio THEN 1 + (n // 3) % 2 END AS INT)
               AS audio_channels,
           CAST(CASE WHEN NOT has_audio THEN NULL
                     WHEN n % 5 = 0 THEN 44100 ELSE 48000 END AS INT)
               AS sampling_hz
    FROM p
"""


def q_webm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM metadata: per row, a REAL EBML container (header +
    Segment with Info/Tracks, Void and Cluster elements hopped by
    size, unknown-size Segment on the %7 residue) is synthesized from
    the payload's byte length and the REAL parser
    (:func:`decode_webm_meta`) walks it back; ``WEBM_META_ORACLE``
    replays the closed form — the EBML twin of q_video_meta's ISO-BMFF
    recipe, completing the video container family. Map-only; on a
    genuine lake the same walk runs via ``ingest_binary_dir ->
    extract_webm_meta``.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: decode_webm_meta(_synth_webm(n)),
        WEBM_META_SCHEMA,
        col="n",
    )


# --------------------------------------------------------------------------
# Ogg container (Vorbis + Opus): page walk with the real Ogg CRC, lacing /
# packet reassembly, and the codec identification + comment headers —
# completes the audio container family (RIFF/RF64, FLAC, MPEG, Ogg).
# --------------------------------------------------------------------------


def _build_ogg_crc_table() -> tuple[int, ...]:
    """Ogg's page CRC is CRC-32 with polynomial 0x04C11DB7, zero initial
    value, no bit reflection, and no final XOR (RFC 3533 §6) — NOT the
    zlib CRC. Table-driven, byte at a time."""
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            if r & 0x80000000:
                r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
            else:
                r = (r << 1) & 0xFFFFFFFF
        table.append(r)
    return tuple(table)


_OGG_CRC_TABLE = _build_ogg_crc_table()


def ogg_page_crc(data: bytes) -> int:
    """RFC 3533 page checksum over a page whose CRC field is zeroed."""
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[(crc >> 24) ^ b]
    return crc


def synth_ogg_params(n: int) -> dict:
    """Deterministic Ogg stream parameters for a payload of ``n`` bytes —
    one closed form shared by the encoder, the parser test, and
    ``OGG_META_ORACLE``. Residue classes sweep the parse paths: Vorbis
    vs Opus (%2), the full 1-8 Vorbis channel range (%8) vs Opus
    mono/stereo (%2), six Vorbis rates (%6) and five informational Opus
    input rates (%5), unset Vorbis nominal bitrate => NULL byte_rate
    (%9), Opus channel-mapping family 1 with an explicit mapping table
    (%7), comment-header entries (%4), the data-page count (%5), a
    packet split across two pages with the continued-packet flag and a
    -1 no-packet-ends granule (%8, when two+ data pages exist), and an
    exactly-255*2-byte packet whose lacing needs the zero terminator
    (%10)."""
    is_vorbis = n % 2 == 0
    return {
        "codec": "vorbis" if is_vorbis else "opus",
        "channels": (1 + n % 8) if is_vorbis else (1 + n % 2),
        "sample_rate": (
            (8000, 16000, 22050, 44100, 48000, 96000)[n % 6]
            if is_vorbis
            else 48000
        ),
        "input_rate": (8000, 12000, 16000, 24000, 48000)[n % 5],
        "pre_skip": 312 + n % 500,
        "mapping_family": 1 if n % 7 == 0 else 0,
        "n_frames": 1 + n % 100000,
        "nominal_kbps": (
            0 if n % 9 == 0 else (32, 48, 64, 80, 96, 112, 128, 160)[(n // 3) % 8]
        ),
        "n_meta": n % 4,
        "n_data_pages": 1 + n % 5,
        "split_packet": n % 8 == 0 and n % 5 != 0,
        "exact_lacing": n % 10 == 0,
    }


def _ogg_page(
    serial: int, seq: int, granule: int, pieces: list, flags: int
) -> bytes:
    """One Ogg page. ``pieces`` is ``[(bytes, terminated)]``: a
    terminated piece laces as [255]*(len//255) + [len%255] (including
    the mandatory trailing 0 for exact multiples); an unterminated
    piece (packet continues on the next page) must be a multiple of 255
    and laces with no terminator."""
    lacing = bytearray()
    body = bytearray()
    for data, terminated in pieces:
        q, r = divmod(len(data), 255)
        if terminated:
            lacing += b"\xff" * q + bytes([r])
        else:
            if r:
                raise ValueError("unterminated piece must be a 255 multiple")
            lacing += b"\xff" * q
        body += data
    if len(lacing) > 255:
        raise ValueError("page needs more than 255 segments")
    page = bytearray(
        b"OggS"
        + bytes([0, flags])
        + struct.pack("<qIII", granule, serial, seq, 0)
        + bytes([len(lacing)])
        + lacing
        + body
    )
    struct.pack_into("<I", page, 22, ogg_page_crc(bytes(page)))
    return bytes(page)


def _synth_ogg(n: int) -> bytes:
    """A REAL (spec-layout, CRC-valid) single-stream Ogg file for the
    :func:`synth_ogg_params` of ``n``: BOS page with the Vorbis/Opus
    identification header, a header page with the comment header (plus
    the Vorbis setup header), then data pages of filler audio packets —
    the audio twin of :func:`_synth_mp4`'s mdat discipline."""
    p = synth_ogg_params(n)
    serial = 1 + n % 100000
    vendor = f"synth-ogg {n}".encode()
    comments = [f"K{i}=v{i}".encode() for i in range(p["n_meta"])]
    cbody = struct.pack("<I", len(vendor)) + vendor
    cbody += struct.pack("<I", len(comments))
    for c in comments:
        cbody += struct.pack("<I", len(c)) + c
    if p["codec"] == "vorbis":
        idh = b"\x01vorbis" + struct.pack(
            "<IBIiiiBB",
            0,
            p["channels"],
            p["sample_rate"],
            0,
            p["nominal_kbps"] * 1000,
            0,
            0xB8,  # blocksizes 2^8 / 2^11
            1,
        )
        headers2 = [b"\x03vorbis" + cbody + b"\x01", b"\x05vorbis" + b"\x55" * 23 + b"\x01"]
        granule_end = p["n_frames"]
    else:
        idh = b"OpusHead" + struct.pack(
            "<BBHIhB",
            1,
            p["channels"],
            p["pre_skip"],
            p["input_rate"],
            0,
            p["mapping_family"],
        )
        if p["mapping_family"] == 1:
            coupled = 1 if p["channels"] == 2 else 0
            idh += bytes([1, coupled]) + bytes(range(p["channels"]))
        headers2 = [b"OpusTags" + cbody]
        granule_end = p["pre_skip"] + p["n_frames"]

    def pk(i: int) -> bytes:
        size = 510 if i == 0 and p["exact_lacing"] else 40 + (n + 17 * i) % 300
        return bytes((n + 31 * i + j) % 256 for j in range(size))

    npages = p["n_data_pages"]
    granules = [granule_end * (i + 1) // npages for i in range(npages)]
    if p["split_packet"]:  # npages >= 2 by construction
        body0 = bytes((n + j) % 256 for j in range(255 + 1 + n % 200))
        data_pages = [
            (-1, 0x00, [(body0[:255], False)]),
            (granules[1], 0x01, [(body0[255:], True)]),
        ]
        for i in range(2, npages):
            data_pages.append((granules[i], 0x00, [(pk(i - 1), True)]))
    else:
        data_pages = [(granules[i], 0x00, [(pk(i), True)]) for i in range(npages)]

    pages = [
        _ogg_page(serial, 0, 0, [(idh, True)], 0x02),
        _ogg_page(serial, 1, 0, [(h, True) for h in headers2], 0x00),
    ]
    for i, (granule, flags, pieces) in enumerate(data_pages):
        if i == len(data_pages) - 1:
            flags |= 0x04
        pages.append(_ogg_page(serial, 2 + i, granule, pieces, flags))
    return b"".join(pages)


def _xiph_comment_count(pkt: bytes, magic: bytes, framed: bool) -> int:
    """Comment-entry count from a Vorbis comment / OpusTags packet (the
    shared Xiph layout: vendor length+bytes, entry count, per-entry
    length+bytes; Vorbis adds a trailing framing bit)."""
    if pkt[: len(magic)] != magic:
        raise ValueError("corrupt Ogg: bad comment header magic")
    pos = len(magic)
    if pos + 4 > len(pkt):
        raise ValueError("corrupt Ogg: truncated comment vendor length")
    (vlen,) = struct.unpack_from("<I", pkt, pos)
    pos += 4 + vlen
    if pos + 4 > len(pkt):
        raise ValueError("corrupt Ogg: comment vendor overruns the packet")
    (count,) = struct.unpack_from("<I", pkt, pos)
    pos += 4
    if count > len(pkt):
        raise ValueError("corrupt Ogg: comment count exceeds the packet")
    for _ in range(count):
        if pos + 4 > len(pkt):
            raise ValueError("corrupt Ogg: truncated comment entry length")
        (clen,) = struct.unpack_from("<I", pkt, pos)
        pos += 4 + clen
        if pos > len(pkt):
            raise ValueError("corrupt Ogg: comment entry overruns the packet")
    if framed and (pos >= len(pkt) or not pkt[pos] & 1):
        raise ValueError("corrupt Ogg: Vorbis comment framing bit unset")
    return count


def decode_ogg_meta(payload: bytes) -> dict:
    """Real Ogg METADATA decode — a pure-Python page walk over the
    public byte layout (RFC 3533 for the container, the Vorbis I spec
    and RFC 7845 for the codec headers), no audio library, integer-only
    outputs (DuckDB-replayable).

    Handles: page CRC verification (the real Ogg polynomial), lacing /
    packet reassembly including 255-run continuation within a page, the
    exact-multiple zero terminator, packets continued ACROSS pages (the
    continued-packet flag + the -1 no-packet-ends granule), sequence
    continuity, Vorbis identification/comment/setup headers (channels,
    rate, nominal bitrate, blocksize sanity, framing bits), and
    OpusHead/OpusTags (pre-skip, mapping family 0 and 1 with table
    validation). ``n_frames`` follows each codec's granule semantics:
    the final granule position for Vorbis, granule minus pre-skip for
    Opus (whose granule clock is always 48 kHz — the reported
    sample_rate is 48000; OpusHead's input rate is informational).

    Raises ``ValueError`` on structural corruption and
    ``NotImplementedError`` on legal-but-unsupported layouts (chained
    streams, multiplexed/grouped streams, non-Vorbis/Opus codecs,
    mapping family >= 2, incompatible OpusHead major version), so the
    extract seam can degrade row-wise."""
    buf = bytes(payload)
    if buf[:4] != b"OggS":
        raise ValueError("not an Ogg payload")
    pos = 0
    serial0 = None
    expected_seq = 0
    packets: list[bytes] = []
    partial = bytearray()
    partial_open = False
    saw_eos = False
    eos_granule = 0
    while pos < len(buf):
        if pos + 27 > len(buf):
            raise ValueError("corrupt Ogg: truncated page header")
        if buf[pos : pos + 4] != b"OggS":
            raise ValueError("corrupt Ogg: bad capture pattern")
        if buf[pos + 4] != 0:
            raise ValueError(
                f"corrupt Ogg: stream structure version {buf[pos + 4]}"
            )
        flags = buf[pos + 5]
        (granule,) = struct.unpack_from("<q", buf, pos + 6)
        serial, seq, crc = struct.unpack_from("<III", buf, pos + 14)
        nseg = buf[pos + 26]
        lace_end = pos + 27 + nseg
        if lace_end > len(buf):
            raise ValueError("corrupt Ogg: truncated segment table")
        lacing = buf[pos + 27 : lace_end]
        page_end = lace_end + sum(lacing)
        if page_end > len(buf):
            raise ValueError("corrupt Ogg: page body overruns the file")
        page = bytearray(buf[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_page_crc(bytes(page)) != crc:
            raise ValueError("corrupt Ogg: page CRC mismatch")
        if saw_eos:
            if flags & 0x02:
                raise NotImplementedError("chained Ogg streams unsupported")
            raise ValueError("corrupt Ogg: page after EOS")
        if serial0 is None:
            serial0 = serial
            if not flags & 0x02:
                raise ValueError("corrupt Ogg: first page is not BOS")
            if seq != 0:
                raise ValueError("corrupt Ogg: first page sequence != 0")
        else:
            if serial != serial0:
                raise NotImplementedError(
                    "multiplexed (grouped) Ogg streams unsupported"
                )
            if flags & 0x02:
                raise ValueError("corrupt Ogg: duplicate BOS in stream")
            if seq != expected_seq:
                raise ValueError(
                    f"corrupt Ogg: page sequence gap ({seq} != {expected_seq})"
                )
        expected_seq = seq + 1
        if flags & 0x01:
            if not partial_open:
                raise ValueError(
                    "corrupt Ogg: continuation flag without a pending packet"
                )
        elif partial_open:
            raise ValueError("corrupt Ogg: pending packet not continued")
        body = buf[lace_end:page_end]
        off = 0
        completed = 0
        for lv in lacing:
            partial += body[off : off + lv]
            off += lv
            partial_open = True
            if lv < 255:
                packets.append(bytes(partial))
                partial.clear()
                partial_open = False
                completed += 1
        if flags & 0x04:
            saw_eos = True
            if granule < 0:
                raise ValueError("corrupt Ogg: EOS page without a granule")
            eos_granule = granule
        elif completed == 0 and granule != -1:
            raise ValueError(
                "corrupt Ogg: page completes no packet but granule != -1"
            )
        pos = page_end
    if not saw_eos:
        raise ValueError("corrupt Ogg: missing EOS page")
    if partial_open:
        raise ValueError("corrupt Ogg: unterminated packet at EOS")
    if len(packets) < 2:
        raise ValueError("corrupt Ogg: missing codec headers")

    idh = packets[0]
    if idh[:7] == b"\x01vorbis":
        if len(idh) < 30:
            raise ValueError("corrupt Ogg: short Vorbis identification header")
        ver, ch, rate, _bmax, bnom, _bmin, blocks, framing = struct.unpack_from(
            "<IBIiiiBB", idh, 7
        )
        if ver != 0:
            raise ValueError(f"corrupt Ogg: Vorbis version {ver}")
        if ch < 1 or rate < 1:
            raise ValueError("corrupt Ogg: zero Vorbis channels/rate")
        if blocks & 0xF > blocks >> 4:
            raise ValueError("corrupt Ogg: Vorbis blocksize_0 > blocksize_1")
        if not framing & 1:
            raise ValueError("corrupt Ogg: Vorbis ID framing bit unset")
        n_meta = _xiph_comment_count(packets[1], b"\x03vorbis", framed=True)
        if len(packets) < 3 or packets[2][:7] != b"\x05vorbis":
            raise ValueError("corrupt Ogg: missing Vorbis setup header")
        if len(packets) < 4:
            raise ValueError("corrupt Ogg: no audio packets")
        return {
            "container": "Ogg",
            "codec": "vorbis",
            "channels": ch,
            "sample_rate": rate,
            "bits_per_sample": None,
            "n_frames": eos_granule,
            "byte_rate": bnom // 8 if bnom > 0 else None,
            "n_meta": n_meta,
            "checksum": None,
        }
    if idh[:8] == b"OpusHead":
        if len(idh) < 19:
            raise ValueError("corrupt Ogg: short OpusHead")
        ver, ch, pre_skip, _input_rate, _gain, family = struct.unpack_from(
            "<BBHIhB", idh, 8
        )
        if ver >> 4 != 0:
            raise NotImplementedError(
                f"incompatible OpusHead major version {ver >> 4}"
            )
        if ch < 1:
            raise ValueError("corrupt Ogg: zero Opus channels")
        if family == 0:
            if ch > 2:
                raise ValueError(
                    "corrupt Ogg: mapping family 0 with more than 2 channels"
                )
            if len(idh) != 19:
                raise ValueError(
                    "corrupt Ogg: mapping table present for family 0"
                )
        elif family == 1:
            if ch > 8:
                raise ValueError(
                    "corrupt Ogg: mapping family 1 with more than 8 channels"
                )
            if len(idh) < 21 + ch:
                raise ValueError("corrupt Ogg: truncated channel mapping table")
            streams, coupled = idh[19], idh[20]
            if streams < 1 or coupled > streams:
                raise ValueError("corrupt Ogg: bad Opus stream counts")
            for v in idh[21 : 21 + ch]:
                if v != 255 and v >= streams + coupled:
                    raise ValueError(
                        "corrupt Ogg: channel mapping index out of range"
                    )
        else:
            raise NotImplementedError(
                f"Opus channel mapping family {family} unsupported"
            )
        n_meta = _xiph_comment_count(packets[1], b"OpusTags", framed=False)
        if len(packets) < 3:
            raise ValueError("corrupt Ogg: no audio packets")
        if eos_granule < pre_skip:
            raise ValueError("corrupt Ogg: granule smaller than pre-skip")
        return {
            "container": "Ogg",
            "codec": "opus",
            "channels": ch,
            "sample_rate": 48000,
            "bits_per_sample": None,
            "n_frames": eos_granule - pre_skip,
            "byte_rate": None,
            "n_meta": n_meta,
            "checksum": None,
        }
    raise NotImplementedError("unsupported Ogg codec (not Vorbis or Opus)")


#: q_ogg_meta's DuckDB oracle — the synth_ogg_params closed form
#: replayed in SQL. Module constant like AUDIO_META_ORACLE: registration
#: is deferred by the standing window-budgeting rule; tests run the same
#: differential the driver would.
OGG_META_ORACLE = """
    WITH t AS (
        SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL
    ), p AS (
        SELECT doc_id, n,
               n % 2 = 0 AS is_vorbis,
               CASE WHEN n % 2 = 0
                    THEN ([8000,16000,22050,44100,48000,96000])[1 + n % 6]
                    ELSE 48000 END AS sr,
               1 + n % 100000 AS nf
        FROM t
    )
    SELECT doc_id,
           'Ogg' AS container,
           CASE WHEN is_vorbis THEN 'vorbis' ELSE 'opus' END AS codec,
           CAST(CASE WHEN is_vorbis THEN 1 + n % 8
                     ELSE 1 + n % 2 END AS INT) AS channels,
           CAST(sr AS INT) AS sample_rate,
           CAST(NULL AS INT) AS bits_per_sample,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(nf * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(CASE WHEN is_vorbis AND n % 9 != 0
                     THEN ([32,48,64,80,96,112,128,160])[1 + (n // 3) % 8] * 125
                     ELSE NULL END AS INT) AS byte_rate,
           CAST(n % 4 AS INT) AS n_meta,
           CAST(NULL AS VARCHAR) AS checksum
    FROM p
"""


def q_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg metadata: per row, a REAL CRC-valid Ogg stream (Vorbis or
    Opus, with lacing/continued-packet/page-flag variations) is
    synthesized from the payload's byte length and the REAL parser
    (:func:`decode_ogg_meta` via the unified dispatch) recovers the
    AUDIO_META_SCHEMA row; ``OGG_META_ORACLE`` replays the parameter
    closed form — the streamed-container twin of q_audio_meta's recipe.
    Map-only (no shuffle); on a genuine lake the same parser runs via
    ``ingest_binary_dir -> extract_audio_meta``.

    REGISTRATION DEFERRED (window budgeting — see registry.py's
    rotation plan); oracle-checked in pytest meanwhile.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    payloads = d.select(
        "doc_id", F.length(F.encode(F.col("text"), "utf-8")).alias("n")
    )

    return extract(
        payloads,
        lambda n: decode_audio_meta(_synth_ogg(n)),
        AUDIO_META_SCHEMA,
        col="n",
    )
