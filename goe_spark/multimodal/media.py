"""Multimodal columns: opaque binary payloads + typed metadata.

Additive scope for the training-data pipeline (no reference analog —
SURVEY.md §2.9/§2.10 note GOE is flat-relational). Design:

- media is a table of (media_id, kind, content: binary, meta struct) —
  the engine never interprets the binary in the JVM; all decode /
  feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` UDFs so each Python worker sees columnar batches of
  raw bytes, never row-at-a-time.
- the actual codecs (PIL/librosa/av) are NOT in this container, so the
  real decode raises ``NotImplementedError`` and the pipeline runs a
  clearly-marked deterministic fake that derives features from the
  byte length alone. The *plumbing* — schema, Arrow batch shape,
  partitioning — is real and what the tests pin down.

Scale notes: content bytes dominate width — the column is only
selected in the decode stage, so Parquet column pruning keeps every
other stage metadata-only. Feature extraction is embarrassingly
parallel (mapInPandas, no shuffle); ``spark.sql.files.maxPartitionBytes``
bounds per-task memory with large payloads. Batches arrive in
``spark.sql.execution.arrow.maxRecordsPerBatch`` chunks.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

KINDS = ("image", "audio", "video")

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def attach_media(documents: DataFrame) -> DataFrame:
    """Documents → media table with an opaque binary content column.

    The payload is the UTF-8 encoding of the text (deterministic, so
    the DuckDB oracle can recompute byte lengths via encode()); kind
    round-robins by doc_id. In production this column is real
    image/audio/video bytes read from object storage.
    """
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]),
        (F.col("doc_id") % len(KINDS) + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
    )


def decode_image(content: bytes) -> object:
    """REAL image decode — requires an imaging library not present in
    this container. The distributed plumbing calls the deterministic
    fake instead; swap this in when PIL/opencv is available."""
    raise NotImplementedError(
        "image codec not available in this environment; "
        "decode_media_features(fake=True) provides the deterministic stub"
    )


def _fake_features(media_id: int, kind: str, n_bytes: int) -> tuple:
    """Deterministic fake decode: features derived from byte length
    only, so correctness is oracle-checkable. CLEARLY A STUB — real
    decode populates these from the codec."""
    width = height = sample_rate = duration_ms = n_frames = None
    if kind == "image":
        width = 32 + n_bytes % 640
        height = 32 + (n_bytes * 7) % 480
    elif kind == "audio":
        sample_rate = 16000
        duration_ms = 100 + n_bytes % 10_000
    else:  # video
        width = 32 + n_bytes % 1920
        height = 32 + (n_bytes * 3) % 1080
        n_frames = 1 + n_bytes % 240
        duration_ms = 100 + n_bytes % 60_000
    return (media_id, kind, n_bytes, width, height, sample_rate, duration_ms, n_frames)


def decode_media_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Feature-extract over binary content via mapInPandas.

    Arrow delivers columnar batches of (media_id, kind, content); the
    worker emits one feature row per input row. With fake=False the
    real codec path raises NotImplementedError (not available here).
    """

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                b = bytes(content)
                if not fake:
                    decode_image(b)  # raises: codec not in container
                rows.append(_fake_features(int(mid), kind, len(b)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_FEATURE_SCHEMA.fields]
            )

    return media.mapInPandas(extract, schema=MEDIA_FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes_out", LongType()),
    ]
)


def resize_images(media: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize stub: real path re-encodes pixels; the stub models the
    output contract (fixed target dims, deterministic output size =
    min(n_bytes, target_w*target_h*3)) through the same mapInPandas
    plumbing a real resizer uses."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        cap = target_w * target_h * 3
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": target_w,
                    "height": target_h,
                    "n_bytes_out": [
                        min(len(bytes(c)), cap) for c in pdf["content"]
                    ],
                }
            )
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            yield out

    return media.where(F.col("kind") == "image").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_offset_bytes", LongType()),
    ]
)


def frame_sample(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling stub for video: emits one row per sampled frame
    (index + byte offset). Real path seeks the container format; the
    stub divides the payload evenly across the fake frame count so the
    fan-out shape (1 input row → many output rows) is exercised."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, offs = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                n = len(bytes(content))
                n_frames = 1 + n % 240
                per = max(1, n // n_frames)
                for i in range(0, n_frames, every_n):
                    ids.append(int(mid))
                    idxs.append(i)
                    offs.append(i * per)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_offset_bytes": pd.Series(offs, dtype="int64"),
                }
            )

    return media.where(F.col("kind") == "video").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# Codec-free binary payload statistics — REAL multimodal operators (no
# imaging/audio library required, so nothing here is a declared fake):
# magic-byte container sniffing and hex-nibble entropy, both pure
# byte arithmetic that the DuckDB oracle replays exactly.
# ---------------------------------------------------------------------------

# (hex-prefix, format) — longest prefix wins; prefixes are hex of the
# payload's leading bytes.
MAGIC_PREFIXES = (
    ("89504E47", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),
    ("25504446", "pdf"),
    ("494433", "mp3"),
    ("1F8B", "gzip"),
)


def sniff_format_h(h) -> "F.Column":
    """sniff_format over an ALREADY-BOUND hex column — callers that
    extract several fields bind ``upper(hex(content))`` once in a
    projection and feed the attribute here, so the payload is hexed
    once per row instead of once per consumer (the bind-once
    discipline of mp4_walk/tiff_entries)."""
    out = F.lit("unknown")
    for prefix, fmt in reversed(MAGIC_PREFIXES):
        out = F.when(h.startswith(prefix), F.lit(fmt)).otherwise(out)
    return out


def sniff_format(content) -> "F.Column":
    """Container format from the payload's magic bytes; 'unknown' when
    no prefix matches. Pure codegen (hex + startswith chain)."""
    return sniff_format_h(F.upper(F.hex(content)))


def sniff_format_sql(content_expr: str) -> str:
    """The identical sniff in DuckDB SQL."""
    h = f"upper(hex({content_expr}))"
    case = "CASE"
    for prefix, fmt in MAGIC_PREFIXES:
        case += f" WHEN {h} LIKE '{prefix}%' THEN '{fmt}'"
    return case + " ELSE 'unknown' END"


_HEX_DIGITS = "0123456789ABCDEF"


def nibble_entropy(content) -> "F.Column":
    """Shannon entropy (nats) of the payload's hex-nibble distribution
    — a codec-free corruption/compressibility signal (truncated or
    constant payloads score low; well-compressed media approaches
    ln 16). Computed as ln(n) - sum(c_i * ln(c_i)) / n with the 16
    per-digit counts from length arithmetic, so both engines evaluate
    the identical expression tree on the same integers."""
    return nibble_entropy_h(F.upper(F.hex(content)))


def nibble_entropy_h(h) -> "F.Column":
    """nibble_entropy over an already-bound hex column (the
    expression references the hex 33 times — see sniff_format_h)."""
    n = F.length(h).cast("double")
    terms = []
    for d in _HEX_DIGITS:
        c = (F.length(h) - F.length(F.replace(h, F.lit(d), F.lit("")))).cast(
            "double"
        )
        terms.append(F.when(c > 0, c * F.log(c)).otherwise(F.lit(0.0)))
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return F.when(n > 0, F.log(n) - acc / n).otherwise(F.lit(0.0))


def nibble_entropy_sql(content_expr: str) -> str:
    """The identical entropy expression in DuckDB SQL (same term
    order, same ln-of-integer arithmetic)."""
    h = f"upper(hex({content_expr}))"
    terms = []
    for d in _HEX_DIGITS:
        c = f"cast(length({h}) - length(replace({h}, '{d}', '')) AS double)"
        terms.append(f"(CASE WHEN {c} > 0 THEN {c} * ln({c}) ELSE 0.0 END)")
    acc = " + ".join(terms)
    n = f"cast(length({h}) AS double)"
    return (
        f"(CASE WHEN {n} > 0 THEN ln({n}) - ({acc}) / {n} ELSE 0.0 END)"
    )


# ---------------------------------------------------------------------------
# Header-parsed image dimensions — REAL byte-arithmetic operators (no
# codec): PNG IHDR (big-endian u32 at bytes 17-24), GIF logical screen
# (little-endian u16 at bytes 7-10), BMP BITMAPINFOHEADER (little-
# endian u32 at bytes 19-26). Parsing works on the raw content bytes
# via hex() + positional arithmetic, identically expressible in Spark
# (conv(_,16,10)) and DuckDB (CAST('0x'||_ AS INT)) — so the whole
# operator is value-hash oracle-checkable. Negative (top-down) BMP
# heights are out of scope: the parse reads the magnitude fields as
# unsigned, which covers the overwhelmingly common bottom-up form.
# ---------------------------------------------------------------------------

PNG_SIG_HEX = "89504E470D0A1A0A"  # \x89PNG\r\n\x1a\n
GIF_SIG_HEX = "474946383961"      # GIF89a
BMP_SIG_HEX = "424D"              # BM
JPEG_SIG_HEX = "FFD8FF"           # SOI + first marker byte

# JPEG frame headers whose payload carries the pixel dimensions:
# SOF0 (baseline), SOF1 (extended sequential), SOF2 (progressive).
JPEG_SOF_MARKERS = ("FFC0", "FFC1", "FFC2")
# Markers that end the header region without a frame header.
JPEG_STOP_MARKERS = ("FFDA", "FFD9")  # SOS, EOI
# Segment-walk iteration cap: headers are APPn/DQT/DHT/COM segments
# before the SOF; 24 hops covers every sane file (EXIF-heavy files
# have < 10 pre-SOF segments). Bounded so the fold is pure codegen.
JPEG_WALK_CAP = 24


def _hex_of(content) -> "F.Column":
    return F.upper(F.hex(content))


def _be_hex_val(hex_sub) -> "F.Column":
    """Big-endian hex substring -> integer (Spark-side)."""
    return F.conv(hex_sub, 16, 10).cast("int")


def _le_pairs(h, pos: int, n_bytes: int) -> "F.Column":
    """Reverse the byte order of ``n_bytes`` hex pairs starting at
    1-based hex offset ``pos`` — little-endian fields parse as the
    byte-swapped big-endian value."""
    pairs = [
        F.substring(h, pos + 2 * i, 2) for i in reversed(range(n_bytes))
    ]
    return F.concat(*pairs)


def jpeg_sof_pos(h) -> "F.Column":
    """1-based HEX-CHAR position of the SOF marker, by walking the
    JPEG segment chain: each segment is marker(2B) + length(2B BE,
    counting itself) + payload, so the next marker sits at
    pos + 4 + 2*length hex chars. The walk is a bounded F.aggregate
    fold (pure codegen, no UDF); it stops FOUND on SOF0/1/2, DEAD on
    SOS/EOI, a non-FF byte, a truncated segment, or a length < 2.
    NULL when no SOF is found within JPEG_WALK_CAP segments. Fill
    bytes (FF padding between segments) are out of scope — they
    parse as an unknown FFFF marker and dead-end, returning NULL
    rather than a wrong offset."""
    init = F.struct(
        F.lit(5).cast("int").alias("pos"),   # first marker after SOI
        F.lit(0).cast("int").alias("sof"),   # 0 walking, -1 dead, >0 found
    )

    def step(acc, _x):
        pos = acc["pos"]
        mk = h.substr(pos, F.lit(4))
        found = mk.isin(*JPEG_SOF_MARKERS)
        seg_len = F.conv(h.substr(pos + F.lit(4), F.lit(4)), 16, 10).cast(
            "int"
        )
        dead = (
            mk.isin(*JPEG_STOP_MARKERS)
            | ~mk.startswith("FF")
            | (F.length(h) < pos + F.lit(7))
            | (F.coalesce(seg_len, F.lit(0)) < F.lit(2))
        )
        return (
            F.when(acc["sof"] != 0, acc)
            .when(
                found,
                F.struct(pos.alias("pos"), pos.alias("sof")),
            )
            .when(
                dead,
                F.struct(pos.alias("pos"), F.lit(-1).alias("sof")),
            )
            .otherwise(
                F.struct(
                    (pos + F.lit(4) + F.lit(2) * seg_len).alias("pos"),
                    F.lit(0).alias("sof"),
                )
            )
        )

    res = F.aggregate(
        F.sequence(F.lit(1), F.lit(JPEG_WALK_CAP)), init, step
    )
    return F.when(res["sof"] > 0, res["sof"])


def image_width_h(h, sof) -> "F.Column":
    """image_width from ALREADY-BOUND hex + JPEG-SOF-position columns
    — extracting width and height through the content-taking wrappers
    runs the bounded SOF segment walk twice per row and hexes the
    payload four times; binding (h, sof) once halves the walk and
    shares the hex (the mp4_walk discipline)."""
    return (
        F.when(h.startswith(PNG_SIG_HEX), _be_hex_val(F.substring(h, 33, 8)))
        .when(h.startswith(GIF_SIG_HEX), _be_hex_val(_le_pairs(h, 13, 2)))
        .when(h.startswith(BMP_SIG_HEX), _be_hex_val(_le_pairs(h, 37, 4)))
        .when(
            h.startswith(JPEG_SIG_HEX),
            _be_hex_val(h.substr(sof + F.lit(14), F.lit(4))),
        )
        .otherwise(F.lit(None).cast("int"))
    )


def image_height_h(h, sof) -> "F.Column":
    """image_height from already-bound hex + SOF-position columns."""
    return (
        F.when(h.startswith(PNG_SIG_HEX), _be_hex_val(F.substring(h, 41, 8)))
        .when(h.startswith(GIF_SIG_HEX), _be_hex_val(_le_pairs(h, 17, 2)))
        .when(h.startswith(BMP_SIG_HEX), _be_hex_val(_le_pairs(h, 45, 4)))
        .when(
            h.startswith(JPEG_SIG_HEX),
            _be_hex_val(h.substr(sof + F.lit(10), F.lit(4))),
        )
        .otherwise(F.lit(None).cast("int"))
    )


def image_width(content) -> "F.Column":
    """Header-parsed pixel width: PNG/GIF/BMP dispatch on magic bytes,
    JPEG via the SOF segment walk; NULL for anything else. Pure
    codegen byte arithmetic."""
    h = _hex_of(content)
    return (
        # PNG: sig(8B) + chunk len(4B) + 'IHDR'(4B) -> width u32 BE at
        # bytes 17-20 = hex chars 33-40
        F.when(h.startswith(PNG_SIG_HEX), _be_hex_val(F.substring(h, 33, 8)))
        # GIF: 'GIF89a'(6B) -> width u16 LE at bytes 7-8 = chars 13-16
        .when(h.startswith(GIF_SIG_HEX), _be_hex_val(_le_pairs(h, 13, 2)))
        # BMP: 'BM'(2B)+size(4B)+reserved(4B)+offset(4B)+hdrsize(4B) ->
        # width u32 LE at bytes 19-22 = chars 37-44
        .when(h.startswith(BMP_SIG_HEX), _be_hex_val(_le_pairs(h, 37, 4)))
        # JPEG: SOF payload = len(2B) precision(1B) height(2B)
        # width(2B) -> width u16 BE at marker + 7 bytes = +14 chars
        .when(
            h.startswith(JPEG_SIG_HEX),
            _be_hex_val(h.substr(jpeg_sof_pos(h) + F.lit(14), F.lit(4))),
        )
        .otherwise(F.lit(None).cast("int"))
    )


def image_height(content) -> "F.Column":
    """Header-parsed pixel height (see image_width for layouts)."""
    h = _hex_of(content)
    return (
        # PNG height u32 BE at bytes 21-24 = chars 41-48
        F.when(h.startswith(PNG_SIG_HEX), _be_hex_val(F.substring(h, 41, 8)))
        # GIF height u16 LE at bytes 9-10 = chars 17-20
        .when(h.startswith(GIF_SIG_HEX), _be_hex_val(_le_pairs(h, 17, 2)))
        # BMP height u32 LE at bytes 23-26 = chars 45-52
        .when(h.startswith(BMP_SIG_HEX), _be_hex_val(_le_pairs(h, 45, 4)))
        # JPEG height u16 BE at SOF marker + 5 bytes = +10 chars
        .when(
            h.startswith(JPEG_SIG_HEX),
            _be_hex_val(h.substr(jpeg_sof_pos(h) + F.lit(10), F.lit(4))),
        )
        .otherwise(F.lit(None).cast("int"))
    )


def _le_pairs_sql(h: str, pos: int, n_bytes: int) -> str:
    pairs = ", ".join(
        f"substr({h}, {pos + 2 * i}, 2)" for i in reversed(range(n_bytes))
    )
    return f"concat({pairs})"


def _be_hex_val_sql(hex_sub: str) -> str:
    return f"try_cast(concat('0x', {hex_sub}) AS int)"


def jpeg_walk_sql_ctes(hex_rel: str) -> str:
    """DuckDB twin of jpeg_sof_pos as recursive-CTE text (expressions
    can't recurse in SQL, so the walk is a CTE the caller composes
    with ``WITH RECURSIVE``). ``hex_rel`` must expose (media_id, h)
    with h = upper(hex(content)). Emits CTEs ``jpeg_walk`` and
    ``jpeg_sof(media_id, sof_pos)`` — sof_pos NULL when no SOF is
    found, exactly the Spark fold's contract (same stop conditions,
    same {JPEG_WALK_CAP}-hop cap)."""
    sof_list = ", ".join(f"'{m}'" for m in JPEG_SOF_MARKERS)
    stop_list = ", ".join(f"'{m}'" for m in JPEG_STOP_MARKERS)
    seg_len = "try_cast(concat('0x', substr(h, pos + 4, 4)) AS INT)"
    return f"""jpeg_walk AS (
  SELECT media_id, h, 5 AS pos, 0 AS sof, 0 AS it
  FROM {hex_rel} WHERE h LIKE '{JPEG_SIG_HEX}%'
  UNION ALL
  SELECT media_id, h,
    cast(pos + 4 + 2 * coalesce({seg_len}, 0) AS int) AS pos,
    CASE
      WHEN substr(h, pos, 4) IN ({sof_list}) THEN pos
      WHEN substr(h, pos, 4) IN ({stop_list})
           OR substr(h, pos, 2) <> 'FF'
           OR length(h) < pos + 7
           OR coalesce({seg_len}, 0) < 2 THEN -1
      ELSE 0 END AS sof,
    it + 1
  FROM jpeg_walk WHERE sof = 0 AND it < {JPEG_WALK_CAP}
), jpeg_sof AS (
  SELECT media_id, max(CASE WHEN sof > 0 THEN sof END) AS sof_pos
  FROM jpeg_walk GROUP BY media_id
)"""


def image_width_sql(content_expr: str) -> str:
    """The identical width parse in DuckDB SQL."""
    h = f"upper(hex({content_expr}))"
    return (
        "CASE "
        f"WHEN {h} LIKE '{PNG_SIG_HEX}%' THEN "
        f"{_be_hex_val_sql(f'substr({h}, 33, 8)')} "
        f"WHEN {h} LIKE '{GIF_SIG_HEX}%' THEN "
        f"{_be_hex_val_sql(_le_pairs_sql(h, 13, 2))} "
        f"WHEN {h} LIKE '{BMP_SIG_HEX}%' THEN "
        f"{_be_hex_val_sql(_le_pairs_sql(h, 37, 4))} "
        "ELSE NULL END"
    )


def image_height_sql(content_expr: str) -> str:
    """The identical height parse in DuckDB SQL."""
    h = f"upper(hex({content_expr}))"
    return (
        "CASE "
        f"WHEN {h} LIKE '{PNG_SIG_HEX}%' THEN "
        f"{_be_hex_val_sql(f'substr({h}, 41, 8)')} "
        f"WHEN {h} LIKE '{GIF_SIG_HEX}%' THEN "
        f"{_be_hex_val_sql(_le_pairs_sql(h, 17, 2))} "
        f"WHEN {h} LIKE '{BMP_SIG_HEX}%' THEN "
        f"{_be_hex_val_sql(_le_pairs_sql(h, 45, 4))} "
        "ELSE NULL END"
    )


# --- WAV (RIFF) header parsing — codec-free audio metadata ------------------
# Canonical PCM WAV layout (public spec; same byte-arithmetic approach
# as the PNG/GIF/BMP parsers above — the reference treats media as
# opaque binary + typed metadata, SURVEY.md §2 multimodal row):
#   bytes  1-4  'RIFF'            bytes 23-24 channels   (u16 LE)
#   bytes  9-12 'WAVE'            bytes 25-28 sample rate(u32 LE)
#   bytes 13-16 'fmt '            bytes 35-36 bits/sample(u16 LE)
#   bytes 37-40 'data'            bytes 41-44 data size  (u32 LE)
RIFF_SIG_HEX = "52494646"  # 'RIFF'
WAVE_FMT_HEX = "57415645666D7420"  # 'WAVEfmt ' at byte 9


def is_wav_h(h) -> "F.Column":
    return h.startswith(RIFF_SIG_HEX) & (
        F.substring(h, 17, 16) == WAVE_FMT_HEX
    )


def is_wav(content) -> "F.Column":
    return is_wav_h(_hex_of(content))


def wav_channels_h(h) -> "F.Column":
    # u16 LE at bytes 23-24 = hex chars 45-48
    return _be_hex_val(_le_pairs(h, 45, 2))


def wav_channels(content) -> "F.Column":
    return wav_channels_h(_hex_of(content))


def wav_sample_rate_h(h) -> "F.Column":
    # u32 LE at bytes 25-28 = hex chars 49-56
    return _be_hex_val(_le_pairs(h, 49, 4))


def wav_sample_rate(content) -> "F.Column":
    return wav_sample_rate_h(_hex_of(content))


def wav_bits_per_sample_h(h) -> "F.Column":
    # u16 LE at bytes 35-36 = hex chars 69-72
    return _be_hex_val(_le_pairs(h, 69, 2))


def wav_bits_per_sample(content) -> "F.Column":
    return wav_bits_per_sample_h(_hex_of(content))


def wav_data_size_h(h) -> "F.Column":
    # u32 LE at bytes 41-44 = hex chars 81-88 (canonical 'data' chunk
    # directly after the 16-byte fmt chunk)
    return _be_hex_val(_le_pairs(h, 81, 4))


def wav_data_size(content) -> "F.Column":
    return wav_data_size_h(_hex_of(content))


def is_wav_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return (
        f"({h} LIKE '{RIFF_SIG_HEX}%' AND "
        f"substr({h}, 17, 16) = '{WAVE_FMT_HEX}')"
    )


def wav_channels_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return _be_hex_val_sql(_le_pairs_sql(h, 45, 2))


def wav_sample_rate_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return _be_hex_val_sql(_le_pairs_sql(h, 49, 4))


def wav_bits_per_sample_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return _be_hex_val_sql(_le_pairs_sql(h, 69, 2))


def wav_data_size_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return _be_hex_val_sql(_le_pairs_sql(h, 81, 4))


# --- MP3 (MPEG-1 Layer III) frame header parsing — codec-free -------------
# An MP3 stream is an optional ID3v2 tag ("ID3" + 3 bytes + 4-byte
# SYNCSAFE size, 7 bits per byte) followed by frame headers
# (11-bit 0xFFE sync; bitrate/sample-rate/channel-mode indexed fields).
# Same byte-arithmetic approach as the PNG/GIF/BMP/JPEG/WAV parsers:
# hex + positional conv, identically expressible in Spark and DuckDB.
# Bitrate table: MPEG-1 Layer III kbps by 4-bit index (0 = free,
# 15 = invalid -> NULL).
MP3_BITRATES = (None, 32, 40, 48, 56, 64, 80, 96, 112,
                128, 160, 192, 224, 256, 320, None)
MP3_SAMPLE_RATES = (44100, 48000, 32000, None)
MP3_CHANNEL_MODES = ("stereo", "joint", "dual", "mono")
ID3_SIG_HEX = "494433"


def _byte_at(h, pos_chars) -> "F.Column":
    """Unsigned byte value at a 1-based HEX-CHAR position (Column)."""
    return F.conv(h.substr(pos_chars, F.lit(2)), 16, 10).cast("int")


def mp3_frame_pos(content) -> "F.Column":
    """1-based hex-char position of the first MPEG frame header:
    char 1 for a bare stream, or just past the ID3v2 tag (syncsafe
    size at bytes 7-10). NULL when no 0xFFEx sync sits there."""
    return mp3_frame_pos_h(_hex_of(content))


def mp3_frame_pos_h(h) -> "F.Column":
    """mp3_frame_pos over an already-bound hex column."""
    syncsafe = (
        _byte_at(h, F.lit(13)) * (1 << 21)
        + _byte_at(h, F.lit(15)) * (1 << 14)
        + _byte_at(h, F.lit(17)) * (1 << 7)
        + _byte_at(h, F.lit(19))
    )
    pos = F.when(
        h.startswith(ID3_SIG_HEX), F.lit(1) + 2 * (F.lit(10) + syncsafe)
    ).otherwise(F.lit(1))
    b1 = _byte_at(h, pos)
    b2 = _byte_at(h, pos + 2)
    is_sync = (b1 == 255) & (F.floor(b2 / 32) == 7)  # 0xFFE
    return F.when(is_sync, pos).cast("int")


def _mp3_header_field(content, byte_off: int) -> "F.Column":
    h = _hex_of(content)
    return _byte_at(h, mp3_frame_pos(content) + 2 * byte_off)


def mp3_header_byte_h(h, pos, byte_off: int) -> "F.Column":
    """Frame-header byte at ``byte_off`` from ALREADY-BOUND hex and
    frame-pos columns — callers extracting several fields bind both
    once (the bind-once discipline of mp4_walk): the r12 shape
    re-ran the ID3-skip walk and re-hexed the payload inside every
    field extractor."""
    return _byte_at(h, pos + 2 * byte_off)


def mp3_bitrate_from_b3(b3) -> "F.Column":
    """Bitrate table lookup from a bound header byte 3."""
    idx = F.floor(b3 / 16).cast("int")
    expr = F.lit(None).cast("int")
    for i, v in enumerate(MP3_BITRATES):
        if v is not None:
            expr = F.when(idx == i, F.lit(v)).otherwise(expr)
    return expr


def mp3_sample_rate_from_b3(b3) -> "F.Column":
    """Sample-rate table lookup from a bound header byte 3."""
    idx = (F.floor(b3 / 4) % 4).cast("int")
    expr = F.lit(None).cast("int")
    for i, v in enumerate(MP3_SAMPLE_RATES):
        if v is not None:
            expr = F.when(idx == i, F.lit(v)).otherwise(expr)
    return expr


def mp3_channel_mode_from_b4(b4) -> "F.Column":
    """Channel-mode table lookup from a bound header byte 4."""
    idx = F.floor(b4 / 64).cast("int")
    expr = F.lit(None).cast("string")
    for i, v in enumerate(MP3_CHANNEL_MODES):
        expr = F.when(idx == i, F.lit(v)).otherwise(expr)
    return expr


def mp3_bitrate_kbps(content) -> "F.Column":
    """MPEG-1 Layer III bitrate from the 4-bit index (header byte 3
    high nibble); NULL for free-format/invalid indexes or no frame."""
    return mp3_bitrate_from_b3(_mp3_header_field(content, 2))


def mp3_sample_rate(content) -> "F.Column":
    """Sample rate from the 2-bit index (byte 3 bits 2-3)."""
    return mp3_sample_rate_from_b3(_mp3_header_field(content, 2))


def mp3_channel_mode(content) -> "F.Column":
    """Channel mode from byte 4's top 2 bits."""
    return mp3_channel_mode_from_b4(_mp3_header_field(content, 3))


def _mp3_pos_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    b = "cast(('0x' || substr({h}, {pos}, 2)) AS int)"
    syncsafe = (
        f"({b.format(h=h, pos=13)} * 2097152"
        f" + {b.format(h=h, pos=15)} * 16384"
        f" + {b.format(h=h, pos=17)} * 128"
        f" + {b.format(h=h, pos=19)})"
    )
    pos = (
        f"(CASE WHEN {h} LIKE '{ID3_SIG_HEX}%'"
        f" THEN 1 + 2 * (10 + {syncsafe}) ELSE 1 END)"
    )
    return pos


def mp3_frame_pos_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    pos = _mp3_pos_sql(content_expr)
    b1 = f"try_cast(('0x' || substr({h}, {pos}, 2)) AS int)"
    b2 = f"try_cast(('0x' || substr({h}, {pos} + 2, 2)) AS int)"
    return (
        f"(CASE WHEN {b1} = 255 AND {b2} // 32 = 7"
        f" THEN cast({pos} AS int) END)"
    )


def _mp3_field_sql(content_expr: str, byte_off: int) -> str:
    h = f"upper(hex({content_expr}))"
    pos = mp3_frame_pos_sql(content_expr)
    return f"try_cast(('0x' || substr({h}, {pos} + {2 * byte_off}, 2)) AS int)"


def mp3_bitrate_kbps_sql(content_expr: str) -> str:
    idx = f"({_mp3_field_sql(content_expr, 2)} // 16)"
    whens = " ".join(
        f"WHEN {i} THEN {v}"
        for i, v in enumerate(MP3_BITRATES)
        if v is not None
    )
    return f"(CASE {idx} {whens} ELSE NULL END)"


def mp3_sample_rate_sql(content_expr: str) -> str:
    idx = f"(({_mp3_field_sql(content_expr, 2)} // 4) % 4)"
    whens = " ".join(
        f"WHEN {i} THEN {v}"
        for i, v in enumerate(MP3_SAMPLE_RATES)
        if v is not None
    )
    return f"(CASE {idx} {whens} ELSE NULL END)"


def mp3_channel_mode_sql(content_expr: str) -> str:
    idx = f"({_mp3_field_sql(content_expr, 3)} // 64)"
    whens = " ".join(
        f"WHEN {i} THEN '{v}'" for i, v in enumerate(MP3_CHANNEL_MODES)
    )
    return f"(CASE {idx} {whens} END)"


# --- MP4 / ISO-BMFF box walk — codec-free video metadata --------------------
# An ISO-BMFF file is a sibling chain of boxes: u32 BE size + 4-char
# type + payload; containers (moov, trak) nest the same chain. The
# movie header (mvhd) carries timescale + duration (u32 in version 0,
# u64 duration in version 1); the track header (tkhd) carries
# presentation width/height as 16.16 fixed-point. moov may sit before
# OR after mdat (faststart vs natural mux order), so the parse is a
# real walk, never a fixed offset. Same bounded-fold approach as
# jpeg_sof_pos: pure codegen, no UDF, identically expressible as a
# DuckDB recursive CTE. (Reference scope: SURVEY.md §2 multimodal —
# media as opaque binary + typed metadata; this completes the
# image (PNG/GIF/BMP/JPEG) + audio (WAV/MP3) + video family.)
MP4_MOOV_HEX = "6D6F6F76"
MP4_MVHD_HEX = "6D766864"
MP4_TRAK_HEX = "7472616B"
MP4_TKHD_HEX = "746B6864"
#: sibling boxes per level before the walk gives up — top level is
#: ftyp [+free] [+mdat] +moov, moov is [free] mvhd [free] trak [...];
#: real muxers emit < 8 siblings at every level we touch
MP4_WALK_CAP = 8


#: one fold pass covers all three levels: ≤ MP4_WALK_CAP siblings at
#: top level, inside moov, and inside trak
_MP4_TOTAL_CAP = 3 * MP4_WALK_CAP


def mp4_walk(h) -> "F.Column":
    """ONE bounded fold walking all three box levels as a state
    machine, returning struct(moov_pos, mvhd_pos, tkhd_pos) — each
    NULL when the box is absent/truncated. A single pass, because
    composing per-level find() folds inlines EXPONENTIALLY under
    projection collapse (the tkhd find re-evaluates the trak find
    twice, each re-evaluating the moov find twice — measured 60s for
    6k rows at sf0.01; this walker is one interpreted fold per row).
    Callers must land the struct behind a Generate barrier
    (``F.inline(F.array(...))``) so Catalyst evaluates it once, then
    parse fields from the POSITION columns with plain substr/conv.

    Stages: 0 = top-level scan for moov; 1 = moov-child scan
    recording mvhd and the first trak (in either order); 2 = trak-
    child scan for tkhd; 3 = done; -1 = dead (truncated box, size <
    8 bytes, container exhausted, or more than MP4_WALK_CAP sibling
    hops at the current level — the `it` field counts boxes examined
    PER LEVEL and resets on stage transitions, matching the DuckDB
    recursive CTE's per-level `it < cap` exactly; a corrupt-SIZE
    target box is the one residual asymmetry: the CTE's final
    min(CASE) still sees it, the fold dies first — unreachable for
    spec-true payloads, NULL-vs-NULL for truncated ones)."""
    # positions/sizes are 64-bit: a garbage "box" (non-BMFF bytes
    # parsed as a size field) can claim ~4 GiB and 2*size must not
    # wrap — the walk then dies on the readable check instead
    init = F.struct(
        F.lit(0).cast("int").alias("stage"),
        F.lit(0).cast("int").alias("it"),
        F.lit(1).cast("bigint").alias("pos"),
        (F.length(h) + 1).cast("bigint").alias("lim"),
        F.lit(0).cast("bigint").alias("moov"),
        F.lit(0).cast("bigint").alias("mvhd"),
        F.lit(0).cast("bigint").alias("trak"),
        F.lit(0).cast("bigint").alias("trak_end"),
        F.lit(0).cast("bigint").alias("tkhd"),
    )

    def mk(stage, it, pos, lim, moov, mvhd, trak, trak_end, tkhd):
        return F.struct(
            stage.alias("stage") if hasattr(stage, "alias") else F.lit(stage).cast("int").alias("stage"),
            it.cast("int").alias("it"),
            pos.alias("pos"),
            lim.alias("lim"),
            moov.alias("moov"),
            mvhd.alias("mvhd"),
            trak.alias("trak"),
            trak_end.alias("trak_end"),
            tkhd.alias("tkhd"),
        )

    def step(acc, _x):
        stage, pos, lim = acc["stage"], acc["pos"], acc["lim"]
        it1 = (acc["it"] + F.lit(1)).cast("int")
        zero = F.lit(0).cast("int")
        size2 = F.conv(h.substr(pos, F.lit(8)), 16, 10).cast("bigint") * 2
        typ = h.substr(pos + F.lit(8), F.lit(8))
        readable = (pos + F.lit(15)) <= lim
        capped = acc["it"] > F.lit(MP4_WALK_CAP)
        bad = (
            (~readable)
            | (F.coalesce(size2, F.lit(0)) < F.lit(16))
            | capped
        )
        nxt = (pos + size2).cast("bigint")
        dead = mk(
            F.lit(-1).cast("int"), acc["it"], pos, lim, acc["moov"],
            acc["mvhd"], acc["trak"], acc["trak_end"], acc["tkhd"],
        )
        return (
            F.when((stage == 3) | (stage == -1), acc)
            .when(
                stage == 0,
                F.when(
                    (~capped) & readable & (typ == MP4_MOOV_HEX), mk(
                        F.lit(1).cast("int"), zero,
                        (pos + F.lit(16)).cast("bigint"),
                        nxt, pos, acc["mvhd"], acc["trak"],
                        acc["trak_end"], acc["tkhd"],
                    )
                )
                .when(bad, dead)
                .otherwise(mk(
                    stage, it1, nxt, lim, acc["moov"], acc["mvhd"],
                    acc["trak"], acc["trak_end"], acc["tkhd"],
                )),
            )
            .when(
                stage == 1,
                # container exhausted, corrupt child or level cap:
                # jump into the recorded trak for tkhd, or die if
                # none was seen
                F.when(
                    bad,
                    F.when(acc["trak"] > 0, mk(
                        F.lit(2).cast("int"), zero,
                        (acc["trak"] + F.lit(16)).cast("bigint"),
                        acc["trak_end"], acc["moov"], acc["mvhd"],
                        acc["trak"], acc["trak_end"], acc["tkhd"],
                    )).otherwise(dead),
                ).otherwise(mk(
                    stage, it1, nxt, lim, acc["moov"],
                    F.when(
                        (typ == MP4_MVHD_HEX) & (acc["mvhd"] == 0), pos
                    ).otherwise(acc["mvhd"]).cast("bigint"),
                    F.when(
                        (typ == MP4_TRAK_HEX) & (acc["trak"] == 0), pos
                    ).otherwise(acc["trak"]).cast("bigint"),
                    F.when(
                        (typ == MP4_TRAK_HEX) & (acc["trak"] == 0), nxt
                    ).otherwise(acc["trak_end"]).cast("bigint"),
                    acc["tkhd"],
                )),
            )
            # stage 2: trak children
            .when(
                (~capped) & readable & (typ == MP4_TKHD_HEX), mk(
                    F.lit(3).cast("int"), acc["it"], pos, lim,
                    acc["moov"], acc["mvhd"],
                    acc["trak"], acc["trak_end"], pos,
                )
            )
            .when(bad, dead)
            .otherwise(mk(
                stage, it1, nxt, lim, acc["moov"], acc["mvhd"],
                acc["trak"], acc["trak_end"], acc["tkhd"],
            ))
        )

    res = F.aggregate(
        F.sequence(F.lit(1), F.lit(3 * (MP4_WALK_CAP + 2))), init, step
    )
    return F.struct(
        F.when(res["moov"] > 0, res["moov"]).alias("moov_pos"),
        F.when(res["mvhd"] > 0, res["mvhd"]).alias("mvhd_pos"),
        F.when(res["tkhd"] > 0, res["tkhd"]).alias("tkhd_pos"),
    )


def _u32_at(h, pos) -> "F.Column":
    return F.conv(h.substr(pos, F.lit(8)), 16, 10).cast("bigint")


def _u64_at(h, pos) -> "F.Column":
    return F.conv(h.substr(pos, F.lit(16)), 16, 10).cast("bigint")


def mp4_timescale(h, mvhd) -> "F.Column":
    """mvhd timescale (ticks/second): u32 at payload offset 12 (v0)
    or 20 (v1 — the creation/modification stamps widen to u64)."""
    v = F.conv(h.substr(mvhd + F.lit(16), F.lit(2)), 16, 10).cast("int")
    return F.when(v == 0, _u32_at(h, mvhd + F.lit(40))).otherwise(
        _u32_at(h, mvhd + F.lit(56))
    )


def mp4_duration_units(h, mvhd) -> "F.Column":
    """mvhd duration in timescale ticks: u32 at payload offset 16
    (v0) or u64 at offset 24 (v1)."""
    v = F.conv(h.substr(mvhd + F.lit(16), F.lit(2)), 16, 10).cast("int")
    return F.when(v == 0, _u32_at(h, mvhd + F.lit(48))).otherwise(
        _u64_at(h, mvhd + F.lit(64))
    )


def mp4_mvhd_version(h, mvhd) -> "F.Column":
    return F.conv(h.substr(mvhd + F.lit(16), F.lit(2)), 16, 10).cast("int")


def mp4_track_width(h, tkhd) -> "F.Column":
    """tkhd presentation width in pixels: integer part (high u16) of
    the 16.16 fixed-point u32 at payload offset 76 (v0) / 88 (v1)."""
    v = F.conv(h.substr(tkhd + F.lit(16), F.lit(2)), 16, 10).cast("int")
    pos = F.when(v == 0, tkhd + F.lit(168)).otherwise(tkhd + F.lit(192))
    return F.conv(h.substr(pos, F.lit(4)), 16, 10).cast("int")


def mp4_track_height(h, tkhd) -> "F.Column":
    v = F.conv(h.substr(tkhd + F.lit(16), F.lit(2)), 16, 10).cast("int")
    pos = F.when(v == 0, tkhd + F.lit(176)).otherwise(tkhd + F.lit(200))
    return F.conv(h.substr(pos, F.lit(4)), 16, 10).cast("int")


def mp4_walk_sql_ctes(hex_rel: str) -> str:
    """DuckDB twin of the three-level box walk as recursive-CTE text.
    ``hex_rel`` must expose (media_id, h) with h = upper(hex(content)).
    Emits ``mp4_loc(media_id, h, moov_pos, mvhd_pos, tkhd_pos)`` —
    positions NULL exactly when the Spark folds return NULL (same
    dead/truncation conditions, same {MP4_WALK_CAP}-sibling cap)."""
    size2 = "2 * try_cast(concat('0x', substr(h, pos, 8)) AS bigint)"

    def walk(name, src, start, limit, target):
        return f"""{name}_walk AS (
  SELECT media_id, h, cast({start} AS bigint) AS pos,
         cast({limit} AS bigint) AS lim, 0 AS it
  FROM {src}
  UNION ALL
  SELECT media_id, h, cast(pos + coalesce({size2}, 0) AS bigint), lim, it + 1
  FROM {name}_walk
  WHERE substr(h, pos + 8, 8) <> '{target}'
    AND pos + 15 <= lim
    AND coalesce({size2}, 0) >= 16
    AND it < {MP4_WALK_CAP}
), {name} AS (
  SELECT media_id, h,
         min(CASE WHEN substr(h, pos + 8, 8) = '{target}'
                  AND pos + 15 <= lim THEN pos END) AS {name}_pos
  FROM {name}_walk GROUP BY media_id, h
)"""

    box_end = (
        "{p} + 2 * try_cast(concat('0x', substr(h, {p}, 8)) AS int)"
    )
    return f"""{walk('mp4moov', hex_rel, 1, 'length(h) + 1', MP4_MOOV_HEX)},
mp4moov_b AS (
  SELECT media_id, h, mp4moov_pos,
         {box_end.format(p='mp4moov_pos')} AS moov_end
  FROM mp4moov WHERE mp4moov_pos IS NOT NULL
),
{walk('mp4mvhd', 'mp4moov_b', 'mp4moov_pos + 16', 'moov_end', MP4_MVHD_HEX)},
{walk('mp4trak', 'mp4moov_b', 'mp4moov_pos + 16', 'moov_end', MP4_TRAK_HEX)},
mp4trak_b AS (
  SELECT media_id, h, mp4trak_pos,
         {box_end.format(p='mp4trak_pos')} AS trak_end
  FROM mp4trak WHERE mp4trak_pos IS NOT NULL
),
{walk('mp4tkhd', 'mp4trak_b', 'mp4trak_pos + 16', 'trak_end', MP4_TKHD_HEX)},
mp4_loc AS (
  SELECT m.media_id, m.h, m.mp4moov_pos AS moov_pos,
         v.mp4mvhd_pos AS mvhd_pos, t.mp4tkhd_pos AS tkhd_pos
  FROM mp4moov m
  LEFT JOIN mp4mvhd v USING (media_id)
  LEFT JOIN mp4tkhd t USING (media_id)
)"""


def _mp4_u32_sql(h: str, pos: str) -> str:
    return f"try_cast(concat('0x', substr({h}, {pos}, 8)) AS bigint)"


def _mp4_u64_sql(h: str, pos: str) -> str:
    return f"try_cast(concat('0x', substr({h}, {pos}, 16)) AS bigint)"


def mp4_mvhd_version_sql(h: str, mvhd: str) -> str:
    return f"try_cast(concat('0x', substr({h}, {mvhd} + 16, 2)) AS int)"


def mp4_timescale_sql(h: str, mvhd: str) -> str:
    v = mp4_mvhd_version_sql(h, mvhd)
    return (
        f"CASE WHEN {v} = 0 THEN {_mp4_u32_sql(h, f'{mvhd} + 40')} "
        f"ELSE {_mp4_u32_sql(h, f'{mvhd} + 56')} END"
    )


def mp4_duration_units_sql(h: str, mvhd: str) -> str:
    v = mp4_mvhd_version_sql(h, mvhd)
    return (
        f"CASE WHEN {v} = 0 THEN {_mp4_u32_sql(h, f'{mvhd} + 48')} "
        f"ELSE {_mp4_u64_sql(h, f'{mvhd} + 64')} END"
    )


def mp4_track_width_sql(h: str, tkhd: str) -> str:
    v = f"try_cast(concat('0x', substr({h}, {tkhd} + 16, 2)) AS int)"
    return (
        f"try_cast(concat('0x', substr({h}, CASE WHEN {v} = 0 "
        f"THEN {tkhd} + 168 ELSE {tkhd} + 192 END, 4)) AS int)"
    )


def mp4_track_height_sql(h: str, tkhd: str) -> str:
    v = f"try_cast(concat('0x', substr({h}, {tkhd} + 16, 2)) AS int)"
    return (
        f"try_cast(concat('0x', substr({h}, CASE WHEN {v} = 0 "
        f"THEN {tkhd} + 176 ELSE {tkhd} + 200 END, 4)) AS int)"
    )


# --- FLAC STREAMINFO parsing — codec-free audio metadata --------------------
# A FLAC file opens with 'fLaC' and a STREAMINFO metadata block whose
# packed 64-bit region carries sample rate (20 bits), channels-1
# (3 bits), bits-per-sample-1 (5 bits) and total samples (36 bits) —
# public spec (https://xiph.org/flac/format.html), parsed at nibble
# grain: 20 bits = hex chars 37-41, the channel/bps split lands on
# nibbles 42-43, the 36-bit sample count is exactly chars 44-52.
# Same hex + positional-conv approach as the PNG/WAV/MP3/MP4 parsers
# (reference treats media as opaque binary + typed metadata).
FLAC_SIG_HEX = "664C6143"  # 'fLaC'


def _nibble_at(h, pos: int) -> "F.Column":
    """Value of the single hex digit at 1-based char ``pos``."""
    return F.conv(F.substring(h, pos, 1), 16, 10).cast("int")


def is_flac_h(h) -> "F.Column":
    """is_flac over an already-bound hex column (the bind-once
    discipline of the WAV/MP3/TIFF parsers)."""
    return h.startswith(FLAC_SIG_HEX) & F.substring(h, 9, 2).isin(
        "00", "80"
    )


def is_flac(content) -> "F.Column":
    """Magic + first-block-is-STREAMINFO (type bits 0, with or
    without the last-metadata-block flag)."""
    return is_flac_h(_hex_of(content))


def flac_sample_rate_h(h) -> "F.Column":
    return F.conv(F.substring(h, 37, 5), 16, 10).cast("int")


def flac_sample_rate(content) -> "F.Column":
    return flac_sample_rate_h(_hex_of(content))


def flac_channels_h(h) -> "F.Column":
    return F.floor(_nibble_at(h, 42) / 2).cast("int") + 1


def flac_channels(content) -> "F.Column":
    return flac_channels_h(_hex_of(content))


def flac_bits_per_sample_h(h) -> "F.Column":
    return (
        F.pmod(_nibble_at(h, 42), F.lit(2)) * 16 + _nibble_at(h, 43) + 1
    ).cast("int")


def flac_bits_per_sample(content) -> "F.Column":
    return flac_bits_per_sample_h(_hex_of(content))


def flac_total_samples_h(h) -> "F.Column":
    return F.conv(F.substring(h, 44, 9), 16, 10).cast("long")


def flac_total_samples(content) -> "F.Column":
    return flac_total_samples_h(_hex_of(content))


def is_flac_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return (
        f"({h} LIKE '{FLAC_SIG_HEX}%' AND "
        f"substr({h}, 9, 2) IN ('00', '80'))"
    )


def flac_sample_rate_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return f"try_cast(concat('0x', substr({h}, 37, 5)) AS int)"


def flac_channels_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return (
        f"(cast(floor(try_cast(concat('0x', substr({h}, 42, 1)) AS int)"
        f" / 2) AS int) + 1)"
    )


def flac_bits_per_sample_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    n42 = f"try_cast(concat('0x', substr({h}, 42, 1)) AS int)"
    n43 = f"try_cast(concat('0x', substr({h}, 43, 1)) AS int)"
    return f"(({n42} % 2) * 16 + {n43} + 1)"


def flac_total_samples_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return f"try_cast(concat('0x', substr({h}, 44, 9)) AS bigint)"


# --- TIFF IFD walking — codec-free image metadata ---------------------------
# A TIFF opens with a byte-order mark ('II' little-endian / 'MM'
# big-endian) + magic 42 + a u32 offset to the first IFD: entry count
# (u16) then 12-byte entries (tag u16, type u16, count u32,
# value/offset u32). ImageWidth is tag 256, ImageLength tag 257. The
# parse must FOLLOW the IFD offset and SCAN the entry table (entries
# are sorted by tag but width/height's slot depends on what other
# tags precede them) — a bounded transform over entry indexes, pure
# codegen, the same level-capped-walk discipline as the MP4 box walk.
# Scope: type LONG (4) values (the common form for dimensions written
# by scanners/encoders; SHORT-typed files parse as NULL), first IFD
# only, entry scan capped at TIFF_ENTRY_CAP.
TIFF_LE_SIG_HEX = "49492A00"  # 'II' + 42 LE
TIFF_BE_SIG_HEX = "4D4D002A"  # 'MM' + 42 BE
TIFF_ENTRY_CAP = 16
_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TYPE_LONG = 4


def tiff_endian_h(h) -> "F.Column":
    """tiff_endian over an already-bound hex column."""
    return (
        F.when(h.startswith(TIFF_LE_SIG_HEX), F.lit("II"))
        .when(h.startswith(TIFF_BE_SIG_HEX), F.lit("MM"))
        .otherwise(F.lit(None).cast("string"))
    )


def tiff_endian(content) -> "F.Column":
    """'II' / 'MM' / NULL."""
    return tiff_endian_h(_hex_of(content))


def _u16_end(h, char_pos, le) -> "F.Column":
    """u16 at a COLUMN 1-based hex-char position, endian by flag."""
    b1 = F.conv(h.substr(char_pos, F.lit(2)), 16, 10).cast("long")
    b2 = F.conv(h.substr(char_pos + 2, F.lit(2)), 16, 10).cast("long")
    return F.when(le, b2 * 256 + b1).otherwise(b1 * 256 + b2)


def _u32_end(h, char_pos, le) -> "F.Column":
    lo = _u16_end(h, char_pos, le)
    hi = _u16_end(h, char_pos + 4, le)
    return F.when(le, hi * 65536 + lo).otherwise(lo * 65536 + hi)


def tiff_entries(content) -> "F.Column":
    """The first IFD's (tag, typ, val) entry structs as an array
    column (NULL for non-TIFF bytes), capped at TIFF_ENTRY_CAP.
    Consumers that read several tags should BIND this to a column
    once and extract with tiff_tag_from_entries — the scan expression
    is large (per-entry endian-switched u16/u32 chains), and building
    it once per tag doubles codegen compile time."""
    return tiff_entries_h(_hex_of(content))


def tiff_entries_h(h) -> "F.Column":
    """tiff_entries over an already-bound hex column: the entry scan
    references the hex ~50 times (per entry per field); feeding it a
    bound attribute instead of the hex-of-payload expression keeps
    the payload synthesis/hex out of every reference when the
    projection is too large for whole-stage codegen (interpreted
    mode evaluates expression trees without common-subexpression
    elimination)."""
    le = h.startswith(TIFF_LE_SIG_HEX)
    is_tiff = le | h.startswith(TIFF_BE_SIG_HEX)
    ifd_off = _u32_end(h, F.lit(9), le)  # bytes 5-8
    ifd_chars = ifd_off * 2 + 1  # 0-based byte offset -> 1-based char
    n_ent = F.least(
        _u16_end(h, ifd_chars, le), F.lit(TIFF_ENTRY_CAP).cast("long")
    )
    def entry(i):
        pos = ifd_chars + 4 + i * 24  # 12 bytes/entry = 24 chars
        return F.struct(
            _u16_end(h, pos, le).alias("tag"),
            _u16_end(h, pos + 4, le).alias("typ"),
            _u32_end(h, pos + 16, le).alias("val"),
        )
    return F.when(
        is_tiff & (n_ent >= 1),
        F.transform(
            F.sequence(F.lit(0), (n_ent - 1).cast("int")), entry
        ),
    )


def tiff_tag_from_entries(ents, tag: int) -> "F.Column":
    """Value of the LONG-typed entry ``tag`` from a bound
    tiff_entries column; NULL when absent / not LONG / NULL array."""
    hits = F.filter(
        ents, lambda e: (e["tag"] == tag) & (e["typ"] == _TYPE_LONG)
    )
    # F.get: NULL (never an ANSI index error) for the empty/NULL list
    return F.get(hits, 0)["val"].cast("int")


def tiff_width(content) -> "F.Column":
    return tiff_tag_from_entries(tiff_entries(content), _TAG_WIDTH)


def tiff_height(content) -> "F.Column":
    return tiff_tag_from_entries(tiff_entries(content), _TAG_LENGTH)


def _u16_end_sql(h: str, pos: str, le: str) -> str:
    b1 = f"try_cast(concat('0x', substr({h}, {pos}, 2)) AS bigint)"
    b2 = f"try_cast(concat('0x', substr({h}, ({pos}) + 2, 2)) AS bigint)"
    return f"(CASE WHEN {le} THEN {b2} * 256 + {b1} ELSE {b1} * 256 + {b2} END)"


def _u32_end_sql(h: str, pos: str, le: str) -> str:
    lo = _u16_end_sql(h, pos, le)
    hi = _u16_end_sql(h, f"({pos}) + 4", le)
    return f"(CASE WHEN {le} THEN {hi} * 65536 + {lo} ELSE {lo} * 65536 + {hi} END)"


def tiff_endian_sql(content_expr: str) -> str:
    h = f"upper(hex({content_expr}))"
    return (
        f"(CASE WHEN {h} LIKE '{TIFF_LE_SIG_HEX}%' THEN 'II' "
        f"WHEN {h} LIKE '{TIFF_BE_SIG_HEX}%' THEN 'MM' END)"
    )


def tiff_tag_value_sql(content_expr: str, tag: int) -> str:
    """DuckDB twin of _tiff_tag_value: list comprehension over entry
    indexes, filtered to the LONG-typed target tag."""
    h = f"upper(hex({content_expr}))"
    le = f"({h} LIKE '{TIFF_LE_SIG_HEX}%')"
    is_tiff = (
        f"({h} LIKE '{TIFF_LE_SIG_HEX}%' OR {h} LIKE '{TIFF_BE_SIG_HEX}%')"
    )
    ifd_chars = f"({_u32_end_sql(h, '9', le)} * 2 + 1)"
    n_ent = f"least({_u16_end_sql(h, ifd_chars, le)}, {TIFF_ENTRY_CAP})"
    pos = f"({ifd_chars} + 4 + (i - 1) * 24)"
    tag_e = _u16_end_sql(h, pos, le)
    typ_e = _u16_end_sql(h, f"({pos}) + 4", le)
    val_e = _u32_end_sql(h, f"({pos}) + 16", le)
    return f"""(
  SELECT cast(vals[1] AS int) FROM (SELECT CASE WHEN {is_tiff} THEN
    [ {val_e} FOR i IN range(1, cast({n_ent} AS int) + 1)
      IF {tag_e} = {tag} AND {typ_e} = {_TYPE_LONG} ]
    END AS vals)
)"""
