"""Container / wire-format parsers over opaque binary columns (split
from multimodal.py per VERDICT r10 item 6's module-size cap):
MP4/ISO-BMFF box walk, tar index, GIF, ZIP central directory, WARC,
ICO, baseline JPEG segment scan and TIFF IFD walk.  Each parser is a
pure Spark expression program — struct-accumulator folds over
byte positions derived from the parsed bytes themselves, zero Python
row code — with the synthesized fixture bytes and the byte-order
helpers imported from multimodal.py, so both engines parse the
identical binary corpus.

Scale: a parse is a per-row map over the binary column (no shuffle);
at 100 TB the cost is the scan itself, and the binary column rides
binaryFile/parquet ingest (sources/scans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import lifecycle
from ..io import table
from ..registry import query
from .multimodal import (
    _be_hex,
    _be_int_dyn,
    _byte_at,
    _le_hex,
    _le_hex_sql,
    _le_int,
)


def _synth_mp4s(d) -> DataFrame:
    """Synthesize minimal ISO-BMFF (MP4) files for doc_id < 48:
    ftyp (brand isom, per-doc minor version) + moov{mvhd v0 with
    per-doc timescale/duration} + a variable-length free box + mdat
    with formula-driven payload bytes.  Box sizes/fields are all
    BIG-endian; the oracle knows only these formulas."""
    d = d.where(F.col("doc_id") < 48)
    i = F.col("doc_id")
    ts = (F.lit(600).cast("long") + i)
    dur = (F.lit(1200).cast("long") + i * 3)
    free_len = (i % 5).cast("long")
    mdat_len = (F.lit(16) + i % 9).cast("long")
    mdat_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (mdat_len - 1).cast("int")),
            lambda j: F.lpad(F.hex((i * 11 + j * 3) % 256), 2, "0"),
        ),
        "",
    )
    mvhd = F.concat(
        _be_hex(F.lit(108), 4), F.lit("6D766864"),      # 'mvhd', v0 full box
        F.lit("00000000"),                              # version + flags
        _be_hex(F.lit(0), 4), _be_hex(F.lit(0), 4),     # creation, modification
        _be_hex(ts, 4),                                 # timescale
        _be_hex(dur, 4),                                # duration
        F.lit("00010000"), F.lit("0100"),               # rate 1.0, volume 1.0
        F.repeat(F.lit("0"), 2 * (108 - 8 - 4 - 8 - 8 - 6)),  # reserved tail
    )
    mp4_hex = F.concat(
        _be_hex(F.lit(20), 4), F.lit("66747970"),       # 'ftyp' size 20
        F.lit("69736F6D"),                              # major brand 'isom'
        _be_hex(i, 4),                                  # minor version
        F.lit("6D703431"),                              # compat brand 'mp41'
        _be_hex(F.lit(116), 4), F.lit("6D6F6F76"),      # 'moov' = 8 + mvhd(108)
        mvhd,
        _be_hex(free_len + 8, 4), F.lit("66726565"),    # 'free'
        F.repeat(F.lit("00"), free_len.cast("int")),
        _be_hex(mdat_len + 8, 4), F.lit("6D646174"),    # 'mdat'
        mdat_hex,
    )
    return d.select("doc_id", F.unhex(mp4_hex).alias("mp4"))


def mp4_stats(
    df: DataFrame, id_col: str, bin_col: str, *, max_boxes: int = 6
) -> DataFrame:
    """PUBLIC generic ISO-BMFF (MP4) structural statistics over a
    caller-supplied binary column: walk the first ``max_boxes``
    top-level boxes, verify the ftyp major brand, read the nested
    mvhd (version-0) timescale/duration at the walked moov offset
    (mvhd must be moov's first child — true of muxer output),
    and account mdat payload bytes.  Works on genuine files
    (tests craft a real struct-packed MP4 and parse it back).
    Pure JVM codegen."""
    b = F.col(bin_col)
    flen = F.octet_length(b).cast("long")
    be4 = lambda pos: _be_int_dyn(b, pos, 4)
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(1).cast("long").alias("off"),
        zero.alias("n_boxes"),
        zero.alias("ftyp_ok"),
        zero.alias("minor_version"),
        zero.alias("timescale"),
        zero.alias("duration"),
        zero.alias("mdat_len"),
        zero.alias("mdat_sum"),
    )

    def step(acc, _):
        off = acc["off"]
        has = (off + 7) <= flen
        size = be4(off)
        t = F.hex(F.substring(b, (off + F.lit(4)).cast("int"), 4))
        is_ftyp = t == F.lit("66747970")
        is_moov = t == F.lit("6D6F6F76")
        is_mdat = t == F.lit("6D646174")
        brand_ok = F.hex(
            F.substring(b, (off + F.lit(8)).cast("int"), 4)
        ) == F.lit("69736F6D")
        # mvhd is the first child box of moov: header at off+8,
        # payload (v0) starts at off+8+8+4; timescale/duration are
        # the 3rd/4th BE32 fields after creation/modification.
        mv = off + 8 + 8 + 4
        payload_len = size - 8
        dsum = F.aggregate(
            F.sequence(F.lit(0), (payload_len - 1).cast("int")),
            zero,
            lambda a, j: a + _byte_at(b, off + 8 + j),
        )
        flag = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("long")
        keep = lambda c, new_v, old: F.when(c, new_v).otherwise(old).cast("long")
        return F.struct(
            keep(has, off + size, off).alias("off"),
            (acc["n_boxes"] + flag(has)).alias("n_boxes"),
            (acc["ftyp_ok"] + flag(has & is_ftyp & brand_ok)).alias("ftyp_ok"),
            keep(has & is_ftyp, be4(off + 12), acc["minor_version"]).alias(
                "minor_version"
            ),
            keep(has & is_moov, be4(mv + 8), acc["timescale"]).alias("timescale"),
            keep(has & is_moov, be4(mv + 12), acc["duration"]).alias("duration"),
            keep(has & is_mdat, payload_len, acc["mdat_len"]).alias("mdat_len"),
            keep(has & is_mdat & (payload_len > 0), dsum, acc["mdat_sum"]).alias(
                "mdat_sum"
            ),
        )

    walked = F.aggregate(F.sequence(F.lit(1), F.lit(int(max_boxes))), init, step)
    return df.select(
        F.col(id_col),
        walked["ftyp_ok"].alias("ftyp_ok"),
        walked["minor_version"].alias("minor_version"),
        walked["timescale"].alias("timescale"),
        walked["duration"].alias("duration"),
        (
            walked["duration"].cast("double") / walked["timescale"]
        ).alias("duration_s"),
        walked["n_boxes"].alias("n_boxes"),
        walked["mdat_len"].alias("mdat_len"),
        walked["mdat_sum"].alias("mdat_sum"),
        flen.alias("file_bytes"),
    )


@query(
    "multimodal_mp4_parse",
    oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
mdat AS (
  SELECT ids.doc_id, (ids.doc_id * 11 + j.j * 3) % 256 AS v
  FROM ids, LATERAL (
    SELECT unnest(generate_series(0, CAST(15 + ids.doc_id % 9 AS INT))) AS j
  ) j
),
ms AS (
  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS mdat_sum,
         CAST(COUNT(*) AS BIGINT) AS mdat_len
  FROM mdat GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(1 AS BIGINT) AS ftyp_ok,
       CAST(m.doc_id AS BIGINT) AS minor_version,
       CAST(600 + m.doc_id AS BIGINT) AS timescale,
       CAST(1200 + m.doc_id * 3 AS BIGINT) AS duration,
       CAST(1200 + m.doc_id * 3 AS DOUBLE) / (600 + m.doc_id)
           AS duration_s,
       CAST(4 AS BIGINT) AS n_boxes,
       m.mdat_len AS mdat_len,
       m.mdat_sum AS mdat_sum,
       CAST(20 + 116 + 8 + (m.doc_id % 5) + 8 + m.mdat_len AS BIGINT)
           AS file_bytes
FROM ms m
""",
    category="multimodal",
)
def multimodal_mp4_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF (MP4) container analytics — the FIFTH wire-format
    parser, and the one covering the dominant real-world video
    container: minimal MP4s are synthesized as binary columns (ftyp
    + moov{mvhd} + free + mdat, all big-endian), then re-derived
    from the bytes alone.  The top-level BOX STREAM is walked with
    the same struct-accumulator fold as the PNG chunk walk (each
    step reads the BE32 size + fourcc, classifies the box, advances
    by size), the nested mvhd is parsed at its walked offset
    (version-0 layout: timescale and duration as BE32 field reads),
    the ftyp major brand is byte-verified, mdat payload bytes are
    summed through the walk, and the presentation duration surfaces
    as ONE exact double division duration/timescale.  Pure JVM
    codegen, zero Exchange, zero Python — at 100 TB this is the
    header-triage scan a video lake runs to route files before any
    demux/decode dispatch."""
    synth = _synth_mp4s(table(spark, sf_dir, "documents"))
    return mp4_stats(synth, "doc_id", "mp4")


# --- TAR archive indexing (sixth wire format: POSIX ustar) ---------

_TAR_DOCS = 40
_TAR_MEMBERS = 3
# constant byte-sum of the fixed ustar header fields (mode 0000644,
# uid/gid 0000000, mtime zeros, chksum-as-spaces, typeflag '0',
# magic "ustar\0" + version "00"; NULs contribute 0)
_TAR_CONST_SUM = 2509


def _synth_tars(d) -> DataFrame:
    """Synthesize a real POSIX-ustar archive per doc_id < 40: three
    members "doc{d}/part{i}.txt" with formula-driven sizes
    100 + (d*97 + i*131) % 900 (spanning 1 or 2 data blocks, so the
    member walk genuinely depends on the parsed size field) and
    printable content bytes 32 + ((d + 3i + j) % 64); correct octal
    size/chksum fields; two zero blocks terminate the archive. The
    oracle knows only these formulas."""
    d = d.where(F.col("doc_id") < _TAR_DOCS).select("doc_id")

    # Assembled as ONE SQL string per archive (single F.expr) — the
    # Column-by-Column build cost ~0.7 s of py4j round trips per
    # construction (r8 audit; the multimodal_audio_rms lesson).
    def ascii_sum_sql(s: str) -> str:
        return (
            f"aggregate(transform(sequence(1, length({s})),"
            f" i -> ascii(substr({s}, i, 1))),"
            f" CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT))"
        )

    def member_hex_sql(m: int) -> str:
        name = f"concat('doc', CAST(doc_id AS STRING), '/part{m}.txt')"
        size = f"CAST(100 + (doc_id * 97 + {m} * 131) % 900 AS BIGINT)"
        size_oct = f"lpad(conv(CAST({size} AS STRING), 10, 8), 11, '0')"
        size_field = f"concat({size_oct}, chr(0))"
        total = (
            f"({ascii_sum_sql(name)} + {ascii_sum_sql(size_oct)}"
            f" + {_TAR_CONST_SUM})"
        )
        chksum_field = (
            f"concat(lpad(conv(CAST({total} AS STRING), 10, 8), 6, '0'),"
            f" chr(0), ' ')"
        )
        header_str = (
            "concat("
            f"rpad({name}, 100, chr(0)), "
            "'0000644', chr(0), "              # mode
            "'0000000', chr(0), "              # uid
            "'0000000', chr(0), "              # gid
            f"{size_field}, "
            "'00000000000', chr(0), "          # mtime
            f"{chksum_field}, "
            "'0', "                            # typeflag: regular file
            "rpad('', 100, chr(0)), "          # linkname
            "'ustar', chr(0), '00')"           # magic + version
        )
        # header_str is 265 bytes (100+8+8+8+12+12+8+1+100+8); the
        # remaining 247 (uname 32 + gname 32 + devmajor 8 + devminor 8
        # + prefix 155 + pad 12) are NUL
        header_hex = (
            f"concat(hex(encode({header_str}, 'utf-8')),"
            f" repeat('00', {512 - 265}))"
        )
        content_hex = (
            f"array_join(transform(sequence(0, CAST({size} - 1 AS INT)),"
            f" j -> lpad(hex(32 + (doc_id + 3 * {m} + CAST(j AS BIGINT))"
            f" % 64), 2, '0')), '')"
        )
        n_blocks = f"CAST(floor(({size} + 511) / 512) AS BIGINT)"
        pad_hex = f"repeat('00', CAST({n_blocks} * 512 - {size} AS INT))"
        return f"concat({header_hex}, {content_hex}, {pad_hex})"

    tar_hex = (
        "concat("
        + ", ".join(member_hex_sql(m) for m in range(_TAR_MEMBERS))
        + ", repeat('00', 1024))"  # end-of-archive zero blocks
    )
    return d.select("doc_id", F.unhex(F.expr(tar_hex)).alias("tar"))


def tar_index(df: DataFrame, id_col: str, bin_col: str, max_members: int = 8) -> DataFrame:
    """PUBLIC generic POSIX-ustar member index over a caller-supplied
    binary column, walked FROM THE BYTES ALONE in one codegen fold:
    at each step the member's octal size field decides the next
    offset ((size+511) div 512 data blocks), the stored octal
    checksum is verified against a recomputation over all 512 header
    bytes (chksum field as spaces — a mis-walk yields 0 valid
    checksums, not a lucky pass), and the walk stops at the
    zero-block terminator or after ``max_members``.  Emits per
    archive: member count, total content bytes, summed name lengths,
    checksum-valid count, and the byte sum of every member's
    content.  At 100 TB: archives are opaque parquet BYTE_ARRAY
    cells; the index is a pure map stage (zero Exchange, zero
    Python) that routes members to downstream decode UDFs."""
    b = F.col(bin_col)

    # The member-walk fold is assembled as ONE SQL string handed to
    # a single F.expr (the multimodal_audio_rms lesson — the
    # Column-by-Column build cost ~0.65 s of py4j round trips per
    # construction, r8 audit). Field-for-field identical semantics.
    bs = bin_col

    def byte_at_sql(pos: str) -> str:
        return (
            f"CAST(conv(hex(substring({bs}, CAST({pos} AS INT), 1)), 16, 10)"
            f" AS BIGINT)"
        )

    def parse_octal_sql(pos: str, width: int) -> str:
        return (
            f"CAST(conv(substring_index(decode(substring({bs},"
            f" CAST({pos} AS INT), {width}), 'utf-8'), chr(0), 1), 8, 10)"
            f" AS BIGINT)"
        )

    zero_s = "CAST(0 AS BIGINT)"
    off = "acc.off"
    size = parse_octal_sql(f"({off}) + 125", 12)
    name = (
        f"substring_index(decode(substring({bs}, CAST(({off}) + 1 AS INT),"
        f" 100), 'utf-8'), chr(0), 1)"
    )
    header_sum = (
        f"aggregate(transform(sequence(0, 511),"
        f" j -> CASE WHEN j >= 148 AND j < 156 THEN CAST(32 AS BIGINT)"
        f" ELSE {byte_at_sql(f'({off}) + 1 + j')} END),"
        f" {zero_s}, (a, x) -> a + x)"
    )
    content_sum = (
        f"aggregate(transform(sequence(1, CAST({size} AS INT)),"
        f" j -> {byte_at_sql(f'({off}) + 512 + j')}),"
        f" {zero_s}, (a, x) -> a + x)"
    )
    cs_ok = (
        f"CAST({parse_octal_sql(f'({off}) + 149', 8)} = {header_sum}"
        f" AS BIGINT)"
    )
    done = (
        f"(({off}) < 0) OR (({off}) + 512 > octet_length({bs}))"
        f" OR ({byte_at_sql(f'({off}) + 1')} = 0)"
    )
    advanced = (
        "named_struct("
        f"'off', ({off}) + 512 + CAST(floor(({size} + 511) / 512) AS BIGINT) * 512, "
        f"'n', acc.n + 1, "
        f"'tot', acc.tot + {size}, "
        f"'names', acc.names + CAST(length({name}) AS BIGINT), "
        f"'csok', acc.csok + {cs_ok}, "
        f"'fsum', acc.fsum + {content_sum})"
    )
    ended = (
        "named_struct('off', CAST(-1 AS BIGINT), 'n', acc.n, 'tot', acc.tot,"
        " 'names', acc.names, 'csok', acc.csok, 'fsum', acc.fsum)"
    )
    init = (
        "named_struct('off', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),"
        " 'tot', CAST(0 AS BIGINT), 'names', CAST(0 AS BIGINT),"
        " 'csok', CAST(0 AS BIGINT), 'fsum', CAST(0 AS BIGINT))"
    )
    walked = F.expr(
        f"aggregate(sequence(1, {int(max_members)}), {init},"
        f" (acc, x) -> CASE WHEN {done} THEN {ended} ELSE {advanced} END)"
    )
    return df.select(
        F.col(id_col),
        walked["n"].alias("n_members"),
        walked["tot"].alias("total_content_bytes"),
        walked["names"].alias("sum_name_chars"),
        walked["csok"].alias("n_checksum_valid"),
        walked["fsum"].alias("content_byte_sum"),
        F.octet_length(b).cast("long").alias("archive_bytes"),
    )


@query(
    "multimodal_tar_index",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_TAR_DOCS}),
mem AS (
  SELECT ids.doc_id, g.m,
         100 + (ids.doc_id * 97 + g.m * 131) % 900 AS sz
  FROM ids, LATERAL (SELECT unnest(generate_series(0, {_TAR_MEMBERS - 1})) AS m) g
),
bytes AS (
  SELECT mem.doc_id, mem.m, j.j,
         32 + ((mem.doc_id + 3 * mem.m + j.j) % 64) AS v
  FROM mem, LATERAL (
    SELECT unnest(generate_series(0, CAST(mem.sz - 1 AS INT))) AS j) j
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(sz) AS BIGINT) AS total_content_bytes,
         CAST(SUM(13 + len(CAST(doc_id AS VARCHAR))) AS BIGINT)
           AS sum_name_chars,
         CAST(COUNT(*) AS BIGINT) AS n_checksum_valid,
         CAST(SUM(CAST((sz + 511) // 512 AS BIGINT) * 512 + 512) + 1024
              AS BIGINT) AS archive_bytes
  FROM mem GROUP BY doc_id
),
content AS (
  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS content_byte_sum
  FROM bytes GROUP BY doc_id
)
SELECT p.doc_id, p.n_members, p.total_content_bytes, p.sum_name_chars,
       p.n_checksum_valid, c.content_byte_sum, p.archive_bytes
FROM per_doc p JOIN content c ON c.doc_id = p.doc_id
""",
    category="multimodal",
)
def multimodal_tar_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive indexing — the SIXTH wire format (POSIX ustar TAR, the
    container WARC/data-dump corpora arrive in): real tar archives
    (correct octal size fields, real header checksums, zero-block
    terminators, members spanning 1-2 data blocks) are synthesized
    as binary cells, then the member table is re-derived from the
    BYTES ALONE by ``tar_index`` — a structural walk where each next
    offset comes from the previous member's parsed octal size, and
    every header checksum is re-summed over all 512 bytes and
    matched against the stored field (n_checksum_valid == n_members
    is the self-authentication; a single mis-stepped offset zeroes
    it).  The oracle knows only the generator formulas.  Pure JVM
    codegen, zero Exchange, zero Python (plan-tested like the other
    five parsers)."""
    synth = _synth_tars(table(spark, sf_dir, "documents"))
    return tar_index(synth, "doc_id", "tar")


# --- GIF header + palette parsing (seventh wire format) ------------

_GIF_DOCS = 48


def _synth_gifs(d) -> DataFrame:
    """Synthesize canonical GIF89a prefixes for doc_id < 48:
    signature, logical-screen descriptor (width 3 + d%6, height
    2 + d%4, global-color-table flag set, color resolution 7, GCT
    size bits k = d%3 -> 2^(k+1) RGB entries), formula-driven
    palette bytes, and the 0x3B trailer. The oracle knows only the
    formulas."""
    d = d.where(F.col("doc_id") < _GIF_DOCS).select("doc_id")
    i_ = F.col("doc_id")
    width = (3 + i_ % 6).cast("long")
    height = (2 + i_ % 4).cast("long")
    k = (i_ % 3).cast("long")
    n_entries = F.pow(F.lit(2.0), (k + 1).cast("double")).cast("long")  # 2^(k+1)
    packed = (F.lit(0xF0) + k).cast("long")  # 1|111|0|kkk
    palette_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (n_entries - 1).cast("int")),
            lambda e: F.concat(
                _le_hex((i_ * 5 + e.cast("long") * 7) % 256, 1),
                _le_hex((i_ * 11 + e.cast("long") * 3) % 256, 1),
                _le_hex((i_ * 13 + e.cast("long") * 17) % 256, 1),
            ),
        ),
        "",
    )
    gif_hex = F.concat(
        F.hex(F.encode(F.lit("GIF89a"), "utf-8")),
        _le_hex(width, 2),
        _le_hex(height, 2),
        _le_hex(packed, 1),
        F.lit("0000"),  # background color index, aspect ratio
        palette_hex,
        F.lit("3B"),    # trailer
    )
    return d.select("doc_id", F.unhex(gif_hex).alias("gif"))


def gif_stats(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """PUBLIC generic GIF89a header/palette statistics over a
    caller-supplied binary column, from the bytes alone in JVM
    codegen: signature validation, logical-screen geometry
    (little-endian uint16), packed-field bit slicing (GCT flag,
    color resolution, table size 2^(k+1)) and exact per-channel
    palette sums.  Authenticated in tests against a genuine
    Pillow-convention GIF byte layout built with struct."""
    b = F.col(bin_col)
    sig_ok = (
        F.decode(F.substring(b, 1, 6), "utf-8") == "GIF89a"
    ).cast("long")
    width = _le_int(b, 7, 2)
    height = _le_int(b, 9, 2)
    packed = _le_int(b, 11, 1)
    gct_flag = F.floor(packed / 128).cast("long")
    color_res = (F.floor(packed / 16).cast("long") % 8) + 1
    # 2^((packed & 7) + 1) — exact in double for exponents <= 8
    n_entries = F.pow(F.lit(2.0), ((packed % 8) + 1).cast("double")).cast("long")
    chan = lambda off: F.aggregate(
        F.transform(
            F.sequence(F.lit(0), (n_entries - 1).cast("int")),
            lambda e: _byte_at(b, F.lit(14).cast("long") + e.cast("long") * 3 + off),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    trailer_ok = (
        F.hex(F.substring(b, (13 + n_entries * 3 + 1).cast("int"), 1)) == "3B"
    ).cast("long")
    return df.select(
        F.col(id_col),
        sig_ok.alias("sig_ok"),
        width.alias("width"),
        height.alias("height"),
        gct_flag.alias("gct_flag"),
        color_res.alias("color_resolution"),
        n_entries.alias("palette_entries"),
        chan(0).alias("sum_r"),
        chan(1).alias("sum_g"),
        chan(2).alias("sum_b"),
        trailer_ok.alias("trailer_ok"),
    )


@query(
    "multimodal_gif_parse",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_GIF_DOCS}),
pal AS (
  SELECT ids.doc_id, e.e,
         (ids.doc_id * 5 + e.e * 7) % 256 AS r,
         (ids.doc_id * 11 + e.e * 3) % 256 AS g,
         (ids.doc_id * 13 + e.e * 17) % 256 AS b
  FROM ids, LATERAL (
    SELECT unnest(generate_series(
      0, CAST(2 * (1 << (ids.doc_id % 3)) - 1 AS INT))) AS e) e
)
SELECT doc_id,
       CAST(1 AS BIGINT) AS sig_ok,
       CAST(3 + doc_id % 6 AS BIGINT) AS width,
       CAST(2 + doc_id % 4 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS gct_flag,
       CAST(8 AS BIGINT) AS color_resolution,
       CAST(2 * (1 << (doc_id % 3)) AS BIGINT) AS palette_entries,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(1 AS BIGINT) AS trailer_ok
FROM pal
GROUP BY doc_id
""",
    category="multimodal",
)
def multimodal_gif_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palette-image analytics — the SEVENTH wire format (GIF89a, the
    indexed-color family the BMP/PNG parsers don't cover): canonical
    GIF prefixes (signature, logical-screen descriptor, global color
    table, trailer) synthesized as binary cells, then geometry,
    bit-packed GCT fields, per-channel palette sums, and the trailer
    byte all re-derived from the BYTES ALONE — the packed byte is
    bit-sliced with integer div/mod (flag=bit7, color resolution =
    bits 6-4 + 1, table size 2^((packed&7)+1)), so a one-bit layout
    error shifts every downstream offset and zeroes trailer_ok
    rather than passing by luck.  Oracle knows only the generator
    formulas.  Pure JVM codegen, zero Exchange, zero Python."""
    synth = _synth_gifs(table(spark, sf_dir, "documents"))
    return gif_stats(synth, "doc_id", "gif")


# --- ZIP local-header walk + EOCD (eighth wire format) --------------

_ZIP_DOCS = 40
_ZIP_MEMBERS = 3


def _le_hex_sql(value_sql: str, nbytes: int) -> str:
    """Hex string of ``value_sql`` as ``nbytes`` LITTLE-ENDIAN bytes —
    ZIP is the first LE format in the parser series (PNG/MP4/AVI are
    BE or chunked): big-endian lpad-hex, then byte pairs reversed."""
    h = f"lpad(hex(CAST({value_sql} AS BIGINT)), {2 * nbytes}, '0')"
    pairs = ", ".join(
        f"substr({h}, {2 * i + 1}, 2)" for i in range(nbytes - 1, -1, -1)
    )
    return f"concat({pairs})"


def _synth_zips(d) -> DataFrame:
    """Synthesize a real stored-method (no compression) ZIP per
    doc_id < 40: three members "doc{d}_f{i}.txt" with sizes
    60 + (d*53 + i*77) % 140 and printable content bytes
    32 + ((d + 5i + j) % 64), REAL CRC-32s (F.crc32 at synth time,
    like the PNG chunks), a full central directory, and a correct
    end-of-central-directory record.  All multi-byte fields
    little-endian per the spec.  The oracle knows only these
    formulas."""
    d = d.where(F.col("doc_id") < _ZIP_DOCS).select("doc_id")

    def name_sql(m: int) -> str:
        return f"concat('doc', CAST(doc_id AS STRING), '_f{m}.txt')"

    def size_sql(m: int) -> str:
        return f"CAST(60 + (doc_id * 53 + {m} * 77) % 140 AS BIGINT)"

    def content_hex_sql(m: int) -> str:
        return (
            f"array_join(transform(sequence(0, CAST({size_sql(m)} - 1 AS INT)),"
            f" j -> lpad(hex(32 + (doc_id + 5 * {m} + CAST(j AS BIGINT))"
            f" % 64), 2, '0')), '')"
        )

    def crc_sql(m: int) -> str:
        return f"crc32(unhex({content_hex_sql(m)}))"

    def name_len_sql(m: int) -> str:
        return f"CAST(length({name_sql(m)}) AS BIGINT)"

    def local_off_sql(m: int) -> str:
        """Byte offset of member m's local header (0-based)."""
        terms = ["CAST(0 AS BIGINT)"]
        for i in range(m):
            terms.append(f"(30 + {name_len_sql(i)} + {size_sql(i)})")
        return "(" + " + ".join(terms) + ")"

    def local_hex_sql(m: int) -> str:
        return (
            "concat("
            "'504B0304', "                       # PK\\x03\\x04
            f"{_le_hex_sql('20', 2)}, "          # version needed
            f"{_le_hex_sql('0', 2)}, "           # flags
            f"{_le_hex_sql('0', 2)}, "           # method: stored
            f"{_le_hex_sql('24608', 2)}, "       # mod time (12:01:00)
            f"{_le_hex_sql('22561', 2)}, "       # mod date (2024-01-01)
            f"{_le_hex_sql(crc_sql(m), 4)}, "
            f"{_le_hex_sql(size_sql(m), 4)}, "   # compressed == stored
            f"{_le_hex_sql(size_sql(m), 4)}, "   # uncompressed
            f"{_le_hex_sql(name_len_sql(m), 2)}, "
            f"{_le_hex_sql('0', 2)}, "           # extra len
            f"hex(encode({name_sql(m)}, 'utf-8')), "
            f"{content_hex_sql(m)})"
        )

    def central_hex_sql(m: int) -> str:
        return (
            "concat("
            "'504B0102', "                       # PK\\x01\\x02
            f"{_le_hex_sql('20', 2)}, "          # version made by
            f"{_le_hex_sql('20', 2)}, "          # version needed
            f"{_le_hex_sql('0', 2)}, "           # flags
            f"{_le_hex_sql('0', 2)}, "           # method
            f"{_le_hex_sql('24608', 2)}, "
            f"{_le_hex_sql('22561', 2)}, "
            f"{_le_hex_sql(crc_sql(m), 4)}, "
            f"{_le_hex_sql(size_sql(m), 4)}, "
            f"{_le_hex_sql(size_sql(m), 4)}, "
            f"{_le_hex_sql(name_len_sql(m), 2)}, "
            f"{_le_hex_sql('0', 2)}, "           # extra len
            f"{_le_hex_sql('0', 2)}, "           # comment len
            f"{_le_hex_sql('0', 2)}, "           # disk number
            f"{_le_hex_sql('0', 2)}, "           # internal attrs
            f"{_le_hex_sql('0', 4)}, "           # external attrs
            f"{_le_hex_sql(local_off_sql(m), 4)}, "
            f"hex(encode({name_sql(m)}, 'utf-8')))"
        )

    cd_off = local_off_sql(_ZIP_MEMBERS)
    cd_size = "(" + " + ".join(
        f"(46 + {name_len_sql(i)})" for i in range(_ZIP_MEMBERS)
    ) + ")"
    eocd_hex = (
        "concat("
        "'504B0506', "
        f"{_le_hex_sql('0', 2)}, "              # this disk
        f"{_le_hex_sql('0', 2)}, "              # cd start disk
        f"{_le_hex_sql(str(_ZIP_MEMBERS), 2)}, "
        f"{_le_hex_sql(str(_ZIP_MEMBERS), 2)}, "
        f"{_le_hex_sql(cd_size, 4)}, "
        f"{_le_hex_sql(cd_off, 4)}, "
        f"{_le_hex_sql('0', 2)})"               # comment len
    )
    zip_hex = (
        "concat("
        + ", ".join(local_hex_sql(m) for m in range(_ZIP_MEMBERS))
        + ", "
        + ", ".join(central_hex_sql(m) for m in range(_ZIP_MEMBERS))
        + f", {eocd_hex})"
    )
    return d.select("doc_id", F.unhex(F.expr(zip_hex)).alias("zipf"))


def zip_index(df: DataFrame, id_col: str, bin_col: str, max_members: int = 8) -> DataFrame:
    """PUBLIC generic ZIP member index over a caller-supplied binary
    column — stored-method archives walked FROM THE BYTES ALONE in
    one codegen fold: each step verifies the PK\\x03\\x04 local
    signature, reads the little-endian size/name-length fields to
    find the next header, and RECOMPUTES each member's CRC-32 over
    the stored data against the header field (the same
    self-authentication as png_parse/tar_index: a single mis-stepped
    offset zeroes n_crc_valid).  The end-of-central-directory record
    (fixed 22-byte tail when comment-free) cross-checks the walk:
    entry count and central-directory offset come from the OTHER end
    of the file.  At 100 TB: archives are opaque parquet BYTE_ARRAY
    cells; the index is a pure map stage (zero Exchange, zero
    Python) routing members to downstream decode UDFs."""
    b = F.col(bin_col)
    bs = bin_col

    def le_read(pos: str, nbytes: int) -> str:
        h = f"hex(substring({bs}, CAST({pos} AS INT), {nbytes}))"
        pairs = ", ".join(
            f"substr({h}, {2 * i + 1}, 2)" for i in range(nbytes - 1, -1, -1)
        )
        return f"CAST(conv(concat({pairs}), 16, 10) AS BIGINT)"

    off = "acc.off"  # 0-based offset of the current local header
    sig_ok = f"hex(substring({bs}, CAST(({off}) + 1 AS INT), 4)) = '504B0304'"
    usize = le_read(f"({off}) + 23", 4)
    nlen = le_read(f"({off}) + 27", 2)
    elen = le_read(f"({off}) + 29", 2)
    crc_field = le_read(f"({off}) + 15", 4)
    crc_calc = (
        f"crc32(substring({bs}, CAST(({off}) + 31 + {nlen} + {elen} AS INT),"
        f" CAST({usize} AS INT)))"
    )
    done = f"(({off}) < 0) OR (({off}) + 30 > octet_length({bs})) OR NOT ({sig_ok})"
    advanced = (
        "named_struct("
        f"'off', ({off}) + 30 + {nlen} + {elen} + {usize}, "
        "'n', acc.n + 1, "
        f"'tot', acc.tot + {usize}, "
        f"'names', acc.names + {nlen}, "
        f"'crcok', acc.crcok + CAST({crc_calc} = {crc_field} AS BIGINT))"
    )
    ended = (
        "named_struct('off', CAST(-1 AS BIGINT), 'n', acc.n, 'tot', acc.tot,"
        " 'names', acc.names, 'crcok', acc.crcok)"
    )
    init = (
        "named_struct('off', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT),"
        " 'tot', CAST(0 AS BIGINT), 'names', CAST(0 AS BIGINT),"
        " 'crcok', CAST(0 AS BIGINT))"
    )
    walked = F.expr(
        f"aggregate(sequence(1, {int(max_members)}), {init},"
        f" (acc, x) -> CASE WHEN {done} THEN {ended} ELSE {advanced} END)"
    )
    eocd = f"(octet_length({bs}) - 22)"
    eocd_sig = f"hex(substring({bs}, CAST(({eocd}) + 1 AS INT), 4)) = '504B0506'"
    return df.select(
        F.col(id_col),
        walked["n"].alias("n_members"),
        walked["tot"].alias("total_uncompressed"),
        walked["names"].alias("sum_name_chars"),
        walked["crcok"].alias("n_crc_valid"),
        F.expr(
            f"CASE WHEN {eocd_sig} THEN {le_read(f'({eocd}) + 11', 2)}"
            f" ELSE CAST(-1 AS BIGINT) END"
        ).alias("n_entries_eocd"),
        F.expr(
            f"CASE WHEN {eocd_sig} THEN {le_read(f'({eocd}) + 17', 4)}"
            f" ELSE CAST(-1 AS BIGINT) END"
        ).alias("cd_offset"),
        F.octet_length(b).cast("long").alias("archive_bytes"),
    )


@query(
    "multimodal_zip_index",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_ZIP_DOCS}),
mem AS (
  SELECT ids.doc_id, g.m,
         60 + (ids.doc_id * 53 + g.m * 77) % 140 AS sz,
         10 + len(CAST(ids.doc_id AS VARCHAR)) AS nlen
  FROM ids, LATERAL (SELECT unnest(generate_series(0, {_ZIP_MEMBERS - 1})) AS m) g
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(sz) AS BIGINT) AS total_uncompressed,
       CAST(SUM(nlen) AS BIGINT) AS sum_name_chars,
       CAST(COUNT(*) AS BIGINT) AS n_crc_valid,
       CAST({_ZIP_MEMBERS} AS BIGINT) AS n_entries_eocd,
       CAST(SUM(30 + nlen + sz) AS BIGINT) AS cd_offset,
       CAST(SUM(30 + nlen + sz) + SUM(46 + nlen) + 22 AS BIGINT)
         AS archive_bytes
FROM mem GROUP BY doc_id
""",
    category="multimodal",
)
def multimodal_zip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive indexing — the EIGHTH wire format (ZIP, and the first
    LITTLE-ENDIAN one; WAV/BMP/PNG/AVI/MP4/TAR/GIF came before):
    real stored-method ZIPs (correct LE fields, REAL CRC-32s, full
    central directory, end-of-central-directory record) are
    synthesized as binary cells, then the member table is re-derived
    from the BYTES ALONE by ``zip_index`` — a structural walk where
    each next offset comes from the previous member's parsed LE
    size/name-length fields, every member's CRC-32 is RECOMPUTED
    over the stored bytes against the header field, and the EOCD
    record at the opposite end of the file independently confirms
    the entry count and central-directory offset (n_crc_valid ==
    n_members == n_entries_eocd is the three-way self-
    authentication; a mis-walk or endianness slip zeroes it).  The
    oracle knows only the generator formulas.  Pure JVM codegen,
    zero Exchange, zero Python."""
    synth = _synth_zips(table(spark, sf_dir, "documents"))
    return zip_index(synth, "doc_id", "zipf")


_WARC_DOCS = 40
_WARC_RECORDS = 3
_WARC_PATTERN = "abcdefghijklmnopqrstuvwxyz" * 12  # 312 chars


def _warc_len_sql(d: str, r: str) -> str:
    return f"(50 + ({d} * 31 + {r} * 17) % 200)"


@query(
    "multimodal_warc_parse",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_WARC_DOCS}),
recs AS (
  SELECT ids.doc_id, g.r,
         {_warc_len_sql('ids.doc_id', 'g.r')} AS cl,
         1 + (ids.doc_id + g.r) % 26 AS pstart
  FROM ids, LATERAL (SELECT unnest(generate_series(0, {_WARC_RECORDS - 1}))
                     AS r) g
),
built AS (
  SELECT doc_id, r, cl,
         CAST(doc_id AS VARCHAR) || '-' || CAST(r AS VARCHAR) AS rid,
         substring('{_WARC_PATTERN}', pstart, 1) AS head_char,
         substring('{_WARC_PATTERN}', pstart + cl - 1, 1) AS tail_char,
         length('WARC/1.0' || chr(13) || chr(10)
                || 'WARC-Type: response' || chr(13) || chr(10)
                || 'WARC-Record-ID: <urn:uuid:'
                || CAST(doc_id AS VARCHAR) || '-' || CAST(r AS VARCHAR)
                || '>' || chr(13) || chr(10)
                || 'Content-Length: ' || CAST(cl AS VARCHAR)
                || chr(13) || chr(10) || chr(13) || chr(10))
           + cl + 4 AS rec_len
  FROM recs
),
offs AS (
  SELECT *,
         1 + COALESCE(SUM(rec_len) OVER (PARTITION BY doc_id ORDER BY r
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS rec_offset,
         SUM(rec_len) OVER (PARTITION BY doc_id) AS file_bytes
  FROM built
)
SELECT doc_id, CAST(r AS BIGINT) AS rec, rid,
       CAST(cl AS BIGINT) AS content_length,
       CAST(rec_offset AS BIGINT) AS rec_offset,
       head_char, tail_char,
       CAST(file_bytes AS BIGINT) AS file_bytes
FROM offs
""",
    category="multimodal",
)
def multimodal_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/1.0 record walk — the wire format of web-crawl corpora
    (Common Crawl), the ninth from-spec structural parser: each doc
    synthesizes a deterministic 3-record WARC file (response records
    with WARC-Record-ID and Content-Length headers, CRLF framing,
    double-CRLF terminators), and the parser walks it the way a WARC
    reader must — locate the header/payload boundary, regexp the
    Content-Length out of the HEADER BYTES, slice exactly that many
    payload bytes, and let the PARSED length drive the next record's
    offset (the tar lesson: offsets must come from the parse, not
    the generative law). Emitted per record: the parsed record id,
    content length, byte offset, first/last payload chars — all
    recomputed independently by the oracle from the generative law
    with a window cumsum for offsets. Pure JVM codegen: concat /
    locate / regexp_extract / substring, no UDF, no shuffle beyond
    the final posexplode projection."""
    crlf = "\r\n"
    ids = table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _WARC_DOCS
    ).select("doc_id")

    def rec_expr(r: int) -> str:
        cl = _warc_len_sql("doc_id", str(r))
        pstart = f"(1 + (doc_id + {r}) % 26)"
        return (
            f"concat('WARC/1.0', '{crlf}', 'WARC-Type: response', '{crlf}',"
            f" 'WARC-Record-ID: <urn:uuid:', CAST(doc_id AS STRING), '-{r}>',"
            f" '{crlf}', 'Content-Length: ', CAST({cl} AS STRING),"
            f" '{crlf}', '{crlf}',"
            f" substring('{_WARC_PATTERN}', {pstart}, {cl}),"
            f" '{crlf}', '{crlf}')"
        )

    f = ids.select(
        "doc_id",
        F.expr(
            "concat(" + ", ".join(rec_expr(r) for r in range(_WARC_RECORDS)) + ")"
        ).alias("file"),
    )
    # structural walk: each record's offset comes from the previous
    # record's PARSED Content-Length
    cur = f.withColumn("o_0", F.lit(1))
    for r in range(_WARC_RECORDS):
        cur = (
            cur.withColumn(f"he_{r}", F.expr(f"locate('{crlf}{crlf}', file, o_{r})"))
            .withColumn(
                f"hdr_{r}", F.expr(f"substring(file, o_{r}, he_{r} - o_{r})")
            )
            .withColumn(
                f"cl_{r}",
                F.expr(
                    f"CAST(regexp_extract(hdr_{r},"
                    f" 'Content-Length: ([0-9]+)', 1) AS INT)"
                ),
            )
            .withColumn(
                f"rid_{r}",
                F.expr(
                    f"regexp_extract(hdr_{r},"
                    f" 'WARC-Record-ID: <urn:uuid:([0-9-]+)>', 1)"
                ),
            )
            .withColumn(
                f"pay_{r}", F.expr(f"substring(file, he_{r} + 4, cl_{r})")
            )
            .withColumn(f"o_{r + 1}", F.expr(f"he_{r} + 4 + cl_{r} + 4"))
        )
    per_rec = cur.select(
        "doc_id",
        F.length("file").cast("long").alias("file_bytes"),
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"rid_{r}").alias("rid"),
                        F.col(f"cl_{r}").cast("long").alias("content_length"),
                        F.col(f"o_{r}").cast("long").alias("rec_offset"),
                        F.substring(F.col(f"pay_{r}"), 1, 1).alias("head_char"),
                        F.expr(f"substring(pay_{r}, cl_{r}, 1)").alias(
                            "tail_char"
                        ),
                    )
                    for r in range(_WARC_RECORDS)
                ]
            )
        ).alias("rec", "s"),
    )
    return per_rec.select(
        "doc_id",
        F.col("rec").cast("long").alias("rec"),
        F.col("s.rid").alias("rid"),
        F.col("s.content_length").alias("content_length"),
        F.col("s.rec_offset").alias("rec_offset"),
        F.col("s.head_char").alias("head_char"),
        F.col("s.tail_char").alias("tail_char"),
        "file_bytes",
    )


_ICO_DOCS = 40
_ICO_ENTRIES = 3


@query(
    "multimodal_ico_parse",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_ICO_DOCS}),
ent AS (
  SELECT ids.doc_id, g.m,
         CAST(16 * (1 << g.m) AS BIGINT) AS dim,
         CAST(40 + (ids.doc_id * 19 + g.m * 23) % 100 AS BIGINT) AS sz
  FROM ids, LATERAL (SELECT unnest(generate_series(0, {_ICO_ENTRIES - 1}))
                     AS m) g
),
offs AS (
  SELECT *,
         6 + 16 * {_ICO_ENTRIES}
           + COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY m
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS off,
         6 + 16 * {_ICO_ENTRIES} + SUM(sz) OVER (PARTITION BY doc_id)
           AS file_bytes
  FROM ent
),
bytes AS (
  SELECT offs.doc_id, offs.m,
         CAST(SUM((offs.doc_id + offs.m + j.j) % 256) AS BIGINT) AS bsum
  FROM offs, LATERAL (
    SELECT unnest(generate_series(0, CAST(offs.sz - 1 AS INT))) AS j) j
  GROUP BY offs.doc_id, offs.m
)
SELECT offs.doc_id, CAST(offs.m AS BIGINT) AS entry,
       offs.dim AS width, offs.dim AS height,
       CAST(1 AS BIGINT) AS planes, CAST(32 AS BIGINT) AS bpp,
       offs.sz AS bytes_in_res, CAST(offs.off AS BIGINT) AS img_offset,
       bytes.bsum AS img_byte_sum,
       CAST(offs.file_bytes AS BIGINT) AS file_bytes,
       TRUE AS chain_ok
FROM offs JOIN bytes ON bytes.doc_id = offs.doc_id AND bytes.m = offs.m
""",
    category="multimodal",
)
def multimodal_ico_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO icon-container walk — the TENTH from-spec wire format
    (and the second little-endian one after ZIP): real .ico files
    (ICONDIR: reserved 0 / type 1 / count, then 16-byte
    ICONDIRENTRYs with LE u16 planes/bpp and LE u32 size/offset,
    then the image blobs) are synthesized as hex strings per doc,
    and the entry table is re-derived from the BYTES ALONE — count
    parsed from the header drives the directory walk, each entry's
    parsed LE size/offset locate its image blob, the blob's byte sum
    is recomputed FROM THE PARSED OFFSET (a mis-walk or an
    endianness slip lands the checksum in the wrong bytes), and
    chain_ok verifies offset_m + size_m == offset_{{m+1}} (the last
    against the parsed file end). The oracle knows only the
    generator formulas. Pure JVM codegen: hex/substring/conv chains,
    no UDF, no shuffle beyond the final projection."""
    ids = table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _ICO_DOCS
    ).select("doc_id")

    def size_sql(m: int) -> str:
        return f"CAST(40 + (doc_id * 19 + {m} * 23) % 100 AS BIGINT)"

    def le16(v: str) -> str:
        # little-endian u16 as 4 hex chars
        return (
            f"concat(lpad(hex(({v}) % 256), 2, '0'),"
            f" lpad(hex(({v}) DIV 256), 2, '0'))"
        )

    def le32(v: str) -> str:
        return (
            f"concat(lpad(hex(({v}) % 256), 2, '0'),"
            f" lpad(hex((({v}) DIV 256) % 256), 2, '0'),"
            f" lpad(hex((({v}) DIV 65536) % 256), 2, '0'),"
            f" lpad(hex((({v}) DIV 16777216) % 256), 2, '0'))"
        )

    def off_sql(m: int) -> str:
        base = f"{6 + 16 * _ICO_ENTRIES}"
        prior = " + ".join([size_sql(k) for k in range(m)]) or "0"
        return f"({base} + {prior})"

    def entry_hex(m: int) -> str:
        dim = 16 << m
        return (
            f"concat(lpad(hex({dim % 256}), 2, '0'),"  # width (u8)
            f" lpad(hex({dim % 256}), 2, '0'),"  # height (u8)
            f" '00', '00',"  # colorCount, reserved
            f" {le16('1')}, {le16('32')},"  # planes, bpp
            f" {le32(size_sql(m))}, {le32(off_sql(m))})"
        )

    def blob_hex(m: int) -> str:
        return (
            f"array_join(transform(sequence(0, CAST({size_sql(m)} - 1 AS INT)),"
            f" j -> lpad(hex((doc_id + {m} + CAST(j AS BIGINT)) % 256), 2,"
            f" '0')), '')"
        )

    hexf = (
        "concat('0000', '0100', "
        + le16(str(_ICO_ENTRIES))
        + ", "
        + ", ".join(entry_hex(m) for m in range(_ICO_ENTRIES))
        + ", "
        + ", ".join(blob_hex(m) for m in range(_ICO_ENTRIES))
        + ")"
    )
    f = lifecycle.checkpoint(ids.select("doc_id", F.expr(hexf).alias("hexf")))

    # --- parse from bytes alone ---
    def rd_u8(byte_off: str) -> str:
        return f"CAST(conv(substring(hexf, 2 * ({byte_off}) + 1, 2), 16, 10) AS BIGINT)"

    def rd_le16(byte_off: str) -> str:
        return (
            f"CAST(conv(concat(substring(hexf, 2 * ({byte_off}) + 3, 2),"
            f" substring(hexf, 2 * ({byte_off}) + 1, 2)), 16, 10) AS BIGINT)"
        )

    def rd_le32(byte_off: str) -> str:
        return (
            f"CAST(conv(concat("
            f"substring(hexf, 2 * ({byte_off}) + 7, 2),"
            f" substring(hexf, 2 * ({byte_off}) + 5, 2),"
            f" substring(hexf, 2 * ({byte_off}) + 3, 2),"
            f" substring(hexf, 2 * ({byte_off}) + 1, 2)), 16, 10) AS BIGINT)"
        )

    p = f.select(
        "doc_id",
        "hexf",
        F.expr(rd_le16("4")).alias("count_parsed"),
        (F.length("hexf") / 2).cast("long").alias("file_bytes"),
    )
    entries = []
    for m in range(_ICO_ENTRIES):
        base = str(6 + 16 * m)
        sz = rd_le32(f"{6 + 16 * m + 8}")
        off = rd_le32(f"{6 + 16 * m + 12}")
        bsum = (
            f"aggregate(sequence(0, CAST(({sz}) - 1 AS INT)), 0L,"
            f" (acc, j) -> acc + CAST(conv(substring(hexf,"
            f" 2 * (({off}) + j) + 1, 2), 16, 10) AS BIGINT))"
        )
        nxt_off = (
            rd_le32(f"{6 + 16 * (m + 1) + 12}")
            if m + 1 < _ICO_ENTRIES
            else "CAST(length(hexf) DIV 2 AS BIGINT)"
        )
        entries.append(
            F.struct(
                F.expr(rd_u8(base)).alias("width"),
                F.expr(rd_u8(f"{6 + 16 * m + 1}")).alias("height"),
                F.expr(rd_le16(f"{6 + 16 * m + 4}")).alias("planes"),
                F.expr(rd_le16(f"{6 + 16 * m + 6}")).alias("bpp"),
                F.expr(sz).alias("bytes_in_res"),
                F.expr(off).alias("img_offset"),
                F.expr(bsum).alias("img_byte_sum"),
                F.expr(f"({off}) + ({sz}) = {nxt_off}").alias("chain_ok"),
            )
        )
    per = p.select(
        "doc_id",
        "file_bytes",
        "count_parsed",
        F.posexplode(F.array(*entries)).alias("entry", "s"),
    )
    return per.select(
        "doc_id",
        F.col("entry").cast("long").alias("entry"),
        F.col("s.width").alias("width"),
        F.col("s.height").alias("height"),
        F.col("s.planes").alias("planes"),
        F.col("s.bpp").alias("bpp"),
        F.col("s.bytes_in_res").alias("bytes_in_res"),
        F.col("s.img_offset").alias("img_offset"),
        F.col("s.img_byte_sum").alias("img_byte_sum"),
        "file_bytes",
        F.col("s.chain_ok").alias("chain_ok"),
    )


# ------------------------------------------------------------------ #
# r10 wave 8: JPEG marker-segment walk (11th wire format) and TIFF
# IFD walk (12th — BOTH endiannesses in one format)
# ------------------------------------------------------------------ #

_JPEG_DOCS = 30


@query(
    "multimodal_jpeg_parse",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_JPEG_DOCS}),
g AS (
  SELECT doc_id,
         CAST(10 + doc_id % 20 AS BIGINT) AS comment_len,
         CAST(100 + doc_id % 400 AS BIGINT) AS height,
         CAST(200 + doc_id % 300 AS BIGINT) AS width,
         CAST(30 + doc_id % 40 AS BIGINT) AS entropy_bytes
  FROM ids
),
es AS (
  SELECT g.doc_id,
         CAST(SUM((g.doc_id * 3 + j.j) % 255) AS BIGINT) AS entropy_sum
  FROM g, LATERAL (SELECT unnest(generate_series(0,
                    CAST(g.entropy_bytes - 1 AS INT))) AS j) j
  GROUP BY g.doc_id
)
SELECT g.doc_id, g.height, g.width,
       CAST(8 AS BIGINT) AS precision_bits,
       CAST(3 AS BIGINT) AS n_components,
       g.comment_len, g.entropy_bytes, es.entropy_sum,
       CAST(2 + (2 + 16) + (2 + 2 + g.comment_len) + (2 + 17)
            + (2 + 12) + g.entropy_bytes + 2 AS BIGINT) AS file_bytes,
       TRUE AS markers_ok
FROM g JOIN es ON es.doc_id = g.doc_id
""",
    category="multimodal",
)
def multimodal_jpeg_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG/JFIF marker-segment walk — the ELEVENTH from-spec wire
    format: real SOI + APP0(JFIF) + COM + SOF0 + SOS + entropy data
    + EOI streams are synthesized per doc (variable-length COM and
    entropy segments; entropy bytes drawn mod 255 so 0xFF stuffing
    never arises), and everything is re-derived from the BYTES
    ALONE: each segment's big-endian length field drives the hop to
    the next marker (a mis-read length derails every downstream
    offset), frame dimensions/precision/component count come out of
    the SOF0 found by the walk, the entropy byte sum is recomputed
    from the SOS-derived start, and markers_ok certifies all four
    expected markers plus SOI/EOI framing.  The hop chain rides as
    chained columns (o1 -> l1 -> o2 -> ...) so codegen sees linear
    expressions.  Pure hex/conv arithmetic, no UDF; one row per
    container."""
    ids = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _JPEG_DOCS)
        .select("doc_id")
    )

    def be16(v: str) -> str:
        return f"lpad(hex({v}), 4, '0')"

    cl = "(10 + doc_id % 20)"
    h = "(100 + doc_id % 400)"
    w = "(200 + doc_id % 300)"
    en = "(30 + doc_id % 40)"
    com_hex = (
        f"array_join(transform(sequence(0, CAST({cl} - 1 AS INT)),"
        f" j -> lpad(hex((doc_id + CAST(j AS BIGINT)) % 255), 2, '0')), '')"
    )
    ent_hex = (
        f"array_join(transform(sequence(0, CAST({en} - 1 AS INT)),"
        f" j -> lpad(hex((doc_id * 3 + CAST(j AS BIGINT)) % 255), 2, '0')),"
        f" '')"
    )
    hexf = (
        "concat('FFD8',"
        f" 'FFE0', {be16('16')}, '4A46494600', '0102', '00',"
        " '0048', '0048', '00', '00',"
        f" 'FFFE', {be16(f'{cl} + 2')}, {com_hex},"
        f" 'FFC0', {be16('17')}, '08', {be16(h)}, {be16(w)}, '03',"
        " '011100', '021101', '031101',"
        f" 'FFDA', {be16('12')}, '03', '010002110311', '003F00',"
        f" {ent_hex}, 'FFD9')"
    )
    f = lifecycle.checkpoint(ids.select("doc_id", F.expr(hexf).alias("hexf")))

    def rd8(off: str) -> str:
        return (
            f"CAST(conv(substring(hexf, 2 * ({off}) + 1, 2), 16, 10)"
            " AS BIGINT)"
        )

    def rd16(off: str) -> str:
        return (
            f"CAST(conv(substring(hexf, 2 * ({off}) + 1, 4), 16, 10)"
            " AS BIGINT)"
        )

    def mk(off: str) -> str:  # marker hex at byte offset
        return f"substring(hexf, 2 * ({off}) + 1, 4)"

    p = f.withColumn("file_bytes", (F.length("hexf") / 2).cast("long"))
    p = p.withColumn("o1", F.lit(2).cast("long"))
    p = p.withColumn("l1", F.expr(rd16("o1 + 2")))
    p = p.withColumn("o2", F.col("o1") + 2 + F.col("l1"))
    p = p.withColumn("l2", F.expr(rd16("o2 + 2")))
    p = p.withColumn("o3", F.col("o2") + 2 + F.col("l2"))
    p = p.withColumn("l3", F.expr(rd16("o3 + 2")))
    p = p.withColumn("o4", F.col("o3") + 2 + F.col("l3"))
    p = p.withColumn("l4", F.expr(rd16("o4 + 2")))
    p = p.withColumn("ent_start", F.col("o4") + 2 + F.col("l4"))
    p = p.withColumn(
        "entropy_bytes", F.col("file_bytes") - F.col("ent_start") - 2
    )
    p = p.withColumn(
        "entropy_sum",
        F.expr(
            "aggregate(sequence(0, CAST(entropy_bytes - 1 AS INT)), 0L,"
            " (acc, j) -> acc + CAST(conv(substring(hexf,"
            " 2 * (ent_start + j) + 1, 2), 16, 10) AS BIGINT))"
        ),
    )
    markers_ok = F.expr(
        f"substring(hexf, 1, 4) = 'FFD8' AND {mk('o1')} = 'FFE0'"
        f" AND {mk('o2')} = 'FFFE' AND {mk('o3')} = 'FFC0'"
        f" AND {mk('o4')} = 'FFDA'"
        " AND substring(hexf, length(hexf) - 3, 4) = 'FFD9'"
    )
    return p.select(
        "doc_id",
        F.expr(rd16("o3 + 5")).alias("height"),
        F.expr(rd16("o3 + 7")).alias("width"),
        F.expr(rd8("o3 + 4")).alias("precision_bits"),
        F.expr(rd8("o3 + 9")).alias("n_components"),
        (F.col("l2") - 2).cast("long").alias("comment_len"),
        F.col("entropy_bytes").cast("long").alias("entropy_bytes"),
        F.col("entropy_sum").alias("entropy_sum"),
        "file_bytes",
        markers_ok.alias("markers_ok"),
    )


_TIFF_DOCS = 40
_TIFF_TAGS = (256, 257, 273, 279)  # width, height, strip off, strip bytes
_TIFF_STRIP_OFF = 8 + 2 + 4 * 12 + 4  # header + count + entries + next-IFD


@query(
    "multimodal_tiff_parse",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_TIFF_DOCS}),
g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
         CAST(64 + doc_id % 100 AS BIGINT) AS width,
         CAST(32 + doc_id % 50 AS BIGINT) AS height,
         CAST(50 + doc_id % 60 AS BIGINT) AS strip_bytes
  FROM ids
),
ss AS (
  SELECT g.doc_id,
         CAST(SUM((g.doc_id * 7 + j.j) % 256) AS BIGINT) AS strip_sum
  FROM g, LATERAL (SELECT unnest(generate_series(0,
                    CAST(g.strip_bytes - 1 AS INT))) AS j) j
  GROUP BY g.doc_id
)
SELECT g.doc_id, g.byte_order,
       CAST(42 AS BIGINT) AS magic,
       CAST(4 AS BIGINT) AS ifd_entries,
       g.width, g.height,
       CAST({_TIFF_STRIP_OFF} AS BIGINT) AS strip_offset,
       g.strip_bytes, ss.strip_sum,
       CAST(0 AS BIGINT) AS next_ifd,
       TRUE AS header_ok
FROM g JOIN ss ON ss.doc_id = g.doc_id
""",
    category="multimodal",
)
def multimodal_tiff_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF IFD walk — the TWELFTH from-spec wire format and the
    first to carry BOTH byte orders in one dataset: even docs are
    little-endian ('II'), odd docs big-endian ('MM'), so every
    multi-byte read in the parser BRANCHES ON THE PARSED ORDER FLAG
    — the defining TIFF hazard (readers that assume one order parse
    garbage dimensions on half the files).  Real structure: order
    flag + magic 42 + IFD pointer, a 4-entry IFD (ImageWidth,
    ImageLength, StripOffsets, StripByteCounts as LONG tags, tag ids
    ascending per spec) + next-IFD 0, then the strip bytes.  The
    parser re-derives the IFD location from the parsed pointer,
    matches tags by parsed id (not position assumptions), recomputes
    the strip byte sum from the parsed StripOffsets/ByteCounts, and
    header_ok certifies flag/magic/tag-order/next-IFD.  One hex map
    per doc, chained-column hops, zero UDFs."""
    ids = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _TIFF_DOCS)
        .select("doc_id")
    )
    w = "(64 + doc_id % 100)"
    h = "(32 + doc_id % 50)"
    sb = "(50 + doc_id % 60)"

    def num(v: str, nbytes: int) -> str:
        """Hex of `v` in the doc's byte order (doc_id parity)."""
        be = f"lpad(hex({v}), {2 * nbytes}, '0')"
        le_parts = ", ".join(
            f"lpad(hex(({v}) DIV {256 ** k} % 256), 2, '0')"
            for k in range(nbytes)
        )
        return f"IF(doc_id % 2 = 0, concat({le_parts}), {be})"

    def entry(tag: int, val: str) -> str:
        return (
            f"concat({num(str(tag), 2)}, {num('4', 2)},"
            f" {num('1', 4)}, {num(val, 4)})"
        )

    strip_hex = (
        f"array_join(transform(sequence(0, CAST({sb} - 1 AS INT)),"
        f" j -> lpad(hex((doc_id * 7 + CAST(j AS BIGINT)) % 256), 2, '0')),"
        f" '')"
    )
    hexf = (
        "concat(IF(doc_id % 2 = 0, '4949', '4D4D'),"
        f" {num('42', 2)}, {num('8', 4)},"
        f" {num('4', 2)},"
        f" {entry(256, w)}, {entry(257, h)},"
        f" {entry(273, str(_TIFF_STRIP_OFF))}, {entry(279, sb)},"
        f" {num('0', 4)}, {strip_hex})"
    )
    f = lifecycle.checkpoint(ids.select("doc_id", F.expr(hexf).alias("hexf")))

    # --- parse from bytes alone: every read branches on the flag ---
    flag = "substring(hexf, 1, 4)"

    def rd(off: str, nbytes: int) -> str:
        be = f"substring(hexf, 2 * ({off}) + 1, {2 * nbytes})"
        le = "concat(" + ", ".join(
            f"substring(hexf, 2 * ({off}) + {2 * (nbytes - 1 - k) + 1}, 2)"
            for k in range(nbytes)
        ) + ")"
        return (
            f"CAST(conv(IF({flag} = '4949', {le}, {be}), 16, 10) AS BIGINT)"
        )

    p = f.withColumn(
        "byte_order",
        F.expr(f"IF({flag} = '4949', 'II', 'MM')"),
    )
    p = p.withColumn("magic", F.expr(rd("2", 2)))
    p = p.withColumn("ifd_off", F.expr(rd("4", 4)))
    p = p.withColumn("n_entries", F.expr(rd("ifd_off", 2)))

    def tag_val(tag: int) -> str:
        """Value of the IFD entry whose PARSED tag id matches."""
        cases = " ".join(
            f"WHEN {rd(f'ifd_off + 2 + 12 * {m}', 2)} = {tag}"
            f" THEN {rd(f'ifd_off + 2 + 12 * {m} + 8', 4)}"
            for m in range(4)
        )
        return f"CASE {cases} END"

    p = (
        p.withColumn("width", F.expr(tag_val(256)))
        .withColumn("height", F.expr(tag_val(257)))
        .withColumn("strip_offset", F.expr(tag_val(273)))
        .withColumn("strip_bytes", F.expr(tag_val(279)))
        .withColumn("next_ifd", F.expr(rd("ifd_off + 2 + 12 * 4", 4)))
    )
    p = p.withColumn(
        "strip_sum",
        F.expr(
            "aggregate(sequence(0, CAST(strip_bytes - 1 AS INT)), 0L,"
            " (acc, j) -> acc + CAST(conv(substring(hexf,"
            " 2 * (strip_offset + j) + 1, 2), 16, 10) AS BIGINT))"
        ),
    )
    tags_ascending = " AND ".join(
        f"({rd(f'ifd_off + 2 + 12 * {m}', 2)})"
        f" < ({rd(f'ifd_off + 2 + 12 * {m + 1}', 2)})"
        for m in range(3)
    )
    header_ok = F.expr(
        f"({flag} = '4949' OR {flag} = '4D4D') AND magic = 42"
        f" AND next_ifd = 0 AND {tags_ascending}"
        " AND strip_offset + strip_bytes = length(hexf) DIV 2"
    )
    return p.select(
        "doc_id",
        "byte_order",
        "magic",
        F.col("n_entries").alias("ifd_entries"),
        "width",
        "height",
        "strip_offset",
        "strip_bytes",
        "strip_sum",
        "next_ifd",
        header_ok.alias("header_ok"),
    )


# ------------------------------------------------------------------ #
# WebP (RIFF/VP8 key-frame) parse — r11 wave 2
# ------------------------------------------------------------------ #

_WEBP_DOCS = 40


@query(
    "multimodal_webp_parse",
    oracle=f"""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < {_WEBP_DOCS}),
gen AS (
  SELECT doc_id,
         CAST(16 * (1 + doc_id % 8) AS BIGINT) AS width,
         CAST(16 * (1 + doc_id % 5) AS BIGINT) AS height,
         CAST(doc_id % 4 AS BIGINT) AS version,
         CAST(50 + doc_id % 100 AS BIGINT) AS part_size,
         CAST(20 + 2 * ((doc_id * 7) % 25) AS BIGINT) AS pad
  FROM ids
),
sums AS (
  SELECT g.doc_id,
         CAST(SUM((g.doc_id + j.j) % 256) AS BIGINT) AS pad_byte_sum
  FROM gen g, LATERAL (
    SELECT unnest(generate_series(0, CAST(g.pad - 1 AS INT))) AS j) j
  GROUP BY g.doc_id
)
SELECT g.doc_id,
       CAST(4 + 8 + 10 + g.pad AS BIGINT) AS riff_size,
       CAST(10 + g.pad AS BIGINT) AS chunk_size,
       CAST(1 AS INT) AS is_keyframe,
       g.version,
       CAST(1 AS INT) AS show_frame,
       g.part_size,
       g.width, g.height,
       CAST(1 AS INT) AS startcode_ok,
       CAST(1 AS INT) AS sizes_ok,
       s.pad_byte_sum,
       CAST(12 + 8 + 10 + g.pad AS BIGINT) AS file_bytes
FROM gen g JOIN sums s ON s.doc_id = g.doc_id
""",
    category="multimodal",
)
def multimodal_webp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP (RIFF + lossy VP8 key frame) wire parse — the THIRTEENTH
    from-spec format and the third little-endian RIFF sibling (after
    WAV and the LE ZIP/ICO pair): real .webp byte streams (RIFF
    header, 'WEBP' form type, one 'VP8 ' chunk whose payload opens
    with the 3-byte LE frame tag [keyframe bit, version, show_frame,
    19-bit first-partition size], the 9D 01 2A start code, then LE
    u16 width/height) are synthesized per doc as hex strings, and
    every output column is re-derived from the BYTES ALONE: the
    chunk walk starts at the parsed RIFF offsets, the frame-tag
    bitfield is split by integer div/mod, the start code is
    verified, the padding bytes after the 10-byte VP8 header are
    checksummed FROM THE PARSED chunk_size (an off-by-one in the tag
    parse lands the sum in the wrong window), and sizes_ok
    cross-checks riff_size == 4 + 8 + chunk_size.  The oracle knows
    only the generator formulas.  Pure JVM hex/substring/conv
    codegen — no UDF, no shuffle.

    At 100 TB: header fields parse from the first KB of each blob
    (binaryFile ingest); only the checksum walks the payload, and it
    is a per-row map."""
    ids = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _WEBP_DOCS)
        .select("doc_id")
    )

    w = "16 * (1 + doc_id % 8)"
    h = "16 * (1 + doc_id % 5)"
    ver = "(doc_id % 4)"
    part = "(50 + doc_id % 100)"
    pad = "(20 + 2 * ((doc_id * 7) % 25))"
    # frame tag u24: keyframe=0 (bit0), version bits1-3, show=1 bit4,
    # first-partition size bits5-23
    tag = f"(0 + {ver} * 2 + 1 * 16 + {part} * 32)"

    def le(v: str, nbytes: int) -> str:
        parts = ", ".join(
            f"lpad(hex((({v}) DIV {256 ** i}) % 256), 2, '0')"
            for i in range(nbytes)
        )
        return f"concat({parts})"

    chunk_size = f"(10 + {pad})"
    riff_size = f"(4 + 8 + {chunk_size})"
    pad_hex = (
        f"array_join(transform(sequence(0, CAST({pad} - 1 AS INT)),"
        f" j -> lpad(hex((doc_id + CAST(j AS BIGINT)) % 256), 2, '0')), '')"
    )
    hexf = (
        f"concat('52494646', {le(riff_size, 4)}, '57454250',"
        f" '56503820', {le(chunk_size, 4)},"
        f" {le(tag, 3)}, '9D012A',"
        f" {le(w, 2)}, {le(h, 2)},"
        f" {pad_hex})"
    )
    f = lifecycle.checkpoint(ids.select("doc_id", F.expr(hexf).alias("hexf")))

    def rd_u8(off: str) -> str:
        return f"CAST(conv(substring(hexf, 2 * ({off}) + 1, 2), 16, 10) AS BIGINT)"

    def rd_le(off: str, nbytes: int) -> str:
        bs = ", ".join(
            f"substring(hexf, 2 * ({off}) + {2 * i + 1}, 2)"
            for i in reversed(range(nbytes))
        )
        return f"CAST(conv(concat({bs}), 16, 10) AS BIGINT)"

    parsed = f.selectExpr(
        "doc_id",
        "hexf",
        f"CASE WHEN substring(hexf, 1, 8) = '52494646'"
        f" AND substring(hexf, 17, 8) = '57454250'"
        f" AND substring(hexf, 25, 8) = '56503820'"
        f" THEN 1 ELSE 0 END AS riff_ok",
        f"{rd_le('4', 4)} AS riff_size",
        f"{rd_le('16', 4)} AS chunk_size",
        f"{rd_le('20', 3)} AS tag",
    ).selectExpr(
        "doc_id",
        "hexf",
        "riff_ok",
        "riff_size",
        "chunk_size",
        "CAST(CASE WHEN tag % 2 = 0 THEN 1 ELSE 0 END AS INT) AS is_keyframe",
        "CAST((tag DIV 2) % 8 AS BIGINT) AS version",
        "CAST(CASE WHEN (tag DIV 16) % 2 = 1 THEN 1 ELSE 0 END AS INT)"
        " AS show_frame",
        "CAST(tag DIV 32 AS BIGINT) AS part_size",
        f"CASE WHEN substring(hexf, 2 * 23 + 1, 6) = '9D012A'"
        f" THEN 1 ELSE 0 END AS startcode_raw",
        f"CAST({rd_le('26', 2)} % 16384 AS BIGINT) AS width",
        f"CAST({rd_le('28', 2)} % 16384 AS BIGINT) AS height",
    )
    return parsed.selectExpr(
        "doc_id",
        "riff_size",
        "chunk_size",
        "is_keyframe",
        "version",
        "show_frame",
        "part_size",
        "width",
        "height",
        "CAST(riff_ok * startcode_raw AS INT) AS startcode_ok",
        "CAST(CASE WHEN riff_size = 4 + 8 + chunk_size THEN 1 ELSE 0 END"
        " AS INT) AS sizes_ok",
        # checksum the padding from PARSED offsets: payload starts at
        # byte 20, header is 10 bytes, pad runs [30, 20 + chunk_size)
        "CAST(aggregate(sequence(30, CAST(20 + chunk_size - 1 AS INT)),"
        " CAST(0 AS BIGINT), (acc, p) -> acc"
        " + conv(substring(hexf, 2 * p + 1, 2), 16, 10)) AS BIGINT)"
        " AS pad_byte_sum",
        "CAST(length(hexf) DIV 2 AS BIGINT) AS file_bytes",
    )
