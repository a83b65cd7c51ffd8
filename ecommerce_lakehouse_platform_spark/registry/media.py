"""Multimodal queries over binary columns: payload metadata without
decoding, real audio and image codec round trips (frame sampling,
image resize), perceptual-hash image dedup and image-embedding top-k.

The payloads are built from the fixture documents — their UTF-8
bytes, or md5 chains of the doc id for the real audio/image codecs
(:mod:`..multimodal.binary`) — so each oracle rebuilds the same bytes
in DuckDB and checks values, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..multimodal.binary import attach_binary_payload, binary_metadata
from ..operators import neardup, similarity
from ._core import _t, query


# ---------------------------------------------------------------------------
# Multimodal binary plumbing (pure-SQL metadata path)
# ---------------------------------------------------------------------------

@query(
    "ext_binary_metadata",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS media_type,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      sha256(text) AS content_sha256
    FROM documents
    """,
)
def ext_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata (length + sha256) without decoding —
    column pruning keeps payload scans out of metadata queries."""
    docs = _t(spark, sf_dir, "documents")
    return binary_metadata(attach_binary_payload(docs))


# PCM hex chain for the real-WAVE frame query: 256 samples = 512 PCM
# bytes = 32 md5 blocks per document, mirrored verbatim in the oracle.
_WAV_ORACLE_BLOCKS = " || ".join(
    f"md5(CAST(doc_id AS VARCHAR) || ':wav{i}')" for i in range(32)
)


@query(
    "ext_media_frames",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, {_WAV_ORACLE_BLOCKS} AS pcm_hex
      FROM documents
    ), fx AS (
      SELECT media_id, pcm_hex, unnest(range(0, 16, 4)) AS f
      FROM m
    )
    SELECT media_id, CAST(f AS BIGINT) AS frame_idx,
      upper(substring(pcm_hex, CAST(f AS BIGINT) * 64 + 1, 64)) AS frame_hex
    FROM fx
    """,
)
def ext_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec end-to-end (``fake=False``): build a genuine
    RIFF/WAVE mono PCM16 payload per document JVM-side (md5-chain
    sample bytes under the canonical header — attach_wave_payload),
    then run the real chunk-walking decode → every-4th-16-sample
    window sampler (multimodal/binary.sample_frames, RIFF spec
    implemented honestly) through Arrow mapInPandas: 1 audio row fans
    out to 4 frame rows, output cardinality decoupled from input.
    Byte-exact: little-endian int16 windows round-trip to the exact
    PCM bytes, so the oracle replays each frame as a 64-hex-char
    substring of the same md5 chain — header parse, chunk walk, and
    window math all sit on the checked path with genuine samples."""
    docs = _t(spark, sf_dir, "documents")
    from ..multimodal.binary import attach_wave_payload, sample_frames

    media = attach_wave_payload(docs, n_samples=256)
    frames = sample_frames(media, every_n=4, max_frames=8, fake=False)
    return frames.select(
        "media_id", "frame_idx", F.hex("frame").alias("frame_hex")
    )


@query(
    "ext_media_phash_dedup",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS len
      FROM documents
    ),
    bytes AS (
      SELECT media_id,
        (strpos('0123456789ABCDEF',
                substring(h, CAST(i AS BIGINT) * 2 + 1, 1)) - 1) * 16
          + (strpos('0123456789ABCDEF',
                    substring(h, CAST(i AS BIGINT) * 2 + 2, 1)) - 1) AS val,
        len
      FROM m, unnest(range(0, len)) AS u(i)
    ),
    bins AS (
      SELECT media_id, len, val % 48 AS bin, COUNT(*) AS cnt
      FROM bytes GROUP BY 1, 2, 3
    ),
    ph AS (
      SELECT media_id,
        CAST(SUM(CASE WHEN 48 * cnt > len
                 THEN CAST(1 AS BIGINT) << bin ELSE 0 END) AS BIGINT) AS phash
      FROM bins GROUP BY 1
    ),
    hashed AS (
      SELECT m.media_id, COALESCE(p.phash, 0) AS phash
      FROM m LEFT JOIN ph p USING (media_id)
    )
    SELECT media_id, phash,
      MIN(media_id) OVER (PARTITION BY phash) AS canonical_media_id,
      media_id != MIN(media_id) OVER (PARTITION BY phash) AS is_duplicate,
      COUNT(*) OVER (PARTITION BY phash) AS group_size
    FROM hashed
    """,
)
def ext_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual hash — the standard first pass of
    multimodal corpus curation: fingerprint every image
    (multimodal/binary.media_phash, deterministic stand-in codec
    through the real Arrow plumbing), then one JVM groupBy(phash)
    assigns each media row its canonical (min-id) representative and
    duplicate flag. Equality buckets scale as a plain hash aggregate;
    Hamming-distance near-dup reuses the SimHash banding idiom on the
    phash column when re-encode tolerance is needed. Bit-exact
    cross-engine: the hash uses only integer comparisons, replayed by
    the oracle in the hex domain."""
    docs = _t(spark, sf_dir, "documents")
    from ..multimodal.binary import media_phash

    ph = media_phash(attach_binary_payload(docs), fake=True)
    w = Window.partitionBy("phash")
    canonical = F.min("media_id").over(w)
    return ph.select(
        "media_id",
        "phash",
        canonical.alias("canonical_media_id"),
        (F.col("media_id") != canonical).alias("is_duplicate"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


# src-index map for the 12×8 → 5×3 exact nearest-neighbor resample:
# dst (x, y) ← src (⌊x·12/5⌋, ⌊y·8/3⌋); flat index y·12+x. Fixed dims
# → a compile-time constant the oracle replays as byte picks.
_PGM_RESIZE_IDX = [
    y * 12 + x
    for y in ((yy * 8) // 3 for yy in range(3))
    for x in ((xx * 12) // 5 for xx in range(5))
]


_PGM_OUT_HEADER_HEX = "P5\n5 3\n255\n".encode().hex().upper()


_PGM_ORACLE_PICKS = " || ".join(
    f"substring(pix, {i * 2 + 1}, 2)" for i in _PGM_RESIZE_IDX
)


# md5-chain pixel hex of the real-PGM payload: a 12×8 raster is 96
# pixel bytes = 6 md5 blocks per document, mirrored verbatim in the
# oracles (duckdb md5() emits lowercase hex).
_PGM_ORACLE_BLOCKS = " || ".join(
    f"md5(CAST(doc_id AS VARCHAR) || ':pgm{i}')" for i in range(6)
)


@query(
    "ext_media_ppm_resize",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, {_PGM_ORACLE_BLOCKS} AS pix
      FROM documents
    )
    SELECT media_id, 'image' AS media_type,
      CAST(5 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
      '{_PGM_OUT_HEADER_HEX}' || upper({_PGM_ORACLE_PICKS}) AS payload_hex
    FROM m
    """,
)
def ext_media_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end-to-end (``fake=False``): build a genuine
    12×8 binary PGM per document JVM-side (md5-chain pixel bytes under
    a canonical netpbm header — attach_pgm_payload), then run the real
    decode → exact nearest-neighbor resample → canonical re-encode
    path (multimodal/binary.reencode_resized, netpbm P5/P6 + BMP
    codecs implemented from their public specs with numpy) through
    the same Arrow mapInPandas plumbing as the stand-in queries.
    Byte-exact: the oracle re-derives the pixel chain and replays the
    constant floor-index map as hex-domain byte picks under the
    resized header — header parse, raster reshape, index math, and
    re-encode all sit on the checked path with genuine pixels."""
    docs = _t(spark, sf_dir, "documents")
    from ..multimodal.binary import attach_pgm_payload, resize_media

    media = attach_pgm_payload(docs, width=12, height=8)
    resized = resize_media(media, width=5, height=3, fake=False)
    return resized.select(
        "media_id",
        "media_type",
        "width",
        "height",
        F.hex("payload").alias("payload_hex"),
    )


# ---------------------------------------------------------------------------
# Multimodal → vector bridge: decode payloads, then similarity search
# ---------------------------------------------------------------------------

@query(
    "ext_media_embed_topk",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id, {_PGM_ORACLE_BLOCKS} AS pix
      FROM documents
    ),
    px AS (
      SELECT media_id,
        list_transform(range(0, 96), i ->
          (strpos('0123456789abcdef',
                  substring(pix, CAST(i AS BIGINT) * 2 + 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef',
                    substring(pix, CAST(i AS BIGINT) * 2 + 2, 1)) - 1)
        ) AS vals
      FROM m
    ),
    feat AS (
      SELECT media_id,
        list_transform(range(0, 8), j ->
          CAST(len(list_filter(vals, v -> v // 32 = j)) AS DOUBLE) / 96.0
        ) AS f
      FROM px
    ),
    scored AS (
      SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
        {neardup.oracle_cosine_sql("q.f", "c.f")} AS cosine_sim
      FROM feat q JOIN feat c ON q.media_id != c.media_id
      WHERE q.media_id < 10
    )
    SELECT query_id, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ext_media_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline on the REAL codec path
    (``fake=False``, r10 — previously the byte-histogram stand-in):
    build a genuine 12×8 binary PGM per document JVM-side (md5-chain
    pixel bytes under the canonical netpbm header —
    attach_pgm_payload), decode it with the real netpbm codec through
    Arrow mapInPandas into pixel-value histogram features (bin =
    value // 32, density = count/96 — one IEEE division), then exact
    cosine top-5 over the decoded features. The oracle replays the
    SAME pixels from the md5 chain in the hex domain (like
    ext_media_frames), so the header parse, raster decode, feature
    head, and broadcast top-k all sit on the value-checked path —
    bit-exact across engines."""
    from ..multimodal.binary import attach_pgm_payload, decode_media

    docs = _t(spark, sf_dir, "documents")
    decoded = decode_media(attach_pgm_payload(docs), fake=False).select(
        "media_id", "feature"
    )
    queries_df = decoded.filter(F.col("media_id") < 10)
    return similarity.cosine_topk(
        decoded, queries_df, k=5, id_col="media_id", vec_col="feature"
    )
