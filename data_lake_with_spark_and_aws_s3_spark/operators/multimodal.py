"""Multimodal columns (SURVEY.md §2.10): typed struct columns binding
text + embedding + metadata, opaque binary payloads with typed
metadata, and the decode / feature-extract plumbing as Arrow-batched
mapInPandas.

The image/audio decode libraries are NOT in this container, so the
decode step is a clearly-marked deterministic fake behind
`decode_image_stub` (NotImplementedError for real codecs) — but the
Spark-side plumbing is real and tested: binary schema, struct access,
mapInPandas batch iteration, output schema declaration, partition
preservation.

Scale posture: binary payloads ride Parquet as BYTE_ARRAY with
dictionary off; metadata stays in scalar columns so predicates on it
prune row groups WITHOUT touching the blobs (column pruning = you
never read the bytes you don't decode). mapInPandas streams
Arrow batches — constant memory per task regardless of blob count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ._pin import pin
from ..sources.loader import fan_out, load_table


@query(
    "q_multimodal_struct",
    oracle="""
    SELECT d.doc_id,
           d.text AS media_text,
           CAST(length(d.text) AS BIGINT) AS text_len,
           CAST(len(e.embedding) AS BIGINT) AS embedding_dim,
           d.lang AS meta_lang,
           d.source AS meta_source
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    """,
    tags=("multimodal", "struct"),
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record type: struct(text, embedding, metadata map)
    assembled, then accessed with dotted paths / element_at — proves
    the nested type round-trips through Catalyst (the oracle checks
    the flattened projection)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    media = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.col("text"),
            F.col("embedding"),
            F.create_map(
                F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
            ).alias("meta"),
        ).alias("media"),
    )
    return media.select(
        "doc_id",
        F.col("media.text").alias("media_text"),
        F.length("media.text").cast("long").alias("text_len"),
        F.size("media.embedding").cast("long").alias("embedding_dim"),
        F.element_at("media.meta", "lang").alias("meta_lang"),
        F.element_at("media.meta", "source").alias("meta_source"),
    )


def decode_image_stub(payload: bytes) -> dict:
    """STUB decode (real codecs unavailable in this container).

    Deterministic fake: 'width'/'height' derived from the payload
    bytes so tests are stable. A real deployment replaces this body
    with e.g. PIL.Image.open(io.BytesIO(payload)) — the Spark-side
    plumbing (schema, batching, partitioning) does not change.
    """
    if not isinstance(payload, (bytes, bytearray)):
        raise NotImplementedError("real image decoding requires a codec library")
    n = len(payload)
    return {"width": 16 + n % 64, "height": 16 + (n * 7) % 64, "n_bytes": n}


@query(
    "q_multimodal_binary",
    # The stub features are pure functions of the payload byte length,
    # so the mapInPandas output IS oracle-checkable: strlen() in DuckDB
    # is byte length of the UTF-8 text, identical to len() of the
    # binary-cast payload on the Spark side.
    oracle="""
    SELECT doc_id,
           lang,
           CAST(16 + strlen(text) % 64 AS BIGINT) AS width,
           CAST(16 + (strlen(text) * 7) % 64 AS BIGINT) AS height,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    tags=("multimodal", "binary", "pandas-udf"),
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payloads + Arrow-batched feature extraction.
    The Python decode path (mapInPandas) is the thing under test; the
    stub's outputs are deterministic functions of byte length so the
    whole pipeline is value-checked against SQL.

    documents.text stands in for an image payload (cast to binary);
    mapInPandas streams Arrow batches through decode_image_stub and
    emits typed metadata. The frame shape — binary in, scalars out,
    schema declared up front — is exactly what a real image/audio
    pipeline uses."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload"), "lang"
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(decode_image_stub)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "width": feats.map(lambda f: f["width"]),
                    "height": feats.map(lambda f: f["height"]),
                    "n_bytes": feats.map(lambda f: f["n_bytes"]),
                }
            )

    return d.mapInPandas(
        extract, schema="doc_id long, lang string, width long, height long, n_bytes long"
    )


_FRAME_BYTES = 16
_FRAME_STRIDE = 4  # keep every 4th frame


@query(
    "q_multimodal_frames",
    # documents.text is ASCII (word-salad vocabulary + spaces), so
    # DuckDB's character-based substr/ord mirror the Spark side's BYTE
    # slicing exactly; the checksum is an integer sum of frame bytes.
    oracle=f"""
    WITH f AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             substr(text, CAST(i * {_FRAME_BYTES} + 1 AS INTEGER),
                    {_FRAME_BYTES}) AS fr
      FROM documents, UNNEST(range(0, strlen(text) // {_FRAME_BYTES})) t(i)
      WHERE i % {_FRAME_STRIDE} = 0
    )
    SELECT doc_id, frame_idx,
           frame_idx * {_FRAME_BYTES} AS byte_offset,
           CAST(list_reduce(list_transform(range(1, {_FRAME_BYTES + 1}),
                j -> ord(substr(fr, CAST(j AS INTEGER), 1))),
                (s, x) -> s + x) AS BIGINT) AS checksum
    FROM f
    """,
    tags=("multimodal", "binary", "frame-sampling", "pandas-udf"),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque binary payloads — the video-ingest
    plumbing shape: treat each payload as a container of fixed-size
    frames (16 bytes here; a real container would parse
    headers in the same place the slicing loop sits), keep every
    4th full frame, and emit one typed metadata row per
    sampled frame (index, byte offset, checksum). One input row fans
    out to many output rows THROUGH mapInPandas — the part worth
    testing: per-batch Python fan-out with a declared schema, Arrow
    in/out, no driver involvement.

    As with decode_image_stub, the frame MATH is a deterministic fake
    (real decoders aren't in this container) but every Spark-side
    mechanism is real, and the fake is a pure function of the bytes
    so the whole fan-out is value-checked against SQL byte arithmetic.

    Scale: frames stream Arrow batch by Arrow batch (constant memory
    per task however large the corpus); the output carries offsets,
    not payload bytes, so downstream shuffles never move media. Real
    frame-sample pipelines add a second mapInPandas stage decoding
    ONLY the sampled offsets — a quarter of the decode cost here."""
    import pandas as _pd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, offs, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for i in range(0, len(b) // _FRAME_BYTES, _FRAME_STRIDE):
                    fr = b[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    doc_ids.append(doc_id)
                    idxs.append(i)
                    offs.append(i * _FRAME_BYTES)
                    sums.append(sum(fr))
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.array(doc_ids, dtype="int64"),
                    "frame_idx": _pd.array(idxs, dtype="int64"),
                    "byte_offset": _pd.array(offs, dtype="int64"),
                    "checksum": _pd.array(sums, dtype="int64"),
                }
            )

    return d.mapInPandas(
        sample,
        "doc_id long, frame_idx long, byte_offset long, checksum long",
    )


_RASTER_W = 16  # fake raster width (bytes per row)


@query(
    "q_multimodal_resize",
    # ASCII payload => DuckDB's substr/ord mirror byte indexing. The
    # resized raster keeps even rows x even cols (nearest-neighbor 2x
    # downsample); its checksum is an exact integer byte sum.
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, text,
             CAST({_RASTER_W} AS BIGINT) AS in_w,
             CAST(strlen(text) // {_RASTER_W} AS BIGINT) AS in_h
      FROM documents
      WHERE strlen(text) // {_RASTER_W} >= 2
    ),
    kept AS (
      SELECT doc_id, in_w, in_h,
             ord(substr(text, CAST(r * {_RASTER_W} + c + 1 AS INTEGER), 1)) AS b
      FROM dims,
           UNNEST(range(0, in_h)) t(r),
           UNNEST(range(0, {_RASTER_W})) u(c)
      WHERE r % 2 = 0 AND c % 2 = 0
    )
    SELECT doc_id, in_w, in_h,
           CAST({_RASTER_W} // 2 AS BIGINT) AS out_w,
           CAST((in_h + 1) // 2 AS BIGINT) AS out_h,
           CAST(COUNT(*) AS BIGINT) AS out_bytes,
           CAST(SUM(b) AS BIGINT) AS out_checksum
    FROM kept
    GROUP BY doc_id, in_w, in_h
    """,
    tags=("multimodal", "binary", "resize", "pandas-udf"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over binary rasters: each payload is read as a
    16-byte-wide raster and 2x-downsampled nearest-neighbor (numpy
    reshape + [::2, ::2] stride slice) inside Arrow-batched
    mapInPandas — the per-batch vectorized shape a real image resize
    (PIL/cv2 at the decode_image_stub boundary) drops into unchanged.
    Output dims + byte count + checksum of the RESIZED raster are
    hashed, so a stride/mis-shape bug changes the answer.

    Scale: map-only (zero shuffle); blobs stream through Arrow batches
    at constant memory; metadata-only readers never touch the bytes
    (column pruning). The tail row fragment below in_w bytes is
    dropped, exactly as a real decoder crops to full scanlines."""
    import numpy as np

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                in_h = len(buf) // _RASTER_W
                if in_h < 2:
                    continue
                raster = buf[: in_h * _RASTER_W].reshape(in_h, _RASTER_W)
                small = raster[::2, ::2]  # nearest-neighbor 2x downsample
                rows.append(
                    (
                        int(doc_id),
                        _RASTER_W,
                        in_h,
                        small.shape[1],
                        small.shape[0],
                        int(small.size),
                        int(small.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "in_w", "in_h", "out_w", "out_h",
                    "out_bytes", "out_checksum",
                ],
            )

    return d.mapInPandas(
        resize,
        schema=(
            "doc_id long, in_w long, in_h long, out_w long, out_h long, "
            "out_bytes long, out_checksum long"
        ),
    )


_PHASH_HAMMING_MAX = 3  # pigeonhole-complete: <=3 bit flips across 4 bands


@query(
    "q_image_phash_dedup",
    # The aHash is a pure integer function of the payload bytes (cell
    # mean vs global mean by cross-multiplication), so the whole
    # pipeline — hash, banded blocking, exact Hamming verify — is
    # value-checked against DuckDB byte arithmetic. ASCII payloads =>
    # ord(substr) mirrors byte indexing (q_multimodal_frames pattern).
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, text, strlen(text) // {_RASTER_W} AS in_h
      FROM documents WHERE strlen(text) // {_RASTER_W} >= 8
    ),
    bytes AS (
      SELECT doc_id, in_h, i // {_RASTER_W} AS r, i % {_RASTER_W} AS c,
             ord(substr(text, CAST(i + 1 AS INTEGER), 1)) AS b
      FROM dims, UNNEST(range(0, in_h * {_RASTER_W})) t(i)
    ),
    cells AS (
      SELECT doc_id, (r * 8) // in_h AS gr, c // 2 AS gc,
             CAST(SUM(b) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM bytes GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT doc_id, SUM(s) AS st, SUM(n) AS nt FROM cells GROUP BY 1
    ),
    bits AS (
      SELECT c.doc_id, gr, gc,
             CASE WHEN c.s * t.nt > t.st * c.n THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, gr // 2 AS band_id,
             CAST(SUM(bit << ((gr % 2) * 8 + gc)) AS BIGINT) AS band_val
      FROM bits GROUP BY 1, 2
    ),
    hashes AS (
      SELECT doc_id,
             MAX(CASE WHEN band_id = 0 THEN band_val END) AS h0,
             MAX(CASE WHEN band_id = 1 THEN band_val END) AS h1,
             MAX(CASE WHEN band_id = 2 THEN band_val END) AS h2,
             MAX(CASE WHEN band_id = 3 THEN band_val END) AS h3
      FROM bands GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(ha.h0, hb.h0)) + bit_count(xor(ha.h1, hb.h1))
                + bit_count(xor(ha.h2, hb.h2)) + bit_count(xor(ha.h3, hb.h3))
               AS BIGINT) AS hamming
      FROM cand
      JOIN hashes ha ON ha.doc_id = doc_a
      JOIN hashes hb ON hb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, hamming FROM verified
    WHERE hamming <= {_PHASH_HAMMING_MAX}
    """,
    tags=("multimodal", "neardup", "phash", "lsh", "llm-pipeline"),
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for the IMAGE modality
    (VERDICT r7 #7 — the one LLM-pipeline dedup modality not yet
    covered): 64-bit average-hash (aHash) over each payload's byte
    raster, Hamming-banded LSH blocking, exact bit_count verify.

    Hash: the {_RASTER_W}-byte-wide raster (q_multimodal_resize's
    scheme) is partitioned into an 8x8 block grid (raster row r ->
    grid row (r*8) div in_h; col c -> c div 2); bit(g) = 1 iff the
    cell's byte mean exceeds the global mean, decided by EXACT integer
    cross-multiplication (s_cell * n_total > s_total * n_cell) — no
    float means, so the 64 bits are bit-identical on both engines. A
    real deployment swaps the raster source for decoded luma pixels at
    the decode_image_stub boundary; every distributed mechanism stays.

    Blocking (the scale path): the 64 bits split into four 16-bit
    bands; candidate pairs = band-equality self-join (the SimHash
    pigeonhole idiom, neardup.py) — a pair within Hamming distance
    {_PHASH_HAMMING_MAX} differs in at most 3 bands, so at least one
    band matches: 100% recall at the threshold with O(n·4) shuffle
    rows, never all-pairs. Verify recomputes the EXACT Hamming
    distance (xor + bit_count per band) on candidates only.

    Scale: hashing is map-only Arrow-batched mapInPandas (constant
    memory; payload bytes never shuffle — only 4 longs per doc leave
    the scan); the band join shuffles 4 rows/doc; hot bands (e.g.
    monochrome images all hashing to 0) would salt exactly like the
    SimHash chunk join."""
    import numpy as np

    # r8: fan_out spreads the single-row-group scan across cores so
    # the Python hashing runs N-way instead of in ONE task
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def ahash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                in_h = len(buf) // _RASTER_W
                if in_h < 8:
                    continue
                raster = buf[: in_h * _RASTER_W].reshape(in_h, _RASTER_W)
                gr = (np.arange(in_h) * 8) // in_h           # row -> grid row
                gc = np.arange(_RASTER_W) // 2               # col -> grid col
                s = np.zeros((8, 8), dtype=np.int64)
                n = np.zeros((8, 8), dtype=np.int64)
                np.add.at(s, (gr[:, None], gc[None, :]), raster.astype(np.int64))
                np.add.at(n, (gr[:, None], gc[None, :]), 1)
                st, nt = int(s.sum()), int(n.sum())
                bits = (s * nt) > (st * n)                   # exact integers
                bands = [0, 0, 0, 0]
                for g in range(8):
                    for c in range(8):
                        if bits[g, c]:
                            bands[g // 2] |= 1 << ((g % 2) * 8 + c)
                rows.append((int(doc_id), bands[0], bands[1], bands[2], bands[3]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "h0", "h1", "h2", "h3"]
            )

    # pin(): the 5-long-per-doc hash frame feeds the band explode AND
    # both verify sides — unpinned, Catalyst inlined the mapInPandas
    # subtree at every reference (8 Python eval nodes in the before-
    # plan, `git show 3c849af:plans/r08/q_image_phash_dedup_before.txt`),
    # re-running the Python hashing pass per reference. Invocation-scoped (see
    # operators/_pin.py), lineage kept.
    hashes = pin(
        d.mapInPandas(
            ahash, "doc_id long, h0 long, h1 long, h2 long, h3 long"
        )
    )
    bands = hashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.col(f"h{i}").alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_val")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(4)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.expr(f"a{i} ^ b{i}")) for i in range(4)
    ).cast("long")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_HAMMING_MAX)
    )


_VAD_FRAME = 16  # bytes per analysis frame


@query(
    "q_audio_vad_segments",
    # ASCII payloads: ord(substr) mirrors byte indexing, so the frame
    # energies — and the segmentation built on them — check exactly.
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             CAST(list_reduce(list_transform(range(1, {_VAD_FRAME + 1}),
                    j -> ord(substr(text,
                               CAST(i * {_VAD_FRAME} + j AS INTEGER), 1))),
                  (s, x) -> s + x) AS BIGINT) AS energy
      FROM documents, UNNEST(range(0, strlen(text) // {_VAD_FRAME})) t(i)
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
             CAST(SUM(energy) AS BIGINT) AS e_tot
      FROM frames
    ),
    active AS (
      SELECT f.doc_id, f.frame_idx, f.energy
      FROM frames f CROSS JOIN tot
      WHERE f.energy * tot.n_tot > tot.e_tot
    ),
    islands AS (
      SELECT doc_id, frame_idx, energy,
             frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx) AS seg_key
      FROM active
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY MIN(frame_idx)) AS BIGINT) AS segment_id,
           CAST(MIN(frame_idx) AS BIGINT) AS start_frame,
           CAST(MAX(frame_idx) AS BIGINT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS energy_sum
    FROM islands
    GROUP BY doc_id, seg_key
    """,
    tags=("multimodal", "audio", "vad", "segmentation", "gaps-islands"),
)
def q_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection segmentation over opaque audio-like
    payloads: each payload is framed ({_VAD_FRAME} bytes/frame), frame
    ENERGY = byte sum, frames louder than the corpus-mean energy
    (exact cross-multiplication energy*n_total > e_total — no float
    mean) are 'speech', and consecutive active frames merge into
    segments via the gaps-and-islands idiom — the audio-ingest shape
    (silence trimming / utterance splitting before an ASR or audio
    tokenizer). As with decode_image_stub, the energy math is a
    deterministic stand-in for a real decoder, and every distributed
    mechanism — frame fan-out, corpus-relative threshold, per-doc
    island windows — is the real pipeline.

    Exactness: energies, the threshold comparison, and all segment
    aggregates are exact integers; segment_id is a fully tie-broken
    per-doc rank.

    Scale: frame fan-out is map-side (HOF sequence/aggregate in
    codegen — no Python); the threshold is a 1-row broadcast; island
    windows are DOC-KEYED (partition-parallel); shuffle volume is
    active frames only."""
    # r8: fan_out — the per-frame HOF energy folds are the dominant
    # per-row cost and the local scan is one task without it
    d = fan_out(load_table(spark, sf_dir, "documents"))
    frames = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(length(text) / {_VAD_FRAME} AS INT) - 1),"
                f" i -> aggregate(sequence(1, {_VAD_FRAME}), 0L,"
                f" (s, j) -> s + ascii(substring(text, i * {_VAD_FRAME} + j, 1))))"
            )
        ).alias("frame_idx", "energy"),
    ).select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("energy").cast("long").alias("energy"),
    )
    tot = frames.agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("energy").alias("e_tot")
    )
    active = frames.crossJoin(F.broadcast(tot)).filter(
        F.col("energy") * F.col("n_tot") > F.col("e_tot")
    )
    w_rn = Window.partitionBy("doc_id").orderBy("frame_idx")
    islands = active.select(
        "doc_id",
        "frame_idx",
        "energy",
        (F.col("frame_idx") - F.row_number().over(w_rn)).alias("seg_key"),
    )
    segs = islands.groupBy("doc_id", "seg_key").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("energy").alias("energy_sum"),
    )
    w_seg = Window.partitionBy("doc_id").orderBy("start_frame")
    return segs.select(
        "doc_id",
        F.row_number().over(w_seg).cast("long").alias("segment_id"),
        "start_frame",
        "end_frame",
        "n_frames",
        "energy_sum",
    )


# ---------------------------------------------------------------------
# q_audio_fingerprint_dedup (round 8)
# ---------------------------------------------------------------------

_AFP_FRAME = 8  # bytes per fingerprint frame
_AFP_BITS = 32  # sign-of-energy-difference bits per doc
_AFP_MIN_CHARS = (_AFP_BITS + 1) * _AFP_FRAME  # 33 frames needed
_AFP_HAMMING_MAX = 1  # pigeonhole-complete with 2 16-bit bands

_AFP_E_DUCK = (
    "list_reduce(list_transform(range(1, {f1}), j -> ord(substr(text,"
    " CAST({i} * {f} + j AS INTEGER), 1))), (s, x) -> s + x)"
)


def _afp_duck_fp() -> str:
    e = _AFP_E_DUCK
    e_hi = e.format(i="(i + 1)", f=_AFP_FRAME, f1=_AFP_FRAME + 1)
    e_lo = e.format(i="i", f=_AFP_FRAME, f1=_AFP_FRAME + 1)
    return (
        f"list_reduce(list_transform(range(0, {_AFP_BITS}), i -> "
        f"CASE WHEN {e_hi} > {e_lo} THEN (CAST(1 AS BIGINT) << i)"
        f" ELSE CAST(0 AS BIGINT) END), (s, x) -> s + x)"
    )


@query(
    "q_audio_fingerprint_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {_afp_duck_fp()} AS fp
      FROM documents WHERE strlen(text) >= {_AFP_MIN_CHARS}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(CAST(xor(a.fp, b.fp) AS BIGINT)) AS BIGINT)
             AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.fp, b.fp) AS BIGINT)) <= {_AFP_HAMMING_MAX}
    """,
    tags=("multimodal", "audio", "fingerprint", "near-dup", "llm-pipeline"),
)
def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection by acoustic fingerprint — the
    Chromaprint idea (sign of the energy DIFFERENCE between adjacent
    analysis frames, robust to gain/offset because only the direction
    survives) on the container's deterministic byte-energy stand-in:
    {_AFP_BITS} sign bits over {_AFP_FRAME}-byte frames pack into one
    64-bit-resident fingerprint per clip, fingerprints block by two
    16-bit bands, and banded candidates verify by exact xor+bit_count
    Hamming distance <= {_AFP_HAMMING_MAX}. Completes the modality set:
    exact (md5), text near-dup (MinHash), embedding (SemDeDup), image
    (q_image_phash_dedup), audio (this). Pigeonhole: a pair within
    Hamming 1 differs in at most one band, so band-equality blocking
    is COMPLETE — verified against the all-pairs oracle (which, like
    the phash oracle, states the truth as the full self-join the
    banded plan must reproduce).

    Exactness: frame energies, sign bits, the packed fingerprint, and
    Hamming distances are all exact integers on both engines.

    Scale: the fingerprint is one nested HOF (codegen, no Python, no
    explode — payload bytes never leave the scan projection); only
    (doc_id, fp, band) longs shuffle; band buckets bound the candidate
    join (65,536 buckets per band), and verify touches candidates
    only. At 100 TB this is the same banded-blocking contract as
    q_image_phash_dedup and SemDeDup's SRP bands."""
    d = fan_out(load_table(spark, sf_dir, "documents"))  # r8 fan-out
    # energies materialize ONCE into an array (each frame energy feeds
    # the sign bit on both sides — recomputing it inside the bit fold
    # doubles the dominant cost), and the tiny (doc_id, fp) frame is
    # checkpointed so the two band branches and the verify don't each
    # re-run the HOF subtree (measured 4x recompute at the 10x sweep
    # before this: 53s -> ~10s)
    energies = (
        f"transform(sequence(0, {_AFP_BITS}),"
        f" i -> aggregate(sequence(1, {_AFP_FRAME}), 0L,"
        f" (s, j) -> s + ascii(substring(text, i * {_AFP_FRAME} + j, 1))))"
    )
    fp_expr = (
        f"aggregate(sequence(0, {_AFP_BITS - 1}), 0L,"
        f" (s, i) -> s + CASE WHEN es[i + 1] > es[i]"
        f" THEN shiftleft(1L, i) ELSE 0L END)"
    )
    fps = (
        d.filter(F.length("text") >= _AFP_MIN_CHARS)
        .select("doc_id", F.expr(energies).alias("es"))
        .select("doc_id", F.expr(fp_expr).alias("fp"))
        .localCheckpoint(eager=False)
    )
    bands = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    F.expr("fp % 65536").alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    F.expr("shiftright(fp, 16) % 65536").alias("band_val"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.band_id", "band.band_val")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.fp").alias("fp_a"),
            F.col("y.fp").alias("fp_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.expr("fp_a ^ fp_b")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= _AFP_HAMMING_MAX)


# ---------------------------------------------------------------------
# q_video_scene_cuts (round 8)
# ---------------------------------------------------------------------

_SCENE_FRAME = 16  # bytes per video frame stand-in
_SCENE_CUT_X = 2  # cut when |delta| exceeds 2x the corpus mean delta


@query(
    "q_video_scene_cuts",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             CAST(list_reduce(list_transform(range(1, {_SCENE_FRAME + 1}),
                    j -> ord(substr(text,
                               CAST(i * {_SCENE_FRAME} + j AS INTEGER), 1))),
                  (s, x) -> s + x) AS BIGINT) AS energy
      FROM documents, UNNEST(range(0, strlen(text) // {_SCENE_FRAME})) t(i)
    ),
    deltas AS (
      SELECT doc_id, frame_idx, energy,
             abs(energy - LAG(energy) OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx)) AS delta
      FROM frames
    ),
    tot AS (
      SELECT CAST(COUNT(delta) AS BIGINT) AS n_d,
             CAST(SUM(delta) AS BIGINT) AS s_d
      FROM deltas
    ),
    flagged AS (
      SELECT d.doc_id, d.frame_idx, d.energy,
             CASE WHEN d.delta IS NOT NULL
                   AND d.delta * t.n_d > {_SCENE_CUT_X} * t.s_d
                  THEN 1 ELSE 0 END AS is_cut
      FROM deltas d CROSS JOIN tot t
    ),
    scenes AS (
      SELECT doc_id, frame_idx, energy,
             1 + SUM(is_cut) OVER (PARTITION BY doc_id
                                   ORDER BY frame_idx) AS scene_id
      FROM flagged
    )
    SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
           CAST(MIN(frame_idx) AS BIGINT) AS start_frame,
           CAST(MAX(frame_idx) AS BIGINT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS energy_sum
    FROM scenes
    GROUP BY doc_id, scene_id
    """,
    tags=("multimodal", "video", "scene-detection", "segmentation"),
)
def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over video-like frame streams: each payload
    is framed ({_SCENE_FRAME} bytes/frame), a CUT fires where the
    absolute frame-to-frame energy change exceeds {_SCENE_CUT_X}x the
    corpus-mean change (exact cross-multiplication — no float mean),
    and scene_id is 1 + the running cut count, so every frame belongs
    to exactly one scene. The video-ingest shape (shot segmentation
    before keyframe extraction / captioning); differs from
    q_audio_vad_segments structurally — THRESHOLD ON THE DERIVATIVE
    with cumulative-sum segmentation, vs threshold on the level with
    gaps-and-islands.

    Exactness: energies, deltas, the threshold comparison, the running
    cut count, and all per-scene aggregates are exact integers.

    Scale: frame fan-out is map-side (HOF in codegen); the corpus
    threshold is a 1-row broadcast; lag and the running cut count are
    DOC-KEYED windows (partition-parallel); scenes aggregate with a
    doc-keyed hash aggregate. First frames (delta NULL) are never
    cuts, so docs contribute scene 1 from frame 0."""
    d = fan_out(load_table(spark, sf_dir, "documents"))  # r8 fan-out
    frames = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(length(text) / {_SCENE_FRAME}"
                f" AS INT) - 1), i -> aggregate(sequence(1, {_SCENE_FRAME}),"
                f" 0L, (s, j) -> s + ascii(substring(text,"
                f" i * {_SCENE_FRAME} + j, 1))))"
            )
        ).alias("frame_idx", "energy"),
    ).select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("energy").cast("long").alias("energy"),
    )
    w_lag = Window.partitionBy("doc_id").orderBy("frame_idx")
    deltas = frames.select(
        "doc_id",
        "frame_idx",
        "energy",
        F.abs(F.col("energy") - F.lag("energy").over(w_lag)).alias("delta"),
    )
    tot = deltas.agg(
        F.count("delta").alias("n_d"), F.sum("delta").alias("s_d")
    )
    flagged = deltas.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "frame_idx",
        "energy",
        F.when(
            F.col("delta").isNotNull()
            & (F.col("delta") * F.col("n_d") > _SCENE_CUT_X * F.col("s_d")),
            1,
        )
        .otherwise(0)
        .alias("is_cut"),
    )
    w_cum = Window.partitionBy("doc_id").orderBy("frame_idx")
    scenes = flagged.select(
        "doc_id",
        "frame_idx",
        "energy",
        (F.lit(1) + F.sum("is_cut").over(w_cum)).alias("scene_id"),
    )
    return scenes.groupBy("doc_id", "scene_id").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("energy").alias("energy_sum"),
    )
