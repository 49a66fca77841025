"""Multimodal-column pack: opaque ``binary`` payloads + typed metadata
(north-star extension; SURVEY.md §2.12).

The testdata has no real image/audio blobs, so payloads are derived
deterministically from ``documents.text`` (pure-ASCII ⇒ byte offsets equal
char offsets, which is what lets the DuckDB oracle mirror byte math with
string functions). What is REAL here and what is STUBBED:

- REAL: the Spark-side plumbing — BinaryType column construction, metadata
  struct, ``mapInPandas`` with an explicit output schema, Arrow batch
  transfer, per-batch (not per-row) processing with bounded batch size.
  This is exactly the shape a decode/resize/frame-sample stage has at
  100 TB: one map stage, no shuffle, payload bytes never leave the executor.
- STUBBED: actual codec work. ``decode_image`` raises NotImplementedError
  unless an image library is importable (none is in this container); the
  registered queries use deterministic byte-level transforms (hashing,
  chunked frame sampling, byte statistics) so correctness is still
  oracle-checkable end-to-end.

Scale notes: payloads ride in the same parquet row group as their metadata —
at 100 TB you'd size ``spark.sql.files.maxPartitionBytes`` down (payload-heavy
rows make default 128 MB splits too coarse) and rely on column pruning so
metadata-only queries never read the blob column. All three queries below
select only the columns they touch, so the parquet reader prunes ``text``
when only lengths are needed.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from komodo_data_spark.operators.model_memo import shared_fit
from komodo_data_spark.plans import exploded
from komodo_data_spark.registry import query
from komodo_data_spark.sources.tables import load_table

FRAME_BYTES = 64  # fake "frame" = 64-byte chunk
FRAME_STRIDE = 4  # sample every 4th frame


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → multimodal frame: opaque payload + typed metadata struct.

    The payload column is BinaryType; metadata carries the mime and declared
    size. Downstream operators must treat payload as opaque bytes.
    """
    d = load_table(spark, sf_dir, "documents")
    # rows with a NULL source text carry no media: drop them here so every
    # downstream Arrow/pandas stage can rely on payload being real bytes
    # (len(None)/hash(None) in a worker is a task-killer at scale). The
    # oracles mirror with WHERE text IS NOT NULL.
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/x-fake-media").alias("mime"),
            F.col("n_chars").alias("declared_bytes"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


def decode_image(payload: bytes):  # pragma: no cover - stub by design
    """Decode an image payload. STUB: no codec libraries in this container.

    The plumbing that calls this (mapInPandas batching, schema, partitioning)
    is real and tested via the deterministic transforms below; swap this stub
    for PIL/torchvision in a real deployment.
    """
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires an image library (PIL); not available here"
        ) from exc


# --------------------------------------------------------------------------
# metadata extraction (mapInPandas, Arrow-batched)
# --------------------------------------------------------------------------

_META_SCHEMA = (
    "doc_id long, n_bytes long, payload_sha256 string, n_frames long"
)


@query
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload metadata: byte length, sha256, frame count (=⌈bytes/64⌉).

    Runs as ONE mapInPandas stage: Arrow ships (doc_id, payload) batches to
    Python, hashlib digests each batch vectorized-ish, and only the 4 small
    output columns come back — the payload never re-serializes to the JVM.
    """
    m = media_table(spark, sf_dir).select("doc_id", "payload")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "payload_sha256": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "n_frames": payloads.map(
                        lambda b: math.ceil(len(b) / FRAME_BYTES)
                    ),
                }
            )

    return m.mapInPandas(extract, schema=_META_SCHEMA)


def media_metadata_oracle() -> str:
    return f"""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha256,
           ceil(octet_length(encode(text)) / {FRAME_BYTES}.0)::BIGINT
             AS n_frames
    FROM documents WHERE text IS NOT NULL
    """


# --------------------------------------------------------------------------
# frame sampling (mapInPandas, one output row per sampled frame)
# --------------------------------------------------------------------------

_FRAME_SCHEMA = "doc_id long, frame_idx long, frame_md5 string"


@query
def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 4th 64-byte frame of each payload; emit its md5.

    The video-pipeline shape: mapInPandas fans one input row out to N frame
    rows (schema change, row-count change — exactly what mapInPandas is for;
    a pandas_udf could not change cardinality).
    """
    m = media_table(spark, sf_dir).select("doc_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = math.ceil(len(raw) / FRAME_BYTES)
                for fi in range(0, n_frames, FRAME_STRIDE):
                    chunk = raw[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(fi)
                    digests.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return m.mapInPandas(sample, schema=_FRAME_SCHEMA)


def media_frame_samples_oracle() -> str:
    # ASCII text ⇒ byte arithmetic == char arithmetic, so substr mirrors the
    # Python byte slicing exactly.
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             ceil(length(text) / {FRAME_BYTES}.0)::BIGINT AS n_frames
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, fi AS frame_idx,
           md5(substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES}))
             AS frame_md5
    FROM d, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(fi)
    """


# --------------------------------------------------------------------------
# decoded-feature extraction (deterministic fake decode)
# --------------------------------------------------------------------------

_FEAT_SCHEMA = "doc_id long, n_bytes long, mean_byte double, max_byte long"


@query
def media_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Decode' each payload into byte statistics — the deterministic
    stand-in for a real feature extractor (embedding model / spectrogram).
    Same mapInPandas shape a real extractor would have."""
    import numpy as np

    m = media_table(spark, sf_dir).select("doc_id", "payload")

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [
                np.frombuffer(bytes(p), dtype=np.uint8) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [a.size for a in arrs],
                    "mean_byte": [float(a.mean()) for a in arrs],
                    "max_byte": [int(a.max()) for a in arrs],
                }
            )

    return m.mapInPandas(feats, schema=_FEAT_SCHEMA)


def media_decoded_features_oracle() -> str:
    codes = "list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1)))"
    return f"""
    SELECT doc_id,
           length(text) AS n_bytes,
           list_sum({codes})::DOUBLE / length(text) AS mean_byte,
           list_max({codes})::BIGINT AS max_byte
    FROM documents WHERE text IS NOT NULL
    """


# --------------------------------------------------------------------------
# resize (1:1 payload transform via Arrow pandas_udf)
# --------------------------------------------------------------------------

RESIZE_FACTOR = 4


@query
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' each payload by keeping every 4th byte — the deterministic
    stand-in for an image/audio downsample. Unlike the fan-out stages this
    is a strict 1:1 transform, so it uses a scalar ``pandas_udf`` (Arrow
    both directions, binary in → binary out); the digest/length of the new
    payload are then computed JVM-side (F.md5/F.length on BinaryType), so
    the bytes make exactly one Python round-trip."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def downsample(payloads: pd.Series) -> pd.Series:
        return payloads.map(lambda b: bytes(b)[::RESIZE_FACTOR])

    m = media_table(spark, sf_dir).select("doc_id", "payload")
    return m.select(
        "doc_id",
        F.length("payload").alias("n_bytes_in"),
        F.length(downsample("payload")).alias("n_bytes_out"),
        F.md5(downsample("payload")).alias("resized_md5"),
    )


def media_resize_oracle() -> str:
    resized = (
        "array_to_string(list_transform("
        f"range(1, length(text) + 1, {RESIZE_FACTOR}), "
        "i -> substr(text, i, 1)), '')"
    )
    return f"""
    SELECT doc_id,
           length(text) AS n_bytes_in,
           length({resized}) AS n_bytes_out,
           md5({resized}) AS resized_md5
    FROM documents WHERE text IS NOT NULL
    """


# --------------------------------------------------------------------------
# audio-style windowed energy (numpy over raw bytes, no codec needed)
# --------------------------------------------------------------------------

_ENERGY_SCHEMA = "doc_id long, frame_idx long, rms double"


@query
def media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame RMS energy over the payload interpreted as unsigned 8-bit
    samples (64-sample frames, partial tail frame dropped) — the windowed
    feature-extraction shape of an audio pipeline, with REAL computation
    (numpy reshape + vectorized RMS), not a codec stub.

    Scale: one mapInPandas stage; each Arrow batch reshapes to
    (n_frames, 64) and reduces along axis 1 — SIMD inside numpy, payloads
    never return to the JVM, output is 3 narrow columns. No shuffle.
    """
    import numpy as np

    m = media_table(spark, sf_dir).select("doc_id", "payload")

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, rms = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(a) // FRAME_BYTES
                if n == 0:
                    continue
                frames = a[: n * FRAME_BYTES].astype(np.float64).reshape(
                    n, FRAME_BYTES
                )
                ids.extend([doc_id] * n)
                idxs.extend(range(n))
                rms.extend(np.sqrt((frames**2).sum(axis=1) / FRAME_BYTES))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "rms": rms}
            )

    return m.mapInPandas(energies, schema=_ENERGY_SCHEMA)


def media_audio_energy_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT doc_id, text, unnest(range(0, nb // {FRAME_BYTES})) AS frame_idx
      FROM d
    )
    SELECT doc_id, frame_idx,
      sqrt(list_sum(list_transform(range(1, {FRAME_BYTES} + 1),
        i -> pow(ascii(substr(text, (frame_idx * {FRAME_BYTES} + i)::INT, 1))::DOUBLE, 2)))
        / {FRAME_BYTES}) AS rms
    FROM f
    """


# --------------------------------------------------------------------------
# pure-Arrow metadata path (mapInArrow — no pandas materialization)
# --------------------------------------------------------------------------

_ARROW_META_SCHEMA = "doc_id long, n_bytes long, n_frames long"


@query
def media_metadata_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-length metadata via ``mapInArrow``: the batch stays a
    ``pyarrow.RecordBatch`` end-to-end and the byte lengths come from
    Arrow compute kernels (C++), never materializing pandas objects or
    Python bytes. For binary-heavy columns this skips the whole
    Arrow→pandas→Arrow copy that mapInPandas pays — the right hot path
    when the per-row work is expressible as Arrow kernels. (The sha256
    digest stays in the mapInPandas variant: hashing needs Python today.)
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    m = media_table(spark, sf_dir).select("doc_id", "payload")

    def extract(batches):
        for batch in batches:
            n_bytes = pc.binary_length(batch.column(1))
            n_frames = pc.ceil(
                pc.divide(pc.cast(n_bytes, pa.float64()), float(FRAME_BYTES))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(n_bytes, pa.int64()),
                    pc.cast(n_frames, pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_frames"],
            )

    return m.mapInArrow(extract, schema=_ARROW_META_SCHEMA)


def media_metadata_arrow_oracle() -> str:
    return f"""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ceil(octet_length(encode(text)) / {FRAME_BYTES}.0)::BIGINT
             AS n_frames
    FROM documents WHERE text IS NOT NULL
    """


# --------------------------------------------------------------------------
# cross-media duplicate-frame detection (sampled-frame hash dedup)
# --------------------------------------------------------------------------


@query
def media_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media duplicate-frame profile: which of a media item's SAMPLED
    frames (the ``media_frame_samples`` stream) also occur — byte-identical
    — anywhere else in the corpus (same item or another). This is the
    video-pipeline shape for catching shared intros/outros/logo cards and
    re-uploaded footage without decoding anything: hash sampled frames,
    dedup on the hash.

    Scale design: frame hashing is the existing Arrow-batched mapInPandas
    stage (one code path with the sampler); the only shuffles are the
    frame-hash frequency aggregate (map-side combined, high-cardinality
    md5 key — no skew) and the per-doc rollup. Duplicated hashes are a
    tiny fraction of frames, so the dup set broadcasts back onto the frame
    stream; the frame stream itself is cached rather than re-run because
    its producer is a Python stage (the one part worth not paying twice).
    """
    # EAGER (was lazy): the dup aggregate and the join-back read the
    # frame stream as concurrent stage jobs — lazy materialization re-ran
    # the Python producer stage per consumer (the one part worth not
    # paying twice); GC-released either way
    frames = media_frame_samples(spark, sf_dir).localCheckpoint(eager=True)
    dup = (
        frames.groupBy("frame_md5")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 2)
    )
    flagged = frames.join(F.broadcast(dup), "frame_md5")
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames_sampled")
    )
    dups_per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_frames"),
        F.countDistinct("frame_md5").alias("n_dup_hashes"),
    )
    return (
        per_doc.join(dups_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_frames_sampled",
            F.coalesce("n_dup_frames", F.lit(0)).alias("n_dup_frames"),
            F.coalesce("n_dup_hashes", F.lit(0)).alias("n_dup_hashes"),
            (
                F.coalesce("n_dup_frames", F.lit(0)).cast("double")
                / F.col("n_frames_sampled")
            ).alias("dup_frame_frac"),
        )
        .orderBy("doc_id")
    )


def media_frame_dedup_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             ceil(length(text) / {FRAME_BYTES}.0)::BIGINT AS n_frames
      FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT doc_id, md5(substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES}))
               AS frame_md5
      FROM d, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(fi)
    ),
    dup AS (
      SELECT frame_md5 FROM f GROUP BY frame_md5 HAVING count(*) >= 2
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_frames_sampled FROM f GROUP BY doc_id
    ),
    dpd AS (
      SELECT f.doc_id, count(*) AS n_dup_frames,
             count(DISTINCT f.frame_md5) AS n_dup_hashes
      FROM f JOIN dup USING (frame_md5) GROUP BY f.doc_id
    )
    SELECT p.doc_id, p.n_frames_sampled,
           coalesce(d.n_dup_frames, 0) AS n_dup_frames,
           coalesce(d.n_dup_hashes, 0) AS n_dup_hashes,
           coalesce(d.n_dup_frames, 0)::DOUBLE / p.n_frames_sampled
             AS dup_frame_frac
    FROM per_doc p LEFT JOIN dpd d ON d.doc_id = p.doc_id
    ORDER BY p.doc_id
    """


# --------------------------------------------------------------------------
# fuzzy media dedup: SimHash over sampled-frame byte 4-grams
# --------------------------------------------------------------------------

MEDIA_GRAM = 4  # byte n-gram width for the frame-content fingerprint

#: Media SimHash geometry — 32-bit signatures at Hamming radius 2, pinned
#: HERE (not shared with dedup.SIMHASH_BITS/HAMMING_MAX, which size the
#: TEXT detector): byte-4-gram sets of near-dup payloads are dense and
#: near-identical, so 32 bits at radius 2 already measures 0.89-0.93
#: recall on the exact gram-Jaccard truth; the text detector's sparser
#: shingle features needed 64 bits at radius 7 for comparable recall.
MEDIA_SIMHASH_BITS = 32
MEDIA_HAMMING_MAX = 2

#: Segment-bucket occupancy cap for the degraded-but-running media twin
#: (`media_simhash_pairs_capped`): candidates bounded at cap·n_seg·n —
#: linear, so the capped form runs the sf10 decade where the exact
#: form's guard refuses (3.5e9 estimated candidates on this corpus).
MEDIA_SEG_CAP = 256


def media_gram_postings(docs: DataFrame) -> DataFrame:
    """Flat DISTINCT (doc_id, g) byte-4-gram postings of the non-empty
    ``text`` payloads of ``docs`` (``_media_gram_toks``), spread over the
    default parallelism so the per-posting md5 of the signature runs on
    every core — the one feature base of every media SimHash signature
    and of the media recall truth."""
    d = docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    return exploded(
        d, F.array_distinct(_media_gram_toks()), "g", "doc_id"
    ).repartition(docs.sparkSession.sparkContext.defaultParallelism)


@shared_fit("media_simhash_sigs")
def _media_sigs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus (doc_id, simhash) media signatures, one vote aggregate
    per session, shared by the exact pairs, the capped pairs and the
    capped-recall eval."""
    from komodo_data_spark.operators.dedup import simhash_sig

    docs = load_table(spark, sf_dir, "documents")
    return simhash_sig(media_gram_postings(docs), "g", MEDIA_SIMHASH_BITS)


@shared_fit("media_simhash_exact_pairs")
def _media_exact_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact pair list (doc_i, doc_j, hamming), one guarded r = 0
    segment join per session — ``media_simhash_pairs`` and the truth side
    of ``media_simhash_capped_recall``."""
    from komodo_data_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _media_sigs_shared(spark, sf_dir),
        MEDIA_SIMHASH_BITS,
        MEDIA_HAMMING_MAX,
        0,
    )


@shared_fit("media_simhash_capped_pairs")
def _media_capped_pairs_shared(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The capped pair list, one r = 0 segment join per session —
    ``media_simhash_pairs_capped`` and the detector side of
    ``media_simhash_capped_recall``. No volume guard: the cap bounds the
    join at MEDIA_SEG_CAP·n_seg·n."""
    from komodo_data_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _media_sigs_shared(spark, sf_dir),
        MEDIA_SIMHASH_BITS,
        MEDIA_HAMMING_MAX,
        0,
        key_cap=MEDIA_SEG_CAP,
        budget=None,
    )


@query
def media_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate media pairs — the fuzzy upgrade of
    ``media_frame_dedup``, which catches only byte-identical frames and
    lets re-encoded / offset payloads slip through. Each media item is
    fingerprinted by a 32-bit SimHash over the byte 4-grams of its
    SAMPLED frames (same frame grid as ``media_frame_samples``: 64-byte
    chunks, every FRAME_STRIDEth), so payloads sharing most local byte
    content land within Hamming distance MEDIA_HAMMING_MAX even when bytes
    shift or a few frames differ; pairs come from the r = 0 segment join
    (``dedup.simhash_pairs``), never all-pairs.

    Payloads here are UTF-8 of ASCII text (module docstring), so byte
    4-grams are char 4-grams and the DuckDB oracle mirrors the byte math
    with substr. Signatures and pairs are read through the session memo
    (``_media_exact_pairs_shared``).
    """
    return _media_exact_pairs_shared(spark, sf_dir)


def _media_gram_toks():
    """Byte-4-gram tokens of the sampled frame grid, as one map-side
    expression over ``text`` — the feature base shared by the media
    SimHash detector and its recall twin's exact-Jaccard truth (one
    definition; detector and truth cannot fingerprint different bytes)."""
    n_frames = F.ceil(F.length("text") / F.lit(float(FRAME_BYTES)))
    chunk_of = lambda fi: F.substring(  # noqa: E731
        F.col("text"), fi * FRAME_BYTES + 1, FRAME_BYTES
    )
    grams_of = lambda chunk: F.when(  # noqa: E731
        F.length(chunk) >= MEDIA_GRAM,
        F.transform(
            F.sequence(F.lit(1), F.length(chunk) - (MEDIA_GRAM - 1)),
            lambda s: F.substring(chunk, s, MEDIA_GRAM),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE)),
            lambda fi: grams_of(chunk_of(fi)),
        )
    )


def _media_sig_ctes() -> str:
    """The shared oracle CTE chain ending in ``sig`` (doc_id, simhash) —
    frame grid, byte 4-grams, 32-bit SimHash — consumed by the exact
    pairs oracle, the capped pairs oracle, and the recall twins."""
    from komodo_data_spark.functions.text_features import sql_simhash

    sh = sql_simhash("grams", MEDIA_SIMHASH_BITS)
    return f"""
    d AS (
      SELECT doc_id, text,
             ceil(length(text) / {FRAME_BYTES}.0)::BIGINT AS n_frames
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    ch AS (
      SELECT doc_id, substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES})
               AS chunk
      FROM d, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(fi)
    ),
    gr AS (
      SELECT doc_id, substr(chunk, s.s, {MEDIA_GRAM}) AS gram
      FROM ch,
           unnest(range(1, greatest(length(chunk) - {MEDIA_GRAM - 1}, 0) + 1))
             AS s(s)
    ),
    sig AS (
      SELECT doc_id, {sh} AS simhash
      FROM (SELECT doc_id, list(gram) AS grams FROM gr GROUP BY doc_id)
    )"""


def media_simhash_pairs_oracle() -> str:
    return f"""
    WITH {_media_sig_ctes()}
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {MEDIA_HAMMING_MAX}
    """


@query
def media_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degraded-but-running twin of ``media_simhash_pairs``: the same
    signatures through the segment join with buckets above MEDIA_SEG_CAP
    dropped (``dedup.simhash_pairs(key_cap=...)``), so it runs at sf10
    where the exact form's guard refuses (3.5e9 estimated candidates on
    this corpus). The output is a subset of the exact detector's;
    ``media_simhash_capped_recall`` measures the gap."""
    return _media_capped_pairs_shared(spark, sf_dir)


def media_simhash_pairs_capped_oracle() -> str:
    from komodo_data_spark.operators.dedup import sql_pigeonhole_capped_pairs

    body = sql_pigeonhole_capped_pairs(
        "sig", MEDIA_SIMHASH_BITS, MEDIA_HAMMING_MAX, MEDIA_SEG_CAP
    )
    return f"""
    WITH {_media_sig_ctes()},
    {body}
    """


@query
def media_simhash_capped_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What the media segment-bucket cap costs: the capped pairs are a
    subset of the exact pairs (same signatures, same verify), so recall =
    |capped| / |exact| prices the cap. Both pair sets come from the
    session memo, so the eval scores the detections the registry queries
    ran, and inherits the exact side's volume guard.
    ``scripts/recall_vs_cap.py`` sweeps the cap (RECALL_VS_CAP.json)."""
    from komodo_data_spark.operators.dedup import _detector_recall_counts

    return _detector_recall_counts(
        _media_exact_pairs_shared(spark, sf_dir),
        _media_capped_pairs_shared(spark, sf_dir),
        "n_capped_pairs",
    )


def media_simhash_capped_recall_oracle() -> str:
    from komodo_data_spark.operators.dedup import _pair_recall_oracle

    return _pair_recall_oracle(
        media_simhash_pairs_oracle(),
        media_simhash_pairs_capped_oracle(),
        "n_capped_pairs",
    )


#: Ground-truth threshold for the media recall twin, as an exact rational
#: (the prefix filter's length arithmetic needs it integer-exact): exact
#: Jaccard over the DISTINCT byte-4-grams of the sampled frames. The
#: corpus separates cleanly (measured: every pair above 0.5 gram-Jaccard
#: is at ~1.0 — planted near-dups vs unrelated ASCII payloads), so 4/5
#: marks "truly near-duplicate payload" without riding the noise floor
#: of shared common grams.
MEDIA_JACCARD_Q = (4, 5)

#: Media recall slice budget — HALF the shared text budget. Byte 4-grams
#: are ~25× denser per doc than 3-token shingles on this corpus (77
#: distinct grams vs ~3 rare shingles joining), so the same doc budget
#: buys a far heavier truth; 1250 docs keeps the eval's candidate volume
#: in the same band as the text twins while still sampling dozens of
#: true pairs at every SF.
MEDIA_RECALL_TARGET_DOCS = 1250


@query
def media_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the media SimHash detector against exact byte-4-gram
    Jaccard truth (MEDIA_JACCARD_Q) on the deterministic hash-bucket slice
    of ~MEDIA_RECALL_TARGET_DOCS docs. Truth and detector read the same
    gram postings (``media_gram_postings``) and the r = 0 segment join is
    complete at hamming <= MEDIA_HAMMING_MAX, so the loss measured is the
    32-bit signature's. The truth is prefix-filtered
    (``dedup.prefix_filtered_jaccard_pairs``): byte 4-grams share hot grams
    like ' the', so a plain postings self-join is Σdf²-quadratic.

    Measured: recall 0.93/0.92/0.89 at sf0.001/0.01/0.1.
    """
    from komodo_data_spark.operators.dedup import (
        EVAL_SLICE_PARTITIONS,
        _detector_recall_counts,
        _recall_sample_buckets,
        prefix_filtered_jaccard_pairs,
        simhash_pairs,
        simhash_sig,
    )
    from komodo_data_spark.operators.pipeline_ops import _bucket_col

    n_docs = load_table(spark, sf_dir, "documents").count()
    gate = _bucket_col() < _recall_sample_buckets(
        n_docs, target=MEDIA_RECALL_TARGET_DOCS
    )
    # spread the slice BEFORE the gram expression so extraction runs on
    # every core, not the scan task
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(gate)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # eager: truth and signature both read the postings, and a lazy
    # checkpoint raced the final action's concurrent stage jobs into
    # re-running the extraction (measured ~5x); the slice is budget-fixed,
    # so O(slice) tasks downstream (dedup.EVAL_SLICE_PARTITIONS)
    posts = (
        media_gram_postings(d)
        .repartition(EVAL_SLICE_PARTITIONS)
        .localCheckpoint(eager=True)
    )
    # budget=None on both sides: the eval slice is fixed-size, so a guard
    # would only add an estimate job per invocation
    truth = prefix_filtered_jaccard_pairs(posts, *MEDIA_JACCARD_Q, budget=None)
    det = simhash_pairs(
        simhash_sig(posts, "g", MEDIA_SIMHASH_BITS),
        MEDIA_SIMHASH_BITS,
        MEDIA_HAMMING_MAX,
        0,
        budget=None,
    )
    return _detector_recall_counts(truth, det, "n_simhash_pairs")


def media_simhash_recall_oracle() -> str:
    from komodo_data_spark.operators.dedup import (
        _pair_recall_oracle,
        _sql_slice_cte,
    )

    prelude = f"""{_sql_slice_cte(target=MEDIA_RECALL_TARGET_DOCS)},
    dd AS (
      SELECT doc_id, text, ceil(length(text) / {FRAME_BYTES}.0)::BIGINT
               AS n_frames
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    cch AS (
      SELECT doc_id, substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES})
               AS chunk
      FROM dd, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(fi)
    ),
    ggr AS (
      SELECT DISTINCT doc_id, substr(chunk, s.s, {MEDIA_GRAM}) AS gram
      FROM cch,
           unnest(range(1, greatest(length(chunk) - {MEDIA_GRAM - 1}, 0) + 1))
             AS s(s)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM ggr GROUP BY doc_id),
    tp AS (
      SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS c
      FROM ggr a JOIN ggr b USING (gram) WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""
    # integer cross-multiplication, mirroring the engine's
    # prefix_filtered_jaccard_pairs accept test exactly
    truth = f"""
      SELECT doc_i, doc_j FROM tp
      JOIN sz si ON si.doc_id = doc_i JOIN sz sj ON sj.doc_id = doc_j
      WHERE c * {MEDIA_JACCARD_Q[1]} >= {MEDIA_JACCARD_Q[0]} * (si.n + sj.n - c)"""
    return _pair_recall_oracle(
        truth, media_simhash_pairs_oracle(), "n_simhash_pairs", prelude=prelude
    )
