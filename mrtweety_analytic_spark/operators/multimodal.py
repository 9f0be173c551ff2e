"""Multimodal columns (north-star extension).

Policy for 100 TB media pipelines: image/audio/video travel as opaque
`binary` columns with typed metadata beside them; decode/feature
extraction runs in Arrow-batched Python (mapInPandas) so bytes cross
the JVM↔Python boundary once per batch, never per row. The container
has no image/audio codecs, so the decode step is a clearly-marked
deterministic stub (same signature, schema, and batching as the real
thing — see decode_stub).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from .dedup import _hamming_pairs


@register(
    "q_multimodal_struct",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    """,
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct columns carried through operators: pack metadata
    into a struct, navigate it downstream, aggregate on a struct
    field. Catalyst prunes unused struct fields at the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    packed = docs.select(
        F.struct(
            F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("meta"),
        "doc_id",
    )
    return packed.groupBy(F.col("meta.lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("meta.n_chars")).alias("sum_chars"),
    )


@register(
    "q_multimodal_binary",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS INTEGER) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary plumbing, JVM-side: cast payload to binary, read
    byte length and content digest without ever decoding. (The corpus
    has no real media files, so document text stands in as payload.)
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


def decode_stub(payload: bytes) -> dict:
    """STUB decoder standing in for PIL/libav (not in this container).

    Deterministic fake: 'width'/'height' from the first two bytes,
    'mean_intensity' = mean byte value. A real deployment swaps this
    single function for an actual decoder; the Spark plumbing around
    it (schema, Arrow batching, partitioning) is unchanged.
    """
    if not payload:
        return {"width": 0, "height": 0, "mean_intensity": 0.0}
    return {
        "width": int(payload[0]),
        "height": int(payload[1]) if len(payload) > 1 else 0,
        "mean_intensity": round(sum(payload) / len(payload), 4),
    }


def raw_decode_stub(payload: bytes):
    """STUB for the bytes→pixel-array decode (the only env-blocked
    step: PIL/libav are not in this container). Deterministic fake:
    interpret the payload as a single-channel raw image whose width
    is the largest power of two <= sqrt(len) (so shape is a pure
    function of content). A real deployment replaces THIS function
    with `np.asarray(PIL.Image.open(io.BytesIO(payload)))`; the
    resample kernel below and all Spark plumbing stay unchanged."""
    import numpy as np

    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size == 0:
        return np.zeros((0, 0), dtype=np.uint8)
    w = 1 << max(0, int(buf.size**0.5).bit_length() - 1)
    h = buf.size // w
    return buf[: h * w].reshape(h, w)


def resize_nearest(img, target_w: int, target_h: int):
    """REAL nearest-neighbor resample (pure numpy, no codec needed):
    index-map gather rows/cols at the scaled coordinates — the actual
    algorithm a thumbnailing pipeline runs, not a checksum fake."""
    import numpy as np

    h, w = img.shape[:2]
    if h == 0 or w == 0:
        return np.zeros((target_h, target_w), dtype=np.uint8)
    rows = np.minimum((np.arange(target_h) * h) // target_h, h - 1)
    cols = np.minimum((np.arange(target_w) * w) // target_w, w - 1)
    return img[rows][:, cols]


@register("q_multimodal_resize")  # rows-only: stubbed decode, no SQL twin
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch image resize over opaque binary payloads: Arrow-batched
    mapInPandas, one Python crossing per batch. The resample kernel
    (resize_nearest) is the real nearest-neighbor algorithm; only the
    bytes→pixels decode is stubbed (raw_decode_stub — PIL/libav not
    in this container). Swap the decode for a real one and nothing
    else changes."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    payload_df = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def resize_batches(it):
        for pdf in it:
            w, h, cks = [], [], []
            for p in pdf["payload"]:
                small = resize_nearest(raw_decode_stub(bytes(p)), 64, 64)
                w.append(small.shape[1])
                h.append(small.shape[0])
                cks.append(int(small.sum()) % (1 << 31))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "width": w,
                    "height": h,
                    "checksum": cks,
                }
            )

    return payload_df.mapInPandas(
        resize_batches,
        schema="doc_id long, width int, height int, checksum long",
    )


@register("q_multimodal_framesample")  # rows-only: stub codec, no SQL twin
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque 'video' payloads: split the byte
    stream into fixed-size fake frames, keep every 4th, emit one row
    per sampled frame (explode AFTER the Python stage so the binary
    crosses the boundary once, not per frame)."""
    import pandas as pd

    FRAME = 64   # bytes per fake frame
    EVERY = 4

    docs = load_table(spark, sf_dir, "documents")
    payload_df = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def sample_batches(it):
        for pdf in it:
            out_doc, out_idx, out_sum = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                frames = [
                    b[i: i + FRAME] for i in range(0, len(b), FRAME)
                ][::EVERY]
                for idx, fr in enumerate(frames):
                    out_doc.append(doc_id)
                    out_idx.append(idx)
                    out_sum.append(sum(fr) % (1 << 31))
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx,
                 "frame_checksum": out_sum}
            )

    return payload_df.mapInPandas(
        sample_batches,
        schema="doc_id long, frame_idx int, frame_checksum long",
    )


@register("q_multimodal_decode")  # rows-only: stub features, no SQL twin
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature-extract operator: binary in, typed feature
    columns out, via Arrow-batched mapInPandas. Output schema and
    batch shape match what a real image decoder would produce.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    payload_df = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def decode_batches(it):
        for pdf in it:
            feats = [decode_stub(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "mean_intensity": [f["mean_intensity"] for f in feats],
                }
            )

    return payload_df.mapInPandas(
        decode_batches,
        schema="doc_id long, width int, height int, mean_intensity double",
    )


@register(
    "q_multimodal_dedup",
    oracle="""
    SELECT content_md5, min(doc_id) AS keep_doc, count(*) AS n_copies
    FROM (SELECT doc_id,
                 md5(trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g'))) AS content_md5
          FROM documents)
    GROUP BY content_md5
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup: group opaque payloads by the digest of a
    canonicalized form (for text, normalization; for media, the
    decode-normalize-rehash analogue), keep the min id. Hash once at
    ingest and dedup becomes a 16-byte-key groupBy — the payload
    bytes never shuffle, which is what makes this viable on a 100 TB
    media lake.
    """
    from .dedup import normalized_doc_text

    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(normalized_doc_text(), "UTF-8")
    return (
        docs.select("doc_id", F.md5(payload).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    # No n_copies>1 filter: the full digest->group map is compared
    # (dup groups exist only at sf 0.1 in this corpus — 8 groups —
    # and an empty report would make the sf 0.01 gate vacuous).


# Content-defined chunking parameters: 3-byte rolling window rule,
# expected chunk ~32 bytes between the min/max clamps.
CDC_MIN, CDC_MAX, CDC_MOD = 16, 128, 32


def cdc_boundaries(buf: bytes) -> list:
    """Pure-function chunker shared by the operator and its pytest
    reference: candidate boundaries where a 3-byte window hash hits
    0 mod CDC_MOD, greedily accepted at >= CDC_MIN spacing, with
    forced splits so no chunk exceeds CDC_MAX. Returns chunk end
    offsets (exclusive), always ending at len(buf)."""
    import numpy as np

    b = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
    ends = []
    if len(b) >= 3:
        h = (b[2:] * 167 + b[1:-1] * 31 + b[:-2]) % CDC_MOD
        cand = (np.nonzero(h == 0)[0] + 2).tolist()
    else:
        cand = []
    last = 0
    for c in cand:
        while c - last > CDC_MAX:
            last += CDC_MAX
            ends.append(last)
        if c - last >= CDC_MIN:
            ends.append(c)
            last = c
    n = len(b)
    while n - last > CDC_MAX:
        last += CDC_MAX
        ends.append(last)
    if n > last or n == 0:
        ends.append(n)
    return ends


@register("q_multimodal_cdc_chunks")  # rows-only: rolling-window rule
def q_multimodal_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of opaque payloads — the storage-dedup
    primitive for binary/media columns: chunk boundaries follow the
    CONTENT (a rolling-window hash rule), so an insertion near the
    start of a blob shifts only the chunks it touches and every
    later chunk keeps its digest — which is exactly what makes
    chunk-level dedup across near-identical media files work, and
    what fixed-size chunking structurally cannot do (every boundary
    after the edit moves). Emits (doc_id, chunk_idx, chunk_len,
    chunk_md5); downstream chunk-dedup is a plain groupBy on the
    digest (q_dedup_exact's shape, one level down).

    Not SQL-expressible (sequential rolling rule) → rows-only gate;
    the semantics are pinned instead by pytest: exact parity with the
    pure-Python reference chunker, full reconstruction (chunk lens
    sum to payload bytes), clamp invariants, and the shift-resistance
    property above. Scale: mapInPandas over Arrow batches, chunking
    is per-row numpy work, no shuffle at all — the digest groupBy
    downstream is the only exchange a consumer adds.
    """
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def chunk_batches(batches):
        for pdf in batches:
            out_id, out_idx, out_len, out_md5 = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                start = 0
                for i, end in enumerate(cdc_boundaries(buf)):
                    out_id.append(doc_id)
                    out_idx.append(i)
                    out_len.append(end - start)
                    out_md5.append(hashlib.md5(buf[start:end]).hexdigest())
                    start = end
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_id, dtype="int64"),
                    "chunk_idx": pd.Series(out_idx, dtype="int64"),
                    "chunk_len": pd.Series(out_len, dtype="int64"),
                    "chunk_md5": pd.Series(out_md5, dtype="object"),
                }
            )

    return payloads.mapInPandas(
        chunk_batches,
        schema="doc_id long, chunk_idx long, chunk_len long, chunk_md5 string",
    )


@register(
    "q_multimodal_pair_align",
    oracle="""
    WITH j AS (
        SELECT d.doc_id, e.vec_id, d.n_chars,
               len(e.embedding) AS dim
        FROM documents d FULL OUTER JOIN embeddings e
          ON d.doc_id = e.vec_id
    )
    SELECT count(*) FILTER (WHERE doc_id IS NOT NULL
                            AND vec_id IS NOT NULL) AS n_paired,
           count(*) FILTER (WHERE vec_id IS NULL) AS n_text_only,
           count(*) FILTER (WHERE doc_id IS NULL) AS n_vector_only,
           CAST(coalesce(sum(n_chars) FILTER (WHERE vec_id IS NOT NULL), 0)
                AS BIGINT) AS paired_chars,
           CAST(coalesce(max(dim), 0) AS BIGINT) AS dim
    FROM j
    """,
)
def q_multimodal_pair_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-dataset alignment audit: full-outer join the text
    corpus to its embedding table on the shared id and report
    coverage — paired rows, text-without-vector, vector-without-text,
    plus the paired character mass and embedding dim. This is the
    gate a multimodal/contrastive training-set build runs before
    writing shards: silent coverage holes (an embedding job that
    skipped a partition) surface here as n_text_only, not as a
    mysteriously small training set later.

    Scale: one equi-join on the id (the natural co-partitioning key
    for both tables — bucketed layouts make it shuffle-free), then a
    single wide aggregate; the embedding payload contributes only
    its length, so vectors never shuffle.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.size("embedding").alias("dim")
    )
    j = docs.join(emb, docs.doc_id == emb.vec_id, "full_outer")
    paired = F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull()
    return j.agg(
        F.count(F.when(paired, 1)).alias("n_paired"),
        F.count(F.when(F.col("vec_id").isNull(), 1)).alias("n_text_only"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_vector_only"),
        F.coalesce(
            F.sum(F.when(F.col("vec_id").isNotNull(), F.col("n_chars"))),
            F.lit(0),
        ).alias("paired_chars"),
        F.coalesce(F.max("dim"), F.lit(0)).cast("long").alias("dim"),
    )


@register(
    "q_multimodal_offload",
    oracle="""
    SELECT doc_id, md5(text) AS content_md5,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_offload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed payload offload — the lakehouse pattern for
    media at 100 TB: big opaque payloads move to a deduplicated
    digest-keyed STORE table (one copy per unique content), while the
    record table keeps only a digest pointer in its MANIFEST. Both
    sides are written to parquet and read back, the manifest re-joins
    the store on the digest (an equi-join on an 32-char key — at
    scale a bucketed join on digest prefix), and the certificate is
    value-level: every reconstructed payload must hash back to the
    original content (oracle = md5 over the source column), so the
    whole offload -> store -> rejoin -> reconstruct path is what the
    gate covers. Document text stands in for the payload bytes (no
    media in the corpus — same stand-in as q_multimodal_binary);
    `strlen` in the oracle is DuckDB BYTE length, matching
    octet_length here.
    """
    from .sinks import _scratch

    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    keyed = docs.select(
        "doc_id",
        F.md5(payload).alias("digest"),
        payload.alias("payload"),
    )
    store_path = _scratch("offload_store", sf_dir)
    manifest_path = _scratch("offload_manifest", sf_dir)
    # store: ONE row per unique content — the dedup is the point
    store = keyed.select("digest", "payload").dropDuplicates(["digest"])
    manifest = keyed.select("doc_id", "digest")
    store.write.mode("overwrite").parquet(store_path)
    manifest.write.mode("overwrite").parquet(manifest_path)
    # read back with the written schemas: inferring one is a Spark job
    store = spark.read.schema(store.schema).parquet(store_path)
    manifest = spark.read.schema(manifest.schema).parquet(manifest_path)
    return (
        manifest.join(store, "digest")
        .select(
            "doc_id",
            F.md5("payload").alias("content_md5"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        )
    )


@register("q_multimodal_phash")  # rows-only: stubbed decode, no SQL twin
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for image payloads:
    every payload decodes (stub) to pixels, resamples to 8×8 with the
    REAL nearest-neighbor kernel, and thresholds against its own mean
    to a 64-bit average-hash — the classic aHash, the real algorithm
    end-to-end except the env-blocked bytes→pixels step
    (raw_decode_stub). Near-dups are pairs with Hamming distance
    ≤ 3, found WITHOUT an all-pairs scan: the Manku banding trick
    of q_dedup_simhash_pairs (the same dedup._hamming_pairs kernel) —
    4 disjoint 16-bit bands; any pair within Hamming 3 must agree
    exactly on ≥ 1 band (pigeonhole), so candidates come from one
    equi-self-join on (band, value) and only they pay the popcount
    verify.

    Scale: the hash is one Arrow-batched pass over the payloads
    (payload bytes never shuffle — only the 8-byte hash + id move);
    banding keys are O(n), candidates O(collisions), the verify is
    bit_count on a long. Identical-payload => identical-hash and the
    band-recall guarantee are pytest-pinned.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    payload_df = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def phash_batches(it):
        import numpy as np

        for pdf in it:
            hashes = []
            for p in pdf["payload"]:
                img = resize_nearest(raw_decode_stub(bytes(p)), 8, 8)
                if img.size == 0:
                    hashes.append(0)
                    continue
                bits = (img.astype(np.float64) >= img.mean()).flatten()
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # two's-complement into int64 for the LongType column
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "phash": hashes}
            )

    hashed = payload_df.mapInPandas(
        phash_batches, schema="doc_id long, phash long"
    )
    return _hamming_pairs(hashed, "phash", 4, 16, 3)


@register(
    "q_multimodal_validate",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN octet_length(encode(text)) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           CAST(sum(CASE WHEN octet_length(encode(text)) <> n_chars
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_len_mismatch,
           max(octet_length(encode(text))) AS max_bytes
    FROM documents GROUP BY source
    """,
)
def q_multimodal_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-integrity gate for the opaque-binary modality: per
    source, how many payloads are empty and how many contradict
    their DECLARED size metadata (n_chars vs actual UTF-8 byte
    length — the text stand-in for a media file whose header-claimed
    dimensions disagree with its byte stream). Corrupt-metadata
    rows are what q_multimodal_offload must quarantine before
    content-addressing, so this check runs first in the multimodal
    ingest pipeline.

    All byte-level: octet_length over the encoded payload, never a
    decode, so the scan reads each payload once and reduces straight
    into a per-source map-side-combinable aggregate — the same
    payloads-never-shuffle rule as q_multimodal_dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    nb = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(nb == 0, 1).otherwise(0)).alias("n_empty"),
        F.sum(F.when(nb != F.col("n_chars"), 1).otherwise(0)).alias(
            "n_len_mismatch"
        ),
        F.max(nb).cast("long").alias("max_bytes"),
    )


@register(
    "q_multimodal_size_histogram",
    oracle="""
    SELECT source,
           CAST(length(bin(octet_length(encode(text)))) AS BIGINT)
               AS size_bits,
           count(*) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
               AS total_bytes
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_multimodal_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Payload size distribution per source in power-of-two buckets
    (bucket = bit-length of the byte count, i.e. ⌊log2⌋+1) — the
    storage profiler that sizes multimodal ingest: which sources
    ship kilobyte thumbnails vs megabyte originals, what
    q_multimodal_offload's content-addressed store will hold, and
    where row-group sizing needs tuning. The bit-length comes from
    the INTEGER's binary-string length, never floor(log2(x)) —
    exact at every power-of-two boundary where float log2 is not.

    One byte-level map pass (octet_length, no decode) into a
    per-(source, bucket) map-side-combinable aggregate; payloads
    never shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    nb = F.octet_length(F.encode(F.col("text"), "UTF-8"))
    return docs.groupBy(
        "source",
        F.length(F.bin(nb)).cast("bigint").alias("size_bits"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(nb).cast("bigint").alias("total_bytes"),
    )


_WDS_SHARD_BYTES = 4096  # shard byte budget (fixture-scaled)


@register(
    "q_multimodal_webdataset",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, source, strlen(text) AS n_bytes,
               md5(CAST(doc_id AS VARCHAR)) AS ord_key
        FROM documents
    ),
    runs AS (
        SELECT source, doc_id, n_bytes,
               sum(n_bytes) OVER (PARTITION BY source
                   ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM p
    ),
    shards AS (
        SELECT source, doc_id, n_bytes,
               (cum - 1) // {_WDS_SHARD_BYTES} AS shard_seq
        FROM runs
    )
    SELECT source, CAST(shard_seq AS BIGINT) AS shard_seq,
           count(*) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
           min(doc_id) AS first_doc
    FROM shards GROUP BY 1, 2
    """,
)
def q_multimodal_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest: payloads are packed into
    sequential tar-like shards of ~4 KiB per SOURCE, in md5(doc_id)
    order — the sequential-read layout multimodal training loaders
    want (shard = unit of shuffle + prefetch; random order BAKED IN
    at packing time via the hash sort, so readers stream
    sequentially yet see shuffled data). Shard id =
    (running_bytes − 1) div budget: items stay whole, shards
    overflow by at most one item rather than splitting a payload —
    the correct tar semantics (contrast q_multimodal_cdc_chunks,
    which splits WITHIN payloads for dedup, not packing).

    Scale: one per-source window sort (the same partitioned rank
    discipline as q_shard_balance), the shard id is pure integer
    arithmetic on the running sum, the manifest rollup is
    map-side-combinable. Payload bytes never move — only
    (id, size) pairs; the actual tar write is the q_sink family's
    job, driven by this manifest.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id",
        "source",
        F.octet_length(F.encode(F.col("text"), "UTF-8")).alias(
            "n_bytes"
        ),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    shards = p.select(
        "source",
        "doc_id",
        "n_bytes",
        F.expr(
            f"(sum(n_bytes) OVER (PARTITION BY source"
            f" ORDER BY ord_key, doc_id"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)"
            f" DIV {_WDS_SHARD_BYTES}"
        ).alias("shard_seq"),
    )
    return shards.groupBy(
        "source", F.col("shard_seq").cast("bigint").alias("shard_seq")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("shard_bytes"),
        F.min("doc_id").alias("first_doc"),
    )
