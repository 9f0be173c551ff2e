"""Deduplication operators (north-star extension; SURVEY.md §2B).

Four tiers, cheapest first — the order a 100 TB corpus pipeline runs
them:
  1. exact       — hash-groupBy on content (one shuffle on a 128-bit
                   fingerprint, never on the full text at scale).
  2. normalized  — same, after text normalization (casefold, strip
                   punctuation, collapse whitespace).
  3. simhash     — 64-bit near-dup signature, computed as one
                   single-pass aggregation (64 conditional sums), all
                   JVM-side; candidate pairs come from equal signatures
                   or banded sub-keys.
  4. minhash LSH — pyspark.ml MinHashLSH banding for Jaccard near-dups
                   (the genuinely approximate path; rows-only checked).

Deterministic representative: min(doc_id) per group (dropDuplicates
keeps an arbitrary row — unusable under a hash-matching oracle).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import LastHandle, md5_int, ngram_windows, ordered_pairs

# Multi-consumer intermediates of the funnel/dedup composites,
# persisted per call — without these the quality-gate tokenization
# re-executes once per downstream consumer (round-13 optimization
# pass; see OPTIMIZATION_r13.md). Each handle holds one generation:
# the next call releases it before persisting its own. funnel_stages
# serves q_corpus_funnel, q_training_export and
# q_training_export_full through the one _LAST_FUNNEL, so a caller
# that builds two of them before acting on the first loses the
# first's cache (a recompute, not a wrong result).
_LAST_FUNNEL = LastHandle()
_LAST_DEDUP_CORPUS = LastHandle()
_LAST_KFOLD = LastHandle()


def normalized_text(col: F.Column) -> F.Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), "[^a-z0-9 ]", ""), " +", " "
        )
    )


def normalized_doc_text() -> F.Column:
    """The documents' text under normalized_text: the content the
    normalized exact tier fingerprints and q_multimodal_dedup encodes
    as its canonical payload."""
    return normalized_text(F.col("text"))


def _norm_groups(docs: DataFrame, *aggs: F.Column) -> DataFrame:
    """(fp, doc_id = min doc_id, *aggs) per normalized-text fingerprint
    fp = md5(normalized_doc_text()): the keepers of the normalized
    exact tier (q_dedup_normkey reports them, _exact_survivors keeps
    them)."""
    return docs.groupBy(F.md5(normalized_doc_text()).alias("fp")).agg(
        F.min("doc_id").alias("doc_id"), *aggs
    )


@register(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint: group on md5(text), keep
    the smallest doc_id. Grouping on the 128-bit digest instead of the
    raw text keeps shuffle rows tiny at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


@register(
    "q_dedup_normkey",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g')))
    """,
)
def q_dedup_normkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup by normalized-content key (the cheap fuzzy tier)."""
    docs = load_table(spark, sf_dir, "documents")
    return _norm_groups(docs, F.count(F.lit(1)).alias("n_copies")).select(
        "doc_id", "n_copies"
    )


@register("q_dedup_simhash")  # rows-only: xxhash64 has no DuckDB twin
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, computed as ONE aggregation pass:
    explode tokens, hash each with xxhash64 (JVM, codegen'd), then for
    each bit position sum ±1 votes and pack the majority bits. No
    Python in the loop; at scale this is a single map-side-combinable
    groupBy over (doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).select("doc_id", F.xxhash64("term").alias("v"))
    return _simhash(toks, 64)


def _pack_bits(bits: list[F.Column]) -> F.Column:
    """One int64 with bit i set where bits[i] holds — the sign-bit
    packer of the simhash and SRP signatures. Summing disjoint powers
    of two never overflows: only bit 63 is negative, and it is added
    to a non-negative partial sum."""
    return reduce(
        lambda acc, i: acc + F.when(
            bits[i], F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long")),
        range(len(bits)),
        F.lit(0).cast("long"),
    )


def _simhash(hashed: DataFrame, bits: int) -> DataFrame:
    """(doc_id, simhash) from per-token hashes (doc_id, v): per bit
    position the ±1 vote sum over the document's tokens, then the
    majority bits packed — one map-side-combinable groupBy carrying
    `bits` int sums. The shared step of the xxhash64 and md5 tiers."""
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("v"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    packed = _pack_bits([F.col(f"b{i}") > 0 for i in range(bits)])
    return agg.select("doc_id", packed.alias("simhash"))


@register("q_dedup_minhash_lsh")  # rows-only: approximate, seed-pinned
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (Jaccard distance
    <= 0.5 on token sets): shingle -> sparse vector -> minhash bands ->
    bucket self-join. The banding join is the 100 TB path — candidate
    generation cost scales with bucket collisions, not n².
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = Tokenizer(inputCol="text", outputCol="tokens")
    # Shingle to word-5-grams BEFORE hashing — same unit as the exact
    # Jaccard tier. Unigram token sets are degenerate on a
    # small-vocabulary corpus (every doc covers most of the vocab, so
    # every pair looks similar: measured 4.7M candidate pairs / 24 min
    # at sf 0.1); 5-gram shingles rarely repeat across distinct docs,
    # so bucket collisions recover only genuine near-dups.
    ng = NGram(n=5, inputCol="tokens", outputCol="shingles")
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18,
        binary=True,
    )
    shingled = ng.transform(tok.transform(docs)).filter(
        F.size("shingles") >= 1  # MinHash requires a non-empty set
    )
    featurized = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(featurized)
    # approxSimilarityJoin filters dist < threshold STRICTLY, and
    # Jaccard distances are small-integer ratios, so exactly-0.8 is
    # reachable: nudge the bound so dist <= 0.8 (shingle-Jaccard >=
    # 0.2) is included — the same acceptance band as
    # q_dedup_ngram_jaccard, making the LSH tier its drop-in
    # approximate twin.
    pairs = model.approxSimilarityJoin(
        featurized, featurized, threshold=0.8 + 1e-6, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


# Blocked exact all-pairs sizing: B is derived per-corpus so block
# bytes stay ~constant as n grows (B ≥ ceil(corpus_bytes / TARGET)),
# with a floor that keeps B(B+1)/2 tasks ≥ the local parallelism.
EMB_BLOCKS_MIN = 8
EMB_BLOCK_TARGET_BYTES = 64 << 20  # ~64 MB of packed vectors per block row
# Cap B so the B(B+1)/2 block-pair task grid stays scheduler-feasible:
# uncapped, 1 TB of vectors at 64 MB/block is ~16k blocks → ~134M
# pair partitions. At the cap the grid is ~1.3M pairs (fine for a
# 1000-executor scheduler) and block size grows past 64 MB instead —
# per-task memory degrades gracefully (two blocks per task) while the
# task count stays bounded.
EMB_BLOCKS_MAX = 1600


@register(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.5
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.5) — the
    semantic-dedup tier of an LLM corpus pipeline: exact/minhash catch
    copies, this catches paraphrases.

    Exact threshold-join, but NOT a nested-loop over the full table:
    the corpus is hashed into B blocks, each block packed
    into one row (collect_list of (vec_id, vector)), and the tiny
    B×B block-pair grid (upper triangle) fans out as independent
    tasks. Each task computes its block-pair similarity as ONE float64
    BLAS matmul and emits only pairs over threshold — the distributed
    blocked form of an exact all-pairs join: n²/2 FLOPs are inherent
    to exactness, but per-task memory is two blocks, parallelism is
    B(B+1)/2, and nothing is driver-bound. B is computed from the
    measured corpus size (rows × dim × 8 bytes / ~64 MB target, with
    a parallelism floor), so block bytes — and therefore collect_list
    row size and per-task memory — stay bounded as n grows instead of
    growing O(n/B) under a fixed B. The approximate tiers
    (q_sim_lsh_bucketed LSH buckets, q_sim_ivf_label IVF cells) are
    the drop-in candidate sources when recall < 1 is acceptable;
    this operator is the exact anchor they are measured against.
    """
    return _embedding_pairs_blocked(spark, sf_dir, 0.5)


def _embedding_pairs_blocked(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Blocked exact all-pairs cosine >= threshold (see
    q_dedup_embedding's docstring for the design); shared by the
    exact anchor (0.5) and the SRP-LSH recall certificate (0.4)."""
    import numpy as np
    import pandas as pd

    import math

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # One stat pass sizes the blocking: total packed bytes =
    # n_rows × dim × 8. (This count+first does scan the embedding
    # column — a real though single-pass cost, amortized against the
    # n²/2 FLOPs of the pair grid it sizes.)
    stats = emb.select(
        F.count(F.lit(1)).alias("n"), F.first(F.size("e")).alias("dim")
    ).first()
    total_bytes = (stats["n"] or 0) * (stats["dim"] or 0) * 8
    n_blocks = min(
        EMB_BLOCKS_MAX,
        max(EMB_BLOCKS_MIN, math.ceil(total_bytes / EMB_BLOCK_TARGET_BYTES)),
    )
    blocks = (
        emb.groupBy((F.pmod(F.hash("vec_id"), F.lit(n_blocks))).alias("blk"))
        .agg(F.collect_list(F.struct("vec_id", "e")).alias("vecs"))
        # Self-joining the aggregate would otherwise re-scan and
        # re-shuffle the full vector payload once per side; checkpoint
        # the B packed rows so the corpus is scanned and shuffled once.
        .localCheckpoint()
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    grid = (
        a.join(b, F.col("a.blk") <= F.col("b.blk"))  # B(B+1)/2 tiny rows
        .select(
            F.col("a.blk").alias("blk_a"),
            F.col("b.blk").alias("blk_b"),
            F.col("a.vecs").alias("va"),
            F.col("b.vecs").alias("vb"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )

    def score_block_pair(it):
        for pdf in it:
            outs = []
            for _, row in pdf.iterrows():
                ia = np.array([v["vec_id"] for v in row["va"]], dtype=np.int64)
                ib = np.array([v["vec_id"] for v in row["vb"]], dtype=np.int64)
                A = np.array([v["e"] for v in row["va"]], dtype=np.float64)
                B = np.array([v["e"] for v in row["vb"]], dtype=np.float64)
                na = np.sqrt((A * A).sum(axis=1))
                nb = np.sqrt((B * B).sum(axis=1))
                S = (A @ B.T) / np.outer(na, nb)
                if row["blk_a"] == row["blk_b"]:
                    # Diagonal block: A == B, keep the upper triangle.
                    ii, jj = np.nonzero(
                        (S >= threshold) & (ia[:, None] < ib[None, :])
                    )
                    va, vb = ia[ii], ib[jj]
                else:
                    # Off-diagonal: every cross pair once, reoriented
                    # to the canonical vec_a < vec_b.
                    ii, jj = np.nonzero(S >= threshold)
                    va = np.minimum(ia[ii], ib[jj])
                    vb = np.maximum(ia[ii], ib[jj])
                if len(ii):
                    outs.append(
                        pd.DataFrame(
                            {
                                "vec_a": va,
                                "vec_b": vb,
                                "cos_sim": np.round(S[ii, jj], 6),
                            }
                        )
                    )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )

    return grid.mapInPandas(
        score_block_pair, schema="vec_a long, vec_b long, cos_sim double"
    )


# The word-5-gram candidate CTEs of the shingle-overlap oracles: the
# distinct shingle index, stop shingles (df > 100) removed, per-doc
# set sizes and per-pair shared-shingle counts.
_SHINGLE_OVERLAP_SQL = """all_shingles AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   t.term || ' ' || lead(t.term, 1) OVER w || ' '
                          || lead(t.term, 2) OVER w || ' '
                          || lead(t.term, 3) OVER w || ' '
                          || lead(t.term, 4) OVER w AS shingle
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS term,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents
            ) t
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        )
        WHERE shingle IS NOT NULL
    ),
    shingles AS (
        SELECT doc_id, shingle FROM all_shingles
        WHERE shingle IN (SELECT shingle FROM all_shingles
                          GROUP BY shingle HAVING count(*) <= 100)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

# Near-dup pair edges for the cluster query: word-5-gram Jaccard
# >= 0.2 (the q_dedup_ngram_jaccard pair set).
_EDGES_SQL = f"""
    {_SHINGLE_OVERLAP_SQL},
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 1.0 * n_common / (sa.n + sb.n - n_common) >= 0.2
    )
"""


def _edges_sql_prefixed(prefix: str) -> str:
    """_EDGES_SQL with every CTE name prefixed — for composed oracles
    that need the FULL-CORPUS near-dup pair graph alongside
    _funnel_ctes(), which binds the unprefixed names to the
    post-exact-dedup survivor set (q_training_export_full). Word-
    boundary replace: column names like `shingle`/`n_common` never
    match, and an already-prefixed name can't re-match (the `_` is a
    word character)."""
    import re

    s = _EDGES_SQL
    for name in ("all_shingles", "shingles", "sizes", "common", "pairs"):
        s = re.sub(rf"\b{name}\b", f"{prefix}{name}", s)
    return s


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, other) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.other
    )
    SELECT doc AS doc_id, min(other) AS cluster_id
    FROM reach GROUP BY doc
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    jaccard near-dup pair graph by iterative min-label propagation
    (SURVEY.md §4.2 item 4 — iterative self-join, no graph library).

    Each doc starts labelled with its own id; each round every doc
    takes the min label in its neighbourhood; converged when no label
    changes (diameter-bounded, checked each round). The loop is a
    driver-side while over DataFrame ops — each iteration is one
    distributed join+aggregate; only the single convergence count
    crosses to the driver. The oracle is DuckDB's recursive CTE over
    the same edge set.
    """
    from ..registry import QUERIES

    pairs = QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    # Iterative algorithm hygiene: materialize the edge graph once
    # (localCheckpoint truncates the whole jaccard lineage) and
    # re-truncate labels every round — otherwise each iteration
    # re-executes all previous iterations' joins.
    return min_label_propagate(pairs, 20).select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def min_label_propagate(
    pairs: DataFrame, rounds: int, pairs_materialized: bool = False
) -> DataFrame:
    """Connected components by iterative min-label propagation over
    an (doc_a, doc_b) pair list — the shared core behind
    q_dedup_clusters (shingle-jaccard edges), q_sim_semantic_clusters
    (embedding-cosine edges) and q_graph_components_cert (the
    oracle-certified nation trade graph). Each round is
    one distributed join+aggregate; labels re-checkpoint every round
    so iteration k never re-executes 1..k-1; only the convergence
    count crosses to the driver. A component of diameter d needs d
    changing rounds plus one quiet one; if `rounds` run out while
    labels still change, it raises instead of returning partial
    components.

    `pairs_materialized=True` tells the kernel the caller already
    checkpointed `pairs`: the doubled edge union then stays LAZY
    (each round re-derives it from the materialized pair RDD — a
    narrow map, no recompute) instead of eagerly materializing the
    same rows a second time back-to-back (ADVICE r13 item 4)."""
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    if not pairs_materialized:
        edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc)
            .groupBy(F.col("doc_a").alias("doc"))
            .agg(F.min("label").alias("nmin"))
        )
        # The change flag rides ON the checkpointed frame (nmin and
        # the old label are both in scope here), so convergence needs
        # no second join of new vs old labels — and the checkpoint is
        # LAZY, so the count() below is the job that materializes it:
        # one distributed job per round instead of three (round-13
        # optimization pass; result-identical, the flag is dropped
        # before the next round's join).
        new_labels = (
            labels.join(neighbor_min, "doc", "left")
            .select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
                (
                    F.col("nmin").isNotNull()
                    & (F.col("nmin") < F.col("label"))
                ).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        labels = new_labels.select("doc", "label")
        if new_labels.filter(F.col("chg")).count() == 0:
            return labels
    raise RuntimeError(
        f"min_label_propagate: labels still changing after {rounds} rounds"
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_OVERLAP_SQL}
    SELECT doc_a, doc_b,
           round(1.0 * n_common / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 1.0 * n_common / (sa.n + sb.n - n_common) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard similarity for candidate pairs that
    share at least one shingle. Inverted-index style: explode distinct
    shingles, group into per-shingle posting arrays, generate ordered
    doc pairs map-side (_pair_counts), count per pair — never a cross
    product. Shingles appearing in >100 docs are suppressed first
    (stop-shingle removal): a shingle shared by d docs contributes d²
    pairs, so the frequent tail dominates cost while carrying no
    dedup signal — and the cap doubles as the posting-array size
    bound that keeps the pair explode memory-safe. The doc-frequency
    filter itself is a broadcast semi-join on the (tiny)
    frequent-shingle list.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _jaccard_pairs(docs)


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_OVERLAP_SQL}
    SELECT doc_a, doc_b,
           round(1.0 * n_common / least(sa.n, sb.n), 4) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 1.0 * n_common / least(sa.n, sb.n) >= 0.6
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-CONTAINMENT near-dup detection: |A∩B| / min(|A|,|B|)
    >= 0.6 over the same word-5-gram inverted index as
    q_dedup_ngram_jaccard. Containment catches the asymmetric case
    Jaccard structurally misses — a short document embedded verbatim
    inside a much longer one scores |A|/|A| = 1.0 here but only
    |A|/|B| (arbitrarily small) on Jaccard. This is the
    quote/boilerplate/subset-dup tier of corpus cleaning. Same scale
    shape as the Jaccard tier: stop-shingle cap keeps the inverted-
    index join linear-ish; no cross product anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    postings, sizes = _shingle_postings(docs)
    return _overlap_verify(
        _pairs_from_postings(postings), sizes,
        F.least(F.col("sa.n"), F.col("sb.n")), 0.6, "containment", 4,
    )


@register(
    "q_dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, event_type, ts
    FROM (
        SELECT user_id, event_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-record-per-key — the CDC/upsert compaction shape
    every training-data pipeline needs (latest crawl per URL, latest
    annotation per doc). row_number + rn=1 plans as WindowGroupLimit
    in Spark 3.5+: each mapper keeps one row per key before the
    shuffle, so state is O(keys), not O(rows), at 100 TB.
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


def _pair_counts(shingles: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common) for every doc pair sharing >= 1 index
    shingle, doc_a < doc_b — generated postings-list style: group the
    inverted index by shingle into a sorted posting array, explode all
    ordered pairs map-side, count per pair. Two shuffles total
    (postings build + pair count) vs three for the equivalent
    self-join (both join sides + the pair groupBy), and the scale
    property is stronger: posting arrays are bounded by the stop-
    shingle cap (df_cap docs), so per-row memory and pair fan-out are
    bounded BY CONSTRUCTION and there is no self-join for a hot
    shingle key to skew — the d^2 blowup the join had to shuffle is a
    bounded map-side explode here. Same result set (verified equal at
    sf 0.1 against the join form).
    """
    return _pairs_from_postings(_postings_of(shingles))


def _postings_of(shingles: DataFrame) -> DataFrame:
    """(shingle, sorted doc_id array) posting lists of a filtered
    (doc_id, shingle) inverted index — arrays bounded by the callers'
    stop-shingle cap."""
    return shingles.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )


def _pairs_from_postings(postings: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common) from posting arrays — the map-side
    ordered-pair explode (util.ordered_pairs) + count of _pair_counts'
    contract."""
    return (
        ordered_pairs(postings, "ds", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _shingle_index(docs: DataFrame, df_cap: int = 100
                   ) -> tuple[DataFrame, DataFrame]:
    """(shingles, sizes): the distinct word-5-gram inverted index with
    stop-shingles (doc frequency > df_cap) removed, plus per-doc set
    sizes — the shared candidate machinery of the jaccard and
    containment dedup tiers.
    """
    n = 5
    sh = ngram_windows(F.split("text", " "), n)
    # Shingles are xxhash64'd to int64 before the distinct/joins:
    # 8-byte shuffle keys instead of ~30-byte strings (~30% faster
    # measured; collision probability over 250k shingles ≈ 2e-9, far
    # below the float-rounding tolerance). A round-5 A/B found a
    # `persist()` of this index a wash, but persist re-plans each
    # consumer through the CacheManager; the round-13 lazy
    # localCheckpoint below instead truncates the lineage so every
    # consumer scans the materialized RDD — that variant measured
    # faster (A/B below) and is the one shipped.
    # The distinct (doc_id, 8-byte hash) index is the LIGHTWEIGHT
    # PROXY of the pipeline (guide §8: keys and hashes, never text)
    # and feeds THREE consumers (df filter, postings, sizes) —
    # truncate it once (lazy localCheckpoint; materialized by the
    # first consumer's job, reused by the rest). Round-13 in-session
    # A/B (tools/opt_exp_jaccard.py): 2.5-2.9 s -> 1.8-2.3 s for the
    # full jaccard kernel at sf 0.1, identical pair set.
    all_shingles = (
        docs.select("doc_id", F.explode(sh).alias("g"))
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(" ", *[f"g.{i}" for i in range(n)])
            ).alias("shingle"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    rare = (
        all_shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shingle")
    )
    shingles = all_shingles.join(F.broadcast(rare), "shingle", "left_semi")
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return shingles, sizes


def _shingle_postings(docs: DataFrame, df_cap: int = 100
                      ) -> tuple[DataFrame, DataFrame]:
    """(postings, sizes) form of _shingle_index for pair-join callers:
    the capped posting arrays are built ONCE (lazy localCheckpoint)
    and per-doc sizes are derived FROM them (one explode+count over
    arrays bounded by df_cap) instead of re-aggregating the shingle
    index a third time — one fewer full pass over the index, same
    sizes by construction (round-13 optimization pass)."""
    shingles, _ = _shingle_index(docs, df_cap)
    postings = _postings_of(shingles).localCheckpoint(eager=False)
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return postings, sizes


def _jaccard_pairs(docs: DataFrame, threshold: float = 0.2,
                   df_cap: int = 100) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with word-5-gram Jaccard >=
    threshold — the inverted-index join shared by
    q_dedup_ngram_jaccard (whose oracle defines its semantics) and
    dedup_corpus/q_dedup_pipeline.
    """
    postings, sizes = _shingle_postings(docs, df_cap)
    return _overlap_verify(
        _pairs_from_postings(postings), sizes, _union_size(), threshold,
        "jaccard", 4,
    )


def _union_size() -> F.Column:
    """|A ∪ B| for _overlap_verify: the Jaccard denominator."""
    return F.col("sa.n") + F.col("sb.n") - F.col("n_common")


def _overlap_verify(common: DataFrame, sizes: DataFrame, denom: F.Column,
                    threshold: float, name: str, digits: int) -> DataFrame:
    """(doc_a, doc_b, name) for every candidate pair whose set overlap
    n_common / denom >= threshold, rounded to `digits` — the exact
    verify of the jaccard, containment and minhash tiers. `common`
    holds (doc_a, doc_b, n_common), `sizes` (doc_id, n); `denom`
    reads the two set sizes as sa.n and sb.n."""
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    score = F.col("n_common") / denom
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(score >= threshold)
        .select("doc_a", "doc_b", F.round(score, digits).alias(name))
    )


def _exact_survivors(docs: DataFrame) -> DataFrame:
    """The exact tier: the rows of `docs` whose doc_id is the min of
    its normalized-text fingerprint group."""
    kept = _norm_groups(docs).select("doc_id")
    return docs.join(kept, "doc_id", "left_semi")


def _near_survivors(kd: DataFrame, threshold: float = 0.2) -> DataFrame:
    """The near tier: `kd` without the larger doc_id (doc_b) of every
    word-5-gram Jaccard >= threshold pair."""
    dropped = (
        _jaccard_pairs(kd, threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return kd.join(dropped, "doc_id", "left_anti")


def dedup_corpus(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(exact_survivors, final_survivors) of the two-tier dedup:
    exact tier keeps the min doc_id per normalized-text fingerprint;
    near tier drops the larger doc_id of every Jaccard >= 0.2 pair.
    The reusable core of q_dedup_pipeline and the CLI `dedup` command.
    """
    # kd feeds the jaccard pair join, the anti-join AND the callers'
    # per-source counts — persist so the exact tier runs once per
    # call, not once per consumer (round-13 optimization pass).
    kd = _exact_survivors(docs)
    _LAST_DEDUP_CORPUS.persist(kd)
    return kd, _near_survivors(kd)


@register(
    "q_dedup_pipeline",
    oracle=f"""
    WITH kept AS (
        SELECT min(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g')))
    ),
    kd AS (SELECT d.* FROM documents d JOIN kept k ON d.doc_id = k.doc_id),
    {_SHINGLE_OVERLAP_SQL.replace("FROM documents", "FROM kd")},
    near_dropped AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 1.0 * n_common / (sa.n + sb.n - n_common) >= 0.2
    ),
    final AS (
        SELECT * FROM kd
        WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)
    )
    SELECT r.source,
           r.n_raw,
           coalesce(k.n_exact_kept, 0) AS n_exact_kept,
           coalesce(f.n_final, 0) AS n_final
    FROM (SELECT source, count(*) AS n_raw FROM documents GROUP BY source) r
    LEFT JOIN (SELECT source, count(*) AS n_exact_kept FROM kd
               GROUP BY source) k ON r.source = k.source
    LEFT JOIN (SELECT source, count(*) AS n_final FROM final
               GROUP BY source) f ON r.source = f.source
    """,
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data dedup pipeline, the composite a 100 TB
    corpus actually runs: (1) exact tier — group by normalized-text
    fingerprint, keep the min doc_id; (2) near-dup tier — word-5-gram
    Jaccard >= 0.2 among exact survivors, drop the larger doc_id of
    every qualifying pair (single pass, deterministic); (3) per-source
    retention report. Tier order matters at scale: the cheap hash
    tier shrinks the candidate set before the quadratic-ish pair join.
    """
    docs = load_table(spark, sf_dir, "documents")
    kd, final = dedup_corpus(docs)
    raw_counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    kd_counts = kd.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_exact_kept")
    )
    final_counts = final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_final")
    )
    return (
        raw_counts.join(kd_counts, "source", "left")
        .join(final_counts, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_exact_kept", F.lit(0)).alias("n_exact_kept"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
        )
    )


@register("q_dedup_lsh_eval")  # rows-only: the LSH side is seeded-approximate
def q_dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: precision/recall of the MinHash-LSH
    candidate tier against the exact inverted-index Jaccard tier on
    the SAME acceptance band (shingle-Jaccard >= 0.2). The eval
    harness a pipeline runs before trusting an approximate tier at
    100 TB — a full outer join of the two pair sets collapsed to one
    audit row (tp/fp/fn, precision, recall). Both sides are
    pair-level aggregates, so the join is O(candidate pairs).
    """
    exact = q_dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_exact")
    )
    approx = q_dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_approx")
    )
    j = exact.join(approx, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.count(F.when(F.col("in_exact").isNotNull()
                       & F.col("in_approx").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("in_exact").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("in_approx").isNull(), 1)).alias("fn"),
    ).select(
        "tp", "fp", "fn",
        F.round(
            F.when(F.col("tp") + F.col("fp") > 0,
                   F.col("tp") / (F.col("tp") + F.col("fp")))
            .otherwise(F.lit(1.0)), 6
        ).alias("precision"),
        F.round(
            F.when(F.col("tp") + F.col("fn") > 0,
                   F.col("tp") / (F.col("tp") + F.col("fn")))
            .otherwise(F.lit(1.0)), 6
        ).alias("recall"),
    )


SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3  # < SIMHASH_BANDS, so pigeonhole guarantees recall


@register("q_dedup_simhash_pairs")  # rows-only: xxhash64 has no DuckDB twin
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at scale — the Manku et al. (WWW'07)
    banding trick that turns 'all pairs within Hamming distance K'
    from an O(n²) bit comparison into equi-joins: split the 64-bit
    signature into SIMHASH_BANDS 16-bit bands; any two signatures
    with Hamming distance <= SIMHASH_MAX_HAMMING (< number of bands)
    must agree EXACTLY on at least one band (pigeonhole), so
    candidates come from a (band_idx, band_value) self-equi-join and
    only candidates pay the exact bit_count(xor) verify. Recall is
    exact by construction, not probabilistic — unlike MinHash-LSH
    banding, nothing is sampled.

    Scale: the join key space is 4n rows; hot bands (common 16-bit
    patterns) are the skew to watch — the same stop-key capping as
    the shingle index applies if a band value's posting list explodes
    (not needed at this corpus's signature entropy). Verify is
    codegen'd integer xor/popcount. Rows-only gate (xxhash64 has no
    DuckDB twin); recall/precision vs brute force pinned by pytest.
    """
    # The signature build feeds BOTH self-join sides — truncate it
    # once (round-13 optimization pass; same as the md5 twin).
    sigs = (
        q_dedup_simhash(spark, sf_dir)
        .select("doc_id", "simhash")
        .localCheckpoint(eager=False)
    )
    return _hamming_pairs(
        sigs, "simhash", SIMHASH_BANDS, 16, SIMHASH_MAX_HAMMING
    )


def _bands(sigs: DataFrame, id_col: str, sig_col: str, n_bands: int,
           bits: int, keep_sig: bool = False) -> DataFrame:
    """(id_col[, sig_col], band_idx, band_val): one row per band of the
    int64 signature — band i is bits [bits·i, bits·(i+1)). The index
    side of Manku et al.'s banding (WWW'07): rows that agree on a band
    share a (band_idx, band_val) bucket."""
    cols = [id_col, sig_col] if keep_sig else [id_col]
    mask = (1 << bits) - 1
    return sigs.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col(sig_col), bits * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(*cols, "b.band_idx", "b.band_val")


def _bucket_pairs(rows: DataFrame, id_col: str, a: str, b: str,
                  keys: tuple[str, ...] = ("band_idx", "band_val"),
                  extra: tuple[F.Column, ...] = (),
                  where: F.Column | None = None) -> DataFrame:
    """Distinct (a, b, *extra) over every pair of rows that share all
    `keys` (a band bucket), with a < b — one equi-self-join, never a
    cross product. `extra` may read either side as `a.<col>` /
    `b.<col>`; `where` filters before the distinct (a pair sharing
    several buckets is verified once per bucket, kept once)."""
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    pairs = rows.alias("a").join(
        rows.alias("b"), reduce(lambda x, y: x & y, on)
    ).select(
        F.col(f"a.{id_col}").alias(a), F.col(f"b.{id_col}").alias(b), *extra
    )
    return (pairs if where is None else pairs.filter(where)).distinct()


def _hamming_pairs(sigs: DataFrame, sig_col: str, n_bands: int, bits: int,
                   max_hamming: int, hamming_type: str = "int") -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair of (doc_id, sig_col)
    signatures within `max_hamming` bits. With max_hamming < n_bands a
    pair that close agrees exactly on at least one band (pigeonhole),
    so the band-bucket self-join finds every such pair and only
    candidates pay the bit_count(xor) verify: recall is exact."""
    ham = F.bit_count(
        F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
    ).cast(hamming_type)
    return _bucket_pairs(
        _bands(sigs, "doc_id", sig_col, n_bands, bits, keep_sig=True),
        "doc_id", "doc_a", "doc_b",
        extra=(ham.alias("hamming"),),
        where=F.col("hamming") <= max_hamming,
    )


VAL_MOD = 10  # 1/VAL_MOD of clusters land in the validation split


@register(
    "q_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, other) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.other
    ),
    cl AS (SELECT doc, min(other) AS cluster_id FROM reach GROUP BY doc),
    asg AS (
        SELECT d.doc_id, d.n_chars,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cl c ON c.doc = d.doc_id
    )
    SELECT CASE WHEN cluster_id % {VAL_MOD} = 0 THEN 'val' ELSE 'train' END
               AS split,
           count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM asg GROUP BY 1
    """,
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation split: the assignment unit is
    the NEAR-DUP CLUSTER, not the document — every document in a
    connected component of the Jaccard near-dup graph lands in the
    same split (singletons are their own cluster), so a validation
    document can never have a near-duplicate twin in training. This
    is the split-contamination failure mode of naive per-doc
    hashing (a val doc's paraphrase in train inflates eval), closed
    structurally: split is a pure function of cluster id.

    Scale: cluster labels come from the bounded-iteration label
    propagation (q_dedup_clusters); the assignment itself is a
    row-local modulus after one left join of docs to the O(clustered
    docs) label table — broadcast-sized whenever near-dups are rare,
    which is the expected regime after the exact tier.
    """
    from ..registry import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    clusters = QUERIES["q_dedup_clusters"](spark, sf_dir)
    asg = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    split = F.when(
        F.col("cluster_id") % VAL_MOD == 0, F.lit("val")
    ).otherwise(F.lit("train"))
    return (
        asg.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def _funnel_ctes() -> str:
    """The funnel's CTE chain up to `final` (the surviving docs) —
    shared by q_corpus_funnel's stage counts and q_training_export's
    downstream rebalance/shard stages."""
    from .textops import _STOP_SQL, _prep_hits_sql

    edges_on_fdocs = _EDGES_SQL.replace("FROM documents", "FROM fdocs")
    return f"""metrics AS (
        SELECT doc_id,
               count(*) AS n_tokens,
               1.0 * count(*) FILTER (WHERE term IN ({_STOP_SQL}))
                   / count(*) AS stop_ratio,
               {_prep_hits_sql()}
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY doc_id
    ),
    q AS (
        SELECT d.* FROM documents d JOIN metrics m ON d.doc_id = m.doc_id
        WHERE NOT (m.h_en = 0 AND m.h_de = 0 AND m.h_es = 0 AND m.h_fr = 0)
          AND m.h_en >= m.h_de AND m.h_en >= m.h_es AND m.h_en >= m.h_fr
          AND m.stop_ratio <= 0.5
          AND m.n_tokens BETWEEN 10 AND 500
    ),
    ek AS (
        SELECT min(doc_id) AS doc_id FROM q
        GROUP BY md5(trim(regexp_replace(
                    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                    ' +', ' ', 'g')))
    ),
    fdocs AS (SELECT q.* FROM q JOIN ek ON q.doc_id = ek.doc_id),
    {edges_on_fdocs},
    near_dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
    final AS (
        SELECT * FROM fdocs
        WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)
    )"""


def _funnel_oracle() -> str:
    return f"""
    WITH RECURSIVE {_funnel_ctes()}
    SELECT 1 AS stage_idx, 'raw' AS stage, count(*) AS n_docs
    FROM documents
    UNION ALL SELECT 2, 'quality', count(*) FROM q
    UNION ALL SELECT 3, 'exact_dedup', count(*) FROM fdocs
    UNION ALL SELECT 4, 'near_dedup', count(*) FROM final
    """


@register("q_corpus_funnel", oracle=_funnel_oracle())
def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation funnel in ONE call — the capstone
    composite a reference user migrating a training-data pipeline
    actually runs: quality gates (language-ID, stopword ratio, token
    budget — q_text_prep_pipeline's chain) → exact dedup (normalized
    fingerprint keep-min) → near-dup removal (inverted-index Jaccard,
    drop the larger id of each pair) — reported as a per-stage
    retention funnel, the number every curation run is judged by.

    Each stage consumes the previous stage's SURVIVORS (near-dup
    pairs are computed only among exact-dedup survivors, the
    cost-ordering design of q_dedup_pipeline), so the expensive tiers
    see monotonically shrinking inputs. Monotonicity of the funnel is
    pytest-pinned; every stage count is oracle-certified against one
    composed CTE chain.
    """
    docs = load_table(spark, sf_dir, "documents")
    q, fdocs, final = funnel_stages(docs)

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    return (
        stage(1, "raw", docs)
        .unionByName(stage(2, "quality", q))
        .unionByName(stage(3, "exact_dedup", fdocs))
        .unionByName(stage(4, "near_dedup", final))
    )


def funnel_stages(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The curation funnel's survivor chain (quality gate q, exact
    dedup fdocs, near-dup-free final) — the reusable core behind
    q_corpus_funnel's stage counts and q_training_export's
    curate->rebalance->shard composite."""
    from .textops import _quality_gate

    # q feeds the exact-dedup groupBy AND the survivor semi-join;
    # fdocs feeds the jaccard pair join AND the anti-join (and the
    # callers' stage counts) — persist both so the tokenize+metrics
    # lineage runs ONCE per call instead of once per consumer
    # (measured ~2x on q_corpus_funnel / q_training_export at sf 0.1;
    # at 100 TB the flip-point rule of _shingle_index applies, but
    # here the re-derived work is the full quality-gate aggregation,
    # not a map-side tokenization — persist is the right side).
    q = _quality_gate(docs).select(*docs.columns)
    fdocs = _exact_survivors(q)
    _LAST_FUNNEL.persist(q, fdocs)
    return q, fdocs, _near_survivors(fdocs)


@register(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS fp
        FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, md5(text) AS fp, n_chars
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT min(b.doc_id) AS doc_id, b.fp,
           count(*) AS n_batch_copies,
           min(b.n_chars) AS n_chars
    FROM batch b
    WHERE b.fp NOT IN (SELECT fp FROM corpus)
    GROUP BY b.fp
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production shape at 100 TB: a
    new batch (doc_id % 10 == 0 stands in for today's crawl) is
    deduped against the EXISTING corpus digest table without ever
    re-scanning or re-shuffling corpus text. Two steps, both on
    128-bit digests only: (1) anti-join the batch's fingerprints
    against the corpus fingerprint set (digest column is all that
    ships — at scale the corpus side is a pre-materialized digest
    table, and a Bloom filter on it turns the anti-join into a
    map-side pre-filter); (2) collapse in-batch duplicates with the
    deterministic min(doc_id) representative. Corpus cost is
    O(|corpus digests|) per batch, not O(|corpus text|) — re-running
    q_dedup_exact over corpus+batch daily would re-shuffle 100 TB;
    this shuffles one day's digests.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fp"), "n_chars"
    )
    corpus_fps = docs.filter(F.col("doc_id") % 10 != 0).select("fp")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return (
        batch.join(corpus_fps, "fp", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .select("doc_id", "fp", "n_batch_copies", "n_chars")
    )


@register(
    "q_dedup_threshold_sweep",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[]))
              >= 0.5
    ),
    th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
    SELECT th.threshold,
           CAST(count(p.vec_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.vec_b) AS BIGINT) AS n_docs_dropped
    FROM th LEFT JOIN pairs p ON p.cos_sim >= th.threshold
    GROUP BY 1
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold CALIBRATION: how many near-dup pairs
    and dropped documents each cosine cutoff implies, in one pass over
    the exact blocked pair join (q_dedup_embedding's output, its 0.5
    gate bounding the sweep below). This is the measurement a pipeline
    owner reads before committing a threshold — the difference between
    0.7 and 0.9 is corpus volume, and guessing it is how over- and
    under-deduped training sets happen. The measure-don't-guess rule,
    applied to the knob itself.

    Scale: the expensive part (blocked exact pairs) runs ONCE; the
    sweep is a 5-row broadcast theta-join over the already-thresholded
    pair list plus a partial-aggregable conditional count. Zero-pair
    thresholds survive via the left join (a zero row is the answer,
    not an absence).
    """
    pairs = q_dedup_embedding(spark, sf_dir)
    th = spark.createDataFrame(
        [(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "threshold double"
    )
    j = th.join(
        pairs, F.col("cos_sim") >= F.col("threshold"), "left"
    )
    return j.groupBy("threshold").agg(
        F.count("vec_a").alias("n_pairs"),
        F.countDistinct("vec_b").alias("n_docs_dropped"),
    )


MHC_HASHES = 16  # md5-derived hash functions
MHC_BANDS = 4    # 4 bands x 4 rows; s-curve knee ~ (1/4)^(1/4) ~ 0.71
MHC_JACCARD = 0.5


@register(
    "q_dedup_minhash_md5",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS ws
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
        FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
    ),
    mh AS (
        SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || ':' || s)) AS h
        FROM sh, unnest(range(0, {MHC_HASHES})) AS t(i)
        GROUP BY doc_id, i
    ),
    sig AS (
        SELECT doc_id, i // {MHC_HASHES // MHC_BANDS} AS band,
               string_agg(h, '' ORDER BY i) AS sg
        FROM mh GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.sg = b.sg AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS ni
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 6)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= {MHC_JACCARD}
    """,
)
def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with ENGINE-PORTABLE hash functions: h_i(s) =
    md5(i || ':' || s) (the md5-family trick behind the 48-bit gate
    and priority sampling), 16 minhashes banded 4×4, candidate pairs
    from band-bucket equality, then EXACT Jaccard verification of
    candidates only. Unlike q_dedup_minhash_lsh (pyspark.ml seeded
    xxhash — rows-only by necessity), every stage here is
    reproducible in any engine, so the full banded pipeline sits
    under the oracle hash: candidate generation, the s-curve cut,
    and the verified pairs all certified cross-engine.

    Scale: shingling is map-side ngram_windows; the minhash aggregate
    is partial-aggregable min over (doc, i) — O(docs × 16) state;
    banding groups O(docs × 4) signature rows; pairs form only
    inside equal buckets (never all-pairs); exact verification
    touches candidates only. The LSH contract at 100 TB, now with a
    differential-testable spine.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower("text"), " "), lambda x: x != ""
    )
    zipped = ngram_windows(ws, 3)
    # sh feeds FOUR consumers (minhash build, both verify sides,
    # sizes) and sig feeds two (both banding sides) — truncate each
    # once; without this the trigram tokenize+distinct executes 4x
    # and the MHC_HASHES-per-shingle md5 signature build 2x
    # (round-13 optimization pass).
    sh = (
        docs.select("doc_id", F.explode(zipped).alias("g"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.col("g.0"), F.col("g.1"), F.col("g.2")
            ).alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    rows_per_band = MHC_HASHES // MHC_BANDS
    mh = (
        sh.select(
            "doc_id",
            "s",
            F.explode(F.sequence(F.lit(0), F.lit(MHC_HASHES - 1))).alias(
                "i"
            ),
        )
        .select(
            "doc_id",
            "i",
            F.md5(
                F.concat(F.col("i").cast("string"), F.lit(":"), F.col("s"))
            ).alias("h"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min("h").alias("h"))
    )
    sig = (
        mh.groupBy(
            "doc_id", (F.col("i") / rows_per_band).cast("int").alias("band")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "h"))),
                    lambda s: s["h"],
                ),
                "",
            ).alias("sg")
        )
        .localCheckpoint(eager=False)
    )
    cand = _bucket_pairs(sig, "doc_id", "doc_a", "doc_b", keys=("band", "sg"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "s"),
            ["doc_b", "s"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return _overlap_verify(
        inter, sizes, _union_size(), MHC_JACCARD, "jaccard", 6
    )


@register(
    "q_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, other) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.other
    ),
    clusters AS (
        SELECT doc AS doc_id, min(other) AS cluster_id
        FROM reach GROUP BY doc
    ),
    members AS (
        SELECT coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               d.doc_id, d.n_chars
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ),
    best AS (
        SELECT cluster_id, max(n_chars) AS keep_n_chars,
               count(*) AS n_members
        FROM members GROUP BY cluster_id
    )
    SELECT m.cluster_id,
           min(m.doc_id) AS keep_doc_id,
           b.keep_n_chars,
           b.n_members
    FROM members m
    JOIN best b ON m.cluster_id = b.cluster_id
              AND m.n_chars = b.keep_n_chars
    GROUP BY m.cluster_id, b.keep_n_chars, b.n_members
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup
    cluster keep the HIGHEST-quality member (longest n_chars,
    min doc_id on ties) instead of the blind min-id that
    q_dedup_pipeline uses — the curation rule real corpus pipelines
    want, since the longest copy of a boilerplate family is usually
    the least-truncated one. Singletons are their own cluster.

    Window-free argmax so it scales: per-cluster max(n_chars) is a
    map-side-combinable aggregate, the winner is recovered by an
    equi-join on (cluster_id, n_chars) and a min(doc_id) re-group —
    two bounded shuffles on cluster_id, no per-cluster sort, no
    global window. Cluster labels come from the bounded-iteration
    label propagation (q_dedup_clusters).
    """
    from ..registry import QUERIES

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clusters = QUERIES["q_dedup_clusters"](spark, sf_dir)
    members = docs.join(clusters, "doc_id", "left").select(
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "doc_id",
        "n_chars",
    )
    best = members.groupBy("cluster_id").agg(
        F.max("n_chars").alias("keep_n_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        members.withColumnRenamed("cluster_id", "m_cluster")
        .join(
            best,
            (F.col("m_cluster") == best.cluster_id)
            & (F.col("n_chars") == best.keep_n_chars),
        )
        .groupBy("cluster_id", "keep_n_chars", "n_members")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .select("cluster_id", "keep_doc_id", "keep_n_chars", "n_members")
    )


@register(
    "q_dedup_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, other) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.other
    ),
    clusters AS (
        SELECT doc AS doc_id, min(other) AS cluster_id
        FROM reach GROUP BY doc
    ),
    withsingles AS (
        SELECT coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ),
    fam_sizes AS (
        SELECT cluster_id, count(*) AS sz
        FROM withsingles GROUP BY cluster_id
    )
    SELECT least(sz, 10) AS family_size, count(*) AS n_families,
           CAST(sum(sz) AS BIGINT) AS n_docs
    FROM fam_sizes GROUP BY 1
    """,
)
def q_dedup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile of the corpus: histogram of near-dup
    family sizes (singletons included, 10+ folded into one tail
    bucket) with the doc count each bucket holds — the one-look
    "how duplicated is this corpus" summary a curator reads before
    choosing dedup aggressiveness, and the denominator behind
    q_dedup_pipeline's retention report (n_docs at family_size 1 is
    what survives maximal dedup unscathed).

    Scale: cluster labels come from the bounded-iteration label
    propagation; everything after is two map-side-combinable
    aggregates over O(docs) thin rows and a ≤10-bucket rollup.
    """
    from ..registry import QUERIES

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = QUERIES["q_dedup_clusters"](spark, sf_dir)
    sizes = (
        docs.join(clusters, "doc_id", "left")
        .select(F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return sizes.groupBy(
        F.least(F.col("sz"), F.lit(10)).alias("family_size")
    ).agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )


@register(
    "q_dedup_cross_source",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL}
    SELECT da.source AS source_a, db.source AS source_b,
           count(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE da.source <> db.source
    GROUP BY 1, 2
    """,
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndication detector: near-dup pairs whose two docs come from
    DIFFERENT sources, rolled up per (source_a, source_b) — the
    matrix that shows which feeds republish which (high cross-source
    counts mean paying twice for the same content and double-weighting
    it in training). Within-source duplication is q_dedup_size_histogram's
    story; this is the cross-feed slice of the same pair graph.

    Scale: reuses the registered jaccard pair generator (bounded
    inverted-index join); the source lookup is two thin equi-joins
    on doc_id against a two-column projection, and the matrix is
    ≤|sources|² groups. (The WITH RECURSIVE prefix in the oracle is
    inherited from the shared edge-CTE text; no recursion happens.)
    """
    from ..registry import QUERIES

    pairs = QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "q_mix_effective_counts",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           round(CAST(count(DISTINCT md5(text)) AS DOUBLE)
                 / count(*), 6) AS unique_frac
    FROM documents GROUP BY source
    """,
)
def q_mix_effective_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware mixture inputs: per source, raw doc count vs
    EFFECTIVE (exact-unique) count — the denominator a mixture
    planner must use instead of raw counts, because weighting a
    source by rows it mostly repeats over-samples its unique
    content (q_agg_largest_remainder / q_mix_temperature should
    consume n_unique, not n_docs; unique_frac is the discount).

    Scale: distinct is taken on the md5 DIGEST so the exact-distinct
    hash state holds 16-byte keys, never document text, grouped
    under the same source partitioning as the raw count — one scan,
    one shuffle of thin digests.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).cast("bigint").alias("n_unique"),
        F.round(
            F.count_distinct(F.md5("text")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("unique_frac"),
    )


KF_K = 5  # cross-validation folds


@register(
    "q_sample_kfold",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, other) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.doc, e.b FROM reach r JOIN edges e ON e.a = r.other
    ),
    cl AS (SELECT doc, min(other) AS cluster_id FROM reach GROUP BY doc),
    asg AS (
        SELECT d.doc_id, d.n_chars,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cl c ON c.doc = d.doc_id
    ),
    folded AS (
        SELECT doc_id, n_chars, cluster_id,
               CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                    1, 12)) AS BIGINT) % {KF_K} AS fold
        FROM asg
    ),
    viol AS (
        SELECT count(*) AS n
        FROM pairs p
        JOIN folded fa ON fa.doc_id = p.doc_a
        JOIN folded fb ON fb.doc_id = p.doc_b
        WHERE fa.fold <> fb.fold
    )
    SELECT CAST(fold AS INTEGER) AS fold,
           count(*) AS n_docs,
           count(DISTINCT cluster_id) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           (SELECT n FROM viol) AS n_leak_pairs
    FROM folded GROUP BY 1
    """,
)
def q_sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe K-fold cross-validation assignment — the
    generalization of q_split_leakage_safe from one train/val cut to
    {KF_K} rotating folds: the assignment unit is the near-dup
    CLUSTER (a paraphrase family can never straddle folds), and the
    fold is the 48-bit-md5 hash of the cluster id mod {KF_K} — the
    certified cross-engine hash gate, which unlike `cluster_id %% K`
    is invariant to how ids were allocated (sequential ids would put
    all early docs in the same folds). The output carries its own
    audit: n_leak_pairs counts near-dup pairs whose endpoints landed
    in different folds, and is STRUCTURALLY zero (fold is a function
    of cluster id; both endpoints share a cluster) — the certificate
    a CV harness checks before trusting per-fold eval numbers.

    Scale: cluster labels from the bounded label propagation
    (q_dedup_clusters), one left join of docs to the O(clustered)
    label table, a row-local hash — then counts. The leakage audit
    joins the O(near-dup pairs) edge list to the fold map twice —
    both tiny after the exact tier. Nothing here scans text.
    """
    docs = load_table(spark, sf_dir, "documents")
    # ONE evaluation of the jaccard pair graph feeds BOTH consumers
    # (the cluster labels and the leakage audit) — invoking
    # q_dedup_clusters and q_dedup_ngram_jaccard as separate
    # registered queries executed the full inverted-index pair join
    # twice (round-13 optimization pass; ~2x on this query's
    # dominant stage). localCheckpoint rather than persist: the
    # label-propagation loop needs the edge list materialized before
    # its first convergence count anyway.
    pairs = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    clusters = min_label_propagate(
        pairs, 20, pairs_materialized=True
    ).select(F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id"))
    fold = (
        md5_int(F.col("cluster_id").cast("string"), 1, 12).cast("bigint")
        % KF_K
    )
    # folded feeds three consumers (both sides of the leakage audit
    # and the per-fold census) — persist the thin 4-column frame.
    folded = (
        docs.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("fold", fold)
    )
    _LAST_KFOLD.persist(folded)
    fa = folded.select(
        F.col("doc_id").alias("doc_a"), F.col("fold").alias("fold_a")
    )
    fb = folded.select(
        F.col("doc_id").alias("doc_b"), F.col("fold").alias("fold_b")
    )
    viol = (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .filter(F.col("fold_a") != F.col("fold_b"))
        .agg(F.count(F.lit(1)).alias("n_leak_pairs"))
    )
    return (
        folded.groupBy(F.col("fold").cast("int").alias("fold"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(viol))
    )


# q_dedup_simhash_md5(_pairs) — VERDICT r07 item 4: md5 twins for the
# simhash tier (the q_dedup_minhash_md5 / q_sim_lsh_md5 recipe), so
# every approximate-dedup family now has a fully hash-certified
# variant. 60 bits, not 64: the signature packs 15 md5 hex chars, the
# widest prefix whose integer form fits POSITIVE int64 in both
# engines (16 chars would set the sign bit, and the engines disagree
# on signed-overflow semantics — Spark wraps, DuckDB errors).
SIMHASH_MD5_BITS = 60
SIMHASH_MD5_BANDS = 4          # 4 bands x 15 bits
SIMHASH_MD5_MAX_HAMMING = 3    # < bands, pigeonhole recall guarantee
_SIMHASH_MD5_SIG_SQL = f"""
    t AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    votes AS (
        SELECT doc_id,
               {", ".join(f"sum(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(SIMHASH_MD5_BITS))}
        FROM t GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               {" + ".join(f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END" for i in range(SIMHASH_MD5_BITS))}
                   AS simhash
        FROM votes
    )"""


def _simhash_md5_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        md5_int("tok", 1, 15).cast("bigint").alias("v"),
    )
    return _simhash(toks, SIMHASH_MD5_BITS)


@register(
    "q_dedup_simhash_md5",
    oracle=f"""
    WITH {_SIMHASH_MD5_SIG_SQL}
    SELECT doc_id, simhash FROM sig
    """,
)
def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with ENGINE-PORTABLE hashing — the md5-certified twin
    of q_dedup_simhash (xxhash64, rows-only by necessity): per token,
    a 60-bit vector from the first 15 md5 hex chars (bit-identical
    in Spark via conv(substr(md5,1,15),16,10) and DuckDB via
    ('0x'||substr)::BIGINT — the 48-bit-gate family, widened to the
    sign-safe maximum); per bit, the +-1 vote sum; per doc, majority
    bits packed into ONE positive int64. Every signature value sits
    under the oracle hash, certifying the exact kernel
    q_dedup_simhash runs (same tokenization, same vote/majority
    semantics, different hash family).

    Scale: identical to the xxhash64 tier — explode tokens, one md5
    + one conv per token row (JVM, codegen'd), then a single
    map-side-combinable groupBy carrying 60 int sums; no Python, no
    second shuffle. Signature state is O(docs).
    """
    return _simhash_md5_sigs(spark, sf_dir)


@register(
    "q_dedup_simhash_md5_pairs",
    oracle=f"""
    WITH {_SIMHASH_MD5_SIG_SQL},
    bands AS (
        SELECT doc_id, simhash, i AS band_idx,
               (simhash >> (15 * i)) & 32767 AS band_val
        FROM sig, unnest(range(0, {SIMHASH_MD5_BANDS})) AS t(i)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash))
              <= {SIMHASH_MD5_MAX_HAMMING}
    """,
)
def q_dedup_simhash_md5_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Manku-banded SimHash near-dup pairs on the md5 signature —
    the hash-certified twin of q_dedup_simhash_pairs: split the
    60-bit signature into 4 bands of 15 bits; Hamming distance <= 3
    forces exact agreement on >= 1 band (pigeonhole), so candidates
    come from a (band_idx, band_val) equi-self-join and only
    candidates pay the exact bit_count(xor) verify. Recall is exact
    by construction; with the md5 signature the whole pipeline —
    banding, candidate set, Hamming values — is value-compared
    cross-engine, completing md5 certification for every
    approximate-dedup tier (minhash r6, LSH r6, simhash now).

    Scale: the join key space is 4n band rows; hot band values are
    the skew to watch (stop-key capping as in the shingle index if
    a posting list explodes — unneeded at this signature entropy).
    Verify is codegen'd xor/popcount on int64.
    """
    # The signature build (60 conditional vote sums over exploded
    # tokens) feeds BOTH self-join sides — truncate it once
    # (round-13 optimization pass).
    sigs = _simhash_md5_sigs(spark, sf_dir).localCheckpoint(eager=False)
    return _hamming_pairs(
        sigs, "simhash", SIMHASH_MD5_BANDS, 15, SIMHASH_MD5_MAX_HAMMING,
        hamming_type="long",
    )


# --- Sign-random-projection (hyperplane) LSH over embeddings --------
# The SEMANTIC scale tier of near-dup detection: q_dedup_embedding is
# the exact O(n²) anchor; SRP buckets candidates with O(n) index work
# (the embedding-space twin of the token-space simhash banding above).
# 16 md5-derived ±1 hyperplanes → 16 sign bits → 4 bands × 4 bits.
# Two vectors at angle θ agree on one sign bit with p = 1 − θ/π
# (Goemans–Williamson), so a pair at the cos ≥ 0.4 verify threshold
# (θ ≤ 66.4°, p ≥ 0.631) shares at least one band with probability
# ≈ 1 − (1 − p⁴)⁴ ≈ 0.50 — and a true near-twin at cos 0.95 at ≈ 0.97.
# q_dedup_srp_cert MEASURES both sides of that trade (recall and
# candidate fraction) under the oracle hash. Production sizes the
# signature to the corpus: 64–128 planes in 16–32-bit bands keep
# expected bucket occupancy O(1) at any n; the plan shape (explode
# bands, equi-self-join, verify survivors) is unchanged.
import hashlib as _hashlib

_SRP_DIM = 64
_SRP_PLANES = 16
_SRP_BAND_BITS = 4
_SRP_BANDS = _SRP_PLANES // _SRP_BAND_BITS
SRP_COS_THRESHOLD = 0.4
# ±1 plane entries from md5 parity — frozen identically into the Spark
# plan and the generated oracle SQL (the q_sim_lsh_md5 recipe; sign
# decisions are bit-identical because both engines fold the dot
# product left-to-right over the same literals).
_SRP_COEFS = [
    [
        1.0
        if int(_hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[0], 16) % 2
        == 0
        else -1.0
        for i in range(_SRP_DIM)
    ]
    for p in range(_SRP_PLANES)
]


def _srp_sig_sql() -> str:
    terms = []
    for p, coefs in enumerate(_SRP_COEFS):
        arr = "[" + ", ".join(f"CAST({c} AS DOUBLE)" for c in coefs) + "]"
        terms.append(
            f"(CASE WHEN list_inner_product(e, {arr}) >= 0"
            f" THEN (CAST(1 AS BIGINT) << {p}) ELSE 0 END)"
        )
    return " + ".join(terms)


# Hot-bucket occupancy cap (VERDICT r09 item 3) — the banded join's
# skew guard, same role as the shingle index's stop-shingle df_cap: a
# band bucket holding > cap members contributes cap²-ish candidate
# pairs while carrying almost no dedup signal (mass near a hyperplane
# intersection — or an adversarial corpus aimed at one). Buckets over
# the cap are DROPPED WHOLE (stop-bucket eviction; deterministic and
# mirrored verbatim in the oracle CTE below). 512 is sized to never
# trigger at certification scales (measured max occupancy: 51 at
# sf 0.01, 209 at sf 0.1 — the recall certificate is unchanged) while
# bounding the x8+ rehearsal's n²-per-bucket verify growth; with
# production-width 16–32-bit bands expected occupancy is O(1) and the
# cap only ever fires on adversarial/degenerate data.
_SRP_BUCKET_CAP = 512

_SRP_CAND_CTES = f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
    sig AS (SELECT vec_id, {{sig_expr}} AS sig FROM e),
    bands AS (
        SELECT vec_id, i AS band_idx,
               (sig >> ({_SRP_BAND_BITS} * i)) & {2 ** _SRP_BAND_BITS - 1}
                   AS band_val
        FROM sig, unnest(range(0, {_SRP_BANDS})) AS t(i)
    ),
    kept AS (
        SELECT vec_id, band_idx, band_val
        FROM (SELECT b.*,
                     count(*) OVER (PARTITION BY band_idx, band_val)
                         AS occ
              FROM bands b)
        WHERE occ <= {_SRP_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM kept a JOIN kept b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.vec_id < b.vec_id
    )"""


def _srp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )

    def dot_lit(coefs: list) -> F.Column:
        arr = F.array(*[F.lit(c) for c in coefs])
        return F.aggregate(
            F.zip_with("e", arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig = _pack_bits([dot_lit(c) >= 0 for c in _SRP_COEFS])
    return emb.select("vec_id", "e", sig.alias("sig"))


def _srp_candidates_from_sigs(
    sigs: DataFrame, cap: int = _SRP_BUCKET_CAP
) -> DataFrame:
    """Banded candidate pairs from a (vec_id, sig) frame, with the
    stop-bucket occupancy cap applied before the self-join. The
    occupancy count is a window over the join key itself, so the cap
    costs no extra shuffle — bands are already hash-partitioned by
    (band_idx, band_val) for the equi-join."""
    bands = _bands(sigs, "vec_id", "sig", _SRP_BANDS, _SRP_BAND_BITS)
    w_bucket = W.partitionBy("band_idx", "band_val")
    # kept feeds BOTH self-join sides — truncate so the signature
    # build + occupancy window run once (round-13 optimization pass).
    kept = (
        bands.withColumn("occ", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("occ") <= cap)
        .drop("occ")
        .localCheckpoint(eager=False)
    )
    return _bucket_pairs(kept, "vec_id", "vec_a", "vec_b")


def _srp_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _srp_candidates_from_sigs(_srp_signatures(spark, sf_dir))


@register(
    "q_dedup_srp_pairs",
    oracle=f"""
    WITH {_SRP_CAND_CTES.format(sig_expr=_srp_sig_sql())}
    SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(ea.e, eb.e), 6) AS cos_sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE round(list_cosine_similarity(ea.e, eb.e), 6)
              >= {SRP_COS_THRESHOLD}
    """,
)
def q_dedup_srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via sign-random-projection LSH —
    the scale path q_dedup_embedding (exact, O(n²)) is traded against:
    candidates come only from the banded signature self-join, and only
    candidates pay the exact-cosine verify (vectorized Arrow batch,
    one BLAS dot per pair). Recall < 1 by construction; the companion
    q_dedup_srp_cert measures it under the same oracle hash. The
    verify thresholds on the ROUNDED cosine in both engines (repo
    round-before-compare rule).

    Scale: band rows are {_SRP_BANDS}n; the self-join is an equi-join
    whose cost is Σ(bucket²) per band — with production-width bands
    (16–32 bits) expected occupancy is O(1) and the join is linear;
    hot buckets (mass near a hyperplane intersection) are evicted by
    the _SRP_BUCKET_CAP stop-bucket guard inside _srp_candidates, the
    same skew control as the shingle index's stop keys. The verify
    joins fetch vectors per-candidate (equi-joins on vec_id), never a
    corpus-wide float shuffle. The verify UDF is marked
    non-deterministic so Catalyst cannot push the threshold filter
    back through the projection and evaluate the Arrow batch twice —
    the plan carries exactly ONE ArrowEvalPython (plan-pinned in
    tests/test_dedup_srp.py).
    """
    from pyspark.sql.functions import pandas_udf

    def _cos(ea: pd.Series, eb: pd.Series) -> pd.Series:
        A = np.asarray(ea.tolist(), dtype=np.float64)
        B = np.asarray(eb.tolist(), dtype=np.float64)
        if not len(A):
            return pd.Series(dtype="float64")
        ip = (A * B).sum(axis=1)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        return pd.Series(np.round(ip / (na * nb), 6))

    # asNondeterministic is a pure plan fence here: _cos IS
    # deterministic, but declaring it so lets Catalyst substitute the
    # filter through the select and run the Arrow verify twice
    # (measured: 2× ArrowEvalPython nodes). Single eval, then filter
    # on the materialized column.
    cos_udf = pandas_udf(_cos, "double").asNondeterministic()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cand = _srp_candidates(spark, sf_dir)
    paired = (
        cand.join(
            emb.select(
                F.col("vec_id").alias("vec_a"), F.col("e").alias("ea")
            ),
            "vec_a",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("vec_b"), F.col("e").alias("eb")
            ),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b", cos_udf(F.col("ea"), F.col("eb")).alias(
                "cos_sim"
            )
        )
    )
    return paired.filter(F.col("cos_sim") >= SRP_COS_THRESHOLD)


@register(
    "q_dedup_srp_cert",
    oracle=f"""
    WITH {_SRP_CAND_CTES.format(sig_expr=_srp_sig_sql())},
    exact AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6)
                  >= {SRP_COS_THRESHOLD}
    ),
    n AS (SELECT count(*) AS n_vectors FROM e),
    ce AS (SELECT count(*) AS n_exact_pairs FROM exact),
    cc AS (SELECT count(*) AS n_candidate_pairs FROM cand),
    fo AS (SELECT count(*) AS n_found
           FROM exact x JOIN cand c
             ON c.vec_a = x.va AND c.vec_b = x.vb)
    SELECT n.n_vectors, ce.n_exact_pairs, cc.n_candidate_pairs,
           fo.n_found,
           round(CAST(fo.n_found AS DOUBLE)
                 / nullif(ce.n_exact_pairs, 0), 4) AS recall,
           round(CAST(cc.n_candidate_pairs AS DOUBLE)
                 / nullif(CAST(n.n_vectors AS DOUBLE)
                          * (n.n_vectors - 1) / 2.0, 0.0), 6)
               AS candidate_frac
    FROM n, ce, cc, fo
    """,
)
def q_dedup_srp_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SRP-LSH cost/quality certificate: recall of the exact
    cos ≥ SRP_COS_THRESHOLD pair set (q_dedup_embedding's blocked-BLAS
    anchor at the same threshold) inside the banded candidate set, and the
    candidate fraction of all n(n−1)/2 pairs — both hash-certified.
    On this isotropic corpus the threshold-grazing pairs sit near
    θ = 66°, where 4×4-bit banding recalls ≈ 0.5 (the header math);
    a REAL near-dup population (cos ≥ 0.9) recalls ≈ 0.97 with the
    same index. That honesty is the point: the certificate is the
    tuning instrument for plane/band counts, not a vanity metric.

    Scale: the exact side is the one O(n²) stage — at production it
    is sampled (certify on a fixed-size probe stratum), exactly as
    q_sim_ivfpq_recall's docstring prescribes; the candidate and
    index sides stay linear.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # exact (the O(n²) blocked-BLAS anchor) and cand each feed TWO
    # consumers (their count + the recall join) — truncate both so
    # the expensive sides run once (round-13 optimization pass).
    exact = (
        _embedding_pairs_blocked(spark, sf_dir, SRP_COS_THRESHOLD)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    cand = _srp_candidates(spark, sf_dir).localCheckpoint(eager=False)
    n = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    ce = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    cc = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    fo = exact.join(cand, ["vec_a", "vec_b"]).agg(
        F.count(F.lit(1)).alias("n_found")
    )
    all_pairs = F.col("n_vectors").cast("double") * (
        F.col("n_vectors") - 1
    ) / F.lit(2.0)
    return (
        n.crossJoin(F.broadcast(ce))
        .crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(fo))
        .select(
            "n_vectors",
            "n_exact_pairs",
            "n_candidate_pairs",
            "n_found",
            F.round(
                F.col("n_found").cast("double")
                / F.when(
                    F.col("n_exact_pairs") == 0, F.lit(None)
                ).otherwise(F.col("n_exact_pairs")),
                4,
            ).alias("recall"),
            F.round(
                F.col("n_candidate_pairs").cast("double")
                / F.when(all_pairs == 0, F.lit(None)).otherwise(all_pairs),
                6,
            ).alias("candidate_frac"),
        )
    )
