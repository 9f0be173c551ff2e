"""Text analysis: tokenization, trending terms, quality, fingerprints.

`q_text_trending` is the flagship: the reference's whole dataflow —
parse → explode → blacklist filter → case-folded count → top-5
(reference: SparkApplication.scala:63-95, Hashtag.scala:11-17) —
transplanted onto the `documents` corpus as one declarative plan.
Catalyst plans the top-5 as TakeOrderedAndProject (distributed per-
partition top-k + driver merge), replacing the reference's full
sortByKey + take(5) (SparkApplication.scala:90-93).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import LastHandle, md5_int, ngram_windows

# Supersession holder for q_text_tfidf's persisted tf aggregate.
_LAST_TFIDF = LastHandle()

# Trending-query stopword blacklist — the engine analogue of the
# reference's WORD_BLACKLIST {europe, europa, eu, euro}
# (SparkApplication.scala:29,77): case-insensitive NOT-IN over terms.
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def tokens(
    documents: DataFrame, keys=("doc_id",), lower: bool = False
) -> DataFrame:
    """documents -> one row per (*keys, term): the whitespace tokenizer,
    `text` split on single spaces (case-folded first when `lower`),
    empty terms dropped.

    ≙ reference flatMap over entities.hashtags[].text
    (SparkApplication.scala:66-85): explode drops null/empty arrays,
    matching the "tweet without entities contributes nothing" rule.
    Operators whose oracle counts the empty terms that runs of spaces
    leave (q_text_langid, q_text_code_detect, the heavy hitters) split
    without this filter.
    """
    text = F.lower(F.col("text")) if lower else F.col("text")
    return documents.select(
        *keys, F.explode(F.split(text, " ")).alias("term")
    ).filter(F.col("term") != "")


def trending_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k case-folded terms after blacklist filtering.

    The deterministic upgrade over the reference: ties broken by term
    (reference sorts by count only, SparkApplication.scala:90), and
    case-insensitivity via lower() instead of the equality-by-hashCode
    quirk (Hashtag.scala:15-17 — classified as a bug, SURVEY.md §1.2).
    """
    return (
        tokens(documents)
        .filter(~F.lower(F.col("term")).isin(*STOPWORDS))
        .groupBy(F.lower(F.col("term")).alias("term"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(k)
    )


@register(
    "q_text_trending",
    oracle=f"""
    SELECT lower(term) AS term, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE term <> '' AND lower(term) NOT IN ({_STOP_SQL})
    GROUP BY 1
    ORDER BY cnt DESC, term ASC
    LIMIT 5
    """,
)
def q_text_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trending_terms(load_table(spark, sf_dir, "documents"), k=5)


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT term, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    WHERE term <> '' AND term NOT IN ({_STOP_SQL})
    GROUP BY term
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full term-frequency table (no limit) — the R3–R6 composition."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        tokens(docs)
        .filter(~F.col("term").isin(*STOPWORDS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_text_trending_by_source",
    oracle=f"""
    SELECT source, term, cnt, rn
    FROM (
        SELECT source, term, cnt,
               row_number() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, term ASC) AS rn
        FROM (
            SELECT source, term, count(*) AS cnt
            FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                  FROM documents)
            WHERE term <> '' AND term NOT IN ({_STOP_SQL})
            GROUP BY source, term
        )
    )
    WHERE rn <= 5
    """,
)
def q_text_trending_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source — the per-group generalization of the
    reference's global top-5 (R8/R9). Catalyst 3.5+ rewrites the
    rn<=k filter into WindowGroupLimit (partial top-k before shuffle).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        tokens(docs, ["source"])
        .filter(~F.col("term").isin(*STOPWORDS))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("source").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "source", "term", "cnt", F.col("rn").cast("long").alias("rn")
        )
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(length(term)), 4) AS avg_token_len,
           round(1.0 * count(*) FILTER (WHERE term IN ({_STOP_SQL}))
                 / count(*), 4) AS stopword_ratio
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    stopword ratio — the heuristics an LLM-corpus filter runs first.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(docs)
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("term")), 4).alias("avg_token_len"),
        F.round(
            F.sum(F.when(F.col("term").isin(*STOPWORDS), 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("stopword_ratio"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
               AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text.
    The content-addressing primitive under exact dedup at 100 TB
    (hash once, group by 128-bit key instead of full text).
    """
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""))
    return docs.select("doc_id", F.md5(normalized).alias("fingerprint"))


# Tiny per-language marker lexicons for the language-ID heuristic.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "es": ("el", "la", "que", "es"),
    "fr": ("le", "la", "et", "est"),
}


def _lang_hit_cols() -> list:
    """One h_<lang> conditional-count aggregate per marker lexicon —
    the shared hit columns of q_text_langid and q_text_prep_pipeline.
    """
    return [
        F.sum(F.when(F.col("term").isin(*ws), 1).otherwise(0)).alias(
            f"h_{lang}"
        )
        for lang, ws in _LANG_MARKERS.items()
    ]


def _lang_h():
    return {lang: F.col(f"h_{lang}") for lang in _LANG_MARKERS}


def _is_en_predicate():
    """The 'keep English' gate: some marker hit AND en wins the
    priority-ordered tie rule (en > de > es > fr)."""
    h = _lang_h()
    return (
        ~((h["en"] == 0) & (h["de"] == 0) & (h["es"] == 0) & (h["fr"] == 0))
        & (h["en"] >= h["de"])
        & (h["en"] >= h["es"])
        & (h["en"] >= h["fr"])
    )


def _bpe_est(col: str = "text") -> F.Column:
    """bytes/4 LLM-token estimate (shared by q_text_tokencount and
    q_text_prep_pipeline)."""
    return F.ceil(F.octet_length(col) / 4.0)


def _hit_sql(ws) -> str:
    return (
        f"count(*) FILTER (WHERE term IN "
        f"({', '.join(repr(w) for w in ws)}))"
    )


def _lang_case_sql() -> str:
    hits = {lang: _hit_sql(ws) for lang, ws in _LANG_MARKERS.items()}
    # Deterministic tie rule: fixed priority order en > de > es > fr,
    # 'und' (undetermined) when no marker hits at all.
    return f"""
    SELECT doc_id,
           CASE
             WHEN {hits['en']} = 0 AND {hits['de']} = 0
                  AND {hits['es']} = 0 AND {hits['fr']} = 0 THEN 'und'
             WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['es']}
                  AND {hits['en']} >= {hits['fr']} THEN 'en'
             WHEN {hits['de']} >= {hits['es']} AND {hits['de']} >= {hits['fr']}
                  THEN 'de'
             WHEN {hits['es']} >= {hits['fr']} THEN 'es'
             ELSE 'fr'
           END AS lang_guess
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
    GROUP BY doc_id
    """


# Tiny sentiment lexicons over the corpus vocabulary (the pattern of
# "Large Scale Sentiment Analysis on Twitter with Spark", EDBT 2016 —
# lexicon join + per-key aggregate, PAPERS.md).
POS_WORDS = ("fast", "small", "good")
NEG_WORDS = ("slow", "big", "bad")


@register(
    "q_text_sentiment",
    oracle=f"""
    SELECT source,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           round(1.0 * (sum(pos) - sum(neg)) / sum(n), 6) + 0.0 AS sentiment
    FROM (
        SELECT source,
               count(*) FILTER (WHERE term IN
                   ({', '.join(repr(w) for w in POS_WORDS)})) AS pos,
               count(*) FILTER (WHERE term IN
                   ({', '.join(repr(w) for w in NEG_WORDS)})) AS neg,
               count(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY source
    )
    GROUP BY source, pos, neg, n
    """,
)
def q_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment per source: tokenize once, conditional counts
    per group, score = (pos-neg)/tokens — a single map-side-combinable
    aggregation, no joins (the lexicons fold into the expression).
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = tokens(docs, ["source"]).groupBy("source").agg(
        F.sum(F.when(F.col("term").isin(*POS_WORDS), 1).otherwise(0)).alias(
            "n_pos"
        ),
        F.sum(F.when(F.col("term").isin(*NEG_WORDS), 1).otherwise(0)).alias(
            "n_neg"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        F.round((F.col("n_pos") - F.col("n_neg")) / F.col("n"), 6).alias(
            "sentiment"
        ),
    )


@register(
    "q_text_tokencount",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(len(string_split_regex(text, '[^a-z0-9]+')) AS INTEGER)
               AS n_re_tokens,
           CAST(ceil(strlen(text) / 4.0) AS INTEGER) AS n_bpe_est
    FROM documents
    """,
)
def q_text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex
    split (alnum runs), and the bytes/4 LLM-token estimate — the
    per-document budget columns a training-data pipeline filters on.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.split("text", "[^a-z0-9]+")).alias("n_re_tokens"),
        _bpe_est().cast("int").alias("n_bpe_est"),
    )


@register(
    "q_text_ngrams",
    oracle="""
    SELECT bigram, count(*) AS cnt
    FROM (
        SELECT term || ' ' || lead(term) OVER (PARTITION BY doc_id
                                               ORDER BY pos) AS bigram
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS term,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        )
    )
    WHERE bigram IS NOT NULL
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams: shingling via util.ngram_windows, count,
    deterministic top-k. A 1-token doc has no window, so no guard row
    is needed."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(ngram_windows(F.split("text", " "), 2)).alias("pr")
        )
        .select(F.concat_ws(" ", "pr.0", "pr.1").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@register("q_text_langid", oracle=_lang_case_sql())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic — entirely JVM-side
    (conditional count aggregation), no Python in the loop.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    agg = t.groupBy("doc_id").agg(*_lang_hit_cols())
    h = _lang_h()
    guess = (
        F.when(
            (h["en"] == 0) & (h["de"] == 0) & (h["es"] == 0) & (h["fr"] == 0),
            F.lit("und"),
        )
        .when(_is_en_predicate(), F.lit("en"))
        .when((h["de"] >= h["es"]) & (h["de"] >= h["fr"]), F.lit("de"))
        .when(h["es"] >= h["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return agg.select("doc_id", guess.alias("lang_guess"))


@register(
    "q_text_tfidf",
    oracle=f"""
    SELECT doc_id, term, score, rn
    FROM (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rn
        FROM (
            SELECT t.doc_id, t.term,
                   round((1.0 * t.cnt / dl.len)
                         * ln(1.0 * (SELECT count(DISTINCT doc_id)
                                     FROM (SELECT doc_id,
                                                  unnest(string_split(text, ' ')) AS term
                                           FROM documents)
                                     WHERE term <> ''
                                       AND term NOT IN ({_STOP_SQL}))
                              / df.df), 6) AS score
            FROM (
                SELECT doc_id, term, count(*) AS cnt
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents)
                WHERE term <> '' AND term NOT IN ({_STOP_SQL})
                GROUP BY doc_id, term
            ) t
            JOIN (
                SELECT doc_id, count(*) AS len
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents)
                WHERE term <> '' AND term NOT IN ({_STOP_SQL})
                GROUP BY doc_id
            ) dl ON t.doc_id = dl.doc_id
            JOIN (
                SELECT term, count(DISTINCT doc_id) AS df
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents)
                WHERE term <> '' AND term NOT IN ({_STOP_SQL})
                GROUP BY term
            ) df ON t.term = df.term
        )
    )
    WHERE rn <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-3 terms per doc. The corpus is tokenized and
    aggregated to (doc, term) counts EXACTLY ONCE; doc length and
    doc frequency both derive from that tf aggregate (dl = Σcnt per
    doc — identical exchange subtree, deduplicated by ReusedExchange;
    df = rows per term — tiny, broadcast back; N = one more rollup of
    dl, kept lazy as a scalar cross-join so the whole query is one
    plan). Ranking uses the ROUNDED score so an ulp difference in
    ln() between engines cannot flip the order; term is the tiebreak.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(docs).filter(~F.col("term").isin(*STOPWORDS))
    # tf feeds four consumers with DIFFERENT column pruning, so
    # ReusedExchange can't canonicalize them together (verified on
    # the physical plan: 4 scans without this). Persisting the small
    # (doc, term, cnt) aggregate collapses the corpus tokenization to
    # one pass — the standard materialize-token-counts step.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    _LAST_TFIDF.persist(tf)
    dl = tf.groupBy("doc_id").agg(F.sum("cnt").alias("len"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = dl.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        (F.col("cnt") / F.col("len"))
        * F.log(F.col("n_docs").cast("double") / F.col("df")),
        6,
    ).alias("score")
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", score)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id", "term", "score", F.col("rn").cast("long").alias("rn")
        )
    )


@register(
    "q_text_cooccur",
    oracle=f"""
    SELECT term_a, term_b, n
    FROM (
        SELECT a.term AS term_a, b.term AS term_b, count(*) AS n
        FROM (SELECT DISTINCT doc_id, term
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents)
              WHERE term <> '' AND term NOT IN ({_STOP_SQL})) a
        JOIN (SELECT DISTINCT doc_id, term
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents)
              WHERE term <> '' AND term NOT IN ({_STOP_SQL})) b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
    )
    ORDER BY n DESC, term_a, term_b
    LIMIT 20
    """,
)
def q_text_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-occurring term pairs (document-level). The pair join
    is per-doc (join key doc_id), so cost is Σ k_d² over per-doc
    distinct-term counts — bounded by short docs, never n². At corpus
    scale the standard guard is a doc-frequency cap on terms before
    pairing (as in q_dedup_ngram_jaccard's stop-shingle cap).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(docs).filter(~F.col("term").isin(*STOPWORDS)).distinct()
    a = toks.alias("a")
    b = toks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.orderBy(F.desc("n"), "term_a", "term_b").limit(20)


def _prep_hits_sql() -> str:
    """SQL twin of _lang_hit_cols (same h_<lang> aliases)."""
    return ", ".join(
        f"{_hit_sql(ws)} AS h_{lang}"
        for lang, ws in _LANG_MARKERS.items()
    )


def _quality_gate(docs: DataFrame) -> DataFrame:
    """The curation quality gate: `docs` joined with its per-doc
    token metrics (n_tokens, stop_ratio, h_<lang>), kept when the
    language-ID says en, stop_ratio <= 0.5 and the doc has 10..500
    tokens. q_text_prep_pipeline and dedup.funnel_stages each project
    their own columns from it."""
    metrics = tokens(docs).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.sum(F.when(F.col("term").isin(*STOPWORDS), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("stop_ratio"),
        *_lang_hit_cols(),
    )
    return docs.join(metrics, "doc_id").filter(
        _is_en_predicate()
        & (F.col("stop_ratio") <= 0.5)
        & F.col("n_tokens").between(10, 500)
    )


@register(
    "q_text_prep_pipeline",
    oracle=f"""
    WITH metrics AS (
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
    kept AS (
        SELECT d.doc_id, d.source,
               CAST(ceil(strlen(d.text) / 4.0) AS BIGINT) AS bpe,
               m.n_tokens
        FROM documents d JOIN metrics m ON d.doc_id = m.doc_id
        WHERE NOT (m.h_en = 0 AND m.h_de = 0 AND m.h_es = 0 AND m.h_fr = 0)
          AND m.h_en >= m.h_de AND m.h_en >= m.h_es AND m.h_en >= m.h_fr
          AND m.stop_ratio <= 0.5
          AND m.n_tokens BETWEEN 10 AND 500
    )
    SELECT r.source, r.n_raw,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.avg_tokens, 0.0) AS avg_tokens,
           coalesce(k.total_bpe, 0) AS total_bpe
    FROM (SELECT source, count(*) AS n_raw FROM documents
          GROUP BY source) r
    LEFT JOIN (SELECT source, count(*) AS n_kept,
                      round(avg(n_tokens), 4) AS avg_tokens,
                      CAST(sum(bpe) AS BIGINT) AS total_bpe
               FROM kept GROUP BY source) k ON r.source = k.source
    """,
)
def q_text_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text-preparation composite — the filter chain an
    LLM corpus runs before tokenization: language-ID gate (keep 'en'
    by the marker heuristic), quality gate (stopword ratio <= 0.5),
    token-budget gate (10..500 whitespace tokens), then a per-source
    retention + token-budget report. ONE tokenized aggregation feeds
    every per-doc metric (same exchange), the doc join is by key, and
    the report is a partial-aggregable rollup — the whole chain is
    two shuffles at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    kept = _quality_gate(docs).select(
        "source",
        "n_tokens",
        _bpe_est().cast("long").alias("bpe"),
    )
    raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    rep = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.sum("bpe").alias("total_bpe"),
    )
    return raw.join(rep, "source", "left").select(
        "source",
        "n_raw",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("avg_tokens", F.lit(0.0)).alias("avg_tokens"),
        F.coalesce("total_bpe", F.lit(0)).alias("total_bpe"),
    )


_EMAIL = r"[a-z0-9._]+@[a-z0-9.]+"


def _redact(col: F.Column) -> F.Column:
    """`col` with email and phone-number matches replaced by
    placeholder tokens: the PII scrub of q_text_redact and the
    pipeline runner's `redact` stage."""
    return F.regexp_replace(
        F.regexp_replace(col, _EMAIL, "<EMAIL>"),
        r"\b\d{3}[- ]\d{4}\b",
        "<PHONE>",
    )


@register(
    "q_text_redact",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(
               regexp_replace(text,
                   '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '\b\d{3}[- ]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5,
           CAST(len(regexp_extract_all(text,
                   '[a-z0-9._]+@[a-z0-9.]+')) AS INTEGER) AS n_emails
    FROM documents
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (email/phone patterns → placeholder tokens)
    — a standard pre-training scrub, entirely JVM-side regexp over
    the corpus; output is digest-compared so the oracle certifies the
    full redacted text, not a sample.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(_redact(F.col("text"))).alias("redacted_md5"),
        F.size(
            F.regexp_extract_all("text", F.lit(_EMAIL), 0)
        ).alias("n_emails"),
    )


PACK_BUDGET = 2048  # tokens per training shard


@register(
    "q_text_pack_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      CAST(length(string_split(text, ' ')) AS INTEGER)
                          AS n_tokens
               FROM documents)
    SELECT doc_id, source, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY source
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
                       - n_tokens) / {PACK_BUDGET}) AS INTEGER) AS shard_id
    FROM t
    """,
)
def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: assign each document to
    a fixed-token-budget shard by its starting offset in the
    per-source cumulative token stream (greedy concatenation order =
    doc_id). One window pass — the shuffle partitions by source, so
    at 100 TB each source's stream packs independently and in
    parallel; no driver-side bin packing.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET)
        .cast("int")
        .alias("shard_id"),
    )


@register(
    "q_text_edit_distance",
    oracle="""
    SELECT doc_id,
           levenshtein(substring(text, 1, 30),
                       'the quick brown fox jumps over') AS lev
    FROM documents
    ORDER BY lev, doc_id
    LIMIT 10
    """,
)
def q_text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance against a probe string (bounded to a
    30-char prefix: edit distance is O(len^2) per row — at 100 TB you
    band by length / prefix first, never run full-text DP). JVM
    codegen'd, no UDF; deterministic top-10 via TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.levenshtein(
                F.substring("text", 1, 30),
                F.lit("the quick brown fox jumps over"),
            )
            .cast("long")
            .alias("lev"),
        )
        .orderBy("lev", "doc_id")
        .limit(10)
    )


@register(
    "q_text_vocab_coverage",
    oracle="""
    WITH tc AS (
        SELECT term, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY term
    ),
    ranked AS (
        SELECT term, n,
               CAST(row_number() OVER (ORDER BY n DESC, term) AS INTEGER)
                   AS rank,
               sum(n) OVER (ORDER BY n DESC, term
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
               sum(n) OVER () AS total
        FROM tc
    )
    SELECT rank, term, n, round(1.0 * cum / total, 6) AS cum_share
    FROM ranked
    WHERE rank <= 50
    """,
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: cumulative share of corpus tokens
    captured by the top-k terms — the metric that sizes a tokenizer
    vocab. The explode+count collapses the corpus to O(vocab) rows
    before the unpartitioned ranking windows, so the single-partition
    sort handles vocab-sized data (~1M rows even at 100 TB), never
    the token stream itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        tokens(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = W.orderBy(F.desc("n"), F.asc("term"))
    w_cum = w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    ranked = tc.select(
        F.row_number().over(w_rank).alias("rank"),
        "term",
        "n",
        F.round(
            F.sum("n").over(w_cum) / F.sum("n").over(w_all), 6
        ).alias("cum_share"),
    )
    return ranked.filter(F.col("rank") <= 50)


def _word_ngrams(arr: F.Column, n: int) -> F.Column:
    """Word n-gram array (as space-joined strings) of the array column
    `arr`: util.ngram_windows, each window concatenated. Documents
    shorter than n give an empty array."""
    return F.transform(
        ngram_windows(arr, n),
        lambda g: F.concat_ws(" ", *[g[str(i)] for i in range(n)]),
    )


@register(
    "q_text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a
                  FROM documents),
    base AS (SELECT doc_id, len(a) AS n_words,
                    len(list_distinct(a)) AS n_distinct
             FROM toks),
    bg AS (
        SELECT doc_id,
               term || ' ' || lead(term) OVER (PARTITION BY doc_id
                                               ORDER BY pos) AS bigram
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS term,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents
        )
    ),
    bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg
            WHERE bigram IS NOT NULL GROUP BY 1, 2),
    bgm AS (SELECT doc_id, max(c) AS max_bg FROM bgc GROUP BY 1)
    SELECT base.doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           round(1.0 - 1.0 * n_distinct / n_words, 6) AS dup_word_frac,
           CASE WHEN n_words > 1
                THEN round(1.0 * coalesce(max_bg, 0) / (n_words - 1), 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM base LEFT JOIN bgm ON base.doc_id = bgm.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    duplicated-word fraction (1 - distinct/total) and the share of
    bigram slots taken by the single most repeated bigram — the
    filters that catch boilerplate and degenerate generations in a
    training corpus. Both signals aggregate per doc_id with map-side
    partial aggregation; the bigram side collapses to O(distinct
    bigrams per doc) before its max, so the shuffle carries counts,
    never the token stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    base = docs.select(
        "doc_id",
        F.size(arr).alias("n_words"),
        F.size(F.array_distinct(arr)).alias("n_distinct"),
    )
    bgm = (
        docs.select(
            "doc_id", F.explode(_word_ngrams(arr, 2)).alias("bigram")
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"))
    )
    return base.join(bgm, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.round(
            1.0 - F.col("n_distinct") / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.when(
            F.col("n_words") > 1,
            F.round(
                F.coalesce(F.col("max_bg"), F.lit(0))
                / (F.col("n_words") - 1),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


DECON_N = 4          # shingle width: wide enough to mean real overlap,
                     # narrow enough that this corpus has hits to audit
DECON_BENCH_MOD = 100  # doc_id % MOD == 0 plays the held-out benchmark


def _decon_grams() -> F.Column:
    """The word-DECON_N-gram array of `text`: the one shingle
    expression of q_text_decontaminate, q_training_export_full's
    contamination gate and s_decontaminate."""
    return _word_ngrams(F.split("text", " "), DECON_N)


@register(
    "q_text_decontaminate",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   t.term || ' ' || lead(t.term, 1) OVER w || ' '
                          || lead(t.term, 2) OVER w || ' '
                          || lead(t.term, 3) OVER w AS shingle
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
    b AS (SELECT DISTINCT shingle FROM g
          WHERE doc_id % {DECON_BENCH_MOD} = 0),
    c AS (SELECT doc_id, shingle FROM g
          WHERE doc_id % {DECON_BENCH_MOD} <> 0)
    SELECT c.doc_id, count(*) AS n_shared
    FROM c JOIN b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-4-gram with a held-out benchmark set (here: doc_id %
    {mod} == 0 stands in for the eval suite). The benchmark shingle
    set is DISTINCT'd and broadcast — the scale shape, since the
    benchmark side is always tiny next to a 100 TB corpus — so the
    corpus-side scan joins map-side with no shuffle of the shingle
    stream; output is per-doc shared-shingle counts (the audit
    artifact; a trainer would anti-join against these doc_ids).
    """
    docs = load_table(spark, sf_dir, "documents")
    gexpr = F.explode(_decon_grams()).alias("shingle")
    # Round-14: filter each side's DOCS before the explode instead of
    # sharing one corpus-wide dropDuplicates([doc_id, shingle]) frame
    # (which was re-evaluated per consumer — a full corpus-shingle
    # shuffle each time, guide §2.3/§2.4). The per-(doc, shingle)
    # dedup the n_shared count needs moves AFTER the selective
    # benchmark join, where only matching rows survive.
    bench = (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(gexpr)
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0).select(
        "doc_id", gexpr
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .dropDuplicates(["doc_id", "shingle"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "q_text_domain_mix",
    oracle="""
    WITH g AS (SELECT source, lang,
                      CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                          AS n_tokens
               FROM documents GROUP BY 1, 2),
    t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
                 count(*) AS k FROM g)
    SELECT source, lang, n_tokens,
           round(n_tokens / tot, 6) AS share,
           round(tot / (k * n_tokens), 6) AS mix_weight
    FROM g, t
    """,
)
def q_text_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture weights: per (source, lang) token mass, its share
    of the corpus, and the resampling weight that would equalize the
    mix (target share / actual share) — the knob a training pipeline
    turns to rebalance domains. Collapses to O(groups) rows via one
    partial-aggregated groupBy; the corpus-wide totals ride a 1-row
    broadcast cross join (no second scan, no window over the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "source", "lang", F.size(F.split("text", " ")).alias("n")
        )
        .groupBy("source", "lang")
        .agg(F.sum("n").alias("n_tokens"))
        # t re-aggregates g; checkpoint the O(groups) rows so the
        # corpus is scanned once, not once per consumer.
        .localCheckpoint()
    )
    t = g.agg(
        F.sum("n_tokens").cast("double").alias("tot"),
        F.count(F.lit(1)).alias("k"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        "source",
        "lang",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot"), 6).alias("share"),
        F.round(
            F.col("tot") / (F.col("k") * F.col("n_tokens")), 6
        ).alias("mix_weight"),
    )


@register(
    "q_text_unigram_logprob",
    oracle="""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents),
    f AS (SELECT term, count(*) AS n FROM t WHERE term <> ''
          GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM f)
    SELECT t.doc_id, round(avg(ln(f.n / tot.tot)), 4) AS logprob
    FROM t JOIN f ON t.term = f.term, tot
    WHERE t.term <> ''
    GROUP BY t.doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean log corpus-frequency of each
    document's tokens — the cheap perplexity proxy pipelines use to
    rank fluency/rarity before any neural scorer. The corpus unigram
    table is O(vocab) and BROADCAST back onto the token stream, so the
    scoring join is map-side; only (doc_id, partial sums) cross the
    shuffle. Rounded to 4 decimals: the mean of ~O(doc) libm ln()
    values accumulates order-dependent float error beyond the 6th
    decimal.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(docs)
    f = t.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = f.agg(F.sum("n").cast("double").alias("tot"))
    vocab = f.crossJoin(F.broadcast(tot)).select(
        "term", (F.log(F.col("n") / F.col("tot"))).alias("logp")
    )
    return (
        t.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(F.round(F.avg("logp"), 4).alias("logprob"))
    )


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


@register(
    "q_text_chunk",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    starts AS (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) + 1, 30)) AS start
        FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / 30 + 1 AS INTEGER) AS chunk_id,
           CAST(least(start + 39, len(toks)) - start + 1 AS INTEGER)
               AS n_tokens,
           array_to_string(toks[start : least(start + 39, len(toks))], ' ')
               AS chunk_text
    FROM starts
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (40-token chunks, 30-token
    stride = 10-token overlap) — how long documents become
    context-length-bounded training samples without losing
    cross-boundary n-grams. Pure array algebra: split once, explode
    the start offsets, slice per chunk — zero Python, zero shuffle
    (narrow transform only; whatever partitioning the corpus scan
    has is preserved, and output rows stay on their input's
    executor).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    starts = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS)
    return starts.select(
        "doc_id",
        (((F.col("start") - 1) / CHUNK_STRIDE).cast("int") + 1).alias(
            "chunk_id"
        ),
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


HH_M = 2000  # Misra-Gries counters per partition == 1/phi


def _hh_tokens(documents: DataFrame) -> DataFrame:
    """(term) per case-folded single-space token, empty terms KEPT —
    the token stream of both heavy-hitter tiers, whose oracle counts
    the empty terms that runs of spaces leave."""
    return documents.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )


def _mg_merge(counters: dict, frames, m: int) -> dict:
    """Fold pandas frames with a `term` column into a Misra-Gries
    summary of at most `m` counters (mergeable-summaries MG, Agarwal
    et al., PODS'12) — the one merge rule of q_text_heavy_hitters'
    per-partition pass and s_heavy_hitters' per-group state.

    Each frame is reduced with a vectorized value_counts (its exact
    counts ARE a zero-error MG summary), then merged into the running
    summary: combine counts, and when over capacity subtract the
    (m+1)-th largest from everything and drop the non-positive. The
    undercount stays <= n/(m+1) under any frame split and order, so
    every term with count > n/m survives, and the per-TOKEN Python
    loop becomes a per-UNIQUE-TERM merge."""
    for pdf in frames:
        for t, c in pdf["term"].value_counts().items():
            counters[t] = counters.get(t, 0) + int(c)
        if len(counters) > m:
            vals = sorted(counters.values(), reverse=True)
            v = vals[m]
            counters = {k: c - v for k, c in counters.items() if c > v}
    return counters


def _hh_verify(toks: DataFrame, cand: DataFrame, phi: int) -> DataFrame:
    """(term, n_occ) for the candidates whose EXACT count in `toks`
    exceeds n/phi: a broadcast semi-join onto the token stream, one
    partial-aggregable groupBy over the candidate-bounded key space
    and a 1-row total — the verify pass of both heavy-hitter tiers."""
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occ") > F.col("n") / F.lit(float(phi)))
        .select("term", "n_occ")
    )


@register(
    "q_text_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT term, count(*) AS n_occ
    FROM toks, tot
    GROUP BY term, tot.n
    HAVING count(*) > tot.n / {HH_M}.0
    """,
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phi-heavy hitters (phi = 1/HH_M) over the token stream in
    two bounded-memory passes — the Misra-Gries candidate/verify
    architecture that replaces a full-vocabulary groupBy at 100 TB:

      pass 1: each partition streams its tokens through a Misra-Gries
      summary of HH_M counters (mapInPandas, O(HH_M) memory regardless
      of vocabulary size). Any term with global frequency > n/HH_M
      must exceed its share in at least one partition (pigeonhole),
      so the UNION of per-partition candidate sets is a guaranteed
      superset of the true heavy hitters — the classic distributed-
      MG merge property.

      pass 2: exact counts for candidates only (broadcast semi-join
      onto the token stream + one partial-aggregable groupBy over
      the candidate-bounded key space), filtered at the exact
      threshold (strictly greater than n/HH_M — the
      strict form is exactly what the MG summary guarantees to
      retain, so the candidate superset covers every emitted term
      on ANY corpus, boundary cases included).

    The output is EXACT (the sketch only bounds the candidate set),
    which is why a plain SQL oracle can certify a sketch-built
    answer — the measure-don't-guess trick of q_dedup_lsh_eval,
    promoted to the result itself. The vocabulary-sized shuffle of a
    naive groupBy never happens: shuffled keys <= candidates <=
    HH_M x partitions.
    """
    toks = _hh_tokens(load_table(spark, sf_dir, "documents"))

    def mg_candidates(batches):
        # one summary per partition over its Arrow batches
        counters = _mg_merge({}, batches, HH_M)
        yield pd.DataFrame({"term": list(counters.keys())})

    cand = (
        toks.mapInPandas(mg_candidates, schema="term string")
        .distinct()
    )
    return _hh_verify(toks, cand, HH_M)


@register(
    "q_text_domain_entropy",
    oracle="""
    WITH counts AS (
        SELECT lang, source, count(*) AS n
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT sum(n) AS t FROM counts)
    SELECT round(-sum((n / t) * ln(n / t)), 4) AS entropy_nats,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(ln(count(*)), 4) AS max_entropy_nats
    FROM counts, tot
    """,
)
def q_text_domain_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the (lang, source) mixture — the diversity
    number a data-mixture dashboard tracks: entropy near ln(cells)
    means a balanced corpus, near 0 means one domain dominates (and
    q_text_domain_mix's resampling weights are about to matter). One
    partial-aggregable groupBy to O(cells), then the entropy fold
    over that tiny frame with the total riding a 1-row broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t")
    return (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.log(F.count(F.lit(1))), 4).alias(
                "max_entropy_nats"
            ),
        )
    )


@register(
    "q_text_zipf_fit",
    oracle="""
    WITH tf AS (
        SELECT term, count(*) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term <> ''
        GROUP BY term
    ),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, term) AS rank
        FROM tf
    )
    SELECT round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
           round(regr_r2(ln(freq), ln(rank)), 4) AS r2,
           CAST(count(*) AS BIGINT) AS vocab
    FROM ranked
    """,
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the term-frequency distribution: OLS slope of
    ln(freq) on ln(rank) (natural text sits near −1; a slope far off
    flags synthetic, boilerplate-heavy, or truncated corpora — a
    cheap corpus-health diagnostic before training). Uses the
    built-in regr_slope/regr_r2 aggregates — mergeable sufficient
    statistics, so the fit itself is one partial-aggregable pass over
    the O(vocab) frequency table; the rank window runs on that same
    collapsed table, never the token stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        tokens(docs, [], lower=True)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = W.orderBy(F.desc("freq"), "term")
    ranked = tf.select(
        "freq", F.row_number().over(w).alias("rank")
    )
    return ranked.agg(
        F.round(
            F.regr_slope(F.log("freq"), F.log("rank")), 4
        ).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("freq"), F.log("rank")), 4).alias("r2"),
        F.count(F.lit(1)).alias("vocab"),
    )


@register(
    "q_text_bpe_pairs",
    oracle="""
    WITH words AS (
        SELECT lower(w) AS word, count(*) AS wn
        FROM documents,
             unnest(string_split_regex(text, '\\s+')) AS t(w)
        WHERE regexp_matches(lower(w), '^[a-z]{2,}$')
        GROUP BY 1
    ),
    pairs AS (
        SELECT substr(word, CAST(i AS INTEGER), 2) AS pair,
               sum(wn) AS wsum,
               count(*) AS n_words
        FROM words, unnest(range(1, length(word))) AS t(i)
        GROUP BY 1
    )
    SELECT pair, CAST(wsum AS BIGINT) AS wsum,
           CAST(n_words AS BIGINT) AS n_positions
    FROM pairs
    ORDER BY wsum DESC, pair
    LIMIT 20
    """,
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first merge step of BPE tokenizer training: the most
    frequent adjacent character pairs across the corpus, weighted by
    word frequency — exactly the statistic a byte-pair-encoding
    vocabulary build computes each round (Sennrich et al.; the merge
    loop repeats this on progressively merged symbols).

    Scale: tokenization reduces the corpus to its WORD VOCABULARY
    first (one partial-aggregable count — the same reduction every
    tokenizer trainer does), so the position fan-out (len(word)−1
    pairs per word) runs over vocabulary-sized data, not corpus-sized
    — the fan-out is off the tiny side, which is why sequence() is
    acceptable here where corpus-side shingling uses ngram_windows. The
    pair aggregate is again partial-aggregable; top-20 is a
    TakeOrdered, no global sort materialization.
    """
    pairs = (
        _bpe_vocab(load_table(spark, sf_dir, "documents"))
        .select(
            "w",
            "wn",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - 1)
            ).alias("i"),
        )
        .select(
            F.expr("substring(w, i, 2)").alias("pair"),
            "wn",
        )
        .groupBy("pair")
        .agg(
            F.sum("wn").cast("long").alias("wsum"),
            F.count(F.lit(1)).cast("long").alias("n_positions"),
        )
    )
    return pairs.orderBy(F.desc("wsum"), "pair").limit(20)


def _bpe_words(docs: DataFrame) -> DataFrame:
    """(doc_id, w): the BPE word stream — lower-cased whitespace-run
    tokens of two or more letters, shared by q_text_bpe_pairs,
    q_text_bpe_train and q_text_bpe_apply."""
    return docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]{2,}$"))


def _bpe_vocab(docs: DataFrame) -> DataFrame:
    """(w, wn): the BPE word vocabulary with its counts — one
    partial-aggregable groupBy that collapses the corpus to its word
    vocabulary, the reduction every tokenizer trainer starts with."""
    return _bpe_words(docs).groupBy("w").agg(F.count(F.lit(1)).alias("wn"))


def _bpe_merges(docs: DataFrame) -> list:
    """The k = 10 BPE merge table of `docs`: the top 65536 vocabulary
    words by (count desc, word asc), collected as (word, count) pairs
    only, through _bpe_merge_loop — the trained table that
    q_text_bpe_train returns and q_text_bpe_apply encodes with."""
    vocab = (
        _bpe_vocab(docs)
        .orderBy(F.col("wn").desc(), "w")
        .limit(65536)
        .collect()
    )
    return _bpe_merge_loop({r["w"]: r["wn"] for r in vocab}, 10)


def _bpe_merge_loop(word_counts, k: int):
    """Deterministic BPE merge loop (Sennrich et al.) over a
    vocabulary-sized {word: count} dict: each round counts adjacent
    symbol pairs weighted by word frequency, merges the (max-count,
    then lexicographically-smallest) pair, and rewrites the symbol
    sequences. Pure Python on purpose — by this point the data is
    the word VOCABULARY (bounded upstream), not the corpus."""
    syms = {w: tuple(w) for w in word_counts}
    merges = []
    for step in range(1, k + 1):
        pair_w = {}
        for w, s in syms.items():
            wn = word_counts[w]
            for a, b in zip(s, s[1:]):
                pair_w[(a, b)] = pair_w.get((a, b), 0) + wn
        if not pair_w:
            break
        best = min(pair_w.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), wsum = best
        merged = left + right
        merges.append((step, left, right, merged, wsum))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    return merges


@register("q_text_bpe_train")  # rows-only: iterative merge loop
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, k = 10 merges — the full iterative
    loop behind q_text_bpe_pairs' one-round statistic. The corpus
    pass is the same distributed word-frequency reduction every
    production trainer (HF tokenizers, SentencePiece) starts with:
    one partial-aggregable groupBy that collapses 100 TB of text to
    its word vocabulary. The merge loop then runs driver-side over
    that vocabulary — bounded by construction to the top 65536 words
    by (count desc, word asc), collected as (word, count) pairs only.
    That split IS the scale design: corpus work distributed once,
    the O(k · vocab) loop on data that fits in L2 cache. Output is
    the ordered merge table (step, left, right, merged, wsum).
    Rows-only: the argmax-per-iteration recursion is not
    SQL-expressible; pinned by pytest against the classic
    low/lower/newest/widest worked example and a pure-Python
    reference on the real corpus."""
    return spark.createDataFrame(
        _bpe_merges(load_table(spark, sf_dir, "documents")),
        "step int, left string, right string, merged string, wsum long",
    )


@register(
    "q_text_bigram_logprob",
    oracle="""
    WITH a AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM a, unnest(range(1, len(w))) AS t(i)
        WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(n12) AS DOUBLE) AS n1
           FROM c12 GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bg)
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((c12.n12 + 1) / (c1.n1 + v.v))), 4)
               AS bigram_logprob
    FROM bg
    JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
    JOIN c1 ON bg.w1 = c1.w1
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score with add-one smoothing: each document's
    mean ln P(w2|w1) where P = (c(w1,w2)+1) / (c(w1)+V) — the
    next-step-up perplexity proxy after q_text_unigram_logprob
    (CCNet-style quality ranking orders docs by exactly this family
    of scores before any neural scorer runs). Low scores flag
    boilerplate-free but incoherent token soup that unigram
    frequency alone cannot see.

    Scale: bigrams via util.ngram_windows (map-side); the bigram LM table
    is O(distinct bigrams) and the conditional-count table O(vocab)
    — both broadcast back onto the bigram stream, so scoring is a
    map-side join and only (doc_id, partial sums) shuffle. Rounded
    at 4 (mean of libm ln values, same policy as the unigram op).
    """
    docs = load_table(spark, sf_dir, "documents")
    zipped = ngram_windows(F.split("text", " "), 2)
    bg = (
        docs.select("doc_id", F.explode(zipped).alias("pr"))
        .select(
            "doc_id",
            F.col("pr.0").alias("w1"),
            F.col("pr.1").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("n12").cast("double").alias("n1")
    )
    v = bg.agg(F.countDistinct("w2").cast("double").alias("v"))
    lm = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.log((F.col("n12") + 1) / (F.col("n1") + F.col("v"))).alias(
                "logp"
            ),
        )
    )
    return (
        bg.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("bigram_logprob"),
        )
    )


@register(
    "q_text_pii_stats",
    oracle=r"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text,
               '[a-z0-9._]+@[a-z0-9.]+'))) AS BIGINT) AS n_emails,
           CAST(sum(len(regexp_extract_all(text,
               '\b\d{3}[- ]\d{4}\b'))) AS BIGINT) AS n_phones,
           CAST(sum(CASE WHEN regexp_matches(text,
               '[a-z0-9._]+@[a-z0-9.]+') THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_email
    FROM documents
    GROUP BY source
    """,
)
def q_text_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII EXPOSURE REPORT per source — the compliance artifact that
    decides where q_text_redact must run and which sources need a
    human look before a training run: total email/phone hits and the
    share of documents carrying any, using the exact same patterns
    the redactor applies (stats and scrub can never disagree). Same
    role for privacy that q_dq_profile plays for schema quality.

    Scale: one JVM-side regexp pass fused into a per-source
    partial-aggregable count — no shuffle of text, only (source,
    4 longs). Extend by adding patterns as columns, not passes.
    """
    docs = load_table(spark, sf_dir, "documents")
    emails = F.size(
        F.regexp_extract_all("text", F.lit(r"[a-z0-9._]+@[a-z0-9.]+"), 0)
    )
    phones = F.size(
        F.regexp_extract_all("text", F.lit(r"\b\d{3}[- ]\d{4}\b"), 0)
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(emails).cast("bigint").alias("n_emails"),
        F.sum(phones).cast("bigint").alias("n_phones"),
        F.sum(F.when(emails > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_with_email"),
    )


@register(
    "q_text_source_divergence",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    sc AS (
        SELECT source, term, count(*) AS c
        FROM toks WHERE term <> '' GROUP BY source, term
    ),
    stot AS (SELECT source, sum(c) AS st FROM sc GROUP BY source),
    ct AS (SELECT term, sum(c) AS cc FROM sc GROUP BY term),
    ctot AS (SELECT sum(c) AS tt FROM sc)
    SELECT sc.source,
           round(sum((CAST(sc.c AS DOUBLE) / stot.st)
                     * ln((CAST(sc.c AS DOUBLE) / stot.st)
                          / (CAST(ct.cc AS DOUBLE) / ctot.tt))),
                 6) AS kl_divergence,
           count(*) AS n_terms
    FROM sc
    JOIN stot ON stot.source = sc.source
    JOIN ct ON ct.term = sc.term
    CROSS JOIN ctot
    GROUP BY sc.source
    """,
)
def q_text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language drift: KL divergence of each source's
    unigram distribution from the whole-corpus distribution — the
    signal a corpus curator reads next to q_text_domain_mix's raw
    proportions (a high-KL source writes in a different register and
    will shift the trained model's distribution more than its row
    share suggests). KL is well-defined without smoothing because
    the corpus distribution strictly contains every source term.

    Scale: everything reduces to the (source, term) count matrix in
    one pass; source totals and the corpus marginal are two further
    map-side-combinable rollups of that matrix, joined back on their
    grouping keys; the corpus total is a 1-row broadcast. The token
    stream itself is never shuffled twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        tokens(docs, ["source"])
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stot = sc.groupBy("source").agg(F.sum("c").alias("st"))
    ct = sc.groupBy("term").agg(F.sum("c").alias("cc"))
    ctot = sc.agg(F.sum("c").alias("tt"))
    p = F.col("c").cast("double") / F.col("st")
    q = F.col("cc").cast("double") / F.col("tt")
    return (
        sc.join(F.broadcast(stot), "source")
        .join(ct, "term")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


@register(
    "q_text_templates",
    oracle="""
    WITH shaped AS (
        SELECT doc_id, source,
               regexp_replace(
                   regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                   '[a-z]+', 'w', 'g') AS shape
        FROM documents
    )
    SELECT shape,
           count(*) AS n_docs,
           min(doc_id) AS example_doc_id,
           count(DISTINCT source) AS n_sources
    FROM shaped
    GROUP BY shape
    HAVING count(*) >= 2
    """,
)
def q_text_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template mining: collapse every document to its structural
    shape (digit runs → '#', word runs → 'w', punctuation/spacing
    kept verbatim) and surface shapes shared by ≥2 docs — the
    machine-generated/boilerplate detector that catches "Order #123
    shipped to X" families exact dedup misses (different numbers)
    and shingle dedup underweights (short docs). A template that
    spans many sources is syndicated boilerplate; one source means a
    generator.

    Scale: one map pass of two regexes (JVM codegen, no Python),
    then a groupBy on the md5-sized shape string — shuffle rows are
    shapes, not documents. The character classes are shared
    RE2/Java-regex syntax, so both engines produce identical shapes.
    """
    docs = load_table(spark, sf_dir, "documents")
    shape = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"),
        "[a-z]+",
        "w",
    )
    return (
        docs.select(shape.alias("shape"), "doc_id", "source")
        .groupBy("shape")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
            F.count_distinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "q_text_readability",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS DOUBLE) AS n_words,
               CAST(greatest(
                    len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS DOUBLE) AS n_sents,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS DOUBLE) AS n_syll
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           round(206.835 - 1.015 * (n_words / n_sents)
                 - 84.6 * (n_syll / n_words), 4) AS flesch
    FROM feats WHERE n_words > 0
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with vowel-group runs as
    the syllable proxy (the standard dictionary-free approximation)
    and [.!?]+ runs as sentence boundaries (min 1 so fragments don't
    divide by zero) — the readability axis of corpus quality that
    q_text_quality's length/stopword ratios don't capture: a wall of
    legalese and a children's story can have identical token stats.

    One map-only pass: three regexp_extract_all counts per row (JVM
    regex, no Python), no shuffle at all — the cheapest possible
    quality column at 100 TB. The character classes are shared
    Java-regex/RE2 syntax so both engines count identical runs.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    ).cast("double")
    n_sents = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("double")
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("double")
    return (
        docs.select(
            "doc_id",
            n_words.alias("w"),
            n_sents.alias("s"),
            n_syll.alias("y"),
        )
        .filter(F.col("w") > 0)
        .select(
            "doc_id",
            F.col("w").cast("bigint").alias("n_words"),
            F.col("s").cast("bigint").alias("n_sents"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (F.col("w") / F.col("s"))
                - F.lit(84.6) * (F.col("y") / F.col("w")),
                4,
            ).alias("flesch"),
        )
    )


@register(
    "q_text_lang_confusion",
    oracle=f"""
    WITH guesses AS ({_lang_case_sql()})
    SELECT d.lang, g.lang_guess, count(*) AS n
    FROM documents d JOIN guesses g ON g.doc_id = d.doc_id
    GROUP BY d.lang, g.lang_guess
    """,
)
def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the marker-word language-ID heuristic
    against the corpus's labeled lang column — the evaluation
    certificate for q_text_langid (same measure-don't-guess pattern
    as q_dedup_lsh_eval / q_sim_ivf_kmeans_recall): the diagonal
    mass is the accuracy, and the off-diagonal cells say WHICH
    languages the marker lexicons confuse, i.e. where to grow them.

    Scale: the guess side is the registered langid aggregate
    (single tokenize + conditional-count pass); the join is equi on
    doc_id against a two-column projection of documents, and the
    matrix rollup is ≤|langs|² groups.
    """
    from ..registry import QUERIES

    guesses = QUERIES["q_text_langid"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    return (
        docs.join(guesses, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


CODE_KEYWORDS = (
    "def", "return", "import", "class", "void", "int",
    "function", "var", "const",
)


@register(
    "q_text_code_detect",
    oracle=f"""
    WITH sym AS (
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(text, '[{{}}();=<>|&]'))
                    AS DOUBLE)
                   / greatest(length(text), 1) AS symbol_ratio
        FROM documents
    ),
    kw AS (
        SELECT doc_id,
               count(*) FILTER (WHERE term IN
                   ({', '.join(repr(w) for w in CODE_KEYWORDS)}))
                   AS n_keywords
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        GROUP BY doc_id
    )
    SELECT sym.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN sym.symbol_ratio > 0.02
                         OR kw.n_keywords >= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_code_like,
           round(CAST(sum(CASE WHEN sym.symbol_ratio > 0.02
                               OR kw.n_keywords >= 2
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS code_frac
    FROM sym JOIN kw ON kw.doc_id = sym.doc_id
    GROUP BY sym.source
    """,
)
def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose split per source: a doc is code-like when its
    programming-symbol density exceeds 2% of characters or it
    contains ≥2 code keyword tokens — the router every LLM corpus
    needs before mixing (code and prose want different dedup
    thresholds, quality gates, and sampling temperatures;
    q_mix_temperature consumes splits like this). The symbol class
    deliberately avoids regex-escaped characters so both engines
    compile the identical pattern, and keywords are counted on the
    whitespace token stream (the _LANG_MARKERS pattern), not with
    word-boundary regex that the two engines escape differently.

    Scale: one map regex pass + one token conditional count, joined
    thin on doc_id, rolled up per source — text never shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    sym = docs.select(
        "doc_id",
        "source",
        (
            F.size(
                F.expr("regexp_extract_all(text, '[{}();=<>|&]', 0)")
            ).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("symbol_ratio"),
    )
    kw = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("term").isin(*CODE_KEYWORDS), 1).otherwise(0)
            ).alias("n_keywords")
        )
    )
    code_like = F.when(
        (F.col("symbol_ratio") > 0.02) | (F.col("n_keywords") >= 2), 1
    ).otherwise(0)
    return (
        sym.join(kw, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(code_like).cast("bigint").alias("n_code_like"),
            F.round(
                F.sum(code_like).cast("double") / F.count(F.lit(1)), 6
            ).alias("code_frac"),
        )
    )


_RAKE_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
)


def _rake_stop_sql() -> str:
    return ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)


@register(
    "q_text_rake",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    t2 AS (
        SELECT doc_id, pos, w,
               CASE WHEN w IN ({{stops}}) THEN 1 ELSE 0 END AS is_stop
        FROM toks WHERE w <> ''
    ),
    isl AS (
        SELECT doc_id, pos, w, is_stop,
               sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS grp
        FROM t2
    ),
    words AS (SELECT doc_id, grp, pos, w FROM isl WHERE is_stop = 0),
    ph AS (SELECT doc_id, grp, count(*) AS plen
           FROM words GROUP BY 1, 2),
    wstat AS (
        SELECT w, count(*) AS freq, sum(plen) AS degree
        FROM words JOIN ph USING (doc_id, grp) GROUP BY w
    ),
    occ AS (
        SELECT doc_id, grp,
               array_to_string(list(w ORDER BY pos), ' ') AS phrase
        FROM words GROUP BY 1, 2
    ),
    pcount AS (SELECT phrase, count(*) AS n_occur FROM occ GROUP BY 1),
    pwords AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
               FROM pcount),
    pscore AS (
        SELECT phrase,
               round(sum(CAST(degree AS DOUBLE) / freq), 6) AS score
        FROM pwords JOIN wstat USING (w) GROUP BY phrase
    )
    SELECT p.phrase, c.n_occur, p.score
    FROM pscore p JOIN pcount c USING (phrase)
    ORDER BY p.score DESC, p.phrase LIMIT 20
    """.replace("{stops}", _rake_stop_sql()),
)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate
    phrases are maximal stopword-free runs (gaps-and-islands over
    token position — the island id is the running stopword count),
    word score = degree/freq where degree sums the lengths of every
    phrase containing the word, phrase score sums its words' scores.
    Top-20 phrases by score. The unsupervised keyphrase baseline
    that needs no model artifact — the right first pass over a
    100 TB crawl before anything learned.

    Scale: tokenization and island labeling are per-document (the
    window partitions by doc_id) and run ONCE — the phrase frame is
    lazily checkpointed and every word/phrase statistic derives from
    it (word freq/degree by re-splitting the phrase strings, which
    reproduces the word-occurrence multiset exactly — round-14
    optimization pass: this deletes the corpus-sized words⋈phrases
    shuffle join AND three re-derivations of the tokenize+window
    subtree). The per-phrase rescore joins the word table against
    DISTINCT phrases (broadcastable — vocabulary-sized, not
    corpus-sized); the cut is TakeOrderedAndProject. Scoring floats
    appear once per distinct phrase, summed from identical per-word
    doubles in both engines, rounded at 6.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).where(F.col("w") != "")
    t2 = toks.withColumn(
        "is_stop",
        F.when(F.col("w").isin(*_RAKE_STOPWORDS), 1).otherwise(0),
    )
    wisl = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    words = (
        t2.withColumn("grp", F.sum("is_stop").over(wisl))
        .where(F.col("is_stop") == 0)
        .select("doc_id", "grp", "pos", "w")
    )
    # One phrase row per (doc, island); every downstream statistic
    # derives from THIS frame, so truncate it once (guide §2.1 —
    # it previously fed two consumers that each re-ran the
    # tokenize + running-sum window subtree).
    ph = words.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("plen"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda x: x["w"],
            ),
        ).alias("phrase"),
    ).localCheckpoint(eager=False)
    # Word freq/degree from the phrase strings themselves: splitting
    # `phrase` on ' ' recovers exactly the word-occurrence multiset
    # that built it (tokens are space-split upstream, empties
    # dropped), so this equals the former words⋈ph join on
    # (doc_id, grp) — minus the corpus-sized shuffle join (guide
    # §2.4: remove shuffles outright).
    wstat = (
        ph.select(F.explode(F.split("phrase", " ")).alias("w"), "plen")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    pcount = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occur")
    ).localCheckpoint(eager=False)
    pwords = pcount.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    pscore = (
        pwords.join(F.broadcast(wstat), "w")
        .groupBy("phrase")
        .agg(
            F.round(
                F.sum(F.col("degree").cast("double") / F.col("freq")),
                6,
            ).alias("score")
        )
    )
    return (
        pscore.join(pcount, "phrase")
        .select("phrase", "n_occur", "score")
        .orderBy(F.desc("score"), "phrase")
        .limit(20)
    )


_WINNOW_K = 3  # k-gram length
_WINNOW_W = 4  # winnowing window (hashes per window)


@register(
    "q_text_winnowing",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    kg AS (
        SELECT doc_id, i.i AS pos,
               ('0x' || substr(md5(
                    array_to_string(w[i.i:i.i + {_WINNOW_K - 1}], ' ')
                ), 1, 10))::BIGINT AS h
        FROM t, unnest(generate_series(1,
                 greatest(len(w) - {_WINNOW_K - 1}, 0))) AS i(i)
    ),
    enc AS (
        SELECT doc_id, pos, h * 65536 + pos AS e,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS idx
        FROM kg
    ),
    sel AS (
        SELECT doc_id, idx,
               min(e) OVER (PARTITION BY doc_id ORDER BY idx
                   ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                   AND CURRENT ROW) AS fp
        FROM enc
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM sel WHERE idx >= {_WINNOW_W}
    ),
    nk AS (SELECT doc_id, count(*) AS n_kgrams FROM kg GROUP BY 1)
    SELECT nk.doc_id, nk.n_kgrams,
           CAST(coalesce(f.n_fp, 0) AS BIGINT) AS n_fp,
           round(CAST(coalesce(f.n_fp, 0) AS DOUBLE) / nk.n_kgrams, 4)
               AS density
    FROM nk LEFT JOIN (SELECT doc_id, count(*) AS n_fp
                       FROM fps GROUP BY 1) f
        ON f.doc_id = nk.doc_id
    WHERE nk.n_kgrams >= {_WINNOW_W}
    """,
)
def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every word 3-gram, slide a 4-hash
    window, keep each window's minimum — with the
    guarantee the rolling q_text_fingerprint lacks: any shared run
    of ≥ w+k-1 tokens between two documents shares at least one
    SELECTED fingerprint, so plagiarism/boilerplate detection can
    join on the winnowed set (≈ 2/(w+1) of all k-grams) instead of
    every shingle. Ties inside a window resolve to the LEFTMOST
    minimal hash by encoding (hash · 2^16 + pos) into one integer
    before the min — the 40-bit md5 prefix keeps the encoding inside
    int64 in both engines.

    Output is the per-document fingerprint ledger (count + selection
    density ≈ 2/(w+1)); the pair-join consumer is the same inverted-
    index equi-join as q_sim_sparse_cosine.

    Scale: k-grams via _word_ngrams (codegen); the min-window
    is a per-document O(w)-state frame; DISTINCT collapses runs of
    the same winner before the count. All integer arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(F.split("text", " "), _WINNOW_K)
    kg = (
        docs.select("doc_id", F.posexplode(grams).alias("p0", "gram"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            md5_int("gram", 1, 10).cast("bigint").alias("h"),
        )
    )
    wo = W.partitionBy("doc_id").orderBy("pos")
    enc = kg.select(
        "doc_id",
        "pos",
        (F.col("h") * 65536 + F.col("pos")).alias("e"),
        F.row_number().over(wo).alias("idx"),
    )
    fr = (
        W.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(-(_WINNOW_W - 1), 0)
    )
    sel = enc.select(
        "doc_id", "idx", F.min("e").over(fr).alias("fp")
    )
    fps = (
        sel.where(F.col("idx") >= _WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    nk = kg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kgrams")
    )
    return (
        nk.join(fps, "doc_id", "left")
        .where(F.col("n_kgrams") >= _WINNOW_W)
        .select(
            "doc_id",
            "n_kgrams",
            F.coalesce(F.col("n_fp"), F.lit(0))
            .cast("bigint")
            .alias("n_fp"),
            F.round(
                F.coalesce(F.col("n_fp"), F.lit(0)).cast("double")
                / F.col("n_kgrams"),
                4,
            ).alias("density"),
        )
    )


@register(
    "q_text_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        FROM documents
    ),
    cc AS (
        SELECT doc_id, c, count(*) AS k
        FROM ch WHERE c <> '' GROUP BY 1, 2
    ),
    n AS (SELECT doc_id, sum(k) AS n FROM cc GROUP BY 1)
    SELECT cc.doc_id,
           CAST(n.n AS BIGINT) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(-sum((CAST(k AS DOUBLE) / n.n)
                      * ln(CAST(k AS DOUBLE) / n.n)) / ln(2e0), 6)
               + 0.0 AS entropy_bits
    FROM cc JOIN n ON n.doc_id = cc.doc_id
    GROUP BY cc.doc_id, n.n
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) —
    the gibberish/compressibility probe that completes the
    q_text_quality panel: natural language sits in a narrow entropy
    band (~4 bits/char for English), while base64 blobs, minified
    code, and key-mash spam sit far above it and template/repeated
    boilerplate far below. It is the cheap statistical stand-in for
    a compression-ratio filter (zlib-per-doc needs a Python UDF;
    the entropy bound H ≤ bits/char is pure column algebra).

    Scale: one explode to (doc, char) pairs, two partial-aggregable
    counts (per doc-char, per doc), one plog p fold — alphabet-sized
    state per document, no Python in the loop, raw text read once.
    """
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.select(
            "doc_id", F.explode(F.split("text", "")).alias("c")
        )
        .where(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n = cc.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n")
    return (
        cc.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            (
                F.round(-F.sum(p * F.log(p)) / F.log(F.lit(2.0)), 6)
                + F.lit(0.0)  # normalize -0.0 (cross-engine hash rule)
            ).alias("entropy_bits"),
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_chars_counted"),
            F.col("n_distinct_chars").cast("bigint").alias(
                "n_distinct_chars"
            ),
            "entropy_bits",
        )
    )


@register(
    "q_text_burstiness",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lower(term) AS term
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term <> ''
    ),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    per AS (SELECT term, doc_id, count(*) AS c FROM tok GROUP BY 1, 2),
    agg AS (
        SELECT term,
               sum(c) AS total_cnt,
               CAST(sum(c) AS DOUBLE) AS total,
               CAST(sum(c * c) AS DOUBLE) AS sumsq,
               count(*) AS n_docs_present
        FROM per GROUP BY term
    ),
    d AS (
        SELECT term, CAST(total_cnt AS BIGINT) AS total_cnt,
               n_docs_present,
               (sumsq / nd.n_docs
                - (total / nd.n_docs) * (total / nd.n_docs))
               / (total / nd.n_docs) AS disp
        FROM agg, nd
        WHERE total_cnt >= 30
    )
    SELECT term, total_cnt, n_docs_present,
           round(disp, 6) AS dispersion
    FROM d ORDER BY disp DESC, term LIMIT 15
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): variance-to-mean ratio
    (index of dispersion) of a term's PER-DOCUMENT count, with the
    zero-count documents included — a Poisson-scattered term has
    D ~= 1, a bursty term (concentrated repeats in few documents:
    names, boilerplate, topical jargon) has D >> 1. This separates
    topical/template vocabulary from background vocabulary in a way
    raw frequency (q_text_trending) and doc-frequency (q_text_tfidf)
    cannot: two terms with identical totals differ sharply in D if
    one spreads evenly and one clumps. Zero-fill never materializes:
    with mu = total/N and E[x^2] = sum(c^2)/N over N = all docs,
    D = (E[x^2] - mu^2)/mu needs only the present-doc sums — the
    absent docs contribute zero to both moments. All inputs are
    exact integer sums, so D is a deterministic double in both
    engines and the DESC ranking needs no rounding guard. Floor of
    30 occurrences keeps rare-term noise (D estimates degenerate at
    tiny totals) out of the leaderboard.

    Scale: per-(term, doc) counts are one map-side-combinable
    groupBy on the token stream; per-term moments a second; then a
    1-row broadcast of the corpus size and a TakeOrdered top-15 —
    no window, no join against the fact.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("raw"),
        )
        .where(F.col("raw") != "")
        .select("doc_id", F.lower(F.col("raw")).alias("term"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    per = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per.groupBy("term").agg(
        F.sum("c").alias("total_cnt"),
        F.sum("c").cast("double").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("sumsq"),
        F.count(F.lit(1)).alias("n_docs_present"),
    )
    mu = F.col("total") / F.col("n_docs")
    disp = (F.col("sumsq") / F.col("n_docs") - mu * mu) / mu
    return (
        agg.crossJoin(F.broadcast(nd))
        .filter(F.col("total_cnt") >= 30)
        .select(
            "term",
            F.col("total_cnt").cast("bigint").alias("total_cnt"),
            "n_docs_present",
            disp.alias("disp"),
        )
        .orderBy(F.desc("disp"), "term")
        .limit(15)
        .select(
            "term",
            "total_cnt",
            "n_docs_present",
            F.round("disp", 6).alias("dispersion"),
        )
    )


@register("q_text_compress_ratio")  # rows-only: zlib has no SQL oracle
def q_text_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL zlib compression ratio per document — the filter
    `q_text_char_entropy` stands in for with column algebra, run for
    real: deflate (level 6, fixed so the byte count is deterministic)
    squeezes repeated SUBSTRINGS, not just skewed character
    distributions, so boilerplate/template spam that character
    entropy underestimates (normal char mix, phrase-level repeats)
    shows up here as ratio << 1 while fluent unique prose sits near
    the corpus's natural band (Gopher's repetition filters and
    RefinedWeb both gate on exactly this signal). Rows-only by
    design: no SQL engine exposes deflate, so the cross-engine
    contract is the pytest pinning monotonicity (repetitive text
    compresses strictly further than unique text) plus hard bounds.

    Scale: this is the sanctioned slow-path shape — an Arrow-batched
    pandas UDF (zlib is C, the Python loop is per-document, bytes
    cross the JVM boundary once per batch), placed AFTER the cheap
    JVM-side gates in the curation funnel so it prices only the
    survivors; output is 3 small numerics per doc, never the text.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_bytes: bigint, n_compressed: bigint>")
    def deflate_sizes(texts: pd.Series) -> pd.DataFrame:
        import zlib

        raw, comp = [], []
        for t in texts:
            b = (t or "").encode("utf-8")
            raw.append(len(b))
            comp.append(len(zlib.compress(b, 6)))
        return pd.DataFrame({"n_bytes": raw, "n_compressed": comp})

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", deflate_sizes("text").alias("z")
    ).select("doc_id", "z.n_bytes", "z.n_compressed")
    return sized.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.round(
            F.col("n_compressed")
            / F.nullif(F.col("n_bytes"), F.lit(0)).cast("double"),
            6,
        ).alias("compress_ratio"),
    )


@register(
    "q_text_pretokenize",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text),
                      '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS tok
        FROM documents
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN regexp_matches(tok, '^[a-z]')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_word_runs,
           CAST(sum(CASE WHEN regexp_matches(tok, '^[0-9]')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_runs,
           CAST(sum(CASE WHEN NOT regexp_matches(tok, '^[a-z0-9]')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_other_runs,
           max(length(tok)) AS max_run_len
    FROM toks GROUP BY doc_id
    """,
)
def q_text_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex PRE-tokenization census — the stage every
    BPE tokenizer runs before any merge: split text into letter
    runs, digit runs, and punctuation/symbol runs (the '-ish regex'
    of the tokenizer family; GPT-2's full pattern adds contractions
    and unicode classes, same plan shape). Per document: run counts
    by class and the longest run — the pre-tokenizer statistics a
    corpus budget (tokens ≥ runs; every run is ≥ 1 token) and a
    tokenizer-health check (a huge max_run_len flags unsegmentable
    blobs: base64, DNA, minified JS) read directly. The character
    class is kept to a subset RE2 (DuckDB) and Java regex (Spark)
    interpret identically — alternation of simple classes, no
    lookaround, no \\w ambiguity.

    Scale: regexp_extract_all + explode is one codegen'd map pass;
    the per-doc aggregate is partial-combinable; nothing but
    (doc_id, 4 longs) crosses the shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "regexp_extract_all(lower(text),"
                " '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"
            )
        ).alias("tok"),
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("tok").rlike("^[a-z]"), 1).otherwise(0))
        .cast("long")
        .alias("n_word_runs"),
        F.sum(F.when(F.col("tok").rlike("^[0-9]"), 1).otherwise(0))
        .cast("long")
        .alias("n_digit_runs"),
        F.sum(F.when(~F.col("tok").rlike("^[a-z0-9]"), 1).otherwise(0))
        .cast("long")
        .alias("n_other_runs"),
        F.max(F.length("tok")).cast("long").alias("max_run_len"),
    )


def _bpe_encode(word: str, ranks: dict) -> int:
    """Token count after greedily applying ranked merges to one word
    (Sennrich apply loop: repeatedly merge the best-ranked adjacent
    pair until none applies). Returns the symbol count — the number
    a token budget needs; the symbols themselves stay in the UDF."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, (a, b) in enumerate(zip(syms, syms[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return len(syms)


@register("q_text_bpe_apply")  # rows-only: data-dependent merge table
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the encode path that completes the arc
    q_text_bpe_pairs (one merge statistic) → q_text_bpe_train (the
    k=10 merge table) → this (tokenize the corpus with it): per
    document, word count, BPE token count, and mean tokens/word —
    the number a training-token budget is actually denominated in.

    Scale design is the production tokenizer-cache pattern: the
    corpus collapses to its DISTINCT word vocabulary (one
    partial-aggregable groupBy), the merge loop encodes each
    distinct word ONCE (vectorized Arrow batch; the merge table is
    10 rows, a closure broadcast), and per-word token counts
    broadcast-join back onto the word stream — encode cost is
    O(vocabulary), not O(corpus), exactly how HF tokenizers amortize
    at scale. Rows-only like q_text_bpe_train (the per-iteration
    argmax recursion is not SQL-expressible); the apply loop is
    pinned by pytest against the classic low/lower/newest/widest
    worked example and conservation laws on the real corpus.
    """
    from pyspark.sql.functions import pandas_udf

    docs = load_table(spark, sf_dir, "documents")
    ranks = {
        (left, right): step
        for step, left, right, _, _ in _bpe_merges(docs)
    }

    def _count(words: pd.Series) -> pd.Series:
        return words.map(lambda w: _bpe_encode(w, ranks))

    count_udf = pandas_udf(_count, "long")

    toks = _bpe_words(docs)
    # Encode each DISTINCT word once, then broadcast the tiny
    # (word -> token count) table back onto the corpus stream.
    word_tokens = (
        toks.select("w")
        .distinct()
        .select("w", count_udf(F.col("w")).alias("wtok"))
    )
    return (
        toks.join(F.broadcast(word_tokens), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wtok").alias("n_bpe_tokens"),
            F.round(
                F.sum("wtok").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_tokens_per_word"),
        )
    )


# BM25 retrieval constants (the Robertson/Lucene defaults) and the
# fixed query term set — drawn from the synthetic corpus vocabulary so
# every scale factor produces matches.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "window")
BM25_TOPN = 20
_BM25_Q_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)


# The (doc_id, score) BM25-scored frame as a composable SQL subquery —
# q_text_bm25's oracle cuts it top-N; q_sim_hybrid_rrf's oracle ranks
# it as the lexical arm.
BM25_SCORED_SQL = f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS len
        FROM tok WHERE term <> '' GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               avg(len) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM tok WHERE term IN ({_BM25_Q_SQL})
        GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               ln(1.0 + (stats.n_docs - count(DISTINCT doc_id) + 0.5)
                        / (count(DISTINCT doc_id) + 0.5)) AS idf
        FROM tf CROSS JOIN stats
        GROUP BY term, stats.n_docs
    )
    SELECT doc_id, round(score, 6) AS score
    FROM (
        SELECT t.doc_id,
               sum(i.idf * t.tf * ({BM25_K1} + 1.0)
                   / (t.tf + {BM25_K1}
                      * (1.0 - {BM25_B}
                         + {BM25_B} * dl.len / stats.avgdl))) AS score
        FROM tf t
        JOIN dl ON t.doc_id = dl.doc_id
        JOIN idf i ON t.term = i.term
        CROSS JOIN stats
        GROUP BY t.doc_id
    )
"""


@register(
    "q_text_bm25",
    oracle=f"""
    {BM25_SCORED_SQL}
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOPN}
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75, the Lucene/Robertson
    always-positive idf ln(1+(N-df+0.5)/(df+0.5))) for a fixed query
    term set — the lexical ranker of a retrieval stack, and the
    lexical half of q_sim_hybrid_rrf. Completes the term-weighting
    family next to q_text_tfidf (which length-normalizes linearly;
    BM25 saturates tf and normalizes against avgdl).

    Determinism: the score is rounded to 6 dp BEFORE the top-N cut
    and doc_id breaks ties, so both engines cut identically (the
    q_text_tfidf convention). All inputs to the float expression are
    exact integers, so both engines evaluate ln/division on
    bit-identical operands.

    Scale: tokenization is ONE corpus pass, reduced straight to a
    per-doc WIDE aggregate (dl plus one conditional-sum tf column per
    query term). The aggregate necessarily consumes the FULL token
    stream — dl/avgdl count every token, so no query-term pre-filter
    is possible (a dl-only twin aggregate would just scan the corpus
    twice) — but it is a strict map-side-combinable reduction:
    post-shuffle rows are one per doc, |Q|+2 columns wide. idf and
    the (n_docs, avgdl) pair are O(|Q|) and O(1) broadcasts off that
    aggregate. The final scored frame is
    |matching docs| rows cut by TakeOrderedAndProject — no corpus
    sort, no unbounded shuffle. At 100 TB the only full-corpus
    stages are the two token aggregates, both strict reductions.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scored(docs)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25_TOPN)


def bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, score) for every BM25_QUERY-matching document —
    the Spark twin of BM25_SCORED_SQL, shared with q_sim_hybrid_rrf.

    One corpus pass: tokenization reduces straight to a per-doc WIDE
    aggregate (len + one conditional tf column per query term — |Q|
    is a query-time constant, so the width is fixed), read by the
    scoring join and by the O(1)-row corpus statistics (n_docs/avgdl
    and per-term df). The naive dl/tf/idf formulation scans and
    re-tokenizes the corpus FIVE times (measured on the physical
    plan). The aggregate is not persisted: in an interleaved A/B at
    sf 0.1, caching it made q_text_bm25 and q_sim_hybrid_rrf slower.
    """
    aggs = [F.count(F.lit(1)).cast("double").alias("len")]
    for i, t in enumerate(BM25_QUERY):
        aggs.append(
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("double")
            .alias(f"tf_{i}")
        )
    per_doc = tokens(docs).groupBy("doc_id").agg(*aggs)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("len").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    terms = []
    for i in range(len(BM25_QUERY)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
        )
        denom = tf + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("len") / F.col("avgdl")
        )
        terms.append(
            F.when(tf > 0, idf * tf * (BM25_K1 + 1.0) / denom).otherwise(
                0.0
            )
        )
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    matched = per_doc.filter(
        " OR ".join(f"tf_{i} > 0" for i in range(len(BM25_QUERY)))
    )
    return matched.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.round(score, 6).alias("score")
    )


_FERTILITY_ORACLE = r"""
    WITH per_doc AS (
        SELECT source, lang,
               length(text) AS n_chars_doc,
               len(list_filter(string_split(lower(text), ' '),
                               x -> x <> '')) AS n_words_doc,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS n_runs_doc
        FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars_doc) AS BIGINT) AS n_chars,
           CAST(sum(n_words_doc) AS BIGINT) AS n_words,
           CAST(sum(n_runs_doc) AS BIGINT) AS n_pretokens,
           round(CAST(sum(n_chars_doc) AS DOUBLE)
                 / nullif(CAST(sum(n_runs_doc) AS DOUBLE), 0.0), 6)
               AS chars_per_pretoken,
           round(CAST(sum(n_runs_doc) AS DOUBLE)
                 / nullif(CAST(sum(n_words_doc) AS DOUBLE), 0.0), 6)
               AS fertility
    FROM per_doc
    GROUP BY 1, 2
    """


def _fertility_per_doc(docs: DataFrame) -> DataFrame:
    """Per-document token-budget counts (chars / whitespace words /
    pre-token runs), computed PER ROW with no explode — shared by the
    batch census q_tokenizer_fertility and its streaming twin
    s_tokenizer_fertility (the per-row half of the triad idiom:
    shuffle-free signal extraction before the bounded-state agg)."""
    return docs.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("n_chars_doc"),
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).cast("long").alias("n_words_doc"),
        F.size(
            F.expr(
                "regexp_extract_all(lower(text),"
                " '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"
            )
        ).cast("long").alias("n_runs_doc"),
    )


def _fertility_finalize(sums: DataFrame) -> DataFrame:
    """(source, lang, n_docs, n_chars, n_words, n_pretokens) ->
    census rows with the round-6 division-last ratios; shared by both
    fertility tiers so the streaming replay and the batch aggregate
    finish through identical arithmetic."""
    return sums.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        "n_words",
        "n_pretokens",
        F.round(
            F.col("n_chars").cast("double")
            / F.nullif(F.col("n_pretokens").cast("double"), F.lit(0.0)),
            6,
        ).alias("chars_per_pretoken"),
        F.round(
            F.col("n_pretokens").cast("double")
            / F.nullif(F.col("n_words").cast("double"), F.lit(0.0)),
            6,
        ).alias("fertility"),
    )


@register(
    "q_tokenizer_fertility",
    oracle=_FERTILITY_ORACLE,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY census per (source, lang): pre-tokens per
    whitespace word and characters per pre-token — the two numbers a
    token-budget owner reads before pricing a corpus (fertility ~1
    means words survive pre-tokenization whole; rising fertility
    flags punctuation-/digit-heavy text that will explode into BPE
    units; chars_per_pretoken is the compression floor any merge
    table must beat). Pre-tokens use q_text_pretokenize's
    RE2/Java-identical run classes, so this is the corpus-level
    rollup of that per-doc census without paying its explode.

    Determinism: every ratio divides two exact integer sums, once,
    behind round-6 (division-last rule); empty groups surface NULL
    via nullif rather than dividing by zero.

    Scale: all three counts are computed PER ROW (size over split /
    regexp_extract_all — no explode, no token-stream shuffle); the
    only shuffle is the final (source, lang) aggregate, map-side
    combinable with a ~(sources x langs)-row result. This is the
    cheapest possible plan shape for a corpus-wide census: one
    codegen'd scan, one tiny reduction.
    """
    docs = load_table(spark, sf_dir, "documents")
    sums = _fertility_per_doc(docs).groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_doc").alias("n_chars"),
        F.sum("n_words_doc").alias("n_words"),
        F.sum("n_runs_doc").alias("n_pretokens"),
    )
    return _fertility_finalize(sums)
