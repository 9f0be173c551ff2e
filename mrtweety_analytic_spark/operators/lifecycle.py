"""Dataset-lifecycle operators: history building, canonicalization
dedup, passage-level duplication, decayed aggregation, reproducible
sampling.

The reference engine keeps no history and no lineage (its one query
re-derives the top-5 window from scratch each trigger,
`SparkApplication.scala:87-95`); a 100 TB corpus pipeline needs the
opposite — slowly-changing history for audit, canonical-URL dedup at
ingest (the Common-Crawl front door), passage-level exact-duplication
signals (Lee et al., "Deduplicating Training Data Makes Language
Models Better"), recency-weighted scores, and samples that are
reproducible across reruns and engines.

Scale notes per operator are in the docstrings; none of these shuffle
raw text except the passage index (whose fan-out is bounded by the
shingle width), and every aggregate is partial-aggregable map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from ..sources import load_table
from ..util import LastHandle, md5_int, md5_unit, ngram_windows

# Supersession holders for this module's persisted frames: repeated
# bench/verify calls keep one generation each in the block manager.
_LAST_RATES = LastHandle()
_LAST_EXPORT = LastHandle()
_LAST_DSIR_TOK = LastHandle()


@register(
    "q_cdc_scd2",
    oracle="""
    WITH ch AS (
        SELECT user_id, event_id, ts, round(value, 4) AS value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, value, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM ch
    """,
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a changelog into
    validity intervals. Each purchase event opens a version whose
    `valid_to` is the next change's timestamp (half-open interval),
    NULL marking the current version — the standard warehouse history
    build, done with one `lead()` window instead of a self-join.

    Scale: one shuffle, partitioned by the dimension key; the window
    frame is (ts, event_id)-ordered within each key, so skew follows
    key cardinality (user activity), not corpus size. No raw-payload
    shuffle — only the versioned columns move.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.round("value", 4).alias("value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# Deterministic noisy URL variants: four surface forms per logical
# document group (mixed-case host, explicit default port, utm tracking
# params, trailing slash) that must all collapse to one canonical URL.
_URL_ORACLE = """
    WITH raw AS (
        SELECT doc_id,
               CASE CAST(doc_id % 4 AS INTEGER)
                 WHEN 0 THEN 'https://docs.Example.COM/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR)
                 WHEN 1 THEN 'https://docs.example.com:443/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR)
                 WHEN 2 THEN 'https://docs.example.com/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR)
                             || '?utm_source=feed&utm_medium=rss'
                 ELSE 'https://docs.example.com/corpus/'
                             || CAST(doc_id // 4 AS VARCHAR) || '/'
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               'https://'
               || lower(regexp_extract(
                      regexp_replace(url, ':443', ''),
                      'https://([^/]+)', 1))
               || regexp_replace(regexp_extract(
                      regexp_replace(
                          regexp_replace(url, ':443', ''),
                          '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
                      'https://[^/]+([^?#]*)', 1), '/+$', '')
                   AS canonical_url
        FROM raw
    )
    SELECT canonical_url,
           count(*) AS n_variants,
           min(doc_id) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
"""


def _synth_canonical_url() -> F.Column:
    """The synthetic-URL-variant + canonicalization expression shared
    by q_dedup_url (batch keep-one-per-URL) and s_dedup_url (the
    streaming crawl-front-door monitor): four deterministic surface
    variants per doc_id (mixed-case host / :443 / utm params /
    trailing slash), canonicalized by lower-casing the host,
    stripping the default port, removing tracking params, and
    trimming the trailing slash — row-local codegen'd string work,
    legal on a streaming frame."""
    group = (F.col("doc_id") / 4).cast("long").cast("string")
    base = F.concat(F.lit("https://docs.example.com/corpus/"), group)
    mixed = F.concat(F.lit("https://docs.Example.COM/corpus/"), group)
    port = F.concat(F.lit("https://docs.example.com:443/corpus/"), group)
    url = (
        F.when(F.col("doc_id") % 4 == 0, mixed)
        .when(F.col("doc_id") % 4 == 1, port)
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(base, F.lit("?utm_source=feed&utm_medium=rss")),
        )
        .otherwise(F.concat(base, F.lit("/")))
    )
    noport = F.regexp_replace(url, ":443", "")
    host = F.lower(F.regexp_extract(noport, "https://([^/]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(
            F.regexp_replace(noport, r"[?&]utm_[a-z]+=[^&#]*", ""),
            "https://[^/]+([^?#]*)",
            1,
        ),
        "/+$",
        "",
    )
    return F.concat(F.lit("https://"), host, path)


@register("q_dedup_url", oracle=_URL_ORACLE)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication — the crawl-ingest front door.

    Four deterministic surface variants are synthesized per document
    (mixed-case host, explicit :443 default port, utm_* tracking
    params, trailing slash); canonicalization lower-cases the host,
    strips the default port, removes tracking parameters, and trims
    the trailing slash, then keeps one representative (min doc_id)
    per canonical URL. The oracle re-derives the same canonical form
    with DuckDB's regex dialect, so the gate certifies the
    normalization semantics, not one engine's regex quirks.

    Scale: canonicalization is row-local codegen'd string work; the
    only shuffle is the groupBy on the canonical key — O(unique URLs)
    — and raw page payloads (not modeled here) would never move, only
    the canonical key and doc id.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _synth_canonical_url().alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


_SHINGLE_W = 8


@register(
    "q_text_passage_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               array_to_string(t[i.i:i.i + {_SHINGLE_W - 1}], ' ') AS passage
        FROM toks,
             unnest(generate_series(1, greatest(len(t) - {_SHINGLE_W - 1}, 0)))
                 AS i(i)
    )
    SELECT passage,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM sh
    GROUP BY passage
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection: every {w}-token window that
    occurs in at least two distinct documents, with its document and
    occurrence counts — the passage-level exact-substring duplication
    signal (the suffix-array signal of Lee et al. 2022, expressed as
    a bounded shingle index instead of a driver-side suffix array).

    Scale: shingling is map-side util.ngram_windows over the token
    array; the shuffle key is the passage string and the aggregate is
    partial-aggregable, so hot passages combine map-side before the
    exchange. Fan-out per doc is len(tokens) − w + 1 rows of w tokens
    each — bounded, linear in corpus size, and the raw document text
    never shuffles (only its w-token windows do).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("t")
    )
    shingles = toks.select(
        "doc_id",
        F.explode(ngram_windows("t", _SHINGLE_W)).alias("g"),
    ).select(
        "doc_id",
        F.concat_ws(" ", *[f"g.{i}" for i in range(_SHINGLE_W)]).alias(
            "passage"
        ),
    )
    return (
        shingles.groupBy("passage")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "q_agg_decayed",
    oracle="""
    WITH mx AS (SELECT max(ts) AS tmax FROM events)
    SELECT event_type,
           round(sum(value * exp(-date_diff('day', ts, tmax) / 30.0)), 4)
               AS decayed_sum,
           count(*) AS n_events
    FROM events, mx
    GROUP BY event_type
    """,
)
def q_agg_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed aggregation (30-day e-folding):
    recency-weighted engagement per event type — the trending-score
    primitive that a batch recompute of the reference's sliding
    window generalizes to (`SparkApplication.scala:87-88` weights all
    events in the window equally; decay replaces the hard cutoff).

    Day-granular decay keeps the weight integral across engines
    (integer day difference → identical doubles); the 1-row max-ts
    aggregate is broadcast into the scan, so the whole thing is one
    scan + one partial-aggregable groupBy.

    Scale bound (round-7 money-sum policy): exp-weighted terms are
    NOT grid-rational, so this sum cannot take the exact-integer
    escape the 4dp money sums got — the 4-decimal round holds while
    per-group merge-order error stays under the grid (measured
    ~4e-6 at sf0.1; the ~25x margin runs out around sf1-sf10 group
    sizes). A larger corpus rounds coarser or folds per-day partial
    sums (day buckets make the inner sum per (type, day) small, and
    the outer O(days) re-sum is merge-order-stable).
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    days = F.datediff(F.to_date("tmax"), F.to_date("ts"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("value") * F.exp(-days / F.lit(30.0))), 4
            ).alias("decayed_sum"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_RESERVOIR_K = 25


@register(
    "q_sample_reservoir",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT source, doc_id, n_chars, rk
    FROM ranked WHERE rk <= {_RESERVOIR_K}
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible fixed-size-per-stratum sample (reservoir-sample
    semantics without the order dependence): rank documents within
    each source by the md5 of their id — a uniform, engine-agnostic
    pseudo-random order — and keep the first k. Unlike seeded
    Bernoulli sampling this is exactly reproducible across engines,
    partitionings, and reruns (the audit requirement for training-set
    provenance), and unlike a true streaming reservoir it is
    deterministic under re-execution.

    Scale: WindowGroupLimit pushes the top-k below the exchange
    (partial per-partition top-k before the shuffle), so each
    partition forwards at most k rows per stratum — the same
    plan shape pinned for q_win_topk_per_group.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= _RESERVOIR_K)
        .withColumn("rk", F.col("rk").cast("long"))
    )


@register(
    "q_text_passage_scrub",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS term,
               generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        FROM documents
    ),
    sh AS (
        SELECT doc_id, i.i AS s,
               array_to_string(t[i.i:i.i + {_SHINGLE_W - 1}], ' ') AS passage
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
              FROM documents),
             unnest(generate_series(1, greatest(len(t) - {_SHINGLE_W - 1}, 0)))
                 AS i(i)
    ),
    dup AS (
        SELECT passage FROM sh
        GROUP BY passage HAVING count(DISTINCT doc_id) >= 2
    ),
    starts AS (
        SELECT DISTINCT sh.doc_id, sh.s
        FROM sh JOIN dup ON dup.passage = sh.passage
    ),
    covered AS (
        SELECT DISTINCT t.doc_id, t.pos
        FROM toks t JOIN starts st
          ON st.doc_id = t.doc_id
         AND t.pos BETWEEN st.s AND st.s + {_SHINGLE_W - 1}
    ),
    kept AS (
        SELECT t.doc_id, t.term, t.pos
        FROM toks t LEFT JOIN covered c
          ON c.doc_id = t.doc_id AND c.pos = t.pos
        WHERE c.pos IS NULL
    ),
    base AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    rem AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id),
    cln AS (
        SELECT doc_id, md5(string_agg(term, ' ' ORDER BY pos)) AS cleaned_md5
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           coalesce(r.n_removed, 0) AS n_removed,
           coalesce(c.cleaned_md5, md5('')) AS cleaned_md5
    FROM base b
    LEFT JOIN rem r ON r.doc_id = b.doc_id
    LEFT JOIN cln c ON c.doc_id = b.doc_id
    """,
)
def q_text_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup as an ACTION, not just a report: every
    token covered by any cross-document duplicated 8-token window
    (q_text_passage_dedup's detection rule) is removed from every
    document, and the scrubbed text is certified by digest — the Lee
    et al. 2022 exact-substring dedup applied, expressed fully
    relationally (shingle starts → covered position ranges → token
    anti-join → ordered reassembly), so a plain SQL oracle can check
    the rewritten corpus byte-for-byte. Aggressive variant: all
    occurrences go (a keep-one policy is the same plan with a
    row_number gate on `starts`).

    Scale: positions and shingle starts are map-side fan-out from the
    token array; `covered` is an equi-join on doc_id with the range
    as residual (never a cross product — a shingle start covers at
    most {_SHINGLE_W} positions of ITS document); the reassembly
    groups by doc with an ordered in-group sort. Raw text shuffles
    once, as (doc_id, term, pos) triples.
    """
    docs = load_table(spark, sf_dir, "documents")
    t_arr = F.split(F.lower(F.col("text")), " ")
    toks = docs.select(
        "doc_id", F.posexplode(t_arr).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(split(lower(text), ' ')) - {_SHINGLE_W - 1}, 0)),"
                f" i -> struct(i AS s, array_join(slice(split(lower(text), ' '), i, {_SHINGLE_W}), ' ') AS passage))"
            )
        ).alias("x"),
    ).select("doc_id", "x.s", "x.passage")
    dup = (
        sh.groupBy("passage")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("passage")
    )
    starts = (
        sh.join(F.broadcast(dup), "passage", "left_semi")
        .select("doc_id", "s")
        .distinct()
    )
    st = starts.select(F.col("doc_id").alias("s_doc"), "s")
    covered = (
        toks.join(
            st,
            (F.col("doc_id") == F.col("s_doc"))
            & F.col("pos").between(F.col("s"), F.col("s") + _SHINGLE_W - 1),
        )
        .select("doc_id", "pos")
        .distinct()
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    base = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    rem = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    cln = kept.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "term"))),
                    lambda x: x["term"],
                ),
                " ",
            )
        ).alias("cleaned_md5")
    )
    return (
        base.join(rem, "doc_id", "left")
        .join(cln, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias(
                "cleaned_md5"
            ),
        )
    )


# Shared engine-portable uniform hash: the first 12 hex digits of
# md5(key) as a 48-bit integer. Spark's conv() and DuckDB's
# '0x'-prefixed cast produce the SAME value (parity pytest-pinned),
# which is what makes hash-gated sampling reproducible ACROSS ENGINES
# — the property df.sample()/TABLESAMPLE can never give.
_HASH48_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT"


def _hash48() -> F.Column:
    """The Spark side of _HASH48_SQL: doc_id's 48-bit md5 address."""
    return md5_int(F.col("doc_id").cast("string"), 1, 12).cast("bigint")


N_SHARDS = 8


@register(
    "q_shard_assign",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, {_HASH48_SQL} AS h FROM documents
    )
    SELECT doc_id, h % {N_SHARDS} AS shard,
           row_number() OVER (PARTITION BY h % {N_SHARDS}
                              ORDER BY h, doc_id) - 1 AS "offset"
    FROM h
    """,
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: every document gets a
    (shard, offset) address by hash — the reproducible global shuffle
    a training run needs (same corpus ⇒ same shard layout, on any
    engine, under any partitioning, across retries).

    Scale: NO global sort/row_number (a single-partition window is
    the classic zipWithIndex trap) — the shard is a pure map-side
    hash-mod, and the offset is a row_number PARTITIONED BY shard, so
    the only exchange is the shard hash partition itself and each
    shard sorts independently. Within-shard order is (h, doc_id) —
    hash order, i.e. the shuffle — so consecutive offsets are an
    unbiased sample of the corpus, which is the point of shuffling
    training data.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_h = docs.select("doc_id", _hash48().alias("h"))
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return (
        with_h.withColumn("shard", F.pmod(F.col("h"), F.lit(N_SHARDS)))
        .withColumn("offset", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", "shard", "offset")
    )


# Target language mix for q_mix_rebalance — the "what the training
# run wants" side of the rebalance; the corpus's availability is the
# other side.
MIX_TARGETS = {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05}

_MIX_TARGETS_SQL = " UNION ALL ".join(
    f"SELECT '{k}' AS lang, CAST({v} AS DOUBLE) AS target"
    for k, v in MIX_TARGETS.items()
)


_MIX_REBALANCE_ORACLE = f"""
    WITH targets AS ({_MIX_TARGETS_SQL}),
    avail AS (
        SELECT lang, CAST(count(*) AS DOUBLE) AS n_avail
        FROM documents GROUP BY lang
    ),
    k AS (
        SELECT min(n_avail / target) AS k
        FROM avail JOIN targets USING (lang)
    ),
    rates AS (
        SELECT lang, n_avail,
               least(1.0, k.k * target / n_avail) AS rate
        FROM avail JOIN targets USING (lang) CROSS JOIN k
    ),
    kept AS (
        SELECT d.lang, count(*) AS n_kept
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE {_HASH48_SQL} / 281474976710656.0 < r.rate
        GROUP BY d.lang
    )
    SELECT r.lang, CAST(r.n_avail AS BIGINT) AS n_avail,
           round(r.rate, 6) AS rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    """


@register("q_mix_rebalance", oracle=_MIX_REBALANCE_ORACLE)
def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mix rebalancing: given target language weights
    (MIX_TARGETS) and the corpus's availability, down-sample each
    over-represented language so the kept corpus hits the target mix
    at the largest achievable size — k = min(avail/target) is the
    binding-constraint scale (the scarcest language keeps ~100%), and
    each language keeps rate = k·target/avail of its documents via
    the engine-portable 48-bit md5 gate (reproducible across engines,
    retries, and partitionings; no RNG).

    Scale: two tiny aggregates (per-language counts, the min-ratio
    scalar) broadcast back onto a single map-side filter over the
    corpus — no shuffle of document rows at all. The keep decision is
    a pure per-row predicate, so it composes with scan pruning; at
    100 TB this is one pass. The same shape handles domain/source
    mixes and quality-tier mixes — the mix key is just a column.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _mix_report(spark, docs, _lang_avail(docs))


def _mix_rates(spark: SparkSession, avail: DataFrame) -> DataFrame:
    """(lang, n_avail, rate) from the availability census `avail`
    (lang, n_avail): k = min(avail/target) is the binding constraint
    and each MIX_TARGETS language keeps rate = min(1, k·target/avail)
    of its documents."""
    targets = spark.createDataFrame(
        list(MIX_TARGETS.items()), "lang string, target double"
    )
    k = avail.join(targets, "lang").agg(
        F.min(F.col("n_avail") / F.col("target")).alias("k")
    )
    return (
        avail.join(targets, "lang")
        .crossJoin(F.broadcast(k))
        .select(
            "lang",
            "n_avail",
            F.least(
                F.lit(1.0), F.col("k") * F.col("target") / F.col("n_avail")
            ).alias("rate"),
        )
    )


def _mix_kept(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """The rows of `docs` under their language's keep rate by the
    48-bit md5 gate on doc_id (a `rate` column is added)."""
    return docs.join(F.broadcast(rates.select("lang", "rate")), "lang").where(
        md5_unit(F.col("doc_id").cast("string")) < F.col("rate")
    )


def _mix_report(spark: SparkSession, docs: DataFrame, avail: DataFrame) -> DataFrame:
    """The rebalance arithmetic downstream of the availability census
    (_mix_rates, then the md5-gate kept census over `docs`) — shared
    by q_mix_rebalance (avail aggregated in-plan) and s_mix_rebalance
    (avail replayed from streaming counters), so the live monitor's
    rates equal the batch plan's by construction."""
    # rates feeds two consumers (the keep filter and the final report
    # join); persist the language-sized frame so the avail/k subtree
    # — two scans of documents otherwise — computes once (the
    # engine's persist-multi-consumer-aggregates rule).
    rates = _mix_rates(spark, avail)
    _LAST_RATES.persist(rates)
    kept = (
        _mix_kept(docs, rates)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n_avail").cast("long").alias("n_avail"),
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def _lang_avail(docs: DataFrame) -> DataFrame:
    """(lang, n_avail): the availability census of `docs`."""
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n_avail")
    )


def _shard() -> F.Column:
    """The training shard of doc_id (q_shard_assign's shard)."""
    return F.pmod(_hash48(), F.lit(N_SHARDS))


def _rebalanced_shards(spark: SparkSession, survivors: DataFrame) -> DataFrame:
    """`survivors` mix-rebalanced over their own availability census
    and shard-addressed: all columns plus `shard`."""
    rates = _mix_rates(spark, _lang_avail(survivors))
    return (
        _mix_kept(survivors, rates).drop("rate").withColumn("shard", _shard())
    )


# Weighted-sample parameters: integer weight from doc length, top-K
# kept per source stratum.
WS_MAX_W = 8
WS_TOP_K = 5


@register(
    "q_sample_weighted",
    oracle=f"""
    WITH w AS (
        SELECT source, doc_id, n_chars,
               least({WS_MAX_W},
                     greatest(1, CAST(floor(n_chars / 200) AS INTEGER)))
                   AS wt
        FROM documents
    ),
    keyed AS (
        SELECT source, doc_id, n_chars, wt,
               max(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)))
                   AS k
        FROM w, unnest(range(1, wt + 1)) AS t(i)
        GROUP BY source, doc_id, n_chars, wt
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(wt AS BIGINT) AS wt
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY k DESC, doc_id) AS rk
        FROM keyed
    ) WHERE rk <= {WS_TOP_K}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement (top-{WS_TOP_K} per
    source, weight ∝ document length) — the A-Res/A-ES family's
    priority sampling, made ENGINE-EXACT with integer arithmetic: a
    document of integer weight w draws w independent md5 uniforms
    (md5(doc_id:i), i=1..w) and its priority is their MAX — the max
    of w uniforms is distributed exactly as u^(1/w), the classic
    exponent-key priority, but the comparison stays a hex-STRING
    order, so no ln/pow libm call whose last ulp could differ between
    engines ever enters the ranking (the flaw that makes float-keyed
    weighted sampling non-portable). Completes the sampling tier:
    uniform modulus, stratified, reservoir, and now weighted.

    Scale: fan-out is the integer weight (≤ {WS_MAX_W}) per row, the
    priority reduce is partial-aggregable max, and the per-stratum
    top-K is a WindowGroupLimit — partial top-K before the stratum
    shuffle, so the full corpus never sorts.
    """
    docs = load_table(spark, sf_dir, "documents")
    wt = F.least(
        F.lit(WS_MAX_W),
        F.greatest(F.lit(1), F.floor(F.col("n_chars") / 200).cast("int")),
    )
    keyed = (
        docs.select("source", "doc_id", "n_chars", wt.alias("wt"))
        .select(
            "source",
            "doc_id",
            "n_chars",
            "wt",
            F.explode(F.sequence(F.lit(1), F.col("wt"))).alias("i"),
        )
        .select(
            "source",
            "doc_id",
            "n_chars",
            "wt",
            F.md5(
                F.concat_ws(":", F.col("doc_id"), F.col("i"))
            ).alias("k"),
        )
        .groupBy("source", "doc_id", "n_chars", "wt")
        .agg(F.max("k").alias("k"))
    )
    w = W.partitionBy("source").orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WS_TOP_K)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("wt").cast("long").alias("wt"),
        )
    )


def _export_oracle() -> str:
    from .dedup import _funnel_ctes

    targets_sql = _MIX_TARGETS_SQL
    return f"""
    WITH RECURSIVE {_funnel_ctes()},
    targets AS ({targets_sql}),
    avail AS (
        SELECT lang, CAST(count(*) AS DOUBLE) AS n_avail
        FROM final GROUP BY lang
    ),
    kk AS (
        SELECT min(n_avail / target) AS k
        FROM avail JOIN targets USING (lang)
    ),
    rates AS (
        SELECT lang, least(1.0, kk.k * target / n_avail) AS rate
        FROM avail JOIN targets USING (lang) CROSS JOIN kk
    ),
    kept AS (
        SELECT f.doc_id, f.n_chars
        FROM final f JOIN rates r ON f.lang = r.lang
        WHERE ('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 12))::BIGINT
                  / 281474976710656.0 < r.rate
    )
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               % {N_SHARDS} AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM kept
    GROUP BY 1
    """


@register("q_training_export", oracle=_export_oracle())
def q_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data export: curation funnel (quality
    gates → exact dedup → near-dup removal, q_corpus_funnel's
    survivor chain) → language-mix rebalance at the largest
    achievable size (q_mix_rebalance's binding-constraint rates,
    computed over the SURVIVORS, not the raw corpus) → deterministic
    shard addressing (q_shard_assign's hash gate) — reported as the
    per-shard manifest (docs, bytes) a training launcher consumes.
    One lazy plan, one composed SQL oracle: the whole pipeline a
    reference user would run before a training job, certified
    value-for-value.

    Scale: each stage's design is certified separately (funnel
    cost-ordering, broadcast rates, map-side hash gates); composed,
    the only additions are one broadcast join (rates) and the final
    shard aggregate — no new shuffle class. The funnel's pair join
    dominates, and it runs on the smallest stage input by
    construction.
    """
    kept = training_export_frame(spark, sf_dir)
    return export_manifest(kept)


def export_manifest(kept: DataFrame) -> DataFrame:
    """Per-shard manifest aggregate over an exportable kept frame —
    shared by q_training_export and the CLI `export` command (which
    aggregates the frame it already wrote instead of re-running the
    funnel, ADVICE r12)."""
    return kept.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def training_export_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exportable curated corpus: funnel survivors, mix-rebalanced
    and shard-addressed — all columns plus `shard`. q_training_export
    aggregates this into the per-shard manifest; the CLI `export`
    command writes it shard-partitioned to disk."""
    from .dedup import funnel_stages

    docs = load_table(spark, sf_dir, "documents")
    # `final` feeds two consumers (the availability aggregate and the
    # keep join) — persist the survivor set so the funnel's pair join
    # runs once, not twice (the engine's multi-consumer rule).
    final = funnel_stages(docs)[2]
    _LAST_EXPORT.persist(final)
    return _rebalanced_shards(spark, final)


_LAST_EXPORT_FULL = LastHandle()


def _export_full_oracle() -> str:
    from .dedup import VAL_MOD, _edges_sql_prefixed, _funnel_ctes
    from .textops import DECON_BENCH_MOD

    return f"""
    WITH RECURSIVE {_funnel_ctes()},
    {_edges_sql_prefixed("cl_")},
    cedges AS (
        SELECT doc_a AS a, doc_b AS b FROM cl_pairs
        UNION ALL SELECT doc_b, doc_a FROM cl_pairs
    ),
    reach(doc, other) AS (
        SELECT a, a FROM cedges
        UNION
        SELECT r.doc, e.b FROM reach r JOIN cedges e ON e.a = r.other
    ),
    cl AS (SELECT doc, min(other) AS cluster_id FROM reach GROUP BY doc),
    train AS (
        SELECT f.* FROM final f LEFT JOIN cl ON cl.doc = f.doc_id
        WHERE coalesce(cl.cluster_id, f.doc_id) % {VAL_MOD} <> 0
    ),
    dg AS (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   t.term || ' ' || lead(t.term, 1) OVER w || ' '
                          || lead(t.term, 2) OVER w || ' '
                          || lead(t.term, 3) OVER w AS shingle
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS term,
                       generate_subscripts(string_split(text, ' '), 1)
                           AS pos
                FROM documents
            ) t
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        )
        WHERE shingle IS NOT NULL
    ),
    bsh AS (SELECT DISTINCT shingle FROM dg
            WHERE doc_id % {DECON_BENCH_MOD} = 0),
    tnb AS (SELECT * FROM train
            WHERE doc_id % {DECON_BENCH_MOD} <> 0),
    contaminated AS (
        SELECT DISTINCT g.doc_id FROM dg g JOIN bsh USING (shingle)
        WHERE g.doc_id IN (SELECT doc_id FROM tnb)
    ),
    clean AS (SELECT * FROM tnb
              WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    targets AS ({_MIX_TARGETS_SQL}),
    avail AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_avail
              FROM clean GROUP BY lang),
    kk AS (SELECT min(n_avail / target) AS k
           FROM avail JOIN targets USING (lang)),
    rates AS (SELECT lang, least(1.0, kk.k * target / n_avail) AS rate
              FROM avail JOIN targets USING (lang) CROSS JOIN kk),
    kept AS (
        SELECT c.doc_id, c.n_chars
        FROM clean c JOIN rates r ON c.lang = r.lang
        WHERE {_HASH48_SQL} / 281474976710656.0 < r.rate
    ),
    tagged AS (
        SELECT doc_id, n_chars, 1 AS is_kept FROM kept
        UNION ALL
        SELECT doc_id, 0 AS n_chars, 0 AS is_kept FROM contaminated
    )
    SELECT {_HASH48_SQL} % {N_SHARDS} AS shard,
           CAST(sum(is_kept) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_kept = 1 THEN n_chars ELSE 0 END)
                AS BIGINT) AS sum_chars,
           CAST(sum(1 - is_kept) AS BIGINT) AS n_decontaminated
    FROM tagged GROUP BY 1
    """


@register("q_training_export_full", oracle=_export_full_oracle())
def q_training_export_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_training_export with the two gates a REAL pre-training
    export runs between curation and sharding (VERDICT r11 item 5):
    funnel survivors -> LEAKAGE-SAFE SPLIT (only the train side of
    q_split_leakage_safe's cluster-keyed assignment exports — a val
    doc or any of its near-dup twins can never reach a training
    shard) -> BENCHMARK DECONTAMINATION (q_text_decontaminate's
    word-4-gram gate: train docs sharing any shingle with the
    held-out set are dropped, and the per-shard manifest accounts
    them as n_decontaminated so the removal is auditable, not
    silent) -> mix rebalance at the largest achievable size over
    the CLEAN corpus -> deterministic shard addressing. One lazy
    plan, one composed SQL oracle.

    Semantics pinned by composition: split clusters come from the
    FULL-corpus near-dup graph (q_dedup_clusters), not the funnel
    survivors — connectivity through a quality-dropped doc still
    merges clusters, so the split stays leakage-safe even for docs
    whose twins died in the funnel. Benchmark shingles likewise come
    from the RAW corpus (the eval suite is external to curation).
    A decontaminated doc is reported under the shard it WOULD have
    landed in (same 48-bit md5 address), so a shard whose
    n_decontaminated spikes localizes the contamination.

    Scale: the two pair joins (funnel's fdocs graph, split's full
    graph) dominate and are both the certified banded/inverted-index
    shapes; the decon gate broadcasts the benchmark shingle set
    (always tiny vs a 100 TB corpus) against a map-side semi-joined
    train shingle stream; rebalance rates and the shard aggregate
    add one broadcast join and one O(shards) reduce — no new shuffle
    class over the certified stages.
    """
    kept, contaminated = training_export_full_frames(spark, sf_dir)
    return export_full_manifest(kept, contaminated)


def export_full_manifest(
    kept: DataFrame, contaminated: DataFrame
) -> DataFrame:
    """Per-shard manifest aggregate over the (kept, contaminated)
    frame pair — shared by q_training_export_full and the CLI
    `--full` export, which reuses the persisted frames it already
    wrote instead of re-running the funnel+cluster+decontamination
    pipeline a second time (ADVICE r12)."""
    tagged = kept.select("doc_id", "n_chars", "shard").withColumn(
        "is_kept", F.lit(1)
    ).unionByName(
        contaminated.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_chars"),
            "shard",
            F.lit(0).alias("is_kept"),
        )
    )
    return tagged.groupBy("shard").agg(
        F.sum("is_kept").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("is_kept") == 1, F.col("n_chars")).otherwise(0)
        ).cast("long").alias("sum_chars"),
        F.sum(1 - F.col("is_kept")).cast("long").alias("n_decontaminated"),
    )


def training_export_full_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Doc-level frames behind q_training_export_full: (kept docs
    with all survivor columns + shard, decontaminated doc_ids +
    would-be shard). The manifest aggregates these; tests and the
    CLI export consume them directly."""
    from ..registry import QUERIES
    from .dedup import VAL_MOD, funnel_stages
    from .textops import DECON_BENCH_MOD, _decon_grams

    docs = load_table(spark, sf_dir, "documents")
    final = funnel_stages(docs)[2]
    clusters = QUERIES["q_dedup_clusters"](spark, sf_dir)
    train = (
        final.join(clusters, "doc_id", "left")
        .filter(
            F.coalesce("cluster_id", F.col("doc_id")) % VAL_MOD != 0
        )
        .select(*final.columns)
    )
    # tnb feeds TWO consumers (the contamination semi-join's doc_id
    # side and the clean anti-join) — without the persist the whole
    # funnel + cluster-split lineage above executes twice (round-13
    # optimization pass; the dominant cost of this composite).
    tnb = train.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    gexpr = F.explode(_decon_grams()).alias("shingle")
    # Round-14: the old shared `grams` frame (corpus-wide
    # dropDuplicates([doc_id, shingle])) was evaluated ONCE PER
    # CONSUMER and paid a full corpus-shingle shuffle each time —
    # yet its two consumers restrict to DISJOINT doc halves
    # (benchmark docs %MOD==0 vs train docs %MOD!=0, tnb already
    # excludes the benchmark half). Filtering each side's docs
    # BEFORE the explode removes the shared dedup shuffle entirely
    # (guide §2.3/§2.4): the benchmark side's `distinct` subsumes
    # its per-doc dedup, and the contamination side needs no
    # per-(doc, shingle) dedup at all because its output is
    # `distinct doc_id` — duplicate shingle hits collapse there.
    bench = (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(gexpr)
        .distinct()
    )
    # Restrict the shingle stream to train docs BEFORE the benchmark
    # join (semi-join on the doc_id key), then broadcast the tiny
    # benchmark side — the corpus-side shingles never shuffle.
    contaminated = (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .select("doc_id", gexpr)
        .join(tnb.select("doc_id"), "doc_id", "left_semi")
        .join(F.broadcast(bench), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("shard", _shard())
    )
    # clean feeds two consumers (availability agg + keep join);
    # contaminated feeds two (anti-join + manifest union) — persist
    # both so the funnel/cluster lineage runs once (the engine's
    # multi-consumer rule).
    clean = tnb.join(contaminated, "doc_id", "left_anti")
    _LAST_EXPORT_FULL.persist(tnb, contaminated, clean)
    return _rebalanced_shards(spark, clean), contaminated


@register(
    "q_mix_temperature",
    oracle="""
    WITH avail AS (
        SELECT source, CAST(count(*) AS DOUBLE) AS n_avail
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_avail) AS n FROM avail),
    p AS (
        SELECT source, n_avail, n_avail / tot.n AS p,
               pow(n_avail / tot.n, 0.7) AS q_raw
        FROM avail CROSS JOIN tot
    ),
    z AS (SELECT sum(q_raw) AS z FROM p)
    SELECT source, CAST(n_avail AS BIGINT) AS n_avail,
           round(p, 6) AS p_nat,
           round(q_raw / z.z, 6) AS p_temp,
           round((q_raw / z.z) / p, 6) AS weight_mult
    FROM p CROSS JOIN z
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mix (alpha = 0.7, the multilingual /
    multi-domain sampling rule from the XLM-R / LLaMA lineage):
    natural share p_i = n_i/N is flattened to q_i = p_i^a / sum p^a,
    up-weighting scarce sources and down-weighting dominant ones
    without the hard targets q_mix_rebalance needs. `weight_mult` =
    q_i/p_i is the per-document sampling multiplier a loader applies.

    Scale: one per-source count aggregate (map-side combinable), two
    scalar reductions over the source-sized frame, zero shuffles of
    document rows — the whole op is O(sources) after one corpus
    scan's pre-aggregated counts. Composes with q_mix_rebalance's
    md5-gate filter when materializing the sampled corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_avail")
    )
    tot = avail.agg(F.sum("n_avail").alias("n"))
    p = (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_avail",
            (F.col("n_avail") / F.col("n")).alias("p"),
            F.pow(F.col("n_avail") / F.col("n"), F.lit(0.7)).alias(
                "q_raw"
            ),
        )
    )
    z = p.agg(F.sum("q_raw").alias("z"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_avail").cast("bigint").alias("n_avail"),
        F.round("p", 6).alias("p_nat"),
        F.round(F.col("q_raw") / F.col("z"), 6).alias("p_temp"),
        F.round((F.col("q_raw") / F.col("z")) / F.col("p"), 6).alias(
            "weight_mult"
        ),
    )


@register(
    "q_join_scd2_pit",
    oracle="""
    WITH dim AS (
        SELECT user_id, round(value, 4) AS ver_value, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM events WHERE event_type = 'purchase'
    ),
    facts AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'click'
    )
    SELECT f.event_id, f.user_id, f.ts,
           d.ver_value, d.valid_from
    FROM facts f
    JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.ts
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def q_join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact-to-dimension join against SCD2 validity
    intervals: every click is enriched with the purchase-version that
    was CURRENT at the click's timestamp (half-open [valid_from,
    valid_to) intervals, NULL valid_to = still current) — the
    temporal-join half of the q_cdc_scd2 history build, and the
    warehouse query every Kimball dimension exists to serve. Matches
    are naturally unique: intervals per user partition time, so no
    dedup or argmax is needed after the interval predicate.

    Scale: equi-join on user_id carries the interval predicates as
    residual filters, so fan-out per fact row is bounded by that
    user's version count (small by construction), never a range-join
    blow-up; both sides shuffle once on the key. A date-bucketed
    variant (q_join_interval_overlap's shape) drops in when versions
    per key grow unbounded.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.round("value", 4).alias("ver_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return facts.join(
        dim,
        (facts["user_id"] == dim["user_id"])
        & (dim["valid_from"] <= facts["ts"])
        & (dim["valid_to"].isNull() | (facts["ts"] < dim["valid_to"])),
    ).select(
        "event_id",
        facts["user_id"].alias("user_id"),
        "ts",
        "ver_value",
        "valid_from",
    )


@register(
    "q_sample_balanced",
    oracle="""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
    m AS (SELECT min(n) AS mn FROM counts),
    ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT lang, doc_id, rk FROM ranked, m WHERE rk <= m.mn
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language is cut to the
    MINORITY class size, members chosen by md5(doc_id) priority —
    the classifier-training prep that q_sample_stratified
    (proportional) deliberately does not do. The md5 order makes the
    selection a uniform pseudo-random draw that reproduces exactly
    across engines, partitionings, and reruns (training-set
    provenance, same rule as q_sample_reservoir); re-running with
    one new document changes at most which single rank each class
    tail holds, not the whole sample (priority sampling's stability
    property).

    Scale: class counts are one map-side-combinable aggregate
    collapsed to a 1-row broadcast; the per-class rank is one window
    sort partitioned by lang. The cut rank is data-dependent, so
    WindowGroupLimit cannot pre-push it — the honest cost is one
    full sort per class, and the docstring says so rather than
    pretending otherwise (a fixed-k variant would push down; see
    q_sample_reservoir).
    """
    docs = load_table(spark, sf_dir, "documents")
    mn = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("mn"))
    )
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "lang", "doc_id", F.row_number().over(w).alias("rk")
    )
    return ranked.crossJoin(F.broadcast(mn)).filter(
        F.col("rk") <= F.col("mn")
    ).select("lang", "doc_id", F.col("rk").cast("long").alias("rk"))


@register(
    "q_shard_balance",
    oracle=f"""
    WITH r AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) - 1
                   AS rk
        FROM documents
    ),
    a AS (
        SELECT n_chars,
               CASE WHEN rk % {2 * N_SHARDS} < {N_SHARDS}
                    THEN rk % {2 * N_SHARDS}
                    ELSE {2 * N_SHARDS} - 1 - rk % {2 * N_SHARDS}
               END AS shard
        FROM r
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM a GROUP BY shard
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIZE-balanced shard assignment — the skew-aware twin of
    q_shard_assign (which hashes and prays). Hash placement balances
    COUNTS; when document sizes are heavy-tailed it leaves shards
    2-3x apart in bytes, and the largest shard sets the training
    job's wall clock. Here documents are ranked by size descending
    within each source and dealt to shards in SNAKE order
    (0..K-1, K-1..0, ...), the greedy longest-processing-time
    heuristic's streaming-friendly cousin: each 2K-row wave gives
    every shard one large + one small document, bounding the
    per-wave byte spread. Output is the per-shard manifest
    (docs, bytes) — the balance certificate itself.

    Scale: the rank is per-SOURCE (partitioned window, no global
    sort); snake dealing is pure modular arithmetic on the rank; the
    closing rollup is map-side combinable over K groups. Balancing
    within each source also balances the union, without ever
    ordering the whole corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    pos = (F.row_number().over(w) - 1) % (2 * N_SHARDS)
    shard = F.when(pos < N_SHARDS, pos).otherwise(
        2 * N_SHARDS - 1 - pos
    )
    return (
        docs.select("n_chars", shard.alias("shard"))
        .groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# DSIR hashed-feature space: 256 buckets via the cross-engine md5
# gate, Laplace smoothing of +1 per bucket.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def _dsir_doc_logw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document UNROUNDED DSIR log-weight (doc_id, source,
    logw_raw) — the shared kernel of q_mix_dsir_weights (which
    rounds at 6 before its logw > 0 predicate) and the half-grid
    margin probe (tests/test_round9b_ops.py::
    test_dsir_logw_clears_round6_half_grid), which asserts the
    unrounded sums keep a float-noise-proof distance from the
    round-6 flip boundary so the rounding convention stays
    deterministic on the actual corpus."""
    from .textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs, ["doc_id", "source", "lang"], lower=True).select(
        "doc_id",
        "source",
        "lang",
        (md5_int("term", 1, 4).cast("int") % DSIR_BUCKETS).alias("f"),
    )
    _LAST_DSIR_TOK.persist(tok)
    raw = tok.groupBy("f").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    tots = tok.agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        )
        .cast("double")
        .alias("t_tgt"),
        F.count(F.lit(1)).cast("double").alias("t_raw"),
    )
    lr = (
        raw.join(tgt, "f", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "f",
            F.log(
                (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1.0)
                / (F.col("t_tgt") + DSIR_BUCKETS)
                * (F.col("t_raw") + DSIR_BUCKETS)
                / (F.col("c_raw") + 1.0)
            ).alias("lr"),
        )
    )
    return (
        tok.join(F.broadcast(lr), "f")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.sum("lr").alias("logw_raw"),
        )
    )


@register(
    "q_mix_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, lang,
               CAST(('0x' || substr(md5(term), 1, 4)) AS INTEGER)
                   % {DSIR_BUCKETS} AS f
        FROM (SELECT doc_id, source, lang,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term <> ''
    ),
    raw AS (
        SELECT f, count(*) AS c_raw FROM tok GROUP BY f
    ),
    tgt AS (
        SELECT f, count(*) AS c_tgt FROM tok
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY f
    ),
    tots AS (
        SELECT CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS t_tgt,
               CAST(count(*) AS DOUBLE) AS t_raw
        FROM tok
    ),
    lr AS (
        SELECT raw.f,
               ln((COALESCE(tgt.c_tgt, 0) + 1.0)
                  / (tots.t_tgt + {DSIR_BUCKETS})
                  * (tots.t_raw + {DSIR_BUCKETS})
                  / (raw.c_raw + 1.0)) AS lr
        FROM raw LEFT JOIN tgt ON raw.f = tgt.f CROSS JOIN tots
    ),
    docw AS (
        SELECT t.doc_id, any_value(t.source) AS source,
               round(sum(lr.lr), 6) AS logw
        FROM tok t JOIN lr ON t.f = lr.f
        GROUP BY t.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(logw), 6) AS avg_logw,
           round(avg(CASE WHEN logw > 0 THEN 1.0 ELSE 0.0 END), 6)
               AS frac_targetlike
    FROM docw
    GROUP BY source
    """,
)
def q_mix_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much it resembles a TARGET distribution, using
    hashed unigram features and two Laplace-smoothed multinomial
    models. log w(doc) = sum_f c_f(doc) * ln(p_target(f)/p_raw(f));
    resampling by these weights tilts the corpus mix toward the
    target. Target here = the lang='en' slice; features = words
    md5-hashed into 256 buckets (the hashed-n-gram trick that makes
    the model size O(buckets), not O(vocab) — and the repo's
    cross-engine md5 gate, so both engines bucket identically).
    Output is the per-source summary the mixing decision consumes:
    mean log-weight and the fraction of target-like (logw>0) docs.
    Documents that tokenize to ZERO non-empty terms carry no
    evidence either way and are excluded from docw — n_docs and
    avg_logw summarize token-bearing documents only (identically in
    both engines; an evidence-free doc has no defined resampling
    weight under DSIR's sum-over-features definition).

    Determinism: every ln() operand is a ratio of exact integers
    (counts + Laplace constants), identical in both engines; per-doc
    and per-source sums are the only float accumulations and land
    behind round-6 (the q_text_tfidf convention).

    Scale: one tokenization pass; the feature census is a 256-row
    aggregate (map-side combinable); the log-ratio table is a
    256-row broadcast joined back onto the token stream, which then
    reduces straight to per-doc then per-source sums — no shuffle
    carries raw text, and the model ships as 2 KB. At 100 TB this is
    exactly the production DSIR shape: train the two hashed models
    in one pass, broadcast, score in the next.
    """
    docw = _dsir_doc_logw(spark, sf_dir).select(
        "doc_id",
        "source",
        # Rounded at 6 BEFORE the logw > 0 target-like predicate
        # (ADVICE r09): rounding pushes the flip boundary from 0 to
        # the round-6 half-grid (n + 0.5e-6). The clearance is
        # data-dependent, so it is ASSERTED, not assumed: the
        # half-grid margin probe pytest on _dsir_doc_logw fails
        # loudly if a corpus ever lands within float noise of the
        # flip boundary (ADVICE r10).
        F.round("logw_raw", 6).alias("logw"),
    )
    return docw.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("logw"), 6).alias("avg_logw"),
        F.round(
            F.avg(F.when(F.col("logw") > 0, 1.0).otherwise(0.0)), 6
        ).alias("frac_targetlike"),
    )
