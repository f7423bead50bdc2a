"""Text-analysis query pack over the documents table (charter M6):
language-ID, quality scoring, token counting, document fingerprinting.

Everything is native Spark SQL expressions (split / filter / transform /
regexp_extract_all / md5) — no Python UDFs; each query ships a DuckDB
oracle with the same deterministic logic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gtec_etl_spark import catalog
from gtec_etl_spark.functions.hashing import hash60, hash60_sql
from gtec_etl_spark.operators.scale import cpu_fanout_repartition
from gtec_etl_spark.plans.registry import query
from gtec_etl_spark.session import local_frame

# A BPE-ish word/number/punct segmentation — identical RE2/Java semantics.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "les"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "不", "了", "在"],
}


@query(
    "text_token_stats",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT) AS total_bpe_tokens,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("text",),
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letters | digits | single punct), aggregated per source. The regex
    runs JVM-side via regexp_extract_all inside codegen."""
    docs = catalog.table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_ws_tokens"),
            F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0))).alias(
                "total_bpe_tokens"
            ),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


_EN_STOP_SQL = "['" + "','".join(STOPWORDS["en"]) + "']"


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, n_words, n_stop, n_distinct,
           (400 * n_stop + 300 * n_distinct
            + 3 * least(n_words, 100) * n_words) * 10 // n_words
             AS quality_score_scaled
    FROM (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_words,
             len(list_filter(string_split(lower(text), ' '),
                 x -> list_contains({_EN_STOP_SQL}, x))) AS n_stop,
             len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
      FROM documents
    )
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: stopword ratio, lexical diversity, length factor —
    the standard cheap pre-filter for training-data pipelines, as pure
    array expressions (split / filter / array_distinct).

    The score 0.4*stop_ratio + 0.3*min(1, n/100) + 0.3*distinct_ratio is
    emitted as an INTEGER in [0, 10000] via exact integer arithmetic
    (numerator*10 div n_words): rounded-double scores are not
    cross-engine-stable at decimal ties (0.31475 rounds to .3148 on Spark's
    decimal-string HALF_UP but .3147 on DuckDB's binary rounding — caught
    at sf0.01), while integer division is bit-identical everywhere."""
    docs = catalog.table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x))).alias("n_stop"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    ).filter(F.col("doc_id") < 200)
    return base.select(
        "doc_id",
        "n_words",
        "n_stop",
        "n_distinct",
        F.expr(
            "CAST((400 * n_stop + 300 * n_distinct"
            " + 3 * least(n_words, 100) * n_words) * 10 div n_words AS BIGINT)"
        ).alias("quality_score_scaled"),
    ).orderBy("doc_id")


def _langid_case(hit: dict[str, str]) -> str:
    """Deterministic argmax CASE chain (first language in fixed order wins
    ties) — same text for both engines."""
    langs = list(STOPWORDS)
    arms = []
    for i, lg in enumerate(langs):
        conds = [f"{hit[lg]} >= {hit[other]}" for other in langs[i + 1 :]]
        prior = [f"{hit[lg]} > {hit[other]}" for other in langs[:i]]
        all_conds = prior + conds
        cond = " AND ".join(all_conds) if all_conds else "TRUE"
        arms.append(f"WHEN {cond} THEN '{lg}'")
    return "CASE " + " ".join(arms) + " ELSE 'und' END"


def _hits_sql(lg: str) -> str:
    lst = "['" + "','".join(STOPWORDS[lg]) + "']"
    return f"len(list_filter(string_split(lower(text), ' '), x -> list_contains({lst}, x)))"


def _hits_spark(lg: str) -> str:
    lst = "array('" + "','".join(STOPWORDS[lg]) + "')"
    return f"size(filter(split(lower(text), ' '), x -> array_contains({lst}, x)))"


@query(
    "text_langid",
    oracle=f"""
    SELECT lang, predicted_lang, count(*) AS n_docs
    FROM (
      SELECT lang, {_langid_case({lg: _hits_sql(lg) for lg in STOPWORDS})} AS predicted_lang
      FROM documents
    )
    GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
    tags=("text",),
)
def text_langid(spark, sf_dir):
    """Language-ID heuristic: per-language stopword hit counts, argmax with
    a fixed deterministic tie order — confusion matrix against the labeled
    lang column."""
    docs = catalog.table(spark, sf_dir, "documents")
    pred = F.expr(_langid_case({lg: _hits_spark(lg) for lg in STOPWORDS}))
    return (
        docs.withColumn("predicted_lang", pred)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


@query(
    "text_vocab_top50",
    oracle="""
    SELECT token, n_occurrences, n_docs FROM (
      SELECT token,
             count(*) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
      )
      WHERE token <> ''
      GROUP BY token
    )
    ORDER BY n_occurrences DESC, token
    LIMIT 50
    """,
    tags=("text", "vocab"),
)
def text_vocab_top50(spark, sf_dir):
    """Corpus vocabulary building: token -> (total occurrences, document
    frequency), top-50 with deterministic ties — the wordcount that seeds
    tokenizer vocabularies. One explode + one groupBy; at 100 TB the
    map-side partial aggregation makes the shuffle carry only the vocab,
    not the corpus."""
    docs = catalog.table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    return (
        tokens.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(50)
    )


@query(
    "text_train_test_split",
    oracle="""
    SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(concat('seed42|',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split ORDER BY split
    """,
    tags=("text", "sampling"),
)
def text_train_test_split(spark, sf_dir):
    """Deterministic hash-based train/test split (90/10): assignment =
    md5(seed || id) mod 100 — stable across runs, engines, partitionings,
    and cluster sizes, unlike rand()-based sampling. The property every
    training-data pipeline needs for reproducible holdouts."""
    docs = catalog.table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("seed42|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = F.when(bucket < 90, "train").otherwise("test")
    return (
        docs.select(F.col("doc_id"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@query(
    "text_stratified_sample",
    oracle="""
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc
    FROM (
      SELECT lang, doc_id,
             CAST(('0x' || substr(md5(concat('strat7|', CAST(doc_id AS VARCHAR))), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 ELSE 10 END
    GROUP BY lang ORDER BY lang
    """,
    tags=("text", "sampling"),
)
def text_stratified_sample(spark, sf_dir):
    """Stratified sampling with EXACT determinism: per-stratum fractions
    (en 50%, zh 30%, others 10%) decided by a seeded md5 hash bucket per
    document — reproducible across runs/engines/partitionings, unlike
    sampleBy's rand(). The per-language rebalancing pass of a training
    mixture."""
    docs = catalog.table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("strat7|"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    threshold = (
        F.when(F.col("lang") == "en", 50).when(F.col("lang") == "zh", 30).otherwise(10)
    )
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < threshold)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_doc"))
        .orderBy("lang")
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS content_md5,
           (SELECT min({hash60_sql('g')})
            FROM (SELECT unnest(list_distinct(list_transform(
                    generate_series(1, greatest(length(d.text) - 7, 1)),
                    i -> substr(d.text, i, 8)))) AS g)) AS rolling_min_hash
    FROM documents d
    WHERE doc_id < 300
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: full-content md5 + a rolling-hash sketch
    (min 60-bit hash over char 8-gram windows — the winnowing/min-sampling
    primitive). Pure codegen expressions; the 8-gram expansion happens
    JVM-side per row without exploding rows."""
    from gtec_etl_spark.operators.dedup import normalized_text

    docs = catalog.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    grams = F.expr(
        "array_distinct(transform(sequence(1, greatest(length(text) - 7, 1)),"
        " i -> substring(text, i, 8)))"
    )
    min_hash = F.array_min(F.transform(grams, lambda g: hash60(g)))
    return docs.select(
        "doc_id",
        F.md5(normalized_text(F.col("text"))).alias("content_md5"),
        min_hash.alias("rolling_min_hash"),
    ).orderBy("doc_id")


# Corpus-clean gate: predicted-English docs scoring >= QMIN (the sf0.01
# median is ~3345, so the gate removes roughly half the corpus plus all
# non-English predictions — a realistic C4-style keep rate).
QMIN = 3300

_HITS_SQL = ",\n             ".join(
    f"{_hits_sql(lg)} AS hit_{lg}" for lg in STOPWORDS
)
_PRED_FROM_HITS = _langid_case({lg: f"hit_{lg}" for lg in STOPWORDS})
_Q_FROM_HITS = (
    "(400 * hit_en + 300 * n_distinct + 3 * least(n_words, 100) * n_words)"
    " * 10 // n_words"
)


@query(
    "text_corpus_clean",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source, text,
             len(string_split(lower(text), ' ')) AS n_words,
             len(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
             {_HITS_SQL}
      FROM documents
    ),
    kept AS (
      SELECT doc_id, source,
             CAST({_Q_FROM_HITS} AS BIGINT) AS quality_score_scaled,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
      FROM feats
      WHERE {_PRED_FROM_HITS} = 'en' AND {_Q_FROM_HITS} >= {QMIN}
    ),
    canon AS (SELECT fp, min(doc_id) AS keep_id FROM kept GROUP BY fp)
    SELECT k.doc_id, k.source, k.quality_score_scaled
    FROM kept k JOIN canon c ON c.fp = k.fp AND c.keep_id = k.doc_id
    ORDER BY k.doc_id
    """,
    tags=("text", "pipeline"),
)
def text_corpus_clean(spark, sf_dir):
    """The composed C4-style corpus-cleaning pass a training pipeline
    actually runs, as ONE job: language-ID (stopword argmax) → integer
    quality gate (>= QMIN) → exact dedup keeping the canonical (min-id)
    copy. Scoring and langid are pure map-side codegen over the scan; the
    only shuffles are the fingerprint groupBy and the canonical
    semi-filter — at 100 TB this is two shuffles on a uniform 128-bit
    hash, the same shape as dedup_apply_keep_canonical."""
    docs = cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents")
    )
    from gtec_etl_spark.operators.dedup import normalized_text

    words = F.split(F.lower(F.col("text")), " ")
    feats = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        *[F.expr(_hits_spark(lg)).alias(f"hit_{lg}") for lg in STOPWORDS],
    )
    q_expr = F.expr(
        "CAST((400 * hit_en + 300 * n_distinct"
        " + 3 * least(n_words, 100) * n_words) * 10 div n_words AS BIGINT)"
    )
    kept = (
        feats.withColumn("predicted_lang", F.expr(_PRED_FROM_HITS))
        .withColumn("quality_score_scaled", q_expr)
        .filter(
            (F.col("predicted_lang") == "en")
            & (F.col("quality_score_scaled") >= QMIN)
        )
        .select(
            "doc_id",
            "source",
            "quality_score_scaled",
            F.md5(normalized_text(F.col("text"))).alias("fp"),
        )
    )
    canon = (
        kept.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .withColumnRenamed("fp", "canon_fp")
    )
    return (
        kept.join(
            canon,
            (kept["fp"] == canon["canon_fp"]) & (kept["doc_id"] == canon["keep_id"]),
        )
        .select(kept["doc_id"], kept["source"], kept["quality_score_scaled"])
        .orderBy("doc_id")
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE doc_id < 200
    ),
    big AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM words)
    ),
    cnt AS (SELECT doc_id, bg, count(*) AS n FROM big GROUP BY 1, 2),
    top AS (
      SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram_n,
             CAST(sum(n) AS BIGINT) AS n_bigrams
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, top_bigram_n,
           CAST(top_bigram_n * 10000 // n_bigrams AS BIGINT) AS rep_scaled
    FROM top ORDER BY doc_id
    """,
    tags=("text",),
)
def text_repetition_score(spark, sf_dir):
    """Repetition-ratio quality signal (the Gopher-style top-2-gram
    fraction): explode word bigrams → per-(doc, bigram) counts → per-doc
    max — the dominant-bigram share as exact integer ten-thousandths
    (cross-engine-stable; see text_quality_score for why not rounded
    doubles). Distributed shape: the explode is map-side; the two
    aggregations shuffle on (doc_id, bigram) then doc_id — both uniform
    keys, so the pass scales to corpus size, not vocabulary size."""
    docs = catalog.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # Guarded for one-word docs: sequence(1, 0) DESCENDS in Spark
    # ([1, 0] — out-of-bounds indexing, fatal under ANSI), while DuckDB's
    # generate_series(1, 0) is empty; emit an explicit empty array so
    # both engines exclude bigram-less docs. The words array is
    # materialized in its own projection FIRST: referencing
    # split(lower(text)) inside the transform lambda would re-tokenize per
    # bigram index — O(words^2) per doc (Catalyst does not hoist common
    # subexpressions across lambda boundaries; measured 3x on the DSIR
    # pass, which shares this expression).
    bigrams = F.expr(
        "CASE WHEN size(w) < 2 THEN array()"
        " ELSE transform(sequence(1, size(w) - 1),"
        " i -> concat(w[i - 1], ' ', w[i])) END"
    )
    big = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    ).select("doc_id", F.explode(bigrams).alias("bg"))
    cnt = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    top = cnt.groupBy("doc_id").agg(
        F.max("n").alias("top_bigram_n"), F.sum("n").alias("n_bigrams")
    )
    return top.select(
        "doc_id",
        "n_bigrams",
        "top_bigram_n",
        F.expr("CAST(top_bigram_n * 10000 div n_bigrams AS BIGINT)").alias(
            "rep_scaled"
        ),
    ).orderBy("doc_id")


# Sequence packing: 8 parallel packers, 4096-token target per packed
# sequence. Docs land in a packer by content hash; inside a packer they
# pack in deterministic hash order.
PACK_BUCKETS, PACK_BUDGET = 8, 4096


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
             {hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tok, h % {PACK_BUCKETS} AS bucket,
             sum(n_tok) OVER (
               PARTITION BY h % {PACK_BUCKETS} ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tok
      FROM toks
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST((cum_tok - n_tok) // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM placed ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing — assigning documents to fixed-token-budget packed
    training sequences — as a distributed op: docs shard across
    PACK_BUCKETS parallel packers by content hash (packing is inherently
    sequential, so parallelism comes from independent packers, the
    standard large-corpus compromise), then a per-packer running token
    sum places each doc in sequence floor(start_offset / budget).
    Deterministic hash order makes the packing reproducible across runs,
    partitionings, and engines; all integer arithmetic. One shuffle (the
    bucket window); at 100 TB raise PACK_BUCKETS to the cluster width."""
    docs = catalog.table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        hash60(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bucket", F.col("h") % PACK_BUCKETS)
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    return placed.select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.expr(f"CAST((cum_tok - n_tok) div {PACK_BUDGET} AS BIGINT)").alias("seq_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
    ).orderBy("doc_id")


@query(
    "text_mixture_rebalance",
    oracle=f"""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs,
             CAST(floor(sqrt(count(*))) AS BIGINT) AS isqrt_n
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_docs,
             CAST(10000 * (SELECT min(isqrt_n) FROM per_source) // isqrt_n
                  AS BIGINT) AS keep_bp
      FROM per_source
    )
    SELECT r.source, r.n_docs, r.keep_bp,
           CAST(count(*) FILTER (
             WHERE {hash60_sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < r.keep_bp
           ) AS BIGINT) AS n_sampled
    FROM rates r JOIN documents d ON d.source = r.source
    GROUP BY r.source, r.n_docs, r.keep_bp
    ORDER BY r.source
    """,
    tags=("text", "pipeline"),
)
def text_mixture_rebalance(spark, sf_dir):
    """Training-mixture rebalancing (temperature-style, α = 0.5): per-doc
    keep probability ∝ 1/sqrt(source size), normalized so the smallest
    source keeps everything — big sources downsample toward balance. The
    rate is an exact integer (basis points, floor(sqrt) is stable in
    double for integer inputs) and the sample is a deterministic hash
    threshold per doc — reproducible across runs, partitionings, and
    engines, like text_train_test_split. Plan: one groupBy for source
    sizes, broadcast of the tiny rate dim back onto the corpus — a single
    wide shuffle-free pass over the docs at 100 TB."""
    from pyspark.sql import Window

    docs = catalog.table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # The normalizing minimum as an unbounded window over the tiny
    # per-source aggregate (bounded: one row per source), not a separate
    # .agg() branch — the branch would re-plan per_source's corpus scan a
    # second time (no cross-branch exchange reuse; the DSIR lesson).
    rates = per_source.select(
        "source",
        "n_docs",
        F.min(F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
        .over(Window.partitionBy())
        .alias("m"),
    ).select(
        "source",
        "n_docs",
        F.expr(
            "CAST(10000 * m div CAST(floor(sqrt(n_docs)) AS BIGINT) AS BIGINT)"
        ).alias("keep_bp"),
    )
    sampled = docs.join(F.broadcast(rates), "source").select(
        "source",
        "n_docs",
        "keep_bp",
        (hash60(F.col("doc_id").cast("string")) % 10000 < F.col("keep_bp"))
        .cast("long")
        .alias("keep"),
    )
    return (
        sampled.groupBy("source", "n_docs", "keep_bp")
        .agg(F.sum("keep").alias("n_sampled"))
        .orderBy("source")
    )


# Benchmark-decontamination split: sources held out as the "eval set";
# everything else is the training corpus whose n-grams must not leak in.
EVAL_SOURCES = ("src0", "src1")
CONTAM_N = 5


@query(
    "text_contamination_check",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS w FROM documents
    ),
    idx AS (
      SELECT doc_id, source, w,
             unnest(generate_series(1, len(w) - {CONTAM_N - 1})) AS i
      FROM words
    ),
    sh AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(w[i:i+{CONTAM_N - 1}], ' ') AS shingle
      FROM idx
    ),
    train AS (
      SELECT DISTINCT shingle FROM sh
      WHERE source NOT IN ('{EVAL_SOURCES[0]}', '{EVAL_SOURCES[1]}')
    ),
    ev AS (
      SELECT doc_id, shingle FROM sh
      WHERE source IN ('{EVAL_SOURCES[0]}', '{EVAL_SOURCES[1]}')
    ),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1),
    hit AS (
      SELECT e.doc_id, count(*) AS n_matched
      FROM ev e JOIN train t USING (shingle) GROUP BY 1
    )
    SELECT t.doc_id, t.n_shingles, h.n_matched,
           CAST(h.n_matched * 10000 // t.n_shingles AS BIGINT)
             AS contamination_bp
    FROM tot t JOIN hit h ON h.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("text", "scale"),
)
def text_contamination_check(spark, sf_dir):
    """Benchmark decontamination — the train/eval n-gram overlap scan every
    LLM data pipeline runs before training (GPT-3 appendix-C style): an
    eval document is contaminated to the degree its word 5-grams appear
    anywhere in the training corpus. Reports each eval doc with >= 1
    leaked shingle and its contamination fraction in exact integer basis
    points (integer division — engine-portable, no float rounding).

    Scale shape: the train side collapses to DISTINCT shingles before the
    join, so a stopword-run shingle shared by millions of training docs
    is ONE row — the distinct is itself the skew guard, and the join
    fan-out per eval shingle is exactly 1. One distinct shuffle over
    train shingles + one equi-join + one per-doc count: all shuffles on
    well-distributed shingle/doc hashes, no pair explosion anywhere (this
    is set MEMBERSHIP, unlike the near-dup pair queries). At 100 TB the
    train shingle set can also be persisted once and reused across eval
    suites (it only changes when the training corpus does)."""
    from gtec_etl_spark.operators import dedup as D

    docs = catalog.table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    train_set = (
        D.word_shingles(docs.filter(~is_eval), CONTAM_N)
        .select("shingle")
        .distinct()
    )
    ev = D.word_shingles(docs.filter(is_eval), CONTAM_N)
    tot = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        ev.join(train_set, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        tot.join(hit, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            F.expr("n_matched * 10000 div n_shingles").alias("contamination_bp"),
        )
        .orderBy("doc_id")
    )


# PII patterns chosen for identical RE2 (DuckDB) / Java (Spark) semantics:
# no backreferences, no lookaround, explicit character classes.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-867-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
               '[EMAIL]', 'g'), '{PII_PHONE_RE}', '[PHONE]', 'g'))
             AS redacted_md5
    FROM seeded
    WHERE doc_id % 5 = 0 OR doc_id % 7 = 0
    ORDER BY doc_id LIMIT 500
    """,
    tags=("text", "pii"),
)
def text_pii_redact(spark, sf_dir):
    """PII detection + redaction — the scrub pass every training-data
    pipeline runs before a corpus ships. Emails and phone numbers are
    counted (regexp_extract_all) and replaced with typed placeholders
    (regexp_replace), all JVM-side regex — at 100 TB this is a pure map
    over the text column, no shuffle until the output sort. Because the
    synthetic corpus contains no organic PII, a deterministic seeding
    step injects a fake email+phone into every 5th document first, so
    detection counts and the redacted-text md5 are both exercised
    non-trivially and pinned cross-engine (patterns restricted to the
    RE2∩Java-regex common subset)."""
    docs = catalog.table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE,
        "[PHONE]",
    )
    return (
        seeded.filter((F.col("doc_id") % 5 == 0) | (F.col("doc_id") % 7 == 0))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL_RE), F.lit(0)))
            .cast("long")
            .alias("n_emails"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE_RE), F.lit(0)))
            .cast("long")
            .alias("n_phones"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


@query(
    "text_e2e_clean_pack",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, text,
             len(string_split(lower(text), ' ')) AS n_words,
             len(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
             {_HITS_SQL}
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
      FROM feats
      WHERE {_PRED_FROM_HITS} = 'en' AND {_Q_FROM_HITS} >= {QMIN}
    ),
    canon AS (SELECT fp, min(doc_id) AS keep_id FROM kept GROUP BY fp),
    surv AS (
      SELECT k.doc_id, k.text FROM kept k
      JOIN canon c ON c.fp = k.fp AND c.keep_id = k.doc_id
    ),
    toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
             {hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM surv
    ),
    placed AS (
      SELECT doc_id, n_tok, h % {PACK_BUCKETS} AS bucket,
             sum(n_tok) OVER (
               PARTITION BY h % {PACK_BUCKETS} ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tok
      FROM toks
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST((cum_tok - n_tok) // {PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM placed ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def text_e2e_clean_pack(spark, sf_dir):
    """The full training-data path as ONE lazy plan: langid -> quality
    gate -> exact dedup (text_corpus_clean's filter chain) feeding
    sequence packing (text_pack_sequences' bucketed running sum) over the
    SURVIVORS only. What a real corpus build runs end to end; because it
    is one Catalyst plan, the scan/score/filter stages fuse into a single
    codegen pass and the whole flow costs three shuffles (fingerprint
    groupBy, canonical semi-filter, packer window) regardless of how many
    logical steps the pipeline has."""
    docs = catalog.table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    from gtec_etl_spark.operators.dedup import normalized_text

    words = F.split(F.lower(F.col("text")), " ")
    feats = docs.select(
        "doc_id",
        "text",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        *[F.expr(_hits_spark(lg)).alias(f"hit_{lg}") for lg in STOPWORDS],
    )
    q_expr = F.expr(
        "CAST((400 * hit_en + 300 * n_distinct"
        " + 3 * least(n_words, 100) * n_words) * 10 div n_words AS BIGINT)"
    )
    kept = (
        feats.withColumn("predicted_lang", F.expr(_PRED_FROM_HITS))
        .withColumn("q", q_expr)
        .filter((F.col("predicted_lang") == "en") & (F.col("q") >= QMIN))
        .select("doc_id", "text", F.md5(normalized_text(F.col("text"))).alias("fp"))
    )
    canon = (
        kept.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .withColumnRenamed("fp", "canon_fp")
    )
    surv = kept.join(
        canon,
        (kept["fp"] == canon["canon_fp"]) & (kept["doc_id"] == canon["keep_id"]),
    ).select(kept["doc_id"], kept["text"])
    toks = surv.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        hash60(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bucket", F.col("h") % PACK_BUCKETS)
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = toks.withColumn("cum_tok", F.sum("n_tok").over(w))
    return placed.select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.expr(f"CAST((cum_tok - n_tok) div {PACK_BUDGET} AS BIGINT)").alias("seq_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
    ).orderBy("doc_id")


@query(
    "text_data_card",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source, text,
             len(string_split(lower(text), ' ')) AS n_words,
             len(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
             {_HITS_SQL}
      FROM documents
    ),
    scored AS (
      SELECT source, n_words, fp,
             CASE WHEN {_PRED_FROM_HITS} = 'en' THEN 1 ELSE 0 END AS is_en,
             CASE WHEN {_Q_FROM_HITS} >= {QMIN} THEN 1 ELSE 0 END AS passes_q
      FROM feats
    ),
    dupes AS (
      SELECT source, CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
      FROM scored GROUP BY source
    )
    SELECT s.source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_ws_tokens,
           CAST(sum(is_en) * 10000 // count(*) AS BIGINT) AS pct_en_bp,
           CAST(sum(passes_q) * 10000 // count(*) AS BIGINT) AS pct_quality_bp,
           max(d.n_exact_dups) AS n_exact_dups
    FROM scored s JOIN dupes d ON d.source = s.source
    GROUP BY s.source ORDER BY s.source
    """,
    tags=("text", "pipeline"),
)
def text_data_card(spark, sf_dir):
    """The per-source corpus DATA CARD — the summary artifact a training
    team publishes with a dataset: document and whitespace-token counts,
    language mix and quality-gate pass rates (integer basis points for
    cross-engine determinism), and the exact-duplicate count, per source.
    One scan computes every per-doc feature map-side; two aggregations on
    `source` (a low-cardinality key) produce the card, so the cost at
    100 TB is the scan plus two small shuffles."""
    docs = catalog.table(spark, sf_dir, "documents")
    from gtec_etl_spark.operators.dedup import normalized_text

    words = F.split(F.lower(F.col("text")), " ")
    feats = docs.select(
        "doc_id",
        "source",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.md5(normalized_text(F.col("text"))).alias("fp"),
        *[F.expr(_hits_spark(lg)).alias(f"hit_{lg}") for lg in STOPWORDS],
    )
    q_expr = F.expr(
        "CAST((400 * hit_en + 300 * n_distinct"
        " + 3 * least(n_words, 100) * n_words) * 10 div n_words AS BIGINT)"
    )
    scored = feats.select(
        "source",
        "n_words",
        "fp",
        F.when(F.expr(_PRED_FROM_HITS) == "en", 1).otherwise(0).alias("is_en"),
        F.when(q_expr >= QMIN, 1).otherwise(0).alias("passes_q"),
    )
    dupes = scored.groupBy("source").agg(
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_ws_tokens"),
            F.expr("CAST(sum(is_en) * 10000 div count(*) AS BIGINT)").alias(
                "pct_en_bp"
            ),
            F.expr("CAST(sum(passes_q) * 10000 div count(*) AS BIGINT)").alias(
                "pct_quality_bp"
            ),
        )
        .join(F.broadcast(dupes), "source")
        .select(
            "source",
            "n_docs",
            "total_ws_tokens",
            "pct_en_bp",
            "pct_quality_bp",
            "n_exact_dups",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (hashed n-gram target-affinity selection)
# ---------------------------------------------------------------------------

DSIR_B, DSIR_SCALE = 1024, 10000

# Bigrams from a PRE-MATERIALIZED words column `w` — inlining
# split(lower(text)) here would re-tokenize inside the transform lambda for
# EVERY bigram index (Catalyst does not hoist common subexpressions across
# the lambda boundary): O(words^2) per doc, measured ~2x slower on the
# full-corpus DSIR pass.
_DSIR_BIGRAM_SPARK = (
    "CASE WHEN size(w) < 2 THEN array()"
    " ELSE transform(sequence(1, size(w) - 1),"
    " i -> concat(w[i - 1], ' ', w[i])) END"
)

_DSIR_CTES = f"""
    WITH words AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents
    ),
    big AS (
      SELECT doc_id, lang,
             {hash60_sql("w[i] || ' ' || w[i + 1]")} % {DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM words)
    ),
    cnt AS (
      SELECT doc_id, lang, bucket, count(*) AS n FROM big GROUP BY 1, 2, 3
    ),
    stats AS (
      SELECT bucket,
             CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN lang <> 'en' THEN n ELSE 0 END) AS BIGINT) AS cr
      FROM cnt GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
      FROM stats
    ),
    wgt AS (
      SELECT bucket,
             ((ct + 1) * (nr + {DSIR_B}) * {DSIR_SCALE})
               // ((cr + 1) * (nt + {DSIR_B})) AS wgt
      FROM stats CROSS JOIN tot
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(sum(n) AS BIGINT) AS n_bigrams,
             CAST(CAST(sum(n * wgt) AS BIGINT)
                  // CAST(sum(n) AS BIGINT) AS BIGINT) AS importance_scaled
      FROM cnt c JOIN wgt ON wgt.bucket = c.bucket GROUP BY doc_id, lang
    )
"""


def _dsir_doc_scores(spark, sf_dir):
    """Shared scoring plan for the DSIR queries: hashed-bigram target
    likelihood-ratio per document, integer-exact.

    DSIR (Data Selection via Importance Resampling; public method) scores
    raw documents by p_target(x)/p_raw(x) under hashed n-gram bag-of-words
    models and resamples by weight. This implementation keeps the hashed
    bag-of-bigrams estimator but replaces the float log-likelihood sum
    with its integer surrogate — the per-feature smoothed count RATIO
    ((ct+1)(Nr+B)) / ((cr+1)(Nt+B)), scaled to ten-thousandths and
    averaged over the document's features (arithmetic mean of ratios
    instead of geometric): cross-engine float ln() is not bit-stable,
    and the repo's parity doctrine (see text_quality_score) is integer
    arithmetic end to end. Target distribution: lang='en' documents; raw:
    everything else.

    Scale shape: ONE explode+hash pass feeds everything — both the
    feature-stat and the per-doc branches aggregate the same
    (doc_id, lang, bucket) count, whose shuffle Catalyst plans once and
    reuses (ReusedExchange: identical subplan under both aggregations;
    splitting the branches at the raw explode instead scans and md5s the
    corpus twice). Together with hoisting the words array out of the
    bigram lambda (see _DSIR_BIGRAM_SPARK), the full pass went 3.7 s →
    1.2 s at sf0.1. Bucket stats collapse to
    {DSIR_B} rows broadcast back onto the counts, so the corpus-sized
    shuffles key on (doc_id, bucket) and doc_id, both uniform. Int64
    headroom: (ct+1)*(Nr+B)*SCALE stays under 2^63 up to ~1e8 target
    bigrams per feature bucket; beyond that, subsample the feature-stat
    pass (the estimator only needs ratios).
    """
    docs = cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents")
    )
    big = docs.select(
        "doc_id", "lang", F.split(F.lower(F.col("text")), " ").alias("w")
    ).select(
        "doc_id", "lang", F.explode(F.expr(_DSIR_BIGRAM_SPARK)).alias("bg")
    ).select(
        "doc_id",
        "lang",
        F.pmod(hash60(F.col("bg")), F.lit(DSIR_B)).alias("bucket"),
    )
    cnt = big.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = cnt.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("lang") != "en", F.col("n")).otherwise(0)).alias("cr"),
    )
    # Corpus totals as an unbounded window over stats, NOT a separate
    # aggregation branch: tot = stats.agg(...) re-plans the whole stats
    # lineage (scan+explode+two shuffles) a second time — Catalyst's
    # exchange reuse did not fire across the branches (verified on the
    # executed adaptive plan: zero ReusedExchange, 3 corpus scans). The
    # single-partition window is bounded by construction ({DSIR_B} rows
    # post-aggregation), the same constant-size precedent as the PQ seed
    # ranking.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    wgt = stats.select(
        "bucket",
        "ct",
        "cr",
        F.sum("ct").over(w_all).alias("nt"),
        F.sum("cr").over(w_all).alias("nr"),
    ).select(
        "bucket",
        F.expr(
            f"((ct + 1) * (nr + {DSIR_B}) * {DSIR_SCALE})"
            f" div ((cr + 1) * (nt + {DSIR_B}))"
        ).alias("wgt"),
    )
    return (
        cnt.join(F.broadcast(wgt), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("wgt")).alias("score"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.expr("CAST(score div n_bigrams AS BIGINT)").alias(
                "importance_scaled"
            ),
        )
    )


@query(
    "text_dsir_weights",
    oracle=_DSIR_CTES
    + """
    SELECT doc_id, lang, n_bigrams, importance_scaled
    FROM scored WHERE doc_id < 300 ORDER BY doc_id
    """,
    tags=("text", "sampling"),
)
def text_dsir_weights(spark, sf_dir):
    """Per-document DSIR importance weights (see _dsir_doc_scores): hashed
    bag-of-bigrams target-affinity ratio vs the lang='en' target
    distribution, as exact integer ten-thousandths. Feature statistics
    come from the WHOLE corpus; the doc_id < 300 filter only bounds the
    output surface. English-labeled docs should (and do) score above the
    {DSIR_SCALE} parity line on average — the sanity the selection query
    builds on."""
    scored = _dsir_doc_scores(spark, sf_dir)
    return scored.filter(F.col("doc_id") < 300).orderBy("doc_id")


@query(
    "text_dsir_select",
    oracle=_DSIR_CTES
    + """
    SELECT doc_id, lang, importance_scaled
    FROM scored WHERE lang <> 'en'
    ORDER BY importance_scaled DESC, doc_id LIMIT 25
    """,
    tags=("text", "sampling", "scale"),
)
def text_dsir_select(spark, sf_dir):
    """The DSIR SELECTION step: from the raw (non-target-labeled) pool,
    keep the 25 documents whose hashed-bigram distribution looks most like
    the target — deterministic top-k by (importance desc, doc_id), the
    zero-temperature variant of DSIR's gumbel-top-k importance resampling
    (a seeded-noise draw is not cross-engine-reproducible; rank order is).
    Plan: the scoring pass of _dsir_doc_scores plus one
    TakeOrderedAndProject — no global sort."""
    scored = _dsir_doc_scores(spark, sf_dir)
    return (
        scored.filter(F.col("lang") != "en")
        .select("doc_id", "lang", "importance_scaled")
        .orderBy(F.col("importance_scaled").desc(), "doc_id")
        .limit(25)
    )


# Gopher-style rule bounds (Rae et al. 2021, Table A1 shape, adapted to
# this corpus's scale): word count, mean word length (x10), >=2 stopword
# hits, dominant-word fraction, distinct-word ratio (both in e4 basis
# points). All integer arithmetic over nonnegative values, so Spark's
# truncating `div` and DuckDB's flooring `//` agree.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 20, 80
GOPHER_MIN_MWL10, GOPHER_MAX_MWL10 = 30, 100
GOPHER_MIN_STOP = 2
GOPHER_MAX_DOM_E4 = 2000
GOPHER_MIN_DR_E4 = 5000

_GOPHER_REASON_SQL = f"""CASE
      WHEN n_words < {GOPHER_MIN_WORDS} OR n_words > {GOPHER_MAX_WORDS}
        THEN 'word_count'
      WHEN mwl10 < {GOPHER_MIN_MWL10} OR mwl10 > {GOPHER_MAX_MWL10}
        THEN 'mean_word_length'
      WHEN n_stop < {GOPHER_MIN_STOP} THEN 'stopword_hits'
      WHEN dom_e4 > {GOPHER_MAX_DOM_E4} THEN 'dominant_word'
      WHEN dr_e4 < {GOPHER_MIN_DR_E4} THEN 'distinct_ratio'
      ELSE NULL END"""


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    wc AS (
      SELECT doc_id, w, count(*) AS cnt FROM t GROUP BY doc_id, w
    ),
    f AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_words,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CASE WHEN list_contains({_EN_STOP_SQL}, w)
                           THEN cnt ELSE 0 END) AS BIGINT) AS n_stop,
             CAST(sum(cnt * len(w)) AS BIGINT) AS n_chars_ns,
             CAST(max(cnt) AS BIGINT) AS dom
      FROM wc GROUP BY doc_id
    ),
    r AS (
      SELECT doc_id, n_words,
             10 * n_chars_ns // n_words AS mwl10,
             n_stop,
             10000 * dom // n_words AS dom_e4,
             10000 * n_distinct // n_words AS dr_e4
      FROM f
    )
    SELECT doc_id, n_words, mwl10, n_stop, dom_e4, dr_e4,
           CAST(CASE WHEN {_GOPHER_REASON_SQL} IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass,
           {_GOPHER_REASON_SQL} AS reject_reason
    FROM r ORDER BY doc_id
    """,
    tags=("text", "quality"),
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-style quality-rule ensemble (Rae et al. 2021): per-document
    word-count bounds, mean-word-length bounds, minimum stopword hits,
    dominant-word fraction cap, and distinct-word-ratio floor — emitted as
    per-rule features, an overall gopher_pass flag, and the FIRST failing
    rule name (reject_reason), which is what a pipeline operator actually
    wants for per-source rejection dashboards. Complements
    text_quality_score (a single weighted score) with the rule-ensemble
    shape most production filters use.

    Plan shape: ONE explode of the token array, then two CHAINED
    aggregations — groupBy(doc_id, word) counts, then groupBy(doc_id)
    derives every feature from the (word, cnt) pairs (n_words=sum(cnt),
    n_distinct=count(*), chars=sum(cnt*len), dominant=max(cnt)) — so no
    count-distinct Expand is needed. r14: the raw docs go through the
    cpu_fanout_repartition guard keyed on doc_id FIRST — that one
    exchange (a) un-pins the explode + per-token stopword scan from the
    1-2 cores a compact single-row-group corpus file grants the scan
    (fake-slice regime, PERF.md r14; this query's second decade measured
    6.48x per 10x at load 2 before the fix) and (b) makes BOTH chained
    aggregations exchange-free, because HashPartitioning(doc_id)
    satisfies the clustering of groupBy(doc_id, w) AND groupBy(doc_id) —
    the r13 shape's two post-explode hash exchanges collapse into the
    one pre-explode exchange of the (smaller) raw text rows. At 100 TB
    the guard is a no-op and the healthy two-exchange shape returns. A
    fully map-side variant (array-expression run counting over
    array_sort) would avoid shuffles entirely but puts O(n x distinct)
    work on single tasks for giant documents; the agg shape degrades
    gracefully instead. All thresholds compare exact integers (x10 /
    basis-point scaling), so the flags are bit-identical cross-engine.

    No reference counterpart — LLM-pipeline extension per the brief."""
    docs = cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents"), "doc_id"
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    wc = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    f = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.when(F.array_contains(stop_arr, F.col("w")), F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("n_stop"),
        F.sum(F.col("cnt") * F.length("w")).alias("n_chars_ns"),
        F.max("cnt").alias("dom"),
    )
    r = f.select(
        "doc_id",
        "n_words",
        F.expr("10 * n_chars_ns div n_words").alias("mwl10"),
        "n_stop",
        F.expr("10000 * dom div n_words").alias("dom_e4"),
        F.expr("10000 * n_distinct div n_words").alias("dr_e4"),
    )
    reason = F.expr(_GOPHER_REASON_SQL)
    return r.select(
        "doc_id",
        "n_words",
        "mwl10",
        "n_stop",
        "dom_e4",
        "dr_e4",
        F.when(reason.isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("gopher_pass"),
        reason.alias("reject_reason"),
    ).orderBy("doc_id")


@query(
    "text_lm_familiarity",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS b
      FROM (
        SELECT doc_id, lang, w,
               unnest(generate_series(1, len(w) - 1)) AS i
        FROM w
      )
    ),
    cnt AS (
      SELECT b, count(*) AS c FROM bg WHERE lang = 'en' GROUP BY b
    ),
    sc AS (
      SELECT g.doc_id, g.lang,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN c.c IS NULL THEN 0
                           ELSE len(bin(c.c)) END) AS BIGINT) AS tier_sum
      FROM bg g LEFT JOIN cnt c ON c.b = g.b
      GROUP BY g.doc_id, g.lang
    )
    SELECT doc_id, lang, n_bigrams,
           CAST(1000 * tier_sum // n_bigrams AS BIGINT) AS familiarity_e3
    FROM sc ORDER BY doc_id
    """,
    tags=("text", "quality", "scale"),
)
def text_lm_familiarity(spark, sf_dir):
    """Target-LM familiarity scoring — the CCNet-style 'perplexity filter'
    shape (score each document by how familiar its n-grams are to a model
    trained on a trusted target corpus), made cross-engine-EXACT by
    replacing log-probabilities with integer log2 tiers: a bigram seen c
    times in the English target slice contributes floor(log2(c)) + 1
    (= len(bin(c)), a pure string-length of the binary form — both
    engines' bin() emits unpadded binary), unseen bigrams contribute 0;
    the doc score is 1000 * tier_sum div n_bigrams. Monotone in the true
    log-likelihood up to quantization, with none of the float-ln
    cross-engine drift. Complements text_dsir_weights (relative
    target-vs-corpus importance ratio) with an absolute per-doc fluency
    proxy.

    Plan shape: the words array is materialized in a projection BEFORE
    the bigram transform (Catalyst does not hoist split() out of lambda
    bodies — the inlined form re-tokenizes per index, O(words^2)/doc, the
    round-6 DSIR lesson). r14: every bigram-keyed shuffle and the
    model join now run over the per-document PRE-AGGREGATED relation
    (doc_id, lang, b, m = occurrences) instead of the raw occurrence
    stream — all occurrences of a bigram inside one document share the
    same model count c, so n_bigrams = sum(m) and tier_sum =
    sum(m * tier) are exact over the deduplicated rows (guide §2.3:
    aggregate before you shuffle; the pre-agg itself is EXCHANGE-FREE
    because the fan-out guard already hash-partitions the docs by
    doc_id and HashPartitioning(doc_id) satisfies the
    (doc_id, lang, b) clustering). Training is one groupBy(bigram)
    summing m over the target slice; scoring is one equi-join on the
    bigram string — at 100 TB the count model shuffles once and AQE
    picks broadcast when the trained model is small (here it is); hot
    boilerplate bigrams are skew-join territory, same as every dedup
    family join."""
    docs = cpu_fanout_repartition(
        catalog.table(spark, sf_dir, "documents")
    )
    w = docs.select(
        "doc_id", "lang", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    bg = w.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat(
                    F.element_at("w", i), F.lit(" "), F.element_at("w", i + 1)
                ),
            )
        ).alias("b"),
    )
    dbg = bg.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("m")
    )
    cnt = (
        dbg.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.sum("m").cast("long").alias("c"))
    )
    sc = (
        dbg.join(cnt, "b", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.sum(
                F.col("m")
                * F.when(F.col("c").isNull(), 0).otherwise(
                    F.length(F.bin(F.col("c")))
                )
            ).alias("tier_sum"),
        )
    )
    return sc.select(
        "doc_id",
        "lang",
        "n_bigrams",
        F.expr("CAST(1000 * tier_sum div n_bigrams AS BIGINT)").alias(
            "familiarity_e3"
        ),
    ).orderBy("doc_id")


BPE_K = 6


def _bpe_ctes(k: int) -> str:
    """WITH-chain through tok{k}: BPE training unrolled as K CTE stages
    (the sim_pq_trained_codebook precedent — iteration count is a
    constant, so no recursion is needed). Stage i: weighted adjacent-pair
    counts over tok{i-1}, 1-row argmax m{i} (c DESC, then lexicographic),
    then the greedy left-to-right merge via window functions: mark merge
    START positions, split consecutive-start runs (the a,a overlap case)
    and keep odd ranks — provably the same selection as the engine's
    carry fold — then drop each start's right neighbour and rebuild the
    token list."""
    parts = [
        """
    WITH tok0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             list_transform(generate_series(1, len(word)), i -> word[i]) AS toks
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      WHERE len(word) > 0
      GROUP BY word
    )"""
    ]
    for i in range(1, k + 1):
        prev = f"tok{i - 1}"
        parts.append(
            f""",
    p{i} AS (
      SELECT toks[j] AS l, toks[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT freq, toks, unnest(generate_series(1, len(toks) - 1)) AS j
        FROM {prev}
      )
      GROUP BY 1, 2
    ),
    m{i} AS (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1),
    x{i} AS (
      SELECT t.word, t.freq, t.j, t.tk, m.l AS ml, m.r AS mr,
             coalesce(
               t.tk = m.l
               AND lead(t.tk) OVER (PARTITION BY t.word ORDER BY t.j) = m.r,
               FALSE
             ) AS is_start
      FROM (
        SELECT word, freq, toks, j, toks[j] AS tk
        FROM (
          SELECT word, freq, toks,
                 unnest(generate_series(1, len(toks))) AS j
          FROM {prev}
        )
      ) t CROSS JOIN m{i} m
    ),
    y{i} AS (
      SELECT word, freq, j, tk, ml, mr, is_start,
             CASE WHEN is_start THEN
               row_number() OVER (PARTITION BY word, grp ORDER BY j)
             END AS rn
      FROM (
        SELECT word, freq, j, tk, ml, mr, is_start,
               CASE WHEN is_start THEN
                 j - row_number() OVER (PARTITION BY word, is_start ORDER BY j)
               END AS grp
        FROM x{i}
      )
    ),
    z{i} AS (
      SELECT word, freq, j,
             CASE
               WHEN sel THEN ml || mr
               WHEN coalesce(
                 lag(sel) OVER (PARTITION BY word ORDER BY j), FALSE
               ) THEN NULL
               ELSE tk
             END AS newtok,
             coalesce(
               lag(sel) OVER (PARTITION BY word ORDER BY j), FALSE
             ) AS dropped
      FROM (
        SELECT word, freq, j, tk, ml, mr,
               (is_start AND rn % 2 = 1) AS sel
        FROM y{i}
      )
    ),
    tok{i} AS (
      SELECT word, freq,
             list(newtok ORDER BY j) FILTER (newtok IS NOT NULL) AS toks
      FROM z{i} GROUP BY word, freq
    )"""
        )
    return "".join(parts)


def _bpe_train_oracle(k: int) -> str:
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS iter, l AS lhs, r AS rhs, c AS pair_count FROM m{i}"
        for i in range(1, k + 1)
    )
    return _bpe_ctes(k) + f"\n    SELECT * FROM ({rows}) ORDER BY iter"


@query(
    "text_bpe_train",
    oracle=_bpe_train_oracle(BPE_K),
    tags=("text", "tokenizer", "scale"),
)
def text_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — learn
    the {BPE_K} most frequent adjacent-symbol merges over the corpus,
    emitting (iter, lhs, rhs, pair_count) merge rules. Counts are
    frequency-weighted over the DISTINCT-word vocabulary, so every
    iteration costs O(|vocab|), independent of corpus size — the property
    that makes tokenizer training feasible at 100 TB (the only
    corpus-sized pass is the initial word count). Ties break to the
    lexicographically smallest pair on binary collation, so training is
    bit-deterministic; the oracle replays all {BPE_K} iterations as
    unrolled CTE stages with the window-function formulation of the
    greedy merge, which tests prove equivalent to the engine's map-side
    carry fold (operators/bpe.py:apply_merge).

    Plan: per iteration one bounded pair-count shuffle + a 1-row argmax
    collect + a shuffle-free fold; the vocab is persisted per round and
    the previous round released, keeping plan depth O(1).

    No reference counterpart — LLM-pipeline extension per the brief."""
    from gtec_etl_spark.operators import bpe as B

    docs = catalog.table(spark, sf_dir, "documents")
    merges, vocab = B.bpe_train(docs, BPE_K)
    vocab.unpersist()
    return local_frame(
        spark,
        [(int(i), l, r, int(c)) for (i, l, r, c) in merges],
        "iter long, lhs string, rhs string, pair_count long",
    ).orderBy("iter")


@query(
    "text_bpe_apply",
    oracle=_bpe_ctes(BPE_K) + f""",
    d AS (
      SELECT doc_id, j AS p, w[j] AS word
      FROM (
        SELECT doc_id, string_split(lower(text), ' ') AS w,
               unnest(generate_series(1, len(w))) AS j
        FROM documents
      )
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(t.toks)) AS BIGINT) AS n_bpe_tokens,
           md5(string_agg(array_to_string(t.toks, ' '), ' ' ORDER BY p))
             AS tok_fp
    FROM d JOIN tok{BPE_K} t USING (word)
    WHERE doc_id < 200
    GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("text", "tokenizer", "scale"),
)
def text_bpe_apply(spark, sf_dir):
    """Tokenize the corpus with the trained BPE vocabulary: per document,
    the BPE token count and a fingerprint of the full token stream. The
    encode path never re-runs the merge loop over documents — each
    DISTINCT word was fully merged during training, so encoding is one
    equi-join of the corpus word stream against the (word -> tokens)
    table: the same join shape as text_lm_familiarity, broadcastable
    whenever the vocab fits, and the token stream is reassembled
    map-side from the per-word pieces in word order. This is exactly how
    production tokenizers amortize BPE at scale (encode = vocab lookup,
    not merge replay).

    Restricted to doc_id < 200 to bound the fingerprint row count (the
    text_quality_score convention)."""
    from gtec_etl_spark.operators import bpe as B

    docs = catalog.table(spark, sf_dir, "documents")
    _, vocab = B.bpe_train(docs, BPE_K)
    try:
        w = docs.select(
            "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
        ).select(
            "doc_id", F.posexplode("w").alias("p0", "word")
        ).withColumn("p", F.col("p0") + 1)
        joined = w.join(F.broadcast(vocab.select("word", "toks")), "word")
        per_doc = (
            joined.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum(F.size("toks")).alias("n_bpe_tokens"),
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("p"), F.concat_ws(" ", "toks").alias("s")
                        )
                    )
                ).alias("__ts"),
            )
            .filter(F.col("doc_id") < 200)
            .select(
                "doc_id",
                "n_words",
                "n_bpe_tokens",
                F.md5(
                    F.concat_ws(
                        " ", F.transform(F.col("__ts"), lambda t: t["s"])
                    )
                ).alias("tok_fp"),
            )
            .orderBy("doc_id")
        )
        # Materialize on the EXECUTORS before releasing the trained-vocab
        # cache the plan references (same eager-localCheckpoint discipline
        # as the iterative graph operators): the per-document token table
        # is corpus-proportional, so it must never transit the driver.
        return per_doc.localCheckpoint(eager=True)
    finally:
        vocab.unpersist()


BM25_TERMS = ("vector", "stream", "spark")
BM25_K1, BM25_B = 1.2, 0.75


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term IN {BM25_TERMS!r} GROUP BY 1, 2
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      FROM toks WHERE len(term) > 0 GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    idf AS (
      SELECT term,
             CAST(floor(
               ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) * 1000000 + 0.5
             ) AS BIGINT) AS idf_e6
      FROM (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY 1
      ) CROSS JOIN stats s
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               idf.idf_e6 * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
               + 0.5
             ) AS BIGINT) AS s_e6
      FROM tf
      JOIN idf USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(s_e6) AS BIGINT) AS bm25_e6
    FROM scored GROUP BY doc_id
    ORDER BY bm25_e6 DESC, doc_id
    LIMIT 10
    """,
    tags=("text", "retrieval", "scale"),
)
def text_bm25_topk(spark, sf_dir):
    """BM25 document retrieval (Robertson/Sparck Jones; k1=1.2, b=0.75):
    top-10 documents for a fixed 3-term query — the lexical-search half
    of a retrieval/decontamination stack (the embedding half is the
    sim_* family).

    Plan shape: term stats are computed ONLY for the query terms (the
    `term IN (...)` filter lands before every aggregation, so the
    corpus-sized explode feeds a prune-first pipeline); document length
    and avgdl need no explode at all (size(split) + one 1-row global
    agg broadcast by crossJoin). Scoring joins are all on doc_id/term
    with the tiny idf side broadcast. Final top-10 is
    TakeOrderedAndProject — per-partition heads, no global sort. At
    100 TB: one exploded scan for tf (df/idf derive from tf, so terms
    are counted once) plus one map-side scan for dl; everything
    downstream is bounded by |query terms| x |matching docs|.

    Cross-engine determinism (the quantize_micros discipline): the ONLY
    transcendental — ln of the idf odds, 1 value per query term — is
    quantized to integer micros immediately; avgdl comes from exact
    integer sums with a single IEEE division; every remaining op is
    rational double arithmetic on exactly-representable integers, then
    the per-term scores are floor-quantized and summed as BIGINT, so
    the aggregate is independent of summation order and top-k ties
    break on (bm25_e6, doc_id) identically in both engines."""
    docs = catalog.table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    )
    qterms = list(BM25_TERMS)
    tf = (
        toks.filter(F.col("term").isin(qterms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda t: F.length(t) > 0)
        ).cast("long").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # df derives from tf (a doc contributes to df iff it has a tf row),
    # so the corpus is exploded exactly once.
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.floor(
                F.log(
                    F.lit(1)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * F.lit(1_000_000)
                + F.lit(0.5)
            ).cast("long").alias("idf_e6"),
        )
    )
    k1, b = BM25_K1, BM25_B
    per_term = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.col("idf_e6") * F.col("tf") * F.lit(k1 + 1)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
                + F.lit(0.5)
            ).cast("long").alias("s_e6"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.sum("s_e6").cast("long").alias("bm25_e6"))
        .orderBy(F.col("bm25_e6").desc(), "doc_id")
        .limit(10)
    )


CHUNK_SIZE, CHUNK_STRIDE = 32, 24


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> len(w) > 0)
               AS toks
      FROM documents WHERE doc_id < 200
    ),
    d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
    c AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(
               0, (greatest(n - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1)
                  // {CHUNK_STRIDE}
             )) AS i
      FROM d
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(1 + i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least(n - i * {CHUNK_STRIDE}, {CHUNK_SIZE}) AS BIGINT)
             AS n_tokens,
           md5(array_to_string(
             list_transform(
               generate_series(1 + i * {CHUNK_STRIDE},
                               least(i * {CHUNK_STRIDE} + {CHUNK_SIZE}, n)),
               j -> toks[j]
             ), ' ')) AS chunk_fp
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
    tags=("text", "retrieval", "scale"),
)
def text_chunk_overlap(spark, sf_dir):
    """Overlapping token-window chunking ({CHUNK_SIZE}-token chunks,
    stride {CHUNK_STRIDE} = 25% overlap): the retrieval-indexing prep
    pass that feeds chunk embeddings (the sim_* family) and paragraph
    dedup. Chunk count per doc is 1 + ceil(max(0, n - size)/stride) —
    pure integer arithmetic, so placement is deterministic and an
    incremental re-chunk of an appended corpus reproduces byte-identical
    chunk ids.

    Plan: entirely map-side until the presentation sort — tokenize once,
    explode a generate_series of chunk indices (fan-out = chunks per
    doc, bounded by n/stride), slice the cached token array per chunk.
    No shuffle at all in the production form (the ORDER BY here is the
    oracle-comparison convention); at 100 TB this is a single pass that
    writes chunks partitioned by the source layout. Restricted to
    doc_id < 200 to bound fingerprint rows (text_quality_score
    convention)."""
    docs = catalog.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda w: F.length(w) > 0
        ).alias("toks"),
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= 1)
    c = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(
                    f"(greatest(n - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1)"
                    f" div {CHUNK_STRIDE}"
                ),
            )
        ).alias("i"),
    )
    return c.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_idx"),
        (1 + F.col("i") * CHUNK_STRIDE).cast("long").alias("start_tok"),
        F.least(
            F.col("n") - F.col("i") * CHUNK_STRIDE, F.lit(CHUNK_SIZE)
        ).cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"), 1 + F.col("i") * CHUNK_STRIDE, CHUNK_SIZE
                ),
            )
        ).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_idx")


TFIDF_TOPK = 5


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    t AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM t GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM t GROUP BY tok
    ),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM t),
    idf AS (
      SELECT tok,
             CAST(floor(ln(CAST(n AS DOUBLE) / df) * 1000000 + 0.5)
                  AS BIGINT) AS idf_e6
      FROM df CROSS JOIN nd
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, idf.idf_e6,
             tf.tf * idf.idf_e6 AS score_e6
      FROM tf JOIN idf ON idf.tok = tf.tok
    )
    SELECT doc_id, tok AS term, CAST(rk AS BIGINT) AS rank,
           tf, idf_e6, score_e6
    FROM (
      SELECT doc_id, tok, tf, idf_e6, score_e6,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score_e6 DESC, tok
             ) AS rk
      FROM scored
    ) WHERE rk <= {TFIDF_TOPK} AND doc_id < 200
    ORDER BY doc_id, rank
    """,
    tags=("text", "scale"),
)
def text_tfidf_topterms(spark, sf_dir):
    """TF-IDF distinctive-term extraction: each document's top-{TFIDF_TOPK}
    terms by tf x ln(N/df) — the classic feature-extraction /
    keyword-summarization pass (the per-document complement of
    text_bm25_topk's per-query ranking). Parity discipline: idf is
    quantized to integer micro-units IMMEDIATELY after the single ln per
    DISTINCT TERM (vocabulary-many transcendentals, not corpus-many),
    and the score is then a pure int64 product tf x idf_e6 — ranking and
    emitted values are bit-identical cross-engine. Residual exposure
    (ADVICE r7): libm ln is not required to be correctly rounded, so a
    1-ulp JVM-vs-DuckDB divergence could flip idf_e6 IF ln(n/df)*1e6+0.5
    sat essentially on an integer boundary; tests/test_float_guards.py
    asserts every distinct (n, df) on the test corpora clears the
    boundary by > 1e-6 (>100x the worst 1-ulp perturbation). Output
    surface bounded to doc_id < 200 per the fingerprint convention.

    Scale: one tokenize-explode feeds BOTH aggregations (tf by
    (doc, term), df by term — partial-agg map-side combines); idf is a
    vocabulary-sized (corpus-growing, Heaps-law) table so its join onto
    tf carries NO broadcast hint — both sides are already keyed on term
    and AQE broadcasts only while the vocabulary measures small; top-k is
    a window partitioned by doc_id — per-document independent sorts, no
    global ordering anywhere. r14: `n` (corpus document count) no longer
    pays a third full tokenize-explode + count_distinct pass — a doc_id
    is in the token relation iff its text holds ANY non-space character
    (split-by-space tokens are maximal runs between spaces, so any
    non-space char lands in a nonempty token, and all-space/empty/NULL
    text yields only empty ones), so `n` is a plain documents scan with
    a trim predicate; and the df-side explode goes through the
    cpu_fanout_repartition guard so a compact single-row-group corpus
    file doesn't pin the fan-out to 1-2 cores (fake-slice regime,
    PERF.md r14)."""
    from pyspark.sql import Window

    docs_raw = catalog.table(spark, sf_dir, "documents")
    docs = cpu_fanout_repartition(docs_raw, "doc_id")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("df")
    )
    nd = docs_raw.filter(F.trim(F.col("text")) != "").agg(
        F.count_distinct("doc_id").alias("n")
    )
    idf = (
        df.crossJoin(F.broadcast(nd))
        .select(
            "tok",
            F.floor(
                F.log(F.col("n").cast("double") / F.col("df"))
                * F.lit(1000000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_e6"),
        )
    )
    scored = tf.join(idf, "tok").select(
        "doc_id",
        "tok",
        "tf",
        "idf_e6",
        (F.col("tf") * F.col("idf_e6")).alias("score_e6"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter((F.col("rank") <= TFIDF_TOPK) & (F.col("doc_id") < 200))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "rank",
            "tf",
            "idf_e6",
            "score_e6",
        )
        .orderBy("doc_id", "rank")
    )


SS_BUDGET = 100


@query(
    "text_quota_sample",
    oracle=f"""
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts),
    alloc AS (
      SELECT source, n, ({SS_BUDGET} * n) // n_total AS base, ({SS_BUDGET} * n) % n_total AS rem
      FROM counts CROSS JOIN tot
    ),
    lo AS (SELECT CAST({SS_BUDGET} - sum(base) AS BIGINT) AS L FROM alloc),
    ranked AS (
      SELECT source, base, rem,
             row_number() OVER (ORDER BY rem DESC, source) AS rr
      FROM alloc
    ),
    quota AS (
      SELECT source,
             CAST(base + CASE WHEN rr <= (SELECT L FROM lo) THEN 1 ELSE 0 END
                  AS BIGINT) AS quota
      FROM ranked
    ),
    picks AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS pick_rank
      FROM documents
    )
    SELECT p.source, p.doc_id, CAST(p.pick_rank AS BIGINT) AS pick_rank, q.quota
    FROM picks p JOIN quota q USING (source)
    WHERE p.pick_rank <= q.quota
    ORDER BY source, pick_rank
    """,
    tags=("text", "sampling", "scale"),
)
def text_quota_sample(spark, sf_dir):
    """Exact-count proportional sampling with largest-remainder
    (Hamilton) quota allocation: draw exactly {SS_BUDGET} documents,
    apportioned across sources proportionally to their corpus share —
    the "give me exactly N docs with the corpus's source mix" pass a
    training-data pipeline runs to build evaluation slices and pilot
    mixes (the exact-count complement of text_stratified_sample's
    per-stratum RATES). Quotas are pure integer arithmetic
    (base = B*n div N, remainders ranked with source-name tie-break, one
    extra seat each for the L largest), so the allocation is
    deterministic and bit-identical cross-engine; within a stratum the
    picked docs are the quota-smallest by (hash60(doc_id), doc_id) — a
    deterministic "random" draw, stable under retries.

    Scale design: the allocation side touches only per-stratum counts
    (one groupBy + arithmetic over |sources| rows; the 1-row corpus
    total and leftover ride broadcast global aggregates). The
    per-stratum pick is the salted two-level top-n
    (operators.aggregates.topn_per_key_salted) — a plain window
    partitioned by a handful of sources would sort 1/|sources|th of a
    100 TB corpus on one task; the salt spreads it across 32 tasks per
    source with an identical result. The quota join is keyed on source
    with no forced broadcast (AQE decides)."""
    from pyspark.sql import Window

    from gtec_etl_spark.operators import aggregates as A

    docs = catalog.table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("n_total"))
    alloc = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.expr(f"({SS_BUDGET} * n) div n_total").alias("base"),
        ((F.lit(SS_BUDGET) * F.col("n")) % F.col("n_total")).alias("rem"),
    )
    leftover = alloc.agg((F.lit(SS_BUDGET) - F.sum("base")).alias("L"))
    # Ranking |sources| rows through one window partition is fine — the
    # stratum set is aggregate-bounded by construction.
    ranked = alloc.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.col("rem").desc(), "source"))
    )
    quota = ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        (F.col("base") + F.when(F.col("rr") <= F.col("L"), 1).otherwise(0))
        .cast("long")
        .alias("quota"),
    )
    picks = A.topn_per_key_salted(
        docs.select(
            "source",
            "doc_id",
            hash60(F.col("doc_id").cast("string")).alias("hh"),
        ),
        "source",
        [F.col("hh"), F.col("doc_id")],
        SS_BUDGET,
        salt_on="doc_id",
    )
    return (
        picks.join(quota, "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select(
            "source",
            "doc_id",
            F.col("rn").cast("long").alias("pick_rank"),
            "quota",
        )
        .orderBy("source", "pick_rank")
    )


# ---------------------------------------------------------------------------
# Corpus-level source-similarity matrix (MinHash signatures per SOURCE)

SRC_SIM_HASHES = 32


def _source_similarity_oracle() -> str:
    from gtec_etl_spark.functions.hashing import MINHASH_P, minhash_params

    hb = hash60_sql("shingle")
    mins = ",\n           ".join(
        f"min(({a} * (hb % {MINHASH_P}) + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(SRC_SIM_HASHES))
    )
    match_sum = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(SRC_SIM_HASHES)
    )
    return f"""
    WITH words AS (SELECT source, string_split(lower(text), ' ') AS w FROM documents),
    idx AS (SELECT source, w, unnest(generate_series(1, len(w) - 2)) AS i FROM words),
    sh AS (SELECT DISTINCT source, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
    h AS (SELECT source, {hb} AS hb FROM sh),
    sig AS (SELECT source,
           {mins}
      FROM h GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           {match_sum} AS n_matches,
           (({match_sum}) * 10000) // {SRC_SIM_HASHES} AS est_jaccard_bp
    FROM sig a JOIN sig b ON a.source < b.source
    ORDER BY source_a, source_b
    """


@query("text_source_similarity", oracle=_source_similarity_oracle(), tags=("text", "dedup", "scale"))
def text_source_similarity(spark, sf_dir):
    """Corpus-level dataset-overlap matrix: estimated shingle-set Jaccard
    between every pair of SOURCES via per-source MinHash signatures — the
    "how much do my crawl feeds overlap?" question a training-data mixture
    designer asks before weighting sources (cf. the per-doc near-dup family,
    which answers the within-corpus question).

    Scale shape: min over a union of sets = min of mins, so the per-source
    signature is ONE keyed groupBy with 32 partial-aggregating min
    expressions — map-side combine reduces each of the corpus's scan
    partitions to |sources| rows before the only corpus-sized shuffle.
    The pairwise stage then compares a |sources|-row table with itself
    (sources are a fixed enum domain; the broadcast is allowlisted with
    that bound), so the K^2 term never touches corpus-scaled data. The
    shingle fan-out reuses word_shingles' cpu_fanout_repartition guard,
    keyed on doc_id (carry_cols keeps `source` out of the partition key).
    """
    from gtec_etl_spark.operators import dedup as D

    H = SRC_SIM_HASHES
    docs = catalog.table(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, 3, carry_cols=("source",))
    sigs = D.minhash_signatures(sh.select("source", "shingle"), H, id_col="source")
    a = sigs.select(
        F.col("source").alias("source_a"),
        *[F.col(f"mh{i}").alias(f"ma{i}") for i in range(H)],
    )
    b = sigs.select(
        F.col("source").alias("source_b"),
        *[F.col(f"mh{i}").alias(f"mb{i}") for i in range(H)],
    )
    n_matches = None
    for i in range(H):
        term = (F.col(f"ma{i}") == F.col(f"mb{i}")).cast("long")
        n_matches = term if n_matches is None else n_matches + term
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", n_matches.alias("n_matches"))
        .withColumn("est_jaccard_bp", F.expr(f"n_matches * 10000 div {H}"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Systematic PPS (probability-proportional-to-size) sampling

PPS_K = 200


@query(
    "text_pps_sample",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, n_chars,
             CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
      FROM documents),
    tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t FROM documents)
    SELECT doc_id, source, n_chars, cum, (cum * {PPS_K}) // t AS pick_no
    FROM base, tot
    WHERE (cum * {PPS_K}) // t > ((cum - n_chars) * {PPS_K}) // t
    ORDER BY doc_id
    """,
    tags=("text", "scale"),
)
def text_pps_sample(spark, sf_dir):
    """Systematic probability-proportional-to-size sampling: lay the docs
    on a number line scaled by byte weight (n_chars), drop {PPS_K}
    equally-spaced pins, keep the doc under each pin — the deterministic
    PPS draw used to build size-debiased corpus samples (big docs must not
    be under-represented in a per-DOC uniform sample when the unit of
    training data is a TOKEN).

    The running weight comes from operators/scale.distributed_prefix_sum —
    the hierarchical two-level prefix sum whose only unpartitioned window
    is the N/bucket^2-row super-bucket spine, never the corpus (a naive
    `sum OVER (ORDER BY doc_id)` would stream all 100 TB through ONE
    task). Pin tests are pure integer arithmetic (floor((cum*K)/T) strata
    transitions), bit-identical across engines; T rides a broadcast
    1-row global aggregate. A doc straddling several pins is emitted once
    with its highest pin index, so the sample has <= {PPS_K} rows of
    exactly the pinned mass.
    """
    from gtec_etl_spark.operators.scale import distributed_prefix_sum

    k = PPS_K
    docs = catalog.table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cum = distributed_prefix_sum(docs, "doc_id", "n_chars")
    tot = docs.agg(F.sum("n_chars").cast("long").alias("t"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.expr(f"cum * {k} div t > (cum - n_chars) * {k} div t"))
        .select(
            "doc_id",
            "source",
            "n_chars",
            "cum",
            F.expr(f"cum * {k} div t").alias("pick_no"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Token-distribution drift between two corpus splits (mixture monitoring)

KL_TOP = 25


@query(
    "text_kl_mixture_drift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % 2 AS part,
             unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS token
      FROM documents),
    counts AS (SELECT token,
        CAST(sum(CASE WHEN part = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN part = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM toks GROUP BY token),
    scal AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
                    CAST(sum(n_b) AS BIGINT) AS tb,
                    CAST(count(*) AS BIGINT) AS v
             FROM counts)
    SELECT token, n_a, n_b,
           CAST((n_a + 1) * (
             CAST(floor(ln(n_a + 1) * 1000000 + 0.5) AS BIGINT)
             - CAST(floor(ln(n_b + 1) * 1000000 + 0.5) AS BIGINT)
             + CAST(floor(ln(tb + v) * 1000000 + 0.5) AS BIGINT)
             - CAST(floor(ln(ta + v) * 1000000 + 0.5) AS BIGINT)
           ) AS BIGINT) AS drift_score
    FROM counts, scal
    ORDER BY drift_score DESC, token LIMIT {KL_TOP}
    """,
    tags=("text", "scale"),
)
def text_kl_mixture_drift(spark, sf_dir):
    """Mixture drift monitor: the {KL_TOP} tokens whose add-one-smoothed
    probability most over-represents split A (even doc_ids) vs split B —
    the per-token contributions to KL(P_A || P_B), the check a pipeline
    runs when a new crawl snapshot replaces an old one ("what moved?").

    Parity discipline (the tfidf precedent): the only transcendental is
    ln over INTEGER arguments, each quantized to micro-nats immediately
    (floor(ln(x)*1e6 + 0.5)); ln(p/q) is decomposed as
    ln(n_a+1) - ln(n_b+1) + ln(T_b+V) - ln(T_a+V) so every argument stays
    an exact BIGINT (never a product that could overflow or a ratio that
    could hit denormals), and everything after quantization is integer
    arithmetic. tests/test_float_guards.py asserts every distinct argument
    clears the rounding boundary by >100x a 1-ulp ln error. Scale shape:
    one exploded token groupBy with map-side combine; the (T_a, T_b, V)
    scalars ride a broadcast 1-row global aggregate; top-{KL_TOP} is
    TakeOrderedAndProject (per-partition heads, no global sort).
    """
    docs = catalog.table(spark, sf_dir, "documents")
    toks = cpu_fanout_repartition(docs, "doc_id").select(
        (F.col("doc_id") % 2).alias("part"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("part") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("part") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    scal = counts.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast("long")

    return (
        counts.crossJoin(F.broadcast(scal))
        .select(
            "token",
            "n_a",
            "n_b",
            (
                (F.col("n_a") + 1)
                * (
                    qln(F.col("n_a") + 1)
                    - qln(F.col("n_b") + 1)
                    + qln(F.col("tb") + F.col("v"))
                    - qln(F.col("ta") + F.col("v"))
                )
            ).alias("drift_score"),
        )
        .orderBy(F.col("drift_score").desc(), "token")
        .limit(KL_TOP)
    )


KFOLD_K = 5


@query(
    "text_kfold_assign",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) - 1 AS rk
      FROM documents
    )
    SELECT source, CAST(rk % {KFOLD_K} AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM ranked GROUP BY source, fold ORDER BY source, fold
    """,
    tags=("text",),
)
def text_kfold_assign(spark, sf_dir):
    """Deterministic STRATIFIED k-fold assignment: within each source,
    docs are ranked by their content-independent hash (shuffle-by-hash —
    stable under reruns and insert order, unlike rand-based splits) and
    dealt round-robin into {KFOLD_K} folds, so every fold carries each
    source's share to within one document — the cross-validation split a
    data-curation pipeline wants when sources are imbalanced (a plain
    hash-mod split only balances in expectation; round-robin ranking
    balances by construction). One window per source partition (parallel
    across sources), then the per-(source, fold) rollup. Evaluated as the
    fold-count audit a reviewer checks before training."""
    from pyspark.sql import Window

    docs = catalog.table(spark, sf_dir, "documents")
    rk = (
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                hash60(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        - 1
    )
    return (
        docs.select("source", "doc_id", (rk % KFOLD_K).cast("long").alias("fold"))
        .groupBy("source", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("source", "fold")
    )


def _ccnet_bucket_oracle() -> str:
    from gtec_etl_spark.plans import registry

    fam = registry.oracles()["text_lm_familiarity"]
    return f"""
    WITH fam AS (SELECT * FROM ({fam})),
    t AS (
      SELECT lang, familiarity_e3,
             ntile(3) OVER (
               PARTITION BY lang ORDER BY familiarity_e3 DESC, doc_id
             ) AS nt
      FROM fam
    )
    SELECT lang,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(familiarity_e3) AS BIGINT) AS min_fam_e3,
           CAST(max(familiarity_e3) AS BIGINT) AS max_fam_e3
    FROM t GROUP BY lang, nt ORDER BY lang, min(nt)
    """


@query("text_ccnet_bucket", oracle=_ccnet_bucket_oracle(), tags=("text", "quality"))
def text_ccnet_bucket(spark, sf_dir):
    """CCNet's head/middle/tail split: per LANGUAGE, rank documents by
    target-LM familiarity and cut into population tertiles — the bucket
    assignment CCNet feeds downstream (train on head+middle, drop or
    down-weight tail). Composed from the gated text_lm_familiarity
    (registry composition, the sim_recall_report precedent) so the score
    and the bucketing can never drift apart; reported as the per-(lang,
    bucket) audit with familiarity ranges. The exact ntile is one sorted
    window per language partition (parallel across languages); the 100 TB
    swap-in is approx-quantile thresholds + a map-side comparison, the
    prof_equidepth_histogram convention for exact-at-test /
    approximate-at-scale pairs."""
    from pyspark.sql import Window

    from gtec_etl_spark.plans import registry

    fam = registry.queries()["text_lm_familiarity"](spark, sf_dir)
    nt = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(
            F.col("familiarity_e3").desc(), "doc_id"
        )
    )
    t = fam.select("lang", "familiarity_e3", nt.alias("nt"))
    return (
        t.groupBy("lang", "nt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("familiarity_e3").cast("long").alias("min_fam_e3"),
            F.max("familiarity_e3").cast("long").alias("max_fam_e3"),
        )
        .orderBy("lang", "nt")
        .select(
            "lang",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "min_fam_e3",
            "max_fam_e3",
        )
    )


@query(
    "text_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT)
             AS total_tokens,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(100 * sum(len(regexp_extract_all(text, '{TOKEN_RE}')))
                // sum(len(string_split(text, ' '))) AS BIGINT)
             AS tokens_per_100_words,
           CAST(1000 * sum(n_chars)
                // sum(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT)
             AS chars_per_token_e3
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "scale"),
)
def text_fertility_by_lang(spark, sf_dir):
    """Tokenizer FERTILITY per language — the statistic that decides
    whether a tokenizer under-serves a language (high tokens-per-word =
    the vocabulary fragments that language's words; high chars-per-token
    = the opposite). Reuses text_token_stats' BPE-ish segmentation,
    grouped by the corpus language tag; ratios are truncating BIGINT
    divisions on corpus-level sums (exact cross-engine, no float
    averaging). One scan, one keyed agg over a 5-value key domain —
    map-side partials make the shuffle rows-per-language regardless of
    corpus size."""
    docs = catalog.table(spark, sf_dir, "documents")
    toks = F.sum(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0))
    )
    words = F.sum(F.size(F.split(F.col("text"), " ")))
    chars = F.sum("n_chars")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            toks.cast("long").alias("total_tokens"),
            words.cast("long").alias("total_words"),
            chars.cast("long").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "total_words",
            "total_chars",
            # exact BIGINT division (`div`), never double-divide-then-floor
            F.expr("total_tokens * 100 div total_words")
            .cast("long")
            .alias("tokens_per_100_words"),
            F.expr("total_chars * 1000 div total_tokens")
            .cast("long")
            .alias("chars_per_token_e3"),
        )
        .orderBy("lang")
    )


N_SHARDS = 16


@query(
    "text_global_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT epoch, doc_id, n_chars,
             {hash60_sql("concat(CAST(doc_id AS VARCHAR), ':', CAST(epoch AS VARCHAR))")} AS skey
      FROM documents, (SELECT unnest([0, 1]) AS epoch)
    )
    SELECT epoch, skey % {N_SHARDS} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(skey) AS first_key,
           CAST(min_by(doc_id, skey) AS BIGINT) AS first_doc
    FROM keyed GROUP BY epoch, shard ORDER BY epoch, shard
    """,
    tags=("text", "sample", "scale"),
)
def text_global_shuffle(spark, sf_dir):
    """Deterministic EPOCH SHUFFLE — how a training pipeline randomizes
    corpus order without a global sort-by-random: every (doc, epoch)
    pair hashes to a reshuffle key; shard = key % {N_SHARDS} is the
    training shard, and ordering within a shard by key is the epoch's
    document order. Different epochs give independent permutations from
    the same pure function — resumable, replayable, no stored
    permutation table, no driver state. The output summarizes each
    (epoch, shard): size, payload bytes, and the first (key, doc) as an
    order fingerprint, so the oracle checks the permutation itself, not
    just shard balance. At 100 TB this is one map pass + one keyed agg;
    the actual shard WRITE would be partitionBy(epoch, shard) with
    sortWithinPartitions(key) — no global shuffle beyond the bucketing
    exchange."""
    docs = catalog.table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    ).withColumn(
        "skey",
        hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ),
    )
    return (
        keyed.groupBy("epoch", (F.col("skey") % N_SHARDS).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("skey").alias("first_key"),
            F.min_by("doc_id", "skey").cast("long").alias("first_doc"),
        )
        .orderBy("epoch", "shard")
    )


@query(
    "text_doremi_reweight",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             (400 * n_stop + 300 * n_distinct
              + 3 * least(n_words, 100) * n_words) * 10 // n_words AS q
      FROM (
        SELECT source,
               len(string_split(lower(text), ' ')) AS n_words,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains({_EN_STOP_SQL}, x))) AS n_stop,
               len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
        FROM documents
      )
    ),
    per AS (
      SELECT source, count(*) AS n_docs, sum(q) AS q_sum FROM scored GROUP BY source
    ),
    w0 AS (
      SELECT source, n_docs,
             1000000 * n_docs // (SELECT sum(n_docs) FROM per) AS w0_ppm,
             q_sum // n_docs AS mean_quality,
             (SELECT sum(q_sum) FROM per) // (SELECT sum(n_docs) FROM per)
               AS corpus_mean
      FROM per
    ),
    boosted AS (
      SELECT source, n_docs, w0_ppm, mean_quality,
             least(1000 * greatest(corpus_mean - mean_quality, 0)
                   // greatest(corpus_mean, 1), 500) AS boost_bp
      FROM w0
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(w0_ppm AS BIGINT) AS w0_ppm,
           CAST(mean_quality AS BIGINT) AS mean_quality,
           CAST(boost_bp AS BIGINT) AS boost_bp,
           CAST(1000000 * (w0_ppm * (1000 + boost_bp))
                // (SELECT sum(w0_ppm * (1000 + boost_bp)) FROM boosted)
                AS BIGINT) AS new_w_ppm
    FROM boosted ORDER BY source
    """,
    tags=("text", "pipeline", "scale"),
)
def text_doremi_reweight(spark, sf_dir):
    """One DOMAIN-REWEIGHTING step (the DoReMi shape: upweight domains
    whose proxy loss runs above the corpus average, renormalize): domain
    = source, proxy loss = the corpus quality score inverted (a domain
    whose mean quality lags the corpus mean is the 'hard' domain the
    reference-vs-proxy excess loss would flag). The exponential update is
    LINEARIZED to a bounded multiplicative boost (w * (1000 + boost_bp),
    boost capped at 500 bp) so every step is exact integer arithmetic —
    no exp/ln cross-engine drift — and the renormalization is truncating
    ppm division. Plan: one pass over the corpus computing per-domain
    (count, quality sum) map-side partials; everything after operates on
    the domain-count-sized frame via unbounded windows (the
    mixture_rebalance lesson — no second corpus scan, no driver state).
    Iterating = feeding new_w_ppm back as w0 next round (the constant-
    iteration unroll discipline would oracle K steps as chained CTEs)."""
    from pyspark.sql import Window

    docs = catalog.table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    scored = docs.select(
        "source",
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x))).alias(
            "n_stop"
        ),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    ).select(
        "source",
        F.expr(
            "CAST((400 * n_stop + 300 * n_distinct"
            " + 3 * least(n_words, 100) * n_words) * 10 div n_words AS BIGINT)"
        ).alias("q"),
    )
    per = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("q").alias("q_sum")
    )
    w = Window.partitionBy()
    boosted = per.select(
        "source",
        "n_docs",
        F.expr("1000000 * n_docs").alias("_w0_num"),
        F.sum("n_docs").over(w).alias("_n_all"),
        F.expr("q_sum div n_docs").alias("mean_quality"),
        F.sum("q_sum").over(w).alias("_q_all"),
    ).select(
        "source",
        "n_docs",
        F.expr("_w0_num div _n_all").cast("long").alias("w0_ppm"),
        F.col("mean_quality").cast("long").alias("mean_quality"),
        # integer div, never double-divide-then-floor: a quotient just
        # below an integer can double-round UP across the boundary
        F.expr("_q_all div _n_all").cast("long").alias("_corpus_mean"),
    ).select(
        "source",
        "n_docs",
        "w0_ppm",
        "mean_quality",
        F.least(
            F.expr(
                "1000 * greatest(_corpus_mean - mean_quality, 0)"
                " div greatest(_corpus_mean, 1)"
            ),
            F.lit(500),
        ).cast("long").alias("boost_bp"),
    )
    return boosted.select(
        "source",
        "n_docs",
        "w0_ppm",
        "mean_quality",
        "boost_bp",
        F.expr("w0_ppm * (1000 + boost_bp)").alias("_raw"),
    ).select(
        "source",
        "n_docs",
        "w0_ppm",
        "mean_quality",
        "boost_bp",
        F.expr("CAST(1000000 * _raw AS BIGINT)").alias("_raw_num"),
        F.sum("_raw").over(Window.partitionBy()).alias("_raw_sum"),
    ).select(
        "source",
        "n_docs",
        "w0_ppm",
        "mean_quality",
        "boost_bp",
        F.expr("_raw_num div _raw_sum").cast("long").alias("new_w_ppm"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer: one hard-EM (Viterbi) iteration over a pinned seed
# vocabulary — the OTHER tokenizer family large pipelines train (Kudo 2018 /
# SentencePiece), next to BPE. Constant-iteration + integer-quantized, so the
# oracle unrolls the per-word DP as CTE stages (the text_bpe_train /
# graph_pagerank discipline).

UNI_MAXW = 12  # words longer than this are excluded from the training set
UNI_V = 24  # multi-char seed pieces kept (all single chars always kept)
UNI_MAXP = 3  # max piece length


def _uni_qln(e: str) -> str:
    return f"CAST(floor(ln({e}) * 1000000 + 0.5) AS BIGINT)"


def _unigram_ctes() -> str:
    """WITH-chain: seed vocabulary (all chars + top-{UNI_V} substrings by
    weighted count), quantized log-probs, forward Viterbi DP unrolled as
    b1..b{UNI_MAXW} stages, and the backward path reconstruction unrolled
    as r1..r{UNI_MAXW} stages (smallest-piece tie-break)."""
    parts = [
        f"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE len(word) BETWEEN 1 AND {UNI_MAXW}
      GROUP BY word
    ),
    sub AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq, substr(word, i, m) AS piece
        FROM w,
             (SELECT unnest(generate_series(1, {UNI_MAXW})) AS i),
             (SELECT unnest(generate_series(1, {UNI_MAXP})) AS m)
        WHERE i + m - 1 <= len(word)
      ) GROUP BY piece
    ),
    vocab AS MATERIALIZED (
      SELECT piece, cnt FROM sub WHERE len(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM sub WHERE len(piece) > 1
        ORDER BY cnt DESC, piece LIMIT {UNI_V}
      )
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
    lp AS MATERIALIZED (
      SELECT piece, cnt,
             {_uni_qln("cnt")} - (SELECT {_uni_qln("t")} FROM tot) AS lp
      FROM vocab
    ),
    b0 AS MATERIALIZED (SELECT word, freq, CAST(0 AS BIGINT) AS score FROM w)"""
    ]
    for i in range(1, UNI_MAXW + 1):
        branches = []
        for m in range(1, UNI_MAXP + 1):
            if i - m < 0:
                break
            branches.append(
                f"""
        SELECT b.word, b.freq, b.score + l.lp AS s
        FROM b{i - m} b JOIN lp l ON l.piece = substr(b.word, {i - m + 1}, {m})
        WHERE len(b.word) >= {i}"""
            )
        parts.append(
            f""",
    b{i} AS MATERIALIZED (
      SELECT word, freq, max(s) AS score
      FROM ({" UNION ALL ".join(branches)})
      GROUP BY word, freq
    )"""
        )
    best_rows = " UNION ALL ".join(
        f"SELECT word, freq, {i} AS pos, score FROM b{i}"
        for i in range(0, UNI_MAXW + 1)
    )
    parts.append(
        f""",
    best AS MATERIALIZED ({best_rows}),
    r0 AS MATERIALIZED (SELECT word, freq, len(word) AS pos, CAST(NULL AS VARCHAR) AS piece
           FROM w)"""
    )
    for j in range(1, UNI_MAXW + 1):
        parts.append(
            f""",
    r{j} AS MATERIALIZED (
      SELECT word, freq, pos - m AS pos, piece FROM (
        SELECT r.word, r.freq, r.pos, m.m,
               substr(r.word, r.pos - m.m + 1, m.m) AS piece,
               row_number() OVER (PARTITION BY r.word ORDER BY m.m) AS rn
        FROM r{j - 1} r
        JOIN (SELECT unnest(generate_series(1, {UNI_MAXP})) AS m) m
          ON m.m <= r.pos
        JOIN lp l ON l.piece = substr(r.word, r.pos - m.m + 1, m.m)
        JOIN best bp ON bp.word = r.word AND bp.pos = r.pos
        JOIN best bm ON bm.word = r.word AND bm.pos = r.pos - m.m
        WHERE r.pos > 0 AND bm.score + l.lp = bp.score
      ) WHERE rn = 1
    )"""
        )
    path_rows = " UNION ALL ".join(
        f"SELECT word, freq, piece FROM r{j}" for j in range(1, UNI_MAXW + 1)
    )
    parts.append(f""",
    path AS MATERIALIZED ({path_rows})""")
    return "".join(parts)


def _unigram_spark_path(spark, sf_dir):
    """Shared Spark pipeline: (lp DataFrame, path DataFrame, words
    DataFrame). lp carries (piece, cnt, lp); path carries one row per
    Viterbi piece occurrence weighted by word freq."""
    from gtec_etl_spark.operators.bpe import unigram_viterbi_segments

    docs = catalog.table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= UNI_MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    subs = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(word)), i ->"
                    f" filter(transform(sequence(1, {UNI_MAXP}), m ->"
                    f" CASE WHEN i + m - 1 <= length(word)"
                    f" THEN substring(word, i, m) END), p -> p IS NOT NULL)))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(UNI_V)
    )
    vocab = chars.unionByName(multi)
    tot = vocab.agg(F.sum("cnt").cast("long").alias("t"))

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast(
            "long"
        )

    lp = (
        vocab.crossJoin(F.broadcast(tot))  # 1-row global aggregate
        .select("piece", "cnt", (qln(F.col("cnt")) - qln(F.col("t"))).alias("lp"))
    )
    # the vocabulary is bounded (alphabet + UNI_V rows) — safe to collect
    lp_map = {r["piece"]: int(r["lp"]) for r in lp.collect()}
    path = unigram_viterbi_segments(words, lp_map, UNI_MAXP)
    return lp, path, words


@query(
    "text_unigram_em",
    oracle=_unigram_ctes()
    + f""",
    emc AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS em_count
            FROM path GROUP BY piece),
    emt AS (SELECT CAST(sum(em_count) AS BIGINT) AS t FROM emc)
    SELECT l.piece,
           l.cnt AS seed_count,
           l.lp AS seed_lp_micro_nats,
           CAST(coalesce(e.em_count, 0) AS BIGINT) AS em_count,
           CASE WHEN e.em_count > 0
                THEN {_uni_qln("e.em_count")} - (SELECT {_uni_qln("t")} FROM emt)
           END AS em_lp_micro_nats
    FROM lp l LEFT JOIN emc e USING (piece)
    ORDER BY piece
    """,
    tags=("text", "tokenizer", "scale"),
)
def text_unigram_em(spark, sf_dir):
    """UNIGRAM-LM tokenizer, one hard-EM iteration (Kudo 2018 — the other
    tokenizer family production pipelines train, next to BPE): seed
    vocabulary = every character plus the top-{UNI_V} multi-char
    substrings (length <= {UNI_MAXP}) by corpus-weighted count; seed
    probabilities = quantized log cnt/total (micro-nats, the qln
    discipline — ln only ever sees integer counts); E-step = Viterbi
    segmentation of every distinct word under those log-probs (one Arrow
    mapInPandas pass, O(|vocab|) not O(corpus) — text_bpe_train's scale
    argument); M-step = re-estimated piece counts and log-probs from the
    path. Emits the full before/after probability table. The oracle
    unrolls forward DP and backward path reconstruction as
    2x{UNI_MAXW} CTE stages with the identical smallest-piece tie-break —
    all integer arithmetic, so exact cross-engine."""
    lp, path, _ = _unigram_spark_path(spark, sf_dir)

    def qln(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + F.lit(0.5)).cast(
            "long"
        )

    emc = path.groupBy("piece").agg(F.sum("freq").cast("long").alias("em_count"))
    emt = emc.agg(F.sum("em_count").cast("long").alias("t"))
    return (
        lp.join(emc, "piece", "left")
        .crossJoin(F.broadcast(emt))  # 1-row global aggregate
        .select(
            "piece",
            F.col("cnt").alias("seed_count"),
            F.col("lp").alias("seed_lp_micro_nats"),
            F.coalesce(F.col("em_count"), F.lit(0)).cast("long").alias("em_count"),
            F.when(
                F.col("em_count") > 0, qln(F.col("em_count")) - qln(F.col("t"))
            ).alias("em_lp_micro_nats"),
        )
        .orderBy("piece")
    )


@query(
    "text_tokenizer_fertility",
    oracle=_unigram_ctes()
    + _bpe_ctes(BPE_K).replace("\n    WITH tok0", ",\n    tok0", 1)
    + f"""
    SELECT * FROM (
      SELECT 'bpe' AS tokenizer,
             CAST(sum(freq) AS BIGINT) AS total_words_w,
             CAST(sum(freq * len(toks)) AS BIGINT) AS total_pieces_w,
             CAST(sum(freq * len(toks)) * 100 // sum(freq) AS BIGINT)
               AS pieces_per_100_words
      FROM tok{BPE_K} WHERE len(word) <= {UNI_MAXW}
      UNION ALL
      SELECT 'unigram',
             (SELECT CAST(sum(freq) AS BIGINT) FROM w),
             (SELECT CAST(sum(freq) AS BIGINT) FROM path),
             (SELECT CAST(sum(freq) AS BIGINT) FROM path) * 100
               // (SELECT CAST(sum(freq) AS BIGINT) FROM w)
    ) ORDER BY tokenizer
    """,
    tags=("text", "tokenizer"),
)
def text_tokenizer_fertility(spark, sf_dir):
    """FERTILITY comparison of the two trained tokenizers — the data-card
    statistic that picks between them (pieces per 100 words, weighted by
    word frequency over the same length-filtered vocabulary): BPE after
    {BPE_K} merges vs unigram-LM after one hard-EM step. Both training
    loops are O(|distinct words|); the comparison is two 1-row
    aggregates. Exact integers end to end (piece counts and truncating
    BIGINT division)."""
    from gtec_etl_spark.operators import bpe as B

    docs = catalog.table(spark, sf_dir, "documents")
    _, bvocab = B.bpe_train(docs, BPE_K)
    try:
        bpe_row = (
            bvocab.filter(F.length("word") <= UNI_MAXW)
            .agg(
                F.sum("freq").cast("long").alias("total_words_w"),
                F.sum(F.col("freq") * F.size("toks")).cast("long").alias(
                    "total_pieces_w"
                ),
            )
            .select(
                F.lit("bpe").alias("tokenizer"),
                "total_words_w",
                "total_pieces_w",
                F.expr("total_pieces_w * 100 div total_words_w")
                .cast("long")
                .alias("pieces_per_100_words"),
            )
        )
        _, path, words = _unigram_spark_path(spark, sf_dir)
        uni_row = (
            words.agg(F.sum("freq").cast("long").alias("total_words_w"))
            .crossJoin(  # 1-row x 1-row global aggregates
                path.agg(F.sum("freq").cast("long").alias("total_pieces_w"))
            )
            .select(
                F.lit("unigram").alias("tokenizer"),
                "total_words_w",
                "total_pieces_w",
                F.expr("total_pieces_w * 100 div total_words_w")
                .cast("long")
                .alias("pieces_per_100_words"),
            )
        )
        out = bpe_row.unionByName(uni_row).orderBy("tokenizer")
        return out.localCheckpoint(eager=True)  # materialize before unpersist
    finally:
        bvocab.unpersist()
