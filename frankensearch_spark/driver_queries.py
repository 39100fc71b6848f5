"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry in ``QUERIES`` is ``name -> (spark, sf_dir) -> DataFrame``; the
matching ``ORACLE_SQL[name]`` is ANSI SQL DuckDB runs over the same parquet
(views pre-registered by the driver).  Column names/aliases match exactly —
the driver's compare hashes values after sorting columns by name.

Float policy: driver-checked queries compute scores in **float64** with
the same expression shape on both sides and ``ROUND(x, 6)``; the engine's
rank-exact **float32** contract is enforced separately by the pytest suite
(bit-equality vs the numpy oracle) because DuckDB cannot evaluate strict
f32 op order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frankensearch_spark.operators.build import (
    BuiltIndex,
    build_index,
    positions_as_array,
)
from frankensearch_spark.sources.corpus import load_documents_as_corpus
from frankensearch_spark.streaming._shim import epoch_micros

# ---------------------------------------------------------------------------
# shared index cache (one build per sf_dir per session)

_INDEX_CACHE: dict[str, BuiltIndex] = {}


def documents_index(
    spark: SparkSession, sf_dir: str, content_col: str = "content"
) -> BuiltIndex:
    # applicationId, not id(spark): a stopped session's address can be
    # reused by a NEW session, which would serve cached DataFrames bound
    # to the dead JVM gateway
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{content_col}"
    if key not in _INDEX_CACHE:
        corpus = load_documents_as_corpus(spark, sf_dir)
        _INDEX_CACHE[key] = build_index(
            corpus, ["repo", "path", "commit"], content_col=content_col
        )
    return _INDEX_CACHE[key]


# DuckDB-side tokenizer, equivalent to analyze.tokenize_fast on the
# documents charset (verified: text is strictly [a-z0-9 ]).
_SQL_TOKENS = """
SELECT doc_id AS docid,
       list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                   x -> x <> '') AS l
FROM documents
"""

_SQL_TOKEN_ROWS = f"""
SELECT docid, unnest(l) AS term, generate_subscripts(l, 1) - 1 AS pos
FROM ({_SQL_TOKENS}) d
"""

# BM25 f64 CTE scaffold shared by the scoring oracle queries
_SQL_BM25_BASE = f"""
WITH tok AS ({_SQL_TOKEN_ROWS}),
tf AS (
  SELECT term, docid, count(*)::BIGINT AS tf FROM tok GROUP BY term, docid
),
dl AS (
  -- ALL documents: a zero-token doc contributes doclen 0, exactly as
  -- the Spark docmeta left-join does — stats must agree on n_docs and
  -- avgdl even when empty documents exist
  SELECT d.doc_id AS docid, coalesce(t.doclen, 0)::BIGINT AS doclen
  FROM documents d
  LEFT JOIN (
    SELECT docid, count(*)::BIGINT AS doclen FROM tok GROUP BY docid
  ) t ON d.doc_id = t.docid
),
stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(doclen)::BIGINT AS total_tokens,
         sum(doclen)::DOUBLE / count(*)::DOUBLE AS avgdl
  FROM dl
),
df AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
)
"""


def _bm25_scored_cte(terms: list[str]) -> str:
    """`, scored AS (...)` fragment appended to _SQL_BM25_BASE — the f64
    BM25 sum per docid restricted to ``terms``."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
, scored AS (
  SELECT tf.docid,
         sum(
           ln(1.0 + ((stats.n_docs - df.df)::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
           * 2.2
           * tf.tf::DOUBLE
           / (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl.doclen::DOUBLE / stats.avgdl))
         ) AS score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.docid = dl.docid
  CROSS JOIN stats
  WHERE tf.term IN ({tlist})
  GROUP BY tf.docid
)"""


def _bm25_sql(terms: list[str], k: int) -> str:
    return (
        _SQL_BM25_BASE
        + _bm25_scored_cte(terms)
        + f"""
SELECT docid, round(score, 6) AS score_r
FROM scored ORDER BY score DESC, docid ASC LIMIT {k}
"""
    )


def _bm25_spark(spark, sf_dir, terms: list[str], k: int) -> DataFrame:
    """f64 BM25 with the identical expression shape as :func:`_bm25_sql`
    (single content field == :func:`_field_scores_f64` at boost 1)."""
    scored = _field_scores_f64(documents_index(spark, sf_dir), terms, 1.0)
    return (
        scored.orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
        .select("docid", F.round("score", 6).alias("score_r"))
    )


# ---------------------------------------------------------------------------
# individual queries


def q_tokenize_explode(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    p = positions_as_array(idx.positions.filter(F.col("docid") < 100))
    return p.select("docid", "term", F.explode("positions").alias("pos"))


def q_term_tf(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    return idx.postings.select("term", "docid", F.col("tf").cast("long").alias("tf"))


def q_term_df(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    return idx.termstats.select(
        "term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf")
    )


def q_doclen(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    return idx.docmeta.select("docid", F.col("doclen").cast("long").alias("doclen"))


def q_corpus_stats(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    return idx.fieldstats.select(
        F.col("doc_count").cast("long").alias("doc_count"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.col("total_tokens").cast("double") / F.col("doc_count").cast("double"), 6
        ).alias("avgdl_r"),
    )


def q_bm25_topk_single(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, ["merge"], 10)


def q_bm25_topk_multi(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, ["key", "order", "merge"], 10)


MF_TERMS = ["merge", "src3"]  # one text-vocab term + one source token
MF_SOURCE_BOOST = 2.0  # the reference's title^2 analogue


def _field_scores_f64(idx, terms, boost):
    """f64 per-field BM25 (same expression shape as _bm25_spark) with a
    field boost multiplier — each field scores with its OWN df/avgdl/
    doclen over the shared doc space (quill/index.rs:11168-11191
    multi-field lowering)."""
    n_docs, total_tokens = idx.stats()
    avgdl = total_tokens / n_docs
    p = idx.postings.filter(F.col("term").isin(terms)).select(
        "term", "docid", F.col("tf").cast("double").alias("tf"),
        F.col("doclen").cast("double").alias("doclen"),
    )
    ts = idx.termstats.filter(F.col("term").isin(terms)).select(
        "term", F.col("df").cast("double").alias("df")
    )
    joined = p.join(F.broadcast(ts), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    score = (
        idf
        * F.lit(2.2)
        * F.lit(float(boost))
        * F.col("tf")
        / (
            F.col("tf")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * F.col("doclen") / F.lit(avgdl))
        )
    )
    return joined.groupBy("docid").agg(F.sum(score).alias("score"))


def q_bm25_multifield(spark, sf_dir):
    """content + source^2 multi-field BM25 (f64 oracle shape): per-field
    statistics, field boost on the second field, scores summed across
    fields — the reference's default content + title^2 query surface
    (schema.rs:295-298) cross-checked against DuckDB."""
    idx_c = documents_index(spark, sf_dir)
    idx_s = documents_index(spark, sf_dir, content_col="repo")
    c = _field_scores_f64(idx_c, MF_TERMS, 1.0).withColumnRenamed("score", "sc")
    s = _field_scores_f64(idx_s, MF_TERMS, MF_SOURCE_BOOST).withColumnRenamed(
        "score", "ss"
    )
    total = (
        c.join(s, "docid", "full_outer")
        .select(
            "docid",
            (
                F.coalesce(F.col("sc"), F.lit(0.0))
                + F.coalesce(F.col("ss"), F.lit(0.0))
            ).alias("score"),
        )
    )
    return (
        total.orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
        .select("docid", F.round("score", 6).alias("score_r"))
    )


FUSION_TERMS = ["merge", "order"]
FUSION_DEPTH = 50  # candidate_count analogue (fusion/rrf.rs:111)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid two-tier search — the reference's product path (fsfs
    ``search``: lexical BM25 fused with the semantic tier via RRF K=60,
    README.md:296-310, fusion/rrf.rs:195-236): BM25 top-50 for
    'merge order' × cosine top-50 vs the vec_id=0 embedding, fused on
    docid == vec_id with the 4-level deterministic ordering
    (rrf.rs:154-173).  Ranks emit -1 for the side a doc is absent from
    (hash-stable stand-in for FusedHit's None)."""
    from frankensearch_spark.operators.fusion import rrf_fuse

    lex, sem = _fusion_candidates(spark, sf_dir)
    fused = rrf_fuse(lex, sem, limit=10)
    return fused.select(
        "docid",
        F.round("rrf_score", 6).alias("rrf_r"),
        F.coalesce("lex_rank", F.lit(-1)).cast("long").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(-1)).cast("long").alias("sem_rank"),
        F.col("in_both").cast("int").alias("in_both"),
    )


def _fusion_candidates(spark, sf_dir):
    """Shared bounded candidate lists for the two fusion strategies."""
    lex = (
        _field_scores_f64(documents_index(spark, sf_dir), FUSION_TERMS, 1.0)
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(FUSION_DEPTH)
        .select("docid", F.col("score").alias("lex_score"))
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sem = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("docid"),
            _cosine("embedding", "qv").alias("sem_score"),
        )
        .orderBy(F.desc("sem_score"), F.asc("docid"))
        .limit(FUSION_DEPTH)
    )
    return lex, sem


def q_hybrid_pool_minmax(spark, sf_dir):
    """Pool-local min-max score fusion over the same candidate lists as
    ``hybrid_rrf_fusion`` — the reference's magnitude-preserving fusion
    strategy (rrf.rs:465-520): per-tier min-max normalization within the
    retrieved pool, absent tier contributes 0.0, tier-weighted sum, same
    4-level deterministic ordering."""
    from frankensearch_spark.operators.fusion import pool_minmax_fuse

    lex, sem = _fusion_candidates(spark, sf_dir)
    fused = pool_minmax_fuse(lex, sem, limit=10)
    return fused.select(
        "docid",
        F.round("rrf_score", 6).alias("fused_r"),
        F.coalesce("lex_rank", F.lit(-1)).cast("long").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(-1)).cast("long").alias("sem_rank"),
        F.col("in_both").cast("int").alias("in_both"),
    )


def q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def q_doc_fingerprint(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    # fingerprint = md5 of the sorted distinct term list (rolling-hash class)
    return idx.postings.groupBy("docid").agg(
        F.md5(F.concat_ws(" ", F.sort_array(F.collect_set("term")))).alias(
            "fingerprint"
        )
    )


def q_token_quality(spark, sf_dir):
    idx = documents_index(spark, sf_dir)
    stop = ["the", "a", "of", "and", "in", "on"]
    p = idx.postings
    return p.groupBy("docid").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            F.sum(F.length("term") * F.col("tf")).cast("double")
            / F.sum("tf").cast("double"),
            6,
        ).alias("avg_token_len_r"),
        F.round(
            F.sum(F.when(F.col("term").isin(stop), F.col("tf")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("tf").cast("double"),
            6,
        ).alias("stopword_ratio_r"),
    )


def _minhash_signatures(spark, terms, n_seeds: int):
    """(docid, seed, minhash): ``n_seeds`` md5-minhashes per doc —
    the ONE signature recipe every minhash/LSH query shares (its hash
    string and seed count are contract values mirrored in the oracle
    SQL)."""
    seeds = spark.range(n_seeds).select(F.col("id").cast("int").alias("seed"))
    h = F.md5(F.concat_ws("#", F.col("term"), F.col("seed").cast("string")))
    return (
        terms.crossJoin(F.broadcast(seeds))
        .groupBy("docid", "seed")
        .agg(F.min(h).alias("minhash"))
    )


def q_minhash_signature(spark, sf_dir):
    """MinHash signature, 8 seeds, md5-based (engine-portable hash)."""
    idx = documents_index(spark, sf_dir)
    return _minhash_signatures(
        spark, idx.postings.select("docid", "term"), 8
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-20 vs the vec_id=0 embedding (f64, rounded)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    joined = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != 0)
    # ONE cosine expression shared by every ANN/fusion query (_cosine):
    # float32 elements cast to double BEFORE multiplying, the oracle's
    # x::DOUBLE * x::DOUBLE op order
    sim = _cosine("embedding", "qv")
    return (
        joined.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", F.round("sim", 6).alias("sim_r"))
    )


def q_embedding_norms(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return emb.select("vec_id", "label", F.round(norm, 6).alias("l2_r"))


def q_content_witness(spark, sf_dir):
    """Per-row content sha256 witness (IDMAP analogue, the BASELINE.json
    input_hint invariant carrier)."""
    idx = documents_index(spark, sf_dir)
    return idx.docmeta.select("docid", "content_sha256")


def q_doc_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition quality signal: the fraction of DUPLICATE
    word 3-grams per document (1 - distinct/total; 0 when < 3 tokens).
    The standard boilerplate/spam filter for training-data curation —
    one whole-stage-codegen projection per doc, no shuffle beyond the
    scan, so it runs at corpus scan speed at 100 TB."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        F.col("doc_id").alias("docid"), _word_tokens().alias("t")
    )
    g = t.select("docid", _word_ngrams(F.col("t"), 3).alias("grams"))
    n = F.size("grams")
    ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct("grams")).cast("double") / n.cast("double")
    )
    return g.select(
        "docid",
        n.cast("long").alias("n_grams"),
        F.round(ratio, 6).alias("rep_ratio_r"),
    )


def q_embedding_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization + reconstruction RMSE —
    the ANN memory-scale path (4x smaller vectors for the IVF/LSH
    indexes).  Quantize (clip(floor(x/scale + 0.5), ±127); floor, not
    round, so both engines share one well-defined rule), dequantize,
    and error stats all inside ONE JVM projection over the embedding
    array — no UDF, no shuffle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    absmax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    e = emb.select("vec_id", "embedding", absmax.alias("absmax"))
    scale = F.col("absmax") / F.lit(127.0)
    dequant = lambda x: (  # noqa: E731 — local expression builder
        F.least(
            F.greatest(
                F.floor(x.cast("double") / scale + F.lit(0.5)),
                F.lit(-127.0),
            ),
            F.lit(127.0),
        )
        * scale
    )
    se = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: a + F.pow(x.cast("double") - dequant(x), F.lit(2.0)),
    )
    rmse = F.when(F.col("absmax") == 0.0, F.lit(0.0)).otherwise(
        F.sqrt(se / F.size("embedding"))
    )
    return e.select(
        "vec_id",
        F.round(scale, 6).alias("scale_r"),
        F.round(rmse, 6).alias("rmse_r"),
    )


def _word_tokens(col: str = "text"):
    """Lower-cased alnum word tokens as an array column (the pipeline
    queries' shared cheap tokenizer — NOT the index analyzer)."""
    return F.filter(
        F.split(F.lower(F.col(col)), "[^0-9a-z]+"),
        lambda x: x != F.lit(""),
    )


def _word_ngrams(toks, n: int):
    """Space-joined word n-grams over a token ARRAY COLUMN REFERENCE.

    Callers must materialize the tokenizer behind an alias first
    (``df.select(_word_tokens().alias("t"))``) and pass ``F.col("t")``:
    the lambda references the token array n+2 times, and CollapseProject
    inlines a non-aliased expression per reference — the explain showed
    split()+filter() evaluated 7x per row when the raw ``_word_tokens()``
    expression was passed directly (re-tokenizing the document once per
    element_at).  An aliased non-cheap expression referenced more than
    once is NOT collapsed, so the tokenizer runs exactly once per doc."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(1, n + 1)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the n-gram-overlap leakage check every
    training-data pipeline runs before a corpus reaches a model: flag
    documents whose word 4-grams collide with a held-out benchmark set
    (here the deterministic ``doc_id % 37 == 0`` slice stands in for the
    eval suites; production uses K=8..13 over the real benchmarks).

    Scale shape: benchmark gram sets are tiny relative to a 100 TB
    corpus, so the distinct benchmark grams BROADCAST and the corpus
    side is one scan + map-side hash join + partial-aggregated count —
    the big side never shuffles."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        F.col("doc_id").alias("docid"), _word_tokens().alias("t")
    )
    g = t.select(
        "docid", F.array_distinct(_word_ngrams(F.col("t"), 4)).alias("g")
    )
    bench = (
        g.filter(F.col("docid") % 37 == 0)
        .select(F.explode("g").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = g.filter(F.col("docid") % 37 != 0).select(
        "docid", F.explode("g").alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), "gram", "left")
        .groupBy("docid")
        .agg(
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )


def q_ppl_unigram(spark, sf_dir):
    """Unigram-LM perplexity filter (the CCNet-style quality signal:
    score each document by exp(mean −ln p(token)) under the corpus' own
    unigram model; very-high-perplexity docs are gibberish, very-low
    are boilerplate — both ends get dropped by curation).

    Scale shape: the vocabulary table (term → cf) is one global
    map-side-combinable aggregate and is small even at 100 TB (unique
    terms, not postings), so it BROADCASTS back onto the token stream;
    the per-doc score is a second partial-aggregated hash agg.  No
    Python, no all-pairs, nothing quadratic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        F.col("doc_id").alias("docid"), F.explode(_word_tokens()).alias("term")
    )
    from pyspark.sql import Window

    freq = t.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    # total token count derives from the vocabulary aggregate itself via
    # a global window — NOT a separate t.count() branch (Spark duplicates
    # unshared subtrees, so that branch re-scanned and re-tokenized the
    # whole corpus a third time; a single-partition window over the
    # small term table costs nothing and keeps the plan at two scans:
    # the freq aggregate + the score join)
    tot = F.sum("cf").over(Window.partitionBy()).cast("double")
    vocab = freq.select(
        "term", F.ln(F.col("cf").cast("double") / tot).alias("logp")
    )
    return (
        t.join(F.broadcast(vocab), "term")
        .groupBy("docid")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.exp(F.avg(-F.col("logp"))), 6).alias("ppl_r"),
        )
    )


def q_ppl_bigram(spark, sf_dir):
    """Bigram-LM perplexity filter (the KenLM-shaped upgrade of
    ``ppl_unigram``: score each document by exp(mean −ln p(w2|w1))
    under the corpus' own MLE bigram model — the CCNet/RedPajama
    quality signal actually uses an n-gram LM, not a unigram one;
    self-scoring the training corpus means every doc bigram exists in
    the model, so no smoothing branch is needed for the filter).

    Scale shape: ONE partially-aggregated hash agg over the bigram
    stream builds cf2 per (w1, bigram); the predecessor denominator
    cf1 derives from THAT table (sum of cf2 per w1 — the exact MLE
    denominator, so probabilities sum to 1 per w1 by construction),
    never from a third corpus scan (Spark duplicates unshared
    subtrees — the ppl_unigram lesson).  Two corpus-side scans total:
    the model aggregate + the score join.  Unlike the unigram
    vocabulary, the bigram table can outgrow a broadcast at 100 TB,
    so the score join carries NO broadcast hint — AQE broadcasts when
    it fits and shuffle-hash-joins on the bigram key otherwise.
    Nothing quadratic, no Python."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        F.col("doc_id").alias("docid"), _word_tokens().alias("t")
    )
    b = t.select(
        "docid", F.explode(_word_ngrams(F.col("t"), 2)).alias("bg")
    )
    from pyspark.sql import Window

    freq2 = b.select(
        F.substring_index("bg", " ", 1).alias("w1"), "bg"
    ).groupBy("w1", "bg").agg(F.count(F.lit(1)).alias("cf2"))
    # cf1 via a per-w1 window over the bigram-frequency table — NOT a
    # separate groupBy+join branch: Spark duplicates unshared subtrees,
    # so that branch re-scanned and re-tokenized the corpus a third
    # time (the ppl_unigram lesson, pinned by the plan test); the
    # window shuffles the small model table by w1, never the corpus
    model = freq2.withColumn(
        "cf1", F.sum("cf2").over(Window.partitionBy("w1"))
    )
    return (
        b.join(model, "bg")
        .groupBy("docid")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.exp(
                    F.avg(
                        -F.ln(
                            F.col("cf2").cast("double")
                            / F.col("cf1").cast("double")
                        )
                    )
                ),
                6,
            ).alias("ppl_r"),
        )
    )


def q_boilerplate_ngrams(spark, sf_dir):
    """Corpus-wide boilerplate detection (the C4/RefinedWeb curation
    step): word 5-grams that occur in >= 2 DISTINCT documents, ranked by
    document frequency.  In production the surviving gram list drives
    line/region removal; here the detector itself is the operator.

    Scale shape: per-doc grams are deduplicated INSIDE the projection
    (array_distinct before the explode), so the groupBy counts plain
    rows instead of needing count(DISTINCT docid) — one map-side
    partially-aggregated hash agg on the gram key, linear in corpus
    size.  The top-200 cut is TakeOrderedAndProject (no global sort),
    with a total (n_docs DESC, gram ASC) order so the cut is
    deterministic on both engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(_word_tokens().alias("t"))
    g = t.select(
        F.explode(F.array_distinct(_word_ngrams(F.col("t"), 5))).alias("gram")
    )
    return (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(200)
    )


def q_latest_event_per_user(spark, sf_dir):
    """Latest-record-per-key compaction (the CDC/upsert-resolution shape
    every snapshot pipeline needs: keep each key's newest version).  For
    every user: the most recent event by (ts, event_id) plus the user's
    total event count.

    Scale shape: ONE partially-aggregated hash agg — ``max_by`` over a
    struct ordering key combines map-side, so no per-user sort and no
    window exchange; this is the formulation that beats row_number() at
    100 TB.  The tie-break (ts, then event_id) is a total order, and ts
    enters the key as tz-invariant epoch micros (the events_windowed
    recipe), so the result is engine- and session-zone-deterministic.
    The DuckDB oracle uses the independent row_number() formulation."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_us = epoch_micros("ts")
    e = ev.select("user_id", "event_id", "event_type", ts_us.alias("ts_us"))
    payload = F.struct(
        F.col("event_id").alias("event_id"),
        F.col("event_type").alias("event_type"),
    )
    order_key = F.struct(
        F.col("ts_us").alias("ts_us"), F.col("event_id").alias("event_id")
    )
    agg = e.groupBy("user_id").agg(
        F.max_by(payload, order_key).alias("last"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "user_id",
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_type"),
        "n_events",
    )


def q_pack_offsets(spark, sf_dir):
    """GPT-style sequence packing (the training-data prep step after
    curation): documents concatenated in docid order into one token
    stream cut at CAPACITY-token boundaries — each doc gets its global
    start offset, its training-sequence id, and whether it straddles a
    sequence boundary.

    Scale shape: a SEGMENTED prefix sum, not a global window.  A naive
    ``SUM() OVER (ORDER BY docid)`` forces every row through ONE
    partition; instead docids bucket into coarse segments, a tiny
    per-segment total aggregates map-side, the segment BASES prefix-sum
    over that tiny frame (broadcast back), and the within-segment cumsum
    windows partition BY SEGMENT — every stage is parallel in the number
    of segments, which is how a 100-TB pack job actually runs.  The
    DuckDB oracle uses the independent single-window formulation."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cap, seg = 512, 100
    t = docs.select(
        F.col("doc_id").alias("docid"),
        F.size(_word_tokens()).alias("n_tokens"),
        F.floor(F.col("doc_id") / seg).cast("long").alias("segid"),
    )
    totals = t.groupBy("segid").agg(
        F.sum("n_tokens").cast("long").alias("seg_tok")
    )
    wseg = Window.orderBy("segid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = totals.select(
        "segid",
        F.coalesce(F.sum("seg_tok").over(wseg), F.lit(0))
        .cast("long")
        .alias("base"),
    )
    wdoc = (
        Window.partitionBy("segid")
        .orderBy("docid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        t.join(F.broadcast(bases), "segid")
        .withColumn(
            "local",
            F.coalesce(F.sum("n_tokens").over(wdoc), F.lit(0)).cast("long"),
        )
        .select(
            "docid",
            "n_tokens",
            (F.col("base") + F.col("local")).alias("start_token"),
        )
        .withColumn(
            "seq_id", F.floor(F.col("start_token") / cap).cast("long")
        )
    )
    end_seq = F.floor(
        (F.col("start_token") + F.col("n_tokens") - 1) / cap
    ).cast("long")
    return out.withColumn(
        "straddles",
        (F.col("n_tokens") > 0) & (end_seq > F.col("seq_id")),
    )


def q_dup_span_marks(spark, sf_dir):
    """ExactSubstr-style duplicated-span marking (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): token
    8-gram windows that occur in >= 2 distinct documents, merged per doc
    into maximal token intervals [span_start, span_end] (windows whose
    intervals overlap or touch coalesce).  Production pipelines cut
    these spans out of the training text; the marker is the operator.

    Scale shape: window starts flow through ONE distinct + ONE hash agg
    on the gram key (map-side combinable), join back on the same gram
    key (no broadcast of the big side), then the gaps-and-islands merge
    runs per-document windows — partitioned by docid, never global.
    All JVM codegen; grams never leave the executors un-aggregated."""
    n = 8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(F.col("doc_id").alias("docid"), _word_tokens().alias("t"))
    g = t.select(
        "docid", F.posexplode(_word_ngrams(F.col("t"), n)).alias("p", "gram")
    )
    dup_grams = (
        g.select("docid", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup = g.join(dup_grams, "gram").select("docid", "p")
    w = Window.partitionBy("docid").orderBy("p")
    isl = (
        dup.withColumn("prev", F.lag("p").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("p") > F.col("prev") + n),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "isl",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy("docid", "isl")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("docid", "span_start", "span_end", "n_windows")
    )


def q_source_mix_weights(spark, sf_dir):
    """Temperature-based data-mixing weights (the multilingual/domain
    rebalancing step — XLM-R / PaLM style): per source, token share p
    and the alpha=0.7 temperature-resampled weight
    w = tok^alpha / sum(tok^alpha)  (the T^alpha denominators cancel, so
    the normalized weight needs only the per-source token totals).

    Scale shape: one map-side-combinable agg to ~n_sources rows, then a
    1-row total broadcast back — the corpus is scanned exactly once."""
    alpha = 0.7
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = (
        docs.select("source", F.size(_word_tokens()).alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    tots = agg.agg(
        F.sum("n_tokens").cast("double").alias("tot_tok"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias(
            "tot_pow"
        ),
    )
    return agg.crossJoin(F.broadcast(tots)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot_tok"), 6).alias("tok_share"),
        F.round(
            F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
            / F.col("tot_pow"),
            6,
        ).alias("mix_weight"),
    )


def q_funnel_conversion(spark, sf_dir):
    """Ordered event-funnel conversion (the product-analytics staple):
    how many users reach signup -> view -> click -> purchase IN ORDER,
    where "reach" means the stage's FIRST occurrence is at or after the
    previous stage's first occurrence.  Emits per stage the user count
    and the conversion rate from the previous stage.

    Scale shape: ONE map-side-combinable agg per user (min epoch-micros
    per stage via conditional min — no window, no self-join, no
    per-user sort), then a 4-row stage summary from a second tiny agg.
    Timestamps compare as tz-invariant epoch micros (the
    latest_event_per_user recipe), so both engines see identical
    orderings regardless of session zone."""
    stages = ["signup", "view", "click", "purchase"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_us = epoch_micros("ts")
    e = ev.select("user_id", "event_type", ts_us.alias("ts_us"))
    firsts = e.groupBy("user_id").agg(
        *[
            F.min(
                F.when(F.col("event_type") == s, F.col("ts_us"))
            ).alias(f"t_{s}")
            for s in stages
        ]
    )
    reached = firsts
    prev: list[str] = []
    for s in stages:
        cond = F.col(f"t_{s}").isNotNull()
        for p in prev:
            cond = cond & (F.col(f"t_{s}") >= F.col(f"t_{p}"))
        reached = reached.withColumn(f"r_{s}", cond)
        prev.append(s)
    counts = reached.agg(
        *[
            F.sum(F.col(f"r_{s}").cast("long")).alias(f"n_{s}")
            for s in stages
        ]
    )
    rows = None
    for i, s in enumerate(stages):
        prev_n = (
            F.lit(None).cast("long") if i == 0 else F.col(f"n_{stages[i-1]}")
        )
        one = counts.select(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(s).alias("stage"),
            F.col(f"n_{s}").alias("n_users"),
            F.when(
                prev_n.isNotNull() & (prev_n > 0),
                F.round(F.col(f"n_{s}") / prev_n, 6),
            ).alias("conv_from_prev"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


def q_quality_filter_verdict(spark, sf_dir):
    """The composed curation GATE (C4/Gopher-style): per document a
    keep/drop verdict plus the first failing reason, from signals the
    pipeline already computes — token count bounds, mean token length
    bounds, and the duplicate-3-gram repetition ratio.  Production
    pipelines materialize exactly this verdict column before writing
    the filtered corpus; the individual signals are separately
    oracle-checked (token_quality, doc_repetition_ratio), and this
    query pins their COMPOSITION.

    Scale shape: one codegen projection per doc (the tokenizer
    evaluates once behind an alias), no joins, no shuffles beyond the
    scan itself."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(F.col("doc_id").alias("docid"), _word_tokens().alias("t"))
    g = t.select(
        "docid",
        F.size("t").alias("n_tokens"),
        (
            F.aggregate(
                F.transform(F.col("t"), lambda x: F.length(x)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
            / F.greatest(F.size("t"), F.lit(1))
        ).alias("mean_len"),
        _word_ngrams(F.col("t"), 3).alias("g3"),
    )
    g = g.withColumn(
        "rep3",
        F.when(
            F.size("g3") > 0,
            (F.size("g3") - F.size(F.array_distinct("g3")))
            / F.size("g3"),
        ).otherwise(F.lit(0.0)),
    )
    reason = (
        F.when(F.col("n_tokens") < 20, F.lit("too_short"))
        .when(F.col("n_tokens") > 1000, F.lit("too_long"))
        .when(F.col("mean_len") < 2.0, F.lit("tokens_too_short"))
        .when(F.col("mean_len") > 12.0, F.lit("tokens_too_long"))
        .when(F.col("rep3") > 0.5, F.lit("repetitive"))
    )
    return g.select(
        "docid",
        "n_tokens",
        F.round("mean_len", 6).alias("mean_len"),
        F.round("rep3", 6).alias("rep3"),
        reason.isNull().alias("keep"),
        F.coalesce(reason, F.lit("ok")).alias("reason"),
    )


def q_bm25_phrase(spark, sf_dir):
    """Exact-adjacency phrase BM25 (E7), f64 oracle-comparable shape:
    weight = (idf(a)+idf(b)) * 2.2, score = weight * pf/(pf + norm)."""
    idx = documents_index(spark, sf_dir)
    n_docs, total_tokens = idx.stats()
    avgdl = total_tokens / n_docs
    a, b = "key", "order"
    pos = positions_as_array(idx.positions.filter(F.col("term").isin([a, b])))
    pa = pos.filter(F.col("term") == a).select(
        "docid", F.explode("positions").alias("p")
    )
    pb = pos.filter(F.col("term") == b).select(
        F.col("docid").alias("docid_b"), F.explode("positions").alias("p2")
    )
    pf = (
        pa.join(
            pb,
            (pa["docid"] == pb["docid_b"]) & (pb["p2"] == pa["p"] + 1),
        )
        .groupBy("docid")
        .agg(F.count(F.lit(1)).cast("double").alias("pf"))
    )
    stats = {t: float(df) for t, df in idx.df_of_terms([a, b]).items()}
    import math

    idf_sum = sum(
        math.log(1.0 + (n_docs - stats.get(t, 0.0) + 0.5) / (stats.get(t, 0.0) + 0.5))
        for t in (a, b)
    )
    dl = idx.docmeta.select("docid", F.col("doclen").cast("double").alias("doclen"))
    scored = pf.join(dl, "docid").select(
        "docid",
        (
            F.lit(idf_sum * 2.2)
            * F.col("pf")
            / (F.col("pf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("doclen") / F.lit(avgdl)))
        ).alias("score"),
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("docid"))
        .limit(10)
        .select("docid", F.round("score", 6).alias("score_r"))
    )


def q_glob_term_stats(spark, sf_dir):
    """Term-dictionary glob expansion (Q5): terms matching 'th*'."""
    idx = documents_index(spark, sf_dir)
    return (
        idx.termstats.filter(F.col("term").like("th%"))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy("term")
    )


def q_simhash16(spark, sf_dir):
    """16-bit SimHash near-dup fingerprint: bit i = sign of the tf-weighted
    sum over terms of (high bit of md5 hex nibble i)."""
    idx = documents_index(spark, sf_dir)
    p = idx.postings.select(
        "docid", "term", F.col("tf").cast("long").alias("tf"),
        F.md5("term").alias("h"),
    )
    bit_cols = []
    for i in range(16):
        nib = F.substring("h", i + 1, 1)
        signed = F.when(
            nib.isin("8", "9", "a", "b", "c", "d", "e", "f"), F.col("tf")
        ).otherwise(-F.col("tf"))
        bit_cols.append(
            F.when(F.sum(signed) > 0, F.lit(1 << i)).otherwise(F.lit(0)).alias(f"b{i}")
        )
    agg = p.groupBy("docid").agg(*bit_cols)
    total = agg.columns[1:]
    expr = F.col(total[0])
    for c in total[1:]:
        expr = expr + F.col(c)
    return agg.select("docid", expr.cast("long").alias("simhash16"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Token 3-shingle Jaccard similarity over the docid<30 pair grid
    (n-gram near-dup measure; bounded pair set keeps it oracle-sized)."""
    # SCALE NOTE: this all-pairs shingle self-join is an ORACLE-SIZED
    # measure by construction (docid < 30).  Production-scale near-dup
    # must route through the LSH band-bucket path (q_lsh_band_buckets):
    # bucketed candidate groups, never all-pairs.
    idx = documents_index(spark, sf_dir)
    pos = positions_as_array(idx.positions.filter(F.col("docid") < 30)).select(
        "docid", F.col("term"), F.explode("positions").alias("pos")
    )
    a, b, c = pos.alias("a"), pos.alias("b"), pos.alias("c")
    sh = (
        a.join(b, (F.col("a.docid") == F.col("b.docid")) & (F.col("b.pos") == F.col("a.pos") + 1))
        .join(c, (F.col("a.docid") == F.col("c.docid")) & (F.col("c.pos") == F.col("a.pos") + 2))
        .select(
            F.col("a.docid").alias("docid"),
            F.concat_ws(" ", "a.term", "b.term", "c.term").alias("shingle"),
        )
        .distinct()
    )
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(y, (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.docid") < F.col("y.docid")))
        .groupBy(F.col("x.docid").alias("d1"), F.col("y.docid").alias("d2"))
        .agg(F.count(F.lit(1)).cast("double").alias("inter"))
    )
    sizes = sh.groupBy("docid").agg(F.count(F.lit(1)).cast("double").alias("n"))
    s1 = sizes.select(F.col("docid").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("docid").alias("d2"), F.col("n").alias("n2"))
    out = (
        inter.join(s1, "d1").join(s2, "d2")
        .select(
            "d1", "d2",
            F.round(F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6).alias("jaccard_r"),
        )
        .filter(F.col("jaccard_r") > 0)
    )
    return out


def q_lsh_band_buckets(spark, sf_dir):
    """MinHash LSH banding: 8 md5-minhashes -> 4 bands of 2 -> band-bucket
    candidate groups with >1 member (the shingle->minhash->band->bucket
    join of the dedup pipeline)."""
    idx = documents_index(spark, sf_dir)
    sig = _minhash_signatures(
        spark, idx.postings.select("docid", "term"), 8
    )
    banded = sig.withColumn("band", (F.col("seed") / 2).cast("int"))
    bucket = (
        banded.groupBy("docid", "band")
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list("minhash")))).alias("bucket"))
    )
    groups = (
        bucket.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"), F.min("docid").alias("rep"))
        .filter(F.col("n_docs") > 1)
    )
    return groups


def q_lsh_bucket_skew(spark, sf_dir):
    """LSH band-bucket size distribution — the pre-flight SKEW
    diagnostic every 100-TB near-dup run needs before paying for the
    bucket self-join: candidate-pair cost is Σ s·(s−1)/2 over bucket
    sizes, so one boilerplate bucket with 10^6 members costs more than
    the rest of the corpus combined.  Reports, per bucket size, how
    many (band, bucket) groups have that size and the candidate pairs
    they induce — the histogram that decides whether the verify join
    needs a bucket-size cap / salting before it launches.

    Scale shape: the same signature pipeline as ``lsh_band_buckets``
    (shared recipe, 8 md5-minhashes → 4 bands) followed by two
    partially-aggregated hash aggs; the histogram output is at most a
    few hundred rows at any corpus size."""
    idx = documents_index(spark, sf_dir)
    sig = _minhash_signatures(
        spark, idx.postings.select("docid", "term"), 8
    )
    banded = sig.withColumn("band", (F.col("seed") / 2).cast("int"))
    bucket = banded.groupBy("docid", "band").agg(
        F.md5(
            F.concat_ws("|", F.sort_array(F.collect_list("minhash")))
        ).alias("bucket")
    )
    sizes = bucket.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return bucket_size_histogram(sizes)


def bucket_size_histogram(sizes):
    """(bucket_size, n_buckets, n_candidate_pairs) over (band, bucket,
    bucket_size) rows.  The pair count is integer ``s * (s - 1) DIV 2``
    (the DuckDB twin's ``//``): a floating-point halving rounds counts
    above 2^53."""
    return sizes.groupBy("bucket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.expr("bucket_size * (bucket_size - 1) DIV 2"))
        .cast("long")
        .alias("n_candidate_pairs"),
    )


def q_token_count_bpe(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (ceil(len/4) pieces per token)."""
    idx = documents_index(spark, sf_dir)
    return idx.postings.groupBy("docid").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.ceil(F.length("term") / F.lit(4.0)).cast("long") * F.col("tf"))
        .cast("long")
        .alias("n_bpe_pieces"),
    )


def q_lang_marker_ratio(spark, sf_dir):
    """Language-ID heuristic: per doc, ratio of language-marker tokens
    (code keywords as markers) — the n-gram language-scoring shape."""
    idx = documents_index(spark, sf_dir)
    markers = ["fn", "import", "def", "class", "func", "void"]
    p = idx.postings
    return p.groupBy("docid").agg(
        F.round(
            F.sum(
                F.when(F.col("term").isin(markers), F.col("tf")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("tf").cast("double"),
            6,
        ).alias("marker_ratio_r")
    )


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (the scale path next to brute-force cosine):
    8 deterministic sin-hyperplanes -> sign-bit bucket; probe the query's
    bucket, exact cosine inside it."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def bucket_expr():
        # hyperplane components are round(sin(i*j), 6): deterministic and
        # cross-engine stable (raw libm sin may differ in the last ulp)
        total = F.lit(0)
        for j in range(8):
            dot = F.aggregate(
                F.zip_with(
                    "embedding",
                    F.transform(
                        F.sequence(F.lit(1), F.size("embedding")),
                        lambda i: F.round(
                            F.sin(i.cast("double") * F.lit(float(j + 1))), 6
                        ),
                    ),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            total = total + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        return total

    withb = emb.withColumn("bucket", bucket_expr())
    qrow = withb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qb")
    )
    cand = withb.crossJoin(F.broadcast(qrow)).filter(
        (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != 0)
    )
    sim = _cosine("embedding", "qv")
    return (
        cand.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("sim", 6).alias("sim_r"))
    )


# ---------------------------------------------------------------------------
# multi-probe LSH ANN (round-2 upgrade of ann_lsh_topk): 8 tables x 8
# sign-bits = a 64-bit signature, probing every bucket within Hamming
# radius 2 of the query's bucket per table, exact cosine re-rank on the
# candidate union.  The driver's synthetic embeddings are near-random
# (top-10 cosine ~0.37), so wide probing is information-theoretically
# required for recall here; on clustered real embeddings the same
# plumbing runs with B=16/radius 1 and scans ~1e-4 of the corpus.  At
# 100 TB: plane matrix broadcast, signatures one linear pass, candidates
# a bucket-join — never all-pairs.
ANN_TABLES = 8
ANN_BITS = 8
ANN_PROBE_RADIUS = 2


def _plane_components(p: int):
    """round(sin(i*p),6) hyperplane components, 1-based i (a one-arg
    lambda: pyspark would feed (element, index) to a two-arg one)."""
    return F.transform(
        F.sequence(F.lit(1), F.size("embedding")),
        lambda i: F.round(F.sin(i.cast("double") * F.lit(float(p))), 6),
    )


def _lsh_bucket_cols(emb):
    """Append per-table sign-bucket columns b0..b{T-1} (deterministic
    round(sin(i*p),6) hyperplanes, cross-engine stable)."""
    out = emb
    for t in range(ANN_TABLES):
        total = F.lit(0)
        for j in range(ANN_BITS):
            p = t * ANN_BITS + j + 1
            dot = F.aggregate(
                F.zip_with(
                    "embedding",
                    _plane_components(p),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            total = total + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        out = out.withColumn(f"b{t}", total.cast("long"))
    return out


def _cosine(col_a: str, col_b: str):
    dot = F.aggregate(
        F.zip_with(col_a, col_b, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sq = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return dot / (F.sqrt(sq(col_a)) * F.sqrt(sq(col_b)))


def q_ann_multiprobe_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wb = _lsh_bucket_cols(emb)
    qrow = wb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        *[F.col(f"b{t}").alias(f"qb{t}") for t in range(ANN_TABLES)],
    )
    probe = None
    for t in range(ANN_TABLES):
        c = (
            F.bit_count(F.col(f"b{t}").bitwiseXOR(F.col(f"qb{t}")))
            <= ANN_PROBE_RADIUS
        )
        probe = c if probe is None else probe | c
    cand = (
        wb.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != 0)
        .filter(probe)
    )
    return (
        cand.select("vec_id", _cosine("embedding", "qv").alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("sim", 6).alias("sim_r"))
    )


def q_ann_multiprobe_recall(spark, sf_dir):
    """recall@10 of the multi-probe ANN vs exact brute force — ONE row;
    the oracle recomputes both sides in DuckDB, so the value is pinned
    cross-engine (and documents that the index achieves recall >= 0.9)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    bf = (
        emb.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", _cosine("embedding", "qv").alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    ann = q_ann_multiprobe_topk(spark, sf_dir).select("vec_id")
    inter = ann.join(bf, "vec_id").count()
    return spark.createDataFrame(
        [(round(inter / 10.0, 6),)], "recall_r double"
    )


NEAR_DUP_COS = 0.4  # synthetic near-random embeddings: ~60 pairs at sf0.01

# IVF ANN: deterministic sample-as-centroid coarse quantizer (vec_ids
# 1..IVF_CENTROIDS are the centroids — the random-sample init of k-means,
# iteration-free so the DuckDB twin is exact), nprobe nearest lists probed
IVF_CENTROIDS = 16
IVF_NPROBE = 4


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN, the second scale path next to multi-probe LSH:
    assign every vector to its nearest centroid (broadcast centroid set,
    ONE linear pass — at 100 TB this is the classic IVF build), probe the
    query's nprobe nearest lists, exact cosine re-rank inside them.

    Measured recall@10 vs brute force: 0.5-0.6 at nprobe=4/16 on the
    driver's near-random embeddings (probing 1/4 of the lists); the
    multi-probe LSH variant (`ann_multiprobe_topk`) is the measured
    high-recall configuration (1.0 at sf0.01).  On clustered real
    embeddings IVF recall rises steeply with cluster quality."""
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = emb.filter(
        F.col("vec_id").between(1, IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    pairs = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "embedding", "cid",
        _cosine("embedding", "cvec").alias("cc"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cc"), F.asc("cid"))
    assigned = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cid")
    )
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    probes = (
        cent.crossJoin(F.broadcast(qrow))
        .select("cid", _cosine("cvec", "qv").alias("qc"))
        .orderBy(F.desc("qc"), F.asc("cid"))
        .limit(IVF_NPROBE)
        .select("cid")
    )
    cands = assigned.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != 0
    )
    return (
        cands.crossJoin(F.broadcast(qrow))
        .select("vec_id", _cosine("embedding", "qv").alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("sim", 6).alias("sim_r"))
    )


def q_ann_ivf_recall(spark, sf_dir):
    """recall@10 of the IVF path vs exact brute force — ONE row, same
    harness as ann_multiprobe_recall: both ANN scale paths ship with a
    measured recall number, not a claimed one."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    bf = (
        emb.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", _cosine("embedding", "qv").alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    ann = q_ann_ivf_topk(spark, sf_dir).select("vec_id")
    inter = ann.join(bf, "vec_id").count()
    return spark.createDataFrame(
        [(round(inter / 10.0, 6),)], "recall_r double"
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, the SCALE shape: candidates
    come from an equi-join on (table, sign-bucket) over the 8 LSH tables
    — never all-pairs — then exact cosine verifies.  8-bit buckets recall
    only part of the near-dup mass (the honest LSH tradeoff; more tables
    = more recall, same plan); the DuckDB twin computes the identical
    candidate set, so parity is value-exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wb = _lsh_bucket_cols(emb)
    buckets = wb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"b{t}").alias("b")
                    )
                    for t in range(ANN_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    x = buckets.select(
        F.col("vec_id").alias("v1"), F.col("t").alias("t1"),
        F.col("b").alias("b1"),
    )
    y = buckets.select(
        F.col("vec_id").alias("v2"), F.col("t").alias("t2"),
        F.col("b").alias("b2"),
    )
    pairs = (
        x.join(
            y,
            (F.col("t1") == F.col("t2"))
            & (F.col("b1") == F.col("b2"))
            & (F.col("v1") < F.col("v2")),
        )
        .select("v1", "v2")
        .distinct()
    )
    e1 = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1"))
    e2 = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2"))
    return (
        pairs.join(e1, "v1")
        .join(e2, "v2")
        .select(
            "v1", "v2", F.round(_cosine("emb1", "emb2"), 6).alias("cos_r")
        )
        .filter(F.col("cos_r") >= NEAR_DUP_COS)
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal slice through the REAL plumbing (binary payload column
    -> Arrow-batched mapInPandas feature kernel): sha256 witness, byte
    count, and the decoder-independent shape metadata.  The pixel decode
    itself stays a declared stub (operators/multimodal.py)."""
    from frankensearch_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = media_from_documents(docs, kind="image")
    return extract_features(media).select(
        "media_id", "n_bytes", "sha256", "width", "height", "n_frames"
    )


def q_multimodal_resize(spark, sf_dir):
    """Resize planning through the multimodal plumbing: target dims
    preserving aspect ratio at max_side=32 (metadata-only — the pixel op
    lives behind the decode stub).  Completes the driver-checked
    multimodal family: features, frame fan-out, resize planning."""
    from frankensearch_spark.operators.multimodal import (
        media_from_documents,
        resize_metadata,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = media_from_documents(docs, kind="image")
    return resize_metadata(media, max_side=32)


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: exactly 5 docs per language,
    chosen by md5-hash order (reservoir-style exact-N-per-group, the
    reproducible train/eval-split shape).

    One shuffle on the group key + a per-group window rank — at 100 TB
    this is the standard deterministic sampler: no rand() (which would
    re-evaluate per stage, see the docid-lease pitfall), no driver-side
    state, byte-identical across engines and re-runs."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.md5(F.concat_ws("#", F.lit("sample"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("h"), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 5)
        .select("lang", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank"))
    )


def q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling fan-out through the multimodal plumbing:
    every-4th-frame index per "video" payload (one output row per sampled
    frame; at scale this is the decode-work manifest that schedules the
    expensive per-frame kernel).  The frame count comes from the declared
    decode stub, so the oracle recomputes it from the sha256 digest."""
    from frankensearch_spark.operators.multimodal import (
        frame_sample,
        media_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = media_from_documents(docs, kind="video")
    return frame_sample(media, every_n=4)


# ---------------------------------------------------------------------------
# event-stream analytics (the telemetry side of a training-data pipeline:
# ingest logs arrive as an append-only event table; these are the batch
# twins of the Structured Streaming shapes — tumbling-window aggregation,
# gap sessionization, semi-structured props extraction).  The ``ts``
# column reads as TIMESTAMP_NTZ; the ONLY session-timezone-invariant
# epoch primitive over NTZ is ``unix_timestamp`` (probed: date_trunc and
# to_utc_timestamp both coerce through the session zone first), so every
# time key below is integer epoch-seconds arithmetic — the cross-engine
# value hash cannot depend on the driver's timezone.


def q_events_windowed(spark, sf_dir):
    """Tumbling 1-hour window per event_type: count + value stats.

    The batch twin of ``readStream.groupBy(window("ts", "1 hour"),
    "event_type")`` — at scale the same expression shape runs under a
    watermark with partial (map-side) aggregation; the window key is
    emitted as an epoch-seconds long (UTC-hour floor), not a struct, so
    the result is engine-portable."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn(
            "hour_epoch",
            (F.floor(F.unix_timestamp(F.col("ts")) / 3600) * 3600).cast("long"),
        )
        .groupBy("hour_epoch", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value_r"),
            F.round(F.avg("value"), 6).alias("avg_value_r"),
        )
        .orderBy("hour_epoch", "event_type")
    )


SESSION_GAP_S = 30 * 60  # 30-minute inactivity gap


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization: per user, events more than 30 minutes
    apart start a new session; emit per-user session stats.

    Two narrow windows partitioned BY USER (the natural shuffle key — at
    scale this is one hash exchange on user_id, skew-safe because a
    single user's history fits a task) then a plain aggregate.  The
    streaming twin is ``applyInPandasWithState`` with a session timeout;
    batch semantics shown here are the reference oracle for it."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", F.unix_timestamp(F.col("ts")).alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    sess = (
        ev.withColumn("prev_s", F.lag("ts_s").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_s").isNull()
                | (F.col("ts_s") - F.col("prev_s") > SESSION_GAP_S)
            ).cast("int"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("ts_s") - F.min("ts_s")).cast("long").alias("dur_s"),
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.max("sess_id").cast("long").alias("n_sessions"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("max_session_events"),
            F.max("dur_s").alias("max_session_secs"),
        )
        .orderBy("user_id")
    )


def q_events_props_extract(spark, sf_dir):
    """Semi-structured props column: extract the integer ``k`` field
    (regexp, no JSON-extension dependency on the oracle side), bucket it
    mod 10, aggregate per (event_type, bucket).  The training-pipeline
    shape for tagging/filtering raw logs by payload attributes."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn(
            "k",
            # try_cast + NULLIF: a props payload without a numeric "k"
            # must bucket under NULL on BOTH engines (a plain cast of
            # regexp_extract's '' miss value errors under ANSI mode)
            F.nullif(
                F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1),
                F.lit(""),
            ).try_cast("long"),
        )
        .withColumn("k_bucket", F.col("k") % 10)
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value_r"),
        )
        .orderBy("event_type", "k_bucket")
    )


def q_events_asof_join(spark, sf_dir):
    """As-of join: each purchase event attributed to the same user's most
    recent prior (or simultaneous) view event.

    Spark lacks a native ASOF JOIN; the scalable formulation is a single
    shuffle on the join key: union both sides, one window pass per user
    ordered by time carrying ``last(view, ignoreNulls)`` forward.  That
    is O(n log n) per user partition with no range self-join blowup —
    the shape that survives 100 TB of events.  The DuckDB oracle uses its
    native ``ASOF JOIN``, so two independent formulations must agree."""
    from pyspark.sql import Window

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            # tz-invariant epoch micros over TIMESTAMP_NTZ: unix_timestamp
            # is the tz-invariant seconds primitive (see events_windowed),
            # and date_part(SECOND) carries the fractional micros — unlike
            # cast-to-TIMESTAMP, which shifts with the session zone
            # (the shared streaming/_shim.epoch_micros ordering law)
            epoch_micros("ts").alias("ts_us"),
        )
    )
    # STRICT as-of (view.ts < purchase.ts), pinned on both sides: at an
    # equal timestamp the two formulations would otherwise disagree (the
    # window includes a same-ts view only when its event_id is lower,
    # DuckDB's >= ASOF always matches it).  Ordering views AFTER
    # purchases at equal ts excludes same-ts views from the carry-
    # forward, matching the oracle's `p.ts > v.ts`.
    is_view = F.col("event_type") == "view"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", is_view.cast("int"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        # both carried columns in ONE projection over the SAME window spec
        # -> a single Window node in the physical plan (two withColumn
        # calls leave two Window passes)
        ev.select(
            "*",
            F.last(F.when(is_view, F.col("event_id")), True)
            .over(w)
            .alias("view_id"),
            F.last(F.when(is_view, F.col("ts_us")), True)
            .over(w)
            .alias("view_ts_us"),
        )
        .filter((F.col("event_type") == "purchase") & F.col("view_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "view_id",
            (F.col("ts_us") - F.col("view_ts_us")).cast("long").alias("gap_us"),
        )
        .orderBy("purchase_id")
    )
    return out


def _shingle_sets(spark, sf_dir):
    """Distinct (docid, 3-shingle) rows, built JVM-side: split -> slide.

    Unlike the positions-self-join shape in :func:`q_ngram_jaccard_pairs`
    (oracle-sized by construction), this derives shingles with
    ``transform(sequence(...))`` directly over the token array — one
    narrow projection per document, no join, fully whole-stage-codegen.
    That is the shape that survives 100 TB: shingling is embarrassingly
    parallel and the only exchanges in the near-dup pipeline are the
    small signature/bucket aggregates."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^0-9a-z]+"), lambda x: x != F.lit("")
    )
    shingles = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.col("doc_id").alias("docid"), F.explode(shingles).alias("shingle"))
        .distinct()
    )


_PAIRS_CACHE: dict[str, "DataFrame"] = {}
_LABELS_CACHE: dict[str, "DataFrame"] = {}


def _ckpt(df: DataFrame) -> DataFrame:
    """Lineage-truncating EAGER materialization for iterative plans.

    Default: ``localCheckpoint()`` — blocks live in executor storage,
    which is right on local[*] and needs no filesystem.  On a real
    cluster, executor loss (dynamic allocation, spot preemption)
    destroys localCheckpoint blocks mid-loop and the truncated lineage
    cannot recompute them; set ``FSX_CHECKPOINT_DIR`` to an
    HDFS/S3-visible directory and the RELIABLE ``checkpoint(eager=True)``
    is used instead (``SparkContext.setCheckpointDir`` is applied
    per-call — idempotent).  Both paths obey the same truncation law:
    the returned frame's plan is a leaf, so per-round plan growth in the
    CC loop stays O(1)."""
    ckpt_dir = os.environ.get("FSX_CHECKPOINT_DIR")
    if ckpt_dir:
        df.sparkSession.sparkContext.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def _near_dup_pairs_cached(spark, sf_dir):
    """One LSH+verify pipeline per (session, sf_dir): three driver
    queries (near_dup_pairs, dedup_clusters, dedup_keep_list) consume
    the pairs — recomputing the pipeline per query tripled the work and
    leaked a persisted shingle frame each time (the CacheManager
    plan-substitution hazard CLAUDE.md pins).  ``_ckpt`` materializes
    the result and truncates lineage; the shingle cache is released as
    soon as the pairs land."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _PAIRS_CACHE:
        sh = _shingle_sets(spark, sf_dir).persist()
        try:
            # _ckpt is EAGER: the pipeline evaluates here, while the
            # shingle frame is cached, and the persist is released
            # before returning
            _PAIRS_CACHE[key] = _ckpt(_near_dup_pairs_over(spark, sh, 0.8))
        finally:
            sh.unpersist()
    return _PAIRS_CACHE[key]


def _near_dup_pairs_df(spark, sf_dir, threshold: float = 0.8):
    """Shingle-MinHash LSH near-dup pairs, verified: the full scale shape.

    shingle -> 12 md5-minhashes -> 4 bands x 3 -> band-bucket candidate
    pairs -> exact shingle-Jaccard ONLY on candidates -> ``j >= threshold``.
    Work is linear in corpus size plus candidate volume (never all-pairs);
    at 100 TB the bucket self-join is the standard dedup candidate
    generator and the verify join touches only LSH survivors."""
    # uncached variant (parameterizable threshold): no persist — the
    # shingle frame recomputes per consumer subtree, which is correct
    # and leak-free; the driver queries go through the cached wrapper
    sh = _shingle_sets(spark, sf_dir)
    return _near_dup_pairs_over(spark, sh, threshold)


def _lsh_candidate_pairs(spark, sh):
    """(d1, d2) LSH candidate pairs over a (docid, shingle) frame — the
    ONE banding recipe (12 md5-minhashes, 4 bands of 3) shared by the
    verified pipeline and the recall measurement; its constants are
    contract values mirrored in the oracle SQL."""
    seeds = spark.range(12).select(F.col("id").cast("int").alias("seed"))
    sig = (
        sh.crossJoin(F.broadcast(seeds))
        .groupBy("docid", "seed")
        .agg(
            F.min(
                F.md5(F.concat_ws("#", F.col("shingle"), F.col("seed").cast("string")))
            ).alias("minhash")
        )
    )
    bucket = (
        sig.withColumn("band", (F.col("seed") / 3).cast("int"))
        .groupBy("docid", "band")
        .agg(
            F.md5(F.concat_ws("|", F.sort_array(F.collect_list("minhash")))).alias(
                "bucket"
            )
        )
    )
    a, b = bucket.alias("a"), bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.docid") < F.col("b.docid")),
        )
        .select(F.col("a.docid").alias("d1"), F.col("b.docid").alias("d2"))
        .distinct()
    )


def _near_dup_pairs_over(spark, sh, threshold: float):
    cand = _lsh_candidate_pairs(spark, sh)
    sizes = sh.groupBy("docid").agg(F.count(F.lit(1)).cast("double").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        cand.join(x, F.col("x.docid") == F.col("d1"))
        .join(
            y,
            (F.col("y.docid") == F.col("d2"))
            & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("double").alias("i"))
    )
    s1 = sizes.select(F.col("docid").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("docid").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .filter(jac >= F.lit(threshold))
        .select("d1", "d2", F.round(jac, 6).alias("jaccard_r"))
    )


def q_near_dup_pairs(spark, sf_dir):
    """Verified near-duplicate pairs (shingle-LSH candidates + exact
    Jaccard >= 0.8) — the production dedup pipeline end-to-end."""
    return _near_dup_pairs_cached(spark, sf_dir)


def q_near_dup_recall(spark, sf_dir):
    """Measured RECALL of the shingle-LSH candidate generator — the
    dedup pipeline's quality number, playing the role
    ``ann_ivf_recall`` plays for ANN: of the TRUE near-dup pairs
    (exact 3-shingle Jaccard >= 0.5), what fraction does the banding
    surface as candidates?  With 12 minhashes in 4 bands of 3,
    P(candidate) = 1 − (1 − j³)⁴ ≈ 0.42 at j = 0.5 but ≥ 0.9999 at
    j ≥ 0.9 (where this corpus' true pairs live) — the query exists so
    a banding change that silently drops recall shows up as a NUMBER.

    Ground truth: pairs sharing ≥1 shingle via an inverted-shingle
    join (an exhaustive superset of every pair with jaccard > 0).
    SCALE NOTE: recall measurement is an offline evaluation on a
    sample BY CONSTRUCTION — the ground truth is exactly the
    computation LSH exists to avoid; run it on a bounded slice at
    scale.  The production path is ``near_dup_pairs``."""
    sh = _shingle_sets(spark, sf_dir)
    sizes = sh.groupBy("docid").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.docid") < F.col("y.docid")),
        )
        .groupBy(
            F.col("x.docid").alias("d1"), F.col("y.docid").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("i"))
    )
    s1 = sizes.select(F.col("docid").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("docid").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    truth = (
        inter.join(s1, "d1").join(s2, "d2")
        .filter(jac >= 0.5)
        .select("d1", "d2")
    )
    cand = _lsh_candidate_pairs(spark, sh).withColumn("hit", F.lit(1))
    return (
        truth.join(cand, ["d1", "d2"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_caught"),
        )
        .select(
            "n_true",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_true"), 6).alias(
                "recall_r"
            ),
        )
    )


def _dedup_labels_df(spark, sf_dir):
    """(docid, label) connected-component labels over verified near-dup
    pairs via iterative min-label propagation.

    The standard distributed CC loop: each round every node takes the
    min label over itself and its neighbors; rounds are O(graph
    diameter) Spark jobs of join+groupBy, which is the scalable shape
    (GraphFrames/Pregel does exactly this) — no driver-side graph.
    Shared by ``dedup_clusters`` (cluster summaries) and
    ``dedup_keep_list`` (canonical-doc retention policy) — ONE
    propagation per (session, sf_dir) via the labels cache."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    hit = _LABELS_CACHE.get(key)
    if hit is not None:
        return hit
    pairs = _near_dup_pairs_cached(spark, sf_dir).select("d1", "d2")
    # _ckpt (not persist): each propagation round's plan embeds the
    # previous round's, so without truncating lineage the logical plan
    # DOUBLES per round and the planner OOMs past ~5 rounds (caught by
    # the chain-corpus test).  On a cluster set FSX_CHECKPOINT_DIR for
    # the reliable checkpoint; the truncation law is the same.
    edges = _ckpt(
        pairs.union(pairs.select(F.col("d2"), F.col("d1"))).toDF("u", "v")
    )
    labels = _ckpt(
        edges.select(F.col("u").alias("docid"))
        .distinct()
        .withColumn("label", F.col("docid"))
    )
    # min-label propagation to fixpoint.  The loop count is the graph
    # diameter (tiny for dedup graphs; capped defensively), and the
    # convergence probe is a single count() per round.
    for _ in range(20):
        prop = (
            edges.join(labels, edges["u"] == labels["docid"])
            .select(F.col("v").alias("docid"), F.col("label"))
        )
        new_labels = _ckpt(
            labels.select("docid", "label")
            .union(prop)
            .groupBy("docid")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.docid") == F.col("o.docid"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent use of an unconverged fixpoint would emit WRONG cluster
        # labels (a >cap-diameter chain splits one component in two)
        raise RuntimeError(
            "connected-component propagation did not converge within "
            "the round cap; raise the cap for graphs of this diameter"
        )
    _LABELS_CACHE[key] = labels
    return labels


def q_dedup_clusters(spark, sf_dir):
    """Connected components over verified near-dup pairs, summarized per
    cluster; the DuckDB oracle computes the same min-reachable-docid
    labels with a recursive CTE."""
    labels = _dedup_labels_df(spark, sf_dir)
    out = (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("docid").alias("min_docid"),
            F.max("docid").alias("max_docid"),
        )
        .select(
            F.col("label").alias("cluster_id"), "n_docs", "min_docid", "max_docid"
        )
        .orderBy("cluster_id")
    )
    return out


def q_dedup_keep_list(spark, sf_dir):
    """Canonical-document retention policy over the dedup clusters: per
    connected component keep the doc with the most characters (ties ->
    lowest docid) and count what gets dropped — the decision step a
    training-data pipeline runs after near-dup clustering.

    One window over the cluster membership (partitioned by cluster
    label, never global) + one aggregate; linear in the number of
    clustered docs, so it rides the same 100-TB shape as the LSH
    pipeline that feeds it."""
    labels = _dedup_labels_df(spark, sf_dir)
    doc = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("docid"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    member = labels.join(doc, "docid")
    w = Window.partitionBy("label").orderBy(F.desc("n_chars"), F.asc("docid"))
    ranked = member.withColumn("rn", F.row_number().over(w))
    keep = ranked.filter(F.col("rn") == 1).select(
        F.col("label").alias("cluster_id"),
        F.col("docid").alias("keep_docid"),
        F.col("n_chars").alias("keep_chars"),
    )
    drops = (
        ranked.filter(F.col("rn") > 1)
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
        .withColumnRenamed("label", "cluster_id")
    )
    # every cluster has >= 2 members (labels exist only for docs with at
    # least one verified near-dup edge), so the inner join keeps all
    return keep.join(drops, "cluster_id").orderBy("cluster_id")


def q_doclen_percentiles(spark, sf_dir):
    """Exact per-language document-length percentiles — the length-filter
    thresholds a curation pipeline derives before cutting a training
    set.  ``percentile`` here is the EXACT continuous-interpolation
    aggregate (matches DuckDB ``quantile_cont``); at 100 TB swap in
    ``approx_percentile`` (t-digest, one pass, no per-group sort) —
    same query shape, bounded error."""
    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25_r"),
            F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("p50_r"),
            F.round(F.expr("percentile(n_chars, 0.90)"), 6).alias("p90_r"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99_r"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang")
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Per-language distinctive terms: rank by (languages-containing-the-
    term ASC, in-language count DESC, term ASC) — integer-only ordering,
    deterministic across engines — and report the cross-language tf-idf
    (count × ln(n_langs / langs_with)) as a value column.  Top 5 per
    language.

    Scale shape: one groupBy(lang, term) aggregate over the postings
    (map-side combinable), one groupBy(term) for language df, a window
    partitioned by lang (never global).  The postings join to lang rides
    the already-built index — no re-tokenize."""
    idx = documents_index(spark, sf_dir)
    lang = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("docid"), "lang"
    )
    cnt = (
        idx.postings.select("term", "docid", "tf")
        .join(lang, "docid")
        .groupBy("lang", "term")
        .agg(F.sum("tf").cast("long").alias("cnt"))
    )
    lw = cnt.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("langs_with")
    )
    nl = cnt.select("lang").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n_langs")
    )
    scored = (
        cnt.join(lw, "term")
        .crossJoin(F.broadcast(nl))
        .withColumn(
            "tfidf_r",
            F.round(
                F.col("cnt").cast("double")
                * F.log(F.col("n_langs") / F.col("langs_with").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("langs_with"), F.desc("cnt"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "cnt", "langs_with", "tfidf_r", F.col("rn").cast("long").alias("rn"))
        .orderBy("lang", "rn")
    )


QUERIES = {
    "tokenize_explode": q_tokenize_explode,
    "term_tf": q_term_tf,
    "term_df": q_term_df,
    "doclen": q_doclen,
    "corpus_stats": q_corpus_stats,
    "bm25_topk_single": q_bm25_topk_single,
    "bm25_topk_multi": q_bm25_topk_multi,
    "bm25_multifield": q_bm25_multifield,
    "dedup_exact": q_dedup_exact,
    "doc_fingerprint": q_doc_fingerprint,
    "token_quality": q_token_quality,
    "minhash_signature": q_minhash_signature,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_norms": q_embedding_norms,
    "content_witness": q_content_witness,
    "bm25_phrase": q_bm25_phrase,
    "glob_term_stats": q_glob_term_stats,
    "simhash16": q_simhash16,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "lsh_band_buckets": q_lsh_band_buckets,
    "token_count_bpe": q_token_count_bpe,
    "lang_marker_ratio": q_lang_marker_ratio,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_multiprobe_topk": q_ann_multiprobe_topk,
    "ann_multiprobe_recall": q_ann_multiprobe_recall,
    "embedding_near_dup": q_embedding_near_dup,
    "ann_ivf_topk": q_ann_ivf_topk,
    "multimodal_features": q_multimodal_features,
    "events_windowed": q_events_windowed,
    "events_sessionize": q_events_sessionize,
    "events_props_extract": q_events_props_extract,
    "near_dup_pairs": q_near_dup_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_list": q_dedup_keep_list,
    "doclen_percentiles": q_doclen_percentiles,
    "tfidf_top_terms": q_tfidf_top_terms,
    "doc_repetition_ratio": q_doc_repetition_ratio,
    "embedding_int8_quantize": q_embedding_int8_quantize,
    "decontaminate": q_decontaminate,
    "ppl_unigram": q_ppl_unigram,
    "boilerplate_ngrams": q_boilerplate_ngrams,
    "latest_event_per_user": q_latest_event_per_user,
    "events_asof_join": q_events_asof_join,
    "multimodal_frames": q_multimodal_frames,
    "stratified_sample": q_stratified_sample,
    "ann_ivf_recall": q_ann_ivf_recall,
    "multimodal_resize": q_multimodal_resize,
    "hybrid_rrf_fusion": q_hybrid_rrf,
    "hybrid_pool_minmax": q_hybrid_pool_minmax,
    "pack_offsets": q_pack_offsets,
    "funnel_conversion": q_funnel_conversion,
    "quality_filter_verdict": q_quality_filter_verdict,
    "dup_span_marks": q_dup_span_marks,
    "source_mix_weights": q_source_mix_weights,
    "ppl_bigram": q_ppl_bigram,
    "lsh_bucket_skew": q_lsh_bucket_skew,
    "near_dup_recall": q_near_dup_recall,
}

_SQL_SIMHASH_BITS = " + ".join(
    f"CASE WHEN sum(CASE WHEN substring(h, {i + 1}, 1) IN "
    f"('8','9','a','b','c','d','e','f') THEN tf ELSE -tf END) > 0 "
    f"THEN {1 << i} ELSE 0 END"
    for i in range(16)
)

_SQL_LSH_PLANES = ", ".join(
    f"list_sum(list_transform(list_zip(embedding, "
    f"[round(sin(i * {j + 1}.0), 6) for i in range(1, len(embedding) + 1)]), "
    f"x -> x[1]::DOUBLE * x[2])) AS dot{j}"
    for j in range(8)
)

_SQL_LSH_BUCKET = " + ".join(
    f"CASE WHEN dot{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(8)
)

# multi-probe ANN SQL twins (same 64 sin-hyperplanes, 8 buckets, radius 2)
_SQL_MP_PLANES = ", ".join(
    f"list_sum(list_transform(list_zip(embedding, "
    f"[round(sin(i * {p}.0), 6) for i in range(1, len(embedding) + 1)]), "
    f"x -> x[1]::DOUBLE * x[2])) AS mdot{p}"
    for p in range(1, 65)
)

_SQL_MP_BUCKETS = ", ".join(
    "("
    + " + ".join(
        f"CASE WHEN mdot{t * 8 + j + 1} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(8)
    )
    + f")::BIGINT AS b{t}"
    for t in range(8)
)

_SQL_MP_PROBE = " OR ".join(
    f"bit_count(xor(b.b{t}, q.qb{t})) <= 2" for t in range(8)
)

_SQL_MP_COSINE = """
  list_sum(list_transform(list_zip(b.embedding, q.qv),
           x -> x[1]::DOUBLE * x[2]::DOUBLE))
  / (sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))))
"""

_SQL_MP_BASE = f"""
WITH planes AS (
  SELECT vec_id, embedding, {_SQL_MP_PLANES} FROM embeddings
),
bucketed AS (
  SELECT vec_id, embedding, {_SQL_MP_BUCKETS} FROM planes
),
q AS (
  SELECT embedding AS qv,
         {", ".join(f"b{t} AS qb{t}" for t in range(8))}
  FROM bucketed WHERE vec_id = 0
),
ann AS (
  SELECT b.vec_id, {_SQL_MP_COSINE} AS sim
  FROM bucketed b CROSS JOIN q
  WHERE b.vec_id <> 0 AND ({_SQL_MP_PROBE})
)
"""

def _sql_cos(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE-castable list columns."""
    return f"""(
      list_sum(list_transform(list_zip({a}, {b}),
               x -> x[1]::DOUBLE * x[2]::DOUBLE))
      / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))
    )"""


# sha256 digest byte k (1-based) from the hex string, as an integer
def _sql_hex_byte(k: int) -> str:
    pos = lambda i: (  # noqa: E731
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    )
    return f"(16 * {pos(2 * k - 1)} + {pos(2 * k)})"



def _bm25_multifield_sql() -> str:
    tlist = ", ".join(f"'{t}'" for t in MF_TERMS)
    return (
        _SQL_BM25_BASE
        + f"""
, tok_s AS (
  SELECT docid, unnest(l) AS term
  FROM (SELECT doc_id AS docid,
               list_filter(string_split_regex(lower(source), '[^0-9a-z]+'),
                           x -> x <> '') AS l
        FROM documents) d
),
tf_s AS (
  SELECT term, docid, count(*)::BIGINT AS tf FROM tok_s GROUP BY term, docid
),
dl_s AS (
  SELECT docid, count(*)::BIGINT AS doclen FROM tok_s GROUP BY docid
),
stats_s AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(doclen)::DOUBLE / count(*)::DOUBLE AS avgdl
  FROM dl_s
),
df_s AS (
  SELECT term, count(*)::BIGINT AS df FROM tf_s GROUP BY term
),
score_c AS (
  SELECT tf.docid,
         sum(
           ln(1.0 + ((stats.n_docs - df.df)::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
           * 2.2
           * tf.tf::DOUBLE
           / (tf.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl.doclen::DOUBLE / stats.avgdl))
         ) AS score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.docid = dl.docid
  CROSS JOIN stats
  WHERE tf.term IN ({tlist})
  GROUP BY tf.docid
),
score_s AS (
  SELECT tf_s.docid,
         sum(
           ln(1.0 + ((stats_s.n_docs - df_s.df)::DOUBLE + 0.5) / (df_s.df::DOUBLE + 0.5))
           * 2.2
           * {MF_SOURCE_BOOST}
           * tf_s.tf::DOUBLE
           / (tf_s.tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl_s.doclen::DOUBLE / stats_s.avgdl))
         ) AS score
  FROM tf_s
  JOIN df_s ON tf_s.term = df_s.term
  JOIN dl_s ON tf_s.docid = dl_s.docid
  CROSS JOIN stats_s
  WHERE tf_s.term IN ({tlist})
  GROUP BY tf_s.docid
)
SELECT COALESCE(c.docid, s.docid) AS docid,
       round(COALESCE(c.score, 0) + COALESCE(s.score, 0), 6) AS score_r
FROM score_c c FULL OUTER JOIN score_s s ON c.docid = s.docid
ORDER BY (COALESCE(c.score, 0) + COALESCE(s.score, 0)) DESC, docid ASC
LIMIT 10
"""
    )


# shingle-LSH near-dup pipeline CTE fragment (shared by near_dup_pairs /
# dedup_clusters): 3-shingles -> 12 md5-minhashes -> 4 bands x 3 ->
# band-bucket candidate pairs -> exact shingle-Jaccard >= 0.8.
# Expects a preceding `tok AS ({_SQL_TOKEN_ROWS})` CTE.
_SQL_NEAR_DUP_PAIRS = """
        sh AS (
          SELECT DISTINCT a.docid,
                 a.term || ' ' || b.term || ' ' || c.term AS shingle
          FROM tok a
          JOIN tok b ON a.docid = b.docid AND b.pos = a.pos + 1
          JOIN tok c ON a.docid = c.docid AND c.pos = a.pos + 2
        ),
        seeds AS (SELECT unnest(range(12))::INT AS seed),
        sig AS (
          SELECT docid, seed,
                 min(md5(shingle || '#' || seed::VARCHAR)) AS minhash
          FROM sh CROSS JOIN seeds GROUP BY docid, seed
        ),
        nd_bucket AS (
          SELECT docid, (seed // 3)::INT AS band,
                 md5(string_agg(minhash, '|' ORDER BY minhash)) AS bucket
          FROM sig GROUP BY docid, (seed // 3)::INT
        ),
        cand AS (
          SELECT DISTINCT a.docid AS d1, b.docid AS d2
          FROM nd_bucket a
          JOIN nd_bucket b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.docid < b.docid
        ),
        nd_sizes AS (
          SELECT docid, count(*)::DOUBLE AS n FROM sh GROUP BY docid
        ),
        nd_inter AS (
          SELECT p.d1, p.d2, count(*)::DOUBLE AS i
          FROM cand p
          JOIN sh x ON x.docid = p.d1
          JOIN sh y ON y.docid = p.d2 AND y.shingle = x.shingle
          GROUP BY p.d1, p.d2
        ),
        verified AS (
          SELECT p.d1, p.d2, i, s1.n AS s1n, s2.n AS s2n
          FROM cand p JOIN nd_inter USING (d1, d2)
          JOIN nd_sizes s1 ON p.d1 = s1.docid
          JOIN nd_sizes s2 ON p.d2 = s2.docid
          WHERE i / (s1.n + s2.n - i) >= 0.8
        )
"""

ORACLE_SQL = {
    "tokenize_explode": f"SELECT * FROM ({_SQL_TOKEN_ROWS}) t WHERE docid < 100",
    "term_tf": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS})
        SELECT term, docid, count(*)::BIGINT AS tf FROM tok GROUP BY term, docid
    """,
    "term_df": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        tf AS (SELECT term, docid, count(*)::BIGINT AS tf FROM tok GROUP BY term, docid)
        SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term
    """,
    "doclen": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS})
        SELECT d.doc_id AS docid, coalesce(t.doclen, 0)::BIGINT AS doclen
        FROM documents d LEFT JOIN
          (SELECT docid, count(*)::BIGINT AS doclen FROM tok GROUP BY docid) t
          ON d.doc_id = t.docid
    """,
    "corpus_stats": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        dl AS (SELECT docid, count(*)::BIGINT AS doclen FROM tok GROUP BY docid)
        SELECT count(*)::BIGINT AS doc_count, sum(doclen)::BIGINT AS total_tokens,
               round(sum(doclen)::DOUBLE / count(*)::DOUBLE, 6) AS avgdl_r
        FROM dl
    """,
    "bm25_topk_single": _bm25_sql(["merge"], 10),
    "bm25_topk_multi": _bm25_sql(["key", "order", "merge"], 10),
    "bm25_multifield": _bm25_multifield_sql(),
    "dedup_exact": """
        SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_docs,
               min(doc_id) AS keeper
        FROM documents GROUP BY text HAVING count(*) > 1
    """,
    "doc_fingerprint": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS})
        SELECT docid, md5(string_agg(DISTINCT term, ' ' ORDER BY term)) AS fingerprint
        FROM tok GROUP BY docid
    """,
    "token_quality": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS})
        SELECT docid,
               count(*)::BIGINT AS n_tokens,
               count(DISTINCT term)::BIGINT AS n_distinct,
               round(sum(len(term))::DOUBLE / count(*)::DOUBLE, 6) AS avg_token_len_r,
               round(sum(CASE WHEN term IN ('the','a','of','and','in','on')
                         THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
                 AS stopword_ratio_r
        FROM tok GROUP BY docid
    """,
    "minhash_signature": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        terms AS (SELECT DISTINCT docid, term FROM tok),
        seeds AS (SELECT unnest(range(8))::INT AS seed)
        SELECT docid, seed, min(md5(term || '#' || seed::VARCHAR)) AS minhash
        FROM terms CROSS JOIN seeds GROUP BY docid, seed
    """,
    "ann_cosine_topk": """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        s AS (
          SELECT e.vec_id,
                 list_sum(list_transform(list_zip(e.embedding, q.qv),
                          x -> x[1]::DOUBLE * x[2]::DOUBLE))
                 / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                    * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))))
                 AS sim
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
        )
        SELECT vec_id, round(sim, 6) AS sim_r
        FROM s ORDER BY sim DESC, vec_id ASC LIMIT 20
    """,
    "hybrid_rrf_fusion": f"""
        {_SQL_BM25_BASE}{_bm25_scored_cte(FUSION_TERMS)}
        , lexs AS (
          SELECT docid, score AS lex_score,
                 row_number() OVER (ORDER BY score DESC, docid ASC) AS lex_rank
          FROM scored QUALIFY lex_rank <= {FUSION_DEPTH}
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        sems AS (
          SELECT e.vec_id AS docid,
                 row_number() OVER (
                   ORDER BY {_sql_cos("e.embedding", "q.qv")} DESC, e.vec_id ASC
                 ) AS sem_rank
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
          QUALIFY sem_rank <= {FUSION_DEPTH}
        ),
        fused AS (
          SELECT coalesce(l.docid, s.docid) AS docid,
                 coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
                   + coalesce(1.0 / (60.0 + s.sem_rank), 0.0) AS rrf,
                 l.lex_rank, s.sem_rank, l.lex_score,
                 (l.docid IS NOT NULL AND s.docid IS NOT NULL) AS in_both
          FROM lexs l FULL OUTER JOIN sems s ON l.docid = s.docid
        )
        SELECT docid, round(rrf, 6) AS rrf_r,
               coalesce(lex_rank, -1) AS lex_rank,
               coalesce(sem_rank, -1) AS sem_rank,
               in_both::INT AS in_both
        FROM fused
        ORDER BY rrf DESC, in_both DESC,
                 coalesce(lex_score, '-infinity'::DOUBLE) DESC, docid ASC
        LIMIT 10
    """,
    "hybrid_pool_minmax": f"""
        {_SQL_BM25_BASE}{_bm25_scored_cte(FUSION_TERMS)}
        , lexs AS (
          SELECT docid, score AS lex_score,
                 row_number() OVER (ORDER BY score DESC, docid ASC) AS lex_rank
          FROM scored QUALIFY lex_rank <= {FUSION_DEPTH}
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        sems AS (
          SELECT e.vec_id AS docid,
                 {_sql_cos("e.embedding", "q.qv")} AS sem_score,
                 row_number() OVER (
                   ORDER BY {_sql_cos("e.embedding", "q.qv")} DESC, e.vec_id ASC
                 ) AS sem_rank
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
          QUALIFY sem_rank <= {FUSION_DEPTH}
        ),
        lst AS (SELECT min(lex_score) AS lmin, max(lex_score) AS lmax FROM lexs),
        sst AS (SELECT min(sem_score) AS smin, max(sem_score) AS smax FROM sems),
        fused AS (
          SELECT coalesce(l.docid, s.docid) AS docid,
                 (CASE WHEN l.lex_score IS NOT NULL AND lst.lmax - lst.lmin > 0
                       THEN (l.lex_score - lst.lmin) / (lst.lmax - lst.lmin)
                       ELSE 0.0 END)
                 + (CASE WHEN s.sem_score IS NOT NULL AND sst.smax - sst.smin > 0
                         THEN (s.sem_score - sst.smin) / (sst.smax - sst.smin)
                         ELSE 0.0 END) AS fscore,
                 l.lex_rank, s.sem_rank, l.lex_score,
                 (l.docid IS NOT NULL AND s.docid IS NOT NULL) AS in_both
          FROM lexs l FULL OUTER JOIN sems s ON l.docid = s.docid
          CROSS JOIN lst CROSS JOIN sst
        )
        SELECT docid, round(fscore, 6) AS fused_r,
               coalesce(lex_rank, -1) AS lex_rank,
               coalesce(sem_rank, -1) AS sem_rank,
               in_both::INT AS in_both
        FROM fused
        ORDER BY fscore DESC, in_both DESC,
                 coalesce(lex_score, '-infinity'::DOUBLE) DESC, docid ASC
        LIMIT 10
    """,
    "embedding_norms": """
        SELECT vec_id, label,
               round(sqrt(list_sum(list_transform(embedding,
                     x -> x::DOUBLE * x::DOUBLE))), 6) AS l2_r
        FROM embeddings
    """,
    "content_witness": """
        SELECT doc_id AS docid, sha256(text) AS content_sha256 FROM documents
    """,
    "bm25_phrase": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        dl AS (SELECT docid, count(*)::BIGINT AS doclen FROM tok GROUP BY docid),
        stats AS (
          SELECT count(*)::BIGINT AS n_docs,
                 sum(doclen)::DOUBLE / count(*)::DOUBLE AS avgdl
          FROM dl
        ),
        df AS (
          SELECT term, count(DISTINCT docid)::BIGINT AS df FROM tok
          WHERE term IN ('key','order') GROUP BY term
        ),
        idfsum AS (
          SELECT sum(ln(1.0 + ((stats.n_docs - df.df)::DOUBLE + 0.5)
                              / (df.df::DOUBLE + 0.5))) AS s
          FROM df CROSS JOIN stats
        ),
        pf AS (
          SELECT a.docid, count(*)::DOUBLE AS pf
          FROM tok a JOIN tok b
            ON a.docid = b.docid AND b.pos = a.pos + 1
          WHERE a.term = 'key' AND b.term = 'order'
          GROUP BY a.docid
        ),
        scored AS (
          SELECT pf.docid,
                 idfsum.s * 2.2 * pf.pf
                 / (pf.pf + 1.2 * (0.25 + 0.75 * dl.doclen::DOUBLE / stats.avgdl))
                 AS score
          FROM pf JOIN dl ON pf.docid = dl.docid
          CROSS JOIN stats CROSS JOIN idfsum
        )
        SELECT docid, round(score, 6) AS score_r
        FROM scored ORDER BY score DESC, docid ASC LIMIT 10
    """,
    "glob_term_stats": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS})
        SELECT term, count(DISTINCT docid)::BIGINT AS df
        FROM tok WHERE term LIKE 'th%' GROUP BY term ORDER BY term
    """,
    "simhash16": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        tf AS (
          SELECT docid, term, count(*)::BIGINT AS tf, md5(term) AS h
          FROM tok GROUP BY docid, term
        )
        SELECT docid, ({_SQL_SIMHASH_BITS})::BIGINT AS simhash16
        FROM tf GROUP BY docid
    """,
    "ngram_jaccard_pairs": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        t AS (SELECT * FROM tok WHERE docid < 30),
        sh AS (
          SELECT DISTINCT a.docid,
                 a.term || ' ' || b.term || ' ' || c.term AS shingle
          FROM t a
          JOIN t b ON a.docid = b.docid AND b.pos = a.pos + 1
          JOIN t c ON a.docid = c.docid AND c.pos = a.pos + 2
        ),
        inter AS (
          SELECT x.docid AS d1, y.docid AS d2, count(*)::DOUBLE AS inter
          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.docid < y.docid
          GROUP BY x.docid, y.docid
        ),
        sizes AS (SELECT docid, count(*)::DOUBLE AS n FROM sh GROUP BY docid)
        SELECT d1, d2,
               round(inter / (s1.n + s2.n - inter), 6) AS jaccard_r
        FROM inter
        JOIN sizes s1 ON inter.d1 = s1.docid
        JOIN sizes s2 ON inter.d2 = s2.docid
        WHERE round(inter / (s1.n + s2.n - inter), 6) > 0
    """,
    "lsh_band_buckets": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        terms AS (SELECT DISTINCT docid, term FROM tok),
        seeds AS (SELECT unnest(range(8))::INT AS seed),
        sig AS (
          SELECT docid, seed, min(md5(term || '#' || seed::VARCHAR)) AS minhash
          FROM terms CROSS JOIN seeds GROUP BY docid, seed
        ),
        banded AS (SELECT docid, (seed // 2)::INT AS band, minhash FROM sig),
        bucket AS (
          SELECT docid, band,
                 md5(string_agg(minhash, '|' ORDER BY minhash)) AS bucket
          FROM banded GROUP BY docid, band
        )
        SELECT band, bucket, count(*)::BIGINT AS n_docs, min(docid) AS rep
        FROM bucket GROUP BY band, bucket HAVING count(*) > 1
    """,
    "token_count_bpe": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        tf AS (
          SELECT docid, term, count(*)::BIGINT AS tf FROM tok GROUP BY docid, term
        )
        SELECT docid, sum(tf)::BIGINT AS n_tokens,
               sum(ceil(len(term) / 4.0)::BIGINT * tf)::BIGINT AS n_bpe_pieces
        FROM tf GROUP BY docid
    """,
    "lang_marker_ratio": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS})
        SELECT docid,
               round(sum(CASE WHEN term IN ('fn','import','def','class','func','void')
                         THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
                 AS marker_ratio_r
        FROM tok GROUP BY docid
    """,
    "ann_lsh_topk": f"""
        WITH planes AS (
          SELECT vec_id, embedding, {_SQL_LSH_PLANES} FROM embeddings
        ),
        bucketed AS (
          SELECT vec_id, embedding, ({_SQL_LSH_BUCKET})::INT AS bucket FROM planes
        ),
        q AS (SELECT embedding AS qv, bucket AS qb FROM bucketed WHERE vec_id = 0),
        cand AS (
          SELECT b.vec_id,
                 list_sum(list_transform(list_zip(b.embedding, q.qv),
                          x -> x[1]::DOUBLE * x[2]::DOUBLE))
                 / (sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))
                    * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))))
                 AS sim
          FROM bucketed b CROSS JOIN q
          WHERE b.bucket = q.qb AND b.vec_id <> 0
        )
        SELECT vec_id, round(sim, 6) AS sim_r
        FROM cand ORDER BY sim DESC, vec_id ASC LIMIT 10
    """,
    "ann_multiprobe_topk": f"""
        {_SQL_MP_BASE}
        SELECT vec_id, round(sim, 6) AS sim_r
        FROM ann ORDER BY sim DESC, vec_id ASC LIMIT 10
    """,
    "ann_multiprobe_recall": f"""
        {_SQL_MP_BASE},
        ann10 AS (
          SELECT vec_id FROM ann ORDER BY sim DESC, vec_id ASC LIMIT 10
        ),
        bf10 AS (
          SELECT b.vec_id
          FROM bucketed b CROSS JOIN q
          WHERE b.vec_id <> 0
          ORDER BY {_SQL_MP_COSINE} DESC, b.vec_id ASC LIMIT 10
        )
        SELECT round(count(*)::DOUBLE / 10.0, 6) AS recall_r
        FROM ann10 JOIN bf10 USING (vec_id)
    """,
    "embedding_near_dup": f"""
        WITH planes AS (
          SELECT vec_id, embedding, {_SQL_MP_PLANES} FROM embeddings
        ),
        bucketed AS (
          SELECT vec_id, embedding, {_SQL_MP_BUCKETS} FROM planes
        ),
        tb AS (
          {" UNION ALL ".join(f"SELECT vec_id, {t} AS t, b{t} AS b FROM bucketed" for t in range(8))}
        ),
        pairs AS (
          SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
          FROM tb x JOIN tb y
            ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id
        ),
        scored AS (
          SELECT p.v1, p.v2,
                 round(
                   list_sum(list_transform(list_zip(e1.embedding, e2.embedding),
                            x -> x[1]::DOUBLE * x[2]::DOUBLE))
                   / (sqrt(list_sum(list_transform(e1.embedding, x -> x::DOUBLE * x::DOUBLE)))
                      * sqrt(list_sum(list_transform(e2.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                   6) AS cos_r
          FROM pairs p
          JOIN embeddings e1 ON p.v1 = e1.vec_id
          JOIN embeddings e2 ON p.v2 = e2.vec_id
        )
        SELECT v1, v2, cos_r FROM scored WHERE cos_r >= {NEAR_DUP_COS}
    """,
    "ann_ivf_topk": f"""
        WITH cent AS (
          SELECT vec_id AS cid, embedding AS cvec FROM embeddings
          WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}
        ),
        assigned AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cos("e.embedding", "c.cvec")} DESC, c.cid ASC
                 ) AS rn
          FROM embeddings e CROSS JOIN cent c
        ),
        a AS (SELECT vec_id, embedding, cid FROM assigned WHERE rn = 1),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        probes AS (
          SELECT c.cid FROM cent c CROSS JOIN q
          ORDER BY {_sql_cos("c.cvec", "q.qv")} DESC, c.cid ASC
          LIMIT {IVF_NPROBE}
        ),
        cand AS (
          SELECT a.vec_id, {_sql_cos("a.embedding", "q.qv")} AS sim
          FROM a JOIN probes USING (cid) CROSS JOIN q
          WHERE a.vec_id <> 0
        )
        SELECT vec_id, round(sim, 6) AS sim_r
        FROM cand ORDER BY sim DESC, vec_id ASC LIMIT 10
    """,
    "multimodal_features": f"""
        WITH h AS (
          SELECT doc_id AS media_id,
                 octet_length(encode(text))::BIGINT AS n_bytes,
                 sha256(text) AS h
          FROM documents
        )
        SELECT media_id, n_bytes, h AS sha256,
               (1 + {_sql_hex_byte(1)} % 64)::INT AS width,
               (1 + {_sql_hex_byte(2)} % 64)::INT AS height,
               1::INT AS n_frames
        FROM h
    """,
    "events_windowed": """
        SELECT ((epoch_us(ts) // 1000000) // 3600 * 3600)::BIGINT
                   AS hour_epoch,
               event_type,
               count(*)::BIGINT AS n_events,
               round(sum(value), 6) AS sum_value_r,
               round(avg(value), 6) AS avg_value_r
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "events_sessionize": f"""
        WITH ev AS (
          SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s
          FROM events
        ),
        flagged AS (
          SELECT user_id, event_id, ts_s,
                 CASE WHEN lag(ts_s) OVER w IS NULL
                        OR ts_s - lag(ts_s) OVER w > {SESSION_GAP_S}
                      THEN 1 ELSE 0 END AS new_sess
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        ),
        sess AS (
          SELECT user_id, ts_s,
                 sum(new_sess) OVER (PARTITION BY user_id
                     ORDER BY ts_s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS sess_id
          FROM flagged
        ),
        per_sess AS (
          SELECT user_id, sess_id, count(*)::BIGINT AS n,
                 (max(ts_s) - min(ts_s))::BIGINT AS dur_s
          FROM sess GROUP BY 1, 2
        )
        SELECT user_id, max(sess_id)::BIGINT AS n_sessions,
               sum(n)::BIGINT AS n_events,
               max(n)::BIGINT AS max_session_events,
               max(dur_s)::BIGINT AS max_session_secs
        FROM per_sess GROUP BY 1 ORDER BY 1
    """,
    "events_props_extract": """
        SELECT event_type,
               (TRY_CAST(NULLIF(
                    regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
                 AS BIGINT)) % 10 AS k_bucket,
               count(*)::BIGINT AS n_events,
               round(avg(value), 6) AS avg_value_r
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "near_dup_pairs": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        {_SQL_NEAR_DUP_PAIRS}
        SELECT d1, d2, round(i / (s1n + s2n - i), 6) AS jaccard_r
        FROM verified
    """,
    "near_dup_recall": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        {_SQL_NEAR_DUP_PAIRS},
        t_inter AS (
          SELECT x.docid AS d1, y.docid AS d2, count(*)::DOUBLE AS i
          FROM sh x
          JOIN sh y ON x.shingle = y.shingle AND x.docid < y.docid
          GROUP BY x.docid, y.docid
        ),
        truth AS (
          SELECT t.d1, t.d2
          FROM t_inter t
          JOIN nd_sizes s1 ON t.d1 = s1.docid
          JOIN nd_sizes s2 ON t.d2 = s2.docid
          WHERE t.i / (s1.n + s2.n - t.i) >= 0.5
        )
        SELECT count(*)::BIGINT AS n_true,
               sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_caught,
               round(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END)
                     / count(*)::DOUBLE, 6) AS recall_r
        FROM truth
        LEFT JOIN cand c ON truth.d1 = c.d1 AND truth.d2 = c.d2
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE tok AS ({_SQL_TOKEN_ROWS}),
        {_SQL_NEAR_DUP_PAIRS},
        pairs AS (SELECT d1, d2 FROM verified),
        edges AS (
          SELECT d1 AS u, d2 AS v FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs
        ),
        reach(docid, r) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.docid
        ),
        lab AS (SELECT docid, min(r) AS cluster_id FROM reach GROUP BY docid)
        SELECT cluster_id, count(*)::BIGINT AS n_docs,
               min(docid) AS min_docid, max(docid) AS max_docid
        FROM lab GROUP BY cluster_id ORDER BY cluster_id
    """,
    "dedup_keep_list": f"""
        WITH RECURSIVE tok AS ({_SQL_TOKEN_ROWS}),
        {_SQL_NEAR_DUP_PAIRS},
        pairs AS (SELECT d1, d2 FROM verified),
        edges AS (
          SELECT d1 AS u, d2 AS v FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs
        ),
        reach(docid, r) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.docid
        ),
        lab AS (SELECT docid, min(r) AS cluster_id FROM reach GROUP BY docid),
        mem AS (
          SELECT l.cluster_id, l.docid, d.n_chars::BIGINT AS n_chars,
                 row_number() OVER (
                   PARTITION BY l.cluster_id
                   ORDER BY d.n_chars DESC, l.docid ASC
                 ) AS rn
          FROM lab l JOIN documents d ON d.doc_id = l.docid
        ),
        keep AS (
          SELECT cluster_id, docid AS keep_docid, n_chars AS keep_chars
          FROM mem WHERE rn = 1
        ),
        drp AS (
          SELECT cluster_id, count(*)::BIGINT AS n_dropped
          FROM mem WHERE rn > 1 GROUP BY cluster_id
        )
        SELECT k.cluster_id, k.keep_docid, k.keep_chars, d.n_dropped
        FROM keep k JOIN drp d USING (cluster_id)
        ORDER BY k.cluster_id
    """,
    "doclen_percentiles": """
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               round(quantile_cont(n_chars, 0.25), 6) AS p25_r,
               round(quantile_cont(n_chars, 0.50), 6) AS p50_r,
               round(quantile_cont(n_chars, 0.90), 6) AS p90_r,
               round(quantile_cont(n_chars, 0.99), 6) AS p99_r,
               min(n_chars)::BIGINT AS min_chars,
               max(n_chars)::BIGINT AS max_chars
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "tfidf_top_terms": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        cnt AS (
          SELECT d.lang, t.term, count(*)::BIGINT AS cnt
          FROM tok t JOIN documents d ON d.doc_id = t.docid
          GROUP BY d.lang, t.term
        ),
        lw AS (
          SELECT term, count(*)::BIGINT AS langs_with FROM cnt GROUP BY term
        ),
        nl AS (SELECT count(DISTINCT lang)::DOUBLE AS n_langs FROM cnt),
        ranked AS (
          SELECT c.lang, c.term, c.cnt, w.langs_with,
                 round(c.cnt::DOUBLE * ln(n.n_langs / w.langs_with::DOUBLE), 6)
                   AS tfidf_r,
                 row_number() OVER (
                   PARTITION BY c.lang
                   ORDER BY w.langs_with ASC, c.cnt DESC, c.term ASC
                 )::BIGINT AS rn
          FROM cnt c JOIN lw w USING (term) CROSS JOIN nl n
        )
        SELECT lang, term, cnt, langs_with, tfidf_r, rn
        FROM ranked WHERE rn <= 5 ORDER BY lang, rn
    """,
    "doc_repetition_ratio": """
        WITH toks AS (
          SELECT doc_id AS docid,
                 list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        g AS (
          SELECT docid,
                 CASE WHEN len(t) >= 3
                      THEN list_transform(generate_series(1, len(t) - 2),
                                          i -> t[i] || ' ' || t[i+1] || ' '
                                               || t[i+2])
                      ELSE []::VARCHAR[] END AS grams
          FROM toks
        )
        SELECT docid,
               len(grams)::BIGINT AS n_grams,
               round(CASE WHEN len(grams) = 0 THEN 0.0
                     ELSE 1.0 - len(list_distinct(grams))::DOUBLE
                                / len(grams)::DOUBLE END, 6) AS rep_ratio_r
        FROM g
    """,
    "decontaminate": """
        WITH toks AS (
          SELECT doc_id AS docid,
                 list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        grams AS (
          SELECT docid,
                 CASE WHEN len(t) >= 4
                      THEN list_distinct(list_transform(
                             generate_series(1, len(t) - 3),
                             i -> array_to_string(t[i:i+3], ' ')))
                      ELSE []::VARCHAR[] END AS g
          FROM toks
        ),
        bench AS (
          SELECT DISTINCT unnest(g) AS gram FROM grams WHERE docid % 37 = 0
        ),
        corpus AS (
          SELECT docid, unnest(g) AS gram FROM grams WHERE docid % 37 <> 0
        )
        SELECT c.docid,
               count(b.gram)::BIGINT AS n_contaminated,
               count(*)::BIGINT AS n_grams
        FROM corpus c LEFT JOIN bench b USING (gram)
        GROUP BY c.docid
    """,
    "ppl_unigram": """
        WITH t AS (
          SELECT doc_id AS docid,
                 unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                   x -> x <> '')) AS term
          FROM documents
        ),
        freq AS (SELECT term, count(*) AS cf FROM t GROUP BY term),
        tot AS (SELECT count(*)::DOUBLE AS tot FROM t)
        SELECT t.docid,
               count(*)::BIGINT AS n_toks,
               round(exp(avg(-ln(f.cf::DOUBLE / tot))), 6) AS ppl_r
        FROM t JOIN freq f USING (term) CROSS JOIN tot
        GROUP BY t.docid
    """,
    "ppl_bigram": """
        WITH toks AS (
          SELECT doc_id AS docid,
                 list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        b AS (
          SELECT docid, unnest(
                   CASE WHEN len(t) >= 2
                        THEN list_transform(generate_series(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1])
                        ELSE []::VARCHAR[] END) AS bg
          FROM toks
        ),
        bb AS (SELECT docid, bg, split_part(bg, ' ', 1) AS w1 FROM b),
        f2 AS (SELECT bg, count(*)::DOUBLE AS cf2 FROM bb GROUP BY bg),
        f1 AS (SELECT w1, count(*)::DOUBLE AS cf1 FROM bb GROUP BY w1)
        SELECT bb.docid, count(*)::BIGINT AS n_bigrams,
               round(exp(avg(-ln(f2.cf2 / f1.cf1))), 6) AS ppl_r
        FROM bb JOIN f2 USING (bg) JOIN f1 USING (w1)
        GROUP BY bb.docid
    """,
    "lsh_bucket_skew": f"""
        WITH tok AS ({_SQL_TOKEN_ROWS}),
        terms AS (SELECT DISTINCT docid, term FROM tok),
        seeds AS (SELECT unnest(range(8))::INT AS seed),
        sig AS (
          SELECT docid, seed, min(md5(term || '#' || seed::VARCHAR)) AS minhash
          FROM terms CROSS JOIN seeds GROUP BY docid, seed
        ),
        banded AS (SELECT docid, (seed // 2)::INT AS band, minhash FROM sig),
        bucket AS (
          SELECT docid, band,
                 md5(string_agg(minhash, '|' ORDER BY minhash)) AS bucket
          FROM banded GROUP BY docid, band
        ),
        sizes AS (
          SELECT band, bucket, count(*)::BIGINT AS bucket_size
          FROM bucket GROUP BY band, bucket
        )
        SELECT bucket_size, count(*)::BIGINT AS n_buckets,
               sum(bucket_size * (bucket_size - 1) // 2)::BIGINT
                 AS n_candidate_pairs
        FROM sizes GROUP BY bucket_size
    """,
    "boilerplate_ngrams": """
        WITH toks AS (
          SELECT doc_id AS docid,
                 list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        g AS (
          SELECT docid,
                 CASE WHEN len(t) >= 5
                      THEN list_distinct(list_transform(
                             generate_series(1, len(t) - 4),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  || ' ' || t[i+3] || ' ' || t[i+4]))
                      ELSE []::VARCHAR[] END AS grams
          FROM toks
        ),
        e AS (SELECT docid, unnest(grams) AS gram FROM g)
        SELECT gram, count(*)::BIGINT AS n_docs
        FROM e
        GROUP BY gram
        HAVING count(*) >= 2
        ORDER BY n_docs DESC, gram ASC
        LIMIT 200
    """,
    "latest_event_per_user": """
        SELECT user_id, event_id AS last_event_id, event_type AS last_type,
               n_events
        FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id)::BIGINT AS n_events
          FROM events
        )
        WHERE rn = 1
    """,
    "embedding_int8_quantize": """
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                                         x -> abs(x::DOUBLE))) AS absmax
          FROM embeddings
        )
        SELECT vec_id,
               round(absmax / 127.0, 6) AS scale_r,
               round(CASE WHEN absmax = 0 THEN 0.0 ELSE
                 sqrt(list_sum(list_transform(embedding,
                   x -> pow(x::DOUBLE
                            - least(greatest(floor(x::DOUBLE
                                                   / (absmax / 127.0) + 0.5),
                                             -127.0), 127.0)
                              * (absmax / 127.0), 2)))
                      / len(embedding)) END, 6) AS rmse_r
        FROM s
    """,
    "events_asof_join": """
        SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
               (epoch_us(p.ts) - epoch_us(v.ts))::BIGINT AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts > v.ts
        ORDER BY purchase_id
    """,
    "multimodal_frames": f"""
        WITH h AS (
          SELECT doc_id AS media_id, sha256(text) AS h
          FROM documents
        ),
        nf AS (
          SELECT media_id, h AS sha256,
                 (1 + {_sql_hex_byte(3)} % 32)::INT AS n_frames
          FROM h
        )
        SELECT media_id, unnest(range(0, n_frames, 4))::INT AS frame_idx,
               sha256
        FROM nf
    """,
    "stratified_sample": """
        WITH ranked AS (
          SELECT lang, doc_id,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('sample' || '#' || doc_id::VARCHAR), doc_id
                 ) AS sample_rank
          FROM documents
        )
        SELECT lang, doc_id, sample_rank::BIGINT AS sample_rank
        FROM ranked WHERE sample_rank <= 5
    """,
    "ann_ivf_recall": f"""
        WITH cent AS (
          SELECT vec_id AS cid, embedding AS cvec FROM embeddings
          WHERE vec_id BETWEEN 1 AND {IVF_CENTROIDS}
        ),
        assigned AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cos("e.embedding", "c.cvec")} DESC, c.cid ASC
                 ) AS rn
          FROM embeddings e CROSS JOIN cent c
        ),
        a AS (SELECT vec_id, embedding, cid FROM assigned WHERE rn = 1),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        probes AS (
          SELECT c.cid FROM cent c CROSS JOIN q
          ORDER BY {_sql_cos("c.cvec", "q.qv")} DESC, c.cid ASC
          LIMIT {IVF_NPROBE}
        ),
        ivf10 AS (
          SELECT a.vec_id
          FROM a JOIN probes USING (cid) CROSS JOIN q
          WHERE a.vec_id <> 0
          ORDER BY {_sql_cos("a.embedding", "q.qv")} DESC, a.vec_id ASC
          LIMIT 10
        ),
        bf10 AS (
          SELECT e.vec_id
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> 0
          ORDER BY {_sql_cos("e.embedding", "q.qv")} DESC, e.vec_id ASC
          LIMIT 10
        )
        SELECT round(count(*)::DOUBLE / 10.0, 6) AS recall_r
        FROM ivf10 JOIN bf10 USING (vec_id)
    """,
    "multimodal_resize": f"""
        WITH h AS (
          SELECT doc_id AS media_id, sha256(text) AS h FROM documents
        ),
        dims AS (
          SELECT media_id,
                 (1 + {_sql_hex_byte(1)} % 64)::INT AS width,
                 (1 + {_sql_hex_byte(2)} % 64)::INT AS height
          FROM h
        ),
        scaled AS (
          SELECT media_id, width, height,
                 least(1.0, 32.0 / greatest(width, height)) AS s
          FROM dims
        )
        SELECT media_id, width, height,
               greatest(round(width * s)::INT, 1) AS target_width,
               greatest(round(height * s)::INT, 1) AS target_height
        FROM scaled
    """,
    "pack_offsets": """
        WITH t AS (
          SELECT doc_id AS docid,
                 len(list_filter(regexp_split_to_array(lower(text),
                                                       '[^0-9a-z]+'),
                                 x -> x <> ''))::INT AS n_tokens
          FROM documents
        ),
        s AS (
          SELECT docid, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   ORDER BY docid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0)::BIGINT AS start_token
          FROM t
        )
        SELECT docid, n_tokens, start_token,
               (start_token // 512)::BIGINT AS seq_id,
               (n_tokens > 0 AND
                (start_token + n_tokens - 1) // 512 > start_token // 512
               ) AS straddles
        FROM s
    """,
    "dup_span_marks": """
        WITH toks AS (
          SELECT doc_id AS docid,
                 list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        g AS (
          SELECT docid, i - 1 AS p,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                 || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                 || ' ' || t[i+7] AS gram
          FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
          WHERE len(t) >= 8
        ),
        d AS (
          SELECT gram FROM (SELECT DISTINCT docid, gram FROM g)
          GROUP BY gram HAVING count(*) >= 2
        ),
        dup AS (SELECT g.docid, g.p FROM g JOIN d USING (gram)),
        m AS (
          SELECT docid, p,
                 CASE WHEN lag(p) OVER w IS NULL
                           OR p > lag(p) OVER w + 8
                      THEN 1 ELSE 0 END AS brk
          FROM dup WINDOW w AS (PARTITION BY docid ORDER BY p)
        ),
        isl AS (
          SELECT docid, p,
                 SUM(brk) OVER (PARTITION BY docid ORDER BY p) AS isl
          FROM m
        )
        SELECT docid, MIN(p)::INT AS span_start,
               (MAX(p) + 7)::INT AS span_end,
               count(*)::BIGINT AS n_windows
        FROM isl GROUP BY docid, isl
    """,
    "source_mix_weights": """
        WITH a AS (
          SELECT source, count(*)::BIGINT AS n_docs,
                 SUM(len(list_filter(regexp_split_to_array(lower(text),
                                                           '[^0-9a-z]+'),
                                     x -> x <> '')))::BIGINT AS n_tokens
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT SUM(n_tokens)::DOUBLE AS tot_tok,
                 SUM(pow(n_tokens::DOUBLE, 0.7)) AS tot_pow
          FROM a
        )
        SELECT source, n_docs, n_tokens,
               round(n_tokens / tot_tok, 6) AS tok_share,
               round(pow(n_tokens::DOUBLE, 0.7) / tot_pow, 6) AS mix_weight
        FROM a, tot
    """,
    "funnel_conversion": """
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        ),
        f AS (
          SELECT user_id,
            MIN(CASE WHEN event_type='signup' THEN ts_us END) AS t_signup,
            MIN(CASE WHEN event_type='view' THEN ts_us END) AS t_view,
            MIN(CASE WHEN event_type='click' THEN ts_us END) AS t_click,
            MIN(CASE WHEN event_type='purchase' THEN ts_us END) AS t_purch
          FROM e GROUP BY user_id
        ),
        r AS (
          SELECT
            (t_signup IS NOT NULL) AS r1,
            (t_view IS NOT NULL AND t_view >= t_signup) AS r2,
            (t_click IS NOT NULL AND t_click >= t_signup
             AND t_click >= t_view) AS r3,
            (t_purch IS NOT NULL AND t_purch >= t_signup
             AND t_purch >= t_view AND t_purch >= t_click) AS r4
          FROM f
        ),
        c AS (
          SELECT COUNT(*) FILTER (WHERE r1)::BIGINT AS n1,
                 COUNT(*) FILTER (WHERE r2)::BIGINT AS n2,
                 COUNT(*) FILTER (WHERE r3)::BIGINT AS n3,
                 COUNT(*) FILTER (WHERE r4)::BIGINT AS n4
          FROM r
        )
        SELECT 1::INT AS stage_idx, 'signup' AS stage, n1 AS n_users,
               NULL::DOUBLE AS conv_from_prev FROM c
        UNION ALL
        SELECT 2, 'view', n2,
               CASE WHEN n1 > 0 THEN round(n2 / n1::DOUBLE, 6) END FROM c
        UNION ALL
        SELECT 3, 'click', n3,
               CASE WHEN n2 > 0 THEN round(n3 / n2::DOUBLE, 6) END FROM c
        UNION ALL
        SELECT 4, 'purchase', n4,
               CASE WHEN n3 > 0 THEN round(n4 / n3::DOUBLE, 6) END FROM c
    """,
    "quality_filter_verdict": """
        WITH toks AS (
          SELECT doc_id AS docid,
                 list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        g AS (
          SELECT docid,
                 len(t)::INT AS n_tokens,
                 (COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
                  ::DOUBLE / greatest(len(t), 1)) AS mean_len,
                 CASE WHEN len(t) >= 3
                      THEN list_transform(
                             generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                      ELSE []::VARCHAR[] END AS g3
          FROM toks
        ),
        s AS (
          SELECT docid, n_tokens, mean_len,
                 CASE WHEN len(g3) > 0
                      THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)
                      ELSE 0.0 END AS rep3
          FROM g
        ),
        v AS (
          SELECT docid, n_tokens, mean_len, rep3,
                 CASE WHEN n_tokens < 20 THEN 'too_short'
                      WHEN n_tokens > 1000 THEN 'too_long'
                      WHEN mean_len < 2.0 THEN 'tokens_too_short'
                      WHEN mean_len > 12.0 THEN 'tokens_too_long'
                      WHEN rep3 > 0.5 THEN 'repetitive'
                 END AS reason
          FROM s
        )
        SELECT docid, n_tokens, round(mean_len, 6) AS mean_len,
               round(rep3, 6) AS rep3,
               (reason IS NULL) AS keep,
               COALESCE(reason, 'ok') AS reason
        FROM v
    """,
}
