"""Training-data pipeline operators, part 4: rule-based quality filtering
(Gopher-style), stopword fraction, and deterministic weighted sampling.

Extends the llm.py/llm2.py/llm3.py family with published-recipe corpus
filters (the Gopher/C4-style rule lists from public papers: word-count
bounds, mean-word-length bounds, symbol ratio, stopword presence) and the
Efraimidis-Spirakis weighted-reservoir trick for importance-weighted
corpus sampling. All Catalyst expressions — no Python UDFs — and every
operator is a single scan plus at most one small shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_exporter_spark.functions import text as T
from parquet_exporter_spark.operators.pq import nearest_centroid
from parquet_exporter_spark.registry import query
from parquet_exporter_spark.tables import read_table

# Gopher-style rule bounds, scaled to the synthetic corpus (docs are
# 47-558 chars of word soup): the rule STRUCTURE is the published recipe;
# the constants are corpus-appropriate.
MIN_WORDS = 10
MAX_WORDS = 200
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_RATIO = 0.10
MIN_STOPWORD_HITS = 1  # distinct English stopwords present

_SQL_TOK = T.sql_tokens("text")


@query(
    "text_stopword_fraction",
    oracle=f"""
    SELECT doc_id,
           round(CAST(len(list_filter({_SQL_TOK},
                     t -> list_contains({T.STOPWORDS['en']!r}, t))) AS DOUBLE)
                 / greatest(len({_SQL_TOK}), 1), 6) AS stopword_frac
    FROM documents
    """,
    doc=(
        "Multiset stopword fraction: share of ALL tokens (not distinct) "
        "that are English stopwords — the C4/Gopher signal for "
        "natural-prose likelihood. Pure per-row higher-order expression "
        "(filter + size), zero shuffles, whole-stage codegen."
    ),
)
def text_stopword_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in T.STOPWORDS["en"]])
    frac = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast(
        "double"
    ) / F.greatest(F.size(toks), F.lit(1))
    return docs.select("doc_id", F.round(frac, 6).alias("stopword_frac"))


@query(
    "text_gopher_quality_filter",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               len({_SQL_TOK}) AS word_count,
               round(CAST(list_sum(list_transform({_SQL_TOK}, t -> len(t))) AS DOUBLE)
                     / greatest(len({_SQL_TOK}), 1), 6) AS mean_word_len,
               round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS symbol_ratio,
               len(list_intersect(list_distinct({_SQL_TOK}), {T.STOPWORDS['en']!r}))
                   AS stopword_hits
        FROM documents
    )
    SELECT doc_id, CAST(word_count AS BIGINT) AS word_count, mean_word_len,
           symbol_ratio,
           (word_count BETWEEN {MIN_WORDS} AND {MAX_WORDS})
           AND (mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN})
           AND (symbol_ratio <= {MAX_SYMBOL_RATIO})
           AND (stopword_hits >= {MIN_STOPWORD_HITS}) AS kept
    FROM feats
    """,
    doc=(
        "Gopher-style rule-based quality filter: word-count bounds, "
        "mean-word-length bounds, symbol-to-char ratio, and stopword "
        "presence, combined into a keep/drop verdict with the per-rule "
        "features exposed for auditing. The published-recipe shape "
        "(Gopher paper, Rae et al. 2021, Table A1) as one per-row "
        "Catalyst expression — zero shuffles; at 100 TB this runs as a "
        "pushed-down scan stage ahead of any dedup shuffle."
    ),
)
def text_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    word_count = F.size(toks)
    mean_word_len = F.round(
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / F.greatest(word_count, F.lit(1)),
        6,
    )
    # chars remaining after stripping [a-zA-Z0-9 ] ARE the symbols
    symbol_ratio = F.round(
        F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", ""))
        .cast("double")
        / F.greatest(F.length("text"), F.lit(1)),
        6,
    )
    sw = F.array(*[F.lit(w) for w in T.STOPWORDS["en"]])
    stopword_hits = F.size(F.array_intersect(F.array_distinct(toks), sw))
    kept = (
        word_count.between(MIN_WORDS, MAX_WORDS)
        & mean_word_len.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= MAX_SYMBOL_RATIO)
        & (stopword_hits >= MIN_STOPWORD_HITS)
    )
    return docs.select(
        "doc_id",
        word_count.cast("bigint").alias("word_count"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        kept.alias("kept"),
    )


# Deterministic uniform in (0, 1]: multiplicative (Knuth) hash of doc_id,
# portable integer arithmetic in both engines.
_HASH_MOD = 1_000_003  # prime
_KNUTH = 2_654_435_761


@query(
    "sample_weighted",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln(CAST(((doc_id * {_KNUTH}) % {_HASH_MOD}) + 1 AS DOUBLE)
                  / {_HASH_MOD + 1}) / n_chars AS log_key
        FROM documents WHERE n_chars > 0
    )
    -- + 0.0 normalizes IEEE negative zero (round of a tiny negative key
    -- prints '-0' in one engine and '0' in the other)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           round(log_key, 6) + 0.0 AS sort_key
    FROM keyed
    ORDER BY log_key DESC, doc_id ASC
    LIMIT 25
    """,
    doc=(
        "Weighted sampling without replacement (Efraimidis-Spirakis 2006): "
        "each doc gets key u^(1/w) — compared in log space as ln(u)/w — "
        "with u a DETERMINISTIC portable hash of doc_id, weight = n_chars; "
        "the global top-k by key is an exact weighted sample. Plan shape: "
        "per-row key expression + TakeOrderedAndProject, so the 'reservoir' "
        "is a per-partition top-k merged at the driver, never a global "
        "sort — the right 100 TB shape for importance-weighted corpus "
        "subsetting (longer docs proportionally likelier)."
    ),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weight 0 means "never sample" in Efraimidis-Spirakis; excluding
    # those rows (rather than dividing by zero) keeps the key finite on
    # corpora containing empty documents.
    docs = read_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        ((F.col("doc_id") * F.lit(_KNUTH)) % F.lit(_HASH_MOD) + 1).cast("double")
        / F.lit(float(_HASH_MOD + 1))
    )
    log_key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            log_key.alias("log_key"),
        )
        .orderBy(F.col("log_key").desc(), F.col("doc_id").asc())
        .limit(25)
        .select("doc_id", "weight", (F.round("log_key", 6) + F.lit(0.0)).alias("sort_key"))
    )


VOCAB_MIN_DF = 3
VOCAB_TOP_N = 200


@query(
    "text_build_vocab",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOK}) AS term FROM documents
    ),
    stats AS (
        SELECT term,
               CAST(count(*) AS BIGINT) AS tf_corpus,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY term
    )
    SELECT term, tf_corpus, df
    FROM stats
    WHERE df >= {VOCAB_MIN_DF}
    ORDER BY tf_corpus DESC, term ASC
    LIMIT {VOCAB_TOP_N}
    """,
    doc=(
        "Vocabulary construction for tokenizer training: corpus term "
        "frequency + document frequency, min-df pruned, top-N by corpus "
        "count with lexicographic tie-break. One explode + one (term) "
        "aggregate + TakeOrdered — the same shuffle budget as word count; "
        "min-df pruning happens pre-sort so the heap only sees the "
        "surviving vocabulary."
    ),
)
def text_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf_corpus"),
        F.count_distinct("doc_id").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= VOCAB_MIN_DF)
        .orderBy(F.col("tf_corpus").desc(), F.col("term").asc())
        .limit(VOCAB_TOP_N)
    )


@query(
    "sample_domain_mixture",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(sum(len({_SQL_TOK})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources FROM per_source)
    SELECT source, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / tot.total_tokens, 6) AS actual_share,
           round(1.0 / tot.n_sources, 6) AS target_share,
           round((1.0 / tot.n_sources)
                 / (CAST(n_tokens AS DOUBLE) / tot.total_tokens), 6) AS sample_weight
    FROM per_source CROSS JOIN tot
    """,
    doc=(
        "Domain-mixture reweighting: per-source token shares vs a uniform "
        "target mixture, yielding the per-source sampling weight a "
        "curriculum builder feeds to sampleBy (weight >1 upsamples "
        "under-represented domains). The cross join carries ONE total row "
        "against a source-cardinality aggregate — both sides bounded by "
        "the number of domains, never the corpus."
    ),
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(T.tokens(F.col("text")))).alias("n_tokens")
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count(F.lit(1)).alias("n_sources")
    )
    actual = F.col("n_tokens").cast("double") / F.col("total_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / actual, 6).alias("sample_weight"),
    )


# Hand-set logistic-regression weights over the Gopher features: the point
# is MODEL INFERENCE AS A CATALYST EXPRESSION (no Python UDF), not the
# model itself — swap the literals for trained coefficients in production.
_LR_BIAS = -1.5
_LR_W_WORDS = 0.02
_LR_W_MWL = 0.30
_LR_W_SYM = -8.0


@query(
    "text_quality_logreg_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               len({_SQL_TOK}) AS word_count,
               round(CAST(list_sum(list_transform({_SQL_TOK}, t -> len(t))) AS DOUBLE)
                     / greatest(len({_SQL_TOK}), 1), 6) AS mwl,
               round(CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS sym
        FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-({_LR_BIAS} + {_LR_W_WORDS} * word_count
                 + {_LR_W_MWL} * mwl + {_LR_W_SYM} * sym))), 6) AS quality_prob
    FROM feats
    """,
    doc=(
        "Quality-classifier inference as a pure Catalyst expression: "
        "logistic regression over the Gopher features evaluated inside "
        "whole-stage codegen — the fasttext-classifier-scoring pattern "
        "without leaving the JVM. Zero shuffles; at 100 TB this is a "
        "free rider on the cleaning scan. Features are rounded before "
        "the dot product so both engines feed identical doubles to exp()."
    ),
)
def text_quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    word_count = F.size(toks)
    mwl = F.round(
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / F.greatest(word_count, F.lit(1)),
        6,
    )
    sym = F.round(
        F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1)),
        6,
    )
    z = (
        F.lit(_LR_BIAS)
        + F.lit(_LR_W_WORDS) * word_count
        + F.lit(_LR_W_MWL) * mwl
        + F.lit(_LR_W_SYM) * sym
    )
    return docs.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
    )


@query(
    "emb_pca_project",
    oracle=None,  # eigendecomposition has no SQL twin; invariants
    # (orthonormality, variance ordering, centering) are property-tested
    # in tests/test_llm.py::test_pca_invariants.
    doc=(
        "Distributed PCA projection of the embedding corpus to 2 "
        "components: one Arrow-batched mapInPandas pass accumulates "
        "per-partition (n, sum, Gram) moments — the driver collects "
        "O(partitions) rows, never data — the 64x64 eigensolve runs "
        "driver-side, and projection is a zero-shuffle zip_with dot "
        "product with the components as literals "
        "(operators/pca.py). The dimensionality-reduction front end for "
        "embedding visualization / coarse clustering at corpus scale."
    ),
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators.pca import pca_fit, pca_project

    emb = read_table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca_fit(emb, "embedding", k=2)
    return pca_project(emb, "embedding", mean, comps).select(
        "vec_id",
        F.round("proj_1", 4).alias("proj_1"),
        F.round("proj_2", 4).alias("proj_2"),
    )


_KM_K = 4
_KM_ITERS = 3
_KM_DIM = 64


def _kmeans_oracle() -> str:
    """Unrolled Lloyd's iterations as chained CTEs (same trick as
    graph_pagerank): deterministic farthest-id-free init (the K smallest
    vec_ids), per-iteration centroid means and distances snapped to 1e-9
    on both engines, assignment ties broken by smallest cluster id."""
    parts = [
        """emb AS (
            SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
            FROM embeddings
        )""",
        f"""pos AS (SELECT unnest(generate_series(1, {_KM_DIM})) AS i)""",
        f"""c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x
            FROM emb ORDER BY vec_id LIMIT {_KM_K}
        )""",
    ]
    prev = "c0"
    for it in range(1, _KM_ITERS + 1):
        parts.append(
            f"""d{it} AS (
            SELECT e.vec_id, c.cid,
                   round(sum(power(e.x[p.i] - c.x[p.i], 2)), 9) AS dist
            FROM emb e CROSS JOIN {prev} c CROSS JOIN pos p
            GROUP BY e.vec_id, c.cid
        )""")
        parts.append(
            f"""a{it} AS (
            SELECT vec_id, cid, dist FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                FROM d{it}
            ) WHERE rn = 1
        )""")
        if it < _KM_ITERS:
            parts.append(
                f"""c{it} AS (
                SELECT cid, list(m ORDER BY i) AS x FROM (
                    SELECT a.cid, p.i, round(avg(e.x[p.i]), 9) AS m
                    FROM a{it} a JOIN emb e USING (vec_id) CROSS JOIN pos p
                    GROUP BY a.cid, p.i
                ) GROUP BY cid
            )""")
            prev = f"c{it}"
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vec_id, CAST(cid AS INT) AS cluster, dist FROM a{_KM_ITERS}"
    )


@query(
    "emb_kmeans_cluster",
    oracle=_kmeans_oracle(),
    doc=(
        f"K-means clustering ({_KM_K} clusters, {_KM_ITERS} fixed Lloyd "
        "iterations) over the embedding corpus, value-checked against a "
        "DuckDB oracle that unrolls the iterations into CTEs — the same "
        "snap-to-1e-9 determinism contract as graph_pagerank. Spark side: "
        "assignment is a narrow expression over literal centroids (zero "
        "shuffle), centroid recomputation is one posexplode aggregate per "
        "iteration whose 4x64 result is collected driver-side as model "
        "state — the mllib strategy without the mllib black box, so every "
        "step stays oracle-comparable. At 100 TB the per-iteration "
        "aggregate is the only shuffle and centroid state stays O(k*d)."
    ),
)
def emb_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    init = emb.orderBy("vec_id").limit(_KM_K).collect()
    cents = [list(r.x) for r in init]  # cid = position (vec_id ascending)

    assigned = None
    for it in range(_KM_ITERS):
        assigned = nearest_centroid(emb, cents)
        if it < _KM_ITERS - 1:
            rows = (
                assigned.select("cluster", F.posexplode("x").alias("i", "v"))
                .groupBy("cluster", "i")
                .agg(F.round(F.avg("v"), 9).alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cid.setdefault(r.cluster, {})[r.i] = r.m
            cents = [
                [by_cid[cid][i] for i in range(_KM_DIM)] for cid in range(_KM_K)
            ]
    return assigned.drop("x")


_BG_K = 0.5  # add-k smoothing


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOK} AS t FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest([t[i] for i in generate_series(1, len(t) - 1)]) AS w1,
               unnest([t[i + 1] for i in generate_series(1, len(t) - 1)]) AS w2
        FROM toks WHERE len(t) >= 2
    ),
    doc_bg AS (
        SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT w1) AS v FROM (
        SELECT w1 FROM bg UNION ALL SELECT w2 FROM bg
    )),
    scored AS (
        SELECT d.doc_id,
               d.n,
               round(ln((c2.c2 + {_BG_K}) / (c1.c1 + {_BG_K} * v.v)), 9) AS lp
        FROM doc_bg d
        JOIN c2 USING (w1, w2)
        JOIN c1 USING (w1)
        CROSS JOIN v
    )
    SELECT doc_id,
           round(sum(n * lp) / sum(n), 6) AS avg_bigram_logprob,
           CAST(sum(n) AS BIGINT) AS n_bigrams
    FROM scored GROUP BY doc_id
    """,
    doc=(
        "Bigram language-model scoring with add-k smoothing (k=0.5): "
        "avg ln p(w2|w1) per document under the corpus bigram "
        "distribution — the perplexity-proxy step up from "
        "text_unigram_logprob; low scores surface machine-generated or "
        "shuffled-word text that unigram stats cannot see. Shapes: doc "
        "bigrams aggregate once, join corpus bigram/unigram counts on "
        "term keys (tfidf-shaped shuffles), vocabulary size rides along "
        "as a broadcast scalar. Per-instance log-probs snap to 1e-9 "
        "before the weighted average for cross-engine hash stability."
    ),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = T.tokens(F.col("text"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"), F.element_at(t, i + 1).alias("w2")
        ),
    )
    bg = (
        docs.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        bg.select(F.col("w1").alias("w"))
        .unionAll(bg.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    lp = F.round(
        F.log((F.col("c2") + _BG_K) / (F.col("c1") + _BG_K * F.col("v"))), 9
    )
    scored = (
        doc_bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", "n", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(F.col("n") * F.col("lp")) / F.sum("n"), 6).alias(
            "avg_bigram_logprob"
        ),
        F.sum("n").alias("n_bigrams"),
    )


_CAP_PER_SOURCE = 40


@query(
    "sample_per_group_cap",
    oracle=f"""
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source, row_number() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) WHERE rn <= {_CAP_PER_SOURCE}
    """,
    doc=(
        "Per-domain document cap: keep at most N docs per source, chosen "
        "by a deterministic hash order (md5 of doc_id) so the 'random' "
        "cap is reproducible and engine-portable — the standard guard "
        "against one domain dominating a corpus mix. WindowGroupLimit "
        "pushes the rn<=N cut below the shuffle, so per-partition state "
        "is N rows per source, never the domain's full contents."
    ),
)
def sample_per_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CAP_PER_SOURCE)
        .select("doc_id", "source")
    )


@query(
    "emb_standardize_dims",
    oracle="""
    WITH d AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS val,
               generate_subscripts(embedding, 1) - 1 AS pos
        FROM embeddings
    ),
    stats AS (
        SELECT pos, avg(val) AS mu, stddev_pop(val) AS sigma
        FROM d GROUP BY pos
    )
    SELECT d.vec_id, CAST(d.pos AS INTEGER) AS pos,
           round((d.val - s.mu) / nullif(s.sigma, 0), 4) + 0 AS z
    FROM d JOIN stats s USING (pos)
    """,
    doc=(
        "Per-dimension z-score standardization of an embedding column — "
        "the feature-scaling pass before k-means / PCA / quantization. "
        "Dimension stats come from ONE posexplode + groupBy(pos) shuffle "
        "whose key cardinality is the dimension count (64), packed into "
        "two array literals in a single row and broadcast back; the "
        "standardization itself is a narrow zip_with over the original "
        "array (no second explode of the corpus). Output exploded to "
        "(vec_id, pos, z) scalars for oracle comparison."
    ),
)
def emb_standardize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.avg(F.col("val").cast("double")).alias("mu"),
            F.stddev_pop(F.col("val").cast("double")).alias("sigma"),
        )
    )
    packed = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
        ).alias("mus"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sigma"))),
            lambda s: s["sigma"],
        ).alias("sigmas"),
    )
    centered = F.zip_with(
        "embedding", "mus", lambda x, m: x.cast("double") - m
    )
    z = F.zip_with(
        centered,
        F.col("sigmas"),
        # + 0.0 collapses IEEE -0.0 to 0.0 (canonical form matches the oracle)
        lambda c, s: F.round(c / F.nullif(s, F.lit(0.0)), 4) + F.lit(0.0),
    )
    return (
        emb.crossJoin(F.broadcast(packed))
        .select("vec_id", F.posexplode(z).alias("pos", "z"))
        .select("vec_id", "pos", "z")
    )


def _rademacher_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic +-1 projection matrix from md5 parity — engine-
    independent, embedded as literals on BOTH sides like the PCA
    components, so the projection is oracle-checked exactly."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{k}:{j}".encode()).digest()[0] % 2 == 0 else -1
            for j in range(in_dim)
        ]
        for k in range(out_dim)
    ]


_JL_OUT, _JL_IN = 8, 64
_JL_SIGNS = _rademacher_signs(_JL_OUT, _JL_IN)


@query(
    "emb_random_projection",
    oracle=f"""
    SELECT vec_id,
           {", ".join(
               f"round(list_dot_product(CAST(embedding AS DOUBLE[]), "
               f"[{', '.join(f'{s}.0' for s in _JL_SIGNS[k])}]) / 8.0, 6) AS d{k}"
               for k in range(_JL_OUT)
           )}
    FROM embeddings
    """,
    doc=(
        "Johnson-Lindenstrauss random projection 64d -> 8d with a "
        "deterministic Rademacher (+-1) matrix scaled by 1/sqrt(64): the "
        "cheap dimensionality reduction for coarse clustering / ANN "
        "pre-filtering when PCA's data pass is not worth it. The matrix "
        "is data-independent literals, so the whole operator is a narrow "
        "per-row expression — zero shuffles, and unlike PCA it needs no "
        "fit job at all. Oracle computes the identical dot products via "
        "DuckDB list_dot_product."
    ),
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(float(s)) for s in _JL_SIGNS[k]]),
                    lambda x, s: x.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / 8.0,
            6,
        ).alias(f"d{k}")
        for k in range(_JL_OUT)
    ]
    return emb.select("vec_id", *cols)
