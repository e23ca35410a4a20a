"""LLM-data-pipeline operators (BASELINE.json north star): deduplication,
similarity search, text analysis, multimodal columns.

Exact/deterministic variants are oracle-checked against DuckDB; the
engine-private-hash paths (xxhash64 SimHash, LSH with generated planes)
are rows-only here and property-tested in tests/test_llm.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_exporter_spark.functions import dedup as D
from parquet_exporter_spark.functions import similarity as S
from parquet_exporter_spark.functions import text as T
from parquet_exporter_spark.registry import query
from parquet_exporter_spark import tables
from parquet_exporter_spark.sinks.writers import publish_once
from parquet_exporter_spark.tables import read_table, scratch_dir, tiny_df


# ---------------------------------------------------------------- dedup


@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY text
    """,
    doc=(
        "Exact dedup: group by full text, keep the lowest doc_id as the "
        "representative. At scale, group by sha2(text) instead so the "
        "shuffle carries 32-byte keys, not documents (see dedup_exact_hash)."
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("doc_id", "text", "n_copies")


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
    doc=(
        "Hash-based exact dedup: the 100 TB form — shuffle 32-byte sha-256 "
        "keys instead of document bodies; collisions are cryptographically "
        "negligible."
    ),
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, lang, source, {D.sql_char_shingles("text")} AS s
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.12
    """,
    doc=(
        "Exact n-gram (5-char shingle) Jaccard near-dup pairs. Candidate "
        "generation is bounded by (lang, source, size-bucket) EQUI-join "
        "keys, not a bare block cross-product: J(A,B) >= t implies "
        "min(|A|,|B|)/max(|A|,|B|) >= t, so shingle-set sizes bucketed by "
        "log base 1/t can differ by at most one bucket — probing "
        "{b-1, b, b+1} is LOSSLESS pruning (identical results to the full "
        "blocked join the oracle runs) while keeping every pair of "
        "size-incompatible docs out of the join entirely. At 100 TB the "
        "residual within-bucket quadratic term is the exact-verify cost "
        "floor; for candidate *generation* at lower cost use the MinHash "
        "LSH banding path (functions/dedup.py) and feed survivors here."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    threshold = 0.12
    import math

    log_inv_t = math.log(1.0 / threshold)
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", "source", D.char_shingles(F.col("text")).alias("s")
    ).withColumn("bucket", F.floor(F.log(F.size("s").cast("double")) / F.lit(log_inv_t)))
    # Probe side explodes to the three admissible buckets; build side keeps
    # its own bucket. Each qualifying pair matches on exactly one probe value.
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "source",
        F.col("s").alias("s_a"),
        F.explode(
            F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1)
        ).alias("probe_bucket"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("s").alias("s_b"),
        F.col("bucket").alias("bucket_b"),
    )
    size_ratio_ok = (
        F.least(F.size("s_a"), F.size("s_b")).cast("double")
        / F.greatest(F.size("s_a"), F.size("s_b"))
    ) >= threshold
    jac = F.size(F.array_intersect("s_a", "s_b")).cast("double") / F.size(
        F.array_union("s_a", "s_b")
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("probe_bucket") == F.col("bucket_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        # cheap exact size-ratio cut before the wide array intersect
        .filter(size_ratio_ok)
        .withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


@query(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({D.sql_char_shingles("text")}) AS shingle
        FROM documents WHERE doc_id < 50
    ),
    hashed AS (SELECT doc_id, {D.sql_base_hash_31("shingle")} AS h FROM sh),
    seeds AS (
        SELECT * FROM (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.hash_coefficients(8)))})
               AS t(seed, a, b)
    )
    SELECT doc_id, CAST(seed AS INTEGER) AS seed,
           min((a * h + b) % {D.MERSENNE_31}) AS minhash
    FROM hashed CROSS JOIN seeds
    GROUP BY doc_id, seed
    """,
    doc=(
        "MinHash signatures (8 hashes, universal family over an md5-derived "
        "31-bit base hash): engine-portable arithmetic, so the signature "
        "itself is oracle-checked bit-for-bit. Linear explode + one groupBy."
    ),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return D.minhash_signatures(docs, n_hashes=8)


@query(
    "dedup_minhash_lsh_pairs",
    oracle=None,  # banding uses sha2-of-struct-JSON band keys (Spark-side
    # representation); recall/precision are property-tested in tests/test_llm.py.
    doc=(
        "MinHash LSH near-dup pairs: 24 hashes in 4 bands of 6 — the "
        "s-curve midpoint (1/4)^(1/6) ~= 0.79 targets the standard j~0.8 "
        "near-dup setting, and sharper bands cut false candidates ~25x "
        "vs 4-row bands on this corpus. Candidates join on band "
        "signatures, then exact shingle-Jaccard verification (threshold "
        "0.3, so moderately-similar collided pairs still surface)."
    ),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, n_hashes=24, band_size=6, jaccard_threshold=0.3)


@query(
    "dedup_simhash",
    oracle=None,  # xxhash64 is Spark-private; determinism + hamming props
    # covered in tests/test_llm.py.
    doc="64-bit SimHash per document (token-hash sign aggregation).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select("doc_id", D.simhash64(F.col("text")).alias("simhash"))


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({S.sql_cosine("a.embedding", "b.embedding")}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({S.sql_cosine("a.embedding", "b.embedding")}, 6) >= 0.5
    """,
    doc=(
        "Embedding-cosine near-dup pairs, blocked by label (at scale the "
        "blocking key is an LSH bucket — see similarity_lsh_topk). Double-"
        "precision sequential dot products on both engines."
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # norms attach per ROW before the pair join — cosine() per pair would
    # re-derive both operand norms, tripling the interpreted-HOF work on
    # the pair stream (same fix as brute_force_topk / lsh_topk); the float
    # ops on each pair are unchanged: dot / (norm_a * norm_b).
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        F.col("embedding").alias("e_a"),
        S.norm(F.col("embedding")).alias("__na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("e_b"),
        S.norm(F.col("embedding")).alias("__nb"),
    )
    cos = F.round(
        S.dot(F.col("e_a"), F.col("e_b")) / (F.col("__na") * F.col("__nb")), 6
    )
    # Optimization r15 (guide §4.4's duplication problem, on a Catalyst
    # HOF instead of a UDF): `select(cos).filter(cos >= t)` lets the
    # optimizer push the threshold below the projection — into the join
    # condition here — so every candidate pair evaluated the interpreted
    # HOF dot TWICE (once in the join filter, once in the output project;
    # plans/r15/dedup_embedding_cosine_before.txt has 4 `aggregate(
    # zip_with`, 2 of them the duplicated dot). Routing the score through
    # a Generate — explode(filter(array(cos), s -> s >= t)) — evaluates
    # the dot ONCE per pair inside the generator (a pushdown barrier) and
    # emits exactly the rows the filter kept, with identical values: the
    # HOF filter compares the same rounded double against the same
    # threshold, and NULL scores are dropped either way.
    return a.join(
        b, (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b"))
    ).select(
        "id_a",
        "id_b",
        F.explode(F.filter(F.array(cos), lambda s: s >= F.lit(0.5))).alias(
            "cos_sim"
        ),
    )


# ------------------------------------------------------ similarity search


@query(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round({S.sql_cosine("q.qe", "c.embedding")}, 6) AS cos_sim
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
    doc=(
        "Exact cosine top-10 for 5 query vectors: broadcast queries against "
        "the corpus (linear scan), per-query window for the cut. The "
        "oracle-checkable baseline for ANN variants."
    ),
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(queries_df, emb, k=10)


def _lsh_topk_oracle(k: int = 5, n_planes: int = 4, n_tables: int = 8, dim: int = 64) -> str:
    """Full SQL replica of S.lsh_topk: the hyperplanes are deterministic
    (LCG) and embedded as literal lists, bucket bits come from the same
    sign tests, candidates from the same (table, bucket) self-join, and
    the re-rank is the shared rounded-cosine + id tiebreak — so even the
    APPROXIMATE ANN path is hash-matched, not just recall-tested."""
    arms = []
    for t in range(n_tables):
        planes = S.random_hyperplanes(dim, n_planes, seed=42 + 1000 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{', '.join(repr(x) for x in plane)}]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)
        )
        arms.append(f"SELECT vec_id, embedding, {t} AS t, {bits} AS b FROM v")
    union = "\n        UNION ALL ".join(arms)
    cos = S.sql_cosine("q.embedding", "n.embedding")
    return f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    bkt AS (
        {union}
    ),
    cand AS (
        SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
        FROM bkt l JOIN bkt r
          ON l.t = r.t AND l.b = r.b AND l.vec_id <> r.vec_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id, round({cos}, 6) AS cos_sim
        FROM cand c
        JOIN v q ON q.vec_id = c.query_id
        JOIN v n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= {k}
    """


@query(
    "similarity_lsh_topk",
    oracle=_lsh_topk_oracle(),
    doc=(
        "ANN top-k via random-hyperplane LSH buckets: within-bucket scoring "
        "only — the 100 TB path replacing the O(n^2) cross join. The "
        "hyperplanes are deterministic, so the WHOLE approximate pipeline "
        "(bucketing, candidate join, rounded-cosine re-rank) is "
        "hash-matched against a full DuckDB replica, plus the recall-vs-"
        "brute-force property test."
    ),
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, k=5, n_planes=4, n_tables=8)


@query(
    "similarity_ivf_topk",
    oracle=None,  # approximate: cell boundaries depend on the k-means fit;
    # recall vs brute force asserted in tests/test_llm.py.
    doc=(
        "ANN top-k via IVF (k-means cells + multi-probe): each corpus "
        "vector sits in one cell, queries probe their 4 nearest of 16 "
        "cells — one equi-join on cell id instead of a cross join."
    ),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return S.ivf_topk(emb, k=5, n_centroids=16, n_probes=4, queries=queries_df)


def _ivf_scratch_path(sf_dir: str) -> str:
    """Versioned scratch path for the persisted incremental IVF index."""
    return scratch_dir("ivf_inc", os.path.join(sf_dir, "embeddings*"))


@query(
    "similarity_ivf_incremental",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
    u AS (
        SELECT vec_id,
               list_transform(ed, x -> x / sqrt(list_dot_product(ed, ed))) AS v
        FROM e
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM u WHERE vec_id < 3),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, c.v), 6) AS cos_sim
        FROM q CROSS JOIN u c
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """,
    doc=(
        "Incremental IVF serving-index maintenance, end-to-end oracled: "
        "the corpus (vec_id %% 10 != 0) is built into a persisted "
        "cell-partitioned IVF index (functions/similarity.py:"
        "write_ivf_index), the remaining vectors are APPENDED without a "
        "refit (append_ivf_index — nearest-existing-centroid broadcast "
        "assignment, O(batch x n_centroids), layout contract preserved), "
        "and 3 query vectors are served from the combined index probing "
        "ALL cells — which is exactly brute-force cosine top-5 over "
        "corpus+batch regardless of where k-means drew its cells, so the "
        "whole build+append+probe pipeline hash-matches a DuckDB replica "
        "(unit-normalize per element, then sequential dot — the same "
        "arithmetic order the index stores and the probe computes). "
        "Partition-pruned sub-all-cells probes are covered by property "
        "tests (tests/test_scale_ops.py); the 3-row query gather and the "
        "n_centroids-row centroid read are bounded driver reads by "
        "design (index-header-sized)."
    ),
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_centroids = 8
    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)

    def _build(tmp: str) -> None:
        S.write_ivf_index(corpus, tmp, n_centroids=n_centroids)
        S.append_ivf_index(batch, tmp)

    path = publish_once(_ivf_scratch_path(sf_dir), _build)
    qrows = emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    parts = [
        S.probe_ivf_index(
            spark, path, [float(x) for x in r.embedding], k=5, n_probes=n_centroids
        ).select(
            F.lit(r.vec_id).alias("query_id"), "neighbor_id", "cos_sim", "rnk"
        )
        for r in sorted(qrows, key=lambda r: r.vec_id)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ----------------------------------------------------------- text analysis


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({T.sql_tokens('text')}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({T.sql_tokens('text')})) AS INTEGER) AS n_distinct,
           round(CAST(len(list_distinct({T.sql_tokens('text')})) AS DOUBLE)
                 / greatest(len({T.sql_tokens('text')}), 1), 6) AS ttr,
           CAST(length(text) AS INTEGER) AS n_chars_computed,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / greatest(len({T.sql_tokens('text')}), 1), 6) AS mean_token_len
    FROM documents
    """,
    doc=(
        "Token statistics: counts, type-token ratio, char counts, mean "
        "token length — whitespace+regex tokenizer, all JVM expressions."
    ),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    dtoks = T.distinct_tokens(F.col("text"))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(dtoks).alias("n_distinct"),
        F.round(F.size(dtoks).cast("double") / n_tok, 6).alias("ttr"),
        F.length("text").alias("n_chars_computed"),
        F.round(
            F.length(F.replace("text", F.lit(" "), F.lit(""))).cast("double") / n_tok, 6
        ).alias("mean_token_len"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           round({T.sql_lang_score('text', 'en')}, 6) AS score_en,
           {T.sql_predicted_lang('text')} AS predicted_lang
    FROM documents
    """,
    doc=(
        "Language-ID heuristic: per-language stopword coverage, argmax with "
        "a fixed tie order — the same arithmetic on both engines."
    ),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.round(T.lang_scores(F.col("text"))["en"], 6).alias("score_en"),
        T.predicted_lang(F.col("text")).alias("predicted_lang"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, {T.sql_quality_score('text')} AS quality
    FROM documents
    """,
    doc=(
        "Composite quality score: length saturation + stopword coverage + "
        "punctuation penalty (deterministic weighted sum)."
    ),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {T.sql_fingerprint('text')} AS fingerprint
    FROM documents
    """,
    doc="Content fingerprint: md5 of whitespace-normalized lowercase text.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
    doc=(
        "TF-IDF top-3 terms per document, built from explode + two "
        "aggregations + a window — no MLlib, fully oracle-checkable. "
        "idf = ln((N+1)/(df+1)); integer inputs make the doubles "
        "deterministic across engines."
    ),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms_plan(spark, sf_dir, skew_safe=False)


def tfidf_top_terms_plan(
    spark: SparkSession, sf_dir: str, skew_safe: bool = False
) -> DataFrame:
    """TF-IDF top-3 terms per doc; two physical strategies, one result.

    skew_safe=False (registered default — right for near-uniform
    vocabularies like the test corpus): repartition the TOKEN stream by
    term up front. HashPartitioning on a SUBSET of the grouping keys
    satisfies ClusteredDistribution, so this single exchange serves BOTH
    the (doc_id, term) tf aggregate and the df window over term — 2
    shuffles total instead of 3 (tf-keyed, then a full re-shuffle+sort
    of tf by term). The trade is shuffling raw token occurrences instead
    of map-side-combined tf pairs; measured (tools/tfidf_variants.py,
    idle box): wins 18% at sf0.1 and 30% at sf1. The broadcast-df
    variant was measured slower and is an unbounded-vocabulary size
    risk.

    skew_safe=True (the escape hatch for natural-language Zipf
    vocabularies at cluster scale): the window-over-term plan puts EVERY
    raw occurrence of a term in one partition, and AQE cannot split
    window partitions (OptimizeSkewedJoin covers joins; skew-aware
    rebalance covers rebalance nodes; nothing covers the
    ClusteredDistribution a Window requires) — so the hot term's task
    grows linearly with corpus x hot-share and can never be subdivided.
    Measured (tools/tfidf_skew.py, 60M-token Zipf(1.2) corpus, top term
    19.9% of occurrences; BASELINE.md round-8 table): the term-clustered
    stage straggles at 2.15x max/median task runtime while every
    fallback stage stays <=1.8x; overall wall is a tie at this size
    (12.4s vs 12.1s median) because the straggler is still only ~10s —
    at 1000 executors the median task shrinks and the unsplittable hot
    task does not, so the ratio IS the slowdown. The fallback never
    materializes the raw hot-term occurrence list: tf comes from the
    (doc_id, term) hash aggregate (partial aggregation caps a hot term
    at one row per doc), df from a SECOND partial aggregate on term
    (caps at one row per term per map task), joined back to tf — the
    one term-keyed step left, and a join is exactly the shape AQE's
    skew handling splits once it crosses the size thresholds (it stays
    under them at local test sizes precisely because the partial aggs
    already collapsed 11.9M raw occurrences to 600k rows)."""
    # Widen an under-split documents scan before tokenize+explode: the
    # map side of the term exchange otherwise writes the whole token
    # stream from 1-2 scan tasks (measured 21% end-to-end at sf1 — see
    # functions/dedup._widen_if_undersplit for the rule and its 100 TB
    # no-op behavior).
    docs = D._widen_if_undersplit(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    # Corpus cardinality comes from catalog statistics (parquet footer
    # row counts — identical to what count(*) answers) and is embedded as
    # a literal: no extra count job, exchange, or broadcast in the plan.
    n_docs = tables.table_rowcount(sf_dir, "documents")
    if skew_safe:
        tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        scored = tf.join(dfreq, "term").select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6).alias("tfidf"),
        )
    else:
        toks = toks.repartition("term")
        tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        df_w = Window.partitionBy("term")
        scored = tf.withColumn("df", F.count(F.lit(1)).over(df_w)).select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6).alias("tfidf"),
        )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


# ------------------------------------------------------------- multimodal


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
           sha256(text) AS payload_sha256,
           substring(text, 1, 4) AS magic_prefix
    FROM documents
    """,
    doc=(
        "Multimodal column plumbing: treat content as an opaque binary "
        "payload with typed metadata (byte length, checksum, magic bytes). "
        "The decode stage is a Pandas-UDF stub — see "
        "parquet_exporter_spark/operators/multimodal.py and tests/test_llm.py."
    ),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")  # binary column, as an image/audio blob would be
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("payload_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
        F.substring("text", 1, 4).alias("magic_prefix"),
    )


@query(
    "text_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
        FROM documents
    ),
    bigrams AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i + 1]
                       for i in generate_series(1, len(t) - 1)]) AS bigram
        FROM toks
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    doc=(
        "Word n-gram (bigram) extraction + frequency top-20: zip each "
        "token with its successor via a positional transform — narrow op, "
        "one small aggregation shuffle."
    ),
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@query(
    "dedup_simhash_portable",
    oracle=f"""
    SELECT doc_id, {D.sql_simhash32('text')} AS simhash32
    FROM documents
    """,
    doc=(
        "32-bit SimHash with an engine-portable md5 token hash — unlike "
        "dedup_simhash (xxhash64, rows-only), this variant is oracle-"
        "checked bit-for-bit. Computed narrow: the hashed-token array "
        "binds once as a lambda variable; zero shuffles."
    ),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", D.simhash32_portable(F.col("text")).alias("simhash32"))


@query(
    "multimodal_resize",
    oracle=None,  # binary pixel buffers are stub-decoder output; shape and
    # determinism asserted in tests/test_llm.py.
    doc=(
        "Image-resize stage over mapInPandas: payload -> fixed 8x8 pixel "
        "buffer (BinaryType, Arrow zero-copy). Codec stubbed — the real "
        "path calls Pillow at the marked boundary."
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators.multimodal import attach_payload, resize_images

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return resize_images(attach_payload(docs))


@query(
    "multimodal_frame_sample",
    oracle=None,  # 1->many fan-out over stub frames; counts asserted in
    # tests/test_llm.py.
    doc=(
        "Video frame-sampling stage over mapInPandas: one payload row fans "
        "out to one row per sampled frame (output batch length decoupled "
        "from input batch length — the plumbing video pipelines need)."
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators.multimodal import attach_payload, sample_frames

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return sample_frames(attach_payload(docs), every_n=4)


@query(
    "multimodal_audio_energy",
    oracle=None,  # windowed RMS over stub-PCM bytes; window counts and
    # energy bounds asserted in tests/test_llm.py.
    doc=(
        "Audio feature stage over mapInPandas: payload framed into "
        "overlapping windows (window=64, hop=32), per-window RMS energy — "
        "the VAD/loudness framing an audio pipeline applies before any "
        "model. Codec stubbed at the marked boundary."
    ),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators.multimodal import (
        attach_payload,
        audio_window_energy,
    )

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return audio_window_energy(attach_payload(docs))


@query(
    "emb_l2_normalize",
    oracle=f"""
    SELECT vec_id,
           round(sqrt({S.sql_dot("embedding", "embedding")}), 6) AS l2_norm,
           array_to_string(
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(1000000 * x /
                                        sqrt({S.sql_dot("embedding", "embedding")}))
                                        AS BIGINT)),
               ',') AS unit_vec
    FROM embeddings
    """,
    doc=(
        "L2 normalization of the embedding column (the standard prep "
        "before cosine ANN: normalized vectors reduce cosine to a dot "
        "product). Pure per-row lambda — narrow, no shuffle; double-"
        "precision sequential norm on both engines. The unit vector is "
        "serialized as comma-joined 1e6-scaled integers: integer "
        "formatting is engine-stable and the driver canonicalizer "
        "requires scalar (hashable) cells."
    ),
)
def emb_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    nrm = S.norm(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(nrm, 6).alias("l2_norm"),
        F.array_join(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(F.lit(1000000) * x.cast("double") / nrm).cast("bigint"),
            ),
            ",",
        ).alias("unit_vec"),
    )


@query(
    "multimodal_image_ahash",
    oracle=None,  # perceptual hash over the stub decode; determinism,
    # bit-range, and near-dup Hamming behavior asserted in tests/test_llm.py.
    doc=(
        "Perceptual average-hash for image near-dedup: 8x8 stub-resize -> "
        "bit per pixel-above-mean -> 64-bit signature "
        "(operators/multimodal.py:image_average_hash). Downstream dedup "
        "reuses the SimHash Hamming-band machinery unchanged; one narrow "
        "Arrow pass, hashing vectorized across each batch."
    ),
)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators.multimodal import (
        attach_payload,
        image_average_hash,
    )

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return image_average_hash(attach_payload(docs))


@query(
    "multimodal_png_roundtrip",
    oracle="""
    SELECT d.doc_id,
           'image/png' AS format,
           CAST(10 AS INTEGER) AS width,
           CAST(10 AS INTEGER) AS height,
           round(avg(CAST((d.doc_id * 7 + g.i * 13) % 256 AS DOUBLE)), 6)
               AS feature_mean
    FROM (SELECT doc_id FROM documents WHERE doc_id < 64) d
    CROSS JOIN generate_series(0, 99) g(i)
    GROUP BY d.doc_id
    """,
    doc=(
        "REAL image codec end-to-end, oracle-checked: each doc renders a "
        "deterministic 10x10 grayscale image (pixel_i = (doc_id*7 + "
        "i*13) % 256), encodes it as a genuine spec-compliant PNG "
        "(operators/codecs.py encode_png: zlib, CRC chunks), then "
        "decode_features(decode_stub=False) parses the PNG back — chunk "
        "walk, inflate, scanline unfilter — and reports real "
        "width/height/mean-pixel. The oracle computes the expected mean "
        "arithmetically in SQL, so a hash match PROVES the codec "
        "round-trip is lossless (any decode defect shifts feature_mean). "
        "Both stages are Arrow-batched mapInPandas — per-row Python cost "
        "confined to the codec boundary, no shuffle anywhere."
    ),
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators import codecs
    from parquet_exporter_spark.operators.multimodal import decode_features

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )

    def render(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = [
                codecs.encode_png(
                    ((int(doc_id) * 7 + np.arange(100, dtype=np.int64) * 13) % 256)
                    .astype(np.uint8)
                    .reshape(10, 10)
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = docs.mapInPandas(render, schema="doc_id long, payload binary")
    return decode_features(payloads, decode_stub=False).select(
        "doc_id",
        "format",
        "width",
        "height",
        F.round("feature_mean", 6).alias("feature_mean"),
    )


@query(
    "multimodal_gif_roundtrip",
    oracle="""
    SELECT d.doc_id,
           'image/gif' AS format,
           CAST(10 AS INTEGER) AS width,
           CAST(10 AS INTEGER) AS height,
           round(avg(CAST((d.doc_id * 11 + g.i * 17) % 256 AS DOUBLE)), 6)
               AS feature_mean
    FROM (SELECT doc_id FROM documents WHERE doc_id < 64) d
    CROSS JOIN generate_series(0, 99) g(i)
    GROUP BY d.doc_id
    """,
    doc=(
        "REAL GIF codec end-to-end, oracle-checked: each doc renders a "
        "deterministic 10x10 grayscale image (pixel_i = (doc_id*11 + "
        "i*17) % 256), encodes it as a genuine spec-compliant GIF89a "
        "(operators/codecs.py encode_gif: 256-gray global color table, "
        "real LZW compression with 12-bit dictionary growth and clear "
        "codes), then decode_features(decode_stub=False) parses it back "
        "— sub-block framing, LSB-first LZW decode, palette lookup — "
        "and reports real width/height/mean-pixel. GIF is lossless for "
        "paletted content, so the SQL oracle computes the expected mean "
        "arithmetically and a hash match PROVES the round-trip "
        "(completes the stdlib codec family: PNG, JPEG, BMP, WAV, GIF). "
        "Arrow-batched mapInPandas stages, zero shuffles."
    ),
)
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators import codecs
    from parquet_exporter_spark.operators.multimodal import decode_features

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )

    def render(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = [
                codecs.encode_gif(
                    ((int(doc_id) * 11 + np.arange(100, dtype=np.int64) * 17) % 256)
                    .astype(np.uint8)
                    .reshape(10, 10)
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = docs.mapInPandas(render, schema="doc_id long, payload binary")
    return decode_features(payloads, decode_stub=False).select(
        "doc_id",
        "format",
        "width",
        "height",
        F.round("feature_mean", 6).alias("feature_mean"),
    )


@query(
    "multimodal_wav_roundtrip",
    oracle="""
    SELECT d.doc_id,
           'audio/wav' AS format,
           CAST(160 AS INTEGER) AS n_frames,
           CAST(1 AS INTEGER) AS n_channels,
           round(avg(CAST(abs((d.doc_id * 31 + g.i * 97) % 2001 - 1000)
                          AS DOUBLE)) / 32768.0, 6) AS mean_abs_sample
    FROM (SELECT doc_id FROM documents WHERE doc_id < 64) d
    CROSS JOIN generate_series(0, 159) g(i)
    GROUP BY d.doc_id
    """,
    doc=(
        "REAL audio codec end-to-end, oracle-checked: each doc "
        "synthesizes 160 deterministic PCM16 samples (k_i = (doc_id*31 + "
        "i*97) % 2001 - 1000, fed as k_i/32767 so quantization is "
        "exact), encodes a genuine RIFF/WAVE file "
        "(operators/codecs.py encode_wav), then "
        "decode_features(decode_stub=False) parses it back via the "
        "stdlib wave framing and reports (n_frames, n_channels, "
        "mean |sample|). Decoded samples are k_i/32768 exactly "
        "(integers < 2^24 scale exactly in binary floating point), so "
        "the SQL oracle reproduces the mean bit-for-bit — a hash match "
        "proves the PCM round-trip. Arrow-batched mapInPandas stages, "
        "zero shuffles."
    ),
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators import codecs
    from parquet_exporter_spark.operators.multimodal import decode_features

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )

    def render(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                k = (int(doc_id) * 31 + np.arange(160, dtype=np.int64) * 97) % 2001 - 1000
                payloads.append(codecs.encode_wav(k / 32767.0, rate=16000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = docs.mapInPandas(render, schema="doc_id long, payload binary")
    return decode_features(payloads, decode_stub=False).select(
        "doc_id",
        "format",
        F.col("width").alias("n_frames"),
        F.col("height").alias("n_channels"),
        F.round("feature_mean", 6).alias("mean_abs_sample"),
    )


@query(
    "multimodal_jpeg_roundtrip",
    oracle="""
    SELECT doc_id,
           'image/jpeg' AS format,
           CAST(16 AS INTEGER) AS width,
           CAST(12 AS INTEGER) AS height,
           TRUE AS err444_ok,
           TRUE AS err420_ok,
           TRUE AS deterministic
    FROM documents WHERE doc_id < 64
    """,
    doc=(
        "REAL JPEG codec end-to-end, oracle-checked with a bounded-error "
        "verdict (JPEG is lossy, so byte equality is the wrong oracle): "
        "each doc renders a deterministic 12x16 gradient, encodes it as a "
        "genuine baseline JPEG (operators/codecs.py encode_jpeg: DCT, "
        "Annex K tables, Huffman entropy coding) at 4:4:4 gray AND 4:2:0 "
        "RGB, decodes both back (marker walk, canonical Huffman decode, "
        "dequantize+IDCT, chroma upsample), and emits booleans: max "
        "pixel error <= 3 (gray 4:4:4), <= 12 (RGB 4:2:0 across a wrap "
        "discontinuity), and decode-twice determinism. The SQL oracle "
        "states the expected constants, so a hash match PROVES dims, "
        "bounded loss, and determinism per document. Arrow-batched "
        "mapInPandas, zero shuffles."
    ),
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_exporter_spark.operators import codecs
    from parquet_exporter_spark.operators import multimodal  # noqa: F401
    # (importing multimodal registers codecs for cloudpickle by-value
    # serialization, so executors need only numpy/stdlib)

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )

    def roundtrip(it):
        import numpy as np
        import pandas as pd

        rr = np.arange(12)[:, None]
        cc = np.arange(16)[None, :]
        for pdf in it:
            out = []
            for doc_id in pdf["doc_id"]:
                base = int(doc_id) % 100
                gray = (base + rr * 4 + cc * 3).astype(np.uint8)
                jb = codecs.encode_jpeg(gray, 95)
                dec = codecs.decode_jpeg(jb)
                err444 = int(np.abs(dec.astype(int) - gray.astype(int)).max())
                rgb = np.stack(
                    [gray, (gray.astype(int) + 30) % 200,
                     np.full_like(gray, 90)], axis=2
                ).astype(np.uint8)
                jb2 = codecs.encode_jpeg(rgb, 95, subsampling="420")
                dec2 = codecs.decode_jpeg(jb2)
                err420 = int(np.abs(dec2.astype(int) - rgb.astype(int)).max())
                out.append(
                    (
                        int(doc_id),
                        codecs.sniff_format(jb),
                        dec.shape[1],
                        dec.shape[0],
                        err444 <= 3,
                        err420 <= 12,
                        bool((codecs.decode_jpeg(jb) == dec).all()
                             and (codecs.decode_jpeg(jb2) == dec2).all()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "format", "width", "height",
                         "err444_ok", "err420_ok", "deterministic"],
            )

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, format string, width int, height int, "
            "err444_ok boolean, err420_ok boolean, deterministic boolean"
        ),
    )


_LSH_P_HASHES, _LSH_P_BAND = 8, 2


@query(
    "dedup_minhash_lsh_pairs_portable",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {D.sql_char_shingles("text")} AS s FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    hashed AS (SELECT doc_id, {D.sql_base_hash_31("shingle")} AS h FROM ex),
    seeds AS (
        SELECT * FROM (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.hash_coefficients(_LSH_P_HASHES)))})
               AS t(seed, a, b)
    ),
    sig AS (
        SELECT doc_id, seed, min((a * h + b) % {D.MERSENNE_31}) AS mh
        FROM hashed CROSS JOIN seeds
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // {_LSH_P_BAND} AS band,
               array_to_string(list(mh ORDER BY seed), ',') AS band_sig
        FROM sig GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.3
    """,
    doc=(
        "The ENTIRE MinHash-LSH near-dup pipeline — shingle, sign, band, "
        "candidate equi-join, exact-Jaccard verify — on engine-portable "
        "arithmetic, hash-matched against a full DuckDB CTE replica. This "
        "is the correctness witness for the production xxhash64 variant "
        "(dedup_minhash_lsh_pairs), which has the identical shape but "
        "private 64-bit hashing. Band signature is the band's minhash "
        "tuple itself, so no cross-engine hash is ever needed for "
        "candidate generation."
    ),
)
def dedup_minhash_lsh_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_portable(
        docs, n_hashes=_LSH_P_HASHES, band_size=_LSH_P_BAND, jaccard_threshold=0.3
    )


def _incremental_index_path(sf_dir: str) -> str:
    """Versioned scratch path for the corpus band index."""
    return scratch_dir("mh_index", os.path.join(sf_dir, "documents*"))


@query(
    "dedup_incremental_index",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {D.sql_char_shingles("text")} AS s FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    hashed AS (SELECT doc_id, {D.sql_base_hash_31("shingle")} AS h FROM ex),
    seeds AS (
        SELECT * FROM (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.hash_coefficients(_LSH_P_HASHES)))})
               AS t(seed, a, b)
    ),
    sig AS (
        SELECT doc_id, seed, min((a * h + b) % {D.MERSENNE_31}) AS mh
        FROM hashed CROSS JOIN seeds
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // {_LSH_P_BAND} AS band,
               array_to_string(list(mh ORDER BY seed), ',') AS band_sig
        FROM sig GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_sig = b.band_sig
        WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    )
    SELECT c.new_id, c.corpus_id,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.new_id
    JOIN sh sb ON sb.doc_id = c.corpus_id
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.3
    """,
    doc=(
        "Incremental dedup against a PERSISTED LSH band index — the shape "
        "a standing 100 TB corpus actually runs: the corpus (doc_id %% 5 "
        "!= 0 here) is signed once into a band-partitioned parquet index "
        "(functions/dedup.py:write_minhash_band_index, a few dozen bytes "
        "per doc per band, never the text); each ingest batch (doc_id %% "
        "5 == 0) signs ONLY its own docs, equi-joins the index for "
        "candidates, and exact-verifies survivors — corpus text is read "
        "only for candidate ids. Per-increment cost is O(batch + "
        "candidates), not O(corpus): re-pairing the whole corpus per "
        "ingest is what this replaces. Portable hash family, so the "
        "ENTIRE incremental pipeline (index build, probe join, verify) "
        "hash-matches the DuckDB CTE replica."
    ),
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    path = publish_once(
        _incremental_index_path(sf_dir),
        lambda tmp: D.write_minhash_band_index(
            corpus, tmp, n_hashes=_LSH_P_HASHES, band_size=_LSH_P_BAND
        ),
    )
    return D.probe_minhash_band_index(
        spark,
        path,
        batch,
        corpus,
        n_hashes=_LSH_P_HASHES,
        band_size=_LSH_P_BAND,
        jaccard_threshold=0.3,
    )


_SPAN_W = 15  # exact-span window length in tokens


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
        FROM documents
    ),
    eligible AS (SELECT doc_id, t FROM toks WHERE len(t) >= {_SPAN_W}),
    wins AS (
        SELECT doc_id,
               list_distinct([md5(array_to_string(
                   list_slice(t, i, i + {_SPAN_W - 1}), ' '))
                   for i in generate_series(1, len(t) - {_SPAN_W - 1})]) AS whs
        FROM eligible
    ),
    ex AS (SELECT doc_id, unnest(whs) AS wh FROM wins)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared_windows
    FROM ex a JOIN ex b ON a.wh = b.wh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc=(
        f"Exact duplicate-SPAN detection: doc pairs sharing at least one "
        f"identical {_SPAN_W}-token window (every window, stride 1), with "
        f"the count of shared distinct windows — the span-level exact "
        f"substring-dedup signal (the 'deduplicating training data' "
        f"target: long verbatim overlaps that whole-doc Jaccard dilutes "
        f"and MinHash may miss when the rest of the docs differ). Each "
        f"window reduces to one md5, so candidate generation is a "
        f"hash-keyed equi-join — window text never joins. At corpus scale "
        f"the production knob is the df_cap document-frequency cap on hot "
        f"windows (functions/dedup.py:duplicate_span_pairs — bounds any "
        f"single window's pair fan-out to df_cap^2/2, exercised on a "
        f"crafted skewed fixture in tests/test_llm.py); kept uncapped "
        f"here so the DuckDB replica is exact."
    ),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.duplicate_span_pairs(docs, span_w=_SPAN_W, df_cap=None)


def _minhash_est_oracle(n_hashes: int = 16) -> str:
    """Full-SQL replica of the minhash estimator: same shingles, same
    md5-derived base hash, same (a,b) universal family as literals."""
    coeffs = D.hash_coefficients(n_hashes)
    seeds = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    sh = D.sql_char_shingles("text")
    bh = D.sql_base_hash_31("x")
    return f"""
    WITH docs AS (
        SELECT doc_id, {sh} AS sh FROM documents WHERE doc_id < 30
    ),
    hashed AS (
        SELECT doc_id, [{bh} for x in sh] AS hs
        FROM (SELECT doc_id, sh FROM docs WHERE len(sh) > 0)
    ),
    sig AS (
        SELECT doc_id, seed,
               list_min([(a * h + b) % {D.MERSENNE_31} for h in hs]) AS mh
        FROM hashed CROSS JOIN (VALUES {seeds}) AS t(seed, a, b)
    ),
    est AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                   / CAST({n_hashes} AS DOUBLE) AS est_jaccard
        FROM sig a JOIN sig b ON a.seed = b.seed AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.sh, b.sh))
                   / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS true_jaccard
        FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    )
    SELECT e.id_a, e.id_b,
           round(e.est_jaccard, 6) AS est_jaccard,
           round(t.true_jaccard, 6) AS true_jaccard,
           round(abs(e.est_jaccard - t.true_jaccard), 6) AS abs_error
    FROM est e JOIN truth t ON t.id_a = e.id_a AND t.id_b = e.id_b
    WHERE e.est_jaccard > 0 OR t.true_jaccard > 0
    """


@query(
    "dedup_minhash_estimate_error",
    oracle=_minhash_est_oracle(),
    doc=(
        "MinHash estimator calibration: for a bounded pair sample, the "
        "16-hash signature-agreement estimate of Jaccard next to the "
        "TRUE shingle Jaccard and the absolute error — the measurement "
        "that justifies the LSH pipeline's hash count (expected error "
        "~= sqrt(j(1-j)/k)). Both the estimate and the truth are "
        "hash-matched against the DuckDB replica, so the portable "
        "universal-hash family is verified end-to-end, estimator "
        "included."
    ),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_hashes = 16
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    sh = docs.select("doc_id", D.char_shingles(F.col("text")).alias("sh")).filter(
        F.size("sh") > 0
    )
    coeffs = D.hash_coefficients(n_hashes)
    hashed = sh.withColumn("hs", F.transform("sh", D.base_hash_31))

    def seed_min(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % D.MERSENNE_31

    wide = hashed.select(
        "doc_id",
        "sh",
        *[
            F.array_min(F.transform("hs", seed_min(a, b))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )
    a = wide.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)],
    )
    b = wide.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(n_hashes)
    )
    est = matches / F.lit(float(n_hashes))
    true_j = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(est, 6).alias("est_jaccard"),
        F.round(true_j, 6).alias("true_jaccard"),
        F.round(F.abs(est - true_j), 6).alias("abs_error"),
    )
    return pairs.filter((F.col("est_jaccard") > 0) | (F.col("true_jaccard") > 0))


@query(
    "dedup_lsh_s_curve",
    oracle="""
    SELECT c.bands, c.rows_, j.j,
           round(1 - pow(1 - pow(j.j, c.rows_), c.bands), 6) AS p_candidate
    FROM (VALUES (4, 6), (8, 3), (6, 4), (12, 2)) AS c(bands, rows_)
    CROSS JOIN (VALUES (0.1), (0.3), (0.5), (0.7), (0.8), (0.9)) AS j(j)
    """,
    doc=(
        "LSH s-curve tuning table: candidate probability "
        "1-(1-j^r)^b for every (bands, rows) configuration x Jaccard "
        "grid — the design table that justifies dedup_minhash_lsh_pairs' "
        "4x6 choice (threshold ~ (1/b)^(1/r) ~= 0.79) and shows the "
        "precision/recall trade of the alternatives. Pure literal "
        "relations; no scan."
    ),
)
def dedup_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    configs = tiny_df(spark, [(4, 6), (8, 3), (6, 4), (12, 2)], "bands: int, rows_: int")
    js = tiny_df(spark, [(0.1,), (0.3,), (0.5,), (0.7,), (0.8,), (0.9,)], "j: double")
    return configs.crossJoin(js).select(
        "bands",
        "rows_",
        "j",
        F.round(1 - F.pow(1 - F.pow(F.col("j"), F.col("rows_")), F.col("bands")), 6).alias(
            "p_candidate"
        ),
    )


@query(
    "multimodal_dedup_exact",
    oracle="""
    WITH h AS (
        SELECT doc_id, sha256(text) AS payload_sha FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(count(DISTINCT payload_sha) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT payload_sha) AS BIGINT) AS n_duplicates
    FROM h
    """,
    doc=(
        "Exact binary-payload dedup report: sha-256 over the payload "
        "bytes, distinct-count summary — the multimodal twin of "
        "dedup_exact (images/audio dedupe on content hash before any "
        "decode; only 32-byte digests ever shuffle). Payload = utf-8 "
        "bytes of the text column here, same plumbing as "
        "multimodal_binary_meta."
    ),
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    h = docs.select(F.sha2(F.col("text").cast("binary"), 256).alias("payload_sha"))
    return h.agg(
        F.count(F.lit(1)).cast("long").alias("n_payloads"),
        F.countDistinct("payload_sha").cast("long").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("payload_sha")).cast("long").alias("n_duplicates"),
    )


@query(
    "dedup_prefix_exact",
    oracle="""
    WITH p AS (
        SELECT doc_id, md5(substring(text, 1, 100)) AS prefix_hash
        FROM documents WHERE length(text) >= 20
    )
    SELECT prefix_hash, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM p GROUP BY 1 HAVING count(*) > 1
    """,
    doc=(
        "Prefix-duplicate detection: documents sharing their first 100 "
        "characters — catches the truncation/continuation duplicates "
        "that whole-document hashing (dedup_exact) misses and that are "
        "endemic in scraped corpora (same article, different cutoffs). "
        "Only 16-byte prefix hashes shuffle; the min-doc_id keeper "
        "matches dedup_near_keep_canonical's convention."
    ),
)
def dedup_prefix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(F.length("text") >= 20)
    p = docs.select("doc_id", F.md5(F.substring("text", 1, 100)).alias("prefix_hash"))
    return (
        p.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "dedup_blocking_stats",
    oracle="""
    WITH blocks AS (
        SELECT lang, source,
               CAST(floor(ln(greatest(n_chars, 1)) / ln(2)) AS INTEGER) AS len_band,
               count(*) AS n_docs
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang, source, len_band, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_pairs,
           n_docs > 1000 AS oversized
    FROM blocks
    """,
    doc=(
        "Blocking-efficiency audit: occupancy and implied pair count of "
        "every (lang, source, log2-length-band) dedup block, with an "
        "oversized flag — the governance query that decides whether the "
        "exact-verify stage's quadratic blocks are safe or need LSH "
        "pre-banding (the scale risk the round-1 verdict flagged on "
        "dedup_ngram_jaccard, now measurable). One partial-agg scan."
    ),
)
def dedup_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    band = F.floor(
        F.log(F.greatest(F.col("n_chars"), F.lit(1)).cast("double")) / F.log(F.lit(2.0))
    ).cast("int")
    blocks = docs.groupBy("lang", "source", band.alias("len_band")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return blocks.select(
        "lang",
        "source",
        "len_band",
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long").alias("n_pairs"),
        (F.col("n_docs") > 1000).alias("oversized"),
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS canon
        FROM documents
    )
    SELECT sha256(canon) AS canon_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM norm
    GROUP BY 1
    """,
    doc=(
        "Normalized exact dedup (the C4/CCNet 'fuzzy-lite' stage between "
        "byte-exact and MinHash): canonicalize text — lowercase, strip "
        "punctuation to spaces, collapse whitespace — THEN hash-group, so "
        "casing/punctuation/spacing variants of the same content "
        "collapse. Catches the large class of trivial near-dups (quoted "
        "reposts, smart-quote variants) at exact-dedup cost: one shuffle "
        "of 32-byte digests, no candidate generation at all. The "
        "normalization is per-row Catalyst regexp (RE2/Java-compatible "
        "character classes, 'g' on the DuckDB side = Spark's default "
        "replace-all), so both engines produce byte-identical canon "
        "strings and therefore identical sha-256 groups."
    ),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        docs.select("doc_id", canon.alias("canon"))
        .groupBy(F.sha2("canon", 256).alias("canon_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH grams AS (
        SELECT DISTINCT doc_id, g
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS g
            FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '') AS toks
                FROM documents
            )
        )
    ),
    firsts AS (
        SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1.0 ELSE 0 END)
                 / count(*), 6) AS novelty
    FROM grams gr JOIN firsts f ON gr.g = f.g
    GROUP BY gr.doc_id
    """,
    doc=(
        "N-gram novelty per document: the fraction of a doc's distinct "
        "word trigrams whose FIRST occurrence (min doc_id = corpus order) "
        "is this doc — the standard diversity/memorization diagnostic "
        "for training corpora (a low-novelty tail is re-crawled or "
        "templated content that inflates token counts without adding "
        "signal; the curve also calibrates how much dedup is left to "
        "do). Shape: tokenize + trigram explode (distinct per doc), one "
        "gram-keyed shuffle to find each gram's first doc, then a "
        "doc-keyed re-aggregate — the tfidf shuffle pattern, linear in "
        "corpus token count, no self-join. Spark window min over the "
        "gram key and DuckDB's group-min are the same computation."
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    # Guard: Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty
    # (DuckDB's range(1, 1) IS empty) — docs under 3 tokens must produce
    # an explicitly empty index array or element_at walks off the end.
    n_toks = F.size(toks)
    idx = F.when(n_toks >= 3, F.sequence(F.lit(1), n_toks - 2)).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                    ),
                )
            ).alias("g"),
        )
        .distinct()
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("g"))
    scored = grams.withColumn("first_doc", first_doc)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
        .cast("long")
        .alias("n_novel"),
        F.round(
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("double"))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty"),
    )


def _bbit_oracle(n_hashes: int = 16, b_mod: int = 4) -> str:
    """b-bit minhash replica: same signatures as the estimator query,
    compared on only the low b bits (mod 2^b), with the Li-Konig
    collision correction as shared literal arithmetic."""
    coeffs = D.hash_coefficients(n_hashes)
    seeds = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    sh = D.sql_char_shingles("text")
    bh = D.sql_base_hash_31("x")
    c = 1.0 / b_mod
    return f"""
    WITH docs AS (
        SELECT doc_id, {sh} AS sh FROM documents WHERE doc_id < 30
    ),
    hashed AS (
        SELECT doc_id, sh, [{bh} for x in sh] AS hs
        FROM docs WHERE len(sh) > 0
    ),
    sig AS (
        SELECT doc_id, sh, seed,
               list_min([(a * h + b) % {D.MERSENNE_31} for h in hs]) AS mh
        FROM hashed CROSS JOIN (VALUES {seeds}) AS t(seed, a, b)
    ),
    agree AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(CASE WHEN a.mh % {b_mod} = b.mh % {b_mod} THEN 1 ELSE 0 END)
                   / CAST({n_hashes} AS DOUBLE) AS bbit_frac,
               sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                   / CAST({n_hashes} AS DOUBLE) AS full_frac
        FROM sig a JOIN sig b ON a.seed = b.seed AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.sh, b.sh))
                   / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS tj
        FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    )
    SELECT g.id_a, g.id_b,
           round(g.bbit_frac, 6) AS bbit_match_frac,
           round(greatest((g.bbit_frac - {c!r}) / (1 - {c!r}), 0.0), 6)
               AS est_bbit_corrected,
           round(g.full_frac, 6) AS est_full,
           round(t.tj, 6) AS true_jaccard
    FROM agree g JOIN truth t ON t.id_a = g.id_a AND t.id_b = g.id_b
    WHERE g.full_frac > 0 OR t.tj > 0
    """


@query(
    "dedup_minhash_bbit_estimate",
    oracle=_bbit_oracle(),
    doc=(
        "b-bit minhash (Li & Konig 2010): store only the lowest b=2 bits "
        "of each minhash — a 64x signature-storage cut vs 64-bit values, "
        "THE knob when the dedup index for a 100 TB corpus must itself "
        "stay cheap (2 bits x 16 hashes = 4 bytes/doc). Random b-bit "
        "collisions inflate raw agreement, so the estimator subtracts "
        "the known collision floor C=1/2^b: J_hat = (frac - C)/(1 - C), "
        "clamped at 0. Emits the raw b-bit fraction, the corrected "
        "estimate, the full-width estimate, and true Jaccard side by "
        "side for the same bounded pair sample as "
        "dedup_minhash_estimate_error — the whole calibration "
        "hash-matches the DuckDB replica."
    ),
)
def dedup_minhash_bbit_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_hashes, b_mod = 16, 4
    c = 1.0 / b_mod
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    sh = docs.select("doc_id", D.char_shingles(F.col("text")).alias("sh")).filter(
        F.size("sh") > 0
    )
    coeffs = D.hash_coefficients(n_hashes)
    hashed = sh.withColumn("hs", F.transform("sh", D.base_hash_31))

    def seed_min(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % D.MERSENNE_31

    wide = hashed.select(
        "doc_id",
        "sh",
        *[
            F.array_min(F.transform("hs", seed_min(a, b))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )
    a = wide.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)],
    )
    b = wide.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)],
    )
    bbit = sum(
        F.when(F.col(f"a_{i}") % b_mod == F.col(f"b_{i}") % b_mod, 1).otherwise(0)
        for i in range(n_hashes)
    ) / F.lit(float(n_hashes))
    full = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    ) / F.lit(float(n_hashes))
    true_j = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(bbit, 6).alias("bbit_match_frac"),
        F.round(
            F.greatest((bbit - F.lit(c)) / (1 - c), F.lit(0.0)), 6
        ).alias("est_bbit_corrected"),
        F.round(full, 6).alias("est_full"),
        F.round(true_j, 6).alias("true_jaccard"),
    )
    return pairs.filter((F.col("est_full") > 0) | (F.col("true_jaccard") > 0))


def _recall_eval_oracle(k: int = 5, n_queries: int = 20) -> str:
    cos = S.sql_cosine("q.qe", "c.embedding")
    return f"""
    WITH lsh AS ({_lsh_topk_oracle(k=k)}),
    brute AS (
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
                   WHERE vec_id < {n_queries}),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   round({cos}, 6) AS cos_sim
            FROM q JOIN embeddings c ON c.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {k}
    ),
    l2 AS (SELECT query_id, neighbor_id FROM lsh WHERE query_id < {n_queries})
    SELECT b.query_id,
           CAST(count(l2.neighbor_id) AS BIGINT) AS hits,
           round(count(l2.neighbor_id) / {float(k)!r}, 6) AS recall_at_k
    FROM brute b LEFT JOIN l2
      ON l2.query_id = b.query_id AND l2.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@query(
    "similarity_recall_eval",
    oracle=_recall_eval_oracle(),
    doc=(
        "ANN quality evaluation as a first-class operator: per-query "
        "recall@5 of the hyperplane-LSH path against exact brute force "
        "for a bounded query sample — the measurement that decides "
        "whether an approximate index is SERVABLE before it replaces the "
        "exact path in production (run it per index build; alert when "
        "recall drifts below target). Both legs are deterministic "
        "(literal hyperplanes; rounded-cosine + id tiebreaks), so the "
        "evaluation itself — hits and recall per query — hash-matches a "
        "full DuckDB replica of BOTH pipelines. Scale: the brute leg is "
        "|sample| x corpus with the sample broadcast, the LSH leg is "
        "bucket-bounded; the sample size is the cost knob."
    ),
)
def similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, n_queries = 5, 20
    emb = read_table(spark, sf_dir, "embeddings")
    lsh = (
        S.lsh_topk(emb, k=k, n_planes=4, n_tables=8)
        .filter(F.col("query_id") < n_queries)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    brute = S.brute_force_topk(emb.filter(F.col("vec_id") < n_queries), emb, k=k)
    return (
        brute.select("query_id", "neighbor_id")
        .join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").alias("hits"),
            F.round(F.count("__hit") / float(k), 6).alias("recall_at_k"),
        )
    )
