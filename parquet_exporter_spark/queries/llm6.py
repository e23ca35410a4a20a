"""Training-data pipeline operators, part 6: data selection (DSIR),
semantic dedup (SemDeDup), perplexity quality buckets (CCNet), and
fixed-radius similarity search.

These cover the corpus-curation techniques published for LLM pre-training
data that the earlier llm modules don't yet express:

- DSIR (Xie et al., "Data Selection for Language Models via Importance
  Resampling", 2023): rank raw documents by how much more likely their
  hashed-n-gram features are under a target-domain distribution than
  under the raw-corpus distribution.
- SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
  web-scale through semantic deduplication", 2023): cluster embeddings,
  then search for near-duplicate pairs ONLY within a cluster — the
  clustering bounds the pairwise work that a naive O(n^2) cosine sweep
  can't survive at 100 TB.
- CCNet-style perplexity bucketing (Wenzek et al., 2020): split the
  corpus into head/middle/tail quality tiers by language-model score.

Everything is built-in Catalyst expressions — no Python UDFs — with the
shuffle structure noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_exporter_spark.functions import similarity as S
from parquet_exporter_spark.functions import text as T
from parquet_exporter_spark.operators.pq import nearest_centroid
from parquet_exporter_spark.registry import query
from parquet_exporter_spark.tables import read_table

_TOK = T.sql_tokens("text")

# DSIR hashed-feature space: unigrams hashed into this many buckets. The
# paper uses 10k buckets over uni+bigrams; 64 keeps the oracle's bucket
# tables human-checkable while exercising the identical plan shape.
DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"  # the "target domain" the raw corpus is scored against

# Engine-portable token -> bucket hash: first 7 hex digits of md5 as an
# integer (same construction as functions/dedup.py minhash base hash).
def _bucket(term):  # Spark side
    return (F.conv(F.substring(F.md5(term), 1, 7), 16, 10).cast("long")
            % DSIR_BUCKETS)


def _sql_bucket(term_sql: str) -> str:  # DuckDB side, bit-identical
    return f"(('0x' || substring(md5({term_sql}), 1, 7))::BIGINT % {DSIR_BUCKETS})"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_sql_bucket("u.t")} AS bucket
        FROM (SELECT doc_id, lang, unnest({_TOK}) AS t FROM documents) u
    ),
    raw_counts AS (
        SELECT bucket, count(*) AS cnt FROM toks GROUP BY bucket
    ),
    tgt_counts AS (
        SELECT bucket, count(*) AS cnt FROM toks
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    totals AS (
        SELECT (SELECT sum(cnt) FROM raw_counts) AS raw_total,
               (SELECT COALESCE(sum(cnt), 0) FROM tgt_counts) AS tgt_total
    ),
    ratios AS (
        SELECT r.bucket,
               ln((COALESCE(t.cnt, 0) + 1.0) / (tt.tgt_total + {DSIR_BUCKETS}))
             - ln((r.cnt + 1.0) / (tt.raw_total + {DSIR_BUCKETS})) AS logratio
        FROM raw_counts r
        LEFT JOIN tgt_counts t USING (bucket)
        CROSS JOIN totals tt
    ),
    per_bucket AS (
        SELECT doc_id, bucket, count(*) AS tf FROM toks GROUP BY doc_id, bucket
    )
    SELECT p.doc_id,
           CAST(sum(p.tf) AS BIGINT) AS n_tokens,
           round(sum(p.tf * r.logratio) / sum(p.tf), 6) AS avg_logratio
    FROM per_bucket p JOIN ratios r USING (bucket)
    GROUP BY p.doc_id
    """,
    doc=(
        "DSIR importance weights: every document's average per-token log "
        "importance ratio ln(p_target(f)/p_raw(f)) over hashed unigram "
        "features, with add-1 smoothing — the score DSIR resamples raw "
        "web data by to match a target domain (here: the corpus's "
        f"'{DSIR_TARGET_LANG}' slice). Shuffle structure: one explode -> "
        f"(doc, bucket) partial-agg shuffle, and two {DSIR_BUCKETS}-row "
        "bucket-distribution aggregates that broadcast back onto the "
        "(doc, bucket) rows — the corpus is never self-joined and never "
        "shuffled twice, so the plan is two map-side-combined exchanges "
        "regardless of corpus size. At 100 TB the bucket tables stay "
        "O(buckets) and the fitted distributions can be reused across "
        "runs as literal model state (the DSIR paper's setup: fit once, "
        "score everything)."
    ),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("term")
    ).select("doc_id", "lang", _bucket(F.col("term")).alias("bucket"))
    raw_counts = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("raw_cnt"))
    tgt_counts = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tgt_cnt"))
    )
    totals = F.broadcast(
        raw_counts.agg(F.sum("raw_cnt").alias("raw_total")).crossJoin(
            tgt_counts.agg(F.coalesce(F.sum("tgt_cnt"), F.lit(0)).alias("tgt_total"))
        )
    )
    ratios = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(totals)
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("tgt_cnt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tgt_total") + F.lit(float(DSIR_BUCKETS)))
                )
                - F.log(
                    (F.col("raw_cnt") + F.lit(1.0))
                    / (F.col("raw_total") + F.lit(float(DSIR_BUCKETS)))
                )
            ).alias("logratio"),
        )
    )
    per_bucket = toks.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    return (
        per_bucket.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.col("logratio")) / F.sum("tf"), 6
            ).alias("avg_logratio"),
        )
    )


# SemDeDup parameters: K cluster seeds (the K smallest vec_ids — same
# deterministic init contract as emb_kmeans_cluster) and the cosine
# threshold above which two same-cluster embeddings are duplicates.
SEMDEDUP_K = 4
SEMDEDUP_TAU = 0.35


def _semdedup_oracle() -> str:
    cos = S.sql_cosine("a.x", "b.x")
    return f"""
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        FROM embeddings
    ),
    pos AS (SELECT unnest(generate_series(1, 64)) AS i),
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x
        FROM emb ORDER BY vec_id LIMIT {SEMDEDUP_K}
    ),
    dists AS (
        SELECT e.vec_id, c.cid,
               round(sum(power(e.x[p.i] - c.x[p.i], 2)), 9) AS dist
        FROM emb e CROSS JOIN cents c CROSS JOIN pos p
        GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    dup_pairs AS (
        SELECT bb.vec_id AS dup_id, min(aa.vec_id) AS keeper
        FROM assigned ia JOIN assigned ib ON ia.cluster = ib.cluster
        JOIN emb a ON a.vec_id = ia.vec_id
        JOIN emb b ON b.vec_id = ib.vec_id
        JOIN emb aa ON aa.vec_id = ia.vec_id
        JOIN emb bb ON bb.vec_id = ib.vec_id
        WHERE ia.vec_id < ib.vec_id
          AND round({cos}, 6) >= {SEMDEDUP_TAU}
        GROUP BY bb.vec_id
    )
    SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster,
           (d.dup_id IS NOT NULL) AS is_dup,
           COALESCE(d.keeper, s.vec_id) AS keeper_id
    FROM assigned s LEFT JOIN dup_pairs d ON s.vec_id = d.dup_id
    """


@query(
    "dedup_semdedup_clustered",
    oracle=_semdedup_oracle(),
    doc=(
        "SemDeDup: semantic near-dup detection with the pairwise search "
        f"scoped to embedding clusters. Assign every vector to its nearest "
        f"of {SEMDEDUP_K} deterministic seed centroids (the {SEMDEDUP_K} "
        "smallest vec_ids, squared-L2, round-9 snap, min-cid tiebreak — "
        "the emb_kmeans_cluster init contract), then mark a vector as "
        f"duplicate iff some smaller-id vector in the SAME cluster has "
        f"cosine >= {SEMDEDUP_TAU}; the keeper is the smallest such "
        "neighbor. Shuffle structure: one tiny centroid collect (O(k*d) "
        "model state), a narrow zero-shuffle assignment expression, ONE "
        "shuffle on cluster id for the self-join, one aggregate on the "
        "dup side. The cluster scoping is the entire point at 100 TB: "
        "pairwise work is sum over clusters of |c|^2 instead of n^2, and "
        "k grows with corpus size to keep |c| bounded (the paper runs "
        "k=50k over 5B embeddings). Cites SemDeDup, Abbas et al. 2023."
    ),
)
def dedup_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    seeds = emb.orderBy("vec_id").limit(SEMDEDUP_K).collect()
    cents = [list(r.x) for r in seeds]  # cid = position (vec_id ascending)

    assigned = nearest_centroid(emb, cents)

    # norms attach per ROW before the within-cluster pair join — cosine()
    # per pair would re-derive both norms, tripling the interpreted-HOF
    # work on the pair stream (the brute_force_topk / lsh_topk recipe);
    # the per-pair float ops are unchanged: dot / (norm_a * norm_b).
    a = assigned.select(
        F.col("vec_id").alias("ia"),
        F.col("x").alias("xa"),
        S.norm(F.col("x")).alias("__na"),
        "cluster",
    )
    b = assigned.select(
        F.col("vec_id").alias("ib"),
        F.col("x").alias("xb"),
        S.norm(F.col("x")).alias("__nb"),
        "cluster",
    )
    dup_pairs = (
        a.join(b, "cluster")
        .filter(F.col("ia") < F.col("ib"))
        .filter(
            F.round(
                S.dot(F.col("xa"), F.col("xb")) / (F.col("__na") * F.col("__nb")), 6
            )
            >= SEMDEDUP_TAU
        )
        .groupBy(F.col("ib").alias("dup_id"))
        .agg(F.min("ia").alias("keeper"))
    )
    return (
        assigned.join(dup_pairs, assigned.vec_id == dup_pairs.dup_id, "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_id").isNotNull().alias("is_dup"),
            F.coalesce(F.col("keeper"), F.col("vec_id")).alias("keeper_id"),
        )
    )


@query(
    "text_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOK}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    freq AS (
        SELECT *, sum(tf) OVER (PARTITION BY term) AS term_freq,
                  sum(tf) OVER () AS total_tokens
        FROM tf
    ),
    scored AS (
        SELECT f.doc_id,
               round(sum(f.tf * ln(CAST(f.term_freq AS DOUBLE) / f.total_tokens))
                     / sum(f.tf), 6) AS score
        FROM freq f GROUP BY f.doc_id
    ),
    cuts AS (
        -- ANSI PERCENTILE_DISC terciles over the per-doc scores
        SELECT min(CASE WHEN cd >= 1.0/3 THEN score END) AS c1,
               min(CASE WHEN cd >= 2.0/3 THEN score END) AS c2
        FROM (SELECT score, cume_dist() OVER (ORDER BY score) AS cd FROM scored)
    )
    SELECT CASE WHEN s.score > c.c2 THEN 'head'
                WHEN s.score > c.c1 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(s.score), 6) AS avg_score,
           round(avg(d.n_chars), 2) AS avg_chars
    FROM scored s CROSS JOIN cuts c JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
    doc=(
        "CCNet-style perplexity bucketing: score every document with the "
        "corpus unigram LM (the text_unigram_logprob proxy), cut the "
        "score distribution at its terciles, and report the head / "
        "middle / tail quality tiers CCNet shards a crawl into before "
        "training-data selection. The cutpoints are computed as exact "
        "discrete percentiles reduced to a 1-row aggregate and "
        "broadcast back onto the doc scores — NOT a global sort or a "
        "single-partition ntile window, so the bucketing step adds one "
        "scalar broadcast to the LM-scoring plan. At 100 TB the exact "
        "cume_dist cut over doc-level rows becomes approx_percentile on "
        "the same 1-row aggregate shape. Cites CCNet, Wenzek et al. 2020."
    ),
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    term_freq = F.sum("tf").over(Window.partitionBy("term"))
    total = F.broadcast(tf.agg(F.sum("tf").alias("total_tokens")))
    scored = (
        tf.withColumn("term_freq", term_freq)
        .crossJoin(total)
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("term_freq").cast("double") / F.col("total_tokens"))
                )
                / F.sum("tf"),
                6,
            ).alias("score")
        )
    )
    # The scored branch feeds BOTH the cutpoint aggregate and the final
    # bucketing join; materialize it once so the token-explode LM pass
    # runs once per execution instead of twice. localCheckpoint instead
    # of persist: blocks are released on GC instead of staying pinned in
    # the CacheManager for the session lifetime.
    scored = scored.localCheckpoint(eager=True)
    # Exact discrete-percentile cutpoints as a 1-row AGGREGATE (ANSI
    # PERCENTILE_DISC = smallest value whose cume_dist >= p), broadcast
    # back — no global-order window anywhere in the plan.
    cuts = F.broadcast(
        scored.agg(
            F.expr(
                f"percentile_disc({1.0 / 3!r}) WITHIN GROUP (ORDER BY score)"
            ).alias("c1"),
            F.expr(
                f"percentile_disc({2.0 / 3!r}) WITHIN GROUP (ORDER BY score)"
            ).alias("c2"),
        )
    )
    return (
        scored.crossJoin(cuts)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            F.when(F.col("score") > F.col("c2"), F.lit("head"))
            .when(F.col("score") > F.col("c1"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
            "score",
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


# Fixed-radius search: all corpus vectors within this cosine of a query.
RANGE_RADIUS = 0.25
RANGE_N_QUERIES = 3  # the RANGE_N_QUERIES smallest vec_ids act as queries


@query(
    "similarity_range_search",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings ORDER BY vec_id LIMIT {RANGE_N_QUERIES}
    )
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({S.sql_cosine("q.qv", "e.embedding")}, 6) AS cos_sim
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    WHERE round({S.sql_cosine("q.qv", "e.embedding")}, 6) >= {RANGE_RADIUS}
    """,
    doc=(
        "Fixed-radius similarity search: every corpus vector within "
        f"cosine {RANGE_RADIUS} of each query vector (the "
        f"{RANGE_N_QUERIES} smallest vec_ids) — the range-query "
        "complement of similarity_topk_bruteforce, used for 'find all "
        "near neighbors' retrieval and duplicate sweeps where k is "
        "unknown a priori. Plan: queries broadcast against a single "
        "linear corpus scan with the radius predicate applied inside "
        "codegen — no window, no shuffle at all (unlike top-k, radius "
        "search needs no per-query ranking). At 100 TB the same "
        "predicate runs behind the IVF cell-pruned layout "
        "(probe_ivf_index) instead of the full scan."
    ),
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # norms attach per ROW (query side: once per query; corpus side: once
    # per corpus row) so each scored pair costs ONE interpreted-HOF dot
    # instead of cosine()'s three — and since the radius predicate is
    # pushed below the projection by the optimizer (the score is computed
    # for the filter AND the output), the saving doubles. Float ops per
    # pair unchanged: dot / (norm_q * norm_c).
    q = F.broadcast(
        emb.orderBy("vec_id")
        .limit(RANGE_N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            S.norm(F.col("embedding")).alias("__qn"),
        )
    )
    emb = emb.select("vec_id", "embedding", S.norm(F.col("embedding")).alias("__cn"))
    cos = F.round(
        S.dot(F.col("qv"), F.col("embedding")) / (F.col("__qn") * F.col("__cn")), 6
    )
    # Optimization r15 (guide §4.4's duplication problem, on a Catalyst
    # HOF): the radius predicate used to be pushed below the projection,
    # so every scored pair evaluated the interpreted HOF dot TWICE (the
    # before plan has 4 `aggregate(zip_with`, 2 of them the duplicated
    # dot). explode(filter(array(cos), ...)) evaluates it ONCE inside the
    # Generate (a pushdown barrier) and emits exactly the rows the radius
    # filter kept, with identical values.
    return (
        q.crossJoin(emb)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.filter(F.array(cos), lambda s: s >= F.lit(RANGE_RADIUS))
            ).alias("cos_sim"),
        )
    )


MRL_DIM = 16  # serving prefix length (full vectors are 64-d)


@query(
    "emb_matryoshka_truncate",
    oracle=f"""
    SELECT vec_id,
           round(sqrt({S.sql_dot("embedding", "embedding")}), 6) AS norm_full,
           round(sqrt({S.sql_dot("list_slice(embedding, 1, {d})".format(d=MRL_DIM),
                                 "list_slice(embedding, 1, {d})".format(d=MRL_DIM))}), 6)
               AS norm_prefix,
           round(sqrt({S.sql_dot("list_slice(embedding, 1, {d})".format(d=MRL_DIM),
                                 "list_slice(embedding, 1, {d})".format(d=MRL_DIM))})
                 / sqrt({S.sql_dot("embedding", "embedding")}), 6) AS retained_frac
    FROM embeddings
    """,
    doc=(
        f"Matryoshka (MRL) truncation audit: the norm retained when each "
        f"embedding is cut to its first {MRL_DIM} of 64 dimensions — the "
        "serving trick (Kusupati et al. 2022) where a prefix of an "
        "MRL-trained vector is a valid lower-cost embedding, so ANN "
        "shortlists run on the prefix and full vectors only re-rank the "
        "shortlist. retained_frac is the per-vector energy check a "
        "pipeline runs before committing to a truncation length. Pure "
        "per-row lambdas (slice + dot), zero shuffles; the truncated "
        "serving copy would be written through write_ivf_index with "
        f"{MRL_DIM}-d vectors for a 4x index-size cut."
    ),
)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    full = F.col("embedding")
    prefix = F.slice(full, 1, MRL_DIM)
    norm_full = S.norm(full)
    norm_prefix = S.norm(prefix)
    return emb.select(
        "vec_id",
        F.round(norm_full, 6).alias("norm_full"),
        F.round(norm_prefix, 6).alias("norm_prefix"),
        F.round(norm_prefix / norm_full, 6).alias("retained_frac"),
    )


# Binary quantization: one sign bit per dimension, packed into two
# 32-bit words (avoids BIGINT sign-bit portability issues at dim 64).
BQ_QUERIES = 3
BQ_TOPK = 10


def _bq_word(col, lo: int):
    """Pack dims [lo, lo+32) (0-based) into a BIGINT: bit j set iff
    embedding[lo+j] > 0."""
    bits = F.slice(col, lo + 1, 32)
    weights = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    return F.aggregate(
        F.zip_with(bits, weights, lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sql_bq_word(col: str, lo: int) -> str:
    return (
        f"list_sum([CASE WHEN {col}[{lo} + j] > 0 THEN (1::BIGINT << (j - 1)) "
        f"ELSE 0::BIGINT END for j in generate_series(1, 32)])"
    )


@query(
    "similarity_binary_quantized",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id,
               {_sql_bq_word("embedding", 0)} AS w0,
               {_sql_bq_word("embedding", 32)} AS w1
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
        FROM sig ORDER BY vec_id LIMIT {BQ_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, s.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.q0, s.w0)) + bit_count(xor(q.q1, s.w1)) AS INT)
                   AS hamming
        FROM q JOIN sig s ON s.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, hamming FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {BQ_TOPK}
    """,
    doc=(
        "Binary quantization ANN: each embedding collapses to one sign "
        "bit per dimension (64 bits = two packed 32-bit words, a 32x "
        "compression over float32), and candidate search ranks by "
        "Hamming distance — two XOR+popcount instructions per pair "
        "instead of a 64-term dot product. This is the bit-vector "
        "shortlist stage modern vector stores run before exact "
        "reranking (rerank = similarity_topk_bruteforce over the "
        f"shortlist). Top-{BQ_TOPK} per query with (hamming, id) "
        "tiebreak for a deterministic cross-engine contract. Packing is "
        "a per-row lambda (zero shuffle); the scored pairs are "
        "broadcast-queries x linear scan like the other exact baselines, "
        "with one query-keyed window for the cut — and the packed "
        "signatures are 8 bytes/vector, so at 100 TB the ENTIRE "
        "signature file fits in a fraction of the raw vectors' footprint "
        "(the point of the technique)."
    ),
)
def similarity_binary_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id",
        _bq_word(F.col("embedding"), 0).alias("w0"),
        _bq_word(F.col("embedding"), 32).alias("w1"),
    )
    q = F.broadcast(
        sig.orderBy("vec_id")
        .limit(BQ_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("w0").alias("q0"),
            F.col("w1").alias("q1"),
        )
    )
    scored = (
        q.crossJoin(sig)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("q0").bitwiseXOR(F.col("w0")))
                + F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
            ).cast("int").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BQ_TOPK)
        .select("query_id", "neighbor_id", "hamming")
    )


# Containment detection: |shingles(A) ∩ shingles(B)| / |shingles(A)|.
CONTAIN_TAU = 0.8
CONTAIN_SHINGLE = 5  # tokens per shingle (sliding)


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOK} AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest([array_to_string(list_slice(t, i, i + {CONTAIN_SHINGLE} - 1), ' ')
                       for i in generate_series(1, len(t) - {CONTAIN_SHINGLE} + 1)])
                   AS shingle
        FROM toks WHERE len(t) >= {CONTAIN_SHINGLE}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           round(s.n_shared / CAST(za.n_sh AS DOUBLE), 6) AS containment
    FROM shared s JOIN sizes za ON za.doc_id = s.id_a
    WHERE round(s.n_shared / CAST(za.n_sh AS DOUBLE), 6) >= {CONTAIN_TAU}
    """,
    doc=(
        "Asymmetric containment detection: document A is flagged against "
        "B when >= {tau} of A's distinct {k}-token shingles appear in B "
        "— the one-sided signal that catches quotes, mirrors, and "
        "supersets which symmetric Jaccard misses (a short doc fully "
        "quoted inside a long one has low Jaccard but containment 1.0). "
        "Plan: one shingle explode, one (shingle)-keyed equi self-join "
        "for shared counts (same bounded-key shape as the boilerplate "
        "chunk joins — at 100 TB the join key becomes xxhash64(shingle) "
        "and hot shingles are frequency-capped like "
        "dedup_prefix_filter_jaccard's rare-first ordering), then an "
        "id-keyed join of the per-doc shingle sizes. Directed output: "
        "(id_a contained-in id_b) and (id_b contained-in id_a) are "
        "independent verdicts."
    ).format(tau=CONTAIN_TAU, k=CONTAIN_SHINGLE),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n = F.size(toks)
    shingles = F.when(
        n >= CONTAIN_SHINGLE,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - CONTAIN_SHINGLE + 1),
                lambda i: F.array_join(F.slice(toks, i, CONTAIN_SHINGLE), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = docs.select("doc_id", F.explode(shingles).alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, shared.id_a == sizes.doc_id)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_shared") / F.col("n_sh").cast("double"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_TAU)
    )


@query(
    "sample_semantic_order",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
        FROM embeddings
    ),
    pos AS (SELECT unnest(generate_series(1, 64)) AS i),
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x
        FROM emb ORDER BY vec_id LIMIT {SEMDEDUP_K}
    ),
    dists AS (
        SELECT e.vec_id, c.cid,
               round(sum(power(e.x[p.i] - c.x[p.i], 2)), 9) AS dist
        FROM emb e CROSS JOIN cents c CROSS JOIN pos p
        GROUP BY e.vec_id, c.cid
    ),
    assigned AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
            FROM dists
        ) WHERE rn = 1
    )
    SELECT vec_id AS doc_id, CAST(cluster AS INT) AS cluster,
           CAST(row_number() OVER (
               PARTITION BY cluster
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT)
               AS pos_in_cluster
    FROM assigned
    """,
    doc=(
        "In-context-pretraining corpus layout (Shi et al. 2023, ICLM): "
        "order training examples so semantically-related documents are "
        "adjacent — cluster by embedding (the deterministic seed-"
        "centroid assignment shared with dedup_semdedup_clustered), "
        "then give every document a deterministic position inside its "
        "cluster (md5-hash order, the sample_global_shuffle convention, "
        "so within-cluster order is reproducible but not id-sorted). "
        "Packing sequences in (cluster, pos_in_cluster) order puts "
        "related context in the same training window, which is the "
        "technique's entire effect. One narrow assignment expression, "
        "one window per cluster partition (bounded by cluster size — "
        "no global-order window); the final global ordering at write "
        "time is (cluster, pos) via the range-partitioned row-id "
        "operator (ids_global_rownum)."
    ),
)
def sample_semantic_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda v: v.cast("double")).alias("x")
    )
    seeds = emb.orderBy("vec_id").limit(SEMDEDUP_K).collect()
    cents = [list(r.x) for r in seeds]

    assigned = nearest_centroid(emb, cents)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return assigned.select(
        F.col("vec_id").alias("doc_id"),
        "cluster",
        F.row_number().over(w).cast("long").alias("pos_in_cluster"),
    )


@query(
    "emb_centroid_drift",
    oracle="""
    WITH dims AS (
        SELECT label, u.dim - 1 AS dim, u.x
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                             unnest(embedding) AS x) u
    ), lab AS (
        SELECT label, dim, avg(x) AS c FROM dims GROUP BY 1, 2
    ), gl AS (
        SELECT dim, avg(x) AS g FROM dims GROUP BY 1
    )
    SELECT l.label,
           round(sum(l.c * g.g) / (sqrt(sum(l.c * l.c)) * sqrt(sum(g.g * g.g))), 6)
               AS centroid_cos_to_global
    FROM lab l JOIN gl g ON l.dim = g.dim
    GROUP BY 1
    """,
    doc=(
        "Embedding centroid drift: cosine of each label's centroid "
        "against the global corpus centroid — the embedding-space health "
        "check that catches a shifted or collapsed subpopulation after a "
        "re-embedding run. posexplode to (label, dim, x), two partial-agg "
        "rollups, then a broadcast join on the bounded dim axis; the "
        "heavy explode aggregates map-side, and nothing downstream "
        "exceeds |labels| x |dims| rows."
    ),
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    lab = dims.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    glob = dims.groupBy("dim").agg(F.avg("x").alias("g"))
    joined = lab.join(F.broadcast(glob), "dim")
    return joined.groupBy("label").agg(
        F.round(
            F.sum(F.col("c") * F.col("g"))
            / (F.sqrt(F.sum(F.col("c") * F.col("c"))) * F.sqrt(F.sum(F.col("g") * F.col("g")))),
            6,
        ).alias("centroid_cos_to_global")
    )


@query(
    "similarity_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neg_id,
               round({S.sql_cosine("q.embedding", "n.embedding")}, 6) AS cos_sim
        FROM q JOIN embeddings n ON n.label <> q.label
    ), ranked AS (
        SELECT query_id, neg_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neg_id) AS rn
        FROM scored
    )
    SELECT query_id, neg_id, cos_sim FROM ranked WHERE rn <= 3
    """,
    doc=(
        "Hard-negative mining: for each query vector, the top-3 most "
        "similar vectors with a DIFFERENT label — the contrastive-"
        "training examples that sit closest to the decision boundary. "
        "The bounded query set broadcasts against the corpus scan "
        "(same exact-scoring shape as similarity_topk_bruteforce); at "
        "full scale the corpus side is pre-cut by ANN buckets "
        "(similarity_lsh_topk) before the exact re-rank."
    ),
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    # per-row norms: one interpreted-HOF dot per scored pair instead of
    # cosine()'s three (the brute_force_topk / lsh_topk recipe); the
    # corpus-side norm is computed once per row and reused across every
    # query it pairs with. Float ops per pair unchanged.
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        S.norm(F.col("embedding")).alias("__qn"),
    )
    c = emb.select("vec_id", "label", "embedding", S.norm(F.col("embedding")).alias("__cn"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            F.round(
                S.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neg_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neg_id", "cos_sim")
    )


@query(
    "emb_knn_outlier_score",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 30),
    scored AS (
        SELECT q.vec_id, n.vec_id AS nbr,
               round({S.sql_cosine("q.embedding", "n.embedding")}, 6) AS cos_sim
        FROM q JOIN embeddings n
          ON n.label = q.label AND n.vec_id <> q.vec_id
    ), ranked AS (
        SELECT vec_id, cos_sim,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr) AS rn
        FROM scored
    )
    SELECT vec_id, round(1 - avg(cos_sim), 6) AS knn_outlier_score,
           CAST(count(*) AS BIGINT) AS k_used
    FROM ranked WHERE rn <= 5 GROUP BY vec_id
    """,
    doc=(
        "kNN-distance outlier score: 1 minus the mean cosine to the 5 "
        "nearest same-label neighbours — high scores flag mislabeled or "
        "out-of-distribution vectors (embedding QA before training). "
        "Blocked by label (the candidate space is the block, as in "
        "dedup_embedding_cosine); the scale path swaps the block for "
        "an ANN bucket."
    ),
)
def emb_knn_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    # per-row norms → one interpreted-HOF dot per scored pair (see
    # similarity_hard_negatives); float ops per pair unchanged.
    q = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        S.norm(F.col("embedding")).alias("__qn"),
    )
    c = emb.select("vec_id", "label", "embedding", S.norm(F.col("embedding")).alias("__cn"))
    scored = (
        F.broadcast(q)
        .join(c, (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("qid")))
        .select(
            F.col("qid").alias("vec_id"),
            F.col("vec_id").alias("nbr"),
            F.round(
                S.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "nbr")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("vec_id")
        .agg(
            F.round(1 - F.avg("cos_sim"), 6).alias("knn_outlier_score"),
            F.count(F.lit(1)).cast("long").alias("k_used"),
        )
    )


@query(
    "emb_label_separation",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 40),
    pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               {S.sql_cosine("a.embedding", "b.embedding")} AS cs
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT label_a AS label,
           round(avg(cs) FILTER (WHERE label_a = label_b), 6) AS intra_cos,
           round(avg(cs) FILTER (WHERE label_a <> label_b), 6) AS inter_cos,
           round(avg(cs) FILTER (WHERE label_a = label_b)
                 - avg(cs) FILTER (WHERE label_a <> label_b), 6) AS separation
    FROM pairs GROUP BY 1
    """,
    doc=(
        "Label separation (silhouette-lite): mean intra-label vs inter-"
        "label cosine per label over a bounded sample of vectors — a "
        "one-number answer to 'do these embeddings separate my "
        "classes?'. Pairwise only over the broadcast sample; the "
        "full-corpus version estimates the same quantity from "
        "per-label centroids + second moments (emb_centroid_drift's "
        "aggregates), never all pairs."
    ),
)
def emb_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    # per-row norms → one interpreted-HOF dot per pair (see
    # similarity_hard_negatives); float ops per pair unchanged.
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("ea"),
        S.norm(F.col("embedding")).alias("__na"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
        S.norm(F.col("embedding")).alias("__nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb")).select(
        "label_a",
        "label_b",
        (S.dot(F.col("ea"), F.col("eb")) / (F.col("__na") * F.col("__nb"))).alias("cs"),
    )
    same = F.col("label_a") == F.col("label_b")
    return pairs.groupBy(F.col("label_a").alias("label")).agg(
        F.round(F.avg(F.when(same, F.col("cs"))), 6).alias("intra_cos"),
        F.round(F.avg(F.when(~same, F.col("cs"))), 6).alias("inter_cos"),
        F.round(
            F.avg(F.when(same, F.col("cs"))) - F.avg(F.when(~same, F.col("cs"))), 6
        ).alias("separation"),
    )


@query(
    "emb_quantization_error",
    oracle="""
    WITH stats AS (
        SELECT vec_id, label, embedding,
               greatest(list_max([abs(x) for x in embedding]), 1e-12) AS amax
        FROM embeddings
    ), q AS (
        SELECT vec_id, label,
               [x - (round(127.0 * x / amax) * amax / 127.0) for x in embedding] AS err
        FROM stats
    )
    SELECT label,
           round(avg(list_sum([e * e for e in err]) / len(err)), 6) AS mse,
           round(max(list_max([abs(e) for e in err])), 6) AS max_abs_err
    FROM q GROUP BY 1
    """,
    doc=(
        "Int8 quantization error report: per-label MSE and worst-case "
        "absolute error of the symmetric absmax int8 round-trip (the "
        "same arithmetic as emb_quantize_int8) — the calibration "
        "readout that decides whether int8 storage is acceptable "
        "before committing the corpus to it. Per-row higher-order "
        "array expressions + one label-keyed aggregate."
    ),
)
def emb_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    amax = F.greatest(F.array_max(F.transform("embedding", lambda x: F.abs(x))), F.lit(1e-12))
    stats = emb.select("vec_id", "label", "embedding", amax.alias("amax"))

    def err_fn(x):
        scale = F.col("amax")
        return x - (F.round(127.0 * x / scale, 0) * scale / 127.0)

    q = stats.select("label", F.transform("embedding", err_fn).alias("err"))
    mse = F.aggregate("err", F.lit(0.0), lambda acc, e: acc + e * e) / F.size("err")
    mabs = F.array_max(F.transform("err", lambda e: F.abs(e)))
    return q.groupBy("label").agg(
        F.round(F.avg(mse), 6).alias("mse"),
        F.round(F.max(mabs), 6).alias("max_abs_err"),
    )


@query(
    "emb_nearest_centroid_accuracy",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label, u.dim, u.x
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                             unnest(embedding) AS x) u
    ), cent AS (
        SELECT label AS c_label, dim, avg(x) AS c FROM dims GROUP BY 1, 2
    ), dist AS (
        SELECT d.vec_id, d.label, cent.c_label,
               sum((d.x - cent.c) * (d.x - cent.c)) AS d2
        FROM dims d JOIN cent ON cent.dim = d.dim
        GROUP BY 1, 2, 3
    ), assigned AS (
        SELECT vec_id, label, c_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
        FROM dist
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(*) FILTER (WHERE c_label = label) AS BIGINT) AS n_correct,
           round(count(*) FILTER (WHERE c_label = label) / CAST(count(*) AS DOUBLE), 6)
               AS accuracy
    FROM assigned WHERE rn = 1 GROUP BY 1
    """,
    doc=(
        "Nearest-centroid classification accuracy: assign every vector "
        "to its closest label centroid (euclidean, deterministic label "
        "tie-break) and score against the true labels — the fastest "
        "label-quality / cluster-coherence readout. The centroid table "
        "is |labels| x |dims| and broadcasts; per-vector distances come "
        "from one dim-keyed join + aggregate, so the corpus shuffles "
        "once (the posexplode) regardless of label count."
    ),
)
def emb_nearest_centroid_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select("vec_id", "label", F.posexplode("embedding").alias("dim0", "x")).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"), "x"
    )
    cent = dims.groupBy(F.col("label").alias("c_label"), "dim").agg(F.avg("x").alias("c"))
    dist = (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    assigned = dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    correct = F.col("c_label") == F.col("label")
    return assigned.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.count(F.when(correct, 1)).cast("long").alias("n_correct"),
        F.round(F.count(F.when(correct, 1)) / F.count(F.lit(1)).cast("double"), 6).alias(
            "accuracy"
        ),
    )


@query(
    "emb_norm_profile",
    oracle="""
    WITH norms AS (
        SELECT label, sqrt(list_sum([x * x for x in embedding])) AS l2
        FROM embeddings
    )
    SELECT label,
           round(min(l2), 6) AS min_norm,
           round(quantile_cont(l2, 0.5), 6) AS median_norm,
           round(max(l2), 6) AS max_norm,
           round(stddev_samp(l2), 6) AS std_norm
    FROM norms GROUP BY 1
    """,
    doc=(
        "Embedding norm profile: per-label L2-norm distribution (min/"
        "median/max/std) — the pre-normalization QA that catches scale "
        "drift between embedding batches (cosine similarity silently "
        "forgives it; dot-product retrieval does not). Per-row "
        "higher-order sum + one label-keyed aggregate."
    ),
)
def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    l2 = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x * x))
    norms = emb.select("label", l2.alias("l2"))
    return norms.groupBy("label").agg(
        F.round(F.min("l2"), 6).alias("min_norm"),
        F.round(F.percentile("l2", F.lit(0.5)), 6).alias("median_norm"),
        F.round(F.max("l2"), 6).alias("max_norm"),
        F.round(F.stddev_samp("l2"), 6).alias("std_norm"),
    )


@query(
    "emb_dim_variance_topk",
    oracle="""
    WITH dims AS (
        SELECT u.dim - 1 AS dim, u.x
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                             unnest(embedding) AS x) u
    )
    SELECT dim, round(var_samp(x), 6) AS variance
    FROM dims GROUP BY 1
    ORDER BY variance DESC, dim LIMIT 10
    """,
    doc=(
        "Per-dimension variance ranking (top-10): which embedding "
        "coordinates carry signal — the screen before PCA/Matryoshka "
        "truncation (a near-zero-variance dim is free to drop; see "
        "emb_matryoshka_truncate). posexplode + one dim-keyed "
        "partial-agg + TakeOrdered."
    ),
)
def emb_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("dim", "x"))
    return (
        dims.groupBy("dim")
        .agg(F.round(F.var_samp("x"), 6).alias("variance"))
        .orderBy(F.col("variance").desc(), "dim")
        .limit(10)
    )


@query(
    "emb_twonn_intrinsic_dim",
    oracle="""
    WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60),
    pairs AS (
        SELECT a.vec_id AS i, b.vec_id AS j,
               sqrt(list_sum(list_transform(
                   list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),
                   z -> (z[1] - z[2]) * (z[1] - z[2])))) AS d
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT i, d, row_number() OVER (PARTITION BY i ORDER BY d, j) AS rn
        FROM pairs
    ), mu AS (
        SELECT i,
               round(max(CASE WHEN rn = 2 THEN d END)
                     / nullif(max(CASE WHEN rn = 1 THEN d END), 0), 9) AS mu
        FROM ranked WHERE rn <= 2 GROUP BY i
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(count(*) / sum(round(ln(mu), 9)), 4) AS intrinsic_dim_hat
    FROM mu WHERE mu IS NOT NULL AND mu > 1
    """,
    doc=(
        "TwoNN intrinsic-dimension estimate (Facco et al. 2017): for a "
        "bounded sample, the ratio mu of 2nd- to 1st-nearest-neighbor "
        "distance per point yields d_hat = n / sum(ln mu) — how many "
        "degrees of freedom the embedding actually uses vs its ambient "
        "dimension (a 64-d embedding with d_hat ~= 10 truncates "
        "safely; see emb_matryoshka_truncate). Intermediate mu and "
        "ln(mu) are pinned to 9 decimals so the cross-engine "
        "aggregation-order difference cannot reach the reported 4 "
        "decimals. At corpus scale the sample IS the method — TwoNN "
        "needs only O(sample^2) distances."
    ),
)
def emb_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    d = F.sqrt(
        F.aggregate(
            F.zip_with("ea", "eb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    pairs = a.join(F.broadcast(b), F.col("i") != F.col("j")).select("i", "j", d.alias("d"))
    w = Window.partitionBy("i").orderBy("d", "j")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    mu = ranked.groupBy("i").agg(
        F.round(
            F.max(F.when(F.col("rn") == 2, F.col("d")))
            / F.nullif(F.max(F.when(F.col("rn") == 1, F.col("d"))), F.lit(0)),
            9,
        ).alias("mu")
    )
    valid = mu.filter(F.col("mu").isNotNull() & (F.col("mu") > 1))
    return valid.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.count(F.lit(1)) / F.sum(F.round(F.log("mu"), 9)), 4).alias(
            "intrinsic_dim_hat"
        ),
    )


@query(
    "emb_cosine_histogram",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 80),
    pairs AS (
        SELECT {S.sql_cosine("a.embedding", "b.embedding")} AS cs
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    ), binned AS (
        SELECT least(greatest(CAST(floor((cs + 1) * 5) AS INTEGER), 0), 9) AS bin
        FROM pairs
    ), n AS (SELECT count(*) AS total FROM binned)
    SELECT bin,
           round(-1 + bin * 0.2, 1) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) / CAST(total AS DOUBLE), 6) AS share
    FROM binned, n GROUP BY bin, total ORDER BY bin
    """,
    doc=(
        "Pairwise-cosine histogram over a bounded sample: the "
        "similarity-score distribution that calibrates every threshold "
        "in the dedup/similarity family (dedup_embedding_cosine's 0.5, "
        "the LSH s-curve's target j) against what random pairs in THIS "
        "corpus actually score. Ten fixed-width bins over [-1, 1]; "
        "bin edges computed in integer-safe arithmetic."
    ),
)
def emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    # per-row norms → one interpreted-HOF dot per pair (see
    # similarity_hard_negatives); float ops per pair unchanged.
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        S.norm(F.col("embedding")).alias("__na"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        S.norm(F.col("embedding")).alias("__nb"),
    )
    cs = S.dot(F.col("ea"), F.col("eb")) / (F.col("__na") * F.col("__nb"))
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(cs.alias("cs"))
    bin_ = F.least(F.greatest(F.floor((F.col("cs") + 1) * 5).cast("int"), F.lit(0)), F.lit(9))
    binned = pairs.select(bin_.alias("bin"))
    n = binned.agg(F.count(F.lit(1)).alias("total"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(n))
        .select(
            "bin",
            F.round(-1 + F.col("bin") * 0.2, 1).alias("bin_lo"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("total").cast("double"), 6).alias("share"),
        )
        .orderBy("bin")
    )
