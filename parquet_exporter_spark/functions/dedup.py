"""Deduplication primitives: exact, character-shingle Jaccard, MinHash
signatures + LSH banding, SimHash.

Scale design:
- Exact dedup is a hash aggregation on the content hash — one shuffle of
  (hash, id), never of full texts.
- MinHash signatures are computed by explode(shingle) -> min over seeded
  hashes: linear work, one aggregation; no pairwise anything.
- LSH banding turns near-dup search into an equi-join on (band, band
  signature) — only colliding candidates are verified with true Jaccard.
- SimHash is a per-row expression (64-bit); near-dup = small Hamming
  distance, verified within LSH-style buckets on the high bits.

The signature computation uses an explicit (a*h + b) mod p family over a
31-bit base hash derived from md5, so Spark and the DuckDB oracle compute
bit-identical signatures (no engine-private hash functions on checked
paths; the faster xxhash64 variant is used on the rows-only path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE_31 = 2147483647  # 2^31 - 1, prime

# Deterministic (a, b) coefficient pairs for the universal-hash family,
# generated by a fixed LCG so both engines share them as literals.
def hash_coefficients(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(n_hashes):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state | 1  # odd, nonzero
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state
        out.append((a, b))
    return out


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-character shingles of the normalized text.

    The normalized string is bound as a lambda variable via a one-element
    array so it is evaluated ONCE per row; referencing the normalization
    expression directly inside the per-position lambda would re-run the
    regexp for every shingle position — O(len^2) per document (measured
    3.6x slower at sf0.1)."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    nested = F.transform(
        F.array(norm),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (k - 1), F.lit(1))),
            lambda i: s.substr(i, F.lit(k)),
        ),
    )
    return F.array_distinct(nested.getItem(0))


def sql_char_shingles(t: str, k: int = 5) -> str:
    norm = f"trim(regexp_replace(lower({t}), '\\s+', ' ', 'g'))"
    return (
        f"list_distinct([substring({norm}, i, {k}) "
        f"for i in generate_series(1, greatest(len({norm}) - {k - 1}, 1))])"
    )


def base_hash_31(shingle: Column) -> Column:
    """31-bit integer hash of a shingle via md5 (engine-portable): first 7
    hex digits -> int, mod 2^31-1."""
    return F.conv(F.substring(F.md5(shingle), 1, 7), 16, 10).cast("long") % MERSENNE_31


def sql_base_hash_31(s: str) -> str:
    return f"(('0x' || substring(md5({s}), 1, 7))::BIGINT % {MERSENNE_31})"


def _widen_if_undersplit(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the cluster's default parallelism when its
    scan produced fewer partitions. The minhash stages are compute-heavy
    per row (shingling + the hash transforms are higher-order functions —
    interpreted, not codegen'd), so a BYTE-sized split is the wrong
    granularity: a few-MB documents table scans as 1-2 partitions and
    strands the other cores (measured 4.5x on the cold sf1
    materialization, local[32]: 50 -> 11 s). Wide inputs — the 100 TB
    case, thousands of scan splits — pass through untouched: reshuffling
    a large corpus to "widen" it would be a regression. Same rule as
    functions/similarity.brute_force_topk and the TF-IDF token stream
    (queries/llm.py).

    SCOPE: only in front of interpreted compute-heavy stages (HOF
    transforms, Python UDFs). In front of cheap codegen'd work the extra
    exchange is a net LOSS — measured on fn_explode_wordcount
    (split+partial-agg): 0.55 -> 0.75 s at sf1 when widened.

    The widen target is the SESSION'S configured shuffle width
    (spark.sql.shuffle.partitions), not raw core count: a session whose
    shuffles are sized to the input (bench: 8 at sf0.1) should not have
    one stage fan out to 32 tasks and immediately funnel back to 8 —
    the mismatch was measured as +0.12 s on TF-IDF at sf0.1 while the
    sf1 session (32-wide shuffles) is unaffected."""
    try:
        spark = df.sparkSession
        # capped by core count: a bare session's 200-partition default
        # would otherwise fan a few thousand rows into 200 tiny tasks
        target = min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism,
        )
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        # Spark Connect: no sparkContext/rdd handle — leave the scan's
        # natural parallelism (Connect clusters size their own splits).
        pass
    return df


def _shingled_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # Deliberately NOT widened (_widen_if_undersplit): the LSH pipeline
    # has many SMALL post-shingle stages (signatures, banding, candidate
    # join, verify), and the extra exchange + 32-task scheduling across
    # all of them costs ~1.6x on the WARM path (sf1 pin 2.39 -> 3.91 s,
    # idle box, separate processes) against a 4.5x win only on the COLD
    # first materialization. The warm number is the one roundcheck step
    # [1b] and the driver bench gate on. A one-shot cold corpus pass that
    # wants the 4.5x can widen explicitly: _widen_if_undersplit(docs)
    # before calling.
    return docs.select(F.col(id_col), char_shingles(F.col(text_col)).alias("sh"))


def _signatures_wide(
    docs_sh: DataFrame, n_hashes: int, id_col: str, fast_hash: bool = False
) -> DataFrame:
    """One row per doc with columns mh_0..mh_{n-1}, computed NARROW: the
    shingles are already a per-row array, so each minhash is
    array_min(transform(sh, h -> (a*h+b) % p)) — no explode, no shuffle.
    (The explode + groupBy form shuffles |docs| x |shingles| rows and was
    2.4x slower at sf0.1; at 100 TB the saved shuffle is the point.)
    Docs with no shingles are dropped, matching the explode form where
    they produced no rows to aggregate.

    fast_hash=False: md5-derived portable base hash (bit-identical in
    DuckDB — the oracle-checked path). fast_hash=True: JVM-native xxhash64
    base (no string hex round-trip) for the rows-only LSH pipeline — same
    universal family on top, ~2x cheaper per shingle."""
    coeffs = hash_coefficients(n_hashes)
    if fast_hash:
        base = lambda s: F.xxhash64(s).bitwiseAND(F.lit((1 << 31) - 1)) % MERSENNE_31  # noqa: E731
    else:
        base = base_hash_31

    def seed_min(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_31

    hashed = docs_sh.filter(F.size("sh") > 0).withColumn(
        "__hs", F.transform("sh", base)
    )
    return hashed.select(
        F.col(id_col),
        *[
            F.array_min(F.transform("__hs", seed_min(a, b))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )


def _signatures_from_shingled(
    docs_sh: DataFrame, n_hashes: int, id_col: str, fast_hash: bool = False
) -> DataFrame:
    wide = _signatures_wide(docs_sh, n_hashes, id_col, fast_hash)
    # long form (seed, minhash) for oracle comparison
    stack_expr = ", ".join(f"{i}, mh_{i}" for i in range(n_hashes))
    return wide.selectExpr(
        id_col, f"stack({n_hashes}, {stack_expr}) AS (seed, minhash)"
    ).select(id_col, F.col("seed").cast("int").alias("seed"), "minhash")


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, seed, minhash): min over shingles of (a*h + b) mod p for
    each hash-family member. Linear: explode shingles, one groupBy."""
    return _signatures_from_shingled(_shingled_docs(docs, id_col, text_col), n_hashes, id_col)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding + exact-Jaccard verify.

    Candidate generation joins on (band, band-signature): only documents
    agreeing on every minhash in some band meet — the O(n^2) comparison
    never happens. Verification recomputes true shingle Jaccard on the
    candidates only. The shingle arrays are persisted once and reused by
    both the signature and verification stages (shingling is the dominant
    cost; computing it twice doubled the wall time at sf0.1).

    Band keys are xxhash64(band_index, the band's minhashes) computed
    straight off the wide signature row — no second shuffle into
    per-band groups. A 64-bit collision across bands could only add a
    candidate pair, which exact verification then rejects.

    Shingles are collapsed to 64-bit xxhash64 values at shingling time
    (this path is rows-only, no cross-engine hash constraint): the
    signature stage then hashes longs instead of 5-char strings, the
    persisted arrays are ~3x smaller, and the Jaccard verify's
    array_intersect/array_union compare longs. Set semantics are
    preserved up to 64-bit collisions (~n^2/2^64, negligible).
    """
    docs_sh = (
        _shingled_docs(docs, id_col, text_col)
        .select(
            F.col(id_col),
            F.array_distinct(F.transform("sh", lambda s: F.xxhash64(s))).alias("sh"),
        )
        .persist()
    )
    wide = _signatures_wide(docs_sh, n_hashes, id_col, fast_hash=True)
    n_bands = n_hashes // band_size
    band_keys = [
        F.xxhash64(
            F.lit(j), *[F.col(f"mh_{i}") for i in range(j * band_size, (j + 1) * band_size)]
        )
        for j in range(n_bands)
    ]
    # persist: the self-join reads banded twice, and the narrow signature
    # computation (unlike the old groupBy form) has no shuffle whose
    # output Spark would reuse across the two branches
    banded = wide.select(
        F.col(id_col), F.explode(F.array(*band_keys)).alias("band_key")
    ).persist()
    a = banded.select(F.col(id_col).alias("id_a"), "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band_key")
    candidates = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    da = docs_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    db = docs_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(da, "id_a")
        .join(db, "id_b")
        .select("id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens using xxhash64 (rows-only
    path: engine-private hash, verified by unit tests, not the oracle).

    Per token: 64-bit hash; each bit contributes +1/-1 to its lane; the
    sign of each lane's sum becomes the output bit. Expressed with
    bitwise expressions over an exploded-free aggregate of the token
    array — a per-row Catalyst expression, no shuffle.
    """
    toks = F.split(F.lower(text), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    sim = F.lit(0).cast("long")
    for bit in range(64):
        # bit 63 is the sign bit: its mask is the negative long, since
        # 1 << 63 overflows the JVM long literal range.
        mask_val = (1 << bit) if bit < 63 else -(1 << 63)
        mask = F.lit(mask_val).cast("long")
        # lane sum = #tokens with bit set - #tokens with bit clear
        set_cnt = F.size(F.filter(hashes, lambda h: h.bitwiseAND(mask) != 0))
        lane = (set_cnt * 2) - F.size(hashes)
        sim = sim + F.when(lane > 0, mask).otherwise(F.lit(0))
    return sim


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash32_portable(text: Column) -> Column:
    """32-bit SimHash with an engine-portable token hash (md5 hex -> int),
    so the value is oracle-checkable bit-for-bit, unlike the xxhash64
    variant above. Per token: 32-bit hash; each bit lane accumulates +1/-1
    by that bit; lane sum > 0 sets the output bit.

    Evaluated NARROW: the hashed-token array binds once as a lambda
    variable (transform over a one-element array), so the 32 lane
    aggregates reuse it instead of re-hashing every token 32 times — the
    same HOF-binding trick the MinHash signatures use."""
    from parquet_exporter_spark.functions.text import tokens

    hs = F.transform(
        tokens(text),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )

    def body(hsv: Column) -> Column:
        def lane(b: int) -> Column:
            return F.aggregate(
                hsv,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )

        total = F.lit(0).cast("long")
        for b in range(32):
            total = total + F.when(lane(b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        return total

    return F.try_element_at(F.transform(F.array(hs), body), F.lit(1))


def sql_simhash32(text_sql: str) -> str:
    """DuckDB twin of simhash32_portable (explode form: SQL has no lambda
    binding, and the oracle only needs correctness, not the narrow plan)."""
    return f"""
    (
        SELECT CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
        FROM (
            SELECT b,
                   sum(CASE WHEN (('0x' || substring(md5(tok), 1, 8))::BIGINT >> b) & 1 = 1
                            THEN 1 ELSE -1 END) AS s
            FROM unnest(regexp_split_to_array(lower({text_sql}), '\\s+')) AS t(tok)
            CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bits
            GROUP BY b
        )
    )
    """


def _banded_from_shingled(
    docs_sh: DataFrame, n_hashes: int, band_size: int, id_col: str
) -> DataFrame:
    """(id, band, band_sig) rows from already-shingled docs, portable hash
    family: band signature = the band's minhash tuple as a comma-joined
    decimal string (no engine-private hash anywhere)."""
    wide = _signatures_wide(docs_sh, n_hashes, id_col, fast_hash=False)
    n_bands = n_hashes // band_size
    bands = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh_{i}")
                    for i in range(j * band_size, (j + 1) * band_size)
                ],
            ).alias("band_sig"),
        )
        for j in range(n_bands)
    ]
    return wide.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(
        F.col(id_col), F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig")
    )


def _jaccard(a: str, b: str) -> Column:
    """Exact Jaccard of two shingle-set array columns, rounded to 6 places:
    the value every LSH pair path reports and thresholds on."""
    return F.round(
        F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b)),
        6,
    )


def _band_candidates(
    banded_a: DataFrame, banded_b: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b) for every (band, band_sig) collision between two
    (id, band, band_sig) relations, one row per colliding band (callers
    filter and distinct)."""
    a = banded_a.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = banded_b.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return a.join(b, ["band", "band_sig"]).select("id_a", "id_b")


def _verified_self_pairs(
    banded: DataFrame, sh: DataFrame, jaccard_threshold: float, id_col: str
) -> DataFrame:
    """LSH self-join over already-signed docs: (id_a, id_b, jaccard) for
    each colliding pair once (id_a < id_b) with exact shingle Jaccard >=
    threshold. ``banded`` is (id, band, band_sig), ``sh`` is (id, sh)."""
    candidates = (
        _band_candidates(banded, banded, id_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def _verified_probe_pairs(
    candidates: DataFrame,
    sh: DataFrame,
    corpus: DataFrame,
    jaccard_threshold: float,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact verify of (id_a = new doc, id_b = corpus doc) candidates.
    ``sh`` is the new docs' (id, sh). The corpus rows of the distinct
    candidate ids are fetched by a semi-join and shingled once each, so
    verify compute is O(candidates), never O(corpus). ``candidates`` is
    read twice (the fetch and the pairs): pass it persisted. Returns
    (id_a, id_b, jaccard) at >= threshold."""
    fetched = corpus.join(
        candidates.select(F.col("id_b").alias(id_col)).distinct(), id_col, "semi"
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = _shingled_docs(fetched, id_col, text_col).select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    )
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def write_minhash_band_index(
    docs: DataFrame,
    path: str,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's LSH band index: (id, band, band_sig) parquet,
    hive-partitioned by band.

    THE production dedup shape at 100 TB: the standing corpus is signed
    ONCE and only this tiny index (a few dozen bytes per doc per band,
    never the text) is kept online; each new ingest batch signs only its
    own docs and equi-joins the index. Re-pairing the whole corpus per
    ingest — what every batch-pairs query does — is linear-in-corpus
    work a pipeline cannot afford per increment. Pass mode='append' to
    fold a deduplicated batch's bands into the index (the maintenance
    half of the increment)."""
    banded = _banded_from_shingled(
        _shingled_docs(docs, id_col, text_col), n_hashes, band_size, id_col
    )
    banded.write.mode(mode).partitionBy("band").parquet(path)


def probe_minhash_band_index(
    spark,
    index_path: str,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup check: sign ONLY the new batch, candidate-join
    its bands against the persisted index, then verify candidates with
    exact shingle Jaccard. ``index_df`` overrides the ``index_path`` read
    when the caller needs a filtered view of the index (e.g. a replayed
    streaming batch excluding its own prior partition). The corpus table
    is scanned once to FETCH the candidate rows (a semi-join on candidate
    corpus ids before any shingling; see _verified_probe_pairs), so
    exact-verify compute — shingle arrays, intersections — is
    O(candidates), never O(corpus); only the scan of the corpus remains
    linear, and that is the read a lookup must pay on plain parquet (a
    keyed table format would prune it too). The planner picks every join
    strategy: the candidate set grows with the batch and with the band
    collision rate, so nothing here is hinted to broadcast.

    Returns (new_id, corpus_id, jaccard) for every batch doc that
    near-duplicates an existing corpus doc at >= jaccard_threshold."""
    new_sh = _shingled_docs(new_docs, id_col, text_col).persist()
    index = index_df if index_df is not None else spark.read.parquet(index_path)
    candidates = _band_candidates(
        _banded_from_shingled(new_sh, n_hashes, band_size, id_col), index, id_col
    ).distinct().persist()
    pairs = _verified_probe_pairs(
        candidates, new_sh, corpus_docs, jaccard_threshold, id_col, text_col
    )
    return pairs.select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "jaccard"
    )


def minhash_lsh_pairs_portable(
    docs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The LSH pipeline with every stage engine-portable, so the WHOLE
    candidate-generation + verify path is oracle-checked (not just the
    signatures): md5-derived base hashes, band signature = the band's
    minhash tuple itself (comma-joined decimal string — no private hash),
    exact Jaccard over the raw shingle strings. Same asymptotic shape as
    minhash_lsh_pairs (banded equi-join, shingles persisted across the
    signature and verify stages); the xxhash64 variant stays the
    production/bench path because it skips the md5 hex round-trip and
    compares longs instead of strings."""
    docs_sh = _shingled_docs(docs, id_col, text_col).persist()
    # Optimization r14 (guide §1.2 step 1: don't compute twice): the band
    # relation feeds BOTH sides of the candidate self-join; unpersisted,
    # the md5 base-hash + signature chain — the most expensive per-row
    # work in the portable path — re-ran once per side. The xxhash64
    # sibling (minhash_lsh_pairs) has persisted its banded relation for
    # the same reason since it was measured 2x there.
    banded = _banded_from_shingled(docs_sh, n_hashes, band_size, id_col).persist()
    # Optimization r15 (ADVICE r14, dedup.py:503): materialize the (small)
    # pair result eagerly and release both persists, so repeated calls do
    # not leak a cache entry per persist for the session lifetime — the
    # discipline prefix_filter/winnow already use.
    try:
        return _verified_self_pairs(
            banded, docs_sh, jaccard_threshold, id_col
        ).localCheckpoint(eager=True)
    finally:
        banded.unpersist()
        docs_sh.unpersist()


def winnow_containment_pairs(
    docs: DataFrame,
    fingerprint_fn,
    max_fp_df: int = 20,
    min_shared: int = 2,
    containment_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT — |A∩B|/|A| and
    |A∩B|/|B| — with candidates from shared WINNOWING fingerprints.

    Why not the MinHash bands: band-collision probability tracks
    JACCARD, so Jaccard-banded candidates structurally miss the
    small-doc-inside-big-doc pairs containment exists for (the big
    doc's extra shingles dilute every minhash). Winnowing fingerprints
    are LOCAL: a shared substring of k+w-1 chars yields a common
    fingerprint no matter how large either document is.

    Fanout bounds: fingerprints appearing in more than ``max_fp_df``
    docs are dropped (stop-fingerprints — boilerplate idioms would
    otherwise quadratically blow up the equi-join), and pairs must
    share at least ``min_shared`` surviving fingerprints. Exact
    containment verify runs on candidates only.

    ``fingerprint_fn(docs, id_col=..., text_col=...)`` supplies the
    (id, fingerprint) rows (queries/llm7.winnowing_fingerprints; passed
    in to keep this module free of a queries-package import)."""
    fps = fingerprint_fn(docs, id_col=id_col, text_col=text_col).persist()
    kept = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_fp_df)
        .select("fingerprint")
    )
    rare = fps.join(kept, "fingerprint")
    a = rare.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = rare.select(F.col(id_col).alias("id_b"), "fingerprint")
    candidates = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    # Materialize the (small) candidate pair set now — it is the only
    # consumer that reads fps twice — then drop the cache so repeated
    # invocations don't accumulate executor storage until LRU eviction.
    # localCheckpoint blocks are freed with the DataFrame, unlike an
    # orphaned persist.
    candidates = candidates.localCheckpoint(eager=True)
    fps.unpersist()
    # Optimization r14 (guide §1.2 step 1, §2.3): the verify stage used to
    # run the shingle HOF chain over EVERY document TWICE (da and db each
    # re-derived _shingled_docs). Shingle only the docs that appear in a
    # candidate pair (broadcast semi-join on the checkpointed pair ids —
    # at 100 TB candidates are the tiny survivor set, the corpus is not),
    # and persist that one table for both join sides; released after the
    # (small) pair result materializes.
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs_sh = _shingled_docs(
        docs.join(F.broadcast(ids), id_col, "left_semi"), id_col, text_col
    ).persist()
    da = docs_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    db = docs_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont_ab = F.round(inter / F.size("sh_a"), 6)
    cont_ba = F.round(inter / F.size("sh_b"), 6)
    out = (
        candidates.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            cont_ab.alias("cont_a_in_b"),
            cont_ba.alias("cont_b_in_a"),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= containment_threshold
        )
    )
    out = out.localCheckpoint(eager=True)  # materialize before unpersist
    docs_sh.unpersist()
    return out


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family): all pairs with shingle-set Jaccard >=
    threshold, without LSH's false negatives and without the all-pairs
    cross product.

    The guarantee: order every doc's shingles by a single global order
    (rarest first: ascending document frequency, shingle as tiebreak).
    If J(A, B) >= t then |A ∩ B| >= ceil(t·|A|), so A and B MUST share
    at least one element among each one's first n - ceil(t·n) + 1
    shingles — the prefix. Candidate generation is therefore an
    equi-join on PREFIX shingles only (the rarest ~(1-t)·n per doc), and
    the exact Jaccard verify runs on the surviving pairs.

    The threshold is a rational (num/den) so the prefix length uses pure
    integer arithmetic — ceil(t·n) = (num·n + den - 1) div den — and
    both engines agree at every boundary.

    Scale shape: shuffles are keyed on shingle (document frequency),
    doc id (ordered-set build), and prefix shingle (candidates) — all
    linear in corpus shingle volume; the quadratic term is confined to
    docs sharing RARE shingles, which is the point of the ordering.
    MinHash-LSH banding (minhash_lsh_pairs) stays the recall/cost knob
    when approximate results are acceptable; this is the exact tier.
    """
    t = threshold_num / threshold_den
    # Optimization r14 (guide §1.2 step 1): without the two persists below,
    # `sized` was referenced three times (prefix explode, verify side a,
    # verify side b) and its lineage contains the shingle set twice (dfreq
    # + the ordered-set build), so the char_shingles HOF chain — the most
    # expensive per-row expression in this pipeline — re-ran ~6x per
    # execution. Persist the per-doc shingle rows once and the ordered/
    # sized table once; both are one row per doc (corpus-shingle-sized,
    # the same working set the join shuffles anyway), and both are
    # released in the finally after the (small) pair result materializes.
    sh = docs.select(
        F.col(id_col).alias("doc_id"), char_shingles(F.col(text_col)).alias("sh")
    ).filter(F.size("sh") > 0).persist()
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "s"))), lambda x: x["s"]
            ).alias("lst")
        )
    )
    n = F.size("lst")
    ceil_tn = F.floor(
        (F.lit(threshold_num) * n + F.lit(threshold_den - 1)) / threshold_den
    ).cast("int")
    sized = ordered.select(
        "doc_id", "lst", n.alias("n"), (n - ceil_tn + 1).alias("p")
    ).persist()
    try:
        pref = sized.select(
            "doc_id", F.explode(F.slice("lst", 1, F.col("p"))).alias("s")
        )
        a, b = pref.alias("a"), pref.alias("b")
        cand = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = sized.select(F.col("doc_id").alias("doc_a"), F.col("lst").alias("la"), F.col("n").alias("na"))
        sb = sized.select(F.col("doc_id").alias("doc_b"), F.col("lst").alias("lb"), F.col("n").alias("nb"))
        inter = F.size(F.array_intersect("la", "lb"))
        jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
        out = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= F.round(F.lit(t), 6))
        )
        return out.localCheckpoint(eager=True)  # materialize before unpersist
    finally:
        sized.unpersist()
        sh.unpersist()


def duplicate_span_pairs(
    docs: DataFrame,
    span_w: int = 15,
    df_cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicate-SPAN detection: (id_a, id_b, n_shared_windows) for
    every doc pair sharing at least one identical ``span_w``-token window
    (every window, stride 1) — the span-level verbatim-overlap signal
    whole-doc Jaccard dilutes. Each window reduces to ONE md5 digest, so
    candidate generation is a hash-keyed equi-join; window text never
    joins.

    ``df_cap`` is the production skew knob: a window appearing in d docs
    contributes d*(d-1)/2 join pairs, so one boilerplate window shared by
    100k docs alone produces ~5e9 pairs. Capping drops windows whose
    document frequency exceeds the cap BEFORE the self-join (one extra
    aggregate on the digest key — cheap relative to the quadratic term it
    removes), bounding any single window's contribution to
    df_cap*(df_cap-1)/2 pairs. Boilerplate that hot is dedup noise, not
    signal — the same reasoning as the hot-shingle cuts in the LSH path.
    None = exact/uncapped (the oracle-checked configuration)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("t"),
    ).filter(F.size("t") >= span_w)
    # greatest(..., 1) keeps the expression TOTAL: constraint inference
    # can evaluate it on pre-filter rows (Catalyst folds an inferred
    # non-empty-array predicate into the scan filter), where a <span_w-
    # token doc would otherwise drive sequence() descending through
    # slice start 0 and abort the job. Filtered rows never surface the
    # bogus single short window.
    wins = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("t") - (span_w - 1), F.lit(1))
                ),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, span_w))),
            )
        ).alias("whs"),
    )
    ex = wins.select("doc_id", F.explode("whs").alias("wh"))
    if df_cap is not None:
        hot = (
            ex.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("wdf"))
            .filter(F.col("wdf") > df_cap)
            .select("wh")
        )
        ex = ex.join(hot, "wh", "left_anti")
    a = ex.select(F.col("doc_id").alias("id_a"), "wh")
    b = ex.select(F.col("doc_id").alias("id_b"), "wh")
    return (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
