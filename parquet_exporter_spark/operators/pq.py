"""Product quantization (PQ) for embedding compression — the codebook
half of the FAISS-style IVF+PQ ANN stack (the IVF half is
functions/similarity.py's cell-partitioned index).

A D-dim vector is split into M contiguous subvectors; each subspace
gets its own K-centroid codebook (deterministic Lloyd's, same contract
as the oracle-checked emb_kmeans_cluster: fixed init by vec_id order,
fixed iteration count, 1e-9 snapping). A vector compresses to M small
integer codes — D floats (256 bytes at D=64) become M bytes — and
asymmetric distance computation against the codebooks approximates
full-precision distances for re-ranking.

Scale shape: assignment is a narrow expression over literal centroids
(zero shuffle); each training iteration is ONE posexplode aggregate per
subspace whose K x D/M result is the model state collected driver-side
— bounded by the codebook, never the corpus. At 100 TB, train the
codebooks on a sample and broadcast them as literals, exactly like the
K-means/MinHash fits.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fmt_double(v: float) -> str:
    """SQL double literal that parses back to the identical IEEE double:
    Python ``repr`` emits the shortest round-tripping decimal and Java's
    ``Double.parseDouble`` is correctly rounded, so the value survives the
    string trip bit-for-bit. The D suffix pins the SQL type to DOUBLE.
    NaN and the infinities have no numeric literal (``nanD`` does not
    parse), so they are spelled as casts of Spark's special strings."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def _dists(sub_name: str, cents: list[list[float]]):
    """Distance-array expression: per centroid, the round(·, 9)-snapped
    sequential squared-diff fold of the named subvector column.

    Optimization r14 (guide §1.2 step 2, §7.2/§7.3): the K distances are
    built ONCE into an array via a single ``transform`` over a literal
    array-of-arrays codebook — one HOF lambda per subspace instead of K
    separate ``aggregate(zip_with(...))`` trees — evaluating the
    IDENTICAL float operations in the identical order (zip_with
    squared-diff fold over the same doubles, round-9 snap), so distances
    are bit-identical to the per-centroid form.

    Optimization r15 (guide §1.2 step 2): the expression is constructed
    as ONE ``F.expr`` string instead of ~150 py4j Column calls per
    subspace (each F.lit/F.array/lambda is a driver round-trip; measured
    2.41 s -> 0.14 s for 8 subspace trees built twice per model fit).
    ``_fmt_double`` makes the literal trip exact, asserted bit-identical
    against the Column-built tree in the suite."""
    books_sql = ", ".join(
        "array(" + ", ".join(_fmt_double(v) for v in c) + ")" for c in cents
    )
    return F.expr(
        f"transform(array({books_sql}), c -> round(aggregate("
        f"zip_with({sub_name}, c, (a, b) -> (a - b) * (a - b)), "
        f"0.0D, (acc, v) -> acc + v), 9))"
    )


def _code(d_col):
    """argmin code from a distance-array COLUMN: ``array_position(d,
    array_min(d)) - 1`` — the first index achieving the minimum, i.e.
    the min-index tiebreak of the original K-deep ``when`` chain.
    Distances are round-9 snapped, so equality semantics are unchanged.

    Optimization r15 (guide §1.2 step 2): callers bind the distance
    array in its OWN projection and pass the resulting attribute here,
    so the transform tree appears (and is evaluated) once per row —
    CollapseProject keeps a non-cheap alias referenced more than once in
    its own Project — where inlining it into array_position(·,
    array_min(·)) plus the carried min evaluated the whole K-fold
    transform up to 3x per row (HOFs are CodegenFallback: no codegen
    subexpression elimination applies)."""
    return (F.array_position(d_col, F.array_min(d_col)) - 1).cast("int")


def nearest_centroid(
    df: DataFrame, cents: list[list[float]], vec: str = "x"
) -> DataFrame:
    """Nearest-centroid assignment over literal centroids: ``df`` plus
    ``cluster`` (int, the lowest centroid index at the minimum round-9
    squared-L2 distance) and ``dist`` (that distance). The distance
    array is bound in its own projection, as ``_code`` requires. A NULL
    or short vector has NULL distances (zip_with pads with NULL), so it
    gets cluster K-1 and a NULL dist."""
    d = df.select("*", _dists(vec, cents).alias("_d"))
    return d.select(
        *df.columns,
        F.coalesce(_code(F.col("_d")), F.lit(len(cents) - 1)).alias("cluster"),
        F.array_min("_d").alias("dist"),
    )


def pq_encode(
    emb: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Train per-subspace codebooks and encode every vector; see pq_model."""
    return pq_model(emb, n_subspaces, n_centroids, n_iters, id_col, vec)[0]


def pq_model(
    emb: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Train per-subspace codebooks and encode every vector.

    Returns (encoded, codebooks): encoded is (vec_id, codes array<int> of
    length n_subspaces, recon_err) with recon_err the total squared
    reconstruction error across subspaces, rounded to 9 — deterministic
    run to run. codebooks[m][c] is centroid c of subspace m, the model
    state ADC search needs.
    """
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec, lambda v: v.cast("double")).alias("x"),
    )
    # Optimization r15 (guide §2.3 driver fan-out): ONE collect serves
    # both the dimension discovery and the init centroids (the first
    # n_centroids full vectors by vec_id, sliced driver-side — the same
    # doubles F.slice produced), where a separate size() job used to run
    # first.
    init = base.orderBy("vec_id").limit(n_centroids).collect()
    dim = len(init[0]["x"])
    sub_dim = dim // n_subspaces
    subs = base.select(
        "vec_id",
        *[
            F.slice("x", m * sub_dim + 1, sub_dim).alias(f"s{m}")
            for m in range(n_subspaces)
        ],
    )
    books: list[list[list[float]]] = [
        [list(r["x"][m * sub_dim : (m + 1) * sub_dim]) for r in init]
        for m in range(n_subspaces)
    ]

    for it in range(n_iters - 1):
        # Optimization r14 (guide §1.2 step 1: don't compute things you
        # throw away): the M-step used to run one collect() PER SUBSPACE —
        # 8 jobs, each re-evaluating the assignment expressions for ALL 8
        # subspaces and keeping one — i.e. 8x the assignment compute and
        # 8 analysis/codegen/scheduling rounds per iteration. All
        # subspaces now explode into one (m, c, i, v) stream and ONE
        # map-side-combinable aggregate (guide §2.3) returns every
        # codebook in a single K*M*(D/M)-row collect. Centroid values are
        # avg + round(·, 9) exactly as before, so the 1e-9 snapping that
        # already absorbed partial-aggregation order keeps them
        # bit-identical.
        # The heavy argmin expressions are computed in a Project BELOW the
        # explode (measured 3x faster than inlining them in the generator:
        # the Generate path evaluates its generator expression row-at-a-time
        # outside whole-stage codegen); the exploded structs then carry only
        # cheap column references. The distance arrays get their OWN
        # projection below the argmin one (see _code: binds the transform
        # once per row instead of twice).
        dproj = subs.select(
            *[F.col(f"s{m}") for m in range(n_subspaces)],
            *[
                _dists(f"s{m}", books[m]).alias(f"d{m}")
                for m in range(n_subspaces)
            ],
        )
        proj = dproj.select(
            *[F.col(f"s{m}") for m in range(n_subspaces)],
            *[_code(F.col(f"d{m}")).alias(f"c{m}") for m in range(n_subspaces)],
        )
        assigned = proj.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"c{m}").alias("c"),
                            F.col(f"s{m}").alias("s"),
                        )
                        for m in range(n_subspaces)
                    ]
                )
            ).alias("e")
        )
        rows = (
            assigned.select("e.m", "e.c", F.posexplode("e.s").alias("i", "v"))
            .groupBy("m", "c", "i")
            .agg(F.round(F.avg("v"), 9).alias("mu"))
            .collect()
        )
        by_mc: dict[int, dict[int, dict[int, float]]] = {}
        for r in rows:
            by_mc.setdefault(r.m, {}).setdefault(r.c, {})[r.i] = r.mu
        # empty clusters keep their previous centroid
        for m in range(n_subspaces):
            by_c = by_mc.get(m, {})
            books[m] = [
                [by_c.get(c, {}).get(i, books[m][c][i]) for i in range(sub_dim)]
                for c in range(n_centroids)
            ]

    # Final encode: distance arrays bound once per row in their own
    # projection (see _code), argmin codes and the per-subspace min
    # distances (summed in subspace order, exactly as before) on top.
    dproj = subs.select(
        "vec_id",
        *[_dists(f"s{m}", books[m]).alias(f"d{m}") for m in range(n_subspaces)],
    )
    total = F.array_min(F.col("d0"))
    for m in range(1, n_subspaces):
        total = total + F.array_min(F.col(f"d{m}"))
    encoded = dproj.select(
        "vec_id",
        F.array(*[_code(F.col(f"d{m}")) for m in range(n_subspaces)]).alias(
            "codes"
        ),
        F.round(total, 9).alias("recon_err"),
    )
    return encoded, books


def pq_adc_topk(
    encoded: DataFrame,
    books: list[list[list[float]]],
    query: list[float],
    k: int,
) -> DataFrame:
    """Asymmetric distance computation over PQ codes: the query is NOT
    quantized — per subspace, a 1 x n_centroids lookup table of squared
    distances from the query subvector to every centroid is computed
    driver-side (O(M*K*D/M) work, model-sized), and each stored vector's
    approximate distance is the sum of M table lookups by its codes.

    ADC distance == exact squared distance from the query to the
    vector's RECONSTRUCTION (sum over subspaces of ||q_m - c_{code_m}||²)
    — an identity the tests pin. Per-row cost is M array lookups inside
    codegen; top-k via orderBy+limit (per-partition heaps)."""
    n_subspaces = len(books)
    sub_dim = len(books[0][0])
    luts = []
    for m in range(n_subspaces):
        q_m = query[m * sub_dim : (m + 1) * sub_dim]
        luts.append(
            [
                round(sum((a - b) * (a - b) for a, b in zip(q_m, c)), 9)
                for c in books[m]
            ]
        )
    dist = None
    for m in range(n_subspaces):
        lut = F.array(*[F.lit(v) for v in luts[m]])
        term = F.element_at(lut, F.element_at("codes", m + 1) + 1)
        dist = term if dist is None else dist + term
    return (
        encoded.select("vec_id", F.round(dist, 9).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )
