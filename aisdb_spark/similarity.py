"""Embedding similarity over the ``embeddings`` table (vec_id, embedding
float[64], label): brute-force cosine top-k (the correctness baseline) and
an LSH-bucketed approximate variant (the scale path).

Cosine is computed with an explicit left fold over DOUBLE-cast elements —
``aggregate(zip_with(...))`` in Spark, ``list_reduce(list_transform(...))``
in DuckDB — with the identical operation order, so scores are bit-equal
across engines (same discipline as the interpolation oracle).

Scale: brute-force is a full scan with a per-row fold (JVM codegen, no
shuffle) + a top-k (TakeOrderedAndProject — no global sort materialized).
The LSH variant buckets by sign patterns against deterministic hyperplanes;
a query probes only its bucket — at 10^9 vectors the scan drops by the
bucket fan-out while the same plan shape holds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aisdb_spark.plans.partitioning import spread_scan
from aisdb_spark.sources.normalize import read_parquet


def _vec_literal(vals, duck: bool) -> str:
    body = ", ".join(repr(float(v)) for v in vals)
    return f"[{body}]" if duck else f"array({body})"


def _dot_expr(a: str, b: str, duck: bool) -> str:
    if duck:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (p, q) -> p + q)"
    )


def cosine_expr(a: str, b: str, duck: bool) -> str:
    return (
        f"({_dot_expr(a, b, duck)}) / "
        f"sqrt(({_dot_expr(a, a, duck)}) * ({_dot_expr(b, b, duck)}))"
    )


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    df.createOrReplaceTempView("embeddings")
    return df


def query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        load_embeddings(spark, sf_dir)
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row.embedding]


def brute_force_topk(
    spark: SparkSession, sf_dir: str, query: list[float], k: int = 10,
    exclude_vec_id: int | None = 0,
) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    q = _vec_literal(query, duck=False)
    cos = F.expr(cosine_expr("embedding", q, duck=False))
    out = emb.select("vec_id", "label", cos.alias("cos"))
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return out.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


def hyperplanes(dim: int = 64, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (seeded) for sign-bucket LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _planes_literal(planes: np.ndarray, duck: bool = False) -> str:
    """2-D literal array of hyperplanes (one row per plane)."""
    rows = ", ".join(_vec_literal(p, duck) for p in planes)
    return f"array({rows})"


def _plane_dots_expr(planes: np.ndarray) -> str:
    """Array of dot(embedding, plane) for every plane, as ONE nested
    higher-order expression over a single 2-D plane literal. Each dot is
    the identical left fold ``aggregate(zip_with(...), 0.0D, +)`` the
    per-plane expression form used, so every sign decision is bit-equal —
    but the expression tree is ~10x smaller (one literal + two lambdas vs
    n_planes separate 64-literal folds), which cuts the per-run Catalyst
    analysis cost every DataFrame operation re-pays (measured: ~0.5 s of
    driver time per cosine_near_pairs run at r*b=16)."""
    return (
        f"transform({_planes_literal(planes)}, p -> "
        f"aggregate(zip_with(embedding, p, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def lsh_bucket_expr(planes: np.ndarray) -> str:
    """Spark SQL expr: bucket id = sign-bit pattern vs each hyperplane.

    The dots array is bound once per row as a lambda variable (the
    1-element ``transform(array(...), ds -> ...)[0]`` idiom — immune to
    CollapseProject re-inlining), then folded into the bucket int with
    the same ``>= 0`` sign rule and ``1 << j`` weights as the old
    per-plane CASE chain."""
    n = len(planes)
    return (
        f"transform(array({_plane_dots_expr(planes)}), ds -> "
        f"aggregate(sequence(0, {n - 1}), 0, "
        f"(acc, j) -> acc + (CASE WHEN ds[j] >= 0 THEN shiftleft(1, j) "
        f"ELSE 0 END)))[0]"
    )


def ann_topk(
    spark: SparkSession, sf_dir: str, query: list[float], k: int = 10,
    n_planes: int = 8, exclude_vec_id: int | None = 0,
) -> DataFrame:
    """Approximate top-k: probe only the query's sign bucket (plus Hamming-1
    neighbor buckets for recall), then exact cosine within."""
    planes = hyperplanes(dim=len(query), n_planes=n_planes)
    emb = load_embeddings(spark, sf_dir).withColumn(
        "bucket", F.expr(lsh_bucket_expr(planes))
    )
    qv = np.asarray(query, dtype=np.float64)
    qb = sum((1 << j) for j, p in enumerate(planes) if float(p @ qv) >= 0)
    probe = [qb] + [qb ^ (1 << j) for j in range(n_planes)]  # multi-probe
    q = _vec_literal(query, duck=False)
    cos = F.expr(cosine_expr("embedding", q, duck=False))
    out = (
        emb.filter(F.col("bucket").isin(probe))
        .select("vec_id", "label", cos.alias("cos"))
    )
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return out.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


# Banded hyperplane LSH for near-dup blocking: b bands × r planes; a pair is
# a candidate iff all r sign bits agree in some band. Per-plane agreement
# probability for cosine θ is 1 - θ/π (Charikar, STOC'02): at cos ≥ 0.95,
# p ≈ 0.899 → recall 1-(1-p^r)^b = 0.985 with (r=4, b=4). Scale arithmetic:
# r sets bucket count (2^r per band) and must grow with corpus size — at
# 10⁹ vectors, (r=20, b=24) gives ~10⁶ keys/band at ~0.95 recall; band
# count is the recall knob, key width the occupancy knob. Test scale uses
# (4, 4): 16 planes, same plan shape.
NEARDUP_R = 4
NEARDUP_B = 4


def neardup_r_for(n_docs: int, target_bucket: int = 32, r_min: int = NEARDUP_R) -> int:
    """Bits per hyperplane band sized to the corpus: expected bucket
    occupancy for isotropic vectors is n/2^r, so r must grow with
    log2(n) or the per-bucket self-join goes quadratic — at the default
    r=4 (right for the 500-doc oracle: 500/16 ≈ 31/bucket) a 10⁶-doc
    corpus would put ~62.5k docs in every bucket (~2e9 candidate pairs
    per band). With r = log2(n/32), near-EXACT duplicates still collide
    reliably: a pair at cosine ≥ 0.99 (θ ≤ 8°) matches one r=20 band
    with p = (1-θ/π)^20 ≈ 0.40, and ≥0.999 with p ≈ 0.85 — across b=4
    bands that is ≥0.87 / ≥0.999 recall, the dedup regime this operator
    serves. Measured at 10⁶ docs: predicted vs observed occupancy in
    BENCH_LARGE.json."""
    import math

    return max(r_min, math.ceil(math.log2(max(1, n_docs) / target_bucket)))


def _band_key_expr(planes: np.ndarray, band: int, r: int, duck: bool) -> str:
    terms = []
    for j in range(r):
        p = planes[band * r + j]
        dot = _dot_expr("embedding", _vec_literal(p, duck), duck)
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def cosine_band_rows(
    emb: DataFrame, planes: np.ndarray, r: int, b: int
) -> DataFrame:
    """(vec_id, band, bkey) hyperplane sign-pattern band rows over an
    embeddings frame for cosine_near_pairs.

    One explode pass over an array of (band, bkey) structs instead of the
    old b-way unionByName: the union re-evaluated the embeddings scan and
    the r·b dot-product folds per branch AND per self-join side; a single
    subtree computes every sign bit exactly once per row and lets both
    join sides reuse one exchange (the same fix textops' band rows got in
    round 4 — this was the last union-shaped band generator).

    The r·b plane dots are computed through ONE 2-D plane literal and
    bound once per row as a lambda variable (``_plane_dots_expr``); band
    keys recombine ``ds[band*r + j]`` sign bits with the same ``>= 0``
    rule and ``1 << j`` weights as the old per-plane CASE chains — the
    identical fold order makes every bucket decision bit-equal, while
    the ~10x smaller expression tree cuts the Catalyst analysis cost
    re-paid on every run (~0.5 s/run at r*b=16, measured)."""
    key_structs = F.expr(
        f"transform(array({_plane_dots_expr(planes[: r * b])}), ds -> "
        f"transform(sequence(0, {b - 1}), i -> named_struct("
        f"'band', i, "
        f"'bkey', aggregate(sequence(0, {r - 1}), 0, "
        f"(acc, j) -> acc + (CASE WHEN ds[i * {r} + j] >= 0 "
        f"THEN shiftleft(1, j) ELSE 0 END)))))[0]"
    )
    return emb.select("vec_id", F.explode(key_structs).alias("bk")).select(
        "vec_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def cosine_near_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95,
    r: int | None = None, b: int = NEARDUP_B,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on banded hyperplane
    LSH buckets (replaces round-1's label blocking, whose few huge blocks
    went quadratic at scale). Candidates = pairs sharing a full sign
    pattern in any band; verification = exact cosine with precomputed norms
    (fold order identical to the oracle → bit-equal doubles).

    ``r=None`` (the default) SELF-SIZES the band width to the corpus:
    ``neardup_r_for(count)`` keeps expected bucket occupancy ~32 docs, so
    a caller invoking the operator with defaults can never hit the
    quadratic blowup the fixed r=4 had at 10⁶+ docs (~62.5k docs per
    bucket → ~2e9 candidate pairs per band; see neardup_r_for for the
    recall consequence — near-exact duplicates still collide reliably).
    Pass an explicit ``r`` to pin the banding (the oracle-parity queries
    do: their DuckDB twin embeds the same fixed planes)."""
    emb0 = load_embeddings(spark, sf_dir)
    if r is None:
        # one bounded scalar agg; at 10⁹ docs this is a count, not a risk
        r = neardup_r_for(emb0.count())
    planes = hyperplanes(dim=64, n_planes=r * b)
    # coalesce makes nrm non-nullable: without it the cos>=threshold
    # filter infers isnotnull(nrm1/nrm2) and predicate-pushes the whole
    # sqrt(dot) fold below the spread exchange, evaluating it twice (once
    # on the unspread scan). A null embedding yields a null dot → null
    # cos → dropped either way, so results are unchanged.
    emb = spread_scan(emb0, "vec_id").select(
        "vec_id",
        "embedding",
        F.expr(
            f"coalesce(sqrt({_dot_expr('embedding', 'embedding', False)}), 0.0D)"
        ).alias("nrm"),
    )
    bands = cosine_band_rows(emb, planes, r, b)
    l, rr = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            rr,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec1"), F.col("r.vec_id").alias("vec2"))
        .distinct()
    )
    e1 = emb.select(
        F.col("vec_id").alias("vec1"),
        F.col("embedding").alias("emb1"),
        F.col("nrm").alias("nrm1"),
    )
    e2 = emb.select(
        F.col("vec_id").alias("vec2"),
        F.col("embedding").alias("emb2"),
        F.col("nrm").alias("nrm2"),
    )
    dot = F.expr(_dot_expr("emb1", "emb2", duck=False))
    return (
        cand.join(e1, "vec1")
        .join(e2, "vec2")
        .select(
            "vec1",
            "vec2",
            (dot / (F.col("nrm1") * F.col("nrm2"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def cosine_near_pairs_oracle(
    threshold: float = 0.95, r: int = NEARDUP_R, b: int = NEARDUP_B
) -> str:
    planes = hyperplanes(dim=64, n_planes=r * b)
    bands_sql = "\nUNION ALL\n".join(
        f"SELECT vec_id, {i} AS band, "
        f"{_band_key_expr(planes, i, r, duck=True)} AS bkey FROM embeddings"
        for i in range(b)
    )
    dot = _dot_expr("e1.embedding", "e2.embedding", duck=True)
    nrm = _dot_expr("embedding", "embedding", duck=True)
    return f"""WITH bands AS (
{bands_sql}
),
cand AS (
  SELECT DISTINCT l.vec_id AS vec1, r.vec_id AS vec2
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bkey = r.bkey AND l.vec_id < r.vec_id
),
e AS (SELECT vec_id, embedding, sqrt({nrm}) AS nrm FROM embeddings)
SELECT c.vec1, c.vec2, ({dot}) / (e1.nrm * e2.nrm) AS cos
FROM cand c JOIN e e1 ON c.vec1 = e1.vec_id JOIN e e2 ON c.vec2 = e2.vec_id
WHERE ({dot}) / (e1.nrm * e2.nrm) >= {threshold}"""


# ---------------------------------------------------------------------------
# IVF-Flat ANN (the second scale path named by the brief, next to LSH).
# Coarse quantizer: K deterministic seed vectors (smallest md5(vec_id) —
# reproducible in pure SQL, no iterative k-means); assignment + probe
# selection run in INTEGER space (embeddings quantized to floor(x * 2^20))
# so every distance is an exact int64 sum — bit-stable across partition
# orders and engines, sidestepping float-sum non-associativity. Rerank is
# the exact cosine fold. At 10^9 vectors the probe scans ~nprobe/K of the
# table; assignment is one broadcast-literal pass (O(N·K) JVM codegen).
# ---------------------------------------------------------------------------

IVF_SCALE = 1 << 20
IVF_K = 16
IVF_NPROBE = 4


def _quant_expr(col: str, duck: bool) -> str:
    if duck:
        return (
            f"list_transform({col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {IVF_SCALE}) AS BIGINT))"
        )
    return (
        f"transform({col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {IVF_SCALE}) AS BIGINT))"
    )


def _int_l2_expr(a: str, b: str, duck: bool) -> str:
    if duck:
        return (
            f"list_reduce(list_transform(list_zip({a}, {b}), "
            f"x -> (CAST(x[1] AS BIGINT) - CAST(x[2] AS BIGINT)) * "
            f"(CAST(x[1] AS BIGINT) - CAST(x[2] AS BIGINT))), (p, q) -> p + q)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0L, (p, q) -> p + q)"
    )


def _int_vec_literal(vals) -> str:
    return "array(" + ", ".join(f"{int(v)}L" for v in vals) + ")"


def ivf_seed_order(duck: bool) -> str:
    cast = "VARCHAR" if duck else "STRING"
    return f"md5(CAST(vec_id AS {cast})), vec_id"


def ivf_centroids(spark: SparkSession, sf_dir: str, n_cent: int = IVF_K):
    """[(cid, quantized int vector)] — dim-sized, deterministic order."""
    emb = load_embeddings(spark, sf_dir)
    seeds = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_cent)
        .select(F.expr(_quant_expr("embedding", duck=False)).alias("qc"))
        .collect()
    )
    return [(cid, [int(x) for x in r.qc]) for cid, r in enumerate(seeds)]


def ivf_topk(
    spark: SparkSession, sf_dir: str, query: list[float], k: int = 10,
    n_cent: int = IVF_K, nprobe: int = IVF_NPROBE,
    exclude_vec_id: int | None = 0,
) -> DataFrame:
    """IVF-Flat top-k: integer assignment to the nearest seed centroid,
    probe the ``nprobe`` centroids nearest the query, exact-cosine rerank."""
    import math

    cents = ivf_centroids(spark, sf_dir, n_cent)
    dist_structs = ", ".join(
        f"named_struct('dist', {_int_l2_expr('qv', _int_vec_literal(c), duck=False)}, "
        f"'cid', {cid})"
        for cid, c in cents
    )
    assign = f"array_min(array({dist_structs})).cid"
    emb = load_embeddings(spark, sf_dir).withColumn(
        "qv", F.expr(_quant_expr("embedding", duck=False))
    ).withColumn("cl", F.expr(assign))
    # probe selection in exact python ints (same IEEE mul + floor as SQL)
    qq = [int(math.floor(float(x) * IVF_SCALE)) for x in query]
    dists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qq, c)), cid) for cid, c in cents
    )
    probe = [cid for _, cid in dists[:nprobe]]
    cos = F.expr(cosine_expr("embedding", _vec_literal(query, duck=False), duck=False))
    out = emb.filter(F.col("cl").isin(probe)).select(
        "vec_id", "label", cos.alias("cos")
    )
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return out.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


def ivf_topk_oracle(
    k: int = 10, n_cent: int = IVF_K, nprobe: int = IVF_NPROBE,
    exclude_vec_id: int | None = 0,
) -> str:
    """DuckDB twin: seeds, integer assignment, probe set, and rerank all in
    SQL over the same parquet — quantization makes every comparison exact."""
    l2 = _int_l2_expr("b.qv", "s.qc", duck=True)
    l2q = _int_l2_expr("q.qq", "s.qc", duck=True)
    cos = cosine_expr("a.embedding", "qe", duck=True)
    where = f"AND a.vec_id != {exclude_vec_id}" if exclude_vec_id is not None else ""
    return f"""WITH seeds AS (
  SELECT {_quant_expr('embedding', True)} AS qc,
    row_number() OVER (ORDER BY {ivf_seed_order(True)}) - 1 AS cid
  FROM embeddings ORDER BY {ivf_seed_order(True)} LIMIT {n_cent}
),
base AS (
  SELECT vec_id, label, embedding, {_quant_expr('embedding', True)} AS qv
  FROM embeddings
),
assign AS (
  SELECT b.vec_id, b.label, b.embedding, s.cid,
    row_number() OVER (PARTITION BY b.vec_id ORDER BY {l2}, s.cid) AS rn
  FROM base b CROSS JOIN seeds s
),
q AS (
  SELECT embedding AS qe, {_quant_expr('embedding', True)} AS qq
  FROM embeddings WHERE vec_id = 0
),
probes AS (
  SELECT s.cid FROM seeds s CROSS JOIN q ORDER BY {l2q}, s.cid LIMIT {nprobe}
)
SELECT a.vec_id, a.label, {cos} AS cos
FROM assign a CROSS JOIN q
WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probes) {where}
ORDER BY cos DESC, a.vec_id ASC LIMIT {k}"""
