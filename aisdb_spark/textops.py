"""Training-data pipeline operators over the ``documents`` table: text
analysis, exact + near deduplication (MinHash-LSH, SimHash, n-gram
Jaccard) — all pure DataFrame/SQL list expressions, no UDFs, no explode.

Cross-engine determinism: every hash is derived from ``md5`` (present in
both Spark and DuckDB) — ``H(s)`` = first 12 hex chars of md5 as a 48-bit
integer — and every permutation constant is a shared Python literal, so the
DuckDB oracle computes bit-identical signatures. Expressions are emitted
per dialect from one template table (the same discipline as the reference's
SQL template files, ``aisdb/aisdb_sql/*.sql``).

Scale notes:
- MinHash signatures are per-row list expressions (no shuffle); the LSH
  band join shuffles on the band key — bucket sizes are the skew axis and
  AQE skew-join covers it.
- Exact dedup is one hash aggregation.
- n-gram Jaccard blocks on single-minhash LSH bands (2³¹-cardinality keys);
  SimHash blocks on Manku block-pair bands — both keep candidate sets
  O(cluster size) rather than O(corpus/blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aisdb_spark.plans.partitioning import spread_scan

# 8 minhash permutations over P = 2^31-1 (products stay < 2^62: int64-safe).
MINHASH_P = 2_147_483_647
MINHASH_COEFFS = [
    (1_203_077, 456_789_123),
    (2_654_435, 987_654_321),
    (7_368_787, 192_837_465),
    (9_999_991, 564_738_291),
    (15_485_863, 1_122_334_455),
    (32_452_843, 1_029_384_756),
    (49_979_687, 1_987_654_321),
    (67_867_967, 1_234_567_891),
]
LSH_BANDS = 4  # 4 bands × 2 rows
LSH_ROWS = 2

# SimHash: 60-bit fingerprint (15 hex chars of md5 — BIGINT-safe in both
# engines), split into 5 blocks × 12 bits. Candidate blocking is Manku-style
# (Manku/Jain/Sarma, WWW'07 "Detecting near-duplicates for web crawling"):
# a band per block *pair* — C(5,2) = 10 bands, 24-bit keys. Pigeonhole
# guarantee: ≤3 flipped bits dirty ≤3 blocks, leaving ≥2 clean blocks whose
# pair is one of the 10 bands → full recall for hamming ≤ 3. Occupancy at
# 10⁹ docs: 2²⁴ ≈ 1.7e7 keys/band → ~60 docs/bucket → ~10 × 1.7e7 × C(60,2)
# ≈ 3e11 candidate comparisons globally — bounded, vs O(N²/256) for the old
# 8-bit bands (~2e16 at the same N).
SIMHASH_BITS = 60
SIMHASH_BLOCK_BITS = 12
SIMHASH_BLOCKS = 5
SIMHASH_BAND_PAIRS = [
    (b1, b2)
    for b1 in range(SIMHASH_BLOCKS)
    for b2 in range(b1 + 1, SIMHASH_BLOCKS)
]

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

_S = {  # Spark SQL dialect fragments
    "tokens": r"split({t}, '\\s+')",
    "H": "CAST(conv(substring(md5({s}), 1, 12), 16, 10) AS BIGINT)",
    # 60-bit hash for SimHash (15 hex chars < 2^60: signed-BIGINT safe)
    "H60": "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)",
    "lmin": "array_min({l})",
    "lmap": "transform({l}, {lam})",
    "lsum": "aggregate({l}, 0L, (acc, x) -> acc + x)",
    "nth": "{l}[{i}]",  # 0-based
    "shingles": (
        "CASE WHEN size({t}) >= 3 THEN transform(sequence(0, size({t}) - 3), "
        "i -> concat_ws(' ', {t}[i], {t}[i+1], {t}[i+2])) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    ),
}
_D = {  # DuckDB dialect fragments
    "tokens": r"string_split_regex({t}, '\s+')",
    "H": (
        "list_reduce(list_transform(string_split_regex(substr(md5({s}), 1, 12), ''),"
        " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
        " (acc, c) -> acc * 16 + c)"
    ),
    "H60": (
        "list_reduce(list_transform(string_split_regex(substr(md5({s}), 1, 15), ''),"
        " c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),"
        " (acc, c) -> acc * 16 + c)"
    ),
    "lmin": "list_min({l})",
    "lmap": "list_transform({l}, {lam})",
    "lsum": "list_reduce(list_transform({l}, x -> CAST(x AS BIGINT)), (acc, x) -> acc + x)",
    "nth": "{l}[{i} + 1]",  # 1-based
    "shingles": (
        "CASE WHEN len({t}) >= 3 THEN list_transform(generate_series(1, len({t}) - 2), "
        "i -> concat_ws(' ', {t}[i], {t}[i+1], {t}[i+2])) "
        "ELSE CAST([] AS VARCHAR[]) END"
    ),
}


def dialect(duck: bool) -> dict[str, str]:
    return _D if duck else _S


def shingle_hash_expr(duck: bool, tokens_expr: str) -> str:
    """List of H(shingle) mod P — computed ONCE, then reused by every
    permutation (md5 is the expensive kernel; 8x hoisting measured 200s→25s
    at sf0.1)."""
    d = dialect(duck)
    sh = d["shingles"].format(t=tokens_expr)
    h = d["H"].format(s="s")
    return d["lmap"].format(l=sh, lam=f"s -> ({h}) % {MINHASH_P}")


def minhash_from_hashes(duck: bool, hashes_expr: str) -> list[str]:
    """One expression per permutation over precomputed shingle hashes:
    min of (a·h + b) mod P. Empty-shingle docs (<3 tokens) → NULL."""
    d = dialect(duck)
    out = []
    for a, b in MINHASH_COEFFS:
        lam = f"h -> ({a} * h + {b}) % {MINHASH_P}"
        out.append(d["lmin"].format(l=d["lmap"].format(l=hashes_expr, lam=lam)))
    return out


def simhash_from_hashes(duck: bool, hashes_expr: str) -> str:
    """60-bit SimHash from precomputed token hashes (multiplicity counts).

    Single-expression (list-fold) form — used by the DuckDB oracle. The
    Spark operator uses the explode+aggregate form (:func:`with_simhash`)
    instead: one hash-agg pass with 60 conditional sums beats 60 separate
    list re-scans. Both are pure integer arithmetic, so they agree exactly.
    """
    d = dialect(duck)
    bits = []
    for j in range(SIMHASH_BITS):
        per_tok = d["lmap"].format(
            l=hashes_expr,
            lam=f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END",
        )
        s = d["lsum"].format(l=per_tok)
        bits.append(f"(CASE WHEN ({s}) >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def simhash_band_key(col: str, b1: int, b2: int) -> str:
    """24-bit band key from block pair (b1, b2) of a 60-bit simhash —
    identical text parses in Spark SQL and DuckDB."""
    m = (1 << SIMHASH_BLOCK_BITS) - 1
    return (
        f"((({col} >> {SIMHASH_BLOCK_BITS * b1}) & {m}) * {1 << SIMHASH_BLOCK_BITS}"
        f" + (({col} >> {SIMHASH_BLOCK_BITS * b2}) & {m}))"
    )


def fingerprint_expr(duck: bool, tokens_expr: str) -> str:
    """Whitespace-normalized content fingerprint (md5 of joined tokens)."""
    return f"md5(array_to_string({tokens_expr}, ' '))" if duck else (
        f"md5(concat_ws(' ', {tokens_expr}))"
    )


def stopword_ratio_expr(duck: bool, tokens_expr: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS)
    if duck:
        return (
            f"CAST(len(list_filter({tokens_expr}, x -> x IN ({lst}))) AS DOUBLE)"
            f" / greatest(len({tokens_expr}), 1)"
        )
    return (
        f"CAST(size(filter({tokens_expr}, x -> x IN ({lst}))) AS DOUBLE)"
        f" / greatest(size({tokens_expr}), 1)"
    )


def _size(duck: bool, l: str) -> str:
    return f"len({l})" if duck else f"size({l})"


def text_analysis_select(duck: bool) -> str:
    """Projection list for the text-analysis query (lang-id heuristic,
    token count, quality score, fingerprint) — same aliases both dialects."""
    d = dialect(duck)
    toks = d["tokens"].format(t="text")
    ratio = stopword_ratio_expr(duck, toks)
    ntok = _size(duck, toks)
    mean_len = (
        f"round(CAST(length(text) - {ntok} + 1 AS DOUBLE) / greatest({ntok}, 1), 6)"
    )
    return f"""
  doc_id,
  CAST({ntok} AS BIGINT) AS n_tokens,
  round({ratio}, 6) AS stopword_ratio,
  {mean_len} AS mean_token_len,
  CASE WHEN {ratio} >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred,
  round(least({ratio} * 2.0, 1.0) * 0.5
        + least(CAST({ntok} AS DOUBLE) / 200.0, 1.0) * 0.5, 6) AS quality_score,
  {fingerprint_expr(duck, toks)} AS fingerprint"""


# ---------------------------------------------------------------------------
# Spark-side operators (DataFrame API, mirroring the dialect expressions)
# ---------------------------------------------------------------------------


# Expression-form shingle pipeline: the token array is bound ONCE per row
# as the single element of an outer ``transform(array(split(...)), t -> …)``
# — a lambda variable is evaluated once and referenced many times, unlike a
# projected alias, which CollapseProject would inline back into the lambda
# body (re-tokenizing the text per shingle — the round-1 footgun). Zero
# explode, zero shuffle, zero per-doc aggregation: the whole signature is
# one WholeStageCodegen projection.
_SHINGLE_HASHES_EXPR = (
    "transform(array(split(text, '\\\\s+')), t -> "
    "CASE WHEN size(t) >= 3 THEN "
    "transform(sequence(0, size(t) - 3), i -> "
    "CAST(conv(substring(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 12), "
    f"16, 10) AS BIGINT) % {MINHASH_P}) "
    "ELSE CAST(array() AS ARRAY<BIGINT>) END)[0]"
)
_SHINGLE_LIST_EXPR = (
    "transform(array(split(text, '\\\\s+')), t -> "
    "CASE WHEN size(t) >= 3 THEN "
    "transform(sequence(0, size(t) - 3), "
    "i -> concat_ws(' ', t[i], t[i+1], t[i+2])) "
    "ELSE CAST(array() AS ARRAY<STRING>) END)[0]"
)
_SHINGLE_SET_EXPR = f"array_distinct({_SHINGLE_LIST_EXPR})"


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: distinct shingle set) — per-row ``array_distinct`` over
    the expression shingle list (downstream uses only intersect/union
    sizes, so set order is immaterial — same contract as the previous
    collect_set form, minus its explode + aggregation shuffle)."""
    return spread_scan(docs, "doc_id").select(
        "doc_id", F.expr(_SHINGLE_SET_EXPR).alias("sh")
    )


def _sigs_with_hs(docs: DataFrame) -> DataFrame:
    """(doc_id, _hs, mh0..mh7) — the internal signature frame the band
    generators build on. Keeps ``_hs`` so emptiness is a cheap ``size``
    check in a PROJECTION, not a filter: a ``mh0 IS NOT NULL`` filter gets
    predicate-pushed below the spread exchange with the whole signature
    expression substituted in, re-evaluating tokenize+md5+minhash on the
    pre-spread (single) scan partition — measured 6.7 s vs 1.1 s for the
    band rows at 100k docs."""
    sig_cols = [
        F.expr(
            f"array_min(transform(_hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return (
        spread_scan(docs, "doc_id")
        .withColumn("_hs", F.expr(_SHINGLE_HASHES_EXPR))
        .select("doc_id", "_hs", *sig_cols)
    )


def minhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band rows — one explode pass instead of an
    LSH_BANDS-way unionByName: the union re-evaluated the signature
    aggregation per branch AND per self-join side; a single subtree lets
    both join sides reuse one exchange (same fix as simhash_near_pairs —
    see PLANS.md). Empty-shingle docs (<3 tokens) emit a NULL band array —
    ``explode`` drops them, the exact contract of the old ``mh0 IS NOT
    NULL`` filter without giving the optimizer a predicate to push below
    the spread exchange (see _sigs_with_hs). Used by
    lsh_candidate_pairs."""
    mh = _sigs_with_hs(docs)
    key_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * LSH_ROWS + r}")
                        for r in range(LSH_ROWS)
                    ],
                ).alias("bkey"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    bands_arr = F.when(F.size("_hs") > 0, key_structs)
    return mh.select("doc_id", F.explode(bands_arr).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH: band signatures → self-join on band key → distinct
    candidate pairs (doc1 < doc2), then exact-Jaccard verified ≥ 0.5 on
    distinct 3-token shingle sets."""
    allb = minhash_band_rows(docs)
    left, right = allb.alias("l"), allb.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .distinct()
    )
    shingled = shingle_sets(docs)
    return (
        cand.join(
            shingled.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sh", "sh1"),
            "doc1",
        )
        .join(
            shingled.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sh", "sh2"),
            "doc2",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc1", "doc2", "jaccard")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per exact text hash (md5) — the hash-groupBy
    exact dedup; the PK ON CONFLICT DO NOTHING analog
    (aisdb/aisdb_sql/insert_dynamic_clusteredidx.sql:16)."""
    return (
        docs.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "h", "n_copies")
    )


def with_simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc as ONE per-row projection: tokenize once
    (lambda-bound, same trick as the minhash expressions), H60 each token
    once, then a single ``aggregate`` fold carrying a 60-slot bit-count
    array — the sign test uses ``2·cnt_j >= n_tokens`` ⟺ the ±1 sum is
    ≥ 0, so the fingerprint is bit-identical to the explode+agg form
    (asserted at rewrite time) with zero shuffle and zero join. 2× faster
    than the explode + 60-conditional-sum aggregation it replaces, and the
    per-row shape scales embarrassingly (no per-doc group state at all).
    Null-text docs are dropped, preserving the previous inner-join
    contract. (Band generation goes through :func:`_simhash_sigs`
    directly — this public filter is a pushdown hazard, see there.)"""
    return _simhash_sigs(docs).filter(F.col("simhash").isNotNull())


def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """docs + ``simhash`` column, null-text docs KEPT (null simhash) so
    no caller needs a null filter the optimizer could push below the
    spread exchange (re-evaluating the fold on the unspread scan — see
    _sigs_with_hs)."""
    hs_expr = (
        "transform(array(split(text, '\\\\s+')), ts -> "
        f"transform(ts, tok -> {_S['H60'].format(s='tok')}))[0]"
    )
    cnt_expr = (
        "aggregate(_hs, array_repeat(0, 60), (acc, h) -> "
        "zip_with(acc, sequence(0, 59), (a, j) -> a + CAST((h >> j) & 1 AS INT)))"
    )
    assemble = " + ".join(
        f"(CASE WHEN 2 * _c[{j}] >= size(_hs) THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        spread_scan(docs, "doc_id")
        .withColumn("_hs", F.expr(hs_expr))
        .withColumn("_c", F.expr(cnt_expr))
        .withColumn("simhash", F.expr(f"({assemble})"))
        .drop("_hs", "_c")
    )


def simhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, band, bkey) Manku block-pair band rows — ONE
    explode pass: the old 10-way unionByName re-evaluated the signature
    subtree per branch and per join side; with a single subtree both sides
    of the self-join shuffle the SAME exchange (ReusedExchange in the
    plan) — measured 7.2 s → see PLANS.md. Null-text docs emit a NULL band
    array — ``explode`` drops them (the old inner-join contract) without a
    pushable ``IS NOT NULL`` predicate (see _sigs_with_hs for why that
    matters). Used by simhash_near_pairs."""
    sh = _simhash_sigs(docs)
    key_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(simhash_band_key("simhash", b1, b2)).alias("bkey"),
            )
            for i, (b1, b2) in enumerate(SIMHASH_BAND_PAIRS)
        ]
    )
    bands_arr = F.when(F.col("simhash").isNotNull(), key_structs)
    return sh.select(
        "doc_id", "simhash", F.explode(bands_arr).alias("bk")
    ).select(
        "doc_id", "simhash",
        F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"),
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup: Manku-style block-pair banding (10 bands of 24-bit
    keys over 5×12-bit blocks — see SIMHASH_BAND_PAIRS for the occupancy
    arithmetic), then verify Hamming distance via bit_count(xor). Full
    recall for hamming ≤ SIMHASH_BLOCKS - 3 = 3 by pigeonhole."""
    bands = simhash_band_rows(docs)
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc1"),
            F.col("r.doc_id").alias("doc2"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return cand


def ngram_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): each of the 8 minhash values as its own band
    (8 bands x 1 row) in a single explode pass (not an 8-way union) — one
    signature subtree, one exchange reused by both self-join sides (see
    PLANS.md). Used by ngram_jaccard_pairs."""
    mh = _sigs_with_hs(docs)
    key_structs = F.array(
        *[
            F.struct(F.lit(i).alias("band"), F.col(f"mh{i}").alias("bkey"))
            for i in range(len(MINHASH_COEFFS))
        ]
    )
    bands_arr = F.when(F.size("_hs") > 0, key_structs)
    return mh.select("doc_id", F.explode(bands_arr).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.4) -> DataFrame:
    """n-gram Jaccard near-dup, blocked on single-minhash LSH bands.

    Round-1 blocked on the ``source`` column — few, huge blocks →
    O(N²/blocks) pairwise at scale. Now each of the 8 minhash values is its
    own band (8 bands × 1 row): candidates are pairs sharing ANY minhash,
    recall 1-(1-J)^8 (= 0.983 at J=0.4), and the band key has ~P = 2³¹
    cardinality so bucket occupancy stays O(duplicate-cluster size), not
    O(corpus/256). Verification is exact Jaccard on distinct shingle sets.
    """
    bands = ngram_band_rows(docs)
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc1"), F.col("r.doc_id").alias("doc2"))
        .distinct()
    )
    shingled = shingle_sets(docs)
    return (
        cand.join(
            shingled.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sh", "sh1"),
            "doc1",
        )
        .join(
            shingled.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sh", "sh2"),
            "doc2",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )
