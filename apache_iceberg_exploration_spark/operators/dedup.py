"""Deduplication family over the ``documents`` / ``embeddings`` tables.

The reference's entire dedup surface is one full-row ``dropDuplicates()``
(dags/etl.py:68 — a knowing no-op, SURVEY.md §5) plus the Gold
duplicate-count audit (etl.py:86). This module keeps that parity (see
operators.medallion) and builds the real large-scale toolkit on top:

- exact dedup        hash-groupBy on content           (dedup_exact_documents)
- MinHash + LSH      shingle → k-min-hash → band join  (dedup_minhash_lsh_pairs)
- SimHash            sign-aggregated word hashes        (dedup_simhash_fingerprint/_clusters)
- n-gram Jaccard     shared-shingle blocked verify      (dedup_ngram_jaccard_pairs)
- embedding cosine   label-blocked near-dup pairs       (dedup_embedding_neardup_pairs)

Every hash is the md5-based portable family from ``functions.hashing`` so
the DuckDB oracles reproduce values exactly.

Scale design (the point): nothing here compares all-pairs. Candidate
generation is always an equi-join on a blocking key — LSH band signature,
shared shingle, or embedding-cluster label — so the shuffle is keyed and
data-proportional, and each block's pair expansion is bounded. That is
the shape that survives 100 TB; the O(n²) cross join does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.caching import scoped_persist, track
from ..functions.hashing import hash64, hash64_sql, seeded_md5, seeded_md5_sql
from ..functions.vectors import cosine_similarity_sql
from ..registry import query
from ..sources.io import load_table

SHINGLE_K = 3  # word-level shingle width
NUM_MINHASH = 8
BAND_SIZE = 2  # → 4 bands of 2 hashes


def word_shingles(
    df: DataFrame, k: int = SHINGLE_K, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) word-k-grams (distinct by default — pass
    ``distinct=False`` for consumers with multiset-invariant aggregates
    like min-hash, saving the dedup shuffle). Pure builtin functions:
    split → transform(sequence) → explode; no Python boundary.

    The input is repartitioned on doc_id first: document corpora often
    arrive as few large files (here: one), and the per-row array work
    (split + k-gram transform + explode) is the CPU hot spot — without
    the repartition it runs on as many cores as there are input splits.
    """
    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    out = spread.select("doc_id", F.explode(grams).alias("shingle")).filter(
        F.length("shingle") > 0
    )
    return out.distinct() if distinct else out


_SHINGLES_SQL = f"""
        SELECT DISTINCT doc_id,
               array_to_string(words[i + 1 : i + {SHINGLE_K}], ' ') AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             UNNEST(range(greatest(len(words) - {SHINGLE_K} + 1, 1))) AS t(i)
"""


@query(
    "dedup_exact_documents",
    oracle="""
        SELECT doc_id, text, lang, source, n_chars
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn
            FROM documents
        )
        WHERE rn = 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: partition by content hash, keep the
    lowest doc_id.

    Scale: grouping on md5(text) instead of the full text keeps the
    shuffle key at 32 bytes regardless of document size — the standard
    trick for multi-KB documents at 100 TB. (Hash collisions: for exact
    guarantees group on (md5, length) or re-verify within groups.)
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


MINHASH_P = 2147483647  # Mersenne prime 2^31-1: universal-hash modulus
# The 8 affine hash-family members (a_i·h + b_i) mod p, drawn once at
# random below p and fixed so the DuckDB oracles reproduce every
# signature. Independent draws matter: multipliers that are small
# multiples of one another (a_j = k·a_i) make h_j ≈ k·h_i over the
# small values that win the minimum, so a document's minima coincide
# across hashes and the bands stop being independent. Every
# a_i·h + b_i stays below 2^62 (h < p < 2^31), inside int64.
MINHASH_A = (
    1981062502, 709609398, 924195532, 616968515,
    552476333, 1903476442, 2048530956, 1990175957,
)
MINHASH_B = (
    1771240523, 1981960463, 617710434, 613746199,
    1478904384, 336630658, 1933343062, 1306234474,
)


def _mh_a(seed_expr: str) -> str:
    return f"CAST({list(MINHASH_A)}[{seed_expr} + 1] AS BIGINT)"


def _mh_b(seed_expr: str) -> str:
    return f"CAST({list(MINHASH_B)}[{seed_expr} + 1] AS BIGINT)"


_MINHASH_PAIRS_ORACLE = f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sh31 AS (
            SELECT doc_id, {hash64_sql('shingle')} % {MINHASH_P} AS h31
            FROM shingles
        ),
        mh AS (
            SELECT doc_id, seed,
                   min((({_mh_a('seed')}) * h31 + ({_mh_b('seed')}))
                       % {MINHASH_P}) AS h
            FROM sh31, UNNEST(range({NUM_MINHASH})) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, CAST(seed // {BAND_SIZE} AS INTEGER) AS band,
                   string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS sig
            FROM mh GROUP BY doc_id, seed // {BAND_SIZE}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """


def minhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH index rows for a document set — the
    signature pipeline shared by the one-shot pair miner and the
    incremental index maintenance (a document's signature depends only
    on its own shingles, so batch-local computation equals corpus-wide
    computation row for row)."""
    sh = scoped_persist(word_shingles(docs, distinct=False))
    hash_cols = [F.min(f"h{i}").alias(f"h{i}") for i in range(NUM_MINHASH)]
    h31 = (hash64("shingle") % MINHASH_P).alias("h31")
    shingle_hashes = (
        sh.select("shingle")
        .distinct()
        .select("shingle", h31)
        .select(
            "shingle",
            *[
                (
                    (
                        F.lit(MINHASH_A[i]) * F.col("h31")
                        + F.lit(MINHASH_B[i])
                    )
                    % MINHASH_P
                ).alias(f"h{i}")
                for i in range(NUM_MINHASH)
            ],
        )
    )
    sigs = (
        sh.join(F.broadcast(shingle_hashes), "shingle")
        .groupBy("doc_id")
        .agg(*hash_cols)
    )
    band_pairs = [
        F.concat_ws(
            "|",
            *[
                F.col(f"h{b * BAND_SIZE + j}").cast("string")
                for j in range(BAND_SIZE)
            ],
        ).alias(f"sig{b}")
        for b in range(NUM_MINHASH // BAND_SIZE)
    ]
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_pairs[b].alias("sig"))
                    for b in range(NUM_MINHASH // BAND_SIZE)
                ]
            )
        ).alias("bs"),
    ).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


@query("dedup_minhash_lsh_pairs", oracle=_MINHASH_PAIRS_ORACLE)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH candidate pairs: shingle → 8 universal-hash min-
    hashes → 4 bands of 2 → docs sharing any band signature.

    Hash family (r3): ONE portable md5-derived base hash per distinct
    shingle, then 8 affine maps ``(a_i·h + b_i) mod (2^31-1)`` — the
    textbook universal-hash MinHash (MMDS ch.3.3.6). The r1-r2 design
    computed 8 INDEPENDENT seeded md5s per shingle; md5 over the
    vocabulary was the query's dominant CPU, and the affine family cuts
    it 8× (measured at sf0.1: 2.67 s → 1.65 s) with the same collision
    guarantees. Constants are fixed (not rand()) so the DuckDB oracle
    reproduces every signature bit-exactly.

    Scale: hashes are computed once per DISTINCT shingle (vocabulary ≪
    incidence) and broadcast back; the signature step is then a single
    aggregation producing all 8 min-hashes as columns, so the shuffle
    carries one row per document. The candidate join is an equi-join on
    (band, sig) whose match groups are tiny by construction (only
    near-dups collide) — no pairwise comparison outside buckets. This is
    the canonical web-scale fuzzy-dedup shape. At corpora where the
    vocabulary itself is huge, drop the distinct-hash pre-pass and hash
    inline (same plan minus the broadcast).

    Measured alternative (r2): a fully row-local formulation —
    ``array_min(transform(grams, md5(seed|g)))`` per document, zero
    shuffles before the band join — is 1.6× SLOWER at sf0.1 (4.2 s vs
    2.5 s) because it evaluates |incidence|×8 md5s instead of
    |vocabulary|×8; the dedup shuffle it avoids costs less than the
    ~30× extra hashing. Kept the vocabulary design deliberately.
    """
    docs = load_table(spark, sf_dir, "documents")
    # minhash_band_rows: hash each DISTINCT shingle once (vocabulary ≪
    # incidence), derive the 8 family members with integer arithmetic,
    # broadcast the tiny hash table back, ONE aggregation computes all
    # 8 mins as columns — no seed-explosion: the shuffle carries n_docs
    # rows, not n_docs × n_shingles × n_seeds.
    bands = minhash_band_rows(docs)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
        WITH shingles AS (
            SELECT DISTINCT doc_id, {hash64_sql('shingle')} AS sh
            FROM ({_SHINGLES_SQL})
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM shingles a JOIN shingles b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               round(CAST(i.n_common AS DOUBLE)
                     / (sa.sz + sb.sz - i.n_common), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by shared shingles:
    candidates come from an equi-join on shingle (a pair is considered at
    most min(|A|,|B|) times and only if it shares ≥1 shingle), then
    J = |∩| / (|A|+|B|−|∩|) with a 0.5 threshold.

    The shingle is reduced to its portable 60-bit hash BEFORE the
    distinct (r3): the dedup shuffle and the self-join then carry 8-byte
    keys instead of multi-word strings — the distinct alone was ~half
    this query's wall time on string keys. The oracle hashes then
    distincts identically, so even a (2^-60-improbable) collision would
    affect both engines the same way.

    Scale: the shingle join's fan-out is Σ_s c_s² over shingle doc-counts;
    with a stopword/high-DF shingle cap (drop shingles above a document
    frequency ceiling — standard at scale) the blocks stay bounded. AQE
    skew-join handles residual hot shingles.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the shingle relation feeds three plan branches (sizes + both join
    # sides); persist so split/explode/hash/distinct runs once, not three
    # times
    sh = scoped_persist(
        word_shingles(docs, distinct=False)
        .select("doc_id", hash64("shingle").alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SIMHASH_BITS = 16


def _simhash_bit_sign_spark(hash_col, j: int):
    # hash_col is the PRE-COMPUTED md5 hex of the word: evaluating md5
    # once per row instead of once per row per bit cuts the hash work
    # by _SIMHASH_BITS x (the oracle SQL is free to recompute — DuckDB
    # CSE handles it; Spark's codegen does not CSE across aggregates).
    return F.when(
        F.substring(hash_col, j + 1, 1).isin(*list("89abcdef")), 1
    ).otherwise(-1)


def _simhash_sql_bit(j: int) -> str:
    return (
        f"CASE WHEN substring(md5(word), {j + 1}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END"
    )


@query(
    "dedup_simhash_fingerprint",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, word, count(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE length(word) > 0
            GROUP BY doc_id, word
        )
        SELECT doc_id,
               {' + '.join(f"(CASE WHEN sum(cnt * ({_simhash_sql_bit(j)})) > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))}
               AS simhash
        FROM words GROUP BY doc_id
    """,
)
def dedup_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar) fingerprint, 16-bit: per word-frequency vector,
    each hash bit contributes ±count; fingerprint bit j = sign of the sum.

    Scale: two keyed aggregations (doc×word, then doc) — fully
    distributed, no pairwise work. Near-dup docs land on equal (or
    Hamming-close) fingerprints; `dedup_simhash_clusters` groups the
    exact-collision case. 16 bits keeps the oracle SQL readable; the
    Spark path generalizes to 64 by changing ``_SIMHASH_BITS``.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.md5("word"))
    )
    fingerprint = None
    for j in range(_SIMHASH_BITS):
        contrib = F.sum(F.col("cnt") * _simhash_bit_sign_spark(F.col("h"), j))
        bit = F.when(contrib > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return words.groupBy("doc_id").agg(fingerprint.alias("simhash"))


@query(
    "dedup_simhash_clusters",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, word, count(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE length(word) > 0
            GROUP BY doc_id, word
        ),
        fp AS (
            SELECT doc_id,
                   {' + '.join(f"(CASE WHEN sum(cnt * ({_simhash_sql_bit(j)})) > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))}
                   AS simhash
            FROM words GROUP BY doc_id
        )
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS representative
        FROM fp GROUP BY simhash HAVING count(*) > 1
    """,
)
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-0 SimHash clusters (identical fingerprints) with a
    deterministic representative — the grouping that turns fingerprints
    into dedup decisions."""
    fp = dedup_simhash_fingerprint(spark, sf_dir)
    return (
        fp.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "dedup_embedding_neardup_pairs",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({cosine_similarity_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {cosine_similarity_sql('a.embedding', 'b.embedding')} >= 0.35
    """,
)
def dedup_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on the cluster label:
    candidates are generated by an equi-join on ``label`` (the coarse
    quantization cell), cosine ≥ 0.35 confirms (threshold tuned to this synthetic corpus, whose max within-label cosine is ~0.51 — real corpora use 0.9+).

    Scale: all-pairs cosine is O(n²d) and dead at 10⁹ vectors; blocking on
    a centroid/cluster id turns it into Σ_c |c|² with |c| ≈ n/k — the IVF
    idea (see operators.similarity for the search-side variant). Cosine is
    evaluated with zip_with/aggregate in double precision, JVM-side.

    DECLARED EXPONENT 2.0 (BENCH_SCALING.json, r6 audit): ``label`` is a
    fixed vocabulary, so this EXACT within-block recall contract is
    Θ(Σ|block|²) by definition — the measured sf0.1→sf1 slope (~1.3 on
    32 cores) is the flagged quadratic, not a plan defect. The scale
    path for growing corpora is ``dedup_semantic_semdedup``, whose
    sign-LSH cell count now ADAPTS to corpus size (constant occupancy →
    linear pairwise work) — contrast its slope in the same artifact;
    tests/test_scaling_curve.py pins both.
    """
    from ..functions.vectors import _dot, _norm2, as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    # Precompute each vector's norm ONCE (n rows) instead of twice per
    # pair (n²/k rows) — identical IEEE value, ~3× less array arithmetic.
    # persist() is load-bearing: without it Catalyst substitutes the alias
    # back into the pushed-down join filter and evaluates the norm (and
    # the array cast) per PAIR again.
    normed = emb.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).select(
        "vec_id",
        "label",
        as_double_array("embedding").alias("v"),
        _norm2(as_double_array("embedding")).alias("nrm"),
    )
    normed = scoped_persist(normed)
    a, b = normed.alias("a"), normed.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 4).alias("cos_sim"),
        )
    )


# Shared oracle CTE chain: shingles → minhash → LSH bands → candidate
# pairs → symmetric edges → connected components (recursive CTE reaching
# the same min-label fixpoint the Spark loop computes). Ends with cc(n,
# lbl); consumers append their own final CTEs/SELECT.
_CC_CTES = f"""
        WITH RECURSIVE shingles AS ({_SHINGLES_SQL}),
        sh31 AS (
            SELECT doc_id, {hash64_sql('shingle')} % {MINHASH_P} AS h31
            FROM shingles
        ),
        mh AS (
            SELECT doc_id, seed,
                   min((({_mh_a('seed')}) * h31 + ({_mh_b('seed')}))
                       % {MINHASH_P}) AS h
            FROM sh31, UNNEST(range({NUM_MINHASH})) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, CAST(seed // {BAND_SIZE} AS INTEGER) AS band,
                   string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS sig
            FROM mh GROUP BY doc_id, seed // {BAND_SIZE}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION ALL SELECT db, da FROM pairs),
        cc(n, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, cc.lbl FROM cc JOIN edges e
              ON e.a = cc.n AND cc.lbl < e.b
        )
"""


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components via the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — converges in O(log² n) rounds REGARDLESS of
    component diameter, unlike plain min-label propagation whose round
    count is the graph diameter (the r4 verdict's 100 TB failure mode:
    a duplicate chain longer than the round bound hard-fails).

    ``nodes``: one column ``n``.  ``edges``: columns ``a``, ``b`` (any
    orientation, self-loops ignored).  Returns (n, lbl) where lbl is
    the smallest node id in n's component.

    Each round is two star operations, each a groupBy-min plus a join
    on node id — no driver-side graph, no collect.  The converge-or-
    raise guard is kept (the star-forest fixpoint is checked exactly,
    by anti-join, never by a hash proxy), but with the alternating
    algorithm 50 rounds covers graphs astronomically beyond any real
    corpus (fixture: a path of diameter 100+ converges in a handful of
    rounds — tests/test_graph_analytics.py).
    """
    # canonical orientation (bigger, smaller), deduped.
    # localCheckpoint (NOT plain persist) per generation: persist caches
    # DATA but the logical plan still nests — each round references the
    # previous generation ~4×, so the analyzed plan grows exponentially
    # and the analyzer dies around round 7 with a 2 GB plan string.
    # Checkpointing truncates lineage to the materialized blocks.
    e = (
        edges.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_rounds):
        # ---- large-star: every node u links its LARGER neighbors to
        # min(N(u) ∪ {u}) — operates on the symmetrized neighborhood
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: every node u links its SMALLER neighbors
        # (and itself) to their min — input is already (bigger, smaller)
        smins = large.groupBy("u").agg(F.min("v").alias("m"))  # m < u
        out = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # ---- exact fixpoint check (a star forest is stable under both
        # phases); two cheap jobs over checkpointed generations
        same = out.count() == e.count() and (
            out.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        e.unpersist()
        e = out
        if same:
            converged = True
            break
    track(e)  # final generation released when the next query runs
    if not converged:
        # never return intermediate edges as if they were components —
        # a silently split duplicate cluster means wrong keep/drop calls
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} "
            "alternating star rounds (pathological input; raise "
            "max_rounds)"
        )
    # fixpoint is a star forest: every non-root points DIRECTLY at its
    # component's minimum; roots and isolated nodes label themselves
    return nodes.join(
        e.select(F.col("u").alias("n"), F.col("v").alias("root")),
        "n",
        "left",
    ).select("n", F.coalesce("root", "n").alias("lbl"))


@query(
    "dedup_cluster_assignment",
    oracle=f"""
        {_CC_CTES}
        SELECT n AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY n
    """,
)
def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from LSH candidate pairs: connected components
    with cluster id = smallest doc_id in the component (docs with no
    near-dup form singletons). This is the step that turns pairwise
    dedup evidence into keep/drop decisions (keep the representative,
    drop the rest).

    Implementation: alternating large-star/small-star connected
    components (`connected_components_star`) — round count is
    O(log² n), independent of component diameter, so a duplicate CHAIN
    longer than any fixed round bound converges where the former
    min-label propagation loop hard-failed (r4 verdict #5). The oracle
    reaches the same fixpoint via a recursive CTE.

    Scale: every round is shuffle-on-node-id groupBy-min + join — no
    driver-side graph; the exact star-forest fixpoint check keeps the
    converge-or-raise guarantee.
    """
    # persist the pair list: the LSH band self-join + distinct above it
    # is the expensive part and the star loop re-reads it
    pairs = scoped_persist(dedup_minhash_lsh_pairs(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents")
    labels = connected_components_star(
        docs.select(F.col("doc_id").alias("n")),
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
    )
    return labels.select(
        F.col("n").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


@query(
    "dedup_survivor_selection",
    oracle=f"""
        {_CC_CTES},
        clusters AS (
            SELECT n AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY n
        ),
        ranked AS (
            SELECT c.cluster_id, c.doc_id, d.n_chars,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY d.n_chars DESC, c.doc_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY c.cluster_id) AS sz
            FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        )
        SELECT cluster_id,
               doc_id AS survivor_doc_id,
               sz AS cluster_size,
               sz - 1 AS n_dropped
        FROM ranked WHERE rn = 1
    """,
)
def dedup_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the keep/drop decision that completes the
    fuzzy-dedup pipeline: within each near-dup cluster keep exactly one
    representative (longest document, doc_id as the deterministic
    tie-break) and count what gets dropped. Composes
    ``dedup_cluster_assignment`` (LSH pairs → connected components) with
    a per-cluster top-1.

    The reference's whole dedup surface is the no-op full-row
    ``dropDuplicates()`` (dags/etl.py:68); this is the operator that
    step actually wanted.

    Scale: one hash-partitioned window over cluster_id (cluster count ≈
    doc count, near-dup clusters are tiny) after the CC loop; survivor
    choice never ships document text — only (doc_id, n_chars) metadata
    moves through the shuffle.
    """
    from pyspark.sql import Window

    clusters = dedup_cluster_assignment(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id")
    ranked = joined.select(
        "cluster_id",
        "doc_id",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rn"),
        F.count("*").over(w).alias("sz"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("survivor_doc_id"),
        F.col("sz").alias("cluster_size"),
        (F.col("sz") - 1).alias("n_dropped"),
    )


_DF_CAP = 5  # shingles seen in more than this many docs are "stop-shingles"


@query(
    "dedup_jaccard_df_capped",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        df AS (
            SELECT shingle, count(*) AS doc_freq
            FROM shingles GROUP BY shingle
        ),
        capped AS (
            SELECT s.doc_id, s.shingle
            FROM shingles s JOIN df ON s.shingle = df.shingle
            WHERE df.doc_freq <= {_DF_CAP}
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM capped a JOIN capped b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               round(CAST(i.n_common AS DOUBLE)
                     / (sa.sz + sb.sz - i.n_common), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.5
    """,
)
def dedup_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard with the high-document-frequency shingle cap the
    plain variant's docstring prescribes for scale, made real: shingles
    appearing in more than {cap} documents are dropped BEFORE the pair
    join, and Jaccard is computed over the capped shingle sets.

    Scale (the point of the cap): the pair join's fan-out is Σ_s c_s²
    over per-shingle doc-counts, and a single viral/boilerplate shingle
    with c_s = 10^6 alone contributes 10^12 candidate pairs — the cap
    bounds every block at cap², making worst-case fan-out linear in the
    vocabulary. The recall loss is confined to pairs whose ONLY shared
    content is corpus-common boilerplate, which are precisely the pairs
    near-dup mining wants to ignore. Standard practice (e.g. spark-dedup
    pipelines cap DF or drop top-k shingles); threshold here is absolute
    (>{cap} docs) so the semantics don't drift with corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = scoped_persist(word_shingles(docs))
    df_tbl = sh.groupBy("shingle").agg(F.count("*").alias("doc_freq"))
    capped = scoped_persist(
        sh.join(
            F.broadcast(df_tbl.filter(F.col("doc_freq") <= _DF_CAP)),
            "shingle",
        ).select("doc_id", "shingle")
    )
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SEMDEDUP_TAU = 0.3  # tuned to this synthetic corpus (see neardup note)


def _semdedup_oracle() -> str:
    from .similarity import rp_buckets_sql

    cos = cosine_similarity_sql("a.embedding", "b.embedding")
    return f"""
        WITH {rp_buckets_sql(adaptive=True)},
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM buckets a JOIN buckets b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE {cos} >= {_SEMDEDUP_TAU}
        )
        SELECT k.vec_id, k.label, k.bucket
        FROM buckets k LEFT JOIN dropped d ON k.vec_id = d.vec_id
        WHERE d.vec_id IS NULL
    """


@query("dedup_semantic_semdedup", oracle=_semdedup_oracle())
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
    the embedding space into cells, compare pairs only WITHIN a cell, and
    keep one representative (the lowest vec_id) from every group of
    semantic near-duplicates (cosine >= tau). Returns the KEPT rows —
    the deduplicated corpus, not just the duplicate pairs
    (cf. dedup_embedding_neardup_pairs, which reports pairs blocked on
    the ground-truth label).

    The cells here are the deterministic sign-LSH buckets shared with
    ann_rp_lsh_topk (similarity.rp_bucket_column) rather than SemDeDup's
    k-means clusters: data-independent cells keep the whole query
    oracle-reproducible bit-for-bit, and the paper's observation — only
    intra-cluster pairs matter — holds for any partitioning that groups
    semantically close vectors.

    Scale: identical shape to the ANN bucket join — one map-only bucket
    assignment, one equi-join on bucket with ~n/256-sized groups, one
    broadcast-able anti-join to subtract the dropped set. No all-pairs
    stage; survives 10^9 vectors where SemDeDup's per-cluster pairwise
    scan stays bounded by the max cell size.
    """
    from ..functions.vectors import _dot, _norm2, as_double_array
    from ..sources.io import parquet_num_rows
    from .similarity import adaptive_n_planes, rp_bucket_column

    emb = load_table(spark, sf_dir, "embeddings")
    # cells sized to the corpus (r6): planes = ceil(log2(N/target)),
    # floored at 8 — occupancy stays ~constant, so the within-cell
    # pairwise stage is O(N·target), not O(N²/2^8). The count is one
    # footer read; the oracle computes the same count in SQL.
    planes = adaptive_n_planes(parquet_num_rows(sf_dir, "embeddings"))
    buckets = emb.select(
        "vec_id",
        "label",
        as_double_array("embedding").alias("v"),
        rp_bucket_column(
            as_double_array("embedding"), planes
        ).alias("bucket"),
    )
    # norms computed once per vector, not per pair (see neardup note)
    normed = scoped_persist(
        buckets.withColumn("nrm", _norm2(F.col("v")))
    )
    a, b = normed.alias("a"), normed.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dropped = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= _SEMDEDUP_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        normed.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "label", "bucket")
    )


@query(
    "incremental_dedup_lakehouse",
    oracle="""
        SELECT doc_id, text, lang, source, n_chars
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id
            ) AS rn
            FROM documents
        )
        WHERE rn = 1
    """,
)
def incremental_dedup_lakehouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the PRODUCTION shape of
    dedup_exact_documents: documents arrive in three batches; each tick
    dedups within the batch (min doc_id per content hash), anti-joins
    the batch against the ACCUMULATED fingerprint table (novel hashes
    only survive), appends survivors to the corpus and their
    fingerprints to the fingerprint table. The final corpus must equal
    the one-shot global dedup — the incremental-vs-recompute equivalence
    (same contract as lakehouse_incremental_gold_refresh).

    Scale: each tick shuffles O(batch) rows; the fingerprint side of the
    anti-join is hash-only (16 bytes/doc ever seen) and joins keyed on
    the hash — at corpus sizes where even that exceeds executor memory
    it stays a plain shuffle join, never a broadcast. History is never
    rescanned; cost tracks arrival rate, not corpus size."""
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import Window as W

    from ..sources.lakehouse import LakehouseTable

    root = _tempfile.mkdtemp(prefix="lakehouse_q_", dir="/tmp")
    try:
        corpus = LakehouseTable(spark, root + "/corpus")
        fps = LakehouseTable(spark, root + "/fingerprints")
        docs = load_table(spark, sf_dir, "documents")
        lo, hi = 150, 300  # fixed doc_id tercile bounds (any split works)
        batches = [
            docs.filter(F.col("doc_id") < lo),
            docs.filter(F.col("doc_id").between(lo, hi - 1)),
            docs.filter(F.col("doc_id") >= hi),
        ]
        w = W.partitionBy("fp").orderBy("doc_id")
        for i, b in enumerate(batches):
            bd = (
                b.withColumn("fp", F.md5("text"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            if i > 0:
                bd = bd.join(fps.read(), "fp", "left_anti")
            corpus.append(bd.drop("fp"))
            if i == 0:
                fps.overwrite(bd.select("fp"))
            else:
                fps.append(bd.select("fp"))
        out = corpus.read()
        return out.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(root, ignore_errors=True)


@query("dedup_incremental_minhash_lsh", oracle=_MINHASH_PAIRS_ORACLE)
def dedup_incremental_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash-LSH: documents arrive in two batches; each
    batch hashes ONLY its own documents (a signature depends on nothing
    outside the document), probes the accumulated band index for
    old↔new candidate pairs, mines new↔new pairs within the batch, and
    appends its signatures to the index — after the last batch the pair
    set must equal the one-shot corpus-wide LSH (same oracle as
    dedup_minhash_lsh_pairs, the algebraic condition that makes the
    incremental form trustworthy). Two ticks are the minimum that
    exercises the identity (a probe against a non-empty index must
    occur); VERDICT r3 #6 cut the third tick — each tick prices 2
    lakehouse commits + the probe join, fixed machinery independent of
    the identity being tested. Per-tick marginal cost in PLANS.md.

    This is the fuzzy sibling of incremental_dedup_lakehouse and THE
    shape fuzzy dedup must take at 100 TB: a daily tick costs
    O(new-docs hashing) + one (band, sig)-keyed join against the index
    — arrival-rate cost — where the one-shot recompute rehashes the
    entire corpus every run. The index and pair set live in lakehouse
    tables, so retention/compaction/GC machinery applies to the dedup
    state itself.
    """
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="inc_lsh_q_", dir="/tmp")
    try:
        index = LakehouseTable(spark, root + "/index")
        pairs = LakehouseTable(spark, root + "/pairs")
        for i in range(2):
            batch = docs.filter(F.col("doc_id") % 2 == i)
            new_bands = scoped_persist(minhash_band_rows(batch))
            a, b = new_bands.alias("a"), new_bands.alias("b")
            batch_pairs = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.sig") == F.col("b.sig"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
            )
            if index.current_version() > 0:
                old = index.read().alias("o")
                n = new_bands.alias("n")
                cross = (
                    n.join(
                        old,
                        (F.col("n.band") == F.col("o.band"))
                        & (F.col("n.sig") == F.col("o.sig")),
                    )
                    .select(
                        F.least(
                            F.col("n.doc_id"), F.col("o.doc_id")
                        ).alias("doc_a"),
                        F.greatest(
                            F.col("n.doc_id"), F.col("o.doc_id")
                        ).alias("doc_b"),
                    )
                )
                batch_pairs = batch_pairs.unionAll(cross)
            pairs.append(batch_pairs.distinct())
            index.append(new_bands)
        return pairs.read().distinct().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "dedup_minhash_estimator_calibration",
    oracle=f"""
        WITH shingles AS ({_SHINGLES_SQL}),
        sh31 AS (
            SELECT doc_id, {hash64_sql('shingle')} % {MINHASH_P} AS h31,
                   shingle
            FROM shingles
        ),
        mh AS (
            SELECT doc_id, seed,
                   min((({_mh_a('seed')}) * h31 + ({_mh_b('seed')}))
                       % {MINHASH_P}) AS h
            FROM sh31, UNNEST(range({NUM_MINHASH})) AS s(seed)
            GROUP BY doc_id, seed
        ),
        bands AS (
            SELECT doc_id, CAST(seed // {BAND_SIZE} AS INTEGER) AS band,
                   string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS sig
            FROM mh GROUP BY doc_id, seed // {BAND_SIZE}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   sum(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS eq
            FROM cand c
            JOIN mh ma ON ma.doc_id = c.doc_a
            JOIN mh mb ON mb.doc_id = c.doc_b AND mb.seed = ma.seed
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS common
            FROM cand c
            JOIN shingles sa ON sa.doc_id = c.doc_a
            JOIN shingles sb ON sb.doc_id = c.doc_b
                            AND sb.shingle = sa.shingle
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT e.doc_a, e.doc_b,
               CAST(floor(e.eq / {NUM_MINHASH}.0 * 10000 + 0.5) AS BIGINT)
                   AS est_jaccard_bp,
               CAST(floor(i.common * 1.0
                          / (za.n + zb.n - i.common) * 10000 + 0.5)
                    AS BIGINT) AS exact_jaccard_bp,
               CAST(abs(floor(e.eq / {NUM_MINHASH}.0 * 10000 + 0.5)
                        - floor(i.common * 1.0
                                / (za.n + zb.n - i.common) * 10000 + 0.5))
                    AS BIGINT) AS abs_err_bp
        FROM est e
        JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN sizes za ON za.doc_id = e.doc_a
        JOIN sizes zb ON zb.doc_id = e.doc_b
    """,
)
def dedup_minhash_estimator_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Estimator calibration for the MinHash pipeline: for every LSH
    candidate pair, the signature-based Jaccard estimate (fraction of
    equal minhash components) is compared against the EXACT shingle-set
    Jaccard — the validation pass that justifies trusting signatures at
    corpus scale, and the dashboard that catches a broken hash family
    or a bad band configuration as estimator bias instead of silently
    wrong dedup decisions.

    Scale: exact Jaccard is computed ONLY for the candidate pairs the
    bands surfaced (a tiny relation by construction), never all-pairs —
    calibration cost tracks the candidate count. The signature compare
    is a component-wise equality over fixed-width signature vectors;
    everything joins on doc_id (semi-join reduce to candidate docs
    first at larger scale).
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = scoped_persist(minhash_band_rows(docs))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # full signature vector per doc: split the band sigs back apart
    comp = bands.select(
        "doc_id",
        F.posexplode(F.split("sig", r"\|")).alias("j", "h"),
        F.col("band"),
    ).select(
        "doc_id",
        (F.col("band") * BAND_SIZE + F.col("j")).alias("seed"),
        "h",
    )
    est = (
        cand.join(comp.alias("ca"), F.col("ca.doc_id") == F.col("doc_a"))
        .join(
            comp.alias("cb"),
            (F.col("cb.doc_id") == F.col("doc_b"))
            & (F.col("cb.seed") == F.col("ca.seed")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(F.col("ca.h") == F.col("cb.h"), 1).otherwise(0)
            ).alias("eq")
        )
    )
    sh = word_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sh.alias("sb"),
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    est_bp = F.floor(
        F.col("eq") / float(NUM_MINHASH) * 10000 + 0.5
    ).cast("long")
    exact_bp = F.floor(
        F.col("common")
        * 1.0
        / (F.col("za.n") + F.col("zb.n") - F.col("common"))
        * 10000
        + 0.5
    ).cast("long")
    return (
        est.join(inter, ["doc_a", "doc_b"])
        .join(sizes.alias("za"), F.col("za.doc_id") == F.col("doc_a"))
        .join(sizes.alias("zb"), F.col("zb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            est_bp.alias("est_jaccard_bp"),
            exact_bp.alias("exact_jaccard_bp"),
            F.abs(est_bp - exact_bp).alias("abs_err_bp"),
        )
    )


@query(
    "dedup_cluster_size_distribution",
    oracle="""
        WITH clusters AS (
            SELECT md5(text) AS h, count(*) AS cluster_size
            FROM documents GROUP BY md5(text)
        )
        SELECT cluster_size,
               count(*) AS n_clusters,
               CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
               CAST(greatest(cluster_size - 1, 0) * count(*) AS BIGINT)
                   AS n_removable
        FROM clusters GROUP BY cluster_size
    """,
)
def dedup_cluster_size_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplication profile of the corpus: the distribution of exact-
    duplicate cluster sizes (how many docs live in clusters of size 1,
    2, 3…), with the removable-row count per size — the number that
    tells you BEFORE running dedup how much the corpus shrinks and
    whether duplication is a long tail of pairs or a few megaclusters
    (which need the survivor policy, not just dropDuplicates). The
    histogram view over the same content-hash grouping
    dedup_exact_documents resolves row-by-row.

    Scale: two aggregations, both partial-combined, the second over the
    tiny |distinct sizes| key space; the shuffle key is the 32-byte
    content hash, never the document text.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*"))
        .cast("long")
        .alias("n_docs"),
        (
            F.greatest(F.col("cluster_size") - 1, F.lit(0)) * F.count("*")
        )
        .cast("long")
        .alias("n_removable"),
    )


_CROSS_SOURCE_ORACLE = (
    _MINHASH_PAIRS_ORACLE.replace(
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b",
        """, pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b""",
    ).rstrip().rstrip()
    + """
        ),
        docsrc AS (SELECT doc_id, source FROM documents),
        tagged AS (
            SELECT least(sa.source, sb.source) AS source_a,
                   greatest(sa.source, sb.source) AS source_b
            FROM pairs p
            JOIN docsrc sa ON p.doc_a = sa.doc_id
            JOIN docsrc sb ON p.doc_b = sb.doc_id
        ),
        totals AS (SELECT source, count(*) AS n FROM docsrc GROUP BY 1)
        SELECT t.source_a, t.source_b, count(*) AS n_leaked_pairs,
               CAST(ta.n AS BIGINT) AS n_docs_a,
               CAST(tb.n AS BIGINT) AS n_docs_b,
               count(*) * 1000000 // (ta.n * tb.n) AS leak_ppm
        FROM tagged t
        JOIN totals ta ON t.source_a = ta.source
        JOIN totals tb ON t.source_b = tb.source
        GROUP BY t.source_a, t.source_b, ta.n, tb.n
    """
)


# NOTE: registered from operators/analytics.py (not here): dedup.py
# registers third, and a new entry at position ~42 would shift the
# driver-verified registry prefix (CLAUDE.md's placement rule).
def dedup_cross_source_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication report: near-dup pairs (the shared
    MinHash-LSH band pipeline) aggregated by unordered SOURCE pair —
    the audit run before splitting a corpus by source (train on src0,
    eval on src1): a hot (source_a, source_b) cell means the split
    leaks near-duplicates across the boundary, silently inflating
    eval. Within-source cells (a = b) measure internal redundancy for
    mixing weights. Rates in ppm of the source-pair's doc-count
    product (exact integer floor-div).

    Scale: the pair relation is the band equi-join (bounded buckets,
    no all-pairs); source tagging is two broadcast joins against the
    doc→source projection; the report is |sources|² rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            F.broadcast(src.withColumnRenamed("source", "sa")),
            pairs.doc_a == src.doc_id,
        )
        .drop("doc_id")
        .join(
            F.broadcast(src.withColumnRenamed("source", "sb")),
            pairs.doc_b == src.doc_id,
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    totals = src.groupBy("source").agg(F.count("*").alias("n"))
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_leaked_pairs"))
        .join(
            F.broadcast(totals.withColumnRenamed("source", "source_a")),
            "source_a",
        )
        .withColumnRenamed("n", "n_docs_a")
        .join(
            F.broadcast(totals.withColumnRenamed("source", "source_b")),
            "source_b",
        )
        .withColumnRenamed("n", "n_docs_b")
        .select(
            "source_a",
            "source_b",
            "n_leaked_pairs",
            F.col("n_docs_a").cast("long").alias("n_docs_a"),
            F.col("n_docs_b").cast("long").alias("n_docs_b"),
            F.expr(
                "n_leaked_pairs * 1000000 div (n_docs_a * n_docs_b)"
            ).alias("leak_ppm"),
        )
    )


MH_LOOKUP_TOP_K = 5

# The query document is SELECTED FROM THE DATA — the smallest doc_id
# sitting in any multi-occupant band bucket — rather than a hard-coded
# id: a constant that happened to have candidates at sf0.001/sf0.01
# went VACUOUS at sf0.1 (the r7 second-SF parity sweep's first catch),
# and a regenerated testdata set could strand it entirely. The
# selection is a deterministic argmin both engines express identically.
_MH_QSEL_SQL = (
    ", qsel AS ("
    " SELECT min(m) AS q FROM ("
    "  SELECT band, sig, count(*) AS n, min(doc_id) AS m"
    "  FROM bands GROUP BY 1, 2) WHERE n > 1"
    "), cand AS (SELECT DISTINCT b.doc_id AS cand_id"
)


def _mh_lookup_oracle() -> str:
    return f"""
        WITH {_MINHASH_PAIRS_ORACLE.split("WITH", 1)[1].replace(
            "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b",
            _MH_QSEL_SQL,
        ).replace(
            "ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id",
            "ON a.band = b.band AND a.sig = b.sig"
            " AND a.doc_id = (SELECT q FROM qsel)"
            " AND b.doc_id <> (SELECT q FROM qsel)",
        )}
        ),
        agree AS (
            SELECT c.cand_id,
                   CAST(sum(CASE WHEN qa.h = qb.h THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_match
            FROM cand c
            JOIN mh qa ON qa.doc_id = (SELECT q FROM qsel)
            JOIN mh qb ON qb.doc_id = c.cand_id AND qb.seed = qa.seed
            GROUP BY 1
        )
        SELECT cand_id, n_match,
               n_match * 10000 // {NUM_MINHASH} AS est_jaccard_bp
        FROM agree
        ORDER BY n_match DESC, cand_id
        LIMIT {MH_LOOKUP_TOP_K}
    """


# NOTE: registered from operators/analytics.py (prefix-placement rule —
# see dedup_cross_source_leakage's note above).
def dedup_minhash_topk_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point lookup against the MinHash-LSH index: for ONE query
    document, candidates come from its band buckets only (never a
    corpus scan), ranked by signature agreement — estimated Jaccard in
    integer basis points (n_match/{NUM_MINHASH}). The single-query
    twin of the all-pairs miner: what a "find documents like this one"
    API or an ingest-time pre-insert check runs per document.

    Scale: the query doc's {NUM_MINHASH // BAND_SIZE} band signatures
    probe the (band, sig) index via equi-join — cost is bucket
    occupancy, independent of corpus size; agreement re-uses the
    signature relation (8 ints per doc).
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = scoped_persist(minhash_band_rows(docs))
    # query-doc selection from the data (see _MH_QSEL_SQL): one scalar
    # over the persisted index — never vacuous while ANY near-dup pair
    # exists at the SF
    qdoc = (
        bands.groupBy("band", "sig")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("m"))
        .filter(F.col("n") > 1)
        .agg(F.min("m").alias("q"))
        .first()["q"]
    )
    qb = bands.filter(F.col("doc_id") == qdoc).select(
        F.col("band").alias("qband"), F.col("sig").alias("qsig")
    )
    cand = (
        bands.join(
            F.broadcast(qb),
            (F.col("band") == F.col("qband"))
            & (F.col("sig") == F.col("qsig")),
        )
        .filter(F.col("doc_id") != qdoc)
        .select(F.col("doc_id").alias("cand_id"))
        .distinct()
    )
    # signature agreement: band signatures are '|'-joined minhash
    # strings, so per-band agreement = equal sig; per-SEED agreement
    # needs the split back out
    seeds = bands.select(
        "doc_id",
        F.posexplode(F.split("sig", "\\|")).alias("pos", "h"),
        "band",
    ).select(
        "doc_id",
        (F.col("band") * BAND_SIZE + F.col("pos")).alias("seed"),
        "h",
    )
    qs = seeds.filter(F.col("doc_id") == qdoc).select(
        F.col("seed").alias("qseed"), F.col("h").alias("qh")
    )
    agree = (
        seeds.join(cand, seeds.doc_id == cand.cand_id)
        .join(F.broadcast(qs), F.col("seed") == F.col("qseed"))
        .groupBy("cand_id")
        .agg(
            F.sum(
                F.when(F.col("h") == F.col("qh"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_match")
        )
    )
    return (
        agree.orderBy(F.col("n_match").desc(), "cand_id")
        .limit(MH_LOOKUP_TOP_K)
        .select(
            "cand_id",
            "n_match",
            F.expr(f"n_match * 10000 div {NUM_MINHASH}").alias(
                "est_jaccard_bp"
            ),
        )
    )


_SWEEP_TAUS = ("0.2", "0.3", "0.5", "0.7", "0.9")


def _sem_sweep_oracle() -> str:
    from .similarity import rp_buckets_sql

    cos = cosine_similarity_sql("a.embedding", "b.embedding")
    taus = ", ".join(f"({t}::DOUBLE)" for t in _SWEEP_TAUS)
    return f"""
        WITH {rp_buckets_sql(adaptive=True)},
        n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM buckets),
        cand AS (
            SELECT b.vec_id AS dropped_id, {cos} AS cos
            FROM buckets a JOIN buckets b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        taus(tau) AS (VALUES {taus})
        SELECT CAST(floor(tau * 100 + 0.5) AS BIGINT) AS tau_e2,
               CAST(count(CASE WHEN cos >= tau THEN 1 END) AS BIGINT)
                   AS n_pairs,
               CAST(count(DISTINCT CASE WHEN cos >= tau
                          THEN dropped_id END) AS BIGINT) AS n_dropped,
               (n.total - count(DISTINCT CASE WHEN cos >= tau
                                THEN dropped_id END)) * 1000000
                   // n.total AS retained_ppm
        FROM taus LEFT JOIN cand ON TRUE, n
        GROUP BY tau, n.total
    """


# NOTE: registered LATE (operators/corpus.py) — a decorator here would
# insert into the driver-verified registry prefix (CLAUDE.md rule).
def dedup_semantic_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup threshold tuning table: candidate pairs (same sign-LSH
    cell) are scored ONCE, then swept across cosine cutoffs τ ∈ {0.2 …
    0.9} — per τ: surviving pair count, documents the keep-lowest-id
    rule would drop, and corpus retention in ppm. THE table a curator
    reads before committing to a τ (dedup_semantic_semdedup applies one
    fixed τ; this shows the retention curve the choice moves along —
    Abbas et al. tune exactly this way).

    Scale: the expensive part (bucket join + cosine) happens once;
    the sweep is a broadcast of 5 thresholds over the scored candidate
    relation — one conditional aggregate, not 5 reruns.
    """
    from ..functions.vectors import _dot, _norm2, as_double_array
    from ..sources.io import parquet_num_rows
    from .similarity import adaptive_n_planes, rp_bucket_column

    emb = load_table(spark, sf_dir, "embeddings")
    planes = adaptive_n_planes(parquet_num_rows(sf_dir, "embeddings"))
    buckets = emb.select(
        "vec_id",
        as_double_array("embedding").alias("v"),
        rp_bucket_column(as_double_array("embedding"), planes).alias(
            "bucket"
        ),
    )
    normed = scoped_persist(
        buckets.withColumn("nrm", _norm2(F.col("v")))
    )
    total = normed.count()
    a, b = normed.alias("a"), normed.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("dropped_id"), cos.alias("cos"))
    )
    taus = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_TAUS], "tau double"
    )
    hit = F.when(F.col("cos") >= F.col("tau"), 1)
    hit_id = F.when(F.col("cos") >= F.col("tau"), F.col("dropped_id"))
    return (
        F.broadcast(taus)
        .join(cand, F.lit(True), "left")
        .groupBy("tau")
        .agg(
            F.floor(F.col("tau") * 100 + 0.5)
            .cast("long")
            .alias("tau_e2"),
            F.count(hit).cast("long").alias("n_pairs"),
            F.count_distinct(hit_id).cast("long").alias("n_dropped"),
        )
        .select(
            "tau_e2",
            "n_pairs",
            "n_dropped",
            F.expr(
                f"({total}L - n_dropped) * 1000000 div {total}L"
            ).alias("retained_ppm"),
        )
    )
