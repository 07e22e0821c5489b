"""Dedup queries over the documents/embeddings tables.

Every dedup family is value-verified against a DuckDB oracle that
reproduces the same hashing (md5) and set arithmetic. The operators
live in ``operators/dedup.py``; these entries bind them to testdata
and pin their semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    fingerprint_store,
    incremental_duplicates,
    jaccard_pairs,
    prefix_filter_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    semantic_duplicates,
    shingles,
    simhash,
)
from .core import _t, query, rnd

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

# DuckDB: distinct 3-gram shingles per doc (mirrors operators.dedup.shingles)
_DUCK_SHINGLES = f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
), sh AS (
    SELECT DISTINCT doc_id AS id,
           concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
    WHERE length(concat_ws(' ', t[i], t[i+1], t[i+2])) > 0
)
"""


@query("dedup_exact", oracle=f"""
SELECT doc_id,
       md5({_NORM}) AS fingerprint,
       min(doc_id) OVER (PARTITION BY md5({_NORM})) AS cluster_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5({_NORM}))
           AS is_duplicate
FROM documents
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the canonical-text fingerprint;
    cluster representative = min doc_id."""
    return exact_duplicates(
        _t(spark, sf_dir, "documents"), "doc_id", "text")


@query("dedup_ngram_jaccard", oracle=_DUCK_SHINGLES + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(common AS BIGINT) AS common,
       CAST(sa.size AS BIGINT) AS size_a,
       CAST(sb.size AS BIGINT) AS size_b,
       round(CAST(common AS DOUBLE) / (sa.size + sb.size - common), 4)
           AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.8
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (3-shingle) Jaccard near-dup pairs at threshold 0.8 —
    inverted-index self-join, no all-pairs blowup."""
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    pairs = jaccard_pairs(sh, threshold=0.8)
    return pairs.select(
        "id_a", "id_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        rnd("jaccard", 4).alias("jaccard"),
    )


@query("dedup_minhash_lsh", oracle=_DUCK_SHINGLES + """
, sig AS (
    -- universal-hash minhash family over x = int(md5[0:8], 16);
    -- mirrors operators.dedup.minhash_signatures/_mh_coeffs exactly
    -- (int64 arithmetic, no engine divergence)
    SELECT id, s.seed,
           min((
               (2 * ((1103515245 * (s.seed + 1) + 12345) % 536870912) + 1)
               * ('0x' || substring(md5(shingle), 1, 8))::BIGINT
               + (69069 * (s.seed + 1) + 1) % 536870912
           ) % 2147483647) AS mh
    FROM sh, unnest(range(0, 16)) AS s(seed)
    GROUP BY id, s.seed
), banded AS (
    SELECT id, seed % 4 AS band,
           md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bucket
    FROM sig
    GROUP BY id, seed % 4
), cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
), sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, verified AS (
    SELECT c.id_a, c.id_b, count(*) AS common
    FROM cand c
    JOIN sh a ON a.id = c.id_a
    JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT v.id_a, v.id_b,
       round(CAST(common AS DOUBLE) / (sa.size + sb.size - common), 4)
           AS jaccard
FROM verified v
JOIN sizes sa ON sa.id = v.id_a
JOIN sizes sb ON sb.id = v.id_b
WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.7
""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 hashes) + LSH banding (4 bands x 4 rows) candidate
    generation, verified with true Jaccard >= 0.7.

    The scale path: banding turns all-pairs similarity into
    equi-joins on (band, bucket); verification touches only
    colliding pairs. The shingle SET rides the signature aggregation
    (same shuffled bytes, packed as one array per doc), so verify is
    array_intersect over two per-doc joins against the 1-row-per-doc
    signature table — the exploded shingle table is never re-joined
    and nothing needs a persist."""
    from ..sources.registry import materialize_auto
    docs = _t(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", n=3)
    # one row per doc (tiny): materialize it — the three consumers
    # below (banding + both verification sides) then reuse one
    # explode+agg. materialize_auto (lazy localCheckpoint locally),
    # NOT .persist(): a persisted plan registers with the
    # CacheManager and outlives this call, so a LATER invocation's
    # identical sub-plan silently resolves to the first run's
    # materialized blocks — result reuse across runs, which the
    # bench's min-of-5 must never see (r14 methodology fix; the
    # same-commit A/B is in BASELINE.md). A localCheckpoint shares
    # within one invocation only: every fresh call recomputes from
    # the scan.
    sig = materialize_auto(minhash_signatures(sh, num_hashes=16,
                                              carry_shingles=True))
    cand = lsh_candidate_pairs(sig, bands=4)
    a = sig.select(F.col("id").alias("id_a"),
                   F.col("shingles").alias("sa"),
                   F.col("size").alias("size_a"))
    b = sig.select(F.col("id").alias("id_b"),
                   F.col("shingles").alias("sb"),
                   F.col("size").alias("size_b"))
    verified = (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn("jaccard", F.col("common") /
                    (F.col("size_a") + F.col("size_b") - F.col("common")))
        .where(F.col("jaccard") >= 0.7)
    )
    return verified.select(
        "id_a", "id_b", rnd("jaccard", 4).alias("jaccard"))


# SimHash oracle: reproduce the per-bit signed sums in SQL.
def _duck_simhash(bits: int = 16) -> str:
    nib = "strpos('0123456789abcdef', substr(hex, {pos}, 1)) - 1"
    per_bit_sums = ",\n           ".join(
        "sum((floor(({nib}) / {div}) % 2) * 2 - 1) AS s{j}".format(
            nib=nib.format(pos=j // 4 + 1), div=2 ** (3 - j % 4), j=j)
        for j in range(bits))
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** (bits - 1 - j)} ELSE 0 END)"
        for j in range(bits))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), hashed AS (
    SELECT doc_id, md5(tok) AS hex FROM toks WHERE length(tok) > 0
), sums AS (
    SELECT doc_id,
           {per_bit_sums}
    FROM hashed
    GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


@query("dedup_simhash", oracle=_duck_simhash(16))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (frequency-weighted token bits).
    Near-dup candidates at scale = fingerprints within small Hamming
    distance; here the full fingerprint column is value-verified."""
    return (
        simhash(_t(spark, sf_dir, "documents"), "doc_id", "text", bits=16)
        .withColumnRenamed("id", "doc_id")
    )


@query("dedup_embedding_cosine", oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 4)
           AS cosine
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding, b.embedding) /
      (sqrt(list_dot_product(a.embedding, a.embedding)) *
       sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.45
""")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45 — this corpus
    has no planted vector dups; the threshold exercises the operator
    on real pairs). Distributed blocked all-pairs gemm: the EXACT
    verify entry (O(n^2) compute by definition). The scale/headline
    path at true near-dup thresholds is dedup_embedding_lsh below."""
    pairs = embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.45)
    return pairs.select("id_a", "id_b", rnd("cosine", 4).alias("cosine"))


# Planted-near-dupe corpus, shared by the embedding-dedup scale-path
# entries (dedup_embedding_lsh, dedup_semantic): every 10th vector
# re-enters with a per-element scaling cycle (cosine ~0.9999998 to its
# source), so both engines replay the identical corpus and a DuckDB
# oracle can value-verify what the approximate method recovers.
_PLANTED_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
    FROM embeddings
), planted AS (
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(list_zip(embedding, range(0, len(embedding))),
                          p -> p[1] * (1 + 0.0002 * (p[2] % 5)))
               AS embedding
    FROM base WHERE vec_id % 10 = 0
), corpus AS (
    SELECT * FROM base UNION ALL SELECT * FROM planted
)
"""


def _planted_corpus(emb: DataFrame) -> DataFrame:
    """Spark twin of ``_PLANTED_SQL``. Single-scan: every row explodes
    to itself (+ its planted near-dupe for every 10th id) in one pass
    over the cached table — a unionAll of two scans doubles the
    partition count and makes the downstream Python tag stage run two
    task waves for no work."""
    v = F.col("embedding").cast("array<double>")
    orig = F.struct(F.col("vec_id").alias("vec_id"), v.alias("embedding"))
    pert = F.struct(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform(v, lambda x, i: x * (F.lit(1.0) + F.lit(0.0002)
                                         * (i % 5))).alias("embedding"))
    return (emb.select(F.explode(
                F.when(F.col("vec_id") % 10 == 0, F.array(orig, pert))
                .otherwise(F.array(orig))).alias("s"))
            .select("s.*"))


@query("dedup_embedding_lsh", oracle=_PLANTED_SQL + """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 4)
           AS cosine
FROM corpus a
JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding, b.embedding) /
      (sqrt(list_dot_product(a.embedding, a.embedding)) *
       sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.99
""")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection on the SUB-QUADRATIC scale path:
    SRP-LSH bucketing + per-bucket gemm at a true near-dup threshold
    (0.99) over deterministically planted near-dupes (every 10th
    vector perturbed by a per-element scaling cycle — both engines
    replay the same corpus, so the DuckDB all-pairs oracle
    value-verifies what LSH recovers). Collision probability per
    8-plane table at cosine ~0.9999998 is ~0.998, so across 4 tables
    the per-pair miss probability is ~1e-11 — recovery is
    deterministic-complete while the vector payload shuffles 4x, not
    8x; candidates are re-scored exactly, so false bucket collisions
    cannot leak through. Compute is O(sum bucket^2) << O(n^2) — the
    100 TB path. tag_partitions=4 sizes the Python tag stage to the
    ~1 MB cached corpus (see operator docstring).

    The plan is pure-lazy (no persist/checkpoint; pinned by test), so
    a fresh build computes tag + shuffle + gemm from the inputs.
    Building it costs ~0.2 s of py4j expression assembly for the
    mapInPandas chain; re-executing one already-built frame is NOT a
    fresh run — Spark may reuse the earlier run's shuffle output."""
    corpus = _planted_corpus(_t(spark, sf_dir, "embeddings"))
    pairs = embedding_near_duplicates(
        corpus, "vec_id", "embedding", threshold=0.99,
        method="lsh", n_planes=8, tables=4, dim=64, tag_partitions=4)
    return pairs.select("id_a", "id_b", rnd("cosine", 4).alias("cosine"))


def _semantic_oracle(n_clusters: int, threshold: float, iters: int) -> str:
    """DuckDB replay of operators.dedup.semantic_duplicates over the
    planted corpus: the IVF oracle's deterministic k-means CTE chain
    (seeds = smallest md5(id), quantized Lloyd rounds, final
    assignment ``af``), then within-cluster thresholded pairs and the
    paper's centroid keep-policy on 1e-6-quantized similarities."""
    from .similarity import _kmeans_sql

    ctes, final_cents = _kmeans_sql(n_clusters, iters, src="corpus")
    ctes.append(f"""sims AS (
    SELECT a.vec_id, a.v, a.cluster,
           round(list_dot_product(a.v, c.cv) /
                 sqrt(list_dot_product(a.v, a.v)), 6) AS csim
    FROM af a JOIN {final_cents} c USING (cluster)
), prs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           a.csim AS sim_a, b.csim AS sim_b
    FROM sims a JOIN sims b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) *
           sqrt(list_dot_product(b.v, b.v))) >= {threshold}
), losses AS (
    SELECT CASE WHEN sim_a > sim_b THEN id_a
                WHEN sim_b > sim_a THEN id_b
                ELSE greatest(id_a, id_b) END AS id,
           CASE WHEN sim_a > sim_b THEN id_b
                WHEN sim_b > sim_a THEN id_a
                ELSE least(id_a, id_b) END AS kept
    FROM prs
), dup AS (
    SELECT id, min(kept) AS dup_of FROM losses GROUP BY id
)""")
    body = ",\n".join(ctes)
    return (_PLANTED_SQL.rstrip() + ", " + body + """
SELECT t.vec_id, CAST(t.cluster AS INT) AS cluster_id,
       d.dup_of IS NOT NULL AS is_duplicate, d.dup_of
FROM af t LEFT JOIN dup d ON d.id = t.vec_id
""")


@query("dedup_semantic",
       oracle=_semantic_oracle(n_clusters=8, threshold=0.95, iters=2))
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space with
    the IVF coarse quantizer's deterministic k-means, then find
    near-dup pairs ONLY within clusters — O(sum cluster^2), not
    O(n^2) — and drop the pair member closer to its centroid (the
    paper keeps low-centroid-similarity examples for diversity).
    Runs over the planted corpus so the dedup verdict is non-trivial
    and the DuckDB oracle replays the identical k-means + keep-policy
    arithmetic end to end."""
    corpus = _planted_corpus(_t(spark, sf_dir, "embeddings"))
    return semantic_duplicates(
        corpus, "vec_id", "embedding",
        n_clusters=8, threshold=0.95, iters=2, dim=64, keep="centroid")


@query("dedup_clusters",
       oracle=_DUCK_SHINGLES.replace("WITH toks", "WITH RECURSIVE toks")
       + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), near AS (
    SELECT id_a, id_b
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.8
), edges AS (
    SELECT id_a AS u, id_b AS v FROM near
    UNION
    SELECT id_b, id_a FROM near
), reach(node, r) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup clusters: min-label propagation labels
    every involved doc with its component representative. The DuckDB
    oracle computes the same components via a recursive
    transitive-closure CTE — two entirely different algorithms, one
    answer."""
    from ..operators.graph import connected_components
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    near = jaccard_pairs(sh, threshold=0.8).select("id_a", "id_b")
    cc = connected_components(near)
    return cc.select(cc["id"].alias("doc_id"),
                     cc["cluster"].cast("long").alias("cluster_id"))


@query("dedup_keeper_selection",
       oracle=_DUCK_SHINGLES.replace("WITH toks", "WITH RECURSIVE toks")
       + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), near AS (
    SELECT id_a, id_b
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.8
), edges AS (
    SELECT id_a AS u, id_b AS v FROM near
    UNION
    SELECT id_b, id_a FROM near
), reach(node, r) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
), clusters AS (
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
), sized AS (
    SELECT c.doc_id, c.cluster_id, len(t) AS n_tokens
    FROM clusters c JOIN toks ON toks.doc_id = c.doc_id
)
SELECT doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_tokens DESC, doc_id) = 1 AS is_keeper
FROM sized
""")
def dedup_keeper_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: every clustered doc marked keeper or drop.
    Policy: keep the longest version (token count), tie-break lowest
    id — the standard near-dup survivorship rule. Composition of
    connected_components over >=0.8 jaccard pairs with a per-cluster
    ranking window."""
    from pyspark.sql import Window as W

    from ..operators.graph import connected_components
    docs = _t(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", n=3)
    near = jaccard_pairs(sh, threshold=0.8).select("id_a", "id_b")
    cc = connected_components(near)
    from ..functions.text import tokens
    sized = (cc.join(docs.select("doc_id",
                                 F.size(tokens(F.col("text")))
                                 .cast("long").alias("n_tokens")),
                     cc["id"] == F.col("doc_id"))
             .select("doc_id", F.col("cluster").cast("long")
                     .alias("cluster_id"), "n_tokens"))
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_tokens"), "doc_id")
    return sized.withColumn("is_keeper", F.row_number().over(w) == 1)


@query("dedup_incremental", oracle=f"""
WITH fp AS (
    SELECT doc_id, md5({_NORM}) AS f FROM documents
), hist AS (
    SELECT f AS fingerprint, min(doc_id) AS first_id
    FROM fp WHERE doc_id % 3 = 0 GROUP BY 1
), batch AS (
    SELECT doc_id, f FROM fp WHERE doc_id % 3 <> 0
    UNION ALL
    SELECT doc_id + 1000000, f FROM fp WHERE doc_id % 30 = 0
    UNION ALL
    SELECT doc_id + 2000000, f FROM fp WHERE doc_id % 30 = 1
), j AS (
    SELECT b.doc_id, b.f, h.first_id,
           min(b.doc_id) OVER (PARTITION BY b.f) AS keeper
    FROM batch b LEFT JOIN hist h ON h.fingerprint = b.f
)
SELECT doc_id, f AS fingerprint,
       CASE WHEN first_id IS NOT NULL THEN 'history_dup'
            WHEN doc_id <> keeper THEN 'batch_dup'
            ELSE 'new' END AS status,
       CASE WHEN first_id IS NOT NULL THEN first_id
            WHEN doc_id <> keeper THEN keeper END AS dup_of
FROM j
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup — the ongoing-ingestion shape:
    history snapshot = docs with doc_id % 3 == 0, distilled to a
    (fingerprint, first_id) store; the new batch = the remaining docs
    plus deterministic planted copies (every 30th history doc
    re-enters as id+1000000 -> guaranteed history_dup; every doc with
    doc_id % 30 == 1 re-enters as id+2000000 -> guaranteed batch_dup)
    so the three-way verdict is non-trivial at every sf. Single scan
    builds the batch (conditional explode, no self-union); only
    fingerprints ever shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def mk(idc):
        return F.struct(idc.alias("doc_id"), F.col("text").alias("text"))

    arr = F.filter(
        F.array(
            F.when(F.col("doc_id") % 3 != 0, mk(F.col("doc_id"))),
            F.when(F.col("doc_id") % 30 == 0,
                   mk(F.col("doc_id") + F.lit(1000000))),
            F.when(F.col("doc_id") % 30 == 1,
                   mk(F.col("doc_id") + F.lit(2000000)))),
        lambda x: x.isNotNull())
    batch = docs.select(F.explode(arr).alias("s")).select("s.*")
    store = fingerprint_store(
        docs.where(F.col("doc_id") % 3 == 0), "doc_id", "text")
    return incremental_duplicates(batch, store, "doc_id", "text")


@query("dedup_spans", oracle=f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
), seg AS (
    SELECT doc_id,
           CAST((s - 1) // 10 AS BIGINT) AS span_idx,
           array_to_string(list_slice(t, s, s + 9), ' ') AS span
    FROM toks, unnest(range(1, greatest(len(t), 1) + 1, 10)) AS u(s)
), k AS (
    SELECT doc_id, span_idx, span,
           row_number() OVER (PARTITION BY md5(span)
                              ORDER BY doc_id, span_idx) AS rn
    FROM seg
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' '
                               ORDER BY span_idx), '')) AS clean_fp
FROM k
GROUP BY doc_id
""")
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level corpus dedup (10-word spans, global
    first-occurrence-wins): per-doc span counts plus the md5 of the
    reassembled cleaned text, so the oracle verifies WHICH spans
    survived, not just how many. The sf0.01 corpus has ~150
    genuinely repeated spans, so the keep/drop split is real."""
    from ..operators.dedup import span_dedup
    out = span_dedup(_t(spark, sf_dir, "documents"), "doc_id", "text",
                     span_words=10)
    return out.select(out["id"].alias("doc_id"), "n_spans", "n_kept",
                      "clean_fp")


_DSP_K, _DSP_MINLEN = 5, 15

@query("dedup_substring_pairs", oracle=f"""
WITH ct AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
), cg AS (
    SELECT doc_id, i - 1 AS pos,
           md5(array_to_string(t[i:i+{_DSP_K - 1}], ' ')) AS fp
    FROM ct, unnest(range(1, len(t) - {_DSP_K} + 2)) AS u(i)
), m AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.pos AS pa, a.pos - b.pos AS diag
    FROM cg a JOIN cg b USING (fp)
    WHERE a.doc_id < b.doc_id
), isl AS (
    SELECT id_a, id_b, diag, pa,
           pa - row_number() OVER (PARTITION BY id_a, id_b, diag
                                   ORDER BY pa) AS g
    FROM m
), runs AS (
    SELECT id_a, id_b, count(*) + {_DSP_K - 1} AS run
    FROM isl GROUP BY id_a, id_b, diag, g
)
SELECT id_a, id_b, CAST(max(run) AS BIGINT) AS max_substring_tokens
FROM runs GROUP BY id_a, id_b
HAVING max(run) >= {_DSP_MINLEN}
""")
def dedup_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus x corpus substring-level dedup (Lee et al. 2022's
    cross-document duplicated-span discovery, distributed as k-gram
    diagonal chaining): every documents pair sharing a verbatim run
    of >= 15 tokens at arbitrary offsets, with the exact maximal run
    length. The testdata's planted near-duplicate pairs surface here
    with near-full-document runs; DuckDB replays the identical
    k=5 chaining so run lengths value-verify."""
    from ..operators.quality import duplicate_substring_pairs
    return duplicate_substring_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        min_len=_DSP_MINLEN, k=_DSP_K,
        max_gram_freq=None)  # exact mode: oracle replays without a cap


_WIN_K, _WIN_W = 4, 5

@query("dedup_winnowing_fingerprints", oracle=f"""
WITH ct AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
), g AS (
    SELECT doc_id AS id, i - 1 AS pos,
           ('0x' || substring(md5(array_to_string(t[i:i+{_WIN_K - 1}], ' ')),
                              1, 8))::BIGINT AS h
    FROM ct, unnest(range(1, len(t) - {_WIN_K} + 2)) AS u(i)
), e AS (
    SELECT id, pos, h,
           h * 1048576 + (1048575 - pos) AS enc,
           count(*) OVER (PARTITION BY id) AS n
    FROM g
), sel AS (
    SELECT id,
           min(enc) OVER (PARTITION BY id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {_WIN_W - 1} FOLLOWING) AS m,
           pos, n
    FROM e
)
SELECT DISTINCT id AS doc_id,
       CAST(1048575 - (m % 1048576) AS BIGINT) AS pos,
       CAST(m // 1048576 AS BIGINT) AS h
FROM sel WHERE pos <= n - {_WIN_W}
""")
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. 2003 / MOSS)
    over the documents corpus: every selected (position, 32-bit gram
    hash) pair value-verifies against DuckDB replaying the identical
    rightmost-min-per-window arithmetic — the guarantee-bearing
    fingerprint store (any shared run of >= w + k - 1 = 8 tokens
    shares a selected fingerprint at ~2/(w+1) storage density)."""
    from ..operators.dedup import winnow_fingerprints
    out = winnow_fingerprints(_t(spark, sf_dir, "documents"),
                              "doc_id", "text", k=_WIN_K, w=_WIN_W)
    return out.select(out["id"].alias("doc_id"), "pos", "h")


@query("dedup_cluster_size_histogram",
       oracle=_DUCK_SHINGLES.replace("WITH toks", "WITH RECURSIVE toks")
       + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), near AS (
    SELECT id_a, id_b
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.8
), edges AS (
    SELECT id_a AS u, id_b AS v FROM near
    UNION
    SELECT id_b, id_a FROM near
), reach(node, r) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
), clusters AS (
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
), csize AS (
    SELECT cluster_id, count(*) AS cluster_size
    FROM clusters GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs,
       CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_removable
FROM csize GROUP BY cluster_size
""")
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup report card: distribution of near-dup cluster sizes
    (how much of the corpus is duplicated, and how clumpy) plus the
    removable-doc count per size bucket — the summary a dedup run
    publishes before anyone signs off on deleting n_removable docs.
    Composition: jaccard pairs -> connected components -> two tiny
    keyed combines; the histogram is |distinct sizes| rows."""
    from ..operators.graph import connected_components
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    near = jaccard_pairs(sh, threshold=0.8).select("id_a", "id_b")
    cc = connected_components(near)
    csize = cc.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return (csize.groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"),
                 F.sum("cluster_size").cast("long").alias("n_docs"),
                 (F.sum("cluster_size") - F.count("*")).cast("long")
                 .alias("n_removable"))
            .select(F.col("cluster_size").cast("long").alias("cluster_size"),
                    "n_clusters", "n_docs", "n_removable"))


@query("dedup_incremental_minhash", oracle=_DUCK_SHINGLES + """
, sig AS (
    SELECT id, s.seed,
           min((
               (2 * ((1103515245 * (s.seed + 1) + 12345) % 536870912) + 1)
               * ('0x' || substring(md5(shingle), 1, 8))::BIGINT
               + (69069 * (s.seed + 1) + 1) % 536870912
           ) % 2147483647) AS mh
    FROM sh, unnest(range(0, 16)) AS s(seed)
    GROUP BY id, s.seed
), banded AS (
    SELECT id, seed % 4 AS band,
           md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bucket
    FROM sig
    GROUP BY id, seed % 4
), cand AS (
    SELECT DISTINCT b.id AS bid, s.id AS sid
    FROM banded b JOIN banded s
      ON b.band = s.band AND b.bucket = s.bucket
    WHERE b.id % 2 = 1 AND s.id % 2 = 0
), sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, verified AS (
    SELECT c.bid, c.sid, count(*) AS common
    FROM cand c
    JOIN sh a ON a.id = c.bid
    JOIN sh b2 ON b2.id = c.sid AND b2.shingle = a.shingle
    GROUP BY 1, 2
), scored AS (
    SELECT v.bid, v.sid,
           CAST(common AS DOUBLE) / (sa.size + sb.size - common) AS j
    FROM verified v
    JOIN sizes sa ON sa.id = v.bid
    JOIN sizes sb ON sb.id = v.sid
    WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.7
), best AS (
    SELECT bid, sid, j,
           row_number() OVER (PARTITION BY bid ORDER BY j DESC, sid) AS rk
    FROM scored
)
SELECT d.doc_id,
       b.sid AS best_match_id,
       round(b.j, 4) AS best_jaccard,
       b.sid IS NOT NULL AS is_duplicate
FROM documents d
LEFT JOIN best b ON b.bid = d.doc_id AND b.rk = 1
WHERE d.doc_id % 2 = 1
""")
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy incremental dedup against a persisted signature store:
    odd doc_ids arrive as the new batch, even doc_ids are the
    already-accepted corpus whose MinHash signatures + shingle sets
    form the store — near-dup pairs planted in the testdata straddle
    the split, so real cross-snapshot rejections occur. DuckDB
    replays signatures, banding, Jaccard verification and the
    best-match window bit-for-bit."""
    from ..operators.dedup import incremental_minhash_dedup
    docs = _t(spark, sf_dir, "documents")
    store_docs = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    store_sigs = minhash_signatures(
        shingles(store_docs, "doc_id", "text", n=3),
        num_hashes=16, carry_shingles=True)
    out = incremental_minhash_dedup(batch, "doc_id", "text", store_sigs,
                                    num_hashes=16, bands=4, threshold=0.7)
    return out.select(out["id"].alias("doc_id"), "best_match_id",
                      rnd("best_jaccard", 4).alias("best_jaccard"),
                      "is_duplicate")


_PR_ITERS, _PR_D = 3, 0.85

def _pr_iter_sql(i: int) -> str:
    return f"""cb{i} AS (
    SELECT e.v AS id, sum(r.rank / d.deg) AS s
    FROM edges e
    JOIN r{i - 1} r ON r.id = e.u
    JOIN deg d ON d.u = e.u
    GROUP BY e.v
), r{i} AS (
    SELECT n.id,
           (1.0 - {_PR_D}) / (SELECT n FROM nn)
               + {_PR_D} * coalesce(cb{i}.s, 0.0) AS rank
    FROM nodes n LEFT JOIN cb{i} ON cb{i}.id = n.id
)"""

@query("dedup_pagerank_centrality",
       oracle=_DUCK_SHINGLES.replace("WITH toks", "WITH toks")
       + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), near AS (
    SELECT id_a, id_b
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.8
), edges AS (
    SELECT id_a AS u, id_b AS v FROM near
    UNION
    SELECT id_b, id_a FROM near
), nodes AS (SELECT DISTINCT u AS id FROM edges)
, nn AS (SELECT count(*) AS n FROM nodes)
, deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u)
, r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
, """ + ",\n".join(_pr_iter_sql(i) for i in range(1, _PR_ITERS + 1)) + f"""
SELECT id AS doc_id, round(rank, 6) AS rank FROM r{_PR_ITERS}
""")
def dedup_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the >=0.8 jaccard near-dup graph
    (3 fixed iterations, damping 0.85): which documents anchor the
    densest template families. Iterative-algorithm evidence beyond
    connected components, and every rank value-verifies against
    DuckDB replaying the identical iteration chain."""
    from ..operators.graph import pagerank
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    near = jaccard_pairs(sh, threshold=0.8).select("id_a", "id_b")
    pr = pagerank(near, iters=_PR_ITERS, damping=_PR_D)
    return pr.select(pr["id"].alias("doc_id"),
                     rnd("rank", 6).alias("rank"))


@query("dedup_bias_source_mix", oracle=f"""
WITH fp AS (
    SELECT doc_id, source, md5({_NORM}) AS f FROM documents
), keep AS (
    SELECT source, doc_id = min(doc_id) OVER (PARTITION BY f) AS kept
    FROM fp
), agg AS (
    SELECT source,
           count(*) AS n_before,
           sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_after
    FROM keep GROUP BY source
), tot AS (
    SELECT sum(n_before) AS tb, sum(n_after) AS ta FROM agg
)
SELECT source,
       CAST(n_before AS BIGINT) AS n_before,
       CAST(n_after AS BIGINT) AS n_after,
       round(n_before / tb, 6) AS share_before,
       round(n_after / ta, 6) AS share_after,
       round(n_after / ta - n_before / tb, 6) AS share_shift
FROM agg, tot
""")
def dedup_bias_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup BIAS audit: the corpus's source composition before vs
    after exact dedup, with the per-source share shift — the check
    the dedup literature insists on (dedup removes more from
    template-heavy sources, silently re-weighting the training mix;
    a large |share_shift| means the keeper policy changed the data
    distribution, not just its size). One fingerprint window + one
    source-keyed combine + a broadcast 1-row total."""
    from pyspark.sql import Window as W

    from ..functions.text import normalize_text
    docs = _t(spark, sf_dir, "documents")
    f = F.md5(normalize_text(F.col("text")))
    kept = (F.col("doc_id") ==
            F.min("doc_id").over(W.partitionBy(f)))
    agg = (docs.select("source", kept.alias("kept"))
           .groupBy("source")
           .agg(F.count("*").alias("n_before"),
                F.sum(F.when(F.col("kept"), 1).otherwise(0))
                .alias("n_after")))
    tot = agg.agg(F.sum("n_before").alias("tb"),
                  F.sum("n_after").alias("ta"))
    sb = F.col("n_before") / F.col("tb")
    sa = F.col("n_after") / F.col("ta")
    return (agg.crossJoin(F.broadcast(tot))
            .select("source",
                    F.col("n_before").cast("long").alias("n_before"),
                    F.col("n_after").cast("long").alias("n_after"),
                    rnd(sb, 6).alias("share_before"),
                    rnd(sa, 6).alias("share_after"),
                    rnd(sa - sb, 6).alias("share_shift")))


@query("dedup_containment_pairs", oracle=_DUCK_SHINGLES + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(common AS BIGINT) AS common,
       CAST(sa.size AS BIGINT) AS size_a,
       CAST(sb.size AS BIGINT) AS size_b,
       round(CAST(common AS DOUBLE) / least(sa.size, sb.size), 4)
           AS containment
FROM pairs
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(common AS DOUBLE) / least(sa.size, sb.size) >= 0.9
""")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment near-dup pairs at 0.9 (Broder's
    asymmetric measure): catches a short document embedded in a long
    one, where Jaccard stays low and the symmetric entries stay
    silent — the quote/boilerplate-inclusion case every corpus
    dedup pass needs alongside Jaccard. Same inverted-index
    self-join bound; the containment division is the only change."""
    from ..operators.dedup import containment_pairs, shingles
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    pairs = containment_pairs(sh, threshold=0.9)
    return pairs.select(
        "id_a", "id_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        rnd("containment", 4).alias("containment"))


@query("dedup_minhash_calibration", oracle=_DUCK_SHINGLES + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), exact AS (
    SELECT id_a, id_b,
           CAST(common AS DOUBLE) / (sa.size + sb.size - common)
               AS j_exact
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.5
), sig AS (
    SELECT id, s.seed,
           min((
               (2 * ((1103515245 * (s.seed + 1) + 12345) % 536870912) + 1)
               * ('0x' || substring(md5(shingle), 1, 8))::BIGINT
               + (69069 * (s.seed + 1) + 1) % 536870912
           ) % 2147483647) AS mh
    FROM sh, unnest(range(0, 16)) AS s(seed)
    GROUP BY id, s.seed
), agree AS (
    SELECT e.id_a, e.id_b, e.j_exact,
           sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 16.0
               AS j_est
    FROM exact e
    JOIN sig a ON a.id = e.id_a
    JOIN sig b ON b.id = e.id_b AND b.seed = a.seed
    GROUP BY 1, 2, 3
)
SELECT id_a, id_b,
       round(j_exact, 4) AS j_exact,
       round(j_est, 4) AS j_est,
       round(abs(j_exact - j_est), 4) AS abs_err
FROM agree
""")
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash CALIBRATION report: for every true near-dup pair
    (exact Jaccard >= 0.5), the 16-hash signature-agreement estimate
    next to the exact value and their absolute error — the
    measure-don't-guess check that the sketch the LSH pipeline
    trusts actually tracks the statistic it estimates (E[agree/k] =
    Jaccard; 16 hashes give ~0.12 std at J=0.5). Signatures come
    from the same one-groupBy wide-signature build as the dedup
    path; the estimate joins 16 rows per pair, bounded by the true
    pair count."""
    from ..operators.dedup import jaccard_pairs, minhash_signatures, shingles
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    exact = (jaccard_pairs(sh, threshold=0.5)
             .select("id_a", "id_b", F.col("jaccard").alias("j_exact")))
    sig = minhash_signatures(sh, num_hashes=16)
    agree = sum(
        F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        for i in range(16)) / 16.0
    a, b = sig.alias("a"), sig.alias("b")
    return (exact
            .join(a, F.col("id_a") == F.col("a.id"))
            .join(b, F.col("id_b") == F.col("b.id"))
            .select("id_a", "id_b",
                    rnd("j_exact", 4).alias("j_exact"),
                    rnd(agree, 4).alias("j_est"),
                    rnd(F.abs(F.col("j_exact") - agree), 4)
                    .alias("abs_err")))


@query("dedup_threshold_sweep", oracle=_DUCK_SHINGLES + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
), scored AS (
    SELECT CAST(common AS DOUBLE) / (sa.size + sb.size - common) AS j
    FROM pairs
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
), th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS t)
SELECT th.t AS threshold,
       CAST(count(*) FILTER (scored.j >= th.t) AS BIGINT) AS n_pairs
FROM th CROSS JOIN scored
GROUP BY th.t
""")
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for near-dup dedup: the pair
    count surviving Jaccard >= t for t in 0.5..0.9, from ONE
    inverted-index pair computation — the tuning curve that decides
    where to set the production threshold (and how many bands/rows
    the LSH stage needs). The sweep is a 5-row broadcast against the
    scored pair set, not five recomputations."""
    from ..operators.dedup import jaccard_pairs, shingles
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    scored = jaccard_pairs(sh, threshold=0.0).select("jaccard")
    th = scored.sparkSession.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "t double")
    return (F.broadcast(th).crossJoin(scored)
            .groupBy(F.col("t").alias("threshold"))
            .agg(F.sum(F.when(F.col("jaccard") >= F.col("t"), 1)
                       .otherwise(0)).cast("long").alias("n_pairs")))


@query("dedup_cross_source_matrix", oracle=f"""
WITH toks AS (
    SELECT source, {_TOKS} AS t FROM documents
), fp AS (
    SELECT source,
           md5(array_to_string(list_slice(t, s, s + 9), ' ')) AS f
    FROM toks, unnest(range(1, greatest(len(t), 1) + 1, 10)) AS u(s)
), c AS (
    SELECT f, source, count(*) AS n FROM fp GROUP BY 1, 2
), p AS (
    SELECT a.source AS s1, b.source AS s2,
           CASE WHEN a.source = b.source
                THEN (a.n * (a.n - 1)) // 2
                ELSE a.n * b.n END AS pairs
    FROM c a JOIN c b ON a.f = b.f AND a.source <= b.source
)
SELECT s1, s2,
       CAST(sum(pairs) AS BIGINT) AS dup_pairs,
       CAST(sum(CASE WHEN pairs > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_groups
FROM p GROUP BY 1, 2
HAVING sum(pairs) > 0
""")
def dedup_cross_source_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Copy-flow matrix: duplicated-SPAN pair counts between every
    source pair (and within each source on the diagonal) — the
    mirror-site / cross-crawl-overlap report that decides which
    sources to dedup against each other before mixing. Spans are the
    same 10-word fixed windows as dedup_spans (doc-level exact dupes
    are too rare below sf0.1 to gate on). Pair counts come from
    PER-GROUP PER-SOURCE COUNT ARITHMETIC (n_a * n_b cross, C(n,2)
    intra), never a span-level self-join: the join runs on the
    (fingerprint, source)-level aggregate, so a boilerplate span
    shared by a million docs costs |sources| rows, not 10^12 pairs.
    One fingerprint shuffle + one aggregate-level join — the only
    safe shape for this report at 100 TB."""
    from ..functions.text import tokens as toks_fn
    t = toks_fn(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)),
                        F.lit(10))
    spans = F.transform(
        starts, lambda s: F.array_join(F.slice(t, s, 10), " "))
    fp = (_t(spark, sf_dir, "documents")
          .select("source", F.explode(spans).alias("span"))
          .select("source", F.md5("span").alias("f")))
    c = fp.groupBy("f", "source").agg(F.count(F.lit(1)).alias("n"))
    a = c.select("f", F.col("source").alias("s1"), F.col("n").alias("na"))
    b = c.select("f", F.col("source").alias("s2"), F.col("n").alias("nb"))
    p = (a.join(b, "f")
         .where(F.col("s1") <= F.col("s2"))
         .select("s1", "s2",
                 F.when(F.col("s1") == F.col("s2"),
                        F.expr("(na * (na - 1)) DIV 2"))
                  .otherwise(F.col("na") * F.col("nb")).alias("pairs")))
    return (p.groupBy("s1", "s2")
            .agg(F.sum("pairs").cast("long").alias("dup_pairs"),
                 F.sum((F.col("pairs") > 0).cast("int")).cast("long")
                 .alias("n_shared_groups"))
            .where(F.col("dup_pairs") > 0))


@query("dedup_prefix_filter_pairs", oracle=_DUCK_SHINGLES + """
, sizes AS (SELECT id, count(*) AS size FROM sh GROUP BY id)
, pairs AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(common AS BIGINT) AS common,
       CAST(sa.size AS BIGINT) AS size_a,
       CAST(sb.size AS BIGINT) AS size_b,
       round(CAST(common AS DOUBLE) / (sa.size + sb.size - common), 4)
           AS jaccard
FROM pairs
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(common AS DOUBLE) / (sa.size + sb.size - common) >= 0.5
""")
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (operators/dedup.py:
    prefix_filter_pairs) at Jaccard >= 0.5 over the standard 3-gram
    shingles. The oracle is deliberately the EXHAUSTIVE inverted-
    index threshold join: AllPairs' correctness claim is that prefix
    indexing loses nothing, so the gate is "identical rows to brute
    force" — while the Spark plan indexes only each set's
    rarest-first prefix (|s| - ceil(t|s|) + 1 elements) and length-
    filters candidates before the exact verify. At t=0.5 the
    exhaustive candidate space here is 11.5k (sf0.01) / 1.13M
    (sf0.1) sharing-pairs; the prefix join's candidate set is the
    filtered fraction that survives, with 25 / 256 true pairs out."""
    sh = shingles(_t(spark, sf_dir, "documents"), "doc_id", "text", n=3)
    pairs = prefix_filter_pairs(sh, threshold=0.5)
    return pairs.select(
        "id_a", "id_b",
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        rnd("jaccard", 4).alias("jaccard"),
    )
