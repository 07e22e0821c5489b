"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.similarity import _hyperplanes, brute_force_topk, srp_lsh_topk
from .core import _t, query, rnd

_COS = """list_dot_product(q.embedding, c.embedding) /
      (sqrt(list_dot_product(q.embedding, q.embedding)) *
       sqrt(list_dot_product(c.embedding, c.embedding)))"""

# Cosine over pre-cast DOUBLE[] columns qv/cv (the ANN oracles cast
# once in their candidate CTEs; Spark's `dot` folds in double, so the
# oracle must never let DuckDB accumulate in float32).
_COS_QC = """list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) *
            sqrt(list_dot_product(cv, cv)))"""


def _plane_sql(plane: list[float]) -> str:
    """One hyperplane as a DOUBLE[] literal. repr() round-trips the
    exact doubles Spark ships as F.lit(...), so both engines hash the
    identical plane."""
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _bucket_sql(planes: list[list[float]]) -> str:
    """Sign-bit bucket string — SQL twin of operators.similarity._bucket_expr."""
    bits = [
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_plane_sql(p)}) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    ]
    return "\n        || ".join(bits)


def _srp_oracle(k: int, n_planes: int, tables: int,
                dim: int, seed: int) -> str:
    """DuckDB replay of srp_lsh_topk: same seeded hyperplanes (as
    literals), same bucket bits, candidates = bucket match in ANY
    table, exact cosine re-rank."""
    bucket_cols = ",\n       ".join(
        f"{_bucket_sql(_hyperplanes(dim, n_planes, seed + 1000 * t))} AS b{t}"
        for t in range(tables))
    any_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(tables))
    return f"""
WITH b AS (
    SELECT vec_id, embedding,
       {bucket_cols}
    FROM embeddings
), cand AS (
    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
           c.vec_id AS neighbor_id, CAST(c.embedding AS DOUBLE[]) AS cv
    FROM b q JOIN b c
      ON q.vec_id < 5 AND c.vec_id <> q.vec_id AND ({any_match})
), ranked AS (
    SELECT query_id, neighbor_id,
           round({_COS_QC}, 4) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS_QC} DESC, neighbor_id) AS BIGINT) AS rank
    FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def _ivf_assign_sql(name: str, cents: str, src: str = "embeddings") -> str:
    """One Lloyd assignment round: nearest centroid by dot (argmax is
    scale-invariant, so raw vectors need no normalization; ties break
    to the LOWEST cluster, matching np.argmax first-index). ``src``
    lets callers assign over a CTE (e.g. the planted dedup corpus)
    instead of the embeddings table."""
    return f"""{name} AS (
    SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cluster,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                             c.cv) DESC,
                            c.cluster) AS rn
        FROM {src} e CROSS JOIN {cents} c
    ) WHERE rn = 1
)"""


def _ivf_update_sql(rnd_i: int, assign: str, prev: str) -> str:
    """One Lloyd update round: per-(cluster, pos) mean, renormalize,
    snap to the operator's 1e-6 centroid grid; empty cells keep the
    previous centroid."""
    return f"""m{rnd_i} AS (
    SELECT cluster, pos, avg(x) AS mx FROM (
        SELECT cluster, unnest(v) AS x, unnest(range(len(v))) AS pos
        FROM {assign}
    ) GROUP BY cluster, pos
), g{rnd_i} AS (
    SELECT cluster, list(mx ORDER BY pos) AS mv FROM m{rnd_i} GROUP BY cluster
), c{rnd_i} AS (
    SELECT p.cluster,
           CASE WHEN g.mv IS NULL
                     OR sqrt(list_dot_product(g.mv, g.mv)) = 0 THEN p.cv
                ELSE list_transform(g.mv,
                     x -> round(x / sqrt(list_dot_product(g.mv, g.mv)), 6))
           END AS cv
    FROM {prev} p LEFT JOIN g{rnd_i} g USING (cluster)
)"""


def _kmeans_sql(n_clusters: int, iters: int,
                src: str = "embeddings") -> tuple[list[str], str]:
    """CTE chain replaying operators.similarity._kmeans_centroids over
    ``src``: seeds = the n_clusters vectors with the smallest md5(id),
    ``iters`` Lloyd rounds (assignment + quantized mean update), then
    the final assignment as CTE ``af`` (vec_id, v, cluster). Returns
    (ctes, final_centroid_cte_name) for callers to extend — the IVF
    oracle adds probes, the SemDeDup oracle within-cluster pairs."""
    ctes = [f"""seeds AS (
    SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS cluster,
           CAST(embedding AS DOUBLE[]) AS v
    FROM {src}
    ORDER BY md5(CAST(vec_id AS VARCHAR))
    LIMIT {n_clusters}
), c0 AS (
    SELECT cluster,
           list_transform(v,
               x -> round(x / sqrt(list_dot_product(v, v)), 6)) AS cv
    FROM seeds
)"""]
    for i in range(1, iters + 1):
        ctes.append(_ivf_assign_sql(f"a{i}", f"c{i - 1}", src))
        ctes.append(_ivf_update_sql(i, f"a{i}", f"c{i - 1}"))
    final_cents = f"c{iters}"
    ctes.append(_ivf_assign_sql("af", final_cents, src))
    return ctes, final_cents


def _ivf_oracle(k: int, n_clusters: int, n_probe: int, iters: int) -> str:
    """DuckDB replay of ivf_topk's full deterministic index build:
    seeds = the n_clusters corpus vectors with the smallest md5(id),
    `iters` Lloyd rounds (assignment + quantized mean update) as
    chained CTEs, then probe the n_probe nearest cells and re-rank
    exactly — the same arithmetic the Spark operator runs, so the
    value hash matches."""
    ctes, final_cents = _kmeans_sql(n_clusters, iters)
    ctes.append(f"""probes AS (
    SELECT query_id, qv, cluster FROM (
        SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
               c.cluster,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), c.cv)
                            / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(q.embedding AS DOUBLE[])))
                               * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.cluster DESC) AS rn
        FROM embeddings q CROSS JOIN {final_cents} c
        WHERE q.vec_id < 5
    ) WHERE rn <= {n_probe}
), cand AS (
    SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
    FROM probes p JOIN af a
      ON p.cluster = a.cluster AND a.vec_id <> p.query_id
), ranked AS (
    SELECT query_id, neighbor_id,
           round({_COS_QC}, 4) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS_QC} DESC, neighbor_id) AS BIGINT) AS rank
    FROM cand
)""")
    body = ",\n".join(ctes)
    return (f"WITH {body}\n"
            f"SELECT query_id, neighbor_id, cosine, rank "
            f"FROM ranked WHERE rank <= {k}")


@query("ann_bruteforce_topk", oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           {_COS} AS cos_raw
    FROM embeddings q
    JOIN embeddings c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
), ranked AS (
    SELECT query_id, neighbor_id,
           round(cos_raw, 4) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= 10
""")
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 5 vectors as queries —
    the ANN baseline. Query set broadcasts; the corpus is scanned
    once with no shuffle of the corpus itself."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, "vec_id", "embedding", k=10)
    return out.select("query_id", "neighbor_id",
                      rnd("cosine", 4).alias("cosine"), "rank")


@query("ann_srp_lsh_topk",
       oracle=_srp_oracle(k=10, n_planes=8, tables=4, dim=64, seed=42))
def ann_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-10 for the same 5 queries. Bucketed
    candidate generation (4 tables x 8 hyperplanes) + exact re-rank.
    Fully deterministic: the seeded hyperplanes ship as literals to
    BOTH engines, so the DuckDB oracle replays the identical bucket
    bits and the value hash must match; recall vs brute force is
    additionally pinned in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = srp_lsh_topk(emb, queries, "vec_id", "embedding",
                       k=10, n_planes=8, tables=4, dim=64, seed=42)
    return out.select("query_id", "neighbor_id",
                      rnd("cosine", 4).alias("cosine"), "rank")


@query("ann_ivf_topk",
       oracle=_ivf_oracle(k=10, n_clusters=16, n_probe=8, iters=2))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for the same 5 queries: deterministic
    mini k-means coarse quantizer (16 cells, 2 Lloyd rounds), each
    query probes its 8 nearest cells, exact cosine re-ranks. The
    build is bit-reproducible (md5-ordered seeds + 1e-6-quantized
    centroids), so the DuckDB oracle replays the identical Lloyd
    rounds as chained CTEs and value-hashes the result; recall vs
    brute force is additionally pinned in tests."""
    from ..operators.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, "vec_id", "embedding",
                   k=10, n_clusters=16, n_probe=8, iters=2, dim=64)
    return out.select("query_id", "neighbor_id",
                      rnd("cosine", 4).alias("cosine"), "rank")


@query("embedding_quantize_int8", oracle="""
WITH s AS (
    SELECT vec_id,
           CAST(127.0 AS DOUBLE)
           / nullif(CAST(list_max(list_transform(embedding, x -> abs(x)))
                         AS DOUBLE), 0.0) AS scale,
           embedding
    FROM embeddings
), q AS (
    SELECT vec_id, scale,
           list_transform(embedding,
                          x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv,
           embedding
    FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       round(list_sum(list_transform(
                 list_zip(qv, embedding),
                 p -> abs(p[1] / scale - p[2])))
             / len(embedding), 6) AS mean_abs_err
FROM q
""")
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization fidelity over the embeddings
    table: per-vector scale, integer-exact |q| mass, and mean
    absolute dequantization error — all value-verified (half-up
    rounding by construction avoids engine round() divergence)."""
    from ..operators.embeddings import dequant_error

    from ..sources.registry import spread
    out = dequant_error(spread(_t(spark, sf_dir, "embeddings")),
                        "vec_id", "embedding")
    return out.select(
        out["id"].alias("vec_id"),
        rnd("scale", 6).alias("scale"),
        "q_l1",
        rnd("mean_abs_err", 6).alias("mean_abs_err"),
    )


def _pq_assign_sql(name: str, cents: str) -> str:
    """One PQ assignment round over every (vec_id, sub) row: nearest
    codebook entry by the expanded L2 form c.c - 2*x.c (rank ASC),
    ties to the lowest cluster — the operator's struct-min order."""
    return f"""{name} AS (
    SELECT vec_id, sub, sv, cluster FROM (
        SELECT s.vec_id, s.sub, s.sv, b.cluster,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY list_dot_product(b.cv, b.cv)
                            - 2 * list_dot_product(s.sv, b.cv),
                            b.cluster) AS rn
        FROM sub s JOIN {cents} b USING (sub)
    ) WHERE rn = 1
)"""


def _pq_sql(m: int, ks: int, iters: int, d: int) -> tuple[list[str], str]:
    """CTE chain replaying operators.similarity.pq_codebooks: the
    (vec_id, sub) subvector table, md5-seeded per-subspace codebooks,
    ``iters`` L2 Lloyd rounds (1e-6-snapped means, empty cells keep
    their centroid), and the final assignment ``af``. Returns
    (ctes, final_codebook_cte)."""
    ctes = [f"""sub AS (
    SELECT vec_id, s.sub,
           list_slice(CAST(embedding AS DOUBLE[]),
                      s.sub * {d} + 1, s.sub * {d} + {d}) AS sv
    FROM embeddings, (SELECT unnest(range({m})) AS sub) s
)""", f"""c0 AS (
    SELECT sub,
           CAST(row_number() OVER (PARTITION BY sub
               ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS cluster,
           list_transform(sv, x -> round(x, 6)) AS cv
    FROM sub
    QUALIFY row_number() OVER (PARTITION BY sub
        ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {ks}
)"""]
    for i in range(1, iters + 1):
        ctes.append(_pq_assign_sql(f"a{i}", f"c{i - 1}"))
        ctes.append(f"""m{i} AS (
    SELECT sub, cluster, pos, avg(x) AS mx FROM (
        SELECT sub, cluster, unnest(sv) AS x,
               unnest(range(len(sv))) AS pos
        FROM a{i}
    ) GROUP BY 1, 2, 3
), c{i} AS (
    SELECT p.sub, p.cluster,
           CASE WHEN g.mv IS NULL THEN p.cv
                ELSE list_transform(g.mv, x -> round(x, 6)) END AS cv
    FROM c{i - 1} p LEFT JOIN (
        SELECT sub, cluster, list(mx ORDER BY pos) AS mv
        FROM m{i} GROUP BY 1, 2) g USING (sub, cluster)
)""")
    ctes.append(_pq_assign_sql("af", f"c{iters}"))
    return ctes, f"c{iters}"


def _pq_oracle(k: int, m: int, ks: int, iters: int, d: int,
               shortlist: int) -> str:
    """DuckDB replay of pq_topk: rebuild the codebooks round by
    round, reconstruct every corpus vector from its codes, ADC-rank
    by approximate cosine, then exact-refine the shortlist."""
    ctes, final_books = _pq_sql(m, ks, iters, d)
    ctes.append(f"""xh AS (
    SELECT a.vec_id, flatten(list(c.cv ORDER BY a.sub)) AS xhat
    FROM af a JOIN {final_books} c
      ON a.sub = c.sub AND a.cluster = c.cluster
    GROUP BY a.vec_id
), adc AS (
    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
           x.vec_id AS neighbor_id,
           list_dot_product(CAST(q.embedding AS DOUBLE[]), x.xhat)
           / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(x.xhat, x.xhat))) AS adc
    FROM embeddings q JOIN xh x
      ON q.vec_id < 5 AND x.vec_id <> q.vec_id
), short AS (
    SELECT query_id, qv, neighbor_id FROM (
        SELECT query_id, qv, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, neighbor_id) AS rn
        FROM adc
    ) WHERE rn <= {shortlist}
), ranked AS (
    SELECT s.query_id, s.neighbor_id,
           round({_COS_QC}, 4) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY {_COS_QC} DESC, s.neighbor_id) AS BIGINT) AS rank
    FROM (SELECT s0.query_id, s0.qv, s0.neighbor_id,
                 CAST(e.embedding AS DOUBLE[]) AS cv
          FROM short s0 JOIN embeddings e ON e.vec_id = s0.neighbor_id) s
)""")
    body = ",\n".join(ctes)
    return (f"WITH {body}\n"
            f"SELECT query_id, neighbor_id, cosine, rank "
            f"FROM ranked WHERE rank <= {k}")


@query("ann_pq_topk",
       oracle=_pq_oracle(k=10, m=8, ks=16, iters=2, d=8, shortlist=40))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN for the same 5 queries: per-subspace
    L2 codebooks (8 subspaces x 16 centroids, 2 Lloyd rounds) encode
    the corpus to 8 bytes/vector, ADC ranks reconstructed vectors,
    and the top-40 shortlist re-ranks exactly. The deterministic
    build (md5 seeds, 1e-6 centroid grid, lowest-cluster ties) lets
    the DuckDB oracle replay the whole index and value-hash the
    result; recall vs brute force is additionally pinned in tests."""
    from ..operators.similarity import pq_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = pq_topk(emb, queries, "vec_id", "embedding",
                  k=10, m=8, ks=16, iters=2, dim=64, shortlist=40)
    return out.select("query_id", "neighbor_id",
                      rnd("cosine", 4).alias("cosine"), "rank")


def _knn_join_oracle(k: int, n_planes: int, tables: int,
                     dim: int, seed: int) -> str:
    """DuckDB replay of knn_join: identical literal hyperplanes and
    bucket bits; a single join whose predicate is the OR over tables
    emits each colliding pair exactly once — the same set the Spark
    side's first-colliding-table rule produces without a distinct."""
    bucket_cols = ",\n       ".join(
        f"{_bucket_sql(_hyperplanes(dim, n_planes, seed + 1000 * t))} AS b{t}"
        for t in range(tables))
    any_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(tables))
    return f"""
WITH b AS (
    SELECT vec_id, embedding,
       {bucket_cols}
    FROM embeddings
), cand AS (
    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
           c.vec_id AS neighbor_id, CAST(c.embedding AS DOUBLE[]) AS cv
    FROM b q JOIN b c
      ON c.vec_id <> q.vec_id AND ({any_match})
), ranked AS (
    SELECT query_id, neighbor_id,
           round({_COS_QC}, 4) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS_QC} DESC, neighbor_id) AS BIGINT) AS rank
    FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


@query("knn_join_graph",
       oracle=_knn_join_oracle(k=3, n_planes=6, tables=4, dim=64, seed=42))
def knn_join_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-NN graph over the WHOLE embeddings table — the
    all-pairs companion to the broadcast ANN entries, built for
    corpus-scale fan-out: per-table bucket self-joins (shuffle
    co-location, no broadcast, no distinct thanks to the
    first-colliding-table rule) + exact cosine re-rank. The seeded
    hyperplanes ship as literals to both engines, so the oracle
    replays the identical candidate set and the value hash matches."""
    from ..operators.similarity import knn_join

    from ..sources.registry import spread
    emb = spread(_t(spark, sf_dir, "embeddings"))
    out = knn_join(emb, "vec_id", "embedding",
                   k=3, n_planes=6, tables=4, dim=64, seed=42)
    return out.select("query_id", "neighbor_id",
                      rnd("cosine", 4).alias("cosine"), "rank")


@query("embedding_stats_by_dim", oracle="""
WITH v AS (
    SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
)
SELECT dim,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(x), 4) + 0.0 AS mean_x,
       round(stddev_pop(x), 4) AS std_x,
       round(min(x), 4) AS min_x,
       round(max(x), 4) AS max_x
FROM v GROUP BY dim
""")
def embedding_stats_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space QA data card: per-dimension count / mean /
    population std / min / max over the corpus — the drift /
    dead-dimension / normalization check run before any ANN index
    build. One posexplode + one 64-key combine (map-side partial agg
    means the shuffle carries |dims| rows per task regardless of
    corpus size)."""
    emb = _t(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (emb.select(F.posexplode("embedding").alias("dim", "x"))
            .groupBy("dim")
            .agg(F.count("*").alias("n"),
                 # + 0.0 folds IEEE -0.0 to +0.0 (a mean rounding to
                 # zero keeps its sign bit, and the engines disagree)
                 (rnd(F.avg(x), 4) + F.lit(0.0)).alias("mean_x"),
                 rnd(F.stddev_pop(x), 4).alias("std_x"),
                 rnd(F.min(x), 4).alias("min_x"),
                 rnd(F.max(x), 4).alias("max_x")))


@query("embedding_mean_pool", oracle="""
WITH v AS (
    SELECT vec_id // 4 AS grp, i - 1 AS dim,
           CAST(embedding[i] AS DOUBLE) AS x
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), m AS (
    SELECT grp, dim, avg(x) AS m FROM v GROUP BY grp, dim
), n AS (
    SELECT grp, sqrt(sum(m * m)) AS nrm FROM m GROUP BY grp
)
SELECT m.grp AS group_id, m.dim,
       round(m.m / n.nrm, 6) + 0.0 AS pooled
FROM m JOIN n ON m.grp = n.grp
""")
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling: vectors grouped 4-to-1
    (vec_id div 4), element-wise mean, L2-renormalized — exploded to
    (group, dim, value) rows so DuckDB value-verifies every pooled
    component. The operator's dim-keyed combine never materializes a
    group's vectors in one buffer."""
    from ..operators.embeddings import mean_pool
    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") / 4).cast("long").alias("grp"), "embedding")
    pooled = mean_pool(emb, "grp", "embedding")
    return (pooled.select(F.col("group").alias("group_id"),
                          F.posexplode("mean_vec").alias("dim", "p"))
            # + 0.0 folds IEEE -0.0 (a component rounding to zero
            # keeps its sign bit and the engines disagree on it)
            .select("group_id", "dim",
                    (rnd("p", 6) + F.lit(0.0)).alias("pooled")))


@query("embedding_covariance_dims", oracle="""
WITH v AS (
    SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
    FROM embeddings, unnest(range(1, 9)) AS u(i)
)
SELECT a.dim AS dim_i, b.dim AS dim_j,
       round(sum(a.x * b.x) / count(*)
             - (sum(a.x) / count(*)) * (sum(b.x) / count(*)), 6) + 0.0
           AS cov
FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY a.dim, b.dim
""")
def embedding_covariance_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance of the first 8 embedding dimensions (upper
    triangle, 36 cells) from raw moment sums — the SQL-verifiable
    window into the PCA pipeline (operators.embeddings.gram_matrix /
    pca_components compute the full dim x dim version in one
    distributed pass with O(dim^2) driver state). One scan, one
    1-row aggregate of 8 + 36 sums; the 36 output rows inline from
    the aggregated struct — no join, no explode of the fact table."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    xs = [F.element_at(v, i + 1) for i in range(8)]
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i}") for i in range(8)]
    aggs += [F.sum(xs[i] * xs[j]).alias(f"p{i}_{j}")
             for i in range(8) for j in range(i, 8)]
    agg = emb.agg(*aggs)
    n = F.col("n").cast("double")
    cells = [
        F.struct(F.lit(i).cast("long").alias("dim_i"),
                 F.lit(j).cast("long").alias("dim_j"),
                 (rnd(F.col(f"p{i}_{j}") / n
                      - (F.col(f"s{i}") / n) * (F.col(f"s{j}") / n), 6)
                  + F.lit(0.0)).alias("cov"))
        for i in range(8) for j in range(i, 8)
    ]
    return (agg.select(F.explode(F.array(*cells)).alias("c"))
            .select("c.dim_i", "c.dim_j", "c.cov"))


@query("contrastive_triplets", oracle="""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           (SELECT max(vec_id) + 1 FROM embeddings) AS n
    FROM embeddings
), anch AS (
    SELECT vec_id AS anchor_id, v AS av, n,
           list_transform(list_zip(v, range(0, len(v))),
                          p -> p[1] * (1 + 0.0002 * (p[2] % 5))) AS pv,
           CASE WHEN (vec_id * 7919 + 13) % n = vec_id
                THEN ((vec_id * 7919 + 13) % n + 1) % n
                ELSE (vec_id * 7919 + 13) % n END AS neg_id
    FROM base WHERE vec_id % 10 = 0
)
SELECT a.anchor_id, a.neg_id AS negative_id,
       round(list_dot_product(a.av, a.pv)
             / (sqrt(list_dot_product(a.av, a.av))
                * sqrt(list_dot_product(a.pv, a.pv))), 4) AS cos_pos,
       round(list_dot_product(a.av, b.v)
             / (sqrt(list_dot_product(a.av, a.av))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_neg
FROM anch a JOIN base b ON b.vec_id = a.neg_id
""")
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet export: every 10th vector
    anchors a triplet with its planted near-duplicate as the
    POSITIVE (the shared perturbation idiom) and a deterministic
    pseudo-random corpus vector as the NEGATIVE (modular-arithmetic
    draw — no RNG, identical across engines/partitionings; collision
    with the anchor steps to the next id). Emits both cosines so the
    margin distribution is inspectable. At scale: positives come
    from the dedup pair stream, negatives from hash arithmetic — the
    negative join is id-keyed, never a scan."""
    from ..functions.vectors import cosine_similarity
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nmax = emb.agg((F.max("vec_id") + 1).alias("n"))
    base = emb.select("vec_id", v.alias("v")).crossJoin(F.broadcast(nmax))
    raw_neg = (F.col("vec_id") * 7919 + 13) % F.col("n")
    neg_id = F.when(raw_neg == F.col("vec_id"),
                    (raw_neg + 1) % F.col("n")).otherwise(raw_neg)
    anch = (base.where(F.col("vec_id") % 10 == 0)
            .select(F.col("vec_id").alias("anchor_id"),
                    F.col("v").alias("av"),
                    F.transform("v", lambda x, i: x * (
                        F.lit(1.0) + F.lit(0.0002) * (i % 5)))
                    .alias("pv"),
                    neg_id.alias("neg_id")))
    negs = base.select(F.col("vec_id").alias("neg_id"),
                       F.col("v").alias("nv"))
    return (anch.join(negs, "neg_id")
            .select("anchor_id",
                    F.col("neg_id").alias("negative_id"),
                    rnd(cosine_similarity(F.col("av"), F.col("pv")), 4)
                    .alias("cos_pos"),
                    rnd(cosine_similarity(F.col("av"), F.col("nv")), 4)
                    .alias("cos_neg")))


def _cluster_sep_oracle(n_clusters: int, iters: int) -> str:
    """k-means CTE chain + per-vector own/other centroid cosines,
    aggregated per cluster."""
    ctes, final_cents = _kmeans_sql(n_clusters, iters)
    body = ",\n".join(ctes)
    return f"""WITH {body},
sims AS (
    SELECT a.vec_id, a.cluster AS own,
           c.cluster AS cand,
           list_dot_product(a.v, c.cv)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(c.cv, c.cv))) AS sim
    FROM af a CROSS JOIN {final_cents} c
), per_vec AS (
    SELECT vec_id, own,
           max(CASE WHEN cand = own THEN sim END) AS sim_own,
           max(CASE WHEN cand <> own THEN sim END) AS sim_other
    FROM sims GROUP BY vec_id, own
)
SELECT own AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(sim_own), 6) AS mean_sim_own,
       round(avg(sim_other), 6) AS mean_sim_other,
       round(avg(sim_own - sim_other), 6) AS mean_margin
FROM per_vec GROUP BY own
"""


@query("cluster_separation_report",
       oracle=_cluster_sep_oracle(n_clusters=16, iters=2))
def cluster_separation_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Clustering-quality audit for the IVF coarse quantizer: per
    cluster, the mean cosine of members to their OWN centroid vs
    their best OTHER centroid, and the margin — the silhouette-class
    check that tells you whether the k-means cells the ANN/SemDeDup
    paths trust actually separate (margin ~0 means probes must rise
    or cells must merge). Reuses the deterministic index build, so
    the oracle replays the identical Lloyd rounds; the similarity
    pass is one scan against the broadcast KB-sized centroid set."""
    from ..operators.similarity import _assign_clusters, _kmeans_centroids
    emb = _t(spark, sf_dir, "embeddings")
    cents = _kmeans_centroids(emb, "vec_id", "embedding",
                              n_clusters=16, iters=2, dim=64)
    if not cents:  # empty corpus: no cells to audit
        return spark.createDataFrame(
            [], "cluster int, n_vectors long, mean_sim_own double, "
                "mean_sim_other double, mean_margin double")
    tagged = _assign_clusters(emb, "vec_id", "embedding", cents)
    cent_col = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    from ..functions.vectors import cosine_similarity
    sims = F.transform(cent_col,
                       lambda c: cosine_similarity(F.col("v"), c))
    own = F.element_at(sims, F.col("cluster") + 1)
    other = F.array_max(F.transform(
        sims, lambda s, i: F.when(i != F.col("cluster"), s)))
    per_vec = tagged.select(F.col("cluster").alias("own"),
                            own.alias("sim_own"),
                            other.alias("sim_other"))
    return (per_vec.groupBy(F.col("own").alias("cluster"))
            .agg(F.count("*").cast("long").alias("n_vectors"),
                 rnd(F.avg("sim_own"), 6).alias("mean_sim_own"),
                 rnd(F.avg("sim_other"), 6).alias("mean_sim_other"),
                 rnd(F.avg(F.col("sim_own") - F.col("sim_other")), 6)
                 .alias("mean_margin")))


@query("embedding_domain_drift", oracle="""
WITH v AS (
    SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
    FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), g AS (
    SELECT CASE WHEN GROUPING(label) = 0 THEN CAST(label AS VARCHAR)
                ELSE '__corpus__' END AS grp,
           dim, sum(x) AS s, count(*) AS c
    FROM v GROUP BY GROUPING SETS ((label, dim), (dim))
), nrm AS (
    SELECT grp, sqrt(sum(s * s)) AS nrm, max(c) AS n_vecs
    FROM g GROUP BY grp
)
SELECT l.grp AS label,
       CAST(ln.n_vecs AS BIGINT) AS n_vecs,
       round(sum(l.s * c.s) / (ln.nrm * cn.nrm), 4) + 0.0
           AS cos_to_corpus
FROM g l
JOIN g c ON c.grp = '__corpus__' AND c.dim = l.dim
JOIN nrm ln ON ln.grp = l.grp
JOIN nrm cn ON cn.grp = '__corpus__'
WHERE l.grp <> '__corpus__'
GROUP BY 1, ln.n_vecs, ln.nrm, cn.nrm
""")
def embedding_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space domain drift: cosine between each label's
    centroid and the corpus centroid — the modality the numeric
    PSI/KS monitors can't see (a source whose embeddings rotate away
    from the corpus signals topic or pipeline drift even when scalar
    stats hold). Cosine is scale-invariant, so centroids stay as
    per-dim SUMS (no division until the final cosine — fewer
    float-order hazards). Scale: ONE fact-table scan via GROUPING
    SETS ((label,dim),(dim)); everything downstream operates on
    #labels x dim rows."""
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
         .alias("dim", "x"))
    g = (v.groupingSets([["label", "dim"], ["dim"]], "label", "dim")
         .agg(F.grouping("label").alias("gl"),
              F.sum("x").alias("s"),
              F.count(F.lit(1)).alias("c"))
         .select(
             F.when(F.col("gl") == 0, F.col("label").cast("string"))
              .otherwise(F.lit("__corpus__")).alias("grp"),
             "dim", "s", "c"))
    nrm = g.groupBy("grp").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"),
        F.max("c").alias("n_vecs"))
    lab = g.where(F.col("grp") != "__corpus__")
    cor = (g.where(F.col("grp") == "__corpus__")
           .select(F.col("dim").alias("cdim"), F.col("s").alias("cs")))
    cn = (nrm.where(F.col("grp") == "__corpus__")
          .select(F.col("nrm").alias("cnrm")))
    ln = nrm.where(F.col("grp") != "__corpus__").select(
        F.col("grp").alias("ngrp"), "nrm", "n_vecs")
    return (lab.join(cor, lab["dim"] == cor["cdim"])
            .join(F.broadcast(cn))
            .join(ln, lab["grp"] == ln["ngrp"])
            .groupBy(lab["grp"].alias("label"), "n_vecs", "nrm", "cnrm")
            .agg(F.sum(F.col("s") * F.col("cs")).alias("dot"))
            .select("label",
                    F.col("n_vecs").cast("long").alias("n_vecs"),
                    (rnd(F.col("dot") / (F.col("nrm") * F.col("cnrm")),
                         4) + F.lit(0.0)).alias("cos_to_corpus")))


def _recall_oracle(k: int, n_planes: int, tables: int,
                   dim: int, seed: int) -> str:
    """Recall@k of the SRP-LSH index vs exact brute force, both
    replayed in full: the srp oracle's candidate+re-rank chain and
    the brute-force chain run as derived tables, then the hit sets
    join on (query, neighbor)."""
    srp = _srp_oracle(k, n_planes, tables, dim, seed)
    return f"""
WITH s AS (
    SELECT query_id, neighbor_id FROM ({srp})
), b AS (
    SELECT query_id, neighbor_id FROM (
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cos_raw
            FROM embeddings q
            JOIN embeddings c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    )
)
SELECT b.query_id AS query_id,
       CAST(count(s.neighbor_id) AS BIGINT) AS n_recalled,
       CAST({k} AS BIGINT) AS k,
       round(count(s.neighbor_id) / CAST({k} AS DOUBLE), 4)
           AS recall_at_k
FROM b LEFT JOIN s
  ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
GROUP BY b.query_id
"""


@query("ann_recall_report",
       oracle=_recall_oracle(k=10, n_planes=8, tables=4, dim=64,
                             seed=42))
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the SRP-LSH index against exact brute force,
    measured IN the engine — the index-quality scorecard an ANN
    deployment publishes before switching retrieval off the exact
    path. Both arms are the verified operators (srp_lsh_topk,
    brute_force_topk); recall = |LSH top-k ∩ exact top-k| / k per
    query. Everything is deterministic (seeded literal hyperplanes,
    tie-broken ranks), so the DuckDB oracle replays BOTH index
    builds and the join — a value-gated recall measurement, not a
    statistical one.

    Scale: the expensive arm is brute force, but the scorecard only
    needs a SAMPLE of queries (here the 5-query panel): cost is
    |panel| x corpus dot products, map-only over the corpus with the
    panel broadcast — the standard recall-audit shape at any corpus
    size; the LSH arm reuses the production index."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding",
                             k=10).select("query_id", "neighbor_id")
    approx = srp_lsh_topk(emb, queries, "vec_id", "embedding", k=10,
                          n_planes=8, tables=4, dim=64, seed=42
                          ).select("query_id", "neighbor_id")
    hit = approx.withColumn("hit", F.lit(1))
    return (exact
            .join(hit, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("hit").cast("long").alias("n_recalled"),
                 F.lit(10).cast("long").alias("k"),
                 rnd(F.count("hit") / F.lit(10.0), 4)
                 .alias("recall_at_k")))


@query("knn_graph_triangles", oracle=f"""
WITH knn AS ({_knn_join_oracle(k=3, n_planes=6, tables=4, dim=64,
                               seed=42)}),
e AS (
    SELECT DISTINCT least(query_id, neighbor_id) AS a,
                    greatest(query_id, neighbor_id) AS b
    FROM knn WHERE query_id <> neighbor_id
), deg AS (
    SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
    ) GROUP BY 1
), tri AS (
    SELECT count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
       CAST(min(tri.n_triangles) AS BIGINT) AS n_triangles,
       CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
       CASE WHEN sum(deg * (deg - 1) / 2) > 0
            THEN round(3.0 * min(tri.n_triangles)
                       / sum(deg * (deg - 1) / 2), 4)
            ELSE 0.0 END AS transitivity
FROM deg, tri
""")
def knn_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the approximate 3-NN graph
    (operators/graph.py:triangle_stats over the same literal-
    hyperplane kNN join as ``knn_join_graph``): vertex/edge counts,
    triangle count by degree-ordered orientation, wedge count, and
    the global clustering coefficient — the structural-cohesion
    audit run on similarity graphs before community detection or
    graph-based label propagation (a high transitivity means the
    near-dup neighborhoods are locally consistent rather than
    hash-collision noise). Oracle enumerates a<b<c triangles
    exhaustively; the Spark side must agree through the orientation
    algebra."""
    from ..operators.graph import triangle_stats
    from ..operators.similarity import knn_join
    from ..sources.registry import spread
    emb = spread(_t(spark, sf_dir, "embeddings"))
    knn = knn_join(emb, "vec_id", "embedding",
                   k=3, n_planes=6, tables=4, dim=64, seed=42)
    return triangle_stats(
        knn.where(F.col("query_id") != F.col("neighbor_id")),
        src="query_id", dst="neighbor_id")


@query("knn_label_propagation", oracle=f"""
WITH knn AS ({_knn_join_oracle(k=3, n_planes=6, tables=4, dim=64,
                               seed=42)}),
seed AS (
    SELECT vec_id, label FROM embeddings WHERE vec_id % 5 = 0
), r1v AS (
    SELECT k.query_id AS vec_id, s.label, count(*) AS c
    FROM knn k JOIN seed s ON s.vec_id = k.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM seed x WHERE x.vec_id = k.query_id)
    GROUP BY 1, 2
), r1 AS (
    SELECT vec_id, label FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, label) AS rn
        FROM r1v) WHERE rn = 1
), l1 AS (
    SELECT vec_id, label, 0 AS round_assigned FROM seed
    UNION ALL SELECT vec_id, label, 1 FROM r1
), r2v AS (
    SELECT k.query_id AS vec_id, l.label, count(*) AS c
    FROM knn k JOIN l1 l ON l.vec_id = k.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM l1 x WHERE x.vec_id = k.query_id)
    GROUP BY 1, 2
), r2 AS (
    SELECT vec_id, label FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, label) AS rn
        FROM r2v) WHERE rn = 1
), fin AS (
    SELECT * FROM l1 UNION ALL SELECT vec_id, label, 2 FROM r2
)
SELECT e.label AS true_label,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(CASE WHEN f.round_assigned = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seed,
       CAST(sum(CASE WHEN f.round_assigned > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_propagated,
       CAST(sum(CASE WHEN f.round_assigned > 0 AND f.label = e.label
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM embeddings e LEFT JOIN fin f ON f.vec_id = e.vec_id
GROUP BY 1
""")
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (operators/graph.py:
    label_propagation) over the approximate 3-NN graph: 20% of
    vectors keep their label (vec_id % 5 == 0), every other node
    takes the deterministic majority label of its labeled neighbors
    for two rounds — the kNN pseudo-labeling loop used to bootstrap
    classifiers from a small labeled pool. Report per TRUE label:
    nodes, seeds, propagated assignments, and how many propagated
    labels recovered the truth. The recovery rate IS the audit's
    answer to "can labels be bootstrapped from this geometry?" — on
    this synthetic corpus the labels are geometry-independent
    (1-NN label agreement ~= chance), and the report surfaces
    exactly that (~8% recovery at 10 labels), which is the signal
    that would stop a bad pseudo-labeling run before it trains.
    Every assignment is value-gated through the SQL replay of both
    rounds."""
    from ..operators.graph import label_propagation
    from ..operators.similarity import knn_join
    from ..sources.registry import materialize_auto, spread
    emb = spread(_t(spark, sf_dir, "embeddings"))
    knn = materialize_auto(knn_join(emb, "vec_id", "embedding", k=3,
                                    n_planes=6, tables=4, dim=64, seed=42))
    seeds = emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "label")
    fin = label_propagation(
        knn.select("query_id", "neighbor_id"), seeds, rounds=2)
    truth = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").alias("true_label"))
    j = truth.join(fin, "vec_id", "left")
    return (j.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum((F.col("round_assigned") == 0).cast("int")).cast("long")
        .alias("n_seed"),
        F.sum((F.col("round_assigned") > 0).cast("int")).cast("long")
        .alias("n_propagated"),
        F.sum(((F.col("round_assigned") > 0)
               & (F.col("label") == F.col("true_label"))).cast("int"))
        .cast("long").alias("n_correct")))


def _kcore_oracle(k: int, rounds: int) -> str:
    """Peel-profile replay. Every round CTE is AS MATERIALIZED:
    DuckDB re-inlines chained CTEs per reference, and each round
    references the previous ~3x, so an unmaterialized chain blows
    up 3^rounds."""
    parts = ["""e0 AS MATERIALIZED (
    SELECT DISTINCT least(query_id, neighbor_id) AS a,
                    greatest(query_id, neighbor_id) AS b
    FROM knn WHERE query_id <> neighbor_id
)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""k{i} AS MATERIALIZED (
    SELECT v FROM (
        SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM e{i - 1}
            UNION ALL SELECT b AS v FROM e{i - 1}
        ) GROUP BY 1
    ) WHERE d >= {k}
), e{i} AS MATERIALIZED (
    SELECT a, b FROM e{i - 1}
    WHERE a IN (SELECT v FROM k{i}) AND b IN (SELECT v FROM k{i})
)""")
    snaps = "\nUNION ALL\n".join(
        f"""SELECT CAST({i} AS BIGINT) AS round,
       (SELECT count(*) FROM (SELECT a AS v FROM e{i}
        UNION SELECT b FROM e{i})) AS n_vertices,
       (SELECT count(*) FROM e{i}) AS n_edges"""
        for i in range(rounds + 1))
    return ",\n".join(parts) + "\n" + snaps


@query("knn_kcore_peel_profile", oracle=f"""
WITH knn AS ({_knn_join_oracle(k=3, n_planes=6, tables=4, dim=64,
                               seed=42)}),
{_kcore_oracle(k=4, rounds=6)}
""")
def knn_kcore_peel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core peeling cascade over the approximate 3-NN graph
    (operators/graph.py:kcore_peel, 6 fixed supersteps): a 3-NN
    graph has min degree 3 by construction, so k=4 peeling strips
    the never-chosen-as-neighbor fringe first and the removal wave
    propagates — the per-round surviving vertex/edge counts ARE the
    degeneracy evidence (this graph collapses entirely: its
    degeneracy is 3). The oracle replays every peel round through
    materialized chained CTEs (re-inlining is exponential otherwise)
    and must match the whole trajectory, not just the fixpoint."""
    from ..operators.graph import kcore_peel
    from ..operators.similarity import knn_join
    from ..sources.registry import materialize_auto, spread
    emb = spread(_t(spark, sf_dir, "embeddings"))
    knn = materialize_auto(knn_join(emb, "vec_id", "embedding", k=3,
                                    n_planes=6, tables=4, dim=64, seed=42))
    return kcore_peel(
        knn.where(F.col("query_id") != F.col("neighbor_id")),
        k=4, rounds=6, src="query_id", dst="neighbor_id")


def _hard_negative_oracle(k: int, n_planes: int, tables: int,
                          dim: int, seed: int) -> str:
    bucket_cols = ",\n       ".join(
        f"{_bucket_sql(_hyperplanes(dim, n_planes, seed + 1000 * t))} AS b{t}"
        for t in range(tables))
    any_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(tables))
    return f"""
WITH b AS (
    SELECT vec_id, embedding, label,
       {bucket_cols}
    FROM embeddings
), cand AS (
    SELECT q.vec_id AS query_id, q.label AS anchor_label,
           CAST(q.embedding AS DOUBLE[]) AS qv,
           c.vec_id AS neighbor_id, c.label AS negative_label,
           CAST(c.embedding AS DOUBLE[]) AS cv
    FROM b q JOIN b c
      ON q.vec_id < 5 AND c.vec_id <> q.vec_id
     AND c.label <> q.label AND ({any_match})
), ranked AS (
    SELECT query_id, anchor_label, neighbor_id, negative_label,
           round({_COS_QC}, 4) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS_QC} DESC, neighbor_id) AS BIGINT) AS rank
    FROM cand
)
SELECT query_id, CAST(anchor_label AS BIGINT) AS anchor_label,
       neighbor_id, CAST(negative_label AS BIGINT) AS negative_label,
       cosine, rank
FROM ranked WHERE rank <= {k}
"""


@query("contrastive_hard_negatives",
       oracle=_hard_negative_oracle(k=2, n_planes=6, tables=4,
                                    dim=64, seed=42))
def contrastive_hard_negatives(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """HARD-negative mining for contrastive training (the step after
    ``contrastive_triplets``' random negatives): for each anchor,
    the most-similar vectors with a DIFFERENT label, found through
    the same SRP-LSH candidate generation as the ANN entries (bucket
    match in any table, exact cosine re-rank) with the label
    inequality pushed into the candidate join — negatives that are
    hard because they are close, which is what makes a contrastive
    batch informative (Robinson et al. 2021). Literal hyperplanes
    let the oracle replay the identical candidate set; top-2 per
    anchor. Scale: label filter applies BEFORE the re-rank, and the
    candidate fan-out is the LSH buckets', never all-pairs."""
    from ..operators.similarity import _bucket_expr
    from ..functions.vectors import cosine_similarity
    from pyspark.sql import Window as W
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cand = None
    for t in range(4):
        planes = _hyperplanes(64, 6, 42 + 1000 * t)
        q = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("label").alias("anchor_label"),
                           F.col("embedding").alias("qv"),
                           _bucket_expr(F.col("embedding"), planes)
                           .alias("bucket"))
        c = emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("label").alias("negative_label"),
                       F.col("embedding").alias("cv"),
                       _bucket_expr(F.col("embedding"), planes)
                       .alias("bucket"))
        pairs = (F.broadcast(q).join(c, "bucket")
                 .where((F.col("query_id") != F.col("neighbor_id"))
                        & (F.col("anchor_label")
                           != F.col("negative_label")))
                 .select("query_id", "anchor_label", "qv",
                         "neighbor_id", "negative_label", "cv"))
        cand = pairs if cand is None else cand.unionAll(pairs)
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"),
                                          "neighbor_id")
    return (cand
            .withColumn("cosine",
                        cosine_similarity(F.col("qv"), F.col("cv")))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 2)
            .select("query_id",
                    F.col("anchor_label").cast("long")
                    .alias("anchor_label"),
                    "neighbor_id",
                    F.col("negative_label").cast("long")
                    .alias("negative_label"),
                    rnd("cosine", 4).alias("cosine"), "rank"))


def _outlier_oracle(k: int, quantile: float, n_planes: int,
                    tables: int, dim: int, seed: int) -> str:
    """DuckDB replay of knn_distance_outliers: the literal-hyperplane
    kNN graph, per-query farthest-retained-neighbor distance rounded
    to 4dp (identical quantization on the Spark side — round_dp=4 —
    so both engines threshold the SAME score multiset), bucket
    orphans at the 1.0 sentinel, exact interpolated quantile."""
    bucket_cols = ",\n       ".join(
        f"{_bucket_sql(_hyperplanes(dim, n_planes, seed + 1000 * t))} AS b{t}"
        for t in range(tables))
    any_match = " OR ".join(f"q.b{t} = c.b{t}" for t in range(tables))
    return f"""
WITH b AS (
    SELECT vec_id, embedding,
       {bucket_cols}
    FROM embeddings
), cand AS (
    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv,
           c.vec_id AS neighbor_id, CAST(c.embedding AS DOUBLE[]) AS cv
    FROM b q JOIN b c
      ON c.vec_id <> q.vec_id AND ({any_match})
), ranked AS (
    SELECT query_id, {_COS_QC} AS cos,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_COS_QC} DESC, neighbor_id) AS rank
    FROM cand
), kth AS (
    SELECT query_id AS vec_id,
           round(1.0 - min(cos), 4) AS knn_distance
    FROM ranked WHERE rank <= {k} GROUP BY query_id
), scored AS (
    SELECT e.vec_id, coalesce(t.knn_distance, 1.0) AS knn_distance
    FROM embeddings e LEFT JOIN kth t USING (vec_id)
), thr AS (
    SELECT quantile_cont(knn_distance, {quantile}) AS thr FROM scored
)
SELECT s.vec_id, s.knn_distance, s.knn_distance >= t.thr AS is_outlier
FROM scored s, thr t
"""


@query("knn_distance_outliers",
       oracle=_outlier_oracle(k=3, quantile=0.9, n_planes=6, tables=4,
                              dim=64, seed=42))
def knn_distance_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen (operators/similarity.py:
    knn_distance_outliers): score = 1 - cosine(v, farthest retained
    neighbor) on the literal-hyperplane 3-NN graph, sparse buckets
    keep their real distance, zero-collision orphans take the 1.0
    sentinel, flag = exact interpolated 0.9-quantile threshold over
    4dp-quantized scores (exact=True + round_dp=4 — the oracle-replay
    mode; production defaults to the mergeable percentile_approx
    sketch with raw scores, no single-reducer corpus buffer). The
    quantile's interpolation fraction is interior (q*(n-1) is never
    integral at any test SF), so the threshold never lands ON a score
    value and the flag boolean is ULP-robust across engines. Scale:
    inherits knn_join's O(sum bucket^2) bound; everything downstream
    of the graph is id-keyed — vectors never re-shuffle."""
    from ..operators.similarity import knn_distance_outliers
    from ..sources.registry import spread
    emb = spread(_t(spark, sf_dir, "embeddings"))
    out = knn_distance_outliers(emb, "vec_id", "embedding", k=3,
                                quantile=0.9, n_planes=6, tables=4,
                                dim=64, seed=42, exact=True, round_dp=4)
    return out.select(F.col("id").cast("long").alias("vec_id"),
                      "knn_distance", "is_outlier")


@query("ann_margin_scores", oracle=f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
    FROM embeddings
), a AS (SELECT vec_id, v FROM e WHERE label < 5),
b AS (SELECT vec_id, v FROM e WHERE label >= 5),
ab_scored AS (
    SELECT q.vec_id AS src_id, c.vec_id AS tgt_id,
           q.v AS qv, c.v AS cv
    FROM a q CROSS JOIN b c
), ab_ranked AS (
    SELECT src_id, tgt_id, {_COS_QC} AS cos_raw,
           row_number() OVER (
               PARTITION BY src_id
               ORDER BY {_COS_QC} DESC, tgt_id) AS rk
    FROM ab_scored
), ab_knn AS (SELECT * FROM ab_ranked WHERE rk <= 4),
a_avg AS (
    SELECT src_id, avg(cos_raw) AS a_avg FROM ab_knn GROUP BY src_id
), ba_scored AS (
    SELECT q.vec_id AS tgt_id, c.vec_id AS src_nb,
           q.v AS qv, c.v AS cv
    FROM b q CROSS JOIN a c
), ba_ranked AS (
    SELECT tgt_id, src_nb, {_COS_QC} AS cos_raw,
           row_number() OVER (
               PARTITION BY tgt_id
               ORDER BY {_COS_QC} DESC, src_nb) AS rk
    FROM ba_scored
), b_avg AS (
    SELECT tgt_id, avg(cos_raw) AS b_avg
    FROM ba_ranked WHERE rk <= 4 GROUP BY tgt_id
), margins AS (
    SELECT k.src_id, k.tgt_id, k.cos_raw,
           k.cos_raw / ((av.a_avg + bv.b_avg) / 2) AS margin_raw
    FROM ab_knn k
    JOIN a_avg av USING (src_id)
    JOIN b_avg bv USING (tgt_id)
)
SELECT src_id, tgt_id,
       round(cos_raw, 4) AS cosine,
       round(margin_raw, 4) AS margin,
       CAST(row_number() OVER (
           ORDER BY margin_raw DESC, src_id, tgt_id) AS BIGINT) AS rank
FROM margins
ORDER BY rank
LIMIT 20
""")
def ann_margin_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based candidate pair mining between two corpus
    partitions (labels 0-4 vs 5-9) — the ratio-margin miner of
    Artetxe & Schwenk (ACL 2019) used for bitext / cross-source
    near-pair harvesting: each left->right 4-NN candidate's cosine is
    normalized by the mean cosine of BOTH endpoints' 4-NN
    neighborhoods, which suppresses hub vectors that are close to
    everything. Top-20 pairs by margin (operators/similarity.py:
    margin_topk). Scale: two broadcast-query k-NN scans (LSH/IVF
    variants swap in when neither side broadcasts), k-row aggregates,
    and a TakeOrderedAndProject top-m — no global sort."""
    from ..operators.similarity import margin_topk
    emb = _t(spark, sf_dir, "embeddings")
    left = emb.where(F.col("label") < 5)
    right = emb.where(F.col("label") >= 5)
    out = margin_topk(left, right, "vec_id", "embedding", k=4, m=20)
    return out.select("src_id", "tgt_id",
                      rnd("cosine", 4).alias("cosine"),
                      rnd("margin", 4).alias("margin"), "rank")


def _two_arm_sql(k: int, n_planes: int, tables: int,
                 dim: int, seed: int) -> str:
    """Shared CTE prefix for the two-arm (SRP-LSH vs exact) eval
    oracles: ``s`` = the LSH chain with ranks, ``b`` = the exact
    brute-force chain with ranks, both over the 5-query panel."""
    srp = _srp_oracle(k, n_planes, tables, dim, seed)
    return f"""
WITH s AS (
    SELECT query_id, neighbor_id, rank FROM ({srp})
), b AS (
    SELECT query_id, neighbor_id, rank FROM (
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cos_raw
            FROM embeddings q
            JOIN embeddings c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_raw DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    )
)"""


@query("ann_rrf_fusion", oracle=f"""
{_two_arm_sql(k=10, n_planes=8, tables=4, dim=64, seed=42)},
fused AS (
    SELECT coalesce(s.query_id, b.query_id) AS query_id,
           coalesce(s.neighbor_id, b.neighbor_id) AS neighbor_id,
           coalesce(1.0 / (60 + s.rank), 0)
           + coalesce(1.0 / (60 + b.rank), 0) AS score_raw
    FROM s FULL OUTER JOIN b
      ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
)
SELECT query_id, neighbor_id,
       round(score_raw, 6) AS rrf_score,
       CAST(fused_rank AS BIGINT) AS fused_rank
FROM (
    SELECT query_id, neighbor_id, score_raw,
           row_number() OVER (
               PARTITION BY query_id
               ORDER BY score_raw DESC, neighbor_id) AS fused_rank
    FROM fused
)
WHERE fused_rank <= 10
""")
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) of the SRP-LSH index's top-10 with the exact brute-force
    top-10 for the 5-query panel: rrf(d) = sum over rankings of
    1/(60 + rank_r(d)) — the standard zero-tuning way to combine
    heterogeneous retrieval arms (sparse+dense, ANN+exact) that
    outperforms either arm on hybrid benchmarks. Both arms are the
    verified operators; the fusion is a FULL OUTER join on
    (query, neighbor) so docs found by only one arm still score.

    Scale: each arm's candidate set is <= k rows per query, so the
    fusion join and the fused re-rank window run over <= 2k rows per
    query — bounded partitions at any corpus size; the arms
    themselves carry the documented retrieval-path costs."""
    from ..operators.similarity import brute_force_topk, srp_lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    lsh = srp_lsh_topk(emb, queries, "vec_id", "embedding", k=10,
                       n_planes=8, tables=4, dim=64, seed=42)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=10)
    fused = (lsh.select("query_id", "neighbor_id",
                        F.col("rank").alias("s_rank"))
             .join(exact.select("query_id", "neighbor_id",
                                F.col("rank").alias("b_rank")),
                   ["query_id", "neighbor_id"], "full_outer")
             .withColumn(
                 "score_raw",
                 F.coalesce(F.lit(1.0) / (60 + F.col("s_rank")),
                            F.lit(0.0))
                 + F.coalesce(F.lit(1.0) / (60 + F.col("b_rank")),
                              F.lit(0.0))))
    w = W.partitionBy("query_id").orderBy(F.desc("score_raw"),
                                          "neighbor_id")
    return (fused
            .withColumn("fused_rank",
                        F.row_number().over(w).cast("long"))
            .where(F.col("fused_rank") <= 10)
            .select("query_id", "neighbor_id",
                    rnd("score_raw", 6).alias("rrf_score"),
                    "fused_rank"))


@query("ann_map_report", oracle=f"""
{_two_arm_sql(k=10, n_planes=8, tables=4, dim=64, seed=42)},
judged AS (
    SELECT s.query_id, s.rank,
           CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
    FROM s LEFT JOIN b
      ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
), cum AS (
    SELECT query_id, rank, rel,
           sum(rel) OVER (PARTITION BY query_id ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_hits
    FROM judged
)
SELECT query_id,
       CAST(sum(rel) AS BIGINT) AS n_hits,
       CAST(10 AS BIGINT) AS k,
       round(sum(CASE WHEN rel = 1
                      THEN CAST(cum_hits AS DOUBLE) / rank
                      ELSE 0 END) / 10, 4) AS ap_at_k
FROM cum GROUP BY query_id
""")
def ann_map_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Precision @ 10 of the SRP-LSH index against the exact
    top-10 as the relevance set, per panel query — the rank-aware
    companion to ann_recall_report (recall ignores WHERE in the list
    the hits land; AP = mean of precision@i over hit positions
    rewards putting true neighbors early). Deliberately AP rather
    than nDCG: every term is rational (cum_hits/rank), so both
    engines compute identical values with no transcendental-function
    ULP risk in the hash compare.

    Scale: the per-query window runs over <= k rows; the exact arm is
    the sampled-panel audit cost, identical to ann_recall_report."""
    from ..operators.similarity import brute_force_topk, srp_lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    lsh = srp_lsh_topk(emb, queries, "vec_id", "embedding", k=10,
                       n_planes=8, tables=4, dim=64, seed=42)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=10)
    judged = (lsh.select("query_id", "neighbor_id", "rank")
              .join(exact.select("query_id", "neighbor_id",
                                 F.lit(1).alias("rel")),
                    ["query_id", "neighbor_id"], "left")
              .withColumn("rel", F.coalesce("rel", F.lit(0))))
    w = (W.partitionBy("query_id").orderBy("rank")
         .rowsBetween(W.unboundedPreceding, 0))
    cum = judged.withColumn("cum_hits", F.sum("rel").over(w))
    return (cum.groupBy("query_id")
            .agg(F.sum("rel").cast("long").alias("n_hits"),
                 F.lit(10).cast("long").alias("k"),
                 rnd(F.sum(F.when(
                     F.col("rel") == 1,
                     F.col("cum_hits").cast("double") / F.col("rank"))
                     .otherwise(F.lit(0.0))) / 10, 4).alias("ap_at_k")))
