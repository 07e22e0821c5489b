"""Deduplication operators for training-data pipelines.

Five families, all pure DataFrame compositions (no Python UDFs):

- exact:      md5(canonical text) -> groupBy fingerprint
- n-gram Jaccard: shingle -> inverted-index self-join -> set overlap
- MinHash+LSH: md5-string minhash signatures -> banding -> bucket join
- SimHash:    per-token hash bits -> signed bit-sum -> fingerprint
- embedding:  cosine over array<float> (brute-force verify path;
              LSH bucketing for the candidate path at scale)

Hashing uses md5 (identical across engines) rather than Spark's
xxhash64 so every stage is DuckDB-oracle-comparable. A min over md5
hex strings is a valid uniform minhash (lexicographic order over a
uniform 128-bit space).

Scale design (100 TB corpus):
- The shingle inverted index is the only big shuffle; hot shingles
  (appearing in >`max_shingle_freq` docs) are dropped before the
  self-join — the standard stopword-shingle cut that prevents a
  quadratic blowup on boilerplate.
- MinHash/LSH replaces the all-pairs join with |bands| bucket joins;
  candidate verification re-computes true Jaccard only on pairs that
  collide in >=1 band.
- Everything keys on (shingle) or (band, bucket) — uniform by
  construction, AQE skew-join as the backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, tokens
from ..functions.vectors import cosine_similarity
from ..sources.registry import materialize_auto, spread


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on canonical text: every row annotated with its
    fingerprint, cluster representative (min id) and duplicate flag.

    One shuffle on the fingerprint; the window avoids a second join.
    """
    from pyspark.sql import Window as W
    fp = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    w = W.partitionBy("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("cluster_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("cluster_id"))
    )


def span_dedup(df: DataFrame, id_col: str, text_col: str,
               span_words: int = 10) -> DataFrame:
    """C4-style span-level corpus dedup (Raffel et al. 2020 §2.2 —
    C4 removes any three-sentence span occurring more than once in
    the corpus, keeping one occurrence). Sentences here are
    deterministic fixed-width token windows (``span_words`` each,
    trailing partial included) so both engines segment identically.

    Per document: total spans, spans kept after global first-
    occurrence-wins (ordered by (doc_id, span_idx)), and the md5 of
    the cleaned text reassembled from surviving spans in order — a
    compact content proof that the SAME spans survived in both
    engines.

    Scale (the honest C4 cost structure): segmenting is scan-local
    (sequence + slice, no shuffle); global dedup is ONE shuffle of
    the span stream keyed on the span fingerprint (window min, no
    join-back); reassembly is ONE groupBy on doc_id. Span
    fingerprints are uniform md5 — no hot keys beyond true
    boilerplate, which is exactly what AQE skew handling is for.
    """
    from pyspark.sql import Window as W
    # r14: tokenize ONCE into a projected column. The transform
    # lambda's body closes over the token array, and an interpreted
    # higher-order function re-evaluates non-lambda subexpressions of
    # its body PER ELEMENT — inlined, every span re-tokenized the
    # whole document (O(tokens x spans) per row).
    toked = spread(df).select(F.col(id_col).alias("id"),
                              tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)),
                        F.lit(span_words))
    spans = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s, span_words), " "))
    seg = (toked
           .select("id",
                   F.posexplode(spans).alias("span_idx", "span"))
           .withColumn("fp", F.md5("span")))
    first = F.min(F.struct("id", "span_idx")).over(W.partitionBy("fp"))
    kept = seg.withColumn(
        "keep", F.struct("id", "span_idx") == first)
    return (kept.groupBy("id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("keep"), F.struct("span_idx", "span")))),
                lambda s: s["span"]),
            " ")).alias("clean_fp")))


def shingle_array_from_tokens(toks: Column, n: int = 3) -> Column:
    """``shingle_array`` over an ALREADY-TOKENIZED array column.

    Pass an attribute (a projected token column), not an inline
    tokenization chain: this tree references ``toks`` n+2 times and
    contains lambda functions, which exempts it from codegen
    subexpression elimination — with an inline chain every reference
    re-tokenizes the row (r14 measured; see ``shingles``)."""
    # Build shingles by zipping n shifted views of the token array
    # (n fixed-cost slices per row) instead of one slice per shingle
    # position — ~2x faster, and dedupe inside the row
    # (array_distinct) BEFORE exploding: per-doc set semantics with
    # ZERO shuffle, vs. a |shingles|-row distinct.
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    shifted = [F.slice(toks, i + 1, width).alias(f"t{i}") for i in range(n)]
    sh = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]))
    return F.when(
        F.size(toks) >= n,
        F.filter(F.array_distinct(sh), lambda x: F.length(x) > 0)
    ).otherwise(F.array().cast("array<string>"))


def shingle_array(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle ARRAY of a text column — the
    in-row (pre-explode) form, also usable for map-only shingle-set
    sizes via ``F.size`` (no explode, no shuffle). Empty for docs
    shorter than n tokens (the oracle's empty position range).

    NB: inlines the tokenization chain n+2 times (width, n shifted
    slices, the length gate) and the tree's lambdas keep it out of
    codegen subexpression elimination — when the caller controls the
    DataFrame, prefer projecting ``tokens(...)`` first and calling
    ``shingle_array_from_tokens`` on the attribute (what
    ``shingles`` does).
    """
    return shingle_array_from_tokens(
        F.split(normalize_text(text_col), " "), n)


def shingles(df: DataFrame, id_col: str, text_col: str,
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built as sequence+transform over the token array, then explode —
    stays in codegen until the explode. Docs shorter than n tokens
    emit NO shingles (matching the SQL oracle, whose position range
    is empty for them) — without that gate arrays_zip pads the short
    slice with nulls and concat_ws silently drops them, emitting a
    truncated pseudo-shingle.

    r14 layered projection (guide §4 per-row work): the token array
    materializes as its own projection column below the shingle
    build. Inlined, the tokenization chain (split·trim·
    regexp_replace·lower) is referenced n+2 times per row and the
    shingle tree's lambda functions exempt it from codegen
    subexpression elimination — at n=13 (decontamination) that was
    15 tokenizations per row. CollapseProject keeps the layering
    (non-cheap alias referenced more than once).
    """
    df = spread(df)
    toked = df.select(F.col(id_col).alias("id"),
                      F.split(normalize_text(F.col(text_col)), " ")
                      .alias("__toks"))
    return (
        toked.select("id",
                     F.explode(shingle_array_from_tokens(F.col("__toks"), n))
                     .alias("shingle"))
    )


def jaccard_pairs(sh: DataFrame, threshold: float = 0.8,
                  max_shingle_freq: int | None = 1000) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via inverted-index
    self-join on the shingle. Input: (id, shingle) distinct.

    Output: (id_a, id_b, common, size_a, size_b, jaccard), id_a < id_b.

    The filtered shingle set feeds FOUR subtrees (sizes + both join
    sides, recomputed 4x otherwise), so it is shared once through
    ``materialize_auto``.
    """
    if max_shingle_freq is not None:
        hot = (sh.groupBy("shingle").count()
               .where(F.col("count") > max_shingle_freq).select("shingle"))
        sh = sh.join(hot, "shingle", "left_anti")
    sh = materialize_auto(sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("size"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("common"))
    )
    return (
        common
        .join(sizes.withColumnsRenamed({"id": "id_a", "size": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "size": "size_b"}), "id_b")
        .withColumn("jaccard",
                    F.col("common")
                    / (F.col("size_a") + F.col("size_b") - F.col("common")))
        .where(F.col("jaccard") >= threshold)
    )


_MH_PRIME = 2147483647  # 2^31 - 1


def _mh_coeffs(i: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for seed ``i``:
    a odd in [1, 2^30), b in [0, 2^29) — a*x fits int64 for x < 2^32,
    so both engines evaluate the family exactly."""
    a = 2 * ((1103515245 * (i + 1) + 12345) % 536870912) + 1
    b = (69069 * (i + 1) + 1) % 536870912
    return a, b


def minhash_signatures(sh: DataFrame, num_hashes: int = 16,
                       carry_shingles: bool = False) -> DataFrame:
    """Wide MinHash signatures: (id, mh0 .. mh{k-1}).

    One md5 per shingle supplies 32 uniform bits x =
    int(md5[0:8], 16); hash i is the universal family
    (a_i * x + b_i) mod (2^31 - 1) with deterministic odd a_i —
    k mins cost k integer FMAs instead of k md5 evaluations
    (16x less hashing than the md5-per-seed formulation; measured
    ~2x on the minhash query at sf0.1). Exact int64 arithmetic, so
    the DuckDB oracle reproduces it bit-for-bit.

    All k mins compute as k aggregate expressions in ONE groupBy(id):
    the shuffle carries |shingles| rows once, not k times. The
    shingle-set size rides along as a free extra aggregate so Jaccard
    verification needs no second pass over the shingles; with
    ``carry_shingles`` the set itself rides along too (same shuffled
    bytes, packed as one array per doc), letting candidate
    verification run as array_intersect over two tiny per-doc joins
    instead of re-joining the exploded shingle table twice."""
    x = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    aggs = []
    for i in range(num_hashes):
        a, b = _mh_coeffs(i)
        aggs.append(F.min((F.lit(a) * x + F.lit(b)) % F.lit(_MH_PRIME))
                    .alias(f"mh{i}"))
    aggs.append(F.count("*").alias("size"))
    if carry_shingles:
        # input shingles are already distinct per doc (shingles()
        # dedupes in-row), so collect_list IS the set
        aggs.append(F.collect_list("shingle").alias("shingles"))
    return sh.groupBy("id").agg(*aggs)


def lsh_band_buckets(signatures: DataFrame, bands: int = 4,
                     num_hashes: int = 16) -> DataFrame:
    """(id, band, bucket): band b takes signature columns
    {mh_i : i % bands == b} in ascending i, bucket = md5 of their
    concatenation. The band buckets unpivot through an Expand node
    (one pass over the signature table)."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[
                F.col(f"mh{i}") for i in range(num_hashes) if i % bands == b
            ])).alias("bucket"))
        for b in range(bands)
    ]
    return (signatures
            .select("id", F.explode(F.array(*band_cols)).alias("bb"))
            .select("id", "bb.band", "bb.bucket"))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4,
                        num_hashes: int = 16) -> DataFrame:
    """LSH banding over wide signatures: docs sharing any
    (band, bucket) become candidates.

    Output: distinct (id_a, id_b), id_a < id_b. Each bucket join
    is tiny at scale (docs per bucket ~ true near-dupes only)."""
    banded = lsh_band_buckets(signatures, bands, num_hashes)
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def incremental_minhash_dedup(batch: DataFrame, id_col: str, text_col: str,
                              store_sigs: DataFrame,
                              num_hashes: int = 16, bands: int = 4,
                              shingle_n: int = 3,
                              threshold: float = 0.7,
                              verify: str = "exact") -> DataFrame:
    """Fuzzy incremental dedup: screen a NEW batch of docs against a
    persisted MinHash signature STORE (the fuzzy sibling of
    ``incremental_duplicates``, which is exact-fingerprint only) —
    the shape of a crawl pipeline that must reject near-duplicates of
    an already-accepted corpus without rescanning it.

    ``store_sigs`` is the output of ``minhash_signatures(...,
    carry_shingles=True)`` over the accepted corpus — signatures for
    candidate generation plus the shingle sets for exact-Jaccard
    verification, so the store alone suffices (no re-read of
    accepted text). Batch docs shingle+sign here.

    Output: one row per batch doc —
    (id, best_match_id, best_jaccard, is_duplicate) with the highest-
    Jaccard store match >= threshold (ties: lowest store id), or
    NULL/false when the batch doc collides with nothing.

    Scale: the batch is ingest-sized, the store corpus-sized; banding
    joins key on (band, bucket) so the store-side stream is touched
    once, and verification runs only on colliding pairs. The store
    update is a trivial unionByName of accepted batch signatures —
    append-only, no rewrite of existing store rows.

    ``verify="exact"`` (default) computes true Jaccard from the
    shingle sets the store carries; ``verify="signature"`` estimates
    Jaccard as the fraction of agreeing minhash components — the
    store then needs ONLY the signature columns (~128 bytes/doc
    instead of KB-scale shingle arrays), the layout a web-scale
    store actually persists. The estimate is unbiased with stddev
    ~= sqrt(J(1-J)/num_hashes); raise num_hashes when the threshold
    must cut finely.
    """
    from pyspark.sql import Window as W
    sh = shingles(batch, id_col, text_col, n=shingle_n)
    bsig = minhash_signatures(sh, num_hashes=num_hashes,
                              carry_shingles=True)
    bb = lsh_band_buckets(bsig, bands, num_hashes).withColumnsRenamed(
        {"id": "bid"})
    sb = lsh_band_buckets(store_sigs, bands, num_hashes).withColumnsRenamed(
        {"id": "sid"})
    cand = (bb.join(sb, ["band", "bucket"])
            .select("bid", "sid").distinct())
    if verify == "signature":
        mh = [f"mh{i}" for i in range(num_hashes)]
        bside = bsig.select(F.col("id").alias("bid"),
                            *[F.col(c).alias(f"b_{c}") for c in mh])
        sside = store_sigs.select(F.col("id").alias("sid"),
                                  *[F.col(c).alias(f"s_{c}") for c in mh])
        agree = sum((F.col(f"b_{c}") == F.col(f"s_{c}")).cast("int")
                    for c in mh)
        verified = (
            cand.join(bside, "bid").join(sside, "sid")
            .withColumn("jaccard", agree / F.lit(float(num_hashes)))
            .where(F.col("jaccard") >= threshold)
        )
    elif verify == "exact":
        bside = bsig.select(F.col("id").alias("bid"),
                            F.col("shingles").alias("bsh"),
                            F.col("size").alias("bsz"))
        sside = store_sigs.select(F.col("id").alias("sid"),
                                  F.col("shingles").alias("ssh"),
                                  F.col("size").alias("ssz"))
        verified = (
            cand.join(bside, "bid").join(sside, "sid")
            .withColumn("common", F.size(F.array_intersect("bsh", "ssh")))
            .withColumn("jaccard", F.col("common")
                        / (F.col("bsz") + F.col("ssz") - F.col("common")))
            .where(F.col("jaccard") >= threshold)
        )
    else:
        raise ValueError(f"verify must be 'exact' or 'signature', got {verify!r}")
    w = W.partitionBy("bid").orderBy(F.desc("jaccard"), "sid")
    best = (verified.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .select(F.col("bid").alias("id"),
                    F.col("sid").alias("best_match_id"),
                    F.col("jaccard").alias("best_jaccard")))
    return (batch.select(F.col(id_col).alias("id"))
            .join(best, "id", "left")
            .withColumn("is_duplicate",
                        F.col("best_match_id").isNotNull()))


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 16) -> DataFrame:
    """SimHash fingerprint per document: (id, simhash).

    Per token, bit j comes from hex digit j//4 of md5(token); the
    signed per-bit sums over all tokens (frequency-weighted) give the
    fingerprint. Pure arithmetic (position-in-hex-alphabet, divide,
    mod) so the oracle can reproduce it without bit intrinsics.

    One explode + one groupBy(id) shuffle; bits are accumulated as
    ``bits`` conditional sums in a single aggregate."""
    assert bits <= 32, "md5 prefix supplies 32 hex digits = 128 bits"
    toks = F.split(normalize_text(F.col(text_col)), " ")
    t = (spread(df).select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
           .where(F.length("tok") > 0)
           .withColumn("hex", F.md5(F.col("tok"))))
    aggs = []
    for j in range(bits):
        nibble = (F.instr(F.lit("0123456789abcdef"),
                          F.substring("hex", j // 4 + 1, 1)) - 1)
        bit = F.floor(nibble / (2 ** (3 - j % 4))) % 2
        aggs.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = t.groupBy("id").agg(*aggs)
    fingerprint = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0,
                      F.lit(2 ** (bits - 1 - j))).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("id", fingerprint.cast("long").alias("simhash"))


_PAIR_SCHEMA = "id_a long, id_b long, cosine double"


def _gemm_pairs(a_ids, a_mat, b_ids, b_mat, threshold, same_block):
    """Thresholded cosine pairs between two normalized blocks.

    Runs executor-side inside applyInPandas; one BLAS gemm per block
    pair (vectorized float64 — identical formula to the expression
    path, ~50x faster than per-pair expression folds at 5k vectors).
    """
    import numpy as np
    import pandas as pd
    sims = a_mat @ b_mat.T
    hit_a, hit_b = np.where(sims >= threshold)
    ia, ib, cs = a_ids[hit_a], b_ids[hit_b], sims[hit_a, hit_b]
    if same_block:
        keep = ia < ib
        ia, ib, cs = ia[keep], ib[keep], cs[keep]
    else:
        ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
    return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cs})


def _norm_block(pdf, id_name="id", vec_name="v"):
    import numpy as np
    ids = pdf[id_name].to_numpy(dtype=np.int64)
    mat = np.stack(pdf[vec_name].to_numpy()).astype(np.float64)
    return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)


def embedding_near_duplicates(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.9,
                              method: str = "blocked",
                              blocks: int = 8,
                              n_planes: int = 8, tables: int = 8,
                              dim: int = 64, seed: int = 42,
                              tag_partitions: int | None = None,
                              max_bucket_gemm: int = 4096) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, cosine >= threshold).

    ``blocked`` (default): EXACT all-pairs via a distributed block
    matrix multiply — rows hash into ``blocks`` blocks; block pair
    (i, j), i <= j, meets in one cogroup (side A replicates each row
    to keys (block, j >= block), side B to (i <= block, block)), and
    each cogroup runs one gemm in applyInPandas. Fully distributed:
    NOTHING is collected to the driver and no task holds more than
    two blocks. Shuffle volume is O(n * blocks/2) rows; size
    ``blocks`` so one block matrix fits executor memory (at 100 TB,
    blocks ~ corpus_bytes / 1 GB). Exact all-pairs is O(n^2) compute
    by definition — use it to verify, or at thresholds too loose for
    LSH (this corpus' query runs at 0.45 where SRP collision
    probability is ~3%/table, unusable).

    ``lsh``: the sub-quadratic scale path for true near-dup
    thresholds (>= ~0.8): SRP-LSH sign-bit bucketing (deterministic
    seeded hyperplanes, expression-level — see operators/similarity)
    across ``tables`` independent tables, then one gemm per (table,
    bucket) group scores only co-bucketed candidates. Probabilistic
    recall, pinned by a planted-dupe pytest; compute is
    O(sum bucket^2) << O(n^2).

    ``tag_partitions``: optional coalesce width for the Python tag
    stage. The tag gemm is memcpy-cheap, so its cost is per-task
    Arrow fixed overhead (~15 ms); when the input arrives in
    micro-partitions (a cached KB-sized table, a heavily filtered
    scan), coalescing to ~corpus_bytes / 32 MB halves the stage.
    None inherits the scan partitioning — right on a real cluster
    where parquet splits are already block-sized.

    ``max_bucket_gemm``: tile width for the LSH scoring gemm — any
    (table, bucket) segment larger than this runs as upper-triangle
    sub-block gemms inside the same numpy pass, so one degenerate hot
    bucket cannot allocate O(bucket^2) floats in a single task (peak
    per-tile memory = cap^2 * 8 bytes; results identical to the
    untiled pass, pinned by pytest).

    ``pairs``: pure-DataFrame crossJoin with expression-level cosine;
    the reference formulation used by the oracle and property tests.
    """
    if method == "pairs":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        return (
            a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cosine_similarity(F.col("va"), F.col("vb")))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    if method == "lsh":
        import numpy as np

        from .similarity import _hyperplanes

        if max_bucket_gemm < 1:
            # a non-positive cap would make the tile walk silently
            # emit nothing (range step <= 0), not error
            raise ValueError("max_bucket_gemm must be >= 1")

        # One gemm pass per PARTITION, not per bucket: with t tables x
        # 2^n_planes buckets the per-group Arrow/pandas overhead of an
        # applyInPandas dominates (measured 8s for 2048 near-empty
        # buckets at sf0.1); repartitioning on (tbl, bucket) then
        # grouping INSIDE one mapInArrow batch amortizes it to one
        # vectorized pass per partition. Partition memory is bounded by
        # the shuffle partition count; a pathological hot bucket
        # (thousands of mutually-near-identical vectors) still
        # concentrates in one task, but its gemm is TILED at
        # max_bucket_gemm rows so peak memory and each matmul stay
        # bounded (see the cap comment in part_gemm).
        #
        # Vectors cross every Python<->JVM boundary as BINARY (raw
        # float64 bytes), not array<double>: an Arrow binary column is
        # one contiguous data buffer + offsets, decoded with a single
        # zero-copy frombuffer (the nested-list form materialized one
        # ndarray per row, ~0.16s per 17k rows, measured). The shuffle
        # also carries each vector ONCE (tables replicate ids + bucket
        # codes JVM-side via posexplode, not the payload rows 8x
        # through Arrow).
        def part_gemm(batches):
            # One vectorized pass per partition: decode every vector
            # once, sort rows by (tbl, bucket), walk the segment
            # boundaries with pure numpy slices (a pandas groupby +
            # per-group frame here costs ~0.5ms x thousands of mostly
            # tiny buckets), emit ONE result frame per partition.
            #
            # First-colliding-table rule: a pair co-bucketed in k > 1
            # tables would surface k times; each row carries its full
            # per-table code vector, so table t emits a pair ONLY when
            # no table t' < t also collides. Global exactly-once
            # emission with zero cross-partition coordination — the
            # output needs no distinct/dropDuplicates exchange at all.
            #
            # r14: mapInArrow, not mapInPandas — the pandas bridge
            # materialized one bytes object per row for the binary
            # vector column (then b"".join re-copied them) and one
            # list per row for the codes column. An Arrow binary
            # column is ONE data buffer + an offsets array, so the
            # (n, dim) matrix is a single zero-copy frombuffer +
            # reshape (guide §4.2); codes flatten the same way.
            # Contract violations fail LOUDLY (r14 ADVICE): NULL
            # vectors would silently vanish from flatten()'s child
            # buffer and misalign every later row, and mixed dims
            # cannot feed a fixed-dim gemm — the tag stage never
            # produces either, so both are raises, not fallbacks.
            import pyarrow as pa
            bs = [b for b in batches if b.num_rows]
            if not bs:
                return
            tb = pa.Table.from_batches(bs).combine_chunks()
            n = tb.num_rows
            ids = tb.column("id").to_numpy().astype(np.int64, copy=False)
            varr = tb.column("v").chunk(0)
            carr = tb.column("codes").chunk(0)
            if varr.null_count or carr.null_count:
                raise ValueError(
                    "part_gemm: NULL vector/codes rows are out of "
                    "contract (flatten() would silently drop them and "
                    "misalign the matrix)")
            off = np.frombuffer(varr.buffers()[1], dtype=np.int32)[
                varr.offset:varr.offset + n + 1]
            widths = np.diff(off)
            if widths.size and (widths != widths[0]).any():
                raise ValueError(
                    "part_gemm: mixed vector dims in one bucket — the "
                    "tag stage emits fixed-width vectors")
            data = np.frombuffer(varr.buffers()[2], dtype=np.uint8)
            mat = data[off[0]:off[-1]].view(np.float64).reshape(n, -1)
            # the division allocates the writable normalized copy
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            codes = np.asarray(carr.flatten()).reshape(n, -1)
            tbls = tb.column("tbl").to_numpy().astype(np.int64, copy=False)
            key = (tbls << n_planes) + tb.column("bucket").to_numpy(
                ).astype(np.int64, copy=False)
            order = np.argsort(key, kind="stable")
            key_s, ids_s, mat_s = key[order], ids[order], mat[order]
            codes_s, tbls_s = codes[order], tbls[order]
            bounds = np.flatnonzero(
                np.r_[True, key_s[1:] != key_s[:-1], True])
            out = []
            for s, e in zip(bounds[:-1], bounds[1:]):
                if e - s < 2:
                    continue
                t = tbls_s[s]
                # Hot-bucket cap (r13 verdict #2): a degenerate corpus
                # (thousands of mutually-near-identical vectors) lands
                # one giant segment here; an uncapped (b, b) gemm
                # would allocate O(b^2) floats in one task. Tile the
                # segment into <= max_bucket_gemm row blocks and run
                # the upper-triangle block pairs, bounding per-task
                # peak memory at cap^2 * 8 bytes regardless of bucket
                # shape. A within-cap segment takes exactly one
                # (diagonal) tile — the common path is the same single
                # gemm as before. Diagonal tiles dedup the symmetric
                # matrix via id_a < id_b as before; an off-diagonal
                # tile sees each unordered pair exactly once, so it
                # keeps every hit and orients by min/max id. The
                # first-colliding-table `fresh` filter and the cosine
                # value are orientation-symmetric, unchanged.
                starts = range(s, e, max_bucket_gemm)
                blocks = [(b0, min(b0 + max_bucket_gemm, e))
                          for b0 in starts]
                seg = codes_s[:, :t] if t > 0 else None
                for bi, (a0, a1) in enumerate(blocks):
                    for b0, b1 in blocks[bi:]:
                        sims = mat_s[a0:a1] @ mat_s[b0:b1].T
                        ia, ib = np.where(sims >= threshold)
                        ga, gb = a0 + ia, b0 + ib
                        keep = (ids_s[ga] < ids_s[gb]) if a0 == b0 \
                            else (ids_s[ga] != ids_s[gb])
                        ia, ib = ia[keep], ib[keep]
                        ga, gb = ga[keep], gb[keep]
                        if seg is not None and len(ga):
                            fresh = ~(seg[ga] == seg[gb]).any(axis=1)
                            ia, ib = ia[fresh], ib[fresh]
                            ga, gb = ga[fresh], gb[fresh]
                        if len(ga):
                            out.append((np.minimum(ids_s[ga], ids_s[gb]),
                                        np.maximum(ids_s[ga], ids_s[gb]),
                                        sims[ia, ib]))
            if out:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate([o[0] for o in out]),
                              type=pa.int64()),
                     pa.array(np.concatenate([o[1] for o in out]),
                              type=pa.int64()),
                     pa.array(np.concatenate([o[2] for o in out]),
                              type=pa.float64())],
                    ["id_a", "id_b", "cosine"])

        # Bucket tagging happens in the SAME Arrow/numpy world as the
        # scoring, not as column expressions: the expression form
        # (tables x n_planes x dim literal-array folds) builds a
        # ~30k-node tree that costs seconds of driver-side analysis
        # per run — a pure plan-bookkeeping tax. One mapInArrow pass
        # computes ALL tables' sign bits per batch with a single
        # (n, dim) @ (dim, tables*n_planes) gemm, emitting ONE row per
        # vector (bucket codes as an array); the per-table replication
        # happens JVM-side with posexplode so the Arrow boundary and
        # the corpus scan stay 1x.
        planes_all = np.concatenate(
            [np.asarray(_hyperplanes(dim, n_planes, seed + 1000 * t),
                        dtype=np.float64)
             for t in range(tables)])  # (tables*n_planes, dim)

        powers = 1 << np.arange(n_planes, dtype=np.int64)

        def tag(batches):
            # r14: mapInArrow — the incoming list<double> column is
            # one contiguous child buffer, so the (n, dim) matrix is
            # a single zero-copy flatten + reshape (the pandas bridge
            # built one ndarray per row); the outgoing binary column
            # is the same matrix bytes re-sliced by a computed
            # offsets array, and the codes list column the same —
            # no per-row Python objects in either direction
            # (guide §4.2). Measured 0.274 s -> 0.225 s on the full
            # dedup_embedding_lsh entry at sf0.1 together with the
            # part_gemm twin (BASELINE.md r14 log).
            import pyarrow as pa
            for b in batches:
                n = b.num_rows
                if not n:
                    continue
                if b.column("v").null_count:
                    raise ValueError(
                        "tag: NULL vectors are out of contract "
                        "(flatten() would silently drop them and "
                        "misalign every later row)")
                mat = np.asarray(b.column("v").flatten(),
                                 dtype=np.float64).reshape(n, -1)
                bits = (mat @ planes_all.T >= 0).reshape(
                    n, tables, n_planes)
                codes = bits @ powers  # (n, tables) int bucket numbers
                offs = np.arange(n + 1, dtype=np.int32) * (
                    mat.shape[1] * 8)
                vb = pa.BinaryArray.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(offs.tobytes()),
                     pa.py_buffer(mat.tobytes())])
                coffs = pa.array(
                    np.arange(n + 1, dtype=np.int32) * tables)
                codes_arr = pa.ListArray.from_arrays(
                    coffs, pa.array(codes.reshape(-1), type=pa.int64()))
                yield pa.RecordBatch.from_arrays(
                    [b.column("id"), vb, codes_arr],
                    ["id", "v", "codes"])

        tag_src = (base.coalesce(tag_partitions)
                   if tag_partitions else base)
        tagged = (tag_src.mapInArrow(
                      tag, "id long, v binary, codes array<long>")
                  .select("id", "v", "codes",
                          F.posexplode("codes").alias("tbl", "bucket")))
        return (tagged.repartition("tbl", "bucket")
                .mapInArrow(part_gemm, _PAIR_SCHEMA))

    if method != "blocked":
        raise ValueError(f"unknown method {method!r}")

    def block_gemm(key, left, right):
        import pandas as pd
        if not len(left) or not len(right):
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")})
        a_ids, a_mat = _norm_block(left)
        b_ids, b_mat = _norm_block(right, "rid", "rv")
        return _gemm_pairs(a_ids, a_mat, b_ids, b_mat, threshold,
                           same_block=int(key[0]) == int(key[1]))

    side_a = (base
              .withColumn("i", F.pmod(F.xxhash64("id"),
                                      F.lit(blocks)).cast("int"))
              .withColumn("j", F.explode(F.sequence(F.col("i"),
                                                    F.lit(blocks - 1)))))
    # The right side must carry distinct column names: a self-cogroup
    # over the same attributes gets its non-key columns pruned by the
    # analyzer's duplicate-attribute resolution.
    side_b = (base.select(F.col("id").alias("rid"), F.col("v").alias("rv"))
              .withColumn("j", F.pmod(F.xxhash64("rid"),
                                      F.lit(blocks)).cast("int"))
              .withColumn("i", F.explode(F.sequence(F.lit(0), F.col("j")))))
    return (side_a.groupBy("i", "j").cogroup(side_b.groupBy("i", "j"))
            .applyInPandas(block_gemm, _PAIR_SCHEMA))


def semantic_duplicates(df: DataFrame, id_col: str, vec_col: str,
                        n_clusters: int = 8, threshold: float = 0.95,
                        iters: int = 2, dim: int = 64,
                        keep: str = "centroid") -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then search for
    near-duplicate pairs ONLY within each cluster — the pairwise
    cost drops from O(n^2) to O(sum cluster_size^2), which is the
    whole trick that made semantic dedup tractable at web scale.

    Build: the IVF coarse quantizer's deterministic k-means
    (seeds = smallest md5(id), quantized centroids — engine-portable,
    see operators/similarity._kmeans_centroids) assigns every vector
    a cluster. One shuffle on `cluster` co-locates each cluster in a
    single task; a per-partition numpy segment walk runs one gemm per
    cluster and emits thresholded pairs WITH both members' rounded
    centroid similarity, so the keep-policy needs no extra join
    against the corpus.

    Keep policy (who of a near-dup pair is the duplicate):
    - ``centroid`` (paper-faithful): the member CLOSER to its
      centroid loses — SemDeDup keeps low-centroid-similarity
      examples to preserve diversity. Similarities are quantized to
      1e-6 before comparing so Spark and a SQL oracle take the same
      branch; exact ties fall back to keeping the smaller id.
    - ``min_id``: the larger id loses — the simplest deterministic
      survivorship, matching exact_duplicates' convention.

    The duplicate relation is the paper's pairwise rule (a row is a
    duplicate iff it loses ANY pair), not a transitive closure —
    chain the output into operators/graph.connected_components when
    cluster-level survivorship is needed.

    Scale notes (100 TB): n_clusters bounds the quadratic term —
    size it so the biggest cluster's gemm fits one task (paper uses
    ~100k clusters for billions of docs). The cluster shuffle moves
    each vector once; pair output is tiny relative to the corpus. A
    pathological giant cluster should be sub-blocked with the
    `blocked` method's cogroup — documented upgrade path.

    Output: (id_col, cluster_id, is_duplicate, dup_of) — dup_of is
    the smallest winning counterpart among lost pairs, NULL for
    keepers.
    """
    import numpy as np

    from .similarity import _assign_clusters, _kmeans_centroids

    if keep not in ("centroid", "min_id"):
        raise ValueError(f"unknown keep policy {keep!r}")

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = _kmeans_centroids(base, "id", "v", n_clusters, iters, dim)
    tagged = _assign_clusters(base, "id", "v", cents)
    cmat = np.array(cents, dtype=np.float64)

    def part_pairs(batches):
        import pandas as pd
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cl = pdf["cluster"].to_numpy(dtype=np.int64)
        csim = np.round(np.einsum("ij,ij->i", mat, cmat[cl]), 6)
        order = np.argsort(cl, kind="stable")
        cl_s, ids_s = cl[order], ids[order]
        mat_s, sim_s = mat[order], csim[order]
        bounds = np.flatnonzero(np.r_[True, cl_s[1:] != cl_s[:-1], True])
        out = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s < 2:
                continue
            p = _gemm_pairs(ids_s[s:e], mat_s[s:e], ids_s[s:e], mat_s[s:e],
                            threshold, same_block=True)
            if not len(p):
                continue
            sim_of = dict(zip(ids_s[s:e].tolist(), sim_s[s:e].tolist()))
            out.append(p.assign(sim_a=p["id_a"].map(sim_of),
                                sim_b=p["id_b"].map(sim_of)))
        out = [o for o in out if len(o)]
        if out:
            yield pd.concat(out, ignore_index=True)

    pairs = (tagged.repartition("cluster")
             .mapInPandas(part_pairs, _PAIR_SCHEMA
                          + ", sim_a double, sim_b double"))

    if keep == "min_id":
        loser, winner = F.col("id_b"), F.col("id_a")
    else:
        loser = (F.when(F.col("sim_a") > F.col("sim_b"), F.col("id_a"))
                 .when(F.col("sim_b") > F.col("sim_a"), F.col("id_b"))
                 .otherwise(F.greatest("id_a", "id_b")))
        winner = (F.when(F.col("sim_a") > F.col("sim_b"), F.col("id_b"))
                  .when(F.col("sim_b") > F.col("sim_a"), F.col("id_a"))
                  .otherwise(F.least("id_a", "id_b")))

    dup = (pairs.select(loser.alias("id"), winner.alias("kept"))
           .groupBy("id").agg(F.min("kept").alias("dup_of")))
    return (tagged.select("id", "cluster")
            .join(dup, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.col("cluster").cast("int").alias("cluster_id"),
                    F.col("dup_of").isNotNull().alias("is_duplicate"),
                    F.col("dup_of")))


def fingerprint_store(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Historical fingerprint store for incremental dedup:
    (fingerprint, first_id) — one row per distinct canonical text,
    keeping the smallest id ever seen. At 100 TB this is the ONLY
    state the ingestion pipeline carries between snapshots: ~50 bytes
    per distinct document, never the text itself. Write it bucketed
    on `fingerprint` (sources/sinks.write_bucketed) so every future
    batch joins shuffle-free on the store side."""
    return (df.select(
                F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
                F.col(id_col).alias("first_id"))
            .groupBy("fingerprint")
            .agg(F.min("first_id").alias("first_id")))


def incremental_duplicates(batch: DataFrame, store: DataFrame,
                           id_col: str, text_col: str) -> DataFrame:
    """Cross-snapshot incremental dedup: annotate a new batch against
    the history ``store`` (from :func:`fingerprint_store`).

    Every batch row gets (id_col, fingerprint, status, dup_of):
    - ``history_dup``: fingerprint already in the store; dup_of = the
      store's first_id. History takes precedence — ALL batch rows
      with a seen fingerprint are history dups.
    - ``batch_dup``: fingerprint is new to history but another batch
      row with a smaller id shares it; dup_of = that keeper.
    - ``new``: the surviving representative (dup_of NULL).

    One shuffle on fingerprint: the left join against the store and
    the within-batch keeper window share the same partitioning, so
    Spark plans a single exchange for the batch side. At 100 TB the
    batch carries only (id, fingerprint) into the shuffle — text
    never moves — and a fingerprint-bucketed store makes its side
    exchange-free. Feed `new` rows back via fingerprint_store +
    union to advance the snapshot (idempotent: re-running the same
    batch then yields 100% history_dup)."""
    from pyspark.sql import Window as W

    b = batch.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("fingerprint"))
    w = W.partitionBy("fingerprint")
    return (
        b.join(store, "fingerprint", "left")
        .withColumn("keeper", F.min("id").over(w))
        .select(
            F.col("id").alias(id_col),
            "fingerprint",
            F.when(F.col("first_id").isNotNull(), F.lit("history_dup"))
             .when(F.col("id") != F.col("keeper"), F.lit("batch_dup"))
             .otherwise(F.lit("new")).alias("status"),
            F.when(F.col("first_id").isNotNull(), F.col("first_id"))
             .when(F.col("id") != F.col("keeper"), F.col("keeper"))
             .alias("dup_of"))
    )


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 4, w: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every word k-gram, slide a window of ``w``
    consecutive gram hashes, and keep each window's minimum (rightmost
    position on ties). Output: (id, pos, fp) — the selected
    fingerprints, distinct per position.

    Guarantee: any verbatim match of >= t = w + k - 1 tokens between
    two documents shares at least one SELECTED fingerprint, while the
    expected density of selected grams is 2/(w+1) — the
    guarantee-bearing alternative to fixed-stride anchor sampling
    (``quality.decontaminate_substring`` uses strides because its
    second stage re-derives exact runs; winnowed sets are the right
    store when the fingerprints themselves are the index, e.g. a
    corpus-wide near-dup candidate table).

    Shape (r14, guide §2.4 — remove shuffles outright): winnowing is
    a PER-DOCUMENT computation, so the whole selection runs in-row —
    gram hashes, the encoded order key, the w-wide sliding minimum
    (``array_min`` over w-slices of the encoded array, O(n*w) tiny
    long comparisons per doc) and the distinct all happen inside one
    projection, and only the SELECTED fingerprints (density 2/(w+1))
    ever explode. ZERO exchanges — the pre-r14 plan exploded every
    gram position (~n_tokens rows/doc) through an (id)-keyed window
    shuffle plus a distinct shuffle. The rightmost-min tie-break is
    encoded arithmetically (ord = h * 2^20 + (2^20 - 1 - pos),
    minimized over the forward w-frame) so any engine replays the
    exact selection; docs are capped at 2^20 grams per id for the
    encoding (raise the shift for longer docs). Each stage is its own
    layered projection — interpreted higher-order functions re-
    evaluate non-lambda body subexpressions per element, so the
    hash/encode/slide stages must reference attributes, not inlined
    chains.
    """
    from ..sources.registry import spread
    from .quality import normalize_text
    if w < 1:
        raise ValueError("w must be >= 1")
    toked = spread(df).select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__toks"))
    toks = F.col("__toks")
    width = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    shifted = [F.slice(toks, i + 1, width).alias(f"t{i}") for i in range(k)]
    sh = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(k)]))
    g1 = toked.select("id", F.when(F.size(toks) >= k, sh).otherwise(
        F.array().cast("array<string>")).alias("__grams"))
    # 32-bit md5-derived hash per gram, then the encoded order key
    g2 = g1.select("id", F.transform(
        "__grams",
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10)
        .cast("long")).alias("__h"))
    g3 = g2.select("id", F.transform(
        "__h",
        lambda x, i: x * F.lit(1 << 20) + (F.lit((1 << 20) - 1) - i))
        .alias("__enc"))
    n = F.size("__enc")
    wins = F.when(n >= w, F.transform(
        F.sequence(F.lit(0), n - w),
        lambda s: F.array_min(F.slice("__enc", s + 1, w)))).otherwise(
        F.array().cast("array<long>"))
    g4 = g3.select("id", F.array_distinct(wins).alias("__sel"))
    # explode_OUTER + post-Generate null filter, NOT explode: from a
    # plain explode the optimizer infers `size(__sel) > 0 AND
    # isnotnull(__sel)` (InferFiltersFromGenerate) and predicate
    # pushdown then substitutes that filter through every layered
    # projection — inlining the whole gram/hash/encode/slide pipeline
    # into one Filter tree where the slide lambda re-derives the
    # chain PER WINDOW ELEMENT, below the spread() exchange, on one
    # task (measured: 13 s vs 0.3 s at sf0.01). The outer explode
    # infers nothing; empty docs emit one NULL row each, dropped by a
    # filter on the generator OUTPUT attribute, which cannot be
    # pushed below the Generate.
    return (g4.select("id", F.explode_outer("__sel").alias("__m"))
            .where(F.col("__m").isNotNull())
            .select("id",
                    (F.lit((1 << 20) - 1) - F.col("__m") % F.lit(1 << 20))
                    .alias("pos"),
                    (F.col("__m") / F.lit(1 << 20)).cast("long").alias("h")))


def positional_word_kgram_hashes(df: DataFrame, id_col: str, text_col: str,
                                 k: int) -> DataFrame:
    """(id, pos, h): 32-bit md5-derived hash of every word k-gram with
    its 0-based position (non-distinct) — the numeric sibling of
    ``quality.positional_kgrams``."""
    from .quality import positional_kgrams
    g = positional_kgrams(df, id_col, text_col, k)
    return g.select(
        "id", "pos",
        F.conv(F.substring("fp", 1, 8), 16, 10).cast("long").alias("h"))


def containment_pairs(sh: DataFrame, threshold: float = 0.9,
                      **kwargs) -> DataFrame:
    """All-pairs shingle CONTAINMENT >= threshold:
    common / min(size_a, size_b) — the asymmetric companion to
    ``jaccard_pairs`` (Broder's containment): a short document
    embedded verbatim in a long one has containment ~1.0 while its
    Jaccard can be arbitrarily small, so symmetric dedup misses it.
    Same inverted-index plumbing and hot-shingle knob."""
    pairs = jaccard_pairs(sh, threshold=0.0, **kwargs)
    cont = F.col("common") / F.least("size_a", "size_b")
    return (pairs.withColumn("containment", cont)
            .where(F.col("containment") >= threshold))


def prefix_filter_pairs(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (Chaudhuri, Ganti &
    Kaushik 2006; Bayardo, Ma & Srikant 2007 "AllPairs"; Xiao et al.
    2008 "PPJoin") — the third candidate-generation family in the
    dedup ladder, alongside the full inverted index
    (``jaccard_pairs``) and MinHash LSH banding:

    Under ANY common global ordering of the element universe, two
    sets with Jaccard >= t must share an element within each set's
    first ``|s| - ceil(t*|s|) + 1`` elements (else the overlap is
    too small even if every remaining element matches). So only that
    PREFIX is indexed — ordered rarest-first, so the indexed tokens
    are the least likely to collide — and the join fans out on a
    small, low-frequency slice instead of every posting. A length
    filter (``t*|a| <= |b| <= |a|/t``) prunes candidates before the
    exact-overlap verify; the verify makes the output EXACTLY the
    threshold join, same rows the exhaustive method yields.

    Input: (id, shingle) distinct. Output: (id_a, id_b, common,
    size_a, size_b, jaccard), id_a < id_b, jaccard >= threshold.

    Plan (100 TB): frequency table = one map-side-combinable groupBy
    joined back token-keyed; per-set ordering is one window by id;
    the candidate self-join touches only prefix rows (here ~half the
    postings at t=0.5, and the RAREST half, which is what actually
    bounds the join fan-out); the verify carries each candidate's
    two shingle SETS as arrays (two keyed joins against the
    collect_list'd sets, one array_intersect per pair — the same
    verify shape as the MinHash-LSH entry) instead of re-exploding
    postings, so its cost is |candidates|, not
    |candidates| x set_size. The shingle frame feeds three subtrees
    (frequencies, prefix index, set arrays) and is materialized once
    through ``materialize_auto``. No quadratic stage, no broadcast of
    the corpus.
    """
    from pyspark.sql import Window as W

    sh = materialize_auto(sh)

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(freq, "shingle")
    pos = ranked.select(
        "id", "shingle",
        F.row_number().over(W.partitionBy("id").orderBy("df", "shingle"))
        .alias("pos"),
        F.count(F.lit(1)).over(W.partitionBy("id")).alias("sz"))
    prefix = pos.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    a = prefix.select(F.col("id").alias("id_a"), "shingle",
                      F.col("pos").alias("pos_a"),
                      F.col("sz").alias("size_a"))
    b = prefix.select(F.col("id").alias("id_b"), "shingle",
                      F.col("pos").alias("pos_b"),
                      F.col("sz").alias("size_b"))
    # PPJoin positional filter: an occurrence at (pos_a, pos_b) can
    # contribute at most 1 + min(size_a - pos_a, size_b - pos_b)
    # total overlap, which must reach alpha = ceil(t/(1+t) *
    # (size_a + size_b)) for J >= t. Necessary-condition-only (the
    # epsilon guards the float ceil from over-pruning an exact
    # integer boundary); the exact verify below makes the output
    # independent of how hard these filters prune.
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("size_a") + F.col("size_b")) - F.lit(1e-9))
    cand = (a.join(b, "shingle")
            .where((F.col("id_a") < F.col("id_b"))
                   & (F.col("size_b") >= F.ceil(F.lit(threshold) * F.col("size_a")))
                   & (F.col("size_a") >= F.ceil(F.lit(threshold) * F.col("size_b")))
                   & (1 + F.least(F.col("size_a") - F.col("pos_a"),
                                  F.col("size_b") - F.col("pos_b"))
                      >= alpha))
            .select("id_a", "id_b", "size_a", "size_b").distinct())
    sets_ = sh.groupBy("id").agg(F.collect_list("shingle").alias("s"))
    common = (cand
              .join(sets_.select(F.col("id").alias("id_a"),
                                 F.col("s").alias("sa")), "id_a")
              .join(sets_.select(F.col("id").alias("id_b"),
                                 F.col("s").alias("sb")), "id_b")
              .select("id_a", "id_b", "size_a", "size_b",
                      F.size(F.array_intersect("sa", "sb"))
                      .cast("long").alias("common")))
    jac = F.col("common") / (F.col("size_a") + F.col("size_b")
                             - F.col("common"))
    return (common.withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "common", "size_a", "size_b",
                    "jaccard"))
