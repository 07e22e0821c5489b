"""Corpus-level data-selection operators for LM training pipelines.

Two selection signals the reference has no analogue for (SURVEY.md
§2.C scope: training-data pipeline operators):

- ``importance_resample_dsir`` — DSIR (Xie et al. 2023,
  arXiv:2302.03169): rank raw documents by how target-like their
  hashed-bigram distribution is. The importance log-weight of a doc
  is sum over its bigram instances of
  ``ln p_target(bucket) - ln p_raw(bucket)`` with add-1 smoothing
  over ``n_buckets`` hash buckets; the top-k by weight are the
  selected training subset.

- ``unigram_logprob_scores`` — CCNet-style perplexity-proxy quality
  signal (Wenzek et al. 2020, arXiv:1911.00359 use a wiki LM; the
  engine-internal stand-in is the corpus's own unigram LM): per-doc
  mean token log-probability under the corpus unigram distribution.
  Degenerate/rare-token documents score low; boilerplate scores
  high.

Shape notes (100 TB): everything is expressions + keyed aggregates.
DSIR's distribution table is ``n_buckets`` rows — broadcast to score;
the per-doc pass is one (id, bucket) combine. The unigram LM is NOT
broadcast (web-scale vocab can be 1e8+ rows): docs join the count
table via a token-keyed shuffle with map-side combine, the standard
big-big co-partitioned join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.registry import materialize_auto, spread
from .quality import _grams


def _md5_bucket(col: Column, m: int) -> Column:
    """First-8-hex-chars of md5 as an integer, mod m — the engine's
    standard cross-engine hash (DuckDB replays it as
    ``('0x' || substring(md5(x), 1, 8))::BIGINT % m``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % m


def importance_resample_dsir(df: DataFrame, id_col: str, text_col: str,
                             target: Column, n_buckets: int = 64,
                             k: int | None = 100) -> DataFrame:
    """Top-``k`` docs by DSIR hashed-bigram importance log-weight
    (``k=None`` scores every doc, unsorted — top-k uses a bounded
    per-partition heap, so ``k`` must stay selection-sized).

    ``target`` is a boolean Column marking the in-domain example set
    (it must be computable per input row — e.g. ``F.col("lang") ==
    "en"``). Returns (id, dsir_logweight, n_bigrams), weight
    descending, doc id ascending on ties; docs with fewer than two
    tokens form no bigram and are not scored, mirroring the paper's
    feature extractor.

    Plan: two passes over the exploded grams (no materialization —
    the lineage recompute is the price of staying pure-DataFrame;
    Spark does not dedupe the repeated subtree): pass 1 partial-aggs
    bucket counts down to ``n_buckets`` rows whose totals come from a
    whole-frame window (always ``n_buckets`` rows, scale-safe); pass
    2 map-side broadcast-joins the scored buckets onto the gram
    instances and combines per doc — the only data-sized exchange is
    that final id-keyed combine.
    """
    from pyspark.sql import Window as W

    toks = tokens(F.col(text_col))
    grams = (
        spread(df)
        .select(F.col(id_col).alias("id"), target.alias("tgt"),
                F.explode(_grams(toks, 2, 2)).alias("s"))
        .select("id", "tgt",
                _md5_bucket(F.col("s.g"), n_buckets).alias("bucket"))
    )
    dist = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("tc"),
        F.count("*").alias("rc"))
    wall = W.partitionBy()
    ratio = (F.log((F.col("tc") + 1.0)
                   / (F.sum("tc").over(wall) + n_buckets))
             - F.log((F.col("rc") + 1.0)
                     / (F.sum("rc").over(wall) + n_buckets)))
    scored_buckets = dist.select("bucket", ratio.alias("logratio"))
    scored = (
        grams.join(F.broadcast(scored_buckets), "bucket")
        .groupBy("id")
        .agg(F.sum("logratio").alias("dsir_logweight"),
             F.count("*").cast("long").alias("n_bigrams"))
    )
    if k is None:
        return scored
    return scored.orderBy(F.desc("dsir_logweight"), "id").limit(k)


def unigram_logprob_scores(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """(id, n_tokens, avg_logprob): mean ln p(token) per document
    under the corpus's own unigram MLE distribution
    (``p(t) = count(t) / total_tokens``).

    Every token is by construction in-vocabulary, so the MLE needs no
    smoothing. ``avg_logprob`` is the negative cross-entropy of the
    doc against the corpus unigram LM — the cheap stand-in for the
    perplexity filters of CCNet-class pipelines.
    """
    toks = (
        spread(df)
        .select(F.col(id_col).alias("id"),
                F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.length("tok") > 0)
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("ct"))
    # Total token count from the flat token stream, NOT vocab.agg(sum):
    # the latter would recompute the vocab lineage (explode + tok-keyed
    # shuffle) just to produce one scalar; this branch is explode +
    # partial count only.
    stats = toks.agg(F.count("*").alias("n_total"))
    doc_tok = toks.groupBy("id", "tok").agg(F.count("*").alias("c"))
    return (
        doc_tok.join(vocab, "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(F.sum("c").cast("long").alias("n_tokens"),
             (F.sum(F.col("c")
                    * F.log(F.col("ct").cast("double") / F.col("n_total")))
              / F.sum("c")).alias("avg_logprob"))
    )



def bigram_logprob_scores(df: DataFrame, id_col: str, text_col: str,
                          lam: float = 0.7) -> DataFrame:
    """(id, n_bigrams, avg_logprob): mean ln of the Jelinek-Mercer
    interpolated bigram probability per document under the corpus's
    own counts:

        P(w2 | w1) = lam * c(w1 w2) / c(w1) + (1 - lam) * c(w2) / N

    — the next rung above :func:`unigram_logprob_scores` on the
    CCNet-style perplexity-filter ladder (context-aware, so
    word-salad that passes a unigram filter scores low here).
    Interpolation (not backoff) keeps both terms live when a corpus
    scores itself, and needs no discounting bookkeeping.

    Shape mirrors the unigram scorer: the bigram and unigram count
    tables are corpus-derived and deliberately NOT broadcast (at web
    scale each is its own big table); scoring is three
    token/bigram-keyed shuffle joins plus one per-doc fold, all
    map-side combined. Docs with < 2 tokens emit no bigrams and are
    absent from the output (defined behavior, matching the oracle).
    """
    base = spread(df).select(F.col(id_col).alias("id"),
                             tokens(F.col(text_col)).alias("t"))
    # consecutive pairs built IN-ROW (two shifted slices zipped) —
    # zero shuffle, same idiom as quality._grams; a positional
    # self-join formulation would shuffle the whole token stream twice
    width = F.greatest(F.size("t") - 1, F.lit(0))
    pairs = F.arrays_zip(F.slice("t", 1, width).alias("w1"),
                         F.slice("t", 2, width).alias("w2"))
    toks = (base.select("id", F.explode("t").alias("tok"))
            .where(F.length("tok") > 0))
    bg = (base.select("id", F.explode(pairs).alias("p"))
          .select("id", F.col("p.w1").alias("w1"),
                  F.col("p.w2").alias("w2"))
          .where((F.length("w1") > 0) & (F.length("w2") > 0)))
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    cu = toks.groupBy("tok").agg(F.count("*").alias("cu"))
    n_total = toks.agg(F.count("*").alias("n_total"))
    doc_bg = bg.groupBy("id", "w1", "w2").agg(F.count("*").alias("c"))
    p = (F.lit(lam) * F.col("cb") / F.col("cu1")
         + F.lit(1.0 - lam) * F.col("cu2") / F.col("n_total"))
    return (
        doc_bg
        .join(cb, ["w1", "w2"])
        .join(cu.withColumnsRenamed({"tok": "w1", "cu": "cu1"}), "w1")
        .join(cu.withColumnsRenamed({"tok": "w2", "cu": "cu2"}), "w2")
        .crossJoin(F.broadcast(n_total))
        .groupBy("id")
        .agg(F.sum("c").cast("long").alias("n_bigrams"),
             (F.sum(F.col("c") * F.log(p)) / F.sum("c"))
             .alias("avg_logprob"))
    )


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-``k`` docs by BM25 against a bag of ``query_terms`` —
    the full-text upgrade of the reference's token-overlap retrieval
    (reference src/chain.py:36-47 ranks schema-doc chunks by shared
    token count; BM25 adds tf saturation + idf + length
    normalization, the standard sparse-retrieval baseline).

    Lucene-style idf (``ln(1 + (N - df + 0.5) / (df + 0.5))``, always
    positive). Returns (id, bm25, n_hits) for docs matching at least
    one term, score descending, id ascending on ties.

    Shape: doc lengths are a pure expression (``size`` of the token
    array — NO explode, NO shuffle), so the corpus scalars cost one
    map-side count. The only exploded pass is pre-filtered to the
    query terms (pushes into the scan); its per-(doc, term) combine,
    the tiny term-stats combine, and the doc-keyed join/fold are the
    only keyed exchanges. Spark does not reuse repeated subtrees, so
    every derived table here descends from a map-only lineage —
    recomputation costs a scan, never a shuffle.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    # dl > 0 excludes token-less docs AND NULL text (size(NULL) = -1)
    # from n_docs/avgdl — they contribute no mass to any score and a
    # GROUP-BY-over-tokens oracle formulation never sees them, so
    # including them would skew avgdl on dirty corpora.
    doclen = spread(df).select(
        F.col(id_col).alias("id"),
        F.size(F.filter(tokens(F.col(text_col)),
                        lambda x: F.length(x) > 0)).alias("dl"))\
        .where(F.col("dl") > 0)
    corpus = doclen.agg(F.count("*").alias("n_docs"),
                        F.avg("dl").alias("avgdl"))
    hits = (
        spread(df)
        .select(F.col(id_col).alias("id"),
                F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.array_contains(terms, F.col("tok")))
    )
    tf = hits.groupBy("id", "tok").agg(F.count("*").alias("tf"))
    # df_t over the matched docs only — |query_terms| rows.
    dft = tf.groupBy("tok").agg(F.count("*").alias("dft"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("dft") + 0.5)
                / (F.col("dft") + 0.5))
    scored = (
        tf.join(F.broadcast(dft), "tok")
        .join(doclen, "id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "s",
            idf * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
        .groupBy("id")
        .agg(F.sum("s").alias("bm25"),
             F.count("*").cast("long").alias("n_hits"))
    )
    return scored.orderBy(F.desc("bm25"), "id").limit(k)


__all__ = ["bm25_topk", "bigram_logprob_scores",
           "importance_resample_dsir", "unigram_logprob_scores"]


def vocab_coverage(df: DataFrame, id_col: str, text_col: str,
                   vocab_sizes: tuple[int, ...] = (100, 1000, 10000),
                   ) -> DataFrame:
    """Tokenizer-budget planning curve: for each candidate vocabulary
    size V, what fraction of corpus token INSTANCES the top-V types
    (by frequency) cover — the number that decides how big a
    tokenizer vocabulary has to be before OOV/byte-fallback rates are
    acceptable.

    Output: (v, n_types, covered_instances, coverage), one row per
    requested size; n_types = min(V, |vocab|).

    Scale shape — deliberately NOT a global top-V sort: ranking 1e8+
    vocab types to take a prefix would funnel the whole vocabulary
    through one sort. Coverage only depends on the COUNT-OF-COUNTS
    table (how many types occur c times — thousands of rows on any
    corpus since distinct counts are ~sqrt-of-instances sparse):
    token counts (1 keyed shuffle) -> count histogram (1 tiny
    shuffle) -> cumulative window over count classes descending
    (|classes| rows) -> each V lands in one class, a partial class
    contributing (V - types_above) * c instances. Ties inside a
    class share the same count, so coverage is tie-break-free.
    """
    toks = (
        spread(df)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.length("tok") > 0)
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    cc = freq.groupBy("c").agg(F.count("*").alias("n_types"))
    from pyspark.sql import Window as W
    wdesc = W.orderBy(F.desc("c")).rowsBetween(W.unboundedPreceding, -1)
    cum = (cc
           .withColumn("types_above",
                       F.coalesce(F.sum("n_types").over(wdesc), F.lit(0)))
           .withColumn("inst_above",
                       F.coalesce(F.sum(F.col("n_types") * F.col("c"))
                                  .over(wdesc), F.lit(0))))
    totals = freq.agg(F.count("*").alias("total_types"),
                      F.sum("c").alias("total_inst"))
    sizes = (df.sparkSession
             .createDataFrame([(int(v),) for v in vocab_sizes], "v long"))
    # each V selects the count class its boundary falls into
    hit = (sizes.crossJoin(F.broadcast(cum))
           .where((F.col("types_above") < F.col("v"))
                  & (F.col("v") <= F.col("types_above") + F.col("n_types"))))
    covered = (F.col("inst_above")
               + (F.col("v") - F.col("types_above")) * F.col("c"))
    partial = hit.select("v", covered.alias("covered_instances"))
    return (sizes.join(partial, "v", "left")
            .crossJoin(F.broadcast(totals))
            .select(
                "v",
                F.least(F.col("v"), F.col("total_types")).cast("long")
                .alias("n_types"),
                F.coalesce("covered_instances", F.col("total_inst"))
                .cast("long").alias("covered_instances"),
                (F.coalesce("covered_instances", F.col("total_inst"))
                 / F.col("total_inst")).alias("coverage"))
            .orderBy("v"))


def heavy_hitters(df: DataFrame, text_col: str,
                  phi: float = 0.002) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with frequency >= phi of
    all tokens) by the standard two-phase distributed design:

    Phase 1 — per-partition Misra-Gries summaries (capacity
    ceil(1/phi) counters) generate a candidate set. The MG guarantee
    composes across partitions: a token with global count > phi*N
    must exceed phi*n_p in at least one partition (else summing the
    per-partition bounds contradicts the global count), so every
    true heavy hitter is a candidate. State per task is O(1/phi),
    NEVER O(|vocab|) — at 100 TB the full-vocabulary shuffle a plain
    groupBy pays (billions of distinct long-tail keys) collapses to
    kilobytes of candidates per partition. The SAME pass also emits
    one per-partition token-total row, so the corpus total costs
    kilobytes of side output instead of its own tokenize+count scan;
    the summary folds into ONE row (candidate set + corpus total), so
    the MG pass has a single consumer and needs no sharing.

    Phase 2 — exact recount of candidates only (broadcast candidate
    set filters the token stream, |candidates|-key combine), then
    the phi*N threshold filter. False candidates die here, so the
    OUTPUT is the exact heavy-hitter set with exact counts — fully
    deterministic and independent of partitioning, which is what
    lets a plain GROUP BY/HAVING SQL oracle value-verify a
    sketch-based plan.

    The recount is the only second look at the token stream — two
    tokenizations is the floor for exact two-phase (candidates must
    exist before they can be recounted). The exploded stream is
    shared between the passes through ``materialize_auto``, so the
    recount reads the materialized tokens instead of re-tokenizing.

    Returns (tok, n, freq) — freq = n / total tokens.
    """
    import math

    capacity = max(1, math.ceil(1.0 / phi))
    toks = spread(df.select(tokens(F.col(text_col)).alias("t"))).select(
        F.explode("t").alias("tok"))
    toks = materialize_auto(toks)

    def mg(batches):
        import pandas as pd
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for t in pdf["tok"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < capacity:
                    counters[t] = 1
                else:
                    dead = [k for k in counters
                            if counters[k] == 1]
                    for k in counters:
                        counters[k] -= 1
                    for k in dead:
                        del counters[k]
        cand = list(counters.keys())
        yield pd.DataFrame({
            "tok": pd.array(cand + [None], dtype="string"),
            "part_n": pd.array([None] * len(cand) + [n_part],
                               dtype="Int64")})

    summary = (toks.mapInPandas(mg, "tok string, part_n long")
               .agg(F.collect_set("tok").alias("cands"),
                    F.sum("part_n").alias("n_total")))
    cands = summary.select(F.explode("cands").alias("tok"), "n_total")
    counted = (toks.join(F.broadcast(cands), "tok")
               .groupBy("tok", "n_total").agg(F.count("*").alias("n")))
    return (counted
            .where(F.col("n") >= F.ceil(F.col("n_total") * phi))
            .select("tok", "n",
                    (F.col("n") / F.col("n_total")).alias("freq")))


def cms_token_counts(df: DataFrame, text_col: str,
                     width: int = 1024, depth: int = 3,
                     k: int = 20) -> DataFrame:
    """Count-Min Sketch frequency estimation (Cormode & Muthukrishnan
    2005) for the exact top-k tokens: the sketch is a depth x width
    counter matrix — row j counts token instances at position
    md5-hash_j(tok) % width — and a token's estimate is the MIN over
    its depth cells. Estimates never undercount (every instance of
    the token lands in all d of its cells; collisions only ADD), and
    overcount <= eps*N with probability 1-delta for width=e/eps,
    depth=ln(1/delta) — the sketch every streaming frequency system
    (and the classic CM paper) ships.

    The whole construction is deterministic given (width, depth) —
    cell positions are pure md5 functions of the token — so unlike
    most sketches the ESTIMATES themselves are value-gated exactly
    by a SQL replay, not epsilon-gated: overcount per top-k token is
    a reproducible integer both engines must agree on.

    Plan: the sketch build is ONE map-side-combinable groupBy over
    d x instances rows into AT MOST depth*width cells (fixed-size
    state, like the Misra-Gries pass in ``heavy_hitters`` — the
    distributed merge of per-partition sketches is the partial agg
    Catalyst already does); the exact top-k (a k-row frame) then
    probes its d cells against the broadcast-sized sketch. At 100 TB
    the sketch stays depth*width rows regardless of vocabulary —
    the bounded-memory answer to "how often does each of these
    tokens appear" without a full-vocab shuffle.

    Returns (tok, n_exact, n_cms, overcount), the top-k by exact
    count (tok tiebreak).
    """
    toks = spread(df.select(tokens(F.col(text_col)).alias("t"))).select(
        F.explode("t").alias("tok"))

    def pos(tok, j: int):
        return (F.conv(F.substring(
            F.md5(F.concat(tok, F.lit(f":{j}"))), 1, 7), 16, 10)
            .cast("long") % width)

    cells = toks.select(F.posexplode(F.array(
        *[pos(F.col("tok"), j) for j in range(depth)])).alias("j", "p"))
    sketch = cells.groupBy("j", "p").agg(F.count("*").alias("cnt"))
    top = (toks.groupBy("tok").agg(F.count("*").alias("n_exact"))
           .orderBy(F.desc("n_exact"), "tok").limit(k))
    probes = top.select("tok", "n_exact", F.posexplode(F.array(
        *[pos(F.col("tok"), j) for j in range(depth)])).alias("j", "p"))
    return (probes.join(F.broadcast(sketch), ["j", "p"])
            .groupBy("tok")
            .agg(F.min("n_exact").alias("n_exact"),
                 F.min("cnt").alias("n_cms"))
            .select("tok", "n_exact", "n_cms",
                    (F.col("n_cms") - F.col("n_exact"))
                    .alias("overcount")))


def hll_cardinality(df: DataFrame, col: str, b: int = 8) -> DataFrame:
    """HyperLogLog cardinality sketch (Flajolet, Fusy, Gandouet &
    Meunier 2007) with md5-derived 32-bit hashes: bucket = top ``b``
    bits, rho = leading-zero count of the remaining ``32-b`` bits
    plus one, register[bucket] = max(rho). The raw estimate is
    ``alpha_m * m^2 / sum_j 2^-M_j`` with the small-range
    linear-counting correction ``m * ln(m/V)`` when the raw estimate
    is <= 2.5m and V (empty registers) > 0 — the exact estimator the
    paper ships and every production HLL (Redis, BigQuery, Spark's
    own approx_count_distinct) descends from.

    Like ``cms_token_counts``, the md5 layout makes the sketch
    bit-reproducible, so it is VALUE-gated, not epsilon-gated: the
    register state is pinned by three exact integers (non-zero
    register count, a bucket*rho checksum, and the harmonic sum
    S = sum_j 2^(rho_max - M_j) — an exact BIGINT because every term
    is a power of two, so no float-order drift), and the estimate is
    a deterministic division of exact integers. A 3-sigma accuracy
    boolean (sigma = 1.04/sqrt(m)) is additionally pinned TRUE.

    Plan (100 TB): NO distinct and NO wide shuffle — the sketch is
    one groupBy(bucket).max over at most m=2^b groups with map-side
    combine, i.e. each partition reduces to <= m rows before the
    exchange. That is the whole point of HLL: cardinality without
    the count-distinct shuffle. The exact count here exists only to
    gate the sketch and would be dropped at scale.

    Returns ONE row: (m, n_exact, nonzero_registers, s_scaled,
    register_checksum, estimate, within_3sigma).
    """
    m = 1 << b
    wbits = 32 - b
    rho_max = wbits + 1
    alpha = 0.7213 / (1 + 1.079 / m)

    src = (df.where(F.col(col).isNotNull())
           .select(F.col(col).cast("string").alias("v")))
    h32 = (F.conv(F.substring(F.md5(F.col("v")), 1, 8), 16, 10)
           .cast("long"))
    parts = src.select(h32.alias("h32")).select(
        F.expr(f"h32 DIV {1 << wbits}").alias("bucket"),
        (F.col("h32") % (1 << wbits)).alias("w"))
    rho = (F.when(F.col("w") == 0, F.lit(rho_max))
           .otherwise(F.lit(rho_max) - F.length(F.bin(F.col("w")))))
    regs = parts.groupBy("bucket").agg(F.max(rho).alias("rho"))
    sk = regs.agg(
        F.count(F.lit(1)).cast("long").alias("nz"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rho_max} - rho)")),
            F.lit(0).cast("long")).alias("s_present"),
        F.coalesce(F.sum(F.col("bucket") * F.col("rho")),
                   F.lit(0).cast("long")).cast("long")
        .alias("register_checksum"))
    ex = src.agg(F.countDistinct("v").cast("long").alias("n_exact"))
    empty_term = F.lit(1 << rho_max).cast("long") * (m - F.col("nz"))
    s_scaled = (F.col("s_present") + empty_term).alias("s_scaled")
    e_raw = (F.lit(alpha * m * m * (1 << rho_max))
             / (F.col("s_present") + empty_term))
    e = (F.when((e_raw <= 2.5 * m) & (F.col("nz") < m),
                F.lit(float(m)) * F.log(F.lit(float(m))
                                        / (m - F.col("nz"))))
         .otherwise(e_raw))
    within = (F.when(F.col("n_exact") == 0, F.col("nz") == 0)
              .otherwise(F.abs(e - F.col("n_exact"))
                         / F.col("n_exact") <= 3 * 1.04 / (m ** 0.5)))
    return (sk.crossJoin(F.broadcast(ex)).select(
        F.lit(m).cast("long").alias("m"),
        "n_exact",
        F.col("nz").alias("nonzero_registers"),
        s_scaled,
        "register_checksum",
        # scale-before-round = queries.core.rnd semantics (DuckDB parity)
        (F.round(e * 100.0, 0) / 100.0).alias("estimate"),
        within.alias("within_3sigma")))


def pareto_frontier_2d(df: DataFrame, x_col: str, y_col: str,
                       n_buckets: int = 64) -> DataFrame:
    """2-D Pareto frontier (skyline) under strict dominance: keeps
    every row no other row dominates, where b dominates a iff
    ``b.x >= a.x AND b.y >= a.y`` with at least one strict — the
    multi-criteria selection step of curation pipelines (e.g. keep
    documents pareto-optimal on quality vs cost, users on activity
    vs breadth). Duplicate (x, y) points are mutually non-dominating
    and all kept; rows with a NULL metric are excluded (dominance is
    undefined on NULLs — standard skyline semantics). ``x_col`` must
    be integer-typed (it feeds ``add_range_bucket``).

    Scale shape — the textbook sort-sweep ("a row survives iff its y
    beats the running max-y over all strictly-greater x") needs a
    GLOBAL-ORDER window; here the sweep runs over the
    one-row-per-distinct-x reduction via the bucketed prefix
    pattern: per-bucket max-y, exclusive prefix-max over the
    n_buckets-row DESC summary (the only unpartitioned window),
    local exclusive running max inside bounded (bucket) windows, and
    an equi-join back. Every groupBy is partial-agg splittable; no
    window partition exceeds one bucket's distinct-x count."""
    from pyspark.sql import Window as W

    from .layout import add_range_bucket
    rows = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    xg = rows.groupBy(x_col).agg(F.max(y_col).alias("__ymax"))
    b = add_range_bucket(xg, x_col, n_buckets)

    # max y over all LATER (greater-x) buckets — exclusive prefix
    # over the tiny bucket summary in DESC bucket order
    bs = b.groupBy("__rb").agg(F.max("__ymax").alias("__bmax"))
    wb = (W.orderBy(F.desc("__rb"))
          .rowsBetween(W.unboundedPreceding, -1))
    bs = bs.select("__rb", F.max("__bmax").over(wb).alias("__mhigher"))

    # max y over greater x WITHIN the bucket (one row per distinct x,
    # so exclusive prefix in x-DESC order is exactly that)
    wloc = (W.partitionBy("__rb").orderBy(F.desc(x_col))
            .rowsBetween(W.unboundedPreceding, -1))
    m = (b.join(F.broadcast(bs), "__rb")
         .withColumn("__mgt",
                     # greatest() skips NULLs, so either side absent
                     # (first bucket / first row) degrades cleanly
                     F.greatest(F.max("__ymax").over(wloc),
                                F.col("__mhigher"))))

    keep = (m.where(F.col("__mgt").isNull()
                    | (F.col("__ymax") > F.col("__mgt")))
            .select(x_col, "__ymax"))
    return (rows.join(keep, [x_col])
            .where(F.col(y_col) == F.col("__ymax"))
            .drop("__ymax"))
