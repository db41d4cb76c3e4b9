"""Deduplication operators over the documents table (north-star
extension: LLM-training-data pipeline ops).

Five families, all JVM-side expressions (no Python UDFs anywhere):

- exact          — canonicalize + md5 group (hash-groupBy).
- n-gram Jaccard — word-3-gram shingles → posting-list pair generation
                   → exact set-overlap Jaccard. The posting list IS the
                   inverted-index trick: only pairs sharing ≥1 shingle
                   are ever materialized, never the full O(n²) cross.
- MinHash + LSH  — 16 double-hashed functions over shingles → banded
                   signatures (4 bands × 4 rows) → bucket join for
                   candidates. The scale path: candidate generation cost
                   is O(n·bands), join only collides near-duplicates.
- SimHash        — 32-bit majority-vote fingerprint + Hamming ranking.
- embedding      — cosine near-dup via multi-table sign-LSH candidates
                   + exact rerank (shares similarity.py's machinery).

Cross-engine determinism: every hash is functions.portable_hash64
(md5-based, identical in DuckDB), so the driver's oracle comparison is
exact — see the paired SQL in __spark_entry__.oracle_sql().

Scale notes (100 TB):
- Shingling explodes ~1 row per word — linear, shuffle-free.
- The Jaccard shared-shingle join is quadratic only within a posting
  list; hot shingles (stopword-only 3-grams) should be dropped at scale
  (df cutoff) — ``shingles()`` exposes ``max_doc_freq`` for that.
- MinHash signatures: one groupBy(doc, hash_i) — map-side combinable.
- All-pairs SimHash ranking here is a correctness baseline; the scale
  form buckets by signature bytes first (same banding idea as LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load
from ..functions import normalized_text_hash, halfup_div, portable_hash64
from ..session import cores, width

N_HASHES = 16
LSH_BANDS = 4  # 4 bands x 4 rows


def tokens(documents: DataFrame) -> DataFrame:
    """doc_id, token array (whitespace tokenization — the fixture docs
    are space-separated tokens by construction).

    The projection is spread across cores before the downstream
    shingle/hash kernels (guide §2.5): a single-row-group corpus file
    scans as ONE task, which would otherwise pin every per-row
    tokenize/md5 pipeline in the dedup family to one core. No-op when
    the scan already splits (production corpora)."""
    from ..catalog import spread_scan

    return spread_scan(
        documents.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )
    )


def shingles(documents: DataFrame, n: int = 3, max_doc_freq: int | None = None) -> DataFrame:
    """doc_id, shingle — distinct word n-grams per document.

    ``max_doc_freq`` drops shingles appearing in more than that many
    docs (posting-list cap for the quadratic join at scale).

    Docs with fewer than ``n`` tokens emit no shingles at all (a partial
    n-gram would be a truncated pseudo-shingle the oracle can't mirror)."""
    tok = tokens(documents).filter(F.size("toks") >= n)
    sh = tok.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(F.col("toks"), i + k + 1) for k in range(n)]
                    ),
                )
            )
        ).alias("shingle"),
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    return sh


#: Mask keeping h2 < 2^56 so h1 + 15·h2 < 2^61 — no int64 overflow in
#: either engine (DuckDB errors on BIGINT overflow; Java would wrap).
_H2_MASK = (1 << 56) - 1


def minhash_signatures(documents: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """doc_id, i, mh — MinHash over word-3-gram shingles.

    The ``n_hashes`` functions are Kirsch-Mitzenmacher double hashes
    ``h_i = h1 + i·h2`` over two independent md5-derived base hashes —
    2 md5 evaluations per shingle instead of ``n_hashes``, which is the
    dominant cost of signature computation (the minwise-independence
    loss is negligible for dedup banding). DuckDB twin in
    __spark_entry__ mirrors the same h1/h2 arithmetic exactly."""
    sh = shingles(documents)
    based = sh.select(
        "doc_id",
        portable_hash64(F.col("shingle")).alias("h1"),
        portable_hash64(F.concat(F.lit("mh2:"), F.col("shingle")))
        .bitwiseAND(F.lit(_H2_MASK))
        .alias("h2"),
    )
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("i")
    hashed = based.select("doc_id", "h1", "h2", idx).select(
        "doc_id", "i", (F.col("h1") + F.col("i") * F.col("h2")).alias("h")
    )
    return hashed.groupBy("doc_id", "i").agg(F.min("h").alias("mh"))


def _bucket_pairs(
    df: DataFrame, bucket_cols: list[str], id_col: str
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs of ids sharing a bucket — the
    posting-list formulation: one groupBy collects each bucket's sorted
    member list; combinations are generated on the grouped array with
    no self-join (the join form reads — and without materialization
    recomputes — the bucket table twice)."""
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        df.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def lsh_candidates(documents: DataFrame, sig: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash (doc_a < doc_b).
    Pass a precomputed ``sig`` (minhash_signatures output) when the
    caller also consumes the signatures — avoids re-deriving the
    shingle→minhash pipeline."""
    if sig is None:
        sig = minhash_signatures(documents)
    rows_per_band = N_HASHES // LSH_BANDS
    banded = (
        sig.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "mh"))),
                        lambda s: s["mh"].cast("string"),
                    ),
                )
            ).alias("band_key")
        )
    )
    # bucket-list pair generation (same shape as the Jaccard posting
    # list and the co-purchase baskets): ONE groupBy(bucket) collects
    # each bucket's members and emits combinations on the grouped array
    # — replacing the a⋈b self-join, which consumed (and recomputed)
    # the whole shingle→minhash→band pipeline twice. Bucket sizes are
    # bounded by design (only near-duplicates collide), so the
    # per-bucket pair count stays small.
    return _bucket_pairs(banded, ["band", "band_key"], "doc_id")


def simhash32(documents: DataFrame) -> DataFrame:
    """doc_id, simhash — 32-bit SimHash over word-3-gram shingles:
    bit i of the fingerprint is the majority vote of bit i across all
    shingle hashes."""
    sh = shingles(documents).select(
        "doc_id", portable_hash64(F.col("shingle")).alias("h")
    )
    bits = sh.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"),
    ).select(
        "doc_id",
        "bit",
        # column-valued shift amounts need the SQL form (the PySpark
        # wrapper only accepts a literal int)
        F.expr("CAST(shiftrightunsigned(h, bit) & 1 AS INT) * 2 - 1").alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


# ----- registered queries ---------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc per normalized-text hash group
    (keep = min doc_id). Output is the full keep/drop assignment."""
    t = load(spark, sf_dir)
    hashed = t.documents.select(
        "doc_id", normalized_text_hash("text").alias("text_hash")
    )
    canon = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        hashed.join(canon, "text_hash")
        .select(
            "doc_id",
            "text_hash",
            "group_size",
            (F.col("doc_id") == F.col("keep_id")).alias("is_canonical"),
        )
    )


#: Posting-list cap for the shared-shingle join: shingles present in more
#: than this many docs are dropped before pairing (a stopword-only 3-gram
#: shared by 10^6 docs would otherwise create a 10^12-pair join at scale).
JACCARD_MAX_DOC_FREQ = 100


def _ngram_pair_stats(documents: DataFrame) -> DataFrame:
    """Shared posting-list core of the n-gram pair scorers: per
    co-occurring doc pair, the exact intersection size and both set
    sizes (doc_a, doc_b, n_common, na, nb) over the df-capped 3-gram
    universe. `q_ngram_jaccard_top_pairs` rates the symmetric overlap,
    `q_ngram_containment_top_pairs` the asymmetric one."""
    # Posting-list formulation: ONE groupBy(shingle) produces both the
    # doc-frequency cutoff (posting length == df) and the co-occurring
    # pairs (combinations within each posting list, bounded by the
    # cutoff at ≤ C(max_df,2)) — replacing the shingle self-join, which
    # shuffled the exploded shingle table twice.
    sh = shingles(documents)
    posting = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= JACCARD_MAX_DOC_FREQ)
        # consumed by THREE downstream branches (pair-gen + both size
        # joins); lazy localCheckpoint truncates the lineage so each
        # branch reads one materialization (measured: the shingle
        # exchange appeared 3x in the executed plan when the branches
        # recomputed it). cache() was tried and reverted (d5c0b11):
        # for this cheap-to-recompute subtree the memory pin cost more
        # than the recompute it saved.
        .localCheckpoint(eager=False)
    )
    sizes = (
        posting.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    common = (
        posting.filter(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def q_ngram_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most similar doc pairs by word-3-gram Jaccard. Jaccard is
    a ratio of integers — bit-exact across engines — so the ranking is
    fully deterministic (tiebreak: doc_a, doc_b).

    Set sizes are computed AFTER the doc-frequency cutoff so the oracle
    can mirror the exact same filtered universe."""
    t = load(spark, sf_dir)
    scored = (
        _ngram_pair_stats(t.documents)
        .select(
            "doc_a",
            "doc_b",
            # rank on the raw IEEE ratio (identical in both engines for
            # identical integer operands); emit the exact half-up round
            (
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jac_raw"),
            halfup_div(
                F.col("n_common"),
                F.col("na") + F.col("nb") - F.col("n_common"),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(F.desc("jac_raw"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_ngram_containment_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 doc pairs by 3-gram CONTAINMENT — the asymmetric overlap
    |A∩B| / min(|A|, |B|) that catches quote-inclusion and partial
    duplication symmetric Jaccard dilutes: a short doc fully embedded
    in a long one scores containment 1.0 but Jaccard ≈ |A|/|B| ≈ 0.
    (Broder's containment measure; the standard second axis of n-gram
    dedup next to resemblance.)

    Same df-capped posting-list core as `q_ngram_jaccard_top_pairs`
    (one groupBy(shingle), pairs minted inside each bounded posting
    list — never a doc×doc join); containment is a ratio of the same
    exact integers, so ranking and the half-up 6-dp score are
    bit-identical across engines. Output: (doc_a, doc_b, n_common,
    n_small, containment)."""
    t = load(spark, sf_dir)
    scored = _ngram_pair_stats(t.documents).select(
        "doc_a",
        "doc_b",
        "n_common",
        F.least("na", "nb").alias("n_small"),
        (F.col("n_common") / F.least("na", "nb")).alias("cont_raw"),
        halfup_div(
            F.col("n_common"), F.least("na", "nb"), 6
        ).alias("containment"),
    )
    return (
        scored.orderBy(F.desc("cont_raw"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
        .select("doc_a", "doc_b", "n_common", "n_small", "containment")
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash digest: the first 4 signature values plus an md5
    over the full 16-value signature (comparable scalar form of the
    signature array)."""
    t = load(spark, sf_dir)
    sig = minhash_signatures(t.documents)
    return sig.groupBy("doc_id").agg(
        F.min(F.when(F.col("i") == 0, F.col("mh"))).alias("mh0"),
        F.min(F.when(F.col("i") == 1, F.col("mh"))).alias("mh1"),
        F.min(F.when(F.col("i") == 2, F.col("mh"))).alias("mh2"),
        F.min(F.when(F.col("i") == 3, F.col("mh"))).alias("mh3"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mh"))),
                    lambda s: s["mh"].cast("string"),
                ),
            )
        ).alias("sig_digest"),
    )


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs (may legitimately be empty when no
    near-duplicates exist at this scale — the oracle must agree)."""
    t = load(spark, sf_dir)
    return lsh_candidates(t.documents)


def simhash_closest_pairs_brute(sig: DataFrame, k: int = 20) -> DataFrame:
    """All-pairs Hamming ranking — O(n²) cross join. TEST ORACLE ONLY
    (verifies the banded form's recall in tests); never registered as a
    query shape because it cannot survive scale."""
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
    )
    return pairs.orderBy(F.asc("hamming"), F.asc("doc_a"), F.asc("doc_b")).limit(k)


SIMHASH_BANDS = 4  # 8-bit bands over the 32-bit fingerprint


def simhash_band_candidates(sig: DataFrame) -> DataFrame:
    """Candidate pairs: docs sharing at least one 8-bit band of their
    32-bit SimHash. By pigeonhole, every pair with Hamming distance ≤ 3
    is guaranteed to collide in some band — the scale-safe candidate
    generator (bucket join, no cross join)."""
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.expr("CAST(shiftrightunsigned(simhash, band * 8) & 255 AS INT)").alias(
            "band_val"
        ),
    )
    return _bucket_pairs(banded, ["band", "band_val"], "doc_id")


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 closest candidate pairs by SimHash Hamming distance, with
    banded candidate generation (the registered, scale-safe default —
    no cross join anywhere in the plan; asserted in tests)."""
    t = load(spark, sf_dir)
    # four consumers (both band-join sides + both hamming re-joins) —
    # lazy localCheckpoint so the 32-bit-vote pipeline runs once, not
    # 4x (cache() reverted in d5c0b11: recompute is cheaper than the pin)
    sig = simhash32(t.documents).localCheckpoint(eager=False)
    cand = simhash_band_candidates(sig)
    ha = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    hb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    scored = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
    )
    return scored.orderBy(F.asc("hamming"), F.asc("doc_a"), F.asc("doc_b")).limit(20)


#: Cosine threshold above which two documents' embeddings count as
#: near-duplicates.
EMBED_NEARDUP_THRESHOLD = 0.85


def embedding_neardup_pairs(
    spark: SparkSession,
    vectors: DataFrame,
    threshold: float = EMBED_NEARDUP_THRESHOLD,
    n_planes: int = 8,
    n_tables: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos ≥ t).

    Candidate generation is multi-table sign-bit LSH over the corpus
    joined against itself PER BUCKET (never all-pairs): two vectors are
    compared only if some table hashes them to the same bucket. True
    near-duplicates (cos ≥ 0.85 ⇒ angle ≤ 32°, per-bit agreement ≥
    0.82) collide in at least one of 6 tables with probability ≥ 98%.
    Candidates are exact-reranked; the threshold filters the output."""
    from .similarity import _dot, _hyperplanes, lsh_signatures

    planes = _hyperplanes(spark, n_planes * n_tables)
    sig = lsh_signatures(vectors, planes, n_planes)
    # bucket-list pair generation: one consumption of the signature
    # pipeline (the a⋈b self-join form computed the 48-plane projection
    # of every vector twice), one shuffle
    cand = _bucket_pairs(sig, ["table", "sig"], "vec_id").select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    va = vectors.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        norm.alias("na"),
    )
    vb = vectors.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        norm.alias("nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


#: Graduated embedding_neardup gate: cosine ≥ EMB_NEARDUP_NUM/DEN.
EMB_NEARDUP_NUM = 17
EMB_NEARDUP_DEN = 20  # 0.85
#: Planting (mirrors semantic_neardup's r5 de-vacuation): the first
#: EMB_PLANT fixture vectors get a scaled near-copy unioned in, so the
#: gate proves positive detection instead of matching on empty.
EMB_PLANT = 3
EMB_PLANT_OFFSET = 1_000_000
EMB_PLANT_SCALE = 1.001


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, ORACLE-MATCHED since r7
    (previously rows-only). Candidates come from the multi-table
    sign-bit LSH; every candidate is exact-reranked with the integer
    cross-multiplied cosine test (quantized millionths, DECIMAL(38,0)
    vs HUGEINT twin — the same machinery as q_semantic_neardup), so
    the output is a SUBSET of the brute-force qualifying set by
    construction. Why equality (and hence a hash-match against the
    brute all-pairs DuckDB oracle) holds deterministically:

    - a scaled near-copy has IDENTICAL sign bits in every table —
      sign(w·(c·x)) = sign(w·x) for c > 0 — so each planted pair
      collides in all 6 tables with probability 1, not ~0.98;
    - the near-random fixture has zero true pairs at cos ≥ 0.84
      (measured at sf0.01/sf0.1 — margin below the 17/20 gate), so
      there is nothing for the LSH to miss;
    - the hyperplanes are md5-derived (`_hyperplanes`) — no RNG.

    The LSH-recall property for genuinely-near (but not near-identical)
    pairs remains asserted by the recall pytest over
    ``embedding_neardup_pairs``; this gate entry pins the END-TO-END
    candidate→rerank pipeline to the exact semantics.

    Output: (vec_a, vec_b, dot_q, na, nb) — integer quantities only."""
    from .similarity import (
        SEM_MAX_ABS_Q,
        SEM_SCALE,
        _hyperplanes,
        lsh_signatures,
    )

    t = load(spark, sf_dir)
    base = t.embeddings.select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") < EMB_PLANT).select(
        (F.col("vec_id") + F.lit(EMB_PLANT_OFFSET)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x.cast("double") * F.lit(EMB_PLANT_SCALE),
        ).alias("embedding"),
    )
    allv = base.unionByName(planted)
    planes = _hyperplanes(spark, 8 * 6)
    sig = lsh_signatures(allv, planes, 8)
    cand = _bucket_pairs(sig, ["table", "sig"], "vec_id").select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    # exact integer rerank (same quantization + magnitude guard as
    # semantic_neardup_pairs — see that docstring for the bound math;
    # 400·dot_q² ≤ 6.7·10³⁷ and 289·na·nb ≤ 4.9·10³⁷ stay in 38 digits)
    nq_raw = F.aggregate(
        F.zip_with(F.col("q"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    max_abs_q = F.aggregate(
        F.col("q"),
        F.lit(0).cast("long"),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    q = allv.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * SEM_SCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("q"),
    ).withColumn(
        "nq",
        F.when(
            max_abs_q > F.lit(SEM_MAX_ABS_Q),
            F.raise_error(
                F.lit(
                    "embedding_neardup magnitude contract violated: "
                    "|component| > 80; normalize vectors upstream"
                )
            ).cast("long"),
        ).otherwise(nq_raw),
    )
    qa = q.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    qb = q.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d38 = "decimal(38,0)"
    return (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .withColumn("dot_q", dot)
        .filter(F.col("dot_q") > 0)
        .filter(
            F.col("dot_q").cast(d38) * F.col("dot_q").cast(d38)
            * F.lit(EMB_NEARDUP_DEN * EMB_NEARDUP_DEN)
            >= F.lit(EMB_NEARDUP_NUM * EMB_NEARDUP_NUM)
            * F.col("na").cast(d38) * F.col("nb").cast(d38)
        )
        .select("vec_a", "vec_b", "dot_q", "na", "nb")
    )


#: Jaccard threshold for an edge in the near-dup graph. Compared in
#: INTEGER arithmetic (2·common ≥ union) — bit-exact in any engine.
CLUSTER_JACCARD_NUM = 1
CLUSTER_JACCARD_DEN = 2  # threshold = 1/2


def neardup_edges(documents: DataFrame) -> DataFrame:
    """Undirected near-duplicate edge list (doc_a < doc_b): exact-dup
    pairs (same normalized-text hash) ∪ posting-list candidates whose
    word-3-gram Jaccard ≥ 1/2. The threshold test is integer
    cross-multiplication — no floating point anywhere."""
    hashed = documents.select(
        "doc_id", normalized_text_hash("text").alias("text_hash")
    )
    canon = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("keep_id"))
    exact_edges = (
        hashed.join(canon, "text_hash")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(
            F.col("keep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    sh = shingles(documents)
    posting = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= JACCARD_MAX_DOC_FREQ)
        .localCheckpoint(eager=False)
    )
    sizes = (
        posting.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    common = (
        posting.filter(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac_edges = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            CLUSTER_JACCARD_DEN * F.col("n_common")
            >= CLUSTER_JACCARD_NUM
            * (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .select("doc_a", "doc_b")
    )
    return exact_edges.unionByName(jac_edges).distinct()


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node's label converges
    to the smallest node id reachable from it.

    ``nodes`` must have column ``id``; ``edges`` columns ``src``/``dst``
    (one direction suffices — both are generated here).

    Scale notes (r14 rework, guide §2.2 fixed-overhead amortization —
    the loop is shared by dedup_clusters, setsim_clusters and
    part_golden_record, and its per-round job storm dominated all
    three locally):

    - **Seed round as one aggregate.** Round 1 of the classic loop is
      an identity for pointer doubling (labels == ids), so it reduces
      to ``label₁ = min(id, min neighbor)`` — a groupBy over the edge
      table + one vertex-grain left join, no edge-grain join.
    - **One join per round instead of two.** Neighbor propagation and
      pointer doubling are the same lookup — "node i takes j's label"
      for j ∈ N(i) ∪ {label(i)} — so the round unions the static edge
      refs with the (id → label) refs and runs ONE equi-join against
      the label table (the old form paid two joins + a 3-way union).
      The self term is subsumed: label(label(i)) ≤ label(i) because
      labels only decrease and every label is itself a node id.
    - **Convergence checked every 2 rounds after the first.** Each
      check is a collect (a job); labels only ever decrease, so an
      unchanged sum(comp) across a 2-round batch proves BOTH rounds
      were no-ops (monotonicity) — fixpoint. At most one redundant
      round runs versus per-round checking; locally each skipped
      check saves a job round-trip. Labels stay ``localCheckpoint``ed
      per round so iteration k's plan does not embed rounds 1..k−1.

    Convergence is O(log diameter), not O(diameter): besides one-hop
    neighbor propagation, each round also POINTER-DOUBLES (label ←
    label-of-label), so the distance a small label has traveled
    doubles every round — a million-node chain (adversarial near-dup
    data: quoted quotes of quotes) converges in ~20 rounds. This is
    the shortcutting idea of large-star/small-star CC. The fixpoint —
    every node labeled with the smallest reachable id — is invariant
    under the regrouping, so the output is bit-identical to the old
    loop's (and to the DuckDB recursive-CTE oracle)."""
    # an endpoint missing from ``nodes`` would enter the labels as an
    # invented node and bridge every node pointing at it: drop its edges
    ids = nodes.select("id")
    edges = edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
    edges = edges.join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
    # materialize the edge pipeline ONCE before mirroring: ``both``
    # references ``edges`` twice (forward ∪ reversed), so an uncached
    # upstream (e.g. setsim's candidate-verify tail) would otherwise
    # run twice inside the first materializing action (§1.2). Eager:
    # lazily, the two union arms' concurrent tasks could both compute
    # the same checkpoint partition
    edges = edges.localCheckpoint(eager=True)
    both = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    both = both.localCheckpoint(eager=False)
    nbr_min = both.groupBy("a").agg(F.min("b").alias("nb"))
    labels = (
        nodes.join(nbr_min, nodes.id == nbr_min.a, "left")
        .select(
            nodes.id.alias("id"),
            F.least(nodes.id, F.coalesce(F.col("nb"), nodes.id)).alias(
                "comp"
            ),
        )
        .localCheckpoint(eager=False)
    )
    # the seed's signature is its materializing action (like every
    # later check); sum(comp) strictly decreases until the fixpoint
    prev_sig = labels.agg(F.sum("comp").alias("s")).collect()[0]["s"]
    # ``both`` is now materialized and re-read EVERY round; it
    # inherited one partition per upstream partition of each union arm
    # (2x the verify tail's width — 64 near-empty partitions for the
    # sf0.1 setsim graph), so each round paid one tiny task per
    # partition in scheduling overhead (§2.2). Coalesce (narrow, no
    # shuffle) to a volume-derived width: ~2M refs (16 B each, ~32 MB)
    # per partition, capped at the session's cores. The count is
    # one cheap job over checkpointed blocks.
    goal = width(both.count(), 2_000_000, cores(nodes.sparkSession))
    if goal < both.rdd.getNumPartitions():
        both = both.coalesce(goal)
    rounds_done = 1
    check_after = 1  # first check after one more round, then every 2
    while rounds_done < max_iter:
        batch = min(check_after, max_iter - rounds_done)
        check_after = 2
        for _ in range(batch):
            refs = both.unionByName(
                labels.select(F.col("id").alias("a"), F.col("comp").alias("b"))
            )
            l2 = labels.select(
                F.col("id").alias("jid"), F.col("comp").alias("jcomp")
            )
            # Eager: the next round reads ``labels`` on both sides of
            # its join, and lazily the two concurrent shuffle stages
            # computed the same checkpoint partition twice (``Block
            # rdd_…_0 already exists`` at sf0.1, attributed by RDD id)
            labels = (
                refs.join(l2, refs.b == F.col("jid"))
                .select(F.col("a").alias("id"), F.col("jcomp").alias("comp"))
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
                .localCheckpoint(eager=True)
            )
            rounds_done += 1
        sig = labels.agg(F.sum("comp").alias("s")).collect()[0]["s"]
        if sig == prev_sig:
            break
        prev_sig = sig
    return labels


def corpus_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(id, comp)`` connected-component labels for the sf_dir corpus.
    The cluster assignment is a shared artifact (dedup_clusters reports
    it; cluster_safe_split buckets on it) — in a real lakehouse a
    materialized table; here the localCheckpointed labels play that
    role, memoized per session and fixture (`memo`), so one session
    never runs the edge pipeline + CC loop twice for the same corpus."""
    return memo.get_or_build("components", spark, sf_dir, _build_components)


def _build_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    nodes = t.documents.select(F.col("doc_id").alias("id"))
    edges = neardup_edges(t.documents).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(nodes, edges)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: candidates → verify → CLUSTER →
    canonical pick. Connected components over the near-dup edge graph
    (exact-dup ∪ Jaccard ≥ 1/2), cluster id = min doc_id in the
    component, canonical = that doc. Singleton docs are their own
    cluster. Oracle: DuckDB recursive CTE reachability."""
    comp = corpus_components(spark, sf_dir)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


#: Batch boundary for the incremental-dedup demo query: docs below are
#: the "existing corpus", docs at/above are the "incoming batch".
INCREMENTAL_SPLIT_ID = 400


def incremental_dedup(
    corpus: DataFrame, batch: DataFrame
) -> DataFrame:
    """Continuous-ingest dedup: which incoming-batch docs duplicate the
    EXISTING corpus (exact normalized-text match, or word-3-gram
    Jaccard ≥ 1/2 via posting lists) — the decision a daily training-
    data ingest runs before appending.

    Scale shape: candidates are generated from ONE shared posting list
    with each list split into (corpus docs × batch docs) — only
    cross-side pairs are ever materialized (batch×batch and
    corpus×corpus pairs are skipped entirely, unlike a full self-join
    dedup). Cost is proportional to the batch's shingle postings, not
    the corpus size; the corpus side would be a pre-built inverted
    index at scale.

    Returns one row per dropped batch doc: (doc_id, matched_id, reason)
    with the smallest matching corpus doc and reason ∈ {exact, near}
    (exact wins when both hold)."""
    corpus = corpus.select("doc_id", "text")
    batch = batch.select("doc_id", "text")
    # exact: batch text-hash seen in corpus (min corpus doc per hash)
    ch = corpus.select(
        normalized_text_hash("text").alias("text_hash"),
        F.col("doc_id").alias("corpus_id"),
    ).groupBy("text_hash").agg(F.min("corpus_id").alias("matched_id"))
    bh = batch.select(
        "doc_id", normalized_text_hash("text").alias("text_hash")
    )
    exact = bh.join(ch, "text_hash").select(
        "doc_id", "matched_id", F.lit("exact").alias("reason")
    )
    # near: posting lists over corpus ∪ batch, pairs only across sides
    tagged = corpus.withColumn("is_new", F.lit(False)).unionByName(
        batch.withColumn("is_new", F.lit(True))
    )
    sh = shingles(tagged.select("doc_id", "text"))
    side = tagged.select("doc_id", "is_new")
    posting = (
        sh.join(side, "doc_id")
        .groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.when(~F.col("is_new"), F.col("doc_id")))
            ).alias("old_docs"),
            F.sort_array(
                F.collect_list(F.when(F.col("is_new"), F.col("doc_id")))
            ).alias("new_docs"),
        )
        .filter(
            (F.size("old_docs") + F.size("new_docs")) <= JACCARD_MAX_DOC_FREQ
        )
        .localCheckpoint(eager=False)
    )
    sizes = (
        posting.select(
            F.explode(F.concat("old_docs", "new_docs")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    cross = F.flatten(
        F.transform(
            F.col("new_docs"),
            lambda n: F.transform(
                F.col("old_docs"),
                lambda o: F.struct(n.alias("doc_id"), o.alias("corpus_id")),
            ),
        )
    )
    common = (
        posting.filter((F.size("old_docs") >= 1) & (F.size("new_docs") >= 1))
        .select(F.explode(cross).alias("p"))
        .select("p.doc_id", "p.corpus_id")
        .groupBy("doc_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sn = sizes.select(F.col("doc_id"), F.col("n_sh").alias("nn"))
    so = sizes.select(
        F.col("doc_id").alias("corpus_id"), F.col("n_sh").alias("no")
    )
    near = (
        common.join(sn, "doc_id")
        .join(so, "corpus_id")
        .filter(
            CLUSTER_JACCARD_DEN * F.col("n_common")
            >= CLUSTER_JACCARD_NUM
            * (F.col("nn") + F.col("no") - F.col("n_common"))
        )
        .groupBy("doc_id")
        .agg(F.min("corpus_id").alias("matched_id"))
        .select("doc_id", "matched_id", F.lit("near").alias("reason"))
    )
    # exact wins when a doc matches both ways; otherwise smallest
    # matched_id ("exact" < "near" sorts first in the struct)
    return (
        exact.unionByName(near)
        .groupBy("doc_id")
        .agg(F.min(F.struct("reason", "matched_id")).alias("m"))
        .select("doc_id", F.col("m.matched_id").alias("matched_id"),
                F.col("m.reason").alias("reason"))
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of :func:`incremental_dedup` on the fixture
    corpus split at doc_id 400. Oracle: SQL mirror of both match paths."""
    t = load(spark, sf_dir)
    corpus = t.documents.filter(F.col("doc_id") < INCREMENTAL_SPLIT_ID)
    batch = t.documents.filter(F.col("doc_id") >= INCREMENTAL_SPLIT_ID)
    return incremental_dedup(corpus, batch)


def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation self-evaluation: for every LSH candidate pair,
    the MinHash-estimated Jaccard (signature agreement rate) next to
    the TRUE shingle-set Jaccard and the signed estimation error — the
    query you run before trusting a banding geometry on a new corpus
    (tune N_HASHES/LSH_BANDS until the observed error and candidate
    recall are acceptable).

    Cross-engine exact: agreement counts and set sizes are integers,
    rates are halfup_div, and the error is one IEEE double subtraction
    (deterministic) — so even this evaluation query carries an oracle.

    Scale: signatures and shingle sets are computed ONCE (lazy
    checkpoints) and only candidate pairs (O(n·bands) by banding, not
    all-pairs) are scored; per-pair work is a 16-row signature merge
    plus one array intersection."""
    t = load(spark, sf_dir)
    sig = minhash_signatures(t.documents).localCheckpoint(eager=False)
    cand = lsh_candidates(t.documents, sig=sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), "i", F.col("mh").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), "i", F.col("mh").alias("mh_b"))
    agree = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "i"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("mh_a") == F.col("mh_b")).cast("long")).alias("n_agree"))
    )
    sets = (
        shingles(t.documents)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("ss"))
        .localCheckpoint(eager=False)
    )
    ja = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    jb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    est = halfup_div(F.col("n_agree"), F.lit(N_HASHES).cast("long"), 6)
    true = halfup_div(F.col("n_common"), F.col("n_union"), 6)
    return (
        agree.join(ja, "doc_a")
        .join(jb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.size(F.array_intersect("ss_a", "ss_b")).cast("long").alias("n_common"),
            (F.size("ss_a") + F.size("ss_b")
             - F.size(F.array_intersect("ss_a", "ss_b"))).cast("long").alias("n_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            "n_common",
            "n_union",
            est.alias("est_jaccard"),
            true.alias("true_jaccard"),
            (est - true).alias("err"),
        )
    )


# ---------------------------------------------------------------------------
# Set-similarity join with prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

#: setsim threshold: token-set Jaccard >= SETSIM_NUM / SETSIM_DEN.
SETSIM_NUM = 9
SETSIM_DEN = 10


#: Below this many documents the token-dictionary ids are minted with
#: one single-partition rank over the vocabulary instead of the
#: 5-stage two-level (range shuffle + local rank + offset broadcast)
#: mint: a small corpus's vocabulary sorts on one core in well under a
#: second, while the two-level chain costs ~1-2s of fixed scheduling
#: latency regardless of size (the r9 sf0.1 regression, VERDICT r9
#: ask #3). Ids are identical either way — any total-order rank of
#: (df, token) yields the same dense ranks.
TOKEN_DICT_TWO_LEVEL_MIN_DOCS = 100_000


def setsim_prefix_join(
    documents: DataFrame,
    num: int = SETSIM_NUM,
    den: int = SETSIM_DEN,
    verify: str = "array",
    n_docs: int | None = None,
) -> DataFrame:
    """All document pairs with distinct-word-token Jaccard ≥ num/den,
    via PREFIX FILTERING (the PPJoin/AllPairs family, Xiao et al. /
    Bayardo et al.) — a different candidate-generation strategy from
    ``q_ngram_jaccard_top_pairs``'s doc-frequency-capped inverted
    index, and the one that stays exact:

    Order every token by ascending global document frequency (rarest
    first; ties by token). A doc whose set has s tokens posts only its
    first ``p = s - ceil(τ·s) + 1`` tokens in that order (its PREFIX).
    Pigeonhole: two sets with J ≥ τ must overlap in ≥ ceil(τ·s) tokens,
    so skipping any p-1 tokens of either set cannot miss all common
    tokens — prefixes of a qualifying pair ALWAYS share a token. The
    inverted index over prefixes alone generates candidates; exact
    intersection counting verifies them. LOSSLESS, unlike a df cap.

    Scale: hot (stopword-like) tokens sort LAST, so they land in
    prefixes only for tiny sets — posting lists stay short without any
    tunable cutoff. ceil(τ·s) in exact integers: (num·s + den - 1) div
    den. One token-df shuffle + one bounded per-doc window + the
    prefix-token equi-join; candidate verification touches only
    candidate pairs. No all-pairs construct anywhere.

    Two exact verification strategies (r7), selected by ``verify``:

    - ``"array"`` (default since r8): each doc's distinct-token array
      is materialized once (cached — both candidate sides read one
      copy) and every candidate pair is verified with ONE codegen
      `array_intersect` — two hash joins at |cand| rows. With the r8
      cache fix this wins on BOTH registered domains: the
      setsim_clusters rep form (|cand| ≫ output; array verify cut the
      50k-doc tier 113s → 38s in r7 already) AND the pair-dense doc
      form (965k output pairs at sf0.1: 3.3s array vs 10.9s explode —
      r7's 38.8-vs-32.1 explode win was an artifact of the docsets
      aggregate being recomputed per join side before it was cached).
    - ``"explode"``: candidates re-exploded to (pair, token) rows and
      re-grouped — skinny rows, no array payload. Kept as the fallback
      for corpora whose token arrays are too wide to cache.

    r9 (the syn100x stage profile put 88% of setsim_clusters' wall in
    this function):

    - **Integer token dictionary.** Tokens map once to dense BIGINT
      ids ordered by (df, token) — the SAME total order the prefix
      scheme ranks by, so ordering by tid alone preserves it — and
      every downstream structure (prefix postings, the candidate
      equi-join + distinct, docsets, array_intersect) runs on 8-byte
      ints instead of ~10-char strings (array_intersect on longs
      measured 2.3x faster than on strings). The output carries doc
      ids and counts only, so results are bit-identical. The id mint
      is a TWO-LEVEL rank over the token dictionary: range-partition
      on (df, token), partition-local row_number, plus broadcast
      cumulative partition offsets — no single-partition sort at any
      vocabulary size (the boundary placement cannot change the ids:
      any range split of a total order yields the same dense ranks).
      r10 (VERDICT r9 ask #3): the two-level mint's ~1-2s of fixed
      scheduling latency dominated at the 5k-doc sf0.1 tier, so
      corpora under ``TOKEN_DICT_TWO_LEVEL_MIN_DOCS`` mint ids with a
      single rank window over the (bounded) vocabulary instead — the
      ids, and therefore all outputs, are identical either way.
    - **Positional filter** (PPJoin, Xiao et al.): a candidate
      occurrence at prefix ranks (rka, rkb) bounds the overlap by
      1 + min(sa - rka, sb - rkb); at a qualifying pair's FIRST shared
      token (in global order) no common token precedes either rank, so
      the bound is valid there and pruning occurrences below
      alpha = ceil(num(sa+sb)/(num+den)) is LOSSLESS while shrinking
      the distinct + verify inputs."""
    from pyspark.sql import Window

    tok = (
        documents.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.col("text"), " "))
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    df_tbl = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if n_docs is None:
        n_docs = documents.count()
    if n_docs < TOKEN_DICT_TWO_LEVEL_MIN_DOCS:
        # small corpus: a bounded vocabulary — one rank window over the
        # dictionary domain (value-domain window, not raw rows; the
        # same bounded-window class as the sketch grids)
        dict_tbl = df_tbl.select(
            "token",
            F.row_number()
            .over(Window.orderBy(F.asc("df"), F.asc("token")))
            .cast("long")
            .alias("tid"),
        )
    else:
        # cached: repartitionByRange SAMPLES its input to place
        # boundaries, so without the cache the token-df aggregate
        # (explode + shuffle) runs twice — once for the sampling pass,
        # once for the range shuffle
        df_tbl = df_tbl.cache()
        # dense integer ids in (df, token) order, minted WITHOUT a
        # single-partition sort (the giant-vocab path):
        # range-partition the dictionary on the order key, rank locally
        # per partition (spark_partition_id as the window key — range
        # partitions are order-contiguous, so local rank + partition
        # offset IS the global dense rank regardless of where the
        # sampled boundaries land), and add cumulative offsets from the
        # per-partition counts (a cumsum over the B-row partition table
        # — the bounded-window class). Every per-row step is
        # distributed; only the B-row offset table sees a global
        # window.
        by_range = df_tbl.repartitionByRange(
            32, F.asc("df"), F.asc("token")
        ).withColumn("pid", F.spark_partition_id())
        local = by_range.withColumn(
            "lrk",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(
                    F.asc("df"), F.asc("token")
                )
            ),
        )
        offsets = (
            by_range.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "off",
                F.coalesce(
                    F.sum("n").over(
                        Window.orderBy("pid").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            .select("pid", "off")
        )
        dict_tbl = local.join(F.broadcast(offsets), "pid").select(
            "token",
            (F.col("off") + F.col("lrk")).cast("long").alias("tid"),
        )
    itok = tok.join(dict_tbl, "token").select("doc_id", "tid")
    # r14 (§2.4 share one exchange): rank AND set size come out of ONE
    # doc_id-partitioned window pass — the old form paid a separate
    # count aggregate plus a join to re-attach it (two extra
    # exchanges). ``ranked`` is the one materialization every
    # downstream branch (prefix build, docsets verify sides) reads;
    # cache(), not localCheckpoint: the CacheManager dedupes by
    # canonical plan, so BOTH sides of every downstream self-join read
    # the one materialization (measured 24s -> 6s on the
    # setsim_clusters rep domain at sf0.1, r8)
    w_doc = Window.partitionBy("doc_id")
    ranked = itok.select(
        "doc_id",
        "tid",
        F.row_number()
        .over(w_doc.orderBy(F.asc("tid")))
        .alias("rk"),
        F.count(F.lit(1)).over(w_doc).alias("s"),
    ).cache()
    # prefix length p = s - ceil(num·s/den) + 1
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("s")
        - F.expr(f"({num} * s + {den} - 1) div {den}")
        + F.lit(1)
    ).select("doc_id", "tid", "s", "rk")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "tid",
        F.col("s").alias("sa"),
        F.col("rk").alias("rka"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "tid",
        F.col("s").alias("sb"),
        F.col("rk").alias("rkb"),
    )
    cand = (
        a.join(b, "tid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J ≥ τ forces den·min ≥ num·max
        .filter(
            F.lit(den) * F.least("sa", "sb")
            >= F.lit(num) * F.greatest("sa", "sb")
        )
        # positional filter: overlap ≤ 1 + min(sa-rka, sb-rkb) at the
        # pair's first shared token; alpha = ceil(num(sa+sb)/(num+den))
        .filter(
            F.lit(1)
            + F.least(
                F.col("sa") - F.col("rka"), F.col("sb") - F.col("rkb")
            )
            >= F.expr(
                f"({num} * (sa + sb) + {num} + {den} - 1) div ({num} + {den})"
            )
        )
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    if verify == "array":
        # consumed by both verify sides — one collect_list aggregate,
        # built from the cached ``ranked`` table so it (a) reads the
        # one materialization and (b) reuses its doc_id hash
        # partitioning: the groupBy needs no second exchange (§2.4)
        docsets = ranked.groupBy("doc_id").agg(
            F.array_sort(F.collect_list("tid")).alias("toks")
        ).cache()
        scored = (
            cand.join(
                docsets.select(
                    F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta")
                ),
                "doc_a",
            )
            .join(
                docsets.select(
                    F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb")
                ),
                "doc_b",
            )
            .withColumn("n_common", F.size(F.array_intersect("ta", "tb")))
        )
    else:
        ta = ranked.select(F.col("doc_id").alias("doc_a"), "tid")
        tb = ranked.select(F.col("doc_id").alias("doc_b"), "tid")
        scored = (
            cand.join(ta, "doc_a")
            .join(tb, ["doc_b", "tid"])
            .groupBy("doc_a", "doc_b", "sa", "sb")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    # exact integer threshold: den·common ≥ num·union
    verified = scored.filter(
        F.lit(den) * F.col("n_common")
        >= F.lit(num) * (F.col("sa") + F.col("sb") - F.col("n_common"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_common"),
        halfup_div(
            F.col("n_common"),
            F.col("sa") + F.col("sb") - F.col("n_common"),
            6,
        ).alias("jaccard"),
    )


def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: exact Jaccard ≥ 0.9 token-set pairs via prefix
    filtering. Oracle: brute-force token-overlap SQL in DuckDB — the
    prefix filter is lossless, so the outputs must match exactly.

    Scale caveat (SCALE.md): the PAIR-LIST output contract is
    inherently quadratic inside duplicate clusters; the scale-safe
    registered form is :func:`setsim_clusters` (linear output)."""
    t = load(spark, sf_dir)
    return setsim_prefix_join(t.documents)


def setsim_clusters(
    documents: DataFrame,
    num: int = SETSIM_NUM,
    den: int = SETSIM_DEN,
    max_iter: int = 20,
) -> DataFrame:
    """Scale-safe form of the set-similarity join: instead of
    materializing every qualifying pair (quadratic inside duplicate
    clusters — a 1M-doc duplicate cluster is 5·10¹¹ pairs), emit one
    row per document with its transitive-closure cluster id. Linear
    output, and — the load-bearing part — the quadratic pair set is
    never materialized even as an intermediate:

    1. **Signature collapse.** Jaccard depends only on the distinct
       token SET, so docs with identical token sets are pairwise J=1.
       Group docs by an order-canonical signature of their sorted token
       list; keep one representative (min doc_id) per signature. A
       1M-doc exact-duplicate cluster collapses to ONE node here —
       this is what kills the measured 107× pair blowup (the fixture's
       duplicate clusters are token-set-identical docs). Same move as
       the part_golden_record distinct-name-domain rewrite.
    2. **Prefix join on the representative domain** (lossless PPJoin,
       :func:`setsim_prefix_join`) — pairs now connect distinct token
       sets only, so within-cluster quadratics are gone; what remains
       is the genuine near-dup structure, which is sparse.
    3. **Connected components** (pointer-doubling min-label, the same
       operator dedup_clusters uses) over representative nodes + the
       verified signature-level edges.
    4. Broadcast labels back doc → signature → representative → comp.

    Docs whose token set is EMPTY stay singletons (Jaccard 0/0 is
    undefined, the pairwise query emits nothing for them), so they get
    per-doc unique signatures rather than sharing the empty one.

    cluster_id = min doc_id in the component (each representative is
    the min doc of its signature group and CC takes the min label, so
    the min rep IS the min doc). The signature string never leaves the
    engine, so its exact form needs no cross-engine portability.

    Output: (doc_id, cluster_id, cluster_size, is_canonical) — one row
    per document, exactly `dedup_clusters`' shape."""
    docs = documents.select("doc_id", "text")
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.col("text"), " "))
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    sig = tok.groupBy("doc_id").agg(
        # space-joined: tokens were produced by splitting on space, so
        # no token can contain one — the signature is injective on
        # token sets by construction (no separator-collision caveat)
        F.md5(
            F.concat_ws(" ", F.array_sort(F.collect_list("token")))
        ).alias("sig")
    )
    doc_sig = (
        docs.select("doc_id")
        .join(sig, "doc_id", "left")
        .withColumn(
            "sig",
            F.coalesce(
                F.col("sig"), F.concat(F.lit("empty:"), F.col("doc_id"))
            ),
        )
        # consumed twice (reps build + label-back join) — cache, so
        # each consumer reads the one materialized token explode+sort
        # (plan-keyed dedupe; a lazy checkpoint persisted only after
        # each branch had already recomputed the subtree)
        .cache()
    )
    reps = doc_sig.groupBy("sig").agg(F.min("doc_id").alias("rep"))
    # consumed 3x (rep_docs semi-join, CC nodes, label-back join)
    reps = reps.cache()
    rep_docs = documents.join(
        reps.select(F.col("rep").alias("doc_id")), "doc_id", "left_semi"
    )
    # n_docs picks the id-mint path only (ids identical either way) —
    # pass the RAW corpus count (a metadata-only parquet count) as the
    # upper bound instead of letting the prefix join count rep_docs,
    # which would run the whole signature+semi-join pipeline eagerly
    # as a separate throwaway pass
    edges = setsim_prefix_join(
        rep_docs, num, den, verify="array", n_docs=documents.count()
    ).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = reps.select(F.col("rep").alias("id"))
    comp = connected_components(nodes, edges, max_iter)
    labeled = (
        doc_sig.join(reps, "sig")
        .join(comp, F.col("rep") == F.col("id"))
        .select("doc_id", F.col("comp").alias("cluster_id"))
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def q_setsim_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: transitive-closure clustering of the exact
    Jaccard ≥ 0.9 set-similarity graph, linear output (the scale-safe
    replacement for `setsim_prefix_join`'s pair list). Oracle: DuckDB
    recursive-CTE reachability over the brute-force verified pairs."""
    t = load(spark, sf_dir)
    return setsim_clusters(t.documents)


# ---------------------------------------------------------------------------
# Exact repeated-substring dedup (ExactSubstr, Lee et al. 2022 shape)
# ---------------------------------------------------------------------------

#: Repeated-span length (tokens): a token is removed iff it is covered
#: by a duplicated SUBSTR_L-token span occurrence that is not that
#: span's canonical (first) occurrence.
SUBSTR_L = 20


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT repeated-substring deduplication — the span-level dedup
    of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al.), distinct from every document-level family above: it
    removes duplicated PASSAGES while keeping the rest of each doc.

    Contract (deterministic, engine-portable): tokenize by single
    space keeping positions; every SUBSTR_L-token window is a span
    occurrence keyed by the md5 of its space-joined tokens (injective
    — tokens cannot contain the joiner). A span with ≥ 2 occurrences
    corpus-wide keeps only its CANONICAL occurrence (smallest
    (doc_id, pos), packed as doc_id·10⁹ + pos); every token covered
    by any non-canonical duplicated occurrence is removed. Overlapping
    long duplicates fall out naturally: a repeated span of length
    > L is a run of overlapping duplicated L-windows, so the whole
    run (minus the canonical copy) is removed. Docs shorter than L
    have no windows and are untouched.

    Output per document: (doc_id, n_tokens, n_removed, n_kept,
    kept_hash) — kept_hash is the md5 of the space-rejoined surviving
    tokens in position order, so the gate hash-checks the exact
    RECONSTRUCTED text, not just counts.

    Scale: windows ≈ one row per token (the suffix-array build of the
    paper maps to this posting shape in a shuffle engine); the only
    wide ops are the span-hash groupBy and the coverage anti-join —
    coverage explodes ONLY removed occurrences (×L), bounded by the
    corpus' true duplication mass, never by corpus size."""
    L = SUBSTR_L
    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", F.split("text", " ").alias("tk"))
    docs = docs.cache()  # windows + token sides
    starts = F.when(
        F.size("tk") >= L, F.sequence(F.lit(0), F.size("tk") - L)
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id",
        F.explode(starts).alias("pos"),
        F.col("tk"),
    ).select(
        "doc_id",
        "pos",
        (F.col("doc_id") * F.lit(1_000_000_000).cast("long") + F.col("pos"))
        .alias("ok"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("tk"), F.col("pos") + 1, L))
        ).alias("gh"),
    )
    counts = grams.groupBy("gh").agg(
        F.count(F.lit(1)).alias("n"), F.min("ok").alias("canon")
    )
    rem = (
        grams.join(counts, "gh")
        .filter((F.col("n") >= 2) & (F.col("ok") != F.col("canon")))
        .select("doc_id", "pos")
    )
    covered = rem.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))
        ).alias("tpos"),
    ).distinct()
    tokens = docs.select(
        "doc_id", F.posexplode("tk").alias("tpos", "token")
    )
    kept = tokens.join(covered, ["doc_id", "tpos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "token"))),
                    lambda s: s["token"],
                ),
            )
        ).alias("kept_hash"),
    )
    base = docs.select(
        "doc_id", F.size("tk").cast("long").alias("n_tokens")
    )
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("kept_hash", F.lit(empty_md5)).alias("kept_hash"),
    )


#: ExactSubstr minimum duplicated-span length in tokens. Deliberately
#: shorter than SUBSTR_L (20) so the maximal-span merge has visible
#: variable-length structure on the fixture corpus (~2.1k duplicated
#: 8-token window starts at sf0.01 merge into islands of 8..40+
#: tokens); the paper's 50-BPE-token threshold maps to a config knob.
EXSUB_L = 8


def q_exactsubstr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTSUBSTR with ARBITRARY-LENGTH maximal duplicated spans
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — the suffix-array ExactSubstr variant; VERDICT r10
    ask #7): remove from EVERY document every substring of ≥ EXSUB_L
    tokens that occurs verbatim more than once corpus-wide (the
    paper's strict remove-all-occurrences rule — a duplicated span is
    memorization risk wherever it sits), and report the removals as
    MAXIMAL variable-length spans, not fixed windows.

    How fixed windows become arbitrary-length spans: a duplicated
    passage of length M ≥ L is exactly a run of M−L+1 duplicated
    L-windows, so (1) mark every position covered by some duplicated
    window — a per-doc running ``max`` over the trailing L−1 window
    starts, NO ×L coverage explode (the `q_substring_dedup` coverage
    join explodes removed occurrences ×L; this window form is the
    plan that survives heavy duplication mass) — then (2) merge
    covered runs into maximal islands by the gaps-and-islands
    ``pos − row_number`` trick. The island table IS the suffix-array
    output shape: (doc, span_start, span_len) with span_len free to
    be any value ≥ L.

    Differences from `q_substring_dedup` (which stays registered):
    that operator keeps one canonical occurrence per fixed window;
    this one implements the paper's remove-everywhere semantics at
    maximal-span grain and reports span structure (n_spans,
    max_span_len) so the dedup family covers both policies.

    Output per document: (doc_id, n_tokens, n_spans, max_span_len,
    n_removed, kept_hash) — kept_hash is the md5 of the space-rejoined
    SURVIVING tokens in position order, so the gate hash-checks the
    exact reconstructed text against the DuckDB twin.

    Scale: one row per token; wide ops are the window-hash groupBy
    (linear, keyed by 16-byte md5) and per-doc windows (partitioned by
    doc_id, frames ≤ L rows). Nothing is quadratic in corpus size and
    nothing explodes beyond token grain."""
    from pyspark.sql import Window

    L = EXSUB_L
    t = load(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.split("text", " ").alias("tk")
    ).cache()
    starts = F.when(
        F.size("tk") >= L, F.sequence(F.lit(0), F.size("tk") - L)
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id",
        F.explode(starts).alias("pos"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("tk"), F.col("pos") + 1, L))
        ).alias("gh"),
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("gh")
    )
    dup_starts = grams.join(dup, "gh").select(
        "doc_id", F.col("pos").alias("tpos"), F.lit(1).alias("ds")
    )
    tokens = docs.select(
        "doc_id", F.posexplode("tk").alias("tpos", "token")
    )
    w_cov = (
        Window.partitionBy("doc_id")
        .orderBy("tpos")
        .rowsBetween(-(L - 1), Window.currentRow)
    )
    cov = (
        tokens.join(dup_starts, ["doc_id", "tpos"], "left")
        .withColumn("ds", F.coalesce("ds", F.lit(0)))
        .withColumn("covered", F.max("ds").over(w_cov))
        .localCheckpoint(eager=False)  # feeds spans AND survivors
    )
    w_rn = Window.partitionBy("doc_id").orderBy("tpos")
    spans = (
        cov.filter(F.col("covered") == 1)
        .withColumn("grp", F.col("tpos") - F.row_number().over(w_rn))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("span_len"))
    )
    span_agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("span_len").cast("long").alias("max_span_len"),
        F.sum("span_len").cast("long").alias("n_removed"),
    )
    kept_agg = (
        cov.filter(F.col("covered") == 0)
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("tpos", "token"))
                        ),
                        lambda s: s["token"],
                    ),
                )
            ).alias("kept_hash")
        )
    )
    base = docs.select(
        "doc_id", F.size("tk").cast("long").alias("n_tokens")
    )
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    zero = F.lit(0).cast("long")
    return (
        base.join(span_agg, "doc_id", "left")
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", zero).alias("n_spans"),
            F.coalesce("max_span_len", zero).alias("max_span_len"),
            F.coalesce("n_removed", zero).alias("n_removed"),
            F.coalesce("kept_hash", F.lit(empty_md5)).alias("kept_hash"),
        )
    )


#: (bands, rows-per-band) operating points sharing the 16-hash
#: signature: fewer/wider bands tighten the candidate filter (high
#: precision, lower recall), more/narrower bands loosen it.
LSH_TUNING_CONFIGS = ((2, 8), (4, 4), (8, 2))


def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured banding trade-off table for MinHash LSH: for each
    (bands, rows-per-band) split of the SAME 16-hash signatures, the
    number of colliding buckets and of distinct candidate pairs the
    banding emits on this corpus. This is the empirical S-curve the
    production (4, 4) choice rests on — at 100 TB you pick (b, r) from
    this table at a sample scale, because candidate volume IS the cost
    of the downstream verify stage.

    One shingle→minhash pipeline feeds every configuration (lazily
    checkpointed); per config the work is one groupBy over the
    signature table plus two bounded 1-row stat aggregates (the
    whitelisted scalar-broadcast shape)."""
    t = load(spark, sf_dir)
    sig = minhash_signatures(t.documents).localCheckpoint(eager=False)
    out = None
    for n_bands, rows_per_band in LSH_TUNING_CONFIGS:
        banded = (
            sig.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
            .groupBy("doc_id", "band")
            .agg(
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("i", "mh"))),
                            lambda s: s["mh"].cast("string"),
                        ),
                    )
                ).alias("band_key")
            )
            .localCheckpoint(eager=False)
        )
        n_pairs = _bucket_pairs(banded, ["band", "band_key"], "doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        )
        n_shared = (
            banded.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") >= 2)
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_buckets"))
        )
        row = (
            n_pairs.crossJoin(F.broadcast(n_shared))
            .select(
                F.lit(n_bands).cast("int").alias("n_bands"),
                F.lit(rows_per_band).cast("int").alias("rows_per_band"),
                "n_shared_buckets",
                "n_candidate_pairs",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_bbit_minhash_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (Li & König 2010), b = 1: keep only the LOWEST BIT
    of each MinHash value — a 64× smaller signature — and recover
    Jaccard from the 1-bit agreement rate via Ĵ = 2·A − 1 (for b = 1
    the two sides collide by chance half the time, so agreement is
    1/2 + J/2). THE storage trade-off study for planet-scale dedup:
    this operator scores every LSH candidate pair with the 1-bit
    estimator NEXT TO the true shingle Jaccard, so the precision cost
    of the 64× compression is measured, not assumed.

    Exactness: with N_HASHES = 16, Ĵ·10⁶ = (2·agree − 16)·62500 — a
    pure integer multiplication, no division at all (10⁶/16 is exact);
    the signed error vs the half-up true Jaccard is one deterministic
    IEEE double subtraction (the ``minhash_estimate_error``
    convention).

    Scale: identical candidate geometry to ``minhash_estimate_error``
    (banded LSH, never all-pairs); per-pair work is a 16-row signature
    merge plus one array intersection.

    Output: (doc_a, doc_b, n_agree_1bit, est_1bit_micro, true_jaccard,
    err)."""
    t = load(spark, sf_dir)
    sig = minhash_signatures(t.documents).localCheckpoint(eager=False)
    cand = lsh_candidates(t.documents, sig=sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), "i", F.col("mh").alias("mh_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), "i", F.col("mh").alias("mh_b")
    )
    agree = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "i"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                (F.pmod(F.col("mh_a"), F.lit(2)) == F.pmod(F.col("mh_b"), F.lit(2)))
                .cast("long")
            ).alias("n_agree_1bit")
        )
    )
    sets = (
        shingles(t.documents)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("ss"))
        .localCheckpoint(eager=False)
    )
    ja = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    jb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    est_micro = (
        (F.lit(2) * F.col("n_agree_1bit") - F.lit(N_HASHES))
        * F.lit(1_000_000 // N_HASHES)
    ).cast("long")
    true_j = halfup_div(
        F.size(F.array_intersect("ss_a", "ss_b")).cast("long"),
        (
            F.size("ss_a")
            + F.size("ss_b")
            - F.size(F.array_intersect("ss_a", "ss_b"))
        ).cast("long"),
        6,
    )
    return (
        agree.join(ja, "doc_a")
        .join(jb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree_1bit",
            est_micro.alias("est_1bit_micro"),
            true_j.alias("true_jaccard"),
            (est_micro.cast("double") / F.lit(1e6) - true_j).alias("err"),
        )
    )


#: CDC geometry: 8-char rolling window, boundary when the window hash
#: has 6 trailing-zero bits (expected chunk ~64 chars). Stateless
#: (no greedy min-length), so boundary detection is position-parallel
#: — the property that makes it one narrow scan.
CDC_WINDOW = 8
CDC_MASK = 64
CDC_TOP = 20


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING storage-dedup audit — the chunk-store
    view of the corpus (LBFS, Muthitacharoen et al. 2001; the scheme
    under every dedup filesystem and artifact store): cut each
    document where the rolling 8-char window hash has
    log2(``CDC_MASK``) trailing zero bits, so a byte insertion only
    reshifts boundaries LOCALLY (fixed-width blocking would reshift
    every later block — the whole point of CDC). Boundaries are
    STATELESS here (no greedy min-length), which makes detection a
    pure per-position predicate — one narrow scan, no sequential
    fold — at the cost of occasional short chunks (documented; the
    greedy variant is a sequential refinement).

    Portable: the window hash is ``portable_hash64``, chunk identity
    is md5 of the chunk text — both engines cut identical boundaries
    and the DuckDB twin hash-matches the chunk store exactly.

    Scale: boundary detection + chunk explode are map-side
    (array-side lambdas inside codegen); the chunk-store rollup is
    one map-side-combinable aggregate at chunk-hash grain — the
    `chunk_dedup` shape with content-defined spans.

    Output: ``CDC_TOP`` rows (chunk_md5, chunk_len, n_docs, n_occ),
    most-shared first + attached (total_chunks, distinct_chunks,
    stored_ratio_ppm = distinct/total)."""
    from ..catalog import load
    from ..functions import _idiv

    from ..catalog import spread_scan

    t = load(spark, sf_dir)
    w, m = CDC_WINDOW, CDC_MASK
    bounds = F.expr(
        f"""concat(
          array(0L),
          transform(filter(sequence({w}, length(text)),
            p -> pmod(CAST(conv(substring(md5(
                   substring(text, p - {w - 1}, {w})), 1, 15), 16, 10)
                 AS BIGINT), {m}) = 0), p -> CAST(p AS BIGINT)),
          array(CAST(length(text) AS BIGINT)))"""
    )
    # the rolling-hash kernel is one md5 PER CHARACTER POSITION — by
    # far the heaviest per-row map in the dedup family; spread the
    # single-row-group scan so it runs on every core (guide §2.5)
    chunks = (
        spread_scan(t.documents.select("doc_id", "text"))
        .filter(F.length("text") >= CDC_WINDOW)
        .select("doc_id", "text", bounds.alias("bs"))
        .select(
            "doc_id",
            "text",
            F.explode(
                F.expr(
                    "filter(transform(sequence(1, size(bs) - 1), "
                    "i -> struct(bs[i - 1] AS lo, bs[i] AS hi)), "
                    "s -> s.hi > s.lo)"
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.md5(
                F.expr("substring(text, s.lo + 1, CAST(s.hi - s.lo AS INT))")
            ).alias("chunk_md5"),
            (F.col("s.hi") - F.col("s.lo")).alias("chunk_len"),
        )
    )
    # consumed twice (store stats + top-k) — cache so the md5 kernel
    # and chunk rollup run once, not once per consumer
    store = chunks.groupBy("chunk_md5", "chunk_len").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
    ).cache()
    stats = store.agg(
        F.sum("n_occ").cast("long").alias("total_chunks"),
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
    ).select(
        "total_chunks",
        "distinct_chunks",
        _idiv(
            F.col("distinct_chunks") * F.lit(1_000_000),
            F.col("total_chunks"),
        ).alias("stored_ratio_ppm"),
    )
    return (
        store.orderBy(
            F.desc("n_occ"), F.desc("n_docs"), F.asc("chunk_md5")
        )
        .limit(CDC_TOP)
        .crossJoin(F.broadcast(stats))
        .select(
            "chunk_md5",
            "chunk_len",
            "n_docs",
            "n_occ",
            "total_chunks",
            "distinct_chunks",
            "stored_ratio_ppm",
        )
    )
