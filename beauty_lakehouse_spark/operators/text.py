"""Text-analysis operators over the documents table (north-star
extension: language-ID, quality scoring, token counting,
fingerprinting). All JVM-side column expressions — no UDFs.

Scale notes: every query here is a narrow projection + one aggregate or
none; linear scans that whole-stage-codegen into a single stage. The
only shuffle is the final groupBy where present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, spread_scan
from ..functions import halfup_div, ln_micro, portable_hash64

# Tiny deterministic stopword sets (heuristic n-gram/lexicon language ID;
# parity with the oracle matters more than linguistic accuracy).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "los", "las", "y", "es", "una"],
}


def _tok(df: DataFrame) -> DataFrame:
    # spread the single-row-group corpus scan before the per-row token
    # kernels downstream (guide §2.5; no-op on multi-split scans)
    return spread_scan(
        df.select(
            "doc_id", "lang", "source", "n_chars",
            F.split("text", " ").alias("toks"),
        )
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token counts, type-token ratio,
    average token length, chars-per-token — the standard cheap quality
    signals of a training-data pipeline."""
    t = load(spark, sf_dir)
    d = _tok(t.documents)
    return d.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        halfup_div(F.size(F.array_distinct("toks")), F.size("toks"), 6).alias("ttr"),
        halfup_div(
            F.aggregate(
                F.transform(F.col("toks"), lambda s: F.length(s).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            F.size("toks"),
            6,
        ).alias("avg_token_len"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace tokens plus a
    BPE-ish subword estimate (ceil(chars/4) — the standard ~4 chars per
    token heuristic)."""
    t = load(spark, sf_dir)
    d = _tok(t.documents)
    per_doc = d.select(
        "source",
        F.size("toks").alias("n_tokens"),
        F.ceil(F.col("n_chars") / 4).alias("est_bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("est_bpe").alias("total_est_bpe"),
        halfup_div(F.sum("n_tokens"), F.count(F.lit(1)), 6).alias("avg_tokens"),
    )


#: EN stopwords reused for the quality stopword-ratio signal.
_QUALITY_STOPWORDS = STOPWORDS["en"]


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: the cheap heuristics every training-data
    pipeline filters on — length, punctuation density, stopword ratio,
    alphanumeric ratio. Single narrow scan, no shuffle."""
    t = load(spark, sf_dir)
    d = _tok(t.documents)
    alnum_len = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda s: s.isin(*_QUALITY_STOPWORDS))
    )
    return t.documents.join(d.select("doc_id", "toks"), "doc_id").select(
        "doc_id",
        F.length("text").alias("len_chars"),
        halfup_div(
            F.length("text") - alnum_len, F.length("text"), 6
        ).alias("punct_ratio"),
        halfup_div(stop_hits, F.size("toks"), 6).alias("stopword_ratio"),
        halfup_div(alnum_len, F.length("text"), 6).alias("alnum_ratio"),
    )


def stopword_scores(toks) -> dict:
    """lang code -> stopword-hit-count Column over a token-array
    expression. Shared by q_lang_id and curation's cleaning pipeline so
    the decision rule exists exactly once."""

    # A two-parameter lambda would be treated as the (element, index)
    # binary form of F.filter, binding the index Column to the default —
    # close over the word list with a factory instead.
    def _hits(ws: list[str]):
        return lambda s: s.isin(*ws)

    return {
        code: F.size(F.filter(toks, _hits(words)))
        for code, words in STOPWORDS.items()
    }


def pred_lang_expr(scores: dict):
    """Argmax language prediction from per-language score Columns:
    deterministic tie order en>de>fr>es, 'und' when all zero — THE
    language-ID decision rule (single definition; DuckDB oracles mirror
    it as a CASE chain)."""
    best = F.greatest(*scores.values())
    return (
        F.when(best == 0, F.lit("und"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["de"] == best, F.lit("de"))
        .when(scores["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-overlap language ID: count stopword hits per language,
    predict the argmax (deterministic tie order en>de>fr>es, 'und' when
    all zero); reports agreement with the labeled lang column."""
    t = load(spark, sf_dir)
    d = _tok(t.documents)
    scores = d.select(
        "doc_id",
        "lang",
        *[
            expr.alias(f"score_{code}")
            for code, expr in stopword_scores(F.col("toks")).items()
        ],
    )
    pred = pred_lang_expr({c: F.col(f"score_{c}") for c in STOPWORDS})
    return scores.select(
        "doc_id",
        "lang",
        *[f"score_{c}" for c in STOPWORDS],
        pred.alias("pred_lang"),
    ).withColumn("agree", F.col("pred_lang") == F.col("lang"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: the 4 smallest portable hashes of the
    word-3-gram shingle set (a winnowing-style selection — stable under
    reordering-free edits, cheap to index)."""
    from .dedup import shingles

    t = load(spark, sf_dir)
    sh = shingles(t.documents).select(
        "doc_id", portable_hash64(F.col("shingle")).alias("h")
    )
    return (
        sh.groupBy("doc_id")
        .agg(F.slice(F.array_sort(F.collect_list("h")), 1, 4).alias("mins"))
        .select(
            "doc_id",
            F.element_at("mins", 1).alias("fp0"),
            F.element_at("mins", 2).alias("fp1"),
            F.element_at("mins", 3).alias("fp2"),
            F.element_at("mins", 4).alias("fp3"),
        )
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, oracle-matched.

    The score is ``tf · ln_micro(N, df)`` — idf in integer micro-nats
    via the fixed-point shift-and-square log (``functions.ln_micro``),
    NOT float ``ln()`` (which differs between JVM and DuckDB in the
    last ulp on ~8% of values and kept this query rows-only through
    round 4). Both engines now run the identical integer algorithm, so
    scores — and therefore the top-3 ranking — hash-match exactly.

    Shape: explode → tf groupBy (map-side combinable) → df groupBy on
    the term dictionary (small) → idf computed per TERM (dictionary
    scale, not corpus scale) → broadcast back. Linear, two shuffles,
    no UDFs."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    terms = _tok(t.documents).select(
        "doc_id", F.explode("toks").alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast 1-row aggregate (scalar-subquery style)
    # instead of an eager driver-side count() — one job, not two
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        df_.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            ln_micro(F.col("n_docs"), F.col("df")).alias("idf_unats"),
        )
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.col("idf_unats")).alias("score_unats"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_unats"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_unats",
                F.col("rk").cast("int").alias("rk"))
    )


#: PII patterns — intersection of Java-regex and RE2 syntax (no
#: lookaround, no backreferences) so Spark and the DuckDB oracle match
#: byte-for-byte. Heuristic by design: a curation pipeline wants recall
#: on obvious identifiers, not a validator.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{2,4}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scan: match counts per pattern class plus the
    md5 of the redacted text (each class replaced by a sentinel), the
    signal a curation pipeline filters or scrubs on.

    Scale: narrow scan, three regex passes per row, all inside
    whole-stage codegen — linear and shuffle-free. The redacted-text
    hash (not the redacted text itself) keeps the output row narrow."""
    t = load(spark, sf_dir)
    red = F.col("text")
    for cls, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{cls}>")
    return t.documents.select(
        "doc_id",
        *[
            # long, pairing with the oracle's BIGINT (typetags.py)
            F.size(F.regexp_extract_all("text", F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{cls}")
            for cls, pat in PII_PATTERNS.items()
        ],
        F.md5(red).alias("redacted_hash"),
    ).withColumn(
        "has_pii",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0,
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: per doc, total
    vs distinct word-2-gram counts, the frequency of the single most
    repeated 2-gram, and a repetitive flag (duplicate-2-gram fraction
    > 1/5, integer cross-multiplication — no float threshold).

    Scale: entirely array-side — the 2-gram list is built, sorted, and
    run-length-scanned per row with higher-order functions, so the plan
    is ONE narrow scan with ZERO exchanges (asserted by a plan test).
    Memory is bounded by the largest single document (~3x its text
    size); for pathological multi-GB documents an explode + two-level
    groupBy variant distributes within the doc, at the cost of
    shuffling the gram stream — the wrong default."""
    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    # max run length over the sorted gram list == max frequency
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            grams.alias("g"),
        )
        .select(
            "doc_id",
            F.size("g").cast("long").alias("n_grams"),
            F.size(F.array_distinct("g")).cast("long").alias("n_distinct_grams"),
            F.aggregate(F.array_sort("g"), zero, step, lambda a: a["best"]).alias(
                "top_gram_freq"
            ),
        )
        .withColumn(
            "repetitive",
            (F.col("n_grams") - F.col("n_distinct_grams")) * 5 > F.col("n_grams"),
        )
    )


FUZZY_MAX_DISTANCE = 4


def fuzzy_name_pairs(part: DataFrame, max_dist: int = FUZZY_MAX_DISTANCE):
    """Name-level fuzzy pairs: DISTINCT part names blocked on first
    token, verified with thresholded levenshtein. The distinct-value
    rewrite is THE scale lever for fuzzy matching over a categorical
    attribute: edit distance is a function of the names alone, and the
    name domain is tiny relative to the row count (64 distinct names
    across 20k parts at sf0.1), so the quadratic runs over |names per
    block|², not |rows per block|² — first measured at 25M candidate
    row pairs / 41.9s at sf0.1, now 224 name pairs. Row-level results
    are recovered by joining the name-pair table back to the rows,
    which is linear. The thresholded ``levenshtein(a, b, t)`` variant
    early-exits the DP at cost O(t·min(len)) instead of O(len²)."""
    names = part.select("p_name").distinct()
    blocked = names.select(
        F.split("p_name", " ").getItem(0).alias("block"), "p_name"
    )
    a = blocked.select("block", F.col("p_name").alias("name_a"))
    b = blocked.select("block", F.col("p_name").alias("name_b"))
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b", max_dist).alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 1) & (F.col("edit_dist") <= max_dist))
    )


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching with blocking: part-name pairs within
    edit distance ≤ 4, generated per first-token block — the
    entity-resolution primitive.

    Candidate generation runs on the DISTINCT-NAME domain
    (``fuzzy_name_pairs``): levenshtein cost is |name pairs| (88 at
    sf0.1), and the broadcast name-pair table expands back to row
    pairs with two linear joins; TakeOrdered bounds the report. Output
    is identical to the row-level blocked join — edit distance depends
    only on the names."""
    t = load(spark, sf_dir)
    named = t.part.select("p_partkey", "p_name")
    np_ = F.broadcast(fuzzy_name_pairs(named))
    a = named.select(
        F.col("p_partkey").alias("part_a"), F.col("p_name").alias("name_a")
    )
    b = named.select(
        F.col("p_partkey").alias("part_b"), F.col("p_name").alias("name_b")
    )
    return (
        np_.join(a, "name_a")
        .join(b, "name_b")
        # the blocked row-level join never paired equal keys; the
        # name-level rewrite never generates them (name_a < name_b
        # implies different parts), so ordering is the only residue
        .select(
            F.least("part_a", "part_b").alias("part_a"),
            F.greatest("part_a", "part_b").alias("part_b"),
            "edit_dist",
        )
        .orderBy(F.asc("edit_dist"), F.asc("part_a"), F.asc("part_b"))
        .limit(200)
    )


TOP_TERMS_K = 50


def q_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: top-50 tokens by document frequency
    (+ total occurrences). One explode → one partial-merge groupBy →
    TakeOrdered; ties broken lexicographically. At 100 TB the same
    plan holds — the aggregate output is |vocabulary| rows, and
    map-side combine absorbs the per-doc repetition before the
    shuffle. (The approximate path for unbounded vocabularies is a
    count-min sketch; exact counts ARE feasible for word-level vocab.)"""
    t = load(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    counted = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counted.orderBy(
        F.desc("n_occurrences"), F.asc("term")
    ).limit(TOP_TERMS_K)


#: BPE-style piece pattern: alnum runs | single non-alnum-non-space.
#: Deliberately class-only (no \s, no lookaround) so Java regex (Spark)
#: and RE2-flavored engines tokenize identically.
TOKEN_PIECE_PATTERN = "[a-z0-9]+|[^a-z0-9 ]"


#: q_bpe_pair_counts: report the top candidate merges of the first
#: BPE round.
BPE_TOP_PAIRS = 30


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of a BPE tokenizer-training round: corpus
    word frequencies, then every adjacent character pair inside each
    distinct word weighted by that word's corpus frequency — the top
    pair is the merge a BPE trainer would perform next. Reports the
    top candidates by merge weight.

    Scale: pair statistics are computed over the DISTINCT-WORD
    vocabulary (|vocab| rows, ~Heaps-law sublinear in corpus size),
    never over the token stream — the corpus-frequency groupBy is the
    only full-stream shuffle, and it is partial-aggregated map-side.
    Subsequent merge rounds reuse the same plan over the re-segmented
    vocabulary (iterate on the |vocab|-row table, not the corpus)."""
    t = load(spark, sf_dir)
    vocab = (
        t.documents.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.filter(F.length("token") >= 2).select(
        "token",
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").alias("weight"),
            F.countDistinct("token").alias("n_token_types"),
        )
        .orderBy(F.desc("weight"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


#: Corpus bigram count at or below which a bigram counts as "rare" for
#: the novelty score.
RARE_BIGRAM_MAX = 5


def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model novelty signal: per document, how many of
    its word bigrams are rare in the corpus (count ≤ RARE_BIGRAM_MAX).
    High rare-bigram rate flags out-of-distribution or noisy text —
    the portable (log-free, hence oracle-exact) core of perplexity
    filtering; a real LM score replaces `rare` with -log p(gram).

    Scale: bigram stream → corpus-count groupBy (map-side combinable,
    |distinct bigrams| output) → broadcast-friendly join back. Docs
    with fewer than 2 tokens carry no bigrams and are excluded, same
    as the oracle."""
    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    per_doc = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        # consumed twice (corpus counts + the join back): materialize
        # once instead of re-running the scan+explode on both sides
        .cache()
    )
    counts = per_doc.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    joined = per_doc.join(counts, "gram")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                (F.col("n") <= RARE_BIGRAM_MAX).cast("long")
            ).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            halfup_div(F.col("n_rare"), F.col("n_bigrams"), 6).alias("rare_rate"),
        )
    )


#: Boilerplate = a 5-gram appearing in at least this many distinct docs.
BOILERPLATE_NGRAM = 5
BOILERPLATE_MIN_DOCS = 2
BOILERPLATE_TOP_K = 100


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the CCNet/C4 cleanup
    step): word 5-grams shared by ≥ BOILERPLATE_MIN_DOCS distinct
    documents — headers, footers, and template fragments a curation
    pipeline strips before dedup. Reports the most widespread.

    Scale: per-doc DISTINCT shingles (array-side, no pre-shuffle
    blowup) → doc-frequency groupBy (partial-merge) → TakeOrdered.
    Identical shape to the dedup posting-list build, so at 100 TB it
    shares that path's economics: output is |distinct shingles|,
    bounded, and the hot-shingle head is exactly what this query
    reports."""
    from .dedup import shingles

    t = load(spark, sf_dir)
    sh = shingles(t.documents, n=BOILERPLATE_NGRAM)
    return (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(BOILERPLATE_TOP_K)
    )


def q_regex_token_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex tokenization (the BPE-pretokenizer shape: word runs split
    from punctuation) with per-source piece accounting — a JVM-side
    `regexp_extract_all`, no UDF. Compare with q_token_counts'
    whitespace tokens: pieces ≥ tokens, the delta is punctuation."""
    t = load(spark, sf_dir)
    per_doc = t.documents.select(
        "source",
        F.size(
            F.regexp_extract_all("text", F.lit(TOKEN_PIECE_PATTERN), F.lit(0))
        ).alias("n_pieces"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pieces").alias("total_pieces"),
        F.max("n_pieces").alias("max_pieces"),
    )


#: Full BPE training: number of merge rounds the flagship trainer runs.
BPE_MERGES = 12


def _apply_merge(sym: Column, a: str, b: str) -> Column:
    """Greedy left-to-right replacement of the adjacent symbol pair
    (a, b) with the merged symbol a||b inside one symbol array — the
    merge-application step of BPE, as a pure ``aggregate`` fold
    (state = (emitted symbols, pending symbol); a merge swallows the
    pending symbol into the merged one, which — being strictly longer
    than ``a`` — can never itself re-merge in the same pass, exactly
    the scan semantics of the reference Python implementation)."""
    la, lb = F.lit(a), F.lit(b)

    def step(st: Column, s: Column) -> Column:
        is_merge = (st["prev"] == la) & (s == lb)
        return F.struct(
            F.when(is_merge, st["out"])
            .otherwise(
                F.when(st["prev"].isNull(), st["out"]).otherwise(
                    F.concat(st["out"], F.array(st["prev"]))
                )
            )
            .alias("out"),
            F.when(is_merge, F.concat(st["prev"], s)).otherwise(s).alias("prev"),
        )

    def finish(st: Column) -> Column:
        return F.when(st["prev"].isNull(), st["out"]).otherwise(
            F.concat(st["out"], F.array(st["prev"]))
        )

    init = F.struct(
        F.expr("CAST(array() AS array<string>)").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    return F.aggregate(sym, init, step, finish)


def bpe_train(
    documents: DataFrame, n_merges: int = BPE_MERGES
) -> tuple[list, DataFrame]:
    """Distributed BPE tokenizer training — the full iterative merge
    loop, not just one counting round (``q_bpe_pair_counts`` is the
    single-round profile). Returns (merge list, final segmented vocab).

    Algorithm (Sennrich-style): words → (word, freq) vocabulary; each
    round counts adjacent symbol pairs over the DISTINCT-WORD table
    weighted by corpus frequency, picks the argmax pair (ties by pair
    lexicographically — deterministic), and rewrites every vocab row's
    symbol array with the merge applied.

    Scale: the ONLY corpus-scale operation is the initial word-count
    shuffle (map-side combinable). Every round then runs on the
    |vocab|-row table (Heaps-law sublinear in corpus size — millions
    of rows at 100 TB, not billions), with a 1-row argmax collect per
    round (the same bounded scalar-per-iteration policy as the
    connected-components convergence check) and a lazy checkpoint per
    round to keep lineage flat. 12 rounds ≈ 12 small jobs.
    """
    vocab = (
        documents.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", F.split("token", "").alias("sym"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, n_merges + 1):
        n = F.size("sym")
        pairs = vocab.filter(n >= 2).select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("sym", 1, n - 1),
                    F.slice("sym", 2, n - 1),
                    lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            break
        merges.append((rnd, best.l, best.r, int(best.weight)))
        vocab = vocab.select(
            "freq", _apply_merge(F.col("sym"), best.l, best.r).alias("sym")
        ).localCheckpoint(eager=False)
    return merges, vocab


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table after BPE_MERGES rounds: one row per
    merge (rank, left, right, merged symbol, corpus weight at the time
    it was chosen). ORACLE-MATCHED since round 6: the DuckDB twin
    (__spark_entry__._bpe_train_sql) unrolls all 12 rounds as
    materialized argmax CTEs whose list_reduce fold replicates this
    trainer's greedy merge scan exactly — so the full iterative
    training loop, not just one counting round, is hash-checked
    cross-engine (and still pytest-verified against a pure-Python
    reference trainer)."""
    t = load(spark, sf_dir)
    merges, _ = bpe_train(t.documents)
    return spark.createDataFrame(
        [(r, l, rr, l + rr, w) for r, l, rr, w in merges],
        "merge_rank int, left string, right string, merged string, weight long",
    )


def q_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM cross-entropy — the REAL perplexity
    filter, oracle-exact. The MLE bigram model is the corpus itself:
    p(w2|w1) = c(w1 w2) / c(w1 ·), so each bigram's cost is
    -ln p = ln(c_prefix / c_bigram) ≥ 0, computed in integer
    micro-nats by the fixed-point ``ln_micro`` (no float log — this is
    the score `bigram_novelty` approximated with a rare-count before
    ln_micro existed). avg_cost_unats / 1e6 is nats/token;
    exp of it is the document's perplexity under the corpus model.
    High cost ⇒ out-of-distribution / noisy — the CCNet-style signal.

    Scale: gram stream → two map-side-combinable groupBys (bigram and
    prefix counts — both |dictionary|-sized outputs); the ln is
    evaluated once per DISTINCT bigram (dictionary scale), then joined
    back. Docs with < 2 tokens carry no bigrams and are excluded,
    same as the oracle."""
    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("prefix"),
            F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ).alias("gram"),
        ),
    )
    per_doc = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.prefix").alias("prefix"), F.col("g.gram").alias("gram"))
        # consumed three times (two count tables + the join back)
        .cache()
    )
    c_bg = per_doc.groupBy("gram").agg(
        F.count(F.lit(1)).alias("c_bg"),
        F.first("prefix").alias("prefix"),  # gram determines its prefix
    )
    c_pref = per_doc.groupBy("prefix").agg(F.count(F.lit(1)).alias("c_pref"))
    cost = c_bg.join(c_pref, "prefix").select(
        "gram",
        ln_micro(F.col("c_pref"), F.col("c_bg")).alias("cost_unats"),
    )
    return (
        per_doc.join(cost, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cost_unats").alias("sum_cost_unats"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_cost_unats",
            halfup_div(
                F.col("sum_cost_unats"), F.col("n_bigrams"), 0
            ).alias("avg_cost_unats"),
        )
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY AUDIT per source — the standard
    tokenizer-vs-corpus fit metric (pieces per word; a tokenizer that
    fragments a source inflates its compute cost and starves its
    effective token budget): encode every corpus token with the
    pretrained ``BPE_FIXED_MERGES`` table (the `bpe_encode` apply
    path, pure codegen replace chain) and aggregate to source grain —
    fertility = pieces/token and compression = chars/piece, both as
    exact trunc-division micro ratios. This is the table a mixture
    planner reads next to `domain_dedup_mixture`'s quotas: a
    high-fertility source needs its token budget discounted by
    fertility before apportioning.

    Scale: narrow expression work over the exploded token stream
    (whole-stage codegen, no joins, no UDFs), one map-side-combinable
    aggregate to the |sources|-row table.

    Output: (source, n_docs, n_tokens, n_pieces, n_chars,
    fertility_micro, chars_per_piece_micro)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    toks = (
        _tok(t.documents)
        .select("source", "doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token") != "")
    )
    wrapped = bpe_encode_expr(F.col("token"), BPE_FIXED_MERGES)
    enc = toks.select(
        "source",
        "doc_id",
        F.length("token").cast("long").alias("tok_chars"),
        (
            F.length(wrapped)
            - F.length(F.replace(wrapped, F.lit("<"), F.lit("")))
        )
        .cast("long")
        .alias("n_pieces"),
    )
    m = F.lit(1_000_000)
    return (
        enc.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("tok_chars").cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_pieces",
            "n_chars",
            _idiv(F.col("n_pieces") * m, F.col("n_tokens")).alias(
                "fertility_micro"
            ),
            _idiv(F.col("n_chars") * m, F.col("n_pieces")).alias(
                "chars_per_piece_micro"
            ),
        )
    )


#: Kneser–Ney absolute discount as the EXACT rational (num, den):
#: d = 3/4 — Chen & Goodman's canonical fixed discount, chosen here
#: because quarters keep every KN term an exact integer (no float).
KN_DISC_NUM = 3
KN_DISC_DEN = 4
KN_TOP = 50


def q_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATED KNESER–NEY bigram smoothing (Kneser & Ney 1995;
    Chen & Goodman 1998) — the LM-smoothing operator next to the MLE
    model `bigram_cross_entropy` scores with: the n-gram LM every
    KenLM-style data-quality / perplexity-filter stack actually ships,
    where mass is discounted from observed bigrams and backed off to
    the CONTINUATION unigram (how many contexts a word completes, not
    how often it occurs — the "San Francisco" correction).

        p_KN(w|u) = max(c(uw) − d, 0)/c(u)
                  + d·N1+(u·)/c(u) · N1+(·w)/N1+(··)

    With d = 3/4 every term is an exact rational, so the probability
    collapses to ONE exact integer fraction both engines agree on:

        p_KN = [(4·c(uw) − 3)·N1+(··) + 3·N1+(u·)·N1+(·w)]
               / [4·c(u)·N1+(··)]

    emitted micro-scaled by the half-up `halfup_div` (the standard
    cross-engine rounding). N1+(u·) = distinct continuations of u,
    N1+(·w) = distinct contexts preceding w, N1+(··) = distinct bigram
    types — all plain counts over the bigram-type table.

    Scale: one gram pass; bigram/context/continuation counts are
    map-side-combinable dictionary-grain aggregates; the N1+(··)
    scalar broadcasts; output is the top-KN_TOP bigrams by
    (count desc, u, w) — TakeOrdered, never a global sort.

    Output: (u, w, c_uw, c_u, n1_u, n_cont_w, n_bb, p_kn) — p_kn
    the half-up 6-dp probability (double, cross-engine exact)."""
    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("u"),
            F.element_at(toks, i + 2).alias("w"),
        ),
    )
    big = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select(F.explode(grams).alias("g"))
        .select("g.u", "g.w")
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("c_uw"))
        .cache()  # feeds the context/continuation counts AND the join
    )
    cu = big.groupBy("u").agg(
        F.sum("c_uw").cast("long").alias("c_u"),
        F.count(F.lit(1)).alias("n1_u"),
    )
    ncw = big.groupBy("w").agg(F.count(F.lit(1)).alias("n_cont_w"))
    nbb = big.agg(F.count(F.lit(1)).alias("n_bb"))
    dn, dd = KN_DISC_NUM, KN_DISC_DEN
    num = (
        (F.lit(dd) * F.col("c_uw") - F.lit(dn)) * F.col("n_bb")
        + F.lit(dn) * F.col("n1_u") * F.col("n_cont_w")
    )
    den = F.lit(dd) * F.col("c_u") * F.col("n_bb")
    return (
        big.join(cu, "u")
        .join(ncw, "w")
        .crossJoin(F.broadcast(nbb))
        .select(
            "u",
            "w",
            "c_uw",
            "c_u",
            "n1_u",
            "n_cont_w",
            "n_bb",
            halfup_div(num, den, 6).alias("p_kn"),
        )
        .orderBy(F.desc("c_uw"), "u", "w")
        .limit(KN_TOP)
    )


#: Good–Turing report depth: adjusted counts for r = 1..GT_TOP_R (the
#: low-frequency region where smoothing matters; beyond it N_r gets
#: sparse and the plain estimator is unreliable by design — visible in
#: the emitted N_{r+1} column, never silent).
GT_TOP_R = 20


def q_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD–TURING frequency smoothing (Good 1953; Gale & Sampson's
    presentation) over the corpus BIGRAM frequencies — the third
    member of the LM-estimator family (MLE `bigram_cross_entropy`,
    Kneser–Ney `kneser_ney_bigrams`): how much probability mass the
    unseen n-grams deserve, and what an n-gram seen r times is REALLY
    worth. Both are exact rationals over the count-of-counts table:

        r* = (r+1) · N_{r+1} / N_r        (adjusted count, micro)
        p0 = N_1 / N                      (unseen mass, micro)

    with N_r = #distinct bigram TYPES of frequency r and N = total
    bigram occurrences. Bigram grain because the fixture's unigram
    vocabulary is tiny and saturated (31 types, min frequency 26 — no
    low-r region at all) while bigrams carry the Zipfian tail
    smoothing exists for (measured N_1 = 10 at sf0.01).
    The table is emitted for r = 1..GT_TOP_R with N_r and N_{r+1}
    carried, so the sparse-tail breakdown of the plain estimator is
    visible in the data (the production fix — smoothed Z_r regression
    — is float territory; the plain form is the hash-checkable core).
    p0 rides on every row as the headline scalar (1-row broadcast).

    Scale: bigram counts are one map-side-combinable aggregate; the
    count-of-counts collapse is a second aggregate at distinct-
    multiplicity grain (O(√grams) rows — the `key_skew_profile`
    bound); everything after runs on the ≤ GT_TOP_R-row table.

    Output: (r, n_r, n_r_plus_1, r_star_micro, p0_micro)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    terms = spread_scan(t.documents).filter(F.size(toks) >= 2).select(
        F.explode(grams).alias("term")
    )
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("r"))
    # tf feeds the count-of-counts AND (as Σ r) the token total — one
    # tokenize pass instead of the two an independent count() would run
    tf = tf.cache()
    coc = tf.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    tot = tf.agg(F.sum("r").alias("n_tokens"))
    n1 = coc.filter(F.col("r") == 1).select(F.col("n_r").alias("n_1"))
    p0 = (
        tot.crossJoin(F.broadcast(n1))
        .select(
            _idiv(F.col("n_1") * F.lit(1_000_000), F.col("n_tokens")).alias(
                "p0_micro"
            )
        )
    )
    return (
        coc.filter(F.col("r") <= GT_TOP_R)
        .join(nxt, "r", "left")
        .select(
            F.col("r").cast("long").alias("r"),
            "n_r",
            F.coalesce("n_r1", F.lit(0).cast("long")).alias("n_r_plus_1"),
            _idiv(
                (F.col("r") + 1)
                * F.coalesce("n_r1", F.lit(0).cast("long"))
                * F.lit(1_000_000),
                F.col("n_r"),
            ).alias("r_star_micro"),
        )
        .crossJoin(F.broadcast(p0))
        .orderBy("r")
    )


#: q_vocab_coverage: vocabulary = the VOCAB_K most frequent corpus
#: terms (ties broken lexicographically — deterministic).
VOCAB_K = 1000


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per document, the fraction of
    tokens OUTSIDE the corpus top-``VOCAB_K`` vocabulary — the OOV/UNK
    rate a fixed-vocab tokenizer would produce on each document. High
    OOV flags out-of-domain or noisy text; the corpus-level average is
    the coverage number a tokenizer card reports.

    Scale: term counts are one map-side-combinable groupBy; the
    vocabulary is a TakeOrdered over the dictionary (K rows) broadcast
    back into the token stream — a narrow scan + broadcast hash join,
    no second full shuffle."""
    t = load(spark, sf_dir)
    terms = (
        _tok(t.documents)
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term") != "")
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            halfup_div(F.col("n_oov"), F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


#: q_term_pmi_top_pairs guards: minimum pair support (standard
#: collocation floor) and the per-document distinct-term cap that
#: bounds the pair expansion quadratic at corpus scale.
PMI_MIN_PAIR = 5
PMI_DOC_CAP = 256


def q_term_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 term collocations by pointwise mutual information —
    PMI(a,b) = ln(N·c_ab / (c_a·c_b)) over document-level
    co-occurrence, the classic collocation/phrase-mining signal of a
    tokenizer-prep pipeline.

    The log is the signed fixed-point ``functions.ln_micro`` (integer
    shift-and-square, micro-nats): when ``N·c_ab ≥ c_a·c_b`` the score
    is ``+ln_micro(N·c_ab, c_a·c_b)``, otherwise
    ``−ln_micro(c_a·c_b, N·c_ab)`` — no float ``ln`` on either engine,
    so negative-PMI pairs rank exactly too and the gate can never pass
    vacuously on an empty positive set.

    Scale: pair generation is the posting-list self-join on doc_id
    over the per-document DISTINCT term set, capped at
    ``PMI_DOC_CAP`` lexicographically-first terms per document (the
    Σd² bound — upstream chunking already bounds document length; the
    cap makes the quadratic explicit). Pair counts are map-side
    combinable; the term-frequency dictionary joins back in two
    broadcast hash joins (dictionary grain — at true vocabulary scale
    flip them to shuffle joins, same plan shape). ``ln_micro``'s
    num < 2^31 contract holds while N·c_ab and c_a·c_b < 2^31; beyond
    that reduce both sides by a common power of two first."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    toks = (
        _tok(t.documents)
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    capped = (
        toks.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("term")
            ),
        )
        .filter(F.col("rn") <= PMI_DOC_CAP)
        .drop("rn")
        .cache()  # consumed by dft + both join sides
    )
    dft = capped.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_PAIR)
    )
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    joined = (
        pairs.join(
            F.broadcast(dft.select(F.col("term").alias("term_a"),
                                   F.col("df").alias("c_a"))),
            "term_a",
        )
        .join(
            F.broadcast(dft.select(F.col("term").alias("term_b"),
                                   F.col("df").alias("c_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
    )
    num = F.col("n_docs") * F.col("c_ab")
    den = F.col("c_a") * F.col("c_b")
    pmi = F.when(num >= den, ln_micro(num, den)).otherwise(
        -ln_micro(den, num)
    )
    return (
        joined.select(
            "term_a", "term_b", "c_ab", "c_a", "c_b",
            pmi.alias("pmi_unats"),
        )
        .orderBy(F.desc("pmi_unats"), "term_a", "term_b")
        .limit(50)
    )


#: Pretrained merge table for q_bpe_encode — the "published tokenizer"
#: being APPLIED (training lives in bpe_train; this is the other half
#: of the tokenizer lifecycle). Rank order matters: each merge is
#: applied exhaustively in one pass before the next rank, which for a
#: prefix-chain table like this one is exact reference BPE.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("q", "u"), ("qu", "e"), ("que", "r"), ("quer", "y"),
    ("s", "p"), ("sp", "a"), ("spa", "r"), ("spar", "k"),
    ("e", "r"), ("o", "w"), ("r", "ow"),
]


def bpe_encode_expr(token: Column, merges: list[tuple[str, str]]) -> Column:
    """Symbol-piece string for one token under a FIXED merge table, as
    a pure expression chain (whole-stage codegen, no UDF).

    Encoding trick: wrap every character as ``<c>``; a merge (a, b) is
    then the literal replace ``<a><b>`` → ``<ab>``. Because the
    wrappers delimit symbols exactly and ``replace`` substitutes
    non-overlapping occurrences left-to-right, one replace per merge
    reproduces the greedy left-to-right merge scan of
    ``_apply_merge`` — and the identical ``replace`` chain runs in
    DuckDB, which is what makes tokenizer APPLICATION oracle-matchable
    while training (argmax per round) stays rows-only. Requires
    ``<``/``>``-free tokens (the corpus contract after cleaning)."""
    s = F.regexp_replace(token, "(.)", "<$1>")
    for a, b in merges:
        s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return s


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode every corpus token with the pretrained
    ``BPE_FIXED_MERGES`` table — per-token piece string and piece
    count, plus the per-document token/piece totals a packing pipeline
    budgets with. Oracle-exact (see ``bpe_encode_expr``).

    Scale: pure narrow expression work inside whole-stage codegen over
    the exploded token stream, then one map-side-combinable groupBy
    back to document grain. The merge chain is ~|merges| string
    replaces per token — constant per row, no joins, no UDFs."""
    t = load(spark, sf_dir)
    toks = _tok(t.documents).select(
        "doc_id", F.posexplode("toks").alias("pos", "token")
    ).filter(F.col("token") != "")
    enc = toks.select(
        "doc_id",
        "pos",
        "token",
        bpe_encode_expr(F.col("token"), BPE_FIXED_MERGES).alias("wrapped"),
    ).select(
        "doc_id",
        "pos",
        "token",
        F.btrim(F.replace("wrapped", F.lit("><"), F.lit(" ")), F.lit("<>"))
        .alias("pieces"),
        (
            F.length("wrapped") - F.length(F.replace("wrapped", F.lit("<"), F.lit("")))
        ).cast("int").alias("n_pieces"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("n_pieces").alias("n_pieces"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "pieces"))
                    ),
                    lambda s: s["pieces"],
                ),
                "|",
            )
        ).alias("pieces_md5"),
        F.max("n_pieces").alias("max_token_pieces"),
    )


def q_lang_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation of the lang-ID heuristic against the
    labeled corpus: per-class true/predicted counts, true positives,
    and precision/recall/F1 — the standard eval report any curation
    pipeline publishes next to its classifier, oracle-exact (the
    ratios are exact rationals via ``halfup_div``, F1 as
    2·tp/(2·tp+fp+fn) without intermediate floats).

    Scale: the per-doc prediction is the narrow expression scan of
    ``q_lang_id``; everything after runs at CLASS grain (|classes|
    rows — here ≤ 6), three map-side-combinable groupBys and outer
    joins on the class dictionary."""
    from ..functions import halfup_div

    pred = q_lang_id(spark, sf_dir).select("lang", "pred_lang")
    per_true = pred.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    per_pred = pred.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        pred.filter(F.col("lang") == F.col("pred_lang"))
        .groupBy(F.col("lang").alias("cls"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    classes = per_true.select("cls").union(per_pred.select("cls")).distinct()
    j = (
        classes.join(per_true, "cls", "left")
        .join(per_pred, "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    fp = F.col("n_pred") - F.col("tp")
    fn = F.col("n_true") - F.col("tp")
    denom = F.lit(2) * F.col("tp") + fp + fn
    return j.select(
        "cls",
        "n_true",
        "n_pred",
        "tp",
        F.when(F.col("n_pred") == 0, F.lit(0.0))
        .otherwise(halfup_div(F.col("tp"), F.col("n_pred"), 6))
        .alias("prec"),
        F.when(F.col("n_true") == 0, F.lit(0.0))
        .otherwise(halfup_div(F.col("tp"), F.col("n_true"), 6))
        .alias("rec"),
        F.when(denom == 0, F.lit(0.0))
        .otherwise(halfup_div(F.lit(2) * F.col("tp"), denom, 6))
        .alias("f1"),
    )


def q_part_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SURVIVORSHIP (golden record): fuzzy-match part
    names (blocked levenshtein, the q_fuzzy_part_names primitive),
    close the match graph into entities (the same pointer-doubling
    connected components the dedup endgame runs), then collapse each
    multi-member entity to one golden row: survivor = smallest key
    (deterministic), name from the survivor, price = max across
    duplicates, plus brand/size spread for stewardship review. The
    full MDM match→cluster→survive pipeline in one oracle-matched
    query (DuckDB twin closes the graph with a recursive CTE).

    Scale: the match graph lives on the DISTINCT-NAME domain (edit
    distance is a function of names alone): each name's node id is its
    minimum part key, edges come from ``fuzzy_name_pairs`` (88 name
    pairs at sf0.1 — versus 8.6M row-level edges, whose CC alone took
    76s), CC is O(log diameter) rounds over that tiny graph, and rows
    inherit their name's entity with one linear join. Output is
    IDENTICAL to row-level matching: parts sharing a name have edit
    distance 0 (never an edge), so they cluster together exactly when
    their name fuzzy-matches some other name — i.e. when the name has
    degree ≥ 1 — and the row-level component's min part key equals the
    min over its names' per-name min keys. Survivorship is one groupBy
    at entity grain."""
    from .dedup import connected_components
    from ..functions import dec2

    t = load(spark, sf_dir)
    part = t.part.select(
        "p_partkey", "p_name", "p_brand", "p_retailprice", "p_size"
    )
    # name-domain node ids: min part key per name. Eager: it feeds
    # both edge endpoints, the node list and the row expand, and
    # lazily two concurrent jobs computed the same partition (a
    # ``Block rdd_…_0 already exists`` warning at sf0.1)
    name_id = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("name_id")
    ).localCheckpoint(eager=True)
    np_ = fuzzy_name_pairs(part)
    ia = name_id.select(F.col("p_name").alias("name_a"), F.col("name_id").alias("src"))
    ib = name_id.select(F.col("p_name").alias("name_b"), F.col("name_id").alias("dst"))
    edges = F.broadcast(np_).join(ia, "name_a").join(ib, "name_b").select("src", "dst")
    # only names with degree >= 1: an isolated name's parts are
    # row-level singletons (identical names never edge), filtered by
    # the n_members >= 2 rule either way — excluding them here keeps
    # the expansion from manufacturing same-name pseudo-clusters
    touched = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = connected_components(touched, edges)
    name_comp = name_id.join(
        comp, name_id.name_id == comp.id
    ).select("p_name", F.col("comp").alias("cluster_id"))
    golden = (
        part.join(F.broadcast(name_comp), "p_name")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(
                F.when(F.col("p_partkey") == F.col("cluster_id"), F.col("p_name"))
            ).alias("survivor_name"),
            F.round(F.max(dec2("p_retailprice")), 2)
            .cast("double")
            .alias("golden_price"),
            F.countDistinct("p_brand").alias("n_brands"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return golden


#: Heavy-hitter threshold: report terms with count > n_tokens / PHI_DEN.
PHI_DEN = 200
#: Per-partition Misra-Gries counter budget. The superset guarantee
#: needs k >= PHI_DEN (an item with global share > 1/PHI_DEN must have
#: per-partition share > 1/PHI_DEN somewhere, and MG(k) surfaces every
#: item with share > 1/k in its partition); 256 adds slack.
MG_COUNTERS = 256


def _mg_candidates(texts, k: int = MG_COUNTERS):
    """Arrow-batched Misra-Gries: one bounded dict of k counters per
    partition, emitted as candidate terms. Classic decrement form."""
    counters: dict[str, int] = {}
    import pandas as pd

    for pdf in texts:
        for text in pdf["text"]:
            for tok in text.split(" "):
                if not tok:
                    continue
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = [t for t, c in counters.items() if c == 1]
                    for t in dead:
                        del counters[t]
                    for t in counters:
                        counters[t] -= 1
    yield pd.DataFrame({"term": sorted(counters)})


def q_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (terms with > 1/200 of all token
    occurrences) by the standard two-pass scheme: a bounded-memory
    Misra–Gries candidate pass, then an exact recount of the
    candidates only.

    Pass 1 runs ``mapInPandas`` with ``MG_COUNTERS`` counters per
    partition — constant memory however large the partition, and by
    the MG guarantee the union of per-partition survivors is a
    SUPERSET of every global heavy hitter (pigeonhole: a term above
    the global threshold is above it in some partition). Pass 2
    exact-counts only the candidate terms (broadcast semi-join into
    the token scan) and applies the threshold — so the OUTPUT is exact
    and independent of MG internals, which is what lets a sketch-fed
    operator hash-match a plain GROUP BY/HAVING oracle. At 100 TB this
    is the only way to heavy-hit a vocabulary that doesn't fit a
    shuffle: the full-vocabulary groupBy never happens; only
    |candidates| ≤ partitions·k terms are ever counted.

    Output: (term, n_occurrences, share_ppm) — share in exact half-up
    parts-per-million."""
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    cands = (
        t.documents.select("text")
        .mapInPandas(_mg_candidates, "term string")
        .distinct()
    )
    toks = _tok(t.documents).select(F.explode("toks").alias("term")).filter(
        F.col("term") != ""
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    counted = (
        toks.join(F.broadcast(cands), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * PHI_DEN > F.col("n_total"))
        .select(
            "term",
            "n_occurrences",
            (halfup_div(F.col("n_occurrences") * 1_000_000, F.col("n_total"), 0)
             ).cast("long").alias("share_ppm"),
        )
    )


def q_next_token_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 next-token suggestions per prefix under the corpus MLE
    bigram model — the serving-side view of the same model
    ``q_bigram_cross_entropy`` scores with (autocomplete / speculative
    lookahead): for every observed prefix token, the three most likely
    successors with their exact counts and half-up conditional
    probability in parts-per-million.

    Scale: gram stream → one map-side-combinable groupBy to the bigram
    dictionary → per-prefix Window top-k (partitioned by prefix — the
    dictionary grain, never the corpus). Ties break lexicographically
    so the report is total-order deterministic."""
    from pyspark.sql import Window

    from ..functions import halfup_div

    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = t.documents.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.struct(
                    F.element_at(toks, i + 1).alias("prefix"),
                    F.element_at(toks, i + 2).alias("next_token"),
                ),
            )
        ).alias("g")
    ).select("g.prefix", "g.next_token").filter(
        (F.col("prefix") != "") & (F.col("next_token") != "")
    )
    counts = grams.groupBy("prefix", "next_token").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("prefix").agg(F.sum("n").alias("n_prefix"))
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), "next_token")
    return (
        counts.join(totals, "prefix")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "prefix",
            "next_token",
            "n",
            F.col("rk").cast("int").alias("rk"),
            halfup_div(F.col("n") * 1_000_000, F.col("n_prefix"), 0)
            .cast("long")
            .alias("p_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer-Wilkerson-Aiken / MOSS)
# ---------------------------------------------------------------------------

#: Winnowing geometry: word k-grams, window of w consecutive hashes.
#: Guarantee: any shared token run of length >= k + w - 1 between two
#: docs yields at least one shared selected fingerprint.
WINNOW_K = 3
WINNOW_W = 4
#: Posting cap for the overlap join (same economics as the Jaccard
#: inverted index: a boilerplate fingerprint in >cap docs generates
#: nothing instead of C(df,2) pairs).
WINNOW_MAX_DOC_FREQ = 100
WINNOW_TOP = 50


def winnow_fingerprints(
    documents: DataFrame, stream_safe: bool = False
) -> DataFrame:
    """Positional winnowing (the MOSS algorithm, public): per doc,
    hash the word-3-gram SEQUENCE (positional, not the distinct set),
    slide a window of WINNOW_W consecutive hashes, select each
    window's minimum, and emit the distinct selected values — the
    standard robust fingerprint with the local-match guarantee that
    bottom-k minhash selection (q_doc_fingerprint) lacks: every
    sufficiently long shared passage is CERTAIN to share a selected
    fingerprint, because both docs see the same hash run and pick the
    same local minimum.

    Shape: one expression scan (array ops per doc, O(m·w) array-side,
    shuffle-free) then one explode. Docs shorter than k+w-1 tokens
    emit nothing (no full window exists)."""
    from .dedup import tokens

    tok = tokens(documents).filter(
        F.size("toks") >= WINNOW_K + WINNOW_W - 1
    )
    # Both sequence bounds are CLAMPED to stay non-degenerate on short
    # docs even though the row filter excludes them: the downstream
    # explode makes Catalyst infer a `size(fps) > 0` predicate that is
    # pushed below this filter, and codegen's common-subexpression
    # elimination evaluates the shared fps expression EAGERLY before
    # the conjunction short-circuits — an unclamped sequence(1, 0)
    # turns descending and feeds slice() a zero start, erroring on
    # rows that were about to be dropped. Clamped values are garbage
    # only for rows the first conjunct already rejects.
    hseq = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("toks") - WINNOW_K, F.lit(0))),
        lambda i: portable_hash64(
            F.concat_ws(
                " ",
                *[
                    F.element_at(F.col("toks"), i + j + 1)
                    for j in range(WINNOW_K)
                ],
            )
        ),
    )
    # Materialize the hash sequence ONCE (lazy checkpoint): transforms
    # are CodegenFallback (interpreted), and the explode's inferred
    # filter + the projection would otherwise re-evaluate the md5
    # k-gram transform ~4x per row — measured 22s -> 2s at sf0.01.
    # Streaming DataFrames forbid checkpointing; micro-batches are
    # small enough that the re-evaluation is acceptable there.
    hs_tbl = tok.select("doc_id", hseq.alias("hs"))
    if not stream_safe:
        hs_tbl = hs_tbl.localCheckpoint(eager=False)
    sel = hs_tbl.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("hs") - WINNOW_W + 1, F.lit(1)),
                ),
                lambda j: F.array_min(F.slice(F.col("hs"), j, WINNOW_W)),
            )
        ).alias("fps"),
    )
    # explode_OUTER: a plain explode makes Catalyst infer a
    # size(fps) > 0 predicate whose pushed-down copy re-evaluates the
    # whole interpreted selection chain per row — ruinous on the
    # stream path, which cannot checkpoint (measured 220s -> ~8s at
    # sf0.1). The outer form infers nothing; rows passing the length
    # filter always yield >= 1 fingerprint, and the null filter below
    # runs on the OUTPUT column only.
    return (
        sel.select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def q_winnow_overlap_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: top-50 doc pairs by shared winnowing
    fingerprints — the quote/plagiarism/long-common-passage detector.
    Candidate pairs come from the fingerprint posting lists
    (df-capped), counts are exact; ties broken by (doc_a, doc_b).
    Oracle: the identical winnow selection in DuckDB list SQL."""
    from .dedup import _bucket_pairs

    t = load(spark, sf_dir)
    fps = winnow_fingerprints(t.documents)
    posting = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs").between(2, WINNOW_MAX_DOC_FREQ))
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
    shared = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(WINNOW_TOP)
        .select("doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared"))
    )


#: Zipf fit domain: the head of the frequency table. Bounded so the
#: global rank window runs over a fixed-size table at any corpus scale.
ZIPF_K = 1000


def q_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus frequency table: the OLS slope of
    ln(freq) on ln(rank) for the top-``ZIPF_K`` tokens, in exact
    fixed-point arithmetic (``ln_micro`` — no float ``ln`` anywhere, so
    the DuckDB oracle matches bit-for-bit).

    A natural corpus follows ``freq ∝ rank^-s`` with s ≈ 1; a corpus of
    templated/duplicated text bends the curve, so the fitted exponent
    is a standard one-number corpus-health diagnostic in training-data
    pipelines (alongside ``ttr``/``repetition_stats``).

    Scale shape: one explode → map-side-combined groupBy (|vocab| output
    rows) → TakeOrdered(k) → the rank window runs over k=1000 rows on
    one partition — never a global sort of the vocabulary. The OLS
    sums are a single 5-value aggregate; the normal-equation division
    is ``halfup_div`` over decimal(38,0) (products of micro-nat sums
    exceed int64; DuckDB's HUGEINT and Spark's decimal agree exactly).
    ``freq`` is non-increasing in ``rank`` so ``n·Σxy − Σx·Σy ≤ 0``;
    the positive exponent s = −slope keeps ``halfup_div``'s
    non-negative contract.
    """
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    tok = t.documents.select(
        F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    counted = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = counted.orderBy(F.desc("n"), F.asc("term")).limit(ZIPF_K)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    pts = top.select(
        ln_micro(F.row_number().over(w).cast("long"), F.lit(1)).alias("x"),
        ln_micro(F.col("n"), F.lit(1)).alias("y"),
    )
    d38 = "decimal(38,0)"
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
    )
    k = F.col("k").cast(d38)
    return s.select(
        F.col("k").alias("n_terms"),
        halfup_div(F.col("sx"), F.col("k"), 6).alias("mean_ln_rank"),
        halfup_div(F.col("sy"), F.col("k"), 6).alias("mean_ln_freq"),
        halfup_div(
            F.col("sx") * F.col("sy") - k * F.col("sxy"),
            k * F.col("sxx") - F.col("sx") * F.col("sx"),
            6,
        ).alias("zipf_exponent"),
    )


#: BM25 retrieval: 5 synthetic queries x 4 terms drawn from the df
#: ranking (rows 1-20 by (df desc, term)), Okapi k1 = 1.2, b = 0.75.
BM25_TERMS_PER_QUERY = 4
BM25_N_QUERY_TERMS = 20
BM25_TOPK = 10


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval over the documents table for five
    deterministic 4-term queries, in exact integer arithmetic.

    What tf-idf (`q_tfidf_top_terms`) lacks and BM25 adds — term-
    frequency saturation (k1) and document-length normalization (b) —
    is exactly the part that usually forces float math. With
    k1 = 6/5 and b = 3/4 the per-term weight reduces to the integer
    rational

        tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
          = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)

    (T = corpus token count, N = doc count, dl = doc length), so
    ``score_micro = halfup_div(idf_unats · 22·T·tf, denom, 0)`` is
    computed bit-identically by Spark (DECIMAL(38,0)) and DuckDB
    (HUGEINT); idf is the fixed-point ``ln_micro(N, df)`` (the Lucene
    non-negative idf variant). Query terms are the top-20
    document-frequency terms, 4 per query in rank order — fully
    deterministic, no RNG.

    Scale shape: tf/df/doclen are the same map-side-combinable
    aggregates tfidf uses; the 20-row query table broadcasts onto the
    postings (filtering them to the query vocabulary BEFORE the
    doc-length join, so the length join touches only matching docs);
    the final top-k is a per-query partitioned window. Range contract:
    T < 2^31 per shard (the ln_micro corpus-count contract) keeps all
    products inside DECIMAL(38,0)/HUGEINT.
    """
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.sum("dl").cast("long").alias("t_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = df_.orderBy(F.desc("df"), F.asc("term")).limit(BM25_N_QUERY_TERMS)
    w_rank = Window.orderBy(F.desc("df"), F.asc("term"))
    qterms = (
        top.withColumn("rk", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(stats))
        .select(
            F.expr(
                f"CAST((rk - 1) div {BM25_TERMS_PER_QUERY} AS INT)"
            ).alias("query_id"),
            "term",
            ln_micro(F.col("n_docs"), F.col("df")).alias("idf_unats"),
            "t_tokens",
            "n_docs",
        )
    )
    hits = tf.join(F.broadcast(qterms), "term").join(dl, "doc_id")
    d38 = "decimal(38,0)"
    tt = F.col("t_tokens").cast(d38)
    tfc = F.col("tf").cast(d38)
    num = F.col("idf_unats").cast(d38) * F.lit(22) * tfc * tt
    den = (
        F.lit(10) * tt * tfc
        + F.lit(3) * tt
        + F.lit(9) * F.col("dl").cast(d38) * F.col("n_docs").cast(d38)
    )
    scored = hits.select(
        "query_id", "doc_id", halfup_div(num, den, 0).cast("long").alias("s")
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("s").cast("long").alias("bm25_micro"),
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            "bm25_micro",
            "n_terms_hit",
            F.col("rk").cast("int").alias("rk"),
        )
    )


#: Heaps'-law prefix checkpoints: vocabulary measured at 10 equal
#: corpus prefixes (doc_id order — the fixture ids are dense 0..n-1).
HEAPS_POINTS = 10


def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW fit — `q_zipf_law_fit`'s sibling corpus diagnostic:
    vocabulary growth V(N) ≈ K·N^β measured at HEAPS_POINTS equal
    corpus prefixes and fitted by OLS of ln V on ln N, entirely in
    fixed point (`ln_micro` for both logs, DECIMAL(38,0)/HUGEINT
    normal equations, sign-split trunc division). β far from the
    ~0.5-0.8 natural-language band flags template/boilerplate (β→0)
    or id-spam (β→1) corpora — the cheap health check before
    tokenizer training.

    No window anywhere: doc_ids are dense 0..n-1, so a doc's
    checkpoint membership is pure arithmetic — each doc's token count
    (and each token's FIRST-occurrence doc) explodes to the ≤10
    checkpoints it feeds, then two map-side-combinable groupBys build
    the 10-point curve. ln_micro's exactness contract (counts < 2³¹)
    holds to ~2G prefix tokens; beyond that, fit on a prefix sample.

    Output: the 10 curve points with the fitted exponent replicated —
    (checkpoint, n_tokens, vocab, beta_micro)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    docs = t.documents.select("doc_id", F.split("text", " ").alias("toks"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok = docs.select(
        "doc_id", F.explode("toks").alias("token")
    ).filter(F.col("token") != "")
    pd_ = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    fd = tok.groupBy("token").agg(F.min("doc_id").alias("fdoc"))

    def _cks(idcol):
        lo = _idiv(
            F.col(idcol) * F.lit(HEAPS_POINTS), F.col("n_docs")
        ) + F.lit(1).cast("long")
        return F.explode(
            F.sequence(lo, F.lit(HEAPS_POINTS).cast("long"))
        ).alias("checkpoint")

    dn = (
        pd_.crossJoin(F.broadcast(nd))
        .select("n_tok", _cks("doc_id"))
        .groupBy("checkpoint")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    dv = (
        fd.crossJoin(F.broadcast(nd))
        .select(_cks("fdoc"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    pts = dn.join(dv, "checkpoint")
    xy = pts.select(
        "checkpoint",
        "n_tokens",
        "vocab",
        ln_micro(F.col("n_tokens"), F.lit(1)).alias("x"),
        ln_micro(F.col("vocab"), F.lit(1)).alias("y"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = xy.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    n = F.col("n_points").cast("decimal(38,0)")
    nm = n * F.col("sxy") - F.col("sx") * F.col("sy")
    dnm = n * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = F.when(nm < 0, -_idiv((-nm) * F.lit(1_000_000), dnm)).otherwise(
        _idiv(nm * F.lit(1_000_000), dnm)
    )
    fit = g.select(beta.alias("beta_micro"))
    return xy.select("checkpoint", "n_tokens", "vocab").crossJoin(
        F.broadcast(fit)
    )


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source VOCABULARY OVERLAP matrix — the corpus-organization
    diagnostic behind mixture design: for every pair of sources, the
    exact shared-vocabulary count and Jaccard (do these sources cover
    the same domain, or bring genuinely different text?). High overlap
    argues for merging their mixture buckets; low overlap for keeping
    separate sampling temperatures.

    Posting-list shape, never source×source over raw tokens: one
    distinct (source, token) projection, per-token source list
    (bounded by |sources|), pairs minted inside each posting — the
    same bounded-combinations core as the doc-level n-gram scorers,
    one level up the hierarchy. Jaccard is a ratio of exact integers
    (half-up 6 dp). Output: (source_a, source_b, n_common, n_a, n_b,
    jaccard)."""
    t = load(spark, sf_dir)
    st = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    posting = st.groupBy("token").agg(
        F.sort_array(F.collect_list("source")).alias("srcs")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    common = (
        posting.filter(F.size("srcs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_vocab").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_vocab").alias("n_b")
    )
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            halfup_div(
                F.col("n_common"),
                F.col("n_a") + F.col("n_b") - F.col("n_common"),
                6,
            ).alias("jaccard"),
        )
    )


#: ER blocking audit sample cap: the all-pairs ground truth is only
#: computable over a bounded deterministic sample (lowest partkeys) —
#: the audit's honesty at 100 TB depends on never comparing the full
#: catalog all-pairs.
ER_AUDIT_SAMPLE = 500


def q_er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality audit for the entity-resolution family —
    the two numbers every record-linkage paper reports (Christen 2012):
    REDUCTION RATIO (how many of the all-pairs comparisons the blocking
    key skips) and PAIR COMPLETENESS (how many true matches survive
    blocking), measured for ``part_golden_record``'s first-name-token
    blocking against the levenshtein-1..4 match rule.

    Ground truth needs all-pairs, so the audit runs over a bounded
    DETERMINISTIC sample (the ``ER_AUDIT_SAMPLE`` lowest partkeys) —
    a documented bounded cartesian, never the full catalog. Ratios are
    exact half-up 6-dp rationals of the pair counts; completeness is
    NULL if the sample holds no true pair (the loud no-signal marker,
    not a silent 0 or 1).

    Output (1 row): (n_sample, n_pairs_total, n_candidates, n_true,
    n_true_blocked, reduction_ratio, pair_completeness)."""
    from ..functions import halfup_div

    t = load(spark, sf_dir)
    s = (
        t.part.select("p_partkey", "p_name")
        .orderBy("p_partkey")
        .limit(ER_AUDIT_SAMPLE)
        .select(
            "p_partkey",
            "p_name",
            F.split(F.col("p_name"), " ")[0].alias("block"),
        )
    )
    a = s.select(
        F.col("p_partkey").alias("ka"),
        F.col("p_name").alias("na"),
        F.col("block").alias("ba"),
    )
    b = s.select(
        F.col("p_partkey").alias("kb"),
        F.col("p_name").alias("nb"),
        F.col("block").alias("bb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ka") < F.col("kb")).select(
        (F.col("ba") == F.col("bb")).cast("long").alias("blocked"),
        F.levenshtein("na", "nb").between(1, 4).cast("long").alias("true_"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs_total"),
        F.sum("blocked").alias("n_candidates"),
        F.sum("true_").alias("n_true"),
        F.sum(F.col("blocked") * F.col("true_")).alias("n_true_blocked"),
    )
    return agg.select(
        F.lit(ER_AUDIT_SAMPLE).cast("long").alias("n_sample"),
        "n_pairs_total",
        "n_candidates",
        "n_true",
        "n_true_blocked",
        halfup_div(
            F.col("n_pairs_total") - F.col("n_candidates"),
            F.col("n_pairs_total"),
            6,
        ).alias("reduction_ratio"),
        F.when(
            F.col("n_true") > 0,
            halfup_div(F.col("n_true_blocked"), F.col("n_true"), 6),
        ).alias("pair_completeness"),
    )


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995): the Fano factor
    var/mean of a term's PER-DOCUMENT count — ≈ 1 for Poisson
    "background" words, ≫ 1 for bursty topical terms, and ≈ a constant
    > 1 for boilerplate that repeats in blocks; the overdispersion
    audit that separates template noise from content vocabulary
    (``boilerplate_ngrams``'s statistical sibling).

    Exact fixed point over ALL documents including zero-count ones
    without materializing zeros: with N the corpus size and (Σx, Σx²)
    the nonzero sufficient statistics, F = (N·Σx² − (Σx)²) /
    ((N−1)·Σx) — one non-negative trunc division at micro scale.

    Scale: one shuffle to the (term, doc) grain, one to term grain;
    N is a whitelisted 1-row broadcast. Top-50 by (F desc, term).

    Output: (term, df, total_tf, fano_micro)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    td = (
        t.documents.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    g = td.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias(
            "sxx"
        ),
    )
    nd = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    scored = g.crossJoin(F.broadcast(nd)).select(
        "term",
        "df",
        F.col("sx").alias("total_tf"),
        _idiv(
            (dd(F.col("n_docs")) * F.col("sxx") - dd(F.col("sx")) * F.col("sx"))
            * F.lit(1_000_000),
            (dd(F.col("n_docs")) - 1) * F.col("sx"),
        ).alias("fano_micro"),
    )
    return scored.orderBy(F.desc("fano_micro"), "term").limit(50)


def q_lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the language-ID heuristic — CHANCE-CORRECTED
    agreement (Cohen 1960), the number to report when classes are
    imbalanced and raw accuracy flatters (a constant 'en' predictor
    scores 35% accuracy here but κ ≈ 0, which is the honest reading):
    κ = (p_o − p_e)/(1 − p_e) with p_e the marginal chance agreement.

    Exact rational throughout: with N docs, A exact agreements and
    M = Σ_c n_true(c)·n_pred(c) the marginal product sum,
    κ = (N·A − M)/(N² − M) — one sign-split trunc division at micro
    (κ can be negative: worse than chance). p_o, p_e surfaced at
    micro alongside.

    Scale: the per-doc prediction is q_lang_id's expression scan;
    everything after runs at class grain (≤ 6 rows) plus one 1-row
    scoreboard.

    Output (1 row): (n_docs, n_agree, marginal_prod, po_micro,
    pe_micro, kappa_micro)."""
    from ..functions import _idiv

    pred = q_lang_id(spark, sf_dir).select("lang", "pred_lang")
    pt = pred.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    pp = pred.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    mp = (
        pt.join(pp, "cls", "full_outer")
        .select(
            (
                F.coalesce("n_true", F.lit(0)).cast("decimal(38,0)")
                * F.coalesce("n_pred", F.lit(0))
            ).alias("prod")
        )
        .agg(F.sum("prod").cast("long").alias("marginal_prod"))
    )
    ag = pred.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("lang") == F.col("pred_lang")).cast("long")
        ).alias("n_agree"),
    )
    g = ag.crossJoin(F.broadcast(mp))
    dd = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = (dd(F.col("n_docs")) * F.col("n_agree") - F.col("marginal_prod")) * F.lit(
        1_000_000
    )
    den = dd(F.col("n_docs")) * F.col("n_docs") - F.col("marginal_prod")
    kappa = F.when(num < 0, -_idiv(-num, den)).otherwise(_idiv(num, den))
    return g.select(
        "n_docs",
        "n_agree",
        "marginal_prod",
        _idiv(dd(F.col("n_agree")) * F.lit(1_000_000), F.col("n_docs")).alias(
            "po_micro"
        ),
        _idiv(
            dd(F.col("marginal_prod")) * F.lit(1_000_000),
            dd(F.col("n_docs")) * F.col("n_docs"),
        ).alias("pe_micro"),
        kappa.alias("kappa_micro"),
    )


#: Fellegi–Sunter agreement fields over the part catalog (field name,
#: and the exact agreement predicate both engines share).
FS_FIELDS = ["brand_eq", "type_eq", "size_close", "price_close"]


def q_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI–SUNTER probabilistic record linkage weights (Fellegi &
    Sunter 1969) — the MODEL layer of the entity-resolution family:
    where `er_blocking_quality` audits candidate GENERATION and
    `part_golden_record` merges decided matches, this estimates, per
    comparison field, m = P(agree | match) and u = P(agree | non-match)
    against the same levenshtein-1..4 ground truth on the same bounded
    ``ER_AUDIT_SAMPLE`` deterministic sample, and derives the log-
    likelihood agreement/disagreement weights ln(m/u) and
    ln((1−m)/(1−u)) a scoring run would sum per pair.

    Exact fixed point: Laplace-smoothed cells ((a+1)/(n+2) — keeps
    every weight finite), rates as trunc-micro, and each weight as a
    DIFFERENCE of two ``ln_micro`` terms (ln(m/u) = ln_micro(n_u', a_u')
    − ln_micro(n_m', a_m')), so every log argument is an integer ratio
    ≥ 1 with numerator < 2^31 — inside the ln_micro contract even
    though the cross-multiplied ratio product would not be.

    Output (one row per field): (field, n_match_pairs,
    n_unmatch_pairs, n_agree_match, n_agree_unmatch, m_micro, u_micro,
    w_agree_micro, w_disagree_micro)."""
    from ..functions import _idiv, dec2, ln_micro

    t = load(spark, sf_dir)
    s = (
        t.part.select(
            "p_partkey", "p_name", "p_brand", "p_type", "p_size",
            (dec2("p_retailprice") * 100).cast("long").alias("price_c"),
        )
        .orderBy("p_partkey")
        .limit(ER_AUDIT_SAMPLE)
    )
    a = s.select(*[F.col(c).alias(f"a_{c}") for c in s.columns])
    b = s.select(*[F.col(c).alias(f"b_{c}") for c in s.columns])
    pairs = a.join(
        F.broadcast(b), F.col("a_p_partkey") < F.col("b_p_partkey")
    ).select(
        F.levenshtein("a_p_name", "b_p_name")
        .between(1, 4)
        .cast("long")
        .alias("is_match"),
        (F.col("a_p_brand") == F.col("b_p_brand"))
        .cast("long")
        .alias("brand_eq"),
        (F.col("a_p_type") == F.col("b_p_type"))
        .cast("long")
        .alias("type_eq"),
        (F.abs(F.col("a_p_size") - F.col("b_p_size")) <= 2)
        .cast("long")
        .alias("size_close"),
        (F.abs(F.col("a_price_c") - F.col("b_price_c")) <= 500)
        .cast("long")
        .alias("price_close"),
    )
    agg = pairs.agg(
        F.sum("is_match").alias("n_m"),
        F.sum(F.lit(1) - F.col("is_match")).alias("n_u"),
        *[
            F.sum(F.col("is_match") * F.col(f)).alias(f"am_{f}")
            for f in FS_FIELDS
        ],
        *[
            F.sum((F.lit(1) - F.col("is_match")) * F.col(f)).alias(
                f"au_{f}"
            )
            for f in FS_FIELDS
        ],
    )
    # 1-row sufficient statistic consumed by one union branch per
    # field: materialize it ONCE (guide §1.2 duplicate subtrees — the
    # r13 plan ran the n² levenshtein BroadcastNestedLoopJoin 4×, once
    # per branch; measured 12.7 s → the single pass)
    agg = agg.localCheckpoint(eager=False)
    rows = []
    for f in FS_FIELDS:
        am = F.col(f"am_{f}") + 1
        au = F.col(f"au_{f}") + 1
        nm = F.col("n_m") + 2
        nu = F.col("n_u") + 2
        dm = nm - am  # smoothed disagreements
        du = nu - au
        rows.append(
            agg.select(
                F.lit(f).alias("field"),
                F.col("n_m").alias("n_match_pairs"),
                F.col("n_u").alias("n_unmatch_pairs"),
                F.col(f"am_{f}").alias("n_agree_match"),
                F.col(f"au_{f}").alias("n_agree_unmatch"),
                _idiv(
                    am.cast("decimal(38,0)") * F.lit(1_000_000), nm
                ).alias("m_micro"),
                _idiv(
                    au.cast("decimal(38,0)") * F.lit(1_000_000), nu
                ).alias("u_micro"),
                (ln_micro(nu, au) - ln_micro(nm, am)).alias(
                    "w_agree_micro"
                ),
                (ln_micro(nu, du) - ln_micro(nm, dm)).alias(
                    "w_disagree_micro"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("field")


#: RAKE geometry: stopword list size (top-N corpus-frequency tokens —
#: the fixture corpus ships no curated stopword list, so frequency IS
#: the signal, exactly RAKE's own assumption) and the report size.
RAKE_STOPWORDS = 20
RAKE_TOP = 30


def q_rake_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010) — the keyword-extraction
    member of the text-analysis family, complementary to tf-idf (which
    scores terms by document discrimination) and PMI (which scores
    pairs): split every document into candidate PHRASES at stopword
    boundaries, then score each word by deg/freq — deg = the summed
    length of the phrases it appears in (favours words that live in
    long multi-word phrases), freq = its occurrence count.

    Stopwords are the ``RAKE_STOPWORDS`` highest-total-frequency
    tokens (ties by token) — deterministic and corpus-derived.

    Spark-first: positions via posexplode; phrase ids are a running
    stopword count over per-DOCUMENT windows (bounded by doc length,
    never a global window); phrase lengths and word stats are two
    grouped aggregates. Everything stays at token/dictionary grain.

    Output (RAKE_TOP rows): (word, freq, deg, score_milli) by
    (score desc, deg desc, word)."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    tok = (
        t.documents.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias(
                "pos", "token"
            ),
        )
        .filter(F.col("token") != "")
    )
    stop = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(RAKE_STOPWORDS)
        .select(F.col("token").alias("stopword"))
    )
    marked = tok.join(
        F.broadcast(stop), tok["token"] == stop["stopword"], "left"
    ).select(
        "doc_id",
        "pos",
        "token",
        F.col("stopword").isNotNull().cast("long").alias("is_stop"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    phased = marked.withColumn(
        "phrase_id", F.sum("is_stop").over(w)
    ).filter(F.col("is_stop") == 0)
    plen = phased.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    occ = phased.join(plen, ["doc_id", "phrase_id"])
    stats = occ.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    )
    return (
        stats.select(
            F.col("token").alias("word"),
            "freq",
            "deg",
            F.expr("CAST((deg * 1000) div freq AS BIGINT)").alias(
                "score_milli"
            ),
        )
        .orderBy(
            F.desc("score_milli"), F.desc("deg"), F.asc("word")
        )
        .limit(RAKE_TOP)
    )


#: Naive-Bayes language classifier: deterministic held-out split —
#: doc_id % NB_TEST_MOD == 0 is the test fold (1/5 of the corpus),
#: everything else trains the model. Add-one smoothing over the train
#: vocabulary plus one explicit OOV type.
NB_TEST_MOD = 5


def nb_token_grid(documents: DataFrame) -> DataFrame:
    """Per-(doc_id, lang, token) count grid — the sufficient statistic
    for the multinomial NB classifier (`q_nb_lang_classifier`), shared
    with the classify-at-ingest streaming drain: the count is additive
    and order-insensitive, so a complete-mode streamed aggregate of
    this grid is micro-batch-slicing-independent."""
    return (
        spread_scan(
            documents.select("doc_id", "lang", "text")
        )
        .select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def nb_predictions(grid: DataFrame) -> DataFrame:
    """Per-document test-fold predictions of the multinomial NB
    language classifier trained on the grid's train fold — the shared
    decision rule behind `nb_finish`'s confusion matrix and the
    McNemar paired comparison. Returns (doc_id, true_lang,
    pred_lang)."""
    # the grid feeds both the train fold (model) and the test fold
    # (scoring) — break the self-reference for the streamed drain's
    # memory-sink view (same seam as dsir_finish)
    grid = grid.localCheckpoint(eager=False)
    train = grid.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    test = grid.filter(F.col("doc_id") % NB_TEST_MOD == 0).select(
        "doc_id", F.col("lang").alias("true_lang"), "tok", "c"
    )
    # train-vocabulary size (1-row scalar, broadcast everywhere).
    # (r14 note: deriving this and the per-class totals from a shared
    # materialized model table was tried and REVERTED — both cache()
    # and lazy localCheckpoint on the dictionary-grain aggregate made
    # the concurrent broadcast-build threads serialize on the shared
    # materialization, 3.98 s -> 5.6 s isolated; the independent
    # grid-checkpoint scans below dedupe at RDD-block level already)
    vocab_n = train.agg(
        F.countDistinct("tok").cast("long").alias("vocab_n")
    )
    # per-class token totals + doc-count priors
    cls = train.groupBy("lang").agg(
        F.sum("c").cast("long").alias("tot"),
        F.countDistinct("doc_id").cast("long").alias("n_docs_lang"),
    )
    ndt = cls.agg(F.sum("n_docs_lang").cast("long").alias("n_docs_total"))
    langs = (
        cls.crossJoin(F.broadcast(vocab_n))
        .crossJoin(F.broadcast(ndt))
        .select(
            F.col("lang").alias("hyp"),
            (F.col("tot") + F.col("vocab_n") + 1).alias("den"),
            ln_micro(F.col("n_docs_total"), F.col("n_docs_lang")).alias(
                "prior_cost"
            ),
        )
    )
    # the unseen-(token, class) fallback cost ln(den/1) is one value
    # per class — precompute it here, at |classes| grain
    langs = langs.withColumn(
        "oov_cost", ln_micro(F.col("den"), F.lit(1).cast("long"))
    )
    # dictionary-scale model table: add-one count per (token, class),
    # with the per-unit token cost ln(den/(ctl+1)) evaluated HERE, at
    # (token, class) grain — ln_micro is a 16-round interpreted
    # higher-order fold (~20 µs/row, guide §4), and its arguments are
    # pure model-grain values, so evaluating it inside the scoring
    # aggregate (as before r14) re-ran the fold once per test-token ×
    # class row instead of once per dictionary row. Bit-identical:
    # same quantized value, multiplied by c at scoring grain either way
    model = (
        train.groupBy("tok", "lang")
        .agg(F.sum("c").cast("long").alias("ctl"))
        .withColumnRenamed("lang", "hyp")
        .join(F.broadcast(langs.select("hyp", "den")), "hyp")
        .select(
            "tok",
            "hyp",
            ln_micro(F.col("den"), F.col("ctl") + 1).alias("unit_cost"),
        )
    )
    # score every test token against every class; unseen (token,
    # class) pairs fall to the add-one floor c=0 via the left join
    sc = (
        test.crossJoin(
            F.broadcast(langs.select("hyp", "prior_cost", "oov_cost"))
        )
        .join(F.broadcast(model), ["tok", "hyp"], "left")
        .groupBy("doc_id", "true_lang", "hyp", "prior_cost")
        .agg(
            F.sum(
                F.col("c")
                * F.coalesce(F.col("unit_cost"), F.col("oov_cost"))
            ).alias("tok_cost")
        )
        .select(
            "doc_id",
            "true_lang",
            "hyp",
            (F.col("prior_cost") + F.col("tok_cost")).alias("total_cost"),
        )
    )
    return sc.groupBy("doc_id", "true_lang").agg(
        F.min(
            F.struct(
                F.col("total_cost").alias("tc"), F.col("hyp").alias("lb")
            )
        )["lb"].alias("pred_lang")
    )


def nb_finish(grid: DataFrame) -> DataFrame:
    """Train + score the multinomial NB language classifier from the
    (doc_id, lang, tok, c) grid; see `q_nb_lang_classifier`."""
    from ..functions import _idiv

    pred = nb_predictions(grid)
    conf = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    acc = conf.agg(
        _idiv(
            F.sum(
                F.when(
                    F.col("true_lang") == F.col("pred_lang"),
                    F.col("n_docs"),
                ).otherwise(F.lit(0).cast("long"))
            )
            * F.lit(1_000_000),
            F.sum("n_docs"),
        ).alias("acc_ppm")
    )
    return (
        conf.crossJoin(F.broadcast(acc))
        .select("true_lang", "pred_lang", "n_docs", "acc_ppm")
        .orderBy("true_lang", "pred_lang")
    )


def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED multinomial Naive-Bayes language classifier with a
    held-out confusion matrix — the fastText-style supervised-filter
    slot in the pipeline (McCallum & Nigam 1998's multinomial event
    model; the `lang_id` heuristic is the zero-shot twin, this is the
    learned one). Deterministic 80/20 split (doc_id % 5), add-one
    smoothing over the train vocabulary + 1 OOV type, and the whole
    decision rule in exact integer micro-nats:

        cost(doc, L) = ln(N_docs / N_docs_L)
                     + Σ_tok c_tok · ln((tot_L + V + 1) / (c_{tok,L}+1))

    via the fixed-point `ln_micro` (both ratios ≥ 1 by construction),
    argmin over classes with lexicographic tie-break — hash-identical
    in DuckDB, no float log anywhere.

    On THIS fixture the text is synthetic jargon drawn from one shared
    vocabulary (the `lang_id` stopword lexicons never fire), so the
    expected read is the majority-class collapse: every test doc scores
    lowest under the largest prior ('en') — the same absent-signal
    detection convention as `knn_label_accuracy`. The pytest pins
    exactly that plus a planted-signal positive control.

    Scale: tokenize → one map-side-combinable grid aggregate; the
    model and class tables are dictionary-scale broadcasts; scoring is
    a broadcast join on the test token stream (no shuffle besides the
    per-doc argmin aggregate).

    Output: (true_lang, pred_lang, n_docs, acc_ppm)."""
    t = load(spark, sf_dir)
    return nb_finish(nb_token_grid(t.documents))


#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1 geometry, scaled
#: to this corpus's 10-99-word documents): word-count floor 20, mean
#: word length 3-10 chars, symbol-to-word ratio <= 0.1, >= 80% of words
#: alphabetic, >= 2 EN stopword hits. Shared Spark/oracle constants.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WL_MILLI = 3_000
GOPHER_MAX_WL_MILLI = 10_000
GOPHER_MAX_SYMBOL_PPM = 100_000
GOPHER_MIN_ALPHA_PPM = 800_000
GOPHER_MIN_STOP_HITS = 2


def gopher_flags(documents: DataFrame) -> DataFrame:
    """The Gopher rule-card transform over a documents frame (batch OR
    landing stream — it is a stateless narrow map, so the streaming
    plan is the batch plan per micro-batch). Shared by
    ``q_gopher_quality_flags`` and the gate's streamed drain so the
    decision rule exists exactly once."""
    from ..functions import _idiv

    d = documents.select(
        "doc_id", "text", F.split("text", " ").alias("toks")
    )
    n_words = F.size("toks")
    wl_sum = F.aggregate(
        F.transform(F.col("toks"), lambda s: F.length(s).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_wl_milli = _idiv(wl_sum * F.lit(1000), n_words)
    hash_ct = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ell_ct = _idiv(
        F.length("text")
        - F.length(F.regexp_replace("text", r"\.\.\.", "")),
        F.lit(3),
    )
    symbol_ppm = _idiv((hash_ct + ell_ct) * F.lit(1_000_000), n_words)
    alpha_words = F.size(
        F.filter(F.col("toks"), lambda s: s.rlike("[a-zA-Z]"))
    )
    alpha_ppm = _idiv(alpha_words.cast("long") * F.lit(1_000_000), n_words)
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda s: s.isin(*STOPWORDS["en"]))
    )
    flags = {
        "word_count_ok": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "word_length_ok": (mean_wl_milli >= GOPHER_MIN_WL_MILLI)
        & (mean_wl_milli <= GOPHER_MAX_WL_MILLI),
        "symbol_ratio_ok": symbol_ppm <= GOPHER_MAX_SYMBOL_PPM,
        "alpha_ratio_ok": alpha_ppm >= GOPHER_MIN_ALPHA_PPM,
        "stopword_ok": stop_hits >= GOPHER_MIN_STOP_HITS,
    }
    gopher_pass = flags["word_count_ok"]
    for k in list(flags)[1:]:
        gopher_pass = gopher_pass & flags[k]
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wl_milli.cast("long").alias("mean_wl_milli"),
        symbol_ppm.cast("long").alias("symbol_ppm"),
        alpha_ppm.cast("long").alias("alpha_ppm"),
        stop_hits.cast("long").alias("stop_hits"),
        *[flags[k].alias(k) for k in flags],
        gopher_pass.alias("gopher_pass"),
    )


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-style quality rule card — the per-document boolean gate
    battery every LLM corpus pipeline runs before training (word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, alphabetic
    fraction, stopword evidence), composed into one `gopher_pass` bit.
    Complements ``q_quality_scores`` (continuous ratios): this is the
    thresholded DECISION layer, with each rule surfaced so downstream
    audits can attribute removals to rules.

    Exact fixed point: mean word length in milli (Σlen·1000 // n),
    symbol ratio and alphabetic fraction in ppm — integer floor
    divisions both engines define identically. Symbols counted as
    '#' occurrences + '...' occurrences (length-delta trick, no
    regex backtracking).

    Scale: stateless narrow scan — no shuffle, no join; the rule card
    parallelizes perfectly and pushes the doc_id/text projection into
    the parquet scan."""
    t = load(spark, sf_dir)
    return gopher_flags(t.documents)


def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN–SHANNON divergence between the term distributions of the
    corpus's two source halves (src0-src9 vs src10-src19) — the
    symmetric, bounded distribution distance a mixture designer uses to
    decide whether two crawls are interchangeable or complementary
    (JSD 0 = identical, ln 2 = disjoint). Complements
    ``source_vocab_overlap`` (set overlap) with a MASS-weighted
    distance.

    Exact fixed point: probabilities quantized to ppm (c·10⁶ // N — a
    deterministic quantization both engines define identically), each
    KL term pX·ln(2pX/(pA+pB)) carried as a SIGNED ln_micro product
    (the WoE device — ln_micro needs num ≥ den, so the sign is split
    out), summed in pico-nats and surfaced in micro-nats. Terms the
    quantization floors to 0 ppm contribute exactly 0 in both engines.

    Scale: one explode + one term-grain aggregate (map-side
    combinable); the two totals broadcast back as a 1-row attach. The
    per-term frame is the VOCABULARY, never raw tokens, and the top-20
    surfacing is a TakeOrdered head.

    Output: 20 rows (term, counts, ppm masses, signed contribution)
    with the global (na_tokens, nb_tokens, n_terms, jsd_micro)
    attached to every row."""
    from ..functions import _idiv, ln_micro

    t = load(spark, sf_dir)
    toks = _tok(t.documents).select(
        (F.length("source") == 4).alias("is_a"),
        F.explode("toks").alias("term"),
    )
    per_term = toks.groupBy("term").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("c_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("c_b"),
    )
    tot = per_term.agg(
        F.sum("c_a").cast("long").alias("na_tokens"),
        F.sum("c_b").cast("long").alias("nb_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    w = per_term.crossJoin(F.broadcast(tot)).select(
        "term",
        "c_a",
        "c_b",
        "na_tokens",
        "nb_tokens",
        "n_terms",
        _idiv(F.col("c_a") * F.lit(1_000_000), F.col("na_tokens")).alias(
            "p_a_ppm"
        ),
        _idiv(F.col("c_b") * F.lit(1_000_000), F.col("nb_tokens")).alias(
            "p_b_ppm"
        ),
    )

    def side(p: str) -> F.Column:
        """Signed pX·ln(2pX / (pA+pB)) in pico-nats (ppm · micro-nats)."""
        two_p = F.col(p) * 2
        m2 = F.col("p_a_ppm") + F.col("p_b_ppm")
        pos = F.col(p) * ln_micro(two_p, m2)
        neg = -F.col(p) * ln_micro(m2, two_p)
        return (
            F.when(F.col(p) == 0, F.lit(0).cast("long"))
            .when(two_p >= m2, pos)
            .otherwise(neg)
            .cast("long")
        )

    scored = w.withColumn(
        "contrib_pico", side("p_a_ppm") + side("p_b_ppm")
    )
    glob = scored.agg(
        F.sum("contrib_pico").cast("long").alias("sum_pico")
    ).select(
        _idiv(F.col("sum_pico"), F.lit(2_000_000)).alias("jsd_micro")
    )
    return (
        scored.crossJoin(F.broadcast(glob))
        .orderBy(F.abs(F.col("contrib_pico")).desc(), "term")
        .limit(20)
        .select(
            "term",
            "c_a",
            "c_b",
            "p_a_ppm",
            "p_b_ppm",
            "contrib_pico",
            "na_tokens",
            "nb_tokens",
            "n_terms",
            "jsd_micro",
        )
    )


def q_mcnemar_lang_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR PAIRED TEST between the two language classifiers on the
    shared held-out fold — the statistically correct way to ask "is
    the trained NB actually better than the zero-shot lexicon?":
    accuracy deltas on paired predictions depend ONLY on the
    discordant cells (docs exactly one classifier gets right), and
    McNemar's χ² = (b − c)² / (b + c) tests them (no continuity
    correction — the exact integer form is the contract; the
    correction is a float-era approximation aid).

    Both classifier decision rules are the SHARED implementations
    (``nb_predictions`` — the rule behind `nb_lang_classifier`'s
    confusion matrix — and `lang_id`'s lexicon argmax), so this entry
    cannot drift from the classifiers it compares. χ² in ppm, with
    the 0.05 threshold (3.8416) and both per-classifier accuracies
    attached.

    Scale: the NB scoring plan (dictionary-grain model broadcast),
    one stateless lexicon scan, one doc-grain equijoin on the
    TEST FOLD, collapsed to a 1-row report.

    Output: 1 row (n_docs, both_right, nb_only_right, lex_only_right,
    both_wrong, nb_acc_ppm, lex_acc_ppm, chi2_ppm, significant)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    nbp = nb_predictions(nb_token_grid(t.documents)).select(
        "doc_id", "true_lang", F.col("pred_lang").alias("nb_pred")
    )
    d = _tok(t.documents).filter(F.col("doc_id") % NB_TEST_MOD == 0)
    scores = {c: expr for c, expr in stopword_scores(F.col("toks")).items()}
    lex = d.select(
        "doc_id", pred_lang_expr(scores).alias("lex_pred")
    )
    j = nbp.join(lex, "doc_id").select(
        (F.col("nb_pred") == F.col("true_lang")).alias("nb_ok"),
        (F.col("lex_pred") == F.col("true_lang")).alias("lex_ok"),
    )
    cells = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("nb_ok") & F.col("lex_ok")).cast("long"))
        .cast("long")
        .alias("both_right"),
        F.sum((F.col("nb_ok") & ~F.col("lex_ok")).cast("long"))
        .cast("long")
        .alias("nb_only_right"),
        F.sum((~F.col("nb_ok") & F.col("lex_ok")).cast("long"))
        .cast("long")
        .alias("lex_only_right"),
        F.sum((~F.col("nb_ok") & ~F.col("lex_ok")).cast("long"))
        .cast("long")
        .alias("both_wrong"),
    )
    b = F.col("nb_only_right")
    c = F.col("lex_only_right")
    chi2 = _idiv(
        (b - c) * (b - c) * F.lit(1_000_000),
        F.greatest(b + c, F.lit(1).cast("long")),
    )
    return cells.select(
        "n_docs",
        "both_right",
        "nb_only_right",
        "lex_only_right",
        "both_wrong",
        _idiv(
            (F.col("both_right") + b) * F.lit(1_000_000), F.col("n_docs")
        ).alias("nb_acc_ppm"),
        _idiv(
            (F.col("both_right") + c) * F.lit(1_000_000), F.col("n_docs")
        ).alias("lex_acc_ppm"),
        chi2.cast("long").alias("chi2_ppm"),
        (chi2 > F.lit(3_841_600)).alias("significant"),
    )


def q_fleiss_kappa_langids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEISS' KAPPA across the three labeling processes on the shared
    held-out fold — truth label, trained NB, lexicon argmax — the
    multi-rater agreement number (Fleiss 1971) an annotation pipeline
    reports before trusting consensus labels (κ 1 = perfect agreement,
    0 = chance; the McNemar entry compares two ERROR RATES, this
    measures raw LABEL agreement including truth as a rater).

    Exact rational: with n = 3 raters, N docs, category vote counts
    n_ij and column totals c_j, both agreement terms share the
    denominator 18N²:

        P̄  = Σ_i (Σ_j n_ij² − 3) / 6N       = 3N·S1 / 18N²
        P̄e = Σ_j c_j² / 9N²                 = 2·S2  / 18N²
        κ  = (3N·S1 − 2·S2) / (18N² − 2·S2)     (signed milli)

    Scale: three stateless label scans unioned at doc grain, one
    (doc, category) count, two bounded collapses (per-doc, per-
    category); the report is |categories| rows + attached scalars.

    Output: one row per category (category, n_votes, p_ppm) with
    (n_docs, s1, s2, p_bar_ppm, p_e_ppm, kappa_milli) attached."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    # two rater branches read the NB predictions — materialize the
    # scoring plan once instead of running the whole trained-model
    # pipeline per branch (and per votes consumer: 4x before)
    nbp = nb_predictions(nb_token_grid(t.documents)).localCheckpoint(
        eager=False
    )
    truth = nbp.select("doc_id", F.col("true_lang").alias("cat"))
    nb = nbp.select("doc_id", F.col("pred_lang").alias("cat"))
    d = _tok(t.documents).filter(F.col("doc_id") % NB_TEST_MOD == 0)
    scores = {c: expr for c, expr in stopword_scores(F.col("toks")).items()}
    lex = d.select("doc_id", pred_lang_expr(scores).alias("cat"))
    votes = truth.unionByName(nb).unionByName(lex)
    nij = votes.groupBy("doc_id", "cat").agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    )
    s1 = (
        nij.groupBy("doc_id")
        .agg((F.sum(F.col("nij") * F.col("nij")) - F.lit(3)).alias("pi"))
        .agg(
            F.sum("pi").cast("long").alias("s1"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    cat = votes.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    s2 = cat.agg(
        F.sum(F.col("n_votes") * F.col("n_votes")).cast("long").alias("s2")
    )
    g = s1.crossJoin(F.broadcast(s2))
    num = F.lit(3) * F.col("n_docs") * F.col("s1") - F.lit(2) * F.col("s2")
    den = (
        F.lit(18) * F.col("n_docs") * F.col("n_docs")
        - F.lit(2) * F.col("s2")
    )
    kappa = F.when(
        num < 0, -_idiv(-num * F.lit(1000), den)
    ).otherwise(_idiv(num * F.lit(1000), den))
    glob = g.select(
        "n_docs",
        "s1",
        "s2",
        _idiv(F.col("s1") * F.lit(1_000_000), F.lit(6) * F.col("n_docs"))
        .alias("p_bar_ppm"),
        _idiv(
            F.col("s2") * F.lit(1_000_000),
            F.lit(9) * F.col("n_docs") * F.col("n_docs"),
        ).alias("p_e_ppm"),
        kappa.cast("long").alias("kappa_milli"),
    )
    return (
        cat.crossJoin(F.broadcast(glob))
        .select(
            F.col("cat").alias("category"),
            "n_votes",
            _idiv(
                F.col("n_votes") * F.lit(1_000_000),
                F.lit(3) * F.col("n_docs"),
            ).alias("p_ppm"),
            "n_docs",
            "s1",
            "s2",
            "p_bar_ppm",
            "p_e_ppm",
            "kappa_milli",
        )
        .orderBy("category")
    )


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY-RICHNESS card over the corpus BIGRAM types — the
    three classical estimators a corpus datacard reports next to
    Heaps/Zipf fits (`heaps_law_fit`, `zipf_law_fit`):

    - CHAO1 (Chao 1984, bias-corrected): how many bigram types the
      corpus is still missing — V + f1·(f1−1)/(2·(f2+1)) from the
      singleton/doubleton counts (the unseen-species lower bound);
    - YULE'S K (Yule 1944): repeat-rate 10⁴·(S2−N)/N² with
      S2 = Σ r² — size-invariant lexical concentration;
    - SIMPSON's repeat probability Σ r(r−1)/(N(N−1)) — chance two
      random bigram occurrences are the same type.

    Bigram grain for the same reason as ``good_turing_smoothing``
    (text.py:901): the fixtures' unigram vocabulary is saturated (no
    f1/f2 region), bigrams carry the live Zipf tail. All three are
    exact integer floors (milli/ppm) over the count-of-counts table —
    no float anywhere, so the DuckDB twin matches bit-for-bit.

    Scale: the bigram count is one map-side-combinable aggregate;
    everything after is ONE ungrouped aggregate over the type-grain
    table (types ≪ tokens). No window, no join, no collect.

    Output: 1 row (n_tokens, vocab, f1, f2, max_r, chao1_milli,
    yule_k_milli, simpson_ppm)."""
    from ..functions import _idiv

    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    tf = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select(F.explode(grams).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    agg = tf.agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("r") == 1).cast("long")).alias("f1"),
        F.sum((F.col("r") == 2).cast("long")).alias("f2"),
        F.max("r").cast("long").alias("max_r"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("s2"),
        F.sum(F.col("r") * (F.col("r") - 1)).cast("long").alias("rep"),
    )
    return agg.select(
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        "max_r",
        (
            F.col("vocab") * 1000
            + _idiv(
                F.col("f1") * (F.col("f1") - 1) * F.lit(1000),
                F.lit(2) * (F.col("f2") + 1),
            )
        ).alias("chao1_milli"),
        _idiv(
            (F.col("s2") - F.col("n_tokens")) * F.lit(10_000_000),
            F.col("n_tokens") * F.col("n_tokens"),
        ).alias("yule_k_milli"),
        _idiv(
            F.col("rep") * F.lit(1_000_000),
            F.col("n_tokens") * (F.col("n_tokens") - 1),
        ).alias("simpson_ppm"),
    )


#: Dirichlet prior mass for query-likelihood smoothing (Zhai &
#: Lafferty 2001); with doc lengths ~100-500 tokens, mu = 100 gives
#: a live tf/background mix. Range contract: (max doc length + mu)
#: must stay < 2^31/1e6 ~ 2147 for the ln_micro operand bound.
QL_MU = 100
QL_TOPK = 10


def q_query_likelihood_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing (Zhai &
    Lafferty 2001) — the language-modeling member of the ranking
    family (`bm25_topk` is the probabilistic one, `tfidf_top_terms`
    the vector one): score(q,d) = Σ_t ln((tf + µ·p(t|C)) / (dl + µ)),
    where the corpus LM p(t|C) supplies mass for query terms the doc
    LACKS — the smoothing that makes multi-term ranking work at all.

    Fixed point: the corpus LM is quantized once to ppm
    (ctf_ppm = ctf·10⁶ // T — scale-free in corpus size, so the
    2³¹ `ln_micro` operand bound depends only on doc length, not on
    corpus size), then each (doc, term) factor is the exact
    −ln_micro((dl+µ)·10⁶, tf·10⁶ + µ·ctf_ppm) in micro-nats. Same
    deterministic top-20-df query panel as BM25 (4 terms × 5
    queries), so the two rankers are directly comparable per query.

    Scale: tf/dl/ctf are the BM25 map-side aggregates; the scoring
    table is docs × 20 query terms (the smoothed LM needs missing
    terms too — a broadcast nested-loop on a 20-row side, linear in
    docs); top-k is a per-query partitioned window.

    Output: 5·``QL_TOPK`` rows (query_id, doc_id, ql_micro
    (negative log-likelihood sum), n_terms_hit, rk)."""
    from pyspark.sql import Window

    from ..functions import _idiv, ln_micro

    t = load(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    tot = dl.agg(F.sum("dl").cast("long").alias("t_tokens"))
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").cast("long").alias("ctf")
    )
    w_rank = Window.orderBy(F.desc("df"), F.asc("term"))
    qterms = (
        df_.orderBy(F.desc("df"), F.asc("term"))
        .limit(BM25_N_QUERY_TERMS)
        .withColumn("rk", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                f"CAST((rk - 1) div {BM25_TERMS_PER_QUERY} AS INT)"
            ).alias("query_id"),
            "term",
            _idiv(
                F.col("ctf") * F.lit(1_000_000), F.col("t_tokens")
            ).alias("ctf_ppm"),
        )
    )
    pairs = dl.crossJoin(F.broadcast(qterms)).join(
        tf, ["doc_id", "term"], "left"
    )
    num = F.greatest(
        F.coalesce("tf", F.lit(0).cast("long")) * F.lit(1_000_000)
        + F.lit(QL_MU) * F.col("ctf_ppm"),
        F.lit(1).cast("long"),
    )
    den = (F.col("dl") + F.lit(QL_MU)) * F.lit(1_000_000)
    scored = pairs.select(
        "query_id",
        "doc_id",
        (-ln_micro(den, num)).alias("s"),
        F.col("tf").isNotNull().cast("int").alias("hit"),
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("s").cast("long").alias("ql_micro"),
        F.sum("hit").cast("int").alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ql_micro"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= QL_TOPK)
        .select(
            "query_id",
            "doc_id",
            "ql_micro",
            "n_terms_hit",
            F.col("rk").cast("int").alias("rk"),
        )
    )


#: TextRank geometry: adjacent-token co-occurrence edges (window 2),
#: noise edges below this count dropped (the pagerank edge policy).
TEXTRANK_MIN_COOC = 2
TEXTRANK_TOP = 25


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004) — the
    graph-based member of the keyword family (RAKE scores by degree/
    frequency heuristics, tf-idf by rarity; TextRank runs PageRank on
    the word CO-OCCURRENCE graph so a term inherits importance from
    the company it keeps). Window-2 co-occurrence (adjacent tokens),
    undirected, count-weighted, noise edges < ``TEXTRANK_MIN_COOC``
    dropped — then literally the engine's fixed-point
    ``pagerank_exact`` (graph.py) over string vertices: integer
    trillionths, 85/100 damping, floor-div mass — so the DuckDB twin
    unrolls the same 8 rounds and hash-matches every rank.

    Scale: the edge build is one map-side-combinable pair count
    (token-stream grain); the rank rounds run on the VOCABULARY graph
    (types, not tokens) — the co-occurrence graph of even a 100 TB
    corpus is vocabulary²-bounded and in practice sparse.

    Output: ``TEXTRANK_TOP`` rows (term, rank), rank desc."""
    from .graph import pagerank_exact

    t = load(spark, sf_dir)
    toks = F.split("text", " ")
    pairs = (
        spread_scan(t.documents).filter(F.size(toks) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.least(
                            F.element_at(toks, i + 1),
                            F.element_at(toks, i + 2),
                        ).alias("part_a"),
                        F.greatest(
                            F.element_at(toks, i + 1),
                            F.element_at(toks, i + 2),
                        ).alias("part_b"),
                    ),
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .filter(
            (F.col("part_a") != "")
            & (F.col("part_b") != "")
            & (F.col("part_a") != F.col("part_b"))
        )
    )
    edges = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= TEXTRANK_MIN_COOC)
    )
    ranks = pagerank_exact(edges)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("id"))
        .limit(TEXTRANK_TOP)
        .select(F.col("id").alias("term"), "rank")
    )


#: Burrows' Delta geometry: the classic most-frequent-words panel.
STYLO_TERMS = 30


def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA stylometric distance between SOURCES (Burrows
    2002; Evert et al. 2017) — the authorship-attribution classic,
    here as a source-similarity matrix the mixture designer reads
    next to `source_vocab_overlap` (vocab overlap asks "same WORDS?";
    Delta asks "same USAGE PROFILE of the common words?" — z-scored
    relative frequencies of the top ``STYLO_TERMS`` corpus terms,
    mean absolute difference across the panel).

    Exact fixed point: per (term, source) the relative frequency in
    ppm (count·10⁶ // source tokens); per term the population
    deviation dev = k·f − Σf over the k sources and the z-like score
    zq = dev·10⁶ trunc-div isqrt(k·Σdev²) — algebraically z·10⁶/(k·
    √k)·... a SINGLE constant times the textbook z for every term, so
    Delta rankings are exact (the pytest's float witness checks the
    constant). isqrt carries its 2⁵² contract (raise, never
    mis-rank).

    Scale: token counts are map-side aggregates; everything after
    runs on the ≤ ``STYLO_TERMS``·k dense grid and the k²/2 pair
    table — dimension-grain, constant in corpus size.

    Output: k·(k−1)/2 rows (source_a, source_b, n_terms,
    delta_micro) with delta_micro = mean_t |zq_a − zq_b|."""
    from ..functions import _idiv, isqrt

    t = load(spark, sf_dir)
    tok = t.documents.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    per_src = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("tok_s")
    )
    cnt = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(STYLO_TERMS)
        .select("term")
    )
    grid = (
        per_src.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "term"], "left")
        .select(
            "source",
            "term",
            _idiv(
                F.coalesce("c", F.lit(0).cast("long")) * F.lit(1_000_000),
                F.col("tok_s"),
            ).alias("f_ppm"),
        )
    )
    stats = grid.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("f_ppm").alias("s"),
        F.sum(F.col("f_ppm") * F.col("f_ppm")).alias("s2"),
    )
    z = (
        grid.join(F.broadcast(stats), "term")
        .withColumn("dev", F.col("k") * F.col("f_ppm") - F.col("s"))
        .withColumn(
            "den",
            isqrt(
                F.when(
                    F.col("k")
                    * (
                        F.col("k") * F.col("s2")
                        - F.col("s") * F.col("s")
                    )
                    >= F.lit(2**52),
                    F.raise_error(
                        F.lit(
                            "burrows_delta contract violated: k*sum"
                            "(dev^2) >= 2^52 exceeds the exact isqrt "
                            "range; shrink the term panel"
                        )
                    ).cast("long"),
                ).otherwise(
                    F.col("k")
                    * (
                        F.col("k") * F.col("s2")
                        - F.col("s") * F.col("s")
                    )
                )
            ),
        )
        .select(
            "source",
            "term",
            F.when(
                F.col("den") > 0,
                F.when(
                    F.col("dev") < 0,
                    -_idiv(-F.col("dev") * F.lit(1_000_000), F.col("den")),
                ).otherwise(
                    _idiv(F.col("dev") * F.lit(1_000_000), F.col("den"))
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("zq"),
        )
    )
    pairs = (
        z.alias("a")
        .join(z.alias("b"), "term")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.abs(F.col("a.zq") - F.col("b.zq"))).alias("sabs"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_terms",
        _idiv(F.col("sabs"), F.col("n_terms")).alias("delta_micro"),
    ).orderBy("source_a", "source_b")


#: Keyness panel size.
KEYNESS_TOP = 20


def q_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYNESS by Dunning LOG-LIKELIHOOD RATIO (Dunning 1993 — the
    corpus-linguistics standard for "which words characterize corpus
    A against corpus B"; far better calibrated than chi-square on
    sparse counts): the same two source halves the JSD entry
    contrasts (4-char sources vs the rest), scored per term by

        G² = 2·(a·ln(a/E_a) + b·ln(b/E_b)),  E_a = N_A·(a+b)/N

    — emitted as the top ``KEYNESS_TOP`` terms by G² with the
    direction (which corpus over-uses the term). Exact fixed point:
    the corpus masses are quantized once to ppm (the
    query-likelihood device — keeps every `ln_micro` operand under
    the 2³¹ contract REGARDLESS of corpus size), then each ln is the
    sign-split ``ln_micro`` of the two ppm masses; G² is a
    deterministic quantization of the float statistic (pytest float
    witness).

    Scale: ONE term×group aggregate (map-side combinable), a 1-row
    totals broadcast, and a TakeOrdered(20) — no window over raw
    rows, no self-join.

    Output: ``KEYNESS_TOP`` rows (term, n_a, n_b, llr_micro,
    overused_in), G² desc."""
    from ..functions import _idiv, ln_micro

    t = load(spark, sf_dir)
    tok = t.documents.select(
        (F.length("source") == 4).cast("long").alias("is_a"),
        F.explode(F.split("text", " ")).alias("term"),
    ).filter(F.col("term") != "")
    grid = tok.groupBy("term").agg(
        F.sum("is_a").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("is_a")).cast("long").alias("b"),
    )
    tot = grid.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )

    def _sln(cnt, num, den):
        # cnt * sign-split ln_micro(num/den); 0 when cnt == 0
        return F.when(
            cnt == 0, F.lit(0).cast("long")
        ).when(
            num >= den, cnt * ln_micro(num, den)
        ).otherwise(-(cnt * ln_micro(den, num)))

    n = F.col("na") + F.col("nb")
    p_a = F.greatest(
        _idiv(F.col("a") * F.lit(1_000_000), F.col("na")), F.lit(1)
    )
    p_b = F.greatest(
        _idiv(F.col("b") * F.lit(1_000_000), F.col("nb")), F.lit(1)
    )
    p_pool = F.greatest(
        _idiv((F.col("a") + F.col("b")) * F.lit(1_000_000), n), F.lit(1)
    )
    scored = grid.crossJoin(F.broadcast(tot)).select(
        "term",
        F.col("a").alias("n_a"),
        F.col("b").alias("n_b"),
        (
            2
            * (
                _sln(F.col("a"), p_a, p_pool)
                + _sln(F.col("b"), p_b, p_pool)
            )
        ).alias("llr_micro"),
        F.when(p_a >= p_pool, F.lit("A")).otherwise(F.lit("B")).alias(
            "overused_in"
        ),
    )
    return scored.orderBy(F.desc("llr_micro"), F.asc("term")).limit(
        KEYNESS_TOP
    )
