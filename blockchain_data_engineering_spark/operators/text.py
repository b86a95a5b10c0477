"""Text-analysis operators for LLM training-data pipelines (SURVEY §7.2
M5 / BASELINE.json north star): language ID, quality scoring, token
counting, document fingerprinting.

All hot-path logic is native Catalyst expressions (split/regexp/
aggregate) — no Python per row. Each op is engineered to be
cross-engine deterministic: counts are integers, ratios are single
divisions of exact integers.

At 100 TB these run as a single narrow projection over the documents
scan (no shuffle at all until a downstream groupBy), so throughput is
bounded by parquet decode speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.cache import finalize, next_round, scope
from blockchain_data_engineering_spark.functions.scalar import (
    bounded_window_key,
    md5_byte,
    md5_int,
)

# Tiny per-language stopword marker lists for the n-gram/stopword
# language-ID heuristic. Deliberately small and public-knowledge — the
# point is the *operator shape* (argmax over per-language hit counts).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "es": ("el", "la", "que", "de", "es"),
    "fr": ("le", "la", "et", "les", "des"),
}

TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# The document columns every corpus operator reads: the text, the
# document id and (for sequence packing) the shard it belongs to.
TEXT = "text"
DOC_ID = "doc_id"
SHARD = "source"
# decimal digits the per-document LM/DSIR log-scores are floored to
SCORE_DIGITS = 4


def tokens(text: Column) -> Column:
    """Whitespace tokenization (exact parity with standard SQL
    string_split semantics on single-space text)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Total occurrences of the marker words as standalone tokens —
    exact token-equality over the whitespace tokens (no regex overlap
    ambiguity, deterministic across engines).

    Single-pass shape (r11, guide §1.2 "per-task work"): ONE split +
    ONE ``aggregate`` pass with an ``isin`` test per token. The
    previous form built ``len(words)`` separate
    ``size(filter(split(text), ...))`` expressions — higher-order
    functions evaluate interpreted, and each one re-split the text,
    so every row paid |words| full tokenizations (measured 1.4 s for
    5 marker words x 5k docs vs 0.2 s single-pass). Marker words
    within one list are distinct, so a token matches at most one word
    and the isin count equals the per-word filter-count sum exactly.

    Precondition (ADVICE r11): ``text`` must be non-NULL — for NULL
    the ``aggregate`` propagates NULL where the legacy per-word
    ``size(filter(...))`` form returned −1·|words| (legacy
    sizeOfNull). Neither is a meaningful count; every corpus this
    engine ingests declares ``text`` non-nullable and the parity
    fixtures pin that. ``words`` must be non-empty (``isin()`` with
    zero args is not a valid predicate).
    """
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc
        + F.when(t.isin(*words), F.lit(1)).otherwise(F.lit(0)),
    )


def lang_id(text: Column) -> Column:
    """Argmax language over marker-word hit counts; 'und' when no
    marker hits at all. Deterministic tie-break: language code order.

    Single-pass shape (r11, guide §1.2 "per-task work"): ONE split +
    ONE ``aggregate`` pass carrying a struct of per-language counters
    (a token that is a marker in several languages increments each of
    them, exactly as the per-language counts did). The previous form
    expanded to |langs|x|words| separate ``size(filter(split(...)))``
    expressions — 20 interpreted re-tokenizations per row; measured
    1.4 s -> 0.2 s per pass over 5k docs, bit-identical output
    (counts are the same integers, argmax/tie-break unchanged)."""
    langs = sorted(LANG_MARKERS)
    toks = tokens(text)
    init = F.struct(*[F.lit(0).alias(lang) for lang in langs])

    def _step(acc: Column, t: Column) -> Column:
        return F.struct(
            *[
                (
                    acc[lang]
                    + F.when(t.isin(*LANG_MARKERS[lang]), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).alias(lang)
                for lang in langs
            ]
        )

    counts = F.aggregate(toks, init, _step)
    total = None
    for lang in langs:
        c = counts[lang]
        total = c if total is None else total + c
    best = None
    best_lang = None
    for lang in langs:
        c = counts[lang]
        if best is None:
            best, best_lang = c, F.lit(lang)
        else:
            is_better = c > best
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best = F.when(is_better, c).otherwise(best)
    return F.when(total > 0, best_lang).otherwise(F.lit("und"))


def quality_features(df: DataFrame) -> DataFrame:
    """Attach the standard quality-score feature set:

    - n_chars, n_tokens, mean token length
    - punctuation ratio (punct chars / chars)
    - stopword ratio (english marker hits / tokens)
    - uppercase ratio

    All ratios are divisions of exact integer counts → bit-stable.
    """
    t = F.col(TEXT)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_stop = stopword_hits(t, LANG_MARKERS["en"])
    return (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_token_len",
            (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double"),
        )
        .withColumn("punct_ratio", n_punct.cast("double") / n_chars.cast("double"))
        .withColumn("upper_ratio", n_upper.cast("double") / n_chars.cast("double"))
        .withColumn("stop_ratio", n_stop.cast("double") / n_tokens.cast("double"))
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite 0-100 quality score from integer-exact features.

    score = 100 · sigmoid-ish blend: length in a sane band, some
    stopwords present, punctuation not dominating. The blend uses only
    +,·,/ of already-deterministic doubles.
    """
    feats = quality_features(df)
    length_ok = F.when(
        (F.col("n_chars_m") >= 50) & (F.col("n_chars_m") <= 10000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    score = (
        F.lit(40.0) * length_ok
        + F.lit(40.0) * F.least(F.col("stop_ratio") * 4, F.lit(1.0))
        + F.lit(20.0) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 10, F.lit(1.0)))
    )
    return feats.withColumn("quality_score", score)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme):
    hash every character k-gram, slide a window of ``w`` consecutive
    hashes, keep each window's minimum — any shared substring of length
    ≥ w+k-1 produces a shared fingerprint. Returns DISTINCT
    ``(*keep_cols, fp)``; ``keep_cols[0]`` must be the per-document id
    (it keys the sliding windows). Shared by the fingerprinting,
    decontamination, and novelty-scoring queries — one definition, one
    oracle shape. All hashes are md5 hex (engine-portable); docs
    shorter than k+w-1 chars produce no fingerprints (too short to
    carry a full window).
    """
    cols = list(keep_cols)
    doc_key = cols[0]
    n = F.greatest(F.length(F.col(TEXT)) - (k - 1), F.lit(1))
    grams = df.select(
        *cols, F.col(TEXT), F.explode(F.sequence(F.lit(1), n)).alias("i")
    ).select(
        *cols,
        "i",
        F.md5(F.col(TEXT).substr(F.col("i"), F.lit(k))).alias("h"),
    )
    w_min = (
        Window.partitionBy(doc_key)
        .orderBy("i")
        .rowsBetween(Window.currentRow, w - 1)
    )
    w_max = Window.partitionBy(doc_key)
    return (
        grams.select(
            *cols,
            F.min("h").over(w_min).alias("fp"),
            "i",
            F.max("i").over(w_max).alias("max_i"),
        )
        .where(F.col("i") <= F.col("max_i") - (w - 1))
        .select(*cols, "fp")
        .distinct()
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, whitespace collapsed). The exact-dedup key."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def char_shingles(
    df: DataFrame, k: int = 5
) -> DataFrame:
    """Explode each document into its k-character shingles (the MinHash
    input). One narrow explode — no shuffle. Documents shorter than k
    contribute their whole text as a single shingle."""
    n = F.greatest(F.length(F.col(TEXT)) - (k - 1), F.lit(1))
    return (
        df.select(
            DOC_ID,
            F.col(TEXT),
            F.explode(F.sequence(F.lit(1), n)).alias("i"),
        )
        .select(
            DOC_ID,
            F.col(TEXT).substr(F.col("i"), F.lit(k)).alias("shingle"),
        )
    )


# ------------------------------------------------------------ PII scrub ---

# Production scrub patterns, ordered: more-specific classes first so an
# email's digits aren't half-eaten by the generic id-run rule. Every
# pattern is in the Java-regex ∩ RE2 portable subset (no backrefs, no
# lookaround) so the DuckDB oracle states the identical expressions.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b", "[IP]"),
    ("id_run", r"[0-9]{4,}", "[ID]"),
)


def scrub_patterns(
    df: DataFrame,
    text_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Redact every pattern class from ``text_col`` and count matches
    per class (columns ``n_<name>``) — the PII-scrub stage of a
    training-data pipeline (emails, IPs, long id runs → typed
    placeholder tokens).

    Pure narrow projection: regexp_replace/regexp_count are JVM
    codegen expressions, zero shuffle, scan-bound at any corpus size.
    Each class counts matches on the text AS ALREADY SCRUBBED by the
    earlier classes, so a digit run inside a redacted email is never
    double-counted and Σ n_<class> equals the replacements actually
    made by the chain (non-overlapping, left-to-right — identical in
    Spark and DuckDB's RE2).
    """
    out = df
    cur = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, repl)
    return out.withColumn(out_col or f"{text_col}_scrubbed", cur)


# ------------------------------------------------------- seq packing ---


def pack_sequences(
    df: DataFrame,
    seq_len: int,
) -> DataFrame:
    """GPT-style sequence packing: within each shard, documents are
    concatenated in a deterministic order (md5(id), id) and the token
    stream is cut every ``seq_len`` tokens. Emits per document:

    - ``n_tokens``     whitespace token count
    - ``start_offset`` position of the doc's first token in its
      shard's packed stream
    - ``pack_id``      index of the sequence holding that first token
    - ``n_packs``      how many sequences the doc spans (1 = intact;
      >1 = split across a cut)

    Scale shape: ONE running-sum window per shard — the global-order
    cumsum that would serialize the whole corpus through a single
    partition is avoided by packing within shards (exactly how a real
    pipeline packs per input file/source); a shard's docs must fit one
    task, which matches shard-sized inputs. md5 ordering makes the
    packing stable under corpus growth within unchanged shards.
    """
    w = (
        Window.partitionBy(SHARD)
        .orderBy(F.md5(F.col(DOC_ID).cast("string")), F.col(DOC_ID))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL/empty docs contribute ZERO tokens to the packed stream:
    # raw size(split(...)) would give NULL (ANSI) or -1 (legacy) for
    # NULL text — corrupting every later offset in the shard — and
    # split('') == [''] would inject a phantom token for empty text
    t = F.col(TEXT)
    n_tok = (
        F.when(t.isNull() | (t == ""), F.lit(0))
        .otherwise(token_count(t))
        .cast("long")
    )
    out = df.select(
        F.col(DOC_ID), F.col(SHARD), n_tok.alias("n_tokens")
    ).withColumn("__cum", F.sum("n_tokens").over(w))
    start = F.col("__cum") - F.col("n_tokens")
    # pure integer division (`div`, never floor-of-double — a shard
    # past 2^53 cumulative tokens would lose exactness)
    first = F.expr(f"(__cum - n_tokens) div {seq_len}")
    last = F.expr(f"(__cum - 1) div {seq_len}")
    return out.select(
        DOC_ID,
        SHARD,
        "n_tokens",
        start.alias("start_offset"),
        first.alias("pack_id"),
        (last - first + F.lit(1)).alias("n_packs"),
    )


# --------------------------------------------------- bigram LM scoring ---


def lm_bigram_score(df: DataFrame) -> DataFrame:
    """KenLM-style corpus quality scoring with an in-corpus bigram LM:
    train add-1-smoothed bigram counts over the whole corpus, then
    score every document by its average negative log2 bigram
    probability (perplexity = 2^avg_neg_log2p). Low scores = text that
    looks like the corpus; high scores = outlier/garbage docs — the
    standard perplexity-filter signal for LLM training data.

    Returns (id, n_bigrams, avg_neg_log2p). Determinism: each
    per-bigram log2 term is computed on identical integer-derived
    doubles in both engines and floor-quantized at 10^-SCORE_DIGITS before
    the (exact, order-independent) integer sum; the final division has
    identical operands, so the output double is bit-identical.

    Scale shape: two count shuffles (bigram, context) + two shuffle
    joins back + one per-doc agg — all keyed, no corpus-sized
    broadcast; the vocabulary size is the only driver-side scalar
    (same stance as BM25's avgdl). Count tables are Zipf-concentrated;
    AQE skew-join handles hot contexts.
    """
    tk = F.split(F.col(TEXT), " ")
    big = (
        df.select(F.col(DOC_ID), tk.alias("__tk"))
        .where(F.size("__tk") >= 2)
        .select(
            DOC_ID,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__tk") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("__tk"), i).alias("w1"),
                        F.element_at(F.col("__tk"), i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select(DOC_ID, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    big = big.persist()
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        df.select(F.explode(tk).alias("t")).agg(
            F.count_distinct("t").alias("v")
        )
    ).collect()[0]["v"]
    scale = float(10**SCORE_DIGITS)
    p = (F.col("c12") + F.lit(1.0)) / (
        F.col("c1") + F.lit(float(vocab))
    )
    term_q = F.floor(F.log2(p) * F.lit(scale) + F.lit(0.5)).cast("long")
    out = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy(DOC_ID)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(term_q).alias("__sq"),
        )
        .select(
            DOC_ID,
            "n_bigrams",
            (
                -F.col("__sq").cast("double")
                / (F.col("n_bigrams").cast("double") * F.lit(scale))
            ).alias("avg_neg_log2p"),
        )
    )
    # materialize-then-release: the bigram cache must not outlive the
    # call (see cache.finalize)
    return finalize(out, big)


# ---------------------------------------------- Gopher repetition filters ---

# Gopher (Rae et al. 2021, arXiv:2112.11446 Appendix A1.1) repetition
# thresholds, adapted token-level (the fixture corpus has no line
# structure): a doc fails when its most-common n-gram or its duplicated
# n-grams cover too much of the text.
GOPHER_TOP2_MAX = 0.20
GOPHER_TOP3_MAX = 0.18
GOPHER_DUP5_MAX = 0.15
GOPHER_DUP10_MAX = 0.10


def _gram_counts(df: DataFrame, n: int) -> DataFrame:
    """(id, gram, c): occurrence counts of word n-grams per doc —
    ALL occurrences, not distinct (repetition is the signal here).
    Docs shorter than ``n`` tokens contribute NO rows (a truncated
    partial gram would trivially be the doc's "top" gram and fail
    every short doc)."""
    tk = F.split(F.col(TEXT), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
    )
    return (
        df.where(F.size(tk) >= n)
        .select(F.col(DOC_ID), F.explode(grams).alias("gram"))
        .groupBy(DOC_ID, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _gram_fracs(df: DataFrame, n: int, prefix: str) -> DataFrame:
    """Per-doc (id, {prefix}_top_frac, {prefix}_dup_frac): the
    most-common n-gram's share of all n-gram occurrences, and the
    share of occurrences belonging to grams seen more than once.
    Exact-integer ratios (one division of exact BIGINTs)."""
    counts = _gram_counts(df, n)
    return counts.groupBy(DOC_ID).agg(
        (
            F.max("c").cast("double")
            / F.sum("c").cast("double")
        ).alias(f"{prefix}_top_frac"),
        (
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("c").cast("double")
        ).alias(f"{prefix}_dup_frac"),
    )


def gopher_repetition(df: DataFrame) -> DataFrame:
    """Gopher repetition quality filters (Rae et al. 2021 A1.1),
    token-level adaptation: top-2/3-gram fraction and duplicate
    5/10-gram fraction per document, plus the pass/fail verdict under
    the published-style thresholds. The reference repo has no corpus
    quality filtering; this is the LLM-data extension op every
    pretraining pipeline runs before tokenization.

    Scale shape: four explode→groupBy((id, gram))→groupBy(id)
    pipelines LEFT-joined back onto the doc list — each is one keyed
    shuffle of the doc's own n-grams (map-side partial aggregation
    collapses repeated grams early), no global state, no broadcast.
    The four pipelines share the same scan via Spark's plan-level
    scan reuse. A doc too short for a given n has no gram rows; its
    fraction coalesces to 0.0 — sub-n docs PASS that gram's test
    (length gates are a different filter's job). Note the top-gram
    fractions use the n-gram occurrence count as denominator, so docs
    only a few tokens past n (a handful of n-grams total) still fail
    the top-gram tests — as in the paper, run a minimum-length filter
    (Gopher uses 50 words) before this one.
    """
    t2 = _gram_fracs(df, 2, "g2")
    t3 = _gram_fracs(df, 3, "g3")
    t5 = _gram_fracs(df, 5, "g5")
    t10 = _gram_fracs(df, 10, "g10")
    out = (
        df.select(DOC_ID)
        .join(t2, DOC_ID, "left")
        .join(t3, DOC_ID, "left")
        .join(t5, DOC_ID, "left")
        .join(t10, DOC_ID, "left")
        .select(
            DOC_ID,
            F.coalesce("g2_top_frac", F.lit(0.0)).alias("g2_top_frac"),
            F.coalesce("g3_top_frac", F.lit(0.0)).alias("g3_top_frac"),
            F.coalesce("g5_dup_frac", F.lit(0.0)).alias("g5_dup_frac"),
            F.coalesce("g10_dup_frac", F.lit(0.0)).alias("g10_dup_frac"),
        )
    )
    passes = (
        (F.col("g2_top_frac") <= GOPHER_TOP2_MAX)
        & (F.col("g3_top_frac") <= GOPHER_TOP3_MAX)
        & (F.col("g5_dup_frac") <= GOPHER_DUP5_MAX)
        & (F.col("g10_dup_frac") <= GOPHER_DUP10_MAX)
    )
    return out.select(
        DOC_ID,
        "g2_top_frac",
        "g3_top_frac",
        "g5_dup_frac",
        "g10_dup_frac",
        passes.alias("passes"),
    )


# ------------------------------------------------ DSIR importance weights ---

DSIR_BUCKETS = 256

def dsir_importance_weights(
    df: DataFrame,
    target: Column,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    per-document log importance weight log(p_target/p_source) under
    hashed-token bucket distributions — rank the corpus by
    ``dsir_logw`` and keep the top slice to shift the data mix toward
    the ``target`` subset's distribution (the paper's hashed-n-gram
    importance resampling, unigram instance).

    ``target`` is a boolean Column selecting the target rows (e.g.
    ``F.col("lang") == "en"``). Returns (id, n_tokens, dsir_logw).

    Determinism: bucket probabilities are ratios of exact integers
    (add-1 smoothed); each bucket's log2 ratio is floor-quantized at
    10^-SCORE_DIGITS; per-doc sums run over exact BIGINTs; the final
    division has identical operands — bit-identical doubles.

    Scale shape: one explode → one groupBy(bucket) count (256 rows
    out, map-side combined) → a 256-row ratio table broadcast back
    over the token stream → per-doc sum. No corpus-sized broadcast,
    no driver-side collect; the two total-token scalars ride along as
    1-row cross joins the optimizer folds into the broadcast side.
    """
    # persisted: the bucketed token stream feeds the count aggregation
    # AND the final per-doc scoring join — unpersisted, the corpus
    # explode + two md5 calls per token (the dominant cost) runs twice.
    # Released by the finalize() below once the result materializes.
    toks = (
        df.select(
            F.col(DOC_ID),
            target.alias("__tgt"),
            F.explode(F.split(F.col(TEXT), " ")).alias("t"),
        )
        .select(DOC_ID, "__tgt", md5_byte("t").alias("b"))
        .persist()
    )
    # BOTH distributions from ONE aggregation pass (conditional count)
    bcounts = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("cs"),
        F.count(F.when(F.col("__tgt"), F.lit(1))).alias("ct"),
    )
    src = bcounts.select("b", "cs")
    tgt = bcounts.where(F.col("ct") > 0).select("b", "ct")
    s_tot = bcounts.agg(F.sum("cs").alias("S"))
    # empty target degrades to the uniform add-1 distribution (T=0,
    # every ct=0) instead of silently NULLing every weight
    t_tot = bcounts.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("T"))
    nb = F.lit(DSIR_BUCKETS)
    scale = float(10**SCORE_DIGITS)
    # exact-integer-valued doubles: (ct+1)/(T+B) and (cs+1)/(S+B) are
    # each one IEEE division of identical operands in both engines
    pt = (F.col("ct") + F.lit(1)).cast("double") / (
        F.col("T") + nb
    ).cast("double")
    ps = (F.col("cs") + F.lit(1)).cast("double") / (
        F.col("S") + nb
    ).cast("double")
    ratio = (
        src.join(tgt, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(s_tot)
        .crossJoin(t_tot)
        .select(
            "b",
            F.floor(F.log2(pt / ps) * F.lit(scale) + F.lit(0.5))
            .cast("long")
            .alias("q"),
        )
    )
    out = (
        toks.join(F.broadcast(ratio), "b")
        .groupBy(DOC_ID)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("q").alias("__sq"))
        .select(
            DOC_ID,
            "n_tokens",
            (F.col("__sq").cast("double") / F.lit(scale)).alias("dsir_logw"),
        )
    )
    return finalize(out, toks)


# ------------------------------------------------- BPE merge counting ---


def bpe_pair_counts(
    df: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """The counting kernel of BPE tokenizer training (Sennrich et al.
    2016): collapse the corpus to a word-frequency table, explode each
    distinct word into its adjacent character pairs, and rank pairs by
    frequency-weighted occurrence count — rank 1 is exactly the first
    merge a BPE trainer would learn. (Full BPE training iterates
    re-segmentation per merge — inherently sequential; the per-round
    counting shown here is the distributed-heavy part.)

    Returns (pair, n_occurrences, rank) for the top ``top_k`` pairs,
    deterministic tie-break on the pair string.

    Scale shape: the word-frequency collapse is the big win — pair
    counting runs over DISTINCT words (vocabulary-sized, Zipf-bounded)
    weighted by their counts, not over the raw token stream; one
    groupBy(word) shuffle + one groupBy(pair) shuffle (both map-side
    combined), then a distributed top-k (TakeOrderedAndProject) with
    the final rank over top_k rows only.
    """
    words = (
        df.select(F.explode(F.split(F.col(TEXT), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .where(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wf",
    )
    counts = pairs.groupBy("pair").agg(F.sum("wf").alias("n_occurrences"))
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("pair")
    ).limit(top_k)
    # constant partition key: frame = top_k rows post-limit, never the
    # full pair-count table
    w = Window.partitionBy(bounded_window_key("pair")).orderBy(
        F.col("n_occurrences").desc(), F.col("pair")
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "pair", "n_occurrences", "rank"
    )


# BPE training proper: iterate top-merge selection + re-segmentation.
# Segmentations are encoded as delimiter-framed strings —
#   SEP + token + SEP SEP + token + ... + SEP
# — so one merge round is ONE non-overlapping string replace
# (SEP a SEPSEP b SEP → SEP ab SEP), which is exactly BPE's greedy
# left-to-right merge AND is replayable verbatim in the SQL oracle
# (replace() scans left-to-right non-overlapping in both engines; the
# shared frame delimiters keep adjacent matches composable: "aaaa"
# under merge (a,a) → ["aa","aa"], never ["aa","a","a"]).
BPE_SEP = "\x1f"  # unit separator: never occurs in document text
_BPE_SEP2 = BPE_SEP * 2


def _bpe_seg_tokens(seg: Column) -> Column:
    """Token array of a delimiter-framed segmentation string."""
    return F.split(
        F.regexp_replace(seg, f"^{BPE_SEP}|{BPE_SEP}$", ""), _BPE_SEP2
    )


def _bpe_words_with_seg(df: DataFrame, text_col: str) -> DataFrame:
    """(w, wf, seg): word-frequency table with the initial character
    segmentation — the vocabulary-sized training state (Zipf-bounded,
    never the raw token stream)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .withColumn(
            "seg",
            F.concat(
                F.lit(BPE_SEP),
                F.array_join(F.split(F.col("w"), ""), _BPE_SEP2),
                F.lit(BPE_SEP),
            ),
        )
    )


# Vocabulary-size bound for driver-local BPE training (r12): below
# it, the (w, wf, seg) table is collected ONCE and the merge loop runs
# in-process; above it, the per-round distributed loop is kept. The
# default bounds the collect at a few hundred MB of driver heap (the
# word table is Zipf-bounded vocabulary state, not corpus rows).
BPE_LOCAL_VOCAB_MAX = 4_000_000


def _bpe_learn_local(
    rows: list[tuple[int, str]], n_merges: int
) -> list[tuple]:
    """Driver-local replay of :func:`_bpe_learn_distributed` over the
    collected (wf, seg) vocabulary — EXACTLY the same trajectory:

    - token split: ``seg[1:-1].split(SEP2)`` ≡ the Spark
      ``regexp_replace(^SEP|SEP$) + split(SEP2)`` (every seg is
      SEP-framed by construction, merges preserve the frame);
    - pair counts: sum of wf over adjacent token pairs — the same
      multiset the distributed explode aggregates;
    - argmax: (n desc, a asc, b asc) — Python str comparison is by
      code point, identical to UTF8String's byte order (UTF-8
      preserves code-point order);
    - merge: ``str.replace`` is left-to-right non-overlapping, the
      same scan ``F.replace`` does (the framed-delimiter encoding
      keeps adjacent matches composable in both).
    """
    segs = [(seg, wf) for wf, seg in rows]
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for seg, wf in segs:
            toks = seg[1:-1].split(_BPE_SEP2)
            for pair in zip(toks, toks[1:]):
                counts[pair] = counts.get(pair, 0) + wf
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, int(n)))
        old = BPE_SEP + a + _BPE_SEP2 + b + BPE_SEP
        new = BPE_SEP + a + b + BPE_SEP
        segs = [(s.replace(old, new), wf) for s, wf in segs]
    return merges


def _bpe_learn(words: DataFrame, n_merges: int) -> list[tuple]:
    """BPE merge learning over the (w, wf, seg) vocabulary table.

    The merge trajectory is inherently sequential (each round's argmax
    feeds the next round's re-segmentation), so the distributed loop
    pays one Spark job + one driver round-trip PER MERGE — measured as
    the dominant cost of every bpe_* gate at sf0.1 (6 × ~0.25 s of
    pure job/tiny-shuffle overhead; scaling ratio 0.35 at 32 cores,
    guide §1.2). The state the loop iterates on is VOCABULARY-sized
    (Zipf-bounded — the corpus-sized work, the word-frequency
    collapse, already happened in ``_bpe_words_with_seg``), so below
    ``BPE_LOCAL_VOCAB_MAX`` rows the table is collected once and the
    loop replayed in-process by :func:`_bpe_learn_local` — ONE job
    instead of ``n_merges``; exactness is pinned by
    test_bpe_local_learn_matches_distributed and the DuckDB oracles. Above the bound, the distributed per-round
    loop below is kept (billion-word vocabularies never land on the
    driver). Returns [(round, a, b, n)] either way.
    """
    n_vocab = words.count()  # also materializes the callers' persist
    if n_vocab <= BPE_LOCAL_VOCAB_MAX:
        rows = words.select("wf", "seg").collect()
        return _bpe_learn_local([(r["wf"], r["seg"]) for r in rows], n_merges)
    return _bpe_learn_distributed(words, n_merges)


def _bpe_learn_distributed(words: DataFrame, n_merges: int) -> list[tuple]:
    """The sequential heart of BPE training (Sennrich et al. 2016
    §3.2): ``n_merges`` rounds of [count adjacent token pairs weighted
    by word frequency → take the most frequent (ties: lexicographic
    pair) → merge it everywhere]. Returns [(round, a, b, n)].

    Distributed shape per round: ONE map-side-combined aggregate over
    the vocabulary-sized word table and a 1-row driver collect (the
    argmax merge IS the sequential dependency — same loop structure as
    the k-means/classifier trainers); the re-segmentation is a narrow
    replace expression stacked on the cached words, no shuffle.
    """
    seg = F.col("seg")
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        toks = _bpe_seg_tokens(seg)
        # guard single-token words: Spark's sequence(1, 0) DESCENDS
        # ([1, 0]) instead of being empty, so an unguarded transform
        # would index past the array
        pairs = words.where(F.size(toks) >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("a"),
                        F.element_at(toks, i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "wf",
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("wf").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], best[0]["n"]
        merges.append((r, a, b, int(n)))
        seg = F.replace(
            seg,
            F.lit(BPE_SEP + a + _BPE_SEP2 + b + BPE_SEP),
            F.lit(BPE_SEP + a + b + BPE_SEP),
        )
    return merges


def _bpe_words(df: DataFrame) -> DataFrame:
    """The persisted (w, wf, seg) vocabulary table, registered with the
    open :func:`~..cache.scope` (the BPE operators each open one), so
    it is released on every exit of the outermost scope."""
    words = _bpe_words_with_seg(df, TEXT).persist()
    return finalize(words, words)


def _bpe_apply(merges: list[tuple]) -> Column:
    """The vocabulary's ``seg`` column after replaying the learned
    ``merges`` [(round, a, b, n)] in order."""
    seg = F.col("seg")
    for _, a, b, _n in merges:
        seg = F.replace(
            seg,
            F.lit(BPE_SEP + a + _BPE_SEP2 + b + BPE_SEP),
            F.lit(BPE_SEP + a + b + BPE_SEP),
        )
    return seg


def bpe_train_merges(df: DataFrame, n_merges: int = 6) -> DataFrame:
    """Learned BPE merge table: (round, pair_a, pair_b, merged,
    n_occurrences) — the tokenizer artifact a curation pipeline ships
    (``bpe_pair_counts`` ranks only round 1's candidates; this is the
    full trajectory). Deterministic: integer counts, lexicographic
    tie-break, greedy replace — the SQL oracle replays every round."""
    spark = df.sparkSession
    with scope():
        merges = _bpe_learn(_bpe_words(df), n_merges)
    return spark.createDataFrame(
        [(r, a, b, a + b, n) for r, a, b, n in merges],
        "round INT, pair_a STRING, pair_b STRING, merged STRING, "
        "n_occurrences LONG",
    )


def bpe_token_counts(
    df: DataFrame,
    n_merges: int = 6,
) -> DataFrame:
    """Per-document token count under the LEARNED BPE vocabulary:
    train ``n_merges`` merges, apply them to the word vocabulary, then
    roll the per-word token counts back over each document's token
    stream — the learned-tokenizer upgrade over the whitespace proxy
    token-weighted sampling otherwise uses. Returns
    (id, n_tokens_bpe).

    Scale shape: training touches only the vocabulary table; the
    rollup is one vocab-keyed equi join of the corpus token stream
    against the ≤|vocab|-row token-count table (broadcast-eligible)
    plus one per-doc aggregate."""
    with scope() as s:
        words = _bpe_words(df)
        seg = _bpe_apply(_bpe_learn(words, n_merges))
        word_tokens = s.settle(
            words.select("w", F.size(_bpe_seg_tokens(seg)).alias("n_tok"))
        )
    stream = df.select(
        F.col(DOC_ID), F.explode(F.split(F.col(TEXT), " ")).alias("w")
    )
    return (
        stream.join(F.broadcast(word_tokens), "w")
        .groupBy(DOC_ID)
        .agg(F.sum("n_tok").cast("long").alias("n_tokens_bpe"))
    )


# ---------------------------------------------- vocabulary coverage ---


def vocab_coverage(
    df: DataFrame,
    top_k: int = 100,
) -> DataFrame:
    """Vocabulary-coverage curve: for each of the ``top_k`` most
    frequent tokens, the cumulative share of the whole token stream a
    vocabulary truncated at that rank would cover (1 - coverage = the
    OOV rate every tokenizer-budget decision trades against).

    Returns (rank, token, n_occurrences, cum_share) — cum_share is a
    single division of exact integers per row.

    Scale shape: one groupBy(token) count (map-side combined,
    vocabulary-sized output), a distributed top-k, and a cumulative
    window over top_k rows only; the total-token scalar rides along as
    a 1-row cross join. The full-vocabulary cumulative curve would
    need a global-order window over the vocab table — truncating to
    the rank prefix you actually decide over keeps the window
    single-partition-safe.
    """
    toks = df.select(F.explode(F.split(F.col(TEXT), " ")).alias("t"))
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = (
        counts.orderBy(F.col("n").desc(), F.col("t"))
        .limit(top_k)
        .crossJoin(F.broadcast(total))
    )
    # constant partition key: both windows see only the top_k surviving
    # rows (post-limit), never the token-count table
    w = (
        Window.partitionBy(bounded_window_key("t"))
        .orderBy(F.col("n").desc(), F.col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.row_number()
        .over(
            Window.partitionBy(bounded_window_key("t")).orderBy(
                F.col("n").desc(), F.col("t")
            )
        )
        .alias("rank"),
        F.col("t").alias("token"),
        F.col("n").alias("n_occurrences"),
        (F.sum("n").over(w).cast("double") / F.col("total").cast("double")).alias(
            "cum_share"
        ),
    )


# ------------------------------------------------ trained quality classifier

QC_SX = 10**6  # feature quanta: x_b = bucket_count / n_tokens
QC_SW = 10**9  # weight / score quanta
QC_ITERS = 3


def _fdiv(num: str, den, off: int) -> str:
    """Spark SQL expr: floor(num/den) for a possibly-negative integer
    ``num`` column expression. Spark's ``div`` truncates toward zero
    while DuckDB's ``//`` floors — adding ``off·den`` first makes the
    dividend non-negative, where the two agree (the k-means _KM_OFF
    discipline). ``off`` must be ≥ |num|/den at the call site; the
    oracle twin is the same text with ``//`` for ``div`` and no ``L``
    suffixes (the BIGINT literal marker — without it Spark folds
    off·den as INT×INT and raises ANSI overflow)."""
    return f"((({num}) + {off}L * ({den})) div ({den})) - {off}L"


def quality_classifier_scores(
    df: DataFrame,
    label: Column,
    iterations: int = QC_ITERS,
) -> DataFrame:
    """Distributed training of a linear quality classifier over hashed
    bag-of-words features — the fasttext-style quality-filter stage
    (CCNet, Wenzek et al. 2020; GPT-3's WebText-vs-CommonCrawl LR
    filter, Brown et al. 2020 A.1) as pure DataFrame plans.

    Model: 256 hashed-token-bucket frequencies + bias, piecewise-linear
    sigmoid p = clamp(1/2 + z/4, 0, 1), squared loss, full-batch
    gradient descent (η = 1/4, slope gate |z| < 2). Every quantity is
    integer quanta (features 10^-6, weights/scores 10^-9) and every
    division is the sign-safe floor form (:func:`_fdiv`), so the
    training trajectory — not just the final scores — is
    bit-reproducible across engines, partitionings, and runs, and the
    whole T-round loop unrolls into a SQL oracle exactly like the
    k-means / PageRank loops. The PWL sigmoid exists precisely to keep
    this exactness: exp() differs in final ulps across engines.

    Scale shape per round: one broadcast join of the ≤257-row weight
    table to the persisted feature stream, one per-doc sum (z), one
    per-bucket sum (gradient) — two keyed shuffles of the feature
    table, nothing sized with the corpus beyond it. Weights are
    materialized per round (257 rows, ``next_round``) to keep lineage
    linear; n_docs ≤ 9·10^8 keeps every offset product inside BIGINT.

    ``label``: boolean Column over ``df`` (e.g. lang == 'en').
    Returns (id, score double, pred int, y int) — score = z/1, the
    final-round linear logit.
    """
    spark = df.sparkSession
    toks = df.select(
        F.col(DOC_ID), F.explode(F.split(F.col(TEXT), " ")).alias("t")
    )
    counts = toks.groupBy(DOC_ID, md5_byte("t").alias("b")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ntok = toks.groupBy(DOC_ID).agg(F.count(F.lit(1)).alias("n"))
    fx = (
        counts.join(ntok, DOC_ID)
        .selectExpr(DOC_ID, "b", f"(cnt * {QC_SX}) div n AS xq")
        .unionByName(
            df.select(
                F.col(DOC_ID), F.lit(-1).alias("b"), F.lit(QC_SX).alias("xq")
            )
        )
        # co-partition the cached feature stream on the doc key (r11,
        # guide §2.4): the union breaks the join's partitioning, so
        # without this every round's per-doc z groupBy AND the final
        # scoring groupBy re-shuffled the whole feature table — one
        # exchange here removes T+1 of them (the weight join is
        # broadcast and preserves partitioning)
        .repartition(DOC_ID)
        .persist()  # read T+1 times; released by the finalize() below
    )
    # co-partition the per-doc label table on the same key as fx and
    # persist it: it feeds the error join every round plus the final
    # projection, and with matching partitioning those joins (and the
    # z⋈y, fx⋈e chains that inherit it) plan with no exchange at all
    y = (
        df.select(F.col(DOC_ID), label.cast("int").alias("y"))
        .repartition(DOC_ID)
        .persist()
    )
    n_docs = df.count()

    w = None  # round 1 starts from all-zero weights ⇒ z = 0 for every doc
    for _ in range(iterations):
        if w is None:
            e = y.select(
                DOC_ID, F.expr(f"{QC_SW // 2} - y * {QC_SW}").alias("err")
            ).withColumn("g", F.lit(True))
        else:
            z = (
                fx.join(F.broadcast(w), "b")
                .withColumn("pr", F.expr("wq * xq"))
                .groupBy(DOC_ID)
                .agg(F.sum("pr").alias("s"))
                .selectExpr(DOC_ID, _fdiv("s", QC_SX, 10**12) + " AS zq")
            )
            e = z.join(y, DOC_ID).selectExpr(
                DOC_ID,
                f"least(greatest({QC_SW // 2} + ({_fdiv('zq', 4, 10**9)}), 0),"
                f" {QC_SW}) - y * {QC_SW} AS err",
                f"abs(zq) < {2 * QC_SW} AS g",
            )
        grad = (
            # with fx and y both co-partitioned on the doc key, e
            # inherits HashPartitioning(id) from the z⋈y join, so this
            # join plans with NO exchange on either side — each
            # round's only shuffle is the ≤257-row per-bucket gradient
            # aggregate (r11, guide §2.4)
            fx.join(e, DOC_ID)
            .selectExpr(
                "b",
                f"CASE WHEN g THEN {_fdiv('err * xq', QC_SX, 10**10)}"
                " ELSE 0 END AS c",
            )
            .groupBy("b")
            .agg(F.sum("c").alias("grad"))
        )
        step = _fdiv(_fdiv("grad", "nd", 10**10), 16, 10**9)
        if w is None:
            w_new = grad.withColumn("nd", F.lit(n_docs)).selectExpr(
                "b", f"0 - ({step}) AS wq"
            )
        else:
            # every feature bucket appears in grad (g gates the value,
            # not the row), so the bucket sets match and inner join is
            # total — the same invariant each round
            w_new = (
                grad.join(w, "b")
                .withColumn("nd", F.lit(n_docs))
                .selectExpr("b", f"wq - ({step}) AS wq")
            )
        # w is referenced twice next round
        w = next_round(w_new, w)

    scored = (
        fx.join(F.broadcast(w), "b")
        .withColumn("pr", F.expr("wq * xq"))
        .groupBy(DOC_ID)
        .agg(F.sum("pr").alias("s"))
        .selectExpr(DOC_ID, _fdiv("s", QC_SX, 10**12) + " AS zq")
    )
    out = scored.join(y, DOC_ID).select(
        F.col(DOC_ID),
        (F.col("zq").cast("double") / F.lit(float(QC_SW))).alias("score"),
        (F.col("zq") >= 0).cast("int").alias("pred"),
        F.col("y"),
    )
    # release the feature matrix and the final weight round with the call
    return finalize(out, fx, w, y)


def bpe_vocab(df: DataFrame, n_merges: int = 6) -> DataFrame:
    """The VOCABULARY a trained BPE tokenizer ships: every token the
    learned segmentation produces, with its corpus occurrence count —
    (token, n_occurrences). Complements :func:`bpe_train_merges` (the
    merge rules) and :func:`bpe_token_counts` (per-doc counts): rules +
    vocab are the two artifacts a tokenizer package serializes.

    Scale shape: training touches only the vocabulary-sized word
    table; the readout is one explode over that same table (weighted
    by word frequency) + a map-side-combined aggregate over ≤(distinct
    chars + n_merges) token groups — corpus-size independent
    throughout."""
    with scope() as s:
        words = _bpe_words(df)
        seg = _bpe_apply(_bpe_learn(words, n_merges))
        return s.settle(
            words.select(F.explode(_bpe_seg_tokens(seg)).alias("token"), "wf")
            .groupBy("token")
            .agg(F.sum("wf").cast("long").alias("n_occurrences"))
        )


def bpe_encode(
    df: DataFrame,
    n_merges: int = 6,
    max_tokens: int = 32,
) -> DataFrame:
    """ENCODE every document under the learned BPE tokenizer: the
    per-doc token STREAM (id, pos, token), truncated at ``max_tokens``
    — i.e. actually tokenize the corpus, not just count it
    (:func:`bpe_token_counts`). ``pos`` is 1-based over the doc's
    whole-word token concatenation in document order.

    Scale shape: training stays vocabulary-sized; encoding is the
    corpus word stream equi-joined (broadcast-eligible) against the
    ≤|vocab|-row word→tokens table, ONE per-doc window (running token
    offset over word positions — partitioned by doc, never global),
    then a narrow bounded posexplode. The ``max_tokens`` cut prunes
    the explode fan-out to O(docs · max_tokens)."""
    with scope() as s:
        words = _bpe_words(df)
        seg = _bpe_apply(_bpe_learn(words, n_merges))
        word_toks = s.settle(
            words.select(
                "w",
                _bpe_seg_tokens(seg).alias("toks"),
                F.size(_bpe_seg_tokens(seg)).alias("n_tok"),
            )
        )
    stream = df.select(
        F.col(DOC_ID),
        F.posexplode(F.split(F.col(TEXT), " ")).alias("word_pos", "w"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(DOC_ID)
        .orderBy("word_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_base = (
        stream.join(F.broadcast(word_toks), "w")
        .withColumn("base", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        # words starting at/after the cut contribute nothing — prune
        # BEFORE the explode so fan-out is bounded by max_tokens
        .where(F.col("base") < F.lit(max_tokens))
    )
    return (
        with_base.select(
            DOC_ID,
            F.col("base"),
            F.posexplode("toks").alias("ti", "token"),
        )
        .select(
            DOC_ID,
            (F.col("base") + F.col("ti") + 1).cast("long").alias("pos"),
            "token",
        )
        .where(F.col("pos") <= F.lit(max_tokens))
    )


def span_corruption(
    df: DataFrame,
    span_len: int = 3,
    period: int = 5,
) -> DataFrame:
    """T5-style span-corruption denoising pairs (Raffel et al. 2020
    §3.1.4) with a DETERMINISTIC mask: tokens group into consecutive
    ``span_len``-token blocks and every ``period``-th block is
    corrupted (corruption rate 1/period, span length span_len) — the
    reproducible twin of the paper's random spans, so the whole
    construction is engine-portable and SQL-oracle-checkable.

    Returns (id, inputs, targets):
      inputs  — the original text with each corrupted block collapsed
                to its sentinel ``<extra_id_K>`` (K = corrupted-block
                ordinal, closed-form ``block div period`` — never a
                rank over the corpus)
      targets — per corrupted block, sentinel + the block's tokens,
                concatenated in document order ('' when the doc is too
                short to reach a corrupted block)

    Scale shape: one narrow posexplode + ONE doc-keyed aggregate;
    document order is restored inside the aggregate by sorting the
    (pos, piece) structs — no window, no second shuffle."""
    toks = df.select(
        F.col(DOC_ID),
        F.posexplode(F.split(F.col(TEXT), " ")).alias("p", "tok"),
    ).select(
        DOC_ID,
        "p",
        "tok",
        F.expr(f"p div {span_len}").alias("b"),
        (F.col("p") % span_len == 0).alias("bstart"),
    )
    masked = F.col("b") % period == period - 1
    sentinel = F.concat(
        F.lit("<extra_id_"),
        F.expr(f"b div {period}").cast("string"),
        F.lit(">"),
    )
    pieces = toks.select(
        DOC_ID,
        "p",
        F.when(~masked, F.col("tok"))
        .when(F.col("bstart"), sentinel)
        .alias("in_piece"),
        F.when(
            masked & F.col("bstart"),
            F.concat(sentinel, F.lit(" "), F.col("tok")),
        )
        .when(masked, F.col("tok"))
        .alias("tgt_piece"),
    )

    def _joined(piece_col: str) -> Column:
        return F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(
                            F.struct(F.col("p"), F.col(piece_col).alias("x"))
                        )
                    ),
                    lambda s: s.getField("x").isNotNull(),
                ),
                lambda s: s.getField("x"),
            ),
            " ",
        )

    return pieces.groupBy(DOC_ID).agg(
        _joined("in_piece").alias("inputs"),
        _joined("tgt_piece").alias("targets"),
    )


def fim_transform(
    df: DataFrame,
    prefix_pct: int = 40,
    middle_pct: int = 20,
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022, the
    code-LLM pretraining reorder): split each document's token stream
    into prefix/middle/suffix at DETERMINISTIC integer token cuts
    (``prefix_pct`` / ``middle_pct`` of the token count, floor
    division — reproducible, engine-portable) and emit the PSM
    rendering ``<fim_prefix> P <fim_suffix> S <fim_middle> M``.

    Scale shape: a single narrow projection — split, two integer cut
    points, three array slices, one concat. No explode, no shuffle,
    whole-stage codegen end to end."""
    toks = F.split(F.col(TEXT), " ")
    n = F.size(toks)
    p_end = F.expr(f"size(split({TEXT}, ' ')) * {prefix_pct} div 100")
    m_end = F.expr(
        f"size(split({TEXT}, ' ')) * {prefix_pct + middle_pct} div 100"
    )
    prefix = F.array_join(F.slice(toks, F.lit(1), p_end), " ")
    middle = F.array_join(
        F.slice(toks, p_end + F.lit(1), m_end - p_end), " "
    )
    suffix = F.array_join(F.slice(toks, m_end + F.lit(1), n - m_end), " ")
    return df.select(
        F.col(DOC_ID),
        F.concat(
            F.lit("<fim_prefix> "),
            prefix,
            F.lit(" <fim_suffix> "),
            suffix,
            F.lit(" <fim_middle> "),
            middle,
        ).alias("fim_text"),
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks 1990), the standard phrase-detection pass (word2vec's
    ``min_count``/``threshold`` phrasing step uses the same score):
    for each adjacent word pair, ``lift = p(ab) / (p(a)·p(b))``
    estimated from bigram-position counts — n_ab·N / (n_a·n_b) with
    n_a = bigrams starting with ``a``, n_b = bigrams ending with
    ``b``, N = total bigrams. PMI = ln(lift); the engines' ``ln``
    differ in the last ulp, so the returned ``lift`` column stays in
    exact-integer-operand IEEE space (each count cast to double, one
    multiply chain — bit-identical everywhere) and ranks identically.

    Scale shape: one explode over token positions, three map-side-
    combined count aggregates (pair / left-unigram / right-unigram),
    two vocabulary-keyed equi joins, a 1-row total broadcast via
    cross join. ``min_count`` prunes the pair table BEFORE the joins,
    so the join inputs are the frequent-pair set, not the long tail.
    """
    toks = F.split(F.col(TEXT), " ")
    pairs = (
        df.select(
            toks.alias("tk"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
            ).alias("i"),
        )
        .where(F.col("i") + 1 <= F.size(F.col("tk")))
        .select(
            F.element_at(F.col("tk"), F.col("i")).alias("w1"),
            F.element_at(F.col("tk"), F.col("i") + 1).alias("w2"),
        )
    )
    pair_counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    left_counts = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("n_a"))
    right_counts = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("n_b"))
    total = pairs.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        pair_counts.where(F.col("n_ab") >= min_count)
        .join(left_counts, "w1")
        .join(right_counts, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                F.col("n_ab").cast("double")
                * F.col("n_total").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)


def hashed_features(
    docs: DataFrame,
    n_features: int = 256,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009, sklearn's
    HashingVectorizer): term → feature index via a hash, with a second
    hash bit supplying the ±1 sign that keeps collision noise
    zero-mean. The vectorizer behind every train-time text featurizer
    that cannot afford a vocabulary build: stateless, so it
    distributes with NO global dictionary, no second pass, and
    identical output on any cluster size — exactly what a 100 TB
    featurization sweep needs.

    Index/sign are md5-derived (``conv`` of leading hex nibbles), the
    repo's engine-portable deterministic-hash idiom, NOT a private
    JVM hash — so the features are exactly oracle-checkable and
    stable across Spark versions. Output is sparse relational grain
    ``(id, feat_idx, weight)`` with ``weight = Σ ±1`` over the doc's
    terms (signed term counts); rows with weight 0 (exact sign
    cancellation) are kept — dropping them is a lossy densification
    the caller can apply.

    Plan: explode(split) → ONE map-side-combinable groupBy
    ``(id, feat_idx)``. No UDF, no vocabulary broadcast.
    """
    term = F.lower(F.col("__term"))
    idx = md5_int(term, 4) % F.lit(n_features)
    sign_nibble = md5_int(term, 1, start=5)
    sign = F.when(sign_nibble % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        docs.select(
            F.col(DOC_ID).alias("id"),
            F.explode(tokens(F.col(TEXT))).alias("__term"),
        )
        .where(F.col("__term") != "")
        .select("id", idx.cast("int").alias("feat_idx"), sign.alias("__s"))
        .groupBy("id", "feat_idx")
        .agg(F.sum("__s").cast("long").alias("weight"))
    )
