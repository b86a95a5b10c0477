"""Deduplication operators for LLM training-data pipelines (SURVEY §7.2
M5 / BASELINE.json north star): exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Design for 100 TB:

- Exact dedup is a fingerprint groupBy — one shuffle on the md5 key.
- MinHash+LSH: shingle explode (narrow) → per-doc signature (one
  shuffle on doc_id) → banding → candidate pairs via a *bucket
  self-join* (shuffle on band value — only colliding docs ever meet,
  never the quadratic all-pairs) → exact Jaccard verification on the
  candidate set only. This is the textbook scale path: the all-pairs
  comparison is O(n²); LSH makes it O(collisions).
- SimHash: one explode + one groupBy; the 32-bit signature packs into
  a string; Hamming-neighbor search is a bucket join on signature
  prefixes.
- Determinism: all hashes derive from md5 (identical in every engine);
  "minimum hash" is the numeric min of the 60-bit md5 prefix (same
  argmin as lexicographic min over the fixed-width hex prefix, but
  BIGINT agg buffers keep Spark on HashAggregate instead of
  SortAggregate); all counts are integers — so results are
  bit-reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from blockchain_data_engineering_spark.functions.scalar import md5_int
from blockchain_data_engineering_spark.operators.text import (
    DOC_ID,
    TEXT,
    char_shingles,
    fingerprint,
)

# Paragraphs are split on blank lines and re-joined with one.
PARAGRAPH_SEP = r"\n{2,}"
PARAGRAPH_JOIN = "\n\n"
# A token span is a duplicate once it occurs in this many documents.
SPAN_MIN_DOCS = 2
# tune_lsh_params' loss weights on the false-positive and the
# false-negative probability mass.
LSH_FP_WEIGHT = 0.5
LSH_FN_WEIGHT = 0.5

# ---------------------------------------------------------------- exact ---


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """(fp, n_docs, canonical_id): hash-groupBy exact dedup; the
    canonical representative is the minimum id (deterministic)."""
    return (
        df.select(F.col(DOC_ID), fingerprint(F.col(TEXT)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(DOC_ID).alias("canonical_id"),
        )
    )


def paragraph_dedup(df: DataFrame) -> DataFrame:
    """Paragraph-level exact dedup — the standard pre-MinHash pass of
    the RefinedWeb recipe (Penedo et al. 2023 §3.3 / Lee et al. 2022):
    split every document on blank lines, md5 each paragraph, keep only
    the FIRST occurrence corpus-wide (ordered by (doc_id, position) —
    deterministic), and rebuild each document from its surviving
    paragraphs. Boilerplate (headers, footers, licence blocks) repeats
    across millions of pages verbatim; dropping repeats per-paragraph
    removes it without discarding whole documents the way doc-level
    exact dedup would.

    Returns (id, n_paragraphs, n_kept, text_dedup) — documents whose
    every paragraph was already seen elsewhere drop out entirely
    (n_kept would be 0), which IS the dedup verdict for a pure-
    boilerplate page.

    Scale shape: ONE keyed shuffle on the paragraph hash for the
    keep-first election (window rank, no self-join fan-out) plus one
    per-document aggregate for the rebuild; the rebuild keeps paragraph
    order via a sort_array over each doc's (position, paragraph) pairs.
    """
    paras = (
        df.select(
            F.col(DOC_ID),
            F.posexplode(F.split(F.col(TEXT), PARAGRAPH_SEP)).alias(
                "idx", "para"
            ),
        )
        .where(F.length("para") > 0)
        .withColumn("h", F.md5(F.col("para")))
        .withColumn(
            "n_paras", F.count(F.lit(1)).over(Window.partitionBy(DOC_ID))
        )
    )
    w = Window.partitionBy("h").orderBy(F.col(DOC_ID), F.col("idx"))
    kept = paras.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    return kept.groupBy(DOC_ID).agg(
        F.max("n_paras").cast("long").alias("n_paragraphs"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("idx"), F.col("para")))
                ),
                lambda s: s.getField("para"),
            ),
            PARAGRAPH_JOIN,
        ).alias("text_dedup"),
    )


# -------------------------------------------------------------- minhash ---


def shingle_array(
    df: DataFrame, k: int = 5
) -> DataFrame:
    """(id, shingles: array<string>) — the per-doc DISTINCT shingle set
    kept as an array column.

    ``sequence → transform → array_distinct`` is completely NARROW
    (zero shuffle), whereas the exploded relation costs a shuffle for
    the distinct and again for every downstream groupBy/join. The
    catch: everything downstream of an array column runs through
    interpreted higher-order functions, not codegen — measured, the
    exploded + hash-aggregate pipeline beats this shape for the
    char-k-gram minhash signature build (:func:`minhash_signatures`
    over :func:`shingle_set`), while the array shape wins for the
    Jaccard verify (:func:`jaccard_verify_arrays`) and for small
    per-doc sets like word n-grams (:func:`word_ngram_array`, ~2x).
    Measure before picking.
    """
    n = F.greatest(F.length(F.col(TEXT)) - (k - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.col(TEXT).substr(i, F.lit(k))
    )
    return df.select(F.col(DOC_ID), F.array_distinct(shingles).alias("shingles"))


def jaccard_verify_arrays(candidates: DataFrame, sh_arr: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs ``(id_a, id_b)`` from per-doc
    shingle ARRAYS ``(doc_id, shingles)``: two hash joins bring the
    arrays to the pair, then ``size(array_intersect(...))`` computes
    |A∩B| row-locally — the shingle relation itself is never shuffled
    (joining the exploded shingle set twice instead measured 3.4x
    slower than this shape with broadcast at sf0.1).
    Integer counts, one final division — bit-deterministic.

    The joins are SIZE-ADAPTIVE: no hint is planted, the static plan is
    a shuffle join (safe at any corpus size; a forced broadcast of the
    array table is an OOM at 100 TB), and AQE converts it to a
    broadcast join at runtime iff the materialized array table actually
    fits under ``autoBroadcastJoinThreshold``."""
    a = sh_arr.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa"))
    b = sh_arr.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb"))
    n_inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    denom = (F.size("__sa") + F.size("__sb") - n_inter).cast("double")
    # guard 0/0 (two empty sets): NaN compares GREATER than any double
    # in Spark, so an unguarded NaN jaccard would pass every
    # >= threshold filter; NULL fails it instead
    jac = F.when(denom > 0, n_inter.cast("double") / denom)
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_inter.cast("long").alias("n_inter"),
            F.size("__sa").cast("long").alias("n_a"),
            F.size("__sb").cast("long").alias("n_b"),
            jac.alias("jaccard"),
        )
    )


def shingle_set(
    df: DataFrame, k: int = 5
) -> DataFrame:
    """Distinct (id, shingle) pairs — the Jaccard ground set."""
    return char_shingles(df, k).distinct()


def minhash_signatures(shingles: DataFrame, n_hashes: int = 9) -> DataFrame:
    """One row per doc with columns mh0..mh{n-1} (BIGINT).

    The j-th permutation is simulated by md5(j ‖ ':' ‖ shingle); the
    signature component is the numeric value of the first 15 hex chars
    (60 bits) under min(). Because every md5 is exactly 32 lowercase
    hex chars, numeric min over the 15-char prefix selects the SAME
    shingle as lexicographic min over that prefix — so a SQL oracle
    using ``min(substr(h, 1, 15))`` generates identical candidate
    pairs (prefix ties collapse to equal values in both engines).

    Why numeric: ``min(string)`` has a variable-width agg buffer, which
    forces Spark onto SortAggregate — two full sorts of the shingle
    relation per pass (measured dominant in the LSH plan). ``min(bigint)``
    keeps the fixed-width HashAggregate with map-side partials.

    All n hashes are computed as parallel aggregates over ONE pass of
    the shingle set (no per-seed row explosion — n× less shuffle input
    than the naive explode-by-seed shape).
    """
    aggs = [
        F.min(md5_int(F.concat(F.lit(f"{j}:"), F.col("shingle")), 15)).alias(
            f"mh{j}"
        )
        for j in range(n_hashes)
    ]
    return shingles.groupBy(DOC_ID).agg(*aggs)


def lsh_bands(
    signatures: DataFrame, n_hashes: int = 9, band_size: int = 3
) -> DataFrame:
    """(id, band_idx, band_val): hash each band of the signature."""
    if n_hashes % band_size != 0:
        raise ValueError(
            f"n_hashes={n_hashes} not divisible by band_size={band_size}: "
            f"the trailing {n_hashes % band_size} minhash components "
            "would be silently ignored (paid for, zero recall)"
        )
    n_bands = n_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [
            F.col(f"mh{b * band_size + i}").cast("string")
            for i in range(band_size)
        ]
        # ":" separator — the mh values are variable-width decimal
        # strings, so bare concat would be ambiguous ("1"+"23"=="12"+"3")
        bands.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws(":", *cols)).alias("band_val"),
            )
        )
    # drop degenerate all-NULL signatures (NULL text / empty shingle
    # arrays from the array-based builder): concat_ws skips NULLs, so
    # they'd all hash to md5('') and every degenerate doc would
    # collide with every other in EVERY band — O(m²) junk candidates
    return (
        signatures.where(F.col("mh0").isNotNull())
        .select(DOC_ID, F.explode(F.array(*bands)).alias("band"))
        .select(DOC_ID, "band.band_idx", "band.band_val")
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket —
    the ONLY pairs that ever get compared (the scale trick)."""
    a = bands.select(
        F.col(DOC_ID).alias("id_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col(DOC_ID).alias("id_b"), "band_idx", "band_val"
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# -------------------------------------------------------------- simhash ---

# hex digit → which digits have each bit set (bit value → digit set)
_HEX_BITS = {
    8: "89abcdef",
    4: "4567cdef",
    2: "2367abef",
    1: "13579bdf",
}


def simhash_bit_exprs(hash_col: str = "h", n_hex: int = 8) -> list[str]:
    """±1 contribution expressions for each of the 4·n_hex signature
    bits, as engine-portable SQL (identical text runs in Spark and
    DuckDB — md5/substr/IN only)."""
    exprs = []
    for p in range(1, n_hex + 1):
        for v in (8, 4, 2, 1):
            digits = ", ".join(f"'{d}'" for d in _HEX_BITS[v])
            exprs.append(
                f"CASE WHEN substr({hash_col}, {p}, 1) IN ({digits}) THEN 1 ELSE -1 END"
            )
    return exprs


def simhash(
    df: DataFrame, n_hex: int = 8
) -> DataFrame:
    """(id, simhash): 4·n_hex-bit SimHash over whitespace tokens
    (token hash = md5; bit b of the signature = sign of the sum of
    ±1 token contributions). One explode + one groupBy."""
    toks = df.select(
        DOC_ID, F.explode(F.split(F.col(TEXT), " ")).alias("token")
    ).withColumn("h", F.md5(F.col("token")))
    bit_terms = simhash_bit_exprs("h", n_hex)
    aggs = [F.expr(f"sum({t})").alias(f"s{i}") for i, t in enumerate(bit_terms)]
    summed = toks.groupBy(DOC_ID).agg(*aggs)
    bits = [
        F.when(F.col(f"s{i}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(len(bit_terms))
    ]
    return summed.select(DOC_ID, F.concat(*bits).alias("simhash"))


def simhash_block_pairs(
    signatures: DataFrame,
    n_blocks: int = 8,
    sig_bits: int = 32,
    t: int = 2,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs agreeing on at least one
    ``t``-block combination — Manku et al.'s multi-table scheme
    (WWW'07, "Detecting Near-Duplicates for Web Crawling").

    Pigeonhole guarantee: two signatures within Hamming distance d
    differ in ≤ d of the ``n_blocks`` disjoint blocks, so whenever
    ``d ≤ n_blocks − t`` they agree on ≥ t blocks and MUST share one of
    the C(n_blocks, t) combinations — complete recall, unlike
    single-prefix blocking, which silently misses pairs whose differing
    bits land in the prefix. Raising ``t`` multiplies tables
    (C(8,1)=8 → C(8,2)=28) but exponentially narrows each bucket
    (4-bit → 8-bit keys): at 5k docs, t=2 cuts candidates ~5x for the
    same d ≤ 6 guarantee. Bucket rows stay linear in N, never N².
    """
    from itertools import combinations

    width = sig_bits // n_blocks
    blk = [
        F.substring(F.col("simhash"), i * width + 1, width)
        for i in range(n_blocks)
    ]
    combos = list(combinations(range(n_blocks), t))
    blocks = F.array(
        *[
            F.struct(
                F.lit(ci).alias("blk_idx"),
                F.concat(*[blk[i] for i in c]).alias("blk_val"),
            )
            for ci, c in enumerate(combos)
        ]
    )
    keyed = signatures.select(
        DOC_ID, F.explode(blocks).alias("b")
    ).select(DOC_ID, "b.blk_idx", "b.blk_val")
    a = keyed.select(F.col(DOC_ID).alias("id_a"), "blk_idx", "blk_val")
    b = keyed.select(F.col(DOC_ID).alias("id_b"), "blk_idx", "blk_val")
    return (
        a.join(b, ["blk_idx", "blk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# --------------------------------------------------------- ngram jaccard ---


def word_ngram_array(
    df: DataFrame, n: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — per-doc DISTINCT word n-grams as
    an array column (narrow, zero shuffle; see :func:`shingle_array`)."""
    tk = F.split(F.col(TEXT), " ")
    idxs = F.sequence(F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1)))
    grams = F.transform(idxs, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
    return df.select(F.col(DOC_ID), F.array_distinct(grams).alias("shingles"))


# ---------------------------------------------------- duplicated spans ---


def duplicated_spans(
    df: DataFrame,
    n: int = 10,
) -> DataFrame:
    """Exact duplicated-substring spans, Lee et al. 2022 style
    ("Deduplicating Training Data Makes Language Models Better"): any
    token window of length ``n`` that occurs in >= ``SPAN_MIN_DOCS``
    distinct documents is a duplicated gram; overlapping/adjacent
    duplicated grams within a document merge into maximal spans.
    Returns (id, span_start, span_end, dup_tokens) — token positions
    are 0-based inclusive.

    The paper's suffix array is replaced by the relational equivalent:
    position-stamped n-grams -> gram-frequency shuffle -> left-semi
    join back -> per-doc gaps-and-islands merge. Scale shape: two
    shuffles keyed on the gram string plus one window shuffle keyed on
    the doc id; no broadcast of any corpus-sized table, and the semi
    join cannot fan out (each gram position row survives at most
    once). At 100 TB, group on xxhash64(gram) instead of the string to
    shrink shuffle width (~1e-9 collision odds per corpus); the string
    key is kept here for bit-exact DuckDB parity.
    """
    tk = F.split(F.col(TEXT), " ")
    # pos is the 0-based start index; transform's lambda arg IS the
    # position because the sequence enumerates 0..size-n directly
    grams = (
        df.select(F.col(DOC_ID), tk.alias("__tk"))
        .where(F.size("__tk") >= n)
        .select(
            DOC_ID,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__tk") - n),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.concat_ws(
                            " ", F.slice(F.col("__tk"), i + 1, n)
                        ).alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select(DOC_ID, F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col(DOC_ID)).alias("nd"))
        .where(F.col("nd") >= SPAN_MIN_DOCS)
        .select("g")
    )
    hits = grams.join(dup, "g", "left_semi").select(
        DOC_ID, "pos", (F.col("pos") + (n - 1)).alias("e")
    )
    w = Window.partitionBy(DOC_ID).orderBy("pos")
    prev_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
    ).otherwise(F.lit(0))
    isl = hits.withColumn(
        "island",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy(DOC_ID, "island")
        .agg(F.min("pos").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            DOC_ID,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 10,
) -> DataFrame:
    """Exact substring DEDUPLICATION (the cut stage of Lee et al.
    2022): every token position covered by a cross-doc-duplicated
    n-gram is removed from all docs EXCEPT the gram's owner (the
    minimal doc id containing it), and the surviving tokens are
    re-joined in order. One copy of every duplicated passage survives
    corpus-wide; owners keep their text verbatim.

    Returns (id, text_deduped, n_removed). Deterministic: ownership is
    a min-aggregate, position rebuild is an order-preserving sort.

    Scale shape: the gram/ownership pass is the same three keyed
    shuffles as :func:`duplicated_spans`; the cut-position explode is
    bounded by n x duplicated-gram instances; the rebuild is one
    groupBy(id) over the doc's own tokens with an in-row sort — no
    corpus-sized broadcast anywhere.
    """
    tk = F.split(F.col(TEXT), " ")
    toks = df.select(
        F.col(DOC_ID), F.posexplode(tk).alias("pos", "tok")
    )
    grams = (
        df.select(F.col(DOC_ID), tk.alias("__tk"))
        .where(F.size("__tk") >= n)
        .select(
            DOC_ID,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__tk") - n),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.concat_ws(
                            " ", F.slice(F.col("__tk"), i + 1, n)
                        ).alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select(DOC_ID, F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    )
    owners = grams.groupBy("g").agg(
        F.count_distinct(F.col(DOC_ID)).alias("nd"),
        F.min(F.col(DOC_ID)).alias("owner"),
    ).where(F.col("nd") >= SPAN_MIN_DOCS)
    # positions covered by a duplicated gram in a NON-owner doc
    cut = (
        grams.join(owners, "g")
        .where(F.col(DOC_ID) != F.col("owner"))
        .select(
            DOC_ID,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(cut, [DOC_ID, "pos"], "left_anti")
    rebuilt = kept.groupBy(DOC_ID).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda s: s.getField("tok"),
            ),
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("__kept"),
    )
    n_tok = F.size(F.split(F.col(TEXT), " "))
    return (
        df.select(DOC_ID, n_tok.alias("__n"))
        .join(rebuilt, DOC_ID, "left")
        .select(
            DOC_ID,
            F.coalesce(F.col("text_deduped"), F.lit("")).alias("text_deduped"),
            (F.col("__n") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def tune_lsh_params(
    threshold: float,
    n_hashes: int,
) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for MinHash LSH from the target
    Jaccard ``threshold`` — the datasketch/"Mining of Massive
    Datasets" §3.4 recipe: the probability a pair at similarity s
    collides is the S-curve 1-(1-s^r)^b; pick the (b, r) with
    b·r ≤ n_hashes minimizing the weighted false-positive area
    (∫ below threshold) + false-negative area (∫ above).

    Pure driver-side arithmetic (deterministic fixed-step Riemann
    sums) — tune once, then call
    ``lsh_bands(sigs, n_hashes=b * r, band_size=r)``: the tuned
    b·r may be SMALLER than the ``n_hashes`` budget (the optimum is
    not always a divisor split), and lsh_bands requires band_size to
    divide its n_hashes exactly — passing the original budget with a
    non-divisor r is a ValueError. The unused tail hashes simply go
    uncomputed. At 100 TB the wrong (b, r) is the difference between
    candidate sets that fit in a shuffle and quadratic blowup, which
    is why this knob deserves a solver rather than folklore defaults.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    steps = 1000
    best, best_err = (1, n_hashes), float("inf")
    for r in range(1, n_hashes + 1):
        for b in range(1, n_hashes // r + 1):
            fp = fn = 0.0
            dx = threshold / steps
            for i in range(steps):
                s = (i + 0.5) * dx
                fp += (1.0 - (1.0 - s**r) ** b) * dx
            dx = (1.0 - threshold) / steps
            for i in range(steps):
                s = threshold + (i + 0.5) * dx
                fn += (1.0 - (1.0 - (1.0 - s**r) ** b)) * dx
            err = LSH_FP_WEIGHT * fp + LSH_FN_WEIGHT * fn
            if err < best_err:
                best, best_err = (b, r), err
    return best
