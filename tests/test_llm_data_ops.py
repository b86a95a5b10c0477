"""Behavioral tests for the round-3 LLM-data operators: planted-case
semantics (spans found, repetitive docs rejected, target-like docs
up-weighted, PQ neighbors sane) on top of the DuckDB hash parity the
oracle gate already provides.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.catalog import load_table, spread
from blockchain_data_engineering_spark.operators import dedup as D
from blockchain_data_engineering_spark.operators import similarity as SIM
from blockchain_data_engineering_spark.operators import text as TX

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------- duplicated spans ---


def test_duplicated_spans_finds_planted_span(spark):
    shared = " ".join(f"tok{i}" for i in range(15))
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon zeta"),
        (2, "one two three four " + shared + " five six"),
        (3, " ".join(f"solo{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.duplicated_spans(df, n=10).collect()
    }
    # doc 1: shared tokens occupy positions 2..16 -> grams 2..7
    assert out[1]["span_start"] == 2 and out[1]["span_end"] == 16
    # doc 2: positions 4..18 -> grams 4..9
    assert out[2]["span_start"] == 4 and out[2]["span_end"] == 18
    assert out[1]["dup_tokens"] == 15 and out[2]["dup_tokens"] == 15
    assert 3 not in out  # unique doc has no duplicated span


def test_duplicated_spans_merges_adjacent_grams(spark):
    # two docs sharing their ENTIRE text: every gram duplicated, so
    # the islands merge into one span covering the whole doc
    text = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    rows = D.duplicated_spans(df, n=10).collect()
    assert len(rows) == 2
    for r in rows:
        assert (r["span_start"], r["span_end"], r["dup_tokens"]) == (0, 24, 25)


# --------------------------------------------- Gopher repetition ---


def test_gopher_rejects_repetitive_doc(spark):
    repetitive = " ".join(["spam ham"] * 40)
    diverse = " ".join(f"word{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, repetitive), (2, diverse)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in TX.gopher_repetition(df).collect()}
    assert not out[1]["passes"]
    assert out[1]["g2_top_frac"] > 0.4  # "ham spam" dominates
    assert out[1]["g10_dup_frac"] > 0.9
    assert out[2]["passes"]
    assert out[2]["g10_dup_frac"] == 0.0


# ------------------------------------------------ DSIR weighting ---


def test_dsir_upweights_target_like_docs(spark):
    # target docs share a vocabulary; one unlabeled doc uses the
    # target vocabulary, another uses disjoint tokens — the former
    # must receive the higher importance weight
    tvocab = " ".join(f"eng{i}" for i in range(20))
    ovocab = " ".join(f"ger{i}" for i in range(20))
    rows = (
        [(i, tvocab, "en") for i in range(5)]
        + [(10 + i, ovocab, "de") for i in range(5)]
        + [(100, tvocab, "und"), (101, ovocab, "und")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["doc_id"]: r["dsir_logw"]
        for r in TX.dsir_importance_weights(
            df, F.col("lang") == "en"
        ).collect()
    }
    assert out[100] > out[101]
    assert out[100] > 0 > out[101]


# --------------------------------------------------- BPE counting ---


def test_bpe_first_merge_is_most_frequent_pair(spark):
    df = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab xy")], ["doc_id", "text"]
    )
    rows = TX.bpe_pair_counts(df, top_k=3).collect()
    assert rows[0]["pair"] == "ab" and rows[0]["rank"] == 1
    # 'abab' has pairs ab, ba, ab; word freq: abab x3 -> ab: 6
    assert rows[0]["n_occurrences"] == 6


def test_bpe_local_learn_matches_distributed(spark, sf_dir, monkeypatch):
    """r12: _bpe_learn collects the Zipf-bounded vocabulary and replays
    the merge loop in-process when it fits (one Spark job instead of
    one per merge). The local replay must produce the EXACT trajectory
    of the distributed loop — counts, argmax tie-breaks, greedy
    left-to-right replace — on adversarial inputs (ties, composable
    adjacent merges like 'aaaa', multi-space empty tokens) and on the
    fixture corpus."""
    from blockchain_data_engineering_spark.catalog import load_table
    from blockchain_data_engineering_spark.operators.text import (
        _bpe_learn,
        _bpe_learn_distributed,
        _bpe_learn_local,
        _bpe_words_with_seg,
    )

    corpora = [
        # ties on count (ab vs cd both x2) -> lexicographic pair wins
        [(1, "ab cd ab cd")],
        # composable adjacent merges: 'aaaa' under (a,a) -> ['aa','aa']
        [(1, "aaaa aaa aa"), (2, "aaaa")],
        # double spaces yield empty tokens (single-token seg frames)
        [(1, "xy  xy   z"), (2, "z  xy")],
    ]
    for rows in corpora:
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        words = _bpe_words_with_seg(df, "text").persist()
        try:
            dist = _bpe_learn_distributed(words, 5)
            loc = _bpe_learn_local(
                [(r["wf"], r["seg"]) for r in words.select("wf", "seg").collect()],
                5,
            )
        finally:
            words.unpersist()
        assert loc == dist, (rows, loc, dist)

    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_words_with_seg(df := docs, "text").persist()
    try:
        dist = _bpe_learn_distributed(words, 6)
        loc = _bpe_learn_local(
            [(r["wf"], r["seg"]) for r in words.select("wf", "seg").collect()],
            6,
        )
        # and the dispatcher: local under the default bound, forced
        # distributed when the bound is 0
        assert _bpe_learn(words, 6) == dist == loc
        monkeypatch.setattr(TX, "BPE_LOCAL_VOCAB_MAX", 0)
        assert _bpe_learn(words, 6) == dist
    finally:
        words.unpersist()


def test_bpe_oracle_survives_dry_merge_rounds(spark):
    """A merge budget beyond the corpus's pair inventory runs the
    trainer dry: _bpe_learn breaks and keeps the last segmentation.
    The unrolled DuckDB oracle must replay a dry round as a NO-OP
    (LEFT JOIN + COALESCE on the empty best-pair relation) — a plain
    cross join against the empty b{r} would empty w{r} and every CTE
    after it, zeroing the oracle while Spark still returns counts."""
    import duckdb

    from blockchain_data_engineering_spark.plans.text_queries import (
        _bpe_token_counts_oracle,
        _bpe_train_oracle,
    )

    # one learnable merge ('ab'), then every later round is dry
    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab")], ["doc_id", "text"]
    )
    n = 5
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'ab ab'), (2, 'ab')) t(doc_id, text)"
    )
    train_spark = TX.bpe_train_merges(df, n_merges=n).collect()
    train_duck = con.execute(_bpe_train_oracle(n)).fetchall()
    assert len(train_spark) == 1 == len(train_duck)  # dry rounds emit nothing
    assert (train_spark[0]["pair_a"], train_spark[0]["pair_b"]) == ("a", "b")

    counts_spark = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in TX.bpe_token_counts(df, n_merges=n).collect()
    }
    counts_duck = dict(
        con.execute(_bpe_token_counts_oracle(n)).fetchall()
    )
    assert counts_spark == {1: 2, 2: 1}
    assert counts_duck == counts_spark


# ------------------------------------------------------- PQ ANN ---


@pytest.fixture(scope="module")
def emb(spark):
    df = spread(load_table(spark, SF_DIR, "embeddings")).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def clustered(spark):
    """20 tight clusters — the structure real embedding spaces have
    and the uniform-random fixture deliberately lacks (on uniform
    vectors pairwise distances concentrate and NO quantizer can rank
    them; same caveat as the IVF recall notes)."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.uniform(-1, 1, (20, 64))
    rows = [
        (i, [float(x) for x in centers[i % 20] + rng.normal(0, 0.05, 64)])
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).persist()
    df.count()
    yield df
    df.unpersist()


def _exact_l2_top3(vectors):
    from pyspark.sql.window import Window

    q = vectors.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    ).where("query_id < 10")
    c = vectors.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where("query_id != cand_id")
        .select("query_id", "cand_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .where("r <= 3")
        .select("query_id", "cand_id")
    )


def test_pq_ann_recall_on_clustered_vectors(spark, clustered):
    """ADC shortlist + exact re-rank must recover nearly all true L2
    top-3 neighbors when the space has cluster structure (ADC alone
    measured 0.23 — the re-rank stage is what makes PQ usable)."""
    exact = _exact_l2_top3(clustered)
    got = SIM.pq_ann_topk(clustered, k=3, n_queries=10).select(
        "query_id", "cand_id"
    )
    n_true = exact.count()
    hits = exact.join(got, ["query_id", "cand_id"]).count()
    assert n_true == 30
    recall = hits / n_true
    assert recall >= 0.9, f"PQ recall@3 {recall} below floor"


def test_pq_codebook_size_is_corpus_independent(spark, emb):
    cb1 = SIM.pq_codebooks_quantized(emb, n_sub=4, k_code=8, iterations=1)
    doubled = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 10_000)
    )
    cb2 = SIM.pq_codebooks_quantized(doubled, n_sub=4, k_code=8, iterations=1)
    n1 = cb1.select("sub", "cid").distinct().count()
    n2 = cb2.select("sub", "cid").distinct().count()
    assert n1 == n2 == 4 * 8


# --------------------------------------------- label propagation ---


def test_lpa_separates_bridged_cliques(spark):
    """Two 4-cliques joined by a single bridge edge: min-label CC
    collapses everything into one component, but majority-vote label
    propagation must keep two communities (the bridge is outvoted)."""
    import itertools

    from blockchain_data_engineering_spark.operators.graph import (
        connected_components,
        label_propagation_communities,
    )

    c1 = list(itertools.combinations([0, 1, 2, 3], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    edges = spark.createDataFrame(
        c1 + c2 + [(3, 10)], "src long, dst long"
    )
    lpa = {
        r["node"]: r["label"]
        for r in label_propagation_communities(edges, iterations=4).collect()
    }
    assert len({lpa[n] for n in (0, 1, 2, 3)}) == 1
    assert len({lpa[n] for n in (10, 11, 12, 13)}) == 1
    assert lpa[0] != lpa[10], "bridge must not merge the cliques"
    cc = {
        r["node"]: r["label"]
        for r in connected_components(edges, iterations=4).collect()
    }
    assert len(set(cc.values())) == 1  # CC sees one component


def test_span_removal_cuts_non_owner_keeps_owner(spark):
    """The cut stage: the min-id doc owning a duplicated passage keeps
    its text verbatim; every other doc loses exactly the covered
    tokens, order preserved."""
    shared = " ".join(f"tok{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + shared + " gamma"),
        (2, "one two " + shared + " three four"),
        (3, " ".join(f"solo{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.remove_duplicated_spans(df, n=10).collect()
    }
    assert out[1]["text_deduped"] == rows[0][1]  # owner untouched
    assert out[1]["n_removed"] == 0
    assert out[2]["text_deduped"] == "one two three four"
    assert out[2]["n_removed"] == 12
    assert out[3]["text_deduped"] == rows[2][1]  # unique doc untouched
    assert out[3]["n_removed"] == 0


# --------------------------------------------- triangle counting ---


def test_triangle_count_known_graphs(spark):
    """K4 has exactly 4 triangles regardless of edge direction or
    duplication; a star is wedge-rich but triangle-free (the case the
    sum-over-intersections kernel must report as 0, not NULL)."""
    import itertools

    from blockchain_data_engineering_spark.operators.graph import triangle_count

    k4 = list(itertools.combinations([1, 2, 3, 4], 2))
    noisy = k4 + [(b, a) for a, b in k4] + k4[:3]  # reversed + dup edges
    df = spark.createDataFrame(noisy, "src long, dst long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 4

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    assert triangle_count(star).collect()[0]["n_triangles"] == 0


# --------------------------------------------- Count-Min sketch ---


def test_cms_upper_bounds_and_register_mass(spark):
    """CMS invariants: every row of the register matrix holds the full
    stream mass; every estimate is an upper bound on the true count;
    keys absent from the stream take the left-join zero path instead of
    vanishing."""
    from blockchain_data_engineering_spark.operators.relational import (
        CMS_DEPTH,
        cms_estimate,
        cms_registers,
    )
    from pyspark.sql import functions as F

    words = ["hot"] * 50 + ["warm"] * 10 + [f"cold{i}" for i in range(30)]
    stream = spark.createDataFrame([(w,) for w in words], "token STRING")
    regs = cms_registers(stream, "token")
    mass = {r["j"]: r["s"] for r in regs.groupBy("j").agg(F.sum("c").alias("s")).collect()}
    assert mass == {j: len(words) for j in range(CMS_DEPTH)}

    truth = {w: words.count(w) for w in set(words)}
    keys = stream.distinct().unionByName(
        spark.createDataFrame([("never-seen",)], "token STRING")
    )
    est = {r["token"]: r["cms_est"] for r in
           cms_estimate(keys, regs, "token").collect()}
    assert "never-seen" in est
    for w, n in truth.items():
        assert est[w] >= n, (w, est[w], n)
    assert est["hot"] >= 50 and est["hot"] == max(est.values())


# --------------------------------------------- k-core peeling ---


def test_kcore_peeling_cascades(spark):
    """A 4-clique survives k=3 peeling after its pendant is stripped;
    a 5-path under k=2 unravels COMPLETELY, but only through the
    cascade (every round exposes new sub-k endpoints) — the case a
    one-shot degree filter gets wrong."""
    import itertools

    from blockchain_data_engineering_spark.operators.graph import kcore

    clique = list(itertools.combinations([1, 2, 3, 4], 2))
    g1 = spark.createDataFrame(clique + [(4, 99)], "src long, dst long")
    rows = {r["node"]: r["degree"] for r in kcore(g1, k=3, rounds=2).collect()}
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}

    path = [(i, i + 1) for i in range(1, 5)]
    g2 = spark.createDataFrame(path, "src long, dst long")
    assert kcore(g2, k=2, rounds=3).count() == 0
    # one-shot filter (rounds=1) wrongly keeps the middle of the path
    assert kcore(g2, k=2, rounds=1).count() > 0


# --------------------------------------------- quality classifier ---


def _py_quality_classifier(texts, ys, iters=3):
    """Pure-python twin of quality_classifier_scores: python's // IS
    the sign-safe floor division the Spark side reconstructs via the
    offset trick, so trajectories must match bit-for-bit."""
    import hashlib

    SX, SW = 10**6, 10**9

    def bucket(t):
        h = hashlib.md5(t.encode()).hexdigest()
        return int(h[0], 16) * 16 + int(h[1], 16)

    feats = []
    for txt in texts:
        ts = txt.split(" ")
        cnt = {}
        for t in ts:
            b = bucket(t)
            cnt[b] = cnt.get(b, 0) + 1
        d = {b: (c * SX) // len(ts) for b, c in cnt.items()}
        d[-1] = SX
        feats.append(d)

    N = len(texts)
    w = {}
    for r in range(iters):
        errs, gs = [], []
        for i in range(N):
            z = 0 if r == 0 else sum(
                w.get(b, 0) * x for b, x in feats[i].items()
            ) // SX
            p = min(max(SW // 2 + z // 4, 0), SW)
            errs.append(p - ys[i] * SW)
            gs.append(abs(z) < 2 * SW)
        grad = {}
        for i in range(N):
            if not gs[i]:
                continue
            for b, x in feats[i].items():
                grad[b] = grad.get(b, 0) + (errs[i] * x) // SX
        for b in grad:
            w[b] = w.get(b, 0) - (grad[b] // N) // 16
    out = {}
    for i in range(N):
        z = sum(w.get(b, 0) * x for b, x in feats[i].items()) // SX
        out[i] = (z / SW, 1 if z >= 0 else 0)
    return out


def test_quality_classifier_matches_python_and_separates(spark):
    """Separable two-vocabulary corpus: the trained scores must equal
    the pure-python model exactly (quantized trajectory) and classify
    the training set perfectly after 3 rounds."""
    from blockchain_data_engineering_spark.operators.text import (
        quality_classifier_scores,
    )

    good_vocab = ["clean", "prose", "argument", "citation", "evidence"]
    junk_vocab = ["zzspam", "clickzz", "zzbuy", "zzwin", "zzfree"]
    texts, ys = [], []
    for i in range(40):
        v = good_vocab if i % 2 == 0 else junk_vocab
        texts.append(" ".join(v[(i + j) % 5] for j in range(12)))
        ys.append(1 if i % 2 == 0 else 0)

    df = spark.createDataFrame(
        [(i, t, y) for i, (t, y) in enumerate(zip(texts, ys))],
        "doc_id LONG, text STRING, y_in INT",
    )
    got = {
        r["doc_id"]: (r["score"], r["pred"], r["y"])
        for r in quality_classifier_scores(
            df, F.col("y_in") == 1, iterations=3
        ).collect()
    }
    want = _py_quality_classifier(texts, ys, iters=3)
    assert len(got) == 40
    for i in range(40):
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert got[i][1] == want[i][1]
        assert got[i][1] == ys[i], f"doc {i} misclassified"


def test_span_corruption_roundtrip_reconstructs_text(spark):
    """Denoising-pair invariant: substituting each sentinel in
    `inputs` with its span from `targets` reconstructs the original
    document exactly — so the pair losslessly partitions the text."""
    import re

    docs = [
        (1, " ".join(f"w{i}" for i in range(32))),  # crosses 2 masked blocks
        (2, "a b c"),  # too short to reach a masked block
        (3, " ".join(f"x{i}" for i in range(13))),  # partial masked block
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["inputs"], r["targets"])
        for r in TX.span_corruption(df, span_len=3, period=5).collect()
    }
    for doc_id, text in docs:
        inputs, targets = out[doc_id]
        # parse targets into {k: span tokens}
        spans = {}
        for part in re.split(r"<extra_id_(\d+)> ", targets):
            pass
        chunks = re.split(r"<extra_id_(\d+)>", targets)
        # chunks = ['', k0, ' span0 ', k1, ' span1 ', ...]
        for i in range(1, len(chunks), 2):
            spans[chunks[i]] = chunks[i + 1].strip()
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans[m.group(1)], inputs
        )
        assert rebuilt == text, doc_id
    assert out[2] == (docs[1][1], "")  # short doc: untouched, empty target
    assert "<extra_id_0>" in out[1][0] and "<extra_id_1>" in out[1][0]


def test_bfs_levels_min_distance_and_early_exit(spark):
    """Planted-path semantics: dist is the MINIMUM hop count over all
    paths (diamond graph), seeds sit at 0 even when also reachable
    later, unreachable-within-cap nodes are omitted, and the loop
    early-exits on an exhausted frontier (chain shorter than the cap)."""
    from blockchain_data_engineering_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [
            # diamond: a -> b -> d and a -> c -> d, plus a shortcut a -> d
            ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d"),
            # tail past the cap: d -> e -> f -> g -> h
            ("d", "e"), ("e", "f"), ("f", "g"), ("g", "h"),
            # back-edge into the seed: must NOT demote a's dist from 0
            ("b", "a"),
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["dist"] for r in bfs_levels(edges, seeds, max_hops=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 1, "e": 2, "f": 3}
    # disconnected seed: frontier dies immediately, early exit
    lone = spark.createDataFrame([("z",)], "node string")
    out2 = {r["node"]: r["dist"] for r in bfs_levels(edges, lone, max_hops=4).collect()}
    assert out2 == {"z": 0}


def test_pmi_collocations_ranks_exclusive_pairs_first(spark):
    """PMI lift semantics: a pair whose words appear ONLY together
    outranks a frequent pair of promiscuous words, min_count prunes
    rare pairs, and the lift value equals the exact count ratio."""
    from blockchain_data_engineering_spark.operators.text import pmi_collocations

    docs = [
        # 6 docs of "hong kong" (exclusive collocation)
        *[("hong kong",)] * 6,
        # "the cat" / "the dog" / "cat the" — 'the' is everywhere
        *[("the cat the dog cat the",)] * 6,
        # a rare pair below min_count
        ("rare pair",), ("rare pair",),
    ]
    df = spark.createDataFrame(docs, "text string")
    out = pmi_collocations(df, min_count=5, top_k=10).collect()
    pairs = [(r["w1"], r["w2"]) for r in out]
    assert pairs[0] == ("hong", "kong")
    assert ("rare", "pair") not in pairs
    top = out[0]
    # hong->kong: n_ab=6, n_a=6, n_b=6, N = 6 + 6*5 + 2 = 38
    # → lift = 6*38/(6*6), exact same IEEE ops as the operator
    assert top["n_ab"] == 6 and top["lift"] == 6.0 * 38.0 / (6.0 * 6.0)
    assert all(out[i]["lift"] >= out[i + 1]["lift"] for i in range(len(out) - 1))


def test_sssp_prefers_cheap_multi_hop_and_respects_round_bound(spark):
    """A 3-hop path of weight 3 must beat the direct weight-10 edge;
    nodes beyond the round budget stay unreached; a second seed's
    cheaper route wins."""
    from blockchain_data_engineering_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [
            ("a", "z", 10),          # direct but expensive
            ("a", "b", 1), ("b", "c", 1), ("c", "z", 1),  # cheap detour
            ("z", "far", 1),
            ("far", "beyond", 1),
            ("s2", "z", 2),          # second seed, even cheaper to z
        ],
        "src STRING, dst STRING, w LONG",
    )
    seeds = spark.createDataFrame([("a",), ("s2",)], "node STRING")

    got = {
        r["node"]: r["dist"]
        for r in sssp(edges, seeds, rounds=4).collect()
    }
    assert got["a"] == 0 and got["s2"] == 0
    assert got["z"] == 2          # via s2, not 3 (detour) nor 10 (direct)
    assert got["b"] == 1 and got["c"] == 2
    assert got["far"] == 3 and got["beyond"] == 4

    # round budget: with 1 round only direct relaxations exist
    got1 = {
        r["node"]: r["dist"] for r in sssp(edges, seeds, rounds=1).collect()
    }
    assert got1["z"] == 2 and got1["b"] == 1
    assert "c" not in got1 and "far" not in got1


def test_earliest_arrival_respects_time_order_and_parallel_edges(spark):
    """Temporal-path semantics: an edge dated BEFORE the arrival at its
    source is unusable (funds can't be forwarded before they're
    received); among parallel (src, dst) edges the usable-earliest one
    wins, and which one is usable depends on the discovered arrival —
    the reason the operator must NOT pre-collapse parallel edges to
    min(t)."""
    from blockchain_data_engineering_spark.operators.graph import (
        earliest_arrival,
    )

    edges = spark.createDataFrame(
        [
            ("a", "b", 5),
            # b->c has two parallel edges: t=3 predates arrival at b
            # (5) and MUST be skipped; t=8 is the usable one
            ("b", "c", 3),
            ("b", "c", 8),
            # c->d only before c's arrival: d unreachable
            ("c", "d", 7),
            # second seed flagged later: its direct edge to b (t=6)
            # loses to a's earlier route (t=5)
            ("s2", "b", 6),
        ],
        "src STRING, dst STRING, t LONG",
    )
    seeds = spark.createDataFrame(
        [("a", 0), ("s2", 4)], "node STRING, arr LONG"
    )

    got = {
        r["node"]: r["arr"]
        for r in earliest_arrival(edges, seeds, rounds=4).collect()
    }
    assert got == {"a": 0, "s2": 4, "b": 5, "c": 8}

    # a LATER flagging time prunes the early route: with a flagged at
    # t=6 the a->b edge (t=5) is unusable and b is reached via s2@6
    late = spark.createDataFrame([("a", 6), ("s2", 4)], "node STRING, arr LONG")
    got_late = {
        r["node"]: r["arr"]
        for r in earliest_arrival(edges, late, rounds=4).collect()
    }
    assert got_late["b"] == 6 and got_late["c"] == 8

    # round budget: 1 round reaches b only
    got1 = {
        r["node"]: r["arr"]
        for r in earliest_arrival(edges, seeds, rounds=1).collect()
    }
    assert "c" not in got1 and got1["b"] == 5


def test_clustering_coefficient_hand_case_and_subsumes_triangle_count(spark):
    """K4 minus one edge: a-b-c triangle + d attached to a and b.
    t(a)=t(b)=2? no — triangles are {a,b,c} and {a,b,d}: t(a)=2, t(b)=2,
    t(c)=1, t(d)=1; degrees a=3, b=3, c=2, d=2 → lcc(a)=lcc(b)=2·2/6,
    lcc(c)=lcc(d)=1. Σ n_tri must equal 3 × triangle_count (the
    subsumption the gate rotation relies on)."""
    from blockchain_data_engineering_spark.operators.graph import (
        clustering_coefficient,
        triangle_count,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "b")],
        "src STRING, dst STRING",
    )
    rows = {
        r["node"]: (r["degree"], r["n_tri"], r["lcc"])
        for r in clustering_coefficient(edges).collect()
    }
    assert rows["a"] == (3, 2, 4.0 / 6.0)
    assert rows["b"] == (3, 2, 4.0 / 6.0)
    assert rows["c"] == (2, 1, 1.0)
    assert rows["d"] == (2, 1, 1.0)
    n_tri_total = sum(v[1] for v in rows.values())
    scalar = triangle_count(edges).collect()[0]["n_triangles"]
    assert n_tri_total == 3 * scalar == 6

    # degree-1 node: lcc undefined (NULL), never a div-by-zero
    star = spark.createDataFrame(
        [("hub", "x"), ("hub", "y")], "src STRING, dst STRING"
    )
    srows = {
        r["node"]: (r["degree"], r["n_tri"], r["lcc"])
        for r in clustering_coefficient(star).collect()
    }
    assert srows["x"] == (1, 0, None) and srows["hub"] == (2, 0, 0.0)
