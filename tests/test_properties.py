"""Property-based tests (hypothesis) for the numeric-parity kernels and
the net-flow invariants — the correctness machinery everything else
stands on."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------------- quanta ---
# Python-side models of plans/parity.py recipes (same IEEE ops).


def py_quanta(x: float, d: int) -> int:
    return math.floor(x * float(10**d) + 0.5)


def py_fround(x: float, d: int) -> float:
    s = float(10**d)
    return math.floor(x * s + 0.5) / s


@given(
    st.decimals(
        min_value=-(10**9), max_value=10**9, places=2, allow_nan=False
    ),
)
def test_quanta_recovers_two_decimal_values_exactly(dec):
    """quanta(x, 2) of a double storing a 2-decimal value recovers the
    exact scaled integer (the float noise is far below 0.5 quanta)."""
    x = float(dec)
    assert py_quanta(x, 2) == int(dec.scaleb(2))


@given(
    st.lists(
        st.decimals(min_value=0, max_value=10**6, places=4, allow_nan=False),
        min_size=1,
        max_size=200,
    )
)
def test_quanta_sum_is_order_independent(vals):
    """Σ quanta is identical under any permutation — the property that
    makes results partition- and engine-independent (plain float sums
    are not)."""
    xs = [float(v) for v in vals]
    fwd = sum(py_quanta(x, 4) for x in xs)
    rev = sum(py_quanta(x, 4) for x in reversed(xs))
    assert fwd == rev
    # and it equals the exact decimal sum scaled
    assert fwd == int(sum(v.scaleb(4) for v in vals))


@given(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
def test_fround_idempotent(x):
    once = py_fround(x, 6)
    assert py_fround(once, 6) == once


# --------------------------------------------------------------- netflow ---


@given(
    st.dictionaries(
        st.tuples(st.sampled_from("abcd"), st.sampled_from("xyz")),
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=0, max_value=10**12),
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(deadline=None, max_examples=25)
def test_netflow_invariants_python_model(flows):
    """Model of domain/netflow.transacted semantics: net = produced −
    consumed, zeros dropped. Invariants: (1) no zero rows; (2) value
    conservation: Σnet = Σproduced − Σconsumed; (3) keys ⊆ union of
    input keys."""
    consumed = {k: v[0] for k, v in flows.items() if v[0] > 0}
    produced = {k: v[1] for k, v in flows.items() if v[1] > 0}
    net = {}
    for k in set(consumed) | set(produced):
        d = produced.get(k, 0) - consumed.get(k, 0)
        if d != 0:
            net[k] = d
    assert all(v != 0 for v in net.values())
    assert sum(net.values()) == sum(produced.values()) - sum(consumed.values())
    assert set(net) <= set(consumed) | set(produced)


def test_netflow_spark_matches_python_model(spark):
    """One Spark execution of the same invariant check on generated
    data (the pure model above runs hundreds of cases; Spark runs one
    representative to pin the implementation to the model)."""
    import random

    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.domain.netflow import transacted

    rng = random.Random(1)
    rows_in, rows_out = [], []
    for i in range(200):
        tx, addr, unit = f"t{i % 7}", f"a{rng.randrange(5)}", f"u{rng.randrange(3)}"
        if rng.random() < 0.7:
            rows_in.append((tx, addr, unit, rng.randrange(0, 100)))
        if rng.random() < 0.7:
            rows_out.append((tx, addr, unit, rng.randrange(0, 100)))
    schema = "tx_hash STRING, address STRING, unit STRING, quantity LONG"
    iu = spark.createDataFrame(rows_in, schema)
    ou = spark.createDataFrame(rows_out, schema)
    got = transacted(iu, ou).collect()

    consumed: dict = {}
    produced: dict = {}
    for t, a, u, q in rows_in:
        consumed[(t, a, u)] = consumed.get((t, a, u), 0) + q
    for t, a, u, q in rows_out:
        produced[(t, a, u)] = produced.get((t, a, u), 0) + q
    want = {}
    for k in set(consumed) | set(produced):
        d = produced.get(k, 0) - consumed.get(k, 0)
        if d != 0:
            want[k] = d
    assert {(r.tx_hash, r.address, r.unit): r.value for r in got} == want


# ------------------------------------------------- duplicated spans ---

_WORDS = ("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=40),
        min_size=2,
        max_size=8,
    ),
    n=st.integers(min_value=3, max_value=6),
)
@settings(max_examples=12, deadline=None)
def test_duplicated_spans_invariants_python_model(docs, n):
    """Pure-python twin of operators.dedup.duplicated_spans: spans per
    doc must be disjoint, non-adjacent, ordered, within bounds, and
    cover exactly the positions of cross-doc-duplicated n-grams."""
    grams: dict[int, list[tuple[int, tuple[str, ...]]]] = {}
    for di, toks in enumerate(docs):
        grams[di] = [
            (p, tuple(toks[p : p + n])) for p in range(len(toks) - n + 1)
        ]
    from collections import defaultdict

    where = defaultdict(set)
    for di, lst in grams.items():
        for _, g in lst:
            where[g].add(di)
    dup = {g for g, ds in where.items() if len(ds) >= 2}
    for di, toks in enumerate(docs):
        hits = sorted(p for p, g in grams[di] if g in dup)
        # islands merge
        spans = []
        for p in hits:
            e = p + n - 1
            if spans and p <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((p, e))
        # invariants
        for i, (s, e) in enumerate(spans):
            assert 0 <= s <= e < len(toks)
            if i:
                assert s > spans[i - 1][1] + 1  # disjoint AND non-adjacent
        covered = set()
        for s, e in spans:
            covered |= set(range(s, e + 1))
        for p in hits:
            assert set(range(p, p + n)) <= covered


def test_duplicated_spans_spark_matches_python_model(spark):
    """The Spark operator must agree with the python model on a fixed
    adversarial corpus (overlap, adjacency, triple-doc sharing)."""
    import itertools

    from blockchain_data_engineering_spark.operators.dedup import (
        duplicated_spans,
    )

    corpus = [
        "aa bb cc dd ee ff gg hh aa bb cc dd".split(),
        "xx aa bb cc dd ee ff gg hh yy".split(),
        "aa bb cc dd ee ff gg hh aa bb cc dd ee".split(),
        "zz " * 12,
    ]
    corpus[3] = corpus[3].split()
    n = 4
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(corpus)], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, n=n).collect()
    }
    # python model
    grams = {
        di: [(p, tuple(t[p : p + n])) for p in range(len(t) - n + 1)]
        for di, t in enumerate(corpus)
    }
    from collections import defaultdict

    where = defaultdict(set)
    for di, lst in grams.items():
        for _, g in lst:
            where[g].add(di)
    dup = {g for g, ds in where.items() if len(ds) >= 2}
    expect = set()
    for di, t in enumerate(corpus):
        hits = sorted(p for p, g in grams[di] if g in dup)
        spans = []
        for p in hits:
            e = p + n - 1
            if spans and p <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((p, e))
        expect |= {(di, s, e) for s, e in spans}
    assert got == expect


# ------------------------------------------------------ pack invariants ---


def test_pack_sequences_conservation(spark):
    """Every doc's packed placement must tile the shard stream: within
    a shard, start offsets are a running sum of token counts in the
    deterministic (md5, id) order, with no gaps or overlaps."""
    from blockchain_data_engineering_spark.operators.text import pack_sequences

    rows = [(i, " ".join(["w"] * (3 + i % 7)), f"s{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = pack_sequences(df, seq_len=16).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["source"], []).append(r)
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["start_offset"])
        cursor = 0
        for r in docs:
            assert r["start_offset"] == cursor, (shard, r)
            assert r["pack_id"] == cursor // 16
            last_tok = cursor + r["n_tokens"] - 1
            assert r["n_packs"] == last_tok // 16 - cursor // 16 + 1
            cursor += r["n_tokens"]


# --------------------------------------------------------------- ws ---
@given(
    msgs=st.lists(
        st.text(min_size=0, max_size=300), min_size=1, max_size=8
    ),
)
@settings(deadline=None, max_examples=30)
def test_ws_framing_roundtrips_arbitrary_text(msgs):
    """RFC-6455 framing property: any sequence of unicode messages sent
    client→server and echoed server→client arrives intact and in order
    (masking, length encodings, and utf-8 handled by the layer)."""
    import socket

    from blockchain_data_engineering_spark.streaming.ws import (
        WebSocketConnection,
    )

    a, b = socket.socketpair()
    try:
        client = WebSocketConnection(a, mask=True)
        server = WebSocketConnection(b, mask=False)
        for m in msgs:
            client.send_text(m)
            got = server.recv_text()
            assert got == m
            server.send_text(got)
            assert client.recv_text() == m
    finally:
        a.close()
        b.close()


@given(size=st.integers(min_value=0, max_value=70_000))
@settings(deadline=None, max_examples=12)
def test_ws_length_encoding_boundaries(size):
    """Payload length crosses the 7-bit (126) and 16-bit (65536)
    encoding boundaries without corruption."""
    import socket

    from blockchain_data_engineering_spark.streaming.ws import (
        WebSocketConnection,
    )

    a, b = socket.socketpair()
    try:
        client = WebSocketConnection(a, mask=True)
        server = WebSocketConnection(b, mask=False)
        payload = "x" * size
        client.send_text(payload)
        assert server.recv_text() == payload
    finally:
        a.close()
        b.close()


# ----------------------------------------------------------- upsert ---
def test_upsert_parquet_matches_dict_model(spark, tmp_path):
    """S11 semantics against an executable model: a sequence of random
    batches through upsert_parquet must leave exactly the table a
    Python dict with ON CONFLICT semantics predicts — new batch beats
    existing on the same key, intra-batch duplicates resolved by
    order_cols (ts desc = latest wins), including on the
    table-creating first batch."""
    import random

    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.sources import upsert_parquet

    rng = random.Random(2024)
    for scenario in range(4):
        path = "file://" + str(tmp_path / f"tbl{scenario}")
        model: dict[int, tuple[int, int]] = {}
        for _ in range(rng.randint(1, 3)):
            batch = [
                (rng.randint(0, 4), rng.randint(0, 9), rng.randint(0, 99))
                for _ in range(rng.randint(1, 6))
            ]
            df = spark.createDataFrame(batch, "k LONG, ts LONG, v LONG")
            upsert_parquet(df, path, ["k"], order_cols=[F.col("ts").desc()])
            # model: within the batch the highest ts wins (ties: the
            # row_number tie-break is unspecified between equal ts, so
            # avoid asserting v on ts-ties — regenerate instead)
            per_key: dict[int, tuple[int, int]] = {}
            for k, ts, v in batch:
                cur = per_key.get(k)
                if cur is None or ts > cur[0]:
                    per_key[k] = (ts, v)
                elif ts == cur[0] and v != cur[1]:
                    per_key[k] = (ts, None)  # ambiguous winner
            model.update(per_key)
        got = {
            r["k"]: (r["ts"], r["v"])
            for r in spark.read.parquet(path).collect()
        }
        assert set(got) == set(model)
        for k, (ts, v) in model.items():
            assert got[k][0] == ts, (scenario, k)
            if v is not None:
                assert got[k][1] == v, (scenario, k)


def test_upsert_merge_schema_matches_dict_model(spark, tmp_path):
    """Schema EVOLUTION semantics (merge_schema=True) against an
    executable model, flat AND bucketed layouts: random batches each
    carrying a random SUBSET of the value columns must leave exactly
    the table a Python dict predicts — new batch beats existing per
    key, the winning row NULL-fills every column its batch lacked
    (BOTH evolution directions: batch-adds-column and
    batch-missing-column), and the table's column set is the union of
    everything seen (sources/io.py merge_schema)."""
    import random

    from blockchain_data_engineering_spark.sources import (
        upsert_parquet,
        upsert_parquet_bucketed,
    )

    cols = ["v1", "v2", "v3"]
    rng = random.Random(77)
    for variant, fn in (("flat", None), ("bucketed", None)):
        for scenario in range(3):
            path = "file://" + str(tmp_path / f"{variant}{scenario}")
            model: dict[int, dict[str, int | None]] = {}
            seen_cols: set[str] = set()
            for batch_no in range(rng.randint(2, 4)):
                # every batch carries a random non-empty column subset;
                # unique keys per batch (intra-batch dup resolution is
                # model-tested separately)
                sub = sorted(rng.sample(cols, rng.randint(1, 3)))
                keys = rng.sample(range(6), rng.randint(1, 4))
                rows = [
                    tuple([k] + [rng.randint(0, 99) for _ in sub])
                    for k in keys
                ]
                schema = ", ".join(
                    ["k LONG"] + [f"{c} LONG" for c in sub]
                )
                df = spark.createDataFrame(rows, schema)
                if variant == "flat":
                    upsert_parquet(df, path, ["k"], merge_schema=True)
                else:
                    upsert_parquet_bucketed(
                        df, path, ["k"], n_buckets=4, merge_schema=True
                    )
                seen_cols |= set(sub)
                for row in rows:
                    model[row[0]] = dict(zip(sub, row[1:]))
            got_df = spark.read.parquet(path)
            data_cols = [c for c in got_df.columns if c not in ("k", "__bucket")]
            assert set(data_cols) == seen_cols, (variant, scenario)
            got = {
                r["k"]: {c: r[c] for c in data_cols}
                for r in got_df.collect()
            }
            expected = {
                k: {c: vals.get(c) for c in seen_cols}
                for k, vals in model.items()
            }
            assert got == expected, (variant, scenario)


def test_upsert_schema_guard_error_paths(spark, tmp_path):
    """Without merge_schema, a column-set difference must be a CLEAR
    refusal naming the added/absent columns (never a silent drop); a
    key column missing on either side is always an error (it would
    null out and collapse every row onto one conflict group); pure
    column REORDER needs no flag (unionByName)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.sources import (
        upsert_parquet,
        upsert_parquet_bucketed,
    )

    for variant in ("flat", "bucketed"):
        path = "file://" + str(tmp_path / f"g_{variant}")

        def up(df, **kw):
            if variant == "flat":
                upsert_parquet(df, path, ["k"], **kw)
            else:
                upsert_parquet_bucketed(df, path, ["k"], n_buckets=4, **kw)

        up(spark.createDataFrame([(1, 10, 20)], "k LONG, a LONG, b LONG"))
        # reorder-only: fine without the flag, values stay aligned
        up(spark.createDataFrame([(30, 2, 40)], "a LONG, k LONG, b LONG"))
        got = {r["k"]: (r["a"], r["b"])
               for r in spark.read.parquet(path).collect()}
        assert got == {1: (10, 20), 2: (30, 40)}, variant
        # column-set difference without merge_schema: loud refusal
        with _pytest.raises(ValueError, match=r"new columns \['c'\]"):
            up(spark.createDataFrame([(3, 1, 2, 9)],
                                     "k LONG, a LONG, b LONG, c LONG"))
        with _pytest.raises(ValueError, match=r"absent columns \['b'\]"):
            up(spark.createDataFrame([(3, 1)], "k LONG, a LONG"))
        # the refusal left the table untouched
        assert spark.read.parquet(path).count() == 2, variant
        # missing key col: error regardless of merge_schema
        with _pytest.raises(ValueError, match=r"key columns \['k'\]"):
            up(
                spark.createDataFrame([(1, 2)], "a LONG, b LONG"),
                merge_schema=True,
            )
    # first write with a missing key col is the same clear refusal —
    # not a downstream AnalysisException from the window spec
    with _pytest.raises(ValueError, match=r"key columns \['k'\]"):
        upsert_parquet(
            spark.createDataFrame([(1,)], "a LONG"),
            "file://" + str(tmp_path / "nokey"),
            ["k"],
        )
    with _pytest.raises(ValueError, match=r"key columns \['k'\]"):
        upsert_parquet_bucketed(
            spark.createDataFrame([(1,)], "a LONG"),
            "file://" + str(tmp_path / "nokey_b"),
            ["k"],
            n_buckets=4,
        )


def test_bucketed_evolution_preserves_layout_and_pruning(spark, tmp_path):
    """A merge_schema evolution batch pays the full-table rewrite but
    must leave the bucketed layout intact: _bucketing.json survives,
    file schemas are homogeneous (plain read needs no mergeSchema),
    and the NEXT steady-state batch is back to the O(touched-buckets)
    pruned merge."""
    import json as _json

    from blockchain_data_engineering_spark.sources import (
        upsert_parquet_bucketed,
    )
    from blockchain_data_engineering_spark.sources.io import (
        _hadoop_fs,
        _read_text_file,
    )

    path = "file://" + str(tmp_path / "evo")
    upsert_parquet_bucketed(
        spark.createDataFrame([(k, k * 10) for k in range(8)],
                              "k LONG, v LONG"),
        path, ["k"], n_buckets=4,
    )
    # evolution batch: adds column w
    upsert_parquet_bucketed(
        spark.createDataFrame([(1, 11, 7), (99, 990, 8)],
                              "k LONG, v LONG, w LONG"),
        path, ["k"], n_buckets=4, merge_schema=True,
    )
    fs, HPath, _ = _hadoop_fs(spark, path)
    marker = _json.loads(
        _read_text_file(fs, HPath(path[7:] + "/_bucketing.json"))
    )
    assert marker == {"n_buckets": 4, "key_cols": ["k"]}
    got = spark.read.parquet(path)  # no mergeSchema option needed
    assert set(got.columns) == {"k", "v", "w", "__bucket"}
    vals = {r["k"]: (r["v"], r["w"]) for r in got.collect()}
    assert vals[1] == (11, 7) and vals[0] == (0, None) and vals[99] == (990, 8)
    # steady-state batch after evolution: still pruned + merged
    upsert_parquet_bucketed(
        spark.createDataFrame([(2, 22, 9)], "k LONG, v LONG, w LONG"),
        path, ["k"], n_buckets=4,
    )
    vals = {
        r["k"]: (r["v"], r["w"])
        for r in spark.read.parquet(path).collect()
    }
    assert vals[2] == (22, 9) and len(vals) == 9  # 8 initial + key 99


def test_canonical_rows_matches_python_model(spark):
    """streaming.rollback.canonical_rows (the batch retraction replay
    behind stream_reorg_replay) against a brute-force Python model:
    a row survives iff NO later marker rolls back below it — checked
    on random logs with random marker density/points, including the
    no-marker and all-markers edges."""
    import random

    from blockchain_data_engineering_spark.streaming.rollback import (
        canonical_rows,
    )

    rng = random.Random(11)
    for scenario in range(6):
        n = rng.randint(1, 60)
        rows = []
        for seq in range(n):
            is_m = rng.random() < (0.0, 0.15, 1.0)[
                0 if scenario == 0 else (2 if scenario == 5 else 1)
            ]
            slot = seq * 2 + rng.randint(0, 1)  # non-trivial slot axis
            pt = slot - rng.randint(0, 20) if is_m else None
            rows.append((seq, slot, is_m, pt))
        df = spark.createDataFrame(
            rows, "seq LONG, slot LONG, is_marker BOOLEAN, pt LONG"
        )
        got = {
            r["seq"] for r in canonical_rows(df).select("seq").collect()
        }
        expected = {
            seq
            for seq, slot, is_m, _ in rows
            if not is_m
            and not any(
                m_seq > seq and slot > m_pt
                for m_seq, _, m_is, m_pt in rows
                if m_is
            )
        }
        assert got == expected, (scenario, sorted(got ^ expected))


def test_rollback_sink_and_canonical_rows_agree(spark, tmp_path):
    """One orphan predicate, both callers: a random roll log, split
    into random batches, lands through rollback_aware_upsert exactly
    the blocks canonical_rows keeps and the Python model expects.
    Batches take rows from anywhere in the log, so markers arrive
    before some of their orphans. A block with a NULL slot is orphaned
    by any marker that follows it, on both paths and whichever batch
    delivers the marker."""
    import json
    import random

    from blockchain_data_engineering_spark.streaming.rollback import (
        canonical_rows,
        rollback_aware_upsert,
        rollback_marker_line,
    )

    rng = random.Random(29)
    early_markers = late_null = 0  # the cases the log must exercise
    for scenario in range(3):
        n = rng.randint(12, 30)
        n_batches = rng.randint(2, 4)
        rows = []  # (seq, slot, is_marker, pt, batch)
        for seq in range(n):
            is_m = rng.random() < 0.2
            slot = seq * 2 + rng.randint(0, 1)
            if not is_m and rng.random() < 0.15:
                slot = None
            pt = slot - rng.randint(0, 20) if is_m else None
            rows.append((seq, slot, is_m, pt, rng.randrange(n_batches)))
        # planted: a NULL-slot block in the first batch, orphaned only
        # by a marker in the last batch (above every slot, so it
        # orphans NULL slots alone), then a NULL-slot block no marker
        # follows
        rows += [
            (n, None, False, None, 0),
            (n + 1, 2 * n + 2, True, 2 * n + 1, n_batches - 1),
            (n + 2, None, False, None, 0),
        ]
        markers = [(seq, pt, b) for seq, _, is_m, pt, b in rows if is_m]

        table = "file://" + str(tmp_path / f"s{scenario}")
        for b in range(n_batches):
            lines = [
                (
                    rollback_marker_line({"slot": pt})
                    if is_m
                    else json.dumps(
                        {"py/state": {"id": f"b{seq}", "slot": slot, "height": seq}}
                    ),
                    seq,
                )
                for seq, slot, is_m, pt, batch in rows
                if batch == b
            ]
            if lines:
                rollback_aware_upsert(
                    spark.createDataFrame(lines, "value STRING, seq LONG"),
                    table,
                    ["id"],
                    seq_col="seq",
                )
        landed = {
            int(r["id"][1:])
            for r in spark.read.parquet(table).select("id").collect()
        }
        log = spark.createDataFrame(
            [r[:4] for r in rows],
            "seq LONG, slot LONG, is_marker BOOLEAN, pt LONG",
        )
        kept = {r["seq"] for r in canonical_rows(log).select("seq").collect()}

        blocks = [(seq, slot, b) for seq, slot, is_m, _, b in rows if not is_m]
        want = {
            s
            for s, sl, _ in blocks
            if not any(
                m_seq > s and (sl is None or sl > m_pt)
                for m_seq, m_pt, _ in markers
            )
        }
        assert kept == want, (scenario, sorted(kept ^ want))
        assert landed == kept, (scenario, sorted(landed ^ kept))
        # NULL-slot orphans whose every marker comes in a later batch:
        # the sink must delete them from the landing table
        late_null += sum(
            sl is None
            and min((m_b for m_seq, _, m_b in markers if m_seq > s), default=-1) > b
            for s, sl, b in blocks
        )
        early_markers += sum(
            m_seq > s and m_b < b and sl is not None and sl > m_pt
            for m_seq, m_pt, m_b in markers
            for s, sl, b in blocks
        )
    assert early_markers and late_null


# ------------------------------------------------------- r5 operators ---
# Python models of the round-5 analytic operators, checked against
# random inputs driver-side, then one Spark-vs-model test each (the
# netflow/duplicated-spans pattern).


def py_scd2(changes):
    """Model: changes = [(key, ts, attr)] → versions
    [(key, attr, valid_from, valid_to, is_current)]."""
    out = []
    by_key: dict = {}
    for k, t, a in sorted(changes):
        by_key.setdefault(k, []).append((t, a))
    for k, seq in by_key.items():
        versions = []
        prev = object()
        for t, a in seq:
            if a != prev:
                versions.append([k, a, t, None])
                prev = a
        for i in range(len(versions) - 1):
            versions[i][3] = versions[i + 1][2]
        out += [
            (k, a, vf, vt, vt is None) for k, a, vf, vt in versions
        ]
    return sorted(out, key=lambda r: (r[0], r[2]))


def py_ffill(rows):
    """Model: rows = [(key, ts, val|None)] → [(key, ts, filled)]."""
    carry: dict = {}
    out = []
    for k, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
        if v is not None:
            carry[k] = v
        out.append((k, t, carry.get(k)))
    return out


def py_max_concurrency(intervals):
    """Model: brute-force sweep over [(key, s, e)] half-open."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, s, e in intervals:
        by_key[k].append((s, e))
    res = {}
    for k, iv in by_key.items():
        pts = sorted(
            [(s, 1) for s, _ in iv] + [(e, -1) for _, e in iv],
            key=lambda p: (p[0], p[1]),
        )
        c = mx = 0
        for _, d in pts:
            c += d
            mx = max(mx, c)
        res[k] = (mx, len(iv))
    return res


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(0, 20),         # ts (collisions likely)
            st.sampled_from("abc"),     # attr
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(deadline=None, max_examples=50)
def test_scd2_model_invariants(changes):
    """Versions per key: half-open, non-overlapping, chained
    (valid_to == next valid_from), exactly one open; re-stated
    attributes never open a new version."""
    # de-dup (key, ts): the operator requires a total order; the model
    # uses attr as tie-break like tiebreak_cols would
    seen = {}
    for k, t, a in changes:
        seen[(k, t)] = a
    changes = [(k, t, a) for (k, t), a in seen.items()]
    versions = py_scd2(changes)
    by_key: dict = {}
    for k, a, vf, vt, cur in versions:
        by_key.setdefault(k, []).append((vf, vt, a, cur))
    for k, vs in by_key.items():
        assert sum(1 for _vf, vt, _a, _c in vs if vt is None) == 1
        for i in range(len(vs) - 1):
            assert vs[i][1] == vs[i + 1][0]      # chained intervals
            assert vs[i][2] != vs[i + 1][2]      # real change each version
        assert vs[-1][3] is True


def test_scd2_spark_matches_python_model(spark):
    import random

    rng = random.Random(5)
    changes = [
        (rng.randint(0, 4), t, rng.choice("abc"))
        for t in range(30)
        for _ in range(rng.randint(0, 2))
    ]
    # unique (key, ts) for a deterministic total order
    seen = {}
    for k, t, a in changes:
        seen[(k, t)] = a
    changes = [(k, t, a) for (k, t), a in seen.items()]
    from blockchain_data_engineering_spark.operators.relational import (
        scd2_history,
    )

    df = spark.createDataFrame(changes, "k LONG, t LONG, a STRING")
    got = sorted(
        (
            (r["k"], r["a"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_history(
                df, key_cols=["k"], attr_cols=["a"], ts_col="t"
            ).collect()
        ),
        key=lambda r: (r[0], r[2]),
    )
    assert got == py_scd2(changes)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 50),
            st.one_of(st.none(), st.integers(-5, 5)),
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda r: (r[0], r[1]),
    )
)
@settings(deadline=None, max_examples=20)
def test_forward_fill_spark_matches_python_model_bulk(rows):
    # hypothesis drives the MODEL; the Spark comparison runs once below
    # to keep session costs sane — here just check the model's own
    # invariant: filled value is always the latest non-null at or
    # before each row
    filled = py_ffill(rows)
    per_key: dict = {}
    for k, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
        per_key.setdefault(k, []).append((t, v))
    for k, t, got in filled:
        cands = [v for tt, v in per_key[k] if tt <= t and v is not None]
        assert got == (cands[-1] if cands else None)


def test_forward_fill_spark_matches_python_model(spark):
    import random

    rng = random.Random(11)
    rows = [
        (k, t, rng.randint(-5, 5) if rng.random() > 0.4 else None)
        for k in range(3)
        for t in range(40)
    ]
    from blockchain_data_engineering_spark.operators.relational import (
        forward_fill,
    )

    df = spark.createDataFrame(rows, "k LONG, t LONG, v LONG")
    got = sorted(
        (r["k"], r["t"], r["v_ff"])
        for r in forward_fill(
            df, cols=["v"], key_cols=["k"], order_cols=["t"]
        ).collect()
    )
    assert got == sorted(py_ffill(rows))


def test_max_concurrency_spark_matches_python_model(spark):
    import random

    rng = random.Random(17)
    intervals = []
    for k in range(3):
        for _ in range(50):
            s = rng.randint(0, 100)
            intervals.append((k, s, s + rng.randint(1, 30)))
    from blockchain_data_engineering_spark.operators.relational import (
        max_concurrent_intervals,
    )

    df = spark.createDataFrame(intervals, "k LONG, s LONG, e LONG")
    got = {
        r["k"]: (r["max_concurrent"], r["n_intervals"])
        for r in max_concurrent_intervals(df, ["k"], "s", "e").collect()
    }
    assert got == py_max_concurrency(intervals)


def test_earliest_arrival_matches_synchronous_relaxation_model(spark):
    """Random temporal digraphs: the operator's delta-frontier loop
    must equal the obvious synchronous model (relax EVERY edge from the
    previous round's table, keep the min) at every round bound — the
    documented invariant that relaxing only improved nodes loses
    nothing (operators/graph.earliest_arrival)."""
    import random

    from blockchain_data_engineering_spark.operators.graph import (
        earliest_arrival,
    )

    rng = random.Random(20260815)
    for case in range(4):
        n = rng.randint(4, 9)
        nodes = [f"n{i}" for i in range(n)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes), rng.randint(0, 20))
            for _ in range(rng.randint(5, 22))
        ]
        seeds = {
            node: rng.randint(0, 10)
            for node in rng.sample(nodes, rng.randint(1, 2))
        }

        def model(rounds: int) -> dict[str, int]:
            arr = dict(seeds)
            for _ in range(rounds):
                new = dict(arr)
                for u, v, t in edges:
                    if u in arr and t >= arr[u]:
                        if v not in new or t < new[v]:
                            new[v] = t
                arr = new
            return arr

        edf = spark.createDataFrame(edges, "src STRING, dst STRING, t LONG")
        sdf = spark.createDataFrame(
            list(seeds.items()), "node STRING, arr LONG"
        )
        for rounds in (1, 3):
            got = {
                r["node"]: r["arr"]
                for r in earliest_arrival(edf, sdf, rounds=rounds).collect()
            }
            assert got == model(rounds), (
                f"case {case} rounds {rounds}: {got} != {model(rounds)} "
                f"(edges={edges}, seeds={seeds})"
            )


def test_target_encoding_is_leakage_free_by_construction(spark, sf_dir):
    """For every (category, fold) cell: enc must equal the target mean
    over the category's rows in ALL OTHER folds — recomputed here
    directly from the raw table with the same md5 fold assignment; and
    a category's fold cells must partition its rows
    (plans/analytics_queries.ml_target_encoding)."""
    import hashlib
    from collections import defaultdict

    import duckdb as _duck

    from blockchain_data_engineering_spark.plans import QUERIES

    fn = QUERIES["ml_target_encoding"]
    got = {
        (r["cat"], r["fold"]): r
        for r in fn(spark, sf_dir).collect()
    }

    rows = _duck.sql(
        f"SELECT o_orderkey, o_orderpriority, "
        f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS tq "
        f"FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    sums: dict[tuple, int] = defaultdict(int)
    cnts: dict[tuple, int] = defaultdict(int)
    for key, cat, tq in rows:
        fold = int(
            hashlib.md5(f"fold:{key}".encode()).hexdigest()[:2], 16
        ) % 5
        sums[(cat, fold)] += tq
        cnts[(cat, fold)] += 1

    assert set(got) == set(cnts)
    for (cat, fold), row in got.items():
        assert row["n_in_fold"] == cnts[(cat, fold)]
        out_sum = sum(v for (c, f), v in sums.items() if c == cat and f != fold)
        out_cnt = sum(v for (c, f), v in cnts.items() if c == cat and f != fold)
        if out_cnt == 0:
            assert row["enc"] is None
        else:
            assert row["enc"] == float(out_sum) / float(out_cnt) / 100.0


# ------------------------------------------------------------- r6 ops ---
# Property checks for the round-6 operators: exact AUC against the
# brute-force pair-counting definition, and the compaction planner's
# bin-size bound — random inputs, exact invariants.


@settings(deadline=None, max_examples=12)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=6), st.booleans()),
        min_size=2,
        max_size=40,
    ).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))
)
def test_auc_exact_matches_pair_counting_definition(spark, rows):
    """AUC is, by definition, P(score_pos > score_neg) + ½·P(tie) over
    all (pos, neg) pairs. The rank-sum implementation must equal the
    O(n²) brute force as an exact rational on ANY mixed-label input —
    the tight score range (0..6) forces heavy tie coverage."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators.ml_eval import auc_exact

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = Fraction(2 * wins + ties, 2 * len(pos) * len(neg))

    df = spark.createDataFrame(rows, "s long, y boolean")
    got = auc_exact(df, F.col("y"), F.col("s")).first()
    # totals are DECIMAL(38,0) since r7 (overflow-proof past 2^63)
    assert Fraction(int(got.auc_num), int(got.auc_den)) == want
    assert got.n_pos == len(pos) and got.n_neg == len(neg)


@settings(deadline=None, max_examples=10)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g", "h"]),
            st.integers(min_value=0, max_value=6),
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_score_sweep_read_outs_agree(spark, rows):
    """auc_exact, pr_curve, average_precision and cumulative_gain read
    one score sweep, so per key group their totals agree: the last
    curve row (lowest threshold) has tp = n_pos and fp = n_neg of
    auc_exact, n_pos of average_precision, and tp_taken / n_taken of
    cumulative_gain's final bucket; and ap_num is the floor-quantized
    sum of np·tp·10⁹/(tp+fp) over the curve rows, np being the
    positives at that threshold."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators.ml_eval import (
        _AP_SCALE,
        auc_exact,
        average_precision,
        cumulative_gain,
        pr_curve,
    )

    df = spark.createDataFrame(rows, "k string, s long, y boolean")
    y, s, keys = F.col("y"), F.col("s"), ["k"]
    curve: dict[str, list] = {}
    for r in pr_curve(df, y, s, keys).collect():
        curve.setdefault(r.k, []).append(r)
    auc = {r.k: r for r in auc_exact(df, y, s, keys).collect()}
    ap = {r.k: r for r in average_precision(df, y, s, keys).collect()}
    n_buckets = 4
    gain = {
        r.k: r
        for r in cumulative_gain(df, y, s, n_buckets, keys).collect()
        if r.bucket == n_buckets
    }
    assert set(curve) == set(auc) == set(ap) == set(gain) == {k for k, _, _ in rows}
    for k, pts in curve.items():
        pts.sort(key=lambda r: -r.threshold)
        last = pts[-1]
        assert (last.tp, last.fp) == (auc[k].n_pos, auc[k].n_neg)
        assert last.tp == ap[k].n_pos == gain[k].tp_taken
        assert last.tp + last.fp == gain[k].n_taken
        prev_tp, ap_num = 0, 0
        for r in pts:
            ap_num += (r.tp - prev_tp) * r.tp * _AP_SCALE // (r.tp + r.fp)
            prev_tp = r.tp
        assert int(ap[k].ap_num) == ap_num


@settings(deadline=None, max_examples=10)
@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=30),
    st.integers(min_value=50, max_value=200),
)
def test_compaction_plan_bin_bound_property(spark, sizes, target):
    """For ANY file sizes and target: small files are binned in order,
    every bin's total stays < target + its largest member (the
    one-file-overshoot guarantee), bins are contiguous starting at 0,
    and files ≥ target are exactly the NULL-bin set."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.sources.io import compaction_plan

    files = [(f"f{i:03d}", s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(files, "file string, size_bytes long")
    rows = compaction_plan(df, target_bytes=target).collect()
    got = {r.file: (r.size_bytes, r.bin) for r in rows}
    assert {f for f, (s, b) in got.items() if b is None} == {
        f for f, s in files if s >= target
    }
    bins: dict[int, list[int]] = {}
    for f, s in files:
        b = got[f][1]
        if b is not None:
            bins.setdefault(b, []).append(s)
    if bins:
        assert sorted(bins) == list(range(max(bins) + 1))  # contiguous
        for members in bins.values():
            assert sum(members) < target + max(members)


@settings(deadline=None, max_examples=8)
@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60),
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60),
)
def test_bloom_prefilter_never_drops_a_member(spark, members, probes):
    """Bloom safety property on arbitrary key sets: every probe key
    that IS a member survives the prefilter — false negatives are
    impossible by construction, for any m/k/data."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators.relational import (
        bloom_bits,
        bloom_prefilter,
    )

    build = spark.createDataFrame([(k,) for k in members], "key long")
    probe = spark.createDataFrame(
        [(k,) for k in members | probes], "key long"
    )
    bits = bloom_bits(build, "key", m_bits=1024)
    passed = {
        r.key
        for r in bloom_prefilter(
            probe, "key", bits, m_bits=1024
        ).collect()
    }
    assert members <= passed


@settings(deadline=None, max_examples=8)
@given(
    st.lists(
        st.integers(min_value=-10**6, max_value=10**6),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=32),
)
def test_quantile_sketch_properties(spark, values, k):
    """Quantile-sketch properties on arbitrary integer multisets:

    1. merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) bit-identically for
       ANY split (the mergeability contract — sketches compose across
       partitions/batches without error accumulation), and the n-way
       combine of three stacked part states plus an empty one ≡ the
       one-pass sketch, keyed and global;
    2. when n ≤ k the answer is the EXACT order statistic at rank
       ceil(q·n);
    3. every estimate is an element of the data (the sample never
       invents values)."""
    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators.quantiles import (
        quantile_sketch,
        quantile_sketch_combine,
        quantile_sketch_merge,
        quantile_sketch_query,
    )

    rows = [(i, v, v % 3) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "rid long, v long, g long")
    a = df.where(F.col("rid") % 3 == 0)
    b = df.where(F.col("rid") % 3 != 0)
    full = quantile_sketch(df, "v", ["rid"], k)
    merged = quantile_sketch_merge(
        quantile_sketch(a, "v", ["rid"], k),
        quantile_sketch(b, "v", ["rid"], k),
        k,
    )
    unpack = lambda d: [  # noqa: E731
        (r["n_total"], tuple(tuple(s) for s in r["samples"]))
        for r in d.collect()
    ]
    assert unpack(merged) == unpack(full)

    parts = [df.where(F.col("rid") % 3 == i) for i in range(3)]
    parts.insert(1, df.where(F.lit(False)))
    for keys in ([], ["g"]):
        states = [quantile_sketch(p, "v", ["rid"], k, keys) for p in parts]
        stacked = states[0]
        for st_ in states[1:]:
            stacked = stacked.unionByName(st_)
        got_st = quantile_sketch_combine(stacked, k, keys)
        want_st = quantile_sketch(df, "v", ["rid"], k, keys)
        unpack_k = lambda d: sorted(  # noqa: E731
            (*[r[c] for c in keys], r["n_total"], tuple(map(tuple, r["samples"])))
            for r in d.collect()
        )
        assert unpack_k(got_st) == unpack_k(want_st), keys

    qs = [1, 2500, 5000, 7500, 10000]
    got = {
        r["q_bp"]: r["est_v"]
        for r in quantile_sketch_query(full, qs).collect()
    }
    data = set(values)
    n = len(values)
    srt = sorted(values)
    for q_bp, est in got.items():
        assert est in data
        if n <= k:  # exactness when the sample is the data
            assert est == srt[max(1, (q_bp * n + 9999) // 10000) - 1]


@settings(deadline=None, max_examples=8)
@given(
    st.lists(
        st.integers(min_value=0, max_value=30),
        min_size=1,
        max_size=150,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_heavy_hitters_properties(spark, items, k):
    """Misra–Gries properties on arbitrary item multisets and k:

    1. the fresh build's bounds bracket every true frequency with
       count_hi EXACT (err = the (k+1)-th count, c + err = cnt);
    2. for ANY split, the merged state still satisfies
       count_lo ≤ f ≤ count_lo + err and err·(k+1) ≤ n (the PODS-2012
       guarantee survives merging);
    3. every item with f > err_merged survives the merge
       (φ-heavy-hitter completeness);
    4. n_total is conserved by the merge."""
    from collections import Counter

    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters_estimate,
        heavy_hitters_merge,
        heavy_hitters_state,
    )

    rows = [(i, str(v)) for i, v in enumerate(items)]
    df = spark.createDataFrame(rows, "rid long, it string")
    freqs = Counter(str(v) for v in items)
    n = len(items)

    fresh = {
        r["item"]: (r["count_lo"], r["count_hi"])
        for r in heavy_hitters_estimate(
            heavy_hitters_state(df, "it", k)
        ).collect()
    }
    for it, (lo, hi) in fresh.items():
        assert lo <= freqs[it] == hi  # fresh build: hi is exact

    a = df.where(F.col("rid") % 3 == 0)
    b = df.where(F.col("rid") % 3 != 0)
    merged = heavy_hitters_merge(
        heavy_hitters_state(a, "it", k),
        heavy_hitters_state(b, "it", k),
        k,
    )
    [state] = merged.collect()
    assert state["n_total"] == n
    assert state["err"] * (k + 1) <= n
    got = {
        r["item"]: (r["count_lo"], r["count_hi"])
        for r in heavy_hitters_estimate(merged).collect()
    }
    for it, (lo, hi) in got.items():
        assert lo <= freqs[it] <= hi, (it, lo, hi, freqs[it])
    for it, f in freqs.items():
        if f > state["err"]:
            assert it in got, (it, f, state["err"])


# ---------------------------------------------------------------------------
# r9 eval/agreement statistics: the cleared-denominator integer
# formulas must equal the textbook float formulas on arbitrary inputs
# (pure-Python models of the exact algebra; the Spark twins are
# pinned against these same formulas in test_r9_ops).
# ---------------------------------------------------------------------------
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # rater-a label id
            st.integers(min_value=0, max_value=3),  # rater-b label id
        ),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=100, deadline=None)
def test_cohens_kappa_integer_formula_matches_textbook(cells):
    from collections import Counter

    n = len(cells)
    agree = sum(1 for a, b in cells if a == b)
    ra = Counter(a for a, _ in cells)
    cb = Counter(b for _, b in cells)
    pe_sum = sum(ra[l] * cb[l] for l in set(ra) | set(cb))
    num, den = n * agree - pe_sum, n * n - pe_sum
    if den == 0:
        # both raters constant AND identical — textbook kappa is 0/0
        assert agree == n and len(ra) == 1 and ra == cb
        return
    po, pe = agree / n, pe_sum / (n * n)
    assert abs(num / den - (po - pe) / (1 - pe)) < 1e-12
    assert -1.0 - 1e-12 <= num / den <= 1.0 + 1e-12


@given(
    ref=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
    cur=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
)
@settings(max_examples=100, deadline=None)
def test_tvd_integer_formula_bounds_and_symmetry(ref, cur):
    from collections import Counter

    def tvd_int(xs, ys):
        cx, cy = Counter(xs), Counter(ys)
        nx, ny = len(xs), len(ys)
        num = sum(
            abs(cx[v] * ny - cy[v] * nx) for v in set(cx) | set(cy)
        )
        return num, 2 * nx * ny

    num, den = tvd_int(ref, cur)
    t = num / den
    # matches the textbook half-L1 of the proportion vectors
    cx, cy = Counter(ref), Counter(cur)
    direct = 0.5 * sum(
        abs(cx[v] / len(ref) - cy[v] / len(cur))
        for v in set(cx) | set(cy)
    )
    assert abs(t - direct) < 1e-12
    assert 0.0 <= t <= 1.0 + 1e-12
    # symmetric
    num2, den2 = tvd_int(cur, ref)
    assert num2 / den2 == t
    # identical multisets → exactly 0 (integer numerator is exactly 0)
    nself, _ = tvd_int(ref, ref)
    assert nself == 0


@given(
    perm=st.permutations(list(range(1, 13))),
)
@settings(max_examples=100, deadline=None)
def test_rank_agreement_invariants(perm):
    n = len(perm)
    ident = list(range(1, n + 1))
    d2 = sum((a - b) ** 2 for a, b in zip(ident, perm))
    m = n * (n * n - 1)
    rho = (m - 6 * d2) / m
    disc = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if perm[i] > perm[j]
    )
    mp = n * (n - 1)
    tau = (mp - 4 * disc) / mp
    assert -1.0 - 1e-12 <= rho <= 1.0 + 1e-12
    assert -1.0 - 1e-12 <= tau <= 1.0 + 1e-12
    # Daniels' inequality couples the two statistics for permutations
    assert 3 * tau - 2 * rho <= 1 + 1e-9
    assert -1 - 1e-9 <= 3 * tau - 2 * rho
    # extremes coincide
    if list(perm) == ident:
        assert rho == 1.0 and tau == 1.0
    if list(perm) == ident[::-1]:
        assert rho == -1.0 and tau == -1.0


@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=0, max_value=100),  # score quanta
        ),
        min_size=1,
        max_size=200,
    ),
    n_bins=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=100, deadline=None)
def test_ece_weight_cancellation_identity(rows, n_bins):
    """The core algebraic claim behind the EXACT ECE: the binned
    Σ (n_b/n)·|acc_b − conf_b| equals Σ_b |s_max·n_pos_b − s_sum_b|
    over n·s_max — bit-for-bit the same real number."""
    from collections import defaultdict

    s_max = 100
    bins = defaultdict(lambda: [0, 0, 0])  # n_b, pos_b, s_sum_b
    for y, s in rows:
        b = min((s * n_bins) // s_max, n_bins - 1)
        bins[b][0] += 1
        bins[b][1] += int(y)
        bins[b][2] += s
    n = len(rows)
    textbook = sum(
        (nb / n) * abs(pos / nb - ssum / (nb * s_max))
        for nb, pos, ssum in bins.values()
    )
    int_num = sum(
        abs(s_max * pos - ssum) for _, pos, ssum in bins.values()
    )
    assert abs(textbook - int_num / (n * s_max)) < 1e-12
    assert 0.0 <= int_num / (n * s_max) <= 1.0 + 1e-12


@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=150,
    ),
    n_buckets=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=100, deadline=None)
def test_cumulative_gain_bucket_partition(rows, n_buckets):
    """The integer floor inversion assigns EVERY bucket 1..n_buckets to
    exactly one threshold row, cutoffs are monotone, and the chosen
    row is the first whose cumulative count reaches the cutoff."""
    from collections import Counter

    per_score = Counter(s for _, s in rows)
    order = sorted(per_score, reverse=True)
    n = len(rows)
    cum = 0
    assigned = {}
    for s in order:
        prev = cum
        cum += per_score[s]
        lo = (prev * n_buckets) // n + 1
        hi = (cum * n_buckets) // n
        for b in range(lo, hi + 1):
            assert b not in assigned
            assigned[b] = (prev, cum)
    assert sorted(assigned) == list(range(1, n_buckets + 1))
    for b, (prev, cum_b) in assigned.items():
        cutoff = -(-b * n // n_buckets)  # ceil
        assert prev < cutoff <= cum_b


@given(
    ballots=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=3),  # category per vote
            min_size=4,
            max_size=4,  # n_raters fixed at 4 (Fleiss' design)
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=100, deadline=None)
def test_fleiss_kappa_integer_formula_matches_textbook(ballots):
    """The cleared-denominator κ = (S1·N·n − S2·(n−1))/((N²n² − S2)
    ·(n−1)) must equal the textbook (P̄ − P̄e)/(1 − P̄e) on arbitrary
    complete ballots."""
    from collections import Counter

    n = 4
    N = len(ballots)
    s1 = 0
    col = Counter()
    for votes in ballots:
        cnt = Counter(votes)
        s1 += sum(v * (v - 1) for v in cnt.values())
        col.update(cnt)
    s2 = sum(v * v for v in col.values())
    num = s1 * N * n - s2 * (n - 1)
    den = (N * N * n * n - s2) * (n - 1)
    p_bar = s1 / (N * n * (n - 1))
    p_e = s2 / (N * n) ** 2
    if den == 0:
        # P̄e = 1: every vote in one category
        assert len(col) == 1
        return
    assert abs(num / den - (p_bar - p_e) / (1 - p_e)) < 1e-12
    # kappa is bounded below by -1/(n-1) for complete ballots and
    # above by 1
    assert num / den <= 1.0 + 1e-12
    assert num / den >= -1.0 / (n - 1) - 1e-9


@given(
    la=st.permutations(["a", "b", "c", "d", "e"]),
    lb=st.permutations(["c", "d", "e", "f", "g"]),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=100, deadline=None)
def test_rbo_suffix_lookup_matches_prefix_definition(la, lb, k):
    """The operator's suffix-weight lookup (one literal per matched
    item at depth max(ra, rb)) must equal the textbook prefix-overlap
    definition Σ_d (1−p)p^(d−1)·|A_d ∩ B_d|/d, and rbo_norm stays in
    [0, 1] with 1 exactly on identical prefixes."""
    from blockchain_data_engineering_spark.operators.ml_eval import (
        rbo_weights,
    )

    scale, full, suffix = rbo_weights(k, 9, 10)
    ra = {it: i + 1 for i, it in enumerate(la[:k])}
    rb = {it: i + 1 for i, it in enumerate(lb[:k])}
    via_suffix = sum(
        suffix[max(ra[it], rb[it]) - 1] for it in set(ra) & set(rb)
    )
    p = 0.9
    direct = sum(
        (1 - p) * p ** (d - 1)
        * len(set(la[:d]) & set(lb[:d])) / d
        for d in range(1, k + 1)
    )
    assert abs(via_suffix / scale - direct) < 1e-12
    assert 0.0 <= via_suffix / full <= 1.0 + 1e-12
    ident = sum(suffix[m - 1] for m in range(1, k + 1))
    assert ident == full


@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),
            st.integers(min_value=0, max_value=200),  # score quanta
        ),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=100, deadline=None)
def test_log_loss_quanta_table_matches_float(rows):
    """The literal log-quanta table design (r10): the integer sum over
    log_loss_table divided by n·10^12 must match the float clamped
    log-loss to the documented 0.5e-12-per-row bound."""
    import math

    from blockchain_data_engineering_spark.operators.ml_eval import (
        log_loss_table,
    )

    s_max = 200
    tab = log_loss_table(s_max)
    clamp = lambda s: max(1, min(s_max - 1, s))  # noqa: E731
    num = sum(
        tab[clamp(s) - 1] if y else tab[s_max - clamp(s) - 1]
        for y, s in rows
    )
    got = num / (len(rows) * 10**12)
    ref = sum(
        -math.log(clamp(s) / s_max)
        if y
        else -math.log(1 - clamp(s) / s_max)
        for y, s in rows
    ) / len(rows)
    assert abs(got - ref) < 1e-9
    assert got >= 0.0


@given(
    ref=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
    cur=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
)
@settings(max_examples=100, deadline=None)
def test_psi_quanta_terms_match_float_and_are_nonnegative(ref, cur):
    """PSI over the floor-quantized, eps-filled share grid (r10): the
    integer (Δq)·(ΔlnT) terms match the float PSI of the SAME
    quantized shares, every term is ≥ 0 (both factors share a sign),
    and identical mixes score exactly 0."""
    import math
    from collections import Counter

    from blockchain_data_engineering_spark.operators.dq import psi_ln_table

    g = 1000
    tab = psi_ln_table(g)
    cx, cy = Counter(ref), Counter(cur)
    nx, ny = len(ref), len(cur)
    q = lambda c, n: max(1, (c * g) // n)  # noqa: E731
    num = 0
    for v in set(cx) | set(cy):
        qr, qc = q(cx[v], nx), q(cy[v], ny)
        term = (qc - qr) * (tab[qc - 1] - tab[qr - 1])
        assert term >= 0
        num += term
    got = num / (g * 10**12)
    ref_psi = sum(
        (q(cy[v], ny) - q(cx[v], nx))
        / g
        * (math.log(q(cy[v], ny)) - math.log(q(cx[v], nx)))
        for v in set(cx) | set(cy)
    )
    assert abs(got - ref_psi) < 1e-9
    # identical multisets → exactly 0 at the integer level
    numself = sum(
        (q(cx[v], nx) - q(cx[v], nx)) * 0 for v in set(cx)
    )
    assert numself == 0


@given(
    ballots=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),  # unit id
            st.integers(min_value=0, max_value=3),  # category id
        ),
        min_size=2,
        max_size=160,
    )
)
@settings(max_examples=100, deadline=None)
def test_krippendorff_integer_formula_matches_textbook(ballots):
    """The LCM-cleared Krippendorff integers (r10) vs the textbook
    float D_o/D_e on the kept units (2 ≤ m_u ≤ 16)."""
    import math
    from collections import Counter, defaultdict

    mr = 16
    lcm = math.lcm(*range(1, mr))
    units = defaultdict(Counter)
    for u, c in ballots:
        units[u][c] += 1
    kept = {
        u: cnt
        for u, cnt in units.items()
        if 2 <= sum(cnt.values()) <= mr
    }
    n = sum(sum(c.values()) for c in kept.values())
    nc = Counter()
    for c in kept.values():
        nc.update(c)
    u_int = sum(
        (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
        * (lcm // (sum(c.values()) - 1))
        for c in kept.values()
    )
    de_int = (n * n - sum(v * v for v in nc.values())) * lcm
    num_int = de_int - (n - 1) * u_int
    if de_int == 0:
        # no kept units, n < 2, or one category — textbook α undefined
        return
    alpha_int = num_int / de_int
    do = sum(
        (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
        / (sum(c.values()) - 1)
        for c in kept.values()
    ) / n
    de = (n * n - sum(v * v for v in nc.values())) / (n * (n - 1))
    assert abs(alpha_int - (1 - do / de)) < 1e-9
    assert alpha_int <= 1.0 + 1e-12


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=200,
    ),
    quadratic=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_weighted_kappa_integer_formula_matches_textbook(pairs, quadratic):
    """The cleared weighted-kappa integers (r10) vs the textbook
    1 − Σw·o/Σw·e form, and the binary-label reduction to unweighted
    kappa."""
    from collections import Counter

    wf = (
        (lambda i, j: (i - j) ** 2)
        if quadratic
        else (lambda i, j: abs(i - j))
    )
    n = len(pairs)
    cells = Counter(pairs)
    ra = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    obs = sum(wf(a, b) * c for (a, b), c in cells.items())
    exp = sum(wf(i, j) * ra[i] * cb[j] for i in ra for j in cb)
    num, den = exp - n * obs, exp
    if den == 0:
        # both raters constant: no disagreement expressible
        assert len(ra) == 1 and len(cb) == 1 and obs in (0, n * next(
            wf(i, j) for i in ra for j in cb
        ))
        return
    # textbook: κ_w = 1 − (Σw·o/n) / (Σw·e/n²)
    assert abs(num / den - (1 - (obs / n) / (exp / (n * n)))) < 1e-9
    assert num / den <= 1.0 + 1e-12


@given(
    ref=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
    cur=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
)
@settings(max_examples=100, deadline=None)
def test_js_quanta_terms_match_float_symmetric_and_bounded(ref, cur):
    """JS over the floor-quantized shares (r10): the integer
    q·(T[2q] − T[q_m]) construction matches the float JS of the SAME
    quantized vectors, is symmetric, and respects the ln 2 bound (up
    to the documented sub-normalization slack of the floor grid)."""
    import math
    from collections import Counter

    from blockchain_data_engineering_spark.operators.dq import psi_ln_table

    g = 1000
    tab = psi_ln_table(2 * g)
    cx, cy = Counter(ref), Counter(cur)
    nx, ny = len(ref), len(cur)
    q = lambda c, n: (c * g) // n  # noqa: E731

    def js_int(a, b, na, nb):
        num = 0
        for v in set(a) | set(b):
            qr, qc = q(a[v], na), q(b[v], nb)
            m = qr + qc
            if m == 0:
                continue
            t = 0
            if qr:
                t += qr * (tab[2 * qr - 1] - tab[m - 1])
            if qc:
                t += qc * (tab[2 * qc - 1] - tab[m - 1])
            num += t
        return num

    num = js_int(cx, cy, nx, ny)
    got = num / (2 * g * 10**12)
    ref_js = 0.0
    for v in set(cx) | set(cy):
        qr, qc = q(cx[v], nx), q(cy[v], ny)
        m = qr + qc
        if m == 0:
            continue
        if qr:
            ref_js += qr * (math.log(2 * qr) - math.log(m))
        if qc:
            ref_js += qc * (math.log(2 * qc) - math.log(m))
    ref_js /= 2 * g
    assert abs(got - ref_js) < 1e-9
    # symmetric at the integer level
    assert js_int(cy, cx, ny, nx) == num
    # bounded: ≤ ln 2 exactly; ≥ 0 up to the floor-grid
    # sub-normalization slack (≤ n_cat/G of mass per side)
    n_cat = len(set(cx) | set(cy))
    assert got <= math.log(2) + 1e-12
    assert got >= -(2 * n_cat / g) * math.log(2 * g)
    # identical multisets → exactly 0
    assert js_int(cx, cx, nx, nx) == 0


@given(
    ballots=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),  # unit id
            st.integers(min_value=0, max_value=5),  # ordinal tier
        ),
        min_size=2,
        max_size=160,
    )
)
@settings(max_examples=100, deadline=None)
def test_krippendorff_interval_moment_form_matches_pairwise(ballots):
    """The interval moment identity (r10): per-unit
    Σ_{c,k} n_uc·n_uk·(c−k)² = 2·(m·S2 − S1²) and marginal
    Σ n_c·n_k·(c−k)² = 2·(n·T2 − T1²) — so the LCM-cleared moment
    integers reproduce the textbook pairwise double-loop alpha."""
    import math
    from collections import defaultdict

    mr = 16
    lcm = math.lcm(*range(1, mr))
    units = defaultdict(list)
    for u, c in ballots:
        units[u].append(c)
    kept = {u: v for u, v in units.items() if 2 <= len(v) <= mr}
    n = sum(len(v) for v in kept.values())
    u_int = 0
    for v in kept.values():
        m = len(v)
        s1 = sum(v)
        s2 = sum(c * c for c in v)
        # moment identity vs the pairwise double loop, exactly
        assert 2 * (m * s2 - s1 * s1) == sum(
            (a - b) ** 2 for a in v for b in v
        )
        u_int += (m * s2 - s1 * s1) * (lcm // (m - 1))
    allv = [c for v in kept.values() for c in v]
    t1 = sum(allv)
    t2 = sum(c * c for c in allv)
    assert 2 * (n * t2 - t1 * t1) == sum(
        (a - b) ** 2 for a in allv for b in allv
    )
    de_int = (n * t2 - t1 * t1) * lcm
    if de_int == 0:
        return
    alpha_int = (de_int - (n - 1) * u_int) / de_int
    do = sum(
        sum((a - b) ** 2 for a in v for b in v) / (len(v) - 1)
        for v in kept.values()
    ) / n
    de = 2 * (n * t2 - t1 * t1) / (n * (n - 1))
    assert abs(alpha_int - (1 - do / de)) < 1e-9
    assert alpha_int <= 1.0 + 1e-12


@given(
    scores=st.lists(
        st.integers(min_value=0, max_value=200), min_size=1, max_size=300
    )
)
@settings(max_examples=100, deadline=None)
def test_log_loss_multiclass_table_matches_float(scores):
    """The multi-class log-loss integers (r11): one table arm, the
    one-sided clamp (only p_true = 0 is singular), T[s_max] = 0 so a
    fully-confident correct prediction costs exactly 0."""
    import math

    from blockchain_data_engineering_spark.operators.ml_eval import (
        log_loss_table,
    )

    s_max = 200
    tab = log_loss_table(s_max)
    num = sum(tab[max(1, s) - 1] for s in scores)
    got = num / (len(scores) * 10**12)
    ref = sum(-math.log(max(1, s) / s_max) for s in scores) / len(scores)
    assert abs(got - ref) < 1e-9
    assert got >= 0.0
    if all(s == s_max for s in scores):
        assert num == 0


@given(
    ref=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
    cur=st.lists(st.integers(min_value=0, max_value=5), min_size=1,
                 max_size=120),
)
@settings(max_examples=100, deadline=None)
def test_kl_quanta_terms_match_float_and_jeffreys(ref, cur):
    """Directional KL over the asymmetrically-quantized shares (r11):
    cur floored (0 stays 0), ref eps-filled; the integer terms match
    the float KL of the SAME quantized vectors, identical multisets
    score exactly 0, and on shared support the two directions sum to
    the PSI integers EXACTLY (Jeffreys' identity at the quantum
    level)."""
    import math
    from collections import Counter

    from blockchain_data_engineering_spark.operators.dq import psi_ln_table

    g = 1000
    tab = psi_ln_table(g)
    cx, cy = Counter(ref), Counter(cur)
    nx, ny = len(ref), len(cur)
    qr = lambda v: max(1, (cx.get(v, 0) * g) // nx)  # noqa: E731
    qc = lambda v: (cy.get(v, 0) * g) // ny  # noqa: E731
    num = sum(
        qc(v) * (tab[qc(v) - 1] - tab[qr(v) - 1])
        for v in set(cx) | set(cy)
        if qc(v) > 0
    )
    got = num / (g * 10**12)
    ref_kl = sum(
        (qc(v) / g) * (math.log(qc(v)) - math.log(qr(v)))
        for v in set(cx) | set(cy)
        if qc(v) > 0
    )
    assert abs(got - ref_kl) < 1e-9
    if sorted(ref) == sorted(cur):
        assert num == 0
    # Jeffreys: on shared support with no zero-flooring on either
    # side, kl(x→y) + kl(y→x) == psi, integer-for-integer
    if set(cx) == set(cy) and all(
        (cx[v] * g) // nx >= 1 and (cy[v] * g) // ny >= 1 for v in cx
    ):
        rev = sum(
            ((cx[v] * g) // nx)
            * (tab[(cx[v] * g) // nx - 1] - tab[max(1, (cy[v] * g) // ny) - 1])
            for v in cx
        )
        psi = sum(
            ((cy[v] * g) // ny - (cx[v] * g) // nx)
            * (tab[(cy[v] * g) // ny - 1] - tab[(cx[v] * g) // nx - 1])
            for v in cx
        )
        assert num + rev == psi


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=100, deadline=None)
def test_label_mi_quanta_match_float(pairs):
    """Label MI over the floor-quantized share grid (r11): the
    integer mi/ha/hp numerators match the float MI/H functionals of
    the SAME quantized vectors; a bijective relabeling makes
    mi == ha == hp exactly; the below-zero slack of sub-normalized
    floors stays within the documented k²/G bound."""
    import math
    from collections import Counter

    from blockchain_data_engineering_spark.operators.dq import psi_ln_table

    g = 1000
    tab = psi_ln_table(g)
    t_g = tab[g - 1]
    n = len(pairs)
    cell = Counter(pairs)
    am = Counter(a for a, _ in pairs)
    pm = Counter(p for _, p in pairs)
    q = lambda c: (c * g) // n  # noqa: E731
    mi_num = sum(
        q(v) * (tab[q(v) - 1] - tab[q(am[a]) - 1] - tab[q(pm[p]) - 1] + t_g)
        for (a, p), v in cell.items()
        if q(v) > 0
    )
    ha_num = sum(q(v) * (t_g - tab[q(v) - 1]) for v in am.values() if q(v) > 0)
    mi_ref = sum(
        (q(v) / g)
        * (
            math.log(q(v))
            - math.log(q(am[a]))
            - math.log(q(pm[p]))
            + math.log(g)
        )
        for (a, p), v in cell.items()
        if q(v) > 0
    )
    ha_ref = sum(
        (q(v) / g) * (math.log(g) - math.log(q(v)))
        for v in am.values()
        if q(v) > 0
    )
    assert abs(mi_num / (g * 10**12) - mi_ref) < 1e-9
    assert abs(ha_num / (g * 10**12) - ha_ref) < 1e-9
    assert ha_num >= 0  # entropy of quantized shares is term-wise ≥ 0
    # documented slack bound: quantized MI ≥ −k²/G (floors only)
    assert mi_num / (g * 10**12) >= -(len(cell) ** 2) / g
    # bijection → mi == ha == hp exactly at the integer level
    if all(a == p for a, p in cell) and len(am) == len(pm) == len(cell):
        hp_num = sum(
            q(v) * (t_g - tab[q(v) - 1]) for v in pm.values() if q(v) > 0
        )
        assert mi_num == ha_num == hp_num


@given(
    ballots=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),  # unit id
            st.integers(min_value=0, max_value=4),  # ordinal tier
        ),
        min_size=2,
        max_size=160,
    )
)
@settings(max_examples=100, deadline=None)
def test_krippendorff_ordinal_moment_form_matches_textbook(ballots):
    """The ordinal moment form over e_c = 2·cum_c − n_c (r11) vs the
    textbook pairwise double-loop δ²(c,k) = (between-marginal mass −
    endpoint halves)² — the identity that kills the k² category
    cross, checked term-for-term: per-unit m·S2 − S1² over e equals
    2·Σ n_uc·n_uk·(2δ)²/4... i.e. the cleared masses agree and the
    final alphas match to float precision."""
    import math
    from collections import Counter, defaultdict

    mr = 16
    lcm = math.lcm(*range(1, mr))
    units = defaultdict(Counter)
    for u, c in ballots:
        units[u][c] += 1
    kept = {
        u: cnt for u, cnt in units.items() if 2 <= sum(cnt.values()) <= mr
    }
    if not kept:
        return
    margin = Counter()
    for cnt in kept.values():
        margin.update(cnt)
    n = sum(margin.values())
    cum, s = {}, 0
    for c in sorted(margin):
        s += margin[c]
        cum[c] = s
    e = {c: 2 * cum[c] - margin[c] for c in margin}

    def d4(c, k):  # (2δ)² = (e_k − e_c)²
        return (e[k] - e[c]) ** 2

    # moment identity per unit: Σ_{c≠k} n_uc·n_uk·(e_c−e_k)²
    #   == 2·(m·S2 − S1²)
    u_int = 0
    for cnt in kept.values():
        m = sum(cnt.values())
        s1 = sum(v * e[c] for c, v in cnt.items())
        s2 = sum(v * e[c] * e[c] for c, v in cnt.items())
        pairwise = sum(
            cnt[c] * cnt[k] * d4(c, k) for c in cnt for k in cnt if c != k
        )
        assert pairwise == 2 * (m * s2 - s1 * s1)
        u_int += (m * s2 - s1 * s1) * (lcm // (m - 1))
    t1 = sum(margin[c] * e[c] for c in margin)
    t2 = sum(margin[c] * e[c] * e[c] for c in margin)
    assert 2 * (n * t2 - t1 * t1) == sum(
        margin[c] * margin[k] * d4(c, k)
        for c in margin
        for k in margin
        if c != k
    )
    de_int = (n * t2 - t1 * t1) * lcm
    if de_int == 0:
        return
    alpha_int = (de_int - (n - 1) * u_int) / de_int
    # textbook float form over δ² (the /4 cancels between D_o and D_e)
    do = sum(
        sum(
            cnt[c] * cnt[k] * d4(c, k) / 4
            for c in cnt
            for k in cnt
            if c != k
        )
        / (sum(cnt.values()) - 1)
        for cnt in kept.values()
    ) / n
    de = sum(
        margin[c] * margin[k] * d4(c, k) / 4
        for c in margin
        for k in margin
        if c != k
    ) / (n * (n - 1))
    assert abs(alpha_int - (1 - do / de)) < 1e-9
    assert alpha_int <= 1.0 + 1e-12


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=2,
        max_size=250,
    )
)
@settings(max_examples=100, deadline=None)
def test_adjusted_rand_cleared_integers_match_textbook(pairs):
    """The cleared-binomial ARI integers (r11): C(x,2) via the exact
    flooring div, ari = (2TS − 2AB)/(T(A+B) − 2AB) — must match the
    float Hubert-Arabie form wherever that is defined, equal 1 on
    identical partitions, and stay ≤ 1 always."""
    from collections import Counter

    cell = Counter(pairs)
    am = Counter(a for a, _ in pairs)
    pm = Counter(p for _, p in pairs)
    n = len(pairs)
    c2 = lambda x: (x * (x - 1)) // 2  # noqa: E731
    s = sum(c2(v) for v in cell.values())
    a = sum(c2(v) for v in am.values())
    b = sum(c2(v) for v in pm.values())
    t = c2(n)
    num = 2 * t * s - 2 * a * b
    den = t * (a + b) - 2 * a * b
    if den == 0:
        return
    ari_int = num / den
    ari_ref = (s - a * b / t) / (0.5 * (a + b) - a * b / t)
    assert abs(ari_int - ari_ref) < 1e-9
    assert ari_int <= 1.0 + 1e-12
    # identical partitions (relabeled): simulate by comparing the
    # actual labels with themselves
    s2 = sum(c2(v) for v in am.values())
    num2 = 2 * t * s2 - 2 * a * a
    den2 = t * (a + a) - 2 * a * a
    if den2 != 0:
        assert num2 == den2  # ARI == 1 exactly at the integer level
    # rand index bounds
    ri = (t + 2 * s - a - b) / t
    assert -1e-12 <= ri <= 1.0 + 1e-12


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=250,
    )
)
@settings(max_examples=100, deadline=None)
def test_class_report_integers_match_textbook(pairs):
    """The per-class report integers (r11 batch 3): tp/fp/fn/support
    reconstruct the confusion exactly, precision/recall/F1 match the
    sklearn formulas, and the floor-quantized f1_num loses < 1 quantum
    per class — so the macro mean the scalar gate sums is within
    |classes|/10^9 of the float macro-F1."""
    from collections import Counter

    cell = Counter(pairs)
    am = Counter(a for a, _ in pairs)
    pm = Counter(p for _, p in pairs)
    scale = 10**9
    f1_nums = []
    for c in sorted(am):
        tp = cell.get((c, c), 0)
        support = am[c]
        pred_total = pm.get(c, 0)
        fp = pred_total - tp
        fn = support - tp
        assert fp >= 0 and fn >= 0 and tp + fn == support
        f1_float = 2 * tp / (support + pred_total)
        f1q = (2 * tp * scale) // (support + pred_total)
        f1_nums.append(f1q)
        assert 0 <= f1_float - f1q / scale < 1 / scale
        if pred_total:
            prec = tp / pred_total
            rec = tp / support
            if prec + rec:
                assert abs(f1_float - 2 * prec * rec / (prec + rec)) < 1e-12
    macro_float = sum(2 * cell.get((c, c), 0) / (am[c] + pm.get(c, 0))
                      for c in am) / len(am)
    assert abs(sum(f1_nums) / (len(am) * scale) - macro_float) < len(am) / scale


@given(
    ballots=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=4), min_size=2, max_size=5
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=100, deadline=None)
def test_krippendorff_per_unit_du_matches_pair_sums(ballots):
    """The explain reader's per-unit mass D_u (r11 batch 3) equals the
    explicit pair sums it compresses: nominal m² − Σn_c² = the count
    of ORDERED rating pairs that disagree; interval 2·(m·S2 − S1²) =
    Σ over ordered pairs of the squared value distance. So the
    drill-down's `disagreement` column is exactly the per-pair
    average the docstring claims."""
    for votes in ballots:
        m = len(votes)
        from collections import Counter

        cnt = Counter(votes)
        du_nom = m * m - sum(v * v for v in cnt.values())
        explicit_nom = sum(
            1
            for i in range(m)
            for j in range(m)
            if i != j and votes[i] != votes[j]
        )
        assert du_nom == explicit_nom
        s1 = sum(votes)
        s2 = sum(v * v for v in votes)
        du_int = m * s2 - s1 * s1
        explicit_int = sum(
            (votes[i] - votes[j]) ** 2 for i in range(m) for j in range(m)
        )
        assert 2 * du_int == explicit_int


@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=0, max_value=60)),
        min_size=1,
        max_size=300,
    ),
    n_bins=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=100, deadline=None)
def test_ece_adaptive_rank_bins_match_textbook(rows, n_bins):
    """The adaptive-ECE integers (r11 batch 4): rank-div bin edges at
    the distinct-score grain — ties never split, the integer numerator
    equals the float weighted |acc − conf| sum over those bins, and
    with all-distinct scores the bin sizes are floor-balanced
    (⌊n/B⌋ or ⌈n/B⌉)."""
    from collections import defaultdict

    s_max = 60
    per = defaultdict(lambda: [0, 0, 0])
    for y, s in rows:
        per[s][0] += 1
        per[s][1] += 1 if y else 0
        per[s][2] += s
    n = len(rows)
    cum = 0
    bins = defaultdict(lambda: [0, 0, 0])
    score_bin = {}
    for s in sorted(per):
        cnt, pos, ssum = per[s]
        b = cum * n_bins // n
        score_bin[s] = b
        bins[b][0] += cnt
        bins[b][1] += pos
        bins[b][2] += ssum
        cum += cnt
    # integer numerator == float weighted |acc − conf| over the bins
    num = sum(abs(s_max * pos - ssum) for _, pos, ssum in bins.values())
    ref = sum(
        (nb / n) * abs(pos / nb - ssum / (nb * s_max))
        for nb, pos, ssum in bins.values()
    )
    assert abs(num / (n * s_max) - ref) < 1e-12
    # monotone: a higher score never lands in a lower bin
    ss = sorted(score_bin)
    assert all(
        score_bin[a] <= score_bin[b] for a, b in zip(ss, ss[1:])
    )
    # all-distinct fixture: floor-balanced bin sizes
    if all(v[0] == 1 for v in per.values()):
        sizes = [nb for nb, _, _ in bins.values()]
        assert all(n // n_bins <= sz <= n // n_bins + 1 for sz in sizes)
