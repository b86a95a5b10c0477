"""End-to-end domain pipeline test: synthetic block stream → parse →
normalize → UTxO-join resolution → net flows → volumes → transfers →
rollups, checked against an independent pure-Python oracle that
implements the reference semantics directly
(/root/reference/src/etl_vol_transfers/main.py:96-167 kernels).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain import blocks as B
from blockchain_data_engineering_spark.domain import netflow as N
from blockchain_data_engineering_spark.domain import transfers as TR
from blockchain_data_engineering_spark.domain import utxo as U
from blockchain_data_engineering_spark.domain import volumes as V
from blockchain_data_engineering_spark.domain.schema import DECIMALS_SCHEMA, PRICE_SCHEMA
from blockchain_data_engineering_spark.domain.synthetic import generate_chain

LOVELACE = "lovelace"


@pytest.fixture(scope="module")
def chain():
    return generate_chain(n_blocks=40, seed=42)


@pytest.fixture(scope="module")
def parsed(spark, chain):
    lines = spark.createDataFrame([(line,) for line in chain.lines], ["value"])
    return B.parse_block_lines(lines).cache()


# ---------------------------------------------------------------- oracle ---
def oracle_transacted(chain):
    """Reference U2 semantics in pure Python."""
    net = {}  # (tx, addr, unit) -> produced - consumed
    for tx_hash, refs in chain.tx_inputs.items():
        consumed = {}
        for ref in refs:
            if ref in chain.outputs:  # unresolvable refs drop (inner join)
                out = chain.outputs[ref]
                for unit, q in out["value"].items():
                    k = (out["address"], unit)
                    consumed[k] = consumed.get(k, 0) + q
        produced = {}
        for (oth, oi), out in chain.outputs.items():
            if oth != tx_hash:
                continue
            for unit, q in out["value"].items():
                k = (out["address"], unit)
                produced[k] = produced.get(k, 0) + q
        for k in set(consumed) | set(produced):
            v = produced.get(k, 0) - consumed.get(k, 0)
            if v != 0:
                net[(tx_hash,) + k] = v
    return net


def oracle_adjusted(chain, unit, value):
    """Reference U3 get_adjusted_price semantics in pure Python."""
    if unit == LOVELACE:
        return value / 1e6
    prices = {p["unit"]: p["last_price_ada"] for p in chain.prices}
    decs = {d["unit"]: d["decimals"] for d in chain.decimals}
    if unit in prices:
        d = decs.get(unit)
        scaled = value / 10.0**d if d else float(value)
        return scaled * prices[unit]
    return 0.0


# ----------------------------------------------------------------- tests ---
def test_parse_and_normalize_deterministic_keys(parsed, chain):
    blocks_t = B.blocks_table(parsed)
    tx_t = B.tx_table(parsed)
    n_txs = sum(len(b["py/state"]["transactions"]) for b in chain.blocks)
    assert blocks_t.count() == len(chain.blocks)
    assert tx_t.count() == n_txs
    # H1 fix: child FK matches parent PK across independent actions
    orphans = tx_t.join(blocks_t, "block_id", "left_anti").count()
    assert orphans == 0
    # recompute → identical ids (uuid() would differ per action)
    ids1 = {r.tx_id for r in tx_t.collect()}
    ids2 = {r.tx_id for r in B.tx_table(parsed).collect()}
    assert ids1 == ids2


def test_output_value_map_parses_natively(parsed, chain):
    outs = B.tx_outputs_table(parsed)
    units = B.output_units(outs)
    got = {
        ((r.tx_hash, r.output_index), r.unit): r.quantity for r in units.collect()
    }
    want = {
        (ref, unit): q
        for ref, out in chain.outputs.items()
        for unit, q in out["value"].items()
    }
    assert got == want  # includes the adalovelace→lovelace rewrite


def test_utxo_resolution_joins_not_rest(parsed, chain):
    inputs = B.tx_inputs_table(parsed)
    outputs = B.tx_outputs_table(parsed)
    resolved = U.resolve_inputs(inputs, outputs, how="inner")
    n_resolvable = sum(
        1
        for refs in chain.tx_inputs.values()
        for ref in refs
        if ref in chain.outputs
    )
    assert resolved.count() == n_resolvable
    # left keeps dangling refs with null payloads
    left = U.resolve_inputs(inputs, outputs, how="left")
    n_refs = sum(len(refs) for refs in chain.tx_inputs.values())
    assert left.count() == n_refs
    assert left.where(F.col("address").isNull()).count() == n_refs - n_resolvable


def test_resolve_in_batch_equals_batch_join_plus_anti_join(spark):
    """The hit-flag split resolves the same rows as the batch join plus
    the history join of the anti-join remainder, duplicate keys
    included: a duplicated input, a batch output landed twice, and a
    history that also holds the batch's own outputs."""
    inputs = spark.createDataFrame(
        [
            ("i1", "t9", "T9", "A", 0),
            ("i1", "t9", "T9", "A", 0),  # delivered twice
            ("i2", "t9", "T9", "B", 1),  # batch output present twice
            ("i3", "t9", "T9", "H", 0),  # history only
            ("i4", "t9", "T9", "Z", 0),  # unresolvable
        ],
        "input_id string, tx_id string, tx_hash string, "
        "spent_tx_hash string, spent_output_index long",
    )
    batch = spark.createDataFrame(
        [("A", 0, "a", "va"), ("B", 1, "b", "vb"), ("B", 1, "b2", "vb2")],
        "tx_hash string, output_index long, address string, value string",
    )
    history = batch.unionByName(
        spark.createDataFrame([("H", 0, "h", "vh")], batch.schema)
    )
    keys = ["spent_tx_hash", "spent_output_index"]
    remaining = inputs.join(
        batch.select(
            F.col("tx_hash").alias(keys[0]), F.col("output_index").alias(keys[1])
        ),
        keys,
        "left_anti",
    )
    want = U.resolve_inputs(inputs, batch).unionByName(
        U.resolve_inputs(remaining, history)
    )
    hits, misses = U.resolve_in_batch(inputs, batch)
    assert misses.columns == inputs.columns
    got = hits.unionByName(U.resolve_inputs(misses, history))
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 5  # A twice, B's two outputs, H


def test_netflow_matches_reference_semantics(parsed, chain):
    inputs = B.tx_inputs_table(parsed)
    outputs = B.tx_outputs_table(parsed)
    iu = U.input_units(U.resolve_inputs(inputs, outputs))
    ou = B.output_units(outputs).drop("output_index")
    t = N.transacted(iu, ou)
    got = {(r.tx_hash, r.address, r.unit): r.value for r in t.collect()}
    assert got == oracle_transacted(chain)


def test_volumes_and_rollups(spark, parsed, chain):
    inputs = B.tx_inputs_table(parsed)
    outputs = B.tx_outputs_table(parsed)
    t = N.transacted(
        U.input_units(U.resolve_inputs(inputs, outputs)),
        B.output_units(outputs).drop("output_index"),
    )
    prices = spark.createDataFrame(chain.prices, PRICE_SCHEMA)
    decimals = spark.createDataFrame(chain.decimals, DECIMALS_SCHEMA)
    dim = V.price_dim(prices, decimals)

    coords = parsed.select(
        F.explode("transactions.id").alias("hash"), "height", "slot"
    )
    vol = V.volumes(t, dim, blocks_coords=coords)
    got = {(r.hash, r.unit): r.value_adj for r in vol.collect()}

    want = {}
    for (tx, addr, unit), v in oracle_transacted(chain).items():
        if v > 0:
            k = (tx, unit)
            want[k] = want.get(k, 0.0) + oracle_adjusted(chain, unit, v)
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-12), k

    # rollups: nonzero filter + ÷1e6, grouped by (unit, height)
    vbb = V.vol_by_block(vol)
    assert vbb.where(F.col("value_adj") == 0).count() == 0
    vat = V.vol_all_time(vol)
    assert vat.count() == vat.select("unit").distinct().count()


def test_transfer_edges_cross_join(spark, parsed, chain):
    inputs = B.tx_inputs_table(parsed)
    outputs = B.tx_outputs_table(parsed)
    t = N.transacted(
        U.input_units(U.resolve_inputs(inputs, outputs)),
        B.output_units(outputs).drop("output_index"),
    )
    prices = spark.createDataFrame(chain.prices, PRICE_SCHEMA)
    decimals = spark.createDataFrame(chain.decimals, DECIMALS_SCHEMA)
    edges = TR.transfer_edges(t, V.price_dim(prices, decimals))
    got = {
        (r.tx_hash, r.unit, r.send_addr, r.rx_addr): (r.value, r.value_adj)
        for r in edges.collect()
    }

    net = oracle_transacted(chain)
    want = {}
    for (tx, addr, unit), v in net.items():
        if v <= 0:
            continue
        for (tx2, addr2, unit2), v2 in net.items():
            if tx2 == tx and unit2 == unit and v2 < 0:
                want[(tx, unit, addr2, addr)] = (
                    v,
                    oracle_adjusted(chain, unit, v),
                )
    assert set(got) == set(want)
    for k, (v, va) in want.items():
        assert got[k][0] == v
        assert got[k][1] == pytest.approx(va, rel=1e-12)


def test_netflow_decimal_survives_past_2_63(spark, sf_dir):
    """H7 overflow proof: the registered netflow_decimal query drives
    netflow.transacted with DECIMAL quantities whose per-group totals
    exceed 2^63 — a LongType sum would wrap — and the output must
    contain at least one such value, exactly (no drift)."""
    from blockchain_data_engineering_spark.plans import QUERIES

    rows = QUERIES["netflow_decimal"](spark, sf_dir).collect()
    assert rows, "netflow_decimal returned no rows"
    nets = [int(r.net_raw) for r in rows]
    big = [n for n in nets if abs(n) > 2**63]
    assert big, "no netflow total exceeded 2^63 — overflow path untested"
    # and every value is an exact multiple of the 10^18 scale: integer
    # arithmetic all the way down, no floating intermediate
    assert all(n % 10**18 == 0 for n in nets)


def test_u64_quantity_survives_value_map_parse(spark):
    """A valid on-chain u64 quantity past 2^63 must survive the JSON
    value-map parse: a LongType map value would fail the parse and
    PERMISSIVE mode would null the whole map — silently dropping the
    output from every downstream netflow/volume (the H7 decimal
    contract must start AT THE PARSE, not at the first aggregation)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from blockchain_data_engineering_spark.domain.schema import VALUE_MAP_TYPE

    big = 18_000_000_000_000_000_000  # > 2^63, < 2^64
    raw = spark.createDataFrame(
        [(f'{{"ada":{{"lovelace":{big}}}}}',)], "value STRING"
    )
    parsed = raw.select(F.from_json("value", VALUE_MAP_TYPE).alias("m"))
    row = parsed.select(
        F.col("m")["ada"]["lovelace"].alias("q")
    ).collect()[0]
    assert row["q"] == Decimal(big)
