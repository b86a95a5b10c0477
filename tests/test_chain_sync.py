"""S1 end-to-end: mock chain-sync node → producer (findIntersection /
nextBlock loop, the reference's src/cardano_streamer/main.py:40-52
semantics) → NDJSON landing dir → streaming volumes+transfers pipeline
— and the streamed result must equal the one-shot batch computation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blockchain_data_engineering_spark.domain import blocks as B
from blockchain_data_engineering_spark.domain import netflow as N
from blockchain_data_engineering_spark.domain import utxo as U
from blockchain_data_engineering_spark.domain import volumes as V
from blockchain_data_engineering_spark.domain.schema import (
    DECIMALS_SCHEMA,
    PRICE_SCHEMA,
)
from blockchain_data_engineering_spark.domain.synthetic import generate_chain
from blockchain_data_engineering_spark.streaming import sources as SRC
from blockchain_data_engineering_spark.streaming.chain_sync import (
    ChainSyncProducer,
    MockChainSyncNode,
)
from blockchain_data_engineering_spark.streaming.pipeline import (
    parquet_append_sink,
    run_vol_transfers_pipeline,
)


@pytest.fixture(scope="module")
def chain():
    return generate_chain(n_blocks=24, seed=11)


# the id names the transport: genuine RFC-6455 websocket frames, what
# real Ogmios serves (reference src/cardano_streamer/main.py:29-32)
@pytest.mark.parametrize("rotate_every", [pytest.param(7, id="ws")])
def test_producer_lands_all_blocks(chain, tmp_path, rotate_every):
    node = MockChainSyncNode(chain.lines).start()
    out = str(tmp_path / "landing")
    n = ChainSyncProducer(
        node.host, node.port, out, rotate_every=rotate_every
    ).run()
    node.close()
    assert n == len(chain.lines)
    import glob

    lines = []
    for f in sorted(glob.glob(out + "/part-*.ndjson")):
        lines += [ln for ln in open(f).read().splitlines() if ln]
    assert lines == chain.lines  # order- and content-exact replay


def test_producer_numbers_files_past_five_digits(chain, tmp_path):
    """The next file index follows the largest landed one even past
    part-99999: reading only five digits would take part-100000 for
    10000 and overwrite it, and the file source never re-reads a name
    it has seen, so those blocks would vanish."""
    out = tmp_path / "landing"
    out.mkdir()
    (out / "part-99999.ndjson").write_text(chain.lines[0] + "\n")
    (out / "part-100000.ndjson").write_text(chain.lines[1] + "\n")
    node = MockChainSyncNode(chain.lines).start()
    n = ChainSyncProducer(node.host, node.port, str(out), rotate_every=10).run()
    node.close()
    assert n == len(chain.lines)
    assert (out / "part-99999.ndjson").read_text() == chain.lines[0] + "\n"
    assert (out / "part-100000.ndjson").read_text() == chain.lines[1] + "\n"
    new = sorted(
        (int(p.name[5:-7]), p.read_text().splitlines())
        for p in out.glob("part-*.ndjson")
        if p.name not in ("part-99999.ndjson", "part-100000.ndjson")
    )
    assert [i for i, _ in new] == [100001, 100002, 100003]
    assert sum((lines for _, lines in new), []) == chain.lines


def test_ws_accept_key_rfc_vector():
    # RFC 6455 §1.3 worked example
    from blockchain_data_engineering_spark.streaming.ws import accept_key

    assert (
        accept_key("dGhlIHNhbXBsZSBub25jZQ==")
        == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


def test_ws_framing_roundtrip_fragmentation_ping_and_lengths():
    """Frame-level contract over a loopback socketpair: masked client
    frames decode on the server side, 16-bit and 64-bit payload-length
    encodings round-trip, fragmented messages reassemble, and a ping
    inside a message stream is answered without surfacing to the
    caller."""
    import socket as _socket
    import struct

    from blockchain_data_engineering_spark.streaming.ws import (
        WebSocketConnection,
    )

    a, b = _socket.socketpair()
    client = WebSocketConnection(a, mask=True)
    server = WebSocketConnection(b, mask=False)

    client.send_text("hello")  # 7-bit length, masked
    assert server.recv_text() == "hello"

    big = "x" * 70_000  # 64-bit length path
    server.send_text(big)
    assert client.recv_text() == big

    mid = "y" * 500  # 16-bit length path
    client.send_text(mid)
    assert server.recv_text() == mid

    # fragmented message with an interleaved ping: TEXT(fin=0) PING
    # CONT(fin=1) — recv_text must answer the ping and return the
    # reassembled text (frames built manually for fin control)
    def raw(fin, opcode, payload):
        h = bytearray([(0x80 if fin else 0) | opcode, len(payload)])
        b.sendall(bytes(h) + payload)

    raw(0, 0x1, b"part1-")
    raw(1, 0x9, b"ping!")  # ping mid-message
    raw(0x1, 0x0, b"part2")
    assert client.recv_text() == "part1-part2"
    # the pong came back masked to the server side
    op, fin, payload = server._read_frame()
    assert op == 0xA and payload == b"ping!"

    # close handshake: server closes, client recv returns None and
    # echoes close
    server._send_frame(0x8, struct.pack("!H", 1000))
    assert client.recv_text() is None
    a.close()
    b.close()


def test_ws_protocol_violations_raise_loudly():
    """RFC 6455 violations must fail the stream, not silently truncate
    or corrupt it: BINARY data frames (§5.6 — chain-sync is text-only),
    a new TEXT frame interleaved mid-fragment (§5.4), a declared frame
    length over the cap (buffered-before-validation DoS), and a
    fragmented reassembly that crosses the cap frame-by-frame."""
    import socket as _socket

    from blockchain_data_engineering_spark.streaming.ws import (
        WebSocketConnection,
        WsProtocolError,
    )

    def pair(**kw):
        a, b = _socket.socketpair()
        return (
            WebSocketConnection(a, mask=True, **kw),
            WebSocketConnection(b, mask=False, **kw),
            a,
            b,
        )

    def raw(sock, fin, opcode, payload):
        h = bytearray([(0x80 if fin else 0) | opcode, len(payload)])
        sock.sendall(bytes(h) + payload)

    # BINARY frame
    client, server, a, b = pair()
    server._send_frame(0x2, b"\xff\xfe")
    with pytest.raises(WsProtocolError, match="BINARY"):
        client.recv_text()
    a.close(), b.close()

    # TEXT frame while a fragmented message is open
    client, server, a, b = pair()
    raw(b, 0, 0x1, b"part1-")
    raw(b, 1, 0x1, b"fresh")
    with pytest.raises(WsProtocolError, match="interleaved"):
        client.recv_text()
    a.close(), b.close()

    # declared length over the cap: rejected before buffering
    client, server, a, b = pair(max_message_bytes=64)
    server.send_text("x" * 100)
    with pytest.raises(WsProtocolError, match="exceeds cap"):
        client.recv_text()
    a.close(), b.close()

    # reassembled fragments over the cap (each frame individually fine)
    client, server, a, b = pair(max_message_bytes=64)
    raw(b, 0, 0x1, b"y" * 50)
    raw(b, 1, 0x0, b"y" * 50)
    with pytest.raises(WsProtocolError, match="fragmented"):
        client.recv_text()
    a.close(), b.close()


def test_chain_sync_to_pipeline_matches_batch(spark, chain, tmp_path):
    # live path: node → producer → NDJSON dir
    node = MockChainSyncNode(chain.lines).start()
    landing = str(tmp_path / "landing")
    n = ChainSyncProducer(node.host, node.port, landing, rotate_every=6).run()
    node.close()
    assert n == len(chain.lines)

    prices = spark.createDataFrame(chain.prices, PRICE_SCHEMA)
    decimals = spark.createDataFrame(chain.decimals, DECIMALS_SCHEMA)
    dim = V.price_dim(prices, decimals)

    lines_df = spark.createDataFrame([(ln,) for ln in chain.lines], ["value"])
    history = B.tx_outputs_table(B.parse_block_lines(lines_df))

    vol_path, tr_path = str(tmp_path / "vol"), str(tmp_path / "tr")
    q = run_vol_transfers_pipeline(
        SRC.ndjson_file_stream(spark, landing, max_files_per_trigger=1),
        dim,
        history,
        parquet_append_sink(vol_path),
        parquet_append_sink(tr_path),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    streamed = {
        (r.hash, r.unit): r.value_adj
        for r in spark.read.parquet(vol_path).collect()
    }

    parsed = B.parse_block_lines(lines_df)
    outputs = B.tx_outputs_table(parsed)
    t = N.transacted(
        U.input_units(U.resolve_inputs(B.tx_inputs_table(parsed), outputs)),
        B.output_units(outputs).drop("output_index"),
    )
    coords = parsed.select(
        F.explode("transactions.id").alias("hash"), "height", "slot"
    )
    batch = {
        (r.hash, r.unit): r.value_adj
        for r in V.volumes(t, dim, blocks_coords=coords).collect()
    }
    # identical keys; values equal up to float summation order (the
    # per-(hash, unit) sum of double value_adj legs is partitioning-
    # dependent in the last bits — same bound as test_streaming)
    assert set(streamed) == set(batch)
    for k, v in batch.items():
        assert streamed[k] == pytest.approx(v, rel=1e-12), k
    assert spark.read.parquet(tr_path).count() > 0


def test_chain_sync_datasource_batch(spark, chain):
    """S1 as a registrable Spark format: batch read syncs to tip over
    genuine ws frames and yields the exact block documents in order."""
    from blockchain_data_engineering_spark.streaming.datasource import (
        ChainSyncDataSource,
    )

    spark.dataSource.register(ChainSyncDataSource)
    node = MockChainSyncNode(chain.lines).start()
    df = (
        spark.read.format("chain_sync")
        .option("host", node.host)
        .option("port", node.port)
        .load()
    )
    vals = [r["value"] for r in df.collect()]
    node.close()
    assert vals == chain.lines


def test_chain_sync_datasource_stream(spark, chain, tmp_path):
    """Streaming variant: micro-batches of batch_size blocks, offsets
    tracked by the checkpoint, every block delivered exactly once."""
    import time as _t

    from blockchain_data_engineering_spark.streaming.datasource import (
        ChainSyncDataSource,
    )

    spark.dataSource.register(ChainSyncDataSource)
    node = MockChainSyncNode(chain.lines).start()
    df = (
        spark.readStream.format("chain_sync")
        .option("host", node.host)
        .option("port", node.port)
        .option("batch_size", 7)
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = _t.time() + 120
        while _t.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= len(chain.lines):
                    break
            except Exception:
                pass
            _t.sleep(1)
        got = sorted(r["value"] for r in spark.read.parquet(out).collect())
    finally:
        q.stop()
        node.close()
    assert got == sorted(chain.lines)


def test_chain_sync_datasource_restart_replay(chain):
    """The recovery contract behind the offset-tracked claim: after a
    restart, readBetweenOffsets must re-deliver exactly the committed
    range, and read() must resume AFTER it — byte-identical to the
    first delivery. Exercised reader-level (no Spark session needed)
    against a node serving multiple sequential conversations."""
    from blockchain_data_engineering_spark.streaming.datasource import (
        ChainSyncSimpleStreamReader,
    )

    node = MockChainSyncNode(chain.lines, max_conns=3).start()
    opts = {"host": node.host, "port": str(node.port), "batch_size": "7"}
    r1 = ChainSyncSimpleStreamReader(opts)
    it, end = r1.read(r1.initialOffset())
    first = [t[0] for t in it]
    assert first == chain.lines[:7] and end == {"n": 7}
    r1.stop()  # "crash": the conversation dies with the reader

    # restart: a fresh reader replays the uncommitted range, then
    # continues from its end
    r2 = ChainSyncSimpleStreamReader(opts)
    replay = [t[0] for t in r2.readBetweenOffsets({"n": 0}, {"n": 7})]
    assert replay == first
    it2, end2 = r2.read({"n": 7})
    assert [t[0] for t in it2] == chain.lines[7:14] and end2 == {"n": 14}
    r2.stop()
    node.close()


def test_chain_sync_replay_gap_raises(chain):
    """A committed range that can no longer be replayed in full is an
    exactly-once violation — readBetweenOffsets must raise, not return
    a silently short batch."""
    from blockchain_data_engineering_spark.streaming.datasource import (
        ChainSyncSimpleStreamReader,
    )

    node = MockChainSyncNode(chain.lines, max_conns=2).start()
    opts = {"host": node.host, "port": str(node.port)}
    r = ChainSyncSimpleStreamReader(opts)
    # in-range replay still works …
    ok = [t[0] for t in r.readBetweenOffsets({"n": 0}, {"n": 5})]
    assert ok == chain.lines[:5]
    # … but a range past the chain tip fails loudly
    with pytest.raises(ConnectionError, match="replay gap"):
        r.readBetweenOffsets({"n": 0}, {"n": len(chain.lines) + 5})
    node.close()


def test_producer_resume_continues_without_duplicates(spark, tmp_path):
    """A producer RESTART with resume=True continues from the landing
    dir's own roll position: no line lands twice, file numbering stays
    monotone, and the concatenation equals the full chain exactly —
    including when the resumed stretch contains the reorg marker."""
    import glob

    chain = generate_chain(n_blocks=10, seed=9)
    anchor = chain.blocks[5]["py/state"]
    fork = generate_chain(
        n_blocks=3,
        seed=23,
        start_height=anchor["height"] + 1,
        start_slot=anchor["slot"] + 7,
    )
    reorg = {
        "after": 10,
        "point": {"slot": anchor["slot"], "id": anchor["id"]},
        "blocks": fork.lines,
    }
    out = str(tmp_path / "landing")

    # run 1: stop after 4 blocks (producer crash mid-chain)
    node = MockChainSyncNode(chain.lines, reorg=reorg, max_conns=2).start()
    n1 = ChainSyncProducer(
        node.host, node.port, out, rotate_every=3, emit_rollbacks=True
    ).run(max_blocks=4)
    assert n1 == 4
    # run 2: resume to tip over a fresh conversation
    n2 = ChainSyncProducer(
        node.host, node.port, out, rotate_every=3, emit_rollbacks=True
    ).run(resume=True)
    node.close()
    assert n1 + n2 == 13  # 10 chain-A + 3 fork blocks, no block twice

    landed = []
    for f in sorted(glob.glob(out + "/part-*.ndjson")):
        landed += [ln for ln in open(f).read().splitlines() if ln]
    from blockchain_data_engineering_spark.streaming.rollback import (
        ROLLBACK_KEY,
    )

    markers = [ln for ln in landed if ROLLBACK_KEY in ln]
    assert len(markers) == 1
    blocks = [ln for ln in landed if ROLLBACK_KEY not in ln]
    assert blocks == chain.lines + fork.lines  # order kept, no dupes
