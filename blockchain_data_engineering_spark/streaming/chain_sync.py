"""Live chain-sync source adapter (SURVEY §2.1 S1).

The reference's streamer (src/cardano_streamer/main.py:34-52) is an
Ogmios chain-sync client over a websocket (main.py:29-32,
``ws://host:1337``): ``find_intersection([start_point])`` once, then a
``next_block`` loop; every ``forward`` roll is serialized to one NDJSON
line and pushed to whatever Spark's socket source has connected.

:class:`ChainSyncProducer` is that client rebuilt for the engine's
canonical source path: it speaks the same two-verb protocol
(``findIntersection`` / ``nextBlock``, Ogmios v6 method names as
JSON-RPC 2.0) and lands each forward block as an NDJSON line in a
directory that :func:`streaming.sources.ndjson_file_stream` tails —
replayable, checkpoint-friendly, and partitioned, unlike the
reference's raw socket push (which remains available via
``sources.socket_stream`` as the dev tap).

Transport: RFC-6455 websocket framing, one JSON-RPC message per text
frame — what real Ogmios serves (client and server framing are the
dependency-free :mod:`streaming.ws`). :class:`MockChainSyncNode` is the
test double for the Ogmios node itself, so the producer is
integration-tested end-to-end over genuine ws frames.
"""

from __future__ import annotations

import json
import socket
import threading

from blockchain_data_engineering_spark.streaming import ws as _ws


class MockChainSyncNode:
    """Ogmios-shaped chain-sync node speaking websocket JSON-RPC.

    Serves ``blocks`` (already-serialized NDJSON block documents) as
    forward rolls after an intersection handshake. One client at a
    time, bounded, deterministic — exactly what an integration test
    needs.
    """

    def __init__(
        self,
        blocks: list[str],
        host: str = "127.0.0.1",
        max_conns: int = 1,
        reorg: dict | None = None,
    ):
        # scripted reorg: after serving reorg["after"] forward rolls,
        # emit ONE backward roll to reorg["point"] ({"slot", "id"} —
        # Ogmios v6 RollBackward shape), then serve reorg["blocks"]
        # (the replacement fork) forward. Every conversation replays
        # the same scripted sequence, so offset replay is exact.
        self._rolls: list[dict] = [
            {"direction": "forward", "block": b} for b in blocks
        ]
        if reorg is not None:
            self._rolls = (
                self._rolls[: reorg["after"]]
                + [{"direction": "backward", "point": reorg["point"]}]
                + [
                    {"direction": "forward", "block": b}
                    for b in reorg["blocks"]
                ]
            )
        # sequential client conversations to serve before closing —
        # each restarts at genesis (the data-source readers skip to
        # their offset; a real Ogmios resumes at the intersection point)
        self.max_conns = max_conns
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, 0))
        self._sock.listen(1)
        self.host, self.port = self._sock.getsockname()
        self._thread: threading.Thread | None = None

    def start(self) -> "MockChainSyncNode":
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()
        return self

    def _respond(self, req: dict, cursor: int) -> tuple[dict, int]:
        """The protocol state machine: one response per request."""
        method = req.get("method")
        if method == "findIntersection":
            points = req.get("params", {}).get("points", [])
            resp = {
                "jsonrpc": "2.0",
                "method": method,
                "result": {"intersection": points[0] if points else "origin"},
                "id": req.get("id"),
            }
        elif method == "nextBlock":
            if cursor < len(self._rolls):
                resp = {
                    "jsonrpc": "2.0",
                    "method": method,
                    "result": dict(self._rolls[cursor]),
                    "id": req.get("id"),
                }
                cursor += 1
            else:
                resp = {
                    "jsonrpc": "2.0",
                    "method": method,
                    "result": {"direction": "tip"},
                    "id": req.get("id"),
                }
        else:
            resp = {
                "jsonrpc": "2.0",
                "error": {"code": -32601, "message": f"unknown {method}"},
                "id": req.get("id"),
            }
        return resp, cursor

    def _serve(self) -> None:
        for _ in range(self.max_conns):
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            cursor = 0
            with conn:
                try:
                    wsc = _ws.server_handshake(conn)
                except ConnectionError:
                    continue
                while (msg := wsc.recv_text()) is not None:
                    resp, cursor = self._respond(json.loads(msg), cursor)
                    wsc.send_text(json.dumps(resp))
        self._sock.close()

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class ChainSyncClient:
    """One chain-sync conversation over a websocket: connect,
    ``findIntersection`` once, then ``next_roll()`` until tip. The
    shared protocol core under :class:`ChainSyncProducer` (NDJSON
    landing) and the registered ``chain_sync`` Spark data source
    (:mod:`streaming.datasource`)."""

    def __init__(self, host: str, port: int, start_point: str = "origin"):
        self.host, self.port = host, port
        self.start_point = start_point
        self._id = 0
        self._sock: socket.socket | None = None
        self._wsc: _ws.WebSocketConnection | None = None

    def connect(self) -> "ChainSyncClient":
        self._sock = socket.create_connection((self.host, self.port))
        self._wsc = _ws.client_handshake(self._sock, self.host, self.port)
        self._rpc("findIntersection", {"points": [self.start_point]})
        return self

    def _rpc(self, method: str, params: dict | None = None) -> dict:
        self._id += 1
        req = {"jsonrpc": "2.0", "method": method, "id": self._id}
        if params:
            req["params"] = params
        self._wsc.send_text(json.dumps(req))
        msg = self._wsc.recv_text()
        if msg is None:
            raise ConnectionError("chain-sync peer closed mid-conversation")
        return json.loads(msg)

    def next_roll(self) -> tuple[str, str | dict | None]:
        """The next chain-sync roll, typed:

        - ``("forward", block_document)`` — the next block,
        - ``("backward", point)`` — a reorg: every block already rolled
          forward with slot > ``point["slot"]`` is orphaned (Ogmios v6
          RollBackward),
        - ``("tip", None)`` — caught up.
        """
        resp = self._rpc("nextBlock")
        result = resp.get("result", {})
        direction = result.get("direction")
        if direction == "forward":
            return "forward", result["block"]
        if direction == "backward":
            return "backward", result.get("point")
        return "tip", None

    def skip(self, n: int) -> None:
        """Consume up to ``n`` rolls, stopping early at tip: a resumed
        reader skips what it already consumed, because the mock node
        (and any replay fixture) restarts each conversation at genesis.
        Against a live Ogmios node, pass the resume point as
        ``start_point`` instead and skip nothing."""
        for _ in range(n):
            if self.next_roll()[0] == "tip":
                return

    def close(self) -> None:
        if self._wsc is not None:
            self._wsc.close()
            self._wsc = None
        if self._sock is not None:
            try:
                self._sock.close()
            except OSError:
                pass
            self._sock = None


class ChainSyncProducer:
    """The reference streamer's find_intersection → next_block loop
    (src/cardano_streamer/main.py:40-52), emitting NDJSON files.

    ``rotate_every`` blocks per file: the file stream source picks up
    each closed file as (part of) a micro-batch, so rotation size is
    the live path's batching knob. The websocket transport matches
    real Ogmios (main.py:29-32).
    """

    def __init__(
        self,
        host: str,
        port: int,
        out_dir: str,
        rotate_every: int = 10,
        emit_rollbacks: bool = False,
    ):
        self.host, self.port, self.out_dir = host, port, out_dir
        self.rotate_every = rotate_every
        # emit_rollbacks=True: on a backward roll, flush pending blocks
        # and land a rollback MARKER line (streaming.rollback format)
        # as its OWN file, then keep syncing the replacement fork. The
        # file stream source tracks files BY NAME and never re-reads
        # them, so landed orphan blocks cannot be retracted here — the
        # marker tells the keyed sinks downstream to undo them
        # (streaming.rollback.rollback_aware_upsert). False preserves
        # the reference's forward-only behavior: stop at the first
        # backward roll (src/cardano_streamer/main.py:42-47).
        self.emit_rollbacks = emit_rollbacks

    def run(
        self,
        start_point: str = "origin",
        max_blocks: int | None = None,
        resume: bool = False,
    ) -> int:
        """Sync until tip (or ``max_blocks`` NEW blocks); returns
        blocks written this run.

        ``resume=True`` makes a producer RESTART continue where the
        last run stopped instead of re-landing the chain from the
        start: every landed line is one roll, so the landing dir
        itself records the protocol position — skip that many rolls
        after connecting. Correct against any upstream that replays
        the same roll sequence per conversation (the mock node, replay
        fixtures); against a live Ogmios node prefer passing the last
        landed block's ``(slot, id)`` as ``start_point`` (the
        protocol's own ``find_intersection``) — cheaper than
        re-streaming, and exact across real forks.
        """
        import os

        os.makedirs(self.out_dir, exist_ok=True)
        n = 0
        pending: list[str] = []
        # resume numbering after any previously landed files: restarting
        # at 0 would overwrite part-00000 onward — and Spark's file
        # stream source tracks seen files BY NAME, so overwritten files
        # are never re-read and the new blocks silently vanish
        existing = [
            f
            for f in os.listdir(self.out_dir)
            if f.startswith("part-") and f.endswith(".ndjson")
        ]
        file_idx = (
            max(int(f[len("part-") : -len(".ndjson")]) for f in existing) + 1
            if existing
            else 0
        )
        landed_rolls = 0
        if resume:
            for fname in existing:
                with open(os.path.join(self.out_dir, fname)) as fh:
                    landed_rolls += sum(1 for ln in fh if ln.strip())

        def flush() -> None:
            nonlocal pending, file_idx
            if not pending:
                return
            # write-then-rename so the tailing file stream never reads
            # a half-written file
            tmp = os.path.join(self.out_dir, f".part-{file_idx:05d}.tmp")
            final = os.path.join(self.out_dir, f"part-{file_idx:05d}.ndjson")
            with open(tmp, "w") as f:
                f.write("\n".join(pending) + "\n")
            os.rename(tmp, final)
            pending = []
            file_idx += 1

        from blockchain_data_engineering_spark.streaming.rollback import (
            rollback_marker_line,
        )

        client = ChainSyncClient(self.host, self.port, start_point).connect()
        try:
            client.skip(landed_rolls)
            while max_blocks is None or n < max_blocks:
                direction, payload = client.next_roll()
                if direction == "tip":
                    break
                if direction == "backward":
                    if not self.emit_rollbacks:
                        break  # reference behavior: forward rolls only
                    # the marker must postdate every already-landed
                    # orphan and predate every fork block — flush, then
                    # give the marker its own file index
                    flush()
                    pending.append(rollback_marker_line(payload))
                    flush()
                    continue
                pending.append(payload)
                n += 1
                if len(pending) >= self.rotate_every:
                    flush()
        finally:
            client.close()
        flush()
        return n
