"""``chain_sync`` Python Data Source (SURVEY §7.3's "optional
DataSource for live Ogmios replay", built on Spark 4's Python Data
Source API): the chain-sync protocol surfaced as a registrable format,
so the reference's streamer (src/cardano_streamer/main.py:29-52)
becomes

    spark.dataSource.register(ChainSyncDataSource)
    spark.read.format("chain_sync")
         .option("host", h).option("port", p)
         .load()                      # batch: sync to tip
    spark.readStream.format("chain_sync")...load()   # micro-batches

The conversation runs over a websocket, the one transport Ogmios
serves (``streaming.chain_sync.ChainSyncClient``). Rows are
``(value string, seq long)``: the NDJSON block document plus
the cumulative roll index (the stream-offset counter), so every
downstream parse stage is source-agnostic on ``value``. Backward
rolls (reorgs) surface as rollback MARKER rows
(``streaming.rollback.rollback_marker_line``), the same format the
NDJSON landing path uses, so one reorg-aware consumer serves both
sources — the landing path recovers roll order from part-file numbers
(``rollback.file_seq``), while rows from this source carry it in the
``seq`` column (pass ``seq_col="seq"`` to
``rollback.rollback_aware_upsert``; ``input_file_name`` is empty for
Python-datasource rows, so the file-derived default cannot apply).

Scale posture (documented, deliberate): a chain is a SINGLE ordered
upstream conversation, so the batch reader exposes one input
partition and the stream reader is a :class:`SimpleDataSourceStreamReader`
(driver-side reads, like the built-in rate/socket dev sources — but
unlike the socket source it is offset-tracked and replayable). The
production-scale path remains ChainSyncProducer → NDJSON landing dir →
file stream (partitioned, checkpointed); this source is the
zero-landing-zone dev/replay tap. Offsets are cumulative ROLL counts
(forward blocks + rollback markers, so replay reproduces reorgs
exactly); ``readBetweenOffsets`` re-syncs a fresh conversation and
skips to the start offset (``ChainSyncClient.skip``: the mock node
replays from genesis on each conversation; a real Ogmios deployment
would pass the actual intersection point).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


class ChainSyncDataSource(DataSource):
    """Options: ``host`` (required), ``port`` (required),
    ``start_point`` (default ``origin``), ``max_blocks`` (batch cap,
    default unlimited), ``batch_size`` (stream blocks per micro-batch, default 10 — the
    reference's micro-batch sizing knob)."""

    @classmethod
    def name(cls) -> str:
        return "chain_sync"

    def schema(self) -> str:
        # seq = the cumulative roll index (same counter the stream
        # offsets use). The NDJSON landing path encodes roll order in
        # part-file numbers (rollback.file_seq); rows from this source
        # have no landing file, so they carry the order EXPLICITLY —
        # pass seq_col="seq" to rollback.rollback_aware_upsert.
        return "value string, seq long"

    def reader(self, schema: StructType) -> "ChainSyncBatchReader":
        return ChainSyncBatchReader(dict(self.options))

    def simpleStreamReader(
        self, schema: StructType
    ) -> "ChainSyncSimpleStreamReader":
        return ChainSyncSimpleStreamReader(dict(self.options))


def _next_row(client) -> str | None:
    """One emitted row per roll: the block document for forward rolls,
    a rollback marker line for backward rolls, ``None`` at tip."""
    from blockchain_data_engineering_spark.streaming.rollback import (
        rollback_marker_line,
    )

    direction, payload = client.next_roll()
    if direction == "forward":
        return payload
    if direction == "backward":
        return rollback_marker_line(payload)
    return None


def _connect(opts: dict, skip: int):
    """A connected client positioned after the first ``skip`` rolls."""
    from blockchain_data_engineering_spark.streaming.chain_sync import (
        ChainSyncClient,
    )

    client = ChainSyncClient(
        opts["host"], int(opts["port"]), opts.get("start_point", "origin")
    ).connect()
    client.skip(skip)
    return client


class ChainSyncBatchReader(DataSourceReader):
    def __init__(self, opts: dict):
        self._opts = opts

    def partitions(self) -> list[InputPartition]:
        # one ordered upstream conversation ⇒ one partition (the chain
        # protocol itself is sequential; parallelism starts at the
        # downstream explode/join stages)
        return [InputPartition(0)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        cap = int(self._opts.get("max_blocks", 2**62))
        client = _connect(self._opts, 0)
        try:
            n = 0
            while n < cap:
                row = _next_row(client)
                if row is None:
                    break
                yield (row, n)
                n += 1
        finally:
            client.close()


class ChainSyncSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, opts: dict):
        self._opts = opts
        self._client = None
        self._pos = 0

    def initialOffset(self) -> dict:
        return {"n": 0}

    def _ensure(self, start: int) -> None:
        if self._client is None or start != self._pos:
            if self._client is not None:
                self._client.close()
            self._client = _connect(self._opts, skip=start)
            self._pos = start

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        self._ensure(start["n"])
        batch_size = int(self._opts.get("batch_size", 10))
        rows: list[tuple] = []
        while len(rows) < batch_size:
            row = _next_row(self._client)
            if row is None:
                break
            rows.append((row, start["n"] + len(rows)))
        self._pos = start["n"] + len(rows)
        return iter(rows), {"n": self._pos}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay a committed range after restart: fresh conversation,
        # skip to start, read exactly end-start rolls
        want = end["n"] - start["n"]
        client = _connect(self._opts, skip=start["n"])
        try:
            rows = [
                (b, start["n"] + i)
                for i, b in enumerate(
                    _next_row(client) for _ in range(want)
                )
                if b is not None
            ]
        finally:
            client.close()
        if len(rows) < want:
            # a committed micro-batch range that can no longer be
            # replayed in full is an exactly-once violation — fail the
            # query loudly rather than silently dropping rows
            raise ConnectionError(
                f"chain-sync replay gap: offsets [{start['n']}, {end['n']}) "
                f"yielded {len(rows)}/{want} blocks"
            )
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        """Close the persistent conversation. NOTE: Spark's
        _SimpleStreamReaderWrapper does not delegate the engine's
        stop() to simple readers (verified against the pyspark 4.1
        source), so a stopped query leaves this driver-side socket to
        the process teardown; hosts embedding the reader directly (or
        tests) should call this explicitly after q.stop()."""
        if self._client is not None:
            self._client.close()
            self._client = None
