"""Native Catalyst scalar expressions replacing the reference's in-UDF
Python string/math operations (SURVEY.md §2.7, F1-F12).

Every function here returns a Column, stays inside whole-stage codegen,
and is oracle-checkable in ANSI SQL. None of them touch Python at run
time — the reference computed all of these row-at-a-time inside pickled
UDFs (/root/reference/src/etl_vol_transfers/main.py:89-132).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Cardano shelley era start: unix_time = slot + 1591566291
# (reference: src/cardano_streamer/app.properties:14, README.md:34)
SLOT_EPOCH_OFFSET = 1591566291

# 1 ADA = 10^6 lovelace (reference: src/etl_vol_transfers/main.py:124)
LOVELACE_PER_ADA = 1_000_000


def unit_of(policy: Column | str, name_hex: Column | str) -> Column:
    """Asset unit = policy_hex(56) || asset_name_hex, with the special
    case ``'ada'+'lovelace' → 'lovelace'``.

    Reference: src/etl_vol_transfers/main.py:89-90 (string concat then
    conditional rewrite inside a Python UDF).
    """
    raw = F.concat(F.col(policy) if isinstance(policy, str) else policy,
                   F.col(name_hex) if isinstance(name_hex, str) else name_hex)
    return F.when(raw == F.lit("adalovelace"), F.lit("lovelace")).otherwise(raw)


def normalize_unit(unit: Column | str) -> Column:
    """Rewrite the ``adalovelace`` sentinel to ``lovelace`` (F3)."""
    c = F.col(unit) if isinstance(unit, str) else unit
    return F.when(c == F.lit("adalovelace"), F.lit("lovelace")).otherwise(c)


def lovelace_to_ada(value: Column | str) -> Column:
    """Integer lovelace → ADA double (F5; reference main.py:124)."""
    c = F.col(value) if isinstance(value, str) else value
    return c.cast("double") / F.lit(float(LOVELACE_PER_ADA))


def decimal_scaled(value: Column | str, decimals: Column | str) -> Column:
    """``value / 10**decimals`` with null/zero decimals ⇒ unscaled.

    Reference: get_adjusted_price branches at
    src/etl_vol_transfers/main.py:128-131.
    """
    v = (F.col(value) if isinstance(value, str) else value).cast("double")
    d = F.col(decimals) if isinstance(decimals, str) else decimals
    return F.when(d.isNotNull() & (d > 0), v / F.pow(F.lit(10.0), d.cast("double"))).otherwise(v)


def hex_decode_utf8(hex_col: Column | str) -> Column:
    """Decode a hex string to UTF-8 text (F6), NULL when the bytes are
    not valid UTF-8.

    Reference: ``bytes.fromhex(x[56:]).decode('utf-8')`` in
    src/jupyter/volume_stack_plot.ipynb cell 2. Real asset names are
    arbitrary bytes (CIP-67/68 labels, binary names) and Spark 4's
    ANSI ``decode`` RAISES on malformed input — an unguarded decode
    kills the whole job on the first such name, so validity is
    checked first (callers fall back to the raw hex/short label for
    NULLs).
    """
    c = F.col(hex_col) if isinstance(hex_col, str) else hex_col
    b = F.unhex(c)
    return F.when(F.is_valid_utf8(b), F.decode(b, "UTF-8"))


def asset_display_name(unit: Column | str) -> Column:
    """Hex-decode the asset-name suffix of a unit (chars 57+), with the
    ADA special case passing through unchanged (F6 + F3). Names whose
    bytes are not valid UTF-8 (binary labels) display as the raw hex
    instead of killing the job."""
    c = F.col(unit) if isinstance(unit, str) else unit
    suffix = F.substring(c, 57, 2048)
    return F.when(c == F.lit("lovelace"), F.lit("ADA")).otherwise(
        F.coalesce(hex_decode_utf8(suffix), suffix)
    )


def short_label(s: Column | str, head: int = 5, tail: int = 5) -> Column:
    """``x[:5] + '...' + x[-5:]`` label shortening (F7).

    Reference: volume_stack_plot.ipynb cell 2 / transaction_network_plot
    .ipynb cell 1.
    """
    c = F.col(s) if isinstance(s, str) else s
    return F.when(F.length(c) <= head + tail, c).otherwise(
        F.concat(F.substring(c, 1, head), F.lit("..."),
                 F.substring(c, -tail, tail))
    )


def slot_to_timestamp(slot: Column | str) -> Column:
    """Cardano slot → event timestamp (F12):
    ``timestamp_seconds(slot + 1591566291)``."""
    c = F.col(slot) if isinstance(slot, str) else slot
    return F.timestamp_seconds(c + F.lit(SLOT_EPOCH_OFFSET))


def abs_value(value: Column | str) -> Column:
    """``abs(value)`` for sender legs (F4; reference main.py:163)."""
    c = F.col(value) if isinstance(value, str) else value
    return F.abs(c)


def bounded_window_key(col: Column | str) -> Column:
    """Constant single-partition window key that SURVIVES the
    optimizer: ``pmod(xxhash64(col), 1)`` is 0 for every row but is not
    foldable, so Catalyst keeps the partition spec and WindowExec does
    not fire its global-window warning. (``F.lit(0)`` does NOT work —
    foldable partition expressions are optimized away and the executed
    window reverts to an empty spec, measured on this Spark: the r3
    bench tail's WindowExec warnings all traced to lit(0) keys.)

    Use ONLY over frames already bounded by construction (post-limit,
    post-aggregate): execution is still one partition — the point is
    that bounded single-partition frames are DECLARED in-plan, so any
    WindowExec warning that still fires flags a real unbounded global
    window."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(1))


def deterministic_id(*cols: Column | str) -> Column:
    """Deterministic surrogate key: sha2 over the natural-key columns.

    Replaces the reference's ``expr("uuid()")`` surrogate keys
    (src/etl_blockchain/main.py:36,46,54,62), which are re-evaluated per
    action and corrupt parent/child FKs across the reference's multiple
    write actions (SURVEY §4.3 H1). A content hash is stable across
    recomputation, retries, and restarts — required for exactly-once
    sinks at scale.

    NULL components hash as an explicit ``\\x00`` sentinel: concat_ws
    SKIPS nulls, so without it distinct natural keys differing only in
    WHICH component is null (e.g. (a, NULL) vs (NULL, a)) would
    collide — and a MERGE sink would silently keep one row. SQL twins
    over nullable keys must apply the same
    ``coalesce(CAST(c AS VARCHAR), chr(0))``.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    parts = [F.coalesce(c.cast("string"), F.lit("\x00")) for c in cs]
    return F.sha2(F.concat_ws("\x1f", *parts), 256)


def md5_int(s: Column, n_hex: int, start: int = 1) -> Column:
    """The BIGINT value of ``n_hex`` md5 hex digits of ``s`` read from
    position ``start`` — the repo's engine-portable hash line (KMV and
    quantile priorities, MinHash, Bloom and feature-hash indexes).
    md5 is identical in every engine and fixed-width lowercase hex
    preserves numeric order, so a SQL twin reproduces the value
    exactly; ``n_hex ≤ 15`` keeps it inside a signed BIGINT."""
    return F.conv(F.substring(F.md5(s), start, n_hex), 16, 10).cast("long")


_HEX = "0123456789abcdef"


def md5_byte(sql_expr: str) -> Column:
    """Portable 0..255 bucket of the SQL expression ``sql_expr``: its
    first two md5 hex chars as one byte, spelled with
    ``instr``/``substr`` only, so engines without a hex-parse builtin
    (DuckDB) compute the identical bucket (HLL and Count-Min registers,
    DSIR token buckets)."""
    return F.expr(
        f"(instr('{_HEX}', substr(md5({sql_expr}), 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substr(md5({sql_expr}), 2, 1)) - 1)"
    )


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton / Z-order interleave of the low ``bits`` bits of each
    column: bit i of column j lands at position ``i·len(cols)+j`` of
    the key. Rows sorted by this key are clustered so that a range
    predicate on ANY of the interleaved dimensions touches a small,
    contiguous-ish subset of files — multi-dimensional data skipping
    from one-dimensional file layout (the technique behind
    Delta/Iceberg OPTIMIZE ZORDER BY).

    Inputs must already be non-negative and < 2^bits (callers bucket
    with pmod); the result fits a long for bits·len(cols) ≤ 63. The
    expression is a balanced tree of shift/and/multiply terms — pure
    integer arithmetic, whole-stage-codegen friendly, and expressible
    verbatim in any SQL engine (see plans/lake_queries.zorder_sql).
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"zorder_key: {bits} bits x {n} cols overflows long")
    cs = [(F.col(c) if isinstance(c, str) else c).cast("long") for c in cols]
    terms = [
        F.shiftright(c, i).bitwiseAND(F.lit(1)) * F.lit(1 << (i * n + j))
        for i in range(bits)
        for j, c in enumerate(cs)
    ]
    # balanced reduction: a flat left-lean chain nests the expression
    # tree bits·n deep (JVM stack risk at high widths, see the r5
    # CaseWhen note in streaming/rollback.py)
    while len(terms) > 1:
        terms = [
            terms[k] + terms[k + 1] if k + 1 < len(terms) else terms[k]
            for k in range(0, len(terms), 2)
        ]
    return terms[0]
