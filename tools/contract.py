"""Print the driver contract's fingerprint.

Usage: python tools/contract.py

Lists the ``queries()`` names of ``__spark_entry__`` in order, then
each ``oracle_sql()`` name with the SHA-256 of its SQL text, then one
SHA-256 over the whole listing. Two checkouts that print the same
last line register the same gate queries, in the same order, against
byte-identical oracle SQL.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def contract_lines() -> list[str]:
    """The listing: one line per gate query name, then one
    ``<name> <sha256>`` line per oracle."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    lines = list(entry.queries())
    lines += [f"{name} {_sha(sql)}" for name, sql in entry.oracle_sql().items()]
    return lines


def main() -> None:
    lines = contract_lines()
    print("\n".join(lines))
    print(_sha("\n".join(lines) + "\n"))


if __name__ == "__main__":
    # replace this script's directory on the path: tools/profile.py
    # would otherwise shadow the stdlib ``profile`` module pyspark imports
    sys.path[0] = ROOT
    main()
