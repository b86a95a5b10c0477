"""Tests for the repository tools under ``tools/``."""

from __future__ import annotations

import importlib.util
import os

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _load(name: str):
    # loaded by file path: putting tools/ on sys.path would let
    # tools/profile.py shadow the standard-library profile module
    path = os.path.join(_TOOLS, f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


code_lines = _load("code_lines").code_lines


def test_code_lines_skips_docstrings_comments_and_blanks():
    source = '''"""Module docstring,
spanning two lines."""

# a comment line
import os  # trailing comment: still a code line


class A:
    """Class docstring."""

    def f(self):
        """Function
        docstring."""

        x = """a string that is not a docstring
        still counts"""
        return os.sep + x
'''
    # import, class, def, the two-line string assignment, return
    assert code_lines(source) == 6

    # defaulted parameters: none above; below b, d, e (keyword-only),
    # y (lambda) and k — a, c, z, *args and **kw carry no default
    defaulted_params = _load("code_lines").defaulted_params
    assert defaulted_params(source) == 0
    source = """
def f(a, b=1, *args, c, d=2, e=None, **kw):
    g = lambda x, y=3: x + y
    return g


class A:
    def m(self, k=()):
        pass

    async def n(self, z):
        pass
"""
    assert defaulted_params(source) == 5


def test_contract_lists_gate_queries_then_oracle_hashes():
    import hashlib

    from blockchain_data_engineering_spark.plans import GATE_ORDER, ORACLES

    lines = _load("contract").contract_lines()
    n = len(GATE_ORDER)
    assert n == 50 and lines[:n] == list(GATE_ORDER)
    assert lines[n:] == [
        f"{q} {hashlib.sha256(ORACLES[q].encode()).hexdigest()}" for q in GATE_ORDER
    ]


def test_profile_counts_the_jobs_and_stages_of_one_job_group(spark):
    jobs_and_stages = _load("profile").jobs_and_stages
    sc = spark.sparkContext
    group = "test-tools-profile"
    sc.setJobGroup(group, group)
    try:
        rdd = sc.parallelize(range(8), 2)
        rdd.count()  # one job, one stage
        sums = rdd.map(lambda x: (x % 2, x)).reduceByKey(lambda a, b: a + b)
        sums.collect()  # one job, a map and a result stage
        # the shuffle is already written: its map stage is skipped
        sums.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    spark.range(3).collect()  # outside the group: not counted
    assert jobs_and_stages(sc, group) == (3, 4, 1)


def test_profile_masks_the_run_order_fields_of_a_plan():
    import tempfile

    mask_plan = _load("profile").mask_plan
    tmp = tempfile.gettempdir()

    def dump(expr, plan_id, codegen, stage, rdd, store, node="HashAggregate"):
        return f"""== Physical Plan ==
AdaptiveSparkPlan (8)
+- == Final Plan ==
   * {node} (6)
   +- ShuffleQueryStage (5), Statistics(sizeInBytes=72.0 B, rowCount=3)
      +- Exchange (4)
         +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [1]: [src#{expr}L]
Arguments: [src#{expr}L], MapPartitionsRDD[{rdd}] at localCheckpoint at NativeMethodAccessorImpl.java:0

(4) Exchange
Input [1]: [src#{expr}L]
Arguments: hashpartitioning(src#{expr}L, 4), ENSURE_REQUIREMENTS, [plan_id={plan_id}]

(5) ShuffleQueryStage
Output [1]: [src#{expr}L]
Arguments: {stage}

(6) {node} [codegen id : {codegen}]
Input [1]: [src#{expr}L]
Keys [1]: [src#{expr}L]
Location: InMemoryFileIndex [file:{tmp}/{store}/landing]

(7) ReusedExchange [Reuses operator id: 4]
Arguments: 1
"""

    first = dump(27, 155, 3, 1, 163, "eval_cells_store_q_ab12cd34")
    second = dump(41, 212, 5, 4, 437, "eval_cells_store_q_zz9x8y7w")
    assert first != second
    masked = mask_plan(first)
    assert masked == mask_plan(second)
    # plan shape stays: node ids, operator names, the reused operator id
    # and the Arguments line of a node that is not a query stage
    for kept in ("(5) ShuffleQueryStage", "[Reuses operator id: 4]", "Arguments: 1\n"):
        assert kept in masked
    for gone in ("#27", "plan_id=155", "RDD[163]", "codegen id : 3", "ab12cd34"):
        assert gone not in masked
    assert mask_plan(dump(27, 155, 3, 1, 163, "x", node="SortAggregate")) != masked



def _spelled_md5_hashes(source: str) -> list[int]:
    """Lines of ``source`` that spell the md5 hash line out: a ``conv``
    call over an md5 (hex prefix → integer), or SQL text — a string or
    f-string that is not a docstring — holding ``md5(`` with
    ``instr(`` (the portable byte bucket) or ``conv(``."""
    import ast

    tree = ast.parse(source)
    docstrings = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
    }
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            name = getattr(node.func, "attr", None) or getattr(node.func, "id", None)
            if name == "conv" and "md5" in ast.dump(node):
                found.add(node.lineno)
            continue
        if isinstance(node, ast.JoinedStr):
            text = "".join(
                v.value for v in node.values if isinstance(v, ast.Constant)
            )
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = "" if id(node) in docstrings else node.value
        else:
            continue
        if "md5(" in text and ("instr(" in text or "conv(" in text):
            found.add(node.lineno)
    return sorted(found)


def test_md5_hash_line_is_spelled_only_in_scalar():
    """``functions/scalar.md5_int`` and ``md5_byte`` are the one md5
    hash line of the sketch family: no module under ``operators/`` or
    ``streaming/`` spells a hash of its own, so the KMV, quantile,
    MinHash, Bloom, HLL, Count-Min, DSIR and feature hashes cannot
    drift apart (their DuckDB twins in the oracles replay this line)."""
    from pathlib import Path

    # the inline spellings the check catches, and a docstring it skips
    spelled = _spelled_md5_hashes
    assert spelled("h = F.conv(F.substring(F.md5(c), 1, 15), 16, 10)")
    assert spelled("b = F.expr(\"instr('0123456789abcdef', substr(md5(x), 1, 1))\")")
    assert spelled("b = f\"(instr('{H}', substr(md5({e}), 1, 1)) - 1)\"")
    assert spelled("q = 'conv(substr(md5(x), 1, 15), 16, 10)'")
    assert not spelled('"""conv(substr(md5(x), 1, 15), 16, 10)."""')

    pkg = Path(_TOOLS).parent / "blockchain_data_engineering_spark"
    assert spelled((pkg / "functions" / "scalar.py").read_text())
    offenders = {
        f"{path.parent.name}/{path.name}": lines
        for sub in ("operators", "streaming")
        for path in sorted((pkg / sub).glob("*.py"))
        if (lines := spelled(path.read_text()))
    }
    assert not offenders, offenders
