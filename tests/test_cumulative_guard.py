"""One exact-cumulative device: a static guard over ``plans/*.py``.

Every exact global running sum or rank in the registry goes through
``plans/common.py::exact_cumulative``. This test reads the plan modules'
syntax trees (no Spark, so comments and docstrings never count) and
fails on any reference to the deleted helpers (``prefix_offsets``,
``bucket_prefix_totals``), and on any ``repartitionByRange`` /
``spark_partition_id`` call outside the two range-partition uses that
compute no sum or rank.
"""

from __future__ import annotations

import ast
from pathlib import Path

PLANS = Path(__file__).resolve().parents[1] / (
    "celestrak_tle_data_pipeline_spark/plans"
)
DELETED = {"prefix_offsets", "bucket_prefix_totals"}
RANGE_CALLS = {"repartitionByRange", "spark_partition_id"}
# (module, enclosing function): the skyline's running max and the
# sorted-neighbourhood boundary replication, whose range exchanges
# their tests pin
RANGE_ALLOWED = {
    ("stats.py", "skyline_2d"),
    ("ext_ml.py", "sorted_neighborhood_ranged"),
}


def _findings(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name in DELETED:
                out.append(f"{path.name}:{node.lineno} def {node.name}")
            func = func or node.name
        names = []
        if isinstance(node, ast.Name):
            names.append(node.id)
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names += [a.name for a in node.names]
        for n in names:
            if n in DELETED:
                out.append(f"{path.name}:{node.lineno} {n}")
        if isinstance(node, ast.Call):
            f = node.func
            called = f.attr if isinstance(f, ast.Attribute) else (
                f.id if isinstance(f, ast.Name) else None
            )
            if called in RANGE_CALLS and (path.name, func) not in (
                RANGE_ALLOWED
            ):
                out.append(f"{path.name}:{node.lineno} {called} in {func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_plans_have_one_exact_cumulative_device():
    found = [f for p in sorted(PLANS.glob("*.py")) for f in _findings(p)]
    assert not found, (
        "exact running sums and ranks go through "
        "plans/common.py::exact_cumulative: " + "; ".join(found)
    )


def test_guard_sees_calls_and_ignores_text(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        '"""prefix_offsets and repartitionByRange in prose."""\n'
        "# bucket_prefix_totals in a comment\n"
        "def q(df, F):\n"
        "    df.repartitionByRange(8, 'v')\n"
        "    return F.spark_partition_id(), prefix_offsets\n"
    )
    assert _findings(bad) == [
        "bad.py:4 repartitionByRange in q",
        "bad.py:5 spark_partition_id in q",
        "bad.py:5 prefix_offsets",
    ]
