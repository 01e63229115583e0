"""One way to do each thing: a static guard over the package.

The landing front end has one ``tle`` data source, one stream reader
and one ``binaryFile`` landing-stream reader; the plan banks and the
sinks share one copy of each private helper, and the banks one copy of
each lookup table; ``sinks/maintenance.py::compact_partitions`` is the
one partition compaction; ``tools/query_profile.py`` is the one
plan-inspection tool; ``tools/check.py`` is the one oracle compare.
This test reads syntax trees (no Spark, so comments and docstrings
never count) and fails when:

- two ``DataSource`` subclasses return the same ``name()``;
- ``format("binaryFile")`` is called more than once under
  ``streaming/`` (every landing stream goes through
  ``streaming/incremental.py::landing_payload_stream``);
- a deleted name comes back, as a module, definition, reference,
  import or format-name string;
- two top-level ``_``-prefixed functions in ``plans/*.py`` and
  ``sinks/*.py``, or one of them and a ``plans/common.py`` function,
  have identical bodies, docstrings ignored (shared plan helpers live
  in ``plans/common.py``; plans import a sink's helper, never copy it);
- two top-level assignments in ``plans/*.py``, ``common.py`` included,
  have identical values (empty literals aside: the banks' registries
  start as ``{}``);
- ``ParquetWarehouse`` defines ``compact`` again (partition compaction
  is ``maintenance.compact_partitions``);
- one of the five plan and timing tools that ``query_profile.py``
  replaced, or one of the two bank compares that ``check.py`` replaced,
  comes back under ``tools/``, or a ``tools/`` module takes a
  standard-library name (scripts run from ``tools/`` would import it
  in place of the library's);
- a file under ``tools/`` or ``tests/`` other than ``tools/check.py``
  imports ``duckdb`` (oracles open through ``check.connect``);
- a literal holding exactly the ten driver-table names appears outside
  ``schemas.py`` (``schemas.DRIVER_TABLES`` is the list; ``bench.py``
  and ``perfbench/`` keep their own code and are not scanned).
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

from celestrak_tle_data_pipeline_spark.schemas import DRIVER_TABLES

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "celestrak_tle_data_pipeline_spark"
DELETED = {
    "tle_datasource",
    "iter_triples",
    "TLESimpleStreamReader",
    "TLEFirehoseDataSource",
    "tle_firehose",
    "assemble_from_lines",
    "_phi_col_r19",
    "_phi_sql_r19",
}
DELETED_TOOLS = {
    "isolate_bench": "query_profile.py",
    "isolate_ledger": "query_profile.py",
    "runtime_plan": "query_profile.py",
    "audit_plans": "query_profile.py",
    "dump_plans": "query_profile.py",
    "bank_check": "check.py",
    "bank_dev": "check.py",
}


def _trees(paths):
    return [(p, ast.parse(p.read_text())) for p in paths]


def _source_name_clashes(paths) -> list[str]:
    owners = defaultdict(list)
    for path, tree in _trees(paths):
        for cls in ast.walk(tree):
            if not isinstance(cls, ast.ClassDef):
                continue
            bases = {
                getattr(b, "attr", None) or getattr(b, "id", None)
                for b in cls.bases
            }
            if "DataSource" not in bases:
                continue
            for fn in cls.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "name":
                    for ret in ast.walk(fn):
                        if isinstance(ret, ast.Return) and isinstance(
                            ret.value, ast.Constant
                        ):
                            owners[ret.value.value].append(
                                f"{path.name}::{cls.name}"
                            )
    return [
        f"{n!r}: {', '.join(o)}" for n, o in owners.items() if len(o) > 1
    ]


def _binary_file_reads(paths) -> list[str]:
    out = []
    for path, tree in _trees(paths):
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "binaryFile"
            ):
                out.append(f"{path.name}:{node.lineno}")
    return out


def _deleted_names(paths) -> list[str]:
    out = [f"{p.name} exists" for p in paths if p.stem in DELETED]
    for path, tree in _trees(paths):
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Name):
                names.append(node.id)
            elif isinstance(node, ast.Attribute):
                names.append(node.attr)
            elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names.append(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names += [a.name for a in node.names]
                names += (getattr(node, "module", None) or "").split(".")
            elif isinstance(node, ast.Constant):
                names.append(node.value)
            for n in names:
                if n in DELETED:
                    out.append(f"{path.name}:{node.lineno} {n}")
    return out


def _duplicate_helpers(paths) -> list[str]:
    bodies = defaultdict(list)
    for path, tree in _trees(paths):
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or not (
                fn.name.startswith("_") or path.name == "common.py"
            ):
                continue
            body = fn.body
            if ast.get_docstring(fn) is not None:
                body = body[1:]
            key = "".join(ast.dump(stmt) for stmt in body)
            bodies[key].append(f"{path.name}::{fn.name}")
    return [" = ".join(v) for v in bodies.values() if len(v) > 1]


def _duplicate_assignments(paths) -> list[str]:
    values = defaultdict(list)
    for path, tree in _trees(paths):
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            else:
                continue
            value = node.value
            if isinstance(value, (ast.Dict, ast.List, ast.Tuple)) and not (
                value.keys if isinstance(value, ast.Dict) else value.elts
            ):
                continue
            names = ",".join(ast.unparse(t) for t in targets)
            values[ast.dump(value)].append(f"{path.name}::{names}")
    return [" = ".join(v) for v in values.values() if len(v) > 1]


def _warehouse_compactions(paths) -> list[str]:
    return [
        f"{path.name}:{fn.lineno} ParquetWarehouse.compact"
        for path, tree in _trees(paths)
        for cls in ast.walk(tree)
        if isinstance(cls, ast.ClassDef) and cls.name == "ParquetWarehouse"
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef) and fn.name == "compact"
    ]


def _tool_clashes(paths) -> list[str]:
    return [
        f"{p.name}: "
        + (f"replaced by {DELETED_TOOLS[p.stem]}" if p.stem in DELETED_TOOLS
           else "shadows the standard library")
        for p in paths
        if p.stem in DELETED_TOOLS or p.stem in sys.stdlib_module_names
    ]


def _duckdb_imports(paths) -> list[str]:
    return [
        f"{path.name}:{node.lineno}"
        for path, tree in _trees(paths)
        for node in ast.walk(tree)
        if (
            isinstance(node, ast.Import)
            and any(a.name.split(".")[0] == "duckdb" for a in node.names)
        )
        or (
            isinstance(node, ast.ImportFrom)
            and (node.module or "").split(".")[0] == "duckdb"
        )
    ]


def _driver_table_copies(paths) -> list[str]:
    out = []
    for path, tree in _trees(paths):
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                words = node.value.split()
            elif isinstance(node, (ast.Tuple, ast.List, ast.Set)) and all(
                isinstance(e, ast.Constant) and isinstance(e.value, str)
                for e in node.elts
            ):
                words = [e.value for e in node.elts]
            else:
                continue
            if set(words) == set(DRIVER_TABLES):
                out.append((path.name, node.lineno))
    return [f"{name}:{line}" for name, line in sorted(out)]


def test_one_tle_landing_front_end():
    pkg = sorted(PKG.rglob("*.py"))
    assert not _source_name_clashes(pkg), _source_name_clashes(pkg)
    reads = _binary_file_reads(sorted((PKG / "streaming").glob("*.py")))
    assert len(reads) <= 1, (
        "landing streams go through landing_payload_stream: "
        + "; ".join(reads)
    )
    assert not _deleted_names(pkg), _deleted_names(pkg)


def test_plans_have_one_copy_of_each_helper():
    dups = _duplicate_helpers(
        sorted((PKG / "plans").glob("*.py"))
        + sorted((PKG / "sinks").glob("*.py"))
    )
    assert not dups, (
        "shared helpers live in plans/common.py, or are imported from "
        "the sink that defines them: " + "; ".join(dups)
    )


def test_one_partition_compaction():
    found = _warehouse_compactions(sorted((PKG / "sinks").glob("*.py")))
    assert not found, "compaction is maintenance.compact_partitions: " + (
        "; ".join(found)
    )


def test_plans_have_one_copy_of_each_lookup_table():
    dups = _duplicate_assignments(sorted((PKG / "plans").glob("*.py")))
    assert not dups, "shared tables live in plans/common.py: " + "; ".join(
        dups
    )


def test_one_plan_inspection_tool():
    clashes = _tool_clashes(sorted((ROOT / "tools").glob("*.py")))
    assert not clashes, clashes


def test_one_oracle_compare():
    scripts = sorted((ROOT / "tools").rglob("*.py")) + sorted(
        (ROOT / "tests").rglob("*.py")
    )
    imports = _duckdb_imports(
        [p for p in scripts if p != ROOT / "tools" / "check.py"]
    )
    assert not imports, "oracles open through tools/check.py: " + (
        "; ".join(imports)
    )
    skipped = {ROOT / "bench.py", PKG / "schemas.py"}
    copies = _driver_table_copies(
        p
        for p in sorted(ROOT.rglob("*.py"))
        if p not in skipped and "perfbench" not in p.parts
    )
    assert not copies, "the table list is schemas.DRIVER_TABLES: " + (
        "; ".join(copies)
    )


def test_guard_sees_code_and_ignores_text(tmp_path):
    a = tmp_path / "a.py"
    a.write_text(
        '"""iter_triples and format("binaryFile") in prose."""\n'
        "# TLEFirehoseDataSource in a comment\n"
        "class A(DataSource):\n"
        "    def name(self):\n"
        "        return 'tle'\n"
        "def _h(x):\n"
        '    """one docstring"""\n'
        "    return x + 1\n"
        "def r(spark):\n"
        "    return spark.readStream.format('binaryFile')\n"
    )
    b = tmp_path / "b.py"
    b.write_text(
        "from .pysource import iter_triples\n"
        "class B(ds.DataSource):\n"
        "    @classmethod\n"
        "    def name(cls):\n"
        "        return 'tle'\n"
        "def _g(y):\n"
        '    """another docstring"""\n'
        "    return x + 1\n"
        "def s(spark):\n"
        "    return spark.read.format('tle_firehose')\n"
    )
    assert _source_name_clashes([a]) == []
    assert _source_name_clashes([a, b]) == ["'tle': a.py::A, b.py::B"]
    assert _binary_file_reads([a, b]) == ["a.py:10"]
    assert _deleted_names([a]) == []
    assert _deleted_names([a, b]) == [
        "b.py:1 iter_triples",
        "b.py:10 tle_firehose",
    ]
    gone = tmp_path / "tle_datasource.py"
    gone.write_text("")
    assert _deleted_names([gone]) == ["tle_datasource.py exists"]
    assert _duplicate_helpers([a, b]) == ["a.py::_h = b.py::_g"]
    common = tmp_path / "common.py"
    common.write_text("def h(z):\n    return x + 1\n")
    assert _duplicate_helpers([a, common]) == ["a.py::_h = common.py::h"]
    tables = tmp_path / "tables.py"
    tables.write_text(
        '"""[1, 2] in prose."""\n'
        "REG: dict = {}\n"
        "_T = [1.0, 0.5]\n"
        "_D = [i / 10 for i in range(9)]\n"
    )
    common.write_text(
        "REG = {}\nT = [1.0, 0.5]\nD = [i / 10 for i in range(8)]\n"
    )
    assert _duplicate_assignments([tables]) == []
    assert _duplicate_assignments([tables, common]) == [
        "tables.py::_T = common.py::T"
    ]
    sinks = tmp_path / "sinks.py"
    sinks.write_text(
        '"""ParquetWarehouse.compact in prose."""\n'
        "class ParquetWarehouse:\n"
        "    def expire_partitions(self):\n"
        "        def compact():\n"
        "            pass\n"
        "class Other:\n"
        "    def compact(self):\n"
        "        pass\n"
    )
    assert _warehouse_compactions([sinks]) == []
    sinks.write_text(
        "class ParquetWarehouse(object):\n"
        "    def compact(self, table):\n"
        "        pass\n"
    )
    assert _warehouse_compactions([sinks]) == [
        "sinks.py:2 ParquetWarehouse.compact"
    ]
    tools = [
        tmp_path / f"{n}.py"
        for n in ("check", "profile", "dump_plans", "bank_dev")
    ]
    assert _tool_clashes(tools) == [
        "profile.py: shadows the standard library",
        "dump_plans.py: replaced by query_profile.py",
        "bank_dev.py: replaced by check.py",
    ]
    oracle = tmp_path / "oracle.py"
    oracle.write_text(
        '"""import duckdb; region nation customer supplier part orders\n'
        'lineitem events documents embeddings"""\n'
        "# import duckdb\n"
        "import duckdb_extras\n"
        "T = ('region', 'nation', 'customer')\n"
    )
    assert _duckdb_imports([oracle]) == []
    assert _driver_table_copies([oracle]) == []
    oracle.write_text(
        "import duckdb\n"
        "from duckdb.typing import BIGINT\n"
        "A = ('region nation customer supplier part orders lineitem '\n"
        "     'events documents embeddings').split()\n"
        "B = ['embeddings', 'documents', 'events', 'lineitem', 'orders',\n"
        "     'part', 'supplier', 'customer', 'nation', 'region']\n"
    )
    assert _duckdb_imports([oracle]) == ["oracle.py:1", "oracle.py:2"]
    assert _driver_table_copies([oracle]) == ["oracle.py:3", "oracle.py:5"]
