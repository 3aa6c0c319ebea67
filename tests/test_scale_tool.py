"""tools/scale.py: every replicated shape keeps its copies' keys apart
and its joins whole, a stress check holds on a replica, the CLI parses without
Spark, and every tool under tools/ compiles and imports."""

from __future__ import annotations

import compileall
import importlib.util
import os
import subprocess
import sys
import tempfile

import pytest

from tools import scale

SF = "/root/testdata/sf0.001"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

# each table's key
KEYS = {
    "documents": ("doc_id",), "embeddings": ("vec_id",), "events": ("event_id",),
    "customer": ("c_custkey",), "supplier": ("s_suppkey",), "part": ("p_partkey",),
    "orders": ("o_orderkey",), "lineitem": ("l_orderkey", "l_linenumber"),
    "nation": ("n_nationkey",), "region": ("r_regionkey",),
}
# (child table, foreign key, parent table, parent key)
JOINS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
)


@pytest.fixture(scope="module")
def replicas(spark):
    root = tempfile.mkdtemp(prefix="scale_test_")
    out = {}
    for shape in scale.SHAPES:
        out[shape] = os.path.join(root, shape)
        scale.build(spark, SF, out[shape], {shape: 2})
    return out


def _read(spark, sf, table):
    return spark.read.parquet(os.path.join(sf, f"{table}.parquet"))


@pytest.mark.parametrize("shape", list(scale.SHAPES))
def test_shape_doubles_rows_with_unique_keys(spark, replicas, shape):
    for table, spec in scale.SHAPES[shape].items():
        base, rep = _read(spark, SF, table), _read(spark, replicas[shape], table)
        assert rep.dtypes == base.dtypes, table
        k = 1 if spec is None else 2
        assert rep.count() == base.count() * k, table
        # copies never collide (lineitem's key repeats within the base data)
        assert (rep.select(*KEYS[table]).distinct().count()
                == base.select(*KEYS[table]).distinct().count() * k), table


@pytest.mark.parametrize("shape", ["hot_dim_keys", "disjoint_keys"])
def test_relational_joins_lose_no_row(spark, replicas, shape):
    sf = replicas[shape]
    for child, fk, parent, pk in JOINS:
        c, p = _read(spark, sf, child), _read(spark, sf, parent)
        assert c.join(p, c[fk] == p[pk]).count() == c.count(), (child, fk)


def test_salted_check_holds_on_a_replica(spark, replicas):
    rec = scale.CHECKS["q39"](spark, replicas["near_dup_docs"])
    assert rec["rows"] > 0 and rec["diff"] == 0


def test_help_parses_without_spark():
    code = (
        "import runpy, sys\n"
        "for sub in ([], ['build'], ['stress'], ['profile'], ['time']):\n"
        "    sys.argv = ['scale.py', *sub, '--help']\n"
        "    try:\n"
        "        runpy.run_path(sys.argv[0], run_name='__main__')\n"
        "    except SystemExit as e:\n"
        "        assert e.code == 0, (sub, e.code)\n"
        "assert 'pyspark' not in sys.modules\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=TOOLS,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr[-2000:]


def test_tools_compile_and_import():
    assert compileall.compile_dir(TOOLS, quiet=1, force=True)
    for name in sorted(os.listdir(TOOLS)):
        if name.endswith(".py"):
            spec = importlib.util.spec_from_file_location(f"_tool_{name[:-3]}",
                                                          os.path.join(TOOLS, name))
            spec.loader.exec_module(importlib.util.module_from_spec(spec))
