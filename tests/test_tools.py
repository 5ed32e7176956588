"""bench.py and the tools/ scripts: every module imports without a Spark
session, so a name deleted from the library, the registry or bench fails
here instead of breaking a script silently; plus the pure helpers the
scripts share."""

import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TOOLS = sorted(
    os.path.splitext(os.path.basename(p))[0]
    for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


@pytest.mark.parametrize("module", ["bench"] + [f"tools.{t}" for t in TOOLS])
def test_script_imports(module):
    mod = importlib.import_module(module)
    assert callable(mod.main)


def test_check_correctness_selector():
    from __spark_entry__ import queries
    from tools.check_correctness import select

    names = set(queries())
    assert select("e1", names) == {"e1_engine_scan"}
    assert select("e1_engine_scan", names) == {"e1_engine_scan"}
    assert select("tpch_q2", names) == {"tpch_q2"}
    assert select("p1", names) == set()
    assert select("dd_simhash", names) == {"dd_simhash"}
    assert select("dd_simhash_fast", names) == {"dd_simhash_fast"}
    # a prefix that is not a name selects its "_" group only
    assert select("tpch", names) == {n for n in names if n.startswith("tpch_")}
