"""Spark-free guard: every keyword the frozen benchmark scripts pass to
``SearchEngine(...)`` is still in its signature, so removing an engine
option can never break them silently."""

import ast
import inspect
from pathlib import Path

import pytest

from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

ROOT = Path(__file__).resolve().parent.parent
FROZEN = ["bench.py", "perfbench/workload.py", "__spark_entry__.py"]


def _engine_keywords(path: Path) -> list[tuple[int, str]]:
    """(line, keyword) of every keyword argument of a ``SearchEngine``
    call in ``path``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "SearchEngine":
                out += [(node.lineno, kw.arg) for kw in node.keywords if kw.arg]
    return out


@pytest.mark.parametrize("rel", FROZEN)
def test_frozen_callers_pass_known_keywords(rel):
    accepted = set(inspect.signature(SearchEngine.__init__).parameters)
    calls = _engine_keywords(ROOT / rel)
    if rel != "__spark_entry__.py":  # it passes no keyword
        assert calls, rel
    unknown = [(line, kw) for line, kw in calls if kw not in accepted]
    assert not unknown, f"{rel}: SearchEngine keywords not in its signature: {unknown}"
