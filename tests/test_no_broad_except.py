"""The query layer and the frames utility fail loudly: no `except
Exception` and no bare `except:` that could turn a missing table or a bad
read into a silent fallback."""

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "searchenginepp_spark"
MODULES = [
    "operators/query.py",
    "operators/bmm.py",
    "operators/local_engine.py",
    "operators/index_reader.py",
    "frames.py",
]


def _broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    names = (handler.type.elts if isinstance(handler.type, ast.Tuple)
             else [handler.type])
    return any(isinstance(n, ast.Name) and n.id in ("Exception", "BaseException")
               for n in names)


@pytest.mark.parametrize("module", MODULES)
def test_no_broad_except(module):
    tree = ast.parse((PKG / module).read_text(), filename=module)
    bad = [h.lineno for h in ast.walk(tree)
           if isinstance(h, ast.ExceptHandler) and _broad(h)]
    assert not bad, f"{module}: broad except at lines {bad}"
