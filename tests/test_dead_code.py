"""Dead-definition guard: every top-level def or class in the library
must be named somewhere in the repo's Python sources besides its own
definition. A name that only its own body mentions is code nothing can
reach."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_WORD = re.compile(r"[A-Za-z_]\w*")


def _sources() -> list[Path]:
    return [p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".")
                       for part in p.relative_to(ROOT).parts)]


def test_every_library_definition_is_referenced():
    texts = {p: p.read_text(encoding="utf-8") for p in _sources()}
    counts: Counter = Counter()
    for text in texts.values():
        counts.update(_WORD.findall(text))

    dead = []
    for path in sorted((ROOT / "json_schema_spark").rglob("*.py")):
        lines = texts[path].splitlines()
        for node in ast.parse(texts[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            own = "\n".join(lines[first - 1:node.end_lineno])
            if counts[node.name] == _WORD.findall(own).count(node.name):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} "
                            f"{node.name}")
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
