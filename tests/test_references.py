"""Every top-level definition of the package is used: a function, class or
assignment whose name appears nowhere outside its own body is dead code.

A use is a name token or an identifier inside a string token in any of the
repo's ``.py`` files, so lazy-export keys and ``getattr`` names count;
comments do not."""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

import evm_archive_spark

_PACKAGE = Path(evm_archive_spark.__file__).parent
_ROOT = _PACKAGE.parent
_IDENT = re.compile(r"[A-Za-z_]\w*")
# Python 3.12+ splits f-strings into tokens; the literal parts are text
_TEXT = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", tokenize.STRING)}


def _uses() -> dict[str, list[tuple[Path, int]]]:
    uses = defaultdict(list)
    for path in _ROOT.rglob("*.py"):
        if any(p.startswith(".") for p in path.relative_to(_ROOT).parts):
            continue
        src = path.read_text(encoding="utf-8")
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type == tokenize.NAME:
                uses[tok.string].append((path, tok.start[0]))
            elif tok.type in _TEXT:
                for name in _IDENT.findall(tok.string):
                    uses[name].append((path, tok.start[0]))
    return uses


def _definitions(path: Path):
    """(name, first line, last line) of each top-level def, class and
    assignment target, decorators included."""
    for node in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        for name in names:
            yield name, first, node.end_lineno


def test_every_top_level_definition_is_used():
    uses = _uses()
    dead = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        for name, first, last in _definitions(path):
            if name.startswith("__") and name.endswith("__"):
                continue
            if all(p == path and first <= line <= last for p, line in uses[name]):
                dead.append(f"{path.relative_to(_ROOT)}:{first} {name}")
    assert not dead, "unused top-level definitions:\n" + "\n".join(dead)
