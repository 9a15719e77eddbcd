"""Every module of the package compiles with warnings turned into errors,
so an invalid escape sequence (a SyntaxWarning from Python 3.12 on) fails
here instead of in a user's warnings summary."""

from __future__ import annotations

import warnings
from pathlib import Path

import evm_archive_spark

_PACKAGE = Path(evm_archive_spark.__file__).parent


def test_every_module_compiles_with_warnings_as_errors():
    modules = sorted(_PACKAGE.rglob("*.py"))
    assert len(modules) > 10
    for path in modules:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(path.read_text(encoding="utf-8"), str(path), "exec")
