"""Every library module compiles without a warning. An invalid string
escape (e.g. a regex ``'\\p{L}'`` in a non-raw string) is only a
SyntaxWarning, and a cached ``.pyc`` hides it from pytest's warning
filters; compiling the source here cannot be hidden."""

from __future__ import annotations

import warnings
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "mr_spark"


def test_library_compiles_without_warnings():
    sources = sorted(_PKG.rglob("*.py"))
    assert sources
    offenders = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec", dont_inherit=True)
            except (SyntaxError, Warning) as exc:
                offenders.append(f"{path.relative_to(_PKG.parent)}: {exc}")
    assert not offenders, offenders
