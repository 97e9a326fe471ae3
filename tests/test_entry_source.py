"""The driver-contract module must compile with warnings raised as errors:
an invalid string escape is a DeprecationWarning today and a SyntaxError in
a later Python."""

from __future__ import annotations

import os
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_compiles_without_warnings():
    path = os.path.join(REPO, "__spark_entry__.py")
    with open(path) as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, path, "exec")
