"""No source file may name the directory its checkout sits in: the
suite, the tools and bench.py must run the package of the checkout
they are in, wherever that is."""

from __future__ import annotations

import pathlib
import re

_ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_no_source_file_hard_codes_the_checkout_path():
    # built from this file's location, so the test never matches itself
    pat = re.compile(r"(?<![\w./-])" + re.escape(str(_ROOT)) + r"(?![\w.-])")
    files = [_ROOT / "bench.py"]
    for d in ("tests", "tools", "_kafka_streams_scaffold_spark"):
        files += sorted((_ROOT / d).rglob("*.py"))
    hits = [
        str(f.relative_to(_ROOT)) for f in files if pat.search(f.read_text())
    ]
    assert not hits, f"hard-coded checkout path in: {hits}"
