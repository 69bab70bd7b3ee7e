"""Guard: caches and checkpoints have one owner, ``operators/cachectl.py``,
and driver statistics one store, ``memo.py``.

Every module of the package (pipelines, operators, sources, catalog
queries) caches and checkpoints only through a cachectl scope
(``Scope``, ``tracked_cache``, ``tracked_local_checkpoint``, ``free``),
so every path releases what it made.  A hand-rolled ``unpersist`` or
checkpoint call bypasses that.  Likewise a module-level ``_NAME = {}``
outside ``memo.py`` is a hand-rolled memo with its own key, freshness
token and eviction.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "slow_tortoise_spark"
OWNED = sorted(PKG.rglob("*.py"))
HAND_ROLLED = re.compile(
    r"\.unpersist\(|localCheckpoint\(|\.checkpoint\(|setCheckpointDir")
MODULE_DICT = re.compile(r"^_[A-Z][A-Z0-9_]*(: [^=]+)? = \{\}$")


def _lines_matching(pattern: re.Pattern, exempt: str) -> list[str]:
    assert len(OWNED) > 20  # the glob found the package
    return [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in OWNED if path.name != exempt
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if pattern.search(line)
    ]


def test_only_cachectl_caches_or_checkpoints_by_hand():
    assert _lines_matching(HAND_ROLLED, "cachectl.py") == []


def test_only_memo_keeps_a_module_level_store():
    assert _lines_matching(MODULE_DICT, "memo.py") == []
