"""Guard: caches and checkpoints have one owner, ``operators/cachectl.py``.

Every module of the package (pipelines, operators, sources, catalog
queries) caches and checkpoints only through a cachectl scope
(``Scope``, ``tracked_cache``, ``tracked_local_checkpoint``, ``free``),
so every path releases what it made.  A hand-rolled ``unpersist`` or
checkpoint call bypasses that.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "slow_tortoise_spark"
OWNED = sorted(PKG.rglob("*.py"))
HAND_ROLLED = re.compile(
    r"\.unpersist\(|localCheckpoint\(|\.checkpoint\(|setCheckpointDir")


def test_only_cachectl_caches_or_checkpoints_by_hand():
    hits = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in OWNED if path.name != "cachectl.py"
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if HAND_ROLLED.search(line)
    ]
    assert len(OWNED) > 20  # the glob found the package
    assert hits == []
