"""Every ``tools/<name>.py`` cited by the package, the README, bench.py
or the repo's skill notes must exist: deleting a tool must take its
citations with it (or repoint them at the recorded evidence)."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_TOOL_REF = re.compile(r"(?<![\w./-])tools/(\w+)\.py")


def _cited_files():
    yield from sorted((ROOT / "elt_gluepipeline_spark").rglob("*.py"))
    yield ROOT / "README.md"
    yield ROOT / "bench.py"
    yield from sorted(p for p in (ROOT / ".claude" / "skills").rglob("*")
                      if p.is_file())


def test_no_dangling_tool_references():
    dangling = []
    for path in _cited_files():
        text = path.read_text(encoding="utf-8")
        for m in _TOOL_REF.finditer(text):
            if not (ROOT / "tools" / f"{m.group(1)}.py").is_file():
                line = text.count("\n", 0, m.start()) + 1
                dangling.append(f"{path.relative_to(ROOT)}:{line}: "
                                f"{m.group(0)}")
    assert not dangling, "cited tools that do not exist:\n" + "\n".join(
        dangling)
