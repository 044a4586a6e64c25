"""Every `tools/<name>.py` path (and every `tools.<name>` import) that
the code, the README or the verify skill cites must exist, so deleting a
tool cannot leave a dangling reference behind. SCALING.md and
COVERAGE.md are dated history and may name retired tools."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CITED = re.compile(
    r"(?<![\w/.])tools/(\w+)\.py|(?:from|import)\s+tools\.(\w+)"
)


def test_cited_tool_paths_exist():
    sources = [ROOT / "README.md", ROOT / ".claude/skills/verify/SKILL.md"]
    for d in ("goconnect_spark", "tools", "tests", "examples"):
        sources += sorted((ROOT / d).rglob("*.py"))
    missing = sorted(
        f"{src.relative_to(ROOT)}: tools/{name}.py"
        for src in sources
        for m in CITED.finditer(src.read_text(encoding="utf-8"))
        if not (ROOT / "tools" / f"{(name := m.group(1) or m.group(2))}.py").exists()
    )
    assert not missing, missing
