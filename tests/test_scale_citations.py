"""Every ``SCALE.md`` citation in the package, the tests and the tools
names a section (``SCALE.md §<section>``) that SCALE.md still has as a
heading — a bare ``SCALE.md`` points at a whole file of posture sections,
so it leaves the reader to guess — and no citation points into a
round-by-round addendum — those were folded into the posture sections, so
a citation to one resolves to nothing (no Spark needed)."""

from __future__ import annotations

import pathlib
import re

import databricks_spark_sql_challenge1_spark as pkg

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_SOURCES = (pathlib.Path(pkg.__file__).parent, _ROOT / "tests", _ROOT / "tools")

# A citation is the bare file name; ``<commit>:SCALE.md`` names a commit.
_CITATION = re.compile(r"(?<![\w:/])SCALE\.md")
_ADDENDUM = re.compile(r"\b(?:r|round[- ]?)\d+\b[^.§]{0,20}?addend", re.IGNORECASE)


def _headings() -> list[str]:
    """Heading names: the title up to any parenthetical, e.g. ``Scans``
    for ``## Scans (S1-S7)``."""
    text = (_ROOT / "SCALE.md").read_text()
    return [
        re.sub(r"\s*\(.*$", "", m.group(1)).strip()
        for m in re.finditer(r"^#{2,3} (.+)$", text, re.MULTILINE)
    ]


def _citations() -> list[tuple[str, str]]:
    """(file, text after the citation) for every citation; line breaks
    and comment markers inside a wrapped citation are folded to spaces."""
    out = []
    for root in _SOURCES:
        for path in sorted(root.rglob("*.py")):
            if path == pathlib.Path(__file__).resolve():
                continue
            src = re.sub(r"\s*\n\s*(?:#\s*)?", " ", path.read_text())
            for m in _CITATION.finditer(src):
                out.append((path.name, src[m.end():m.end() + 80]))
    return out


def test_section_citations_name_a_heading():
    headings = _headings()
    cited = 0
    for name, after in _citations():
        section = re.match(r"\s*§\s*", after)
        assert section, f"{name}: 'SCALE.md{after[:40]}' names no § section"
        cited += 1
        rest = after[section.end():]
        assert any(
            rest.startswith(h) and not rest[len(h):len(h) + 1].isalnum()
            for h in headings
        ), f"{name}: 'SCALE.md §{rest[:40]}' names no SCALE.md heading"
    assert cited >= 20  # non-vacuous: the package's own citations are found


def test_no_citation_names_a_round_addendum():
    for name, after in _citations():
        assert not _ADDENDUM.search(after[:40]), (
            f"{name}: 'SCALE.md{after[:40]}' cites a round addendum"
        )
    assert not [h for h in _headings() if re.match(r"(?:Round|r)[- ]?\d", h)]
