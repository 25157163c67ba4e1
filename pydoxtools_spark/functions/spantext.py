"""Canonical span-text rendering conventions, shared by the extraction
kernels AND the fixture generator so span equality is well-defined
(SURVEY.md §7.3 risk 1: freeze every convention in one place)."""

from __future__ import annotations

import re

from ..constants import PARAGRAPH_SPLIT_REGEX

CELL_SEP = " | "
ROW_SEP = "\n"
LIST_ITEM_SEP = "\n"

_WS = re.compile(r"\s+")


def norm_ws(s: str) -> str:
    """Collapse internal whitespace, strip ends (block-text normal form)."""
    return _WS.sub(" ", s).strip()


def table_to_text(rows: list[list[str]]) -> str:
    """Render a cell grid to the canonical table-span text.

    Mirrors the reference's table-as-text emission
    (extract_textstructure.py:378-384 renders the table df to string);
    we pin a simpler canonical form: cells ' | '-joined, rows '\n'-joined.
    """
    return ROW_SEP.join(CELL_SEP.join(norm_ws(c) for c in row) for row in rows)


def list_to_text(items: list[str]) -> str:
    return LIST_ITEM_SEP.join(norm_ws(i) for i in items)


def split_paragraphs(text: str) -> list[str]:
    """Blank-line paragraph split (extract_textstructure.py:72-82)."""
    parts = re.split(PARAGRAPH_SPLIT_REGEX, text.strip())
    return [p for p in (p.strip() for p in parts) if p]


# Java's \s (no UNICODE_CHARACTER_CLASS): the JVM regex dialect the
# split was first defined in, where a no-break space or U+2028 is text
_SQL_PARAGRAPH_SPLIT = re.compile(
    PARAGRAPH_SPLIT_REGEX.replace(r"\s", r"[ \t\n\x0b\f\r]"))


def sql_paragraphs(text: str | None) -> list[tuple[int, str]]:
    """(position, paragraph) pairs of Spark SQL's
    posexplode(split(trim(text), PARAGRAPH_SPLIT_REGEX)), each part
    trimmed and empty ones dropped: trim strips spaces only, and the
    regex's \\s is Java's [ \\t\\n\\x0b\\f\\r].  NULL -> no paragraphs."""
    if text is None:
        return []
    parts = _SQL_PARAGRAPH_SPLIT.split(text.strip(" "))
    return [(i, p.strip(" ")) for i, p in enumerate(parts) if p.strip(" ")]
