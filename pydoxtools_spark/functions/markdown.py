"""Markdown (and mediawiki) block extraction — from-scratch parser.

The reference converts markdown/wiki payloads to pandoc's AST and maps
top-level blocks to its element format (extract_pandoc.py:98-167):
Header -> Header element (text = plain title, tracked as the section),
Table / BulletList / OrderedList -> Table / List elements, everything
else -> Text, each rendered to plain text.  pandoc is not in this
sandbox and markdown-the-format is ubiquitous in training corpora, so
this module implements the block grammar subset the corpus needs from
public CommonMark knowledge only:

  ATX headers (#..######, trailing #s stripped), setext headers
  (=== / --- underlines), fenced code blocks (``` / ~~~, verbatim),
  pipe tables (header + :---: separator + body rows, rendered through
  the canonical table_to_text form), bullet/ordered list runs
  (rendered through list_to_text), standalone image paragraphs
  (![alt](url) -> image span with media_ref, matching the HTML
  branch's media harvest), thematic breaks (skipped), paragraphs
  (whitespace-normalized).

Mediawiki aliases onto the same extractor via a line-level pre-pass
(wiki_to_markdown): == headers ==, */# list markers, [[links]],
{{templates}}, ''' bold '''.

Everything here is per-document python executed inside an
Arrow-batched mapInPandas kernel (pipeline._payload_branch through
kernels.map_rows) — no per-row Python at the Spark level.
"""

from __future__ import annotations

import re

from ..constants import (
    KIND_HEADER,
    KIND_IMAGE,
    KIND_LIST,
    KIND_TABLE,
    KIND_TEXT,
)
from .spantext import list_to_text, norm_ws, table_to_text

_ATX = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_FENCE = re.compile(r"^(```+|~~~+)\s*(\S*)\s*$")
_LIST_ITEM = re.compile(r"^\s{0,3}(?:(?P<bullet>[-*+])|\d{1,9}[.)])\s+(?P<item>.*)$")
_TABLE_SEP = re.compile(r"^\s*\|?\s*:?-+:?\s*(\|\s*:?-+:?\s*)*\|?\s*$")
_THEMATIC = re.compile(r"^\s{0,3}((\*\s*){3,}|(-\s*){3,}|(_\s*){3,})$")
_SETEXT = re.compile(r"^\s{0,3}(=+|-+)\s*$")
_IMAGE_PARA = re.compile(r"^\s*!\[([^\]]*)\]\(\s*(\S+?)(?:\s+\"[^\"]*\")?\s*\)\s*$")
_INLINE_IMG = re.compile(r"!\[([^\]]*)\]\(\s*(\S+?)(?:\s+\"[^\"]*\")?\s*\)")
_INLINE_LINK = re.compile(r"\[([^\]]+)\]\(\s*\S+?\s*\)")
_EMPH = re.compile(r"(\*{1,3}|_{1,3})(?=\S)(.+?)(?<=\S)\1")
_CODE_SPAN = re.compile(r"`([^`\n]+)`")


def _plain_inline(s: str) -> str:
    """Inline markup -> plain text (the pandoc 'plain' writer's effect
    on the constructs we support): links/images keep their label/alt,
    emphasis and code spans keep their content."""
    s = _INLINE_IMG.sub(lambda m: m.group(1), s)
    s = _INLINE_LINK.sub(lambda m: m.group(1), s)
    s = _EMPH.sub(lambda m: m.group(2), s)
    s = _CODE_SPAN.sub(lambda m: m.group(1), s)
    return s


def _table_cells(line: str) -> list[str]:
    """One pipe-table row -> stripped cell texts (outer pipes dropped)."""
    s = line.strip()
    if s.startswith("|"):
        s = s[1:]
    if s.endswith("|"):
        s = s[:-1]
    return [c.strip() for c in s.split("|")]


def extract_markdown_spans(text: str) -> list[tuple[str, str | None, str | None]]:
    """Markdown payload -> ordered (kind, text, media_ref) spans."""
    lines = (text or "").split("\n")
    n = len(lines)
    spans: list[tuple[str, str | None, str | None]] = []
    para: list[str] = []

    def flush_para():
        if not para:
            return
        joined = " ".join(para)
        para.clear()
        m = _IMAGE_PARA.match(joined)
        if m:
            spans.append((KIND_IMAGE, None, m.group(2)))
            return
        t = norm_ws(_plain_inline(joined))
        if t:
            spans.append((KIND_TEXT, t, None))

    i = 0
    while i < n:
        line = lines[i]
        stripped = line.strip()

        if not stripped:
            flush_para()
            i += 1
            continue

        fm = _FENCE.match(stripped)
        if fm:
            flush_para()
            # CommonMark 4.5: the closing fence must use the same char
            # and be AT LEAST as long as the opening run — a ```` block
            # is not closed by ``` (nested example fences stay inside)
            opening = fm.group(1)
            fchar = opening[0]

            def _closes(s: str) -> bool:
                s = s.strip()
                run = len(s) - len(s.lstrip(fchar))
                return run >= len(opening) and not s.lstrip(fchar)

            body = []
            i += 1
            while i < n and not _closes(lines[i]):
                body.append(lines[i])
                i += 1
            i += 1  # closing fence (or EOF)
            code = "\n".join(body).rstrip("\n")
            if code.strip():
                spans.append((KIND_TEXT, code, None))
            continue

        am = _ATX.match(line)
        if am:
            flush_para()
            title = norm_ws(_plain_inline(am.group(2)))
            if title:
                spans.append((KIND_HEADER, title, None))
            i += 1
            continue

        if _THEMATIC.match(line) and not para:
            i += 1
            continue

        # setext header: exactly one pending paragraph line + underline
        if para and len(para) == 1 and _SETEXT.match(line):
            title = norm_ws(_plain_inline(para[0]))
            para.clear()
            if title:
                spans.append((KIND_HEADER, title, None))
            i += 1
            continue

        lm = _LIST_ITEM.match(line)
        if lm:
            flush_para()
            # a marker-class switch (bullet <-> ordered) starts a new
            # list block, like pandoc's separate BulletList/OrderedList
            ordered = lm.group("bullet") is None
            items = []
            while i < n:
                m2 = _LIST_ITEM.match(lines[i])
                if not m2 or (m2.group("bullet") is None) != ordered:
                    break
                items.append(_plain_inline(m2.group("item")))
                i += 1
            spans.append((KIND_LIST, list_to_text(items), None))
            continue

        # pipe table: candidate row followed by a separator line
        if "|" in stripped and i + 1 < n and _TABLE_SEP.match(lines[i + 1]) \
                and "-" in lines[i + 1]:
            flush_para()
            header = _table_cells(stripped)
            rows = [header]
            i += 2  # skip separator
            while i < n and "|" in lines[i] and lines[i].strip():
                rows.append(_table_cells(lines[i]))
                i += 1
            width = len(header)
            grid = [
                [_plain_inline(r[c]) if c < len(r) else "" for c in range(width)]
                for r in rows
            ]
            spans.append((KIND_TABLE, table_to_text(grid), None))
            continue

        para.append(line)
        i += 1

    flush_para()
    return spans


# ------------------------------------------------------------- mediawiki

_WIKI_HEADER = re.compile(r"^\s*(={1,6})\s*(.*?)\s*=+\s*$")
_WIKI_LIST = re.compile(r"^([*#]+)\s*(.*)$")
_WIKI_LINK = re.compile(r"\[\[(?:[^\]|]*\|)?([^\]|]*)\]\]")
_WIKI_TEMPLATE = re.compile(r"\{\{[^}]*\}\}")
_WIKI_BOLD = re.compile(r"'{2,5}")


def wiki_to_markdown(text: str) -> str:
    """Mediawiki markup -> the markdown subset above (line-level
    pre-pass; reference document.py:107-113 detects the format, pandoc
    parses it — here wiki aliases onto the markdown extractor)."""
    out = []
    for line in (text or "").split("\n"):
        hm = _WIKI_HEADER.match(line)
        if hm:
            line = "#" * len(hm.group(1)) + " " + hm.group(2)
        else:
            lm = _WIKI_LIST.match(line)
            if lm:
                marker = "-" if lm.group(1)[-1] == "*" else "1."
                line = marker + " " + lm.group(2)
        line = _WIKI_TEMPLATE.sub("", line)
        line = _WIKI_LINK.sub(lambda m: m.group(1), line)
        line = _WIKI_BOLD.sub("", line)
        out.append(line)
    return "\n".join(out)


def extract_wiki_spans(text: str) -> list[tuple[str, str | None, str | None]]:
    return extract_markdown_spans(wiki_to_markdown(text))
