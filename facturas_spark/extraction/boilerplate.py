"""Main-content extraction from HTML: tag-offset flattening + block scoring.

The north rule asks for Readability/trafilatura-style boilerplate stripping —
link-density and text-density block scoring over a flattened tag-offset
array — generalizing the reference's line-level content filter
(process-invoice/index.ts:1493-1510,1575-1592: keep lines with length 5-120
and letter-ratio >= 0.3, skip label/number/date-only lines).

Design: a single deterministic pure-Python pass per document (stdlib ``re``
+ ``html`` only), run batched inside an Arrow pandas UDF. The parse
flattens the byte stream into (tag, start, end) events once, then scores
text blocks; no DOM tree is materialized (cheap + allocation-light, which
is what survives 10^12 documents).

Pipeline per document:
1. strip <script>/<style>/<!-- --> spans
2. walk tags, tracking <a> nesting to attribute link chars
3. block boundaries at block-level tags (p, div, br, li, tr, h1-6, table,
   section, article)
4. per block: text = entity-decoded inter-tag text; link_density =
   link_chars/total_chars; letter_ratio
5. keep block if len >= 5 and link_density <= 0.5 and letter_ratio >= 0.1,
   OR block contains an amount/date/CIF shape (invoice payloads are
   digit-heavy: a pure prose heuristic would drop the totals table)
6. join kept blocks with '\n'

The output feeds :func:`facturas_spark.extraction.textparse.extract_fields`;
the byte-identical invariant is over this function's output per url.
"""

from __future__ import annotations

import html as _html
import re

from facturas_spark.extraction.textparse import (
    _DMY,
    _LEADING_KEYWORD_1,
    _LETTERS,
    _ONLY_DIGITS,
)

__all__ = ["extract_main_text", "line_content_mask"]

_SCRIPT_STYLE = re.compile(
    r"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
_TAG = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*?(/?)>")
_WS_RUN = re.compile(r"[ \t\r\f\v]+")
_BLOCK_TAGS = frozenset(
    "p div br li tr h1 h2 h3 h4 h5 h6 table thead tbody section article "
    "header footer ul ol blockquote pre td th".split()
)
# td/th separate cells with a space, not a newline — but ending a row (tr)
# breaks the block. Cell tags that only force a space:
_CELL_TAGS = frozenset({"td", "th"})
_LETTER = re.compile(r"[A-Za-zÀ-ÿ]")
# shapes that force-keep a block even when digit-heavy (invoice fields)
_VALUE_SHAPE = re.compile(
    r"\d+[,\.]\d{2}\s*€?"               # amount
    r"|\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}"  # date
    r"|\b[A-Z]\-?\d{8}[A-Z0-9]?\b"      # CIF
)


def extract_main_text(html_payload: bytes | str | None) -> str:
    """Deterministic boilerplate strip: HTML -> main-content plain text.

    Returns '' for empty/None input. Non-HTML input (no '<' at all) is
    returned whitespace-normalized per line, so plain-text payloads pass
    through unchanged modulo trailing-space cleanup.
    """
    if html_payload is None:
        return ""
    if isinstance(html_payload, (bytes, bytearray)):
        if bytes(html_payload[:4]) == b"%PDF":
            # PDF payloads: pull text from the content streams
            # (sources/pdf.py), then fall through the same per-line
            # normalization as plain text. The sniff is a 4-byte compare,
            # so the html/text hot path is untouched.
            from facturas_spark.sources.pdf import pdf_extract_text

            raw = pdf_extract_text(bytes(html_payload))
        else:
            raw = bytes(html_payload).decode("utf-8", errors="replace")
    else:
        raw = html_payload
    if not raw:
        return ""
    if "<" not in raw:
        lines = [_WS_RUN.sub(" ", ln).strip() for ln in raw.split("\n")]
        return "\n".join(ln for ln in lines if ln)

    raw = _SCRIPT_STYLE.sub(" ", raw)

    blocks: list[tuple[str, int]] = []  # (text, link_chars)
    buf: list[str] = []
    link_chars = 0
    a_depth = 0
    pos = 0

    def flush() -> None:
        nonlocal buf, link_chars
        text = _WS_RUN.sub(" ", "".join(buf)).strip()
        if text:
            blocks.append((text, link_chars))
        buf = []
        link_chars = 0

    for m in _TAG.finditer(raw):
        seg = raw[pos : m.start()]
        if seg:
            seg = _html.unescape(seg)
            buf.append(seg)
            if a_depth > 0:
                link_chars += len(seg.strip())
        pos = m.end()
        closing, name, _self = m.group(1), m.group(2).lower(), m.group(3)
        if name == "a":
            if closing:
                a_depth = max(0, a_depth - 1)
            else:
                a_depth += 1
        elif name in _CELL_TAGS:
            buf.append(" ")
        elif name in _BLOCK_TAGS:
            flush()
    tail = raw[pos:]
    if tail:
        seg = _html.unescape(tail)
        buf.append(seg)
        if a_depth > 0:
            link_chars += len(seg.strip())
    flush()

    kept: list[str] = []
    for text, links in blocks:
        n = len(text)
        if n == 0:
            continue
        # ratios are evaluated lazily, in branch order: blocks decided by
        # the value-shape probe never pay the per-char digit scan, and the
        # letter scan runs only when the last branch is reached (the
        # division forms are kept verbatim — `count/n >= r` and
        # `count >= r*n` round differently at the boundary)
        if _VALUE_SHAPE.search(text):
            kept.append(text)
        elif n <= 60 and sum(map(str.isdigit, text)) / n >= 0.4:
            # short digit-dense blocks are document identifiers (invoice
            # numbers, codes) — prose heuristics would wrongly drop them
            kept.append(text)
        elif (
            n >= 5
            and links / n <= 0.5
            and len(_LETTER.findall(text)) / n >= 0.1
        ):
            kept.append(text)
    return "\n".join(kept)


def line_content_mask(line: str) -> bool:
    """Reference line-level content filter (T4,
    process-invoice/index.ts:1493-1510): keep 'name-like' content lines —
    length 5..120, letter-ratio >= 0.3 with >= 4 letters, not pure
    numbers/dates/labels."""
    cand = line.strip()
    if len(cand) < 5 or len(cand) > 120:
        return False
    if _ONLY_DIGITS.match(cand):
        return False
    if _DMY.match(cand):
        return False
    if _LEADING_KEYWORD_1.match(cand):
        return False
    letters = len(_LETTERS.findall(cand))
    return letters >= 4 and letters >= len(cand) * 0.3
