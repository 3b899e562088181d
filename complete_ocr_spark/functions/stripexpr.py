"""Catalyst forms of the per-block pieces of the boilerplate strip
(``kernels.textstrip.strip_blocks``): the plain-text and anchor-length
expressions ``queries.q_strip_text_blocks`` builds its block scores from.

Dialect note: Java regex ``\\s`` is ASCII while Python ``re`` ``\\s`` on str is
Unicode-aware; the span model's content is ASCII-whitespace only, where the
two agree (pinned by the q_strip_text_blocks DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_A_RE = r"(?s)<a\b[^>]*>(.*?)</a>"


def _plain(block: Column) -> Column:
    """Tag-strip + whitespace-collapse: `" ".join(_TAG_RE.sub(" ", b).split())`."""
    return F.trim(F.regexp_replace(F.regexp_replace(block, r"<[^>]+>", " "), r"\s+", " "))


def _link_chars(block: Column) -> Column:
    """Total collapsed anchor-text length: `sum(len(" ".join(m.split())))`.

    Collapse BEFORE trim (mirroring ``_plain``): Spark ``trim`` strips only
    ASCII spaces, so trimming first leaves a leading/trailing tab/newline to
    be collapsed into a counted space — ``"\\tfoo bar"`` would score 8 where
    the Python kernel's ``len(" ".join(m.split()))`` scores 7. Parity covers
    ASCII whitespace only — Unicode whitespace (NBSP etc.) falls under the
    module-level dialect contract (span content is ASCII-whitespace only).
    The tab case is pinned in tests/test_pipeline_golden.py."""
    return F.aggregate(
        F.transform(
            F.regexp_extract_all(block, F.lit(_A_RE), 1),
            lambda m: F.length(F.trim(F.regexp_replace(m, r"\s+", " "))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
