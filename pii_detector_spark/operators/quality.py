"""Gopher/C4-style heuristic quality rules: the tokenization spec and the
word lists they share.

The rules themselves run in one place, the fused pass's row loop
(``operators/fused.py``), which every pipeline run and the declared
``quality_metrics`` / ``quality_keep`` queries execute.  This module holds
what that pass shares with the independent test oracle (``tests/oracle.py``)
and the DuckDB oracle SQL.

Tokenization spec:
* words  = text split on ASCII whitespace ``[ \\t\\n\\r\\f\\x0B]+``, empties
  dropped (Java and Python regex agree on this explicit class; bare ``\\s``
  differs between the two and is avoided).
* lines  = text split on ``\\n``, empties dropped. The pipeline computes
  quality on extraction-normalized text (``textnorm.normalize_text``), so
  lines are pre-stripped and contain no ``\\r``/``\\t``.

Rule order is fixed (config.DROP_REASONS); the first failing rule is the
document's drop_reason — applied identically by the oracle.
"""

from __future__ import annotations

# C4-style English stopword probe set (shared with oracle)
STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "i", "it", "with",
)

BULLET_PREFIXES: tuple[str, ...] = ("- ", "* ", "• ")
ELLIPSIS_SUFFIXES: tuple[str, ...] = ("...", "…")
