"""Engine tunables. Values chosen for 100 TB-scale defaults, overridable.

The reference's sizing constants (``app/core/config.py:128-131``) sized
*chunks*; Spark's unit is the partition/Arrow batch, so the analogues are
``maxPartitionBytes`` and the Arrow batch size.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class QualityThresholds:
    """Gopher/C4-style heuristic rule thresholds (public defaults: Gopher
    §A1.1, C4 §2.2; see PAPERS.md). Applied in fixed order — the first
    failing rule becomes drop_reason."""

    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_ratio: float = 0.1          # (# + …) per word (Gopher)
    max_bullet_line_frac: float = 0.90     # lines starting with a bullet
    max_ellipsis_line_frac: float = 0.30   # lines ending with ellipsis
    min_alpha_word_frac: float = 0.80      # words containing ≥1 alpha char
    max_dup_line_frac: float = 0.30        # 1 - distinct/total lines
    min_stopword_hits: int = 2             # distinct C4 stopwords required
    max_perplexity: float = 28.0           # char-bigram LM threshold
                                           # (en ≤ ~13, gibberish ≥ ~39)
    allowed_langs: tuple[str, ...] = ("en",)


@dataclass(frozen=True)
class EngineConfig:
    quality: QualityThresholds = field(default_factory=QualityThresholds)
    # pattern battery version stamped into lineage rows; bump to force rescan
    pattern_version: int = 1


DEFAULT_CONFIG = EngineConfig()

# Drop-reason codes in decision order (first failing rule wins).
DROP_REASONS = (
    "empty",
    "too_short",
    "too_long",
    "word_length",
    "symbol_ratio",
    "bullet_lines",
    "ellipsis_lines",
    "low_alpha",
    "repetition",
    "language",
    "stopwords",
    "perplexity",
    "toxicity",
)
