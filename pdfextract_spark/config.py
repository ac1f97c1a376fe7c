"""Engine configuration: the synthetic-layout parameters and the Spark
routing threshold.

The reference's analysis thresholds are module constants beside the oracle
code that applies them (oracle/*.py); SURVEY.md §2/§4 documents their
semantics and reference sources.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # ---- synthetic layout (S4-analog tokenizer; ours, deterministic) ----
    page_height: float = 800.0
    page_width: float = 600.0
    page_margin: float = 50.0
    column_gutter: float = 30.0
    line_leading_factor: float = 1.6            # baseline step = leading * font ysize
    char_aspect: float = 0.5                    # char width = aspect * font size

    # ---- Spark execution ----
    # spans-per-doc above which pipeline.run_extraction routes a doc through
    # the page-parallel operator (skew handling)
    oversize_span_threshold: int = 4_000


CONFIG = EngineConfig()
