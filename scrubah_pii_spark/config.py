"""Pipeline configuration: the six values a caller can set.

Every field here is read by the engine (tests/test_config.py guards that).
The defaults are the reference's literal config values, semantics only, no
code copied:
  scrub_mode                      App.tsx:123-151 (production cascade order)
  ocr_min_quality                 compressionPipeline.effect.ts:102-135
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ScrubConfig:
    # Cascade selection (App.tsx:123-151): the production path runs the
    # WORKER rule set first, then the Effect pass over its output with maps
    # merged — the default mirrors App.tsx. "effect" runs only the Effect
    # cascade (the reference's deterministic test configuration, and the
    # config its byte-identical goldens pin).
    scrub_mode: str = "worker_then_effect"  # "effect" | "worker_then_effect"


@dataclass(frozen=True)
class QualityConfig:
    # simplified per-doc quality gate (compressionPipeline.effect.ts:102-135)
    ocr_min_quality: float = 0.3


@dataclass(frozen=True)
class RelevanceConfig:
    # Fixed "current year" so recency scoring is deterministic & reproducible.
    current_year: int = 2026


@dataclass(frozen=True)
class LangIdConfig:
    keep_langs: tuple = ("en",)


@dataclass(frozen=True)
class ShapingConfig:
    """Optional corpus-shaping applied to the pipeline OUTPUT (after dedup
    and leak-check, before the sink) — the training-data-mix controls a CC
    pipeline runs last. Both default OFF (0) so the byte-identical output
    goldens are unaffected unless a run opts in.

    host_cap_n: keep only the best N docs per host (relevance desc, url/ts
    tiebreak) via the skew-safe salted two-phase top-N.
    lang_cap: deterministic per-language quota downsampling (integer-LCG
    predicate over xxhash64(url, warc_ts) — re-runs/backfills keep the
    SAME docs)."""
    host_cap_n: int = 0
    lang_cap: int = 0


@dataclass(frozen=True)
class PipelineConfig:
    shaping: ShapingConfig = field(default_factory=ShapingConfig)
    scrub: ScrubConfig = field(default_factory=ScrubConfig)
    quality: QualityConfig = field(default_factory=QualityConfig)
    relevance: RelevanceConfig = field(default_factory=RelevanceConfig)
    langid: LangIdConfig = field(default_factory=LangIdConfig)


DEFAULT_PIPELINE_CONFIG = PipelineConfig()
