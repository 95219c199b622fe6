"""Quality-gate column program (native, whole-stage-codegen friendly).

Exactly the simplified quality heuristic of
/root/reference/services/compressionPipeline.effect.ts:102-135:
  alphaRatio>0.5 (+0.3), 0.1<spaceRatio<0.3 (+0.2),
  3<avgWordLen<15 (+0.3), wordCount>10 (+0.2); pass iff score >= 0.3.
Agrees bit-for-bit with core.quality.simple_quality_score (tested).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_count(col: Column, char_class: str) -> Column:
    """Occurrences of a regex char class, computed as length delta (native)."""
    return F.length(col) - F.length(F.regexp_replace(col, char_class, ""))


def word_count(col: Column) -> Column:
    return F.size(F.filter(F.split(col, r"\s+"), lambda w: F.length(w) > 0))


def quality_columns(text: Column) -> dict:
    n = F.greatest(F.length(text), F.lit(1)).cast("double")
    alpha = char_count(text, "[a-zA-Z]").cast("double") / n
    space = char_count(text, r"\s").cast("double") / n
    wc = word_count(text)
    non_space_len = (F.length(text) - char_count(text, r"\s")).cast("double")
    avg_wl = F.when(wc > 0, non_space_len / wc.cast("double")).otherwise(F.lit(0.0))
    score = (
        F.when(alpha > 0.5, 0.3).otherwise(0.0)
        + F.when((space > 0.1) & (space < 0.3), 0.2).otherwise(0.0)
        + F.when((avg_wl > 3) & (avg_wl < 15), 0.3).otherwise(0.0)
        + F.when(wc > 10, 0.2).otherwise(0.0)
    )
    return {
        "alpha_ratio": alpha,
        "space_ratio": space,
        "word_count": wc,
        "avg_word_len": avg_wl,
        "quality_score": score,
    }

