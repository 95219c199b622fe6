"""Language identification.

North-rule stage (no reference analog — the reference is English-only medical
text). Two tiers:
  1. ``heuristic_langid`` — deterministic stopword scorer. The flagship's
     fused doc-features UDF and q_langid (``operators/scrub_op.langid_udf``)
     both run it; plain substring counts, so the DuckDB oracle reproduces it
     exactly.
  2. fastText (lid.176.bin) behind a guarded import for real deployments; the
     model file ships via spark-submit --files and loads once per executor.
"""

from __future__ import annotations

# Per-language marker words. Scoring = count of markers contained in the
# lowercased text (substring with surrounding spaces, so SQL LIKE can mirror
# it 1:1). Deterministic tie-break: language list order.
LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " to ", " is ", " was ", " with ", " for "),
    "de": (" der ", " die ", " und ", " ist ", " das ", " nicht ", " mit ", " für "),
    "fr": (" le ", " la ", " les ", " et ", " est ", " une ", " dans ", " pour "),
    "es": (" el ", " los ", " las ", " es ", " una ", " para ", " con ", " por "),
}

LANG_ORDER = tuple(LANG_MARKERS)


def heuristic_langid(text: str) -> tuple:
    """Return (lang, score, margin). lang='xx' when no marker hits at all."""
    padded = " " + text.lower().replace("\n", " ") + " "
    scores = {
        lang: sum(padded.count(m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], LANG_ORDER.index(kv[0])))
    best, second = ranked[0], ranked[1]
    if best[1] == 0:
        return ("xx", 0, 0)
    return (best[0], best[1], best[1] - second[1])


_FASTTEXT_MODEL = None  # executor-local lazy singleton


def fasttext_langid(text: str, model_path: str):
    """fastText lid.176 prediction; raises cleanly when the lib is absent.

    The model is a module-level singleton: loaded once per executor process,
    never per row/batch (mirrors the reference's memoized model loading,
    piiScrubber.effect.ts:101-134).
    """
    global _FASTTEXT_MODEL
    if _FASTTEXT_MODEL is None:
        try:
            import fasttext  # type: ignore
        except ImportError as e:  # pragma: no cover - env without fasttext
            raise NotImplementedError(
                "fasttext is not installed in this environment; "
                "use heuristic_langid or ship the lib via --py-files"
            ) from e
        _FASTTEXT_MODEL = fasttext.load_model(model_path)
    labels, probs = _FASTTEXT_MODEL.predict(text.replace("\n", " "))
    return labels[0].replace("__label__", ""), float(probs[0])
