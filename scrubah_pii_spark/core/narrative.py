"""Deterministic narrative-section formatters (the reference's template-based
summary generation — explicitly "Deterministic output for same input",
narrativeGeneration.effect.ts:5-11).

From-scratch ports of /root/reference/schemas/narrativeGeneration.ts:
  formatDiagnosesSummary    :140-180
  formatLabsSummary         :231-281
  formatVitalsSummary       :286-310
  defaultNarrativeConfig    :56-72
Verbosity tiers MINIMAL / BRIEF / STANDARD / DETAILED. Used by the narrative
UDF over extraction columns, which carry no medications, so
formatMedicationsSummary (:185-226) is not ported; each formatter is pure.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class NarrativeConfig:
    verbosity: str = "STANDARD"  # MINIMAL | BRIEF | STANDARD | DETAILED
    use_bullet_points: bool = True
    use_abbreviations: bool = True
    include_units: bool = True
    highlight_abnormal: bool = True


DEFAULT_NARRATIVE_CONFIG = NarrativeConfig()


def format_diagnoses_summary(diagnoses: list, cfg: NarrativeConfig = DEFAULT_NARRATIVE_CONFIG) -> str:
    """diagnoses: [{description, type, icdCode?, status?}]"""
    if not diagnoses:
        return ""
    primary = next((d for d in diagnoses if d.get("type") == "PRIMARY"), None)
    secondary = [d for d in diagnoses if d.get("type") != "PRIMARY"]

    if cfg.verbosity == "MINIMAL":
        all_s = ", ".join(d["description"] for d in diagnoses)
        return all_s[:100] + ("..." if len(all_s) > 100 else "")

    lines = []
    if primary:
        icd = f" ({primary['icdCode']})" if primary.get("icdCode") else ""
        lines.append(f"Primary: {primary['description']}{icd}")
    if secondary:
        if cfg.verbosity == "BRIEF":
            lines.append(f"Secondary: {len(secondary)} additional diagnoses")
        else:
            prefix = "• " if cfg.use_bullet_points else "- "
            for d in secondary:
                icd = f" ({d['icdCode']})" if d.get("icdCode") else ""
                lines.append(f"{prefix}{d['description']}{icd}")
    return "\n".join(lines)


def format_labs_summary(labs: list, cfg: NarrativeConfig = DEFAULT_NARRATIVE_CONFIG) -> str:
    """labs: [{testName, value, unit, status}]"""
    if not labs:
        return ""
    abnormal = [l for l in labs if l["status"] not in ("NORMAL", "UNKNOWN")]
    normal = [l for l in labs if l["status"] in ("NORMAL", "UNKNOWN")]
    if cfg.verbosity == "MINIMAL":
        return "Labs WNL" if not abnormal else f"{len(abnormal)} abnormal lab(s)"
    prefix = "• " if cfg.use_bullet_points else "- "
    lines = []
    for lab in abnormal:
        unit = f" {lab['unit']}" if cfg.include_units else ""
        status = lab["status"]
        if cfg.highlight_abnormal and "CRITICAL" in status:
            flag = " ⚠️"
        elif "HIGH" in status:
            flag = " (H)"
        elif "LOW" in status:
            flag = " (L)"
        else:
            flag = ""
        lines.append(f"{prefix}{lab['testName']}: {lab['value']}{unit}{flag}")
    if cfg.verbosity == "DETAILED":
        for lab in normal:
            unit = f" {lab['unit']}" if cfg.include_units else ""
            lines.append(f"{prefix}{lab['testName']}: {lab['value']}{unit}")
    elif cfg.verbosity == "STANDARD" and normal:
        lines.append(f"{len(normal)} other labs within normal limits")
    return "\n".join(lines)


def format_vitals_summary(vitals: list, cfg: NarrativeConfig = DEFAULT_NARRATIVE_CONFIG) -> str:
    """vitals: [{type, value, unit, status?}]"""
    if not vitals:
        return ""
    by_type = {}
    for v in vitals:
        by_type.setdefault(v["type"], v)
    parts = []
    bps, bpd = by_type.get("BP_SYSTOLIC"), by_type.get("BP_DIASTOLIC")
    if bps and bpd:
        parts.append(
            f"BP {bps['value']}/{bpd['value']}" if cfg.use_abbreviations
            else f"Blood Pressure {bps['value']}/{bpd['value']} mmHg"
        )
    hr = by_type.get("HEART_RATE")
    if hr:
        parts.append(f"HR {hr['value']}" if cfg.use_abbreviations else f"Heart Rate {hr['value']} bpm")
    rr = by_type.get("RESPIRATORY_RATE")
    if rr:
        parts.append(f"RR {rr['value']}" if cfg.use_abbreviations else f"Respiratory Rate {rr['value']}/min")
    temp = by_type.get("TEMPERATURE")
    if temp:
        unit = "°F" if cfg.include_units else ""
        parts.append(f"T {temp['value']}{unit}" if cfg.use_abbreviations else f"Temperature {temp['value']}{unit}")
    spo2 = by_type.get("SPO2")
    if spo2:
        parts.append(f"SpO2 {spo2['value']}%" if cfg.use_abbreviations else f"Oxygen Saturation {spo2['value']}%")
    if cfg.verbosity == "MINIMAL":
        return ", ".join(parts[:3])
    return ", ".join(parts)


def narrative_for_extraction(labs, vitals, icd10_codes, cfg: NarrativeConfig = DEFAULT_NARRATIVE_CONFIG) -> str:
    """Compose a document narrative from the structured-extraction columns
    (labs: [(test, value, unit, status)], vitals: [(vital, value)])."""
    vital_map = {
        "BP": None, "HR": "HEART_RATE", "RR": "RESPIRATORY_RATE",
        "TEMP": "TEMPERATURE", "SPO2": "SPO2",
    }
    v_structs = []
    for name, value in vitals or []:
        if name == "BP":
            v_structs.append({"type": "BP_SYSTOLIC", "value": value, "unit": "mmHg"})
        elif name == "BP_DIA":
            v_structs.append({"type": "BP_DIASTOLIC", "value": value, "unit": "mmHg"})
        elif name in vital_map and vital_map[name]:
            v_structs.append({"type": vital_map[name], "value": value, "unit": ""})
    l_structs = [
        {"testName": t, "value": v, "unit": u or "", "status": s}
        for (t, v, u, s) in (labs or [])
    ]
    d_structs = [
        {"description": code, "type": "PRIMARY" if i == 0 else "SECONDARY", "icdCode": code}
        for i, code in enumerate(icd10_codes or [])
    ]
    sections = []
    dx = format_diagnoses_summary(d_structs, cfg)
    if dx:
        sections.append("DIAGNOSES:\n" + dx)
    lb = format_labs_summary(l_structs, cfg)
    if lb:
        sections.append("LABS:\n" + lb)
    vt = format_vitals_summary(v_structs, cfg)
    if vt:
        sections.append("VITALS:\n" + vt)
    return "\n\n".join(sections)
