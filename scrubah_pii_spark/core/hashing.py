"""Content fingerprints: normalization, SHA-256, bit-exact SimHash, FNV-1a-64.

From-scratch ports with bit parity to the reference:
  normalizeForHashing   /root/reference/services/contentHasher.effect.ts:37-44
  generateContentHash   :51-66  (SHA-256 hex of normalized text)
  generateSimHash       :74-98  (JS 32-bit rolling hash, 64-bit vote vector)
  calculateSimilarity   :106-113 (1 - hamming/64)
  fnv1aHash 64-bit      /root/reference/schemas/templateDetection.ts:259-273
  normalizeForFingerprint :277-299
  extractNGrams         :306-335
  detectDocumentType    /root/reference/services/contentHasher.effect.ts:151-171
  extractDates          :124-140
"""

from __future__ import annotations

import hashlib
import re

_WS_RE = re.compile(r"\s+")
_PLACEHOLDER_RE = re.compile(r"\[.*?\]")  # JS dot: no newlines (ws collapsed first)
_DATE_RE = re.compile(r"\d{1,2}/\d{1,2}/\d{2,4}", re.ASCII)

_INT32_MASK = 0xFFFFFFFF


def normalize_for_hashing(text: str) -> str:
    t = text.lower()
    t = _WS_RE.sub(" ", t)
    t = _PLACEHOLDER_RE.sub("", t)
    t = _DATE_RE.sub("DATE", t)
    return t.strip()


def content_hash(text: str) -> str:
    return hashlib.sha256(normalize_for_hashing(text).encode("utf-8")).hexdigest()


def _int32(x: int) -> int:
    x &= _INT32_MASK
    return x - 0x100000000 if x >= 0x80000000 else x


def js_string_hash32(word: str) -> int:
    """JS `hash = ((hash << 5) - hash) + charCode; hash &= hash` with exact
    int32 wrap-around semantics (UTF-16 code units == code points for BMP)."""
    h = 0
    for ch in word:
        h = _int32(_int32(h << 5) - h + ord(ch))
    return h


def simhash_bits(text: str) -> str:
    """64-char '0'/'1' string, bit i voted by ((hash >> (i % 32)) & 1)."""
    words = [w for w in _WS_RE.split(normalize_for_hashing(text)) if len(w) > 2]
    votes = [0] * 64
    for w in words:
        h = js_string_hash32(w)  # signed int32; >> sign-extends like JS
        for i in range(64):
            votes[i] += 1 if (h >> (i % 32)) & 1 else -1
    return "".join("1" if v > 0 else "0" for v in votes)


def simhash_int(text: str) -> int:
    """Same simhash packed into a signed 64-bit int (bit 0 = MSB of the
    bitstring) for storage as Spark BIGINT and native xor/bit_count joins.

    Vote i reads bit i % 32 of the word hash, so both 32-bit halves carry
    the same verdicts: count each hash bit's ones over the word vector in
    numpy and set bitstring position k where ones beat the minus votes
    (2 * ones > n), instead of simhash_bits' 64 Python votes per word."""
    import numpy as np

    words = [w for w in _WS_RE.split(normalize_for_hashing(text)) if len(w) > 2]
    if not words:
        return 0
    h = np.array([js_string_hash32(w) & _INT32_MASK for w in words], dtype="<u4")
    ones = np.unpackbits(h.view(np.uint8).reshape(-1, 4), axis=1,
                         bitorder="little").sum(axis=0)
    half = int.from_bytes(np.packbits(2 * ones > len(words)).tobytes(), "big")
    v = (half << 32) | half
    return v - (1 << 64) if v >= (1 << 63) else v


def simhash_similarity(bits1: str, bits2: str) -> float:
    dist = sum(1 for a, b in zip(bits1, bits2) if a != b)
    return 1 - dist / 64


# --- FNV-1a 64-bit (template fingerprinting) -----------------------------------
_FNV_PRIME = 0x00000100000001B3
_FNV_OFFSET = 0xCBF29CE484222325
_U64 = (1 << 64) - 1


def fnv1a64_hex(s: str) -> str:
    h = _FNV_OFFSET
    for ch in s:
        h ^= ord(ch)
        h = (h * _FNV_PRIME) & _U64
    return format(h, "016x")


_FNV_INV_PRIME = pow(_FNV_PRIME, -1, 1 << 64)  # p is odd -> invertible mod 2^64


def fnv1a64_hex_batch(strings, max_vectorized_len: int = 4096) -> list:
    """Vectorized FNV-1a-64 across a batch: pad code points into an (n, L)
    uint64 matrix, iterate character POSITIONS (not strings) updating the
    whole hash vector per step — O(max_len) numpy ops instead of
    O(total_chars) Python ops. Bit-identical to fnv1a64_hex (uint64 wraps).

    Robustness (the function is general-purpose, not just n-gram-sized):
    strings longer than max_vectorized_len fall back to the scalar path, so
    one long outlier can't inflate the whole batch's (n x max_len) matrix;
    lone-surrogate strings (utf-32 encode fails where ord() succeeds) also
    take the scalar path."""
    import numpy as np

    strs = [(s or "") for s in strings]
    n = len(strs)
    if n == 0:
        return []
    out: list = [None] * n
    vec_idx, vec_strs, lens_l = [], [], []
    for i, s in enumerate(strs):
        if len(s) > max_vectorized_len:
            out[i] = fnv1a64_hex(s)
            continue
        vec_idx.append(i)
        vec_strs.append(s)
        lens_l.append(len(s))
    if vec_idx:
        try:
            # ONE encode of the whole batch (the per-string encode loop was
            # the dominant cost at ~15us/string)
            flat = np.frombuffer(
                "".join(vec_strs).encode("utf-32-le"), dtype=np.uint32
            )
        except UnicodeEncodeError:
            # lone surrogates somewhere in the batch (rare): scalar ord()
            # path for the whole vectorized subset
            for i, s in zip(vec_idx, vec_strs):
                out[i] = fnv1a64_hex(s)
            return out
        lens = np.array(lens_l, dtype=np.int64)
        max_len = int(lens.max())
        nvec = len(vec_idx)
        h = np.full(nvec, _FNV_OFFSET, dtype=np.uint64)
        if max_len > 0:
            # Maskless formulation: run EVERY row through all max_len steps
            # (padded positions are 0, so each pad step is h=(h^0)*p = h*p),
            # then strip the surplus multiplications with p^-1 mod 2^64 —
            # p is odd, so the multiply is invertible. The loop body is two
            # contiguous vector ops; the per-position boolean-mask variant
            # this replaces paid two fancy-index COPIES per step (~10x).
            cp = np.zeros((max_len, nvec), dtype=np.uint64)  # position-major
            rows = np.repeat(np.arange(nvec), lens)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos_in_str = np.arange(int(lens.sum())) - np.repeat(starts, lens)
            cp[pos_in_str, rows] = flat  # one scatter for the whole batch
            prime = np.uint64(_FNV_PRIME)
            with np.errstate(over="ignore"):
                for pos in range(max_len):
                    h ^= cp[pos]
                    h *= prime
                # h_true = h_full * inv^(max_len - len): vectorized binary
                # exponentiation over the per-row pad count
                e = (max_len - lens).astype(np.uint64)
                b = np.full(nvec, _FNV_INV_PRIME, dtype=np.uint64)
                while e.any():
                    odd = (e & np.uint64(1)).astype(bool)
                    h[odd] *= b[odd]
                    e >>= np.uint64(1)
                    b *= b
        for row, i in enumerate(vec_idx):
            out[i] = format(int(h[row]), "016x")
    return out


_NUM_RE = re.compile(r"\d+")


def normalize_for_fingerprint(
    text: str,
    normalize_whitespace: bool = True,
    lowercase: bool = True,
    strip_numbers: bool = False,
) -> str:
    t = text
    if normalize_whitespace:
        t = _WS_RE.sub(" ", t).strip()
    if lowercase:
        t = t.lower()
    if strip_numbers:
        t = _NUM_RE.sub("#", t)
    return t


def extract_ngrams(lines: list, min_size: int = 2, max_size: int = 5) -> list:
    """[(hash, ngram_size, line_start)] over consecutive line windows; windows
    whose normalized content has <10 non-whitespace chars are skipped."""
    out = []
    norm = [normalize_for_fingerprint(l) for l in lines]
    for size in range(min_size, max_size + 1):
        for i in range(0, len(lines) - size + 1):
            content = "\n".join(norm[i : i + size])
            if len(_WS_RE.sub("", content)) < 10:
                continue
            out.append((fnv1a64_hex(content), size, i))
    return out


# --- date extraction + doc-type detection --------------------------------------
_DATE_PATTERNS = (
    re.compile(r"\d{1,2}[-/]\d{1,2}[-/]\d{2,4}", re.ASCII),
    re.compile(r"\d{4}[-/]\d{1,2}[-/]\d{1,2}", re.ASCII),
    re.compile(
        r"\b(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\s+\d{1,2},?\s+\d{4}",
        re.ASCII | re.IGNORECASE,
    ),
)


def extract_dates(text: str) -> list:
    seen, out = set(), []
    for pat in _DATE_PATTERNS:
        for m in pat.finditer(text):
            v = m.group(0)
            if v not in seen:
                seen.add(v)
                out.append(v)
    return out


_DOC_TYPE_RULES = (
    ("lab_report", re.compile(r"lab|labrpt|cbc|cmp|bmp|wbc|hemoglobin", re.I)),
    ("imaging", re.compile(r"ct|mri|x-?ray|ultrasound|imaging|radiology|mammogram", re.I)),
    ("pathology", re.compile(r"pathology|biopsy|specimen|histology", re.I)),
    ("progress_note", re.compile(r"progress note|soap|assessment|plan|provider", re.I)),
    ("medication", re.compile(r"medication|prescription|refill|pharmacy", re.I)),
    ("discharge", re.compile(r"discharge|summary|follow-?up instructions", re.I)),
    ("correspondence", re.compile(r"letter|correspondence|referral", re.I)),
)


def detect_document_type(filename: str, text: str) -> str:
    lower = (filename + " " + text[:500]).lower()
    for name, pat in _DOC_TYPE_RULES:
        if pat.search(lower):
            return name
    return "unknown"


# --- template classification (templateDetection.ts:188-249) ---------------------
_I = re.IGNORECASE
HEADER_PATTERNS = tuple(re.compile(p, _I) for p in (
    r"^patient\s*(name|id|mrn)",
    r"^(date|dob|age|sex|gender)",
    r"^(medical\s*record|chart|account)\s*#?",
    r"^(hospital|clinic|facility)\s*name",
    r"^(encounter|visit|admission)\s*(date|type)",
))
FOOTER_PATTERNS = tuple(re.compile(p, f) for p, f in (
    (r"^(page|pg\.?)\s*\d+\s*(of|/)\s*\d+", _I),
    (r"^(printed|generated|report\s*date)", _I),
    (r"^(clia|cap|laboratory)\s*(#|number|id)", _I),
    (r"^(medical|lab)\s*director", _I),
    (r"^(confidential|hipaa|privacy)", _I),
    (r"^\*{3,}|^-{3,}|^={3,}", 0),
))
SIGNATURE_PATTERNS = tuple(re.compile(p, _I) for p in (
    r"^(electronically\s*signed|e-?signed)",
    r"^(signed|authenticated)\s*by",
    r"^(provider|physician|doctor|md|do|np|pa)",
    r"^(signature|sign)\s*on\s*file",
))
LEGAL_PATTERNS = tuple(re.compile(p, _I) for p in (
    r"^(this\s*(report|document|record)\s*is)",
    r"^(confidential|protected\s*health)",
    r"^(not\s*for\s*(distribution|release))",
    r"^(fax|copy)\s*to:",
))
_MED_LIST_RE = re.compile(r"\b(mg|mcg|ml|tablet|capsule|bid|tid|qid|prn)\b", _I)
_DEMOGRAPHICS_RE = re.compile(r"\b(dob|mrn|ssn|address|phone|insurance)\b", _I)


def classify_template_type(content: str, position: str) -> str:
    """HEADER/FOOTER/SIGNATURE/LEGAL/MEDICATION_LIST/DEMOGRAPHICS/BOILERPLATE
    over the first 3 lines; position START/END/MIDDLE is the fallback."""
    sample = " ".join(content.split("\n")[:3]).lower()
    if any(p.search(sample) for p in HEADER_PATTERNS):
        return "HEADER"
    if any(p.search(sample) for p in FOOTER_PATTERNS):
        return "FOOTER"
    if any(p.search(sample) for p in SIGNATURE_PATTERNS):
        return "SIGNATURE"
    if any(p.search(sample) for p in LEGAL_PATTERNS):
        return "LEGAL"
    if position == "START":
        return "HEADER"
    if position == "END":
        return "FOOTER"
    if _MED_LIST_RE.search(sample):
        return "MEDICATION_LIST"
    if _DEMOGRAPHICS_RE.search(sample):
        return "DEMOGRAPHICS"
    return "BOILERPLATE"


def template_position(avg_line_offset: float, avg_doc_lines: float) -> str:
    """START/END/MIDDLE by avg line offset vs 20%/80% of avg doc length
    (templateDetection.effect.ts position rule)."""
    if avg_doc_lines <= 0:
        return "MIDDLE"
    frac = avg_line_offset / avg_doc_lines
    if frac <= 0.2:
        return "START"
    if frac >= 0.8:
        return "END"
    return "MIDDLE"
