"""Text-analysis kernels: fingerprinting, minhash/simhash signatures,
language-ID and quality scoring helpers.

Pure Python/numpy, deterministic (fixed seeds, stable hash = blake2b —
never Python's salted hash()). The Spark layer wraps these in Arrow row
UDFs (pipeline/textstats.py, pipeline/dedup.py).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

_MERSENNE61 = (1 << 61) - 1
_WORD_RE = re.compile(r"\S+")

# Minimal per-language stopword markers for n-gram/stopword language ID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "los", "las", "es", "una", "que", "por"),
    "it": ("il", "di", "che", "per", "con", "sono", "una"),
}


def stable_hash64(data: bytes) -> int:
    """Deterministic 64-bit hash (blake2b truncation)."""
    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "big")


def tokens(text: str) -> list[str]:
    return _WORD_RE.findall(text)


def word_shingles(text: str, k: int = 3) -> set[bytes]:
    ws = tokens(text.lower())
    if len(ws) < k:
        return {(" ".join(ws)).encode()} if ws else set()
    return {(" ".join(ws[i : i + k])).encode() for i in range(len(ws) - k + 1)}


def _minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    # odd multipliers -> multiply-shift universal family over 2^64
    a = (rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64)
    return a, b


_MINHASH_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def minhash_signature(text: str, num_perm: int = 128, k: int = 3, seed: int = 42) -> np.ndarray:
    """MinHash over word k-shingles; returns uint64[num_perm]."""
    key = (num_perm, seed)
    if key not in _MINHASH_CACHE:
        _MINHASH_CACHE[key] = _minhash_params(num_perm, seed)
    a, b = _MINHASH_CACHE[key]
    sh = word_shingles(text, k)
    if not sh:
        return np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    hv = np.fromiter((stable_hash64(s) for s in sh), dtype=np.uint64, count=len(sh))
    # multiply-shift family with uint64 wraparound (vectorized, deterministic)
    with np.errstate(over="ignore"):
        prod = hv[:, None] * a[None, :] + b[None, :]
    return np.min(prod, axis=0)


def minhash_bands(sig: np.ndarray, bands: int = 32) -> list[int]:
    """Split signature into bands; hash each band -> LSH bucket keys."""
    rows = len(sig) // bands
    out = []
    for bi in range(bands):
        chunk = sig[bi * rows : (bi + 1) * rows].tobytes()
        out.append(stable_hash64(bytes([bi]) + chunk) & 0x7FFFFFFFFFFFFFFF)
    return out


def simhash64(text: str) -> int:
    """64-bit SimHash over word tokens (Charikar 2002)."""
    v = np.zeros(64, dtype=np.int64)
    for w in tokens(text.lower()):
        h = stable_hash64(w.encode())
        bits = np.unpackbits(np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8))
        v += np.where(bits.astype(np.int64) == 1, 1, -1)
    bits = (v > 0).astype(np.uint8)
    return int.from_bytes(np.packbits(bits).tobytes(), "big")


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def winnowing_fingerprint(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Document fingerprint via winnowing (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003): rolling-hash all k-grams, keep the min hash of each
    sliding window (rightmost-min rule), dedup consecutive picks."""
    t = text.lower()
    n = len(t)
    if n < k:
        return [stable_hash64(t.encode())] if t else []
    base, mod = 1_000_003, _MERSENNE61
    h = 0
    pw = pow(base, k - 1, mod)
    hashes: list[int] = []
    for i, ch in enumerate(t):
        h = (h * base + ord(ch)) % mod
        if i >= k:
            h = (h - ord(t[i - k]) * pw * base) % mod
        if i >= k - 1:
            hashes.append(h)
    picks: list[int] = []
    last_idx = -1
    for w0 in range(0, len(hashes) - window + 1):
        wnd = hashes[w0 : w0 + window]
        mn = min(wnd)
        idx = w0 + max(i for i, v in enumerate(wnd) if v == mn)
        if idx != last_idx:
            picks.append(hashes[idx])
            last_idx = idx
    return picks if picks else [hashes[0]]


# Character-trigram profiles per language (tiny, derived from the marker
# stopwords + common orthography; rank-based cosine-free scoring). The
# n-gram path complements the stopword markers for short/unsegmented text.
_LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "ing", "ion", "to ", "of ", " th", "ed ", "is ", "in "),
    "de": ("der", "die", "und", "ich", "sch", "ein", "cht", "en ", "ung", " de"),
    "fr": ("les", "des", "ent", "que", "ait", "ion", " de", "la ", "est", "une"),
    "es": ("los", "las", "que", "ión", "ado", "ent", " de", "el ", "es ", "una"),
    "it": ("che", "ione", " di", "il ", "la ", "per", "con", "are", "ato", "gli"),
}


def char_trigram_scores(text: str) -> dict[str, int]:
    """Count profile-trigram hits per language over the lowercased text."""
    t = " " + text.lower() + " "
    return {
        lang: sum(t.count(g) for g in grams)
        for lang, grams in _LANG_TRIGRAMS.items()
    }


def detect_lang_ngram(text: str) -> str:
    """Character-n-gram language ID (rank-profile style, cf. Cavnar &
    Trenkle 1994's n-gram categorization — simplified to profile-hit
    counts). Returns 'und' when nothing matches."""
    scores = char_trigram_scores(text)
    top = max(scores.values()) if scores else 0
    if top == 0:
        return "und"
    return sorted(l for l, s in scores.items() if s == top)[0]


def lang_scores(text: str) -> dict[str, int]:
    ws = set(tokens(text.lower()))
    return {lang: sum(1 for m in markers if m in ws)
            for lang, markers in LANG_MARKERS.items()}


def detect_lang(text: str) -> str:
    scores = lang_scores(text)
    best = max(scores.items(), key=lambda kv: (kv[1], -ord(kv[0][0])))
    if best[1] == 0:
        return "und"
    # deterministic tie-break: highest score, then alphabetical
    top = max(scores.values())
    return sorted(l for l, s in scores.items() if s == top)[0]


def quality_score(text: str) -> float:
    """Heuristic [0,1] quality: length, punctuation ratio, stopword ratio,
    mean word length sweet spot. Deterministic arithmetic only."""
    if not text:
        return 0.0
    n = len(text)
    ws = tokens(text)
    n_words = len(ws)
    if n_words == 0:
        return 0.0
    punct = sum(1 for c in text if not c.isalnum() and not c.isspace())
    punct_ratio = punct / n
    stop = set()
    for m in LANG_MARKERS.values():
        stop.update(m)
    stop_ratio = sum(1 for w in ws if w.lower() in stop) / n_words
    mean_wlen = sum(len(w) for w in ws) / n_words
    len_score = min(1.0, n / 500.0)
    wlen_score = max(0.0, 1.0 - abs(mean_wlen - 5.0) / 5.0)
    punct_score = max(0.0, 1.0 - punct_ratio * 5.0)
    stop_score = min(1.0, stop_ratio * 4.0)
    return round(0.3 * len_score + 0.2 * wlen_score + 0.25 * punct_score
                 + 0.25 * stop_score, 6)
