"""The MinHash band keys graft's clustering step would give a text.

The generator uses them to keep accidental band collisions out of the
corpus: a document that would share a band with an unrelated one is
drawn again, so every duplicate the pipeline can find was planted.

This mirrors, for the default `Dedup.MinHashConfig` (k=128, 5-byte
shingles, seed 42, 32 bands of 4 rows), the text the clustering step
sees: PII redaction (`PiiFunctions.redact`), then `normalizeForDedup`
(trim, whitespace runs to one space, lower case), then
`MinHashSignature`. If graft changes its hash family, the generator
still plants the same clusters; only its protection against chance
collisions weakens.
"""

import re

import numpy as np

K, NGRAM, SEED, ROWS = 128, 5, 42, 4
MASK = (1 << 64) - 1
ROLL_BASE = 1099511628211

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
SSN = re.compile(r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b")
IPV4 = re.compile(r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
                  r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b")
PHONE = re.compile(r"\+?[0-9][0-9()\-\s]{7,}[0-9]")
# every pattern above needs a digit or an "@"
MAYBE_PII = re.compile(r"[0-9@]")
WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _splitmix64_int(z):
    z = (z + 0x9E3779B97F4A7C15) & MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


def _perm_params():
    a, b, s = [], [], SEED
    for _ in range(K):
        s = _splitmix64_int(s)
        a.append(s | 1)
        s = _splitmix64_int(s)
        b.append(s)
    return np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)


PA, PB = _perm_params()
_POW = [np.uint64(pow(ROLL_BASE, NGRAM - 1 - i, 1 << 64)) for i in range(NGRAM)]


def _splitmix64(z):
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def dedup_text(text):
    t = text
    if MAYBE_PII.search(t):
        t = EMAIL.sub("<EMAIL>", t)
        t = SSN.sub("<SSN>", t)
        t = IPV4.sub("<IP>", t)
        t = PHONE.sub("<PHONE>", t)
    return WS.sub(" ", t.strip(" ")).lower()


def band_keys(text):
    """The 32 (band, rows) keys of `text`'s signature."""
    b = np.frombuffer(dedup_text(text).encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    n = len(b) - NGRAM + 1
    with np.errstate(over="ignore"):
        h = np.zeros(n, dtype=np.uint64)
        for i in range(NGRAM):
            h = h + b[i:i + n] * _POW[i]
        mixed = np.unique(_splitmix64(h))
        sig = (mixed[:, None] * PA[None, :] + PB[None, :]).min(axis=0)
    return [(i, sig[i * ROWS:(i + 1) * ROWS].tobytes()) for i in range(K // ROWS)]
