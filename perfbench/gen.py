"""Seeded WET corpus generator for the crawl workloads.

Writes `shards` gzip WET files plus a `manifest.jsonl` that records, for
every generated document, its URL, its planted role and its exact text:

  unique   English prose that must survive every step
  dup      a member of a planted near-duplicate cluster (the first
           member is the base, the rest are light edits of it)
  junk     text built to fail one clean rule
  foreign  prose in another language, dropped by the quality step

Every random draw comes from one `random.Random(seed)`, through
`random()` and `randbytes()` only, and the gzip headers carry no name or
time, so one seed always gives byte-identical shards. Cluster sizes are
fixed by the settings (`cluster_sizes`); only the text differs by seed.

Duplication comes from the generator alone: a document that would share
a MinHash band with an unrelated one (lsh.py reproduces the clustering
step's band keys) is drawn again, and a near-duplicate that would not
share one with its own cluster is edited again. The text is labelled
`en` by the lid48 model: prose mixes English function words with
pseudo-words spelled from the same letters.
"""

import gzip
import io
import json
import math
import os
import random

import lsh

FUNCTION_WORDS = {
    "en": ["the", "and", "of", "is", "that", "with", "for", "have", "this", "from"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "haben", "dies", "von"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "avoir", "ce", "chaque"],
    "es": ["el", "los", "las", "es", "una", "que", "para", "tener", "este", "cada"],
}

FOREIGN = ["de", "fr", "es"]

# Pseudo-words are spelled from the fourteen letters of the English
# function words: with any wider alphabet the lid48 model reads the
# unseen letter grams as another language.
_LETTERS = "thearndofiswvm"


class Gen:
    """Deterministic draws from one seeded `random.Random`."""

    def __init__(self, seed):
        self.r = random.Random(seed)

    def u(self):
        return self.r.random()

    def below(self, n):
        return min(int(self.u() * n), n - 1)

    def pick(self, seq):
        return seq[self.below(len(seq))]

    def lognormal(self, median, sigma):
        # Box-Muller from two uniform draws
        u1 = max(self.u(), 1e-12)
        u2 = self.u()
        z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
        return median * math.exp(sigma * z)



_LETTER_OF_BYTE = bytes(ord(_LETTERS[b % len(_LETTERS)]) for b in range(256))


def make_lexicon(g, size):
    """`size` distinct pseudo-words of four to nine letters, so that no
    word is another language's stopword."""
    seen = set()
    words = []
    while len(words) < size:
        letters = g.r.randbytes(9 * size).translate(_LETTER_OF_BYTE).decode()
        pos = 0
        for b in g.r.randbytes(size):
            n = 4 + b % 6
            w = letters[pos:pos + n]
            pos += n
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return words


def sentence(g, lexicon, fwords, fshare):
    u, nl, nf = g.u, len(lexicon), len(fwords)
    ws = [fwords[int(u() * nf)] if u() < fshare else lexicon[int(u() * nl)]
          for _ in range(8 + g.below(13))]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def prose(g, lexicon, fwords, fshare, target_chars):
    lines = []
    total = 0
    while total < target_chars:
        k = 2 + g.below(4)
        line = " ".join(sentence(g, lexicon, fwords, fshare) for _ in range(k))
        lines.append(line)
        total += len(line) + 1
    return lines


def pii_line(g, lexicon):
    user = g.pick(lexicon)
    host = g.pick(lexicon)
    kind = g.below(3)
    if kind == 0:
        item = f"{user}.{g.below(100)}@{host}.example.org"
    elif kind == 1:
        item = f"+1 ({200 + g.below(700)}) {100 + g.below(900)}-{1000 + g.below(9000)}"
    else:
        item = f"{10 + g.below(200)}.{g.below(256)}.{g.below(256)}.{1 + g.below(254)}"
    return f"Contact {g.pick(lexicon)} at {item} for the {g.pick(lexicon)}."


def junk_text(g, lexicon, kind, target_chars):
    if kind == 0:  # too_sparse: words separated by long whitespace runs
        parts = []
        while sum(len(p) for p in parts) < target_chars:
            parts.append(g.pick(lexicon) + " " * (6 + g.below(6)))
        return "".join(parts).strip()
    if kind == 1:  # low_language_signal: digit tables
        rows = []
        while sum(len(r) + 1 for r in rows) < target_chars:
            rows.append(" ".join(str(g.below(100000)) for _ in range(8)))
        return "\n".join(rows)
    if kind == 2:  # too_much_punct
        parts = []
        while sum(len(p) for p in parts) < target_chars:
            parts.append(g.pick(lexicon)[:3] + "!?;:--" + "#" * (1 + g.below(3)))
        return " ".join(parts)
    # dup_lines: one boilerplate line repeated
    line = " ".join(g.pick(lexicon) for _ in range(6)) + "."
    reps = max(4, target_chars // (len(line) + 1))
    return "\n".join([line] * reps)


def edit(g, lines, lexicon, rate):
    """A near-duplicate: replace about `rate` of the words of `lines`."""
    out = []
    for line in lines:
        ws = line.split(" ")
        for i in range(len(ws)):
            if g.u() < rate:
                ws[i] = g.pick(lexicon)
        out.append(" ".join(ws))
    return out


def cluster_sizes(total, lo, hi, alpha):
    """Sizes of near-duplicate clusters holding `total` docs: the
    quantiles of a Zipf(alpha) law on [lo, hi], largest first. Fixed by
    the settings, not drawn, so every seed plants the same skew."""
    if total < lo:
        return []
    sizes = list(range(lo, hi + 1))
    weights = [s ** -alpha for s in sizes]
    mean = sum(s * w for s, w in zip(sizes, weights)) / sum(weights)
    n = max(1, round(total / mean))

    def quantile(q):
        x = q * sum(weights)
        for s, w in zip(sizes, weights):
            x -= w
            if x < 0:
                return s
        return hi

    out = sorted((quantile((i + 0.5) / n) for i in range(n)), reverse=True)
    # spread the rounding difference over the clusters, largest first
    diff, i = total - sum(out), 0
    while diff and i < n * (hi - lo + 1):
        step = 1 if diff > 0 else -1
        if lo <= out[i % n] + step <= hi:
            out[i % n] += step
            diff -= step
        i += 1
    return out


def generate(cfg, seed, out_dir):
    """Write shards and manifest for workload settings `cfg`; return a summary."""
    g = Gen(seed)
    lexicon = make_lexicon(g, cfg["lexicon_words"])
    fshare = cfg["function_word_share"]
    n_docs = cfg["docs"]
    median, sigma = cfg["median_chars"], cfg["length_sigma"]
    max_chars = cfg["max_chars"]

    def length():
        return int(min(max(g.lognormal(median, sigma), cfg["min_chars"]), max_chars))

    docs = []  # (kind, cluster, text)
    # band key -> cluster of the doc that holds it (-1: not in a cluster)
    bands = {}
    redrawn = 0

    def collides(keys, cl):
        return any(bands.get(k, cl) != cl or (cl < 0 and k in bands) for k in keys)

    def accept(kind, cl, text, keys):
        for k in keys:
            bands.setdefault(k, cl)
        docs.append((kind, cl, text))

    def with_pii(lines):
        return lines + [pii_line(g, lexicon)] if g.u() < cfg["pii_share"] else lines

    sizes = cluster_sizes(int(n_docs * cfg["near_dup_share"]), 2, cfg["max_cluster"],
                          cfg["cluster_alpha"])
    n_dup = 0
    cluster = 0
    while cluster < len(sizes):
        size = sizes[cluster]
        base = prose(g, lexicon, FUNCTION_WORDS["en"], fshare, length())
        text = "\n".join(with_pii(base))
        keys = lsh.band_keys(text)
        if collides(keys, -1):
            redrawn += 1
            continue
        accept("dup", cluster, text, keys)
        for _ in range(size - 1):
            # a member must share a band with its own cluster, and only with it
            for _attempt in range(100):
                text = "\n".join(with_pii(edit(g, base, lexicon, cfg["edit_rate"])))
                keys = lsh.band_keys(text)
                if not collides(keys, cluster) and any(bands.get(k) == cluster for k in keys):
                    break
                redrawn += 1
            else:
                raise ValueError("edit_rate too high: near-duplicates stop colliding")
            accept("dup", cluster, text, keys)
        n_dup += size
        cluster += 1
    n_foreign = int(n_docs * cfg["foreign_share"])
    while len(docs) < n_dup + n_foreign:
        lang = FOREIGN[len(docs) % len(FOREIGN)]
        # foreign prose leans on its function words so the model is sure;
        # the few it still keeps must not collide either
        text = "\n".join(prose(g, lexicon, FUNCTION_WORDS[lang], 0.5, length()))
        keys = lsh.band_keys(text)
        if collides(keys, -1):
            redrawn += 1
            continue
        accept("foreign", -1, text, keys)
    for i in range(int(n_docs * cfg["junk_share"])):
        docs.append(("junk", -1, junk_text(g, lexicon, i % 4, length())))
    while len(docs) < n_docs:
        text = "\n".join(with_pii(prose(g, lexicon, FUNCTION_WORDS["en"], fshare, length())))
        keys = lsh.band_keys(text)
        if collides(keys, -1):
            redrawn += 1
            continue
        accept("unique", -1, text, keys)

    # shuffle so clusters and roles spread over every shard
    order = list(range(len(docs)))
    for i in range(len(order) - 1, 0, -1):
        j = g.below(i + 1)
        order[i], order[j] = order[j], order[i]

    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(out_dir):
        os.remove(os.path.join(out_dir, name))
    shards = cfg["shards"]
    bufs = [io.BytesIO() for _ in range(shards)]
    for s, b in enumerate(bufs):
        info = f"software: graft-perfbench\r\nshard: {s}\r\n".encode()
        b.write(b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
                + f"Content-Length: {len(info)}\r\n\r\n".encode() + info + b"\r\n\r\n")
    manifest = []
    input_bytes = 0
    for pos, di in enumerate(order):
        kind, cl, text = docs[di]
        url = f"http://h{di % 997}.example.com/doc/{di}"
        payload = text.encode("utf-8")
        input_bytes += len(payload)
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2024-0{1 + di % 9}-{10 + di % 18}T00:00:00Z\r\n"
            f"WARC-Record-ID: <urn:uuid:{seed:08x}-{di:012x}>\r\n"
            "Content-Type: text/plain\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        bufs[pos % shards].write(head + payload + b"\r\n\r\n")
        manifest.append({"url": url, "kind": kind, "cluster": cl, "text": text})
    wet_bytes = 0
    for s, b in enumerate(bufs):
        path = os.path.join(out_dir, f"shard-{s:05d}.wet.gz")
        with open(path, "wb") as f:
            with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0,
                               compresslevel=6) as z:
                z.write(b.getvalue())
        wet_bytes += os.path.getsize(path)
    with open(os.path.join(os.path.dirname(out_dir), "manifest.jsonl"), "w",
              encoding="utf-8") as f:
        for m in manifest:
            f.write(json.dumps(m, ensure_ascii=False) + "\n")
    return {"docs": len(docs), "clusters": cluster, "redrawn": redrawn,
            "wet_bytes": wet_bytes, "text_bytes": input_bytes}
