"""Seeded input generators for the pipeline benchmark.

Everything here is a pure function of its seed: the same seed gives the same
bytes on every machine.  The program under test only ever sees the files the
benchmark writes from these arrays and documents.

Imaging cohorts (``phantom_cohort``)
    Each volume is a 3-D CT-like phantom with an anisotropic grid: axis 0
    is the thick-slice axis with spacing ``spacing0`` (one value per cohort,
    the acquisition protocol), axes 1 and 2 have unit spacing.  It holds
    ``n_blobs`` smooth solid ellipsoids (flat core of intensity 1, linear
    fall-off to 0 over one voxel of the normalised radius) whose semi-axes
    are drawn in isotropic voxels, plus Gaussian noise.  Blobs may touch,
    so a volume has at most ``n_blobs`` components.  Volumes are float32.

Corpus shards (``corpus_shard``)
    ASCII documents over four synthetic languages (en 55 %, de 15 %,
    fr 15 %, es 15 %), each a Zipf-distributed vocabulary of syllable
    words.  Lengths are log-normal in tokens with a few very long
    documents.  Planted: exact duplicates (a copy of an earlier document
    with case and whitespace changes, which the normaliser removes),
    near duplicates (a copy with a small share of tokens replaced) and
    low-quality documents (token spam with a low type/token ratio, runs of
    over-long tokens, or fewer than five tokens).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Imaging
# ---------------------------------------------------------------------------


def phantom(rng: np.random.Generator, shape: tuple[int, int, int], spacing0: float,
            n_blobs: int, radius: tuple[float, float], noise: float) -> np.ndarray:
    """One phantom of grid ``shape``; radii are in isotropic voxels."""
    z = (np.arange(shape[0], dtype=np.float64) * spacing0)[:, None, None]
    y = np.arange(shape[1], dtype=np.float64)[None, :, None]
    x = np.arange(shape[2], dtype=np.float64)[None, None, :]
    extent = np.array([shape[0] * spacing0, shape[1], shape[2]])
    vol = np.zeros(shape, dtype=np.float64)
    for _ in range(n_blobs):
        r = rng.uniform(*radius, size=3)
        c = rng.uniform(r + 1.0, extent - r - 1.0)
        d = np.sqrt(((z - c[0]) / r[0]) ** 2 + ((y - c[1]) / r[1]) ** 2
                    + ((x - c[2]) / r[2]) ** 2)
        np.maximum(vol, np.clip(2.0 - d * 1.5, 0.0, 1.0), out=vol)
    vol += rng.normal(0.0, noise, size=shape)
    return vol.astype(np.float32)


def phantom_cohort(seed: int, n_volumes: int, side: tuple[int, int],
                   spacing_choices: tuple[float, ...], n_blobs: tuple[int, int],
                   radius: tuple[float, float], noise: float = 0.08, uniform: bool = False):
    """A cohort: ``({image_id: volume}, spacing0)``.

    In-plane sides span ``side`` evenly across the cohort (``h`` rising,
    ``w`` falling), in a seeded order, so every cohort of one size holds the
    same set of grid shapes; with ``uniform`` every volume has one side
    drawn from ``side``.  The slice count is the in-plane mean over
    ``spacing0``, so every volume is roughly cubic once zoomed to isotropic
    spacing.
    """
    rng = np.random.default_rng(seed)
    spacing0 = float(rng.choice(spacing_choices))
    if uniform:
        s = int(rng.integers(side[0], side[1] + 1))
        sides = [(s, s)] * n_volumes
    else:
        lin = np.linspace(side[0], side[1], n_volumes).round().astype(int)
        sides = [(int(lin[k]), int(lin[-1 - k])) for k in rng.permutation(n_volumes)]
    vols = {}
    for i, (h, w) in enumerate(sides):
        d = max(4, int(round((h + w) / 2 / spacing0)))
        vols[i] = phantom(rng, (d, h, w), spacing0,
                          int(rng.integers(n_blobs[0], n_blobs[1] + 1)), radius, noise)
    return vols, spacing0


# ---------------------------------------------------------------------------
# Text
# ---------------------------------------------------------------------------

_LANGS = {
    # language: (share, onsets, vowels, codas)
    "en": (0.55, "b c d f g h l m n p r s t w", "a e i o u", "n s t r l d"),
    "de": (0.15, "b d f g h k l m n r s t w z sch", "a e i o u ei au", "n t r ch st"),
    "fr": (0.15, "b c d f j l m n p r s t v", "a e i o ou eau ai", "s t n r x"),
    "es": (0.15, "b c d g l m n p r s t v ll", "a e i o u", "s n r l z"),
}
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "data", "value"]


def _vocab(rng: np.random.Generator, lang: str, size: int) -> np.ndarray:
    _, onsets, vowels, codas = _LANGS[lang]
    on, vo, co = onsets.split(), vowels.split(), codas.split()
    words = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 4))
        w = "".join(on[rng.integers(len(on))] + vo[rng.integers(len(vo))]
                    for _ in range(n_syl))
        if rng.random() < 0.5:
            w += co[rng.integers(len(co))]
        words.add(w)
    return np.array(sorted(words))


def _zipf_words(rng, vocab: np.ndarray, n: int, stopwords: bool) -> list[str]:
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()
    out = list(vocab[rng.choice(len(vocab), size=n, p=p)])
    # English carries real stopwords, so the stopword ratio varies by language
    if stopwords:
        for k in rng.choice(n, size=max(1, n // 10), replace=True):
            out[int(k)] = _STOP[int(rng.integers(len(_STOP)))]
    return out


def corpus_shard(seed: int, n_docs: int, exact_dup: float, near_dup: float,
                 low_quality: float, median_tokens: int, sigma: float,
                 long_docs: int, long_tokens: int, vocab_size: int = 3000) -> list[dict]:
    """``n_docs`` documents ``{doc_id, text, lang}``; doc ids are 0..n-1.

    ``exact_dup``/``near_dup``/``low_quality`` are shares of ``n_docs``
    (a duplicate drawn for document 0 is generated as an original);
    token counts are log-normal(``log(median_tokens)``, ``sigma``) clipped
    to [5, 4 * median * e^(2 sigma)], and ``long_docs`` documents get
    ``long_tokens`` tokens each.
    """
    rng = np.random.default_rng(seed)
    names = list(_LANGS)
    shares = np.array([_LANGS[k][0] for k in names])
    vocabs = {k: _vocab(np.random.default_rng([seed, i]), k, vocab_size)
              for i, k in enumerate(names)}
    # exact counts of each kind, in seeded order: shards of one size cost
    # about the same to curate whatever the seed
    counts = [round(n_docs * f) for f in (exact_dup, near_dup, low_quality)]
    kinds = rng.permutation(np.repeat([0, 1, 2, 3], [n_docs - sum(counts), *counts]))
    long_ids = set(int(v) for v in rng.choice(n_docs, size=long_docs, replace=False))
    cap = int(4 * median_tokens * np.exp(2 * sigma))
    docs = []
    for i in range(n_docs):
        kind = int(kinds[i])
        lang = names[int(rng.choice(len(names), p=shares))]
        if i in long_ids:
            kind, n_tok = 0, long_tokens
        else:
            n_tok = int(np.clip(rng.lognormal(np.log(median_tokens), sigma), 5, cap))
        if kind in (1, 2) and i > 0:
            src = docs[int(rng.integers(max(0, i - 500), i))]
            lang = src["lang"]
            toks = src["text"].split()
            if kind == 1:
                text = _restyle(rng, toks)
            else:
                toks = list(toks)
                n_edit = max(1, len(toks) // 25)
                for k in rng.choice(len(toks), size=n_edit, replace=True):
                    toks[int(k)] = vocabs[lang][int(rng.integers(len(vocabs[lang])))]
                text = " ".join(toks)
        elif kind == 3:
            text = _low_quality(rng, vocabs[lang])
        else:
            text = " ".join(_zipf_words(rng, vocabs[lang], n_tok, lang == "en"))
        docs.append({"doc_id": i, "text": text, "lang": lang})
    return docs


def _restyle(rng, toks: list[str]) -> str:
    """Same normalised text, different bytes: case and whitespace changes."""
    out = []
    for t in toks:
        out.append(t.upper() if rng.random() < 0.1 else t)
        out.append("  " if rng.random() < 0.05 else " ")
    return ("\n" if rng.random() < 0.5 else "") + "".join(out).rstrip() + "  "


def _low_quality(rng, vocab: np.ndarray) -> str:
    mode = int(rng.integers(3))
    if mode == 0:  # spam: a handful of words repeated
        few = vocab[rng.choice(len(vocab), size=3)]
        return " ".join(few[rng.integers(3, size=int(rng.integers(30, 120)))])
    if mode == 1:  # over-long tokens (mean chars per token > 12)
        return " ".join("".join(vocab[rng.choice(len(vocab), size=6)])
                        for _ in range(int(rng.integers(10, 40))))
    return " ".join(vocab[rng.choice(len(vocab), size=int(rng.integers(1, 5)))])
