"""Seeded input generators. Every generator takes the seed as an argument
and draws only from its own ``random.Random``; the same seed gives the
same inputs byte for byte."""

from __future__ import annotations

import bisect
import itertools
import random

LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20


def _word(rng: random.Random) -> str:
    syll = ("ka", "to", "ri", "mu", "sel", "dor", "an", "pe", "lin", "vo",
            "ter", "ya", "qua", "ni", "bo", "zen", "fa", "gu", "hex", "os")
    return "".join(rng.choice(syll) for _ in range(rng.randint(1, 4)))


def vocabulary(rng: random.Random, size: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus(seed: int, n_docs: int, *, vocab_size: int = 2000, zipf_s: float = 1.1,
           words_min: int = 25, words_max: int = 75, exact_dup_share: float = 0.05,
           near_dup_share: float = 0.10, near_dup_edit: float = 0.08,
           header_share: float = 0.20, header_words: int = 20) -> dict:
    """A document corpus in the ``documents`` table's schema
    (doc_id, text, lang, source, n_chars).

    Words follow a Zipf(``zipf_s``) law over a generated vocabulary. Exactly
    ``exact_dup_share`` of the documents are copies of another document,
    ``near_dup_share`` are near copies (``near_dup_edit`` of their words
    replaced), and ``header_share`` open with the same boilerplate header,
    which makes one hot key for substring and shingle indexes. The shares
    are exact counts, not per-document coin flips, so the amount of
    duplicate work does not vary with the seed; which documents play which
    part, and their order, does. Returns column lists keyed by column name."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, vocab_size)
    cum = list(itertools.accumulate(1.0 / (r ** zipf_s) for r in range(1, vocab_size + 1)))
    total = cum[-1]

    def draw(k: int) -> list[str]:
        return [vocab[bisect.bisect_left(cum, rng.random() * total)] for _ in range(k)]

    n_exact, n_near = round(exact_dup_share * n_docs), round(near_dup_share * n_docs)
    n_header = round(header_share * n_docs)
    n_base = n_docs - n_exact - n_near
    if n_header + n_exact + n_near > n_base:
        raise ValueError("copies and header docs need more base documents")
    header = " ".join(draw(header_words))
    base = [" ".join(draw(rng.randint(words_min, words_max))) for _ in range(n_base)]
    # header docs come first among the base docs; copies are made of the
    # others, so copying never changes how many docs carry the header
    texts = [f"{header} {b}" for b in base[:n_header]] + base[n_header:]
    plain = texts[n_header:]
    texts += rng.sample(plain, n_exact)
    for src in rng.sample(plain, n_near):
        words = src.split(" ")
        for j in range(len(words)):
            if rng.random() < near_dup_edit:
                words[j] = draw(1)[0]
        while " ".join(words) == src:  # a near copy is never an exact one
            words[rng.randrange(len(words))] = draw(1)[0]
        texts.append(" ".join(words))
    rng.shuffle(texts)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


GROUPS = tuple(f"g{i:02d}" for i in range(16))


def keyed_rows(seed: int, n_rows: int) -> list[tuple[int, str, float, int]]:
    """The snapshot_dml base table: (k, grp, x, n) for k in 0..n_rows-1.
    ``x`` holds whole numbers so every sum the checks compare is exact."""
    rng = random.Random(seed)
    return [(k, rng.choice(GROUPS), float(rng.randint(0, 10_000)), rng.randint(0, 100))
            for k in range(n_rows)]
