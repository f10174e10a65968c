"""Seeded corpus generator for the benchmark.

One generator feeds every workload:

- ``write_text_dir`` lays a corpus out as the paper's input, a directory
  of plain-text files named ``<doc_id>.txt``, one document per file;
- ``write_documents_table`` lays it out as the ``documents`` parquet
  table the registry queries read.

Word frequencies follow a Zipf law over a fixed-size vocabulary and
document lengths are lognormal. At fixed per-token rates the text carries
the reference tokenizer's edge cases, so the benchmark exercises every
branch of the normalisation chain:

- a capitalised word with trailing punctuation (``Spark,``), which must
  come out lowercased and trimmed;
- a word inside ``<b>…</b>`` tags, which must lose the tags;
- ``&amp;`` (alone it trims to nothing; between two words the ``&``
  survives) and ``&nbsp;`` (splits one token into two words);
- digit-words (``x86``, ``2024``), which must vanish.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: The fixture corpus's domain words, placed at the head of the Zipf
#: ranking so the registry's data-independent probes (the phrase and
#: proximity queries look for ``table hash``) find matches.
HEAD_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

SYLLABLES = (
    "ba be bi bo bu ca ce ci co cu da de di do du fa fe fi fo fu ga ge gi go "
    "gu ka ke ki ko ku la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi "
    "po pu ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo vu za ze"
).split()

#: Per-token rates of the tokenizer edge cases.
CAP_PUNCT_RATE = 0.05
TAG_RATE = 0.01
AMP_RATE = 0.01
NBSP_RATE = 0.01
DIGIT_RATE = 0.02

TRAILING_PUNCT = (",", ".", ";", ":", "!", "?", ")", '"')


@dataclass(frozen=True)
class Corpus:
    """Generated documents and the sizes recorded with each result."""

    docs: tuple[tuple[int, str], ...]

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    @property
    def n_bytes(self) -> int:
        return sum(len(text.encode()) for _, text in self.docs)

    @property
    def n_tokens(self) -> int:
        """Whitespace-separated tokens as written, before normalisation."""
        return sum(len(text.split()) for _, text in self.docs)

    def sizes(self) -> dict[str, int]:
        return {
            "docs": self.n_docs,
            "bytes": self.n_bytes,
            "tokens": self.n_tokens,
        }


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``HEAD_WORDS`` then distinct two-to-four-syllable words."""
    words = list(HEAD_WORDS[:size])
    seen = set(words)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _decorate(word: str, nxt: str, r: float, pick: int) -> str:
    """One token, turned into an edge case when ``r`` falls in its band."""
    edge = r
    if edge < CAP_PUNCT_RATE:
        return word.capitalize() + TRAILING_PUNCT[pick % len(TRAILING_PUNCT)]
    edge -= CAP_PUNCT_RATE
    if edge < TAG_RATE:
        return f"<b>{word}</b>"
    edge -= TAG_RATE
    if edge < AMP_RATE:
        return "&amp;" if pick % 2 else f"{word}&amp;{nxt}"
    edge -= AMP_RATE
    if edge < NBSP_RATE:
        return f"{word}&nbsp;{nxt}"
    edge -= NBSP_RATE
    if edge < DIGIT_RATE:
        return f"{word}{pick % 100}" if pick % 2 else str(1900 + pick % 200)
    return word


def generate(
    seed: int,
    n_docs: int,
    vocab_size: int,
    mean_tokens: float,
    zipf_s: float = 1.05,
    length_sigma: float = 0.6,
) -> Corpus:
    """``n_docs`` documents with Zipf(``zipf_s``) words over ``vocab_size``
    words and lognormal lengths of mean ``mean_tokens`` tokens (at least 3)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    p /= p.sum()
    # lognormal shape, scaled so every seed writes the same token count
    shape = rng.lognormal(0.0, length_sigma, n_docs)
    lengths = np.maximum(3, shape / shape.sum() * n_docs * mean_tokens).astype(int)
    edge_rate = CAP_PUNCT_RATE + TAG_RATE + AMP_RATE + NBSP_RATE + DIGIT_RATE
    words = np.array(vocab, dtype=object)
    offsets = np.concatenate([[0], np.cumsum(lengths + 1)])
    ids_all = rng.choice(vocab_size, size=int(offsets[-1]), p=p)
    rs_all = rng.random(int(offsets[-1]))
    picks_all = rng.integers(0, 1 << 30, int(offsets[-1]))
    per_lines = rng.integers(6, 19, n_docs)
    docs = []
    for doc_id, n in enumerate(lengths):
        lo = offsets[doc_id]
        ids, rs, picks = ids_all[lo : lo + n + 1], rs_all[lo : lo + n], picks_all[lo : lo + n]
        toks = words[ids[:n]]
        for i in np.flatnonzero(rs < edge_rate):
            toks[i] = _decorate(toks[i], words[ids[i + 1]], rs[i], int(picks[i]))
        step = int(per_lines[doc_id])
        lines = [" ".join(toks[i : i + step]) for i in range(0, n, step)]
        docs.append((doc_id, "\n".join(lines)))
    return Corpus(tuple(docs))


def write_text_dir(corpus: Corpus, path: str) -> None:
    """One ``<doc_id>.txt`` file per document."""
    os.makedirs(path, exist_ok=True)
    for doc_id, text in corpus.docs:
        with open(os.path.join(path, f"{doc_id}.txt"), "w") as f:
            f.write(text + "\n")


def write_documents_table(corpus: Corpus, sf_dir: str) -> None:
    """The fixture ``documents`` schema: doc_id, text, lang, source, n_chars."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    langs = ("en", "de", "fr", "es", "zh")
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in corpus.docs], pa.int64()),
            "text": [t for _, t in corpus.docs],
            "lang": [langs[d % len(langs)] for d, _ in corpus.docs],
            "source": [f"src{d % 20}" for d, _ in corpus.docs],
            "n_chars": pa.array([len(t) for _, t in corpus.docs], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
