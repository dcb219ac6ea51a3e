"""Seeded benchmark inputs, cached per seed.

One seed makes every input of every workload:

* ``corpus/``: plain-text files whose words follow Zipf(1.1) over a
  generated vocabulary. Short words, numbers, capitals, tabs and
  punctuation are mixed in so that every ``prepare_tokens`` filter fires.
* ``stopwords.txt``: a stop-word file (frequent vocabulary words, words
  that never occur, and one entry that keeps a trailing quote).
* ``near_docs.parquet`` and ``maintain_docs.parquet``: ``(doc_id, text)``
  tables of about 120-word documents, a fifth of them planted
  near-duplicates of an earlier document with one to six words replaced.
* ``index_expected.txt``: the expected inverted index of the corpus,
  computed by :func:`perfbench.model.reference_index`.
* ``inputs.json``: sizes (bytes, files, docs, vocabulary, words per doc)
  and the planted pairs.

Generation happens before any timed region; a second call with the same
seed reuses the cache directory.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.model import reference_index

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
CORPUS_FILES = 40
CORPUS_BYTES = 12_000_000
DOC_BYTES = 720
DUP_SHARE = 0.2
DUP_EDITS = (1, 6)
NEAR_DOCS = 1_000
MAINTAIN_BASE = 200
MAINTAIN_BATCHES = 2
MAINTAIN_BATCH_DOCS = 25
MAINTAIN_FIRST_ID = 1_000_001

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_TRAILING = np.array([",", ".", ";", ":", "!", "?", "'s", "--", ")", '"'])
_LEADING = np.array(["(", '"', "'", "[", "#"])


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """Distinct lowercase words, rank 1 first. Frequent ranks get short
    words, as in natural text, so the length filter drops many tokens, and
    one word in fifty carries a digit (``xo2b``), which passes the numeric
    filter. Word lengths and digits come from a fixed generator, so every
    seed's vocabulary has the same shape and only its letters differ."""
    shape = np.random.default_rng(0)
    ranks = np.arange(1, VOCAB_SIZE + 1)
    lengths = np.clip(np.rint(1.5 + 0.75 * np.log(ranks) + shape.normal(0, 1.2, VOCAB_SIZE)), 1, 14)
    digits = np.where(shape.random(VOCAB_SIZE) < 0.02, shape.integers(0, 10, VOCAB_SIZE), -1)
    letters = iter(rng.integers(0, 26, int(lengths.sum()) * 2).tolist())
    words: list[str] = []
    seen: set[str] = set()
    for n, d in zip(lengths.astype(int).tolist(), digits.tolist()):
        for attempt in range(100):
            # a length whose words are used up grows by one letter
            w = "".join(chr(97 + next(letters)) for _ in range(n + attempt // 10))
            if d >= 0 and len(w) > 2:
                w = w[: len(w) // 2] + str(d) + w[len(w) // 2 :]
            if w not in seen:
                break
        seen.add(w)
        words.append(w)
    return np.array(words, dtype=object)


def _zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB_SIZE - 1)


def _decorate(rng: np.random.Generator, toks: np.ndarray) -> np.ndarray:
    """Capitals, attached punctuation, numbers and hyphenation, applied
    to a token array in place of plain words."""
    toks = toks.copy()
    n = toks.size
    r = rng.random(n)
    cap = r < 0.08
    toks[cap] = [t.capitalize() for t in toks[cap]]
    upper = (r >= 0.08) & (r < 0.09)
    toks[upper] = [t.upper() for t in toks[upper]]
    r = rng.random(n)
    num = r < 0.02
    toks[num] = [str(v) for v in rng.integers(-999, 100_000, int(num.sum()))]
    trail = (r >= 0.02) & (r < 0.14)
    toks[trail] = toks[trail] + rng.choice(_TRAILING, int(trail.sum()))
    lead = (r >= 0.14) & (r < 0.16)
    toks[lead] = rng.choice(_LEADING, int(lead.sum())) + toks[lead]
    hyph = (r >= 0.16) & (r < 0.18)
    nxt = np.roll(toks, -1)
    toks[hyph] = toks[hyph] + "-" + nxt[hyph]
    return toks


def _corpus(rng: np.random.Generator, vocab: np.ndarray, out_dir: str) -> dict:
    n_tokens = CORPUS_BYTES // 6
    toks = _decorate(rng, vocab[_zipf_ranks(rng, n_tokens)])
    # lines of 4-16 tokens; a few use a tab or a form feed between words
    # (StringTokenizer delimiters) and a few are blank
    line_lens = rng.integers(4, 17, n_tokens // 6)
    bounds = np.cumsum(line_lens)
    bounds = bounds[bounds < n_tokens]
    lines = []
    seps = rng.choice([" ", " ", " ", " ", " ", " ", "\t", "  ", "\f"], bounds.size + 1)
    for i, part in enumerate(np.split(toks, bounds)):
        lines.append(seps[i].join(part))
    blank = rng.random(len(lines)) < 0.03
    lines = ["" if b else ln for ln, b in zip(lines, blank)]
    # files of uneven size, as in a real collection
    weights = rng.uniform(0.4, 1.6, CORPUS_FILES)
    cuts = (np.cumsum(weights / weights.sum())[:-1] * len(lines)).astype(int)
    os.makedirs(out_dir)
    total = 0
    for i, chunk in enumerate(np.split(np.array(lines, dtype=object), cuts)):
        data = ("\n".join(chunk) + "\n").encode()
        with open(os.path.join(out_dir, f"text_{i:02d}.txt"), "wb") as f:
            f.write(data)
        total += len(data)
    return {"bytes": total, "files": CORPUS_FILES, "lines": len(lines), "tokens": int(n_tokens)}


def _stopwords(rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    frequent = [w for w in vocab[:600] if len(w) >= 3][:250]
    absent = ["".join(rng.choice(_LETTERS, 7)) + "q" for _ in range(60)]
    return frequent + absent + ['herse"', "The"]


def _doc_words(rng: np.random.Generator, vocab: np.ndarray) -> np.ndarray:
    """Decorated Zipf words, as many as fill DOC_BYTES characters, so every
    document (and every seed's table) has nearly the same size."""
    words = _decorate(rng, vocab[_zipf_ranks(rng, DOC_BYTES // 3)])
    ends = np.cumsum([len(w) + 1 for w in words])
    return words[: int(np.searchsorted(ends, DOC_BYTES)) + 1]


def _docs(
    rng: np.random.Generator, vocab: np.ndarray, n_docs: int, first_id: int
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """``n_docs`` documents, DUP_SHARE of them planted near-duplicates. A
    duplicate copies an earlier original that has no other copy and
    replaces 1-6 of its words. Returns the rows and the planted
    ``(original_id, duplicate_id)`` pairs."""
    dup_at = set(rng.choice(np.arange(10, n_docs), round(DUP_SHARE * n_docs), replace=False))
    rows: list[tuple[int, str]] = []
    uncopied: list[tuple[int, np.ndarray]] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        doc_id = first_id + i
        if i in dup_at and uncopied:
            src, words = uncopied.pop(int(rng.integers(0, len(uncopied))))
            words = words.copy()
            k = int(rng.integers(DUP_EDITS[0], DUP_EDITS[1] + 1))
            pos = rng.choice(words.size, k, replace=False)
            words[pos] = vocab[(_zipf_ranks(rng, k) + 200) % VOCAB_SIZE]
            planted.append((src, doc_id))
        else:
            words = _doc_words(rng, vocab)
            uncopied.append((doc_id, words))
        rows.append((doc_id, " ".join(words)))
    return rows, planted


def _write_docs(rows: list[tuple[int, str]], path: str) -> None:
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


def _doc_sizes(rows: list[tuple[int, str]]) -> dict:
    words = [len(t.split()) for _, t in rows]
    return {
        "docs": len(rows),
        "bytes": sum(len(t.encode()) for _, t in rows),
        "words_per_doc": round(sum(words) / len(words), 1),
    }


def generate(seed: int, out_dir: str) -> None:
    """Write every input for ``seed`` into ``out_dir`` (must not exist)."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    corpus = _corpus(rng, vocab, os.path.join(out_dir, "corpus"))
    stop = _stopwords(rng, vocab)
    with open(os.path.join(out_dir, "stopwords.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(stop) + "\n")
    expected = reference_index(os.path.join(out_dir, "corpus"), stop)
    with open(os.path.join(out_dir, "index_expected.txt"), "wb") as f:
        f.write(expected)

    near_rows, near_planted = _docs(rng, vocab, NEAR_DOCS, 1)
    _write_docs(near_rows, os.path.join(out_dir, "near_docs.parquet"))
    n_maintain = MAINTAIN_BASE + MAINTAIN_BATCHES * MAINTAIN_BATCH_DOCS
    m_rows, m_planted = _docs(rng, vocab, n_maintain, MAINTAIN_FIRST_ID)
    _write_docs(m_rows, os.path.join(out_dir, "maintain_docs.parquet"))

    info = {
        "seed": seed,
        "vocabulary": int(vocab.size),
        "zipf_s": ZIPF_S,
        "corpus": corpus,
        "stopwords": len(stop),
        "index_expected_bytes": len(expected),
        "near_docs": {**_doc_sizes(near_rows), "planted_pairs": len(near_planted)},
        "maintain_docs": {
            **_doc_sizes(m_rows),
            "base_docs": MAINTAIN_BASE,
            "batches": MAINTAIN_BATCHES,
            "batch_docs": MAINTAIN_BATCH_DOCS,
            "planted_pairs": len(m_planted),
        },
        "near_planted": near_planted,
    }
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(info, f)


def ensure_inputs(seed: int, cache_root: str) -> str:
    """Path of the cached inputs for ``seed``, generating them on first use.
    Generation writes a temporary sibling and renames it into place, so an
    interrupted run never leaves a half-written cache entry."""
    final = os.path.join(cache_root, f"seed-{seed}")
    if os.path.exists(os.path.join(final, "inputs.json")):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".seed-{seed}-", dir=cache_root)
    try:
        out = os.path.join(tmp, "inputs")
        generate(seed, out)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(out, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
