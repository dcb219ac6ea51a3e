"""Pure-Python models of what the engine must output, used by the checks.

:func:`reference_index` restates the reference job's semantics without
Spark: lowercase each line, replace every punctuation character with a
space, split on exactly ``StringTokenizer``'s delimiters, keep tokens of
length >= 3 that are not ``[-+]?[0-9]*`` and not in the stop-word list
(matched verbatim), count per ``(word, file)``, order each word's
``count#file`` strings in reverse lexicographic order, render them as
``file#count`` and sort the lines by word.

:func:`shingles` restates ``operators.dedup.word_ngrams`` for the exact
Jaccard similarities the near-duplicate checks compare against.
"""

from __future__ import annotations

import os
import re
from collections import Counter, defaultdict

# the 32 distinct characters of the reference's punctuation file
PUNCTUATION = "`~!@#$%^&*()_+=[]{}\\|;':\",./<>?-"
_PUNCT_TO_SPACE = str.maketrans({c: " " for c in PUNCTUATION})
_TOKEN_DELIMS = re.compile("[ \t\n\r\f]+")
_NUMERIC = re.compile("[-+]?[0-9]*")
# Java's \s: the whitespace run that normalized_text collapses
_JAVA_SPACE = re.compile("[ \t\n\x0b\f\r]+")


def reference_index(corpus_dir: str, stopwords: list[str]) -> bytes:
    """The expected single-file index of ``corpus_dir``, as bytes."""
    stop = set(stopwords)
    counts: dict[str, Counter] = defaultdict(Counter)
    for name in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, name), encoding="utf-8", newline="") as f:
            # the line break is itself a delimiter, so a file tokenizes whole
            text = f.read()
        for tok, n in Counter(_TOKEN_DELIMS.split(text.lower().translate(_PUNCT_TO_SPACE))).items():
            if len(tok) >= 3 and not _NUMERIC.fullmatch(tok) and tok not in stop:
                counts[tok][name] = n
    out = []
    for word in sorted(counts):
        keys = sorted((f"{c}#{doc}" for doc, c in counts[word].items()), reverse=True)
        postings = ", ".join("#".join(reversed(k.split("#", 1))) for k in keys)
        out.append(f"{word}: {postings}\n")
    return "".join(out).encode()


def shingles(text: str, n: int = 3) -> set[str]:
    """The distinct word n-gram shingles of one document."""
    norm = _JAVA_SPACE.sub(" ", text.lower().translate(_PUNCT_TO_SPACE)).strip(" ")
    toks = norm.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)
