"""Hypothesis property tests for the round-5 dedup ops: a pure-Python
reference model of duplicate_passages (shingle df -> coverage mask ->
maximal runs) and the Bloom no-false-negative guarantee, cross-checked
against the Spark operators on random corpora."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from hadoop_invertedindexer_spark.operators import dedup

# small closed vocabulary => real cross-doc shingle collisions
word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
doc = st.lists(word, min_size=0, max_size=20).map(" ".join)

HSETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _model_spans(texts: list[str], n: int, min_docs: int):
    """Independent reimplementation: positional n-gram shingles (whole
    doc if shorter), cross-doc df, coverage mask, maximal runs."""
    shingles: dict[int, list[tuple[int, str]]] = {}
    df: dict[str, set[int]] = {}
    for i, t in enumerate(texts):
        toks = t.split() if t.split() else [""]
        if len(toks) < n:
            items = [(0, " ".join(toks))]
        else:
            items = [
                (p, " ".join(toks[p : p + n])) for p in range(len(toks) - n + 1)
            ]
        shingles[i] = items
        for _, s in items:
            df.setdefault(s, set()).add(i)
    out = set()
    for i, items in shingles.items():
        covered = set()
        for p, s in items:
            if len(df[s]) >= min_docs:
                covered.update(range(p, p + n))
        run = []
        for p in sorted(covered):
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    out.add((i, run[0], len(run)))
                run = [p]
        if run:
            out.add((i, run[0], len(run)))
    return out


@HSETTINGS
@given(texts=st.lists(doc, min_size=2, max_size=5))
def test_duplicate_passages_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in dedup.duplicate_passages(docs, n=3, min_docs=2).collect()
    }
    assert got == _model_spans(texts, n=3, min_docs=2)


@HSETTINGS
@given(
    train=st.lists(doc.filter(lambda t: len(t.split()) >= 3), min_size=1, max_size=4),
    evalset=st.lists(doc.filter(lambda t: len(t.split()) >= 3), min_size=1, max_size=3),
)
def test_bloom_never_misses_exact_contamination(spark, train, evalset):
    """No false negatives, ever: every doc the exact shingle-set
    contamination flags must be Bloom-flagged with >= its shared count."""
    tr = spark.createDataFrame(list(enumerate(train)), ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(evalset)], ["doc_id", "text"]
    )
    exact = {r.doc_id: r.n_shared for r in dedup.contamination(tr, ev, n=3).collect()}
    bloom = {
        r.doc_id: r.n_flagged
        for r in dedup.bloom_decontaminate(tr, ev, n=3).collect()
    }
    for d, n in exact.items():
        assert bloom.get(d, 0) >= n


def _model_dedup_substrings(texts: list[str], n: int):
    """Independent reimplementation of the ExactSubstr rewrite: window
    occurrences, min-(doc,pos) canonical, dropped-minus-kept coverage,
    token excision."""
    occ: dict[str, list[tuple[int, int, int]]] = {}
    toks_by: dict[int, list[str]] = {}
    for did, t in enumerate(texts, 1):
        toks = t.split() if t.split() else [""]
        toks_by[did] = toks
        T = len(toks)
        if T < n:
            items = [(0, " ".join(toks), T - 1)]
        else:
            items = [
                (p, " ".join(toks[p : p + n]), p + n - 1)
                for p in range(T - n + 1)
            ]
        for p, v, e in items:
            occ.setdefault(v, []).append((did, p, e))
    drop: dict[int, set[int]] = {d: set() for d in toks_by}
    keep: dict[int, set[int]] = {d: set() for d in toks_by}
    for lst in occ.values():
        if len(lst) < 2:
            continue
        keeper = min((d, p) for d, p, _ in lst)
        for d, p, e in lst:
            cov = range(p, e + 1)
            (keep if (d, p) == keeper else drop)[d].update(cov)
    out = set()
    for d, toks in toks_by.items():
        removed = drop[d] - keep[d]
        kept = [t for i, t in enumerate(toks) if i not in removed]
        out.add((d, " ".join(kept), len(toks) - len(kept)))
    return out


@HSETTINGS
@given(texts=st.lists(doc, min_size=1, max_size=5))
def test_dedup_substrings_matches_python_model(spark, texts):
    n = 3
    df = spark.createDataFrame(
        list(enumerate(texts, 1)), ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.text, r.removed_tokens)
        for r in dedup.dedup_substrings(df, n=n).collect()
    }
    assert got == _model_dedup_substrings(texts, n)


@HSETTINGS
@given(
    train=st.lists(doc, min_size=1, max_size=4),
    evalset=st.lists(doc, min_size=1, max_size=3),
)
def test_decontaminate_substrings_matches_python_model(spark, train, evalset):
    n = 3
    ev_windows = set()
    for t in evalset:
        toks = t.split() if t.split() else [""]
        T = len(toks)
        items = (
            [" ".join(toks)]
            if T < n
            else [" ".join(toks[p : p + n]) for p in range(T - n + 1)]
        )
        ev_windows.update(items)
    want = set()
    for did, t in enumerate(train, 1):
        toks = t.split() if t.split() else [""]
        T = len(toks)
        if T < n:
            items = [(0, " ".join(toks), T - 1)]
        else:
            items = [
                (p, " ".join(toks[p : p + n]), p + n - 1)
                for p in range(T - n + 1)
            ]
        removed: set[int] = set()
        for p, v, e in items:
            if v in ev_windows:
                removed.update(range(p, e + 1))
        kept = [t2 for i, t2 in enumerate(toks) if i not in removed]
        want.add((did, " ".join(kept), len(toks) - len(kept)))
    tdf = spark.createDataFrame(list(enumerate(train, 1)), ["doc_id", "text"])
    edf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(evalset)], ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.text, r.removed_tokens)
        for r in dedup.decontaminate_substrings(tdf, edf, n=n).collect()
    }
    assert got == want


# paragraph vocabulary with deliberate norm-equivalent variants (case /
# punctuation) and the empty paragraph, so random corpora hit cross-doc
# dups, within-doc dups, norm-collisions, and the kept-verbatim path
_PARA = st.sampled_from(
    ["alpha one", "Alpha One!", "beta two", "gamma", "", "delta four?"]
)
_PDOC = st.lists(_PARA, min_size=1, max_size=5).map("\n".join)


def _model_dedup_paragraphs(texts: list[str]):
    """Independent reimplementation of dedup_paragraphs: first
    occurrence in (doc, pos) order wins on the normalized paragraph,
    empty normalizations always kept, empty docs vanish."""
    import re

    def norm(p: str) -> str:
        s = re.sub(r'[`~!@#$%^&*()_+=\[\]{}\\|;\':",./<>?-]', " ", p.lower())
        return re.sub(r"\s+", " ", s).strip()

    seen: set[str] = set()
    out = {}
    for i, t in enumerate(texts):
        kept, dropped = [], 0
        for p in t.split("\n"):
            np_ = norm(p)
            if np_ == "":
                kept.append(p)
            elif np_ in seen:
                dropped += 1
            else:
                seen.add(np_)
                kept.append(p)
        if kept:
            out[i] = ("\n".join(kept), len(kept), dropped)
    return out


@HSETTINGS
@given(texts=st.lists(_PDOC, min_size=1, max_size=5))
def test_dedup_paragraphs_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.text, r.n_kept, r.n_dropped)
        for r in dedup.dedup_paragraphs(docs).collect()
    }
    assert got == _model_dedup_paragraphs(texts)


# sentence vocabulary: capital openers + terminal punctuation so the
# boundary regex re-splits a space-joined doc back into its sentences;
# norm-equivalent variants ('Alpha beta.' vs 'alpha BETA!') exercise the
# per-sentence normalization inside the span key
_SENT = st.sampled_from(
    [
        "Alpha beta.",
        "alpha BETA!",
        "Gamma delta.",
        "Eps zeta here.",
        "Theta iota.",
    ]
)
_SDOC = st.lists(_SENT, min_size=1, max_size=8).map(" ".join)


def _model_dedup_sentences(texts: list[str], span: int = 3):
    """Independent reimplementation of the C4 three-sentence-span rule
    (r10): boundary-regex split, per-sentence-normalized span keys
    (whole-doc span when shorter), min-(doc,pos) canonical,
    dropped-minus-kept coverage at sentence granularity, space rejoin."""
    import re

    def norm(s: str) -> str:
        t = re.sub(r'[`~!@#$%^&*()_+=\[\]{}\\|;\':",./<>?-]', " ", s.lower())
        return re.sub(r"\s+", " ", t).strip()

    def sents(t: str) -> list[str]:
        marked = re.sub(r'([.!?]["\')\]]?) ([A-Z0-9])', "\\1\x01\\2", t)
        return marked.split("\x01")

    occ: dict[tuple, list[tuple[int, int, int]]] = {}
    sn_by: dict[int, list[str]] = {}
    for did, t in enumerate(texts):
        sn = sents(t)
        sn_by[did] = sn
        S = len(sn)
        if S < span:
            items = [(0, tuple(norm(s) for s in sn), S - 1)]
        else:
            items = [
                (p, tuple(norm(s) for s in sn[p : p + span]), p + span - 1)
                for p in range(S - span + 1)
            ]
        for p, key, e in items:
            if all(k == "" for k in key):
                continue  # blank spans are per-occurrence unique
            occ.setdefault(key, []).append((did, p, e))
    drop: dict[int, set[int]] = {d: set() for d in sn_by}
    keep: dict[int, set[int]] = {d: set() for d in sn_by}
    for lst in occ.values():
        if len(lst) < 2:
            continue
        keeper = min((d, p) for d, p, _ in lst)
        for d, p, e in lst:
            cov = range(p, e + 1)
            (keep if (d, p) == keeper else drop)[d].update(cov)
    out = set()
    for d, sn in sn_by.items():
        removed = drop[d] - keep[d]
        kept = [s for i, s in enumerate(sn) if i not in removed]
        out.add((d, " ".join(kept), len(sn) - len(kept)))
    return out


@HSETTINGS
@given(texts=st.lists(_SDOC, min_size=1, max_size=5))
def test_dedup_sentences_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r.doc_id, r.text, r.removed_sentences)
        for r in dedup.dedup_sentences(docs).collect()
    }
    assert got == _model_dedup_sentences(texts)


def _model_decontaminate_sentences(
    train: list[str], evalset: list[str], span: int = 3
):
    """Independent reimplementation of the sentence-span eval scrub:
    every train span whose normalized key appears in the eval span set
    is dropped coverage — no keeper protection."""
    import re

    def norm(s: str) -> str:
        t = re.sub(r'[`~!@#$%^&*()_+=\[\]{}\\|;\':",./<>?-]', " ", s.lower())
        return re.sub(r"\s+", " ", t).strip()

    def sents(t: str) -> list[str]:
        marked = re.sub(r'([.!?]["\')\]]?) ([A-Z0-9])', "\\1\x01\\2", t)
        return marked.split("\x01")

    def spans_of(sn: list[str]):
        S = len(sn)
        if S < span:
            return [(0, tuple(norm(s) for s in sn), S - 1)]
        return [
            (p, tuple(norm(s) for s in sn[p : p + span]), p + span - 1)
            for p in range(S - span + 1)
        ]

    ekeys = set()
    for t in evalset:
        for _, key, _ in spans_of(sents(t)):
            if not all(k == "" for k in key):
                ekeys.add(key)
    out = set()
    for did, t in enumerate(train):
        sn = sents(t)
        removed: set[int] = set()
        for p, key, e in spans_of(sn):
            if not all(k == "" for k in key) and key in ekeys:
                removed.update(range(p, e + 1))
        kept = [s for i, s in enumerate(sn) if i not in removed]
        out.add((did, " ".join(kept), len(sn) - len(kept)))
    return out


@HSETTINGS
@given(
    train=st.lists(_SDOC, min_size=1, max_size=4),
    evalset=st.lists(_SDOC, min_size=1, max_size=3),
)
def test_decontaminate_sentences_matches_python_model(spark, train, evalset):
    tr = spark.createDataFrame(list(enumerate(train)), ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(evalset)], ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.text, r.removed_sentences)
        for r in dedup.decontaminate_sentences(tr, ev).collect()
    }
    assert got == _model_decontaminate_sentences(train, evalset)


def _model_containment(texts, n=3, threshold=0.8, max_df=100):
    """Independent reimplementation: distinct n-gram sets (whole doc if
    shorter), doc-frequency cap on the intersection side only
    (denominators stay pre-cap, matching the operator's sizes frame),
    both directions thresholded on the rounded value."""
    sets: dict[int, set[str]] = {}
    for i, t in enumerate(texts):
        toks = t.split() if t.split() else [""]
        if len(toks) < n:
            sets[i] = {" ".join(toks)}
        else:
            sets[i] = {
                " ".join(toks[p : p + n]) for p in range(len(toks) - n + 1)
            }
    df: dict[str, set[int]] = {}
    for i, s in sets.items():
        for sh in s:
            df.setdefault(sh, set()).add(i)
    kept = {
        i: {sh for sh in s if len(df[sh]) <= max_df}
        for i, s in sets.items()
    }
    out = set()
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(kept[a] & kept[b])
            if inter == 0:
                continue
            ca = round(inter / len(sets[a]), 6)
            cb = round(inter / len(sets[b]), 6)
            if ca >= threshold:
                out.add((a, b, ca))
            if cb >= threshold:
                out.add((b, a, cb))
    return out


@HSETTINGS
@given(texts=st.lists(doc, min_size=2, max_size=5))
def test_containment_pairs_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r.id_sub, r.id_super, r.containment)
        for r in dedup.containment_pairs(
            docs, n=3, threshold=0.8, max_df=100
        ).collect()
    }
    assert got == _model_containment(texts, n=3, threshold=0.8, max_df=100)


def _model_winnow(text: str, k: int = 5, w: int = 4):
    """Independent winnowing reimplementation: md5-40bit k-gram hashes,
    rightmost minimum of every w-window."""
    import hashlib

    toks = text.split() if text.split() else [""]
    if len(toks) < k:
        grams = [" ".join(toks)]
    else:
        grams = [
            " ".join(toks[p : p + k]) for p in range(len(toks) - k + 1)
        ]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams
    ]
    n = len(hs)
    sel = set()
    for s in range(max(n - w, 0) + 1):
        end = min(s + w, n)
        m = min(hs[s:end])
        p = max(i for i in range(s, end) if hs[i] == m)
        sel.add((p, hs[p]))
    return sel


@HSETTINGS
@given(texts=st.lists(doc, min_size=1, max_size=4))
def test_winnow_fingerprints_matches_python_model(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got: dict[int, set] = {}
    for r in dedup.winnow_fingerprints(docs, k=5, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    want = {
        i: _model_winnow(t)
        for i, t in enumerate(texts)
    }
    assert got == want


@HSETTINGS
@given(
    shared=st.lists(word, min_size=8, max_size=12).map(" ".join),
    pre=st.lists(word, min_size=0, max_size=6).map(" ".join),
    post=st.lists(word, min_size=0, max_size=6).map(" ".join),
)
def test_winnow_guarantee_shared_run_shares_a_fingerprint(
    spark, shared, pre, post
):
    """The winnowing contract: any shared token run of length
    >= w + k - 1 (= 8 at k=5, w=4) must share at least one fp."""
    a = f"{pre} {shared}".strip()
    b = f"{shared} {post}".strip()
    docs = spark.createDataFrame(
        [(0, a), (1, b)], ["doc_id", "text"]
    )
    fps: dict[int, set] = {0: set(), 1: set()}
    for r in dedup.winnow_fingerprints(docs, k=5, w=4).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[0] & fps[1]


def _model_topk_bounded(pairs: list[tuple[int, int, int]], k: int):
    """Independent reimplementation of pairs_topk_bounded's union-keep:
    per endpoint, rank neighbors by (score desc, nbr asc); a pair
    survives when either endpoint ranks it in its top-k."""
    nbrs: dict[int, list[tuple[int, int]]] = {}
    for a, b, s in pairs:
        nbrs.setdefault(a, []).append((s, b))
        nbrs.setdefault(b, []).append((s, a))
    kept: set[tuple[int, int]] = set()
    for i, lst in nbrs.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for s, nbr in lst[:k]:
            kept.add((min(i, nbr), max(i, nbr)))
    return {(a, b, s) for a, b, s in pairs if (a, b) in kept}


# canonical unique (a, b, score) pair frames with real hubs: ids from a
# tiny range so random draws collide into shared endpoints
_pair = st.tuples(
    st.integers(min_value=0, max_value=7),
    st.integers(min_value=0, max_value=7),
    st.integers(min_value=1, max_value=5),
).filter(lambda t: t[0] != t[1]).map(
    lambda t: (min(t[0], t[1]), max(t[0], t[1]), t[2])
)


@HSETTINGS
@given(
    raw=st.lists(_pair, min_size=0, max_size=24),
    k=st.integers(min_value=1, max_value=4),
)
def test_pairs_topk_bounded_matches_python_model(spark, raw, k):
    """r13: the factored bound vs the pure-Python model, plus its two
    structural guarantees — bounded ⊆ full, and every endpoint retains
    at least min(k, degree) of its edges (union-keep means a doc's own
    top-k can never be evicted by a saturated neighbor)."""
    seen: set[tuple[int, int]] = set()
    pairs = []
    for a, b, s in raw:  # unique unordered pairs
        if (a, b) not in seen:
            seen.add((a, b))
            pairs.append((a, b, s))
    df = spark.createDataFrame(
        pairs, "id_a long, id_b long, n_shared long"
    )
    got = {
        (r.id_a, r.id_b, r.n_shared)
        for r in dedup.pairs_topk_bounded(df, per_doc_k=k).collect()
    }
    assert got == _model_topk_bounded(pairs, k)
    assert {(a, b) for a, b, _ in got} <= seen  # bounded subset of full
    deg: dict[int, int] = {}
    ret: dict[int, int] = {}
    for a, b, _ in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for a, b, _ in got:
        ret[a] = ret.get(a, 0) + 1
        ret[b] = ret.get(b, 0) + 1
    for i, d in deg.items():
        assert ret.get(i, 0) >= min(k, d)


def _model_word_ngrams(text: str, n: int) -> list[str]:
    """word_ngrams restated in Python: lowercase, punctuation class →
    space, whitespace runs → one space, trim, split on " "; fewer than
    ``n`` tokens give the whole normalized text as one gram."""
    import re

    from hadoop_invertedindexer_spark.functions.textprep import PUNCT_CHAR_CLASS

    norm = re.sub(PUNCT_CHAR_CLASS, " ", text.lower())
    # Java's \s: ASCII whitespace only
    norm = re.sub("[ \t\n\x0b\f\r]+", " ", norm).strip(" ")
    toks = norm.split(" ")
    if len(toks) < n:
        return [norm]
    return [" ".join(toks[p : p + n]) for p in range(len(toks) - n + 1)]


ngram_text = st.text(alphabet=st.sampled_from("aBcDe XyZ,.!?-'\t\n\r"), max_size=40)


@HSETTINGS
@given(texts=st.lists(ngram_text, min_size=1, max_size=6))
def test_word_ngrams_matches_python_model(spark, texts):
    """Mixed case, punctuation, tab/newline and space runs, blank edges,
    empty and whitespace-only texts, and texts shorter than ``n`` all
    match the model; a NULL text yields NULL."""
    ns = (1, 2, 3, 8)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(-1, None)],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r[1:]
        for r in docs.select(
            "doc_id", *(dedup.word_ngrams("text", n) for n in ns)
        ).collect()
    }
    assert got.pop(-1) == (None,) * len(ns)
    assert got == {
        i: tuple(_model_word_ngrams(t, n) for n in ns) for i, t in enumerate(texts)
    }
