"""Output checks, one per workload. Each returns a list of problems; an
empty list means the operation's output is correct. Each check reads
plain Python values, so the tests can feed it a mutated output."""

from __future__ import annotations

from perfbench.model import jaccard, shingles

# A 64-permutation MinHash estimate of a Jaccard similarity J has standard
# deviation sqrt(J(1-J)/64) <= 0.0625; four of those is the tolerance.
EST_TOLERANCE = 0.25
RECALL_JACCARD = 0.9


def check_index(output: bytes, expected: bytes) -> list[str]:
    """``index_build``: the single output file equals the model's bytes."""
    if output == expected:
        return []
    a, b = output.split(b"\n"), expected.split(b"\n")
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return [f"index line {i + 1} differs: {x[:80]!r} != {y[:80]!r}"]
    return [f"index has {len(a) - 1} lines, expected {len(b) - 1}"]


class NearDupTruth:
    """Exact shingle sets of every document and the planted pairs."""

    def __init__(self, docs: dict[int, str], planted: list[tuple[int, int]]):
        self._sh = {i: shingles(t) for i, t in docs.items()}
        self.required = sorted(
            (min(a, b), max(a, b))
            for a, b in planted
            if jaccard(self._sh[a], self._sh[b]) >= RECALL_JACCARD
        )

    def exact(self, a: int, b: int) -> float:
        return jaccard(self._sh[a], self._sh[b])


def check_near_dup(
    pairs: list[tuple[int, int, float]], truth: NearDupTruth
) -> list[str]:
    """``near_dup``: every planted pair with exact Jaccard >= 0.9 is
    reported, once, and each estimate lies within EST_TOLERANCE of the
    pair's exact Jaccard."""
    problems = []
    seen = set()
    for a, b, est in pairs:
        if not a < b:
            problems.append(f"pair ({a}, {b}) is not ordered")
        elif (a, b) in seen:
            problems.append(f"pair ({a}, {b}) reported twice")
        else:
            seen.add((a, b))
            exact = truth.exact(a, b)
            if abs(est - exact) > EST_TOLERANCE:
                problems.append(f"pair ({a}, {b}) est {est} vs exact {exact:.4f}")
    missing = [p for p in truth.required if p not in seen]
    if missing:
        problems.append(f"{len(missing)} planted pairs missing, e.g. {missing[0]}")
    return problems


def check_maintain(
    batch_pairs: list[tuple[int, int, float]],
    full_pairs: list[tuple[int, int, float]],
    first_batch_id: int,
    report: list[tuple[str, int]],
    replayed: dict[str, int],
) -> list[str]:
    """``index_maintain``: the union of the per-batch pairs equals the
    full-corpus pairs that touch a batch (a pair ``a < b`` touches a batch
    when ``b`` is a batch id, since batch ids follow the base ids), and the
    compaction reclaimed exactly the replayed rows of each table."""
    problems = []
    got = set(batch_pairs)
    want = {p for p in full_pairs if p[1] >= first_batch_id}
    if got != want:
        extra, lost = sorted(got - want), sorted(want - got)
        problems.append(
            f"batch pairs differ from the full run: {len(extra)} extra "
            f"{extra[:2]}, {len(lost)} missing {lost[:2]}"
        )
    reclaimed = dict(report)
    if reclaimed != replayed:
        problems.append(f"reclaimed rows {reclaimed} != replayed rows {replayed}")
    return problems
