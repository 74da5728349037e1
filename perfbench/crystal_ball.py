"""Pure-Python Crystal Ball: the reference semantics, for output checks.

The four rules of ``operators/basket.py``:

1. token 0 of a line is the customer; current items are p1 .. p(K-1),
   the last item is never a current item;
2. the neighbor window of p at position i runs from i+1 up to but
   excluding the next re-occurrence of p (to the end if none);
3. neighbors count with multiplicity, self-pairs never appear;
4. prob(p, n) = count(p, n) / sum_n' count(p, n'), one IEEE double
   division.
"""

from __future__ import annotations

import os
from collections import Counter

REFERENCE_RANGES = ((None, 30), (30, 60), (60, None))


def pair_counts(lines) -> Counter:
    counts: Counter = Counter()
    for line in lines:
        items = line.split()[1:]
        for i, p in enumerate(items[:-1]):
            for n in items[i + 1:]:
                if n == p:
                    break
                counts[(p, n)] += 1
    return counts


def pair_probs(counts: Counter) -> dict[tuple[str, str], float]:
    marginal: Counter = Counter()
    for (p, _), c in counts.items():
        marginal[p] += c
    return {(p, n): float(c) / float(marginal[p]) for (p, n), c in counts.items()}


def expected_part_files(probs: dict[tuple[str, str], float]) -> list[list[tuple[str, str, float]]]:
    """Rows of the three reference part files: item range split
    (<30, 30-59, >=60), each sorted by (item, neighbor) as strings."""
    parts: list[list[tuple[str, str, float]]] = [[] for _ in REFERENCE_RANGES]
    for (p, n), prob in probs.items():
        v = int(p)
        idx = 0 if v < 30 else (1 if v < 60 else 2)
        parts[idx].append((p, n, prob))
    return [sorted(rows) for rows in parts]


def parse_part_file(path: str) -> list[tuple[str, str, float]]:
    """``[item, neighbor]<TAB>prob`` lines -> (item, neighbor, prob).
    Java's Double.toString round-trips, so ``float`` recovers the exact
    double the engine computed."""
    rows = []
    with open(path) as f:
        for line in f:
            key, prob = line.rstrip("\n").split("\t")
            if not (key.startswith("[") and key.endswith("]")):
                raise ValueError(f"malformed line {line!r} in {path}")
            item, neighbor = key[1:-1].split(", ")
            rows.append((item, neighbor, float(prob)))
    return rows


def check_part_files(paths: list[str], expected: list[list[tuple[str, str, float]]]) -> str | None:
    """None when the part files equal ``expected`` bit-exactly and in
    order, else a one-line description of the first difference."""
    if [os.path.basename(p) for p in paths] != [f"part-r-{i:05d}" for i in range(3)]:
        return f"unexpected part file names {paths}"
    for path, want in zip(paths, expected):
        got = parse_part_file(path)
        if len(got) != len(want):
            return f"{os.path.basename(path)}: {len(got)} rows, want {len(want)}"
        for g, w in zip(got, want):
            if g[:2] != w[:2] or g[2].hex() != w[2].hex():
                return f"{os.path.basename(path)}: got {g}, want {w}"
    return None


def check_stripes(rows, probs: dict[tuple[str, str], float]) -> str | None:
    """``rows`` of (item, stripe map) against the expected pair probs."""
    want: dict[str, dict[str, float]] = {}
    for (p, n), prob in probs.items():
        want.setdefault(p, {})[n] = prob
    got = {item: dict(stripe) for item, stripe in rows}
    if set(got) != set(want):
        return f"stripe items differ: {len(got)} vs {len(want)}"
    for item, stripe in want.items():
        if got[item] != stripe:
            return f"stripe {item} differs"
    return None
