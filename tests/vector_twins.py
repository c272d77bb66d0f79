"""Scalar twins of the vector-search scoring kernels (LSH buckets, IVF
assign and probe, PQ encode and ADC): plain loops whose every addition runs
left-to-right, the same order as tools/make_golden.py's `_seq_dot`
loop. Tests compare the Arrow kernels with these bit for bit."""

import math


def seq_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def bucket(vec, planes):
    """Sign-bit bucket id, plane 0 the most significant bit."""
    acc = 0
    for p in planes:
        acc = (acc << 1) | (1 if seq_dot(vec, p) >= 0 else 0)
    return acc


def assign(vec, cent):
    """Nearest centroid by dot; ties -> smallest id."""
    scores = [seq_dot(vec, c) for c in cent]
    return max(range(len(cent)), key=lambda i: (scores[i], -i))


def probe(vec, cent, n_probe):
    """n_probe best clusters, descending (score, cluster): ties put the
    higher id first."""
    scores = [(seq_dot(vec, c), i) for i, c in enumerate(cent)]
    return [i for _s, i in sorted(scores, reverse=True)[:n_probe]]


def unit(vec):
    """vec / max(norm, 1e-12), the squared norm summed in order."""
    n = max(math.sqrt(seq_dot(vec, vec)), 1e-12)
    return [float(x) / n for x in vec]


def sq_dist(a, b):
    """Squared distance, (a-b)^2 summed in order."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def adc(books, qvec, codes):
    """ADC score: normalize the query, build the LUT of subspace dots,
    sum the coded entries in subspace order."""
    m, ksub, dsub = books.shape
    nq = unit(qvec)
    lut = [[seq_dot(nq[j * dsub:(j + 1) * dsub], books[j][i]) for i in range(ksub)]
           for j in range(m)]
    acc = 0.0
    for j in range(m):
        acc += lut[j][codes[j]]
    return acc
