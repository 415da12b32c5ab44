"""Prefix-filtered n-gram Jaccard dedup is LOSSLESS: its result must equal
the brute-force all-pairs scan (which the operator exists to avoid)."""

import itertools

import numpy as np

from big_data_elt_pipeline_spark.operators.dedup import ngram_jaccard_dedup


def _shingles(text: str, n: int = 3) -> set[str]:
    tok = text.lower().strip().split()
    if len(tok) < n:
        return {" ".join(tok)}
    return {" ".join(tok[i : i + n]) for i in range(len(tok) - n + 1)}


def _brute_force(docs: list[tuple[int, str]], threshold: float) -> set[tuple[int, int, float]]:
    sh = {i: _shingles(t) for i, t in docs}
    out = set()
    for (i, _), (j, _) in itertools.combinations(docs, 2):
        a, b = sh[min(i, j)], sh[max(i, j)]
        inter = len(a & b)
        jac = inter / (len(a) + len(b) - inter)
        if jac >= threshold:
            out.add((min(i, j), max(i, j), round(jac, 12)))
    return out


def _corpus(seed: int, n_docs: int = 40) -> list[tuple[int, str]]:
    """Small-vocabulary random docs → plenty of genuine near-dup pairs."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{k}" for k in range(12)]
    docs = []
    for i in range(n_docs):
        words = rng.choice(vocab, size=rng.integers(4, 10))
        docs.append((i, " ".join(words)))
    # guaranteed positives: near-identical copies
    docs.append((1000, docs[0][1]))
    docs.append((1001, docs[1][1] + " w0"))
    return docs


def test_prefix_filter_is_lossless(spark):
    for seed in (3, 11):
        docs = _corpus(seed)
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (int(r.id1), int(r.id2), round(float(r.jaccard), 12))
            for r in ngram_jaccard_dedup(sdf, threshold=0.5).collect()
        }
        expected = _brute_force(docs, 0.5)
        assert got == expected, (
            f"seed {seed}: missing={expected - got} extra={got - expected}"
        )
        assert expected, f"seed {seed}: degenerate corpus — no true pairs"

