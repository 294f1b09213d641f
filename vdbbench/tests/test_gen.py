"""The generators are deterministic per seed and plant what they claim."""

import numpy as np

from vdbbench import gen


def test_mixture_points_and_queries_repeat_for_a_seed():
    a, b = gen.Mixture(), gen.Mixture()
    np.testing.assert_array_equal(a.centres, b.centres)
    xa, ca = a.sample(gen.rng_for(3, "corpus", 1), 500)
    xb, cb = b.sample(gen.rng_for(3, "corpus", 1), 500)
    np.testing.assert_array_equal(xa, xb)
    np.testing.assert_array_equal(ca, cb)
    np.testing.assert_array_equal(a.queries(gen.rng_for(3, "queries", 1), 50),
                                  b.queries(gen.rng_for(3, "queries", 1), 50))
    xc, _ = a.sample(gen.rng_for(4, "corpus", 1), 500)
    assert not np.array_equal(xa, xc)  # another seed, other points
    assert xa.dtype == np.float32 and xa.shape == (500, gen.DIM)


def test_zipf_queries_concentrate_on_few_components():
    mix = gen.Mixture()
    comps = mix.zipf_components(gen.rng_for(1, "queries", 1), 4000)
    counts = np.sort(np.bincount(comps, minlength=gen.N_COMP))[::-1]
    assert counts[:8].sum() > 0.5 * len(comps)  # hot clusters are shared


def test_documents_repeat_for_a_seed_and_plant_duplicates():
    a = gen.Documents(5, 3000, clean_prefix=500)
    b = gen.Documents(5, 3000, clean_prefix=500)
    assert a.texts == b.texts and a.sources == b.sources
    assert gen.Documents(6, 3000).texts != a.texts
    assert min(a.sources) > 500  # the clean prefix holds fresh documents only
    assert a.ids.tolist() == list(range(1, 3001))
    exact = near = 0
    for dup, src in a.sources.items():
        assert src < dup and src not in a.sources
        d, s = a.text(dup).split(" "), a.text(src).split(" ")
        diff = sum(x != y for x, y in zip(d, s))
        assert len(d) == len(s) == gen.N_TOKENS and diff in (0, 1)
        exact += diff == 0
        near += diff == 1
    n = 2500
    assert 0.06 * n < near < 0.12 * n
    assert 0.02 * n < exact < 0.06 * n


def test_exact_knn_matches_a_full_sort_with_id_tie_break():
    rng = np.random.default_rng(0)
    base = rng.integers(0, 3, (200, 4)).astype(np.float32)  # many ties
    ids = rng.permutation(1000)[:200].astype(np.int64)
    q = rng.integers(0, 3, (7, 4)).astype(np.float32)
    got = gen.exact_knn(base, ids, q, 10)
    for i in range(len(q)):
        d = np.round(((base - q[i]) ** 2).sum(1), 6)
        want = [ids[j] for j in sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))[:10]]
        assert got[i].tolist() == want


def test_recall_at_k():
    assert gen.recall_at_k([1, 2, 3, 9], np.array([1, 2, 3, 4])) == 0.75
