"""Any integer seed gives a valid corpus, the same one every time."""

from perfbench.corpus import SEED_BLOCKS, ensure_corpus

SF = 0.0001  # the generator's minimum: 4 conversations


def test_large_and_negative_seeds_make_a_corpus(tmp_path):
    metas = {}
    for seed in (3, 3 + SEED_BLOCKS, 123_456_789, -5):
        _, meta = ensure_corpus(str(tmp_path), seed, SF)
        assert meta["n_turns"] > 0
        assert meta["expected"]["triples"]["count"] > 0
        metas[seed] = meta["expected"]
    assert metas[3] == metas[3 + SEED_BLOCKS]
    assert metas[3] != metas[123_456_789]


def test_same_seed_same_corpus(tmp_path):
    _, a = ensure_corpus(str(tmp_path / "a"), 7, SF)
    _, b = ensure_corpus(str(tmp_path / "b"), 7, SF)
    assert a == b
