"""The benchmark's input generators are pure functions of the seed."""

import pandas as pd
import pytest

import inputs


def _frames(seed):
    files, truth = inputs.batch_corpus(seed)
    base, deltas = inputs.delta_inputs(seed)
    roster = inputs.roster_tables(seed)
    return [files, truth, base, *(d.files for d in deltas), *roster.values()]


def test_same_seed_same_inputs():
    for a, b in zip(_frames(3), _frames(3)):
        pd.testing.assert_frame_equal(a, b)
    d1, d2 = inputs.delta_inputs(3)[1], inputs.delta_inputs(3)[1]
    assert [d.copies for d in d1] == [d.copies for d in d2]


def test_other_seed_other_inputs():
    for name, a, b in zip(["corpus", "deltas", "documents"], *[
        [inputs.batch_corpus(s)[0]["content"], inputs.delta_inputs(s)[1][0].files["content"],
         inputs.roster_tables(s)["documents"]["text"]]
        for s in (3, 4)
    ]):
        assert not a.equals(b), name


@pytest.mark.parametrize("seed", [0, 7])
def test_delta_keys_never_collide(seed):
    base, deltas = inputs.delta_inputs(seed)
    key = ["repo", "path", "commit"]
    seen = set(map(tuple, base[key].to_numpy()))
    assert len(seen) == len(base)
    for d in deltas:
        keys = set(map(tuple, d.files[key].to_numpy()))
        assert len(keys) == len(d.files)
        assert not keys & seen
        seen |= keys


def test_batch_corpus_has_the_fixed_mix():
    for seed in (1, 2):
        files, truth = inputs.batch_corpus(seed)
        assert len(files) == inputs.BATCH_FILES
        counts = truth["family"].value_counts()
        for family, share in inputs.MIX.items():
            assert counts[family] == round(share * inputs.BATCH_FILES)


def test_delta_copies_are_exact_copies():
    base, deltas = inputs.delta_inputs(5)
    for d in deltas:
        assert len(d.copies) == inputs.DELTA_COPIES
        for a, b in d.copies:
            assert d.files["content"].iat[a] == base["content"].iat[b]
