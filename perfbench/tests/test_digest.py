"""Digest order-independence and sensitivity (pure Python, no Spark)."""

import random

import pandas as pd

from perfbench.digest import digest_frame, digest_rows, row_hash

ROWS = [("conv-1", 0, "Q1", "located_in", "Q2", "entity"),
        ("conv-1", 1, "Q2", "heritage", "listed", "literal"),
        ("conv-2", 0, "Q3", "located_in", "Q1", "entity")]


def test_order_independent():
    shuffled = ROWS[:]
    random.Random(7).shuffle(shuffled)
    assert digest_rows(ROWS) == digest_rows(shuffled)
    assert digest_rows(reversed(ROWS)) == digest_rows(ROWS)


def test_sensitive_to_change_duplicate_and_loss():
    base = digest_rows(ROWS)
    assert digest_rows(ROWS + ROWS[:1]) != base
    assert digest_rows(ROWS[1:]) != base
    changed = [ROWS[0][:4] + ("Q9", "entity")] + ROWS[1:]
    assert digest_rows(changed)["hash"] != base["hash"]


def test_numpy_and_python_values_hash_alike():
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj", "obj_type"]
    pdf = pd.DataFrame(ROWS, columns=cols)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    assert digest_frame(pdf, "triples") == digest_rows(ROWS)


def test_missing_values_and_doubles():
    assert row_hash(("Q1", None)) == row_hash(("Q1", float("nan")))
    assert row_hash(("Q1", 48.8584)) != row_hash(("Q1", None))
    assert row_hash(("Q1", 1.0)) == row_hash(("Q1", 1.0000000001))
