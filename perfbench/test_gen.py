"""The generators are pure functions of the seed: the same seed gives
byte-identical inputs and the same ground truth, another seed does not.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

GENERATORS = {
    "yelp": lambda seed, d: gen.yelp_json(seed, d, n_business=40, n_user=50, n_review=300,
                                          n_tip=80, n_checkin=40),
    "tpch": lambda seed, d: gen.tpch_tables(seed, d, sf=0.001),
    "curation": lambda seed, d: gen.curation_corpus(seed, d, n_docs=120, n_vectors=200, dim=8,
                                                    n_queries=4),
    "cdc": lambda seed, d: gen.cdc_feed(seed, d, n_base=300, n_batches=3, batch_size=40),
}


def _digest(directory: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(directory, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(directory))}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_inputs_other_seed_differs(name, tmp_path):
    make = GENERATORS[name]
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = str(tmp_path / tag)
        runs[tag] = (make(seed, d), _digest(d))
    assert runs["a"] == runs["b"]
    assert runs["a"][1].keys() == runs["c"][1].keys()
    assert runs["a"][1] != runs["c"][1]
    assert runs["a"][0] != runs["c"][0]


def test_cdc_replay_matches_batches(tmp_path):
    """The replayed final hash equals folding the written batches."""
    import pyarrow.parquet as pq

    truth = gen.cdc_feed(3, str(tmp_path), n_base=200, n_batches=4, batch_size=30)
    table = {r["id"]: r for r in pq.read_table(tmp_path / "base.parquet").to_pylist()}
    for b in range(4):
        for r in pq.read_table(tmp_path / f"batch_{b:04d}.parquet").to_pylist():
            table[r["id"]] = r
        live = [r for r in table.values() if not r["deleted"]]
        assert truth["after_batch"][b] == (len(live), sum(r["amount_cents"] for r in live))
    assert truth["final_hash"] == gen.table_hash(
        (r["id"], r["part"], r["name"], r["amount_cents"], r["seq"]) for r in live)


def test_curation_truth_is_planted(tmp_path):
    truth = gen.curation_corpus(5, str(tmp_path), n_docs=300, n_vectors=200, dim=8, n_queries=4)
    assert truth["dup_clusters"] and all(len(c) >= 2 for c in truth["dup_clusters"])
    assert all(len(v) == 10 for v in truth["top10"].values())
