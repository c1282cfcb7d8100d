"""Generator determinism: one seed, one set of bytes."""

import os

import pytest

import gen

SMALL = {
    "monthly_batch": {"n_items": 300},
    "index_lifecycle": {
        "n_vecs": 300, "n_appends": 3, "append_size": 20,
        "n_queries": 4, "query_size": 5,
    },
}


def _files(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            full = os.path.join(dirpath, fn)
            with open(full, "rb") as f:
                out[os.path.relpath(full, root)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_writes_identical_bytes(workload, tmp_path):
    make = getattr(gen, workload)
    a = make(7, str(tmp_path / "a"), **SMALL[workload])
    b = make(7, str(tmp_path / "b"), **SMALL[workload])
    c = make(8, str(tmp_path / "c"), **SMALL[workload])
    fa, fb, fc = _files(a.root), _files(b.root), _files(c.root)
    assert fa and fa == fb
    assert fa.keys() == fc.keys() and fa != fc
    assert a.facts == b.facts
    assert a.summary()["bytes"] == sum(len(v) for v in fa.values())
