"""Property-based tests (hypothesis) for the pure-Python seams:
manifest round-trip, purge batching, hash-param bounds, h60 twins.
No SparkSession — these run in milliseconds."""

from __future__ import annotations

import hashlib

from hypothesis import example, given, settings
from hypothesis import strategies as st

from batch_process_dpla_index_spark.io.manifest import build_manifest, parse_manifest
from batch_process_dpla_index_spark.operators.dedup import _MERSENNE, _perm_params
from batch_process_dpla_index_spark.operators.similarity import _h60_py
from batch_process_dpla_index_spark.products.thumbnail_purge import thumbnail_prefix

_key = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), whitelist_characters=" -_"),
    min_size=1,
    max_size=30,
).filter(lambda s: s.strip() == s and ": " not in s)
_val = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), whitelist_characters=" -_./"),
    max_size=50,
)


@given(st.dictionaries(_key, _val, max_size=8))
@settings(max_examples=100)
def test_manifest_roundtrip(opts):
    text = build_manifest(opts, timestamp="2026-08-13T00:00:00Z")
    parsed = parse_manifest(text)
    for k, v in opts.items():
        assert parsed[k] == v
    assert parsed["Start date/time of file generation"] == "2026-08-13T00:00:00Z"
    # sorted key order is part of the product contract
    lines = [line.split(": ", 1)[0] for line in text.splitlines()]
    assert lines == sorted(lines)


@given(st.integers(min_value=1, max_value=256), st.integers(min_value=0, max_value=2**31))
@settings(max_examples=50)
def test_perm_params_bounds_and_determinism(n, seed):
    a = _perm_params(n, seed)
    b = _perm_params(n, seed)
    assert a == b and len(a) == n
    for x, y in a:
        # a in [1, p-2], b in [0, p-1] → a*h + b < 2^62 for h < p
        # (int64-safe with headroom; ANSI mode never overflows)
        assert 1 <= x <= _MERSENNE - 2 and 0 <= y < _MERSENNE
        assert x * (_MERSENNE - 1) + y < 1 << 62


@given(st.text(max_size=60))
@settings(max_examples=100)
def test_h60_py_range_and_definition(s):
    h = _h60_py(s)
    assert 0 <= h < 1 << 60
    assert h == int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@given(st.text(alphabet="abcdef0123456789", min_size=4, max_size=32))
@settings(max_examples=100)
def test_thumbnail_prefix_shape(dpla_id):
    key = thumbnail_prefix(dpla_id)
    parts = key.split("/")
    assert parts[:4] == list(dpla_id[:4])
    assert parts[4] == f"{dpla_id}.jpg"


# --- Avro OCF codec (io/avro_py.py): driver-side, no Spark -----------------

_AVRO_SCHEMA = {
    "type": "record",
    "name": "prop",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": ["null", "string"], "default": None},
        {"name": "x", "type": ["null", "double"], "default": None},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "nested", "type": ["null", {
            "type": "record", "name": "inner",
            "fields": [{"name": "a", "type": ["null", "string"], "default": None},
                       {"name": "ns", "type": {"type": "array", "items": "long"}}],
        }], "default": None},
    ],
}

_rec = st.fixed_dictionaries(
    {
        "id": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "s": st.none() | st.text(max_size=40),
        "x": st.none() | st.floats(allow_nan=False, width=64),
        "tags": st.lists(st.text(max_size=10), max_size=5),
        "nested": st.none()
        | st.fixed_dictionaries(
            {"a": st.none() | st.text(max_size=10),
             "ns": st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=4)}
        ),
    }
)


@given(st.lists(_rec, max_size=25), st.sampled_from(["null", "deflate"]))
@settings(max_examples=60, deadline=None)
def test_avro_container_roundtrip_property(rows, codec):
    """Arbitrary rows (64-bit extremes, empty/None arrays, unicode,
    nested nulls) survive the OCF container byte-for-byte under both
    codecs, in multiple blocks."""
    import io as _io

    from batch_process_dpla_index_spark.io.avro_py import read_container, write_container

    buf = _io.BytesIO()
    n = write_container(iter(rows), _AVRO_SCHEMA, buf, codec=codec, block_records=7)
    assert n == len(rows)
    schema, recs = read_container(buf.getvalue())
    assert schema == _AVRO_SCHEMA
    assert list(recs) == rows


# ---- two-level probe kernel (the shared serve-path core) ----

_vec = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    min_size=4, max_size=4,
)


@given(
    st.lists(_vec, min_size=1, max_size=12),   # query rows
    st.lists(st.lists(_vec, min_size=1, max_size=3),  # fine codebooks
             min_size=1, max_size=4),
    st.sampled_from(["l2", "dot"]),
)
@example(  # r14 verdict: subnormal tie where expanded Σ(c−x)² rounds the
    # 2.35e-38 difference into an exact tie but the reduced form keeps it
    rows=[[0.0, 0.0, 0.0, 1.0]],
    books=[[[0.0, 0.0, 0.0, -1.1754943508222875e-38], [0.0, 0.0, 0.0, 0.0]]],
    metric="l2",
)
@settings(max_examples=120, deadline=None)
def test_two_level_probe_kernel_properties(rows, books, metric):
    """For ANY model shape (ragged fine codebooks included) and both
    metrics: (a) the rank-1 probed cell equals the model's single-best
    assignment computed directly; (b) a full-width probe covers every
    trained global cell for every row; (c) every emitted id is a valid
    trained cell; (d) each (row, slot) pair emits each cell at most
    once per slot's block.

    The reference model replays the kernel's REDUCED L2 form
    (``‖c‖² − 2c·x`` in float64, stable argsort — similarity.py
    `_two_level_probe_blocks`), NOT the expanded ``Σ(c−x)²``: the two
    forms disagree on epsilon-scale ties (the pinned @example above,
    found by hypothesis in r14), so the tie contract is only
    well-defined within one arithmetic form — the same
    numpy-matching-float-association discipline the ADC oracle uses."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.clustering import (
        _two_level_model_arrays,
    )
    from batch_process_dpla_index_spark.operators.similarity import (
        _two_level_probe_blocks,
    )

    k_f = max(len(b) for b in books)
    coarse = [list(np.mean(b, axis=0)) for b in books]
    fine = {c: b for c, b in enumerate(books)}
    model = _two_level_model_arrays(coarse, fine, k_f)
    mat = np.asarray(rows, dtype="float64")
    valid = {c * k_f + j for c, b in fine.items() for j in range(len(b))}

    # (a) rank-1 == direct best assignment
    first_cell = {}
    for _s, rws, gids in _two_level_probe_blocks(mat, model, k_f, 1, 1, metric):
        for r, g in zip(rws, gids[:, 0]):
            first_cell[int(r)] = int(g)
    cell_of, cents, csq, fmats, fsq = model
    for i, x in enumerate(mat):
        if metric == "dot":
            cd = cents @ x
            c = int(cell_of[max(range(len(cd)), key=lambda j: (cd[j], j))])
            fd = fmats[c] @ x
            jbest = max(range(len(fd)), key=lambda j: (fd[j], j))
        else:
            # kernel's reduced form, exact float64 arithmetic replay
            cd = csq - 2.0 * (cents @ x)
            c = int(cell_of[min(range(len(cd)), key=lambda j: (cd[j], j))])
            fd = fsq[c] - 2.0 * (fmats[c] @ x)
            jbest = min(range(len(fd)), key=lambda j: (fd[j], j))
        assert first_cell[i] == c * k_f + jbest

    # (b)+(c)+(d) full probe covers exactly the trained cells
    seen: dict = {i: [] for i in range(len(mat))}
    for _s, rws, gids in _two_level_probe_blocks(
        mat, model, k_f, len(fine), k_f, metric
    ):
        for r, row_gids in zip(rws, gids):
            seen[int(r)].extend(int(g) for g in row_gids)
    for i, cells in seen.items():
        assert set(cells) == valid          # coverage + validity
        assert len(cells) == len(set(cells))  # no duplicates


def test_banded_hamming_pairs_lossless(spark):
    """Pigeonhole losslessness of the shared banding kernel
    (dedup.banded_hamming_pairs, review r13): for ANY bits — including
    non-tiling widths where the top bits are never banded — the banded
    plan returns EXACTLY the brute-force pair set with exact hamming.
    Seeded-random signatures with planted near-dup clusters (flip
    ≤ max_hamming bits of a base) so within-budget pairs actually
    exist at every tested width."""
    import random

    from pyspark.sql import functions as F

    from batch_process_dpla_index_spark.operators.dedup import (
        banded_hamming_pairs,
        unpersist_deps,
    )

    rng = random.Random(13)
    for bits, max_hamming in ((60, 3), (58, 3), (60, 6), (17, 2)):
        sigs = {}
        nid = 0
        for _ in range(40):
            base = rng.getrandbits(bits)
            sigs[nid] = base
            nid += 1
            for _ in range(rng.randrange(3)):  # planted near-dups
                flipped = base
                for _ in range(rng.randrange(max_hamming + 2)):  # may exceed budget
                    flipped ^= 1 << rng.randrange(bits)
                sigs[nid] = flipped
                nid += 1
        expected = {}
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= max_hamming:
                    expected[(a, b)] = h
        df = spark.createDataFrame(
            [(k, v) for k, v in sigs.items()], "id BIGINT, sig BIGINT"
        ).persist()
        out = banded_hamming_pairs(df, "id", "sig", bits, max_hamming)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
        df.unpersist()
        assert got == expected, (bits, max_hamming)
        assert expected, (bits, max_hamming)  # the case actually tested pairs


@given(
    st.integers(min_value=-(2**40), max_value=2**40),
    st.integers(min_value=0, max_value=2**41),
    st.integers(min_value=1, max_value=2**16),
    st.data(),
)
@settings(max_examples=200)
def test_bucket_cap_rule_properties(xmin, span_minus_1, nb, data):
    """The shared min/max equal-width bucket rule
    (profiling._bucket_capped_counts): width = (xmax−xmin+nb) div nb
    == ceil(span/nb) for span = xmax−xmin+1; buckets are in
    [0, nb−1], monotone non-decreasing in x, bucket(xmin) = 0, and
    width degenerates to 1 exactly when span <= nb (the
    pins-unchanged-at-fixture-scale guarantee). Pure-int replay of the
    int64 expression both engines run."""
    xmax = xmin + span_minus_1
    span = span_minus_1 + 1
    width = (xmax - xmin + nb) // nb
    assert width == -(-span // nb)  # ceil identity
    assert (width == 1) == (span <= nb)
    x1 = data.draw(st.integers(min_value=xmin, max_value=xmax))
    x2 = data.draw(st.integers(min_value=xmin, max_value=xmax))
    b1 = (x1 - xmin) // width
    b2 = (x2 - xmin) // width
    for x, b in ((x1, b1), (x2, b2)):
        assert 0 <= b <= nb - 1, (x, b, nb, width)
    if x1 <= x2:
        assert b1 <= b2
    assert (xmin - xmin) // width == 0


@given(
    st.integers(min_value=1, max_value=50),
    st.data(),
)
@settings(max_examples=200)
def test_psi_term_nonnegative_pure(n_buckets, data):
    """Every PSI term (p−q)·ln(p/q) is non-negative for positive
    smoothed shares (sign(p−q) == sign(ln(p/q))), and the day sum is 0
    exactly when the two count vectors are identical — the invariant
    the Spark operator inherits (smoothing keeps every share
    positive). Pure-float replay of the per-term expression."""
    import math

    c_cur = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=10**9),
            min_size=n_buckets,
            max_size=n_buckets,
        )
    )
    c_prev = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=10**9),
            min_size=n_buckets,
            max_size=n_buckets,
        )
    )
    n_cur, n_prev = sum(c_cur), sum(c_prev)
    total = 0.0
    for cc, cp in zip(c_cur, c_prev):
        p = (cc + 0.5) / (n_cur + n_buckets / 2.0)
        q = (cp + 0.5) / (n_prev + n_buckets / 2.0)
        term = (p - q) * math.log(p / q)
        assert term >= 0.0, (cc, cp, p, q, term)
        total += term
    if c_cur == c_prev:
        assert total == 0.0


def _loop_topk(q_ids, scores, c_ids, k):
    """Reference: the per-query loop every block top-k ran before
    `similarity._block_topk` (one masked lexsort per query), verbatim."""
    import numpy as np

    out_q, out_n, out_s = [], [], []
    for i, qid in enumerate(q_ids):
        col = scores[i]
        mask = c_ids != qid
        ids_i, col = c_ids[mask], col[mask]
        if not ids_i.size:
            continue
        order = np.lexsort((ids_i, -col))[:k]
        out_q.extend([qid] * len(order))
        out_n.extend(ids_i[order])
        out_s.extend(col[order])
    return out_q, out_n, out_s


# few distinct values, so ties, NaN and signed zeros are common
_score = st.one_of(
    st.sampled_from([-1.0, -0.5, -0.0, 0.0, 0.5, 1.0, float("nan")]),
    st.floats(min_value=-1, max_value=1),
)


@st.composite
def _scored_block(draw, score=_score):
    """(query ids, queries × rows scores, row ids, k) over a small id
    range, so self ids and duplicate stored ids are common; 0 queries,
    0 rows and k > rows included."""
    import numpy as np

    n_q = draw(st.integers(0, 6))
    n_r = draw(st.integers(0, 12))
    ids = st.integers(0, 6)
    q_ids = np.array(draw(st.lists(ids, min_size=n_q, max_size=n_q)), dtype="int64")
    r_ids = np.array(draw(st.lists(ids, min_size=n_r, max_size=n_r)), dtype="int64")
    flat = draw(st.lists(score, min_size=n_q * n_r, max_size=n_q * n_r))
    scores = np.array(flat, dtype="float64").reshape(n_q, n_r)
    return q_ids, scores, r_ids, draw(st.integers(0, 15))


@given(_scored_block())
@settings(max_examples=200, deadline=None)
def test_block_topk_matches_per_query_loop(block):
    """The vectorised block top-k emits exactly the rows, in exactly
    the order, of the per-query loop it replaced: score DESC, NaN after
    every real score, neighbor_id ASC; never the query's own id; each
    duplicate stored id once per row."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.similarity import _block_topk

    q_ids, scores, r_ids, k = block
    got = _block_topk(q_ids, scores, r_ids, k)
    want = _loop_topk(q_ids, scores, r_ids, k)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, np.asarray(w, dtype=g.dtype))
    assert not (got[0] == got[1]).any()


@given(_scored_block(st.sampled_from([0.0, 0.25, 1.0, 4.0]) | st.floats(0, 100)))
@settings(max_examples=200, deadline=None)
def test_block_topk_adc_sign(block):
    """ADC scores enter as ``-dist2``: the kernel ranks dist2 ASC, then
    neighbor_id ASC (the ADC loop's own ``lexsort((ids, d))``), and
    the emitted score negates back to the exact distance."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.similarity import _block_topk

    q_ids, dist2, r_ids, k = block
    got_q, got_n, got_s = _block_topk(q_ids, -dist2, r_ids, k)
    want_q, want_n, want_d = [], [], []
    for i, qid in enumerate(q_ids):
        mask = r_ids != qid
        ids_i, d_i = r_ids[mask], dist2[i][mask]
        order = np.lexsort((ids_i, d_i))[:k]
        want_q += [qid] * len(order)
        want_n += list(ids_i[order])
        want_d += list(d_i[order])
    np.testing.assert_array_equal(got_q, np.asarray(want_q, dtype="int64"))
    np.testing.assert_array_equal(got_n, np.asarray(want_n, dtype="int64"))
    np.testing.assert_array_equal(-got_s, np.asarray(want_d, dtype="float64"))


@given(_scored_block())
@settings(max_examples=200, deadline=None)
def test_merge_topk_is_idempotent(block):
    """`_merge_topk` fed its own output returns it unchanged, ranks
    1..n per query, and keeps the (score DESC, NaN last, id ASC)
    order: merging a block's candidates again loses or moves nothing."""
    import numpy as np

    from batch_process_dpla_index_spark.operators.similarity import _merge_topk

    q_ids, scores, r_ids, k = block
    n_q, n_r = scores.shape
    cand = (np.repeat(q_ids, n_r), np.tile(r_ids, n_q), scores.ravel())
    once = _merge_topk(*cand, k)
    twice = _merge_topk(*once[:3], k)
    for a, b in zip(once, twice):
        np.testing.assert_array_equal(a, b)
    for qid in np.unique(once[0]):
        sel = once[0] == qid
        assert list(once[3][sel]) == list(range(1, sel.sum() + 1))
        key = list(zip(np.nan_to_num(-once[2][sel], nan=np.inf), once[1][sel]))
        assert key == sorted(key)
