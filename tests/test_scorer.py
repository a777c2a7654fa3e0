"""Unit pins for the frozen scorer's decision kernel (ADVICE r2):
tie-inclusive top-k membership (documented deviation from the
reference's argsort[:k] selection, LSTM.py:131) and the out-of-range
label guard."""

import numpy as np
import pytest

from ai_log_analyzer_spark import scorer


def test_topk_membership_strict_rank():
    logits = np.array([[5.0, 4.0, 3.0, 2.0, 1.0]])
    # k=2: labels 0,1 in; 2,3,4 out
    for lab, expect in [(0, True), (1, True), (2, False), (4, False)]:
        assert bool(scorer.topk_membership(logits, np.array([lab]), k=2)[0]) == expect


def test_topk_membership_tie_inclusive():
    """A label whose logit exactly TIES the k-th value is in-top-k —
    both tied labels count, even though argsort[:k] would admit only
    one of them (the documented batch-shape-independent semantics)."""
    logits = np.array([[5.0, 3.0, 3.0, 1.0]])
    # k=2: strictly-greater counts are 0 (lab 0), 1 (labs 1 and 2) → all in
    assert scorer.topk_membership(logits, np.array([1]), k=2)[0]
    assert scorer.topk_membership(logits, np.array([2]), k=2)[0]
    # k=1: labs 1/2 have one strictly greater → out; only lab 0 in
    assert scorer.topk_membership(logits, np.array([0]), k=1)[0]
    assert not scorer.topk_membership(logits, np.array([1]), k=1)[0]
    # a full row of ties is entirely in-top-k at any k >= 1
    flat = np.array([[2.0, 2.0, 2.0]])
    assert scorer.topk_membership(flat, np.array([2]), k=1)[0]


def test_topk_membership_k_clamped_to_classes():
    logits = np.array([[1.0, 0.0]])
    assert scorer.topk_membership(logits, np.array([1]), k=10)[0]


def test_label_out_of_range_raises_clear_error():
    """ADVICE r2: an out-of-range label (stale catalog) must raise a
    clear ValueError, not a bare IndexError deep in fancy indexing."""
    logits = np.zeros((2, 4))
    with pytest.raises(ValueError, match="label_ids out of range"):
        scorer.topk_membership(logits, np.array([1, 4]))
    with pytest.raises(ValueError, match="label_ids out of range"):
        scorer.topk_membership(logits, np.array([-1, 0]))


def test_score_end_to_end_uses_guard():
    win = np.zeros((1, scorer.WINDOW_SIZE), dtype=np.int64)
    with pytest.raises(ValueError, match="label_ids out of range"):
        scorer.score(win, np.array([99]), num_classes=5)


def test_weight_memory_linear_in_classes():
    """r3 verdict item 1: scorer memory must be O(C·h), not O(C²).
    Doubling num_classes must ~double total weight bytes (a full-rank
    C×C term would quadruple it), and the absolute footprint at C must
    stay under the 4·C·max(HIDDEN, LOGIT_RANK)·4-byte linear bound."""
    for c in (512, 1024, 2048):
        total = sum(a.nbytes for a in scorer.load_weights(c))
        bound = 4 * c * max(scorer.HIDDEN, scorer.LOGIT_RANK) * 4
        assert total <= bound, (c, total, bound)
    b1 = sum(a.nbytes for a in scorer.load_weights(1024))
    b2 = sum(a.nbytes for a in scorer.load_weights(2048))
    assert b2 <= 2.05 * b1


def test_seed_weight_cache_installs_broadcast_weights():
    w = scorer.load_weights(64)
    scorer._WEIGHT_CACHE.pop((64, scorer.SEED))
    scorer.seed_weight_cache(64, w)
    got = scorer.load_weights(64)
    assert all(a is b for a, b in zip(w, got))


def test_anomaly_score_unchanged_by_logit_factorization():
    """w1/w2 are drawn before mu/mv from the same PCG64 stream, so the
    reconstruction error is bit-identical to the pre-r4 full-rank model
    — pin the first draws directly."""
    rng = np.random.default_rng(np.random.PCG64(scorer.SEED))
    w1_ref = (rng.standard_normal((scorer.HIDDEN, 32)) / np.sqrt(32)).astype(np.float32)
    w1, _, mu, mv = scorer.load_weights(32)
    np.testing.assert_array_equal(w1, w1_ref)
    assert mu.shape == (32, scorer.LOGIT_RANK)
    assert mv.shape == (scorer.LOGIT_RANK, 32)


def test_score_chunking_identity():
    """r6: score() slices batches larger than SCORE_CHUNK into row
    blocks (a pure working-set optimization).  Contract pinned here:
    (a) batches at or under SCORE_CHUNK take the byte-identical
    monolithic path (so every value-checked SF, whose host series are
    well under the bound, cannot drift on any CPU); (b) the blocked
    path agrees with the monolithic one to within the f32 GEMM noise
    band the flagship fixture's 1e-4 hash grid was designed around
    (<=5e-7 absolute), with identical top-k decisions at this seed."""
    for c, n in ((97, 1300), (513, 2049), (4992, 3000)):
        rng = np.random.default_rng(7)
        win = rng.integers(0, c, size=(n, scorer.WINDOW_SIZE)).astype(np.int64)
        lab = rng.integers(0, c, size=n).astype(np.int64)
        err_b, anom_b = scorer.score(win, lab, c)
        old = scorer.SCORE_CHUNK
        try:
            scorer.SCORE_CHUNK = n + 1   # monolithic reference
            err_m, anom_m = scorer.score(win, lab, c)
        finally:
            scorer.SCORE_CHUNK = old
        np.testing.assert_allclose(err_b, err_m, rtol=0, atol=5e-7)
        np.testing.assert_array_equal(anom_b, anom_m)
        # (a): under the bound both calls ARE the same code path
        e1, a1 = scorer.score(win[:old], lab[:old], c)
        try:
            scorer.SCORE_CHUNK = 10 ** 9
            e2, a2 = scorer.score(win[:old], lab[:old], c)
        finally:
            scorer.SCORE_CHUNK = old
        np.testing.assert_array_equal(e1, e2)
        np.testing.assert_array_equal(a1, a2)


def _rowwise_score(window_ids, label_ids, num_classes):
    """Stand-in scorer whose row i depends only on window i and label i
    (the real GEMMs vary in the low bits with batch shape), so split and
    whole scoring can be compared bitwise on the window/label rule."""
    weights = np.arange(1, window_ids.shape[1] + 1, dtype=np.float64)
    err = window_ids.astype(np.float64) @ weights + label_ids / 1024.0
    anom = (window_ids == label_ids[:, None]).any(axis=1)
    return err, anom


def _split_score(ids, split, num_classes):
    """Score ``ids`` as two micro-batches split at ``split``, the way
    ``score_stream_stateful`` does: the second call sees the stored
    tail of w+lead-1 ids plus the new rows.  Returns concatenated
    (ends, labels, err, anom) with ends as positions in ``ids``, or None
    when neither call has a window end."""
    from ai_log_analyzer_spark.operators.windows import score_series
    w, lead = scorer.WINDOW_SIZE, scorer.LABEL_LEAD
    offset = split - min(split, w + lead - 1)
    first = score_series(ids[:split], num_classes, w, lead, first_end=w - 1)
    second = score_series(ids[offset:], num_classes, w, lead,
                          first_end=max(w - 1, split - lead) - offset)
    parts = [first] if first is not None else []
    if second is not None:
        ends, *rest = second
        parts.append((ends + offset, *rest))
    return tuple(map(np.concatenate, zip(*parts))) if parts else None


def _oracle_frame(ids):
    import pandas as pd
    n = len(ids)
    return pd.DataFrame({"host": "h", "seq_no": np.arange(n),
                         "url": [f"u{i}" for i in range(n)],
                         "warc_ts": pd.Timestamp("2024-01-01"),
                         "template_id": ids})


# window counts n - w - lead + 1 on both sides of SCORE_CHUNK (1024)
_KERNEL_LENGTHS = (5, 12, 13, 40, 1035, 1036, 2500)


def test_series_kernel_split_equals_whole_equals_oracle(monkeypatch):
    """Batch↔stream parity at the kernel: for every 2-way split, the
    stream's two ``score_series`` calls (tail offset) produce exactly
    the window ends, labels and per-row outputs of one whole-series
    call, and those equal the oracle's independent window loop — all
    bitwise, with a row-wise scorer so only the window rule is tested."""
    from ai_log_analyzer_spark.operators.windows import score_series
    from ai_log_analyzer_spark.oracle import pipeline as O
    monkeypatch.setattr(scorer, "score", _rowwise_score)
    w, lead, c = scorer.WINDOW_SIZE, scorer.LABEL_LEAD, 50
    rng = np.random.default_rng(11)
    for n in _KERNEL_LENGTHS:
        ids = rng.integers(0, c, size=n).astype(np.int64)
        whole = score_series(ids, c, w, lead, first_end=w - 1)
        if whole is None:
            assert n < w + lead
            assert all(_split_score(ids, k, c) is None for k in range(1, n))
            continue
        diverging = [k for k in range(1, n) if not all(
            map(np.array_equal, _split_score(ids, k, c), whole))]
        assert diverging == [], f"n={n}: splits {diverging[:5]} diverge"
        ref = O.window_score(_oracle_frame(ids), c)
        np.testing.assert_array_equal(ids[whole[0]], ref["template_id"])
        np.testing.assert_array_equal(whole[1], ref["label_id"])
        np.testing.assert_array_equal(whole[2], ref["anomaly_score"])
        np.testing.assert_array_equal(whole[3], ref["is_anomaly"])


def test_series_kernel_real_scorer_matches_oracle():
    """With the real scorer the whole-series kernel is bitwise equal to
    the oracle on both the dense and the sparse (> SCORE_CHUNK) path,
    and a 2-way split keeps every decision (scores within the f32 GEMM
    band the stream parity test allows)."""
    from ai_log_analyzer_spark.operators.windows import score_series
    from ai_log_analyzer_spark.oracle import pipeline as O
    w, lead, c = scorer.WINDOW_SIZE, scorer.LABEL_LEAD, 50
    rng = np.random.default_rng(12)
    for n in (40, 1035, 1036):
        ids = rng.integers(0, c, size=n).astype(np.int64)
        ends, labels, err, anom = score_series(ids, c, w, lead, first_end=w - 1)
        ref = O.window_score(_oracle_frame(ids), c)
        np.testing.assert_array_equal(err, ref["anomaly_score"])
        np.testing.assert_array_equal(anom, ref["is_anomaly"])
        for split in (1, w + lead - 1, n // 2, n - 1):
            s_ends, _, s_err, s_anom = _split_score(ids, split, c)
            np.testing.assert_array_equal(s_ends, ends)
            np.testing.assert_array_equal(s_anom, anom)
            np.testing.assert_allclose(s_err, err, rtol=1e-5, atol=1e-7)
