"""Product quantization (operators/pq.py).

Pins:

- encode differential: the distributed codes equal an independent
  numpy replay of the assignment rule (normalize -> per-subspace
  argmin L2, ties -> smallest code);
- Lloyd training is monotone non-increasing in quantization
  distortion, and the trained codebooks beat the sampled seeds;
- ADC top-k differential vs a full numpy replay (scores AND the
  (score desc, id asc) tie order), with and without exact rerank;
- ivf_pq_topk with nprobe == n_centroids is row-identical to
  pq_adc_topk (the candidate restriction is the ONLY difference);
- recall vs brute-force cosine is monotone in nprobe, and trained
  codebooks + exact rerank reach recall >= 0.9 on a clustered corpus;
- the persisted-artifact paths (codes=, assigned_codes=,
  save/load_pq_codebooks) produce identical results to inline
  computation;
- geometry and edge validation (indivisible dim, tiny corpus, missing
  query ids, zero vectors).
"""

import numpy as np
import pytest

from textsearch_spark.operators import pq
from textsearch_spark.operators.simsearch import cosine_topk, train_ivf_centroids

N, DIM, M, K = 200, 32, 4, 16


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    cents = rng.normal(size=(6, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    mat = np.array([
        cents[i % 6] + 0.15 * np.random.default_rng(100 + i).normal(size=DIM)
        for i in range(N)
    ])
    mat[17] = 0.0  # zero vector: must never produce NaN anywhere
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).cache()
    df.count()
    return df, mat


def _norm_rows(mat):
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _replay_codes(mat, cb):
    """Independent assignment replay (no shared helpers)."""
    x = _norm_rows(np.asarray(mat, dtype=np.float64))
    m, k, dsub = cb.shape
    out = np.empty((len(x), m), dtype=np.int64)
    for s in range(m):
        sub = x[:, s * dsub:(s + 1) * dsub]
        d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
        # argmin L2, ties -> smallest code: np.argmin returns first min.
        # (The engine computes argmax(dot - |c|^2/2); on this seeded
        # random data no two codeword distances fall within float
        # cancellation range, so the formulations agree exactly.)
        out[:, s] = np.argmin(d, axis=1)
    return out


def _replay_adc(mat, codes, cb, q_rows, k, keep=None):
    """Full ADC top-k replay -> {qid: [(neighbor, score), ...]}."""
    m, _, dsub = cb.shape
    xq = _norm_rows(mat[q_rows])
    keep = keep or k
    out = {}
    for qi, q in enumerate(q_rows):
        luts = np.stack([cb[s] @ xq[qi, s * dsub:(s + 1) * dsub]
                         for s in range(m)])
        scores = np.zeros(len(codes))
        for s in range(m):
            scores += luts[s][codes[:, s]]
        order = [i for i in np.lexsort((np.arange(len(codes)), -scores))
                 if i != q][:keep]
        out[q] = [(int(i), scores[i]) for i in order]
    return out


def test_sampled_codebooks_shape_and_determinism(emb):
    df, _ = emb
    cb1 = pq.sampled_pq_codebooks(df, M, K)
    cb2 = pq.sampled_pq_codebooks(df, M, K)
    assert cb1.shape == (M, K, DIM // M)
    assert np.array_equal(cb1, cb2)
    # codewords are subvectors of L2-normalized corpus rows: the m
    # subspace pieces of one seed recombine to a unit vector
    full = np.concatenate([cb1[s] for s in range(M)], axis=1)
    assert np.allclose(np.linalg.norm(full, axis=1), 1.0)


def test_geometry_validation(emb):
    df, _ = emb
    with pytest.raises(ValueError, match="not divisible"):
        pq.sampled_pq_codebooks(df, 5, K)  # 32 % 5 != 0
    with pytest.raises(ValueError, match="n_codewords"):
        pq.sampled_pq_codebooks(df.limit(3), M, K)


def test_codebook_geometry_checked_at_driver(emb):
    """Externally supplied codebooks whose m * dsub does not tile the
    vector dimension are refused by every entry point with a
    descriptive driver-side error, before any kernel runs."""
    df, _ = emb
    cb = pq.sampled_pq_codebooks(df, M, K)
    bad = cb[:, :, :-1]  # m * dsub = 28 != 32
    cents = train_ivf_centroids(df, 4, n_iter=1)
    with pytest.raises(ValueError, match="do not tile 32-dim"):
        pq.pq_encode(df, bad)
    with pytest.raises(ValueError, match="do not tile 32-dim"):
        pq.pq_adc_topk(df, [1, 2], k=3, codebooks=bad)
    with pytest.raises(ValueError, match="do not tile 32-dim"):
        pq.ivf_pq_topk(df, [1, 2], k=3, centroids=cents, codebooks=bad)


def test_lut_broadcast_bounded_in_bytes(emb):
    """The per-batch LUT broadcast is n_q * m * K * 8 bytes; a batch
    past MAX_LUT_BROADCAST_BYTES is refused at the driver, before the
    query collect, by both LUT-broadcasting entry points (m=32, K=256
    is 64 KiB per query, so 16385 queries cross the 1 GiB bound)."""
    df, _ = emb
    big = np.zeros((32, 256, 1))
    per_query = 32 * 256 * 8
    n_max = pq.MAX_LUT_BROADCAST_BYTES // per_query
    assert n_max == 16384
    pq._check_lut_bytes(n_max, big)  # at the bound: accepted
    ids = list(range(n_max + 1))
    with pytest.raises(ValueError, match="split it into batches of <= 16384"):
        pq.pq_adc_topk(df, ids, k=3, codebooks=big)
    with pytest.raises(ValueError, match="broadcast bound"):
        pq.ivf_pq_topk(df, ids, k=3, centroids=np.zeros((4, 32)), codebooks=big)


def test_adc_topk_rejects_residual_codes(emb):
    """Residual pq_encode output carries centroid_id; scoring it with
    flat LUTs would mis-rank silently, so pq_adc_topk refuses it."""
    df, _ = emb
    cents = train_ivf_centroids(df, 4, n_iter=1)
    cb = pq.train_pq_codebooks(df, M, K, n_iter=1, coarse_centroids=cents)
    codes = pq.pq_encode(df, cb, coarse_centroids=cents)
    with pytest.raises(ValueError, match="centroid_id"):
        pq.pq_adc_topk(df, [1, 2], k=3, codebooks=cb, codes=codes)


def test_encode_differential(emb):
    df, mat = emb
    cb = pq.sampled_pq_codebooks(df, M, K)
    got = {r.vec_id: list(r.codes)
           for r in pq.pq_encode(df, cb).collect()}
    want = _replay_codes(mat, cb)
    assert len(got) == N
    for i in range(N):
        assert got[i] == list(want[i]), f"row {i}"


def test_train_distortion_monotone(emb):
    df, _ = emb
    cb0 = pq.sampled_pq_codebooks(df, M, K)
    d_prev = pq.pq_distortion(df, cb0)
    for it in (1, 2, 4):
        cb = pq.train_pq_codebooks(df, M, K, n_iter=it)
        d = pq.pq_distortion(df, cb)
        assert d <= d_prev + 1e-9, f"iter {it}: {d} > {d_prev}"
        d_prev = d
    # training must actually help vs the raw seeds
    assert d_prev < pq.pq_distortion(df, cb0)


def test_adc_topk_differential(emb):
    df, mat = emb
    cb = pq.sampled_pq_codebooks(df, M, K)
    codes = _replay_codes(mat, cb)
    q_rows = [0, 5, 17, 42]  # includes the zero vector
    res = pq.pq_adc_topk(df, q_rows, k=5, codebooks=cb).collect()
    want = _replay_adc(mat, codes, cb, q_rows, k=5)
    got = {}
    for r in res:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.score))
    assert set(got) == set(q_rows)
    for q in q_rows:
        rows = sorted(got[q])
        assert [n for _, n, _ in rows] == [n for n, _ in want[q]], f"q{q} order"
        for (_, _, s), (_, ws) in zip(rows, want[q]):
            assert s == pytest.approx(ws, abs=1e-12), f"q{q} score"
        assert not any(np.isnan(s) for _, _, s in rows)


def test_adc_rerank_differential_and_recall(emb):
    df, mat = emb
    cb = pq.train_pq_codebooks(df, M, K, n_iter=4)
    codes = _replay_codes(mat, cb)
    q_rows = [1, 9, 33]
    res = pq.pq_adc_topk(df, q_rows, k=5, codebooks=cb, rerank=40).collect()
    # replay: top-40 by ADC, exact-cosine rescore, top-5
    xn = _norm_rows(mat)
    cand = _replay_adc(mat, codes, cb, q_rows, k=5, keep=40)
    got = {}
    for r in res:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.score))
    brute = {r.query_id: r.neighbor_id
             for r in cosine_topk(df, q_rows, k=1).collect()}
    for q in q_rows:
        ids = np.array([n for n, _ in cand[q]])
        cos = xn[ids] @ xn[q]
        order = np.lexsort((ids, -cos))[:5]
        want_ids = list(ids[order])
        rows = sorted(got[q])
        assert [n for _, n, _ in rows] == want_ids, f"q{q}"
        for (_, _, s), w in zip(rows, cos[order]):
            assert s == pytest.approx(w, abs=1e-12)
        # trained + rerank: the exact nearest neighbor is recovered
        assert rows[0][1] == brute[q], f"q{q} misses true NN"


def test_ivfpq_full_probe_equals_adc(emb):
    df, mat = emb
    cb = pq.sampled_pq_codebooks(df, M, K)
    cents = train_ivf_centroids(df, 8, n_iter=2)
    q_rows = [2, 17, 50]
    a = pq.pq_adc_topk(df, q_rows, k=5, codebooks=cb).collect()
    b = pq.ivf_pq_topk(df, q_rows, k=5, centroids=cents, codebooks=cb,
                       nprobe=8).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, round(r.score, 12))
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_ivfpq_monotone_recall_and_rerank_quality(emb):
    df, mat = emb
    cb = pq.train_pq_codebooks(df, M, K, n_iter=4)
    cents = train_ivf_centroids(df, 8, n_iter=3)
    q_rows = list(range(0, 60, 3))
    brute = {}
    for r in cosine_topk(df, q_rows, k=5).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for nprobe in (1, 2, 8):
        res = pq.ivf_pq_topk(df, q_rows, k=5, centroids=cents, codebooks=cb,
                             nprobe=nprobe, rerank=30)
        hits, total = 0, 0
        for r in res.collect():
            total += 1
            hits += r.neighbor_id in brute[r.query_id]
        recalls.append(hits / total)
    # a larger probe set changes (not supersets) the bounded ADC
    # candidate pool, so recall is near-monotone, not strictly so
    assert recalls[-1] >= recalls[0] - 1e-9, f"recall fell with nprobe: {recalls}"
    assert recalls[1] >= recalls[0] - 0.05, f"recall dipped hard: {recalls}"
    assert recalls[-1] >= 0.9, f"full-probe trained+rerank recall {recalls[-1]}"


def test_precomputed_artifacts_identical(emb, tmp_path):
    df, _ = emb
    from textsearch_spark.operators.simsearch import ivf_assign

    cb = pq.train_pq_codebooks(df, M, K, n_iter=2)
    path = str(tmp_path / "cb.json")
    pq.save_pq_codebooks(cb, path)
    cb2 = pq.load_pq_codebooks(path)
    assert np.array_equal(cb, cb2)

    cents = train_ivf_centroids(df, 8, n_iter=2)
    codes = pq.pq_encode(df, cb2).cache()
    assigned_codes = (
        ivf_assign(df, 8, centroids=cents).select("centroid_id", "vec_id")
        .join(codes, "vec_id").select("centroid_id", "vec_id", "codes").cache()
    )
    q_rows = [3, 21]
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, round(r.score, 12))
    inline = sorted(map(key, pq.pq_adc_topk(
        df, q_rows, k=4, codebooks=cb).collect()))
    precomp = sorted(map(key, pq.pq_adc_topk(
        df, q_rows, k=4, codebooks=cb2, codes=codes).collect()))
    assert inline == precomp
    inline_ivf = sorted(map(key, pq.ivf_pq_topk(
        df, q_rows, k=4, centroids=cents, codebooks=cb, nprobe=3).collect()))
    precomp_ivf = sorted(map(key, pq.ivf_pq_topk(
        df, q_rows, k=4, centroids=cents, codebooks=cb2, nprobe=3,
        assigned_codes=assigned_codes).collect()))
    assert inline_ivf == precomp_ivf
    codes.unpersist()
    assigned_codes.unpersist()


def _replay_residual(mat, cents):
    """Replay residual encoding's reference frame: coarse assignment on
    RAW vectors (argmin L2 == argmax(dot - |c|^2/2)), residual =
    normalized vector minus NORMALIZED centroid."""
    c = np.asarray(cents, dtype=np.float64)
    csq = 0.5 * (c * c).sum(axis=1)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-300)
    cids = np.argmax(mat @ c.T - csq[None, :], axis=1)
    return _norm_rows(mat) - cn[cids], cids, cn


def test_residual_encode_differential(emb):
    df, mat = emb
    cents = train_ivf_centroids(df, 8, n_iter=2)
    cb = pq.train_pq_codebooks(df, M, K, n_iter=2, coarse_centroids=cents)
    res, cids, _ = _replay_residual(mat, cents)
    want = _replay_codes_raw(res, cb)
    got = {r.vec_id: (r.centroid_id, list(r.codes))
           for r in pq.pq_encode(df, cb, coarse_centroids=cents).collect()}
    assert len(got) == N
    for i in range(N):
        assert got[i][0] == cids[i], f"row {i} coarse id"
        assert got[i][1] == list(want[i]), f"row {i} codes"


def _replay_codes_raw(x, cb):
    """Assignment replay WITHOUT normalization (x already in the space
    the codebooks quantize — residuals here)."""
    m, k, dsub = cb.shape
    out = np.empty((len(x), m), dtype=np.int64)
    for s in range(m):
        sub = x[:, s * dsub:(s + 1) * dsub]
        d = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
        out[:, s] = np.argmin(d, axis=1)
    return out


def test_residual_scoring_differential(emb):
    """ivf_pq_topk(residual=True) == numpy replay: score = dot(qn,
    cn[list]) + sum_s LUT gathers over the residual codes, rank by
    (score desc, id asc), restricted to the probed lists."""
    df, mat = emb
    cents = train_ivf_centroids(df, 8, n_iter=2)
    cb = pq.train_pq_codebooks(df, M, K, n_iter=2, coarse_centroids=cents)
    res, cids, cn = _replay_residual(mat, cents)
    codes = _replay_codes_raw(res, cb)
    q_rows = [4, 17, 29]
    nprobe = 3
    got = {}
    for r in pq.ivf_pq_topk(df, q_rows, k=5, centroids=cents, codebooks=cb,
                            nprobe=nprobe, residual=True).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.score))
    c = np.asarray(cents, dtype=np.float64)
    csq = 0.5 * (c * c).sum(axis=1)
    xn = _norm_rows(mat)
    dsub = DIM // M
    for q in q_rows:
        cscores = c @ mat[q] - csq
        probed = set(np.lexsort((np.arange(len(c)), -cscores))[:nprobe])
        luts = np.stack([cb[s] @ xn[q, s * dsub:(s + 1) * dsub]
                         for s in range(M)])
        cand = [i for i in range(N) if cids[i] in probed and i != q]
        scores = np.array([
            float(xn[q] @ cn[cids[i]])
            + sum(luts[s][codes[i, s]] for s in range(M))
            for i in cand])
        order = np.lexsort((np.array(cand), -scores))[:5]
        want = [(int(np.array(cand)[j]), scores[j]) for j in order]
        rows = sorted(got[q])
        assert [n for _, n, _ in rows] == [n for n, _ in want], f"q{q}"
        for (_, _, s), (_, ws) in zip(rows, want):
            assert s == pytest.approx(ws, abs=1e-9), f"q{q} score"


@pytest.fixture(scope="module")
def emb_tight(spark):
    """Bench-shaped corpus for the residual-vs-flat comparison: 16
    TIGHT unit-centroid clusters (sigma=0.05, 64-dim) — the regime
    where flat codebooks spend their resolution on inter-cluster
    structure and collapse inside the lists IVF probes."""
    rng = np.random.default_rng(11)
    cents0 = rng.normal(size=(16, 64))
    cents0 /= np.linalg.norm(cents0, axis=1, keepdims=True)
    mat = np.array([
        cents0[i % 16] + 0.05 * np.random.default_rng(i + 55).normal(size=64)
        for i in range(2000)
    ])
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(2000)],
        "vec_id long, embedding array<double>",
    ).cache()
    df.count()
    return df, mat


def test_residual_beats_flat_on_clustered(emb_tight):
    """Why residual mode exists. On tight clusters, residual codebooks
    must (a) roughly halve quantization distortion (measured 0.54x;
    the residuals of this corpus are iid noise — PQ's rate-distortion
    worst case — so a 2x gain is the honest ceiling here, not the
    10x+ a low-intrinsic-dimension real corpus shows), and (b) beat
    flat recall both raw and under exact rerank."""
    df, _ = emb_tight
    cents = train_ivf_centroids(df, 32, n_iter=3)
    cb_flat = pq.train_pq_codebooks(df, 8, 64, n_iter=3)
    cb_res = pq.train_pq_codebooks(df, 8, 64, n_iter=3,
                                   coarse_centroids=cents)
    d_flat = pq.pq_distortion(df, cb_flat)
    d_res = pq.pq_distortion(df, cb_res, coarse_centroids=cents)
    assert d_res < 0.7 * d_flat, f"residual distortion {d_res} vs flat {d_flat}"

    q_rows = list(range(0, 120, 3))
    brute = {}
    for r in cosine_topk(df, q_rows, k=10).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(res):
        hits = total = 0
        for r in res.collect():
            total += 1
            hits += r.neighbor_id in brute[r.query_id]
        return hits / total

    r_flat = recall(pq.ivf_pq_topk(df, q_rows, k=10, centroids=cents,
                                   codebooks=cb_flat, nprobe=6))
    r_res = recall(pq.ivf_pq_topk(df, q_rows, k=10, centroids=cents,
                                  codebooks=cb_res, nprobe=6, residual=True))
    assert r_res >= r_flat + 0.03, f"raw ADC: residual {r_res} vs flat {r_flat}"
    r_flat_rr = recall(pq.ivf_pq_topk(df, q_rows, k=10, centroids=cents,
                                      codebooks=cb_flat, nprobe=6, rerank=48))
    r_res_rr = recall(pq.ivf_pq_topk(df, q_rows, k=10, centroids=cents,
                                     codebooks=cb_res, nprobe=6,
                                     residual=True, rerank=48))
    assert r_res_rr >= r_flat_rr + 0.05, (
        f"rerank: residual {r_res_rr} vs flat {r_flat_rr}")
    assert r_res_rr >= 0.7, f"residual+rerank recall {r_res_rr}"


def test_missing_queries_empty(emb):
    df, _ = emb
    cb = pq.sampled_pq_codebooks(df, M, K)
    assert pq.pq_adc_topk(df, [99999], k=3, codebooks=cb).count() == 0
    cents = train_ivf_centroids(df, 4, n_iter=1)
    assert pq.ivf_pq_topk(df, [99999], k=3, centroids=cents,
                          codebooks=cb, nprobe=2).count() == 0


def test_rerank_vector_fetch_is_broadcast(emb):
    """The exact-rerank join must probe the corpus with the BOUNDED
    candidate set broadcast — never shuffle the embeddings table to
    meet <= keep-rows-per-query candidates (the 100-TB shape: the
    vector fetch is a broadcast-hash lookup)."""
    import contextlib
    import io

    df, _ = emb
    cb = pq.sampled_pq_codebooks(df, M, K)
    res = pq.pq_adc_topk(df, [0, 5], k=3, codebooks=cb, rerank=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    # and the corpus side of that join carries no shuffle exchange
    lines = plan.splitlines()
    bhj = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
    probe_side = []
    for line in lines[bhj + 1:]:
        if "BroadcastExchange" in line:
            break
        probe_side.append(line)
    assert not any("Exchange hashpartitioning" in l for l in probe_side), plan


def test_save_load_rejects_wrong_kind(tmp_path):
    import json

    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"kind": "ivf_centroids"}))
    with pytest.raises(ValueError, match="not a saved PQ codebook"):
        pq.load_pq_codebooks(str(p))
