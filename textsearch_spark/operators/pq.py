"""Product quantization (PQ) — the ANN *memory*-scale path.

The similarity family so far trades scan breadth for speed (LSH / IVF
probe a fraction of the corpus) but every probed row still ships its
full float vector. At 100 TB the binding constraint flips to memory
bandwidth and resident bytes: a 768-dim float32 corpus is 3 KB/row,
while an 8-subspace / 256-codeword PQ code is 8 BYTES/row (384x), so
the whole candidate structure stays executor-resident and a probe
scans codes, not vectors.

Pieces (composable, mirroring the IVF lifecycle):

- ``sampled_pq_codebooks``: deterministic md5-sampled codebooks (the
  n_codewords corpus vectors with smallest md5(vec_id), L2-normalized,
  split into m subvector codebooks) — bit-reproducible by the DuckDB
  oracle, same rule as IVF's sampled centroids.
- ``train_pq_codebooks``: per-subspace Lloyd k-means from those seeds.
  ALL m subspaces train in the SAME single distributed pass per
  iteration (one mapInPandas emitting (subspace, code, count, sum)
  partials per partition — map-side combine; the driver folds
  m x n_codewords tiny rows, never vectors).
- ``pq_encode``: vectors -> ``array<smallint>`` codes column (m
  entries, each < n_codewords). Parquet dictionary/bit-packing stores
  these near the information-theoretic m*log2(K) bits; pack to binary
  at the storage edge if you need the last 2x.
- ``pq_adc_topk``: asymmetric-distance top-k. Queries become per-query
  lookup tables (LUT[s][c] = dot(q_sub[s], codeword[s][c])) broadcast
  once; each Arrow batch of codes is scored with m table-gathers and
  keeps a bounded per-batch top-k (same shape as ``cosine_topk`` —
  never an n_docs x n_queries stage). Optional ``rerank=r`` re-scores
  the top-r ADC candidates with exact cosine over the raw vectors
  (<= r rows per query fetch their vector — the standard two-stage
  retrieval at scale).
- ``ivf_pq_topk``: IVF candidate restriction + ADC scoring — scan
  ``nprobe/n_centroids`` of the table AND touch only codes while doing
  it. ``residual=True`` quantizes ``xn - cn[list]`` (faiss
  ``by_residual=true``) — required on clustered corpora, where flat
  codes collapse inside exactly the lists IVF probes; the additive
  decomposition keeps the LUT per-QUERY (each probed (query, list)
  pair adds one scalar), so residual costs one float per pair, not a
  per-(query, list) LUT.

Metric: ALL PQ ops operate on L2-normalized vectors, so ADC
approximates cosine — consistent with the rest of the family
(``cosine_topk`` / ``lsh_cosine_topk`` / ``ivf_cosine_topk``).
Zero vectors stay zero (score 0 everywhere, never NaN).

Reference scope note: the reference engine (sadit/TextSearch.jl) stops
at exact + inverted-file cosine search; PQ extends the same query API
to the compressed-candidate regime a web-scale corpus needs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .search import in_list
from .simsearch import (
    MAX_QUERY_BATCH,
    _sampled_centroids,
    _to_matrix,
    _topk_rows,
)


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _check_geometry(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into m={m} subspaces")
    return dim // m


def _check_codebooks(cb: np.ndarray, dim: int) -> None:
    """Driver-side: m subspaces of dsub dims must tile the vector, or
    the kernels fail deep in numpy on the executors."""
    if cb.ndim != 3 or cb.shape[0] * cb.shape[2] != dim:
        raise ValueError(
            f"codebooks of shape {cb.shape} (m, n_codewords, dsub) do not "
            f"tile {dim}-dim vectors: need m * dsub == {dim}")


def sampled_pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    n_codewords: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic seed codebooks, shape (m, n_codewords, dim/m):
    the ``n_codewords`` corpus vectors with smallest md5(vec_id),
    L2-normalized and split into m contiguous subvectors. Reproducible
    by the SQL oracle bit-for-bit (the verifiable structure); train
    from these with ``train_pq_codebooks`` for real recall."""
    _, seed_mat = _sampled_centroids(embeddings, n_codewords, id_col, vec_col)
    if len(seed_mat) < n_codewords:
        raise ValueError(
            f"corpus has only {len(seed_mat)} rows < n_codewords={n_codewords}")
    dsub = _check_geometry(seed_mat.shape[1], m)
    seed_mat = _normalize_rows(seed_mat)
    return np.stack(
        [seed_mat[:, s * dsub:(s + 1) * dsub] for s in range(m)])


def _codebook_halfsq(codebooks: np.ndarray) -> np.ndarray:
    """0.5*|c|^2 per (subspace, code) — the argmin-L2 == argmax(dot -
    halfsq) trick, identical to the IVF assignment rule."""
    return 0.5 * np.einsum("skd,skd->sk", codebooks, codebooks)


def _assign_codes(x_norm: np.ndarray, codebooks: np.ndarray,
                  halfsq: np.ndarray) -> np.ndarray:
    """(n, dim) normalized vectors -> (n, m) uint8/int codes; ties ->
    smallest code (argmax returns the first max)."""
    m, _, dsub = codebooks.shape
    out = np.empty((len(x_norm), m), dtype=np.int64)
    for s in range(m):
        sub = x_norm[:, s * dsub:(s + 1) * dsub]
        out[:, s] = np.argmax(sub @ codebooks[s].T - halfsq[s], axis=1)
    return out


def _coarse_parts(coarse_centroids) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(raw matrix, 0.5|c|^2, row-normalized matrix) for residual mode.
    Coarse assignment runs on RAW vectors with the raw centroids (the
    ``ivf_assign`` rule); the residual reference point is the
    NORMALIZED centroid, so residuals live in the same unit-sphere
    space as the quantized vectors."""
    c_mat = np.asarray(coarse_centroids, dtype=np.float64)
    c_sq = 0.5 * np.einsum("ij,ij->i", c_mat, c_mat)
    return c_mat, c_sq, _normalize_rows(c_mat)


def _residualize(x_raw: np.ndarray, x_norm: np.ndarray, c_mat, c_sq, c_norm):
    """(residual matrix, coarse assignment) — r = xn - cn[assign(x)]."""
    cids = np.argmax(x_raw @ c_mat.T - c_sq, axis=1)
    return x_norm - c_norm[cids], cids


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codewords: int = 256,
    *,
    n_iter: int = 5,
    coarse_centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd-trained PQ codebooks from the md5-sampled seeds.

    Each iteration is ONE distributed pass: the kernel normalizes its
    Arrow batches, assigns every subspace with a matmul, and emits one
    (subspace, code, count, component-sum) partial per PARTITION —
    so the driver folds n_partitions x m x n_codewords tiny rows.
    Empty codes keep their previous codeword (same convention as
    ``train_ivf_centroids``). Train on a sample table at 100 TB;
    persist the result with ``save_pq_codebooks``.

    ``coarse_centroids=`` switches to RESIDUAL training (faiss
    ``by_residual=true``): codebooks quantize ``xn - cn[assign(x)]``
    (normalized vector minus its normalized coarse centroid). On
    clustered data this is the difference between working and not:
    flat codebooks resolve at inter-cluster scale, so every member of
    a tight cluster gets near-identical codes and ADC cannot rank
    inside the very lists IVF probes (measured recall@10 0.19 on the
    32-cluster bench corpus vs 0.97+ residual). Use the SAME centroid
    matrix for ``pq_encode`` and ``ivf_pq_topk``."""
    spark = embeddings.sparkSession
    cb = sampled_pq_codebooks(embeddings, m, n_codewords,
                              id_col=id_col, vec_col=vec_col)
    mm, kk, dsub = cb.shape
    res_parts = (_coarse_parts(coarse_centroids)
                 if coarse_centroids is not None else None)
    if res_parts is not None:
        # seed in residual space too: residualize the sampled seeds
        # (keeps iteration 0 from starting at inter-cluster scale)
        _, seed_raw = _sampled_centroids(embeddings, kk, id_col, vec_col)
        r0, _ = _residualize(seed_raw, _normalize_rows(seed_raw), *res_parts)
        cb = np.stack([r0[:, s * dsub:(s + 1) * dsub] for s in range(mm)])
    for _ in range(n_iter):
        halfsq = _codebook_halfsq(cb)
        bc = spark.sparkContext.broadcast((cb, halfsq, res_parts))

        def partials(batches):
            cbv, hs, rp = bc.value
            sums = np.zeros((mm, kk, dsub))
            counts = np.zeros((mm, kk), dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                raw = _to_matrix(pdf[vec_col])
                x = _normalize_rows(raw)
                if rp is not None:
                    x, _ = _residualize(raw, x, *rp)
                codes = _assign_codes(x, cbv, hs)
                for s in range(mm):
                    np.add.at(sums[s], codes[:, s],
                              x[:, s * dsub:(s + 1) * dsub])
                    counts[s] += np.bincount(codes[:, s], minlength=kk)
            sidx, cidx = np.nonzero(counts)
            yield pd.DataFrame({
                "s": sidx.astype(np.int64),
                "c": cidx.astype(np.int64),
                "n": counts[sidx, cidx],
                "v": [sums[a, b].tolist() for a, b in zip(sidx, cidx)],
            })

        rows = embeddings.select(vec_col).mapInPandas(
            partials, "s long, c long, n long, v array<double>").collect()
        sums = np.zeros((mm, kk, dsub))
        counts = np.zeros((mm, kk), dtype=np.int64)
        for r in rows:
            sums[r.s, r.c] += np.asarray(r.v)
            counts[r.s, r.c] += r.n
        nz = counts > 0
        means = sums / np.maximum(counts, 1)[:, :, None]
        cb = np.where(nz[:, :, None], means, cb)
        bc.destroy()
    return cb


def save_pq_codebooks(codebooks, path: str) -> None:
    """Persist trained codebooks (train once offline, reuse across
    encode + query jobs). Plain JSON, engine-agnostic, exact."""
    import json
    import os

    c = np.asarray(codebooks, dtype=np.float64)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"kind": "pq_codebooks", "m": int(c.shape[0]),
                   "n_codewords": int(c.shape[1]), "dsub": int(c.shape[2]),
                   "codebooks": [[[float(x) for x in cw] for cw in sub]
                                 for sub in c]}, f)
    os.replace(tmp, path)


def load_pq_codebooks(path: str) -> np.ndarray:
    import json

    with open(path) as f:
        doc = json.load(f)
    if doc.get("kind") != "pq_codebooks":
        raise ValueError(f"{path} is not a saved PQ codebook set")
    c = np.asarray(doc["codebooks"], dtype=np.float64)
    assert c.shape == (doc["m"], doc["n_codewords"], doc["dsub"])
    return c


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    *,
    coarse_centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<smallint>) — each row's normalized vector
    quantized per subspace to its nearest codeword (argmin L2, ties ->
    smallest code). Run once per index lifetime and persist; this is
    the corpus-wide pass that replaces vector storage on the query
    path.

    ``coarse_centroids=`` switches to RESIDUAL codes (quantize
    ``xn - cn[assign(x)]``; the codebooks must have been trained with
    the same matrix) and the output gains the ``centroid_id`` column —
    the coarse assignment is computed in the same kernel pass, so the
    result IS the ``assigned_codes`` table ``ivf_pq_topk`` wants, with
    no separate ``ivf_assign`` join."""
    spark = embeddings.sparkSession
    cb = np.asarray(codebooks, dtype=np.float64)
    first = embeddings.select(vec_col).dropna().limit(1).collect()
    if first:
        _check_codebooks(cb, len(first[0][0]))
    halfsq = _codebook_halfsq(cb)
    res_parts = (_coarse_parts(coarse_centroids)
                 if coarse_centroids is not None else None)
    bc = spark.sparkContext.broadcast((cb, halfsq, res_parts))
    if res_parts is None:
        out_schema = f"{id_col} long, codes array<smallint>"
    else:
        out_schema = f"centroid_id long, {id_col} long, codes array<smallint>"

    def encode(batches):
        cbv, hs, rp = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            raw = _to_matrix(pdf[vec_col])
            x = _normalize_rows(raw)
            cids = None
            if rp is not None:
                x, cids = _residualize(raw, x, *rp)
            codes = _assign_codes(x, cbv, hs).astype(np.int16)
            out = {id_col: pdf[id_col].to_numpy(dtype=np.int64),
                   "codes": list(codes)}
            if cids is not None:
                out = {"centroid_id": cids.astype(np.int64), **out}
            yield pd.DataFrame(out)

    return embeddings.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_distortion(
    embeddings: DataFrame,
    codebooks,
    *,
    coarse_centroids=None,
    vec_col: str = "embedding",
) -> float:
    """Mean squared quantization error over the (normalized) corpus —
    the training observable (Lloyd is monotone non-increasing in it)
    and the codebook-quality diagnostic; in residual mode
    (``coarse_centroids=``) the error is measured against the
    residuals the codebooks actually quantize. One distributed pass
    emitting a (count, error-sum) partial per partition."""
    spark = embeddings.sparkSession
    cb = np.asarray(codebooks, dtype=np.float64)
    first = embeddings.select(vec_col).dropna().limit(1).collect()
    if first:
        _check_codebooks(cb, len(first[0][0]))
    halfsq = _codebook_halfsq(cb)
    m, _, dsub = cb.shape
    res_parts = (_coarse_parts(coarse_centroids)
                 if coarse_centroids is not None else None)
    bc = spark.sparkContext.broadcast((cb, halfsq, res_parts))

    def partials(batches):
        cbv, hs, rp = bc.value
        n, err = 0, 0.0
        for pdf in batches:
            if pdf.empty:
                continue
            raw = _to_matrix(pdf[vec_col])
            x = _normalize_rows(raw)
            if rp is not None:
                x, _ = _residualize(raw, x, *rp)
            codes = _assign_codes(x, cbv, hs)
            recon = np.concatenate(
                [cbv[s][codes[:, s]] for s in range(m)], axis=1)
            err += float(((x - recon) ** 2).sum())
            n += len(x)
        yield pd.DataFrame({"n": [n], "err": [err]})

    rows = embeddings.select(vec_col).mapInPandas(
        partials, "n long, err double").collect()
    total_n = sum(r.n for r in rows)
    total_err = sum(r.err for r in rows)
    bc.destroy()
    return total_err / total_n if total_n else 0.0


def _query_luts(q_mat_norm: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n_q, dim) normalized queries -> (m, n_codewords, n_q) LUT
    tensor: LUT[s, c, q] = dot(q_sub[s], codeword[s][c]). Oriented so
    the scan's gather ``lut[s][codes[:, s]]`` yields (n_batch, n_q)
    directly."""
    m, _, dsub = cb.shape
    return np.stack([
        cb[s] @ q_mat_norm[:, s * dsub:(s + 1) * dsub].T for s in range(m)])


def _adc_scores(codes: np.ndarray, luts: np.ndarray) -> np.ndarray:
    """(n, m) codes x (m, K, n_q) LUTs -> (n, n_q) ADC scores — m
    table-gathers, no vector arithmetic."""
    n, m = codes.shape
    scores = np.zeros((n, luts.shape[2]))
    for s in range(m):
        scores += luts[s][codes[:, s]]
    return scores


# Per-query LUTs are m * n_codewords float64s (64 KiB at m=32, K=256)
# and the whole batch's LUTs ride ONE broadcast, so the batch is bounded
# by LUT bytes, not only by the vector-batch cap MAX_QUERY_BATCH (a full
# 65536-query batch at m=32, K=256 would broadcast 4 GiB).
MAX_LUT_BROADCAST_BYTES = 1 << 30


def _check_lut_bytes(n_q: int, cb: np.ndarray) -> None:
    """Driver-side: refuse a query batch whose LUT broadcast would
    exceed MAX_LUT_BROADCAST_BYTES, before any collect or LUT build."""
    per_query = int(np.prod(cb.shape[:2])) * 8
    if n_q * per_query > MAX_LUT_BROADCAST_BYTES:
        raise ValueError(
            f"query batch of {n_q} needs {n_q * per_query / 2**20:.0f} MiB of "
            f"PQ lookup tables (codebooks {cb.shape}), over the "
            f"{MAX_LUT_BROADCAST_BYTES >> 20} MiB broadcast bound; split it "
            f"into batches of <= {MAX_LUT_BROADCAST_BYTES // per_query} queries")


def _collect_queries(embeddings, query_ids, cb, id_col, vec_col):
    """(q_ids asc, normalized matrix, raw matrix) for the ids present;
    ([], None, None) when none are. ONE driver collect per query batch
    — the raw rows feed coarse-probe selection, the normalized ones
    the PQ metric."""
    assert len(query_ids) <= MAX_QUERY_BATCH, (
        f"query batch {len(query_ids)} exceeds {MAX_QUERY_BATCH}; split the batch"
    )
    _check_lut_bytes(len(query_ids), cb)
    qrows = embeddings.filter(in_list(id_col, query_ids)).select(
        id_col, vec_col).collect()
    if not qrows:
        return np.empty(0, dtype=np.int64), None, None
    qrows.sort(key=lambda r: r[0])
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_raw = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    return q_ids, _normalize_rows(q_raw), q_raw


def _empty_result(spark):
    return spark.createDataFrame(
        [], "query_id long, rank int, neighbor_id long, score double")


def _exact_rerank(embeddings, cand: DataFrame, q_ids, q_mat, k,
                  id_col, vec_col) -> DataFrame:
    """Join the <= r-per-query ADC candidates back to their raw
    vectors and re-score with exact cosine; final top-k by
    (cos desc, id asc). The vector fetch is bounded by the candidate
    count — this is the only stage that touches floats."""
    spark = embeddings.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    def rescore(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, mat = bq.value
        if pdf.empty:
            return pd.DataFrame({
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            })
        x = _normalize_rows(_to_matrix(pdf[vec_col]))
        qrow = np.searchsorted(ids, pdf["query_id"].to_numpy(dtype=np.int64))
        sims = np.einsum("ij,ij->i", x, mat[qrow])
        return pd.DataFrame({
            "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
            "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
            "score": sims,
        })

    # candidates are bounded (<= keep rows/query): broadcast them so
    # the corpus-side vector fetch is a broadcast-hash probe, never a
    # corpus shuffle
    joined = embeddings.select(
        F.col(id_col).alias("neighbor_id"), vec_col
    ).join(F.broadcast(cand), "neighbor_id")
    rescored = joined.groupBy("query_id").applyInPandas(
        lambda pdf: rescore(pdf), "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    return (rescored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "score"))


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    *,
    codebooks,
    codes: "DataFrame | None" = None,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (self excluded):
    (query_id, rank, neighbor_id, score).

    ``score`` is the ADC cosine approximation; with ``rerank=r`` the
    top-r ADC candidates per query are re-scored with EXACT cosine and
    ``score`` is exact. ``codes=`` takes the persisted ``pq_encode``
    output (MUST be built with the same ``codebooks``) so the corpus
    encode runs once per index lifetime, not per query batch.

    Scale shape: the scan touches only the codes column (m smallints
    per row); per-query LUTs ride one broadcast; each Arrow batch
    keeps a bounded top-k, so the merge window sees
    <= max(k, rerank) * n_queries * n_partitions rows."""
    spark = embeddings.sparkSession
    cb = np.asarray(codebooks, dtype=np.float64)
    if codes is not None and "centroid_id" in codes.columns:
        # residual codes under flat LUTs would silently mis-rank
        raise ValueError(
            "codes= carries a centroid_id column (residual pq_encode "
            "output); score it with ivf_pq_topk(residual=True)")
    q_ids, q_mat, _ = _collect_queries(embeddings, query_ids, cb, id_col, vec_col)
    if q_mat is None:
        return _empty_result(spark)
    _check_codebooks(cb, q_mat.shape[1])
    if codes is None:
        codes = pq_encode(embeddings, cb, id_col=id_col, vec_col=vec_col)
    luts = _query_luts(q_mat, cb)
    bc = spark.sparkContext.broadcast((q_ids, luts))
    keep = max(k, rerank)

    def scan(batches):
        ids_arr, lut = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes_mat = np.array(pdf["codes"].tolist(), dtype=np.int64)
            scores = _adc_scores(codes_mat, lut)
            out_q, out_i, out_s = [], [], []
            for qi in range(len(ids_arr)):
                mask = ids != ids_arr[qi]
                t_ids, t_s = _topk_rows(ids[mask], scores[mask, qi], keep)
                out_q.append(np.full(len(t_ids), ids_arr[qi], dtype=np.int64))
                out_i.append(t_ids)
                out_s.append(t_s)
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_i),
                "score": np.concatenate(out_s),
            })

    scored = codes.select(id_col, "codes").mapInPandas(
        scan, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    topped = (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= keep))
    if rerank <= 0:
        return (topped.filter(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id", "score"))
    return _exact_rerank(embeddings,
                         topped.select("query_id", "neighbor_id"),
                         q_ids, q_mat, k, id_col, vec_col)


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    *,
    centroids,
    codebooks,
    nprobe: int = 4,
    assigned_codes: "DataFrame | None" = None,
    residual: bool = False,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF candidate restriction + ADC scoring: each query scans only
    the ``nprobe`` nearest inverted lists, and inside them touches only
    PQ codes. (query_id, rank, neighbor_id, score).

    ``centroids`` is the coarse quantizer matrix (``train_ivf_centroids``
    or ``_sampled_centroids`` — pass the matrix, not a count);
    ``assigned_codes=`` takes a persisted (centroid_id, id, codes)
    table — residual ``pq_encode`` output directly, or ``ivf_assign``
    joined with flat ``pq_encode`` — so the corpus-wide passes run once
    per index lifetime.

    ``residual=True`` (faiss ``by_residual=true``; requires codebooks
    trained with ``coarse_centroids=`` the SAME matrix): codes quantize
    ``xn - cn[list]``, and since dot(qn, xn) = dot(qn, cn[list]) +
    sum_s dot(qn_sub, r_sub), scoring just adds ONE per-(query, list)
    scalar to the same gather-sum — the LUT tensor is unchanged and
    still per-query. Use residual on clustered corpora: flat codes
    collapse inside tight clusters (see ``train_pq_codebooks``).

    With ``residual=False`` and ``nprobe >= n_centroids`` the candidate
    set is the whole corpus and results are identical to
    ``pq_adc_topk`` (pinned by tests/test_pq.py)."""
    spark = embeddings.sparkSession
    cb = np.asarray(codebooks, dtype=np.float64)
    c_mat = np.asarray(centroids, dtype=np.float64)
    c_ids = np.arange(len(c_mat), dtype=np.int64)
    c_sq = 0.5 * np.einsum("ij,ij->i", c_mat, c_mat)
    c_norm = _normalize_rows(c_mat)
    q_ids, q_mat, q_raw = _collect_queries(embeddings, query_ids, cb, id_col, vec_col)
    if q_mat is None:
        return _empty_result(spark)
    _check_codebooks(cb, q_mat.shape[1])
    if assigned_codes is None:
        if residual:
            assigned_codes = pq_encode(embeddings, cb, coarse_centroids=c_mat,
                                       id_col=id_col, vec_col=vec_col)
        else:
            from .simsearch import ivf_assign

            assigned = ivf_assign(embeddings, len(c_mat), centroids=c_mat,
                                  id_col=id_col, vec_col=vec_col)
            assigned_codes = assigned.select("centroid_id", id_col).join(
                pq_encode(embeddings, cb, id_col=id_col, vec_col=vec_col),
                id_col
            ).select("centroid_id", id_col, "codes")

    # probe selection on the RAW query vector (the coarse quantizer was
    # trained on raw vectors — same rule as ivf_cosine_topk); LUTs on
    # the normalized one (the PQ metric). Each query's LUT is stored
    # once; per-list membership is a row-index array (the
    # _query_broadcast packing, with LUTs in place of vectors). In
    # residual mode each probed (list, query) pair additionally carries
    # its dot(qn, cn[list]) offset — one float per pair.
    luts = _query_luts(q_mat, cb)  # (m, K, n_q), col qi == q_ids[qi]
    probes: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        scores = c_mat @ q_raw[qi] - c_sq
        order = np.lexsort((c_ids, -scores))[:nprobe]
        for cid in c_ids[order]:
            probes.setdefault(int(cid), []).append(qi)
    key_rows = {cid: np.asarray(rows, dtype=np.int64)
                for cid, rows in probes.items()}
    key_consts = None
    if residual:
        key_consts = {cid: q_mat[rows] @ c_norm[cid]
                      for cid, rows in key_rows.items()}
    bc = spark.sparkContext.broadcast((q_ids, luts, key_rows, key_consts))
    probed = spark.createDataFrame(
        [(cid,) for cid in sorted(probes)], "centroid_id long")
    keep = max(k, rerank)

    empty = pd.DataFrame({
        "query_id": pd.Series([], dtype="int64"),
        "neighbor_id": pd.Series([], dtype="int64"),
        "score": pd.Series([], dtype="float64"),
    })

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return empty
        ids_arr, lut, krows, kconsts = bc.value
        cid = pdf["centroid_id"].iloc[0]
        rows = krows.get(cid)
        if rows is None:
            return empty
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        codes_mat = np.array(pdf["codes"].tolist(), dtype=np.int64)
        scores = _adc_scores(codes_mat, lut[:, :, rows])
        if kconsts is not None:
            scores = scores + kconsts[cid][None, :]
        out_q, out_i, out_s = [], [], []
        for j, qi in enumerate(rows):
            mask = ids != ids_arr[qi]
            t_ids, t_s = _topk_rows(ids[mask], scores[mask, j], keep)
            out_q.append(np.full(len(t_ids), ids_arr[qi], dtype=np.int64))
            out_i.append(t_ids)
            out_s.append(t_s)
        return pd.DataFrame({
            "query_id": np.concatenate(out_q) if out_q else np.empty(0, np.int64),
            "neighbor_id": np.concatenate(out_i) if out_i else np.empty(0, np.int64),
            "score": np.concatenate(out_s) if out_s else np.empty(0),
        })

    cand = assigned_codes.select("centroid_id", id_col, "codes").join(
        F.broadcast(probed), "centroid_id")
    scored = cand.groupBy("centroid_id").applyInPandas(
        kernel, "query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    topped = (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= keep))
    if rerank <= 0:
        return (topped.filter(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id", "score"))
    return _exact_rerank(embeddings,
                         topped.select("query_id", "neighbor_id"),
                         q_ids, q_mat, k, id_col, vec_col)
