"""Similarity search over embedding columns (Tier C, BASELINE.json).

Brute-force cosine (exactness baseline + oracle anchor) and a
random-hyperplane LSH bucketing path (the 100 TB shape: candidate
generation becomes an equi-join on bucket id; only candidates get the exact
rerank). Every dot product — HOF ``zip_with``/``aggregate``, the numpy
block kernel, and the Arrow-batched ``dot_arrow`` rerank — folds dims
left-to-right in double precision, so all three are bit-identical to the
DuckDB ``list_reduce`` twin; the fast paths are drop-in under the value
hash. Per-vector norms are hoisted out of pair loops everywhere.

At cluster scale the brute-force path is the quadratic trap; the LSH path's
cost is #vectors × #buckets-collisions. An IVF variant is the same plan with
learned centroids instead of random hyperplanes (MLlib KMeans fits them; the
bucket-join/rerank plumbing here is unchanged).
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions import vectors as V

LSH_PLANES = 8
COSINE_ROUND = 6


# ---------------------------------------------------------------------------
# numpy block kernel (shared by the brute-force paths)
#
# The probe side streams through mapInArrow partition-by-partition; the
# build side (a dimension-table-sized matrix) is broadcast to every task —
# the same broadcast-small-side decision Catalyst makes for J1. At cluster
# scale the build side is a *block*: tile the build matrix and union the
# per-block top-k (associative), or pre-cluster with IVF so each probe only
# meets its centroid's block. The kernel accumulates dimension-by-dimension
# in sequence order, so every dot/norm is bit-identical to the
# zip_with/aggregate fold of functions/vectors.py and to the DuckDB
# list_reduce twin — the oracle hash-match does not rest on an epsilon.
# ---------------------------------------------------------------------------

def _seq_dots(Q: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs dot products, accumulated dim-by-dim (fold order)."""
    S = np.zeros((Q.shape[0], B.shape[0]))
    for d in range(Q.shape[1]):
        S += Q[:, d, None] * B[None, :, d]
    return S


def _seq_norms(M: np.ndarray) -> np.ndarray:
    n = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        n += M[:, d] * M[:, d]
    return np.sqrt(n)


def _round_half_away(x: np.ndarray, digits: int = COSINE_ROUND) -> np.ndarray:
    """Spark's ROUND (HALF_UP = half away from zero), not numpy's
    banker's rounding."""
    s = 10.0 ** digits
    return np.where(x >= 0, np.floor(x * s + 0.5), np.ceil(x * s - 0.5)) / s


def _build_side(
    embeddings: DataFrame, label_col: str | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    """(ids, matrix float64, seq-fold norms, labels|None) of the broadcast
    build side. Labels ride along as float64 (NULL -> NaN) so the kernel's
    label mask is one vectorized compare; numeric label columns only —
    the training-data fixtures key relevance groups by int label."""
    cols = ["vec_id", "embedding"] + ([label_col] if label_col else [])
    pdf = embeddings.select(*cols).toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    if M.ndim != 2:  # empty tile: keep a (0, d)-shaped matrix
        M = M.reshape(0, 0)
    labels = (
        pdf[label_col].to_numpy(dtype=np.float64) if label_col else None
    )
    return ids, M, _seq_norms(M), labels


def _build_tiles(
    embeddings: DataFrame, n_tiles: int, label_col: str | None = None
):
    """Collect and broadcast the build side in ``n_tiles`` hash slices
    (``vec_id % n_tiles``). Driver peak memory is one tile, not the whole
    table — the tiling answer to the driver-memory wall: per-block top-k is
    associative, so the kernel merges tile candidates with the exact global
    ordering. n_tiles=1 is the single-scan dimension-table fast path; at
    cluster scale size n_tiles so a tile is O(100 MB)."""
    spark = embeddings.sparkSession
    bcs = []
    for t in range(n_tiles):
        tile = embeddings
        if n_tiles > 1:
            tile = tile.where(F.pmod(F.col("vec_id"), F.lit(n_tiles)) == t)
        bcs.append(spark.sparkContext.broadcast(_build_side(tile, label_col)))
    return bcs


def _rowwise_lexorder(
    cls: np.ndarray, cos: np.ndarray, ids: np.ndarray
) -> np.ndarray:
    """Per-row argsort of (class asc, cosine desc, id asc) over a 2-D
    candidate matrix — np.lexsort has no axis argument, so compose stable
    axis-1 argsorts from least- to most-significant key. Cosine values of
    non-scored elements (class != 0) are masked to 0 so NaN/inf from
    zero-norm divisions never reach a sort key."""
    negs = np.where(cls == 0, -cos, 0.0)
    order = np.argsort(ids, axis=1, kind="stable")
    order = np.take_along_axis(
        order,
        np.argsort(np.take_along_axis(negs, order, axis=1), axis=1, kind="stable"),
        axis=1,
    )
    return np.take_along_axis(
        order,
        np.argsort(np.take_along_axis(cls, order, axis=1), axis=1, kind="stable"),
        axis=1,
    )


def _probe_blocks_arrow(batch_iter, label_col=None):
    """(qids, Q, labels|None) per Arrow batch, zero-copy: the list<float> embedding
    column is read as its flat values buffer and reshaped — no pandas
    object-array of per-row numpy arrays, no per-row tolist(). At bench
    scale this is noise; at 10^8 rows the object-array materialization
    is the dominant Python-side cost, so the Arrow path is the one that
    survives the scale-up. Row-major reshape gives the exact same
    (row, dim) float64 values as np.array(tolist()), so the seq-fold
    dots/norms stay bit-identical to the SQL twins."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batch_iter:
        if batch.num_rows == 0:
            continue
        vid = batch.column("vec_id")
        if vid.null_count:
            # to_numpy would turn a null id into NaN and .astype(int64)
            # into a garbage id (the old pandas path raised here) — keep
            # the loud failure the rectangularity check already gives the
            # embedding column
            raise ValueError(
                "cosine kernel requires a non-null vec_id column; got "
                f"{vid.null_count} null rows"
            )
        qids = vid.to_numpy(zero_copy_only=False).astype(np.int64)
        emb = batch.column("embedding")
        lens = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
        if emb.null_count or (len(lens) and not (lens == lens[0]).all()):
            # the matmul kernel needs a rectangular matrix; null/ragged
            # embedding rows are a data bug (the old pandas path crashed
            # on them with an inscrutable reshape error) — fail loudly
            raise ValueError(
                "cosine kernel requires a non-null fixed-length embedding "
                "column; got null or ragged rows"
            )
        flat = emb.flatten().to_numpy(zero_copy_only=False)
        dims = int(lens[0]) if len(lens) else 0
        Q = flat.astype(np.float64, copy=False).reshape(len(qids), dims)
        labels = None
        if label_col is not None:
            # NULL -> NaN (float64), mirroring _build_side — NaN never
            # equals anything, so SQL's NULL-label three-valued logic
            # (la = lb and la <> lb both fail) falls out of the compare
            labels = (
                batch.column(label_col)
                .cast(pa.float64())
                .to_numpy(zero_copy_only=False)
            )
        yield qids, Q, labels


# ---------------------------------------------------------------------------
# brute-force cosine
# ---------------------------------------------------------------------------

def _pairs(embeddings: DataFrame, self_pairs: bool = False) -> DataFrame:
    a = embeddings.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("va")
    )
    b = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vb")
    )
    cond = F.lit(True) if self_pairs else F.col("query_id") != F.col("neighbor_id")
    return a.crossJoin(b).where(cond)


def cosine_pairs(embeddings: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine) for all ordered pairs (brute force)."""
    return _pairs(embeddings).select(
        "query_id",
        "neighbor_id",
        F.round(V.cosine("va", "vb"), COSINE_ROUND).alias("cosine"),
    )


def _cosine_pairs_sql(where: str = "a.vec_id <> b.vec_id") -> str:
    cos = V.cosine_sql("a.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       round({cos}, {COSINE_ROUND}) AS cosine
FROM embeddings a, embeddings b
WHERE {where}
"""


def topk(
    embeddings: DataFrame,
    k: int = 5,
    n_tiles: int = 1,
    probe: DataFrame | None = None,
    label_col: str | None = None,
    label_mode: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (W3 ranking shape;
    deterministic: rounded score desc, neighbor_id asc).

    Physical plan: numpy block matmul per probe partition against the
    broadcast build matrix, top-k selected inside the kernel — no n²-row
    shuffle, no window; the only exchange is the probe repartition. The
    ranking key is the half-away-rounded score, matching the SQL's
    row_number over round(cosine, 6).

    ``n_tiles > 1`` splits the build side into hash tiles broadcast
    independently; per-tile top-k candidates merge under the same total
    order (NULL-cosine last, then score desc, id asc), so the result is
    tile-count-invariant — asserted by tests/test_extras.py.

    ``probe`` (default: ``embeddings``) queries a different relation
    against the same broadcast build side — the real serving asymmetry
    (few index vectors, a firehose of queries) and what the
    ``cosine_probe`` entry of ``tools/scale_trend.py`` scales to measure
    the Arrow-handshake amortization trend. Self-pairs are still excluded
    by vec_id equality, which with a disjoint probe id space excludes
    nothing.

    ``label_col`` + ``label_mode`` ('same' | 'diff') restrict candidates
    INSIDE the kernel: 'same' keeps build rows whose label equals the
    probe row's, 'diff' keeps label-mismatched rows — the hard-negative
    mining shapes. One kernel pass regardless of label cardinality (the
    r7-flagged alternative was 2·|labels| driver-looped passes); masked
    elements join the self-pair exclusion class, so ranking/NULL
    semantics are unchanged. NULL labels (NaN after the float64 ride-
    along) match nothing on either side, exactly SQL's ``la = lb`` /
    ``la <> lb`` three-valued logic."""
    if (label_col is None) != (label_mode is None):
        raise ValueError("label_col and label_mode come together")
    if label_mode not in (None, "same", "diff"):
        raise ValueError(f"unknown label_mode: {label_mode}")
    spark = embeddings.sparkSession
    bcs = _build_tiles(embeddings, n_tiles, label_col)
    probe_side = probe if probe is not None else embeddings

    def gen(batch_iter):
        import pyarrow as pa

        for qids, Q, plabels in _probe_blocks_arrow(batch_iter, label_col):
            qnorm = _seq_norms(Q)
            nq = len(qids)
            # Per-tile top-(k+1) candidates, selected with one vectorized
            # composed argsort per tile (no per-row python loop — that
            # lexsort-per-row pool merge was the r2 bench regression).
            # k+1 slots suffice for any number of class-2 (excluded)
            # elements: they sort LAST, so they never displace a scored
            # candidate — they only pad rows with < k+1 keepable elements.
            cand_ids, cand_cos, cand_cls = [], [], []
            for bc in bcs:
                nids, M, nnorm, blabels = bc.value
                if len(nids) == 0:
                    continue
                S = _seq_dots(Q, M)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _round_half_away(S / (qnorm[:, None] * nnorm[None, :]))
                null = (qnorm[:, None] <= 0) | (nnorm[None, :] <= 0)
                # element classes: 0 = scored, 1 = NULL cosine (zero-norm
                # side; both engines sort NULLS LAST), 2 = excluded (self
                # pair, or label-mask miss)
                excl = nids[None, :] == qids[:, None]
                if label_mode is not None:
                    same = plabels[:, None] == blabels[None, :]
                    if label_mode == "same":
                        excl |= ~same
                    else:  # 'diff': NaN != NaN is True, so also require
                        # both labels non-NaN (SQL: la <> lb is NULL)
                        valid = ~(
                            np.isnan(plabels)[:, None]
                            | np.isnan(blabels)[None, :]
                        )
                        excl |= same | ~valid
                cls = np.where(
                    excl,
                    np.int8(2),
                    np.where(null, np.int8(1), np.int8(0)),
                )
                ids2 = np.broadcast_to(nids, cls.shape)
                order = _rowwise_lexorder(cls, cos, ids2)
                m = min(k + 1, len(nids))
                sel = order[:, :m]
                cand_ids.append(np.take_along_axis(ids2, sel, axis=1))
                cand_cos.append(np.take_along_axis(cos, sel, axis=1))
                cand_cls.append(np.take_along_axis(cls, sel, axis=1))
            if not cand_ids:
                continue
            # merge tile candidates under the same total order (class asc,
            # score desc, id asc) — tile-count-invariant by construction
            ids = np.concatenate(cand_ids, axis=1)
            cs = np.concatenate(cand_cos, axis=1)
            cls = np.concatenate(cand_cls, axis=1)
            order = _rowwise_lexorder(cls, cs, ids)
            ids = np.take_along_axis(ids, order, axis=1)
            cs = np.take_along_axis(cs, order, axis=1)
            cls = np.take_along_axis(cls, order, axis=1)
            keep = cls < 2
            rk = np.cumsum(keep, axis=1)
            keep &= rk <= k
            qi, ci = np.nonzero(keep)
            # class-1 (zero-norm) cosines are NULL: an explicit Arrow
            # validity mask — the pandas path's NaN->null coercion does
            # not happen when building RecordBatches directly
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[qi], type=pa.int64()),
                    pa.array(ids[qi, ci], type=pa.int64()),
                    pa.array(
                        np.ascontiguousarray(cs[qi, ci]),
                        type=pa.float64(),
                        mask=cls[qi, ci] == 1,
                    ),
                    pa.array(rk[qi, ci].astype(np.int32), type=pa.int32()),
                ],
                names=["query_id", "neighbor_id", "cosine", "rk"],
            )

    probe_side = probe_side.repartition(spark.sparkContext.defaultParallelism)
    return probe_side.mapInArrow(
        gen, "query_id long, neighbor_id long, cosine double, rk int"
    )


def topk_sql(k: int = 5) -> str:
    return f"""
WITH pairs AS ({_cosine_pairs_sql()})
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= {k}
"""


def neighbors_above(
    embeddings: DataFrame, threshold: float, n_tiles: int = 1
) -> DataFrame:
    """Unordered near-dup pairs with cosine >= threshold (embedding-space
    near-duplicate detection). Same numpy block kernel as :func:`topk`;
    the threshold filter runs inside the kernel so only matches cross the
    Arrow boundary. Threshold hits are tile-independent, so tiles just
    concatenate — no merge step."""
    spark = embeddings.sparkSession
    bcs = _build_tiles(embeddings, n_tiles)

    def gen(batch_iter):
        import pyarrow as pa

        for qids, Q, _ in _probe_blocks_arrow(batch_iter):
            qnorm = _seq_norms(Q)
            for bc in bcs:
                nids, M, nnorm, _labels = bc.value
                if len(nids) == 0:
                    continue
                S = _seq_dots(Q, M)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _round_half_away(S / (qnorm[:, None] * nnorm[None, :]))
                hit = (
                    (qids[:, None] < nids[None, :])
                    & (qnorm[:, None] > 0)
                    & (nnorm[None, :] > 0)
                    & (cos >= threshold)
                )
                qi, ni = np.nonzero(hit)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids[qi], type=pa.int64()),
                        pa.array(nids[ni], type=pa.int64()),
                        pa.array(
                            np.ascontiguousarray(cos[qi, ni]),
                            type=pa.float64(),
                        ),
                    ],
                    names=["vec_a", "vec_b", "cosine"],
                )

    probe = embeddings.repartition(spark.sparkContext.defaultParallelism)
    return probe.mapInArrow(gen, "vec_a long, vec_b long, cosine double")


def neighbors_above_sql(threshold: float) -> str:
    return f"""
SELECT query_id AS vec_a, neighbor_id AS vec_b, cosine
FROM ({_cosine_pairs_sql("a.vec_id < b.vec_id")})
WHERE cosine >= {threshold}
"""


# ---------------------------------------------------------------------------
# ColBERT-style maxsim late interaction (built r8, staged r9)
# ---------------------------------------------------------------------------

def _tok_seq_norms(X: np.ndarray) -> np.ndarray:
    """(n, t) seq-fold norms of an (n, t, td) token-vector tensor — the
    per-token twin of :func:`_seq_norms` (same fold order as the SQL
    list_reduce, so the oracle match does not rest on an epsilon)."""
    acc = np.zeros(X.shape[:2])
    for i in range(X.shape[2]):
        acc += X[:, :, i] * X[:, :, i]
    return np.sqrt(acc)


def maxsim_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_tok: int = 8,
    tok_dim: int = 8,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Late-interaction (ColBERT-style) maxsim retrieval: each vector is
    read as ``n_tok`` token-vectors of ``tok_dim`` dims (a row-major
    reshape of the leading n_tok*tok_dim entries); score(q, d) is the
    mean over q's tokens of the MAX cosine against d's tokens — the
    multi-vector relevance model that keeps per-token matching without
    storing an interaction matrix. Emits the top-``k`` build vectors per
    probe, self-pairs excluded.

    Exactness contract: per-token cosines use the seq-fold dots/norms
    (bit-identical to the DuckDB list_reduce twin); zero-norm token
    pairs contribute 0 (not NULL — a missing token simply never wins a
    max). Each per-query-token max cosine converts to integer
    MICRO-UNITS (round-half-away x 1e6) and the per-pair score is the
    exact integer sum of those — ranking compares integers, so
    tie-handling (score desc, neighbor_id asc) is engine-free, and the
    emitted double is total/(n_tok*1e6) rounded once at the end.

    Scale shape: one broadcast build side (the same dimension-table
    contract as :func:`topk`; shard with its n_tiles pattern when the
    index outgrows one broadcast), probes stream through mapInArrow.
    The kernel chunks probe rows so the (chunk, n_tok, nb, n_tok)
    interaction tensor stays O(100 MB) regardless of Arrow batch size.
    The n^2-by-token-pair form exists ONLY as the DuckDB oracle."""
    spark = embeddings.sparkSession
    d_tot = n_tok * tok_dim
    build = embeddings.where(F.size("embedding") >= d_tot).select(
        "vec_id", F.slice("embedding", 1, d_tot).alias("embedding")
    )
    bc = spark.sparkContext.broadcast(_build_side(build))
    probe_side = probe if probe is not None else embeddings
    probe_side = probe_side.where(F.size("embedding") >= d_tot).select(
        "vec_id", F.slice("embedding", 1, d_tot).alias("embedding")
    )

    def gen(batch_iter):
        import pyarrow as pa

        nids, M, _, _labels = bc.value
        nb = len(nids)
        if nb:
            Mt = M.reshape(nb, n_tok, tok_dim)
            bnorm = _tok_seq_norms(Mt)
        for qids_all, Q_all, _pl in _probe_blocks_arrow(batch_iter):
            if nb == 0:
                continue
            # chunk probes: tensor is chunk*n_tok*nb*n_tok float64
            chunk = max(1, int(2e8 / (n_tok * n_tok * nb * 8)))
            for lo in range(0, len(qids_all), chunk):
                qids = qids_all[lo : lo + chunk]
                Qt = Q_all[lo : lo + chunk].reshape(-1, n_tok, tok_dim)
                nq = len(qids)
                qnorm = _tok_seq_norms(Qt)
                S = np.zeros((nq, n_tok, nb, n_tok))
                for i in range(tok_dim):
                    S += Qt[:, :, None, None, i] * Mt[None, None, :, :, i]
                denom = qnorm[:, :, None, None] * bnorm[None, None, :, :]
                cos = np.where(denom > 0, S / np.where(denom > 0, denom, 1.0), 0.0)
                mc = cos.max(axis=3)  # (nq, n_tok, nb)
                micro = _round_half_away(mc * 1e6, 0).astype(np.int64)
                total = micro.sum(axis=1)  # (nq, nb) exact integers
                cls = np.where(
                    nids[None, :] == qids[:, None], np.int8(2), np.int8(0)
                )
                order = _rowwise_lexorder(
                    cls,
                    total.astype(np.float64),
                    np.broadcast_to(nids[None, :], (nq, nb)),
                )
                kk = min(k + 1, nb)  # self occupies at most one slot
                sel = order[:, :kk]
                qi = np.repeat(np.arange(nq), kk)
                ci = sel.reshape(-1)
                keep2d = (cls[np.arange(nq)[:, None], sel] == 0)
                rk2d = np.cumsum(keep2d, axis=1)
                keep = (keep2d & (rk2d <= k)).reshape(-1)
                qi, ci, rk = qi[keep], ci[keep], rk2d.reshape(-1)[keep]
                score = _round_half_away(
                    total[qi, ci] / (n_tok * 1e6), 6
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids[qi], type=pa.int64()),
                        pa.array(nids[ci], type=pa.int64()),
                        pa.array(score, type=pa.float64()),
                        pa.array(rk.astype(np.int32), type=pa.int32()),
                    ],
                    names=["query_id", "neighbor_id", "maxsim", "rk"],
                )

    probe_side = probe_side.repartition(spark.sparkContext.defaultParallelism)
    return probe_side.mapInArrow(
        gen, "query_id long, neighbor_id long, maxsim double, rk int"
    )


def maxsim_topk_sql(
    k: int = 3,
    n_tok: int = 8,
    tok_dim: int = 8,
    probe_pred: str = "q.vec_id % 50 = 0",
) -> str:
    """DuckDB oracle twin of :func:`maxsim_topk` — deliberately the naive
    token-pair expansion (probes x builds x n_tok^2 rows), kept obviously
    correct; the Spark side never materializes it."""
    from ..functions import vectors as V

    d_tot = n_tok * tok_dim
    return f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE len(embedding) >= {d_tot}
),
toks AS (
  SELECT vec_id, CAST(r.t AS INT) AS ti,
         list_slice(embedding, CAST(r.t * {tok_dim} + 1 AS INT),
                    CAST(r.t * {tok_dim} + {tok_dim} AS INT)) AS tv
  FROM base, range(0, {n_tok}) r(t)
),
tnorm AS (SELECT vec_id, ti, tv, {V.norm_sql('tv')} AS nrm FROM toks),
cand AS (
  SELECT q.vec_id AS qid, d.vec_id AS nid, q.ti AS qt,
         max(CASE WHEN q.nrm > 0 AND d.nrm > 0
                  THEN {V.dot_sql('q.tv', 'd.tv')} / (q.nrm * d.nrm)
                  ELSE 0 END) AS mc
  FROM tnorm q JOIN tnorm d ON d.vec_id <> q.vec_id
  WHERE {probe_pred}
  GROUP BY q.vec_id, d.vec_id, q.ti
),
scored AS (
  SELECT qid, nid,
         sum(CAST(round(mc * 1000000, 0) AS BIGINT)) AS micro
  FROM cand GROUP BY qid, nid
)
SELECT qid AS query_id, nid AS neighbor_id,
       CAST(round(CAST(micro AS DOUBLE) / {n_tok * 1000000}, 6) AS DOUBLE)
         AS maxsim,
       CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY micro DESC, nid) AS rk
  FROM scored
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------

def _projection(vec: str | Column, plane: int, dims: int) -> Column:
    """dot(vec, h_plane) where h_plane[d] = sin((plane+1)*131 + d*17) — a
    deterministic pseudo-random hyperplane both engines can reproduce exactly
    (no stored random state).

    The h_plane entries are constants per (plane, d), so they are computed
    ONCE here as literals (libm sin — bit-identical to DuckDB's runtime
    sin(), proved by the oracle hash-match) instead of re-evaluating
    dims×planes sin() calls per ROW inside the fold, which dominated the
    bucketing pass."""
    import math

    c = F.col(vec) if isinstance(vec, str) else vec
    h = F.array(
        *[F.lit(math.sin((plane + 1) * 131 + d * 17.0)) for d in range(dims)]
    )
    terms = F.zip_with(c, h, lambda x, hd: x.cast("double") * hd)
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def _projection_sql(vec: str, plane: int, dims: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE),"
        f" list_transform(generate_series(0, {dims - 1}),"
        f" d -> CAST({vec}[d + 1] AS DOUBLE) * sin({(plane + 1) * 131} + d * 17.0))),"
        f" (acc, x) -> acc + x)"
    )


def lsh_bucket(vec: str | Column, dims: int, planes: int = LSH_PLANES) -> Column:
    """Sign-of-projection bit code: bucket = Σ_p 2^p · [dot(v, h_p) > 0]."""
    acc = F.lit(0)
    for p in range(planes):
        acc = acc + F.when(_projection(vec, p, dims) > 0, F.lit(2 ** p)).otherwise(
            F.lit(0)
        )
    return acc.cast("long")


def lsh_bucket_sql(vec: str, dims: int, planes: int = LSH_PLANES) -> str:
    bits = " + ".join(
        f"CASE WHEN {_projection_sql(vec, p, dims)} > 0 THEN {2 ** p} ELSE 0 END"
        for p in range(planes)
    )
    return f"CAST({bits} AS BIGINT)"


def lsh_index_rows(df: DataFrame, dims: int, planes: int = LSH_PLANES) -> DataFrame:
    """(vec_id, embedding, bucket, nrm): the LSH index rows of an
    embeddings relation — hyperplane bucket code and norm per vector.
    ``lsh_ann`` builds its bucketed relation with this, and the
    stream_lsh_index_drain stream materializes the same rows as a
    standing index table keyed on vec_id."""
    return df.select(
        "vec_id",
        "embedding",
        lsh_bucket("embedding", dims, planes).alias("bucket"),
        V.norm("embedding").alias("nrm"),
    )


PROBE_BLOCK = 1024


def _grouped_rerank_kernel(k: int, probe_block: int = PROBE_BLOCK):
    """Per-bucket rerank kernel for applyInPandas: all probe×build cosines
    inside one bucket via the numpy block kernel, per-query top-k emitted.
    Numerics replicate the pair-expression path exactly: _seq_dots folds
    dims in order, norms arrive precomputed from the JVM column, rounding is
    half-away — so grouped and pair reranks are interchangeable under the
    value hash.

    Probes are processed in ``probe_block``-row chunks so the score matrix
    is at most probe_block × |builds| regardless of how many probes land in
    one bucket — per-probe top-k is independent, so chunking is exact."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        probes = pdf[pdf["is_probe"]]
        builds = pdf[~pdf["is_probe"]]
        if len(probes) == 0 or len(builds) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64"})
        nids = builds["vec_id"].to_numpy(dtype=np.int64)
        B = np.array(builds["embedding"].tolist(), dtype=np.float64)
        nn = builds["nrm"].to_numpy(dtype=np.float64)
        all_qids = probes["vec_id"].to_numpy(dtype=np.int64)
        all_qn = probes["nrm"].to_numpy(dtype=np.float64)
        out_q, out_n, out_c = [], [], []
        for lo in range(0, len(all_qids), probe_block):
            chunk = probes.iloc[lo:lo + probe_block]
            qids = all_qids[lo:lo + probe_block]
            qn = all_qn[lo:lo + probe_block]
            Q = np.array(chunk["embedding"].tolist(), dtype=np.float64)
            S = _seq_dots(Q, B)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _round_half_away(S / (qn[:, None] * nn[None, :]))
            null = (qn[:, None] <= 0) | (nn[None, :] <= 0)
            for i in range(len(qids)):
                not_self = nids != qids[i]
                valid = ~null[i] & not_self
                nulls = null[i] & not_self
                order = np.lexsort((nids[valid], -cos[i][valid]))
                cand_ids = np.concatenate(
                    [nids[valid][order], np.sort(nids[nulls])]
                )[:k]
                cand_cos = np.concatenate(
                    [cos[i][valid][order], np.full(int(nulls.sum()), np.nan)]
                )[:k]
                out_q.extend([qids[i]] * len(cand_ids))
                out_n.extend(cand_ids.tolist())
                out_c.extend(cand_cos.tolist())
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "neighbor_id": pd.Series(out_n, dtype="int64"),
                "cosine": out_c,
            }
        )

    return kernel


def _salt_split(
    build: DataFrame, probe: DataFrame, key: str, max_build: int
) -> tuple[DataFrame, list[str]]:
    """Bound the per-group build side for the grouped rerank: buckets whose
    build side exceeds ``max_build`` rows are hash-split into
    ceil(n/max_build) salted sub-groups; probes replicate to every salt of
    their bucket. Per-salt top-k is a superset of the bucket's top-k
    (top-k is associative), and the caller's global window re-merges under
    the same total order — so splitting is EXACT, it only changes the
    physical grouping. This is the viral-bucket guard: one pathologically
    hot bucket becomes ceil(n/max_build) bounded tasks instead of one
    giant pandas group. Probes to buckets with no build rows produce no
    candidates by definition and are dropped by the inner join.

    The per-salt size bound is statistical, not hard: rows hash to salts
    uniformly, so a salt holds max_build ± O(sqrt(max_build)) rows (a few
    percent at real cap values like 8192). A hard bound would need a
    row_number window — an extra full sort shuffle of the build side —
    for tail tightness that doesn't change the OOM math.

    Returns (unioned salted frame, new grouping keys)."""
    counts = build.groupBy(key).agg(F.count("*").alias("_n_build"))
    salts = counts.select(
        key,
        F.greatest(
            F.lit(1), F.ceil(F.col("_n_build") / F.lit(max_build))
        ).cast("int").alias("_n_salt"),
    )
    build_s = (
        build.join(F.broadcast(salts), key)
        .withColumn("_salt", F.pmod(F.hash("vec_id"), F.col("_n_salt")))
        .drop("_n_salt")
    )
    probe_s = (
        probe.join(F.broadcast(salts), key)
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.col("_n_salt") - 1))
        )
        .drop("_n_salt")
    )
    return build_s.unionByName(probe_s), [key, "_salt"]


def lsh_ann(
    embeddings: DataFrame,
    dims: int,
    k: int = 3,
    multiprobe: bool = False,
    planes: int = LSH_PLANES,
    rerank: str = "grouped",
    max_bucket_build: int | None = 8192,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: bucket every vector with {planes} hyperplane
    sign bits, generate candidates by bucket equi-join, exact-rerank inside
    buckets. Misses across bucket boundaries are the approximation error —
    the brute-force `topk` is the recall oracle.

    ``multiprobe=True`` additionally probes every Hamming-1 neighbor of the
    query's bucket code (flip one sign bit): recall rises strictly (the
    exact-bucket candidates are a subset) with the same single equi-join
    shuffle shape — the probe side just explodes to planes+1 keys. Each
    neighbor lives in exactly one bucket, so no candidate dedup is needed.

    ``rerank='grouped'`` (default, the scale path) reranks each bucket's
    candidates inside ONE applyInPandas group via the numpy block kernel:
    every vector crosses the shuffle once per probe key, not once per
    candidate pair — shuffle bytes ∝ vectors × probes instead of
    candidate pairs × 2. ``rerank='pairs'`` materializes (va, vb) pair
    rows and evaluates the Arrow dot per pair — the simpler cross-check
    twin. Both produce bit-identical rows (same fold order, norms from the
    same JVM column, same half-away rounding), proved by the shared
    oracle and the equality test.

    ``max_bucket_build`` bounds the grouped rerank's per-task build side
    (the viral-bucket guard): oversized buckets hash-split into salted
    sub-groups, probes replicate per salt, and the global top-k window
    re-merges — exact by associativity of top-k (tests plant a giant
    bucket and diff against the unsplit result). None disables."""
    from ..cache import persist_tracked

    # Norms are computed ONCE per vector, not per candidate pair; the
    # bucketed relation is persisted because build, probe, and (with the
    # viral-bucket guard) the bucket-count agg all fan out from it — the
    # planes x dims projection fold is the expensive part of this query
    # and must run once per vector, not once per consumer. An ``index``
    # DataFrame (``lsh_index_rows`` materialized as a table, as
    # stream_lsh_index_drain maintains it) skips that computation
    # entirely: the standing index IS the bucketed relation.
    # The raw-embedding path spreads the scan before the fold: the
    # planes x dims projection is an interpreted per-row HOF chain and ran
    # single-task behind the one-split fixture scan; the gated rebalance
    # parallelizes it INTO the persist, so it still runs once per vector,
    # now across all cores. The index path is NOT spread — a maintained
    # index table arrives with its own layout.
    from ..sources import spread

    bucketed = persist_tracked(
        lsh_index_rows(spread(embeddings), dims, planes)
        if index is None
        else index.select("vec_id", "embedding", "bucket", "nrm")
    )
    if multiprobe:
        probe_keys = F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(2 ** p))
                    for p in range(planes)
                ],
            )
        )
    else:
        probe_keys = F.col("bucket")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))

    if rerank == "grouped":
        build = bucketed.select(
            "bucket", "vec_id", "embedding", "nrm", F.lit(False).alias("is_probe")
        )
        probe = bucketed.select(
            probe_keys.alias("bucket"),
            "vec_id",
            "embedding",
            "nrm",
            F.lit(True).alias("is_probe"),
        )
        if max_bucket_build is not None:
            grouped, keys = _salt_split(build, probe, "bucket", max_bucket_build)
        else:
            grouped, keys = build.unionByName(probe), ["bucket"]
        per_bucket = grouped.groupBy(*keys).applyInPandas(
            _grouped_rerank_kernel(k),
            schema="query_id long, neighbor_id long, cosine double",
        )
        # per-(bucket[, salt]) top-k -> global top-k: the groups partition
        # the candidate set, so the global winners are a subset of the
        # per-group top-k union under the same total order (cosine desc
        # NULLS LAST, id asc)
        return (
            per_bucket.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
        )

    a = bucketed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        probe_keys.alias("bucket"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    cands = a.join(b, "bucket").where(F.col("query_id") != F.col("neighbor_id"))
    cosine = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        V.dot_arrow("va", "vb") / (F.col("na") * F.col("nb")),
    ).otherwise(F.lit(None))
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            F.round(cosine, COSINE_ROUND).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def lsh_ann_sql(
    dims: int, k: int = 3, multiprobe: bool = False, planes: int = LSH_PLANES
) -> str:
    cos = V.cosine_sql("a.embedding", "b.embedding")
    if multiprobe:
        probe_list = ", ".join(
            ["bucket"] + [f"xor(bucket, {2 ** p})" for p in range(planes)]
        )
        probe_side = f"""
  SELECT vec_id, embedding, unnest([{probe_list}]) AS bucket
  FROM bucketed
"""
    else:
        probe_side = "  SELECT vec_id, embedding, bucket FROM bucketed\n"
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         {lsh_bucket_sql('embedding', dims, planes)} AS bucket
  FROM embeddings
),
probes AS (
{probe_side}),
cands AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({cos}, {COSINE_ROUND}) AS cosine
  FROM probes a JOIN bucketed b USING (bucket)
  WHERE a.vec_id <> b.vec_id
)
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM cands
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — learned-centroid buckets
# ---------------------------------------------------------------------------

def ivf_ann(
    embeddings: DataFrame,
    k: int = 3,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 7,
    max_list_build: int | None = 8192,
) -> DataFrame:
    """Approximate top-k via IVF: MLlib KMeans learns {n_clusters} centroids,
    every vector is assigned to its nearest centroid (the inverted list),
    each query probes its {n_probe} nearest centroids' lists, and the exact
    cosine rerank runs only inside those lists.

    This is the same plumbing as :func:`lsh_ann` with learned buckets
    instead of random hyperplanes — candidate generation is an equi-join on
    list id, so cost is #vectors x list-occupancy, never #vectors². At
    100 TB the lists are the partitioning key: cluster once, write bucketed
    by list id, and every probe touches n_probe/n_clusters of the data.
    [R] rows-only: KMeans internals aren't SQL; recall vs the brute-force
    oracle is asserted in tests/test_extras.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("features")
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "embedding", F.col("prediction").alias("list_id")
    )

    # query -> its n_probe nearest centroids, via a tiny cross join against
    # the centroid table (n_clusters rows — broadcast by construction).
    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id int, centroid array<double>",
    )
    d2 = F.aggregate(
        F.zip_with("embedding", "centroid", lambda a, b: (a.cast("double") - b) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "list_id")
    probes = (
        assigned.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("dist2", d2)
        .withColumn("pr", F.row_number().over(w))
        .where(F.col("pr") <= n_probe)
        .select(
            "vec_id",
            "embedding",
            V.norm("embedding").alias("nrm"),
            "list_id",
            F.lit(True).alias("is_probe"),
        )
    )
    build = assigned.select(
        "vec_id",
        "embedding",
        V.norm("embedding").alias("nrm"),
        "list_id",
        F.lit(False).alias("is_probe"),
    )
    # same grouped rerank as lsh_ann: each list's probe x member cosines
    # computed in one applyInPandas group by the numpy block kernel —
    # vectors cross the shuffle once per probe, never once per pair.
    # max_list_build salt-splits skewed lists (KMeans lists skew with the
    # data distribution) exactly like lsh_ann's viral-bucket guard.
    if max_list_build is not None:
        grouped, keys = _salt_split(build, probes, "list_id", max_list_build)
    else:
        grouped, keys = build.unionByName(probes), ["list_id"]
    per_list = grouped.groupBy(*keys).applyInPandas(
        _grouped_rerank_kernel(k),
        schema="query_id long, neighbor_id long, cosine double",
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        per_list.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= k)
    )


def filtered_topk(
    embeddings: DataFrame,
    k: int = 3,
    filter_col: str = "label",
    max_group_build: int | None = 8192,
) -> DataFrame:
    """Filtered exact top-k: nearest neighbors restricted to vectors
    sharing the query's ``filter_col`` value (the metadata-filtered ANN
    shape — "top-k within the same tenant/category/language"). The filter
    IS the partitioning: each filter group reranks independently through
    the same grouped numpy kernel as lsh_ann/ivf_ann, so candidates are
    generated by an equi-join on the filter value, never a global scan.
    A hot filter value (one giant category) is bounded by the same salt
    split as the ANN paths. Returns (query_id, neighbor_id, cosine, rk)
    like :func:`topk`."""
    keyed = embeddings.select(
        F.col(filter_col).alias("grp"),
        "vec_id",
        "embedding",
        V.norm("embedding").alias("nrm"),
    )
    build = keyed.withColumn("is_probe", F.lit(False))
    probe = keyed.withColumn("is_probe", F.lit(True))
    if max_group_build is not None:
        grouped, keys = _salt_split(build, probe, "grp", max_group_build)
    else:
        grouped, keys = build.unionByName(probe), ["grp"]
    per_group = grouped.groupBy(*keys).applyInPandas(
        _grouped_rerank_kernel(k),
        schema="query_id long, neighbor_id long, cosine double",
    )
    # each query lives in exactly one filter group; the window is only the
    # per-query rank (and the salt re-merge when the guard split a group)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return per_group.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def filtered_topk_sql(k: int = 3, filter_col: str = "label") -> str:
    cos = V.cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({cos}, {COSINE_ROUND}) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.{filter_col} = b.{filter_col} AND a.vec_id <> b.vec_id
)
SELECT * FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# vector aggregation (centroids)
# ---------------------------------------------------------------------------

def label_centroids(embeddings: DataFrame, round_digits: int = COSINE_ROUND) -> DataFrame:
    """(label, dim, centroid) — mean embedding per label in long form (the
    vector-aggregation shape of A8; also the IVF training step's output)."""
    return (
        embeddings.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("centroid"))
    )


LABEL_CENTROIDS_SQL = f"""
WITH expanded AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT label, dim, round(avg(val), {COSINE_ROUND}) AS centroid
FROM expanded GROUP BY label, dim
"""
