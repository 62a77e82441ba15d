"""Exact pair-scoring kernel: the vectorized twin of the declarative
``pairs ⋈ vectors ⋈ vectors`` + ``functions.vectors.l2_sq`` fold.

Round-12 optimization (guide §4.2 — hand whole batches to vectorized
native code). The NN-descent rounds and every refine tier's exact
re-rank score a ``(query_id, cand_id)`` pair list against the raw
vectors. The declarative formulation pays two shuffle joins plus an
INTERPRETED higher-order fold per pair (``aggregate(zip_with(...))``
is not codegen'd) — at sf0.1 the NN-descent build evaluates ~3M such
64-lane folds per round. This kernel broadcasts the (id → vector)
matrix (budget-gated, same ceiling as the kNN broadcast tier) and
computes the UNROUNDED L2² in numpy.

Bit-identity argument (what lets the hash-gated NN-descent family and
the refine tiers keep their oracle hashes): the kernel is vectorized
over ROWS but SEQUENTIAL over LANES —

    acc = 0.0
    for i in 0..d-1:  acc = acc + (a_i - b_i) * (a_i - b_i)

per row this performs the identical left-to-right chain of IEEE-754
double subtract/multiply/add the JVM fold performs (``(((0+t_0)+t_1)+
...)``) on the identical doubles (both sides cast the stored floats to
double first), so every emitted distance is the same 64-bit pattern
the fold emits. Rounding stays a JVM expression on the returned
column. No reordered/blocked summation anywhere — this is NOT a BLAS
matmul, precisely so no margin/re-score step is needed.

Join-semantics parity: the scorer only engages when the vector frames
have unique non-null integral ids, no NULL vectors, and one uniform
dimension (checked at build time); pairs whose id is absent from a
frame are dropped exactly like the inner joins they replace. Anything
else returns ``None`` and the caller keeps the declarative path — the
same budget-degrade discipline as the kNN broadcast tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _collect_matrix(vframe: DataFrame, id_col: str, vec_col: str):
    """(ids int64[n], mat float64[n, d]) for a gated vector frame, or
    None when any engagement gate fails (non-integral ids, NULL or
    ragged vectors, duplicate ids)."""
    import numpy as np
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    if not isinstance(
        vframe.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        return None
    rows = vframe.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).toPandas()
    if len(rows) == 0 or rows["__v"].isna().any():
        return None
    ids = rows["__id"].to_numpy(dtype=np.int64)
    if len(ids) != len(np.unique(ids)):
        return None
    if rows["__v"].map(len).nunique() != 1:
        return None
    mat = np.asarray(list(rows["__v"]), dtype=np.float64)
    if mat.ndim != 2 or mat.shape[1] == 0 or np.isnan(mat).any():
        return None
    return ids, mat


def _budget_ok(qframe, cframe, vec_col) -> bool:
    """Pre-collect size gate (never collect before knowing the size):
    footer/row-count estimate × dim × 8 bytes per side ≤ the kNN
    broadcast byte budget."""
    from semantic_ann_in_data_lake_spark.operators.knn import (
        _broadcast_byte_budget,
        _estimate_rows,
    )

    head = qframe.select(vec_col).head(1)
    dim = len(head[0][0]) if head and head[0][0] is not None else 0
    if dim == 0:
        return False
    total = 0
    for side in ([qframe] if qframe is cframe else [qframe, cframe]):
        n = _estimate_rows(side)
        if n is None:
            n = side.count()
        total += n * dim * 8 + n * 16
    return total <= _broadcast_byte_budget()


def exact_l2_topk_superset(
    qframe: DataFrame,
    cframe: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
    round_dp: int,
    qcol: str = "query_id",
    ccol: str = "cand_id",
) -> DataFrame | None:
    """Exact-tier kNN prefilter: emit, per query, a PROVABLE SUPERSET
    of the (round(d, round_dp), cand_id)-ranked top-k with the
    bit-identical unrounded d — the caller's unchanged JVM round +
    window then picks the final rows.

    Replaces the |Q|·|C| crossJoin + interpreted fold of the exact
    strategy (guide §8: decide with the cheap pass, emit only
    survivors). Distances use the same sequential-lane add chain as
    the fold (module doc), so they are bit-identical; the selection
    threshold is t_k + 1.01·q (q = 10**-round_dp, plus a few ulps)
    where t_k is the per-query k-th smallest (self-excluded) distance:
    any candidate in the final ROUNDED top-k satisfies
    round(d) ≤ round(t_k), hence d < t_k + q/2 + q/2 + ulps — inside
    the margin. Ties at the boundary only ADD rows (a superset is
    always safe; the JVM window is the decider). Excluded self-pairs
    carry +inf and never survive, even when fewer than k candidates
    remain. Returns None when the gates decline (caller keeps the
    crossJoin path)."""
    import numpy as np

    if (
        __import__("os").environ.get("SPARK_GRAFT_PAIRSCORE_KERNEL", "1")
        == "0"
    ):
        return None
    if not _budget_ok(qframe, cframe, vec_col):
        return None
    same = qframe is cframe
    q = _collect_matrix(qframe, id_col, vec_col)
    if q is None:
        return None
    c = q if same else _collect_matrix(cframe, id_col, vec_col)
    if c is None:
        return None
    if q[1].shape[1] != c[1].shape[1]:
        return None

    spark = qframe.sparkSession
    bc = spark.sparkContext.broadcast((q[0], q[1], c[0], c[1]))
    quantum = 10.0 ** -round_dp

    qid = qframe.select(F.col(id_col).alias(qcol))
    target = spark.sparkContext.defaultParallelism
    if qid.rdd.getNumPartitions() < target:
        qid = qid.repartition(target)

    def kern(batches):
        import pandas as pd

        qids, qmat, cids, cmat = bc.value
        pos = {int(i): p for p, i in enumerate(qids)}
        n, d = cmat.shape
        kth = min(k - 1, n - 1)
        # block query rows so the (B, n) distance scratch stays ~32 MB
        blk = max(1, int((32 << 20) // max(n * 8, 1)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi_all = np.asarray(
                [pos.get(i, -1) for i in pdf[qcol]], dtype=np.int64
            )
            ids_all = pdf[qcol].to_numpy()
            ok = qi_all >= 0  # inner-join semantics for absent ids
            qi_all, ids_all = qi_all[ok], ids_all[ok]
            for lo in range(0, len(qi_all), blk):
                qi = qi_all[lo : lo + blk]
                ids_blk = ids_all[lo : lo + blk].astype(np.int64)
                a = qmat[qi]
                # sequential over lanes == the l2_sq fold's add chain
                acc = np.zeros((len(qi), n), dtype=np.float64)
                for i in range(d):
                    diff = a[:, i][:, None] - cmat[:, i][None, :]
                    acc += diff * diff
                sel = acc
                if exclude_self:
                    sel = np.where(
                        cids[None, :] == ids_blk[:, None], np.inf, acc
                    )
                t = np.partition(sel, kth, axis=1)[:, kth]
                # relative slack: the JVM round's decimal → double step
                # adds ulps, which outgrow 0.01·q at large round_dp
                thr = (t + 1.01 * quantum) * (1.0 + 2.0**-48)
                keep = (sel <= thr[:, None]) & np.isfinite(sel)
                r, cj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        qcol: ids_blk[r],
                        ccol: cids[cj],
                        "d": acc[r, cj],
                    }
                )

    return qid.mapInPandas(
        kern, schema=f"{qcol} long, {ccol} long, d double"
    )


def exact_l2_pair_scorer(
    qframe: DataFrame,
    cframe: DataFrame,
    id_col: str,
    vec_col: str,
):
    """Build ``score(pairs, qcol, ccol) -> DataFrame[qcol, ccol,
    d double]`` over broadcast vector matrices, or return ``None``
    when the gates decline (caller keeps the declarative join path).

    ``qframe``/``cframe`` may be the same object (self-join tiers) —
    the matrix is then collected once. ``d`` is the unrounded L2²,
    bit-identical to ``l2_sq`` (see module doc); callers apply their
    own JVM ``round`` to it.
    """
    import os

    import numpy as np

    from semantic_ann_in_data_lake_spark.operators.knn import (
        _broadcast_byte_budget,
        _estimate_rows,
    )

    if os.environ.get("SPARK_GRAFT_PAIRSCORE_KERNEL", "1") == "0":
        return None
    same = qframe is cframe
    budget = _broadcast_byte_budget()
    head = qframe.select(vec_col).head(1)
    dim = len(head[0][0]) if head and head[0][0] is not None else 0
    if dim == 0:
        return None
    total = 0
    for side in ([qframe] if same else [qframe, cframe]):
        n = _estimate_rows(side)
        if n is None:
            n = side.count()
        total += n * dim * 8 + n * 16
    if total > budget:
        return None

    q = _collect_matrix(qframe, id_col, vec_col)
    if q is None:
        return None
    c = q if same else _collect_matrix(cframe, id_col, vec_col)
    if c is None:
        return None
    if q[1].shape[1] != c[1].shape[1]:
        return None

    spark = qframe.sparkSession
    bc = spark.sparkContext.broadcast((q[0], q[1], c[0], c[1]))

    def score(
        pairs: DataFrame, qcol: str = "query_id", ccol: str = "cand_id"
    ) -> DataFrame:
        def kern(batches):
            import pandas as pd

            qids, qmat, cids, cmat = bc.value
            qpos = {int(i): p for p, i in enumerate(qids)}
            cpos = qpos if qids is cids else {
                int(i): p for p, i in enumerate(cids)
            }
            d = qmat.shape[1]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qi = np.asarray(
                    [qpos.get(i, -1) for i in pdf[qcol]], dtype=np.int64
                )
                ci = np.asarray(
                    [cpos.get(i, -1) for i in pdf[ccol]], dtype=np.int64
                )
                keep = (qi >= 0) & (ci >= 0)  # inner-join semantics
                if not keep.all():
                    pdf = pdf[keep]
                    qi, ci = qi[keep], ci[keep]
                if len(pdf) == 0:
                    continue
                a, b = qmat[qi], cmat[ci]
                # sequential over lanes == the l2_sq fold's add chain
                acc = np.zeros(len(pdf), dtype=np.float64)
                for i in range(d):
                    diff = a[:, i] - b[:, i]
                    acc += diff * diff
                yield pd.DataFrame(
                    {
                        qcol: pdf[qcol].to_numpy(),
                        ccol: pdf[ccol].to_numpy(),
                        "d": acc,
                    }
                )

        return pairs.select(qcol, ccol).mapInPandas(
            kern, schema=f"{qcol} long, {ccol} long, d double"
        )

    return score
