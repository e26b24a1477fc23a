"""Similarity search over embedding columns: brute-force cosine top-k
and LSH-bucketed ANN.

Beyond-reference layer (BASELINE.json). Shapes:

- ``cosine_topk``: query vector broadcast as a literal; one narrow
  map stage computes cosine per row; TakeOrderedAndProject returns k.
  At 100 TB this is a full scan but NO shuffle — the right baseline.
- ``knn_join``: k neighbors for each of a (small) probe set — probe
  side crossed via broadcast, so the big side is scanned once.
- ``lsh_ann``: random-hyperplane signatures bucket the corpus; probes
  only compare within matching buckets (sub-linear candidate set).
  Hyperplanes are generated from a fixed seed → deterministic.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine, dot, lit_vector


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: Sequence[float], k: int = 10
) -> DataFrame:
    """Top-k rows by cosine similarity to a literal query vector."""
    q = lit_vector(query)
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject: no global sort.
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def knn_join(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """For every probe row, its k nearest corpus rows by cosine.
    Probe side must be small (broadcast); corpus scanned once."""
    from pyspark.sql import Window

    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).cast("array<double>").alias("probe_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).cast("array<double>").alias("corpus_vec")
    )
    crossed = c.crossJoin(F.broadcast(p)).filter(F.col("corpus_id") != F.col("probe_id"))
    scored = crossed.select(
        "probe_id",
        "corpus_id",
        F.round(cosine(F.col("corpus_vec"), F.col("probe_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("corpus_id"))
    return scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(df: DataFrame, vec_col: str, planes: Sequence[Sequence[float]]):
    """Sign-bit signature column: one bit per hyperplane."""
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(dot(v, lit_vector(p)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def ivf_assign(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: Sequence[tuple[int, Sequence[float]]],
    keep: Sequence[str] = (),
    quantize_e6: bool = False,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its
    max-cosine centroid (ties → higher centroid id, deterministic).
    One narrow map stage; the centroid list is a literal (broadcast by
    construction). Returns (id, *keep, centroid_id) — pass ``keep``
    to carry extra columns through so downstream consumers (e.g. the
    IVF-PQ encode) never need a join back on the id.

    ``quantize_e6=True`` ranks centroids by ``floor(cos·1e6)`` instead
    of the raw double — the e6 contract of ``ivf_assign_blocked`` — so
    an oracle replaying the assignment in another engine can't flip a
    cell on a ~ULP fold difference. A zero-norm vector's cosine is
    null, which ``array_max`` orders below every score, so it goes to
    the highest centroid id. Exact-replay consumers (ev_ann_recall,
    sim_ivfpq_topk) keep the raw default; their oracles reproduce the
    engine fold bit for bit by contract."""
    v = F.col(vec_col).cast("array<double>")
    raw = lambda cvec: cosine(v, lit_vector(cvec))  # noqa: E731
    sim = (
        (lambda cvec: F.floor(raw(cvec) * F.lit(1000000.0)))
        if quantize_e6
        else raw
    )
    cells = [
        F.struct(sim(cvec).alias("sim"), F.lit(cid).alias("cid"))
        for cid, cvec in centroids
    ]
    best = F.array_max(F.array(*cells))["cid"]
    return corpus.select(
        F.col(id_col), *[F.col(c) for c in keep], best.alias("centroid_id")
    )


def ivf_assign_blocked(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    cents: DataFrame,
    n_vectors: int | None = None,
    n_centroids: int | None = None,
    block_size: int = 4096,
    group_vectors: int = 65536,
) -> DataFrame:
    """Max-cosine centroid assignment with the centroids kept IN A
    DATAFRAME — the fully distributed shape for k that grows with the
    corpus. No driver-side collect of anything that scales with the
    data, no task-closure matrix, no broadcast of the centroid set.

    Contract (shared with ``ivf_assign(..., quantize_e6=True)`` and
    the SQL oracles that replay it):

    - the argmax runs over ``floor(cos·1e6)``, not the raw double:
      BLAS pairwise summation and a sequential fold can disagree by
      ~1e-15, and on the e6 grid such a difference can flip an
      assignment only if the true cosine lies within ~1e-15 of a grid
      line AND a second centroid shares the bucket;
    - equal quantized scores resolve to the HIGHER centroid id;
    - a zero-norm vector scores a large-negative sentinel against
      every centroid (never chosen while any centroid scores), so an
      all-zero row goes to the highest centroid id — the same answer
      as a null cosine under Catalyst's ``array_max`` and a NULL under
      DuckDB's ``ORDER BY sim DESC`` (NULLS LAST).

    Shape:

    - centroids are hashed into ``ceil(k / block_size)`` blocks of
      ``block_size`` expected rows via ``pmod(xxhash64(cid), B)`` —
      hash-uniform for ARBITRARY cid sets, where ``cid % B`` would
      put residue-sharing cids into one block and break the per-task
      memory bound on skewed cids;
    - vectors are hashed into ``ceil(N / group_vectors)`` sub-
      partitions and EXPLODED once per centroid block (the honest
      cost of brute-force assignment is O(N·k) FLOPs either way; the
      explode only distributes it — shuffle volume N·B rows against
      N·k·d compute keeps arithmetic intensity high);
    - each (block, vpart) group runs a float64 GEMM and the e6
      argmax over its bounded slice (≤ group_vectors × block_size),
      emitting a per-block partial best;
    - the global winner per vector is ``max(struct(sim_e6, cid))`` —
      exactly "highest quantized cosine, ties → higher cid", because
      struct ordering is lexicographic. Each pair's dot uses the full
      dim, so which other centroids share a GEMM call cannot change
      its value.

    Peak memory per task: O(group_vectors·d + block_size·d). Driver
    memory: O(1). At 100 TB both knobs hold — k = N/500 centroids
    split into N/(500·4096) blocks, no single collection point."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    k = n_centroids if n_centroids is not None else cents.count()
    n = n_vectors if n_vectors is not None else corpus.count()
    n_blocks = max(1, math.ceil(k / block_size))
    n_vparts = max(1, math.ceil(n / group_vectors))
    id_type = corpus.schema[id_col].dataType
    sentinel = -(2**62)  # < floor(-1 * 1e6), never beats a real cosine

    vec_rows = corpus.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_vparts))
        .cast("int")
        .alias("vpart"),
        F.lit(False).alias("is_cent"),
        F.col(id_col).alias("rid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cent_rows = cents.select(
        F.pmod(F.xxhash64(F.col("cid").cast("long")), F.lit(n_blocks))
        .cast("int")
        .alias("blk"),
        F.explode(F.sequence(F.lit(0), F.lit(n_vparts - 1))).alias("vpart"),
        F.lit(True).alias("is_cent"),
        F.col("cid").cast(id_type).alias("rid"),
        F.col("cv").cast("array<double>").alias("v"),
    )

    partial_schema = T.StructType(
        [
            T.StructField("rid", id_type),
            T.StructField("sim_e6", T.LongType()),
            T.StructField("cid", T.IntegerType()),
        ]
    )

    def block_argmax(key, pdf):
        import pandas as pd

        isc = pdf["is_cent"].to_numpy()
        cdf, vdf = pdf[isc], pdf[~isc]
        if len(cdf) == 0 or len(vdf) == 0:
            return pd.DataFrame({"rid": [], "sim_e6": [], "cid": []}).astype(
                {"sim_e6": "int64", "cid": "int32"}
            )
        cids = cdf["rid"].to_numpy(dtype=np.int64)
        order = np.argsort(cids)  # ascending → reversed-argmax = highest cid
        cmat = np.stack([np.asarray(v, dtype=np.float64) for v in cdf["v"]])[
            order
        ]
        cids = cids[order]
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vdf["v"]])
        xn = np.sqrt((x * x).sum(axis=1))
        denom = np.outer(xn, cnorm)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(
                denom != 0,
                np.floor((x @ cmat.T) / denom * 1e6),
                float(sentinel),
            )
        rev = cos[:, ::-1]
        pos = rev.argmax(axis=1)  # first max in reversed = highest cid
        best_j = len(cids) - 1 - pos
        return pd.DataFrame(
            {
                "rid": vdf["rid"].to_numpy(),
                "sim_e6": cos[np.arange(len(x)), best_j].astype("int64"),
                "cid": cids[best_j].astype("int32"),
            }
        )

    partials = (
        vec_rows.unionByName(cent_rows)
        .groupBy("blk", "vpart")
        .applyInPandas(block_argmax, partial_schema)
    )
    return (
        partials.groupBy("rid")
        .agg(F.max(F.struct("sim_e6", "cid")).alias("m"))
        .select(F.col("rid").alias(id_col), F.col("m.cid").alias("centroid_id"))
    )


def ivf_topk(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    centroids: Sequence[tuple[int, Sequence[float]]],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN: rank centroids against the query driver-side, then
    scan only the nprobe best cells — the 1/(n_cells/nprobe) scan-
    fraction scale path (vs the brute-force full scan).

    Determinism contract: BOTH folds that pick the probed cells — the
    Python probe ranking here and the Catalyst cell assignment — rank
    by ``floor(cos·1e6)`` (the e6 grid of ``ivf_assign_blocked``), so
    the oracle's SQL replay can't diverge on a ~ULP difference between
    three independent cosine folds."""
    import math

    def cos_e6(a: Sequence[float], b: Sequence[float]) -> int:
        dot_ = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return math.floor(dot_ / (na * nb) * 1e6) if na and nb else 0

    probe_cids = [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (-cos_e6(query, c[1]), c[0])
        )[:nprobe]
    ]
    assigned = ivf_assign(corpus, vec_col, id_col, centroids, quantize_e6=True)
    bucket = corpus.join(
        assigned.filter(F.col("centroid_id").isin(probe_cids)).select(id_col),
        id_col,
        "left_semi",
    )
    return cosine_topk(bucket, vec_col, id_col, query, k)


def lsh_ann(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    max_hamming: int = 0,
) -> DataFrame:
    """ANN via sign-LSH: compare only corpus rows whose signature is
    within ``max_hamming`` bits of the query's signature.
    ``max_hamming=0`` is the classic single-bucket probe
    (1 bucket ≈ corpus/2^planes rows); raising it multi-probes
    adjacent buckets (recall/scan-fraction dial); ``= n_planes``
    probes every bucket — exact by construction, which is the
    oracle-checkable configuration (the brute-force ranking IS the
    expected answer while the full signature/bucket machinery still
    executes in the plan)."""
    planes = random_hyperplanes(len(query), n_planes, seed)
    qbits = "".join(
        "1" if sum(p[i] * query[i] for i in range(len(query))) >= 0 else "0"
        for p in planes
    )
    sig = lsh_signature(corpus, vec_col, planes)
    if max_hamming <= 0:
        bucket = corpus.filter(sig == F.lit(qbits))
    else:
        # Hamming distance between the row signature and the query
        # signature, as a sum of per-position mismatch bits (pure
        # column expressions — whole-stage codegen, no UDF).
        mismatches = [
            (F.substring(sig, i + 1, 1) != F.lit(qbits[i])).cast("int")
            for i in range(n_planes)
        ]
        ham = sum(mismatches[1:], mismatches[0])
        bucket = corpus.filter(ham <= F.lit(max_hamming))
    return cosine_topk(bucket, vec_col, id_col, query, k)
