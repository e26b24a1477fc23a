"""Deduplication operators: exact, MinHash+LSH, token-set Jaccard and
containment, SimHash.

Beyond-reference training-data-pipeline layer (BASELINE.json). The
reference's only dedup is `.distinct()` on dimension keys (P4/P6); a
100 TB corpus needs near-dup detection too. All operators here are
shuffle-conscious:

- exact: one hash-aggregate on an md5 fingerprint (map-side combine).
- sets: every set operator reads an ``(id, set)`` frame from
  ``shingle_sets``, whose set is ``functions.text.word_shingles`` —
  the one definition of a document's set (k = 1: distinct tokens).
  Each explodes it through ``functions.text.explode_staged``, so a
  branch computes a document's set once: a plain ``explode`` of the
  column lets the optimizer run the set's definition again in an
  inferred filter below it.
- MinHash/LSH: ``minhash_signature`` hashes an ``(id, set)`` frame
  (explode → one agg per id); ``minhash_lsh_pairs`` bands a signature
  frame into buckets and self-joins only within buckets (the classic
  LSH band trick — no O(n²) pair enumeration).
- token-set Jaccard / containment: both read k = 1 sets. Jaccard
  indexes only each set's prefix (AllPairs/PPJoin prefix filter) and
  verifies candidates in-row with ``array_intersect``; containment
  joins the full inverted index.
- SimHash: 64-bit signature via per-token md5 bits, hamming-ball
  candidate pairs via band rotation.

Determinism: every hash is md5 (stable across engines) — which also
makes the MinHash signatures oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

import random

from ..functions.text import explode_staged, fingerprint, tokens, word_shingles
from .ids import release_pins

# Affine MinHash family h_i(x) = (a_i*x + b_i) mod p over a 32-bit base
# hash: one md5 per shingle (not one per seed), then cheap integer
# arithmetic per hash function. p = 2^31-1 keeps a*x + b inside int64.
MINHASH_PRIME = 2_147_483_647


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per fingerprint — distributed,
    no full-row shuffle of the text payload beyond the agg."""
    keep = (
        df.select(F.col(id_col).alias("__id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("__id").alias(id_col))
        .drop("fp")
    )
    return df.join(keep, id_col, "left_semi")


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """``(id, set)``: each document's ``word_shingles(text, k)`` — the
    input frame of every set operator here."""
    return df.select(F.col(id_col), word_shingles(text_col, k).alias("set"))


def minhash_signature(
    sets: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Per-id MinHash signature of an ``(id, set)`` frame
    (``shingle_sets``): one 32-bit md5-derived base hash per set
    member, then the affine family (a_i*h + b_i) mod p per seed. One
    explode + one aggregate — a single shuffle on id, and ONE md5 per
    member regardless of signature width. An empty set has no
    signature row."""
    based = explode_staged(sets, "set", "sh", F.col(id_col)).selectExpr(
        id_col,
        "cast(conv(substring(md5(sh), 1, 8), 16, 10) AS bigint) AS h0",
    )
    # SQL-text expressions: one parser call per column, not one py4j
    # round trip per arithmetic node (driver-side seconds at width 16+).
    mins = [
        F.expr(f"min(({a} * h0 + {b}) % {MINHASH_PRIME}) AS mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return based.groupBy(id_col).agg(*mins)


def lsh_buckets(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Stacked (id, bucket) rows from a MinHash signature frame — the
    LSH band index itself. The band number is folded into the bucket
    hash, so buckets never collide across bands.

    This is the persistable side of an incremental near-dup merge: at
    scale the corpus index is materialized ONCE as bucket-partitioned
    parquet and only probed per ingest batch (see
    plans/traindata.py::inc_lsh_merge)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        "md5(concat_ws('|', '{b}', {cols})) AS band_{b}".format(
            b=b,
            cols=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    ]
    banded = sig.selectExpr(id_col, *band_cols)
    return banded.selectExpr(
        id_col,
        "explode(array({})) AS bucket".format(
            ", ".join(f"band_{b}" for b in range(bands))
        ),
    )


def minhash_lsh_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding of a signature frame
    (``minhash_signature``): ids sharing any band of the signature.
    Returns (id_a, id_b, n_bands_shared), id_a<id_b.

    Scale shape: the self-join happens per band-bucket (tiny groups),
    never across the whole corpus."""
    stacked = lsh_buckets(sig, id_col, num_hashes, bands)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_bands_shared"))
    )


def _with_overlap(pairs: DataFrame, sets: DataFrame, id_col: str) -> DataFrame:
    """``pairs`` (id_a, id_b, ...) with both sides' sets joined in and
    their overlap computed in-row: adds ``__inter`` = |A ∩ B| and
    ``__union`` = |A ∪ B|. ``sets`` is an ``(id, set)`` frame with
    distinct members, so ``size(array_intersect)`` is the exact
    intersection and no member-level join is planned."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("set").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("set").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn(
            "__union", F.size("__sa") + F.size("__sb") - F.col("__inter")
        )
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard pairs via PREFIX FILTERING (AllPairs/
    PPJoin, Bayardo et al. WWW'07). Returns (id_a, id_b, jaccard),
    id_a < id_b, jaccard rounded to 6.

    Tokens get a canonical frequency-ascending order and each set
    indexes only its first ``|x| − ⌈τ·|x|⌉ + 1`` tokens; any pair with
    J ≥ τ provably shares a token within BOTH prefixes (pigeonhole on
    the ≥ τ·|x| required overlap), so joining prefixes loses nothing.
    Rare tokens land in prefixes, so index buckets stay small. Each
    distinct candidate is then verified in-row against the two token
    arrays (``_with_overlap``), with no token-level verification join."""
    sets = shingle_sets(df, text_col, id_col, 1)
    toks = explode_staged(sets, "set", "tok", F.col(id_col), F.size("set").alias("__sz"))
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
    w_pos = Window.partitionBy(id_col).orderBy("__df", "tok")
    # Prefix bound ⌈τ·|x|⌉ with an epsilon guard: for τ not exactly
    # representable in binary (0.55, 0.7, ...) the float product can
    # round a hair ABOVE the true rational value, making ceil one too
    # large and the indexed prefix one token too short — silently
    # dropping valid pairs from an exact operator. The 1e-9 slack
    # absorbs that ulp-level excess; it cannot reach the next integer
    # down unless τ·|x| was within 1e-9 of an integer, where ceil is
    # the same either way for any real corpus size.
    prefix = (
        toks.join(dfreq, "tok")
        .withColumn("__pos", F.row_number().over(w_pos))
        .filter(
            F.col("__pos")
            <= F.col("__sz")
            - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9))
            + 1
        )
        .select(F.col(id_col), "tok")
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(pb, "tok")
        .filter(F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
        .select(
            F.col(f"pa.{id_col}").alias("id_a"),
            F.col(f"pb.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return (
        _with_overlap(cand, sets, id_col)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__inter") / F.col("__union"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Overlap-coefficient (containment) pairs: ``n_inter / min(|A|,
    |B|)`` over the same token sets as ``jaccard_pairs``, via an
    inverted-index token join. Returns (id_a, id_b, containment),
    id_a < id_b, rounded to 6. Catches near-SUBSET duplicates — a
    short doc fully contained in a long one scores 1.0 here but low on
    Jaccard (the union is dominated by the long doc). Each side's set
    size rides through the explode, so no separate sizes aggregate is
    joined back."""
    sets = shingle_sets(df, text_col, id_col, 1)
    toks = explode_staged(sets, "set", "tok", F.col(id_col), F.size("set").alias("__sz"))
    a, b = toks.alias("a"), toks.alias("b")
    return (
        a.join(b, "tok")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__sz").alias("sz_a"),
            F.col("b.__sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_inter"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / F.least(F.col("sz_a"), F.col("sz_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (id_a, id_b, cos_sim) for all
    pairs with cosine ≥ threshold.

    This is the exact (quadratic) verifier — run it on bounded
    candidate sets only. The scale path is two-stage: bucket with
    ``similarity.lsh_signature`` / ``ivf_assign`` first, then verify
    each bucket's pairs with this operator."""
    from ..functions.vectors import cosine

    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    pins: list[DataFrame],
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate pairs into duplicate clusters:
    connected components by iterative min-label propagation. Returns
    (id_col, cluster_id) with cluster_id = min member id — the step
    that turns pairwise similarity output (LSH/Jaccard pairs) into an
    actual keep/drop decision per document.

    Each round unions three label candidates per vertex — its own
    label, its neighbours' labels (labels ⋈ adjacency) and, from round
    2 on, its label's label (pointer jumping, labels ⋈ labels) — and
    keeps the minimum in one aggregate. Pointer jumping halves the
    distance to the component minimum every round, so convergence
    takes O(log diameter) rounds, not O(diameter); long duplicate
    chains do not serialize the loop. Same family as
    GraphX/GraphFrames connectedComponents (large-star/small-star).

    One Spark action per round: the round's eager ``localCheckpoint``
    truncates the lineage, and an ``Observation`` on that same action
    counts the vertices whose label changed (each vertex's previous
    label rides through the aggregate as its ``__own`` candidate), so
    the convergence check launches no job of its own and no label data
    reaches the driver. The previous round's checkpoint is released as
    soon as its successor is materialized, so at most two generations
    are live.

    The returned frame reads the final round's checkpoint, which
    ``pins`` receives (the ``operators.ids`` pin contract). After
    release, a retained handle fail-stops on access instead of
    recomputing.
    """
    # Both directions from one pass over ``edges``: a union of two
    # projections would plan (and run) the whole edge pipeline twice.
    adj = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")),
                F.struct(F.col(dst_col).alias("__src"), F.col(src_col).alias("__dst")),
            )
        ).alias("__e")
    ).select("__e.__src", "__e.__dst").persist()
    # Round 1 reads the identity labels twice (own label + adjacency
    # join); the lazy pin computes them once inside that round's action
    # instead of paying an eager job of their own.
    labels = vertices.select(
        F.col(id_col).alias("__id"), F.col(id_col).alias("cluster_id")
    ).localCheckpoint(eager=False)
    for it in range(max_iter):
        msgs = adj.join(labels, adj["__src"] == labels["__id"]).select(
            F.col("__dst").alias("__id"),
            F.col("cluster_id"),
            F.lit(False).alias("__own"),
        )
        candidates = labels.select(
            "__id", "cluster_id", F.lit(True).alias("__own")
        ).union(msgs)
        if it > 0:
            # Pointer jumping is a provable no-op in round 1 (labels
            # are still the identity map), so the self-join starts in
            # round 2.
            jump = (
                labels.alias("l1")
                .join(labels.alias("l2"), F.col("l1.cluster_id") == F.col("l2.__id"))
                .select(
                    F.col("l1.__id").alias("__id"),
                    F.col("l2.cluster_id"),
                    F.lit(False).alias("__own"),
                )
            )
            candidates = candidates.union(jump)
        obs = Observation()
        new_gen = (
            candidates.groupBy("__id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                # each vertex's single __own row = its previous label
                F.min(F.when(F.col("__own"), F.col("cluster_id"))).alias(
                    "__prev"
                ),
            )
            .observe(
                obs,
                F.count(F.when(F.col("cluster_id") != F.col("__prev"), 1)).alias(
                    "changed"
                ),
            )
            .select("__id", "cluster_id")
            .localCheckpoint()
        )
        release_pins([labels])
        labels = new_gen
        if obs.get["changed"] == 0:
            break
    adj.unpersist()
    pins.append(labels)
    return labels.select(F.col("__id").alias(id_col), "cluster_id")


SIMHASH_BITS = 60  # 15 hex chars — fits signed int64 in every engine
# Per-document token bound of simhash60's lane-packed bit counts: the
# top 16-bit lane starts at bit 48 of a signed long, so its count must
# stay below 2^15.
SIMHASH_MAX_TOKENS = 32_767


def simhash60(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash over whitespace tokens: per token take 60 bits of
    md5, sum (+1/-1) per bit position across tokens, sign → bit.

    Expression-only (explode + conv + bit ops + one agg). 60 bits (not
    64) so the signature is portable to engines without unsigned int64.
    Every token occurrence counts (SimHash weights by frequency), so a
    repeated token moves the sign as often as it occurs.

    A document may hold at most ``SIMHASH_MAX_TOKENS`` (32,767) tokens;
    a longer one fails the query with an error naming the bound, with
    or without ANSI mode. Chunk longer documents upstream."""
    staged = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    checked = F.when(
        F.size("__toks") > SIMHASH_MAX_TOKENS,
        F.raise_error(
            F.concat(
                F.lit("simhash60: document "),
                F.col(id_col).cast("string"),
                F.lit(f" has more than {SIMHASH_MAX_TOKENS} tokens"),
            )
        ),
    ).otherwise(F.col("__toks"))
    toks = staged.select(F.col(id_col), F.explode(checked).alias("tok"))
    toks = toks.selectExpr(
        id_col,
        "cast(conv(substring(md5(tok), 1, 15), 16, 10) AS bigint) AS h60",
    )
    # sum of ±1 per bit == 2*popcount_i - n: aggregate per-bit counts
    # plus one total, reconstruct the sign from 2c > n. The 60 counts
    # are lane-packed SIMD-style — 4 counts per long in 16-bit lanes —
    # so the hash aggregate carries 16 buffers instead of 61 (~4× less
    # per-row agg work, far less generated code to JIT). A lane's sum
    # is at most the document's token count, which the check above
    # bounds at SIMHASH_MAX_TOKENS, so no lane carries into the next
    # and the top lane never reaches the sign bit.
    # Expressions are built as SQL text: one parser call each, not one
    # py4j round trip per bit-op (hundreds of driver RPCs ≈ seconds).
    lane_sums = [
        "sum("
        + " + ".join(
            f"shiftleft(shiftright(h60, {4 * k + j}) & 1, {16 * j})"
            for j in range(4)
        )
        + f") AS s_{k}"
        for k in range(SIMHASH_BITS // 4)
    ]
    agg = toks.groupBy(id_col).agg(
        F.expr("count(*) AS n_tok"), *[F.expr(e) for e in lane_sums]
    )
    sim_terms = []
    for i in range(SIMHASH_BITS):
        k, j = divmod(i, 4)
        sim_terms.append(
            f"shiftleft(cast((shiftright(s_{k}, {16 * j}) & 65535) * 2 > n_tok"
            f" AS bigint), {i})"
        )
    return agg.selectExpr(id_col, "(" + " + ".join(sim_terms) + ") AS simhash")
