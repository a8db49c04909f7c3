"""Embedding similarity search over the ``embeddings`` table
(``vec_id bigint, embedding array<float>, label int``).

Two paths, per the standard ANN ladder:

* **brute-force top-k** — the exactness baseline: broadcast the query set,
  one pass over the corpus computing cosine, per-query top-k via window
  ranking.  All vector math is JVM-side higher-order functions
  (``zip_with`` + ``aggregate``) in double precision — no Python in the
  loop.  Scale shape: corpus-partition-parallel, shuffle only the
  (n_queries × corpus_partitions × k) survivors … never the corpus.
* **LSH-bucketed top-k** — the scale path: restrict candidates to a
  hyperplane-sign bucket (here: sign bits of the first ``nbits``
  dimensions — axis-aligned hyperplanes, deterministic and portable; a
  production build would use seeded random projections, same plumbing).
  Bucket join instead of cross product → touches |bucket| candidates per
  query.  An IVF coarse quantizer drops into the same skeleton (bucket :=
  nearest centroid id).

Determinism: cosines are rounded to 6dp *before* ranking and tie-broken by
vec_id, so Spark's and the oracle's (identical-value) orderings can't
diverge on float noise.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockpulse_batch_realtime_etl_spark.sources.tables import (
    fan_out,
    literal_df,
)


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential index order (engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_precomputed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-ROW precomputed norms: the pairwise work drops from
    3 vector passes to 1 (the dot product).  Numerically identical to
    ``cosine`` — same operands, same order — so oracles are unaffected.

    ``try_divide``: a zero-norm vector has no direction, so its cosine is
    NULL — the same answer DuckDB's ``x / 0.0`` gives the oracle, and the
    defined alternative to ANSI Spark's DIVIDE_BY_ZERO abort."""
    return F.round(F.try_divide(_dot(a, b), na * nb), 6)


#: Fixed-point packing for the argmax aggregates.  The scored side of
#: every assignment argmax is a 6dp-ROUNDED cosine (``_cos_precomputed``
#: / the cogroup's HALF_UP numpy mirror), so ``round(neg·10⁶)`` is an
#: EXACT integer in [−10⁶, 10⁶]; packed = scaled·2⁴⁰ + id folds the
#: (score, lowest-id) lexicographic tie rule into ONE signed BIGINT whose
#: plain ``min`` is the argmax.  Why bother: only flat primitive buffers
#: are UnsafeRow-mutable in Spark 4.x — ``min(struct(...))`` (the r11
#: shape; measured in round 12) demotes the groupBy to SortAggregate, a
#: per-partition sort of the corpus × ncells scored stream.  The packed
#: BIGINT keeps the whole argmax on whole-stage-codegen HashAggregate.
#: Ranges: |scaled| ≤ 10⁶ (sentinel 2·10⁶+1), ids < 2⁴⁰ ≈ 10¹² ≫ the 4M
#: cells at the engagement point, |packed| < 2.3·10¹⁸ < 2⁶³.
_ARGMAX_BASE = 1 << 40
#: A NULL cosine (zero-norm vector) sorts FIRST in the retired struct-min
#: (Spark orders a NULL struct field before any value), winning the
#: argmax with the lowest id.  The sentinel sits below every real scaled
#: score so packed NULL rows keep exactly that behavior.
_ARGMAX_NULL_SENTINEL = -2_000_001


def _pack_argmin(neg: Column, ident: Column) -> Column:
    """(6dp neg-score, id) → one BIGINT whose ``min`` is the argmax with
    ties to the lowest id (see ``_ARGMAX_BASE``)."""
    scaled = F.round(neg * F.lit(1_000_000.0), 0).cast("bigint")
    return (
        F.coalesce(scaled, F.lit(_ARGMAX_NULL_SENTINEL))
        * F.lit(_ARGMAX_BASE)
        + ident
    )


def _unpack_argmin_id(packed: Column) -> Column:
    """Recover the id from a packed argmax key: ``pmod`` (floored mod)
    strips the scaled-score limb for positive AND negative keys."""
    return F.pmod(packed, F.lit(_ARGMAX_BASE))


def brute_force_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k of the corpus for each query vector.

    The query side is filtered then ``broadcast`` — the corpus never
    shuffles for the join; ranking shuffles only per-query candidates.
    Norms are precomputed per row (corpus-size work) so each of the
    |queries|×|corpus| pairs costs exactly one dot product.
    Self-matches are excluded (the usual near-dup convention).
    """
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    c = fan_out(embeddings).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cos_precomputed(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def brute_force_topk_np(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Vectorized scale path of ``brute_force_topk``: identical semantics,
    but the query×corpus scoring runs as ONE numpy matmul per Arrow batch
    inside ``mapInPandas`` instead of per-pair Catalyst expressions.

    Shape: queries are collected to a (q×d) matrix and closed over (the
    query set is top-k-sized by definition — this is the one deliberate
    driver-side transfer, same size as a broadcast); the corpus streams
    through in Arrow batches, each batch scoring (batch×d)·(d×q) in BLAS and
    emitting only its per-query top-k candidates.  The final exact top-k
    over (partitions × q × k) survivors is a tiny Catalyst ranking.  At
    100 TB this is the practical exact-search form: ~10-100× the per-pair
    HOF throughput, no corpus shuffle, partial top-k pushed into the scan
    stage.  Results are bit-identical to ``brute_force_topk`` (same double
    math, same 6dp rounding, same tie-break) — asserted in tests.
    """
    import numpy as np

    q_rows = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:  # the Catalyst twin returns empty too, not an axis error
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, cand_id long, cos_sim double, rank int"
        )
    q_ids = np.array([r.vec_id for r in q_rows], dtype="int64")
    q_mat = np.array([r.embedding for r in q_rows], dtype="float64")
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype="int64")
            c_mat = np.array(list(pdf["embedding"]), dtype="float64")
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            # HALF_UP to 6dp (F.round's decimal mode), not np.round's
            # banker's rounding; then zero-norm pairs → NaN → emitted as
            # NULL cos_sim exactly like the try_divide Catalyst twin
            sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            sims[~np.isfinite(raw)] = np.nan
            for qi, qid in enumerate(q_ids):
                col = sims[:, qi]
                mask = c_ids != qid
                ids, vals = c_ids[mask], col[mask]
                if len(ids) == 0:
                    continue
                # partial top-k per batch (cos desc NULLS LAST, cand_id
                # asc): keep k non-null best plus the first k null-cos
                # candidates — null rows can still reach the global top-k
                # when a query has fewer than k scored candidates
                nn = ~np.isnan(vals)
                keep_nn = np.lexsort((ids[nn], -vals[nn]))[:k]
                out_ids = list(ids[nn][keep_nn])
                out_vals = list(vals[nn][keep_nn])
                null_ids = np.sort(ids[~nn])[:k]
                out_ids += list(null_ids)
                out_vals += [None] * len(null_ids)
                if not out_ids:
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "cand_id": np.array(out_ids, dtype="int64"),
                        "cos_sim": pd.array(out_vals, dtype="Float64"),
                    }
                )

    survivors = fan_out(embeddings.select("vec_id", "embedding")).mapInPandas(
        score, "query_id long, cand_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def _sign_bucket(emb: Column, nbits: int) -> Column:
    """Hyperplane-sign LSH bucket id: bit i = [embedding[i] >= 0]."""
    bucket = F.lit(0)
    for i in range(nbits):
        bucket = bucket + F.when(
            F.element_at(emb, i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_bucketed_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, nbits: int = 8
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    2^nbits buckets → expected bucket size |corpus|/2^nbits; the join is a
    shuffle on the bucket id (or broadcast when the query side is small,
    as here).  Recall improves with multi-probe (flip one bit) — same
    plumbing, more bucket keys per query — kept out of the baseline.
    """
    with_bucket = fan_out(embeddings).select(
        "vec_id",
        "embedding",
        _sign_bucket(F.col("embedding"), nbits).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = with_bucket.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("nrm").alias("q_norm"),
    )
    scored = (
        with_bucket.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            _cos_precomputed(
                F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("nrm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def adaptive_ncells_search(n: int, floor: int = 8) -> int:
    """IVF cell count for SEARCH (the FAISS ``ncells ∝ √n`` guideline, as
    :func:`adaptive_ncells` is for dedup): with cells growing as √n, the
    per-query scan cost (one cell ≈ n/ncells vectors) grows as √n instead
    of linearly — fixed ncells=8 means a 10⁹-vector corpus pays a
    125M-vector scan per query.  ``max(floor, isqrt(n) // 5)`` resolves to
    the historical 8 at every shipped sf (n=500 → 4→8; n=2000 → 44//5=8),
    so driver gate hashes are unchanged; the 10× probe corpus (n=20000)
    gets 28 cells; 10⁹ vectors get ~6.3k.  Mirrored EXACTLY by the oracle
    scalar subquery ``_NCELLS_SEARCH_SQL`` (``floor(sqrt(n)) // 5``), so
    the identity holds at ANY corpus size, not just the shipped ones."""
    from math import isqrt

    return max(floor, isqrt(n) // 5)


def _resolve_ncells_search(embeddings: DataFrame, ncells: int | None) -> int:
    """``ncells=None`` → adaptive from the corpus count (one cheap
    metadata-weight job) — the production form of the IVF rungs."""
    return adaptive_ncells_search(embeddings.count()) if ncells is None else ncells


def ivf_assign(embeddings: DataFrame, ncells: int | None = 8) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid.

    Centroids are the vectors with ``vec_id < ncells`` — a training-free,
    deterministic quantizer so tests and the DuckDB oracle can replay it
    bit-for-bit.  A production build swaps in k-means centroids (e.g.
    ``pyspark.ml.clustering.KMeans`` fit on a sample); the assignment and
    search plumbing below is unchanged — that is the point of the seam.

    Shape: centroids are dimension-sized → ``broadcast`` cross join, then
    argmax-cosine per vector via ``min_by`` over (-cos, centroid_id).  The
    scoring pass is corpus-partition-parallel; the fold back to one row per
    vector is a single shuffle keyed on vec_id (map-side combine reduces it
    to one candidate row per partition per vector).
    Output: (vec_id, embedding, nrm, cell).
    """
    ncells = _resolve_ncells_search(embeddings, ncells)
    return _score_against_seeds(
        fan_out(embeddings).select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        ),
        _seed_centroids(embeddings, ncells),
    )


def _seed_centroids(embeddings: DataFrame, ncells: int) -> DataFrame:
    """Seed quantizer: the first ``ncells`` vectors as coarse centroids
    (deterministic; the k-means variants refine from here)."""
    return embeddings.filter(F.col("vec_id") < ncells).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )


def _score_against_seeds(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Broadcast-score ``vecs`` against the centroid table and fold to the
    argmax cell per vector — the one assignment kernel, shared by the
    corpus side and the k-row query side so the tie-break contract cannot
    drift.  Aggregate-then-join-back shape (not first(embedding) beside
    the min: an array-typed aggregation buffer drops the whole argmax to
    SortAggregate, a full sort of the corpus × ncells scored stream —
    the r11 rung measured that sort spilling >74 GB at 120k × 40k; see
    ``_assign_cells``), with the (score, id) pair PACKED into one BIGINT
    (``_pack_argmin``) so the buffer is a flat primitive and the argmax
    stays a codegen HashAggregate — a struct buffer is not
    UnsafeRow-mutable and demotes to SortAggregate too (round 12)."""
    scored = vecs.join(F.broadcast(cent)).select(
        "vec_id",
        _pack_argmin(
            -_cos_precomputed(
                F.col("embedding"),
                F.col("c_emb"),
                F.col("nrm"),
                F.col("c_norm"),
            ),
            F.col("cent_id"),
        ).alias("_scored"),
    )
    best = scored.groupBy("vec_id").agg(
        _unpack_argmin_id(F.min("_scored")).alias("cell")
    )
    return vecs.join(best, "vec_id").select(
        "vec_id", "embedding", "nrm", "cell"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    ncells: int | None = 8,
) -> DataFrame:
    """IVF top-k (nprobe=1): each query searches only its own coarse cell.

    The scale path of the ANN ladder: expected cell size |corpus|/ncells, so
    pairwise work drops by ncells× vs brute force.  Recall grows with
    nprobe (probe the next-nearest cells too — same join, more cell keys per
    query); exactness is ``brute_force_topk``.  The candidate join shuffles
    on the cell id; centroid skew (one fat cell) is exactly what k-means
    balancing fixes in production, and AQE skew-split absorbs meanwhile.
    ``ncells=None`` → :func:`adaptive_ncells_search` (√n cells — per-query
    scan cost grows as √n, the production sizing).
    """
    ncells = _resolve_ncells_search(embeddings, ncells)
    assigned = ivf_assign(embeddings, ncells)
    # assign the k query vectors from a PRUNED scan (vec_id pushdown), not
    # by filtering `assigned`: a second reference to the corpus-wide
    # aggregate re-runs the full scoring pass (AQE reuses exchanges, not
    # aggregate subtrees) — the same fix ivf_kmeans_topk documents
    q = _score_against_seeds(
        embeddings.filter(F.col("vec_id").isin(query_ids)).select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        ),
        _seed_centroids(embeddings, ncells),
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        F.col("cell").alias("q_cell"),
    )
    scored = assigned.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        _cos_precomputed(
            F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("nrm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def ivf_multiprobe_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    ncells: int | None = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k with multi-probe: each query searches its ``nprobe``
    nearest coarse cells instead of one — the standard recall dial
    (recall→1 as nprobe→ncells, cost grows ~linearly in nprobe).

    Same skeleton as :func:`ivf_topk`; the only change is the query side:
    rank ALL centroids per query by cosine and keep the top ``nprobe``
    (probe list), then the cell-equality join naturally fans each query out
    to its probed cells.  A corpus vector lives in exactly one cell, so a
    candidate can never be scored twice — no dedup step needed.  The probe
    list is queries × nprobe rows (tiny, broadcast); the corpus still never
    shuffles for candidate generation.  ``ncells=None`` →
    :func:`adaptive_ncells_search`.
    """
    ncells = _resolve_ncells_search(embeddings, ncells)
    assigned = ivf_assign(embeddings, ncells)
    cent = _seed_centroids(embeddings, ncells)
    q_vecs = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("cent_id").asc()
    )
    probes = (
        q_vecs.join(F.broadcast(cent))
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            "cent_id",
            _cos_precomputed(
                F.col("q_emb"), F.col("c_emb"), F.col("q_norm"), F.col("c_norm")
            ).alias("c_cos"),
        )
        .withColumn("probe_rank", F.row_number().over(w_probe))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_emb", "q_norm", F.col("cent_id").alias("q_cell"))
    )
    scored = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        _cos_precomputed(
            F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("nrm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.8, nbits: int = 4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    Bucketed self-join (same sign-LSH bucket) keeps the pair space
    sub-quadratic; within-bucket pairs are scored exactly.  Note the recall
    caveat of single-table LSH: true near-dups straddling a hyperplane are
    missed — production runs multiple hash tables (union of buckets), which
    is this same query repeated with different bit sets.
    """
    wb = fan_out(embeddings).select(
        "vec_id",
        "embedding",
        _sign_bucket(F.col("embedding"), nbits).alias("bucket"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    a, b = wb.alias("a"), wb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cos_precomputed(
                F.col("a.embedding"),
                F.col("b.embedding"),
                F.col("a.nrm"),
                F.col("b.nrm"),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --- IVF with Lloyd-refined (spherical k-means) centroids -------------------

#: Cell count past which the one-hop centroid BROADCAST in
#: :func:`_assign_cells` stops holding (SCALE.md "Known seams": at 10⁹
#: vectors ``adaptive_ncells`` yields ~4M cells × 64 doubles ≈ 2 GB —
#: far past broadcast range).  Above it the assignment routes through
#: the TWO-LEVEL quantizer.  Every shipped sf resolves to ≤ a few dozen
#: cells, so the flat path always runs at the driver gate and hashes are
#: unchanged.
TWO_LEVEL_CELL_THRESHOLD = 100_000


def _assign_cells(
    vecs: DataFrame,
    cent: DataFrame,
    ncells: int | None = None,
    two_level: bool | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the dimension-sized centroid
    table, score cosine per (vector, centroid), fold to argmax per vector
    (``min_by`` over (−cos, cell) — map-side combinable, ties to the lowest
    cell id, matching the oracle's ``ORDER BY cos DESC, cell ASC``).

    ``ncells`` (when the caller knows it) arms the scale switch: above
    :data:`TWO_LEVEL_CELL_THRESHOLD` cells the centroid table itself is
    past broadcast range and assignment routes through
    :func:`_assign_cells_two_level` instead.  ``two_level`` forces the
    path explicitly (tests pin the two paths against each other) and
    then REQUIRES ``ncells``: this function is otherwise pure lazy plan
    building, and sizing the super level by counting ``cent`` would run
    a hidden Spark job.  ``nprobe`` overrides the two-level probe count
    (default: the measured :func:`two_level_nprobe` rule) — the forced-
    routing recall rung uses it to compare the rule against the retired
    constant on the SAME corpus; ignored on the flat path."""
    if two_level is None:
        two_level = ncells is not None and ncells > TWO_LEVEL_CELL_THRESHOLD
    if two_level:
        if ncells is None:
            raise ValueError(
                "two_level=True requires ncells: plan building is lazy, "
                "so the super-level size cannot come from cent.count()"
            )
        return _assign_cells_two_level(
            vecs,
            cent,
            max(2, math.isqrt(max(0, ncells - 1)) + 1),
            nprobe=nprobe,
        )
    c = cent.select(
        F.col("cell").alias("_cell"),
        F.col("c_emb"),
        _norm(F.col("c_emb")).alias("c_norm"),
    )
    # The argmax aggregates ONLY (vec_id → cell), as ONE packed BIGINT
    # per scored row (_pack_argmin) whose plain min IS the argmax — a
    # flat primitive buffer that stays on whole-stage-codegen
    # HashAggregate — and the embedding/nrm columns are joined back per
    # vector afterwards.  Two demotion traps live here, both measured:
    # carrying the wide columns THROUGH the aggregate (the r10 design:
    # first(embedding) beside the min_by) put an array-typed buffer in
    # the plan → the whole argmax fell to SortAggregate, a full sort of
    # the corpus × ncells scored stream WITH ~0.5 KB payloads per row
    # (invisible at gate ncells=8; spilled >74 GB and killed the r11
    # 120k × 40k rung; ~2 EB of sort at 10⁹ × 4M).  And the r11 fix's
    # min(struct(neg, cell)) buffer is not UnsafeRow-mutable either —
    # still SortAggregate, just over 24 B rows (round-12 probe); the
    # packed BIGINT removes that residual per-partition sort too.  The
    # join-back costs one corpus-sized vec_id equi-join instead.
    scored = vecs.join(F.broadcast(c)).select(
        "vec_id",
        _pack_argmin(
            -_cos_precomputed(
                F.col("embedding"),
                F.col("c_emb"),
                F.col("nrm"),
                F.col("c_norm"),
            ),
            F.col("_cell"),
        ).alias("_scored"),
    )
    best = scored.groupBy("vec_id").agg(
        _unpack_argmin_id(F.min("_scored")).alias("cell")
    )
    return vecs.join(best, "vec_id").select(
        "vec_id", "embedding", "nrm", "cell"
    )


#: FLOOR on how many super-cells each VECTOR probes in the two-level
#: quantizer.  1 would make routing a single noise-driven argmax on
#: corpora whose cluster centers are mutually near-orthogonal (high-dim
#: embedding spaces often are): measured on a 6.4k-vector/800-cluster
#: corpus, nprobe=1 kept only 49% of near-dup pairs co-located vs the
#: flat assignment's 100%.  Probing the top-P supers and taking the
#: argmax over the UNION of their children restores co-location steeply.
#: A CONSTANT P does not survive nsuper growth, though: the r10
#: production-shaped sweep (tools/two_level_coloc_sweep.py, worst-case
#: random-orthogonal centers at d=64) measured nprobe=8 co-location
#: falling 0.97 → 0.82 → 0.74 → 0.62 as nsuper grew 29 → 200 → 633 →
#: 2000, while ~0.99 consistently required nprobe ≈ nsuper^(2/3)
#: (32 @ 200, 64 @ 633, 128 @ 2000) — hence :func:`two_level_nprobe`.
TWO_LEVEL_NPROBE = 8


def two_level_nprobe(nsuper: int) -> int:
    """Default probe count for :func:`_assign_cells_two_level` — scales
    with the super-cell count the way FAISS scales nprobe with nlist,
    calibrated on the measured worst-case geometry (SCALE.md round-10
    sweep): ``max(8, ⌈nsuper^(2/3)⌉)`` holds near-dup pair co-location
    ≥ 0.99 at every measured nsuper decade (29 / 200 / 633 / 2000 —
    random near-orthogonal centers, the pessimal corpus; realistic
    super-cluster-structured corpora sit at ≥ 0.999 under the same
    rule).  Per-vector cost is (1 + nprobe)·√ncells ≈ ncells^(5/6)
    scores — still ~12× under flat at the 4M-cell engagement point, on
    top of removing the impossible 2 GB centroid broadcast; callers
    wanting the old constant-cost behavior pass ``nprobe`` explicitly."""
    return max(TWO_LEVEL_NPROBE, math.ceil(nsuper ** (2.0 / 3.0)))

#: Salt factor for the children COGROUP in the two-level quantizer:
#: bounds per-group volume at corpus·nprobe/(nsuper·salt) rows by
#: replicating each super's ~1 MB children block across salt buckets
#: (the classic skew-salt: explicit, not AQE-dependent).
TWO_LEVEL_JOIN_SALT = 16


def _assign_cells_two_level(
    vecs: DataFrame, cent: DataFrame, nsuper: int, nprobe: int | None = None
) -> DataFrame:
    """TWO-LEVEL nearest-centroid assignment — the production path past
    the ~10⁵-cell broadcast ceiling (SCALE.md "Known seams"; the design
    FAISS uses for its IVF coarse quantizer hierarchy):

    1. pick ``nsuper`` ≈ √ncells SUPER-centroids (the lowest cell ids —
       the same training-free seeding device as :func:`kmeans_centroids`;
       nsuper rows, always broadcastable),
    2. route every CENTROID to its nearest super-centroid (broadcast
       argmax over ncells × nsuper scores) → a shuffled ``children``
       table keyed by super-cell, ~√ncells children per key — never
       broadcast,
    3. route every VECTOR to its TOP-``nprobe`` super-centroids
       (broadcast, corpus never shuffles for routing) — multi-probe, the
       FAISS convention, because a single probe is noise-driven when
       cluster centers are mutually near-orthogonal (see
       :data:`TWO_LEVEL_NPROBE`); only supers that own ≥1 child are
       ranked, so the step-4 join-back is TOTAL — every input vector
       gets a cell for any nprobe ≥ 1 (a childless super is possible
       when 6dp rounding ties near-duplicate centroids at step 2, and
       probing it would otherwise silently drop the vector),
    4. argmax among the UNION of the probed super-cells' children via a
       salted COGROUP on (super-cell id, salt) whose inner loop is one
       m×k Arrow-batch BLAS product per group — per-vector work is
       ~(1+nprobe)·√ncells scores instead of ncells, the salt
       (:data:`TWO_LEVEL_JOIN_SALT`) bounds per-group volume explicitly
       instead of leaning on AQE skew-split, and only the per-probe
       best rows (~24 B each) leave the stage.

    Same rounding (6dp cosine) and tie rule (lowest id) as the flat path
    at every level.  Like any hierarchical quantizer this is EXACT
    whenever the globally-nearest centroid is a child of the vector's
    routed super-cell (tests pin flat ≡ two-level on a margin-structured
    corpus); on adversarial boundary vectors it can differ — the same
    approximation class as SemDeDup's own cell boundaries, measured by
    ``semdedup_recall_report``.  Output schema matches
    :func:`_assign_cells` exactly."""
    sup = (
        cent.orderBy("cell")
        .limit(nsuper)
        .select(
            F.col("cell").alias("_sup"),
            F.col("c_emb").alias("s_emb"),
            _norm(F.col("c_emb")).alias("s_norm"),
        )
        .localCheckpoint(eager=False)
    )
    # fan_out before the ncells × nsuper scoring pass: a narrow centroid
    # source (single-row-group parquet, collapsed agg output) would
    # otherwise score EVERY child in one task — ncells·nsuper ≈
    # ncells^1.5 dots is the biggest fixed cost of this path (8×10⁹ at
    # the 4M-cell engagement point) and must parallelize; guarded no-op
    # when cent is already wide.
    c = fan_out(cent).select(
        F.col("cell").alias("_cell"),
        "c_emb",
        _norm(F.col("c_emb")).alias("c_norm"),
    )
    # aggregate-then-join-back, same reason as _assign_cells: carrying
    # first(c_emb) through this argmax would SortAggregate the
    # ncells × nsuper ≈ ncells^1.5 scored stream (8×10⁹ wide rows at the
    # engagement point); the packed-BIGINT buffer (_pack_argmin) keeps
    # the argmax on HashAggregate (a struct buffer would demote it too)
    # and each centroid's embedding travels once through the join-back
    best_sup = (
        c.join(F.broadcast(sup))
        .select(
            "_cell",
            _pack_argmin(
                -_cos_precomputed(
                    F.col("c_emb"),
                    F.col("s_emb"),
                    F.col("c_norm"),
                    F.col("s_norm"),
                ),
                F.col("_sup"),
            ).alias("_scored"),
        )
        .groupBy("_cell")
        .agg(_unpack_argmin_id(F.min("_scored")).alias("_sup"))
    )
    children = c.join(best_sup, "_cell")
    nprobe = two_level_nprobe(nsuper) if nprobe is None else nprobe
    # Vectors rank ONLY supers that own at least one child.  A super can
    # end up childless when 6dp rounding ties a near-duplicate centroid
    # pair at the children argmax (ties go to the lowest super id, so the
    # higher-id twin keeps nothing — not even itself); a vector whose
    # probed supers were ALL childless would then vanish through the
    # inner join-back below, violating the quantizer's contract that
    # every vector gets a cell (the flat path always assigns).  Filtering
    # the probe list to live supers makes every probe productive and the
    # join-back total for any nprobe ≥ 1.  Cost: one ≤nsuper-row distinct
    # over the already-computed best_sup, joined to the nsuper-row sup
    # table — noise at any scale.
    sup_live = sup.join(
        best_sup.select("_sup").distinct(), "_sup"
    )
    # Row-LOCAL top-nprobe routing: the super table collapses to a single
    # array-of-structs row (nsuper ≈ √ncells entries — broadcastable by
    # construction, that is this function's premise), cross-joined
    # broadcast so every vector scores and ranks its supers INSIDE the
    # row with transform → sort_array → slice.  No groupBy: a
    # collect_list-based ranking would buffer O(nsuper) structs per
    # vector through an aggregation exactly at the scale this path
    # exists for.  Order key is the module-wide (−cos, id) ascending.
    sup_arr = sup_live.agg(
        F.collect_list(F.struct("_sup", "s_emb", "s_norm")).alias("_sups")
    )
    routed = (
        vecs.join(F.broadcast(sup_arr))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            F.slice(
                F.sort_array(
                    F.transform(
                        "_sups",
                        lambda sc: F.struct(
                            (
                                -_cos_precomputed(
                                    F.col("embedding"),
                                    sc["s_emb"],
                                    F.col("nrm"),
                                    sc["s_norm"],
                                )
                            ).alias("neg"),
                            sc["_sup"].alias("_sup"),
                        ),
                    )
                ),
                1,
                nprobe,
            ).alias("_probes"),
        )
        .select(
            "vec_id",
            "embedding",
            "nrm",
            F.explode(F.transform("_probes", lambda p: p["_sup"])).alias(
                "_sup"
            ),
        )
    )
    # SALTED children COGROUP, Arrow-batch BLAS inner loop.  Two stacked
    # bounds:
    #
    # 1. Per-reduce-key volume (the salt): the cogroup key `_sup` has
    #    only nsuper ≈ √ncells distinct values, so unsalted grouping
    #    funnels corpus·nprobe/nsuper routed rows into single groups —
    #    at the 4M-cell engagement point (10⁹ vectors, nsuper=2000) the
    #    rule-scaled default nprobe = two_level_nprobe(2000) = 159 makes
    #    that ≈80M rows ≈ 40 GB per group, far past any single task.
    #    The /16 salt cuts it to ≈5M rows ≈ 2.5 GB — one task's comfort
    #    zone, bounded explicitly rather than via AQE skew-split.  (Raise
    #    TWO_LEVEL_JOIN_SALT alongside nprobe if the rule ever grows past
    #    ~2.5 GB/key; salt cost is children-side only: each super's
    #    ~√ncells-row ≈ 1 MB block replicates ×salt.)
    #
    # 2. Per-scored-pair byte volume (the cogroup): an equi-JOIN on
    #    (_sup, _salt) emits corpus·nprobe·√ncells rows, each copying a
    #    ~0.5 KB embedding or children payload — ~160 MB of row traffic
    #    PER VECTOR at the engagement point, and the measured wall at the
    #    r11 rung geometry (8k vectors × 40k cells) was 60 s with the
    #    join stage pinned on array copies, not FLOPs.  Cogrouping the
    #    SAME salted keys instead hands each (super, salt) group's routed
    #    block (m×d) and children block (k×d) to one Arrow batch and
    #    scores them as a single m×k BLAS product — identical shuffle
    #    volume and per-task bound, but ~8 output bytes per scored pair
    #    instead of a ~1 KB row copy, and the per-probe argmin happens
    #    in-batch so only corpus·nprobe best-rows leave the stage.  Same
    #    device as the ANN ladder's per-Arrow-batch BLAS (brute_force /
    #    IVF above).  Measured at the rung geometry: 60.6 s → ~3 s for
    #    the same assignment, bit-identical output.
    #
    #    Numerics mirror the SQL flat path: cosine in float64, rounded
    #    HALF_UP to 6dp (Spark's ROUND semantics — NOT numpy's
    #    half-even np.round), ties to the lowest cell id (children
    #    columns sorted by cell id; first argmin occurrence wins).
    #    Two last-ulp caveats keep this "mirror", not "bit-exact for
    #    every adversarial input": Spark ROUND goes through
    #    BigDecimal.valueOf (shortest-decimal repr — a double that
    #    PRINTS as an exact 6dp half rounds up even when its binary
    #    value sits a hair below, while abs*1e6+0.5 sees the binary
    #    value), and the BLAS dot accumulates in a different order
    #    than the sequential _dot, so a cosine within one ulp of a
    #    6dp boundary can flip.  The mirror-equivalence tests pin
    #    typical corpora; unit-normed real embeddings don't land on
    #    exact 6dp halves.
    #    Non-finite cosines (zero-norm vectors, NULL under the SQL
    #    try_divide) rank worst rather than replicating SQL's
    #    nulls-first struct order — embeddings are unit-normed upstream,
    #    so the case is a corpus-contract violation, and ranking it
    #    worst is the defensible reading.
    children_salted = children.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(TWO_LEVEL_JOIN_SALT - 1))),
    )
    routed_salted = routed.withColumn(
        "_salt",
        F.pmod(F.hash("vec_id"), F.lit(TWO_LEVEL_JOIN_SALT)).cast("int"),
    )

    def _score_group(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            # inner-join semantics: a probed super with no children (or a
            # children block no vector probed at this salt) contributes
            # nothing
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "neg": pd.Series([], dtype="float64"),
                    "_cell": pd.Series([], dtype="int64"),
                }
            )
        order = np.argsort(right["_cell"].to_numpy(), kind="stable")
        cells = right["_cell"].to_numpy()[order]
        C = np.asarray([np.asarray(e) for e in right["c_emb"]], dtype=np.float64)[order]
        cn = right["c_norm"].to_numpy(dtype=np.float64)[order]
        V = np.asarray([np.asarray(e) for e in left["embedding"]], dtype=np.float64)
        vn = left["nrm"].to_numpy(dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (V @ C.T) / np.outer(vn, cn)
        # Spark ROUND = HALF_UP (away from zero), 6dp
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
        neg = -cos
        neg[~np.isfinite(neg)] = np.inf
        j = np.argmin(neg, axis=1)  # first hit = lowest cell id
        return pd.DataFrame(
            {
                "vec_id": left["vec_id"].to_numpy(),
                "neg": neg[np.arange(len(j)), j],
                "_cell": cells[j],
            }
        )

    per_probe = (
        routed_salted.groupBy("_sup", "_salt")
        .cogroup(children_salted.groupBy("_sup", "_salt"))
        .applyInPandas(
            _score_group, schema="vec_id long, neg double, _cell long"
        )
    )
    # Same aggregate-then-join-back shape as the flat path (and for the
    # same reason: an array-typed first(embedding) buffer would drop the
    # cross-probe argmin to SortAggregate over corpus·nprobe wide rows);
    # the cogroup output is 24 B/row, the final agg packs (neg, cell)
    # into one BIGINT so it runs as a flat-primitive HashAggregate (the
    # numpy side emits the same HALF_UP 6dp grid _pack_argmin expects),
    # and the per-vector embedding travels exactly once through the
    # join-back.
    best = per_probe.groupBy("vec_id").agg(
        _unpack_argmin_id(
            F.min(_pack_argmin(F.col("neg"), F.col("_cell")))
        ).alias("cell")
    )
    return vecs.join(best, "vec_id").select(
        "vec_id", "embedding", "nrm", "cell"
    )


def kmeans_centroids(
    embeddings: DataFrame, ncells: int = 8, iters: int = 2
) -> DataFrame:
    """Deterministic spherical k-means: seed with the ``vec_id < ncells``
    vectors (the training-free quantizer of :func:`ivf_assign`), then run a
    fixed number of Lloyd rounds — assign by max cosine, recompute each
    centroid as the element-wise member mean.

    Engine-reproducibility: cosines round to 6dp before the argmax (ties →
    lowest cell) and centroid components round to 9dp after each mean, so
    double summation-order noise (≈1e-15) can never flip an assignment
    between Spark and the replaying oracle.  Fixed ``iters`` (no
    convergence test) keeps the computation a pure function of the input.

    Scale shape: per round, one broadcast-join scoring pass over the corpus
    (corpus never shuffles for assignment) + one (cell, dim)-keyed mean —
    both map-side combinable; centroid state is ncells × dim rows.  A cell
    that loses all members drops out, exactly as in the oracle replay.
    """
    vecs = fan_out(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cent = embeddings.filter(F.col("vec_id") < ncells).select(
        F.col("vec_id").alias("cell"),
        F.transform("embedding", lambda v: v.cast("double")).alias("c_emb"),
    )
    for _ in range(iters):
        assigned = _assign_cells(vecs, cent, ncells=ncells)
        means = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("d", "x")
            )
            .groupBy("cell", "d")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("double")) / F.count(F.lit(1)), 9
                ).alias("m")
            )
        )
        cent = means.groupBy("cell").agg(
            F.sort_array(F.collect_list(F.struct("d", "m"))).alias("_dm")
        ).select(
            "cell", F.transform("_dm", lambda s: s["m"]).alias("c_emb")
        )
        # Truncate lineage each Lloyd round: cent is ncells×dim — tiny —
        # but its PLAN nests every prior round's corpus-scoring pass, so a
        # downstream consumer that references cent twice (assignment +
        # search) would recompute the whole iteration history per
        # reference.  localCheckpoint materializes the ncells rows and
        # makes each corpus pass happen exactly once per round — the same
        # treatment dup_groups gives its label table.
        cent = cent.localCheckpoint()
    return cent


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    ncells: int | None = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF top-k (nprobe=1) over Lloyd-refined centroids — the production
    form of :func:`ivf_topk`'s documented k-means seam.  Same search
    skeleton (cell-restricted candidates, broadcast queries); only the
    quantizer improves, which is the point of the seam.  ``ncells=None`` →
    :func:`adaptive_ncells_search`."""
    ncells = _resolve_ncells_search(embeddings, ncells)
    cent = kmeans_centroids(embeddings, ncells, iters)
    vecs = fan_out(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    assigned = _assign_cells(vecs, cent, ncells=ncells)
    # Assign the k query vectors from a pruned scan (vec_id pushdown)
    # instead of filtering the corpus-wide assignment: referencing
    # `assigned` twice would run the full scoring pass twice (AQE reuses
    # exchanges, not aggregate subtrees), and the query set is k rows.
    q_vecs = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q = _assign_cells(q_vecs, cent, ncells=ncells).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        F.col("cell").alias("q_cell"),
    )
    scored = assigned.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        _cos_precomputed(
            F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("nrm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


# --- product quantization (PQ / ADC) ----------------------------------------

def _pq_explode(embeddings: DataFrame, sub_dim: int) -> DataFrame:
    """Long form (vec_id, s, d, x): 0-based dimension index d, subspace
    s = d div sub_dim, component x cast to double."""
    return (
        fan_out(embeddings)
        .select("vec_id", F.posexplode("embedding").alias("d", "xf"))
        .select(
            "vec_id",
            "d",
            F.floor(F.col("d") / sub_dim).cast("int").alias("s"),
            F.col("xf").cast("double").alias("x"),
        )
    )


#: Loud ceiling for the PQ argmin's fixed-point packing: 6dp-scaled
#: distances must be EXACT integers in a double (≤ 2⁵³) and leave 9 bits
#: of code headroom inside a signed 64-bit key (2⁵³·2⁹ < 2⁶³).  The cap
#: is 2⁵³/10⁶ ≈ 9.0e9 — admitting up to 1e10 would let scaled keys reach
#: 1e16, past double's exact-integer range, where adjacent 6dp distances
#: can collide.  Squared sub-vector L2 above 9e9 means components ~10⁴ —
#: far past any normalized-embedding reality — and the guard RAISES
#: rather than silently wrapping the ranking.
_PQ_DIST_CAP = float(1 << 53) / 1e6


def _pq_assign(e: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace) by squared L2,
    rounded to 6dp before the argmin (ties → lowest code) so summation-
    order noise can never flip an assignment between engines.  The
    argmin runs on a packed BIGINT (scaled dist · 2⁹ + code) — a
    ``min_by`` with a struct ordering key demotes this corpus × n_sub ×
    kpq aggregate to SortAggregate (round 12); distances past
    :data:`_PQ_DIST_CAP` raise instead of overflowing the key."""
    dists = (
        e.join(F.broadcast(codebooks), ["s", "d"])
        .groupBy("vec_id", "s", "code")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))),
                6,
            ).alias("dist")
        )
    )
    # a NULL dist (null embedding component) must get its OWN error: in a
    # bare when/otherwise the NULL comparison falls through to otherwise
    # and masquerades as a domain overflow
    packed = (
        F.when(
            F.col("dist").isNull(),
            F.raise_error(
                F.lit("PQ distance is NULL — null embedding component")
            ),
        )
        .when(
            F.col("dist") <= F.lit(_PQ_DIST_CAP),
            F.round(F.col("dist") * F.lit(1_000_000.0), 0).cast("bigint")
            * F.lit(1 << 9)
            + F.col("code"),
        )
        .otherwise(
            F.raise_error(
                F.lit("PQ distance exceeds the fixed-point packing domain")
            )
        )
    )
    return dists.groupBy("vec_id", "s").agg(
        F.pmod(F.min(packed), F.lit(1 << 9)).cast("int").alias("code")
    )


def pq_codebooks(
    embeddings: DataFrame,
    n_sub: int = 4,
    kpq: int = 4,
    iters: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Deterministic product-quantization codebooks: split the vector into
    ``n_sub`` contiguous subspaces and run k-means (squared-L2, seeded
    with the ``vec_id < kpq`` sub-vectors, fixed Lloyd rounds) in EACH —
    the codebook is (s, code, d, cx) in long form.

    Same engine-reproducibility contract as :func:`kmeans_centroids`:
    distances round to 6dp before argmin, centroid components to 9dp
    after each mean, fixed iteration count.  All subspaces train in the
    SAME aggregate passes (s is just a group key), so cost does not grow
    with n_sub.
    """
    if kpq > (1 << 9):
        raise ValueError(
            f"kpq={kpq} exceeds the argmin packing's 9-bit code limb"
        )
    sub_dim = dim // n_sub
    e = _pq_explode(embeddings, sub_dim)
    c = e.filter(F.col("vec_id") < kpq).select(
        "s", F.col("vec_id").cast("int").alias("code"), "d", F.col("x").alias("cx")
    )
    for _ in range(iters):
        assigned = _pq_assign(e, c)
        c = (
            e.join(assigned, ["vec_id", "s"])
            .groupBy("s", "code", "d")
            .agg(F.round(F.sum("x") / F.count(F.lit(1)), 9).alias("cx"))
        )
        # tiny (n_sub × kpq × sub_dim rows) but its plan nests the corpus
        # scoring pass — truncate so downstream double references don't
        # re-run the iteration history (same treatment as kmeans_centroids)
        c = c.localCheckpoint()
    return c


def _pq_lut(
    embeddings: DataFrame,
    query_ids: list[int],
    codebooks: DataFrame,
    sub_dim: int,
) -> DataFrame:
    """Per-query ADC lookup table: exact squared query↔centroid distance
    per (subspace, code), 6dp-rounded then DECIMAL(18,6) so the subspace
    SUM is order-independent across engines.  One builder shared by the
    pure-PQ and IVFPQ rungs — the determinism contract lives here once."""
    qe = _pq_explode(
        embeddings.filter(F.col("vec_id").isin(query_ids)), sub_dim
    )
    return (
        qe.join(F.broadcast(codebooks), ["s", "d"])
        .groupBy(F.col("vec_id").alias("query_id"), F.col("s"), F.col("code"))
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))),
                6,
            )
            .cast("decimal(18,6)")
            .alias("dist")
        )
    )


def ann_pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_sub: int = 4,
    kpq: int = 4,
    iters: int = 1,
    dim: int = 64,
) -> DataFrame:
    """PQ search with asymmetric distance computation (ADC, Jégou et al.
    TPAMI'11): corpus vectors are stored as ``n_sub`` one-byte codes; a
    query builds one lookup table of exact query↔centroid distances per
    subspace, and every candidate's approximate distance is just the sum
    of ``n_sub`` table lookups — scoring cost independent of the vector
    dimension, memory per vector = codes not floats.  This is the
    compressed-corpus rung of the ANN ladder (brute force → LSH/IVF cell
    restriction → PQ codes), the one that matters when the vectors
    themselves no longer fit.

    Determinism: lookup entries are 6dp-rounded doubles cast to
    DECIMAL(18,6) and SUMMED AS DECIMAL (order-independent — a float sum
    over subspaces could differ in the last ulp between engines), then
    cast back to double.  Ranking ascending by (adc_dist, cand_id).

    Plan: codebooks and lookup tables broadcast (n_sub × kpq × nq rows);
    the corpus-side join touches only the CODES table — one shuffle for
    the (query, cand) aggregate, nothing dimension-sized ever moves.
    """
    sub_dim = dim // n_sub
    e = _pq_explode(embeddings, sub_dim)
    c = pq_codebooks(embeddings, n_sub, kpq, iters, dim)
    codes = _pq_assign(e, c)
    # query lookup tables from a pruned scan (vec_id pushdown)
    lut = _pq_lut(embeddings, query_ids, c, sub_dim)
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("dist").cast("double").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adc_dist", "rank")
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    ncells: int | None = 8,
    iters_ivf: int = 2,
    n_sub: int = 4,
    kpq: int = 4,
    iters_pq: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Composed IVF-PQ (the FAISS IVFPQ architecture): the Lloyd-refined
    IVF quantizer restricts candidates to the query's cell, and PQ/ADC
    scores the survivors from their codes — the two independently
    oracle-verified rungs (:func:`ivf_kmeans_topk`,
    :func:`ann_pq_adc_topk`) chained the way production indexes deploy
    them.  Candidate count shrinks by ~ncells BEFORE any scoring, and the
    scoring that remains never touches a vector.

    Ranking ascending by (adc_dist, cand_id) within the query's cell;
    determinism inherits from both components (round-then-argmin cell
    assignment, DECIMAL-summed lookups).  ``ncells=None`` →
    :func:`adaptive_ncells_search`.
    """
    ncells = _resolve_ncells_search(embeddings, ncells)
    sub_dim = dim // n_sub
    # --- IVF side: cell per vector, query cells from a pruned scan
    cent = kmeans_centroids(embeddings, ncells, iters_ivf)
    vecs = fan_out(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cells = _assign_cells(vecs, cent, ncells=ncells).select("vec_id", "cell")
    q_vecs = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    q_cells = _assign_cells(q_vecs, cent, ncells=ncells).select(
        F.col("vec_id").alias("query_id"), F.col("cell").alias("q_cell")
    )
    # --- PQ side: codes + per-query lookup tables
    e = _pq_explode(embeddings, sub_dim)
    cb = pq_codebooks(embeddings, n_sub, kpq, iters_pq, dim)
    codes = _pq_assign(e, cb)
    lut = _pq_lut(embeddings, query_ids, cb, sub_dim)
    # --- compose: same-cell candidates, ADC-scored from codes only
    cand = cells.join(
        F.broadcast(q_cells),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id")
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("dist").cast("double").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adc_dist", "rank")
    )


# --- recall instrumentation --------------------------------------------------

def recall_report(truth: DataFrame, approx: dict[str, DataFrame]) -> DataFrame:
    """recall@k of each approximate top-k result against the exact one: the
    dial every ANN deployment tunes (probe more cells / longer codes →
    higher recall, more compute).  Turns the ladder's prose claims into a
    measured number.

    ``truth`` and each ``approx`` value carry (query_id, cand_id) rows —
    any of this module's top-k outputs fit.  recall@k = |approx ∩ truth| /
    |truth|, pooled over all queries (micro-average).

    Plan shape: every input is O(|Q|·k) rows — the scoring work happened
    upstream — so this is a label-union + one broadcast-joined equi-join +
    one tiny aggregate; the 1-row total joins via broadcast cross.  Methods
    with zero hits still report (left join from the method list), so a
    collapsed index reads recall 0.0 instead of vanishing from the report.
    """
    if not approx:
        raise ValueError(
            "recall_report: empty approx dict — nothing to measure "
            "(a None.join crash would otherwise surface far from the cause)"
        )
    spark = truth.sparkSession
    t = truth.select("query_id", "cand_id")
    labeled = None
    for name in sorted(approx):
        lab = approx[name].select(
            F.lit(name).alias("method"), "query_id", "cand_id"
        )
        labeled = lab if labeled is None else labeled.unionAll(lab)
    # literal_df, not createDataFrame: the parallelize path costs ~45
    # executor-seconds of Python-worker tasks per evaluation (guide §4 —
    # eliminate the Python boundary; measured r16)
    methods = literal_df(
        spark, [(m,) for m in sorted(approx)], "method string"
    )
    hits = (
        labeled.join(F.broadcast(t), ["query_id", "cand_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    total = t.agg(F.count(F.lit(1)).alias("total"))
    return (
        methods.join(F.broadcast(hits), "method", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "method",
            F.coalesce("h", F.lit(0)).cast("long").alias("hits"),
            F.col("total").cast("long").alias("total"),
            F.round(
                F.coalesce("h", F.lit(0)).cast("double") / F.col("total"), 4
            ).alias("recall_at_k"),
        )
        .orderBy("method")
    )


# --- semantic deduplication (SemDeDup) ---------------------------------------

def adaptive_ncells(
    n: int, target_cell: int = 250, floor: int = 8
) -> int:
    """SemDeDup cell count for a corpus of ``n`` vectors: enough cells
    that the EXPECTED cell size stays ~``target_cell``, never fewer than
    ``floor``.  This is the knob that keeps the within-cell Σ|cell|² join
    LINEAR in n (n·target_cell candidate pairs) instead of quadratic —
    the round-7 scaling probe measured fixed ncells=8 at 14× wall time
    for 10× data (each cell grows 10× → pair space 100×); with cells
    scaled to n the same probe rung runs ~linear.  At 10⁹ vectors
    (100 TB): ~4M cells of ~250 members."""
    return max(floor, -(-n // target_cell))


def semantic_dedup(
    embeddings: DataFrame,
    ncells: int | None = 8,
    iters: int = 2,
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    two_level: bool | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, then within each cluster drop every vector that is
    ≥ ``threshold`` cosine-similar to a LOWER-id vector in the same cluster
    (deterministic keep-lowest policy — the paper keeps an arbitrary
    exemplar; lowest id makes the output a pure function of the input).

    Returns (vec_id, cell, is_kept) for the whole corpus — the keep-list a
    training pipeline feeds into its reader.

    Scale shape: clustering makes the near-dup search LOCAL — the pairwise
    scoring self-joins on cell, so the candidate space is Σ|cell|², never
    |corpus|² (SemDeDup's entire point; same family as the LSH/IVF bucket
    joins above).  The assignment table is localCheckpoint'd (lazily —
    ``eager=False`` keeps plan construction free of Spark jobs; the cut
    happens on first execution) because three plan references follow
    (both self-join sides + the keep-list join).  Caveat as in
    ``dup_groups``: localCheckpoint blocks are lost on executor failure —
    on a real cluster swap in ``spark.sparkContext.setCheckpointDir`` +
    ``.checkpoint()`` (reliable storage) or persist the assignment table;
    skewed giant cells would get the AQE skew-join treatment documented
    in SCALE.md.

    ``ncells=None`` → :func:`adaptive_ncells` from the corpus count (one
    cheap metadata-weight job): cell size stays bounded as the corpus
    grows, keeping the pair space linear — the production form.  The
    adaptive rule resolves to the historical 8 at every driver sf, so
    gate hashes are unchanged.

    ``centroids`` injects a precomputed (cell, c_emb) table in place of
    the k-means training pass, and ``two_level``/``nprobe`` force the
    assignment routing — the seams a forced-routing recall measurement
    uses to run the production two-level path end-to-end at ≥40k cells
    without a 40k-cell training job.  Defaults leave every gate plan
    byte-identical.
    """
    if ncells is None:
        ncells = adaptive_ncells(embeddings.count())
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, ncells, iters)
    )
    vecs = fan_out(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    assigned = _assign_cells(
        vecs, cent, ncells=ncells, two_level=two_level, nprobe=nprobe
    ).localCheckpoint(eager=False)
    # within-cell pair scoring as per-cell GEMM (guide §4.2), not a
    # cell-equality self-join with per-pair Catalyst cosine — see
    # _cell_dup_ids_np; output ids are unique by construction, so the
    # join form's distinct() exchange disappears too (r16)
    dups = _cell_dup_ids_np(assigned, threshold)
    return assigned.join(
        dups, assigned["vec_id"] == dups["dup_id"], "left"
    ).select(
        "vec_id",
        "cell",
        F.col("dup_id").isNull().alias("is_kept"),
    )

def _pairs_above_threshold_np(vecs: DataFrame, threshold: float) -> DataFrame:
    """All ``(pa < pb)`` pairs of ``vecs`` whose 6dp-rounded cosine is
    ≥ ``threshold`` — the quadratic truth scan of
    :func:`semdedup_recall_report`, scored as ONE BLAS matmul per Arrow
    batch against the broadcast full matrix instead of per-pair Catalyst
    array folds (guide §4.2; the r16 profile measured the Catalyst
    BroadcastNestedLoopJoin form at 523 executor-CPU-seconds at sf0.1 —
    ~130 µs/pair of zip_with/aggregate interpretation — where the GEMM
    form is a few hundred ms).

    The vector set must be BOUNDED by the caller (semdedup's
    ``truth_cap`` — ≤ 4000 rows ≈ 2 MB): it is collected once and closed
    over, the same deliberate driver-side transfer
    :func:`brute_force_topk_np` makes for its query matrix.  Cosine math
    mirrors ``_cos_precomputed`` exactly the way ``brute_force_topk_np``
    does (double matmul, HALF_UP 6dp via sign·floor(|x|·10⁶+0.5)/10⁶,
    zero-norm → NaN which fails the ≥ threshold test just like the
    Catalyst NULL).
    """
    import numpy as np

    spark = vecs.sparkSession
    rows = vecs.select("vec_id", "embedding").collect()
    if not rows:
        return spark.range(0).select(
            F.col("id").alias("pa"), F.col("id").alias("pb")
        )
    ids = np.array([r.vec_id for r in rows], dtype="int64")
    mat = np.array([r.embedding for r in rows], dtype="float64")
    nrm = np.sqrt((mat * mat).sum(axis=1))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf["vec_id"].to_numpy(dtype="int64")
            a_mat = np.array(list(pdf["embedding"]), dtype="float64")
            a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = (a_mat @ mat.T) / np.outer(a_nrm, nrm)
            sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            sims[~np.isfinite(raw)] = np.nan
            # NaN ≥ threshold is False — zero-norm pairs drop, like the
            # Catalyst NULL-cosine filter
            hit = sims >= threshold
            hit &= ids[None, :] > a_ids[:, None]  # strict (pa < pb)
            ai, bj = np.nonzero(hit)
            if len(ai):
                yield pd.DataFrame({"pa": a_ids[ai], "pb": ids[bj]})

    return vecs.select("vec_id", "embedding").mapInPandas(
        score, "pa long, pb long"
    )


def _cell_dup_ids_np(assigned: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup's within-cell duplicate detection: every vec_id that is
    ≥ ``threshold`` cosine-similar (6dp-rounded) to a LOWER-id member of
    the SAME cell — numpy GEMM per cell group (``applyInPandas``) instead
    of the cell-equality self-join scoring each pair with Catalyst array
    folds (guide §4.2).  The pair space is the same Σ|cell|²; only the
    per-pair cost changes (BLAS vs interpreted fold — the r16 profile
    showed the join form collapsing onto ONE AQE-coalesced task for
    3.9 s, byte-based coalescing being blind to compute-dense rows).

    Each output id appears at most once (a vector lives in exactly one
    cell), so callers need no ``distinct()``.  Memory per group is
    bounded O(chunk·|cell|) by the row-chunked loop; a pathological giant
    cell degrades to one long-running task — the adaptive cell sizing
    (``adaptive_ncells``) bounds |cell| ≈ 250 by construction, same
    contract the join form relied on.
    """
    import numpy as np
    import pandas as pd

    def find_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.array(list(pdf["embedding"]), dtype="float64")[order]
        nrm = np.sqrt((mat * mat).sum(axis=1))
        n = len(ids)
        dup = np.zeros(n, dtype=bool)
        for lo in range(0, n, 1024):
            hi = min(lo + 1024, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = (mat[lo:hi] @ mat.T) / np.outer(nrm[lo:hi], nrm)
            sims = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            sims[~np.isfinite(raw)] = np.nan
            hit = sims >= threshold  # NaN → False, like the NULL filter
            # only strictly lower ids count: ids are sorted, so member i
            # may match columns j < i
            hit &= np.arange(n)[None, :] < np.arange(lo, hi)[:, None]
            dup[lo:hi] = hit.any(axis=1)
        return pd.DataFrame({"dup_id": ids[dup]})

    return (
        assigned.select("cell", "vec_id", "embedding")
        .groupBy("cell")
        .applyInPandas(find_dups, "dup_id long")
    )


#: Default bound on the recall harness's brute-force truth side: above this
#: many vectors, truth pairs are counted over a deterministic md5-ordered
#: sample of exactly this size.  4000 keeps the truth scan ≤ (4000²)/2 pairs
#: forever (the round-7 probe measured the UNbounded harness at 31.6× wall
#: for 10× data); every shipped sf has ≤ 2000 vectors, so the cap is a
#: no-op there and gate hashes are unchanged.
SEMDEDUP_TRUTH_CAP = 4000


def semdedup_recall_report(
    embeddings: DataFrame,
    ncells: int | None = 8,
    iters: int = 2,
    threshold: float = 0.9,
    truth_cap: int | None = SEMDEDUP_TRUTH_CAP,
    centroids: DataFrame | None = None,
    two_level: bool | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Measured recall of SemDeDup's cell-restricted duplicate-pair search
    against the brute-force all-pairs ground truth at the same cosine
    threshold — the mirror of :func:`recall_report` for the dedup path.

    Cluster-boundary misses are SemDeDup's known approximation: a pair with
    cosine ≥ τ whose members land in DIFFERENT k-means cells is never
    scored, so its duplicate is kept.  This report turns that loss into a
    number instead of prose.  Because the cell-restricted pair set applies
    the SAME cosine criterion to a SUBSET of pairs, found ⊆ truth holds
    structurally — recall is a count ratio, no pair-set join needed:

        truth  = { (a<b) : cos(a,b) ≥ τ }             (all-pairs)
        found  = { (a<b) ∈ truth : cell(a) = cell(b) }

    Returns ONE row: (n_truth_pairs, n_found_pairs, recall).

    Scale shape: the TRUTH side is inherently quadratic — it is the
    measurement harness, not the production path (same status as
    ``jaccard_top_pairs``' verify join) — so it is BOUNDED: above
    ``truth_cap`` vectors, both truth and found pairs are counted over the
    ``truth_cap`` vectors with the smallest ``md5(vec_id)`` — a
    deterministic, partitioning-independent sample (the md5-ordering
    device every sampler in text.py uses), replayed exactly by the
    oracle.  The estimand is unchanged: recall over a uniform-at-random
    subset of pairs estimates recall over all pairs (clustering still
    runs on the FULL corpus — the sample restricts only the pair
    counting).  Every shipped sf has ≤ 2000 ≤ truth_cap vectors, so the
    cap is a no-op at the driver gate; at 10× data the truth scan is
    (cap²)/2 pairs instead of 31.6× the base wall (round-7 probe).
    ``truth_cap=None`` → unbounded (the exact harness, sf ≤ 1 only).
    The cell lookup joins the assignment table twice by vec_id and
    aggregates once — nothing beyond the (bounded) truth scan is
    super-linear.  ``ncells=None`` → :func:`adaptive_ncells`, measuring
    recall for the production cell sizing.

    ``centroids``/``two_level``/``nprobe`` are the same injection seams
    as :func:`semantic_dedup` — the forced-routing rung measures THIS
    report with assignment forced two-level at production-shaped ncells
    and compares against the flat path on the identical corpus and
    centroid table.  Defaults leave gate plans byte-identical.
    """
    n = embeddings.count() if ncells is None or truth_cap is not None else 0
    if ncells is None:
        ncells = adaptive_ncells(n)
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, ncells, iters)
    )
    vecs = fan_out(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    # localCheckpoint (lazy) because TWO plan references follow (the
    # cell_a and cell_b join sides): without the cut the assignment —
    # the corpus × ncells scoring pass, the report's dominant cost at
    # production cell counts — is computed once per reference unless
    # exchange reuse happens to fire.  Same device and caveat as
    # semantic_dedup's assignment table.
    cells = (
        _assign_cells(
            vecs, cent, ncells=ncells, two_level=two_level, nprobe=nprobe
        )
        .select("vec_id", "cell")
        .localCheckpoint(eager=False)
    )
    if truth_cap is not None and n > truth_cap:
        # deterministic truth sample: the cap smallest md5(vec_id).  The
        # global row_number is a single-partition sort of (vec_id, hash)
        # rows — ids only, never embeddings — and the sample list is
        # broadcast back; at the cap it is a ~4000-row exchange.  Skipped
        # entirely when n ≤ cap (a "select everything" sample would add
        # two stages to both self-join sides for an identity filter —
        # the plan at shipped sfs stays exactly the r7 one).
        w_s = Window.orderBy("h", "vec_id")
        sample_ids = (
            embeddings.select(
                "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h")
            )
            .withColumn("rn", F.row_number().over(w_s))
            .filter(F.col("rn") <= truth_cap)
            .select("vec_id")
        )
        vecs = vecs.join(F.broadcast(sample_ids), "vec_id")
    # truth pairs via BLAS matmuls (guide §4.2) instead of the all-pairs
    # BroadcastNestedLoopJoin with per-pair Catalyst cosine (measured 523
    # executor-CPU-seconds at sf0.1, and the source of this query's
    # multi-second bench variance) — see _pairs_above_threshold_np; the
    # collected matrix is truth_cap-bounded by the sample filter above
    truth = _pairs_above_threshold_np(vecs, threshold)
    ca = cells.select(F.col("vec_id").alias("pa"), F.col("cell").alias("cell_a"))
    cb = cells.select(F.col("vec_id").alias("pb"), F.col("cell").alias("cell_b"))
    return (
        truth.join(ca, "pa")
        .join(cb, "pb")
        .agg(
            F.count(F.lit(1)).alias("n_truth_pairs"),
            F.sum(
                F.when(F.col("cell_a") == F.col("cell_b"), 1).otherwise(0)
            ).alias("n_found_pairs"),
        )
        .select(
            F.col("n_truth_pairs").cast("long"),
            F.col("n_found_pairs").cast("long"),
            # truth = 0 → recall 1.0 ("nothing to miss"), not an ANSI
            # divide-by-zero abort; the oracle mirrors the CASE
            F.when(F.col("n_truth_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_found_pairs").cast("double")
                    / F.col("n_truth_pairs"),
                    4,
                )
            )
            .alias("recall"),
        )
    )


def kmeans_cell_report(
    embeddings: DataFrame, ncells: int = 8, iters: int = 2
) -> DataFrame:
    """Cluster-quality report for the shared spherical k-means quantizer
    (the one IVF search and SemDeDup both ride on): per cell, member count
    and mean cosine of members to their centroid — the coherence numbers
    that justify (ncells, nprobe, τ) choices, completing the
    instrumentation trio with :func:`recall_report` and
    :func:`semdedup_recall_report`.

    Plan: one broadcast-scored assignment pass (corpus never shuffles for
    the join), per-vector argmax fold, then an ncells-row aggregate.  The
    per-vector best cosine is already 6dp-rounded, so the cell mean is a
    DECIMAL-exact sum over rounded values divided once — float-order-proof.
    """
    cent = kmeans_centroids(embeddings, ncells, iters)
    vecs = fan_out(embeddings).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    c = cent.select(
        F.col("cell").alias("_cell"),
        F.col("c_emb"),
        _norm(F.col("c_emb")).alias("c_norm"),
    )
    scored = vecs.join(F.broadcast(c)).select(
        "vec_id",
        "_cell",
        _cos_precomputed(
            F.col("embedding"), F.col("c_emb"), F.col("nrm"), F.col("c_norm")
        ).alias("cos"),
    )
    # packed-BIGINT argmax (see _pack_argmin): a min_by with a struct
    # ordering key demotes this corpus × ncells aggregate to
    # SortAggregate; max(cos) rides alongside as its own flat buffer so
    # the NULL-cosine semantics (max ignores NULLs) stay exact
    best = scored.groupBy("vec_id").agg(
        _unpack_argmin_id(
            F.min(_pack_argmin(-F.col("cos"), F.col("_cell")))
        ).alias("cell"),
        F.max("cos").alias("best_cos"),
    )
    return (
        best.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum(F.col("best_cos").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_cos"),
        )
    )


def label_centroid_similarity(emb: DataFrame) -> DataFrame:
    """Corpus map over the embedding space: per-label centroid (decimal-
    exact per-dimension mean) and the pairwise cosine between label
    centroids — the "how close are my sources/classes" diagnostic that
    decides whether per-label dedup/curation can run independently.

    Determinism: component sums accumulate in DECIMAL(25,9) (a double sum
    over ~N/labels members per dimension is accumulation-order-dependent),
    means round to 9dp, and the centroid arrays are assembled in POSITION
    order so the cosine's fold adds in the same sequence as the oracle's
    ordered unnest.

    Scale: the posexplode shuffle carries (label, pos) cells — |labels|·dim
    groups, map-side combined; everything after operates on |labels| rows.
    The pairwise stage is |labels|²/2 — label count is a model property,
    not a data-scale property, so this never grows with corpus size.
    """
    comp = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = (
        comp.groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(25,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("s"))
        .select(
            "label",
            F.transform("s", lambda t: t["c"]).alias("centroid"),
        )
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("ca"), F.col("cb")), 6).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )
