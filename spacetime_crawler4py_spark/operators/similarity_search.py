"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_force_topk``   — exact cosine top-k (the correctness baseline);
  JVM-native arithmetic (zip_with/aggregate), window-ranked top-k, which
  Catalyst executes as partial top-k per partition (TakeOrdered-style)
  rather than a full sort.
* ``lsh_bucketed_topk``  — the scale path: deterministic random-hyperplane
  signatures; candidates meet only within a bucket, turning the N×M cross
  join into an equi-join. Recall is tunable via n_planes/n_tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .dedup import cosine_sim_col

__all__ = [
    "brute_force_topk",
    "blocked_pair_cos_bp",
    "lsh_bucketed_topk",
    "int_plane_matrix",
    "ivf_topk",
    "build_ivf_index",
    "ivf_topk_indexed",
    "kmeans_centroids",
    "quantize_embeddings_int8",
    "semantic_dedup",
]


def quantize_embeddings_int8(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the compression step a
    100-TB embedding store applies before ANN (4x smaller than float32,
    integer SIMD distance kernels downstream). Output one row per
    dimension: ``(id, dim_idx, q, scale_micro)`` with
    q = floor(v_micro * 127 / maxabs_micro) in [-127, 127] and
    scale_micro = max(abs(floor(v * 1e6))) the per-vector dequant scale.

    Exactness contract: the float payload enters integer space immediately
    (v_micro = floor(v::double * 1e6), the same micro-int scheme
    decode_features uses), so every downstream op is integer/floor
    arithmetic an ANSI-SQL oracle reproduces bit-for-bit — no IEEE
    rounding-order dependence. All-zero vectors quantize to q = 0 with
    scale_micro = 0.

    Plan shape: posexplode → per-vector max(abs) hash-agg → join back
    (AQE picks broadcast when the id dim fits) → project. Deliberately
    NOT an array HOF: a transform() lambda referencing the computed
    maxabs column re-inlines the aggregate per element (the measured
    Catalyst re-inlining trap, see dedup.shingles_exploded)."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("dim_idx", "v"),
    ).select(
        "id",
        "dim_idx",
        F.floor(F.col("v").cast("double") * 1000000).cast("long").alias("vm"),
    )
    scales = ex.groupBy("id").agg(
        F.max(F.abs(F.col("vm"))).alias("scale_micro")
    )
    q = F.when(F.col("scale_micro") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(F.col("vm") * 127.0 / F.col("scale_micro")).cast("long")
    )
    return ex.join(scales, "id").select(
        "id", "dim_idx", q.alias("q"), "scale_micro"
    )


def _grid_blocks(n_rows: int, rows_per_block: int, parallelism: int) -> int:
    """Block count honoring BOTH grid bounds: >= 2P so every core gets
    cells, AND >= N/rows_per_block so a cell stays a bounded numpy
    matmul — parallelism alone would let a block grow to N/2P rows and
    the per-cell matrix to (N/2P)^2 floats (OOM at corpus scale)."""
    return max(
        2,
        2 * parallelism,
        -(-n_rows // max(1, rows_per_block)),  # ceil div
    )


def blocked_pair_cos_bp(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    min_cos_bp: int,
    rows_per_block: int = 4096,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine similarity (floored basis points) as a
    distributed block-pair grid — no driver collect, no broadcast of the
    corpus. Returns (id, id2, cos_bp) for id < id2 with cos_bp >= min_cos_bp.

    Each vector is hashed to one of B blocks; the B(B+1)/2 unordered block
    pairs are the physical tasks. A row in block b replicates to the cells
    where b is the smaller coordinate as the 'a' side and where it is the
    larger as the 'b' side, so every unordered vector pair meets in exactly
    one cell. Shuffle volume is N*(B+1) rows (pick B so a block fits
    executor memory — at 100 TB that's the only knob); each cell scores its
    sub-grid with one numpy matmul instead of per-pair interpreted array
    expressions (~30x).

    Exactness: when the vectors are integer-valued doubles (see the
    quantization in __spark_entry__._quantized_emb) every dot product and
    norm is exact in fp64 regardless of blocking, so cos_bp is bit-identical
    to the per-element expression form and to the DuckDB oracle. The LSH
    variant below is the sub-quadratic path when exact all-pairs is not
    required."""
    if n_blocks is None:
        # the count() is one cheap metadata-friendly job; callers who
        # know N pass n_blocks explicitly to skip it
        sc = emb.sparkSession.sparkContext
        n_blocks = _grid_blocks(
            emb.count(), rows_per_block, sc.defaultParallelism
        )
    B = n_blocks

    tagged = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    a_side = tagged.select(
        "id", "v",
        F.col("blk").alias("ci"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("cj"),
        F.lit("a").alias("side"),
    )
    b_side = tagged.select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("ci"),
        F.col("blk").alias("cj"),
        F.lit("b").alias("side"),
    )
    cells = a_side.unionByName(b_side)

    def score_cell(key, pdf):
        ci, cj = int(key[0]), int(key[1])
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"id": [], "id2": [], "cos_bp": []}).astype(
                {"id": np.int64, "id2": np.int64, "cos_bp": np.int64}
            )
        a_ids = a["id"].to_numpy(dtype=np.int64)
        b_ids = b["id"].to_numpy(dtype=np.int64)
        a_mat = np.asarray([list(v) for v in a["v"]], dtype=np.float64)
        b_mat = np.asarray([list(v) for v in b["v"]], dtype=np.float64)
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
        cos = (a_mat @ b_mat.T) / (a_norms[:, None] * b_norms[None, :])
        bp = np.floor(cos * 10000)
        keep = bp >= min_cos_bp
        if ci == cj:
            # diagonal cell sees each row on both sides: keep each unordered
            # pair once (a < b); cross cells see each pair exactly once but
            # with arbitrary id order, canonicalized below
            keep &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(keep)
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame(
            {"id": lo, "id2": hi, "cos_bp": bp[ai, bi].astype(np.int64)}
        )

    return cells.groupBy("ci", "cj").applyInPandas(
        score_cell, schema="id bigint, id2 bigint, cos_bp bigint"
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """For each probe, the k nearest corpus vectors by cosine (excluding
    self-matches by id). Returns (probe_id, neighbor_id, cos_sim, rank)."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        p.crossJoin(c)
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine_sim_col(F.col("pv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


def _plane_matrix(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim)).astype(np.float32)


def int_plane_matrix(
    dim: int, n_planes: int, n_tables: int, seed: int = 42, span: int = 9
) -> np.ndarray:
    """Small-integer random hyperplanes. With integer-valued (quantized)
    vectors every plane dot is exact in fp64, so the sign pattern — and
    therefore the whole bucket assignment — is bit-reproducible by any
    engine, which is what lets the ANN path carry a SQL oracle."""
    rng = np.random.default_rng(seed)
    return rng.integers(-span, span + 1, size=(n_tables, n_planes, dim)).astype(
        np.float64
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    # production default = the measured efficiency frontier at recall>=0.9
    # on the synthetic corpus's near-orthogonal (hard-regime) neighbors —
    # see the sweep results in BENCH/ANN_SWEEP.md. Corpora with
    # tighter clusters can raise n_planes to shrink the candidate set.
    n_planes: int = 5,
    n_tables: int = 32,
    seed: int = 42,
    planes: np.ndarray | None = None,
    emit_bp: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH ANN: sign-pattern bucket per table, equi-join
    probes to corpus on (table, bucket), exact cosine re-rank within the
    candidate set. Same output shape as brute_force_topk (rank within
    found candidates; recall < 1.0 by design). Pass ``planes``
    (n_tables, n_planes, dim) to pin the hyperplanes (e.g. the integer
    matrix from int_plane_matrix); ``emit_bp`` swaps the cos_sim column
    for floored basis points (cos_bp), the integer form the cross-engine
    value hash needs."""
    if planes is None:
        planes = _plane_matrix(dim, n_planes, n_tables, seed)
    else:
        n_tables, n_planes = planes.shape[0], planes.shape[1]

    @pandas_udf(ArrayType(LongType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        out = []
        signs = np.einsum("tpd,bd->btp", planes, mat) > 0  # (batch, tables, planes)
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        codes = (signs * weights).sum(axis=2)  # (batch, tables)
        for row in codes:
            out.append([int(v) for v in row])
        return pd.Series(out)

    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(vec_col).alias(f"{prefix}v"),
            )
            .withColumn("_bk", buckets_udf(F.col(f"{prefix}v")))
            .select(
                f"{prefix}_id", f"{prefix}v",
                F.posexplode("_bk").alias("table_idx", "bucket"),
            )
        )

    pb = with_buckets(probes, "probe")
    cb = with_buckets(corpus, "neighbor")
    cands = (
        pb.join(cb, ["table_idx", "bucket"])
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "probev", "neighbor_id", "neighborv")
        .dropDuplicates(["probe_id", "neighbor_id"])
        .withColumn("cos", cosine_sim_col(F.col("probev"), F.col("neighborv")))
    )
    # rank on the raw cosine: with integer-quantized inputs it is the same
    # fp64 number on every engine (one division of exact integers)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    ranked = cands.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    if emit_bp:
        return ranked.select(
            "probe_id", "neighbor_id",
            F.floor(F.col("cos") * 10000).cast("long").alias("cos_bp"),
            "rank",
        )
    return ranked.select(
        "probe_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank"
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
    # defaults = the gated config: recall@10 = 0.925 vs brute force on the
    # synthetic near-orthogonal (hard-regime) corpus — measured sweep:
    # (16,4)=0.83 (16,6)=0.885 (16,8)=0.925 (32,8)=0.87 (8,4)=0.815;
    # tests/test_dedup_scale.py::test_ivf_recall_vs_brute_force pins >=0.9.
    # Clustered real-world embeddings reach the same recall at much lower
    # n_probe/n_centroids ratios; probing half the cells is the price of
    # the worst-case regime, not the expected operating point.
    n_centroids: int = 16,
    n_probe: int = 8,
    k: int = 10,
    emit_bp: bool = False,
) -> DataFrame:
    """IVF-flat ANN: the inverted-file counterpart to ``lsh_bucketed_topk``.

    Every corpus vector is assigned to its nearest coarse centroid (its
    "cell"); a probe scores only the vectors in its ``n_probe`` nearest
    cells, exact-cosine re-ranked. Complexity per probe drops from O(N)
    to O(N * n_probe / n_centroids) expected.

    Plan shape for scale: the centroid table is tiny (k-means or sampled;
    100k centroids for a 10^9-vector corpus), so BOTH scoring joins
    against it broadcast — the corpus never shuffles for assignment. The
    only big shuffle is the candidate equi-join on ``cell``, whose skew
    is bounded by the coarse quantizer's balance (re-train centroids when
    a cell outgrows its peers; same remedy as IVF rebalancing in Faiss).

    ``centroids`` defaults to the corpus rows with id < n_centroids — a
    deterministic bootstrap that stands in for a trained quantizer and
    keeps the whole index SQL-expressible for the cross-engine oracle
    (see __spark_entry__.oracle_sql["ann_ivf"]). Pass the output of
    ``kmeans_centroids`` to train the quantizer instead: trained cells
    are balanced (bounded candidate-join skew) at some recall cost per
    probe on adversarially uniform corpora — see the measured trade-off
    in tests/test_dedup_scale.py::test_kmeans_balances_ivf_cells. Ties
    (equal cosine to two centroids) break toward the smaller centroid id
    on every path.
    """
    if centroids is None:
        centroids = corpus.where(F.col(id_col) < n_centroids)
    cent = F.broadcast(
        centroids.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
        )
    )

    cells = _ivf_cell_assignments(corpus, cent, id_col, vec_col)
    probe_cells = _ivf_probe_cells(probes, cent, id_col, vec_col, n_probe)
    ranked = _ivf_rerank(probe_cells, cells, k)
    if emit_bp:
        return ranked.select(
            "probe_id", "neighbor_id",
            F.floor(F.col("cos") * 10000).cast("long").alias("cos_bp"),
            "rank",
        )
    return ranked.select(
        "probe_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank"
    )


def _ivf_cell_assignments(
    corpus: DataFrame, cent: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(neighbor_id, nv, cell): argmax_cid cos(v, centroid), smaller cid
    on ties — one broadcast nested-loop + a map-side-combining max_by agg."""
    scored_c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    ).join(cent, how="cross").select(
        "neighbor_id", "nv", "cid",
        cosine_sim_col(F.col("nv"), F.col("cv")).alias("cos_c"),
    )
    return scored_c.groupBy("neighbor_id", "nv").agg(
        F.max_by(
            "cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("tb"))
        ).alias("cell")
    )


def _ivf_probe_cells(
    probes: DataFrame, cent: DataFrame, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """(probe_id, pv, cell): each probe's n_probe nearest centroids."""
    scored_p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv")
    ).join(cent, how="cross").select(
        "probe_id", "pv", "cid",
        cosine_sim_col(F.col("pv"), F.col("cv")).alias("cos_c"),
    )
    wp = Window.partitionBy("probe_id").orderBy(F.desc("cos_c"), F.asc("cid"))
    return (
        scored_p.withColumn("crank", F.row_number().over(wp))
        .where(F.col("crank") <= n_probe)
        .select("probe_id", "pv", F.col("cid").alias("cell"))
    )


def _ivf_rerank(probe_cells: DataFrame, cells: DataFrame, k: int) -> DataFrame:
    """Candidates meet on the cell; exact cosine re-rank within them."""
    cands = (
        probe_cells.join(cells, "cell")
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_sim_col(F.col("pv"), F.col("nv")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return cands.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    table: str,
    centroids: DataFrame,
    buckets: int = 8,
) -> None:
    """Materialize the inverted file — ``(neighbor_id, nv, cell)`` — as a
    table bucketed and sorted by ``cell``: the build-once/query-many half
    of IVF. ``ivf_topk`` recomputes the assignment per query batch, which
    is right for one-shot jobs; a serving workload assigns the corpus
    once and then every probe batch's candidate join reads the bucketed
    scan with NO shuffle on the corpus side (pinned by
    tests/test_dedup_scale.py::test_ivf_indexed plan test). Rebuild when
    the quantizer retrains (same rebuild trigger as Faiss IVF).

    Pass the same ``centroids`` frame to :func:`ivf_topk_indexed` — cell
    ids are meaningless under any other quantizer."""
    cent = F.broadcast(
        centroids.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
        )
    )
    (
        _ivf_cell_assignments(corpus, cent, id_col, vec_col)
        .write.bucketBy(buckets, "cell")
        .sortBy("cell")
        .mode("overwrite")
        .saveAsTable(table)
    )


def ivf_topk_indexed(
    spark,
    table: str,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    n_probe: int = 8,
    k: int = 10,
) -> DataFrame:
    """ANN top-k against a persisted inverted file built by
    :func:`build_ivf_index`; row-identical to ``ivf_topk`` with the same
    corpus/centroids/params (pinned by test)."""
    cent = F.broadcast(
        centroids.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
        )
    )
    probe_cells = _ivf_probe_cells(probes, cent, id_col, vec_col, n_probe)
    ranked = _ivf_rerank(probe_cells, spark.table(table), k)
    return ranked.select(
        "probe_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank"
    )


def kmeans_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iters: int = 5,
    init: str = "hash",
    floor_updates: bool = False,
) -> DataFrame:
    """Train an IVF coarse quantizer: spherical k-means (cosine
    assignment, mean update) in plain DataFrame ops. Returns (cid, cv).

    Shape per Lloyd iteration — the standard distributed k-means plan:

    * assignment: broadcast the k centroids against the corpus (the
      corpus never shuffles), argmax-cosine via one map-side-combining
      max_by aggregation;
    * update: posexplode vectors to (cell, dim, value) and hash-aggregate
      per-dimension means — narrow rows, map-side partial aggregation,
      one shuffle keyed by (cell, dim) with at most k*dim groups;
    * the k new centroids (a driver-sized dim by definition) are
      collected and re-broadcast — k*dim doubles per iteration, the same
      driver traffic any cluster k-means implementation carries.

    Deterministic init: ``init="hash"`` takes the k corpus vectors with
    the smallest xxhash64(id) — corpus-order-independent and seedable by
    the id space; ``init="minid"`` takes the k smallest ids, the variant
    an ANSI-SQL oracle can replay (ORDER BY id LIMIT k).

    Determinism of the updates: with float inputs, mean updates sum in
    partition order, so centroid bits can differ between runs on
    different partitionings (inherent to parallel k-means) — that default
    path is gated by the monotone-inertia property test rather than a
    cross-engine hash. ``floor_updates=True`` is the fixed-point Lloyd
    variant for integer-valued-double inputs (e.g. floor(x*1000)
    quantized embeddings): every partial sum is exact integer arithmetic
    in fp64 (order-independent), the mean is one IEEE division, and the
    centroid is floored back to integer values — bit-identical across
    partitionings AND across engines, which is what makes the
    ``ann_ivf_trained`` contract query hashable against DuckDB. Empty
    cells keep their previous centroid on every path."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if init == "minid":
        seed_rows = base.orderBy("id").limit(k).select("v").collect()
    else:
        seed_rows = (
            base.withColumn("h", F.xxhash64("id"))
            .orderBy("h", "id")
            .limit(k)
            .select("v")
            .collect()
        )
    cents = [[float(x) for x in r["v"]] for r in seed_rows]

    def cent_df():
        rows = [(i, cents[i]) for i in range(len(cents))]
        return F.broadcast(
            emb.sparkSession.createDataFrame(rows, "cid int, cv array<double>")
        )

    for _ in range(iters):
        assigned = (
            base.join(cent_df(), how="cross")
            .select(
                "id", "v", "cid",
                cosine_sim_col(F.col("v"), F.col("cv")).alias("cos_c"),
            )
            .groupBy("id", "v")
            .agg(
                F.max_by(
                    "cid", F.struct(F.col("cos_c"), (-F.col("cid")).alias("tb"))
                ).alias("cell")
            )
        )
        mean_col = (
            F.floor(F.avg("x")).cast("double") if floor_updates
            else F.avg("x")
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(mean_col.alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("dm")
            )
            .select(
                "cell",
                F.transform("dm", lambda s: s["m"]).alias("cv"),
            )
            .collect()
        )
        for r in means:
            cents[r["cell"]] = [float(x) for x in r["cv"]]
    return cent_df().select("cid", "cv")


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    min_cos_bp: int = 9000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with a trained coarse quantizer,
    then prune near-identical *meanings* inside each cluster — the
    embedding-space counterpart of MinHash dedup, standard in LLM data
    curation (the reference has no embedding surface at all; this extends
    its dedup family the way ann_* extend its similarity scan).

    Keep rule (one-pass, deterministic): a vector is dropped iff some
    SMALLER-id cluster-mate has floored basis-point cosine
    >= ``min_cos_bp``; its witness is the smallest such mate. This is the
    order-greedy SemDeDup simplification with document id as the priority
    (the paper ranks by centroid distance); it is monotone — the decision
    depends only on pairwise cosines, never on other decisions — which is
    what makes it embarrassingly parallel AND exactly replayable in SQL.
    Relative to sequential greedy it can over-drop when a dropped vector
    is another's only witness (both shapes are accepted in production
    pipelines; the one-pass rule is the scalable one).

    Output: one row per corpus vector — (vec_id, cell, kept, dup_of,
    cos_bp); dup_of/cos_bp are NULL for kept rows.

    Plan shape at corpus scale: assignment is a broadcast nested-loop
    against the k centroids + one map-side-combining max_by (the corpus
    never shuffles); the candidate pairs meet on a cell equi-join, so the
    pair fan-out is bounded by cluster size (k grows ~sqrt(n) with the
    corpus, as in the paper, keeping clusters O(sqrt(n))); the witness
    pick is one min_by aggregation. No Python anywhere. Integer
    exactness: on milli-quantized integer-valued vectors every dot/norm
    sum is exact in fp64, so cos_bp — floor after one IEEE divide — is
    bit-identical across engines and partitionings."""
    from .dedup import cosine_sim_col

    assigned = _ivf_cell_assignments(emb, centroids, id_col, vec_col)
    lo = assigned.select(
        F.col("neighbor_id").alias("b_id"),
        F.col("nv").alias("bv"),
        "cell",
    )
    pairs = (
        assigned.join(lo, "cell")
        .where(F.col("b_id") < F.col("neighbor_id"))
        .select(
            "neighbor_id",
            "b_id",
            F.floor(cosine_sim_col(F.col("nv"), F.col("bv")) * 10000)
            .cast("long").alias("bp"),
        )
        .where(F.col("bp") >= min_cos_bp)
    )
    witness = pairs.groupBy("neighbor_id").agg(
        F.min("b_id").alias("dup_of"),
        F.min_by("bp", "b_id").alias("cos_bp"),
    )
    return (
        assigned.join(witness, "neighbor_id", "left")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
            "cos_bp",
        )
    )
