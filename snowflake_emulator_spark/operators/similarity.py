"""Similarity search over embedding columns (``array<float>``).

Three tiers, all shuffle-conscious:

* ``cosine_topk_bruteforce`` — exact top-k: broadcast the (small) query
  set against the full embedding table; per-row dot products run
  JVM-side via ``aggregate``/``zip_with`` with norms precomputed once
  per vector (not per pair). One scan, no shuffle except the final
  per-query top-k. The correct 100 TB baseline when queries are few,
  and bit-identical to the DuckDB oracle (sequential double fold).
* ``cosine_near_pairs`` — all near-duplicate pairs above a cosine
  threshold, LSH-bucketed by random-hyperplane signs so the self-join
  is per-bucket, never O(n²); candidate scoring is Arrow-batched
  numpy (vectorized — the interpreted per-element HOF fold is the
  slow path once pair counts grow).
* ``ivf_topk`` — IVF-style: partition vectors by nearest centroid
  (deterministic hash-seeded centroids), search only the query's
  ``nprobe`` nearest centroid buckets. The scale path when queries are
  many: turns a full scan per query into a bucket scan.

Exact-parity note: the JVM fold (`_dot`) adds elements sequentially,
matching DuckDB's ``list_dot_product`` bit-for-bit; numpy's pairwise
summation may differ in the last ulp, so numpy is used only for
approximate (rows-only-checked) operators.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .driver_bounds import EXACT_PAIRS_MAX_BROADCAST_ROWS

# Column-tile width for the exact_cosine_pairs kernel (r17, guide §5):
# the kernel's dense temporaries are (arrow_batch_rows x tile) float64
# matrices — 3 of them live at once (acc, cos, mask) — so at the
# default 10k-row Arrow batch an 8192 tile bounds them to ~0.66 GB
# per task total, vs ~48 GB untiled at the 200k-row broadcast cap.
# Tiling partitions the broadcast COLUMNS only; the per-pair ascending-d
# accumulation order (the bit-exactness contract) is untouched.
_PAIRS_COL_TILE = 8192


def _dot_fold(a: Column, b: Column) -> Column:
    """Higher-order-function fold (dimension-agnostic, but interpreted
    per element — slow in hot paths)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _dot(a: Column, b: Column, dim: int | None = 64) -> Column:
    """Sequential-order dot product.

    With a known ``dim``, unrolls into explicit left-associated
    arithmetic — pure whole-stage-codegen, ~20x faster than the HOF
    fold, and bit-identical to both the fold and DuckDB's
    ``list_dot_product`` (same addition order)."""
    if dim is None:
        return _dot_fold(a, b)
    # cast per ELEMENT: casting the whole array inside each index
    # reference would re-run the array cast dim times (O(dim^2))
    def term(i: int) -> Column:
        return a[i].cast("double") * b[i].cast("double")

    acc = term(0)
    for i in range(1, dim):
        acc = acc + term(i)
    return acc


def _norm(a: Column, dim: int | None = 64) -> Column:
    return F.sqrt(_dot(a, a, dim))


def cosine_topk_bruteforce(emb: DataFrame, query_ids: list[int], k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Plan shape: broadcast(queries) nested-loop join -> per-row dot in
    codegen (norms precomputed per side) -> window top-k. Returns
    (query_id, neighbor_id, rank, cosine_sim)."""
    # HOF fold on purpose: the query set is small (tens of pairs per
    # row), and the unrolled variant pays seconds of janino compile for
    # a plan used once — interpretation wins at this cardinality while
    # keeping DuckDB-exact sequential addition order.
    base = emb.select(F.col(id_col), F.col(vec_col), _norm(F.col(vec_col), None).alias("vnorm"))
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), F.col("vnorm").alias("qnorm")
    )
    # nullif on the norm product: a zero-norm vector (failed/padding
    # embedding) would make x/0 = NaN, and Spark sorts NaN ABOVE all
    # doubles — NaN rows would take rank 1 in every query's top-k.
    # NULL instead ranks last under desc ordering.
    scored = base.join(F.broadcast(queries), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(_dot(F.col("qvec"), F.col(vec_col), None)
                / F.nullif(F.col("qnorm") * F.col("vnorm"), F.lit(0.0)),
                6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def exact_cosine_pairs(emb: DataFrame, threshold: float = 0.42,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_broadcast_rows: int =
                       EXACT_PAIRS_MAX_BROADCAST_ROWS) -> DataFrame:
    """Exact all-pairs cosine above ``threshold`` (id_a < id_b) — the
    deliberately-quadratic oracle-checkable variant (the scale path is
    ``cosine_near_pairs``; this one exists to measure it against).

    r16: the relational form (theta self-join) plans a
    BroadcastNestedLoopJoin whose join condition evaluates the
    interpreted HOF cosine fold once per ORDERED pair (the conjunct
    order puts the fold before ``id_a < id_b``) and again in the
    surviving-pair projection — n² interpreted 64-element folds.
    Instead, the vector table (which the old plan broadcast in full
    anyway, as the BNLJ build side) is collected once per run and the
    dot/norm arithmetic runs in an Arrow-batched numpy kernel with
    strict per-dimension left-fold accumulation (``acc = acc + a_d*b_d``
    ascending d — the identical IEEE-754 op sequence of the JVM fold
    and DuckDB's ``list_dot_product``; see ``_seq_d2``). The kernel
    emits raw (dot, na, nb) for candidates above ``threshold - 1e-6``;
    the exact ``round(dot/(na*nb), 6) >= threshold`` decision stays
    JVM-side so HALF_UP rounding semantics are untouched (the
    change-#1 recipe). Output is bit-identical to the join form —
    A/B-asserted tuple-equal in ``scratch/ab_exact_pairs.py``.

    Driver state is the vector table itself — inherent to the declared
    exact-quadratic semantics (the old plan's BroadcastExchange held
    the same bytes). ``max_broadcast_rows`` caps it (200k x 64 doubles
    = 100 MB); past the cap the relational join form runs instead, so
    direct callers never see an unbounded collect.

    r17 (ADVICE r16 / guide §5): the kernel loops the broadcast matrix
    in COLUMN TILES of ``_PAIRS_COL_TILE`` ids, so per-task temporaries
    are O(batch_rows x tile) float64 (~0.66 GB at the default 10k-row
    Arrow batch) instead of O(batch_rows x corpus) — which reached
    ~16 GB per batch near the 200k-row cap. The per-pair accumulation
    order (ascending d from 0.0) is untouched — tiling partitions the
    COLUMNS, never the per-pair addition sequence — so output stays
    bit-identical (pytest asserts kernel == join form, incl. a forced
    tiny tile). Null embeddings are filtered up front: the old
    theta-join dropped them via a NULL cosine, and np.stack over a
    ragged column raises — both paths now drop them explicitly."""
    e = emb.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
    rows = (e.select(F.col(id_col), F.col(vec_col))
            .limit(max_broadcast_rows + 1).collect())
    if len(rows) > max_broadcast_rows:
        base = e.select(id_col, vec_col,
                        _norm(F.col(vec_col), None).alias("nrm"))
        l = base.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("va"), F.col("nrm").alias("na"))
        r = base.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("vb"), F.col("nrm").alias("nb"))
        return (
            l.join(r, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(_dot(F.col("va"), F.col("vb"), None)
                            / (F.col("na") * F.col("nb")), 6)
                    .alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )

    import numpy as np

    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    dim = mat.shape[1] if len(rows) else 0
    bc = emb.sparkSession.sparkContext.broadcast((ids, mat))
    pre = threshold - 1e-6

    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("dot", T.DoubleType()),
        T.StructField("na", T.DoubleType()),
        T.StructField("nb", T.DoubleType()),
    ])

    tile = _PAIRS_COL_TILE

    def kernel(batches):
        ids_m, m = bc.value
        n = len(ids_m)
        nacc = np.zeros(n)
        for d in range(dim):
            nacc = nacc + m[:, d] * m[:, d]
        nrm = np.sqrt(nacc)
        for pdf in batches:
            if not len(pdf):
                continue
            ida = pdf[id_col].to_numpy()
            a = np.array(list(pdf[vec_col]), dtype=np.float64)
            na_acc = np.zeros(len(ida))
            for d in range(dim):
                na_acc = na_acc + a[:, d] * a[:, d]
            na = np.sqrt(na_acc)
            # column tiles bound the (rows x cols) temporaries (acc,
            # cos, mask) to rows x tile each; per-pair addition order
            # is ascending d from 0.0 exactly as before
            for c0 in range(0, n, tile):
                mt = m[c0:c0 + tile]
                idt = ids_m[c0:c0 + tile]
                acc = np.zeros((len(ida), mt.shape[0]))
                for d in range(dim):
                    acc = acc + a[:, d:d + 1] * mt[None, :, d]
                cos = acc / (na[:, None] * nrm[None, c0:c0 + tile])
                mask = (idt[None, :] > ida[:, None]) & (cos >= pre)
                ri, ci = np.nonzero(mask)
                if not len(ri):
                    continue
                yield pd.DataFrame({
                    "id_a": ida[ri], "id_b": idt[ci],
                    "dot": acc[ri, ci], "na": na[ri], "nb": nrm[c0 + ci]})

    raw = e.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kernel, out_schema)
    return (
        raw.select("id_a", "id_b",
                   F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
                   .alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from a seed (no RNG state:
    engine-neutral + reproducible across runs)."""
    import hashlib

    vals = []
    for j in range(dim):
        h = hashlib.md5(f"hp{seed}_{j}".encode()).hexdigest()
        vals.append((int(h[:15], 16) / float(1 << 60)) * 2.0 - 1.0)
    return vals


def cosine_near_pairs(emb: DataFrame, threshold: float = 0.95, dim: int = 64,
                      n_planes: int = 6, n_bands: int = 1, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      exact_rescore: bool = False) -> DataFrame:
    """Near-duplicate vector pairs above a cosine threshold.

    Bucketed self-join on the RP-LSH signature (vectors with very high
    cosine nearly always share all hyperplane signs); candidates are
    then scored with the vectorized numpy kernel.

    ``n_bands`` is OR-amplification: each band hashes with its own
    independent set of ``n_planes`` hyperplanes, a pair is a candidate
    if it collides in ANY band, and cross-band duplicates are dropped.
    Per-pair recall goes from p = P(all signs agree) to 1-(1-p)^bands —
    the standard banding trade (bands x the bucketing work, recall →
    1). One band keeps the original single-signature behavior.

    Bucket assignment is Arrow-batched numpy (one BLAS matmul per
    batch over all bands at once). The JVM alternative
    (``rp_lsh_bucket``, unrolled codegen) was measured slower
    end-to-end: the n_planes x dim unrolled expression costs ~5 s of
    one-time janino compile for <1 s of warm win, and the numpy matmul
    is already vectorized per batch — both scale linearly, so the
    cheaper-to-plan form wins.

    ``exact_rescore=True`` makes the output deterministic against a
    sequential-fold oracle (DuckDB ``list_dot_product``): buckets emit
    candidate id pairs with a loose numpy prefilter (threshold − 1e-4,
    orders of magnitude wider than numpy's pairwise-summation ulp),
    and for each candidate the bucket kernel ALSO emits the raw dot
    product and both norms recomputed in strict sequential
    (left-associated) float64 addition order — element-by-element
    ``acc = acc + a[i]*b[i]`` over the float→double-cast vectors, the
    exact IEEE-754 operation sequence of the JVM ``aggregate(zip_with)``
    fold and of DuckDB's ``list_dot_product`` — so the r15 rescore join
    (a second full corpus scan + posexplode/broadcast-join/first-agg
    reassembly: 2 extra Exchanges and a SortAggregate pair, measured
    ~0.5 s of the headline query at sf0.1) is gone; only the final
    divide/round/threshold runs JVM-side. Same candidate set,
    bit-identical values, one corpus scan total (r16 optimization,
    guide §2.3/§2.4: the vectors are already in the bucket kernel's
    Arrow batch — re-joining them shuffled the corpus a second time to
    recompute numbers the kernel could emit directly)."""
    import numpy as np

    planes = np.array(
        [_hyperplane(dim, b * n_planes + p) for b in range(n_bands) for p in range(n_planes)],
        dtype="float64",
    )
    assign_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.FloatType())),
            T.StructField("buckets", T.ArrayType(T.IntegerType())),
        ]
    )

    def assign(batches):
        # ONE output row per vector with all band buckets as an array:
        # exploding python-side would ship every vector n_bands times
        # through Arrow; the JVM posexplode below duplicates columns
        # columnar-side instead (16x less Arrow traffic at 16 bands)
        weights = 1 << np.arange(n_planes)
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            bits = (m @ planes.T) >= 0  # (n, n_bands*n_planes)
            buckets = [
                bits[:, band * n_planes : (band + 1) * n_planes] @ weights
                for band in range(n_bands)
            ]
            yield pd.DataFrame({
                id_col: pdf[id_col], vec_col: pdf[vec_col],
                "buckets": [np.array(row, dtype="int32")
                            for row in zip(*buckets)],
            })

    b = emb.select(id_col, vec_col).mapInPandas(assign, assign_schema).select(
        F.col(id_col), F.col(vec_col),
        F.posexplode("buckets").alias("band", "bucket"))
    out_fields = [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
    if exact_rescore:
        # raw sequential-fold components; divide/round/threshold happen
        # JVM-side so rounding semantics stay Spark's (HALF_UP)
        out_fields += [
            T.StructField("__dot", T.DoubleType()),
            T.StructField("__na", T.DoubleType()),
            T.StructField("__nb", T.DoubleType()),
        ]
    else:
        out_fields.append(T.StructField("cosine_sim", T.DoubleType()))
    out_schema = T.StructType(out_fields)

    # with exact rescoring the numpy score is only a candidate
    # prefilter: widen it far past numpy-vs-sequential ulp so no pair
    # that the exact score would keep (on the rounded value) is lost
    pre_threshold = threshold - 1e-4 if exact_rescore else threshold

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        # chunked BLAS matmuls per bucket: the full n×n sims matrix of
        # a skewed bucket would be O(bucket²) memory and OOM the task
        # at scale, so score `chunk` rows against the block at a time —
        # peak extra memory is O(chunk × n), compute unchanged
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.sqrt((m * m).sum(axis=1))
        mn = m / norms[:, None]
        n = len(ids)
        dim_m = m.shape[1]
        if exact_rescore:
            # per-vector norm in strict sequential addition order:
            # 0.0 + v0*v0 + v1*v1 + ... — the same left-associated
            # float64 op sequence as the JVM aggregate(zip_with) fold
            # (numpy's pairwise .sum() is NOT, hence the explicit loop)
            acc = np.zeros(n)
            for j in range(dim_m):
                acc = acc + m[:, j] * m[:, j]
            nseq = np.sqrt(acc)
        chunk = max(64, 4_000_000 // max(n, 1))  # ~32 MB of float64 sims
        cols = np.arange(n)
        frames = []
        for s0 in range(0, n, chunk):
            sims = mn[s0 : s0 + chunk] @ mn.T  # (c, n)
            rows = np.arange(s0, s0 + sims.shape[0])
            mask = (cols[None, :] > rows[:, None]) & (sims >= pre_threshold)
            ri, ci = np.nonzero(mask)
            gi = rows[ri]
            if exact_rescore:
                # exact dot per candidate pair, same sequential fold
                a_rows, b_rows = m[gi], m[ci]
                d = np.zeros(len(gi))
                for j in range(dim_m):
                    d = d + a_rows[:, j] * b_rows[:, j]
                frames.append(pd.DataFrame({
                    "id_a": ids[gi], "id_b": ids[ci],
                    "__dot": d, "__na": nseq[gi], "__nb": nseq[ci],
                }))
            else:
                frames.append(pd.DataFrame({
                    "id_a": ids[gi], "id_b": ids[ci],
                    "cosine_sim": np.round(sims[ri, ci], 6),
                }))
        if not frames:
            return pd.DataFrame({f.name: [] for f in out_fields})
        return pd.concat(frames, ignore_index=True)

    pairs = b.groupBy("band", "bucket").applyInPandas(block, out_schema)
    if n_bands > 1:
        # a pair colliding in several bands is emitted once per band;
        # the emitted values are identical (same deterministic inputs),
        # so a distinct on the id pair dedups exactly — one small
        # shuffle on pair keys
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    if not exact_rescore:
        return pairs
    # final divide/round/threshold in the JVM: __dot/__na/__nb are
    # bit-identical to what the r15 rescore join recomputed, so the
    # output value hash is unchanged while the plan loses a second
    # corpus scan, a BroadcastExchange and a two-phase first()-agg
    # (nullif keeps the zero-norm → NULL, never NaN, contract)
    return (
        pairs.select(
            "id_a", "id_b",
            F.round(F.col("__dot")
                    / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                    6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 10, n_centroids: int = 16,
             nprobe: int = 4, dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest deterministic
    centroid; search only each query's nprobe nearest centroid buckets.

    Centroids are hyperplane-seeded pseudo-random vectors (stable
    across runs/engines), so the whole operator is deterministic by
    construction and hash-checkable: numpy only picks buckets (argmax /
    top-nprobe over centroid dots, where an ulp flip would need two
    dots equal to ~1e-13); the output cosine is computed JVM-side in
    sequential addition order (DuckDB ``list_dot_product`` parity) via
    two broadcast joins — probe table (query_id, bucket) and query
    vectors, both tiny by contract. The 100 TB side (the embedding
    table) never leaves the executors. Recall vs brute force is
    measured in tests."""
    import numpy as np

    cm = np.array([_hyperplane(dim, 1000 + c) for c in range(n_centroids)], dtype="float64")

    # query vectors are few by contract: hold them driver-side and ship
    # them in the task closure (the 100 TB side — the embedding table —
    # never leaves the executors). driver_bounds class 2: the isin()
    # prune bounds the collect to |query_ids| rows by construction.
    qrows = emb.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qm = np.stack([np.asarray(r[1], dtype="float64") for r in qrows])
    qn = qm / np.sqrt((qm * qm).sum(axis=1))[:, None]
    # nprobe nearest centroid buckets per query (computed on the driver)
    probe = np.argsort(-(qn @ cm.T), axis=1)[:, :nprobe]
    wanted = sorted({int(b) for row in probe for b in row})

    assign_schema = T.StructType(
        [
            T.StructField("nid", T.LongType()),
            T.StructField("vec", T.ArrayType(T.FloatType())),
            T.StructField("bucket", T.IntegerType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            bucket = np.argmax(m @ cm.T, axis=1).astype("int32")
            yield pd.DataFrame({"nid": pdf[id_col], "vec": pdf[vec_col], "bucket": bucket})

    assigned = emb.select(id_col, vec_col).mapInPandas(assign, assign_schema).filter(
        F.col("bucket").isin(wanted)
    )

    # (query_id, bucket) probe table and the query vectors are tiny by
    # contract: broadcast both, score in the JVM sequential fold
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(
        [(int(q), int(b)) for q, row in zip(qids, probe) for b in row],
        "query_id long, bucket int")
    qvecs = spark.createDataFrame(
        [(int(q), [float(x) for x in vec]) for q, vec in
         zip(qids, (r[1] for r in qrows))],
        T.StructType([T.StructField("query_id", T.LongType()),
                      T.StructField("qvec", T.ArrayType(T.DoubleType()))]))
    qvecs = qvecs.withColumn("qnorm", _norm(F.col("qvec"), None))
    scored = (
        assigned.join(F.broadcast(probe_df), "bucket")
        .filter(F.col("nid") != F.col("query_id"))
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            F.round(_dot(F.col("vec"), F.col("qvec"), None)
                    / F.nullif(_norm(F.col("vec"), None) * F.col("qnorm"),
                               F.lit(0.0)), 6)
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def _lloyd_train_codebook(subs: DataFrame, codebook: DataFrame,
                          rounds: int) -> DataFrame:
    """Fixed-round Lloyd refinement of a per-subspace PQ codebook
    (r13, VERDICT r11/r12 item 1).

    ``subs`` is the (id, sub, sv) sub-vector relation (one row per
    vector per subspace); ``codebook`` is the seed (sub, code, c)
    relation. Each round runs the classical two steps relationally:

    * ASSIGN — broadcast a per-sub centroid ARRAY (ordered by code
      id) against the sub-vectors; per row the nearest code is
      ``array_position(d2s, array_min(d2s)) - 1`` — a pure map-side
      argmin (no 1-to-ksub row multiplication, no shuffle) whose
      first-index tie-break equals the lowest code id. Each d2 is the
      sequential ``zip_with``/``aggregate`` JVM fold, bit-identical to
      DuckDB's ``list_sum(list_transform(list_zip(...)))`` replay.
    * UPDATE — new centroid = element-wise mean of the assigned
      sub-vectors, ROUNDED to 6 decimals. The rounding is what makes
      training engine-replayable: Spark's parallel partial sums and
      DuckDB's serial sums agree on the rounded value (ulp differences
      sit ~9 orders of magnitude below the rounding grain), so both
      engines iterate from bit-identical codebooks. Codes that attract
      no members keep their previous centroid (left-join coalesce).

    The refined codebook is COLLECTED to the driver between rounds and
    re-broadcast as a literal — the same structure MLlib's KMeans uses
    (centroids are a driver-side model artifact, tiny by definition:
    m*ksub rows regardless of corpus size). Each round is therefore one
    map-side job over the sub-vector relation plus one partial-agg
    shuffle of m*ksub*sub_d cells; at 100 TB you train on a
    deterministic sample (e.g. ``id % mod = 0``) exactly as FAISS
    trains on ~1M vectors, then encode the full corpus once.

    r14 (VERDICT item 6) — the 6-decimal replay grain is now an
    EXPLICIT bound, not a probabilistic argument: cross-engine
    bit-identity needs the reassociation difference between Spark's
    parallel partial sums and DuckDB's serial fold to stay well under
    the 5e-7 rounding half-grain. That difference is ~|mean| * P *
    2^-53 for P partial sums; at |mean| <= 1e6 and P ~ 4e3 partials it
    is <= ~1e-9 — two-plus orders below the boundary. Centroid values
    (seeds and per-round means — convex combinations of the data, so
    bounded by the data range) outside ±1e6 therefore RAISE instead of
    silently risking a boundary flip; rescale such corpora before
    training (embeddings are ~unit-norm in practice)."""
    spark = subs.sparkSession

    def _check_grain(values, what: str) -> None:
        worst = max((abs(x) for x in values), default=0.0)
        if worst > 1e6:
            raise ValueError(
                f"_lloyd_train_codebook: {what} magnitude {worst:.3g} "
                "exceeds the 1e6 bound that keeps round(avg, 6) "
                "engine-replayable (reassociation error must sit far "
                "below the 5e-7 half-grain); rescale the vectors")
    cb_schema = T.StructType([
        T.StructField("sub", T.IntegerType()),
        T.StructField("code", T.IntegerType()),
        T.StructField("c", T.ArrayType(T.DoubleType())),
    ])
    # driver_bounds class 1: model artifact, m*ksub rows by parameter
    current = {(r["sub"], r["code"]): [float(x) for x in r["c"]]
               for r in codebook.collect()}
    _check_grain((x for v in current.values() for x in v), "seed centroid")
    sub_d = len(next(iter(current.values())))
    subs = subs.select("sub", F.col("sv").cast("array<double>").alias("sv"))
    subs.persist()
    try:
        for _ in range(rounds):
            # per-sub centroid matrix (ordered by code id): assignment
            # is a per-row argmin — no 1-to-ksub row multiplication and
            # no shuffle. r16 (guide §4.2): the argmin runs in an
            # Arrow-batched numpy kernel instead of the interpreted
            # transform/aggregate HOF fold (HOFs are CodegenFallback —
            # n·ksub interpreted 2-element folds dominated every
            # training round; measured ~2x on the whole trained-PQ
            # entries). Bit-exactness is preserved by construction: the
            # kernel accumulates (sv[j]-c[j])² in ascending-j order
            # starting from 0.0 — the identical IEEE-754 op sequence of
            # the JVM sequential fold and of the DuckDB replay — and
            # np.argmin returns the FIRST index of the minimum, the
            # same tie-break as array_position(d2s, array_min(d2s))
            # and the oracle's ORDER BY d2, code.
            #
            # r17 (VERDICT r16 item 5, guide §2.3/§4.2): ASSIGN and
            # UPDATE are FUSED into one kernel pass. The r16 shape
            # shipped the full (sub, sv, code) relation back through
            # Arrow, posexploded it to n·sub_d cells and hash-
            # aggregated them JVM-side; the kernel already holds the
            # assigned sub-vectors, so it now accumulates the per-
            # (sub, code) element sums and counts itself (np.add.at —
            # in-order, unbuffered) and emits only the m·ksub·sub_d
            # partial rows per task. Per round the Arrow return + the
            # corpus-sized explode/aggregate disappear; the shuffle
            # carries codebook-sized partials regardless of corpus
            # size. The rounded mean is unchanged under the documented
            # 1e6/±5e-7 replay-grain bound (_check_grain): the partial-
            # sum association differs (numpy task-local sums + one
            # float merge per task vs Spark's per-partition Average
            # buffers), and the bound already covers ANY reassociation
            # at P ≲ 4e3 partials — task counts are far below that.
            # Oracle parity (which replays training bit-exactly)
            # re-verified at sf0.001/0.01/0.1 after this change.
            import numpy as np

            by_sub: dict[int, list[list[float]]] = {}
            for (s, c), v in sorted(current.items()):
                by_sub.setdefault(s, []).append(v)
            subm = {s: np.array(v, dtype="float64") for s, v in by_sub.items()}

            def assign_partials(batches, _subm=subm):
                sums: dict[int, "np.ndarray"] = {}
                cnts: dict[int, "np.ndarray"] = {}
                for pdf in batches:
                    if not len(pdf):
                        continue
                    sarr = pdf["sub"].to_numpy()
                    x = np.stack(pdf["sv"].to_numpy()).astype("float64")
                    for s in np.unique(sarr):
                        si = int(s)
                        mask = sarr == s
                        cmat = _subm[si]              # (ksub_s, sub_d)
                        xs = x[mask]
                        codes = np.argmin(_seq_d2(xs, cmat), axis=1)
                        if si not in sums:
                            sums[si] = np.zeros(cmat.shape)
                            cnts[si] = np.zeros(cmat.shape[0],
                                                dtype=np.int64)
                        np.add.at(sums[si], codes, xs)
                        np.add.at(cnts[si], codes, 1)
                frames = []
                for si in sorted(sums):
                    nz = np.nonzero(cnts[si])[0]
                    if not len(nz):
                        continue
                    d_ = sums[si].shape[1]
                    frames.append(pd.DataFrame({
                        "sub": np.full(len(nz) * d_, si, dtype="int32"),
                        "code": np.repeat(nz, d_).astype("int32"),
                        "pos": np.tile(np.arange(d_, dtype="int32"),
                                       len(nz)),
                        "psum": sums[si][nz].ravel(),
                        "pcnt": np.repeat(cnts[si][nz], d_),
                    }))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

            partials = subs.mapInPandas(
                assign_partials,
                T.StructType([
                    T.StructField("sub", T.IntegerType()),
                    T.StructField("code", T.IntegerType()),
                    T.StructField("pos", T.IntegerType()),
                    T.StructField("psum", T.DoubleType()),
                    T.StructField("pcnt", T.LongType()),
                ]))
            # element-wise mean per (sub, code), rounded: the shuffle
            # now carries only per-task codebook-sized partials; empty
            # codes emit no rows and keep their centroid below
            upd = (
                partials.groupBy("sub", "code", "pos")
                .agg(F.round(F.sum("psum") / F.sum("pcnt"), 6)
                     .alias("mval"))
            )
            fresh: dict[tuple[int, int], list[float]] = {}
            # driver_bounds class 1: m*ksub*sub_d cells by parameter
            for r in upd.collect():
                fresh.setdefault((r["sub"], r["code"]),
                                 [0.0] * sub_d)[r["pos"]] = float(r["mval"])
            _check_grain((x for v in fresh.values() for x in v),
                         "trained centroid mean")
            current.update(fresh)
    finally:
        subs.unpersist()
    return spark.createDataFrame(
        [(s, c, v) for (s, c), v in sorted(current.items())], cb_schema)


def _collect_codebook(codebook: DataFrame) -> dict:
    """Codebook DataFrame -> {sub: (ksub, sub_d) float64 matrix ordered
    by code id}. A bounded driver-side model artifact (m*ksub rows
    regardless of corpus size — the same bound the Lloyd trainer
    already relies on)."""
    import numpy as np

    rows: dict[int, list] = {}
    # driver_bounds class 1: model artifact, m*ksub rows by parameter
    for r in codebook.collect():
        rows.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["c"]]))
    return {s: np.array([v for _, v in sorted(lst)], dtype="float64")
            for s, lst in rows.items()}


def _seq_d2(xs, cmat):
    """(n, d) x (k, d) -> (n, k) squared L2 accumulated element-by-
    element in ascending-j order from 0.0 — the identical IEEE-754 op
    sequence of the JVM ``aggregate(zip_with(sv, c, (a,b)->(a-b)*(a-b)))``
    fold and of the DuckDB list-fold replay (numpy's pairwise-sum
    ``((x-c)**2).sum()`` is deliberately NOT used)."""
    import numpy as np

    acc = np.zeros((xs.shape[0], cmat.shape[0]))
    for j in range(xs.shape[1]):
        diff = xs[:, j, None] - cmat[None, :, j]
        acc = acc + diff * diff
    return acc


def _encode_codes(rel: DataFrame, subm: dict, passthrough: list[str],
                  sv_col: str = "sv") -> DataFrame:
    """Nearest-code assignment (…, sub, sv) -> (…, sub, code) via an
    Arrow-batched numpy kernel (r16, guide §4.2) — replaces the
    broadcast-join + interpreted transform/aggregate HOF argmin (HOFs
    are CodegenFallback; the n·m·ksub interpreted folds dominated the
    PQ entries). Bit-exact: `_seq_d2` op order + np.argmin first-index
    tie-break == array_position(d2s, array_min(d2s)) == the oracle's
    ORDER BY d2, code."""
    import numpy as np

    in_fields = {f.name: f for f in rel.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in passthrough]
        + [in_fields["sub"], T.StructField("code", T.IntegerType())])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sarr = pdf["sub"].to_numpy()
            x = np.stack(pdf[sv_col].to_numpy()).astype("float64")
            codes = np.empty(len(pdf), dtype="int32")
            for s in np.unique(sarr):
                mask = sarr == s
                codes[mask] = np.argmin(_seq_d2(x[mask], subm[int(s)]), axis=1)
            out = {c: pdf[c] for c in passthrough}
            out["sub"] = pdf["sub"]
            out["code"] = codes
            yield pd.DataFrame(out)

    return rel.mapInPandas(kernel, out_schema)


def _adc_table(rel: DataFrame, subm: dict, passthrough: list[str],
               qv_col: str = "qv") -> DataFrame:
    """Per-query ADC lookup rows (…, sub, code, d2c): every code's
    sequential-fold squared L2 against the query sub-vector, expanded
    inside the same numpy kernel (one output row per (input row, code)).
    Values bit-identical to the old join-against-codebook interpreted
    fold; the table stays |q|·m·ksub rows — broadcast-sized."""
    import numpy as np

    in_fields = {f.name: f for f in rel.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in passthrough]
        + [in_fields["sub"], T.StructField("code", T.IntegerType()),
           T.StructField("d2c", T.DoubleType())])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sarr = pdf["sub"].to_numpy()
            x = np.stack(pdf[qv_col].to_numpy()).astype("float64")
            outs = []
            for s in np.unique(sarr):
                mask = np.nonzero(sarr == s)[0]
                cmat = subm[int(s)]
                d2 = _seq_d2(x[mask], cmat)          # (n_s, ksub_s)
                kk = cmat.shape[0]
                idx = np.repeat(mask, kk)
                # positional .to_numpy()[idx] (a Series .take would
                # carry its index into the frame and misalign columns)
                frame = {c: pdf[c].to_numpy()[idx] for c in passthrough}
                frame["sub"] = pdf["sub"].to_numpy()[idx]
                frame["code"] = np.tile(np.arange(kk, dtype="int32"),
                                        len(mask))
                frame["d2c"] = d2.ravel()
                outs.append(pd.DataFrame(frame))
            yield pd.concat(outs, ignore_index=True)

    return rel.mapInPandas(kernel, out_schema)


def pq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
            m: int = 4, ksub: int = 16, dim: int = 64,
            train_rounds: int = 0,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Product-quantization ANN top-k (r11) — the classical MEMORY
    scale path for vector search at 100 TB: each vector is encoded as
    ``m`` sub-space codebook ids (here m=4 over dim/m-wide slices,
    ksub=16 codes => 4 bytes/vector instead of 256), and query-time
    distance is the Asymmetric Distance Computation (ADC) sum of
    per-subspace lookup-table entries — the corpus scan touches CODES
    only, never raw floats (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011).

    Deterministic-by-construction so a SQL oracle can replay it
    exactly: codebooks seed from the ``ksub`` lowest vec_ids'
    sub-vectors and (r13) optionally refine through ``train_rounds``
    fixed Lloyd iterations (``_lloyd_train_codebook`` — rounded
    centroid means keep both engines on bit-identical codebooks, so
    DuckDB replays TRAINING end-to-end, not just encode/scan); argmin
    ties break on the lowest code id, and the ADC sum adds the m
    contributions in FIXED subspace order (a groupBy float sum would
    re-associate). Plan shape: one broadcast join against the
    (m*ksub)-row codebook to ENCODE, one broadcast join against the
    (|queries|*m*ksub)-row ADC table to SCORE, window top-k.
    Trained recall (m=32, ksub=64, 10 rounds, sf0.01 fixture) is
    ~0.8 vs exact cosine top-10; untrained seeds are the ~0.3 floor.
    Returns (query_id, neighbor_id, rank, approx_d2)."""
    sub_d = dim // m
    if sub_d * m != dim:
        raise ValueError(f"m={m} must divide dim={dim}")
    vecs = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # (id, sub, subvec): explode the m slices — per-row, no shuffle.
    # r17 (guide §2.1): the relation feeds the codebook seed, the
    # trainer, the encode pass and the query lookup — four corpus
    # scans+explodes without a checkpoint; one lazy localCheckpoint
    # evaluates it once (identical output, interleaved med
    # 3.86 -> 3.50 s at sf0.1 — scratch/ab_pq_subs.log).
    subs = vecs.select(
        F.col(id_col),
        F.posexplode(F.array(*[
            F.slice("v", s * sub_d + 1, sub_d) for s in range(m)
        ])).alias("sub", "sv"),
    ).localCheckpoint(eager=False)
    codebook = (
        vecs.orderBy(F.col(id_col)).limit(ksub)
        .select(F.col(id_col), F.posexplode(F.array(*[
            F.slice("v", s * sub_d + 1, sub_d) for s in range(m)
        ])).alias("sub", "c"))
    )
    # stable code ids 0..ksub-1 by seed vec_id order
    cw = Window.partitionBy("sub").orderBy(id_col)
    codebook = codebook.select(
        "sub", (F.row_number().over(cw) - 1).alias("code"), "c")
    if train_rounds > 0:
        codebook = _lloyd_train_codebook(subs, codebook, train_rounds)
    # ENCODE via per-row argmin over the collected codebook (r13 killed
    # the n*m*ksub row multiplication; r16 moves the argmin from the
    # interpreted transform/aggregate HOF into the Arrow-batched numpy
    # kernel — guide §4.2 — with the identical fold order and
    # first-index tie-break, see _encode_codes). ADC table likewise.
    subm = _collect_codebook(codebook)
    codes = _encode_codes(subs, subm, [id_col])
    # ADC lookup table: |queries| x m x ksub rows — tiny, broadcast.
    queries = subs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "sub", F.col("sv").alias("qv"))
    adc = _adc_table(queries, subm, ["query_id"])
    # score: join codes -> one ADC entry per (vec, sub); FIXED-ORDER
    # addition via per-subspace conditional sums (each sums ONE value)
    scored = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(*[F.sum(F.when(F.col("sub") == s, F.col("d2c"))).alias(f"__s{s}")
               for s in range(m)])
    )
    total = F.col("__s0")
    for s in range(1, m):
        total = total + F.col(f"__s{s}")
    scored = scored.select(
        "query_id", "neighbor_id", F.round(total, 6).alias("approx_d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def scale_aware_nc(n: int) -> int:
    """Deterministic IVF centroid-count rule (r14, VERDICT item 3):
    ``nc = min(1024, max(4, floor(sqrt(n / 25))))`` — FAISS-style
    sqrt-scaling (~25 vectors per cell at the small end), floored at 4
    so tiny fixtures keep multiple buckets. For integer n,
    ``floor(sqrt(n/25)) == isqrt(n//25)`` exactly (both equal k iff
    25k^2 <= n < 25(k+1)^2), so the SQL form
    ``floor(sqrt(n/25.0))`` replays it without float-boundary risk.

    r15 (VERDICT order #3): the cap is a BUDGET knob, not a structural
    limit — the oracle derives seeds from the data via CTE, so the r14
    value of 64 was arbitrary; it now sits at 1024 (driver-side seed
    collect of nc rows stays trivially small — 1024 x dim doubles —
    and the sqrt rule would need n > 26 billion vectors to hit it).
    The n=200k+ stress row in scratch/scale_stress.py exercises
    nc > 64 with the recall >= 0.6 gate."""
    import math

    return min(1024, max(4, math.isqrt(max(0, int(n)) // 25)))


def scale_aware_nprobe(nc: int) -> int:
    """Probe-count companion rule: ``max(3, ceil(nc / 4))`` — probe a
    quarter of the cells (FAISS's common recall/speed point), floored
    at 3 so small nc keeps redundancy."""
    return max(3, -(-int(nc) // 4))


def ivfpq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
               n_centroids: int | None = 8, nprobe: int | None = 3,
               m: int = 4, ksub: int = 16, dim: int = 64,
               train_rounds: int = 0, coarse_train_rounds: int = 0,
               refine: int = 0,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ ANN (r11) — the composition FAISS actually ships: an IVF
    coarse quantizer restricts the search to ``nprobe`` buckets, and
    within them vectors are PQ-encoded on their RESIDUALS (v minus the
    bucket centroid), so the scan reads 4-byte codes AND skips
    (1 - nprobe/n_centroids) of the corpus. Query-time distance is the
    per-(query, bucket) ADC table over residual codebooks.

    Deterministic by construction (hyperplane-seeded coarse centroids —
    same as ``ivf_topk`` — and seed residual codebooks from the ksub
    lowest vec_ids), so DuckDB replays coarse assignment + residuals +
    encode + ADC bit-for-bit (sequential list folds; ADC sums add the m
    subspace terms in fixed order). ``train_rounds`` (r13) refines the
    residual codebooks through fixed Lloyd iterations over ALL
    residuals (``_lloyd_train_codebook`` — rounded centroid means keep
    the training itself engine-replayable). Trained recall (nc=4,
    nprobe=3, m=32, ksub=128, 8 rounds, sf0.01 fixture) is ~0.66 vs
    exact cosine top-10; untrained seeds are the ~0.1 floor.

    r14 (VERDICT item 3) — scale-aware TRAINED coarse quantizer:
    ``n_centroids=None`` applies ``scale_aware_nc(count)`` and
    ``nprobe=None`` applies ``scale_aware_nprobe(nc)``;
    ``coarse_train_rounds > 0`` switches the coarse quantizer from
    seeded random hyperplanes to Lloyd-TRAINED centroids (seeds = the
    nc lowest ids' vectors, refined by the same relational trainer as
    the codebooks with the full vector as one sub-space) and
    assignment from argmax-dot to argmin-L2 — residuals then measure
    displacement from a genuine cluster mean, which is what makes ADC
    accurate (random-hyperplane residuals are ~full-magnitude and
    PQ error dominated recall: 0.56 at sf0.1; trained coarse lifts it
    past the 0.6 gate). coarse_train_rounds=0 keeps the r11 hyperplane
    behavior bit-for-bit. Returns (query_id, neighbor_id, rank,
    approx_d2).

    r16 (VERDICT item 3) — **exact re-rank (FAISS refine stage)**:
    the r16 nprobe sweep (scratch/nprobe_sweep_r16.log) showed
    mid-scale recall FLAT at 0.66 from nprobe=3 all the way to
    nprobe=nc (every cell probed) — the recall ceiling is ADC
    quantization error, not coarse probing, so no nprobe rule can
    lift it. ``refine > 0`` keeps the ADC top ``k * refine`` per
    query as a shortlist and re-scores it with EXACT squared L2
    (JVM sequential fold, bit-identical to DuckDB's list fold), then
    re-ranks. At scale this is one extra id-pruned lookup of
    k*refine rows per query — the standard IVFPQR composition — and
    it turns ADC's job from "rank exactly" into "don't miss".
    Output column is ``exact_d2`` when refining (ranked on the
    rounded value, neighbor_id tie-break)."""
    import numpy as np

    sub_d = dim // m
    if sub_d * m != dim:
        raise ValueError(f"m={m} must divide dim={dim}")
    if n_centroids is None:
        n_centroids = scale_aware_nc(emb.count())
    if nprobe is None:
        nprobe = scale_aware_nprobe(n_centroids)
    use_l2 = coarse_train_rounds > 0
    if use_l2:
        # coarse seeds: the nc lowest ids' raw vectors (replayable),
        # trained by the relational Lloyd trainer with ONE sub-space
        # covering the full vector
        # driver_bounds class 2: LIMIT bounds the collect to n_centroids
        seed_rows = (emb.select(id_col, vec_col).orderBy(id_col)
                     .limit(n_centroids).collect())
        spark0 = emb.sparkSession
        seed_cb = spark0.createDataFrame(
            [(0, c, [float(x) for x in r[1]])
             for c, r in enumerate(seed_rows)],
            T.StructType([T.StructField("sub", T.IntegerType()),
                          T.StructField("code", T.IntegerType()),
                          T.StructField("c", T.ArrayType(T.DoubleType()))]))
        fullsubs = emb.select(
            F.lit(0).alias("sub"),
            F.col(vec_col).cast("array<double>").alias("sv"))
        trained = _lloyd_train_codebook(fullsubs, seed_cb,
                                        coarse_train_rounds)
        cm = np.array([[float(x) for x in r["c"]] for r in
                       sorted(trained.collect(), key=lambda r: r["code"])],
                      dtype="float64")
    else:
        cm = np.array([_hyperplane(dim, 1000 + c)
                       for c in range(n_centroids)], dtype="float64")

    # driver_bounds class 2: isin() bounds the collect to |query_ids|
    qrows = emb.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    qids = [int(r[0]) for r in qrows]
    qm = np.stack([np.asarray(r[1], dtype="float64") for r in qrows])
    if use_l2:
        qd2m = (((qm * qm).sum(axis=1)[:, None]
                 - 2.0 * qm @ cm.T) + (cm * cm).sum(axis=1)[None, :])
        probe = np.argsort(qd2m, axis=1, kind="stable")[:, :nprobe]
    else:
        qn = qm / np.sqrt((qm * qm).sum(axis=1))[:, None]
        probe = np.argsort(-(qn @ cm.T), axis=1)[:, :nprobe]
    wanted = sorted({int(b) for row in probe for b in row})

    assign_schema = T.StructType([
        T.StructField("nid", T.LongType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
        T.StructField("bucket", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            mtx = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            if use_l2:
                # argmin ||v-c||^2 = argmin(c.c - 2 v.c); first-index
                # tie-break == lowest code id (oracle: ORDER BY d2, cid)
                d2 = (cm * cm).sum(axis=1)[None, :] - 2.0 * (mtx @ cm.T)
                bucket = np.argmin(d2, axis=1).astype("int32")
            else:
                bucket = np.argmax(mtx @ cm.T, axis=1).astype("int32")
            yield pd.DataFrame({"nid": pdf[id_col], "vec": pdf[vec_col],
                                "bucket": bucket})

    assigned = emb.select(id_col, vec_col).mapInPandas(assign, assign_schema)
    cent_lit = F.array(*[
        F.array(*[F.lit(float(w)) for w in cm[c]]) for c in range(n_centroids)])
    resid = F.zip_with(
        F.col("vec").cast("array<double>"),
        F.element_at(cent_lit, F.col("bucket") + 1),
        lambda a, b: a - b)
    # r17 (guide §2.1/§4.1): the residual relation feeds the codebook
    # seed, the Lloyd trainer's persisted sub-vector relation AND the
    # encode input — without a checkpoint each consumer re-ran the
    # Python assign kernel plus the 64-element zip_with over the whole
    # corpus (3 full Arrow passes per query). One lazy localCheckpoint
    # evaluates it once; values are unchanged (same kernel, same fold).
    rv = (assigned.select("nid", "bucket", resid.alias("r"))
          .localCheckpoint(eager=False))

    def _slices(col: str):
        return F.posexplode(F.array(*[
            F.slice(col, s * sub_d + 1, sub_d) for s in range(m)]))

    # residual codebooks: the ksub lowest ids' residual slices
    cw = Window.partitionBy("sub").orderBy("nid")
    codebook = (
        rv.orderBy("nid").limit(ksub)
        .select("nid", _slices("r").alias("sub", "c"))
        .select("sub", (F.row_number().over(cw) - 1).alias("code"), "c")
    )
    if train_rounds > 0:
        # train on ALL residuals (not just probed buckets): the
        # codebook is query-independent, exactly as FAISS trains it
        rsubs = rv.select("nid", _slices("r").alias("sub", "sv"))
        codebook = _lloyd_train_codebook(rsubs, codebook, train_rounds)
    # ENCODE via per-row argmin over the collected codebook (r13 killed
    # the row multiplication; r16 runs the argmin in the Arrow-batched
    # numpy kernel — same fold order and tie-break, see _encode_codes)
    subm = _collect_codebook(codebook)
    codes = _encode_codes(
        rv.filter(F.col("bucket").isin(wanted))
        .select("nid", "bucket", _slices("r").alias("sub", "sv")),
        subm, ["nid", "bucket"])
    # per-(query, probed bucket) residual -> ADC table, built from the
    # literal query vectors (tiny by contract)
    spark = emb.sparkSession
    qvecs = spark.createDataFrame(
        [(q, [float(x) for x in vec]) for q, vec in
         zip(qids, (r[1] for r in qrows))],
        T.StructType([T.StructField("query_id", T.LongType()),
                      T.StructField("qv", T.ArrayType(T.DoubleType()))]))
    probe_df = spark.createDataFrame(
        [(q, int(b)) for q, row in zip(qids, probe) for b in row],
        "query_id long, bucket int")
    # both sides are driver-side literals (ExistingRDD — no stats), so
    # hint the broadcast or the planner falls back to a sort-merge join
    qres = probe_df.join(F.broadcast(qvecs), "query_id").select(
        "query_id", "bucket",
        F.zip_with("qv", F.element_at(cent_lit, F.col("bucket") + 1),
                   lambda a, b: a - b).alias("qr"))
    adc = _adc_table(
        qres.select("query_id", "bucket", _slices("qr").alias("sub", "sv")),
        subm, ["query_id", "bucket"], qv_col="sv")
    scored = (
        codes.join(F.broadcast(adc), ["bucket", "sub", "code"])
        .filter(F.col("nid") != F.col("query_id"))
        .groupBy("query_id", F.col("nid").alias("neighbor_id"))
        .agg(*[F.sum(F.when(F.col("sub") == s, F.col("d2c"))).alias(f"__s{s}")
               for s in range(m)])
    )
    total = F.col("__s0")
    for s in range(1, m):
        total = total + F.col(f"__s{s}")
    scored = scored.select(
        "query_id", "neighbor_id", F.round(total, 6).alias("approx_d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id"))
    if refine <= 0:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "approx_d2")
        )
    # exact re-rank (r16): broadcast the tiny ADC shortlist back onto
    # the corpus (id-pruned lookup of k*refine rows per query), score
    # with the exact sequential-fold squared L2, re-rank on the
    # ROUNDED value (both engines rank identically at 6 decimals)
    shortlist = (
        scored.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= k * refine)
        .select("query_id", "neighbor_id")
    )
    nvecs = emb.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("nv"))
    exact_d2 = F.aggregate(
        F.zip_with("qv", "nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    rescored = (
        nvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select("query_id", "neighbor_id",
                F.round(exact_d2, 6).alias("exact_d2"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("exact_d2"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "exact_d2")
    )


def coverage_sample(emb: DataFrame, k: int = 3, n_centroids: int = 8,
                    dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-space coverage / diversity sampling: keep the k most
    prototypical vectors of every centroid bucket (SemDeDup-style
    prototype selection — a small sample that still covers the
    embedding space, the opposite knob from random sampling).

    Deterministic by construction: centroids are the same
    hyperplane-seeded vectors as ``ivf_topk`` (stable across
    runs/engines); assignment is argmax over centroid dots (ties ->
    lowest centroid id, matching np.argmax); prototypicality is the
    cosine to the OWN centroid, computed in the JVM sequential fold
    (DuckDB ``list_dot_product`` addition order) so the operator
    hash-checks against a literal-weight replay oracle.

    Scale: ONE Arrow pass assigns buckets (numpy matmul per batch), the
    |centroids| x dim table broadcasts back for scoring, and the only
    shuffle is the per-bucket top-k window on the bucket key. No
    driver-side vectors."""
    import numpy as np

    cm = np.array([_hyperplane(dim, 1000 + c) for c in range(n_centroids)],
                  dtype="float64")
    assign_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(vec_col, T.ArrayType(T.FloatType())),
        T.StructField("bucket", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            bucket = np.argmax(m @ cm.T, axis=1).astype("int32")
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: pdf[vec_col],
                                "bucket": bucket})

    assigned = emb.select(id_col, vec_col).mapInPandas(assign, assign_schema)
    spark = emb.sparkSession
    cvecs = spark.createDataFrame(
        [(c, [float(x) for x in cm[c]]) for c in range(n_centroids)],
        T.StructType([T.StructField("bucket", T.IntegerType()),
                      T.StructField("cvec", T.ArrayType(T.DoubleType()))]))
    cvecs = cvecs.withColumn("cnorm", _norm(F.col("cvec"), None))
    scored = assigned.join(F.broadcast(cvecs), "bucket").select(
        "bucket", F.col(id_col),
        F.round(_dot(F.col(vec_col), F.col("cvec"), None)
                / F.nullif(_norm(F.col(vec_col), None) * F.col("cnorm"),
                           F.lit(0.0)), 6).alias("proto"),
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("proto"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("bucket", id_col, F.col("rk").cast("int").alias("rk"), "proto")
    )


def semantic_decontaminate(emb: DataFrame, bench_pred: Column,
                           threshold: float = 0.35, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose cosine to ANY benchmark vector meets the threshold —
    the semantic complement of n-gram decontamination
    (operators/decontaminate.py), catching paraphrased eval leakage
    that exact n-grams miss. Returns (id, n_hits, max_sim) for flagged
    vectors only.

    ``bench_pred`` is a Column predicate selecting the benchmark rows
    out of the embedding table; benchmark sets are small by contract
    (eval suites are thousands of rows against a 100 TB corpus), so
    the benchmark side BROADCASTS and the scan of the corpus is the
    only big-data pass — a deliberate broadcast nested loop, same
    shape as cosine_topk_bruteforce. For a large benchmark side use
    the LSH-bucketed ``cosine_near_pairs`` path instead. Cosines are
    JVM sequential folds (DuckDB ``list_dot_product`` parity), so the
    operator hash-checks; max over the ROUNDED value keeps the
    aggregate engine-exact."""
    bench = emb.filter(bench_pred).select(
        F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bv"),
        _norm(F.col(vec_col), None).alias("__bn"))
    corpus = emb.filter(~bench_pred).select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col), None).alias("__n"))
    cos = F.round(
        _dot(F.col(vec_col), F.col("__bv"), None)
        / F.nullif(F.col("__n") * F.col("__bn"), F.lit(0.0)), 6)
    return (
        corpus.crossJoin(F.broadcast(bench))
        .select(F.col(id_col), cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"),
             F.max("cos").alias("max_sim"))
    )


def centroid_distances(emb: DataFrame, vec_col: str = "embedding",
                       label_col: str = "label", id_col: str = "vec_id") -> DataFrame:
    """Per-vector cosine similarity to its label's centroid — embedding
    QA / outlier detection (mislabeled or corrupted vectors sit far from
    their cluster center). Returns (id, label, cos_centroid).

    Scale: posexplode to (id, label, pos, val) — D x N rows, the same
    order as one corpus scan of the vectors; centroids are one
    groupBy(label, pos) with map-side partial avg; the centroid table
    (|labels| x D rows) is tiny and BROADCAST back, so the scoring pass
    is map-side. No driver-side vectors, no UDFs."""
    from pyspark.sql.functions import broadcast

    ex = emb.select(
        F.col(id_col), F.col(label_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    cen = ex.groupBy(label_col, "pos").agg(F.avg("val").alias("c"))
    cnorm = cen.groupBy(label_col).agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"))
    dots = (
        ex.join(broadcast(cen), [label_col, "pos"])
        .groupBy(id_col, label_col)
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nv"),
        )
    )
    return dots.join(broadcast(cnorm), label_col).select(
        F.col(id_col), F.col(label_col),
        F.round(F.col("dot") / (F.col("nv") * F.col("nc")), 6).alias("cos_centroid"),
    )


def kmeans_fixed_rounds(emb: DataFrame, k: int = 4, rounds: int = 2,
                        vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Deterministic Lloyd k-means over the embedding column, expressed
    entirely relationally — the distributed clustering step of a
    semantic-dedup / data-mixing pipeline, with a fixed round count and
    deterministic seeding (centroids = the k lowest vec_ids) so an
    external oracle can replay it exactly.

    Per round: assignment is a BROADCAST join of the k-row centroid
    table against the vectors (argmin via min_by over (dist, cid) —
    deterministic tie-break on centroid id), update is one
    posexplode + groupBy(cluster, pos) mean. Nothing driver-side, no
    UDFs; at 100 TB this is k-means exactly as MLlib runs it, minus
    sampling-based init. Returns (cluster_id, n_vecs, mean_dist):
    cluster sizes and mean member distance, rounded for float-ulp
    tolerance."""
    from pyspark.sql.functions import broadcast

    vecs = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    # the k LOWEST ids (as documented) — filter(id < k) silently
    # seeded fewer/zero centroids for non-zero-based id spaces
    cents = vecs.orderBy(F.col(id_col)).limit(k).select(
        F.col(id_col).cast("int").alias("cid"), F.col("v").alias("c"))

    def _assign(vs: DataFrame, cs: DataFrame) -> DataFrame:
        # squared L2 via one zip_with/aggregate pass (JVM codegen)
        dist = F.aggregate(
            F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        return (
            vs.join(broadcast(cs))
            .select(id_col, "v", F.col("cid"), dist.alias("d2"))
            .groupBy(id_col, "v")
            .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cluster_id"),
                 F.min("d2").alias("d2"))
        )

    for _ in range(rounds):
        assigned = _assign(vecs, cents)
        cents = (
            assigned.select("cluster_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster_id", "pos").agg(F.avg("val").alias("m"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(F.col("cluster_id").alias("cid"),
                    F.expr("transform(pm, x -> x.m)").alias("c"))
        )
    final = _assign(vecs, cents)
    return (
        final.groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("n_vecs"),
             F.round(F.avg(F.sqrt("d2")), 6).alias("mean_dist"))
    )
