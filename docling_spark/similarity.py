"""Similarity search over the ``embeddings`` table (array<float> column).

- Brute-force cosine top-k: the exact baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM-side higher-order functions, no
  Python). Query side is broadcast - the big side streams.
- LSH (random hyperplane) bucketed variant: the 100-TB path. Sign-bit
  sketches bucket the corpus; only same-bucket pairs get exact scoring.
  Hyperplanes are deterministic (seeded) so results are reproducible.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from docling_spark.textfns import _ident, md5_int, md5_int_sql


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_normalized(embeddings: DataFrame, col="embedding") -> DataFrame:
    n = _norm(F.col(col))
    # divide via zip_with against array_repeat(n, size): the norm
    # subtree is evaluated ONCE per row. The direct transform(col, v/n)
    # duplicated the whole aggregate-fold norm into the lambda body,
    # where it was re-evaluated per ELEMENT (a dim^2 interpreted-op
    # blowup per row that dominated every normalized corpus scan).
    # Division operands and order are unchanged, so values are
    # bit-identical.
    scaled = F.zip_with(F.col(col),
                        F.array_repeat(n, F.size(F.col(col))),
                        lambda v, nn: v / nn)
    return embeddings.withColumn(
        "norm_emb",
        F.when(n > 0, scaled).otherwise(F.col(col)),
    )


def cosine_topk_bruteforce(embeddings: DataFrame, queries: DataFrame,
                           k: int = 5) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries``: (vec_id, embedding) - small; broadcast to every task so the
    corpus never shuffles. Score = cosine; ties broken by neighbor id.
    """
    corpus = with_normalized(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("norm_emb").alias("nbr_emb"))
    qs = with_normalized(queries).select(
        F.col("vec_id").alias("query_id"), F.col("norm_emb").alias("q_emb"))
    scored = corpus.join(F.broadcast(qs),
                         F.col("nbr_id") != F.col("query_id"))
    scored = scored.withColumn("cosine", _dot(F.col("q_emb"),
                                              F.col("nbr_emb")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("cosine"), F.asc("nbr_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42):
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _sketch_keys_udf(dim, n_planes: int, seeds: list, masks=None):
    """Vectorized LSH sketch keys: a pandas UDF computing, per Arrow
    batch, one numpy matmul against all tables' hyperplanes at once and
    packing sign bits into composite ``(table << n_planes) | bucket``
    keys (optionally expanded by XOR probe masks).

    ``dim=None`` infers the dimension from the first Arrow batch inside
    the UDF — hyperplanes are deterministic given (dim, n_planes, seed),
    so every executor lazily builds the identical matrix and no driver
    ``.first()`` action is needed to discover the width."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_tables = len(seeds)
    bit_weights = (1 << np.arange(n_planes)).astype(np.int64)
    table_offsets = (np.arange(n_tables, dtype=np.int64) << n_planes)
    mask_arr = (np.array(masks, dtype=np.int64)
                if masks else np.zeros(1, dtype=np.int64))
    cache: dict = {}

    def _w(d: int):
        if d not in cache:
            planes = np.array(
                [random_hyperplanes(d, n_planes, s) for s in seeds],
                dtype=np.float64)               # (T, P, dim)
            cache[d] = planes.reshape(-1, d).T  # (dim, T*P)
        return cache[d]

    if dim is not None:
        _w(dim)

    @pandas_udf("array<long>")
    def keys(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(emb.tolist(), dtype=np.float64)      # (n, dim)
        signs = (mat @ _w(mat.shape[1])) > 0                 # (n, T*P)
        buckets = (signs.reshape(len(mat), n_tables, n_planes)
                   @ bit_weights)                            # (n, T)
        # probe expansion: bucket ^ mask, then table offset
        probed = (buckets[:, :, None] ^ mask_arr[None, None, :]
                  ) + table_offsets[None, :, None]           # (n, T, M)
        flat = probed.reshape(len(mat), -1)
        return pd.Series(list(flat))

    return keys


def _md5_bucket_sql(col: str, n_planes: int, seed: int, table: int,
                    w_idx: int, int_col: str) -> str:
    """Sign-bit sketch bucket for ONE table of the md5-derived INTEGER
    hyperplane family, as SQL text for one ``F.expr`` parse.

    Plane entry w(t,i,d) = (md5_60bit("lsh:<seed>:<t>:<i>:<d>") % 17) - 8
    (zero-mean integers in [-8, 8]); the embedding is pre-scaled to
    integers via floor(x * 1e6) in ``int_col``, so every dot product is
    EXACT integer arithmetic - no float summation order, which makes
    the bucket assignment engine-portable (DuckDB computes the
    identical bits, the trick that graduated hash_embed to an exact
    oracle). The gaussian family stays the production default: its
    planes are isotropic (uniform angular coverage) while the integer
    family is slightly lattice-quantized - fine for an oracle-twinned
    fixture, not what you'd pick for recall at scale.

    The plane entries depend only on (seed, table, i, d), so they are
    precomputed driver-side (:func:`_md5_plane_weights`) and read from
    the broadcast ``__w`` column (``w_idx`` is the 1-based index of this
    table's planes in it); ``slice`` trims each plane to the row's
    dimensionality. Rows wider than the precomputed planes fall back to
    the per-element :func:`textfns.md5_int_sql` weight (same values,
    just slower). Built as SQL text because the Column DSL form cost
    hundreds of py4j round-trips (~0.5 s per table) to construct.
    ``tests/test_operators.py::test_md5_bucket_sql_matches_hashlib``
    pins the values against a hashlib reference.
    """
    c, ci = _ident(col), _ident(int_col)
    plane = lambda i: f"element_at(element_at(`__w`, {w_idx}), {i + 1})"
    terms = ["CAST(0 AS BIGINT)"]
    for i in range(n_planes):
        fast = (f"aggregate(zip_with({ci}, "
                f"slice({plane(i)}, 1, size({c})), "
                f"(x, w) -> x * w), CAST(0 AS BIGINT), "
                f"(acc, v) -> acc + v)")
        w = md5_int_sql("CAST(d AS STRING)", f"lsh:{seed}:{table}:{i}:")
        slow = (f"aggregate(zip_with({ci}, "
                f"sequence(0, size({c}) - 1), "
                f"(x, d) -> x * (({w} % 17) - 8)), CAST(0 AS BIGINT), "
                f"(acc, v) -> acc + v)")
        dot = (f"CASE WHEN size({c}) <= size({plane(i)}) "
               f"THEN {fast} ELSE {slow} END")
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _md5_plane_weights(n_planes: int, seed: int, table: int,
                       max_dim: int = 128) -> list:
    """Driver-side plane entries of :func:`_md5_bucket_sql`:
    :func:`textfns.md5_int` % 17 - 8 (non-negative dividend, so
    Python's % and Spark's % agree)."""
    return [[md5_int(str(d), f"lsh:{seed}:{table}:{i}:") % 17 - 8
             for d in range(max_dim)]
            for i in range(n_planes)]


def _probe_masks(n_planes: int, radius: int) -> list:
    """XOR masks for all buckets within Hamming ``radius`` of a sketch."""
    from itertools import combinations
    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def cosine_topk_lsh(embeddings: DataFrame, queries: DataFrame,
                    dim: int | None = None,
                    k: int = 5, n_planes: int = 8, seed: int = 42,
                    n_tables: int = 1, probe_hamming: int = 1,
                    plane_family: str = "gauss") -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket(s).

    Recall is governed by two standard knobs (both compose, and both keep
    the corpus-side scan bucket-pruned):

    - ``probe_hamming``: multi-probe - each query also probes every bucket
      within this Hamming radius of its sketch (vectors near a hyperplane
      land on either side; single-probe recall cliffs at scale). Radius 1
      scans ~(n_planes+1)/2^n_planes of the corpus.
    - ``n_tables``: independent hash tables with different hyperplanes; a
      true neighbor is found if ANY table buckets it with the query
      (miss probability decays geometrically in n_tables).

    Candidates are deduped across tables/probes before scoring, so each
    (query, neighbor) pair is scored exactly once. All tables ride ONE
    corpus scan and ONE equi-join on a composite key
    ``(table << n_planes) | bucket``. Sketches are computed by a
    vectorized Arrow/numpy matmul (one ``(n, dim) @ (dim, T*P)`` per
    record batch) - hyperplane signs are scale-invariant, so the raw
    embedding is bucketed and normalization is paid only at scoring.

    ``plane_family``: "gauss" (default - isotropic numpy hyperplanes,
    the production recall choice) or "md5" - integer-exact md5-derived
    planes computed as JVM column algebra (:func:`_md5_bucket_sql`),
    whose bucket bits an independent SQL engine reproduces bit-for-bit,
    so the whole approximate query is exact-oracle-checkable.
    """
    masks = _probe_masks(n_planes, probe_hamming)
    corpus = with_normalized(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("norm_emb").alias("nbr_emb"),
        F.col("embedding").alias("raw_emb"))
    qs = with_normalized(queries).select(
        F.col("vec_id").alias("query_id"), F.col("norm_emb").alias("q_emb"),
        F.col("embedding").alias("raw_emb"))
    if plane_family == "md5":
        # the integer plane weights are a pure function of
        # (seed, table, plane, dim): precompute them driver-side and
        # ship them as ONE broadcast row (round 8 - the per-row
        # md5/conv/substring chain dominated this query's executor
        # time, and weight literals at full width made Catalyst
        # analysis of the 2*tables*(1+probes) key expressions the
        # bottleneck instead; data-shaped weights keep both cheap)
        wdf = None
        # the bucket expressions reference only the column NAMES
        # raw_emb/__emb_int/__w, so they are built ONCE here and reused
        # verbatim by both keyed() sides - and built as SQL text
        # (``_md5_bucket_sql``, one py4j round-trip per table) rather
        # than through the Column DSL (hundreds of round-trips per
        # table; round 8 second pass measured expression CONSTRUCTION
        # as the larger half of this query's wall time).
        shared_bcols = [
            F.expr(_md5_bucket_sql("raw_emb", n_planes, seed + 7919 * t,
                                   t, t + 1, "__emb_int")).alias(f"_b{t}")
            for t in range(n_tables)]

        def keyed(df, id_col, probe_masks):
            nonlocal wdf
            if wdf is None:
                wdf = df.sparkSession.createDataFrame(
                    [([_md5_plane_weights(n_planes, seed + 7919 * t, t)
                       for t in range(n_tables)],)],
                    "__w: array<array<array<long>>>")
            # two analysis passes, not 3 per table: the integer-scaled
            # embedding and the per-table weight slice are projected
            # once, and all table buckets land in ONE select (each
            # withColumn used to re-analyze the growing plan, which
            # dominated this query's driver time)
            b = (df.crossJoin(F.broadcast(wdf))
                 .withColumn("__emb_int", F.transform(
                     F.col("raw_emb"),
                     lambda x: F.floor(x.cast("double") * 1000000.0)
                     .cast("long"))))
            b = b.select(id_col, *shared_bcols)
            # probe keys as ONE parsed expression as well; `^` is
            # Spark SQL's bitwiseXOR, CAST+`+` match the DSL's
            # lit().cast("long") + xor term by term
            keys = ", ".join(
                f"CAST({t << n_planes} AS BIGINT) + (`_b{t}` ^ {m})"
                for t in range(n_tables)
                for m in (probe_masks or [0]))
            return b.select(id_col,
                            F.expr(f"explode(array({keys}))").alias("key"))
        cb = keyed(corpus, "nbr_id", None)
        qb = keyed(qs, "query_id", masks)
    else:
        keys_udf = _sketch_keys_udf(
            dim, n_planes, [seed + 7919 * t for t in range(n_tables)],
            masks=None)
        probe_udf = _sketch_keys_udf(
            dim, n_planes, [seed + 7919 * t for t in range(n_tables)],
            masks=masks)
        cb = corpus.select(
            "nbr_id", F.explode(keys_udf("raw_emb")).alias("key"))
        qb = qs.select(
            "query_id", F.explode(probe_udf("raw_emb")).alias("key"))
    cands = (cb.join(F.broadcast(qb), "key")
             .select("query_id", "nbr_id")
             .where(F.col("nbr_id") != F.col("query_id"))
             .distinct())
    corpus = corpus.drop("raw_emb")
    qs = qs.drop("raw_emb")
    scored = (cands.join(corpus, "nbr_id")
              .join(F.broadcast(qs), "query_id")
              .withColumn("cosine", _dot(F.col("q_emb"), F.col("nbr_emb"))))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("cosine"), F.asc("nbr_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def _double_sql(x: float) -> str:
    """A SQL literal that parses to exactly the double ``x``: ``repr``
    is the shortest string that round-trips, and the parser reads a
    ``D``-suffixed literal with ``Double.parseDouble``. NaN and the
    infinities have no literal form."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(float(x)) + "D"


def _centroids_sql(cents: list) -> str:
    """``cents`` as one ``array<array<double>>`` SQL expression."""
    return "array(" + ", ".join(
        "array(" + ", ".join(_double_sql(x) for x in c) + ")"
        for c in cents) + ")"


def _strided_seeds(embeddings: DataFrame, k: int, col: str) -> list:
    """The smallest-id vector of each of ``k`` even strides of the
    ``vec_id`` range, in ``vec_id`` order: one min/max aggregate
    broadcast into one K-row groupBy. The K rows are sorted here; an
    ``orderBy`` would add a range-partitioning sample job."""
    bounds = embeddings.agg(F.min("vec_id").alias("mn"),
                            F.max("vec_id").alias("mx"))
    bucket = F.floor(
        (F.col("vec_id") - F.col("mn")) * k
        / F.greatest(F.col("mx") - F.col("mn") + 1, F.lit(1)))
    rows = (embeddings.crossJoin(F.broadcast(bounds))
            .groupBy(bucket.alias("b"))
            .agg(F.min("vec_id").alias("sid"),
                 F.min_by(F.col(_ident(col)), "vec_id").alias("emb"))
            .collect())
    return [[float(x) for x in r["emb"]]
            for r in sorted(rows, key=lambda r: r["sid"])]


def seed_centroids(embeddings: DataFrame, n_centroids: int = 8,
                   col="embedding") -> list:
    """Deterministic IVF coarse quantizer: stride the ``vec_id`` range
    into ``n_centroids`` even buckets and seed with the smallest-id
    vector of each bucket, L2-normalized.

    A production IVF index would train these with k-means over a sample;
    strided seeding keeps the codebook spread across the corpus (a
    prefix-of-ids seed degenerates when ids correlate with content),
    reproducible, AND SQL-expressible so the DuckDB oracle can rebuild
    the identical inverted lists. Cost: one action, a min/max agg
    broadcast into one K-row groupBy - the codebook is driver state by
    construction (like the LSH hyperplanes), never shuffled."""
    cents = []
    for v in _strided_seeds(embeddings, n_centroids, col):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / n for x in v])
    return cents


def _centroid_sims(cents: list, col):
    """sims[i] = cosine(col, centroid_i) as one JVM array expression
    (``col`` must already be L2-normalized)."""
    return F.transform(F.expr(_centroids_sql(cents)),
                       lambda c: _dot(col, c))


def ivf_topk(embeddings: DataFrame, queries: DataFrame,
             k: int = 5, n_centroids: int = 8, n_probe: int = 2) -> DataFrame:
    """IVF-flat approximate top-k (the centroid-bucketed scale path,
    complementing ``cosine_topk_lsh``).

    Index: every corpus vector is assigned to its nearest centroid
    (``seed_centroids``) - one scan, pure JVM array algebra, no shuffle.
    Search: each query probes its ``n_probe`` nearest inverted lists;
    exact cosine runs only on vectors in probed lists. Recall/latency
    trade via (n_centroids, n_probe) exactly as in FAISS-style IVF-flat.

    100-TB notes: the corpus never shuffles on data size - the only join
    is corpus ⋈ broadcast(query probes) on ``list_id`` (int equi-join),
    so each task streams its partition once and emits only probed-list
    matches. At scale the inverted lists would be written bucketed-by
    ``list_id`` so repeated query batches prune files instead of
    rescanning (partition pruning on the list column); assignment cost is
    K dot products per row, all inside whole-stage codegen. Ties are
    broken by centroid id then neighbor id, so output is deterministic.
    """
    cents = seed_centroids(embeddings, n_centroids)
    corpus = with_normalized(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("norm_emb").alias("nbr_emb"))
    # argmax over centroid sims: max of (sim, -index) structs -> smallest
    # index wins ties
    sims = _centroid_sims(cents, F.col("nbr_emb"))
    best = F.array_max(F.transform(
        sims, lambda s, i: F.struct(s.alias("s"), (-i).alias("ni"))))
    corpus = corpus.withColumn("list_id", -best["ni"])
    qs = with_normalized(queries).select(
        F.col("vec_id").alias("query_id"), F.col("norm_emb").alias("q_emb"))
    qsims = _centroid_sims(cents, F.col("q_emb"))
    ordered = F.array_sort(
        F.transform(qsims, lambda s, i: F.struct(s.alias("s"),
                                                 i.alias("i"))),
        lambda l, r: F.when(l["s"] > r["s"], F.lit(-1))
                      .when(l["s"] < r["s"], F.lit(1))
                      .otherwise(l["i"] - r["i"]))
    probes = F.transform(F.slice(ordered, 1, n_probe), lambda x: x["i"])
    qp = qs.select("query_id", "q_emb",
                   F.explode(probes).alias("list_id"))
    scored = (corpus.join(F.broadcast(qp), "list_id")
              .where(F.col("nbr_id") != F.col("query_id"))
              .withColumn("cosine", _dot(F.col("q_emb"), F.col("nbr_emb"))))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("cosine"), F.asc("nbr_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id",
                    F.round("cosine", 6).alias("cosine"), "rank"))


def embedding_profile(embeddings: DataFrame, col: str = "embedding",
                      label_col: str = "label") -> DataFrame:
    """Per-label embedding-column QC - the gate every vector corpus
    passes before ANN indexing: vector counts, dimensionality drift
    (ragged arrays from a bad upstream batch), NaN contamination,
    zero vectors, and the norm envelope (un-normalized embeddings
    poison cosine retrieval silently).

    The per-vector norm folds the array left-to-right after casting
    each element to double, so Spark and a SQL twin produce
    bit-identical per-row values; only the label-level avg depends on
    partition order, absorbed by round(4).  One scan-side projection +
    one map-side-partial hash aggregation on the (tiny) label key -
    no UDF, no shuffle of vector payloads beyond the partial rows.
    """
    vec = F.transform(F.col(col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0),
                              lambda acc, v: acc + v * v))
    row = embeddings.select(
        F.col(label_col).alias("label"),
        F.size(F.col(col)).alias("dim"),
        F.exists(F.col(col), lambda x: F.isnan(x)).alias("has_nan"),
        F.round(norm, 6).alias("norm"))
    return (row.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.countDistinct("dim").alias("n_dims"),
                 F.sum(F.col("has_nan").cast("long")).alias("n_nan_vecs"),
                 F.sum(F.when(F.col("norm") == 0.0, 1).otherwise(0))
                  .cast("long").alias("n_zero_vecs"),
                 F.min("norm").alias("min_norm"),
                 F.max("norm").alias("max_norm"),
                 F.round(F.avg("norm"), 4).alias("avg_norm")))


def kmeans_assign(embeddings: DataFrame, k: int = 4, n_iter: int = 3,
                  col: str = "embedding",
                  large_k_threshold: int = 4096) -> DataFrame:
    """Deterministic Lloyd k-means assignments over an embedding
    column - the cluster-balanced sampling / corpus-map primitive
    (SemDeDup-style curation buckets documents by embedding cluster
    before per-cluster dedup/sampling).

    Determinism contract: seeds = the smallest-id vector of each
    strided ``vec_id`` bucket (the IVF seeding rule - reproducible and
    SQL-replicable); distance = squared Euclidean; ties break to the
    smaller cluster id (argmin = first occurrence); update = per-dim
    arithmetic mean; an emptied cluster keeps its previous centroid.

    Plan shape (100-TB lens): per iteration the corpus is scanned once
    - assignment is a pure JVM array expression against the centroids,
    and the centroid update is one hash aggregation whose k*dim result
    values are the ONLY driver state (the sanctioned codebook pattern
    from IVF). No iteration shuffles the corpus on anything but the
    k-sized key.

    Plan hygiene (same values):

    - each iteration's centroids enter the plan as SQL text with exact
      double literals (``_centroids_sql``), parsed in one call on the
      JVM. A broadcast 1-row DataFrame kept the plan structurally
      constant, but ``spark.createDataFrame`` runs a Python-worker
      stage per iteration. Measured on 4 CPUs (500 64-dim vectors, warm
      session), an iteration took 0.63 s with the frame and 0.38 s
      with SQL text, of which 0.1-0.25 s is analysing and planning the
      fresh literals. Constant folding makes the centroids one array
      literal that generated code references as an object, so no
      iteration compiles new code;
    - the update aggregation is per-dim ``avg(element_at(col, i))``
      over the base rows rather than ``posexplode`` + avg: the explode
      inlined the interpreted higher-order assignment expression into
      the Generate, re-evaluating it once per EXPLODED row (a dim-fold
      amplification). Same Average aggregate over the same values in
      the same row order, so the resulting centroids are bit-identical
      (verified against the previous implementation, 0 assignment
      diffs at every SF).

    Large-k path: SemDeDup at 100 TB wants k ~ sqrt(N) (10^4-10^5),
    where a k*dim expression blows up the Catalyst tree and the
    interpreted per-row fold costs k*dim lambda invocations per row.
    When ``k * dim > large_k_threshold`` the assignment runs as an
    Arrow-batched pandas UDF against a BROADCAST VARIABLE centroid
    matrix (one numpy matmul per batch via the |x|^2 - 2xC' + |c|^2
    expansion, argmin = first occurrence, same tie rule). Distances are
    computed in float64 either way; numpy's pairwise summation can
    differ from the JVM fold by an ULP, so the small-k default (which
    the DuckDB oracle twins) keeps the exact fold, and the large-k path
    is for the regime where the oracle cannot enumerate k anyway.
    Unit-tested equal to the fold path at k=256 on separated data.
    """
    cluster = _kmeans_cluster(embeddings, k, n_iter, col, large_k_threshold)
    return embeddings.select("vec_id", cluster.alias("cluster"))


def _kmeans_cluster(embeddings: DataFrame, k: int, n_iter: int, col: str,
                    large_k_threshold: int = 4096):
    """Run ``n_iter`` Lloyd iterations (one collect each) and return the
    cluster-id Column against the final centroids (see
    :func:`kmeans_assign`)."""
    cents = _strided_seeds(embeddings, k, col)
    dim = len(cents[0]) if cents else 0
    assign = (_pandas_assign if k * dim > large_k_threshold
              else _fold_assign)
    q = _ident(col)
    iter_aggs = [F.expr(f"avg(CAST(try_element_at({q}, {i + 1}) "
                        f"AS DOUBLE))").alias(f"m{i}")
                 for i in range(dim)]
    for _ in range(n_iter):
        # per-dim Average over the rows of each cluster: identical
        # accumulation to the exploded per-(c,pos) avg (element_at on a
        # too-short array is NULL and Average skips NULLs, matching the
        # explode variant's absent rows); the all-dims-or-keep guard
        # below preserves the emptied/ragged-cluster rule
        sums = (embeddings.groupBy(assign(cents, col).alias("__c"))
                .agg(*iter_aggs).collect())
        new = {ci: list(c) for ci, c in enumerate(cents)}
        for r in sums:
            vals = [r[f"m{i}"] for i in range(dim)]
            if all(v is not None for v in vals):
                new[r["__c"]] = [float(v) for v in vals]
        cents = [new[ci] for ci in range(len(cents))]
    return assign(cents, col)


def _fold_assign(cents: list, col: str):
    """Cluster id = argmin over ``cents`` of the squared Euclidean
    distance, folded left to right in the JVM; ``array_position``
    returns the FIRST occurrence, so ties break to the smaller id. A
    NULL embedding folds to NULL distances and a NULL id."""
    dists = (f"transform({_centroids_sql(cents)}, __cent -> aggregate("
             f"zip_with({_ident(col)}, __cent, (__a, __b) -> "
             f"(__a - __b) * (__a - __b)), 0D, (__acc, __v) -> __acc + __v))")
    return F.expr(
        f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)")


def _pandas_assign(cents: list, col: str):
    """Large-k cluster id: centroids as a Spark broadcast variable into
    an Arrow-batched pandas UDF (one matmul per record batch); see
    kmeans_assign's docstring for when this path runs and how it
    relates to the exact-fold default."""
    import numpy as np
    from pyspark import SparkContext
    from pyspark.sql.functions import pandas_udf

    bc = SparkContext.getOrCreate().broadcast(
        np.asarray(cents, dtype=np.float64))

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        c = bc.value                              # (k, dim)
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        vals = emb.tolist()
        # NULL rows assign to NULL cluster, matching the fold path
        # (a NULL array folds to NULL distances -> NULL argmin)
        null_mask = [v is None for v in vals]
        dense = [v for v in vals if v is not None]
        if not dense:
            return pd.Series([None] * len(vals), dtype="object")
        try:
            x = np.array(dense, dtype=np.float64)      # (n, dim)
        except ValueError:
            # ragged batch: pad/truncate to the centroid width (the
            # fold path treats missing dims as null -> this path maps
            # them to 0; ragged inputs are out of the determinism
            # contract either way)
            x = np.zeros((len(dense), c.shape[1]))
            for j, v in enumerate(dense):
                w = min(len(v), c.shape[1])
                x[j, :w] = v[:w]
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2 ; the |x|^2 term is constant
        # per row and cannot change the argmin
        d = (-2.0 * (x @ c.T)) + (c * c).sum(axis=1)[None, :]
        am = iter(np.argmin(d, axis=1))
        return pd.Series(
            [None if isnull else int(next(am))
             for isnull in null_mask], dtype="object")

    return assign(F.col(_ident(col)))


def semantic_dedup(embeddings: DataFrame, k: int = 4, n_iter: int = 3,
                   threshold: float = 0.95,
                   col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embeddings with :func:`kmeans_assign`, compare pairs ONLY within a
    cluster, fold pairs with cosine >= threshold into components, keep
    the smallest ``vec_id`` per component.

    Output: (vec_id, cluster, group_id, keep) - every input row
    appears once; singletons are their own group with keep = true.
    ``vec_id`` must be unique: the pair join, the component fold and
    the keep decision all identify a row by it.

    Scale shape: the quadratic pair join is bounded per cluster (the
    whole point of the clustering stage - SemDeDup runs k ~ sqrt(N) so
    expected cluster size stays manageable); the join is an equi-join
    on the cluster key, never a global cartesian, and the cosine is
    computed on candidates only. Component folding is
    ``dedup.connected_components`` (pointer-jumping min-label,
    O(log diameter) rounds). Cosines are rounded to 6 decimals BEFORE
    thresholding so the keep decision is engine-portable.
    """
    from .dedup import connected_components

    # one eager localCheckpoint materializes the k-means assignment,
    # the normalized vectors and their prefixes in one projection;
    # both sides of the pair self-join, the exact stage and the output
    # read it
    n_pref = 16
    # try_element_at: beyond-length prefixes are NULL (ANSI element_at
    # throws), which NULLs the guard sum and retains the pair for the
    # exact stage - the conservative direction
    pref_cols = [F.try_element_at(F.col("norm_emb"), F.lit(i + 1))
                 .alias(f"p{i}") for i in range(n_pref)]
    cluster = _kmeans_cluster(embeddings, k, n_iter, col)
    base = (with_normalized(embeddings, col)
            .select("vec_id", cluster.alias("cluster"), "norm_emb",
                    *pref_cols)
            .localCheckpoint(eager=True))
    # Quadratic stage, round-8 restructure (guide §8: decide with small
    # rows, move big rows once). The same-cluster self-join used to
    # carry BOTH full vectors into every candidate row and fold a
    # dim-length interpreted lambda per pair - at one dominant cluster
    # that is O(n^2) full-vector row assembly (37s at the bench's 2M
    # pairs). Now:
    #   1. candidates join on (cluster, 16-dim prefix) rows only, with
    #      a LOSSLESS prune: for unit vectors cos >= t (after round(6))
    #      implies ||a-b||^2 = 2-2cos <= 2-2t+1e-6, and any prefix of
    #      the squared distance is <= the full one, so the guard
    #      (prefix dist <= 2-2t+0.01, a margin dwarfing both the
    #      round-6 slack and fp summation error) can never drop a pair
    #      the exact filter would keep (NULL guard = ragged array rows
    #      are retained for the exact stage). The prefix rides as 16
    #      FLAT double columns, not an array: the guard folds into the
    #      join condition, where per-pair array element_at was the
    #      measured hot spot (37s -> 0.5s) - attribute refs are cheap
    #      in both codegen and interpreted eval;
    #   2. survivors re-join base to fetch the full vectors, and the
    #      EXACT cosine - the identical left-to-right fold as before -
    #      makes the keep decision. Output pairs are unchanged.
    guard_t = 2.0 - 2.0 * threshold + 0.01
    partial = F.lit(0.0)
    for i in range(n_pref):
        d = F.col(f"a.p{i}") - F.col(f"b.p{i}")
        partial = partial + d * d
    # NaN partials must ALSO survive: Spark orders NaN above every
    # number, so the exact stage's `round(cos,6) >= t` KEEPS NaN-cosine
    # pairs - a guard that dropped NaN prefixes would change the output
    # for NaN-poisoned embeddings
    guard = ((partial <= guard_t) | partial.isNull()
             | F.isnan(partial))
    small = base.drop("norm_emb")
    cands = (small.alias("a")
             .join(small.alias("b"),
                   (F.col("a.cluster") == F.col("b.cluster"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
             .where(guard)
             .select(F.col("a.vec_id").alias("doc_a"),
                     F.col("b.vec_id").alias("doc_b")))
    ea = base.select(F.col("vec_id").alias("doc_a"),
                     F.col("norm_emb").alias("emb_a"))
    eb = base.select(F.col("vec_id").alias("doc_b"),
                     F.col("norm_emb").alias("emb_b"))
    cos = F.round(_dot(F.col("emb_a"), F.col("emb_b")), 6)
    pairs = (cands.join(ea, "doc_a").join(eb, "doc_b")
             .where(cos >= threshold)
             .select("doc_a", "doc_b"))
    comps = connected_components(pairs).withColumnRenamed(
        "node", "vec_id")
    out = (base.select("vec_id", "cluster").join(comps, "vec_id", "left")
           .select("vec_id", "cluster",
                   F.coalesce("group_id", F.col("vec_id"))
                   .alias("group_id")))
    return out.withColumn("keep", F.col("vec_id") == F.col("group_id"))
