"""Similarity search over embedding columns (``array<float>``).

Two paths (driver-mandated training-data operators):

  * :func:`cosine_topk` — brute-force exact top-k, the correctness baseline.
    Dot products are pure higher-order-function expressions
    (``zip_with`` + ``aggregate``) — JVM-side, codegen'd, no Python.
  * :func:`lsh_cosine_topk` — the scale path: random-hyperplane LSH buckets
    (signs of dot products with deterministic hash-derived planes), equi-join
    on bucket key, exact cosine only within buckets. At 10^12 rows the
    crossJoin is impossible; bucketing turns ANN into one shuffle on a short
    key. Recall < 1 by construction — pair it with multi-probe (several
    independent plane sets unioned) to trade cost for recall.

Determinism: hyperplane components are derived from md5 hashes of
(plane_idx, dim_idx) — no RNG state, reproducible across runs/engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_model_spark.operators.windows import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (query_id, neighbor_id, sim).

    The small ``queries`` side is broadcast — the corpus is scanned once,
    never shuffled. Ties break on neighbor id ascending (deterministic).
    Similarity is rounded so float-associativity noise can't flip hashes in
    the oracle comparison.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_to).alias("sim"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "sim", "rank")


def _plane_component(plane: int, dim: int, table: int = 0) -> float:
    """Deterministic pseudo-random plane component in [-1, 1): derived from
    md5 of the (table, plane, dim) triple — stable across engines and runs."""
    import hashlib

    h = int(hashlib.md5(f"plane:{table}:{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return (h / float(1 << 32)) * 2.0 - 1.0


def _planes_rows(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    return [[_plane_component(p, d, table) for d in range(dim)] for p in range(n_planes)]


def lsh_keyed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    n_tables: int,
    id_out: str = "id",
    vec_out: str = "v",
) -> DataFrame:
    """Explode each vector to its ``n_tables`` LSH bucket keys
    ``"t:bits"`` — the SINGLE keying implementation both ANN top-k and
    embedding near-dup use (one format, one derivation; a drift between
    two copies once desynchronized the paths, so don't inline this).

    The plane sets travel as DATA in a one-row broadcast relation — a
    1024-dim plane set would otherwise inflate the plan by n_tables ×
    n_planes × dim literal nodes (plan-size test pins this). The narrow
    (id, vector) projection is spread first: single-file embedding tables
    scan as ONE task and the keying is CPU-bound."""
    from ocr_model_spark.operators.dedup import _spread

    spark = df.sparkSession
    tables = [(t, _planes_rows(n_planes, dim, t)) for t in range(n_tables)]
    planes = F.broadcast(
        spark.createDataFrame(
            [(tables,)],
            "lsh_tables: array<struct<table_id: int, planes: array<array<double>>>>",
        )
    )
    vec = F.col(vec_out)
    keys = F.transform(
        "lsh_tables",
        lambda tb: F.concat_ws(
            ":",
            tb["table_id"].cast("string"),
            F.array_join(
                F.transform(
                    tb["planes"],
                    lambda pl: F.when(dot(vec, pl) >= 0, F.lit("1")).otherwise(F.lit("0")),
                ),
                "",
            ),
        ),
    )
    return (
        _spread(
            df.select(F.col(id_col).alias(id_out), F.col(vec_col).alias(vec_out)),
            id_out,
        )
        .crossJoin(planes)  # one broadcast row: duplicates nothing
        .select(id_out, vec_out, F.explode(keys).alias("bucket"))
    )


def _seed_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Deterministic seed centroids: the corpus vectors with the smallest
    md5-derived id hash (the shared ``_sampled_rows`` reservoir — the
    seeds are exactly the first ``n_centroids`` rows of any larger
    trainer sample, so a caller holding one can slice instead of
    re-scanning)."""
    rows = _sampled_rows(corpus, n_centroids, id_col, vec_col)
    return [[float(x) for x in r["v"]] for r in rows]


def ivf_train_kmeans(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd refinement of the seed centroids — DETERMINISTIC:
    each cell's mean is computed in a grouped-map over members SORTED by id
    (fixed float-summation order, unlike ``avg()`` whose partial-sum order
    varies with partitioning). Returns plain lists for broadcasting into
    the serving plan. At real scale run this on a deterministic sample —
    the serving plan is unchanged either way.

    When it helps: clustered embedding spaces (real text/image encoders).
    Measured on the driver's ISOTROPIC random corpus it lowers recall
    (balanced cells split near-neighbor pairs across boundaries), so the
    driver queries keep the seed centroids and a higher probe count —
    pick per-corpus."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cents = _seed_centroids(corpus, n_centroids, id_col, vec_col)
    out_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("centroid", T.ArrayType(T.DoubleType())),
        ]
    )

    def cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        mat = np.stack(pdf["v"].to_numpy())
        return pd.DataFrame(
            [{"cell": int(pdf["cell"].iloc[0]), "centroid": (mat.sum(axis=0) / len(mat)).tolist()}]
        )

    for _ in range(max(0, iters)):
        cent_arrays = [
            (i, F.array(*[F.lit(x) for x in c])) for i, c in enumerate(cents)
        ]
        assigned = corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.element_at(
                F.array_sort(_cell_score_array(F.col(vec_col), cent_arrays), _desc_sim), 1
            )["cell"].alias("cell"),
        )
        refined = {
            int(r["cell"]): [float(x) for x in r["centroid"]]
            for r in assigned.groupBy("cell").applyInPandas(cell_mean, out_schema).collect()
        }
        # empty cells keep their previous centroid
        cents = [refined.get(i, c) for i, c in enumerate(cents)]
    return cents


def ivf_train_kmeans_sampled(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample_cap: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """100-TB-safe IVF trainer: deterministic hash-sample + driver-side
    spherical k-means (farthest-first seeding, Lloyd refinement).

    The full-corpus Lloyd (:func:`ivf_train_kmeans`) shuffles every vector
    per iteration — fine at sandbox scale, untenable at 10^12 rows where a
    sample trains centroids just as well. Here:

      * the sample is the ``sample_cap`` rows with the SMALLEST md5-derived
        id hash — a seedless uniform reservoir that is a pure function of
        the ids (same sample at any cluster size / partitioning), fetched
        with a distributed top-k (``TakeOrderedAndProject``), never a full
        sort;
      * seeding is farthest-first traversal (deterministic 2-approx
        k-center: next center = sample point maximizing distance to its
        nearest chosen center, row-order tiebreak) — no RNG anywhere;
      * Lloyd runs on the sample in numpy with FIXED row order (sorted by
        (hash, id)), so float summation order — and therefore the output —
        is bitwise reproducible.

    Returns plain lists for ``ivf_cosine_topk(centroids=...)``; the serving
    plan is unchanged."""
    import numpy as np

    xn = _unit_matrix(_sampled_rows(corpus, sample_cap, id_col, vec_col))
    k = min(n_centroids, len(xn))

    # farthest-first seeding on the unit sphere (distance = 1 - cosine)
    chosen = [0]
    min_sim = xn @ xn[0]
    for _ in range(1, k):
        nxt = int(np.argmin(min_sim))  # farthest point; first index on ties
        chosen.append(nxt)
        min_sim = np.maximum(min_sim, xn @ xn[nxt])
    cents = xn[chosen].copy()

    for _ in range(max(0, iters)):
        assign = np.argmax(xn @ cents.T, axis=1)  # first-max: deterministic
        for c in range(k):
            members = xn[assign == c]
            if len(members):
                m = members.sum(axis=0) / len(members)
                n = np.linalg.norm(m)
                cents[c] = m / n if n > 0 else cents[c]
    return [c.tolist() for c in cents]


def _cell_score_array(vec: Column, cent_arrays: list) -> Column:
    """array of struct(sim, cell) — array_sort with _desc_sim orders by
    similarity with cell-id tiebreak."""
    return F.array(
        *[
            F.struct(F.round(cosine(vec, cv), 8).alias("sim"), F.lit(i).alias("cell"))
            for i, cv in cent_arrays
        ]
    )


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells, probe only
    the ``n_probe`` nearest cells per query, exact cosine within them.

    ``centroids`` defaults to the deterministic md5-reservoir seed; pass
    :func:`ivf_train_kmeans` output for refined cells. Serving plan either
    way: broadcast centroids → one argmax expression per row → equi-join on
    cell id → per-cell exact scoring. One shuffle, no crossJoin — the same
    shape IVF indexes give you in a vector database."""
    if centroids is None:
        centroids = _seed_centroids(corpus, n_centroids, id_col, vec_col)
    cent_arrays = [
        (i, F.array(*[F.lit(float(x)) for x in c])) for i, c in enumerate(centroids)
    ]

    def cell_scores(vec: Column) -> Column:
        # array of struct(sim, cell) — array_sort orders lexicographically,
        # so sim-first structs sort by similarity with cell id tiebreak
        return F.array(
            *[
                F.struct(
                    F.round(cosine(vec, cv), 8).alias("sim"), F.lit(i).alias("cell")
                )
                for i, cv in cent_arrays
            ]
        )

    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.element_at(F.array_sort(cell_scores(F.col(vec_col)), _desc_sim), 1)["cell"].alias(
            "cell"
        ),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.slice(F.array_sort(cell_scores(F.col(vec_col)), _desc_sim), 1, n_probe).alias(
            "_cells"
        ),
    ).select(
        "query_id", "qv", F.explode(F.transform("_cells", lambda c: c["cell"])).alias("cell")
    )
    scored = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("nv")), round_to).alias("sim"),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "sim", "rank")


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (driver-mandated dedup variant):
    multi-table LSH bucket keys generate candidates, exact cosine keeps
    pairs ≥ threshold. Near-identical vectors share every bucket with
    near-certainty, so at high thresholds the result matches the exact
    all-pairs answer (the oracle pins exactly that).

    Plan shape (r7 — the repo-canonical candidate-generator form shared
    with minhash/winnow/simhash and the estimate_jaccard prune): the
    corpus is keyed ONCE; only the narrow (bucket, id) projection shuffles
    into a per-bucket groupBy whose sorted id list generates (a < b) pairs
    IN-ROW (``_all_pairs`` — no self-join, vectors never ride the bucket
    shuffle); the raw vectors are then attached candidate-scale by two
    id-equi-joins against the id-pruned corpus. The r6 shape self-joined
    the ×n_tables-exploded (id, vector, bucket) frame — it keyed the
    corpus twice and sort-merged fat vector rows on the bucket key.
    Per-bucket pair generation is quadratic either way (that is what an
    LSH bucket means); the in-row form additionally keeps the bucket size
    observable for capping, exactly like the minhash family."""
    from ocr_model_spark.operators.dedup import _all_pairs

    keyed = lsh_keyed(corpus, id_col, vec_col, n_planes, dim, n_tables)
    buckets = (
        keyed.select("bucket", "id")
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # repartition the RAW pair list on the pair key, then dedup with
    # dropDuplicates: the aggregate's required hashpartitioning(id_a, id_b)
    # is already satisfied by the repartition, so dedup + spread cost ONE
    # shuffle (a .distinct() followed by .repartition on the same key paid
    # two full shuffles of the same frame). The spread matters because pair
    # generation explodes a hot bucket's quadratic pair list inside ONE
    # task — the per-pair dot products are the dominant compute of this
    # operator and must spread over the pool; partition count follows
    # spark.sql.shuffle.partitions (scale-adaptive)
    pairs = (
        buckets.select(F.explode(_all_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .repartition(F.col("id_a"), F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # candidate-id prune derived from the BUCKETS frame, not the pair list:
    # the sets are identical (every id in a size>1 bucket pairs with another
    # member of that bucket, and every pair member comes from such a bucket),
    # but this reads the small (bucket, ids) aggregate once instead of
    # carrying the quadratic pair-generation subtree through both union
    # branches. The equality holds only because _all_pairs emits every
    # (i<j) pair of a bucket uncapped: a per-bucket pair cap would make
    # these ids a superset (output still correct, this argument stale)
    ids = buckets.select(F.explode("ids").alias("id")).distinct()
    # per-vector norms are computed ONCE here and carried as columns —
    # cosine(a, b) = dot/(norm*norm) recomputed both norms per PAIR, an
    # O(pairs × dim) interpreted-HOF tax for values that are pure per-id
    # functions (bit-identical: same fold over the same array, and the
    # norm*norm product multiplies the same two doubles)
    vecs = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .join(ids, "id")
        .withColumn("n", norm(F.col("v")))
    )
    va = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    vb = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_to,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.97,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings into centroid cells, and within
    each cell DROP every point that has a lower-id neighbor with cosine ≥
    ``threshold``. Keep-one-per-near-dup-group falls out WITHOUT connected
    components — the drop rule is local (x drops iff ∃ y < x in x's cell,
    sim ≥ τ), and the survivor of each group is its minimum id, exactly
    the convention the text-dedup family uses.

    Plan shape (the paper's own scale design): centroid argmax per row
    (broadcast literal array, same expression as ``ivf_cosine_topk``),
    ONE equi-join on the cell id — never an all-pairs crossJoin; the cell
    size bounds the quadratic term, and ``n_centroids`` grows with
    corpus/target-cell-size at 10^12 rows. Returns (id, cell, dropped)."""
    if centroids is None:
        centroids = _seed_centroids(corpus, n_centroids, id_col, vec_col)
    cent_arrays = [
        (i, F.array(*[F.lit(float(x)) for x in c])) for i, c in enumerate(centroids)
    ]
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        # per-vector norm computed ONCE here (r7): cosine per within-cell
        # PAIR recomputed both norms — an O(pairs × dim) interpreted-HOF
        # tax for per-id values; dot/(na*nb) multiplies the same doubles,
        # bit-identical to cosine()
        norm(F.col(vec_col)).alias("n"),
        F.element_at(
            F.array_sort(_cell_score_array(F.col(vec_col), cent_arrays), _desc_sim), 1
        )["cell"].alias("cell"),
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    dropped = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("b.id") < F.col("a.id")))
        .filter(
            F.round(
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")),
                round_to,
            )
            >= threshold
        )
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assigned.select("id", "cell")
        .join(dropped, "id", "left")
        .select("id", "cell", F.coalesce("dropped", F.lit(False)).alias("dropped"))
    )


def _desc_sim(a: Column, b: Column) -> Column:
    """Comparator: descending by sim, ascending cell id for ties."""
    return (
        F.when(a["sim"] > b["sim"], -1)
        .when(a["sim"] < b["sim"], 1)
        .when(a["cell"] < b["cell"], -1)
        .when(a["cell"] > b["cell"], 1)
        .otherwise(0)
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: exact cosine only within shared hyperplane buckets.

    Multi-table LSH (the standard recall lever): ``n_tables`` independent
    plane sets; a pair is a candidate if it collides in ANY table. All
    tables resolve in ONE equi-join — each vector explodes to ``n_tables``
    ``"t:bits"`` keys, joined on the key — so the plan stays a single
    shuffle on a short key regardless of L (vs a crossJoin that cannot
    exist at 10^12 rows). Duplicate candidates from multi-table collisions
    are deduped AFTER scoring (sim is deterministic, so distinct is exact).
    Queries colliding with nothing return fewer than k rows."""
    q = lsh_keyed(
        queries, id_col, vec_col, n_planes, dim, n_tables,
        id_out="query_id", vec_out="query_id_v",
    )
    c = lsh_keyed(
        corpus, id_col, vec_col, n_planes, dim, n_tables,
        id_out="neighbor_id", vec_out="neighbor_id_v",
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("query_id_v"), F.col("neighbor_id_v")), round_to).alias("sim"),
        )
        .distinct()
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "sim", "rank")


# ---------------------------------------------------------------- IVF-PQ


def _sampled_rows(corpus, cap: int, id_col: str, vec_col: str) -> list:
    """THE sampling contract every trainer shares (seed centroids, IVF
    Lloyd, PQ codebooks): the ``cap`` rows with the smallest md5-derived
    id hash, in FIXED (hash, id) order — a seedless uniform reservoir
    that is a pure function of the ids, fetched with a distributed top-k.
    One definition so the trainers can never drift apart. Bounded driver
    collect."""
    from ocr_model_spark.operators.dedup import stable_hash

    rows = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            stable_hash(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "id")
        .limit(cap)
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    return rows


def _unit_matrix(rows: list):
    """Sample rows → unit-normalized float64 matrix (zero-norm guard)."""
    import numpy as np

    x = np.array([[float(f) for f in r["v"]] for r in rows], dtype=np.float64)
    n = np.linalg.norm(x, axis=1)
    n[n == 0] = 1.0
    return x / n[:, None]


def _l2_kmeans(x, k: int, iters: int = 10):
    """Deterministic L2 k-means on a sample matrix: farthest-first seeding
    (2-approx k-center, row-order/first-index tiebreaks — no RNG), Lloyd
    with first-min assignment; empty cells keep their centroid. Bitwise
    reproducible for a fixed input row order."""
    import numpy as np

    k = min(k, len(x))
    chosen = [0]
    d = ((x - x[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, ((x - x[nxt]) ** 2).sum(axis=1))
    cents = x[chosen].copy()
    for _ in range(max(0, iters)):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)  # first-min: deterministic
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cents[c] = members.sum(axis=0) / len(members)
    return cents


def pq_train_codebooks(
    corpus,
    m_subvectors: int = 16,
    pq_k: int = 32,
    sample_cap: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: list | None = None,
) -> list:
    """Product-quantization codebooks (Jégou, Douze & Schmid 2011 —
    "Product Quantization for Nearest Neighbor Search"): split the
    unit-normalized vector into ``m_subvectors`` subspaces and k-means
    each one. At 10^12 vectors the index then stores M small codes per
    vector instead of raw floats (64-dim float64 → 8 bytes at M=8, K≤256
    — a 64× index shrink), and queries rank candidates from the codes
    alone (ADC), fetching raw vectors only for the final re-rank.
    Training follows the sampled, seedless, deterministic house recipe.
    On the unit sphere L2 order equals cosine order, so L2 codebooks
    serve cosine queries. Pass ``sample_rows`` (a ``_sampled_rows``
    result) to share one corpus scan with other trainers."""
    if sample_rows is None:
        sample_rows = _sampled_rows(corpus, sample_cap, id_col, vec_col)
    xn = _unit_matrix(sample_rows)
    d = xn.shape[1]
    if d % m_subvectors:
        raise ValueError(f"dim {d} not divisible by m_subvectors={m_subvectors}")
    sub = d // m_subvectors
    return [
        [c.tolist() for c in _l2_kmeans(xn[:, m * sub : (m + 1) * sub], pq_k, iters)]
        for m in range(m_subvectors)
    ]


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )


def _unit(vec: Column) -> Column:
    """In-row unit normalization, fully let-bound: the vector AND its norm
    evaluate once per row (a captured norm inside the transform lambda
    would re-aggregate per element — O(d²))."""
    from ocr_model_spark.operators.dedup import _let

    def body(v: Column) -> Column:
        n2 = F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, e: a + e
        )

        def with_n(n: Column) -> Column:
            return F.transform(v, lambda x: F.when(n > 0, x / n).otherwise(x))

        return _let(F.sqrt(n2), with_n)

    return _let(vec, body)


def _pq_code_expr(vecn: Column, codebooks: list) -> Column:
    """PQ encoding as pure expressions over a LET-BOUND unit vector:
    code[m] = argmin_k l2sq(subvector_m, codebook[m][k]) (distance rounded
    8 dp, k tiebreak — deterministic). Plan size is the codebook itself
    (M × K × d/M literals), independent of corpus size."""
    sub = len(codebooks[0][0])
    codes = []
    for m, cb in enumerate(codebooks):
        cands = F.array(
            *[
                F.struct(
                    F.round(
                        _l2sq(
                            F.slice(vecn, m * sub + 1, sub),
                            F.array(*[F.lit(float(x)) for x in c]),
                        ),
                        8,
                    ).alias("d"),
                    F.lit(ki).alias("k"),
                )
                for ki, c in enumerate(cb)
            ]
        )
        codes.append(F.element_at(F.array_sort(cands), 1)["k"])
    return F.array(*codes)


def _adc_dist_expr(qn: Column, code: Column, codebooks: list) -> Column:
    """Asymmetric distance computation: the estimated squared L2 between
    the (let-bound) unit query and a corpus vector known only by its PQ
    code — Σ_m l2sq(q_m, codebook[m][code[m]]). Each subspace embeds only
    its own K×d/M literal table."""
    sub = len(codebooks[0][0])
    terms = []
    for m, cb in enumerate(codebooks):
        cbm = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb])
        cent = F.element_at(cbm, F.element_at(code, m + 1) + 1)
        terms.append(_l2sq(F.slice(qn, m * sub + 1, sub), cent))
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 14,
    m_subvectors: int = 16,
    pq_k: int = 32,
    refine_factor: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    centroids: list | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the layout billion-scale vector indexes actually use
    (IVF cells bound the scan, PQ codes shrink what's scanned): assign
    each corpus vector to its nearest centroid cell and ENCODE it to M
    product-quantization codes; per query, probe the ``n_probe`` nearest
    cells, rank candidates by ADC over the codes alone (the raw corpus
    vectors never enter the candidate join — at 10^12 rows that join
    carries M bytes per vector, not the embedding), take a
    ``k × refine_factor`` shortlist, and fetch ONLY the shortlist's raw
    vectors for the exact cosine re-rank (fetch-on-refine).

    Plan: broadcast centroid/codebook literals → one in-row assignment +
    encoding pass over the corpus → equi-join on cell id → ADC expression
    → windowed shortlist → candidate-scale fetch joins → exact top-k.
    One corpus-wide shuffle (the cell join), no crossJoin, bounded driver
    state (the trained tables).

    Defaults tuned on the driver's ISOTROPIC random corpus — PQ's worst
    case (no subspace structure, pairwise cosines all near 0, so
    quantization distortion swamps the gaps): M=16 × K=32 codebooks with
    a 16× refine shortlist measure recall@3 = 0.9333 @sf0.001 / 0.9667
    @sf0.01 vs exact (pinned in tests) while the ADC pass still prunes
    ~99% of probed candidates before any raw vector is fetched. Real
    clustered embeddings quantize far better — shrink refine_factor and
    pq_k per-corpus."""
    from ocr_model_spark.operators.dedup import _let

    if centroids is None or codebooks is None:
        # ONE sampled corpus scan trains both tables: the seed centroids
        # are exactly the first n_centroids rows of the PQ sample (the
        # shared _sampled_rows ordering)
        rows = _sampled_rows(corpus, 4096, id_col, vec_col)
        if centroids is None:
            centroids = [[float(x) for x in r["v"]] for r in rows[:n_centroids]]
        if codebooks is None:
            codebooks = pq_train_codebooks(
                corpus, m_subvectors, pq_k, id_col=id_col, vec_col=vec_col,
                sample_rows=rows,
            )
    cent_arrays = [
        (i, F.array(*[F.lit(float(x)) for x in c])) for i, c in enumerate(centroids)
    ]

    def assign_and_encode(vec: Column) -> Column:
        def body(vn: Column) -> Column:
            return F.struct(
                F.element_at(
                    F.array_sort(_cell_score_array(vec, cent_arrays), _desc_sim), 1
                )["cell"].alias("cell"),
                _pq_code_expr(vn, codebooks).alias("code"),
            )

        return _let(_unit(vec), body)

    # index side: id + cell + code ONLY — raw vectors die at the scan
    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.inline(F.array(assign_and_encode(F.col(vec_col)))),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        _unit(F.col(vec_col)).alias("qn"),
        F.slice(
            F.array_sort(_cell_score_array(F.col(vec_col), cent_arrays), _desc_sim),
            1,
            n_probe,
        ).alias("_cells"),
    ).select(
        "query_id",
        "qn",
        F.explode(F.transform("_cells", lambda c: c["cell"])).alias("cell"),
    )
    est = (
        probes.join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.lit(1.0) - _adc_dist_expr(F.col("qn"), F.col("code"), codebooks) / 2,
                8,
            ).alias("est_sim"),
        )
    )
    shortlist = top_k_per_group(
        est, ["query_id"], [F.desc("est_sim"), F.asc("neighbor_id")], k * refine_factor
    ).select("query_id", "neighbor_id")
    # fetch-on-refine: raw vectors join back at CANDIDATE scale only
    refined = (
        shortlist.join(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")),
            "neighbor_id",
        )
        .join(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("nv")), round_to).alias("sim"),
        )
    )
    return top_k_per_group(
        refined, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "sim", "rank")
