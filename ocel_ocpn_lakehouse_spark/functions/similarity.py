"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — broadcast the (small) query set
  against the corpus; the per-row dot product is a JVM-side
  ``aggregate(zip_with(...))`` fold, no UDF, so the scan parallelizes
  perfectly and AQE handles the final per-query top-k shuffle.
- lsh_topk: the scale path — random-hyperplane (sign) LSH buckets the
  corpus; queries probe only their own bucket (+ optional multi-probe),
  turning a 10^12-row scan into a bucket-local search. Hyperplanes are
  deterministic (seeded), computed once and broadcast as literal arrays.
- cosine_neardup_pairs / lsh_neardup_pairs: embedding-cosine near-duplicate
  DETECTION (all pairs above a threshold, not top-k). The exact form is the
  O(n^2) audit baseline; the banded sign-LSH form is the warehouse-scale
  candidate generator (OR-of-ANDs amplification, the same construction as
  MinHash-LSH bands) with exact verification, so precision is 1 and only
  recall is approximate.
- ivf_centroids / ivf_topk: IVF (inverted-file) ANN — a k-means coarse
  quantizer partitions the corpus into cells; queries exhaustively search
  only the ``nprobe`` nearest cells. Lloyd iterations run as DataFrame
  jobs (assign = argmax over broadcast centroid literals; update =
  posexplode + groupBy mean), so training never leaves the cluster; only
  the k×dim centroid matrix (metadata-sized) lands on the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double(arr):
    return F.transform(arr, lambda x: x.cast("double"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim) — deterministic
    ordering via (sim desc, neighbor_id)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    # norms precomputed once per row; sim stays dot/(qn*cn) — the identical
    # operands and operation order as cosine(), so results (and the DuckDB
    # oracle bit-identity) cannot move, but the per-pair fold drops from
    # three array aggregates to one
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: (id_a < id_b, sim)
    for every pair with cosine >= threshold.

    All-pairs is O(n^2) — this is the audit/oracle baseline (and the
    ground truth the LSH path's recall is measured against). At warehouse
    scale run :func:`lsh_neardup_pairs`; exact all-pairs over 10^12 rows
    is not a thing any engine should do. The cosine uses the same
    un-normalized dot/(norm*norm) fold as brute_force_topk, which is
    bit-identical to DuckDB's list_cosine_similarity on this data (so
    thresholding cannot disagree across engines)."""
    a = corpus.select(
        F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va")
    ).withColumn("na", _norm(F.col("va")))
    b = corpus.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb")
    ).withColumn("nb", _norm(F.col("vb")))
    # norms once per row, not per pair — same operands/order as cosine(),
    # so the DuckDB bit-identity holds while 2/3 of the per-pair array
    # folds disappear (n^2 pairs pay one aggregate each, not three)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


def banded_signatures(
    corpus: DataFrame,
    planes: np.ndarray,
    bands: int,
    planes_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, band, bucket) rows: band b's bucket is the sign pattern of the
    vector against planes [b*r, (b+1)*r).

    One vectorized Arrow pass — the (batch × dim) @ (dim × bands*r) matmul
    computes every plane dot at BLAS speed, then bits pack per band. With
    bands*r beyond ~64 the per-plane Catalyst-expression form stops being
    viable (the signature no longer fits a long, and hundreds of
    aggregate(zip_with) literal-plane folds blow past codegen limits), so
    unlike q28's 8-plane ``lsh_bucket`` this is deliberately a pandas-UDF
    stage (§2.10: Arrow-batched, never per-row). Bucketing is a hash — both
    sides of every pair hash in the same engine, so float rounding at
    sign boundaries cannot create asymmetry, and downstream exact
    verification keeps precision at 1 regardless."""
    pt = planes.T.copy()  # dim x (bands*r)
    weights = (1 << np.arange(planes_per_band)).astype(np.int64)

    def _sig(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf["vid"].to_numpy()
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            bits = (mat @ pt) > 0  # n x (bands*r)
            bk = bits.reshape(len(pdf), bands, planes_per_band) @ weights  # n x bands
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(vids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "bucket": bk.reshape(-1).astype(np.int64),
                }
            )

    # null vectors can't hash (and would crash the task's vstack) — they
    # simply produce no signature rows, so they never become candidates
    c = corpus.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")).filter(
        F.col("v").isNotNull()
    )
    return c.mapInPandas(_sig, "vid long, band int, bucket long")


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    bands: int | None = None,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: banded sign-LSH candidate
    generation + exact verification.

    Each band hashes a vector to a ``planes_per_band``-bit bucket; a pair
    is a candidate iff it collides in >=1 band (OR of ANDs — MinHash-LSH's
    amplification applied to random hyperplanes). Collision prob for a
    pair at cosine s is 1-(1-p^r)^b with p = 1 - arccos(s)/pi: ~0.73 at
    s=0.45, ~0.94 at s=0.6, ~0.9998 at s=0.8 with the defaults — while an
    uncorrelated pair (s≈0, p≈0.5) collides with prob b/2^r = 12.5%, an
    8x candidate reduction vs all-pairs that GROWS with r at higher
    thresholds (r=12/b=16 at s=0.9: recall 0.93, random mass 0.4%).
    Measured on the synthetic corpus (every true pair in the hard
    0.45-0.51 band): recall 0.82 at sf0.1 with the LSH path 5.5x faster
    than the exact audit at just 2,000 vectors — a gap that widens
    quadratically with corpus size.
    Candidates are verified with the exact cosine, so every emitted pair
    truly clears the threshold (precision 1; recall < 1, asserted against
    the exact pair set in pytest — an in-query exact join would
    reintroduce the O(n^2) cost this path exists to avoid).

    Scale shape: the self-join keys on (band, bucket) — candidate volume
    is sum of per-bucket C(n,2), never all-pairs; buckets shard across the
    cluster and skewed buckets split under AQE. Vector payloads join back
    by id AFTER pair dedup, so wide arrays move once per surviving pair.

    Default banding is THRESHOLD-ADAPTIVE (unset bands/planes_per_band):
    the 1-(1-p^r)^b S-curve means one (b, r) cannot serve both regimes.
    At dup thresholds (>=0.8) long bands dominate — b=8/r=16 measured
    recall 0.9997 with ZERO spurious candidates on a 200k-vector stress
    (BENCH/ANN_STRESS.md), where the loose setting hauls 12.5% of ALL
    random pairs through exact verification. Below 0.8 the curve inverts:
    b=8/r=16 at s=0.45 collides with prob ~0.008 (useless), so the loose
    regime keeps b=64/r=9 (~0.73 at s=0.45). Pass both explicitly to
    override either regime."""
    if bands is None or planes_per_band is None:
        if bands is not None or planes_per_band is not None:
            raise ValueError("set both bands and planes_per_band, or neither")
        bands, planes_per_band = (8, 16) if threshold >= 0.8 else (64, 9)
    planes = hyperplanes(dim, bands * planes_per_band, seed)
    c = corpus.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    banded = banded_signatures(corpus, planes, bands, planes_per_band, id_col, vec_col)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .distinct()
    )
    cn = c.withColumn("n", _norm(F.col("v")))
    va = cn.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = cn.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train an IVF coarse quantizer: k-means by cosine, Lloyd iterations
    as DataFrame jobs. Deterministic: init = the ``n_cells`` lowest-id
    vectors; updated centroids are rounded to 6 dp on collect so run-order
    float-sum jitter cannot flip a borderline cell assignment between
    runs. Only the k×dim centroid matrix is ever collected (metadata-
    sized); assignment and the mean-update (posexplode + groupBy avg over
    (cell, position)) stay distributed."""
    init = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    cents = [[float(x) for x in r["v"]] for r in init]
    c = corpus.select(as_double(F.col(vec_col)).alias("v"))
    for _ in range(iters):
        assigned = c.withColumn("cell", nearest_cell(F.col("v"), cents))
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        new = {int(r["cell"]): [round(float(x), 6) for x in r["centroid"]] for r in rows}
        # empty cells keep their previous centroid
        cents = [new.get(i, cents[i]) for i in range(n_cells)]
    return cents


def _unit(cvec: list[float]) -> list[float]:
    n = float(np.linalg.norm(cvec)) or 1.0
    return [float(x) / n for x in cvec]


def nearest_cell(vec_col, centroids: list[list[float]]):
    """0-based index of the max-cosine centroid (ties -> lowest index).
    Centroids are L2-normalized on the driver and inlined as literals, so
    the per-row work is k dot products — cosine's |v| term is constant
    across cells and the per-cell |c| folds would otherwise be recomputed
    for every row (Catalyst does not constant-fold aggregate() over
    literal arrays). The argmax compares the max against its own element,
    so double equality is exact."""
    sims = F.array(*[
        _dot(vec_col, F.array(*[F.lit(x) for x in _unit(cvec)])) for cvec in centroids
    ])
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: exhaustive cosine search restricted to each query's
    ``nprobe`` nearest quantizer cells (recall < 1 by design — a true
    neighbor assigned to an unprobed cell is missed; raise nprobe to trade
    cost for recall, nprobe = n_cells degenerates to brute force).

    Scale shape: the corpus is scanned once to tag cells (in a real
    deployment the cell id is a persisted/partitioned column, so probing
    prunes files); queries explode to nprobe (cell, query) rows on the
    tiny broadcast side; the join fans each query out to its probed cells
    only. Output matches brute_force_topk for recall evaluation."""
    cents = centroids if centroids is not None else ivf_centroids(
        corpus, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        )
        .withColumn("cell", nearest_cell(F.col("cv"), cents))
        .withColumn("cn", _norm(F.col("cv")))
    )
    q = _probe_cells(queries, cents, nprobe, id_col, vec_col)
    return _score_probed(c, q, k)


def _probe_cells(
    queries: DataFrame, cents: list[list[float]], nprobe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, qv, qn, cell) — each query exploded to its nprobe nearest
    quantizer cells. Probe ordering: |qv| is constant across cells, so dot
    against the unit centroid ranks cells identically to cosine at half
    the plan."""
    csims = F.array(*[
        F.struct(
            _dot(F.col("qv"), F.array(*[F.lit(x) for x in _unit(cvec)])).alias("s"),
            F.lit(i).alias("cell"),
        )
        for i, cvec in enumerate(cents)
    ])
    return (
        queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qn", _norm(F.col("qv")))
        .withColumn("_probe", F.slice(F.reverse(F.array_sort(csims)), 1, nprobe))
        .withColumn("cell", F.explode(F.transform("_probe", lambda s: s["cell"])))
        .drop("_probe")
    )


def _score_probed(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Join candidates to probed (query, cell) rows and take per-query
    top-k. Norms precomputed per row (same operands/order as cosine — see
    brute_force_topk), so the per-candidate work is one dot fold."""
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
    )


def ivf_index_table(
    spark,
    catalog,
    name: str,
    corpus: DataFrame | None = None,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    source_table=None,
):
    """Persist an IVF index as an ENGINE TABLE: the corpus written with its
    cell id as an identity partition, centroids stored in table properties.

    This executes the claim in :func:`ivf_topk`'s docstring — at warehouse
    scale the cell id is a persisted, partitioned column, so probing
    prunes FILES at the manifest level before Spark reads a byte
    (:meth:`Table.scan` with a PrunePredicate on the partition value).
    Returns the committed Table.

    Pass ``source_table`` (an engine Table; ``corpus`` then defaults to its
    scan) to make the index FRESHNESS-TRACKED: the source snapshot id is
    pinned into the index commit, :func:`ivf_index_is_stale` compares it to
    the source head, and :func:`ivf_index_refresh` catches up through the
    source's incremental CDC scan — the M7 pattern applied to a
    similarity index."""
    import json as _json

    from ..core import PartitionSpec, TableSpec
    from ..core.spec import PartitionField

    if corpus is None:
        if source_table is None:
            raise ValueError("either corpus or source_table is required")
        corpus = source_table.scan(spark)
    cents = ivf_centroids(corpus, n_cells=n_cells, iters=iters, id_col=id_col, vec_col=vec_col)
    df = corpus.withColumn(
        "cell", nearest_cell(as_double(F.col(vec_col)), cents).cast("int")
    )
    t = catalog.create_table(
        name,
        df.schema,
        TableSpec(
            partition_spec=PartitionSpec((PartitionField("cell", "identity", "cell"),)),
            properties={
                "ivf.n-cells": str(n_cells),
                "ivf.centroids": _json.dumps(cents),
            },
        ),
    )
    src_snap = source_table.current_snapshot() if source_table is not None else None
    t.append(
        df,
        extra_summary=(
            {"ivf-source-snapshot-id": int(src_snap.snapshot_id)} if src_snap else None
        ),
    )
    return t


def ivf_index_is_stale(index_table, source_table) -> bool:
    from ..core.refresh import derived_is_stale

    return derived_is_stale(index_table, source_table, "ivf-source-snapshot-id")


def ivf_index_refresh(
    spark,
    index_table,
    source_table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Catch a freshness-tracked IVF index up to its source table.

    Appends since the pinned snapshot arrive through
    :meth:`Table.incremental_scan` (cost ∝ delta bytes): new rows are
    assigned to cells with the FROZEN stored centroids and appended into
    the matching identity partitions — search keeps pruning files and
    agreeing with an in-memory search over the grown corpus, because probe
    and assignment share one centroid set. A non-append-only source range
    (merge/overwrite/rollback) falls back to a full overwrite rebuild,
    still under the stored centroids (centroid retraining is a new index
    build, not a refresh). Runs on the shared freshness-stamped machine
    (core/refresh.py — ONE implementation with the Hamming index and the
    MVs): the stamp rides IN the data commit, so a crash cannot leave rows
    indexed without the snapshot recorded, and reruns never re-append."""
    import json as _json

    from ..core.refresh import refresh_derived

    cents = _json.loads(index_table.md.properties["ivf.centroids"])

    def assigned(s, df):
        return df.withColumn(
            "cell", nearest_cell(as_double(F.col(vec_col)), cents).cast("int")
        )

    r = refresh_derived(
        spark,
        index_table,
        source_table,
        "ivf-source-snapshot-id",
        assigned,
        append_delta=True,
    )
    r["rows_indexed"] = r.pop("rows")
    return r


def ivf_topk_indexed(
    spark,
    table,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over a table built by :func:`ivf_index_table`: probing turns
    into manifest-level FILE pruning — only the files of the probed cells'
    partitions are handed to Spark (union over the query batch; each query
    still scores only its own cells via the (cell) join). No retraining:
    centroids load from table properties, so search cost is independent of
    index build cost."""
    import json as _json

    from ..core.table import PrunePredicate

    cents = _json.loads(table.md.properties["ivf.centroids"])
    q = _probe_cells(queries, cents, nprobe, id_col, vec_col)
    cells = {int(r["cell"]) for r in q.select("cell").distinct().collect()}
    scan = table.scan(spark, prune=[PrunePredicate("_p_cell", "in", cells)])
    c = scan.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.col("cell"),
    ).withColumn("cn", _norm(F.col("cv")))
    return _score_probed(c, q, k)


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec_col, planes: np.ndarray):
    """Sign-LSH bucket id: bit i = sign(dot(vec, plane_i)). Planes inlined
    as array literals (broadcast by the plan)."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = (_dot(vec_col, plane) > 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k with MULTI-PROBE sign-LSH.

    ``probes`` is the hamming radius of probed buckets: 0 probes only the
    query's own bucket (cheapest, weakest recall); 1 additionally probes
    the n_planes buckets one sign-flip away — the standard multi-probe
    trick, and the cost lands entirely on the tiny broadcast query side
    ((1 + n_planes)× query rows), never on the corpus. Recall < 1 by
    design; at scale buckets shard across the cluster. Output shape
    matches brute_force_topk for recall evaluation."""
    planes = hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("bucket", lsh_bucket(F.col("cv"), planes))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("bucket", lsh_bucket(F.col("qv"), planes))
    if probes >= 1:
        flips = F.array(
            F.lit(0), *[F.lit(1 << i) for i in range(n_planes)]
        )  # hamming-0 + hamming-1 probe masks
        q = q.withColumn("_flip", F.explode(flips)).withColumn(
            "bucket", F.col("bucket").bitwiseXOR(F.col("_flip"))
        ).drop("_flip")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # a candidate can surface via several probed buckets
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
    )
