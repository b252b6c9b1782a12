"""Similarity search over the ``embeddings`` table (array<float>).

Three paths, per the standard ANN playbook:
- brute-force cosine top-k: exact baseline. The dot product runs
  JVM-side via ``zip_with``+``aggregate`` HOFs in double precision —
  no Python, no UDF. O(n·d) per query; fine as a verification baseline
  and for one-off queries.
- banded sign-LSH: the near-dup/top-k scale path. 64 deterministic
  md5-derived integer hyperplanes (cross-engine convention, r07)
  give each vector a 64-bit sign signature, split
  into 8 bands of 8 bits; two vectors are candidates iff they agree on
  some full band. Candidate volume is O(n × bands) through an
  equi-join on (band, bucket) — never all-pairs — and exact cosine
  verifies/re-ranks candidates only. (A single flat bucket of b bits
  either probes 1/2^b of the data with poor recall or degenerates to
  all-pairs/2^b; banding is what makes sign-LSH an index.)
- IVF (inverted file): k-means coarse quantizer built ONCE per dataset
  by ``build_ivf_index`` (cached), queries probe the NPROBE nearest
  cells via an equi-join on cell id.

All paths avoid data-sized driver collects: the query vector is joined
in as a broadcast single-row DataFrame; the only collects are the
bounded 1-row query fetch and the K×dim centroid table.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve by name

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import comoment, fine_sum, long_dec, quantized
from ..session import (
    driver_paced_build_conf,
    evict_scratch,
    scratch_persist,
    session_memo,
)
from ..sources.catalog import load_table

TOP_K = 10
QUERY_VEC_ID = 0  # deterministic query: the embedding of vec_id 0
# Banded sign-LSH: 64 planes = 8 bands × 8 bits. Per band there are 256
# buckets, so a uniform-random pair collides on some band with prob
# ~bands/256 ≈ 3% (candidate fraction), while a cos≥0.95 pair agrees on
# a full band with prob ≳0.5 per band → ≥1 of 8 bands w.h.p.
LSH_PLANES = 64
LSH_BANDS = 8
BITS_PER_BAND = LSH_PLANES // LSH_BANDS
EMBED_DIM = 64
NEARDUP_COS = 0.95


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, all JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (na * nb)


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def q_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 nearest to vec_id=0 (excluded), computed in
    double; similarity rounded to 4 decimals for cross-engine hashing,
    ranking done on the unrounded value with vec_id tiebreak."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        _as_double("embedding").alias("qvec")
    )
    sim = cosine(_as_double("embedding"), F.col("qvec"))
    return (
        emb.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", F.round("sim", 4).alias("sim"))
    )


def hyperplanes(dim: int = EMBED_DIM,
                n_planes: int = LSH_PLANES) -> list[list[int]]:
    """Deterministic INTEGER hyperplanes for sign-LSH — the
    cross-engine convention (r07): plane[j][k] = (md5("j_k")-prefix
    60-bit int mod 33) − 16, i.e. symmetric uniform ints in [−16, 16].

    Integer planes (together with the power-of-two vector quantization
    in sign_band_buckets) make every plane dot product EXACT int64
    arithmetic — associative, so BLAS/NumPy blocking order doesn't
    matter and a DuckDB oracle derives the identical signs from the
    same md5 formula, with no 4096-double literal table and no
    engine-private RNG. Replaces the r01 NumPy Gaussian planes
    (np.random.default_rng(42)), whose float dots were
    summation-order-dependent and unreproducible outside NumPy; for
    sign-LSH the plane direction distribution only needs symmetry and
    independence, which the md5-uniform ints provide (recall pins on
    planted near-dups are unchanged in tests)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{j}_{k}".encode()).hexdigest()[:15], 16) % 33)
            - 16
            for k in range(dim)
        ]
        for j in range(n_planes)
    ]


# Vector quantization scale for the sign kernel: a power of two, so
# v*SCALE is an exact double op; floor(x + 0.5) is the shared
# half-up rule (np.rint's half-to-even would diverge from SQL round).
SIGN_QUANT_SCALE = 1048576.0  # 2^20


def quantize_vec(M: "np.ndarray") -> "np.ndarray":
    """Exact int64 quantization of a (n × dim) double matrix — the
    kernel-side half of the cross-engine sign convention."""
    return np.floor(M * SIGN_QUANT_SCALE + 0.5).astype(np.int64)


def sign_band_buckets(spark: SparkSession, vecs: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) banded sign-LSH buckets of a
    (vec_id, vec: array<double>) frame.

    The signature build is MAP-ONLY: a vectorized Arrow pandas_udf
    stacks each batch into an (n × dim) matrix and computes all 64
    plane dot products as ONE BLAS matmul, packs sign bits into the 8
    per-band bucket ints, and posexplode flattens to long form. No
    crossJoin, no groupBy, no shuffle — the per-vector cost is pure
    SIMD arithmetic, which is the kernel shape a 1000-executor run
    needs (each task matmuls its own partition; band-join shuffles
    happen downstream on the tiny (vec_id, band, bucket) rows only).

    History: a ×64-row long form (broadcast plane table + HOF dot +
    partial agg) was correct but re-paid ~2 s of join/agg overhead per
    cold run at sf0.1 (BENCH_r03 ann_lsh regression under per-query
    cache isolation); 64 stacked zip_with/aggregate HOFs in one
    projection is no better — Janino codegen blow-up (profiled). The
    matmul kernel is ~10× the throughput of either and is the
    documented "vectorized Pandas UDF" slot for embedding math.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(hyperplanes(), dtype=np.int64)  # (planes, dim)
    W = (1 << np.arange(BITS_PER_BAND)).astype(np.int64)  # bit weights

    @pandas_udf("array<long>")
    def band_buckets(vec: pd.Series) -> pd.Series:
        if not len(vec):  # empty Arrow batch from an empty partition
            return pd.Series([], dtype=object)
        M = np.vstack(vec.to_numpy())  # (n, dim)
        # exact int64 matmul (quantized vectors × integer planes):
        # order-independent, bit-identical to the DuckDB oracle's
        # per-plane SUM. |q|≤~2^22, |p|≤16, 64 dims → |dot| < 2^33.
        sign = (quantize_vec(M) @ P.T) > 0  # strict >0, matches oracle
        B = sign.reshape(len(M), LSH_BANDS, BITS_PER_BAND) @ W  # (n, bands)
        return pd.Series(list(B.astype(np.int64)))

    return vecs.select(
        "vec_id", F.posexplode(band_buckets("vec")).alias("band", "bucket")
    )


def band_candidate_pairs(bb: DataFrame) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs agreeing on ≥1 full band — the
    LSH candidate set. One equi-join on (band, bucket): shuffle volume
    O(n × bands); only same-bucket rows ever meet."""
    a = bb.alias("a")
    b = bb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via banded sign-LSH: candidates = vectors
    sharing at least one of the query's 8 band buckets; exact cosine
    re-ranks candidates only.

    At scale the (band, bucket) filter touches ~bands/2^bits ≈ 3%
    of the data for a uniform corpus instead of all of it, while a
    genuinely-near vector (the ANN use case) shares a full band w.h.p.

    The QUERY side is planned coordinator-side, like IVF's probe-cell
    pick: the 1-row query vector is fetched (bounded collect, filter
    pushed to the scan) and its 8 band buckets computed in numpy with
    the same sign(M·Pᵀ) kernel the distributed build uses, yielding a
    literal 8-term (band, bucket) predicate. The data side is then ONE
    map-only job — signature matmul → bucket filter → exact-cosine
    re-rank of survivors — with no index-side self-join, no broadcast
    exchange, no persist. (The former two-sided plan computed the
    query's buckets distributively and broadcast-joined them; correct,
    but 3 jobs + a persisted index frame per cold run — measured ~2×
    this plan's wall time under per-query cache isolation.)
    Approximate ⇒ rows-only driver check; recall vs the exact baseline
    and exactness-within-candidates are asserted in tests.

    CONTRACT NOTE: unlike every other registered query,
    this one runs an eager Spark job at DataFrame-CONSTRUCTION time —
    the 1-row query-vector collect above — because the literal bucket
    predicate (the whole point of the one-job plan) cannot be built
    without the query vector. Analysis-only tooling that builds plans
    without executing them (tools/audit_plans.py, tools/sweep_dtypes.py)
    therefore pays one bounded 1-row job for this query, and a harness
    that separates plan-build from timed execution under-times it by
    that fetch (~0.1 s, scan filter pushed to vec_id). Declared in the
    __spark_entry__ registration comment."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("vec"))
    qrows = vecs.where(F.col("vec_id") == QUERY_VEC_ID).collect()
    # 1×dim bounded collect, same class as IVF's query fetch. A
    # regenerated fixture without vec_id 0 degrades to an empty top-K
    # (as the old two-sided plan did), never a crash.
    if not qrows:
        return vecs.select(
            "vec_id", F.lit(0.0).alias("sim")
        ).limit(0)
    qvec = np.asarray(qrows[0]["vec"])
    P = np.asarray(hyperplanes(), dtype=np.int64)
    W = (1 << np.arange(BITS_PER_BAND)).astype(np.int64)
    sign = (quantize_vec(qvec) @ P.T) > 0  # identical kernel to sign_band_buckets
    qbuckets = sign.reshape(LSH_BANDS, BITS_PER_BAND) @ W  # (bands,)

    bb = sign_band_buckets(spark, vecs.where(F.col("vec_id") != QUERY_VEC_ID))
    hit = None
    for band, bucket in enumerate(qbuckets):
        term = (F.col("band") == band) & (F.col("bucket") == int(bucket))
        hit = term if hit is None else (hit | term)
    cand_ids = bb.where(hit).select("vec_id").distinct()

    sim = cosine(F.col("vec"), F.lit(qvec.tolist()).cast("array<double>"))
    return (
        cand_ids.join(vecs, "vec_id")
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", F.round("sim", 4).alias("sim"))
    )


IVF_K = 16       # coarse centroids
IVF_NPROBE = 4   # centroids searched per query
IVF_ITERS = 3    # Lloyd iterations (deterministic init → stable fast)

# The IVF and PQ indexes are built once per (session, dataset) and
# reused by every query (session.session_memo) — the IVF contract;
# re-fitting per query was profiled at >60 s of pure overhead at
# sf0.01. Benchmark isolation drops the memo with the persisted frames
# (evict_scratch), so an index-backed query pays its full build inside
# its own timed window, instead of re-running the assignment lineage
# of an unpersisted frame while a stale memo reports a warm index.
# The benchmark harness (perfbench/harness.py) still imports this
# name, and the harness changes only with the benchmark itself.
evict_index_caches = evict_scratch


def _sqdist_q(a: Column | str, b: Column | str) -> Column:
    """Quantized squared distance: Σ floor((x−y)²·1e15) as a 64-bit
    integer. Each term is a pure IEEE-double pipeline (subtract,
    square, multiply by the exactly-representable 1e15, floor) that
    yields the identical integer in any engine, and integers sum
    exactly in ANY order — so an argmin over (d2q, cell) is fully
    deterministic and cross-engine reproducible (the pagerank
    atto-quantization convention, functions of it proven in
    operators/graph.py). Bounds: terms ≤ ~4e15 < 2^53 (floor exact),
    64-dim sums ≤ ~2.6e17 < 2^63 (no overflow). Quantization moves a
    boundary only when two cells are within 1e-15 of equidistant —
    far below the fixture's Voronoi margins (pinned by the NumPy
    replica test)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.floor((x - y) * (x - y) * F.lit(1e15))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _vec_sql(c: list[float]) -> str:
    """SQL fragment for a literal double array. ``repr(float)`` is the
    shortest round-trip decimal and Spark's parser reads the ``D``
    literal with Double.parseDouble — the identical IEEE bits the old
    per-element ``F.lit(float(x))`` produced. Non-finite values have no
    ``D`` literal (``repr(inf)`` gives ``infD``), so they raise here
    instead of as an unrelated parse error."""
    vals = [float(x) for x in c]
    for i, x in enumerate(vals):
        if not math.isfinite(x):
            raise ValueError(f"non-finite vector element [{i}] = {x!r}")
    return "array(" + ",".join(f"{x!r}D" for x in vals) + ")"


def _lit_vec(c: list[float]) -> Column:
    # one py4j call (r14): the unrolled F.array(*[F.lit(x) ...]) form
    # cost ~0.6 ms/element of driver-side plan construction — ~1 s per
    # K×dim argmin build, 5 builds per Lloyd fit (see ahash64_hex for
    # the measurement pattern). Same analyzed expression tree.
    return F.expr(_vec_sql(c))


def _argmin_cell(arr: Column | str, centroids: list[list[float]]) -> Column:
    """MAP-ONLY Lloyd assignment: the K centroids are driver-side
    index metadata (K×dim ≤ 1024 doubles), so the per-vector argmin
    is a literal-array projection — array_min over
    struct<d2q:long, cell:int> (field-by-field struct ordering = the
    same (d2q, cell) deterministic tiebreak as the old min-struct
    groupBy). Replaces the r02 crossJoin(K-row table) +
    groupBy(vec_id) shape, which shuffled K rows per vector per
    iteration — at 100 TB a Lloyd pass must be a narrow scan with
    broadcast centroids, and this is that plan (zero shuffles; the
    only exchange left in an iteration is the K×dim partial-agg
    centroid update). Arithmetic unchanged: the same _sqdist_q
    integer distances against the same Python-float centroid values
    (literal doubles ≡ createDataFrame doubles), so fits are
    bit-identical and every downstream hash is preserved (proven at
    the r12 swap: golden centroid/assignment dumps matched exactly)."""
    # named_struct, not struct: when this projection shares a select
    # with a generator (posexplode in the update pass), the analyzer
    # re-derives the struct type and drops Column.alias field names
    # (col1/col2), breaking getField("cell").
    cells = F.array(
        *[
            F.named_struct(
                F.lit("d2q"),
                _sqdist_q(arr, _lit_vec(c)),
                F.lit("cell"),
                F.lit(i).cast("int"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(cells).getField("cell")


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
) -> tuple[list[list[float]], DataFrame]:
    """Build (or fetch cached) the IVF coarse quantizer: K centroids via
    Lloyd's k-means implemented as DataFrame ops, plus the persisted
    cell assignment table.

    Everything data-sized stays distributed AND shuffle-free per
    iteration: assignment is the map-only literal-centroid argmin
    (_argmin_cell — no crossJoin, no groupBy(vec_id)); the centroid
    update collects only K×dim averaged components through a
    K×dim-group partial agg (bounded, index metadata — the standard
    IVF layout keeps centroids driver/coordinator-side).
    Deterministic init (first K vec_ids) → the index is reproducible.

    Iteration contract (oracle-replayed, unchanged since r02): the
    returned ``assigned`` frame is the assignment under the centroids
    at the START of the last iteration — there is no closing
    re-assignment pass — while the returned centroid list carries all
    ``iters`` updates."""
    def build():
        with driver_paced_build_conf(spark):
            return _build_ivf_index_jobs(spark, sf_dir, k, iters)

    return session_memo(spark, ("ivf", sf_dir, k, iters), build)


def _build_ivf_index_jobs(spark: SparkSession, sf_dir: str, k: int, iters: int):
    """The fit's bounded driver-paced job chain (see build_ivf_index;
    runs with AQE off — r14, session.driver_paced_build_conf: each
    iteration is one K×dim collect over a persisted frame, where AQE's
    per-exchange stage jobs only add driver pacing)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = scratch_persist(
        emb.select("vec_id", _as_double("embedding").alias("arr"))
    )
    centroids = [
        list(map(float, r["arr"]))
        for r in vecs.orderBy("vec_id").limit(k).collect()
    ]

    last_assign_centroids = centroids
    for _ in range(iters):
        last_assign_centroids = centroids
        # centroid update: K×dim bounded collect of per-cell means.
        # The mean is made engine-exact (and partition-order-free,
        # which plain F.avg over doubles is NOT) by the quantized-sum
        # convention: Σ floor(x·1e15) sums exactly in decimal(38,0),
        # and float(sum)/1e15/n is two correctly-rounded ops — the
        # identical double in Spark, NumPy, and the DuckDB oracle.
        # two selects, deliberately: a generator sharing a select
        # re-evaluates sibling expressions once PER EXPLODED ROW —
        # the 16-cell argmin would run 64× per vector (measured 12×
        # the split plan at the r12 swap).
        comp = (
            vecs.select(_argmin_cell("arr", centroids).alias("cell"), "arr")
            .select("cell", F.posexplode("arr").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(quantized("x", 1e15)).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty cells keep position
        for r in comp:
            new_c[r["cell"]][r["pos"]] = (
                float(int(r["qs"])) / 1e15
            ) / int(r["n"])
        centroids = new_c

    assigned = scratch_persist(
        vecs.select(
            "vec_id",
            "arr",
            _argmin_cell("arr", last_assign_centroids).alias("cell"),
        )
    )
    assigned.count()  # materialize so queries never re-run the fit
    return centroids, assigned


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF: probe the NPROBE cells whose
    centroids are nearest the query, exact-cosine re-rank only those
    cells' vectors (an equi-filter on cell id ⇒ ~NPROBE/K of the data).

    The quantizer comes from ``build_ivf_index`` — built once per
    dataset, cached; the query path contains no fitting. The only
    collects are the 1-row query vector and the K-row centroid list.

    HASH-VERIFIED (r07): with the Lloyd fit engine-exact, the whole
    query path is oracle-expressible — probe cells are ranked by the
    same quantized integer distance Σ floor((q−c)²·1e15) with a
    deterministic (dq, cell) order (plain Python ints here: K×dim
    driver-side work on already-collected index metadata), and the
    re-rank follows the proven topk_similarity cosine/ROUND-4
    convention; the DuckDB oracle replays fit → probe → re-rank."""
    centroids, assigned = build_ivf_index(spark, sf_dir)

    qrow = assigned.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("arr").alias("qvec")
    )
    q = [float(x) for x in qrow.collect()[0]["qvec"]]  # 1×dim: bounded

    def dq(c: list[float]) -> int:
        return sum(
            int(math.floor((qi - ci) * (qi - ci) * 1e15))
            for qi, ci in zip(q, c)
        )

    probe_cells = sorted(
        range(len(centroids)), key=lambda i: (dq(centroids[i]), i)
    )[:IVF_NPROBE]

    sim = cosine(F.col("arr"), F.col("qvec"))
    return (
        assigned.where(
            F.col("cell").isin(probe_cells) & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", F.round("sim", 4).alias("sim"))
    )


# Planted near-dup slice for the contract queries. The shared
# embeddings fixture is uniform random — its maximum pairwise cosine is
# ~0.51, so a 0.95-threshold near-dup query over the raw table is
# vacuously empty and the driver row proves only that nothing crashes.
# The contract queries therefore augment the table with ONE
# deterministic perturbed twin per PLANT_MOD-th vector (first component
# scaled by 0.9 → cos ≈ 0.999 to its original): the pair set the query
# must recover is known, non-empty, and identical across engines, so
# the driver row carries real recall signal. Both the Spark side and
# the DuckDB oracle (oracles.py "embedding_neardup_exact") apply the
# same planting in double precision.
PLANT_MOD = 25
PLANT_OFFSET = 1_000_000


def contract_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, vec double[]) — embeddings plus the planted twin slice."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("vec"))
    twins = vecs.where(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("vec", 1) * F.lit(0.9)),
            F.slice("vec", 2, EMBED_DIM - 1),
        ).alias("vec"),
    )
    return vecs.unionAll(twins)


def q_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (round(cos,4) ≥ 0.95)
    via all-pairs self-join over the planted contract vectors — the
    oracle-checkable baseline twin of q_embedding_neardup. O(n²):
    verification-scale only; the LSH variant is the 100 TB path."""
    vecs = contract_vectors(spark, sf_dir)
    a = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va")
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb")
    )
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(sim, 4).alias("sim"))
        .where(F.col("sim") >= NEARDUP_COS)
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.95): banded
    sign-LSH candidates + exact cosine verify.

    Candidates come from the (band, bucket) equi-join — O(n × bands)
    shuffle, ~bands/2^bits of all pairs for a uniform corpus — never an
    all-pairs or big-bucket join; a cos≥0.95 pair agrees on some full
    band w.h.p. so recall stays high (asserted in tests on planted
    near-dups, alongside a candidate-fraction bound). This is the plan
    that survives 100 TB; q_embedding_neardup_exact is its
    verification-scale oracle twin. Runs over the planted contract
    vectors (see ``contract_vectors``) so the recovered pair set is
    non-empty and known."""
    # scanned by the bucket pipeline and both sides of the verify join
    vecs = scratch_persist(contract_vectors(spark, sf_dir))
    bb = scratch_persist(sign_band_buckets(spark, vecs))
    # ^ both sides of the candidate self-join; persisting computes the
    # ×planes bucket pipeline once instead of twice
    cands = band_candidate_pairs(bb)
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", F.round(sim, 4).alias("sim"))
        .where(F.col("sim") >= NEARDUP_COS)
    )


SEMDEDUP_COS = NEARDUP_COS  # prune threshold (cos ≥ 0.95)
# Bands a candidate pair must agree on (of LSH_BANDS=8). 1 was the
# r07 setting; 2 cuts uniform-vector chance collisions ~70x (the sf10
# scale fix) at ~1e-6 planted-twin miss probability.
SEMDEDUP_MIN_BANDS = 2


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with the engine's
    k-means (the IVF coarse quantizer), compare pairs only WITHIN a
    cluster, and keep one representative per near-duplicate group.
    Emits the full decision table (vec_id, cell, keep) over the
    planted contract vectors — the keep-list a curation pass feeds to
    the corpus filter, exactly as dedup_keep does for text clusters.

    Composition of existing kernels: centroids come from
    build_ivf_index (session-memoized Lloyd's fit, deterministic
    first-K init); the planted contract vectors (originals + known
    0.999-cosine twins) are assigned to their nearest centroid by the
    same broadcast argmin; candidate pairs are the within-cell
    self-join; the keep rule is PRUNE-IF-ANY-SMALLER-NEIGHBOR — prune
    any vector with a ≥SEMDEDUP_COS neighbor of SMALLER vec_id in its
    cell (one distinct + one left anti-join). PINNED CHAIN SEMANTICS
    (r07 verdict ask #3, tests/test_dedup_similarity.py chain pin):
    the prune is by neighbor EXISTENCE, not by SURVIVING-neighbor
    existence — in a similarity chain a~b, b~c (a≁c, ids a<b<c) both
    b and c are pruned even though b, c's only near-neighbor, was
    itself removed. Precisely: the survivors are the LOCAL MINIMA of
    the near-neighbor graph under vec_id order — each connected
    group's global minimum always survives (it has no smaller
    neighbor), and a chain interior whose neighbors all have LARGER
    ids also survives (e.g. geometry 2~3~1 keeps {1, 2}); for cliques
    (the planted-twin fixtures) exactly the minimum survives,
    matching the paper's one-per-group selection. A sequential greedy
    pass would additionally keep pruned-pruner chain tails like c;
    one anti-join vs an inherently sequential per-cell scan is the
    right trade at cluster scale, and downstream keep-list consumers
    only require that ≥1 representative per group survives — which
    local-minima retention guarantees. The DuckDB oracle replays the
    SAME rule, and the planted a~b~c chain pytest pins the rule
    itself (the class the pair fixtures can't see).

    Scale: the paper bounds the pair space by growing k with the
    corpus (k=50k for LAION) so Σ|cell|² stays linear; this engine's
    quantizer is a fixed-K coarse fit, so within-cell candidates are
    additionally banded with the map-only sign-LSH signature kernel
    (``sign_band_buckets``) — pairs must agree on (cell, band,
    bucket), so the self-join shuffles O(n × bands) signature rows
    and only same-bucket rows ever meet, never a per-cell all-pairs
    (the r06 scale curve caught the all-pairs form at 11.3× time for
    10× data: n²/K with fixed K is still quadratic). A ≥0.95-cos
    pair agrees on some full band w.h.p. (miss probability ≈2e-8 at
    cos 0.999), so planted-twin recall is preserved — still pinned in
    tests. HASH-VERIFIED since r07 wave 2 (was rows-only r06): every
    stage is now cross-engine-exact — cells from the quantized Lloyd
    fit (the kmeans_clusters/ann_ivf convention), bands from the
    integer sign-LSH kernel (hyperplanes/quantize_vec), and the prune
    from the round-to-4 cosine convention — so the DuckDB oracle
    replays the full decision table bit-for-bit; planted-twin recall,
    keep-exactly-one, and determinism remain pinned in
    tests/test_dedup_similarity.py."""
    centroids, _ = build_ivf_index(spark, sf_dir)
    vecs = contract_vectors(spark, sf_dir)
    return semantic_keep_table(spark, centroids, vecs)


def semantic_keep_table(
    spark: SparkSession, centroids: list, vecs: DataFrame
) -> DataFrame:
    """The SemDeDup decision core over an arbitrary (vec_id, vec)
    frame: nearest-centroid assignment → (cell, band, bucket)-banded
    candidates → prune-if-any-smaller-neighbor keep table. Extracted
    from q_semantic_dedup so the planted a~b~c CHAIN pin can drive the
    real operator path on constructed geometry (pair fixtures alone
    can't distinguish neighbor-existence from surviving-neighbor
    pruning)."""
    # scanned by the assignment and both sides of the pair join
    vecs = scratch_persist(vecs)
    cdf = spark.createDataFrame(
        list(enumerate(centroids)), "cell int, cvec array<double>"
    )
    assigned = scratch_persist(
        vecs.crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            F.struct(
                _sqdist_q("vec", "cvec").alias("d2q"), "cell"
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.cell").alias("cell"))
        .join(vecs, "vec_id")
    )
    bbc = scratch_persist(
        sign_band_buckets(spark, assigned.select("vec_id", "vec"))
        .join(assigned.select("vec_id", "cell"), "vec_id")
    )  # (vec_id, band, bucket, cell): both sides of the candidate join
    a = bbc.alias("a")
    b = bbc.alias("b")
    # r11 scale fix (the sf10 tier catch — 404 s at sf10, 14.6x for
    # 3.33x data): candidates must agree on >= SEMDEDUP_MIN_BANDS
    # bands, not just one. Chance same-bucket collisions of UNIFORM
    # vectors fall ~70x (P: 8/256 -> C(8,2)/256^2 per cell-pair)
    # while a genuine >=0.95-cos pair still collides on >=2 bands
    # w.h.p. (planted 0.999-twins: miss ~1e-6 — the recall pins in
    # tests/test_dedup_similarity.py still hold). The groupBy COUNT
    # replaces the distinct — same shuffle volume in, ~70x fewer
    # verify pairs out. The DuckDB oracle applies the identical rule.
    cands = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .where(F.col("n_bands") >= SEMDEDUP_MIN_BANDS)
        .select("vec_a", "vec_b")
    )
    va = assigned.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = assigned.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    pruned = (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        # round-to-4 threshold: the engine's cross-engine cosine
        # convention (topk_similarity / embedding_neardup) — keeps the
        # prune decision bit-identical in the DuckDB oracle
        .where(F.round(cosine(F.col("va"), F.col("vb")), 4) >= SEMDEDUP_COS)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            pruned.withColumn("is_pruned", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cell",
            (~F.coalesce(F.col("is_pruned"), F.lit(False))).alias("keep"),
        )
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignments + per-cell stats — the iterative-ML
    surface of the engine, exposing the same Lloyd's fit that powers
    the IVF index (build_ivf_index: deterministic first-K init, 3
    iterations, broadcast-argmin assignment, bounded K×dim centroid
    update per round).

    HASH-VERIFIED (r07): the fit's arithmetic is engine-exact — the
    assignment distance is the quantized integer Σ floor((x−y)²·1e15)
    (order-free exact sum, deterministic (d2q, cell) argmin) and the
    centroid mean is float(Σ floor(x·1e15))/1e15/n (two correctly-
    rounded ops) — so the DuckDB oracle unrolls the IVF_ITERS Lloyd
    rounds as CTEs and matches exactly; tests/test_dedup_similarity.py
    additionally cross-checks against an exact NumPy replica of the
    same quantized fit."""
    _, assigned = build_ivf_index(spark, sf_dir)
    return assigned.select("vec_id", F.col("cell").cast("long").alias("cell"))


def q_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, long form (label, dim, centroid_v,
    n_vecs) — the class-prototype aggregate behind nearest-centroid
    classifiers, IVF coarse quantizers, and drift monitoring.

    posexplode flattens vectors to (label, dim, value) so the centroid
    is ONE partial→final hash aggregate over label×dim groups — no
    collect, no Python, and shuffle volume is O(labels × dims), not
    O(vectors). Component sums are decimal-routed (the engine's
    order-independence convention): float32 inputs are exact in
    double, and the decimal(38,20) accumulator makes the sum
    independent of partitioning; the mean is rounded to 6 decimals for
    cross-engine hashing."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(_as_double("embedding")).alias("pos", "v")
    )
    return (
        flat.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            fine_sum("v", 20, "s"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select(
            "label",
            "dim",
            (F.round(F.col("s") / F.col("n_vecs"), 6) + 0.0).alias(
                "centroid_v"
            ),
            "n_vecs",
        )
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-vector quantization report — the compression
    step an embedding store applies before ANN serving (scale =
    127/max|x|, q = round(x·scale), int8): per vector, the scale, the
    exact integer quantized-norm², and the max absolute reconstruction
    error.

    Hash-verified WITHOUT any rounding fudge by choosing outputs whose
    float paths are order-free: ``scale`` is one division on one max;
    ``qnorm_sq`` is an integer sum (exact, any order); ``max_abs_err``
    is a max over per-element doubles, each computed by the identical
    IEEE expression chain in both engines (float32→double exact
    widening, one multiply, HALF-UP round — Spark ROUND and DuckDB
    round() both tie away from zero — one divide, one subtract). No
    accumulation-order-dependent float sum appears anywhere.

    Scale: map-only over the vectors (array HOFs, whole-stage
    codegen'd, no shuffle at all) — quantizing 100 TB of embeddings is
    a pure scan; the int8 payload (qnorm here; the full q array in the
    production writer) is what ships to the serving tier at 4× less
    bandwidth than float32."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = _as_double("embedding")
    absmax = F.array_max(F.transform(x, lambda v: F.abs(v)))
    base = emb.select("vec_id", x.alias("x"), absmax.alias("absmax")).where(
        F.col("absmax") > 0
    )
    scale = F.lit(127.0) / F.col("absmax")
    withq = base.select(
        "vec_id",
        "x",
        scale.alias("scale"),
        F.transform(
            "x", lambda v: F.round(v * scale).cast("int")
        ).alias("qv"),
    )
    return withq.select(
        "vec_id",
        F.size("x").cast("long").alias("n_dims"),
        "scale",
        F.aggregate(
            "qv",
            F.lit(0).cast("long"),
            lambda acc, q: acc + q.cast("long") * q,
        ).alias("qnorm_sq"),
        F.array_max(
            F.zip_with(
                "x",
                "qv",
                lambda xv, qv: F.abs(
                    xv - qv.cast("double") / F.col("scale")
                ),
            )
        ).alias("max_abs_err"),
    )


# --- Product quantization (round 5) -----------------------------------
#
# PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search"): split each vector into PQ_M subvectors, k-means each
# subspace to PQ_K centroids, store vectors as PQ_M small codes
# (64 dims × float32 → 8 bytes here, 32× compression). Queries scan
# CODES with a broadcast 8×16 lookup table (asymmetric distance
# computation) — the memory-bound ANN layout IVF composes with at
# billion scale. Completes the engine's ANN triple: sign-LSH
# (bucketed candidates), IVF (cell-pruned exact), PQ (compressed ADC
# scan).
PQ_M = 8
PQ_K = 16
PQ_DSUB = EMBED_DIM // PQ_M
PQ_ITERS = 4


def build_pq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[list[float]]], DataFrame]:
    """Train per-subspace codebooks (Lloyd's, deterministic init =
    the first PQ_K vectors' subvectors) and persist the codes table.

    Distribution contract mirrors build_ivf_index: assignment is
    MAP-ONLY — the PQ_M×PQ_K codebook ships as a nested literal array
    and each (vec_id, m) row argmins over its own subspace's PQ_K
    entries via array_min over struct<d2q, cell> (_pq_argmin below;
    same deterministic cell tiebreak as the old broadcast-join +
    groupBy(vec_id, m) shape, which shuffled PQ_K rows per subvector
    per iteration); each update collects only PQ_M × PQ_K × PQ_DSUB
    averaged components (bounded index metadata). Memoized per
    session until ``session.evict_scratch``."""

    def _pq_argmin(books: list[list[list[float]]]) -> Column:
        # nested literal codebook: PQ_M × PQ_K × PQ_DSUB = 1024
        # doubles — index metadata, the broadcast-literal convention
        # shared with q_ann_pq's LUT. One py4j call (r14, see
        # _lit_vec): the whole nested literal parses server-side.
        books_lit = F.expr(
            "array("
            + ",".join(
                "array("
                + ",".join(_vec_sql(books[m][c]) for c in range(PQ_K))
                + ")"
                for m in range(PQ_M)
            )
            + ")"
        )
        book = F.element_at(books_lit, F.col("m") + 1)
        cells = F.transform(
            F.sequence(F.lit(0), F.lit(PQ_K - 1)),
            # named_struct, not struct: Column.alias is dropped on
            # lambda-derived columns inside HOF bodies (fields would
            # come out col1/col2 and getField("cell") would fail).
            lambda c: F.named_struct(
                F.lit("d2q"),
                _sqdist_q(F.col("sub"), F.element_at(book, c + 1)),
                F.lit("cell"),
                c.cast("int"),
            ),
        )
        return F.array_min(cells).getField("cell")
    def build():
        with driver_paced_build_conf(spark):
            return _build_pq_index_jobs(spark, sf_dir, _pq_argmin)

    return session_memo(spark, ("pq", sf_dir), build)


def _build_pq_index_jobs(spark: SparkSession, sf_dir: str, _pq_argmin):
    """The fit's bounded driver-paced job chain (see build_pq_index;
    AQE off for the same reason as _build_ivf_index_jobs — r14)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("arr"))
    subs = scratch_persist(
        vecs.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
            F.col("arr"),
        ).select(
            "vec_id",
            "m",
            F.slice(
                F.col("arr"), F.col("m") * PQ_DSUB + 1, F.lit(PQ_DSUB)
            ).alias("sub"),
        )
    )

    seed = (
        subs.join(
            F.broadcast(
                vecs.orderBy("vec_id").limit(PQ_K).select("vec_id")
            ),
            "vec_id",
        )
        .orderBy("vec_id", "m")
        .collect()
    )
    books: list[list[list[float]]] = [[None] * PQ_K for _ in range(PQ_M)]
    ranks: dict[int, int] = {}
    for r in seed:
        if r["vec_id"] not in ranks:
            ranks[r["vec_id"]] = len(ranks)
        books[r["m"]][ranks[r["vec_id"]]] = list(map(float, r["sub"]))

    # PQ_ITERS centroid updates + ONE extra closing assignment pass so
    # the persisted codes are consistent with the final books: the
    # persisted codes must be the nearest-centroid assignment of the
    # SHIPPED codebooks, or ADC LUT distances aren't true
    # reconstruction distances of the stored codes.
    for _ in range(PQ_ITERS):
        # quantized-mean update (the build_ivf_index convention):
        # Σ floor(x·1e15) sums exactly in decimal(38,0), and
        # float(sum)/1e15/n is two correctly-rounded ops — the same
        # double in Spark, Python, and the DuckDB oracle (plain avg
        # over doubles is partition-order-dependent).
        # two selects: same generator re-evaluation trap as the IVF
        # update pass (argmin would run once per exploded element).
        comp = (
            subs.select("m", _pq_argmin(books).alias("code"), "sub")
            .select("m", "code", F.posexplode("sub").alias("pos", "x"))
            .groupBy("m", "code", "pos")
            .agg(
                F.sum(quantized("x", 1e15)).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        for r in comp:  # empty cells keep their previous centroid
            books[r["m"]][r["code"]][r["pos"]] = (
                float(int(r["qs"])) / 1e15
            ) / int(r["n"])

    codes = scratch_persist(
        subs.select("vec_id", "m", _pq_argmin(books).alias("code"))
    )
    codes.count()  # materialize: queries never re-run the fit
    return books, codes


PQ_SHORTLIST = 4 * TOP_K  # ADC candidates kept for exact re-rank


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via PQ asymmetric distance + exact re-rank
    (the ADC+R pipeline): the query builds an 8×16 LUT of exact
    subspace distances coordinator-side (1-row query fetch + the
    codebook — both bounded index metadata), ships it as a LITERAL
    nested array, and the scan sums 8 LUT lookups per vector over the
    CODES table — never touching raw vectors (the 32×-compressed
    serving layout). The ADC top-40 shortlist (TakeOrdered) then
    re-ranks by EXACT distance against the raw vectors of just those
    40 ids (broadcast semi-filter) — the standard accuracy recovery
    for PQ's quantization error, which uniform-random fixtures
    maximize. Deterministic: codes fold in fixed subspace order, ties
    break on vec_id at both stages.

    HASH-VERIFIED since r07 wave 2 (was rows-only r05/r06): the
    per-subspace Lloyd fit now uses the engine-exact quantized
    conventions (integer Σ floor((x−y)²·1e15) assignment distances,
    correctly-rounded quantized centroid means), the LUT is an integer
    table of the same quantized distances, the ADC fold and the
    re-rank are exact int64 sums, and the output distance is the
    shared long→double/1e15 reconstruction — so the DuckDB oracle
    unrolls fit → codes → LUT → shortlist → re-rank bit-for-bit.
    Recall vs the exact L2 top-10, ADC-reconstruction fidelity, and
    code-range/compression invariants remain pinned in
    tests/test_round5_pq.py. At 100 TB the codes table
    is the only thing scanned (per-vector cost: 8 byte reads + 8
    float adds); the re-rank touches SHORTLIST raw vectors, and IVF
    cell pruning composes in front of the scan."""
    books, codes = build_pq_index(spark, sf_dir)

    emb = load_table(spark, sf_dir, "embeddings")
    q = np.array(
        emb.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(_as_double("embedding").alias("arr"))
        .collect()[0]["arr"]
    )
    # quantized integer LUT (exact in any summation order, replayable
    # in SQL): each entry is Σ_pos floor((q−c)²·1e15) over the
    # subspace's PQ_DSUB dims — plain Python float ops, bit-identical
    # to the oracle's per-element FLOOR pipeline.
    lut = [
        [
            sum(
                int(math.floor((qi - ci) * (qi - ci) * 1e15))
                for qi, ci in zip(
                    q[m * PQ_DSUB : (m + 1) * PQ_DSUB], books[m][c]
                )
            )
            for c in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    lut_col = F.array(
        *[F.array(*[F.lit(v).cast("long") for v in row]) for row in lut]
    )
    per_vec = (
        codes.where(F.col("vec_id") != QUERY_VEC_ID)
        .groupBy("vec_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("m", "code"))
            ).alias("mc")
        )
    )
    adc = F.aggregate(
        "mc",
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(lut_col, s["m"] + 1), s["code"] + 1
        ),
    )
    shortlist = (
        per_vec.select("vec_id", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    qlit = F.array(*[F.lit(float(v)) for v in q])
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("arr")
    )
    return (
        raw.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", _sqdist_q("arr", qlit).alias("l2q"))
        .orderBy("l2q", "vec_id")
        .limit(TOP_K)
        .select(
            "vec_id",
            # reconstruction: long→double is one correctly-rounded op
            # in both engines (the DECIMAL→DOUBLE double-round trap
            # does not apply to BIGINT)
            (
                F.round(F.col("l2q").cast("double") / F.lit(1e15), 6) + 0.0
            ).alias("l2_dist"),
        )
    )


# knn_join constants are shared with the oracle (single source of
# truth in oracles.py, the BM25 precedent).
from ..oracles import KNN_K, KNN_Q  # noqa: E402


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact k-NN join: for each of the KNN_Q query vectors
    (vec_id < KNN_Q), the KNN_K most cosine-similar corpus vectors —
    the batch shape of q_topk_similarity, i.e. the retrieval-eval /
    curation primitive ("for every probe, its neighbors") rather than
    a single lookup.

    Plan: the query batch broadcasts (KNN_Q rows — the allowlisted
    K-row analog of the 1-row query-vector broadcast), each corpus
    vector scores all queries map-side, and the per-query top-K cut is
    a row_number window that compiles to WindowGroupLimit: each map
    partition is pruned to KNN_K rows PER QUERY before the shuffle, so
    the exchange carries ≤ KNN_K·KNN_Q rows per partition — the
    query-count skew of a naive per-query window never reaches the
    wire. Ranking is on the unrounded double with vec_id tiebreak;
    the emitted similarity is rounded to 4 decimals (the
    topk_similarity cross-engine convention). Exact by construction —
    the ANN family (lsh/ivf/pq) is the approximate scale path for
    corpus-sized query batches."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("query_id"),
        _as_double("embedding").alias("qvec"),
    )
    corpus = emb.where(F.col("vec_id") >= KNN_Q).select(
        "vec_id", _as_double("embedding").alias("vec")
    )
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id", "vec_id", cosine(F.col("vec"), F.col("qvec")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "vec_id",
            # + 0.0 normalizes IEEE -0.0 (cosine can be negative and
            # round can land on zero) — the engine-wide convention
            (F.round("sim", 4) + 0.0).alias("sim"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette score over the engine's
    k-means fit (build_ivf_index): for each vector, a = quantized
    squared distance to its own cell's shipped centroid, b = the
    minimum over the other K−1 centroids, sil = (b−a)/max(a,b);
    returns (cell, n, mean_sil) — the standard clustering-quality
    diagnostic a curation pipeline reads before trusting
    semantic_dedup / IVF cell routing.

    The "simplified" (centroid-based) variant is deliberate: true
    silhouette needs all within-cell pairwise distances — n²/K with
    fixed K, the exact quadratic family the r06 scale gate killed in
    semantic_dedup — while the centroid form is one broadcast of K×dim
    index metadata and a map-side K-way argmin per vector, linear at
    any corpus size. Every distance is the engine-exact integer
    Σ floor((x−c)²·1e15) (as int64), the ratio is two correctly-
    rounded BIGINT→DOUBLE casts and one division, and the per-cell
    mean uses the quantized-mean convention — fully hash-verified
    against the unrolled Lloyd-fit oracle."""
    centroids, assigned = build_ivf_index(spark, sf_dir)
    cdf = spark.createDataFrame(
        [(c, v) for c, v in enumerate(centroids)],
        "ocell int, cvec array<double>",
    )
    d = assigned.crossJoin(F.broadcast(cdf)).select(
        "vec_id", "cell", "ocell", _sqdist_q("arr", "cvec").alias("d2q")
    )
    ab = d.groupBy("vec_id", "cell").agg(
        F.min(F.when(F.col("ocell") == F.col("cell"), F.col("d2q"))).alias("a"),
        F.min(F.when(F.col("ocell") != F.col("cell"), F.col("d2q"))).alias("b"),
    )
    sil = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")).cast("double")
        / F.greatest("a", "b").cast("double")
    )
    return (
        ab.select("cell", sil.alias("sil"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(quantized("sil", 1e15)).cast("double")
                / F.lit(1e15)
                / F.count(F.lit(1))
            ).alias("mean_sil"),
        )
    )


# --- PCA: top principal component via quantized power iteration ------------

from ..oracles import PCA_ROUNDS, PCA_SCALE  # noqa: E402 — canonical home


def centered_cov_ints(spark: SparkSession, sf_dir: str):
    """The exact-integer centered second-moment matrix n·Σxᵢxⱼ − SᵢSⱼ
    over the 2^20-quantized embeddings, as a (i, j, c) DataFrame.

    ONE corpus pass with BATCH-LOCAL matmul partials: an Arrow
    mapInPandas kernel quantizes each batch to int64 and computes its
    XᵀX block as ONE exact integer matmul (d² = 4096 partials per
    batch, plus d column sums and a count row) — associative integer
    addition, so the downstream groupBy sum is order-free. The shuffle
    carries O(batches·d²) partial rows, never O(n·d²): the r07c bench
    caught the first cut (double posexplode, n·d² rows through the
    hash aggregate) at 22 s/sf1; the matmul kernel is the same
    "vectorized embedding math" slot as sign_band_buckets. Per-batch
    entries bound: rows·2^40 < 2^63 for any batch under 8M rows.
    Means fold in algebraically (n·Σ − S·S, the corr_matrix trick) so
    centering costs no second pass and no floats."""
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("v", T.LongType()),
        ]
    )

    def partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * PCA_SCALE
                + 0.5
            ).astype(np.int64)
            d = X.shape[1]
            P = X.T @ X  # exact int64 (rows·2^40 ≪ 2^63)
            S = X.sum(axis=0)
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                    "j": np.concatenate(
                        [jj.ravel(), np.full(d, -1), [-1]]
                    ),
                    "v": np.concatenate([P.ravel(), S, [len(X)]]),
                }
            )

    parts = emb.mapInPandas(partials, schema=schema)
    # Accumulate in decimal, not long: per-batch partials are exact
    # int64, but the CROSS-batch sum is bounded only by n_total·2^40 —
    # a LongType sum wraps silently past ~2^23 vectors while the DuckDB
    # oracle accumulates in HUGEINT.
    pair = (
        parts.where(F.col("j") >= 0)
        .groupBy("i", "j")
        .agg(F.sum(long_dec("v")).alias("sxx"))
    )
    sums = (
        parts.where((F.col("j") == -1) & (F.col("i") >= 0))
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
    )
    n = parts.where(F.col("i") == -1).agg(F.sum("v").alias("n"))
    return (
        pair.join(
            F.broadcast(sums.select(F.col("i").alias("i2"), F.col("s").alias("si"))),
            pair.i == F.col("i2"),
        )
        .join(
            F.broadcast(sums.select(F.col("i").alias("j2"), F.col("s").alias("sj"))),
            pair.j == F.col("j2"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            comoment("n", "sxx", "si", "sj").alias("c"),
        )
    )


def _power_iterate(C: dict, dim: int) -> list[int]:
    """Driver-side quantized power iteration on the collected d×d
    integer matrix (bounded index metadata: d² = 4096 entries — the
    IVF-centroid/PQ-codebook class of driver residency). Arbitrary-
    precision Python ints keep every product exact; requantization
    floors MAGNITUDES (sign split, so the oracle's nonneg // is
    bit-identical) back to ≤ 2^20 each round."""
    v = [PCA_SCALE] + [0] * (dim - 1)
    for _ in range(PCA_ROUNDS):
        w = [
            sum(C.get((i, j), 0) * v[j] for j in range(dim))
            for i in range(dim)
        ]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [
            (abs(x) * PCA_SCALE // m) * (1 if x >= 0 else -1) for x in w
        ]
    return v


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by POWER
    ITERATION over the exact-integer centered covariance — the
    iterative distributed linear algebra pattern (one corpus pass
    builds the d×d sufficient matrix; the O(d²)-sized iteration runs
    on bounded driver metadata, exactly like the k-means centroid
    loop). PCA_ROUNDS fixed rounds with power-of-two magnitude
    requantization keep every engine bit-identical: products are
    exact integers, the floor-divide requantization is replayed by
    the oracle's HUGEINT arithmetic, and the only double is the final
    Rayleigh quotient (vᵀCv / vᵀv·scale — two exact integers, one
    division).

    Convergence note: power iteration converges at (λ₂/λ₁)^k, so what
    the fixed-round CONTRACT verifies is the iteration itself, not
    the eigen-limit — the fixture's weak label structure has
    λ₂/λ₁ ≈ 0.99 (hundreds of rounds to 1e-3 alignment), while a
    production spiked spectrum converges in a handful
    (tests pin both: exact replica on the fixture, eigen-limit on a
    planted spike). A caller needing the limit raises PCA_ROUNDS —
    cost is O(d²) per round on the driver, corpus untouched.

    Contract note: like bpe_train/order_stat, the covariance job runs
    at plan-BUILD time (one bounded d²-row collect); the analysis
    tools see the covariance plan via the lazy twin in
    plans/analysis.py.
    """
    cov = centered_cov_ints(spark, sf_dir)
    rows = cov.collect()  # bounded: d² = 4096 rows of index metadata
    C = {(r["i"], r["j"]): int(r["c"]) for r in rows}
    dim = max(i for i, _ in C) + 1
    v = _power_iterate(C, dim)
    num = sum(
        C.get((i, j), 0) * v[i] * v[j]
        for i in range(dim)
        for j in range(dim)
    )
    den = sum(x * x for x in v)
    rayleigh = float(num) / float(den) if den else 0.0
    out = [(i, v[i], rayleigh) for i in range(dim)]
    return spark.createDataFrame(
        out, "pos int, v long, rayleigh double"
    )


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY contract: recall@{TOP_K} of
    the three ANN index shapes — banded sign-LSH, IVF probe, PQ
    ADC+re-rank — against the EXACT neighbors of the fixed
    deterministic query batch (vec_id < KNN_Q, the knn_join split),
    as one driver-hashable report row per index.

    This is the batched form of ann_lsh / ann_ivf / ann_pq: the same
    index artifacts (sign_band_buckets signatures, build_ivf_index's
    Lloyd fit, build_pq_index's codebooks), but probed by a query SET
    through distributed joins instead of one literal predicate — the
    retrieval-eval shape a 100 TB pipeline runs (corpus-sized scans,
    per-query work fanned out by broadcast of the tiny probe tables).
    Ground truth: exact cosine top-K for lsh/ivf (their ranking
    metric), exact quantized-integer L2 top-K for pq (its metric).
    Every stage reuses the family's hash-verified deterministic
    conventions (unrounded-double cosine ranking with vec_id
    tiebreak, Σ floor((x−y)²·1e15) integer distances), so the report
    itself is hash-verified by the composed DuckDB oracle — recall
    numbers are driver-checked artifacts, not pytest pins.

    Bounded driver work, declared per the ann_lsh/ann_ivf contract
    note: one KNN_Q×dim query-batch collect at build time feeds the
    driver-side probe-cell pick (KNN_Q×IVF_K dq evaluations) and the
    PQ LUTs (KNN_Q×PQ_M×PQ_K integer entries shipped back as a
    broadcast literal table) — index METADATA, not data. One
    corpus×queries scored pass is shared by all five top-K branches
    (scratch-persisted; evicted via evict_scratch)."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("vec"))
    queries = vecs.where(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    corpus = vecs.where(F.col("vec_id") >= KNN_Q)

    # Cold-session fit warmup: the IVF and PQ fits are independent
    # driver-paced job chains (each a handful of small bounded-collect
    # jobs), so a cold run would pay them back to back; two threads let
    # the scheduler interleave them — warm sessions hit the memos and
    # skip this entirely. The threads build distinct memo keys.
    from concurrent.futures import (
        FIRST_EXCEPTION,
        ThreadPoolExecutor,
        wait,
    )

    _ex = ThreadPoolExecutor(3)
    try:
        fits = [
            _ex.submit(build_ivf_index, spark, sf_dir),
            _ex.submit(build_pq_index, spark, sf_dir),
            # the KNN_Q×dim query-batch collect (bounded, declared) is
            # independent of both fits — overlap it too (r14, guide
            # §2.6; it previously ran alone after the fits finished)
            _ex.submit(queries.collect),
        ]
        # Propagate the FIRST failure promptly instead of letting
        # the siblings run to completion first (a failed fit would
        # otherwise surface only after the other's whole job chain);
        # the builds write distinct memo keys, so abandoning a sibling
        # is correctness-neutral.
        done, _ = wait(fits, return_when=FIRST_EXCEPTION)
        for f in done:
            f.result()
        qrows = fits[2].result()
    finally:
        _ex.shutdown(wait=False, cancel_futures=True)

    # ONE corpus×queries pass scores BOTH metrics; 5 downstream
    # branches consume it (exact-cos, exact-l2, 3 re-ranks) — persist
    # or the whole scan×broadcast re-executes per branch (the
    # dedup_incremental_near r10 lesson).
    scored = scratch_persist(
        corpus.join(F.broadcast(queries)).select(
            "query_id",
            "vec_id",
            cosine(F.col("vec"), F.col("qvec")).alias("sim"),
            _sqdist_q("vec", F.col("qvec")).alias("l2q"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "vec_id"
    )
    w_l2 = Window.partitionBy("query_id").orderBy("l2q", "vec_id")

    def topk(df: DataFrame, w) -> DataFrame:
        return (
            df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id")
        )

    exact_cos = scratch_persist(topk(scored, w_cos))  # truth ×2
    exact_l2 = topk(scored, w_l2)

    # --- LSH: candidates share ≥1 band bucket with the query ---
    bands = sign_band_buckets(spark, vecs)
    qb = bands.where(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    lsh_cand = (
        bands.where(F.col("vec_id") >= KNN_Q)
        .join(F.broadcast(qb), ["band", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
    )
    lsh_topk = topk(lsh_cand.join(scored, ["query_id", "vec_id"]), w_cos)

    # --- IVF: probe the NPROBE nearest cells per query ---
    centroids, assigned = build_ivf_index(spark, sf_dir)
    # qrows collected above, overlapped with the fits (KNN_Q×dim)
    qmap = {
        int(r["query_id"]): [float(x) for x in r["qvec"]] for r in qrows
    }

    def dq(qv: list[float], c: list[float]) -> int:
        return sum(
            int(math.floor((qi - ci) * (qi - ci) * 1e15))
            for qi, ci in zip(qv, c)
        )

    probe_rows = [
        (qid, int(cell))
        for qid in sorted(qmap)
        for cell in sorted(
            range(len(centroids)),
            key=lambda i: (dq(qmap[qid], centroids[i]), i),
        )[:IVF_NPROBE]
    ]
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")
    ivf_cand = (
        assigned.where(F.col("vec_id") >= KNN_Q)
        .join(F.broadcast(probes), "cell")
        .select("query_id", "vec_id")
    )
    ivf_topk = topk(ivf_cand.join(scored, ["query_id", "vec_id"]), w_cos)

    # --- PQ: ADC shortlist per query, exact-L2 re-rank ---
    books, codes = build_pq_index(spark, sf_dir)
    lut_rows = [
        (
            qid,
            m,
            c,
            sum(
                int(math.floor((qi - ci) * (qi - ci) * 1e15))
                for qi, ci in zip(
                    qmap[qid][m * PQ_DSUB : (m + 1) * PQ_DSUB],
                    books[m][c],
                )
            ),
        )
        for qid in sorted(qmap)
        for m in range(PQ_M)
        for c in range(PQ_K)
    ]
    lut = spark.createDataFrame(
        lut_rows, "query_id long, m int, code int, dq long"
    )
    adc = (
        codes.where(F.col("vec_id") >= KNN_Q)
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dq").alias("adcq"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adcq", "vec_id")
    shortlist = (
        adc.withColumn("rank", F.row_number().over(w_adc))
        .where(F.col("rank") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    pq_topk = topk(shortlist.join(scored, ["query_id", "vec_id"]), w_l2)

    def recall_row(name: str, ann: DataFrame, truth: DataFrame) -> DataFrame:
        hits = ann.withColumn("hit", F.lit(1))
        return (
            truth.join(hits, ["query_id", "vec_id"], "left")
            .agg(
                F.countDistinct("query_id").alias("nq"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("num"),
                F.count(F.lit(1)).alias("den"),
            )
            .select(
                F.lit(name).alias("index_name"),
                F.col("nq").cast("long").alias("n_queries"),
                F.col("num").cast("long").alias("recall_num"),
                F.col("den").cast("long").alias("recall_den"),
                (F.round(F.col("num") / F.col("den"), 4) + 0.0).alias(
                    "recall"
                ),
            )
        )

    return (
        recall_row("lsh", lsh_topk, exact_cos)
        .unionAll(recall_row("ivf", ivf_topk, exact_cos))
        .unionAll(recall_row("pq", pq_topk, exact_l2))
        .orderBy("index_name")
    )


# --- embedding-tier decontamination (r13) ---------------------------------

# Same verify threshold as the near-dup family: a train embedding
# within cos >= 0.95 of an eval embedding is a semantic restatement of
# the eval item (SemDeDup's dup band), which is exactly the leak the
# n-gram decontamination tiers cannot see.
DECONTAM_SEM_COS = NEARDUP_COS
# Bands a candidate pair must agree on (of LSH_BANDS=8) — the family's
# standing >=2-of-8 rule (SEMDEDUP_MIN_BANDS precedent). The r13 sf10
# tier caught the >=1-band form superlinear: chance collisions grow as
# n_train x n_eval (both corpus-proportional in the fixture), 28.7M
# candidate pairs at sf10 -> 11.6x time for 3.33x data; >=2 bands cuts
# chance pairs 43x (measured: 28.7M -> 669k at sf10) while planted
# 0.9996-cos twins agree on >=4 bands at every measured scale, so
# recall is untouched (pinned in tests).
DECONTAM_SEM_MIN_BANDS = SEMDEDUP_MIN_BANDS


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-tier decontamination (r13) — the third rung above
    q_decontaminate (exact 8-grams) and q_decontaminate_near (MinHash
    paraphrases): flag training items whose EMBEDDING is a near-dup
    (cos ≥ DECONTAM_SEM_COS) of any eval-slice embedding. A semantic
    restatement — translated, heavily reworded, reformatted — shares
    no verbatim n-grams and few shingles, but its embedding stays
    nearly collinear with the source; every modern decontamination
    stack (GPT-4/Llama-3 report style) runs this tier last.

    Composition of existing kernels, so the tier adds no new kernel
    for the oracle to replay: the eval
    split is the deterministic md5-bucket < EVAL_PCT % convention
    (dedup.eval_bucket — reproducible across engines); signatures come
    from the map-only integer sign-LSH matmul kernel
    (sign_band_buckets); and the join SHAPE is decontaminate_near's
    broadcast-eval-index posture — the eval side's (vec_id, band,
    bucket) table is the tiny BROADCAST index (real benchmark suites
    are MBs of bands regardless of corpus size), the train side only
    probes, so the corpus scan shuffles nothing but its own band rows
    and no train×train pair is ever formed. Candidates
    (≥DECONTAM_SEM_MIN_BANDS shared bands — the ≥2-of-8 rule the r13
    sf10 tier demanded after the ≥1-band form went superlinear on
    chance collisions) are exact-cosine verified with the round-to-4
    convention, so the DuckDB oracle replays the full probabilistic
    candidate set AND the verdicts bit-for-bit.

    Fixture planting: the raw embeddings are uniform (max pairwise
    cos ≈ 0.51), so contamination is PLANTED — every eval vector gets
    one perturbed twin (first component × 0.9, the contract_vectors
    recipe) injected on the TRAIN side at vec_id + PLANT_OFFSET,
    standing in for a paraphrased eval item that leaked into the
    crawl. Chance band collisions among the uniform remainder
    exercise the verify-REJECTION path (2-3 train×eval pairs share
    ≥2 bands at gate scale and fail the cosine check — computed
    exactly from the deterministic band pipeline), so both tiers
    fire at gate scale — unlike decontaminate_near, whose fixture
    exercises its verify path on a single row.

    Output: one row per train item sharing ≥DECONTAM_SEM_MIN_BANDS
    band buckets with an
    eval item — (vec_id, n_eval_candidates, n_eval_near, contaminated
    = any verified semantic near-dup). Clean train items pass through
    unflagged (the affected-docs convention)."""
    from .dedup import EVAL_PCT, eval_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    raw = emb.select(
        "vec_id",
        _as_double("embedding").alias("vec"),
        (eval_bucket("vec_id") < EVAL_PCT).alias("is_eval"),
    )
    twins = raw.where("is_eval").select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("vec", 1) * F.lit(0.9)),
            F.slice("vec", 2, EMBED_DIM - 1),
        ).alias("vec"),
        F.lit(False).alias("is_eval"),
    )
    vecs = scratch_persist(raw.unionAll(twins))
    # ^ read by the band pipeline and both sides of the verify join
    bb = sign_band_buckets(spark, vecs.select("vec_id", "vec")).join(
        vecs.select("vec_id", "is_eval"), "vec_id"
    )
    cand = scratch_persist(
        bb.where(~F.col("is_eval"))
        .alias("p")
        .join(
            F.broadcast(bb.where("is_eval").alias("c")),
            (F.col("p.band") == F.col("c.band"))
            & (F.col("p.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("p.vec_id").alias("vec_id"),
            F.col("c.vec_id").alias("eval_vec"),
        )
        # >=DECONTAM_SEM_MIN_BANDS agreeing bands per pair (band is in
        # the join key, so each joined row is one distinct shared
        # band): the chance-collision cut the sf10 tier demanded.
        .groupBy("vec_id", "eval_vec")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .where(F.col("n_bands") >= DECONTAM_SEM_MIN_BANDS)
        .select("vec_id", "eval_vec")
    )
    # ^ feeds the verify branch and the candidate count (the
    # decontaminate_near persist rationale)
    va = vecs.select("vec_id", F.col("vec").alias("vp"))
    vc = vecs.select(
        F.col("vec_id").alias("eval_vec"), F.col("vec").alias("vc")
    )
    sim = F.round(cosine(F.col("vp"), F.col("vc")), 4)
    near_n = (
        cand.join(va, "vec_id")
        .join(vc, "eval_vec")
        .where(sim >= DECONTAM_SEM_COS)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_eval_near"))
    )
    cand_n = cand.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_eval_candidates")
    )
    return cand_n.join(near_n, "vec_id", "left").select(
        "vec_id",
        "n_eval_candidates",
        F.coalesce("n_eval_near", F.lit(0)).alias("n_eval_near"),
        (F.coalesce("n_eval_near", F.lit(0)) > 0).alias("contaminated"),
    )
