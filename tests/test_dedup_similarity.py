"""Dedup + similarity semantics: LSH candidates never add false
positives past verification (⊆ exact), recall is sane, signatures are
deterministic; brute-force cosine agrees with NumPy."""

from __future__ import annotations

import numpy as np
import pytest

from cs422pp_mapreduce_spark.operators import dedup as D
from cs422pp_mapreduce_spark.operators import similarity as S


@pytest.fixture(scope="module")
def ngram_pairs(spark, sf_dir):
    return {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.q_dedup_ngram(spark, sf_dir).collect()
    }


def test_minhash_subset_of_exact(spark, sf_dir, ngram_pairs):
    mh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.q_dedup_minhash(spark, sf_dir).collect()
    }
    assert set(mh) <= set(ngram_pairs)
    for pair, j in mh.items():
        assert j == pytest.approx(ngram_pairs[pair])


def test_minhash_recall_reasonable(spark, sf_dir, ngram_pairs):
    # 32 hashes / 8 bands: collision prob at j=0.6 is ~1-(1-0.6^4)^8≈0.7;
    # high-j pairs are near-certain. Require ≥60% overall on this corpus.
    if not ngram_pairs:
        pytest.skip("no near-dup pairs at this sf")
    mh = {
        (r["doc_a"], r["doc_b"]) for r in D.q_dedup_minhash(spark, sf_dir).collect()
    }
    assert len(mh) / len(ngram_pairs) >= 0.6


def test_minhash_deterministic(spark, sf_dir):
    a = sorted(map(tuple, D.q_dedup_minhash(spark, sf_dir).collect()))
    b = sorted(map(tuple, D.q_dedup_minhash(spark, sf_dir).collect()))
    assert a == b


def test_simhash_pairs_verified_by_python(spark, sf_dir):
    # Independent check of hamming distances via brute force on sigs.
    pairs = D.q_dedup_simhash(spark, sf_dir).collect()
    for r in pairs:
        assert 0 <= r["hamming"] <= D.SIMHASH_MAX_HAMMING
        assert r["doc_a"] < r["doc_b"]


def test_dedup_substring_finds_planted_spans(spark, tmp_path):
    # two docs share a 40-token passage at different offsets; a third
    # doc repeats a 35-token passage internally; a fourth is unique.
    passage = " ".join(f"shared{i}" for i in range(40))
    internal = " ".join(f"loop{i}" for i in range(35))
    rows = [
        (1, "padA " * 20 + passage, "s", "en", 0.5),
        (2, passage + " padB" * 20, "s", "en", 0.5),
        (3, internal + " mid3 " + internal, "s", "en", 0.5),
        (4, " ".join(f"uniq{i}" for i in range(80)), "s", "en", 0.5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, "
        "quality_score double"
    )
    d = str(tmp_path / "substr")
    df.write.parquet(f"{d}/documents.parquet")
    spans = {
        (r.doc_id, r.span_start, r.span_tokens)
        for r in D.q_dedup_substring(spark, d).collect()
    }
    # doc 1: passage starts at token 21 → 36 duplicated positions
    # doc 2: passage at token 1; doc 3: both copies of the internal
    # passage (positions 1 and 37); doc 4: nothing.
    assert (1, 21, 40) in spans
    assert (2, 1, 40) in spans
    assert (3, 1, 35) in spans and (3, 37, 35) in spans
    assert not any(doc == 4 for doc, _, _ in spans)


def test_exact_dedup_keeps_min_doc_id(spark, sf_dir):
    rows = D.q_dedup_exact(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) <= n_docs
    assert all(r["doc_id"] is not None for r in rows)


def test_brute_cosine_matches_numpy(spark, sf_dir):
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    q = emb[S.QUERY_VEC_ID]
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in emb.items()
        if vid != S.QUERY_VEC_ID
    }
    expected = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[: S.TOP_K]
    got = [
        (r["vec_id"], r["sim"])
        for r in S.q_topk_similarity(spark, sf_dir).collect()
    ]
    assert [v for v, _ in got] == [v for v, _ in expected]
    for (_, s_got), (_, s_exp) in zip(got, expected):
        assert s_got == pytest.approx(s_exp, abs=1e-4)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), -float("inf")])
def test_lit_vec_rejects_non_finite(bad):
    with pytest.raises(ValueError, match=r"\[1\]"):
        S._lit_vec([1.0, bad])


def _numpy_band_buckets(vecs: dict[int, np.ndarray]) -> dict[int, list[int]]:
    """Independent NumPy twin of sign_band_buckets: vec_id → per-band
    bucket values under the same deterministic hyperplanes."""
    planes = np.array(S.hyperplanes(), dtype=np.int64)
    out = {}
    for vid, v in vecs.items():
        bits = (planes @ S.quantize_vec(v) > 0).astype(int)
        out[vid] = [
            int(
                sum(
                    bits[band * S.BITS_PER_BAND + i] << i
                    for i in range(S.BITS_PER_BAND)
                )
            )
            for band in range(S.LSH_BANDS)
        ]
    return out


def test_ann_is_exact_within_candidate_set(spark, sf_dir):
    # The operator's contract: ANN result == brute-force top-k
    # restricted to the banded-LSH candidate set (its recall on
    # *uniform random* embeddings like this table is data-limited by
    # design; the planted near-neighbor test below covers the real ANN
    # use case).
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows
    }
    bands = _numpy_band_buckets(vecs)
    qb = bands[S.QUERY_VEC_ID]
    q = vecs[S.QUERY_VEC_ID]
    in_cand = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
        if vid != S.QUERY_VEC_ID
        and any(bands[vid][band] == qb[band] for band in range(S.LSH_BANDS))
    }
    expected = [
        v for v, _ in sorted(in_cand.items(), key=lambda kv: (-kv[1], kv[0]))
    ][: S.TOP_K]
    got = [r["vec_id"] for r in S.q_ann_lsh(spark, sf_dir).collect()]
    assert got == expected


def test_neardup_candidate_fraction_small(spark, sf_dir):
    # The whole point of banding: the candidate set must be a small
    # fraction of all pairs on a uniform corpus (expected ~bands/2^bits
    # ≈ 3%), else the verify join degenerates toward all-pairs.
    from pyspark.sql import functions as F

    from cs422pp_mapreduce_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    vecs = emb.select("vec_id", S._as_double("embedding").alias("vec"))
    n_cand = S.band_candidate_pairs(
        S.sign_band_buckets(spark, vecs)
    ).count()
    all_pairs = n * (n - 1) / 2
    assert n_cand / all_pairs < 0.10


def test_embedding_neardup_finds_planted_pairs(spark, tmp_path):
    # The driver's embeddings table is uniform random → 0 near-dup
    # pairs (vacuous agreement). Plant genuine cos≥0.95 duplicates and
    # require the LSH path to find what the exact path finds.
    rng = np.random.default_rng(11)
    rows = []
    for g in range(12):  # 12 groups of 3 near-identical vectors
        base = rng.standard_normal(S.EMBED_DIM)
        for j in range(3):
            rows.append(
                (g * 3 + j,
                 (base + 0.02 * rng.standard_normal(S.EMBED_DIM))
                 .astype(np.float32).tolist(), g)
            )
    for i in range(36, 400):  # uniform background
        rows.append(
            (i, rng.standard_normal(S.EMBED_DIM).astype(np.float32).tolist(),
             -1)
        )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "planted_dups")
    df.write.parquet(f"{d}/embeddings.parquet")

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in S.q_embedding_neardup_exact(spark, d).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in S.q_embedding_neardup(spark, d).collect()
    }
    assert exact, "fixture must actually contain near-dup pairs"
    assert lsh <= exact  # verify step admits no false positives
    assert len(lsh) / len(exact) >= 0.9  # banded recall bar

    # Non-vacuous oracle agreement: the driver's embeddings are uniform
    # random, so the gate's exact-neardup comparison matches at 0 rows;
    # here the same DuckDB oracle runs on planted data with a NON-empty
    # answer and must still agree pairwise with Spark (rounded sim too).
    import duckdb

    from cs422pp_mapreduce_spark.oracles import ORACLES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    oracle = {
        (a, b): sim
        for a, b, sim in con.execute(
            ORACLES["embedding_neardup_exact"]
        ).fetchall()
    }
    spark_pairs = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in S.q_embedding_neardup_exact(spark, d).collect()
    }
    assert spark_pairs == oracle


def test_ann_ivf_runs_and_is_ordered(spark, sf_dir):
    rows = S.q_ann_ivf(spark, sf_dir).collect()
    assert 1 <= len(rows) <= S.TOP_K
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(r["vec_id"] != S.QUERY_VEC_ID for r in rows)


def test_ann_high_recall_on_planted_neighbors(spark, tmp_path):
    # Real ANN workload: a cluster of genuine near-duplicates
    # (cos ≈ 0.99) around the query must be found with high recall.
    rng = np.random.default_rng(7)
    base = rng.standard_normal(S.EMBED_DIM)
    rows = []
    for i in range(10):  # planted neighbors: vec_id 0 (query) .. 9
        rows.append((i, (base + 0.05 * rng.standard_normal(S.EMBED_DIM))
                     .astype(np.float32).tolist(), 0))
    for i in range(10, 300):  # uniform background
        rows.append((i, rng.standard_normal(S.EMBED_DIM)
                     .astype(np.float32).tolist(), 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "planted")
    df.write.parquet(f"{d}/embeddings.parquet")
    planted = set(range(1, 10))
    got_lsh = [r["vec_id"] for r in S.q_ann_lsh(spark, d).collect()]
    assert len(set(got_lsh) & planted) >= 8  # ≥8 of 9 planted found
    got_ivf = [r["vec_id"] for r in S.q_ann_ivf(spark, d).collect()]
    assert len(set(got_ivf) & planted) >= 8  # IVF: same bar


def test_kmeans_matches_numpy_replica(spark, sf_dir):
    # Exact NumPy replica of build_ivf_index's QUANTIZED Lloyd fit
    # (r07): first-K init, IVF_ITERS rounds of argmin-assign on the
    # integer distance Σ floor((x−y)²·1e15) (lowest-cell tiebreak) +
    # per-cell quantized-mean update float(Σ floor(x·1e15))/1e15/n
    # (empty cells keep their centroid). Every step is bit-exact
    # across engines — no fp-noise caveat needed anymore.
    import duckdb

    got = {
        r["vec_id"]: r["cell"]
        for r in S.q_kmeans_clusters(spark, sf_dir).collect()
    }

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    C = X[: S.IVF_K].copy()
    Xq = np.floor(X * 1e15).astype(np.int64)
    for _ in range(S.IVF_ITERS):
        diff = X[:, None, :] - C[None, :, :]
        d2q = np.floor(diff * diff * 1e15).astype(np.int64).sum(axis=2)
        assign = d2q.argmin(axis=1)  # argmin takes the first (lowest) cell
        for c in range(S.IVF_K):
            members = Xq[assign == c]
            if len(members):
                C[c] = (
                    members.sum(axis=0).astype(np.float64) / 1e15
                ) / len(members)
    expected = dict(zip(ids, assign.tolist()))
    assert got == expected


def test_bloom_novelty_one_sided_vs_exact(spark, sf_dir):
    """Bloom novelty's error is strictly one-sided (no false
    negatives): per doc it reports the same shingle universe and never
    MORE novel shingles than the exact join; the aggregate miss rate
    (novel shingles falsely 'seen' via bit collisions) stays under a
    loose multiple of the theoretical FP bound."""
    from cs422pp_mapreduce_spark.operators.dedup import (
        q_ngram_novelty,
        q_ngram_novelty_bloom,
    )

    exact = {r["doc_id"]: r for r in q_ngram_novelty(spark, sf_dir).collect()}
    bloom = {
        r["doc_id"]: r for r in q_ngram_novelty_bloom(spark, sf_dir).collect()
    }
    assert set(exact) == set(bloom)
    for d in exact:
        assert bloom[d]["n_shingles"] == exact[d]["n_shingles"]
        assert bloom[d]["n_novel"] <= exact[d]["n_novel"]
    tot_exact = sum(r["n_novel"] for r in exact.values())
    tot_bloom = sum(r["n_novel"] for r in bloom.values())
    if tot_exact:
        # theoretical FP ≈1% at the calibrated load; allow 5× slack
        assert (tot_exact - tot_bloom) / tot_exact <= 0.05


def test_cluster_labels_memoized_and_reused(spark, sf_dir):
    """cluster_labels builds once per (session, dataset): the second
    call returns the SAME persisted DataFrame object, dedup_keep equals
    the uncached formulation, and eviction resets the memo."""
    from cs422pp_mapreduce_spark.operators import dedup as D

    D.evict_cluster_cache(spark)
    first = D.cluster_labels(spark, sf_dir)
    assert D.cluster_labels(spark, sf_dir) is first
    assert first.storageLevel.useMemory or first.storageLevel.useDisk

    keep = sorted(
        r["doc_id"] for r in D.q_dedup_keep(spark, sf_dir).collect()
    )
    drop = {
        r["doc_id"]
        for r in D.q_dedup_clusters_exact(spark, sf_dir).collect()
        if r["doc_id"] != r["cluster_id"]
    }
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    all_ids = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    }
    assert keep == sorted(all_ids - drop)

    D.evict_cluster_cache(spark)
    assert D.cluster_labels(spark, sf_dir) is not first
    D.evict_cluster_cache(spark)


def test_semantic_dedup_planted_twin_recall_and_determinism(spark, sf_dir):
    """SemDeDup keep-list: (a) covers every contract vector exactly
    once; (b) for ≥90% of planted (original, twin) pairs exactly ONE
    side is kept (the twin pair has cos≈0.999 — only a cell-boundary
    split can save both); (c) no twin pair has BOTH sides pruned by
    its own partner alone — the keep rule always keeps the smallest
    id of a dup group; (d) two runs agree row-for-row."""
    from cs422pp_mapreduce_spark.operators.similarity import (
        PLANT_MOD,
        PLANT_OFFSET,
        q_semantic_dedup,
    )
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    out = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in q_semantic_dedup(spark, sf_dir).collect()
    }
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    n_twins = len(
        [v for v in out if v >= PLANT_OFFSET]
    )
    assert len(out) == n_vecs + n_twins
    assert n_twins > 0

    pairs = [
        (v - PLANT_OFFSET, v) for v in out if v >= PLANT_OFFSET
    ]
    one_kept = [
        p for p in pairs if out[p[0]][1] != out[p[1]][1]
    ]
    assert len(one_kept) >= 0.9 * len(pairs)
    # smallest id of each twin pair is never pruned when its partner
    # is the cause: if exactly one is kept it must be the original
    for orig, twin in one_kept:
        same_cell = out[orig][0] == out[twin][0]
        if same_cell:
            assert out[orig][1] and not out[twin][1]

    again = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in q_semantic_dedup(spark, sf_dir).collect()
    }
    assert again == out


def test_semantic_dedup_chain_semantics_pinned(spark):
    """PIN the prune rule's chain semantics (r07 verdict ask #3): on a
    planted a~b~c similarity chain (cos(a,b) = cos(b,c) = 0.96 ≥
    threshold, cos(a,c) = 0.8432 < threshold, ids 1 < 2 < 3) the
    prune-if-any-SMALLER-neighbor rule drops BOTH 2 and 3 — 3 goes
    even though its only near-neighbor (2) was itself pruned. A
    sequential greedy pass would keep 3; the pair-shaped planted-twin
    fixtures can't distinguish the two, which is why this pin exists.
    Also pins the local-minima corner: with geometry 2~3~1 (the chain
    interior gets the LARGEST id), survivors are {1, 2} — more than
    one per connected group, exactly as the docstring states."""
    import math

    theta = math.acos(0.96)

    def on_plane(alpha: float) -> list[float]:
        v = [0.0] * S.EMBED_DIM
        v[0], v[1] = math.cos(alpha), math.sin(alpha)
        return v

    # one degenerate centroid -> every vector lands in cell 0, so the
    # pin isolates the prune rule from cell-boundary effects
    centroids = [[0.0] * S.EMBED_DIM]

    # geometry chain pos0 ~ pos1 ~ pos2 with ids in chain order 1,2,3
    vecs = spark.createDataFrame(
        [(1, on_plane(0.0)), (2, on_plane(theta)), (3, on_plane(2 * theta))],
        "vec_id long, vec array<double>",
    )
    keep = {
        r["vec_id"]: r["keep"]
        for r in S.semantic_keep_table(spark, centroids, vecs).collect()
    }
    assert keep == {1: True, 2: False, 3: False}

    # same geometry, interior vector gets the largest id (3): both
    # endpoints are local minima -> two survivors from one group
    vecs2 = spark.createDataFrame(
        [(2, on_plane(0.0)), (3, on_plane(theta)), (1, on_plane(2 * theta))],
        "vec_id long, vec array<double>",
    )
    keep2 = {
        r["vec_id"]: r["keep"]
        for r in S.semantic_keep_table(spark, centroids, vecs2).collect()
    }
    assert keep2 == {1: True, 2: True, 3: False}


# --- containment (r10) -----------------------------------------------------


def _py_shingles(text: str) -> set[str]:
    t = [w for w in text.split(" ") if w]
    if len(t) >= 3:
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
    return set(t)


def test_containment_matches_naive_python(spark, sf_dir):
    # The prefix filter is lossless by theorem; this checks the whole
    # pipeline (canonical order, prefix length, orientation rule,
    # verify division) against a brute-force all-pairs replica.
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    sh = {d: _py_shingles(t) for d, t in docs.items()}
    sh = {d: s for d, s in sh.items() if s}
    expect = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            na, nb = len(sa), len(sb)
            if a == b or na > nb or (na == nb and a >= b):
                continue
            c = len(sa & sb) / na
            if c >= D.CONTAIN_THRESHOLD:
                expect[(a, b)] = c
    got = {
        (r["doc_inner"], r["doc_outer"]): r["containment"]
        for r in D.q_dedup_containment(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k, v in got.items():
        assert v == pytest.approx(expect[k])


def test_containment_finds_planted_embedding(spark, ngram_pairs):
    # A 12-token doc fully embedded inside a 27-token doc: containment
    # 1.0 but Jaccard ~0.4 — the asymmetric pair resemblance dedup is
    # blind to (that is the operator's reason to exist).
    inner = " ".join(f"w{i}" for i in range(12))
    outer = "x y z " + inner + " p q r s t u v a2 b2 c2 d2 e2"
    other = " ".join(f"u{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, inner), (2, outer), (3, other)],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_inner"], r["doc_outer"]): r["containment"]
        for r in D.containment_pairs(df).collect()
    }
    assert rows.get((1, 2)) == pytest.approx(1.0)
    assert set(rows) == {(1, 2)}
    ja = len(_py_shingles(inner) & _py_shingles(outer)) / len(
        _py_shingles(inner) | _py_shingles(outer)
    )
    assert ja < D.JACCARD_THRESHOLD
