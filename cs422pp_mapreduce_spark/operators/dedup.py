"""Deduplication operators over ``documents`` — the core LLM-corpus
cleaning surface: exact, fingerprint, n-gram Jaccard, MinHash+LSH, and
SimHash near-dup detection.

All five are pure DataFrame compositions (no Python UDFs): hashing uses
``xxhash64``/``md5`` (JVM), shingling uses array HOFs, banding/bucketing
is groupBy/join. Scale posture:

- exact/fingerprint dedup: one hash-shuffle on the key, O(rows);
- MinHash+LSH: per-doc signature is a scan-side expression; candidate
  generation joins on (band, band-hash) buckets so the shuffle is
  O(docs × bands), never O(docs²); exact Jaccard verification runs only
  on bucket-collision candidates — the textbook way to dedup 100 TB;
- SimHash: 64-bit signature from token-hash bit votes; candidates join
  on 16-bit signature chunks (pigeonhole: hamming ≤3 ⇒ some chunk
  equal), verified by bit_count(xor);
- the exact all-pairs Jaccard (q_dedup_ngram) is the *oracle-checkable*
  formulation: the shingle-inverted-index self-join is still bucketed
  (no cross join), but its worst case is quadratic in docs sharing a
  shingle — documented as the verification twin, with MinHash+LSH as
  the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import (
    fingerprint_md5,
    md5_bucket,
    md5_int,
    nonempty_tokens,
)
from ..session import (
    default_parallelism,
    evict_scratch,
    release_checkpoint,
    scratch_persist,
    session_memo,
)
from ..sources.catalog import load_table

# MinHash/LSH defaults: 32 hashes in 8 bands of 4 → catches Jaccard
# ≳0.6 with high probability; per-pair false positives are removed by
# the exact-Jaccard verify step, so the parameters trade recall only.
N_MINHASHES = 32
LSH_BANDS = 8
JACCARD_THRESHOLD = 0.5
# q_dedup_ngram's AdaptJoin knob: extend every Bayardo prefix by L−1
# elements and require ≥ min(L, omin) shared prefix elements per
# candidate pair (lossless — see the q_dedup_ngram derivation). L=4
# was chosen on the closed-vocab sf10 tier: chance ≥4-shared-rare-
# shingle pairs are orders of magnitude rarer than ≥1.
NGRAM_PREFIX_SHARED = 4
SIMHASH_MAX_HAMMING = 3


def token_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles from an ALREADY-MATERIALIZED token
    array column; short docs fall back to the token list itself so
    every doc has ≥1 shingle.

    ``toks`` must be a plain column reference, not an inline
    tokenization expression: codegen's common-subexpression
    elimination does not reach inside higher-order-function lambdas,
    so an inlined ``filter(split(...))`` would be re-evaluated at
    every ``element_at`` of every shingle — O(tokens²) per doc
    (measured 7 s to shingle 5 000 docs vs < 1 s two-step). Project
    the token array first (see shingle_frame); the multi-referenced
    non-trivial alias also stops CollapseProject from re-inlining it."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(k)]
        ),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(toks))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Single-expression form of token_shingles(nonempty_tokens(text)).

    Only for small inputs / tests: inlining the tokenizer into the
    shingle lambda is quadratic per doc (see token_shingles). Hot
    paths go through shingle_frame."""
    return token_shingles(nonempty_tokens(text), k)


def shingle_frame(docs: DataFrame, k: int = 3, *extra_cols: str) -> DataFrame:
    """(doc_id, *extra_cols, shingles) with the token array projected
    in its own step so it is computed once per row."""
    return docs.select(
        "doc_id", *extra_cols, nonempty_tokens("text").alias("toks")
    ).select("doc_id", *extra_cols, token_shingles(F.col("toks"), k).alias("shingles"))


# --- exact dedup ----------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the minimum doc_id per identical text. One
    hash aggregation; the text itself is the shuffle key (at scale
    you'd pre-hash — that variant is q_dedup_fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the md5 fingerprint of normalized text — the
    100 TB-friendly variant: the shuffle key is 16 bytes, not the
    document."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint_md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- exact n-gram Jaccard (oracle-checkable near-dup) ---------------------


def _doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Shingle table, redistributed before the CPU-heavy shingling.

    The scan's partitioning follows file layout (possibly one unsplittable
    row group); hashing/shingling cost is per-row CPU, so an explicit
    repartition on doc_id buys full-core parallelism for one cheap
    shuffle of raw text — the standard move whenever input layout is
    coarser than compute wants. Results are partitioning-invariant.
    """
    return shingle_frame(docs.repartition(default_parallelism(), "doc_id"), k)


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs (≥ 0.5, doc_a < doc_b) via
    PREFIX FILTERING (Bayardo et al. 2007, "Scaling Up All Pairs
    Similarity Search" — the AllPairs/PPJoin family), replacing the
    naive inverted-index self-join whose candidate volume is quadratic
    in documents-per-shared-shingle (measured 196× time for 10× data
    at the r05 sf1 scale gate — THE textbook superlinear blowup).

    The exactness theorem: order every document's shingles by a global
    canonical order (document frequency ascending, shingle tiebreak —
    rarest first) and keep only the first |s| − ⌈t·|s|⌉ + 1 as its
    *prefix*; any pair with J ≥ t MUST share a prefix shingle. So the
    self-join runs on prefixes only — and because prefixes
    preferentially hold RARE shingles, the hot shingles that caused
    the quadratic candidates mostly fall outside every prefix. A
    length filter (t·|B| ≤ |A| ≤ |B|/t, necessary for J ≥ t) prunes
    the join further. Candidates then verify EXACTLY via
    array_intersect on the full shingle arrays (per-pair work bounded
    by document length, no second shuffle of the inverted index).
    Same output, same oracle, hash-verified — post-fix (median of 3,
    bench protocol): 2.1 s at sf0.1, 15.9 s at sf1 vs 173.6 s naive —
    11× at sf1 and, decisively, 7.7× time for 10× data instead of
    196× (the constant is higher at small scale from the extra
    df-count + regroup stages; the asymptote is what matters).

    r07 upgrade, same output again: (1) shingles are xxhash64'd ONCE
    up front so the whole pipeline — df-count, canonical order,
    prefix join, verify intersects — runs on longs, never re-shuffling
    string content; (2) the PPJoin POSITIONAL filter (Xiao et al.
    2008) prunes prefix matches whose position-bounded best-case
    overlap can't reach ⌈t/(1+t)·(n_a+n_b)⌉ — at t = 0.5 the Bayardo
    prefix is half of each document, so this is the filter with teeth:
    7.26M → 1.58M candidates at sf1, and warm wall time 14.6 s →
    4.3 s at sf1 / 3.7 s → 2.3 s at sf0.1 (scale ratio 7.1× → ~1.9×).

    The LSH twin (q_dedup_minhash) remains the sub-threshold-recall
    scale path; this is the EXACT path made 100 TB-viable."""
    t = JACCARD_THRESHOLD
    sh = _doc_shingles(load_table(spark, sf_dir, "documents"))
    # One xxhash64 per shingle up front: everything downstream — the
    # df-count, the canonical order, the prefix join, and the verify
    # intersects — runs on 8-byte longs instead of ~25-byte 3-gram
    # strings. Content never shuffles after this projection (the
    # dedup_fingerprint principle), which at sf1 turned the verify
    # join from a GC-bound string-array exchange into a cheap long-
    # array one. Exact up to 64-bit collisions — the engine-wide
    # convention (dedup_substring joins on the same hashes).
    shh = scratch_persist(sh.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"),
    ))
    # ^ referenced by the prefix build + both verify joins; at cluster
    # scale this is the materialized hashed-shingle table you'd
    # checkpoint
    inv = shh.select("doc_id", F.explode("hs").alias("hsh"))
    dfreq = inv.groupBy("hsh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        inv.join(dfreq, "hsh")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "hsh"))
            ).alias("ordered")
        )
    )
    # (df, hsh) is a global canonical order exactly like (df, shingle)
    # was — the prefix theorem only needs SOME shared total order, and
    # hashing first keeps the sort keys fixed-width.
    n = F.size("ordered")
    # r11 scale fix (the sf10 tier catch — 13.2× time for 3.33× data):
    # AdaptJoin-style L-EXTENDED prefixes (Wang/Li/Feng 2012, "Can we
    # beat the prefix filtering?"). On a CLOSED vocabulary (this
    # fixture: 31 words → ~30k possible 3-grams) every shingle's df
    # grows linearly with the corpus, so even rarest-first 1-prefixes
    # collide quadratically (measured 21.2M candidates at sf10 for
    # 5.8k true pairs; the verify join's array shuffle was 57 s of the
    # 70 s wall). Extending every prefix by L−1 elements buys the
    # LOSSLESS requirement that a qualifying pair share ≥ L prefix
    # elements: the j-th (global canonical order) shared element of a
    # pair with overlap o ≥ omin has ≥ o−j shared elements after it,
    # so its 0-based position ≤ n − omin + j − 1 < n − ⌈t·n⌉ + L for
    # every j ≤ L (omin ≥ ⌈t·n⌉ holds for both sides given the length
    # filter) — all first L shared elements land in BOTH extended
    # prefixes. Chance candidates sharing ≥ L rare shingles are ~df^L
    # rarer than ≥ 1, so the verify join shrinks by orders of
    # magnitude while exactness is preserved (the all-pairs oracle
    # would flag any lost pair).
    L = F.lit(NGRAM_PREFIX_SHARED)
    plen = (n - F.ceil(F.lit(t) * n) + L).cast("int")
    prefix = ranked.select(
        "doc_id",
        n.alias("n_sh"),
        F.posexplode(F.slice("ordered", F.lit(1), plen)).alias("pos", "ps"),
    ).select("doc_id", "n_sh", "pos", F.col("ps.hsh").alias("hsh"))
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao et al. 2008), RELAXED by L−1 so
    # the per-pair count stays exact: a match at (0-based) i_a, i_b
    # witnesses ≤ 1 + min(n_a − i_a, n_b − i_b) overlap; the j-th
    # shared element of a true pair satisfies ub ≥ 1 + omin − j ≥
    # omin − (L−1) for j ≤ L, so filtering at omin−(L−1) keeps all L
    # counted rows. The strict ub ≥ omin test survives as the
    # any-match flag (the FIRST shared element of a true pair always
    # passes it).
    omin = F.ceil(F.lit(t / (1.0 + t)) * (F.col("a.n_sh") + F.col("b.n_sh")))
    ub = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.hsh") == F.col("b.hsh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= F.lit(t) * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= F.lit(t) * F.col("a.n_sh"))
            & (ub >= omin - (L - 1)),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_prefix"),
            F.max((ub >= omin).cast("int")).alias("anypass"),
            # omin is a pure function of the pair's lengths — carry it
            F.first(F.least(L.cast("bigint"), omin)).alias("need"),
        )
        .where(
            (F.col("anypass") == 1)
            & (F.col("n_shared_prefix") >= F.col("need"))
        )
        .select("doc_a", "doc_b")
    )
    sha = shh.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a")
    )
    shb = shh.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b")
    )
    verified = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    jacc = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return verified.select(
        "doc_a", "doc_b", jacc.alias("jaccard")
    ).where(F.col("jaccard") >= JACCARD_THRESHOLD)


# Containment threshold: |A∩B| / |A| ≥ 0.8 flags A as (near-)contained
# in B — quotes, boilerplate inclusion, doc-in-doc duplication, the
# asymmetric family Jaccard misses (a 10-shingle doc fully embedded in
# a 200-shingle doc has J ≈ 0.05 but containment 1.0).
CONTAIN_THRESHOLD = 0.8


def containment_pairs(docs: DataFrame, t: float = CONTAIN_THRESHOLD) -> DataFrame:
    """Exact shingle-containment pairs (doc_inner, doc_outer,
    containment) with containment = |S(inner) ∩ S(outer)| / |S(inner)|
    ≥ t and |S(inner)| ≤ |S(outer)| (equal sizes tie-broken by
    doc_id) — Broder's containment (SEQUENCES 1997), the asymmetric
    complement of q_dedup_ngram's resemblance.

    EXACT via one-sided prefix filtering: containment ≥ t needs
    overlap ≥ ⌈t·|A|⌉, so (Bayardo/AllPairs argument, overlap form)
    any qualifying outer doc must share one of the INNER doc's first
    |A| − ⌈t·|A|⌉ + 1 shingles in the global rarest-first canonical
    order — if every shared shingle hid in A's last ⌈t·|A|⌉ − 1
    elements the overlap bound is already violated. The OUTER side
    cannot be prefix-pruned (containment puts no lower bound on the
    outer doc's overlap *fraction*), so inner prefixes (≈(1−t) of the
    shingle mass, preferentially RARE shingles) join against the full
    inverted index; hot shingles survive on the index side but almost
    never appear in a rarest-first prefix, which is what keeps the
    candidate volume ≈ prefix_postings × df, linear at constant
    document frequency — the 100 TB shape. Candidates verify exactly
    via array_intersect on the full hashed-shingle arrays (the
    dedup_ngram convention: xxhash64 once up front, content never
    re-shuffles)."""
    sh = _doc_shingles(docs)
    shh = scratch_persist(sh.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"),
    ))
    # ^ referenced by the prefix build, the index side, and both
    # verify joins — materialized once, the cluster-scale analog of a
    # checkpointed hashed-shingle table. scratch_persist: the frame is
    # returned lazily, so no in-query point exists to unpersist it;
    # session.evict_scratch releases it.
    inv = shh.select(
        "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("hsh")
    )
    dfreq = inv.groupBy("hsh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        inv.join(dfreq, "hsh")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "hsh"))).alias(
                "ordered"
            )
        )
    )
    ranked = scratch_persist(ranked)
    # ^ consumed by BOTH sides of the candidate join (inner prefixes
    # and the positioned index) — without the persist the df-count +
    # canonical-order pipeline executes twice per run.
    n = F.size("ordered")
    plen = (n - F.ceil(F.lit(t) * n) + 1).cast("int")
    pref = ranked.select(
        F.col("doc_id").alias("doc_inner"),
        n.alias("n_a"),
        F.posexplode(
            F.transform(
                F.slice("ordered", F.lit(1), plen), lambda s: s["hsh"]
            )
        ).alias("i_a", "hsh"),
    )
    # Index side carries each shingle's 0-based rank in ITS doc's
    # canonical order too (posexplode of the same ordered arrays), so
    # the positional filter below can see both sides.
    idx = ranked.select(
        F.col("doc_id").alias("doc_outer"),
        n.alias("n_b"),
        F.posexplode(
            F.transform("ordered", lambda s: s["hsh"])
        ).alias("i_b", "hsh"),
    )
    # PPJoin positional filter, containment (overlap ≥ ⌈t·|A|⌉) form:
    # at the FIRST common element of the shared canonical order, every
    # further common element lies in both suffixes, so overlap ≤ 1 +
    # min(n_a − i_a − 1, n_b − i_b − 1); a pair's first-common row
    # always satisfies a correct bound, so requiring SOME join row to
    # pass keeps the filter lossless (non-first rows it keeps are
    # removed by the exact verify). With rarest-first order this
    # effectively prefix-bounds the OUTER side as well — a candidate's
    # matched shingle must sit in B's first n_b − ⌈t·n_a⌉ + 1 ranks —
    # which is what prunes the coincidental hot-tail matches (measured
    # 6.0M → ~1.2M candidates at the local sf3 tier).
    omin = F.ceil(F.lit(t) * F.col("n_a"))
    ub = F.lit(1) + F.least(
        F.col("n_a") - F.col("i_a") - 1, F.col("n_b") - F.col("i_b") - 1
    )
    cand = (
        pref.join(
            idx,
            (pref["hsh"] == idx["hsh"])
            & (ub >= omin)
            & (
                (F.col("n_a") < F.col("n_b"))
                | (
                    (F.col("n_a") == F.col("n_b"))
                    & (F.col("doc_inner") < F.col("doc_outer"))
                )
            ),
        )
        .select("doc_inner", "doc_outer")
        .distinct()
    )
    sha = shh.select(
        F.col("doc_id").alias("doc_inner"), F.col("hs").alias("hs_a")
    )
    shb = shh.select(
        F.col("doc_id").alias("doc_outer"), F.col("hs").alias("hs_b")
    )
    contain = F.size(F.array_intersect("hs_a", "hs_b")).cast(
        "double"
    ) / F.size("hs_a")
    return (
        cand.join(sha, "doc_inner")
        .join(shb, "doc_outer")
        .select("doc_inner", "doc_outer", contain.alias("containment"))
        .where(F.col("containment") >= t)
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc near-containment pairs over ``documents`` (see
    containment_pairs). Hash-verified: the oracle is the naive
    all-pairs containment self-join — the prefix-filtered plan must
    reproduce it row-for-row (the filter is lossless by theorem)."""
    return containment_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-bounded event dedup: keep the FIRST event per
    (user_id, event_type) within each 1-hour tumbling window — the
    batch twin of streaming/dedup.py's dropDuplicatesWithinWatermark
    (there the bound is the watermark horizon, here an explicit
    window; both make dedup state finite, which unbounded dedup at
    100 TB is not).

    One hash shuffle on (window, key); rank-1 rows are pruned by
    WindowGroupLimit before the filter, so the post-shuffle cost is
    the group count, not the event count."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    hour = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy(hour, "user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            hour.alias("win_start"),
        )
    )


EVAL_PCT = 2  # deterministic md5-bucket slice held out as the "benchmark"
# Contamination shingle size: 8-grams, the real-pipeline standard
# (8-13). Short n-grams over-flag — on this small-vocab fixture,
# 3-grams flag ~98% of train docs through incidental collisions while
# 8-grams flag only genuinely shared passages. Docs shorter than
# DECONTAM_K tokens fall back to whole-token matching (word_shingles
# fallback; none exist in the fixtures — min doc length is 10).
DECONTAM_K = 8


def contamination_stats(docs: DataFrame) -> DataFrame:
    """Per-train-doc eval overlap over any (doc_id, text) frame; see
    q_decontaminate for semantics and the plan-shape rationale."""
    tagged = docs.withColumn("is_eval", md5_bucket("doc_id", 100) < EVAL_PCT)
    # persisted: both branches (train inverted index, eval stats) read
    # it, and the cache boundary stops InferFiltersFromGenerate's
    # size()>0 pre-filter from being pushed below the projections with
    # the whole shingling expression inlined (which would re-tokenize
    # every doc quadratically — the same HOF-inlining trap
    # token_shingles documents)
    sh = scratch_persist(shingle_frame(tagged, DECONTAM_K, "is_eval"))
    train_inv = sh.where(~F.col("is_eval")).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    # per-doc shingles are array_distinct, so count(*) per shingle is
    # exactly "#eval docs containing it"
    eval_stats = (
        sh.where("is_eval")
        .select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_eval_docs_with"))
    )
    return (
        train_inv.join(F.broadcast(eval_stats), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.sum("n_eval_docs_with").alias("n_eval_hits"),
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-DECONTAM_K-gram (8-gram) with the held-out eval slice — the
    n-gram-overlap hygiene pass every pretraining pipeline runs so
    eval answers don't leak into training data.

    The eval slice is the deterministic md5-bucket < EVAL_PCT % of
    docs (same hash-mod membership as q_deterministic_sample, so the
    split is reproducible across engines and re-layouts); train = the
    rest. Shape: shingle both sides, pre-aggregate the eval side to
    one row per shingle (shingle, #eval docs containing it), and
    equi-join train shingles against that *broadcast* table — at
    100 TB the benchmark side is KBs-to-MBs, so the corpus scan never
    shuffles on content, and because the eval side is pre-aggregated
    the join never enumerates (train doc × eval doc) pairs: output is
    bounded by the train shingle stream itself. (The naive
    per-pair countDistinct variant measured 10 s at sf0.1 on this
    common-shingle-heavy fixture — same quadratic family as the
    16-bucket LSH anti-pattern.) Returns one row per contaminated
    train doc: n_shared_shingles (distinct shingles shared with the
    eval slice) and n_eval_hits (Σ over those shingles of the number
    of eval docs containing them — total overlap mass)."""
    return contamination_stats(load_table(spark, sf_dir, "documents"))


def q_decontaminate_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP decontamination (r12) — the paraphrase tier above
    q_decontaminate's exact 8-gram pass: a training doc that is a
    MinHash near-duplicate (3-gram Jaccard ≥ JACCARD_THRESHOLD) of any
    eval-slice doc leaks the eval answer even when no verbatim 8-gram
    survives light rewording, so real pipelines run both tiers.

    Same split as q_decontaminate (eval = deterministic md5-bucket <
    EVAL_PCT %). Shape mirrors q_dedup_incremental_near with the
    sides swapped to exploit size: the EVAL side's banded bucket
    table is the tiny BROADCAST index and the train side only
    probes — candidates are (train, eval) pairs agreeing on ≥1 full
    band, then exact-Jaccard verified against the shingle sets. No
    corpus self-join; the corpus scan shuffles only its (doc_id,
    band, bucket) rows. Scale note: the broadcast hint is right
    because REAL eval sets are fixed benchmark suites (MBs of bands
    regardless of corpus size); the fixture's proportional
    EVAL_PCT% slice merely stands in for one. If the eval side ever
    scaled with the corpus, drop the hint and let AQE pick the
    hash join — semantics unchanged. Signature arithmetic is the
    cross-engine md5-prefix universal-hash convention
    (minhash_signatures), so the DuckDB oracle replays every bucket
    probe bit-for-bit.

    Output: one row per train doc sharing ≥1 band bucket with an eval
    doc — (doc_id, n_eval_candidates, n_eval_near, contaminated =
    any verified near-dup). Train docs with zero band collisions pass
    through and are not re-emitted (the affected-docs convention)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = scratch_persist(_doc_shingles(docs))
    # ^ read by both band builds AND both sides of the verify join
    is_eval = md5_bucket("doc_id", 100) < EVAL_PCT
    bands = lsh_band_buckets(minhash_signatures(sh))
    eval_bands = bands.where(is_eval)
    train_bands = bands.where(~is_eval)
    cand = scratch_persist(
        train_bands.alias("p")
        .join(
            F.broadcast(eval_bands.alias("c")),
            (F.col("p.band") == F.col("c.band"))
            & (F.col("p.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("eval_doc"),
        )
        .distinct()
    )
    # ^ feeds the verify branch and the candidate count; without the
    # persist the full signature/banding pipeline runs twice (the
    # dedup_incremental_near r10 lesson)
    sh_p = sh.select("doc_id", F.col("shingles").alias("sh_p"))
    sh_c = sh.select(
        F.col("doc_id").alias("eval_doc"), F.col("shingles").alias("sh_c")
    )
    jacc = F.size(F.array_intersect("sh_p", "sh_c")).cast(
        "double"
    ) / F.size(F.array_union("sh_p", "sh_c"))
    near_n = (
        cand.join(sh_p, "doc_id")
        .join(sh_c, "eval_doc")
        .where(jacc >= JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_near"))
    )
    cand_n = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_eval_candidates")
    )
    return (
        cand_n.join(near_n, "doc_id", "left")
        .select(
            "doc_id",
            "n_eval_candidates",
            F.coalesce("n_eval_near", F.lit(0)).alias("n_eval_near"),
            (F.coalesce("n_eval_near", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --- MinHash + LSH --------------------------------------------------------


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne): a·h + b < 2^62, exact in int64
MINHASH_A_MULT = 2654435761  # Knuth multiplicative constant → per-i slope
MINHASH_B_MULT = 40503  # 16-bit Knuth constant → per-i intercept


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Long-form (doc_id, i, mh) signature table from a (doc_id,
    shingles) frame, using the engine's CROSS-ENGINE hash convention:
    base hash H = md5-prefix (15 hex chars = 60 bits, sign-safe) of the
    shingle reduced mod P, permutation i = (A_i·H + B_i) mod P with
    A_i = (A_MULT·(i+1)) mod P, B_i = (B_MULT·(i+1)) mod P — the
    classic universal-hash family over the Mersenne prime P = 2^31-1.
    Every term is exact int64 arithmetic, so a DuckDB oracle reproduces
    the signature bit-for-bit (same convention as dedup_simhash /
    doc_winnow), which is what converts this query from rows-only to
    hash-verified.

    Shape notes: the md5 base hash is PROJECTED once per (doc, shingle)
    row BEFORE the ×N_MINHASHES index explode — the 32 permutations are
    then pure arithmetic on a 64-bit int (cheaper than the previous 32
    xxhash64 string hashes per shingle). Deliberately NOT 32 per-row
    ``transform(shingles, ...)`` array traversals and NOT 32 flat hash
    columns + 32 min aggregates: both shapes generate very large
    whole-stage codegen (Janino compile time dominated cold runtime in
    profiling). The fully long-form explode keeps every generated
    function tiny and constant-size in N_MINHASHES, and map-side
    partial min-aggregation collapses the ×N_MINHASHES row blowup to
    N_MINHASHES rows per doc before the shuffle."""
    base = md5_int("shingle", 15) % MINHASH_P
    perm = (
        (F.lit(MINHASH_A_MULT) * (F.col("i") + 1)) % MINHASH_P * F.col("hb")
        + (F.lit(MINHASH_B_MULT) * (F.col("i") + 1)) % MINHASH_P
    ) % MINHASH_P
    return (
        sh.select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", base.alias("hb"))
        .select(
            "doc_id",
            "hb",
            F.explode(F.sequence(F.lit(0), F.lit(N_MINHASHES - 1))).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min(perm).alias("mh"))
    )


def lsh_band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH buckets from the long-form signature:
    band = i div rows_per_band; the bucket key is the band's mh values
    joined in i order (array_sort fixes collect_list's nondeterministic
    order). A string key instead of a hash of the rows keeps the bucket
    cross-engine-reproducible (DuckDB: string_agg ORDER BY i) and
    collision-free; it lives only in the tiny docs×bands table."""
    rows_per_band = N_MINHASHES // LSH_BANDS
    return (
        sig.withColumn("band", F.expr(f"CAST(i div {rows_per_band} AS INT)"))
        .groupBy("doc_id", "band")
        .agg(F.array_sort(F.collect_list(F.struct("i", "mh"))).alias("rows"))
        .select(
            "doc_id",
            "band",
            F.concat_ws(
                ",", F.transform("rows", lambda s: s["mh"].cast("string"))
            ).alias("bucket"),
        )
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified.

    Pipeline: shingle → 32 min-hashes → 8 band keys → explode bands →
    bucket self-join (only docs agreeing on a full band meet) → distinct
    candidate pairs → exact Jaccard on the candidates → threshold.
    Result ⊆ q_dedup_ngram's result (LSH trades recall, never adds
    false positives past the verify step) — tests assert containment.

    HASH-VERIFIED since r07: the signature arithmetic is the
    cross-engine md5-prefix + universal-hash convention (see
    minhash_signatures), so the DuckDB oracle replays the entire banded
    pipeline bit-for-bit — the probabilistic candidate set itself is
    cross-engine-verified, not merely contained in the exact graph.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = scratch_persist(_doc_shingles(docs))
    # ^ referenced by the signature pipeline and both verify joins:
    # persist so shingling runs once — the cluster-scale analog is
    # materializing the shingle/signature table once and joining it.
    sig = minhash_signatures(sh)
    bands = scratch_persist(lsh_band_buckets(sig))
    # ^ tiny (docs × bands rows); persisted so the signature computation
    # isn't re-run for each side of the self-join.

    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jacc = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --- SimHash --------------------------------------------------------------


SIMHASH_BITS = 60  # md5-prefix hash convention: 15 hex chars, sign-safe
SIMHASH_CHUNK_BITS = SIMHASH_BITS // 4


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) SIMHASH_BITS-bit SimHash signatures via the fully
    long-form plan: explode tokens × bit positions, vote ±1 per
    (doc_id, bit), then OR the winning bits back into one long.

    Deliberately NOT 60 per-bit vote aggregates + a 60-term shiftleft
    chain: that generated a pathologically large whole-stage-codegen
    function (cold Janino compile dominated runtime). Here every
    generated function is tiny; map-side partial sum collapses the ×60
    row blowup to 60 rows per doc before the shuffle.

    The token hash is the engine's cross-engine convention (md5 prefix
    → 60-bit positive bigint, as q_deterministic_sample/doc_winnow),
    NOT xxhash64 — which is what lets the DuckDB oracle reproduce the
    signatures bit-for-bit and makes the whole SimHash pipeline
    hash-verifiable instead of rows-only."""
    toks = (
        docs.repartition(default_parallelism(), "doc_id")
        .select("doc_id", F.explode(nonempty_tokens("text")).alias("tok"))
        .select(
            "doc_id",
            md5_int("tok", 15).alias("h"),
        )
    )
    votes = (
        toks.select(
            "doc_id",
            "h",
            F.explode(
                F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(
                    F.expr("shiftright(h, CAST(b AS INT)) & 1") == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias("v")
        )
    )
    # bits 0..59 only — the sign bit is never set, so bit_or and sum
    # would agree; bit_or states the intent.
    return votes.groupBy("doc_id").agg(
        F.bit_or(
            F.expr(
                "CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), "
                "CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("sig")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signature from per-token hash bit
    votes; candidates = pairs sharing one of four 15-bit chunks
    (pigeonhole guarantees recall for hamming ≤ 3); verified with
    bit_count(xor) ≤ 3. Returns (doc_a, doc_b, hamming)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)

    chunk_mask = (1 << SIMHASH_CHUNK_BITS) - 1
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sig", c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("ck"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "sig", "cc.chunk", "cc.ck")

    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# --- duplicate clusters (connected components) -----------------------------


# Above this many edges, connected_components switches from min-label
# propagation (rounds = graph diameter) to large-star/small-star
# (rounds = O(log² n) regardless of diameter). Near-dup graphs are
# unions of tiny cliques where propagation wins on constant factors;
# a 100 TB similarity graph can contain long chains where it loses
# catastrophically.
CC_STAR_EDGE_THRESHOLD = 100_000


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond", Alg. Large-Star): every node connects its
    strictly-larger neighbors to its minimum neighborhood member.
    Input is the symmetrized (u, v) edge frame; output a deduplicated
    undirected edge list."""
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient each edge max→min, then every node
    connects its (all smaller) neighbors — and itself — to the minimum
    one."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_links = mins.select("u", F.col("m").alias("v"))
    return (
        relinked.union(self_links)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, max_iterations: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction — O(log² n) rounds independent of graph diameter (the
    public Kiveris et al. 2014 algorithm), vs. rounds = diameter for
    min-label propagation. Each round is two (groupBy + join) stages
    over the current edge list; at convergence the edge set is exactly
    the star {(node, component-min)}, which IS the labeling.

    Per-round localCheckpoint keeps lineage O(1); convergence = the
    edge set reaching a fixed point (count equal + no new edges, two
    cheap actions on checkpointed frames). Each round's checkpoint is
    released once the next round's has materialized and been checked;
    the last one backs the returned labels and stays."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_prev = e.count()
    rounds = 0
    for _ in range(max_iterations):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        new_e = _small_star(_large_star(sym)).localCheckpoint()
        rounds += 1
        n_new = new_e.count()
        converged = n_new == n_prev and new_e.exceptAll(e).isEmpty()
        release_checkpoint(e)
        e = new_e
        n_prev = n_new
        if converged:
            break
    if stats is not None:
        stats["rounds"] = rounds
    roots = e.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    return e.select(
        F.col("u").alias("node"), F.col("v").alias("comp")
    ).union(roots)


def connected_components(
    edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components over an (src, dst) edge frame; returns
    (node, comp) with comp = the minimum node id in the component.

    Small graphs run iterative min-label propagation (rounds = graph
    diameter — near-dup graphs are unions of tiny cliques, so 2-3
    rounds); beyond CC_STAR_EDGE_THRESHOLD edges the call dispatches to
    ``connected_components_star`` (O(log²) rounds independent of
    diameter — the shape that survives a 100 TB similarity graph with
    long chains). Both paths share the engine's iterative-algorithm
    conventions: an action per round to test convergence and
    `localCheckpoint()` so lineage (and thus plan size) stays O(1) in
    the iteration count instead of compounding. A superseded round's
    checkpoint is released as soon as the next round has materialized
    and been checked; the last one backs the returned labels and
    stays.
    """
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    if edges.limit(CC_STAR_EDGE_THRESHOLD + 1).count() > CC_STAR_EDGE_THRESHOLD:
        out = connected_components_star(edges)
        edges.unpersist()
        return out
    sym = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = ckpt = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    "comp", F.coalesce("nbr_comp", "comp")
                ).alias("comp"),
                (F.col("nbr_comp") < F.col("comp")).alias("changed"),
            )
            .localCheckpoint()  # truncate lineage: keeps round N's plan
            # the same size as round 1's
        )
        changed = new_labels.where("changed").limit(1).count()
        release_checkpoint(ckpt)
        ckpt = new_labels
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    return labels


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over
    the MinHash-LSH near-dup graph, labeling every clustered document
    with the minimum doc_id of its component (the canonical
    representative a dedup pass would keep).

    Pairwise near-dup output under-describes duplication: if A~B and
    B~C, keeping "one of each pair" retains 2 of 3 copies. Components
    give the keep-one-per-cluster semantics every corpus dedup
    actually wants.

    The edge graph comes from ``q_dedup_minhash`` — the banded
    candidates-then-verify pipeline whose join cost is O(docs × bands),
    never the quadratic-in-hot-shingle worst case of the exact
    inverted-index self-join.

    HASH-VERIFIED since r07 (was rows-only r04–r06): the oracle's
    recursive min-label walk now runs over a bit-exact DuckDB replica
    of the LSH pipeline itself (the portable md5-prefix signature
    convention, see minhash_signatures), so label equality is an
    identity again — not an empirical property of the fixtures, which
    forced the rows-only declaration while the edge set came from
    engine-private xxhash64. The exact-graph twin
    ``q_dedup_clusters_exact`` stays as the fixture-independent CC
    contract on the q_dedup_ngram graph."""
    pairs = q_dedup_minhash(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def q_dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT word-3-gram Jaccard ≥ 0.5
    graph (q_dedup_ngram) — the deterministic, fixture-independent
    hash-verified twin of q_dedup_clusters: its edge set is by
    construction the same graph the DuckDB oracle's recursive walk
    explores, so label equality is an identity, not an empirical
    property of the fixtures.

    Scale posture: the exact inverted-index self-join is the
    verification-scale path (hot shingles make it quadratic in the
    worst case); the LSH-graph q_dedup_clusters is what runs at
    100 TB. Both feed the same min-label-propagation CC."""
    pairs = q_dedup_ngram(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


# Cluster labels are memoized per (session, dataset, graph kind)
# (session.session_memo): a production curation pipeline materializes
# them ONCE per corpus snapshot and every composed consumer (keep
# lists, reports, budget dashboards) joins against that table; without
# the memo q_dedup_keep re-ran the full candidate chain + connected
# components inside its own plan — correct, but ~2× the composed cost.
# The benchmark harness (perfbench/harness.py) still imports this
# name, and the harness changes only with the benchmark itself.
evict_cluster_cache = evict_scratch


def cluster_labels(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Session-memoized near-dup cluster labels, persisted. First call
    per (session, dataset, graph kind) pays the candidate-join +
    connected-components build; later consumers reuse the materialized
    frame — the "cluster labels are a table, not a subquery" posture a
    100 TB pipeline takes.

    ``exact=True`` (default) builds labels from the EXACT
    prefix-filtered Jaccard graph (q_dedup_ngram — Bayardo AllPairs,
    deterministic and fixture-independent, the graph the DuckDB
    oracles recompute); ``exact=False`` uses the banded MinHash-LSH
    graph (q_dedup_clusters — cheaper at extreme scale, but
    probabilistic: the r06 sf0.3 gate caught 36 near-threshold pairs
    the 8×4 banding missed, which is WHY hash-verified consumers must
    use the exact graph)."""
    build = q_dedup_clusters_exact if exact else q_dedup_clusters
    return session_memo(
        spark,
        ("clusters", sf_dir, exact),
        lambda: scratch_persist(build(spark, sf_dir)),
    )


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list materialization of the near-dup stack — the frame a
    downstream training pipeline actually consumes: every document
    except non-representative members of a near-dup cluster
    (representative = component-minimum doc_id, q_dedup_clusters'
    labeling).

    One anti join of the corpus against the (small) drop list; at
    100 TB the drop list is keys-only and the corpus scan carries just
    the projected columns. The cluster labels come from the
    session-memoized ``cluster_labels`` frame built from the EXACT
    prefix-filtered graph (Bayardo AllPairs — deterministic at every
    scale; on a warm session this query costs just the anti join), so
    the hash contract vs the oracle's recursive exact-graph walk is an
    identity. The banded-LSH labeling (cheaper at extreme scale,
    probabilistic recall) stays available via
    cluster_labels(exact=False) / q_dedup_clusters — the r06 sf0.3
    gate showed the 8×4 banding missing 36 near-threshold pairs, which
    is exactly the divergence a hash-verified keep-list must not
    carry."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    clusters = cluster_labels(spark, sf_dir)
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.join(drop, "doc_id", "left_anti")


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: customer-name pairs within edit distance 1, via
    FastSS deletion-neighborhood blocking (Bocek et al. 2007) — the
    scale-correct fuzzy join.

    Candidates come from an equi-join on deletion variants (a pair is
    within lev ≤ 1 iff their {self + 1-deletion} neighborhoods
    intersect), so the join is O(names × length) keys, NEVER the
    all-pairs cross join the DuckDB oracle runs at test scale. Exact
    levenshtein verifies candidates only — same candidates-then-verify
    shape as MinHash→Jaccard above."""
    names = (
        load_table(spark, sf_dir, "customer").select("c_name").distinct()
    )
    dels = F.transform(
        F.sequence(F.lit(1), F.length("c_name")),
        lambda i: F.concat(
            F.substr(F.col("c_name"), F.lit(1), i - 1),
            F.substr(F.col("c_name"), i + 1, F.length("c_name")),
        ),
    )
    keyed = names.select(
        "c_name",
        F.explode(
            F.array_union(F.array(F.col("c_name")), dels)
        ).alias("variant"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = (
        a.join(b, "variant")
        .where(F.col("a.c_name") < F.col("b.c_name"))
        .select(
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.where(dist <= 1).select(
        "name_a", "name_b", dist.cast("long").alias("edit_dist")
    )


# --- substring-level dedup (repeated spans) -------------------------------

SUBSTR_K = 5  # shingle width for span detection
MIN_SPAN_TOKENS = 30  # report spans at least this many tokens long


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detection: maximal ≥MIN_SPAN_TOKENS-token spans
    whose every SUBSTR_K-token shingle occurs more than once in the
    corpus — the DataFrame-expressible shingle-run approximation of the
    suffix-array substring dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"). Whole-doc dedup
    misses boilerplate ledes and quoted passages embedded in otherwise
    unique documents; this pass is what catches them.

    Shape: positionally shingle every document (map-only explode), mark
    shingles with corpus count ≥ 2 via one partial→final aggregate +
    an equi-join back on the 64-bit shingle hash (never strings — the
    shuffle carries 8-byte keys), then gaps-and-islands per document
    (pos − row_number over a per-doc window, bounded by doc length) to
    collapse consecutive duplicated positions into maximal spans. Every
    stage is O(total positions); no self-join, no all-pairs anywhere —
    a run of R consecutive duplicated shingles certifies a repeated
    span of R+K−1 tokens without ever materializing pairs.

    Returns (doc_id, span_start, span_tokens): 1-based token position
    and token length of each qualifying span."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.repartition(default_parallelism(), "doc_id").select(
        "doc_id", nonempty_tokens("text").alias("t")
    )
    n = F.size("t")
    idx = F.when(
        n >= SUBSTR_K,
        F.sequence(F.lit(1), n - (SUBSTR_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    sh = scratch_persist(
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.xxhash64(
                            F.array_join(F.slice("t", i, SUBSTR_K), " ")
                        ).alias("sh"),
                    ),
                )
            ).alias("s"),
        ).select("doc_id", "s.pos", "s.sh")
    )  # read by the count aggregate and the join back
    dup_sh = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("sh")
    )
    dup_pos = sh.join(dup_sh, "sh").select("doc_id", "pos")
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn(
        "grp", F.col("pos") - F.row_number().over(by_pos)
    )
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + SUBSTR_K).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= MIN_SPAN_TOKENS)
        .select("doc_id", "span_start", "span_tokens")
    )


def q_dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage REMOVAL — materialize the span-cut corpus from
    q_dedup_substring's detection output, completing detection →
    materialization the way q_dedup_keep completes cluster dedup (the
    actual corpus-editing step of Lee et al. 2022's substring dedup:
    the flagged duplicated spans are cut out token-wise and the
    remainder re-joined). Emits one row per AFFECTED document —
    (doc_id, n_tokens, n_removed, n_kept, clean_text) — unaffected
    documents pass through identity and are not re-hashed.

    Shape: the span table (O(spans) ≪ O(tokens)) is exploded to
    flagged token positions, grouped per doc into a sorted DISTINCT
    position array (two maximal runs within a shingle width of each
    other produce overlapping token spans, so positions must be
    deduplicated before counting), key-joined back to the tokenized
    docs, and each doc is cut by ONE array filter on 1-based position —
    evaluated once (n_kept is pure arithmetic over the distinct
    position count: n_kept = n_tokens − n_removed, so the HOF result
    is referenced only by the re-join; HOFs are CodegenFallback, no
    CSE). Everything after detection is one key
    join + map-only array work; no shuffle carries text except the
    final affected-doc rows. At 100 TB-scale doc lengths, swap the
    per-position membership probe for an interval search over the
    span structs — same plan shape, the fixture's doc lengths make
    the simple form optimal.

    This removes EVERY occurrence of a flagged span (all-copies cut);
    a keep-one-copy policy layers on by exempting one canonical doc
    per span identity before the explode."""
    spans = q_dedup_substring(spark, sf_dir)
    flagged = (
        spans.select(
            "doc_id",
            F.sequence(
                F.col("span_start"),
                F.col("span_start") + F.col("span_tokens") - 1,
            ).alias("ps"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("ps")))
            ).alias("flagged")
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.repartition(default_parallelism(), "doc_id").select(
        "doc_id", nonempty_tokens("text").alias("t")
    )
    cut = toks.join(flagged, "doc_id")
    kept = F.filter(
        F.col("t"),
        lambda x, i: ~F.array_contains(
            F.col("flagged"), (i + F.lit(1)).cast("long")
        ),
    )
    return cut.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size("flagged").cast("long").alias("n_removed"),
        (F.size("t") - F.size("flagged")).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


PREFIX_FP_CHARS = 60  # normalized-prefix fingerprint length


def q_source_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how polluted is each slice of the
    corpus — the first chart a data-curation pass draws before deciding
    per-source dedup budgets. Two keys per doc: the exact normalized-
    text fingerprint and a PREFIX_FP_CHARS-char prefix fingerprint (the
    boilerplate/shared-lede detector — wire articles and templated
    pages collide on the prefix long before they collide exactly).
    The fixtures contain prefix duplicates but no exact ones, so the
    prefix column is the discriminating signal (checked; cross-source
    overlap is zero, so duplication is reported per source).

    One fingerprint projection (md5, codegen'd) and one partial→final
    aggregate keyed on source; each countDistinct expands to the
    standard two-phase distinct plan. Shuffle volume is O(sources ×
    distinct fingerprints), never document text. dup_rate is a single
    double division — bit-stable."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    fp = docs.select(
        "source",
        F.md5(norm).alias("fp"),
        F.md5(F.substring(norm, 1, PREFIX_FP_CHARS)).alias("prefix_fp"),
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique_exact"),
            F.countDistinct("prefix_fp").alias("n_unique_prefix"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique_exact",
            "n_unique_prefix",
            (F.col("n_docs") - F.col("n_unique_prefix")).alias("n_prefix_dups"),
            (
                F.lit(1.0)
                - F.col("n_unique_prefix").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("prefix_dup_rate"),
        )
    )


INCR_PREFIX_LEN = 60


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a NEW batch of documents (deterministic
    slice: doc_id % 5 == 0) is admitted only if (a) its normalized-text
    md5 fingerprint does not already exist in the standing corpus (the
    other 4/5), (b) its 60-char text prefix does not either — the
    cheap shared-lede/boilerplate filter, same prefix convention as
    q_source_dup_stats — and (c) it is not a duplicate of an earlier
    doc within the batch (keep min doc_id, report batch multiplicity).

    This is the steady-state shape of corpus curation — most 100 TB
    dedup runs are "new crawl vs existing corpus", not full-corpus
    reclustering. The plan is the scale-right one: both sides reduce to
    small keys before any shuffle (16-byte md5 / 60-byte prefix; full
    text never moves), the existing side ships only its DISTINCT key
    columns into two LEFT ANTI hash joins, and the within-batch keep
    is one partial→final aggregate. On a cluster the standing corpus's
    key sets are exactly the incremental index you'd maintain as
    bucketed tables, making the anti joins shuffle-free on the indexed
    side."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp"),
        F.substring("text", 1, INCR_PREFIX_LEN).alias("pfx"),
    )
    existing = keyed.where(F.col("doc_id") % 5 != 0)
    incoming = keyed.where(F.col("doc_id") % 5 == 0)
    return (
        incoming.join(existing.select("fp").distinct(), "fp", "left_anti")
        .join(existing.select("pfx").distinct(), "pfx", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
    )


def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest with the LSH NEAR-DUP tier: the batch
    (doc_id % 5 == 0) first passes q_dedup_incremental's exact tiers
    (md5 fingerprint + 60-char-prefix anti joins, keep the min-doc_id
    representative per fingerprint), then each surviving
    representative's MinHash band buckets are PROBED against the
    standing corpus's banded bucket table. A collision on any full
    band makes a candidate; candidates are exact-Jaccard-verified
    against the corpus doc's shingle set, and a verified near-dup
    (jaccard >= JACCARD_THRESHOLD) blocks admission.

    This is the real crawl-pipeline shape: the BUILD side (corpus
    bands) is static — on a cluster it is the incremental LSH index
    you maintain as a bucketed table keyed on (band, bucket) — and the
    PROBE side is only the new batch, so there is NO corpus self-join
    and NO re-clustering per batch. Signature arithmetic is the
    engine's cross-engine md5-prefix + universal-hash convention
    (minhash_signatures), so the DuckDB oracle replays every bucket
    probe bit-for-bit — hash-verified, not rows-only.

    Output: one row per exact-tier representative — (doc_id,
    n_batch_copies, n_lsh_candidates, n_near_dups, admitted)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp"),
        F.substring("text", 1, INCR_PREFIX_LEN).alias("pfx"),
    )
    existing = keyed.where(F.col("doc_id") % 5 != 0)
    incoming = keyed.where(F.col("doc_id") % 5 == 0)
    surv = incoming.join(
        existing.select("fp").distinct(), "fp", "left_anti"
    ).join(existing.select("pfx").distinct(), "pfx", "left_anti")
    reps = (
        surv.groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
        .select("doc_id", "n_batch_copies")
    )
    reps = scratch_persist(reps)
    # ^ consumed by the probe-signature build AND the final report
    # join — without the persist the exact-tier anti-join pipeline
    # runs twice (measured ~4.6 s/run at the local sf3 tier).

    sh = scratch_persist(_doc_shingles(docs))
    # Build side: the standing corpus's banded buckets (the static
    # index). Probe side: only the exact-tier survivors' buckets.
    corpus_bands = lsh_band_buckets(
        minhash_signatures(sh.where(F.col("doc_id") % 5 != 0))
    )
    probe_bands = lsh_band_buckets(
        minhash_signatures(sh.join(reps.select("doc_id"), "doc_id"))
    )
    cand = (
        probe_bands.alias("p")
        .join(
            corpus_bands.alias("c"),
            (F.col("p.band") == F.col("c.band"))
            & (F.col("p.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("dup_doc"),
        )
        .distinct()
    )
    cand = scratch_persist(cand)
    # ^ the candidate table feeds BOTH the verify branch (near_n) and
    # the candidate-count branch (cand_n); without the persist the
    # entire corpus+probe signature/banding pipeline executes twice
    # per run — the dominant term of the query's sf3 superlinearity
    # before r10 (41.8 s → see BASELINE.md third-wave table).
    sh_p = sh.select("doc_id", F.col("shingles").alias("sh_p"))
    sh_c = sh.select(
        F.col("doc_id").alias("dup_doc"), F.col("shingles").alias("sh_c")
    )
    jacc = F.size(F.array_intersect("sh_p", "sh_c")).cast(
        "double"
    ) / F.size(F.array_union("sh_p", "sh_c"))
    near_n = (
        cand.join(sh_p, "doc_id")
        .join(sh_c, "dup_doc")
        .where(jacc >= JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    cand_n = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lsh_candidates")
    )
    return (
        reps.join(cand_n, "doc_id", "left")
        .join(near_n, "doc_id", "left")
        .select(
            "doc_id",
            "n_batch_copies",
            F.coalesce("n_lsh_candidates", F.lit(0)).alias("n_lsh_candidates"),
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            (F.coalesce("n_near_dups", F.lit(0)) == 0).alias("admitted"),
        )
    )


def q_dedup_incremental_2batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round incremental ingest — the sequencing contract
    q_dedup_incremental models for one batch, extended to the
    steady-state loop: batch 1 (doc_id % 5 == 0)
    is admitted against the standing corpus (doc_id % 5 ∉ {0, 1});
    batch 2 (doc_id % 5 == 1) is then admitted against corpus PLUS the
    batch-1 representatives just ingested. Pins the monotone-admission
    invariant: ingestion only ever grows the standing key sets, so a
    batch-2 doc duplicating an admitted batch-1 doc is rejected even
    though neither is in the original corpus.

    Keys and plan shape are q_dedup_incremental's exactly — 16-byte
    md5 + 60-char-prefix keys, LEFT ANTI hash joins, text never
    shuffles. The round-2 standing sets are corpus keys UNION the
    batch-1 KEPT representatives' keys (only the kept copy of a
    within-batch duplicate group enters the corpus, so only its prefix
    blocks round 2 — a dropped copy's divergent prefix does not).
    Output: one row per admitted document, (doc_id, batch,
    n_batch_copies)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp"),
        F.substring("text", 1, INCR_PREFIX_LEN).alias("pfx"),
    )
    corpus = keyed.where(F.col("doc_id") % 5 >= 2)
    b1 = keyed.where(F.col("doc_id") % 5 == 0)
    b2 = keyed.where(F.col("doc_id") % 5 == 1)

    surv1 = b1.join(
        corpus.select("fp").distinct(), "fp", "left_anti"
    ).join(corpus.select("pfx").distinct(), "pfx", "left_anti")
    adm1 = surv1.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_batch_copies"),
    )
    # representative rows (carry the kept copy's pfx into round 2)
    rep1 = surv1.join(adm1.select("fp", "doc_id"), ["fp", "doc_id"])

    standing_fp = corpus.select("fp").union(rep1.select("fp")).distinct()
    standing_pfx = corpus.select("pfx").union(rep1.select("pfx")).distinct()
    adm2 = (
        b2.join(standing_fp, "fp", "left_anti")
        .join(standing_pfx, "pfx", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
    )
    one = adm1.select(
        "doc_id", F.lit(1).cast("int").alias("batch"), "n_batch_copies"
    )
    two = adm2.select(
        "doc_id", F.lit(2).cast("int").alias("batch"), "n_batch_copies"
    )
    return one.unionAll(two)


def q_dedup_incremental_substring(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ingest with the SUBSTRING tier — closes the
    admission-gate triple exact (q_dedup_incremental) → near
    (q_dedup_incremental_near) → substring: each incoming-batch
    document (doc_id % 5 == 0, the family's deterministic batch slice)
    is scanned for maximal spans of ≥ MIN_SPAN_TOKENS tokens whose
    every SUBSTR_K-token shingle ALREADY OCCURS in the standing corpus
    (doc_id % 5 != 0), and a document carrying any such span is
    blocked — the cross-corpus form of q_dedup_substring's Lee et al.
    2022 repeated-passage rule, applied at admission time instead of
    by full-corpus rebuild.

    The standing side reduces to its DISTINCT 64-bit shingle-hash set
    before any shuffle — this IS the incremental substring index a
    crawl pipeline maintains (append new admitted docs' shingles per
    batch; no suffix structure is rebuilt, which is why a true
    incremental suffix-ARRAY merge is not needed for the admission
    gate: span detection only asks "does this K-shingle exist in the
    corpus", a set-membership question the hash index answers
    exactly for spans ≥ K — see operators/suffix.py for the
    full-corpus analysis pass). Probe side is only the batch's
    (doc_id, pos, sh) rows; the LEFT SEMI join on the 8-byte hash is
    the only data-sized shuffle, then the family's gaps-and-islands
    window (bounded per doc) collapses flagged positions into maximal
    spans. Batch text never shuffles; corpus text never leaves its
    scan.

    Output: one row per batch doc that has at least one K-shingle in
    common with the corpus ledger — (doc_id, n_tokens, n_spans,
    dup_positions = Σ flagged-shingle run lengths over qualifying
    runs (position runs are disjoint, so the sum is exact),
    max_span_tokens, admitted = no qualifying span). Docs with zero
    corpus overlap are pure pass-through and are not re-emitted (the
    q_dedup_substring_apply affected-docs convention).

    Hash-collision bound: the Spark side semi-joins
    on xxhash64(shingle) while the oracle compares raw shingle
    strings, so a 64-bit collision between a batch shingle and a
    DIFFERENT corpus shingle would flag a position the oracle would
    not. Expected spurious flags ≈ n_batch_shingles ×
    n_distinct_corpus_shingles / 2^64 — at sf10 (≈5.1M × 2.6M) that
    is ~7e-7 per full run, and a single spurious position only
    matters if it extends a run to ≥ MIN_SPAN_TOKENS. This is the
    established dedup_substring family convention; if bit-parity at
    far larger ledgers ever becomes a gate requirement, swap in the
    md5-prefix cross-engine hash (the dedup_minhash chain) at ~2×
    the hash cost."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.repartition(default_parallelism(), "doc_id").select(
        "doc_id", nonempty_tokens("text").alias("t")
    )
    n = F.size("t")
    idx = F.when(
        n >= SUBSTR_K,
        F.sequence(F.lit(1), n - (SUBSTR_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    sh = toks.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.xxhash64(
                        F.array_join(F.slice("t", i, SUBSTR_K), " ")
                    ).alias("sh"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "n_tokens", "s.pos", "s.sh")
    # standing index: DISTINCT corpus shingle hashes (8-byte keys)
    corpus_sh = (
        sh.where(F.col("doc_id") % 5 != 0).select("sh").distinct()
    )
    flagged = sh.where(F.col("doc_id") % 5 == 0).join(
        corpus_sh, "sh", "left_semi"
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn(
        "grp", F.col("pos") - F.row_number().over(by_pos)
    )
    spans = runs.groupBy("doc_id", "grp").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("run_len"),
        (F.max("pos") - F.min("pos") + SUBSTR_K).alias("span_tokens"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("span_tokens") >= MIN_SPAN_TOKENS, F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_spans"),
            F.sum(
                F.when(
                    F.col("span_tokens") >= MIN_SPAN_TOKENS,
                    F.col("run_len"),
                ).otherwise(F.lit(0))
            ).alias("dup_positions"),
            F.max(
                F.when(
                    F.col("span_tokens") >= MIN_SPAN_TOKENS,
                    F.col("span_tokens"),
                ).otherwise(F.lit(0))
            ).alias("max_span_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "dup_positions",
            "max_span_tokens",
            (F.col("n_spans") == 0).alias("admitted"),
        )
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty of the incoming batch (doc_id % 5
    == 0, the same slice dedup_incremental admits) against the standing
    corpus: fraction of the doc's DISTINCT word-trigrams absent from
    the corpus trigram set — the freshness metric curation dashboards
    put next to the admission gate (a batch full of seen trigrams is
    boilerplate even when its exact fingerprints are novel).

    Plan: the verified shingle machinery (_doc_shingles — same
    len<k fallback and per-doc distinctness as the oracle CTE chain,
    parity pinned by dedup_ngram's green row) feeds one LEFT join of
    the incoming (doc_id, shingle) rows against the corpus's DISTINCT
    shingle column, then a per-doc count/sum aggregate. Shuffle keys
    are shingle strings only — document text never moves. At 100 TB
    the standing corpus's distinct-shingle column is the persisted,
    bucketed index this joins against (or a Bloom filter when
    approximate novelty suffices); the per-batch side is small by
    definition."""
    docs = load_table(spark, sf_dir, "documents")
    inv = _doc_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    existing = (
        inv.where(F.col("doc_id") % 5 != 0)
        .select("shingle")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    incoming = inv.where(F.col("doc_id") % 5 == 0)
    return (
        incoming.join(existing, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_shingles"), 4
                )
                + 0.0
            ).alias("novelty"),
        )
    )


# Bloom-filter novelty parameters: m = 4M bits (512 KB as 65k 64-bit
# words), k = 5 hashes. At the sf0.01 corpus's ~4e5 distinct trigrams
# the load is n/m ≈ 0.1 → theoretical false-positive rate
# (1 − e^{−kn/m})^k ≈ 1%; the filter is ~100× smaller than the
# distinct-shingle set it replaces.
BLOOM_M_BITS = 1 << 22
BLOOM_K = 5


def seeded_hash_positions(
    col, m: int = BLOOM_M_BITS, k: int = BLOOM_K, prefix: str = "pos"
):
    """k seeded positions in [0, m): md5("value:i") → first 15 hex
    chars → int60 → mod m. SHARED by the Bloom-filter novelty index
    (bit positions, defaults) and the Count-Min sketch
    (textops.cms_topgram_frames: cell columns) — one definition so the
    two sketches can never hash differently. r08 CONVENTION FLIP: was
    xxhash64(value, seed), which is engine-private; the md5-prefix
    form (the dedup_minhash r07 convention) replays bit-for-bit in
    DuckDB, which is what moves ngram_novelty_bloom and cms_topgrams
    from rows-only into the driver hash gate — uniformity is equally
    good and the one-sided-error pytest pins are hash-agnostic."""
    return F.array(
        *[
            F.pmod(
                md5_int(F.concat(col, F.lit(f":{i}")), 15), F.lit(m)
            ).alias(f"{prefix}{i}")
            for i in range(k)
        ]
    )


# Backwards-compatible alias for the Bloom call sites below.
_bloom_positions = seeded_hash_positions


def q_ngram_novelty_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-document n-gram novelty via a DataFrame-native
    Bloom filter over the standing corpus's trigrams — the
    constant-memory upgrade path q_ngram_novelty documents: the exact
    formulation shuffles/joins the corpus's full DISTINCT-shingle
    column (O(distinct shingles) state); this one compresses it to a
    fixed 512 KB bitmap that broadcasts to every task.

    Spark 4's ``bloom_filter_agg`` expression isn't SQL-registered, so
    the filter is built from first principles in pure JVM expressions
    (no UDF anywhere): each corpus shingle sets BLOOM_K seeded-md5
    bit positions; positions fold into 64-bit words via one
    ``bit_or(shiftleft(1, pos % 64))`` aggregate keyed on pos/64 (≤ m/64
    = 65 536 rows — a true fixed-size sketch, then broadcast); an
    incoming shingle is "possibly seen" iff ALL k of its word/bit
    probes hit. Bloom guarantees no false negatives ⇒ reported novelty
    only ever UNDER-counts vs the exact twin (a genuinely novel
    shingle can collide into "seen", never the reverse) — that
    one-sided error and the ~1% FP bound are pinned in
    tests/test_dedup_similarity.py against q_ngram_novelty.

    HASH-VERIFIED since r08 (was rows-only): the md5-prefix position
    convention replays in SQL, so the oracle rebuilds the bitmap's
    position set and every probe decision bit-for-bit — approximate
    w.r.t. the exact twin, fully deterministic. At 100 TB the bitmap is
    the persisted novelty index — rebuilding it is one linear pass, and
    probing is a broadcast join no matter how large the corpus grows."""
    docs = load_table(spark, sf_dir, "documents")
    inv = _doc_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    corpus_bits = (
        inv.where(F.col("doc_id") % 5 != 0)
        .select(F.explode(_bloom_positions(F.col("shingle"))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            # F.shiftleft takes a Python-int shift; the column-shift
            # form is SQL-only
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    incoming = inv.where(F.col("doc_id") % 5 == 0)
    probes = incoming.select(
        "doc_id",
        "shingle",
        F.posexplode(_bloom_positions(F.col("shingle"))).alias("k", "pos"),
    ).select(
        "doc_id",
        "shingle",
        (F.col("pos") / 64).cast("long").alias("word"),
        (F.col("pos") % 64).cast("int").alias("bit_idx"),
    )
    hits = probes.join(F.broadcast(corpus_bits), "word", "left").select(
        "doc_id",
        "shingle",
        F.when(
            F.col("bits").isNotNull()
            & (
                F.col("bits").bitwiseAND(
                    F.expr("shiftleft(CAST(1 AS BIGINT), bit_idx)")
                )
                != 0
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    per_shingle = hits.groupBy("doc_id", "shingle").agg(
        (F.min("hit") == 1).alias("maybe_seen")
    )
    return (
        per_shingle.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("maybe_seen"), 0).otherwise(1)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_shingles"), 4
                )
                + 0.0
            ).alias("novelty"),
        )
    )
