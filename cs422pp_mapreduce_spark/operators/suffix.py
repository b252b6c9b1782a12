"""Distributed suffix-array substring dedup.

The full Lee et al. 2022 path ("Deduplicating Training Data Makes
Language Models Better"): find each position's LONGEST repeated
substring via a suffix array, not fixed-k shingles (q_dedup_substring
is the k-bounded approximation; this module computes exact maximal
repeat lengths).

Construction is Manber–Myers prefix doubling re-expressed as DataFrame
ops — the "log n range-exchange sorts" form:

* rank_0 = global dense rank of the single token at each position;
* rank_k = global dense rank of the pair (rank_{k-1}[p],
  rank_{k-1}[p + 2^(k-1)]) — one positional self-join (the range
  exchange) plus one distributed dense rank per level, K =
  ceil(log2(min(max_doc_tokens, SUFFIX_CAP))) levels total;
* every global rank is ``functions.scan.prefix_scan``, never a
  single-partition window;
* the suffix ARRAY is the row_number of (rank_K, doc_id, pos);
  adjacent SA entries' LCP is computed by DIRECT capped token-prefix
  comparison against the doc token arrays (r14 — two equi-joins plus
  one O(cmp_cap) codegen'd fold per pair, replacing the classic
  rank-table descent's 2·(K+1) positional joins: same values by the
  definition of LCP, ~20 fewer n-row shuffles per run, and no level
  table outlives the SA build), and the longest repeated prefix of a
  suffix is max(LCP with SA-prev, LCP with SA-next);
* spans: positions whose repeat length ≥ SUFFIX_MIN_TOKENS cover
  [pos, pos + lcp), merged per document by the gaps-and-islands
  running-max window.

Suffixes never cross documents (each suffix is doc-local), so no
sentinel plumbing is needed; ties between IDENTICAL suffixes break on
(doc_id, pos) in both engines. Comparisons truncate at
CMP = 2^K ≥ min(max_doc_tokens, SUFFIX_CAP) tokens and reported
lengths clamp to CMP — vacuous on every fixture (docs are ≤ ~100
tokens at all SFs) but the declared behavior if a corpus exceeds the
cap; the DuckDB oracle slices suffixes with the same arithmetic.

At 100 TB: total cost is O(n log n) shuffled 8-byte rank tuples over
K ≈ log2(cap) passes — each pass a range exchange Spark parallelizes
freely — versus the O(n·k) string bytes a k-gram materialization
ships; state is 3-long rows, no strings after rank_0.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel as PySparkStorageLevel

from ..functions.scan import prefix_scan
from ..functions.text import nonempty_tokens
from ..session import (
    default_parallelism,
    driver_paced_build_conf,
    scratch_persist,
)
from ..sources.catalog import load_table

# Minimum repeated-substring length (tokens) for a position to count
# as duplicated — the Lee-et-al. span threshold at fixture scale
# (matches dedup_substring's SUBSTR_K shingle width; the driver's
# sf0.001 slice tops out at 5-token chance repeats, larger fixtures
# carry the planted 60-90-token lede/near-dup structure).
SUFFIX_MIN_TOKENS = 5
# Comparison cap: suffixes compare on their first 2^ceil(log2(min(
# max_doc_tokens, SUFFIX_CAP))) tokens. Never binds on the fixtures.
SUFFIX_CAP = 512
# Range-exchange sizing for the global-rank kernel (r14, guide §2.2):
# partitions derive from the DATA (rows ≈ 8M × 24-byte rank tuples ≈
# 192 MB per partition), not from the core count — at sf0.1 the ladder
# sorts ~600k rows, where 32 range partitions are pure per-task fixed
# cost, while at 100 TB the same formula yields the thousands of
# right-sized partitions the sort actually needs. Floor 1, no cap.
RANK_PART_ROWS = 8_000_000
# Vocab-broadcast guard: below this bound the distinct vocabulary is
# broadcast unconditionally (vocab ≤ positions, and a
# ≤32M-row (tok, r) relation is well inside the 8 GB broadcast cap);
# above it, the real vocabulary is counted first (one tiny bounded job
# relative to a corpus this size) and the hint dropped if it exceeds
# the bound — degrading to a shuffle join instead of a driver OOM.
VOCAB_BCAST_MAX = 32_000_000


def _rank_partitions(n_rows: int) -> int:
    return max(1, (int(n_rows) + RANK_PART_ROWS - 1) // RANK_PART_ROWS)


def _level_scratch():
    """``(hold, release)`` for frames a checkpointed level needs only
    until it materializes: ``hold`` persists a frame, ``release``
    unpersists every frame held since the last release. Released per
    level, because 9 resident n-row frames otherwise accumulate PER RUN
    under the 8g local heap (the sf3 tier's superlinear signature)."""
    held: list = []

    def hold(frame: DataFrame) -> DataFrame:
        frame = frame.persist(PySparkStorageLevel.MEMORY_AND_DISK)
        held.append(frame)
        return frame

    def release() -> None:
        for frame in held:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001
                pass
        held.clear()

    return hold, release


def suffix_rank_tables(
    pos: DataFrame, levels: int, n_positions: int, checkpoint: bool = True
) -> dict[int, DataFrame]:
    """rank_k tables for k = 0..levels: rank_k[p] is an order- and
    equality-preserving class id of the first 2^k tokens of the suffix
    at p, with end-of-doc padded as -1/0 (shorter suffixes sort first,
    like the oracle's native list comparison).

    Odd levels COMBINE the two half-ranks arithmetically
    (r1·(n+2) + r2+1 — order-isomorphic to the (r1, r2) pair, fits a
    long because compacted ranks are ≤ n) instead of re-sorting; even
    levels COMPACT back to ≤ n via the global dense rank. This halves
    the number of global sorts — the dominant cost — while every
    level's table remains a valid equivalence class for the LCP
    descent (which only tests equality).

    localCheckpoint per level (the bpe_train lineage-truncation
    precedent): without it the level-k logical plan embeds level k-1
    TWICE — 2^K copies of rank_0 by the top, and Catalyst analysis
    time doubles per level. Checkpointing materializes each level
    once (declared driver-paced build work) and keeps every
    downstream plan shallow.

    Checkpoints go to DISK_ONLY (r12, the sf10 tier's OOM catch): at
    27.5 M positions the default deserialized MEMORY_AND_DISK blocks
    (~1.4 GB/level × 8 levels) blew the 8 g local heap during level
    unroll. The level tables are the algorithm's O(n log n) byte cost
    and belong on the storage tier; since the r14 direct-compare LCP
    each level is scanned exactly ONCE (by the next level — the SA
    reads only level K, and no descent re-reads the ladder), so at
    most two levels are ever live inputs at a time.

    r13 optimization pass (values bit-identical, job count cut):

    * rank_0 ranks the DISTINCT token vocabulary and broadcast-joins
      the class id back onto positions — dense rank depends only on
      the distinct-key ordering, so the per-position values are the
      same longs, but the global-sort kernel now runs on |vocab| rows
      instead of n and the position table is never range-shuffled for
      level 0 (guide §2.3: shuffle keys, not payloads). The broadcast
      is bounded by the vocabulary, which grows sublinearly in corpus
      size for token streams (Heaps' law; the byte-level Lee et al.
      formulation has |vocab| = 256) — if a corpus ever outgrew that,
      swap the hint for a shuffle join, same values.
    * ODD (combine) levels are lazy DISK_ONLY persists instead of
      eager localCheckpoints: the combine is a projection over the
      pairing join, so materializing it as its own driver-paced job
      bought nothing — the persist populates inside the next level's
      job, every later consumer (next pairing, LCP descent) still
      reads the materialized DISK_ONLY blocks, and the plan stays
      shallow because both join inputs are the previous EVEN level's
      checkpoint. Same storage-tier residency as the r12 fix, ~K/2
      fewer sequential driver-paced jobs.
    * each even level's ``paired`` join is persisted for the duration
      of its global rank, so the range-exchange's boundary-sampling
      pass does not recompute the join (released with the level's
      other scratch frames)."""
    hold, release = _level_scratch()
    persist = hold if checkpoint else scratch_persist

    def _ckpt(df: DataFrame) -> DataFrame:
        # checkpoint=False is the ANALYSIS-TWIN mode (plans/analysis):
        # fully lazy, shallow because the twin runs a single level
        if not checkpoint:
            return scratch_persist(df)
        out = df.localCheckpoint(
            eager=True, storageLevel=PySparkStorageLevel.DISK_ONLY
        )
        release()
        return out

    base = n_positions + 2
    n_parts = _rank_partitions(n_positions)
    vocab = pos.select("tok").distinct()
    vocab_scan = prefix_scan(
        vocab, ["tok"], "dense_rank",
        n_parts=min(n_parts, default_parallelism()), persist=persist,
    )
    vocab_rank = vocab_scan.frame.select(
        "tok", vocab_scan.value.cast("long").alias("r")
    )
    # Broadcast guard: |vocab| ≤ n_positions, so small corpora
    # broadcast unconditionally; a corpus big enough to carry a
    # driver-threatening vocabulary pays one bounded count job to
    # decide, and falls back to a shuffle join (same values — the
    # dense-rank class ids don't depend on the join strategy).
    bcast_vocab = n_positions <= VOCAB_BCAST_MAX or not checkpoint
    if not bcast_vocab:
        bcast_vocab = vocab_rank.count() <= VOCAB_BCAST_MAX
    vr = F.broadcast(vocab_rank) if bcast_vocab else vocab_rank
    ranks: dict[int, DataFrame] = {
        0: _ckpt(
            pos.join(vr, "tok").select("doc_id", "pos", "r")
        )
    }
    for k in range(1, levels + 1):
        h = 1 << (k - 1)
        prev = ranks[k - 1]
        shifted = prev.select(
            F.col("doc_id").alias("_d"),
            (F.col("pos") - h).alias("_p"),
            F.col("r").alias("_r2"),
        )
        paired = prev.join(
            shifted,
            (F.col("doc_id") == F.col("_d"))
            & (F.col("pos") == F.col("_p")),
            "left",
        ).select(
            "doc_id",
            "pos",
            F.col("r").alias("r1"),
            F.coalesce("_r2", F.lit(-1)).alias("r2"),
        )
        if k % 2 == 1:
            # combine: no sort; values < (n+2)^2 < 2^63 for n < 3e9.
            # (r1 is compacted ≤ n at every odd level: level 0 is
            # compact and every even level re-compacts.)
            lvl = paired.select(
                "doc_id",
                "pos",
                (
                    F.col("r1") * F.lit(base) + F.col("r2") + F.lit(1)
                ).alias("r"),
            )
            # lazy DISK_ONLY persist, not an eager checkpoint: the
            # combine is one projection over the pairing join of the
            # (checkpointed) even level below — shallow plan, same
            # storage-tier residency, one less sequential job.
            ranks[k] = scratch_persist(
                lvl, "DISK_ONLY" if checkpoint else "MEMORY_AND_DISK"
            )
        else:
            if checkpoint:
                # released by _ckpt below; saves the range-exchange
                # sampler recomputing the pairing join
                paired = hold(paired)
            lvl_scan = prefix_scan(
                paired, ["r1", "r2"], "dense_rank",
                n_parts=n_parts, persist=persist,
            )
            lvl = lvl_scan.frame.select(
                "doc_id", "pos", lvl_scan.value.cast("long").alias("r")
            )
            ranks[k] = _ckpt(lvl)
    return ranks


def q_dedup_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array substring-dedup report: one row per document that
    contains at least one substring of ≥ SUFFIX_MIN_TOKENS tokens
    occurring elsewhere in the corpus (or again inside the document),
    with (n_tokens, lrs_len = the document's longest repeated
    substring length, dup_tokens = tokens covered by qualifying
    repeats, n_spans = merged maximal spans).

    HASH-VERIFIED: the DuckDB oracle brute-forces the suffix array at
    gate scale (materialize every doc-local suffix, sort by native
    list comparison with the same (doc_id, pos) tiebreak, LCP adjacent
    pairs elementwise) — the prefix-doubling ranks, the descent LCP,
    and the island merge must reproduce it exactly.

    Declared build-time work (the bpe_train class): one 1-row
    (max-doc-length, total-positions) collect that fixes the number of
    doubling passes and the combine base — deterministic for a given
    fixture."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", nonempty_tokens("text").alias("t")
    ).where(F.size("t") >= 1)
    lens = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    pos = (
        toks.select("doc_id", F.posexplode("t"))
        .select(
            "doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("tok")
        )
    )

    # one tokenization pass total: toks feeds the bounds collect, the
    # position explode, the length table AND both sides of the LCP
    # compare join (r14) — without the persist the documents scan +
    # split would re-run 4×
    toks = scratch_persist(toks)
    maxlen, n_positions = toks.agg(
        F.max(F.size("t")), F.sum(F.size("t"))
    ).collect()[0]  # 1-row bounded
    if not maxlen:
        return spark.createDataFrame(
            [],
            "doc_id long, n_tokens long, lrs_len long, "
            "dup_tokens long, n_spans long",
        )
    levels = max(1, math.ceil(math.log2(min(maxlen, SUFFIX_CAP))))
    return suffix_report(pos, lens, levels, int(n_positions), toks=toks)


def suffix_report(
    pos: DataFrame,
    lens: DataFrame,
    levels: int,
    n_positions: int,
    checkpoint: bool = True,
    toks: DataFrame | None = None,
) -> DataFrame:
    """SA build → adjacent-pair LCP → per-position longest repeat →
    island-merged per-doc report (shared by q_dedup_suffix and its
    lazy analysis twin, which passes checkpoint=False and a single
    level — same schema, same plan shape, no build-time jobs).

    r14 restructure (guide §2.4 remove shuffles outright): adjacent-SA
    LCP is computed by DIRECT capped token-prefix comparison against
    the doc token arrays (``toks``: doc_id → token array) — TWO
    equi-joins + one codegen'd fold per pair — instead of the
    2·(levels+1)-join rank-table descent. Values are identical by
    definition: both compute the longest common prefix of the two
    suffixes truncated at cmp_cap (the descent's class-equality
    overshoot was clamped by the remaining lengths, which the direct
    compare respects inherently; zip_with's null padding ends the fold
    exactly at the shorter suffix). At any scale this removes
    2·(levels+1) ≈ 20 shuffles of the n-row pair frame per run AND the
    need to keep all K+1 rank-level tables resident for the descent —
    after the SA materializes, no plan reads them again (each level
    feeds only the next, so at most two levels are live inputs at
    once; the r12 sf10 OOM pressure class). The per-pair compare is
    O(cmp_cap) sequential token equality inside WholeStageCodegen —
    bounded by the same cap the rank ladder compares under."""
    if toks is None:
        raise ValueError("suffix_report requires the toks frame (r14)")
    cmp_cap = 1 << levels

    from contextlib import nullcontext

    # AQE off for the eager ladder: its exchanges carry nothing AQE can
    # re-plan (range partition counts derive from n_positions, the
    # pairing self-joins are unique-keyed, the offsets are explicit
    # broadcasts) — 66 → 16 jobs per build at sf0.1.
    build_conf = (
        driver_paced_build_conf(pos.sparkSession)
        if checkpoint
        else nullcontext()
    )
    with build_conf:
        ranks = suffix_rank_tables(pos, levels, n_positions, checkpoint)

        hold, release = _level_scratch()
        sa_scan = prefix_scan(
            ranks[levels],
            ["r", "doc_id", "pos"],
            "row_number",
            n_parts=_rank_partitions(n_positions),
            persist=hold if checkpoint else scratch_persist,
        )
        sa = sa_scan.frame.select(
            "doc_id", "pos", sa_scan.value.cast("long").alias("sa")
        )
        if checkpoint:
            sa = sa.localCheckpoint(
                eager=True, storageLevel=PySparkStorageLevel.DISK_ONLY
            )
            release()
        else:
            sa = scratch_persist(sa)
    nxt = sa.select(  # noqa: E306 — lazy from here except the pairs cut
        (F.col("sa") - 1).alias("sa"),
        F.col("doc_id").alias("db"),
        F.col("pos").alias("pb"),
    )
    st = sa.join(nxt, "sa").select(
        F.col("doc_id").alias("da"),
        F.col("pos").alias("pa"),
        "db",
        "pb",
    )

    # direct capped LCP: boolean match array over the two suffix
    # slices (zip_with pads the shorter side with null → eqNullSafe &
    # isNotNull yields FALSE there, ending the prefix at the shorter
    # suffix exactly like the old remaining-length clamp). The prefix
    # length is array_position of the FIRST false (early-exit linear
    # scan, no per-element accumulator allocation): position p>0 ⇒
    # lcp = p−1; no false at all ⇒ both slices matched end to end ⇒
    # lcp = size (equal lengths, else the null pad would mismatch).
    ta = toks.select(F.col("doc_id").alias("da"), F.col("t").alias("_ta"))
    tb = toks.select(F.col("doc_id").alias("db"), F.col("t").alias("_tb"))
    eq_arr = F.zip_with(
        "_sa", "_sb", lambda x, y: x.eqNullSafe(y) & x.isNotNull()
    )
    first_false = F.array_position(eq_arr, F.lit(False))
    lcp_col = (
        F.coalesce(
            F.nullif(first_false, F.lit(0)) - 1,
            F.size(eq_arr).cast("long"),
        )
    ).cast("long")
    # Each side is cut to its cmp_cap-token slice right after its join,
    # so the second exchange carries at most cmp_cap tokens per pair
    # row instead of the whole document.
    pairs = (
        st.join(ta, "da")
        .select(
            "da", "pa", "db", "pb",
            F.slice("_ta", F.col("pa"), F.lit(cmp_cap)).alias("_sa"),
        )
        .join(tb, "db")
        .select(
            "da", "pa", "db", "pb", "_sa",
            F.slice("_tb", F.col("pb"), F.lit(cmp_cap)).alias("_sb"),
        )
        .select("da", "pa", "db", "pb", lcp_col.alias("lcp"))
    )
    # both union branches read pairs — truncate before the fanout so
    # the join+fold runs once (inside the build conf: this eager cut
    # is the last driver-paced materialization of the build)
    if checkpoint:
        with driver_paced_build_conf(pos.sparkSession):
            pairs = pairs.localCheckpoint(
                eager=True, storageLevel=PySparkStorageLevel.DISK_ONLY
            )
    else:
        pairs = scratch_persist(pairs)

    lrs = (
        pairs.select(F.col("da").alias("doc_id"), F.col("pa").alias("pos"), "lcp")
        .unionByName(
            pairs.select(
                F.col("db").alias("doc_id"), F.col("pb").alias("pos"), "lcp"
            )
        )
        .groupBy("doc_id", "pos")
        .agg(F.max("lcp").alias("lcp"))
    )

    hits = lrs.where(F.col("lcp") >= SUFFIX_MIN_TOKENS).select(
        "doc_id", "pos", "lcp", (F.col("pos") + F.col("lcp") - 1).alias("e")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    cum_end = F.max("e").over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.withColumn(
        "grp",
        F.sum(
            (F.col("pos") > F.coalesce(cum_end, F.lit(-1)) + 1).cast("long")
        ).over(by_pos),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"),
        F.max("e").alias("e2"),
        F.max("lcp").alias("span_lrs"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.max("span_lrs").alias("lrs_len"),
            F.sum(F.col("e2") - F.col("s") + 1).alias("dup_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .join(lens, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("lrs_len").cast("long").alias("lrs_len"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.col("n_spans").cast("long").alias("n_spans"),
        )
    )
