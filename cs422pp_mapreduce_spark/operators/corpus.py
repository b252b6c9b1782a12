"""End-to-end training-corpus preparation — the composition the whole
text surface exists for: quality-filter → language-filter → dedup →
token accounting, as ONE declarative plan.

This is the flagship "LLM data pipeline" query: at 100 TB this exact
plan shape (cheap codegen'd filters first, hash-dedup on a 16-byte
fingerprint, aggregation last) is how corpus prep actually runs; every
stage here pushes work before the single shuffle (dedup) and the plan
contains no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import fine_sum
from ..functions.text import (
    fingerprint_md5,
    lang_id_expr,
    md5_bucket,
    md5_int,
    quality_score_cols,
    token_count_bpe,
)
from ..session import default_parallelism, scratch_persist
from ..sources.catalog import load_table

MIN_QUALITY = 0.5
KEEP_LANGS = ("en", "und")


def gated_deduped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared front half of the corpus pipeline: quality + language
    gates, then fingerprint dedup (min doc_id wins), text carried."""
    # redistribute before the CPU-heavy scoring expressions: the scan's
    # single row group would otherwise serialize all regex/list work
    docs = load_table(spark, sf_dir, "documents").repartition(
        default_parallelism(), "doc_id"
    )
    q = quality_score_cols("text")
    gated = docs.select(
        "doc_id",
        "text",
        q["quality_score"].alias("quality_score"),
        lang_id_expr("text").alias("lang_pred"),
    ).where(
        (F.col("quality_score") >= MIN_QUALITY)
        & F.col("lang_pred").isin(*KEEP_LANGS)
    )
    return (
        gated.select(
            "doc_id",
            "text",
            "quality_score",
            "lang_pred",
            fingerprint_md5("text").alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            # min, not first: fingerprint-equal docs can differ in
            # case/whitespace (same md5(lower(trim))); first() would make
            # the carried columns partition-order-dependent, min matches
            # the oracle's MIN() and keeps output partitioning-invariant.
            F.min("quality_score").alias("quality_score"),
            F.min("lang_pred").alias("lang_pred"),
            F.min("text").alias("text"),
        )
    )


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-document ledger: docs passing quality + language gates,
    deduplicated by normalized-text fingerprint (min doc_id wins),
    with BPE-ish token counts — the columns a downstream tokenizer
    shard-writer needs."""
    deduped = gated_deduped_docs(spark, sf_dir)
    return deduped.select(
        "doc_id",
        "n_copies",
        "lang_pred",
        F.round("quality_score", 6).alias("quality_score"),
        token_count_bpe("text").alias("n_tokens"),
    )


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline as one declarative plan:
    quality gate → language gate → fingerprint dedup → overlapping
    token-window chunking → deterministic train/val split.

    Output is the chunk ledger a tokenizer shard-writer consumes:
    (doc, chunk, token count, lang, quality, split). Stage order is
    the 100 TB cost order — cheap codegen'd filters first (scan-side),
    the one hash shuffle (dedup) on 16-byte keys in the middle, and
    the map-only chunk/split explosion LAST, after the data has been
    shrunk by every earlier stage. The split is hash-mod on
    (doc_id, chunk_id), so membership is reproducible across engines
    and re-layouts (same convention as q_deterministic_sample)."""
    from .textops import CHUNK_SIZE, CHUNK_STRIDE

    deduped = gated_deduped_docs(spark, sf_dir)
    toks = deduped.select(
        "doc_id",
        "lang_pred",
        F.round("quality_score", 6).alias("quality_score"),
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    ).where(F.size("toks") > 0)
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE))
    chunks = toks.select(
        "doc_id",
        "lang_pred",
        "quality_score",
        "toks",
        F.posexplode(starts).alias("chunk_id", "start"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.lit(CHUNK_SIZE), F.size("toks") - F.col("start") + 1)
        .cast("long")
        .alias("n_chunk_tokens"),
        "lang_pred",
        "quality_score",
    )
    split_bucket = md5_int(
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("chunk_id").cast("string"),
        ),
        6,
    ) % 100
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        "lang_pred",
        "quality_score",
        F.when(split_bucket < 90, "train").otherwise("val").alias("split"),
    )


def q_corpus_to_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → model-ready training sequences, ONE declarative
    plan: quality gate → language gate → fingerprint dedup →
    benchmark decontamination (drop the eval slice itself and every
    surviving doc sharing a shingle with it) → overlapping chunking →
    concatenate-and-split packing into 512-token sequences.

    This is the full pretraining data path. Cost order is the 100 TB
    order: codegen'd gates scan-side, the dedup hash shuffle on
    16-byte keys, the decontamination anti-join against a *broadcast*
    flagged-id set (the benchmark side is tiny), and only then the
    map-only chunk explosion and the range-exchange prefix-sum packing
    (never a single-partition window). Every stage is a previously
    oracle-verified operator; the composed oracle chains the same
    CTEs."""
    from .dedup import EVAL_PCT, contamination_stats
    from .textops import chunk_docs, pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    deduped = gated_deduped_docs(spark, sf_dir)
    # flags are computed corpus-wide (the benchmark definition does not
    # depend on the gates); survivors are dropped if their kept
    # representative doc is flagged or is itself in the eval slice
    flagged = contamination_stats(docs).select("doc_id")
    clean = (
        deduped.where(md5_bucket("doc_id", 100) >= EVAL_PCT)
        .join(F.broadcast(flagged), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    return pack_sequences(chunk_docs(clean))


def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard — the one-page summary a data
    team reads before setting per-source dedup/filter budgets,
    composing the round-3 dedup surface: document counts, token mass,
    exact-duplicate membership (docs sharing a normalized-text
    fingerprint with any other doc), repeated-span incidence
    (documents containing a ≥30-token span duplicated anywhere in the
    corpus, per q_dedup_substring), and decimal-routed mean quality.

    Shape: one fingerprint/quality projection (codegen'd), one count
    aggregate per branch keyed on source, and two key-only joins
    (duplicated fingerprints; span doc ids). Shuffle volume is
    O(sources + fingerprints + span docs) — document text never
    shuffles."""
    from .dedup import q_dedup_substring

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score_cols("text")
    # 4 consumers (dup_fps, per_source, exact_dup, span); the cache
    # populates on first materialization WITHIN the returned plan's
    # execution — no unpersist here, which would unmark it before any
    # action ran (session.evict_scratch releases it, as with
    # q_dedup_minhash)
    base = scratch_persist(
        docs.select(
            "doc_id",
            "source",
            fingerprint_md5("text").alias("fp"),
            q["n_tokens"].alias("n_tokens"),
            q["quality_score"].alias("quality_score"),
        ),
        "MEMORY_AND_DISK_DESER",
    )
    # fingerprints held by >1 doc
    dup_fps = (
        base.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select("fp")
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (
            F.round(fine_sum("quality_score", 18) / F.count(F.lit(1)), 6)
            + 0.0
        ).alias("mean_quality"),
    )
    exact_dup = (
        base.join(dup_fps, "fp")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_exact_dup_docs"))
    )
    span_docs = q_dedup_substring(spark, sf_dir).select("doc_id").distinct()
    span = (
        base.select("doc_id", "source")
        .join(span_docs, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_span_docs"))
    )
    out = (
        per_source.join(exact_dup, "source", "left")
        .join(span, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_quality",
            F.coalesce("n_exact_dup_docs", F.lit(0)).alias("n_exact_dup_docs"),
            F.coalesce("n_span_docs", F.lit(0)).alias("n_span_docs"),
        )
    )
    return out


# single source of truth shared with the oracle's QUALIFY bound
from ..oracles import SOURCE_CAP  # noqa: E402


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (domain balancing): keep at most
    SOURCE_CAP docs per source, chosen DETERMINISTICALLY by md5(doc_id)
    hash order with doc_id tiebreak — the standard curation step that
    stops a single crawler domain from dominating the mixture, with a
    selection that is reproducible across runs and engines (no
    sample()/rand()).

    Plan shape: one row_number window partitioned by source ordering by
    the 8-hex md5 prefix; the rank<=K predicate compiles to
    WindowGroupLimit, so each shuffle partition pre-truncates to its
    local top-K BEFORE the exchange — shuffle volume is O(sources × K)
    + spill-free, not corpus-sized. md5-prefix (not xxhash64) per the
    cross-engine hash convention; the DuckDB oracle replays the same
    ordering bit-for-bit."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    hkey = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    w = (
        Window.partitionBy("source")
        .orderBy(hkey.asc(), F.col("doc_id").asc())
    )
    return (
        docs.select(
            "doc_id", "source", "lang", hkey.alias("pick_key"),
            F.row_number().over(w).alias("rk"),
        )
        .where(F.col("rk") <= SOURCE_CAP)
        .select(
            "doc_id", "source", "lang", "pick_key",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# --- Deterministic shuffle-and-shard (round 5) --------------------------

from ..oracles import N_SHARDS  # noqa: E402  (single source of truth)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-output stage: deterministically "shuffle" the
    corpus (order by md5 of the key — a reproducible stand-in for a
    seeded random permutation) and pack it into N_SHARDS hash-assigned
    shards, reporting per-shard balance statistics (docs, tokens,
    distinct languages, and the first document in shard order).

    Why hash-shard instead of row_number % N: shard membership is a
    pure function of the key — stable under re-partitioning, engine
    choice, and incremental appends (a new batch lands in its shards
    without renumbering the world), and balanced to ±O(√(n/N)) by the
    hash. The plan is one map-only projection (md5, token count) plus
    one 32-key aggregation with map-side partial aggregation — at
    100 TB the shuffle moves only N_SHARDS × partitions partial rows.
    min_by picks the shard's first doc in permutation order without
    any per-shard sort. The writer analog (partitionBy shard) shares
    the same assignment expression (sources/sinks.py).

    Everything is exact integer/string arithmetic → driver-hash-
    verified; the md5→bucket convention is q_deterministic_sample's.
    """
    from ..functions.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = md5_bucket("doc_id", N_SHARDS)
    base = docs.select(
        "doc_id",
        "lang",
        h.alias("h"),
        shard.alias("shard_id"),
        token_count_ws("text").alias("n_toks"),
    )
    return (
        base.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.min_by("doc_id", "h").alias("first_doc"),
            F.min("h").alias("first_hash"),
        )
        .orderBy("shard_id")
    )
