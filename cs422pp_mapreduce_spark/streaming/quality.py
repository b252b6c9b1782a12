"""Streaming quality gate — the learned curation model deployed in
the ingest path.

Batch fits the model (operators/textops.qc_fit: hashed-n-gram NB
log-count ratios + calibrated threshold over the standing corpus's
labeled slice); the document STREAM is then scored map-side against
the static weight table and gated — the production shape of a
quality filter at crawl-ingest time (GPT-3/CCNet style): the model is
a fixed-size artifact, each arriving document is scored independently
of every other, and no document ever waits on corpus state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import TABLE_SCHEMAS, load_table
from .events import drain_to_memory, sink_frame, stage_document_files


def _stream_feats(sdocs: DataFrame) -> DataFrame:
    """(doc_id, feat) per GRAM INSTANCE over a (possibly streaming)
    documents frame — the stream-side twin of qc_feature_tf, shaped
    for a SINGLE downstream aggregation: structured streaming allows
    one stateful aggregate, so the per-(doc, feat) tf pre-aggregation
    is folded into the per-doc score sum instead (Σ over instances of
    w ≡ Σ over feats of tf·w — decimal addition is exact, so the
    regrouping is value-identical). The length-decile doc-stat
    indicator is appended to the feature ARRAY before the explode, so
    one generator covers both feature kinds."""
    from ..functions.text import nonempty_tokens
    from ..operators.textops import (
        QC_BUCKETS,
        QC_LEN_BUCKETS,
        _qc_feat,
    )

    toks = sdocs.select("doc_id", nonempty_tokens("text").alias("toks"))
    bg = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = toks.where(F.size("toks") > 0).select(
        "doc_id",
        F.concat(
            F.col("toks"),
            F.when(F.size("toks") >= 2, bg).otherwise(
                F.array().cast("array<string>")
            ),
        ).alias("grams"),
        F.size("toks").alias("_n"),
    )
    featarr = F.concat(
        F.transform(F.col("grams"), lambda g: _qc_feat(g)),
        F.array(
            F.lit(QC_BUCKETS)
            + F.least(
                F.floor(F.col("_n") / 10).cast("bigint"),
                F.lit(QC_LEN_BUCKETS - 1),
            )
        ),
    )
    return grams.select("doc_id", F.explode(featarr).alias("feat"))


def stream_quality_gate_frame(
    sdocs: DataFrame, w: DataFrame, bias, thr: float
) -> DataFrame:
    """Score + gate a documents frame against a fitted model: LEFT
    stream-static equi-join on feat (AQE/Catalyst broadcasts the
    ≤QC_DIM-row weight table), ONE aggregation per doc_id, then the
    literal bias/threshold verdict. Works identically on a batch
    frame (the analysis-plan twin uses that)."""
    j = _stream_feats(sdocs).join(w, "feat", "left")
    scored = j.groupBy("doc_id").agg(
        F.sum(
            F.coalesce(F.col("w"), F.lit(0).cast("decimal(18,6)"))
        ).alias("wsum"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    score = (F.col("wsum") + F.lit(bias)).cast("double")
    return scored.select(
        "doc_id",
        "n_grams",
        score.alias("score"),
        (score > F.lit(thr)).alias("admit"),
    )


def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract STREAMING quality gate: fit the
    quality_classifier model on the corpus at rest (qc_fit — the
    same tables the batch classifier hash-verifies), then land the
    documents table as 2 staged files and score the resulting file
    STREAM against the static weight table, admitting documents whose
    NB log-odds clear the calibrated threshold — the quality filter
    running at crawl-ingest time.

    Contract caveat (the q_ann_lsh class, declared in
    __spark_entry__): the model FIT runs its batch jobs at build
    time, plus two bounded 1-row collects (the prior's bias and the
    calibrated threshold) that become literals in the streaming
    plan — a deployed model's scalars are driver-resident config by
    design. The stream side is then: explode hashed-feature ids →
    LEFT stream-static equi-join with the broadcast weight table →
    ONE stateful aggregation per doc_id (update mode; each doc's
    grams arrive in exactly one micro-batch, so every doc is emitted
    exactly once) → literal threshold verdict. Per-doc state is a
    decimal + a count; production would attach an ingest-time
    watermark to evict completed groups, which the bounded contract
    fixture does not need (exactness over the whole input is the
    thing being hash-verified).

    Hash-verified against the batch oracle (the _QC_CTES chain): the
    gate is stateless per document given the model, so the stream
    result must equal the batch classifier's scored table projected
    to (doc_id, n_grams, score, admit) — Σ over gram instances of w
    regroups Σ tf·w exactly (decimal addition)."""
    from ..operators.textops import qc_fit

    docs = load_table(spark, sf_dir, "documents")
    m = qc_fit(spark, docs)
    bias = m["prior"].collect()[0]["bias"]  # Decimal — exact literal
    thr = m["thr"].collect()[0]["thr"]  # IEEE double — exact literal
    # one availableNow trigger (as in streaming/stateful._staged_stream):
    # the gate is stateless per document given the model — each doc's
    # grams are in one file hence one batch at ANY trigger size — while
    # each extra micro-batch pays a full state-commit + Python-round
    # cycle for the per-doc aggregation state.
    sdocs = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 2)
        .parquet(stage_document_files(spark, sf_dir, n_files=2))
    )
    gated = stream_quality_gate_frame(sdocs, m["w"], bias, thr)
    q = drain_to_memory(gated, "stream_quality_gate", "update")
    return sink_frame(spark, q)


def stream_quality_gate_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lazy batch twin for the analysis tools: the same
    explode→join→agg→verdict pipeline over the batch documents scan,
    with representative (non-collected) literal scalars — exact
    output schema, no streaming job, no build-time jobs."""
    import decimal

    from ..operators.textops import qc_fit

    docs = load_table(spark, sf_dir, "documents")
    m = qc_fit(spark, docs)
    return stream_quality_gate_frame(
        docs, m["w"], decimal.Decimal("0.000000"), 0.0
    )
