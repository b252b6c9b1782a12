"""Distributed suffix-array substring dedup.

The full Lee et al. 2022 path ("Deduplicating Training Data Makes
Language Models Better"): find each position's LONGEST repeated
substring via a suffix array, not fixed-k shingles (q_dedup_substring
is the k-bounded approximation; this module computes exact maximal
repeat lengths).

The suffix array is ONE sort:

* each position's sort key is its capped token slice,
  ``slice(t, pos, SUFFIX_CAP)``, taken right after the posexplode
  that yields the position (no join back to the token arrays);
* Spark orders arrays lexicographically, shorter prefix first, so the
  row number of (key, doc_id, pos) from ``functions.scan.prefix_scan``
  is the suffix array: one range exchange, never a single-partition
  window;
* adjacent SA entries' LCP compares the two keys the SA rows already
  carry, and the longest repeated prefix of a suffix is max(LCP with
  SA-prev, LCP with SA-next);
* spans: positions whose repeat length ≥ SUFFIX_MIN_TOKENS cover
  [pos, pos + lcp), merged per document by the gaps-and-islands
  running-max window.

Suffixes never cross documents (each suffix is doc-local), so no
sentinel plumbing is needed; ties between IDENTICAL suffixes break on
(doc_id, pos) in both engines.

Why a fixed cap is exact: the DuckDB oracle compares suffixes on
CMP = 2^max(1, ceil(log2(min(max_doc_tokens, SUFFIX_CAP)))) tokens.
When max_doc_tokens ≤ SUFFIX_CAP, CMP ≥ max_doc_tokens, so a slice of
CMP tokens and a slice of SUFFIX_CAP tokens are both the whole suffix;
otherwise CMP = SUFFIX_CAP. Either way the keys, the suffix array and
the LCPs are the same, and reported lengths clamp to the cap only on
documents longer than it. The cap does not depend on the data, so the
query builds lazily: no bounds collect, no job before the caller's
action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scan import prefix_scan
from ..functions.text import nonempty_tokens
from ..sources.catalog import load_table

# Minimum repeated-substring length (tokens) for a position to count
# as duplicated — the Lee-et-al. span threshold at fixture scale
# (matches dedup_substring's SUBSTR_K shingle width; the driver's
# sf0.001 slice tops out at 5-token chance repeats, larger fixtures
# carry the planted 60-90-token lede/near-dup structure).
SUFFIX_MIN_TOKENS = 5
# Comparison cap: suffixes compare on their first SUFFIX_CAP tokens.
# Never binds on the fixtures (docs are ≤ ~100 tokens at every SF).
SUFFIX_CAP = 512


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
    pairs elementwise) — the one-sort SA, the key LCP and the island
    merge must reproduce it exactly."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", nonempty_tokens("text").alias("t")
    )
    lens = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    keyed = toks.select("doc_id", "t", F.posexplode("t")).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),
        F.slice("t", F.col("pos") + 1, F.lit(SUFFIX_CAP)).alias("key"),
    )
    sa_scan = prefix_scan(keyed, ["key", "doc_id", "pos"], "row_number")
    sa = sa_scan.frame.select(
        "doc_id", "pos", "key", sa_scan.value.cast("long").alias("sa")
    )
    nxt = sa.select(
        (F.col("sa") - 1).alias("sa"),
        F.col("doc_id").alias("db"),
        F.col("pos").alias("pb"),
        F.col("key").alias("kb"),
    )

    # direct capped LCP: boolean match array over the two keys
    # (zip_with pads the shorter side with null → eqNullSafe &
    # isNotNull yields FALSE there, ending the prefix at the shorter
    # suffix). The prefix length is array_position of the FIRST false:
    # position p>0 ⇒ lcp = p−1; no false at all ⇒ both keys matched
    # end to end ⇒ lcp = size (equal lengths, else the null pad would
    # mismatch).
    eq_arr = F.zip_with(
        "key", "kb", lambda x, y: x.eqNullSafe(y) & x.isNotNull()
    )
    first_false = F.array_position(eq_arr, F.lit(False))
    lcp_col = F.coalesce(
        F.nullif(first_false, F.lit(0)) - 1, F.size(eq_arr).cast("long")
    ).cast("long")
    # shuffle_merge: a frame downstream of posexplode is estimated at
    # about the documents' size, so without the hint the planner
    # broadcasts the whole key-bearing SA into this self-join, which
    # fails the broadcast's memory check at sf1.
    pairs = sa.join(nxt.hint("shuffle_merge"), "sa").select(
        "doc_id", "pos", "db", "pb", lcp_col.alias("lcp")
    )
    # each pair gives the LCP to both its suffixes
    lrs = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct("doc_id", "pos", "lcp"),
                    F.struct(
                        F.col("db").alias("doc_id"),
                        F.col("pb").alias("pos"),
                        "lcp",
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
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
