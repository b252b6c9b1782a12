"""Text-analysis column expressions (training-data pipeline surface).

All JVM-side built-in expressions (split/filter/regexp/md5) — no Python
UDFs, so these run inside whole-stage codegen and scale linearly. Each
has an exactly-equivalent DuckDB formulation used by the oracles
(cs422pp_mapreduce_spark/oracles_text.py) — patterns restricted to
constructs whose semantics agree between Java regex and RE2.

The tokenizer contract descends from the reference's single-space
``getline(line, ' ')`` loop (/root/reference/thread_pool.cc:87-89) with
the engine's decided semantics: empty tokens are dropped, not crashed on
(thread_pool.cc:125; SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the lang-id heuristic. The point
# is a reproducible, SQL-expressible n-gram/stopword scoring shape — on
# real corpora you'd swap in fastText/CLD3 via a pandas UDF.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "y", "las", "una"),
}


def nonempty_tokens(col: Column | str) -> Column:
    """Single-space tokens with empties dropped (reference semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda x: x != "")


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count (\\s+ runs collapse), as BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda x: x != "")).cast("long")


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish subword count: alpha runs, digit runs, and single
    punctuation marks each count as one token — the classic pre-BPE
    regex pre-tokenization shape, as BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
    ).cast("long")


def fingerprint_md5(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    md5 is bit-identical across engines (unlike xxhash64), so fingerprint
    joins verify cross-engine."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(c)))


def md5_int(col: Column | str, hex_chars: int) -> Column:
    """The engine's cross-engine string hash: the first ``hex_chars``
    hex digits of md5(col) as a BIGINT (15 digits = 60 bits stays
    non-negative). DuckDB replays it as
    ('0x' || substr(md5(x), 1, k))::BIGINT, so hash-derived ids,
    buckets and positions verify bit for bit (xxhash64 is
    engine-private)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def md5_bucket(key: Column | str, buckets: int) -> Column:
    """Deterministic bucket in [0, buckets) of any key: ``md5_int`` of
    its string form at 6 hex digits, mod ``buckets`` — the hash-mod
    membership behind samples, eval/train splits and changesets."""
    c = F.col(key) if isinstance(key, str) else key
    return md5_int(c.cast("string"), 6) % buckets


def _stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda x: x.isin(*words)))


def lang_id_expr(col: Column | str) -> Column:
    """Stopword-voting language ID: argmax of per-language stopword hit
    counts, 'und' (undetermined) when all scores are zero. Deterministic
    tie-break by the fixed language order en > fr > de > es."""
    toks = nonempty_tokens(col)
    scores = {lang: _stopword_hits(toks, ws) for lang, ws in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in ("en", "fr", "de", "es"):
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def quality_score_cols(col: Column | str) -> dict[str, Column]:
    """Document quality signals + a composite score, all closed-form so
    results are bit-reproducible across engines and partitionings."""
    c = F.col(col) if isinstance(col, str) else col
    toks = nonempty_tokens(c)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(c).cast("long")
    n_alpha = F.length(F.regexp_replace(F.lower(c), "[^a-z]", "")).cast("long")
    n_punct = F.length(F.regexp_replace(F.lower(c), "[a-z0-9\\s]", "")).cast("long")
    stop_hits = _stopword_hits(toks, STOPWORDS["en"]).cast("long")
    nt = F.when(n_tokens > 0, n_tokens.cast("double"))
    nc = F.when(n_chars > 0, n_chars.cast("double"))
    avg_token_len = n_alpha.cast("double") / nt
    punct_ratio = n_punct.cast("double") / nc
    stopword_ratio = stop_hits.cast("double") / nt
    score = (
        F.least(nt / F.lit(100.0), F.lit(1.0)) * 0.4
        + stopword_ratio * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.2
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "avg_token_len": avg_token_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stopword_ratio,
        "quality_score": score,
    }
