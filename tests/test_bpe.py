"""BPE encoder invariants + the Spark token-count integration."""

from __future__ import annotations

from cs422pp_mapreduce_spark.functions.bpe import (
    DEFAULT_ENCODER,
    BPEEncoder,
    _SEED_TEXT,
    pretokenize,
    train_bpe,
)
from cs422pp_mapreduce_spark.operators.tokenize import q_token_count_bpe

TRICKY = [
    "the quick brown fox",
    "  leading spaces and   runs",
    "punctuation, yes! (and-parens) ... 42 times",
    "tabs\tand\nnewlines\n\nmixed",
    "off-vocab zzxqj glyphs @#$%",
    "",
    "a",
]


def test_pretokenize_covers_everything():
    for t in TRICKY + [_SEED_TEXT]:
        assert "".join(pretokenize(t)) == t


def test_encode_decode_roundtrip():
    for t in TRICKY + [_SEED_TEXT]:
        pieces = DEFAULT_ENCODER.encode_pieces(t)
        assert DEFAULT_ENCODER.decode_pieces(pieces) == t


def test_training_and_encoding_deterministic():
    merges_a = train_bpe(_SEED_TEXT)
    merges_b = train_bpe(_SEED_TEXT)
    assert merges_a == merges_b
    enc = BPEEncoder(merges_a)
    sample = "the scheduler assigns tasks to workers"
    assert enc.encode(sample) == BPEEncoder(merges_b).encode(sample)
    assert enc.encode(sample) == DEFAULT_ENCODER.encode(sample)


def test_merges_compress_common_english():
    # learned merges must beat character-level segmentation on text
    # resembling the seed distribution, and a common word collapses far
    sample = "the pipeline reads the records and writes the results"
    n = DEFAULT_ENCODER.count(sample)
    n_chars = len([c for c in sample])
    assert n < n_chars / 2
    assert len(DEFAULT_ENCODER._encode_word("the")) <= 2


def test_spark_counts_match_python_replica(spark, sf_dir):
    got = {
        r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens)
        for r in q_token_count_bpe(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for row in docs.collect():
        ws = len(row.text.split())
        bpe = DEFAULT_ENCODER.count(row.text)
        assert got[row.doc_id] == (ws, bpe), row.doc_id
    assert len(got) == docs.count()


def test_seq_pack_bpe_matches_python_replica(spark, sf_dir):
    # the BPE-packed layout must equal a driver-side naive prefix sum
    # over the same chunks in (doc_id, chunk_id) order
    from cs422pp_mapreduce_spark.operators.textops import (
        SEQ_LEN,
        chunk_docs,
    )
    from cs422pp_mapreduce_spark.operators.tokenize import q_seq_pack_bpe
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    chunks = sorted(
        (r.doc_id, r.chunk_id, DEFAULT_ENCODER.count(r.chunk_text))
        for r in chunk_docs(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "chunk_id", "chunk_text")
        .collect()
    )
    want, start = {}, 0
    for doc_id, chunk_id, n in chunks:
        want[(doc_id, chunk_id)] = (n, start // SEQ_LEN, start % SEQ_LEN)
        start += n
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.seq_id, r.seq_off)
        for r in q_seq_pack_bpe(spark, sf_dir).collect()
    }
    assert got == want


def test_bpe_train_distributed_matches_replica(spark, sf_dir):
    """The distributed BATCHED merge loop (word-count table + bounded
    candidate collect + compatible-batch greedy + one JVM fold per
    pass) learns EXACTLY the merge table the pure-Python
    train_bpe_batched replica produces on the same corpus — same
    pairs, same order, same tie-breaks, same recorded counts."""
    from cs422pp_mapreduce_spark.functions.bpe import train_bpe_batched
    from cs422pp_mapreduce_spark.operators.tokenize import q_bpe_train
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    rows = q_bpe_train(spark, sf_dir).collect()
    assert len(rows) > 0
    docs = sorted(
        load_table(spark, sf_dir, "documents").select("doc_id", "text").collect(),
        key=lambda r: r["doc_id"],
    )
    corpus = "\n".join(r["text"] for r in docs)
    want = train_bpe_batched(corpus, n_merges=len(rows))
    assert [(r["left"], r["right"], r["pair_count"]) for r in rows] == want
    assert [r["merge_rank"] for r in rows] == list(range(len(rows)))
    assert all(r["pair_count"] > 0 for r in rows)


def test_bpe_batched_degenerates_to_sequential():
    """batch_size=1, n_candidates=1 turns the batched trainer into
    classic sequential BPE — the proof that the batching rule is a
    generalization, not a different algorithm."""
    from cs422pp_mapreduce_spark.functions.bpe import (
        train_bpe,
        train_bpe_batched,
    )

    seq = train_bpe(_SEED_TEXT, n_merges=40)
    bat = train_bpe_batched(
        _SEED_TEXT, n_merges=40, batch_size=1, n_candidates=1
    )
    assert [(a, b) for a, b, _ in bat] == seq


def test_bpe_batched_counts_match_sequential_recount():
    """Every count a batch records equals what sequential recounting
    would have found at that merge's turn — the compatible-batch
    invariant (merges in one batch cannot change each other's
    adjacency counts)."""
    from cs422pp_mapreduce_spark.functions.bpe import train_bpe_batched

    bat = train_bpe_batched(_SEED_TEXT, n_merges=40)
    one = train_bpe_batched(
        _SEED_TEXT, n_merges=40, batch_size=1
    )  # recounts after every merge, full candidate window
    if [(a, b) for a, b, _ in bat] == [(a, b) for a, b, _ in one]:
        assert bat == one  # counts agree wherever selections agree


def test_bpe_train_table_drives_encoder(spark, sf_dir):
    """The learned table is a working tokenizer: round-trips corpus
    text through BPEEncoder exactly."""
    from cs422pp_mapreduce_spark.functions.bpe import BPEEncoder
    from cs422pp_mapreduce_spark.operators.tokenize import q_bpe_train
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    merges = [
        (r["left"], r["right"])
        for r in q_bpe_train(spark, sf_dir).collect()
    ]
    enc = BPEEncoder(merges)
    for r in load_table(spark, sf_dir, "documents").limit(5).collect():
        pieces = enc.encode_pieces(r["text"])
        assert enc.decode_pieces(pieces) == r["text"]


def test_bpe_vocab_oracle_replays_trainer_in_duckdb(sf_dir):
    """The r09 bpe_vocab DuckDB oracle (unrolled candidate→greedy→
    apply passes, recursive-CTE used-set walk) reproduces the
    pure-Python batched trainer EXACTLY on the smoke corpus — no Spark
    involved, so this isolates the SQL replay itself. With the
    Spark↔replica pin above and the driver's Spark↔oracle hash row,
    the three implementations lock pairwise."""
    import duckdb

    from cs422pp_mapreduce_spark.functions.bpe import EOW, pretokenize
    from cs422pp_mapreduce_spark.operators.tokenize import N_TRAIN_MERGES
    from cs422pp_mapreduce_spark.oracles import ORACLES

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    got = sorted(con.sql(ORACLES["bpe_vocab"]).fetchall())

    # per-document pretokenization (what Spark's explode does), then
    # the reference merge loop
    from collections import Counter

    vocab: Counter = Counter()
    for (text,) in con.sql("SELECT text FROM documents").fetchall():
        for tok in pretokenize(text):
            if tok.strip():
                vocab[tuple(tok) + (EOW,)] += 1
    # train_bpe_batched takes one corpus string, which would re-join
    # documents across boundaries; run the same merge loop inline over
    # the per-document word counts instead:
    merges = []
    n_merges = N_TRAIN_MERGES
    from cs422pp_mapreduce_spark.functions.bpe import (
        BPE_BATCH_MERGES,
        BPE_PASS_CANDIDATES,
    )

    while len(merges) < n_merges:
        pairs: Counter = Counter()
        for word, n in vocab.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += n
        if not pairs:
            break
        cands = sorted(
            pairs.items(), key=lambda kv: (kv[1], kv[0]), reverse=True
        )[:BPE_PASS_CANDIDATES]
        cap = min(BPE_BATCH_MERGES, n_merges - len(merges))
        used: set = set()
        accepted = []
        for (a, b), cnt in cands:
            if len(accepted) >= cap:
                break
            if a in used or b in used or (a + b) in used:
                continue
            accepted.append((a, b, cnt))
            used.update((a, b, a + b))
        pairset = {(a, b): a + b for a, b, _ in accepted}
        nv: Counter = Counter()
        for word, n in vocab.items():
            out: list = []
            for sym in word:
                if out and (out[-1], sym) in pairset:
                    out[-1] = pairset[(out[-1], sym)]
                else:
                    out.append(sym)
            nv[tuple(out)] += n
        vocab = nv
        merges.extend(accepted)

    want = sorted(
        (i, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)
    )
    assert got == want


def test_bpe_trainer_rejects_tab_newline_words(spark, tmp_path):
    """ADVICE r10: the trainer's word filter must reject the FULL
    ^\\s+$ whitespace class, not just space runs (F.trim / DuckDB
    trim() are space-only). On a corpus where tab runs are the most
    frequent adjacency, the old filter let Spark and its oracle learn
    a ('\\t','\\t') merge in lockstep (gate-green) while the replica
    and the encoder treat whitespace runs as 1-piece tokens — this
    pins all THREE implementations to one whitespace rule on exactly
    that corpus."""
    import duckdb

    from cs422pp_mapreduce_spark.functions.bpe import EOW, pretokenize
    from cs422pp_mapreduce_spark.operators.tokenize import q_bpe_train
    from cs422pp_mapreduce_spark.oracles import ORACLES

    texts = ["ab\t\tab\t\tab\n\n\tcd\t\tcd" for _ in range(9)] + [
        "ab cd ab\t\t\tcd",
        "\t\t\t\t",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)

    rows = q_bpe_train(spark, str(tmp_path)).collect()
    got = [(r["left"], r["right"], r["pair_count"]) for r in rows]
    # no learned symbol may contain a tab/newline — whitespace RUNS
    # never enter the vocabulary as words (a single leading SPACE is
    # legitimately part of ` ?[A-Za-z]+` pretokens)
    assert got, "trainer learned nothing on the tab corpus"
    assert all(
        not any(ch in "\t\n\r\x0b\f" for ch in a + b) for a, b, _ in got
    ), got

    # replica (per-document, same loop the trainer batches): identical
    from collections import Counter

    vocab: Counter = Counter()
    for t in texts:
        for tok in pretokenize(t):
            if tok.strip():
                vocab[tuple(tok) + (EOW,)] += 1
    from cs422pp_mapreduce_spark.functions.bpe import (
        BPE_BATCH_MERGES,
        BPE_PASS_CANDIDATES,
    )
    from cs422pp_mapreduce_spark.operators.tokenize import N_TRAIN_MERGES

    merges: list = []
    while len(merges) < N_TRAIN_MERGES:
        pairs: Counter = Counter()
        for word, n in vocab.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += n
        if not pairs:
            break
        cands = sorted(
            pairs.items(), key=lambda kv: (kv[1], kv[0]), reverse=True
        )[:BPE_PASS_CANDIDATES]
        cap = min(BPE_BATCH_MERGES, N_TRAIN_MERGES - len(merges))
        used: set = set()
        accepted = []
        for (a, b), cnt in cands:
            if len(accepted) >= cap:
                break
            if a in used or b in used or (a + b) in used:
                continue
            accepted.append((a, b, cnt))
            used.update((a, b, a + b))
        pairset = {(a, b): a + b for a, b, _ in accepted}
        nv: Counter = Counter()
        for word, n in vocab.items():
            out: list = []
            for sym in word:
                if out and (out[-1], sym) in pairset:
                    out[-1] = pairset[(out[-1], sym)]
                else:
                    out.append(sym)
            nv[tuple(out)] += n
        vocab = nv
        merges.extend(accepted)
    assert got == [(a, b, c) for a, b, c in merges]

    # DuckDB oracle on the same corpus: identical too (three-way lock)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    got_sql = sorted(con.sql(ORACLES["bpe_vocab"]).fetchall())
    want_sql = sorted(
        (i, a, b, a + b, c) for i, (a, b, c) in enumerate(merges)
    )
    assert got_sql == want_sql
