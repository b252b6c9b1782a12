"""Pure-Python byte-pair encoding for tokenizer-aware token counts.

A pretraining pipeline packs sequences by *tokenizer* tokens, not
whitespace words; the packing/mixture operators need a real subword
count. This module implements the public BPE algorithm (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"; the same merge loop GPT-2's byte-level tokenizer builds on)
with:

- ``train_bpe``: deterministic merge learning — highest pair count
  first, ties broken lexicographically, so the merge table is a pure
  function of the corpus.
- ``BPEEncoder``: greedy lowest-rank-pair-first encoding with an
  end-of-word marker and a per-word LRU cache, plus decode (exact
  round-trip by construction).
- ``DEFAULT_ENCODER``: an encoder trained at import on the embedded
  seed text below — no network, no external vocab file. The merge
  table is small (256 merges) but structurally identical to a
  production vocab; swap ``DEFAULT_ENCODER`` for one built from real
  merges (e.g. a GPT-2 ``merges.txt``) via ``BPEEncoder(merges)``
  when the file is available.

Everything here is driver/executor-side plain Python; the Spark
integration (operators/tokenize.py) runs it inside Arrow-batched
``mapInPandas``, never per-row UDFs.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import lru_cache

EOW = "</w>"  # end-of-word marker: makes decode unambiguous

# ASCII approximation of the GPT-2 pre-tokenizer regex: letter runs,
# digit runs, punctuation runs, each optionally preceded by a space
# (kept attached, as byte-level BPE does), plus bare whitespace runs.
_PRETOKEN_RE = re.compile(
    r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
)

# Deterministic seed corpus for the default merge table: plain English
# with enough repetition for common subwords to win merges.
_SEED_TEXT = """
the quick brown fox jumps over the lazy dog and the dog barks at the
fox while the cat watches from the fence in the garden behind the
house where the children play in the afternoon sun and the birds sing
in the trees above the garden wall as the wind blows through the
leaves of the old oak tree standing near the gate of the house

data processing pipelines read records from storage filter and
transform the records aggregate the results and write the results
back to storage while the scheduler assigns tasks to workers and the
workers report progress back to the scheduler until all of the tasks
in the stage are complete and the next stage of the pipeline starts

a distributed query engine plans a query as a tree of operators scans
filters projections joins and aggregations and executes the operators
in stages separated by shuffles where each stage runs as parallel
tasks over partitions of the data and the optimizer chooses the order
of the joins and pushes the filters down to the scans to reduce the
amount of data moving through the shuffles between the stages

training a language model requires tokenizing documents into subword
units counting the tokens packing the token sequences into fixed
length training examples and sampling the examples from the mixture
of sources according to the target weights of the training corpus
"""


def pretokenize(text: str) -> list[str]:
    """Split text into pre-tokens (words with attached leading space,
    digit runs, punctuation runs, whitespace runs)."""
    return _PRETOKEN_RE.findall(text)


# Batched-trainer knobs (single source of truth for the distributed
# trainer in operators/tokenize.py and the replica below): how many
# pairwise-compatible merges one counting pass may emit, and how deep
# into the sorted pair table the greedy selection looks.
BPE_BATCH_MERGES = 8
BPE_PASS_CANDIDATES = 64


def train_bpe_batched(
    corpus: str,
    n_merges: int = 256,
    batch_size: int = BPE_BATCH_MERGES,
    n_candidates: int = BPE_PASS_CANDIDATES,
) -> list[tuple[str, str, int]]:
    """Batched BPE training — the standard fast-trainer variant (one
    pair-counting pass yields up to ``batch_size`` merges instead of
    one), returning (left, right, pair_count) in merge-rank order.

    Selection rule per pass: sort pairs by (count desc, pair desc —
    the classic tie-break), walk the top ``n_candidates``, and accept
    a pair (a, b) iff neither a, b, nor the merged string a+b collides
    with any symbol or merged string of an already-accepted pair in
    this batch. That guard makes the batch ORDER-INDEPENDENT and equal
    to applying the merges sequentially: compatible pairs share no
    symbol, so their occurrences never overlap, and no merge's output
    can equal another's operand (the a+b∈used check — without it,
    merging (c, d) into a string named like another pair's left symbol
    would create new match sites sequential application would not
    see). Each accepted pair's recorded count equals what sequential
    recounting would have found, because compatible merges cannot
    create or destroy each other's adjacencies.

    With batch_size=1, n_candidates=1 this IS classic sequential BPE
    (``train_bpe``) — pinned by a test. Counts are applied with one
    left-to-right scan per word testing membership in the batch's pair
    set; at most one accepted pair can match at a position (two
    matching pairs would share the middle symbol — excluded)."""
    vocab: Counter[tuple[str, ...]] = Counter()
    for tok in pretokenize(corpus):
        if tok.strip():
            vocab[tuple(tok) + (EOW,)] += 1

    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        pairs: Counter[tuple[str, str]] = Counter()
        for word, n in vocab.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += n
        if not pairs:
            break
        cands = sorted(
            pairs.items(), key=lambda kv: (kv[1], kv[0]), reverse=True
        )[:n_candidates]
        cap = min(batch_size, n_merges - len(merges))
        used: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for (a, b), cnt in cands:
            if len(accepted) >= cap:
                break
            if a in used or b in used or (a + b) in used:
                continue
            accepted.append((a, b, cnt))
            used.update((a, b, a + b))
        pairset = {(a, b): a + b for a, b, _ in accepted}
        new_vocab: Counter[tuple[str, ...]] = Counter()
        for word, n in vocab.items():
            out: list[str] = []
            for sym in word:
                if out and (out[-1], sym) in pairset:
                    out[-1] = pairset[(out[-1], sym)]
                else:
                    out.append(sym)
            new_vocab[tuple(out)] += n
        vocab = new_vocab
        merges.extend(accepted)
    return merges


def train_bpe(corpus: str, n_merges: int = 256) -> list[tuple[str, str]]:
    """Learn a deterministic BPE merge table from ``corpus``.

    Classic algorithm: represent each distinct pre-token as a symbol
    sequence (chars + EOW), repeatedly merge the most frequent adjacent
    symbol pair. Ties break lexicographically so the table is unique
    for a given corpus.
    """
    vocab: Counter[tuple[str, ...]] = Counter()
    for tok in pretokenize(corpus):
        if tok.strip():
            vocab[tuple(tok) + (EOW,)] += 1

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for word, n in vocab.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += n
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: Counter[tuple[str, ...]] = Counter()
        for word, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(word):
                if (
                    i < len(word) - 1
                    and word[i] == best[0]
                    and word[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return merges


class BPEEncoder:
    """Greedy BPE encoder over a ranked merge table."""

    def __init__(self, merges: list[tuple[str, str]]):
        self.merges = list(merges)
        self.ranks = {pair: i for i, pair in enumerate(self.merges)}
        # token string -> id; ids are stable for a fixed merge table
        pieces = sorted(
            {a + b for a, b in self.merges}
            | {chr(c) for c in range(32, 127)}
            | {EOW, "\n", "\t"}
        )
        self.piece_to_id = {p: i for i, p in enumerate(pieces)}
        self._encode_word = lru_cache(maxsize=65536)(self._encode_word_raw)

    def _encode_word_raw(self, word: str) -> tuple[str, ...]:
        symbols = list(word) + [EOW]
        while len(symbols) > 1:
            ranked = [
                (self.ranks[p], i)
                for i, p in enumerate(zip(symbols, symbols[1:]))
                if p in self.ranks
            ]
            if not ranked:
                break
            _, i = min(ranked)
            symbols[i : i + 2] = [symbols[i] + symbols[i + 1]]
        return tuple(symbols)

    def encode_pieces(self, text: str) -> list[str]:
        out: list[str] = []
        for tok in pretokenize(text):
            if tok.strip():
                out.extend(self._encode_word(tok))
            else:
                out.append(tok)  # whitespace run: one token, as-is
        return out

    def encode(self, text: str) -> list[int]:
        # unseen pieces get a stable negative id derived from a content
        # hash — NOT Python's hash(), which is salted per process and
        # would differ between driver and executors (open-vocab
        # fallback; a production byte-level table has no unknowns)
        import hashlib

        def fallback(p: str) -> int:
            digest = hashlib.md5(p.encode("utf-8", "surrogatepass")).digest()
            return -(int.from_bytes(digest[:4], "big") & 0x7FFFFFFF) - 1

        return [
            self.piece_to_id.get(p, fallback(p))
            for p in self.encode_pieces(text)
        ]

    def count(self, text: str) -> int:
        return len(self.encode_pieces(text))

    def decode_pieces(self, pieces: list[str]) -> str:
        return "".join(p[: -len(EOW)] if p.endswith(EOW) else p for p in pieces)


DEFAULT_ENCODER = BPEEncoder(train_bpe(_SEED_TEXT))

