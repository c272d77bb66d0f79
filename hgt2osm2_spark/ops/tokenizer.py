"""Subword (BPE-trained, WordPiece-style greedy-encoded) tokenization
from a PERSISTED vocabulary artifact — the LLM-curation budget unit
(VERDICT r7 #3). ``token_count`` / ``pack_sequences`` / repetition
stats budget in whitespace tokens; a real pretraining pipeline budgets
in subword tokens from a FIXED vocabulary, trained once and reused.
This module is the ``ann_model.py`` fit/transform pattern applied to
text:

  fit_tokenizer     word counts (one groupBy + bounded top-N driver
                    collect, like the k-means training sample) ->
                    deterministic BPE merges (Sennrich 2016, pure
                    function over the word-count table — exactly how
                    single-node tokenizer trainers work in practice)
  save_tokenizer    -> parquet artifact: vocab.parquet
                    (id, piece, cont) + meta.parquet (version, params)
  load_tokenizer    parquet -> TokenizerModel (driver-side dicts)
  subword_tokens    docs -> (n_words, n_pieces, n_unk_words, n_chars,
                    token_ids) via greedy LONGEST-MATCH against the
                    broadcast vocab (WordPiece inference; BERT-style
                    whole-word [UNK]) in ONE Arrow pass — no shuffle,
                    no join, embarrassingly parallel over documents.

No-migration property (pinned in tests/test_tokenizer.py): BPE merge
order does not depend on later merges, so refitting with a LARGER
vocab_size yields a vocabulary whose first |V1| pieces — and ids — are
IDENTICAL; re-tokenizing changes only documents containing a new
piece. Appending pieces via extend_tokenizer has the same guarantee by
construction (new ids only).

Word-splitting semantics match text.tokens_expr exactly (trim spaces,
split on Java ``\\s+`` = ASCII [ \\t\\n\\x0B\\f\\r]), so
``token_count(df, tokenizer=model)``'s n_tokens column is unchanged
from the whitespace path while n_subword_pieces becomes the real
budget.

Reference analogue: none (the reference has no text surface) — this is
the §2.12 LLM-pipeline extension class, same as dedup/ANN.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, functions as F

from ..fanout import fan_out
from .tiles import row_map

TOKENIZER_VERSION = 1
PAD_ID = 0
UNK_ID = 1
N_SPECIALS = 2

#: Java \s (non-unicode) = exactly ASCII [ \t\n\x0B\f\r]; re.ASCII pins
#: the Python side to the same set, keeping word splits engine-equal.
_WS_RE = re.compile(r"\s+", re.ASCII)


def split_words(text: str | None) -> list[str]:
    """Scalar twin of text.tokens_expr: trim spaces, split on \\s+.
    Empty string -> []; embedded leading \\t after trim yields a ''
    word exactly like Spark's split does (encodes to zero pieces)."""
    t = (text or "").strip(" ")
    return [] if t == "" else _WS_RE.split(t)


@dataclass(frozen=True)
class TokenizerModel:
    """pieces[i] = (text, cont) holds id i + N_SPECIALS; cont pieces
    match only word-interior positions (the WordPiece '##' convention,
    stored as a flag instead of a prefix)."""

    pieces: tuple
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        init_v, cont_v = {}, {}
        for i, (text, cont) in enumerate(self.pieces):
            (cont_v if cont else init_v)[text] = i + N_SPECIALS
        object.__setattr__(self, "init_vocab", init_v)
        object.__setattr__(self, "cont_vocab", cont_v)
        object.__setattr__(
            self,
            "max_piece_len",
            max((len(t) for t, _ in self.pieces), default=1),
        )

    @property
    def vocab_size(self) -> int:
        return len(self.pieces) + N_SPECIALS


def bpe_merge_table(
    word_counts: dict[str, int],
    vocab_size: int = 256,
    min_pair_count: int = 2,
    max_word_len: int = 32,
) -> list[tuple[str, bool]]:
    """Deterministic BPE over a word->count table (Sennrich 2016):
    start from single characters (word-initial vs continuation kept
    apart), repeatedly merge the most frequent adjacent pair (ties ->
    lexicographically smallest pair) until vocab_size pieces exist or
    no pair reaches min_pair_count. Pure function — the Spark fit and
    the golden trainer share it and differ only in how they COUNT
    words. Merge i never depends on merges > i, so the output list is
    PREFIX-STABLE in vocab_size (the no-migration property)."""
    seqs: list[tuple[list[tuple[str, bool]], int]] = []
    for word in sorted(word_counts):
        cnt = int(word_counts[word])
        if not word or len(word) > max_word_len or cnt <= 0:
            continue
        seqs.append(
            ([(ch, i > 0) for i, ch in enumerate(word)], cnt)
        )
    pieces: list[tuple[str, bool]] = []
    seen = set()
    for sym in sorted({s for seq, _ in seqs for s in seq}):
        pieces.append(sym)
        seen.add(sym)
    while len(pieces) < vocab_size:
        pair_counts: dict[tuple, int] = {}
        for seq, cnt in seqs:
            for a, b in zip(seq, seq[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < min_pair_count:
            break
        merged = (a[0] + b[0], a[1])
        for seq, _cnt in seqs:
            i = 0
            while i < len(seq) - 1:
                if seq[i] == a and seq[i + 1] == b:
                    seq[i : i + 2] = [merged]
                else:
                    i += 1
        if merged not in seen:
            pieces.append(merged)
            seen.add(merged)
    return pieces


def fit_tokenizer(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 256,
    min_count: int = 2,
    min_pair_count: int = 2,
    max_words: int = 100_000,
    max_word_len: int = 32,
) -> TokenizerModel:
    """Train the vocabulary: ONE distributed groupBy(word) with
    map-side combine, then the top-max_words (count desc, word asc)
    rows collect to the driver — a BOUNDED collect (same class as the
    capped k-means training sample, ops/similarity.py) — and the pure
    BPE core runs on that table. At 100 TB the word-count table, not
    the corpus, is the training input; max_words caps it regardless of
    corpus size."""
    from .text import tokens_expr

    counts = (
        docs.select(F.explode(tokens_expr(F.col(text_col))).alias("w"))
        .where((F.length("w") > 0) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .count()
        .where(F.col("count") >= min_count)
        .orderBy(F.col("count").desc(), F.col("w").asc())
        .limit(max_words)
        .collect()
    )
    wc = {r["w"]: int(r["count"]) for r in counts}
    pieces = bpe_merge_table(wc, vocab_size, min_pair_count, max_word_len)
    params = {
        "vocab_size": vocab_size,
        "min_count": min_count,
        "min_pair_count": min_pair_count,
        "max_words": max_words,
        "max_word_len": max_word_len,
    }
    return TokenizerModel(tuple(pieces), params)


def extend_tokenizer(
    model: TokenizerModel, new_pieces: list[tuple[str, bool]]
) -> TokenizerModel:
    """Append pieces with NEW ids (existing ids untouched — the
    explicit no-migration path)."""
    existing = set(model.pieces)
    added = tuple(p for p in new_pieces if p not in existing)
    return TokenizerModel(model.pieces + added, dict(model.params))


def save_tokenizer(model: TokenizerModel, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    vocab_tbl = pa.Table.from_pydict({
        "id": pa.array(
            [i + N_SPECIALS for i in range(len(model.pieces))], pa.int32()
        ),
        "piece": pa.array([t for t, _ in model.pieces], pa.string()),
        "cont": pa.array([c for _, c in model.pieces], pa.bool_()),
    })
    pq.write_table(vocab_tbl, os.path.join(path, "vocab.parquet"))
    meta_tbl = pa.Table.from_pydict({
        "version": pa.array([TOKENIZER_VERSION], pa.int32()),
        "params": pa.array([json.dumps(model.params, sort_keys=True)],
                           pa.string()),
    })
    pq.write_table(meta_tbl, os.path.join(path, "meta.parquet"))


def load_tokenizer(path: str) -> TokenizerModel:
    import pyarrow.parquet as pq

    meta = pq.read_table(os.path.join(path, "meta.parquet")).to_pydict()
    version = int(meta["version"][0])
    if version != TOKENIZER_VERSION:
        raise ValueError(
            f"tokenizer artifact version {version} != {TOKENIZER_VERSION}"
        )
    v = pq.read_table(os.path.join(path, "vocab.parquet")).to_pydict()
    order = np.argsort(np.asarray(v["id"]))
    pieces = tuple(
        (v["piece"][i], bool(v["cont"][i])) for i in order
    )
    ids = [int(v["id"][i]) for i in order]
    # explicit raise, not assert: a corrupt/hand-edited artifact must
    # stay loud under python -O too (ADVICE r8 #3)
    if ids != [j + N_SPECIALS for j in range(len(ids))]:
        raise ValueError("vocab ids must be dense from N_SPECIALS")
    return TokenizerModel(pieces, json.loads(meta["params"][0]))


def encode_word(
    word: str, init_vocab: dict, cont_vocab: dict, max_piece_len: int
) -> list[int]:
    """Greedy longest-match WordPiece encode of one word; a word with
    any unmatchable position collapses to ONE [UNK] (BERT semantics).
    '' encodes to zero pieces."""
    out = []
    i, n = 0, len(word)
    while i < n:
        vocab = cont_vocab if i else init_vocab
        j = min(n, i + max_piece_len)
        tid = None
        while j > i:
            tid = vocab.get(word[i:j])
            if tid is not None:
                break
            j -= 1
        if tid is None:
            return [UNK_ID]
        out.append(tid)
        i = j
    return out


SUBWORD_SCHEMA = (
    "doc_id long, n_words int, n_pieces int, n_unk_words int, "
    "n_chars int, token_ids array<int>"
)


def subword_tokens(
    docs: DataFrame,
    model: TokenizerModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PRODUCTION transform: ONE row_map pass, the vocab rides the UDF
    closure (KB-scale by construction — max_words/vocab_size bound it),
    no shuffle, no join. n_words counts the same word list as
    tokens_expr; unk words contribute 1 piece ([UNK]) and 1 to
    n_unk_words."""
    init_v, cont_v = model.init_vocab, model.cont_vocab
    mpl = model.max_piece_len

    def body(doc_id, text):
        text = text if isinstance(text, str) else ""
        words = split_words(text)
        toks: list[int] = []
        unk = 0
        for wd in words:
            enc = encode_word(wd, init_v, cont_v, mpl)
            if enc and enc[0] == UNK_ID and len(enc) == 1 and wd:
                unk += 1
            toks.extend(enc)
        return doc_id, len(words), len(toks), unk, len(text), toks

    # the greedy per-word encode loop is the heavy narrow pass — spread
    # a row-group-bound scan across the cores before it (guide §4, r9)
    src = fan_out(docs.select(id_col, text_col), id_col)
    return row_map(src, [id_col, text_col], SUBWORD_SCHEMA, body)
