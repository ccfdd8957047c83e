"""Byte-pair-encoding tokenizer TRAINING and encoding on Spark.

The missing piece between "token counting" (text.regex_tokens) and a
real training pipeline: learn the merge table itself from the corpus.
The scale split follows how production tokenizer training actually
works (HuggingFace tokenizers, SentencePiece):

- the 100 TB part — reducing the corpus to a ``(word, frequency)``
  vocabulary — is fully distributed (``text.vocabulary``: one tokenize
  pass, skew-free two-phase aggregation);
- the merge-learning loop runs on the DRIVER over that vocabulary,
  capped at ``_MAX_VOCAB_ROWS`` via a deterministic TakeOrdered (the
  same bounded-driver-sample design as the IVF trainer: vocabularies
  are ~1e5-1e6 rows whatever the corpus size, and BPE's argmax loop is
  inherently sequential — distributing it buys nothing but shuffle);
- ENCODING with the learned merges is Arrow-batched (pandas UDF over
  token arrays): per-batch Python, never per-row, and the merge table
  ships once as a closure constant.

Determinism: pair counting is exact integer arithmetic; argmax ties
break lexicographically on the pair; the vocabulary cap orders by
(freq desc, word asc). Same corpus -> same merges, any cluster.

No SQL twin exists for the iterative argmax (the reason this is
library-tier + pytest, not an oracled query): tests verify against an
independent naive reference implementation and the classic worked
examples.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["learn_bpe_merges", "bpe_encode_udf", "bpe_segment_word"]

_EOW = "</w>"
# driver-side vocabulary cap for the merge-learning loop
_MAX_VOCAB_ROWS = 100_000


def _merge_word(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 100,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ranked merge list ``[(left, right), ...]`` — rank order IS
    application order for encoding.

    Words are whitespace tokens of the normalized text
    (``text.tokens``) with the ``</w>`` end-of-word marker on the last
    character, the original BPE formulation (Sennrich et al., 2016):
    merges never cross word boundaries and a subword knows whether it
    ends a word. The driver holds only the top ``_MAX_VOCAB_ROWS``
    ``(word, freq)`` rows (deterministic freq-desc/word-asc cut) — the
    documented bounded driver action, NOT a corpus collect.
    """
    from .text import vocabulary

    vocab_rows = (
        vocabulary(df, text_col, id_col)
        .orderBy(F.desc("term_freq"), F.asc("word"))
        .limit(_MAX_VOCAB_ROWS)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in vocab_rows:
        chars = list(r.word)
        if not chars:
            continue
        chars[-1] = chars[-1] + _EOW
        vocab[tuple(chars)] = r.term_freq

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, freq in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        # deterministic argmax: highest count, lexicographic pair tiebreak
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {_merge_word(s, best): f for s, f in vocab.items()}
    return merges


def bpe_segment_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment ONE word with a learned merge table (pure function —
    the reference implementation the Arrow encoder and the tests both
    call). Applies merges in rank order, the standard greedy BPE
    encode."""
    if not word:
        return []
    sym = list(word)
    sym[-1] = sym[-1] + _EOW
    sym_t = tuple(sym)
    for pair in merges:
        if len(sym_t) == 1:
            break
        sym_t = _merge_word(sym_t, pair)
    return list(sym_t)


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched encoder: ``array<string>`` of whitespace tokens in,
    ``array<string>`` of BPE subword units out. The merge table is a
    closure constant (shipped once per executor); per-word
    segmentations are memoized per batch — real corpora repeat words
    heavily, so the amortized cost per token is a dict lookup."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def encode(tokens: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for toks in tokens:
            if toks is None:
                out.append(None)
                continue
            units: list[str] = []
            for w in toks:
                seg = cache.get(w)
                if seg is None:
                    seg = bpe_segment_word(w, merges)
                    cache[w] = seg
                units.extend(seg)
            out.append(units)
        return pd.Series(out)

    return encode
