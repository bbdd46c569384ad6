"""Byte-pair-encoding subword tokenizer: corpus-trained, Spark-applied.

The curation suite counts tokens with a regex proxy
(text.bpe_token_count); a real pipeline eventually needs the actual
subword vocabulary — for token budgets, sequence packing, and length
stats that match the trainer's tokenizer.  This module implements
Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units") BPE with the standard scale split:

- **Training never iterates over the corpus.**  One Spark pass distills
  the corpus to its word-frequency dictionary (vocabulary is bounded —
  Heaps' law — and orders of magnitude smaller than the corpus); the
  merge loop then runs DRIVER-SIDE over that dict, exactly like
  similarity.ivf_assign trains k-means on a bounded sample.  This is
  how reference BPE implementations train (word-dict, not corpus), so
  fidelity costs nothing.
- **Application is one Arrow pass.**  The learned merge ranks broadcast
  as a plain dict; mapInPandas tokenizes each document with word-level
  memoization (a batch's distinct words are tokenized once — the same
  Zipf skew that makes training cheap makes the cache hit rate high).

Both passes lowercase the text before splitting it into words —
word_frequencies with Spark ``lower``, bpe_apply with ``str.lower`` —
so the trained dictionary and the encoder see the same words.

Non-goal: byte-level fallback alphabets and regex pre-splitters of
specific production tokenizers; the algorithm and the dataflow are the
point.  Not SQL-expressible (iterative merges + greedy longest-match
application), so there is no oracle query — unit tests pin the
semantics (tests/test_pipeline_ops.py): canonical merge order on a
known corpus, detokenization identity, and apply==train-time-segmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

END = "</w>"  # word-boundary marker (standard BPE)


def word_frequencies(
    df: DataFrame, text_col: str = "text", max_words: int = 200_000
):
    """One corpus pass → bounded word-frequency dict on the driver.

    Top ``max_words`` by (count desc, word) — deterministic; the tail
    beyond the cap cannot influence early merges (their pair counts are
    dominated), which is why every production BPE trains on a capped
    dict."""
    c = F.lower(F.col(text_col))
    # toArrow, not collect: at the 200k-word cap a row collect builds
    # 200k Row objects; the Arrow batch lands as two flat columns
    # (graph.py Arrow-fetch rule)
    tbl = (
        df.select(F.explode(F.split(F.trim(c), "\\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(max_words)
        .toArrow()
    )
    return dict(zip(tbl.column("w").to_pylist(), tbl.column("n").to_pylist()))


def bpe_train(word_freq: dict, num_merges: int = 200) -> list[tuple[str, str]]:
    """Driver-side BPE merge learning over a word-frequency dict.

    Returns the ordered merge list.  Ties on pair frequency break
    lexicographically — fully deterministic.  Cost is O(dict size) per
    merge; at 200k words × a few hundred merges this is seconds, and
    it NEVER rescans the corpus."""
    symbols = {w: tuple(list(w) + [END]) for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, freq in word_freq.items():
            seq = symbols[w]
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                pairs[p] = pairs.get(p, 0) + freq
        if not pairs:
            break
        # deterministic: highest count, ties to the lexicographically
        # smallest pair
        best_pair, best_n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_n < 2:
            break  # nothing left worth merging
        merges.append(best_pair)
        a, b = best_pair
        ab = a + b
        for w in symbols:
            seq = symbols[w]
            if a not in seq:
                continue
            out = []
            i = 0
            while i < len(seq):
                if i < len(seq) - 1 and seq[i] == a and seq[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            symbols[w] = tuple(out)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    seq = list(word) + [END]
    while len(seq) > 1:
        best_i, best_r = -1, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return seq


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize every document with the learned merges — ONE Arrow pass,
    no shuffle.  The merge table rides the closure (KBs); within each
    batch a word-level memo collapses Zipf-repeated words to one
    encode.  Output: id, ``out_col`` array<string>, ``n_bpe`` int."""
    ranks = {p: i for i, p in enumerate(merges)}

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(out_col, T.ArrayType(T.StringType())),
            T.StructField("n_bpe", T.IntegerType()),
        ]
    )

    def run(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}
        for pdf in batches:
            # zip over plain numpy columns, not iterrows — iterrows
            # materializes a pandas Series per row (measured 54.3
            # -> 2.6 us/doc overhead for this loop, SCALING.md r10);
            # per-document cost here should be _encode_word, not pandas
            ids, toks, ns = [], [], []
            for rid, text in zip(
                pdf[id_col].to_numpy(), pdf[text_col].to_numpy()
            ):
                text = (text or "").lower()
                doc_tokens: list[str] = []
                for w in text.split():
                    enc = memo.get(w)
                    if enc is None:
                        enc = _encode_word(w, ranks)
                        memo[w] = enc
                    doc_tokens.extend(enc)
                ids.append(rid)
                toks.append(doc_tokens)
                ns.append(len(doc_tokens))
            yield pd.DataFrame({id_col: ids, out_col: toks, "n_bpe": ns})

    return df.select(id_col, text_col).mapInPandas(run, out_schema)
