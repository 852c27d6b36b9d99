"""Byte-pair-encoding tokenizer — train + apply, the canonical
LLM-training-data operator (Sennrich, Haddow & Birch 2016, "Neural
Machine Translation of Rare Words with Subword Units"; the greedy
lowest-rank apply loop is the GPT-2 convention).

Scale shape:
  * TRAIN reduces the corpus to its DISTINCT-WORD frequency table with
    one map-side-combined groupBy + a TakeOrderedAndProject top-V cut
    (count desc, word asc — deterministic), then learns merges on that
    bounded table driver-side with the standard incremental pair-count
    algorithm (only words containing the merged pair are touched per
    round). The driver never sees the corpus — only <= max_words
    distinct words, the same bounded-collect envelope as IVF centroid
    training; words beyond the cut still tokenize (to characters +
    whatever learned merges apply), they just don't vote on merges.
  * APPLY broadcasts the rank table and runs one Arrow pass with a
    per-word memo cache (Zipf makes the hit rate ~99% on natural text)
    — zero shuffles, bytes/text never leave the scan stage.

Determinism is a contract: merge ties break lexicographically, the
top-V cut is (count desc, word asc), and apply is pure — same corpus,
same model, same tokens on every run (what makes the gate row
hash-stable even though BPE training is not SQL-expressible; the driver
records the weaker rows-only check for this op, like LSH ANN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"                 # word-end marker (Sennrich convention)


# ---------------------------------------------------------------------------
# driver-side training core (operates on a bounded word-frequency dict)
# ---------------------------------------------------------------------------

def _merge_word(syms: tuple, pair: tuple) -> tuple:
    a, b = pair
    out = []
    i = 0
    n = len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def learn_bpe(word_counts: "dict[str, int]", num_merges: int) -> list:
    """-> ordered merge list [(a, b), ...]. Incremental pair-count
    maintenance: each round touches only the words containing the merged
    pair. Ties on count break on the lexicographically smallest pair —
    full determinism."""
    words = [tuple(w) + (END,) for w in word_counts]
    counts = list(word_counts.values())
    pairs: dict = {}
    where: dict = {}
    for wi, syms in enumerate(words):
        for p in zip(syms, syms[1:]):
            pairs[p] = pairs.get(p, 0) + counts[wi]
            where.setdefault(p, set()).add(wi)

    merges = []
    for _ in range(num_merges):
        best = None
        for p, c in pairs.items():
            if c <= 0:
                continue
            if best is None or c > pairs[best] or (c == pairs[best]
                                                   and p < best):
                best = p
        if best is None:
            break
        merges.append(best)
        for wi in list(where.get(best, ())):
            syms = words[wi]
            cnt = counts[wi]
            new = _merge_word(syms, best)
            if new == syms:
                continue
            for p in zip(syms, syms[1:]):
                pairs[p] -= cnt
                if pairs[p] <= 0:
                    pairs.pop(p, None)
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        where.pop(p, None)
            words[wi] = new
            for p in zip(new, new[1:]):
                pairs[p] = pairs.get(p, 0) + cnt
                where.setdefault(p, set()).add(wi)
    return merges


def bpe_encode(word: str, ranks: "dict[tuple, int]") -> list:
    """Greedy lowest-rank merging (the GPT-2 loop): repeatedly merge the
    present pair with the smallest rank until none applies."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best = None
        best_rank = None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = p, r
        if best is None:
            break
        syms = list(_merge_word(tuple(syms), best))
    return syms


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def _word_counts_df(df: DataFrame, text_col: str,
                    lowercase: bool) -> DataFrame:
    """Per-word counts using the SAME segmentation as apply_bpe — Python
    str.split() / str.lower() in an Arrow pass. (A Spark-side
    F.split(\\s+)/F.lower variant diverges on non-ASCII corpora:
    Python split() treats all Unicode whitespace — NBSP, U+2028 — as
    separators and lower() differs on some case mappings, so the merge
    table would be learned over different 'words' than apply tokenizes,
    breaking train/apply determinism.) Each Arrow batch emits one local
    count dict — a map-side combine — and the groupBy sums partials."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            counts: dict = {}
            for txt in pdf[text_col]:
                if txt is None:
                    continue
                if lowercase:
                    txt = txt.lower()
                for w in txt.split():
                    counts[w] = counts.get(w, 0) + 1
            if counts:
                yield pd.DataFrame({"word": list(counts),
                                    "cnt": list(counts.values())})

    partials = df.select(text_col).mapInPandas(
        batches, schema="word string, cnt long")
    return partials.groupBy("word").agg(F.sum("cnt").alias("cnt"))


def train_bpe(
    spark_df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 50_000,
    lowercase: bool = True,
) -> dict:
    """Fit a BPE model on a corpus DataFrame. Returns
    {"merges": [...], "lowercase": bool} — pass to apply_bpe."""
    wc = _word_counts_df(spark_df, text_col, lowercase)
    top = (
        wc.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(max_words).collect()
    )
    word_counts = {r["word"]: r["cnt"] for r in top}
    return {"merges": learn_bpe(word_counts, num_merges),
            "lowercase": lowercase}


def apply_bpe(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> (id, tokens array<string>, n_tokens) in one Arrow pass. The
    merge-rank table is tiny (num_merges entries) and ships inside the
    closure; per-word results are memoized per batch."""
    import pandas as pd

    ranks = {tuple(p): i for i, p in enumerate(model["merges"])}
    lowercase = bool(model.get("lowercase", True))

    def batches(it):
        cache: dict = {}

        def enc_word(w: str) -> list:
            t = cache.get(w)
            if t is None:
                t = bpe_encode(w, ranks)
                if len(cache) < 1_000_000:
                    cache[w] = t
            return t

        for pdf in it:
            ids = []
            toks = []
            ns = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                ids.append(i)
                if txt is None:
                    toks.append([])
                    ns.append(0)
                    continue
                if lowercase:
                    txt = txt.lower()
                out = []
                for w in txt.split():
                    out.extend(enc_word(w))
                toks.append(out)
                ns.append(len(out))
            yield pd.DataFrame({id_col: ids, "tokens": toks,
                                "n_tokens": ns})

    return df.select(id_col, text_col).mapInPandas(
        batches,
        schema=f"{id_col} string, tokens array<string>, n_tokens int",
    )
