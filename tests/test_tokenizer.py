"""BPE tokenizer: the Sennrich paper's worked example, incremental
trainer vs an independent naive recount trainer on random corpora,
apply semantics (greedy lowest rank, determinism, memo correctness),
and the Spark train+apply path against local reference encoding."""

import numpy as np

from chronon_spark.operators.tokenizer import (
    END,
    _word_counts_df,
    apply_bpe,
    bpe_encode,
    learn_bpe,
    train_bpe,
)


def test_sennrich_worked_example():
    """The classic corpus {low:5, lower:2, newest:6, widest:3}: the
    first merges must pick up ('e','s') then ('es','t') then
    ('est','</w>') — 'est' is the highest-frequency subword (9)."""
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = learn_bpe(wc, 5)
    assert merges[0] == ("e", "s")        # count 9
    assert merges[1] == ("es", "t")       # count 9
    assert merges[2] == ("est", END)      # count 9
    ranks = {p: i for i, p in enumerate(merges)}
    assert "".join(bpe_encode("newest", ranks)).endswith("est" + END)
    # unseen word still tokenizes (to chars + learned merges)
    toks = bpe_encode("tallest", ranks)
    assert toks[-1] == "est" + END
    assert "".join(toks) == "tallest" + END


def _naive_learn(word_counts, num_merges):
    """Independent reference: full recount every round."""
    words = {tuple(w) + (END,): c for w, c in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, c in words.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        merges.append(best)
        new_words = {}
        for syms, c in words.items():
            out = []
            i = 0
            while i < len(syms):
                if (i < len(syms) - 1 and (syms[i], syms[i + 1]) == best):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + c
        words = new_words
    return merges


def test_incremental_matches_naive_on_random_corpora():
    rng = np.random.default_rng(41)
    alphabet = list("abcdef")
    for trial in range(8):
        wc = {}
        for _ in range(60):
            w = "".join(rng.choice(alphabet)
                        for _ in range(int(rng.integers(1, 9))))
            wc[w] = wc.get(w, 0) + int(rng.integers(1, 20))
        n = int(rng.integers(1, 40))
        assert learn_bpe(dict(wc), n) == _naive_learn(dict(wc), n), trial


def test_encode_greedy_rank_order():
    # ranks force 'ab' before 'bc': 'abc' -> ['ab', 'c', END-joined]
    ranks = {("a", "b"): 0, ("b", "c"): 1, ("c", END): 2}
    assert bpe_encode("abc", ranks) == ["ab", "c" + END]
    # with the reversed preference, 'bc' merges first
    ranks2 = {("b", "c"): 0, ("a", "b"): 1, ("c", END): 2}
    assert bpe_encode("abc", ranks2) == ["a", "bc", END]


def test_spark_train_apply_matches_local(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [f"d{i}" for i in range(6)],
            "text": [
                "the lowest point", "the newest widest view",
                "lower and lower still", "newest of the new",
                None, "  spaced   out   words  ",
            ],
        })
    )
    model = train_bpe(docs, num_merges=30, max_words=100)
    out = {r.doc_id: (r.tokens, r.n_tokens)
           for r in apply_bpe(docs, model).collect()}
    ranks = {tuple(p): i for i, p in enumerate(model["merges"])}
    for r in docs.collect():
        toks, n = out[r.doc_id]
        if r.text is None:
            assert toks == [] and n == 0
            continue
        exp = []
        for w in r.text.lower().split():
            exp.extend(bpe_encode(w, ranks))
        assert toks == exp and n == len(exp)
    # determinism: second train on the same frame is identical
    assert train_bpe(docs, num_merges=30, max_words=100) == model


def test_top_words_cut_is_deterministic(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a", "b"],
                      "text": ["x y z x y x", "z y w w w"]}))
    # max_words=2 cut: counts x=3 y=3 w=3 z=2 -> (count desc, word asc)
    # keeps w and x; training sees only those
    m = train_bpe(docs, num_merges=1, max_words=2)
    assert m["merges"][0] in ((("w", END)), (("x", END)))
    # ties break toward 'w' (lexicographically smaller pair)
    assert m["merges"][0] == ("w", END)


def test_unicode_whitespace_train_apply_consistency(spark):
    """Train and apply must segment identically on non-ASCII corpora:
    NBSP / LINE SEPARATOR are word separators to Python str.split()
    (the apply path), so training must count 'foo' and 'bar' in
    'foo\\u00a0bar' as two words — not one NBSP-glued token — or the
    merge table is learned over words apply never sees."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["a", "b", "c"],
            "text": ["foo\u00a0bar foo bar",
                     "foo\u2028bar\u2009baz",
                     "\u00a0 foo\tbar\u00a0"],
        })
    )
    wc = {r.word: r.cnt
          for r in _word_counts_df(docs, "text", lowercase=True).collect()}
    texts = "".join(r.text for r in docs.collect())
    assert "\u00a0" in texts and "\u2028" in texts
    assert wc == {"foo": 4, "bar": 4, "baz": 1}

    model = train_bpe(docs, num_merges=10, max_words=100)
    ranks = {tuple(p): i for i, p in enumerate(model["merges"])}
    out = {r.doc_id: r.tokens for r in apply_bpe(docs, model).collect()}
    for r in docs.collect():
        exp = []
        for w in r.text.lower().split():
            exp.extend(bpe_encode(w, ranks))
        assert out[r.doc_id] == exp
