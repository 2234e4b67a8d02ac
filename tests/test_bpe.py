"""Distributed BPE merge learning vs the textbook in-memory trainer."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F

from cccatalog_spark.operators.bpe import (
    learn_merges,
    learn_merges_df,
    word_frequencies,
)


def _brute_bpe(word_freqs: dict[str, int], n_merges: int):
    """Textbook BPE: symbol lists, pair counts, greedy merge."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (l, r), c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((step, l, r, c))
        new_vocab = {}
        for syms, f in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == l
                    and syms[i + 1] == r
                ):
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new_vocab[tuple(merged)] = new_vocab.get(tuple(merged), 0) + f
        vocab = new_vocab
    return out


def test_matches_textbook_trainer(spark):
    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "lowest": 4}
    df = spark.createDataFrame(list(wf.items()), "word string, freq long")
    got = learn_merges(df, 6)
    assert got == _brute_bpe(wf, 6)


def test_repeated_symbol_greedy_semantics(spark):
    # 'aaaa' with pair (a,a): greedy left-to-right gives [aa, aa],
    # NOT [a, aa, a] or overlap-counting artifacts.
    wf = {"aaaa": 3, "aab": 1}
    df = spark.createDataFrame(list(wf.items()), "word string, freq long")
    got = learn_merges(df, 2)
    assert got == _brute_bpe(wf, 2)
    assert got[0][1:3] == ("a", "a")


def test_early_stop_when_no_pairs(spark):
    df = spark.createDataFrame([("a", 9), ("b", 4)], "word string, freq long")
    assert learn_merges(df, 5) == []


def test_df_wrapper_from_corpus(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest widest newest")],
        "doc_id long, text string",
    )
    toks = F.split(F.col("text"), " ")
    out = learn_merges_df(spark, docs, toks, 3).collect()
    wf = {"low": 2, "lower": 1, "newest": 2, "widest": 1}
    want = _brute_bpe(wf, 3)
    assert [(r["step"], r["left"], r["right"], r["pair_count"]) for r in out] == want
    assert all(r["merged"] == r["left"] + r["right"] for r in out)


def _brute_apply(word, merges):
    syms = list(word)
    for l, r in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_apply_merges_matches_brute(spark):
    from cccatalog_spark.operators.bpe import apply_merges

    merges = [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t")]
    words = ["low", "lowest", "newest", "wallow", "xyz", "l"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["syms"]
        for r in df.select(
            "word",
            apply_merges(F.split(F.col("word"), ""), merges).alias("syms"),
        ).collect()
    }
    for w in words:
        assert got[w] == _brute_apply(w, merges), w


def test_encode_report_totals(spark):
    from cccatalog_spark.operators.bpe import encode_report, learn_merges, word_frequencies

    docs = spark.createDataFrame(
        [("a", "low low low lowest"), ("b", "newest newest widest")],
        "source string, text string",
    )
    toks = F.split(F.col("text"), " ")
    rep = {
        r["source"]: r
        for r in encode_report(docs, toks, "source", 4).collect()
    }
    merges = [
        (l, r)
        for _, l, r, _ in learn_merges(word_frequencies(docs, toks), 4)
    ]
    wf = {"a": {"low": 3, "lowest": 1}, "b": {"newest": 2, "widest": 1}}
    for src, words in wf.items():
        before = sum(c * len(w) for w, c in words.items())
        after = sum(c * len(_brute_apply(w, merges)) for w, c in words.items())
        assert rep[src]["symbols_before"] == before
        assert rep[src]["symbols_after"] == after
        assert abs(rep[src]["compression"] - round(after / before, 6)) < 1e-9


def test_bpe_pretoken_regex_sql_escaping_parity(spark):
    """Spark's F.lit(BPE_PRETOKEN_RE) path must agree with the
    DuckDB-escaped _BPE_RE_SQL literal on punctuated text (the
    fixture corpora contain no punctuation, so oracle parity alone
    never exercised the quote-escaping path — round-6 advice)."""
    import duckdb

    from cccatalog_spark.functions.text import bpe_tokens
    from cccatalog_spark.plans.queries import _BPE_RE_SQL

    samples = [
        "end. don't - x",
        "it's 1999; we're fine!",
        "a,b,c  --  'quoted' text?",
        "no punctuation here",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = {
        r["text"]: r["toks"]
        for r in df.select("text", bpe_tokens(F.col("text")).alias("toks")).collect()
    }
    con = duckdb.connect()
    for s in samples:
        want = con.execute(
            f"SELECT regexp_extract_all(?, {_BPE_RE_SQL})", [s]
        ).fetchone()[0]
        assert got[s] == want, (s, got[s], want)
    con.close()


def test_q407_bpe_token_count_punctuated_parity(spark):
    """bpe_token_count (q407_borda_fusion's BPE-token ranker) on the
    halves of a punctuated mini-corpus must match DuckDB's
    regexp_extract_all over _BPE_RE_SQL, the literal q407's oracle
    interpolates, exactly (regression pin for the !r-interpolated
    regex bug)."""
    import duckdb

    from cccatalog_spark.functions.text import bpe_token_count
    from cccatalog_spark.plans.queries import _BPE_RE_SQL

    samples = [
        ("a", "end. don't - x end. don't - x"),
        ("b", "plain words only here today"),
        ("c", "semi;colons, and 'quotes' galore!?"),
    ]
    df = spark.createDataFrame(samples, "doc_id string, text string")
    half = F.floor(F.length("text") / 2).cast("int")
    got = {
        r["doc_id"]: r["dd"]
        for r in df.select(
            "doc_id",
            (
                bpe_token_count(F.substring(F.col("text"), F.lit(1), half))
                .cast("double")
                - bpe_token_count(
                    F.substring(
                        F.col("text"), half + F.lit(1), F.length("text")
                    )
                )
            ).alias("dd"),
        ).collect()
    }
    con = duckdb.connect()
    for doc_id, text in samples:
        want = con.execute(
            f"""
            SELECT CAST(len(regexp_extract_all(substr(?,
                       1, CAST(floor(length(?) / 2) AS INT)),
                   {_BPE_RE_SQL})) AS DOUBLE)
                 - len(regexp_extract_all(substr(?,
                       CAST(floor(length(?) / 2) AS INT) + 1),
                   {_BPE_RE_SQL}))
            """,
            [text, text, text, text],
        ).fetchone()[0]
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
    con.close()
