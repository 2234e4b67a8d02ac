"""The GPT-2-shape BPE pre-tokenizer (functions/text) against the
DuckDB literal the q57 and q77 oracles interpolate."""

from __future__ import annotations

import pyspark.sql.functions as F


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


def test_bpe_token_count_punctuated_parity(spark):
    """bpe_token_count (q57's and q77's BPE-token counter) on the
    halves of a punctuated mini-corpus must match DuckDB's
    regexp_extract_all over _BPE_RE_SQL, the literal their oracles
    interpolate, exactly (regression pin for the !r-interpolated
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
