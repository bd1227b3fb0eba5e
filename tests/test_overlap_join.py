"""Overlap join vs brute-force oracle (analogue of test_ovlpjoin.cc)."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_wspace
from entityblockingbysimilarityjoins_spark.operators.overlap_join import (
    overlap_rs_join,
    overlap_self_join,
)

VOCAB = [f"w{i}" for i in range(20)]


def _corpus(seed, n):
    rng = random.Random(seed)
    rows = [(i, " ".join(rng.sample(VOCAB, rng.randint(0, 9)))) for i in range(n)]
    rows.append((n, rows[0][1]))  # exact dup
    rows.append((n + 1, ""))
    rows.append((n + 2, "unique1 unique2 unique3"))  # all-singleton tokens
    return rows


def _sets(rows):
    return {i: frozenset(s.split()) - {""} for i, s in rows}


@pytest.mark.parametrize("c", [1, 3, 5])
def test_overlap_self_join(spark, c):
    rows = _corpus(17, 60)
    s = _sets(rows)
    want = {(i, j): len(s[i] & s[j]) for i, j in itertools.combinations(sorted(s), 2)
            if len(s[i] & s[j]) >= c}
    df = spark.createDataFrame(rows, ["rid", "t"]).withColumn("tokens", tokens_wspace("t"))
    res = overlap_self_join(df, "rid", "tokens", c=c).collect()
    got = {(r["id1"], r["id2"]): r["overlap"] for r in res}
    assert got == want


def test_overlap_rs_join(spark):
    rows_r, rows_s = _corpus(19, 35), _corpus(23, 45)
    sr, ss = _sets(rows_r), _sets(rows_s)
    c = 4
    want = {(i, j) for i in sr for j in ss if len(sr[i] & ss[j]) >= c}
    df_r = spark.createDataFrame(rows_r, ["rid", "t"]).withColumn("tokens", tokens_wspace("t"))
    df_s = spark.createDataFrame(rows_s, ["rid", "t"]).withColumn("tokens", tokens_wspace("t"))
    got = {(r["id1"], r["id2"]) for r in overlap_rs_join(df_r, df_s, "rid", "tokens", c=c).collect()}
    assert got == want


def test_big_vocab_overlap_joins_skip_reprobe(spark, monkeypatch):
    """Over the 256-token inline cap the one-job probe's None decides: no
    LIMIT re-probe of the built dictionary, results equal brute force."""
    import entityblockingbysimilarityjoins_spark.operators.overlap_join as OJ
    import entityblockingbysimilarityjoins_spark.operators.set_join as SJ

    def no_reprobe(dictionary):
        raise AssertionError("_inline_vocab re-probed after the one-job probe")

    monkeypatch.setattr(SJ, "_inline_vocab", no_reprobe)
    # also where an importer may hold its own reference
    monkeypatch.setattr(OJ, "_inline_vocab", no_reprobe, raising=False)
    rng = random.Random(29)
    vocab = [f"v{i}" for i in range(300)]
    rows_r = [(i, " ".join(rng.sample(vocab, rng.randint(0, 40)))) for i in range(40)]
    rows_s = [(i, " ".join(rng.sample(vocab, rng.randint(0, 40)))) for i in range(45)]
    assert len({t for _, s in rows_r for t in s.split()}) > 256
    sr, ss = _sets(rows_r), _sets(rows_s)
    df_r = spark.createDataFrame(rows_r, ["rid", "t"]).withColumn("tokens", tokens_wspace("t"))
    df_s = spark.createDataFrame(rows_s, ["rid", "t"]).withColumn("tokens", tokens_wspace("t"))
    c = 6
    want = {(i, j): len(sr[i] & sr[j]) for i, j in itertools.combinations(sorted(sr), 2)
            if len(sr[i] & sr[j]) >= c}
    got = {(r["id1"], r["id2"]): r["overlap"]
           for r in overlap_self_join(df_r, "rid", "tokens", c=c).collect()}
    assert got == want and got
    want_rs = {(i, j) for i in sr for j in ss if len(sr[i] & ss[j]) >= c}
    got_rs = {(r["id1"], r["id2"])
              for r in overlap_rs_join(df_r, df_s, "rid", "tokens", c=c).collect()}
    assert got_rs == want_rs and got_rs
