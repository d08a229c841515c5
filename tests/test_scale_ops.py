"""Scale-path operators: LSH near-dup recall, gap sessionization, and
the mega-bucket caps."""

from __future__ import annotations

import datetime as dt

import pytest

from pdf_parser_spark import simsearch
from pdf_parser_spark.streaming import sessionize


def test_lsh_near_dup_recall(spark):
    """LSH candidates must recover most exact near-dup pairs."""
    rows = [(i, [float(x) for x in simsearch.hyperplane(i * 31 + 5, 16)]) for i in range(120)]
    # plant near-dups: ids 1000+i = slightly perturbed copies
    for i in range(0, 120, 10):
        base = rows[i][1]
        rows.append((1000 + i, [v + 0.01 * ((i + j) % 3 - 1) for j, v in enumerate(base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in simsearch.cosine_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(exact) >= 10  # the planted pairs are > 0.95
    approx = {
        (r["id_a"], r["id_b"])
        for r in simsearch.lsh_near_dup_pairs(df, dim=16, threshold=0.95, bits=8, tables=6).collect()
    }
    assert approx <= exact  # verification step guarantees no false positives
    assert len(approx & exact) / len(exact) >= 0.8, f"recall {len(approx & exact)}/{len(exact)}"


def test_sessionize_gap_semantics(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two sessions separated by a 45-minute gap
        (1, 1, base),
        (2, 1, base + dt.timedelta(minutes=10)),
        (3, 1, base + dt.timedelta(minutes=55)),
        (4, 1, base + dt.timedelta(minutes=56)),
        # user 2: exactly 30-minute gap is NOT a break (strictly greater)
        (5, 2, base),
        (6, 2, base + dt.timedelta(minutes=30)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r for r in sessionize(df, gap_minutes=30).collect()}
    assert got[1]["session_idx"] == 1 and got[2]["session_idx"] == 1
    assert got[3]["session_idx"] == 2 and got[4]["session_idx"] == 2
    assert got[3]["session_id"] == "1-2"
    assert got[5]["session_idx"] == 1 and got[6]["session_idx"] == 1


def test_simhash_mega_block_cap(spark):
    from pdf_parser_spark import textops

    rows = [(i, "same boilerplate everywhere in this whole cluster of docs") for i in range(25)]
    rows += [(100, "unique doc about catalyst optimizer rules and codegen"),
             (101, "unique doc about catalyst optimizer rules and codegen")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sims = textops.simhash(df)
    capped = {
        (r["id_a"], r["id_b"])
        for r in textops.simhash_pairs(sims, max_block_size=10).collect()
    }
    assert capped == {(100, 101)}
    assert len(textops.simhash_pairs(sims).collect()) == 25 * 24 // 2 + 1


def test_embedding_lsh_mega_bucket_cap(spark):
    from pdf_parser_spark import simsearch

    base = [float(x) for x in range(1, 9)]
    rows = [(i, base) for i in range(20)]  # identical-embedding cluster
    rows += [(100, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
             (101, [1.0, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        (r["id_a"], r["id_b"])
        for r in simsearch.lsh_near_dup_pairs(
            df, dim=8, threshold=0.9, bits=4, tables=4, max_bucket_size=5
        ).collect()
    }
    assert capped == {(100, 101)}
    uncapped = simsearch.lsh_near_dup_pairs(df, dim=8, threshold=0.9, bits=4, tables=4).collect()
    assert len(uncapped) == 20 * 19 // 2 + 1
