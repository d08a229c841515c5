"""textops: planted-duplicate recovery, language id, quality, simhash."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from conftest import _jobs_of
from pdf_parser_spark import textops

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog and runs away quickly today"),  # near dup
    (3, "der hund läuft schnell und die katze ist nicht da von dem haus"),
    (4, "le chat est dans la maison et le chien est pour un moment"),
    (5, "el perro es grande y la casa es una de las que por ahi"),
    (6, "completely different content about database engines and query planners here"),
    (7, "zz zz zz zz"),  # no stopword hits in any language
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = textops.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 0
    assert sorted(groups[0]["doc_ids"]) == [0, 1]


def test_lsh_finds_exact_and_near(spark, docs):
    # bands=6 (rows=2): the 0~2 pair is only ~0.64 jaccard, which needs
    # 2-row bands to collide reliably under the universal hash family
    pairs = {(r["id_a"], r["id_b"]) for r in textops.lsh_band_pairs(docs, bands=6).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs
    # exact-dup recall is parameter-independent: identical shingle sets
    # collide in EVERY band configuration
    assert (0, 1) in {(r["id_a"], r["id_b"]) for r in textops.lsh_band_pairs(docs).collect()}


def test_jaccard_exact_pair_is_1(spark, docs):
    rows = textops.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    exact = [r for r in rows if (r["id_a"], r["id_b"]) == (0, 1)]
    assert exact and exact[0]["jaccard"] == 1.0


def test_jaccard_candidates_restrict(spark, docs):
    cands = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    rows = textops.ngram_jaccard_pairs(docs, threshold=0.0, candidates=cands).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}


def test_simhash_near_dup_close(spark, docs):
    sims = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    assert sims[0] == sims[1]  # identical text → identical simhash
    ham_near = bin(sims[0] ^ sims[2]).count("1")
    ham_far = bin(sims[0] ^ sims[6]).count("1")
    assert ham_near < ham_far


def test_simhash_pairs_blocking_complete(spark, docs):
    """Blocked join must equal the brute-force hamming<=3 pair set
    (pigeonhole: 4 blocks, <=3 differing bits)."""
    sims = textops.simhash(docs)
    got = {(r["id_a"], r["id_b"]) for r in textops.simhash_pairs(sims, max_hamming=3).collect()}
    vals = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    want = {
        (a, b)
        for a in vals
        for b in vals
        if a < b and bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    assert got == want


def test_language_id(spark, docs):
    preds = {r["doc_id"]: r["lang_pred"] for r in textops.language_id(docs).collect()}
    assert preds[0] == "en"
    assert preds[3] == "de"
    assert preds[4] == "fr"
    assert preds[5] == "es"
    assert preds[7] == "und"


def test_quality_score_signals(spark, docs):
    rows = {r["doc_id"]: r for r in textops.quality_score(docs).collect()}
    assert rows[0]["quality_score"] >= 0.75  # clean english sentence
    assert rows[7]["quality_score"] <= 0.5  # repetitive no-stopword junk
    assert rows[0]["n_words"] == 13
    assert rows[0]["stop_ratio"] > 0.2


def test_token_counts(spark, docs):
    r = {x["doc_id"]: x for x in textops.token_counts(docs).collect()}
    assert r[0]["ws_tokens"] == 13
    assert r[0]["regex_tokens"] == 13  # pure words, no punctuation
    assert r[0]["est_bpe_tokens"] == -(-len(DOCS[0][1]) // 4)


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [(0, "some document content here for fingerprinting purposes"),
         (1, "some   document\n content here  for fingerprinting purposes")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in textops.fingerprint(df).collect()}
    assert rows[0] == rows[1]  # whitespace-normalized → identical sketch
    assert len(rows[0]) > 0


def test_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle present in EVERY doc must not generate
    candidate pairs once its doc-frequency exceeds max_doc_freq — the
    100 TB skew guard. Docs share ONLY the hot shingle, so with the cap
    the pair set is empty; without it every pair appears."""
    hot = "copyright acme corp"
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = textops.ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=10).collect()
    assert capped == []  # hot-shingle-only overlap pruned entirely
    uncapped = textops.ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=None).collect()
    assert len(uncapped) == 20 * 19 // 2  # quadratic without the cap


def test_jaccard_cap_keeps_true_dups(spark, docs):
    """Capping must not lose pairs whose overlap is more than the
    pruned boilerplate (dup pair 0~1 shares all shingles)."""
    rows = textops.ngram_jaccard_pairs(docs, threshold=0.9, max_doc_freq=3).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows if r["jaccard"] == 1.0] == [(0, 1)]


def test_language_id_extended_breadth(spark):
    """it/pt/nl join the detector; existing languages keep winning
    their own documents despite shared stopwords (de/nl 'de' clash)."""
    rows = [
        (0, "il gatto e il cane sono una cosa che non va per niente"),
        (1, "o gato e o cachorro sao os animais que estao para a casa"),
        (2, "de hond en de kat is een dier dat niet op de bank te zien is"),
        (3, "the quick brown fox is in the yard and it is fast"),
        (4, "der hund und die katze ist nicht von dem haus zu sehen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    preds = {r["doc_id"]: r["lang_pred"] for r in textops.language_id(df).collect()}
    assert preds[0] == "it"
    assert preds[1] == "pt"
    assert preds[2] == "nl"
    assert preds[3] == "en"
    assert preds[4] == "de"


def test_redact_pii(spark):
    rows = [
        (0, "write to john.doe+x@mail.example.org today"),
        (1, "server at 10.0.255.3 and backup 192.168.1.1"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "no pii here at all"),
        (4, "a@b.co and 1.2.3.4 and 555 867 5309 x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.redact_pii(df).collect()}
    assert (out[0]["n_emails"], out[0]["n_ips"], out[0]["n_phones"]) == (1, 0, 0)
    assert "<EMAIL>" in out[0]["redacted_text"] and "@" not in out[0]["redacted_text"]
    assert out[1]["n_ips"] == 2 and out[1]["redacted_text"].count("<IP>") == 2
    assert out[2]["n_phones"] == 1 and "<PHONE>" in out[2]["redacted_text"]
    assert out[3]["redacted_text"] == "no pii here at all"
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_phones"]) == (1, 1, 1)


def test_repetition_signals(spark):
    rows = [
        (0, "alpha beta\nalpha beta\nalpha beta\ngamma delta"),  # 2 dup lines of 4
        (1, "spam ham spam ham spam ham spam ham"),              # one dominant bigram
        (2, "all distinct lines\nno repeats anywhere\nclean text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.repetition_signals(df).collect()}
    assert out[0]["n_lines"] == 4
    assert out[0]["dup_line_frac"] == 0.5  # 4 lines, 2 distinct
    # 7 bigrams, 'spam ham' appears 4x
    assert out[1]["n_bigrams"] == 7
    assert out[1]["top_bigram_frac"] == round(4 / 7, 6)
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["top_bigram_frac"] < 0.5


def test_lsh_mega_bucket_cap(spark):
    """A cluster of identical docs (one mega-bucket per band) must be
    excluded by max_bucket_size — pairwise LSH is the wrong tool for
    exact-dup clusters (exact_duplicates covers them); a distinct dup
    pair in its own small bucket survives the cap."""
    rows = [(i, "identical boilerplate text repeated across the whole cluster") for i in range(30)]
    rows += [(100, "a genuinely unique document about spark physical planning"),
             (101, "a genuinely unique document about spark physical planning")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["id_a"], r["id_b"]) for r in textops.lsh_band_pairs(df, max_bucket_size=10).collect()}
    assert capped == {(100, 101)}  # mega-cluster suppressed, real pair kept
    uncapped = textops.lsh_band_pairs(df).collect()
    assert len(uncapped) == 30 * 29 // 2 + 1  # quadratic without the cap


_LARGE_BUCKET = """
from pyspark.sql import functions as F
from pdf_parser_spark import textops
from pdf_parser_spark.session import get_spark

spark = get_spark("large-bucket", master="local[2]", shuffle_partitions=4)
df = spark.range(5000).select(F.col("id").alias("doc_id"), F.lit("one boilerplate page").alias("text"))
print(textops.lsh_band_pairs(df, n_hashes=4, bands=1).count())
spark.stop()
"""


def test_one_large_bucket_streams_its_pairs():
    """An uncapped bucket of 5,000 identical documents yields all of its
    12,497,500 pairs on a 512 MB driver heap, in a subprocess with its
    own session. The pairs must stream as rows: one array holding a
    bucket's pairs, or a member list copied into each of a bucket's
    rows, is O(bucket²) memory in one task, and both shapes run out of
    heap here."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _LARGE_BUCKET],
        cwd=repo, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "512m"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split()[-1] == str(5000 * 4999 // 2)


def _minhash_signatures(df, n_hashes):
    """(doc_id, hash_idx, min_hash): one row per hash of each document
    that has at least one shingle, from the same shingle digests and
    signature SQL ``lsh_band_pairs`` bands."""
    return textops._shingle_digests(df, "text", "doc_id", 3).select(
        "doc_id",
        F.posexplode(F.expr(textops._minhash_sig_sql(n_hashes))).alias("hash_idx", "min_hash"),
    )


def _lsh_reference(sig_rows, rows, max_bucket_size):
    """Driver-side LSH: bucket each document by (hash_idx // rows,
    sorted band tuple) from its minhash rows, drop buckets over the cap,
    list every pair with a < b (tests only)."""
    bands = {}
    for r in sig_rows:
        bands.setdefault((r["doc_id"], r["hash_idx"] // rows), []).append(r["min_hash"])
    buckets = {}
    for (doc, band), mins in bands.items():
        buckets.setdefault((band, tuple(sorted(mins))), set()).add(doc)
    return {
        (a, b)
        for members in buckets.values()
        if max_bucket_size is None or len(members) <= max_bucket_size
        for a in members
        for b in members
        if a < b
    }


def test_lsh_band_pairs_match_driver_reference(spark):
    """lsh_band_pairs equals the driver-side banding of its own minhash
    rows for several band layouts, including a short last band (12
    hashes in 5 bands of 2 rows is 6 bands), with and without the bucket
    cap. Empty, null and under-k-word texts have no shingles, so they
    get no signature and never pair, even with each other."""
    rows = [(i, "identical boilerplate text repeated across the whole cluster") for i in range(8)]
    rows += [
        (20, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (21, "the quick brown fox jumps over the lazy dog and runs away fast today"),
        (22, "the quick brown fox jumps over the lazy dog and walks away slowly"),
        (23, "completely different content about database engines and query planners"),
        (30, ""), (31, None), (32, "one"), (33, "one two"), (34, "one two"), (35, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    no_shingles = {30, 31, 32, 33, 34, 35}
    for n_hashes, bands in [(12, 4), (12, 6), (12, 5)]:
        sig_rows = _minhash_signatures(df, n_hashes).collect()
        assert not no_shingles & {r["doc_id"] for r in sig_rows}
        for cap in (None, 5):
            got = {
                (r["id_a"], r["id_b"])
                for r in textops.lsh_band_pairs(
                    df, n_hashes=n_hashes, bands=bands, max_bucket_size=cap
                ).collect()
            }
            want = _lsh_reference(sig_rows, n_hashes // bands, cap)
            assert got == want, (n_hashes, bands, cap)
            assert not no_shingles & {d for pair in got for d in pair}
            # the 8-copy cluster pairs fully without the cap, not at all with it
            assert ((0, 7) in got) == (cap is None), (n_hashes, bands, cap)


def test_exact_duplicates_without_ids(spark, docs):
    groups = textops.exact_duplicates(docs, with_ids=False).collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 0 and groups[0]["n_docs"] == 2
    assert "doc_ids" not in groups[0].asDict()


def test_boilerplate_lines_detects_planted_chrome(spark):
    from pdf_parser_spark.textops import boilerplate_lines

    rows = [(i, f"unique line {i}\n" + ("JOIN OUR LIST" if i % 2 == 0 else f"tail {i}"))
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["line"]: r for r in boilerplate_lines(df, min_docs=3).collect()}
    assert set(got) == {"JOIN OUR LIST"}
    assert got["JOIN OUR LIST"]["n_docs"] == 5
    assert got["JOIN OUR LIST"]["n_occurrences"] == 5
    # duplicate occurrences within ONE doc do not fake cross-doc reach
    df2 = spark.createDataFrame(
        [(1, "x\nx\nx\nx"), (2, "y")], "doc_id long, text string"
    )
    assert boilerplate_lines(df2, min_docs=3).count() == 0


def test_domain_stats_public_suffix_heuristic(spark):
    from pdf_parser_spark.textops import domain_stats

    rows = [
        ("https://www.shop.example.co.uk/a", 10),
        ("https://cdn.example.co.uk/b", 20),
        ("https://example.com/c", 30),
        ("https://www.example.com/d", 40),
        ("https://one.org/e", 5),
    ]
    df = spark.createDataFrame(rows, "url string, n_chars long")
    got = {r["domain"]: r for r in domain_stats(df).collect()}
    assert got["example.co.uk"]["n_hosts"] == 2  # www.shop... and cdn...
    assert got["example.co.uk"]["total_chars"] == 30
    assert got["example.com"]["n_docs"] == 2 and got["example.com"]["n_hosts"] == 2
    assert got["one.org"]["n_docs"] == 1


def test_top_k_per_key_salt_invariance(spark):
    """The salted two-stage top-K must return EXACTLY the plain-window
    answer for every n_salt (skew safety cannot change results)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pdf_parser_spark.textops import top_k_per_key

    rows = [(i, f"k{i % 3}", (i * 37) % 100) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, key string, score long")
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    w = Window.partitionBy("key").orderBy(*order)
    want = {
        (r["key"], r["doc_id"], r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7).collect()
    }
    for n_salt in (1, 2, 8, 32):
        got = {
            (r["key"], r["doc_id"], r["rank"])
            for r in top_k_per_key(df, ["key"], order, 7, "doc_id", n_salt=n_salt).collect()
        }
        assert got == want, f"n_salt={n_salt}"


def test_registered_domain_single_label_host_ansi(spark):
    """'localhost' (one label) must not throw under ANSI mode — the
    driver's plain Spark 4 session runs ANSI by default and `&` does not
    short-circuit element_at (round-3 ADVICE)."""
    df = spark.createDataFrame(
        [("localhost",), ("a.co.uk",), ("example.com",), ("x.y.z.org",)],
        ["host"],
    )
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = {
            r["host"]: r["d"]
            for r in df.select(
                "host", textops.registered_domain_col(F.col("host")).alias("d")
            ).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    assert rows == {
        "localhost": "localhost",
        "a.co.uk": "a.co.uk",
        "example.com": "example.com",
        "x.y.z.org": "z.org",
    }


# ----------------------------------------------------------------------
# connected components / dedup_clusters
# ----------------------------------------------------------------------
def _uf_components(edges):
    """Driver-side union-find reference (tests only)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _edge_docs(spark, edges):
    """The edges as a pairs frame, and every node in them as a doc."""
    df = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        df = df.filter(F.lit(False))
    nodes = sorted({n for e in edges for n in e})
    return spark.createDataFrame([(n,) for n in nodes], "doc_id long"), df


def _cc_spark(spark, edges):
    docs, pairs = _edge_docs(spark, edges)
    out = textops.dedup_clusters(docs, pairs)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_connected_components_basic(spark):
    # two chains + one triangle + a singleton edge
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (21, 22), (20, 22), (30, 31)]
    got = _cc_spark(spark, edges)
    assert got == _uf_components(edges)
    # one row per node, min-id labels
    assert got[4] == 1 and got[12] == 10 and got[22] == 20 and got[31] == 30


def test_connected_components_long_chain(spark):
    """The pathology min-label propagation is slow on: a 64-node chain
    must converge within the round budget (star-contraction is
    O(log² n) rounds, not O(diameter))."""
    edges = [(i, i + 1) for i in range(64)]
    got = _cc_spark(spark, edges)
    assert got == {i: 0 for i in range(65)}


def test_connected_components_random_graphs(spark):
    """Randomized parity vs union-find (fixed seeds — box-stable)."""
    import random

    for seed in (7, 42, 1337):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        edges = [e for e in edges if e[0] != e[1]]
        assert _cc_spark(spark, edges) == _uf_components(edges)


def test_connected_components_empty(spark):
    assert _cc_spark(spark, []) == {}


def test_connected_components_star_forest_stops_after_one_round(spark):
    """Edges that already form a star forest are the fixpoint: the loop
    returns after ONE round (so max_iter=1 suffices), and its jobs are
    exactly those of the input checkpoint, one round checkpoint and one
    convergence check — no count, no set difference, no confirming
    round."""
    docs, pairs = _edge_docs(spark, [(1, 2), (1, 3), (1, 4), (10, 11)])
    cc, n_jobs = _jobs_of(
        spark, lambda: textops.dedup_clusters(docs, pairs, max_iter=1)
    )
    # replay the same three actions one by one
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    e, n_input = _jobs_of(
        spark,
        lambda: pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True),
    )
    r, n_round = _jobs_of(
        spark, lambda: textops._cc_round(e, n_part).localCheckpoint(eager=True)
    )
    empty, n_check = _jobs_of(spark, lambda: textops._cc_not_star(r, n_part).isEmpty())
    assert empty
    assert n_jobs == n_input + n_round + n_check
    got = {(x.doc_id, x.cluster_id) for x in cc.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_cc_two_hub_edges_are_not_a_fixpoint(spark):
    """A node pointing at two hubs is not a star, even when no hub is
    itself a member. One round over the chain 0-2-3-4-1 yields exactly
    that: 2 -> {0, 1} with hubs 0 and 1 pointing nowhere; stopping there
    would split the chain's component in two."""
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    two_hub = spark.createDataFrame([(5, 1), (5, 2)], "u long, v long")
    assert not textops._cc_not_star(two_hub, n_part).isEmpty()
    assert _cc_spark(spark, [(5, 1), (5, 2)]) == {1: 1, 2: 1, 5: 1}
    chain = [(2, 0), (4, 1), (3, 2), (4, 3)]
    assert _cc_spark(spark, chain) == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


def test_dedup_clusters_with_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 3), (3, 5), (2, 6)], ["id_a", "id_b"])
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in textops.dedup_clusters(docs, pairs).collect()
    }
    assert rows == {
        0: (0, True), 1: (1, True), 2: (2, True), 3: (1, False),
        4: (4, True), 5: (1, False), 6: (2, False), 7: (7, True),
    }
    # exactly one canonical per cluster
    canon = [k for k, (c, is_c) in rows.items() if is_c]
    assert sorted(canon) == sorted({c for c, _ in rows.values()})


def test_corpus_select_fuzzy_stage_removes_near_twins(spark):
    """Cluster-aware corpus_select: the planted +100000 exact copies
    die at the digest stage and the planted +200000 near-twins (same
    text plus a trailing token — different digest!) die at the fuzzy
    LSH→connected-components stage. Neither may reach the output."""
    from pyspark.sql import functions as F

    import pdf_parser_spark.queries_data as qd

    out = qd.q_corpus_select(spark, "/root/testdata/sf0.001").cache()
    try:
        assert out.filter(F.col("doc_id") >= 100000).count() == 0
        assert out.count() > 0
    finally:
        out.unpersist()
