"""Physical-plan shape assertions (SURVEY §4): the optimizations we
rely on at 100 TB must be visible in .explain — pushdown reaching the
parquet scan, broadcast joins for the dims, shuffle-free depreciation,
exactly one exchange in the salted extraction pipeline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import pdf_parser_spark.queries_data as qd
import pdf_parser_spark.queries_ref as qr
from pdf_parser_spark.extract import extract_documents, salted

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(qd.q_lineitem_agg(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # column pruning: the scan must not read unused columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_broadcast_joins_for_dims(spark):
    p = plan_of(qd.q_nation_revenue_topk(spark, SF))
    # formatted mode lists each node in the tree AND a detail section
    assert p.count(") BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_ladder_is_broadcast_range_join(spark):
    p = plan_of(qr.q_ladder_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "Exchange hashpartitioning" not in p  # fact side never shuffles


def test_depreciation_schedule_is_shuffle_free(spark):
    from pdf_parser_spark import depreciation as dep

    inp = qr._depr_inputs(spark, SF, 101, 0)
    sched = dep.depreciation_schedule(dep.with_engine_inputs(inp), years=10)
    p = plan_of(sched)
    assert "Exchange" not in p  # explode(sequence) + literal lookups only
    assert ") Generate" in p  # the year-grid explode


def test_extraction_single_exchange(spark):
    pages = spark.createDataFrame(
        [("u1", None, b"%PDF-x", None, "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    df = extract_documents(salted(pages, 4))
    p = plan_of(df)
    assert p.count(") Exchange") == 1  # exactly the salting repartition
    assert "ArrowEvalPython" in p or "MapInPandas" in p


def test_record_extraction_is_native(spark):
    """The white-text record path must stay JVM-side: no Python eval
    nodes, no shuffle."""
    p = plan_of(qr.q_whitetext_record(spark, SF))
    assert "Python" not in p
    assert "Exchange" not in p


def test_window_plan(spark):
    p = plan_of(qd.q_window_cumsum(spark, SF))
    assert "Window" in p
    assert "PushedFilters" in p


def test_ivf_assign_no_global_window(spark):
    """Round-2 fix: centroid selection must not funnel the corpus
    through a single task (no Window/global Sort; the only exchanges
    are the map-side-combined centroid agg and its tiny broadcast)."""
    from pdf_parser_spark import simsearch

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 17).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
    )
    p = plan_of(simsearch.ivf_assign(df, n_centroids=8))
    assert ") Window" not in p
    # min_by's SortAggregate sorts are partition-LOCAL (global=false);
    # a global sort (the round-1 scale-killer) would show "], true, 0"
    for line in p.splitlines():
        if line.startswith("Arguments: [") and line.rstrip().endswith(", 0"):
            assert "], false, 0" in line, f"global sort in ivf_assign plan: {line}"
    assert "partial_min_by" in p  # map-side combine before the shuffle


def test_corpus_select_plan_shape(spark):
    """The corpus-selection pipeline is ONE dedup shuffle + the fuzzy
    cluster-keeper equi-joins + projections: append-mode operator
    chaining must leave no OTHER join in the plan, and the iterative
    connected-components work must stay behind its checkpoint (the
    round-over-round star-contraction joins never pile into this
    plan). Gates stay native (no Python in the final plan)."""
    import pdf_parser_spark.queries_data as qd2

    p = plan_of(qd2.q_corpus_select(spark, SF))
    # exactly two equi-joins: canon⋈keepers and doc⋈cluster-labels
    n_joins = sum(
        line.count("Join")
        for line in p.splitlines()
        if line.startswith("(") and "Join" in line
    )
    assert n_joins == 2, f"expected 2 joins, plan has {n_joins}"
    assert "partial_min_by" in p  # the dedup agg map-side combine
    assert "Scan ExistingRDD" in p  # CC result enters via checkpoint


def _agg_exchanges(p: str) -> int:
    """Count Exchange nodes in the formatted-plan tree section (INCLUDING
    the _docs() input-spread repartition — callers budget for it)."""
    # tree lines look like '+- Exchange (9)'; detail lines '(9) Exchange'
    tree = [l for l in p.splitlines() if "+- Exchange (" in l or l.startswith("Exchange (")]
    return len(tree)


def test_boilerplate_lines_distinct_agg_shape(spark):
    """Line-level dedup: because the input is already hash-partitioned
    by doc_id, the (line, doc_id) distinct phase is PARTITION-LOCAL —
    only the final merge shuffles on line. Input spread + ONE aggregate
    exchange, map-side partials, no Python."""
    p = plan_of(qd.q_boilerplate_lines(spark, SF))
    assert _agg_exchanges(p) == 2  # input spread + final line shuffle
    assert "partial_count" in p  # map-side combine before the shuffle
    assert "Python" not in p  # explode/trim/filter stay native


def test_domain_stats_distinct_agg_shape_no_udf(spark):
    p = plan_of(qd.q_domain_stats(spark, SF))
    assert _agg_exchanges(p) == 3  # input spread + the distinct-agg pair
    assert "Python" not in p  # host/suffix parsing stays native


def test_cc_round_clamped_exchanges_only(spark):
    """One star-contraction round must shuffle exactly 3 times, every
    exchange an explicit REPARTITION_BY_NUM on the clamp count — if
    someone "simplifies" the repartition(n, key) nodes away, the
    groupBy/join/distinct fall back to EnsureRequirements exchanges at
    the session's shuffle.partitions (the empty-task sea this guards
    against, and a session-conf dependency the operator must not have)."""
    from pdf_parser_spark import textops

    # production-faithful input: the loop always runs over a
    # localCheckpoint (unknown stats → no auto-broadcast shortcuts)
    e = spark.range(100).select(
        (F.col("id") % 37).alias("u"), (F.col("id") % 11).alias("v")
    ).localCheckpoint(eager=True)
    p = plan_of(textops._cc_round(e, 8))
    detail = [l for l in p.splitlines() if l.startswith("Arguments: hashpartitioning")]
    assert len(detail) >= 3, f"expected the 3 clamp exchanges:\n{p}"
    for line in detail:
        assert "REPARTITION_BY_NUM" in line, f"non-explicit exchange: {line}"
        assert ", 8)," in line, f"clamp count not applied: {line}"
    assert "ENSURE_REQUIREMENTS" not in p
    assert "SinglePartition" not in p


def test_cc_convergence_check_clamped_exchange_only(spark):
    """The per-round star-forest check shuffles once, on the clamp
    count, like the round itself (its groupBy reuses the repartition)."""
    from pdf_parser_spark import textops

    e = spark.range(100).select(
        (F.col("id") % 37).alias("u"), (F.col("id") % 11).alias("v")
    ).localCheckpoint(eager=True)
    p = plan_of(textops._cc_not_star(e, 8))
    detail = [l for l in p.splitlines() if l.startswith("Arguments: hashpartitioning")]
    assert len(detail) == 1, f"expected the one clamp exchange:\n{p}"
    assert "REPARTITION_BY_NUM" in detail[0] and ", 8)," in detail[0], detail[0]
    assert "ENSURE_REQUIREMENTS" not in p
    assert "SinglePartition" not in p


def test_connected_components_checkpointed_no_conf_mutation(spark):
    """The iterative lineage must be truncated (the cluster edges read
    from the checkpoint RDD, not a round-over-round join tower: the one
    join left is the documents' lookup of their edge) and the session
    shuffle conf must come back untouched."""
    import re

    from pdf_parser_spark import textops

    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame([(n,) for n in (1, 2, 3, 7, 8, 9)], "doc_id long")
    cc = textops.dedup_clusters(docs, pairs)
    p = plan_of(cc)
    assert "at localCheckpoint" in p  # the edges enter via the checkpoint
    joins = [l for l in p.splitlines() if re.match(r"\(\d+\) \w*Join", l)]
    assert len(joins) == 1, p  # no star-contraction join survives
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    got = {(r.doc_id, r.cluster_id) for r in cc.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}


def test_top_k_per_key_two_stage_window(spark):
    """Skew-safe quota: two row_number windows (salted partial + exact),
    and never a single-partition exchange (the naive global form)."""
    from pdf_parser_spark import textops

    df = spark.range(500).select(
        (F.col("id") % 3).cast("string").alias("domain"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    out = textops.top_k_per_key(
        df, ["domain"], [F.desc("score"), F.asc("doc_id")], 5, "doc_id"
    )
    p = plan_of(out)
    n_windows = sum(1 for l in p.splitlines() if l.rstrip().endswith(") Window"))
    assert n_windows == 2, f"expected 2 window stages:\n{p}"
    assert "SinglePartition" not in p
    # stage-1 partitions by (key, salt); stage-2 by key alone
    assert any("hashpartitioning(domain" in l and "_salt" in l for l in p.splitlines())


def _lambda_bodies(plan: str):
    """Every ``lambdafunction(...)`` call in a plan string, parentheses
    matched (nested lambdas also appear inside their parent's body)."""
    key = "lambdafunction("
    i = plan.find(key)
    while i >= 0:
        depth, j = 0, i + len(key) - 1
        while True:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
            j += 1
        yield plan[i : j + 1]
        i = plan.find(key, i + 1)


def test_textops_lambdas_never_retokenize(spark):
    """Near-dup and shingle operators materialize their word array (or
    normalized string) as a column BEFORE a higher-order lambda reads
    it: a Column closure inside a lambda is inlined per element, which
    re-runs the tokenizer over the whole text once per shingle, k-gram
    or bit. The pruned simhash projection is the downstream shape of
    simhash_pairs (n_words dropped)."""
    from pdf_parser_spark import textops

    df = spark.createDataFrame(
        [(1, "a b  c d e\nf g")], "doc_id long, text string"
    )
    frames = {
        "lsh_band_pairs": textops.lsh_band_pairs(df),
        "lsh_band_pairs capped": textops.lsh_band_pairs(df, max_bucket_size=2),
        "simhash_pairs": textops.simhash_pairs(textops.simhash(df)),
        "simhash": textops.simhash(df, bits=64),
        "simhash pruned": textops.simhash(df, bits=64).select("doc_id", "simhash"),
        "ngram_jaccard_pairs": textops.ngram_jaccard_pairs(df),
        "fingerprint": textops.fingerprint(df),
        "repetition_signals": textops.repetition_signals(df),
    }
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        bodies = list(_lambda_bodies(plan))
        assert bodies, f"{name}: no lambda in the plan"
        for body in bodies:
            assert "regexp_replace" not in body, f"{name} re-tokenizes in a lambda: {body}"


def test_near_dup_candidates_compute_signatures_once(spark):
    """Candidate generation expands each bucket in one window instead
    of self-joining the bucketed relation: a self-join over the band
    ``Generate`` gets no exchange reuse, so each side re-ran shingling,
    md5 and every minhash. So: no Join, the md5 shingle digest appears
    once in each LSH plan, and the bucket cap filters rows before any
    member list (``collect_list``) is built, never after it."""
    import re

    from pdf_parser_spark import textops

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y")], "doc_id long, text string"
    )
    plans = {
        "lsh": textops.lsh_band_pairs(df),
        "lsh capped": textops.lsh_band_pairs(df, max_bucket_size=2),
        "simhash": textops.simhash_pairs(textops.simhash(df)),
    }
    for name, frame in plans.items():
        p = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in p, f"{name} plan joins:\n{p}"
        if name.startswith("lsh"):
            assert p.count("md5(") == 1, f"{name} digests shingles more than once:\n{p}"
        if name == "lsh capped":
            lines = p.splitlines()
            cap = [i for i, l in enumerate(lines) if re.search(r"Filter \(_n#\d+L <= 2\)", l)]
            collect = [i for i, l in enumerate(lines) if "collect_list" in l]
            assert len(cap) == 1 and collect, p
            assert cap[0] > max(collect), f"cap filter above the member lists:\n{p}"


def test_embedding_lsh_runs_its_signature_kernel_once(spark):
    """Embedding LSH pairs each bucket in one window too: the capped plan
    has one ``ArrowEvalPython`` (the ``with_rp_buckets`` kernel) and no
    join. A self-join over the exploded buckets, plus a count joined
    back for the cap, ran the kernel once per branch, and exploding a
    column that holds the kernel's output adds an inferred
    ``size(col) > 0`` filter that runs it once more. No aggregate keys
    on the vectors."""
    from pdf_parser_spark import simsearch

    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 3), 0.5]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    frame = simsearch.lsh_near_dup_pairs(df, dim=4, bits=4, tables=3, max_bucket_size=5)
    p = frame._jdf.queryExecution().executedPlan().toString()
    assert p.count("ArrowEvalPython") == 1, p
    assert "Join" not in p, p
    # the pairs' distinct keys on the projected ids and cosine: an
    # aggregate over the member structs ships both vectors of every pair
    keys = [ln.split("keys=", 1)[1].split(", functions=", 1)[0]
            for ln in p.splitlines() if "HashAggregate(keys=" in ln]
    assert keys and not any("vec" in k for k in keys), p


def _plan_build_commands(build) -> int:
    """py4j commands this thread sends while only BUILDING a DataFrame
    (no job). The first build warms the caches, and gc is held off
    during the count. Other threads do not count: py4j's finalizer
    worker sends the deletes of collected JVM references (a burst after
    the gc.collect() here) in the background."""
    import gc
    import threading

    import py4j.clientserver as cs

    keep = [build()]
    n = [0]
    me = threading.get_ident()
    send = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        n[0] += threading.get_ident() == me
        return send(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    cs.ClientServerConnection.send_command = counting
    try:
        keep.append(build())
    finally:
        cs.ClientServerConnection.send_command = send
        gc.enable()
    return n[0]


def test_signature_plan_cost_flat_in_width(spark):
    """SimHash bits and MinHash hash functions are one SQL expression
    each, not an unrolled Column tree: widening the signature must not
    add py4j round trips per bit / per hash (an unrolled 64-bit simhash
    cost ~9,700 commands, an unrolled 24-hash minhash ~3,000). The
    minhash width is measured through ``lsh_band_pairs`` at a fixed
    band count."""
    from pdf_parser_spark import textops

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sim8 = _plan_build_commands(lambda: textops.simhash(df, bits=8))
    sim64 = _plan_build_commands(lambda: textops.simhash(df, bits=64))
    assert sim64 <= sim8 + 100, (sim8, sim64)
    mh3 = _plan_build_commands(lambda: textops.lsh_band_pairs(df, n_hashes=3, bands=3))
    mh24 = _plan_build_commands(lambda: textops.lsh_band_pairs(df, n_hashes=24, bands=3))
    assert mh24 <= mh3 + 100, (mh3, mh24)


def test_depreciation_plan_cost_is_sql_text(spark):
    """The audited_quotes chain, from the record fold to the schedule,
    builds as cached SQL text, one select per stage: building its plan
    takes at most 1,000 py4j commands (as Column trees the record,
    validation, pricing and engine-input stages alone sent over 10,000)."""
    from pdf_parser_spark import depreciation as dep
    from pdf_parser_spark.fields import extract_record
    from pdf_parser_spark.pricing import compute_pricing
    from pdf_parser_spark.schema import EXTRACT_SCHEMA
    from pdf_parser_spark.validate import with_validation

    ext = spark.createDataFrame([], EXTRACT_SCHEMA)

    def build():
        rec = with_validation(extract_record(ext), mode="typed", strict_quirk=False)
        inp = rec.drop("Pay_Upfront", "Pay_Over_Time").selectExpr(
            "*",
            "1.0D AS _floors",
            "0.0D AS _zero",
            "to_date(Date_of_Purchase, 'MM/dd/yyyy') AS _acq",
            "make_date(CAST(Tax_Year AS INT), 12, 31) AS _css",
        )
        priced = compute_pricing(
            inp,
            purchase_price="Purchase_Price",
            land_value="Know_Land_Value",
            capex="Capital_Improvements_Amount",
            zip_code="Zip_Code",
            property_type="Type_of_Property_Quote",
            sqft_building="SqFt_Building",
            acres_land="Acres_Land",
            floors="_floors",
            num_properties="Multiple_Properties_Quote",
            rounding="python",
        )
        staged = dep.with_engine_inputs(
            priced,
            purchase_price="Purchase_Price",
            land_value="Know_Land_Value",
            capex="Capital_Improvements_Amount",
            pad="_zero",
            deferred_gain="_zero",
            acquisition_date="_acq",
            css_date="_css",
            property_type="Type_of_Property_Quote",
            year_built="Year_Built",
        )
        return dep.depreciation_schedule(dep.with_481a(staged), full_horizon=True)

    n = _plan_build_commands(build)
    assert n <= 1000, n
