"""Physical-plan quality guards: the plans we ship are the plans we want
(SURVEY.md section 4).  These assertions fail if a regression reintroduces
a shuffle, loses a broadcast, or breaks scan pruning."""

from __future__ import annotations

import re

from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    """Full formatted explain: unlike executedPlan().toString() it never
    truncates long expression lists, and lists each node's input columns."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_extraction_has_single_exchange(spark, pages_small):
    """Exactly one Exchange (the explicit salted repartition) feeds the
    Arrow kernel — no accidental extra shuffles."""
    from ocrd_tesserocr_spark.pipeline import extract

    plan = _plan(extract(spark, pages_small, num_partitions=4))
    assert plan.count("Exchange") == 1
    # the kernel is the single MapInArrow node above the Exchange (direct
    # RecordBatch construction; no pandas object-column inference)
    assert "MapInArrow" in plan


def test_cosine_topk_broadcasts_query_side(spark):
    from ocrd_tesserocr_spark.operators.similarity import q_cosine_topk

    plan = _plan(q_cosine_topk(spark, SF_ORACLE))
    assert "Broadcast" in plan


def test_resume_antijoin_column_pruned(spark):
    """The anti-join build side must scan only the join key, not the
    payload columns."""
    from ocrd_tesserocr_spark.operators.relational import q_resume_antijoin

    plan = _plan(q_resume_antijoin(spark, SF_ORACLE))
    assert "l_orderkey" in plan
    # lineitem payload columns must not be read
    for col in ("l_quantity", "l_extendedprice", "l_shipdate"):
        assert col not in plan


def test_q1_pushes_filter_to_scan(spark):
    from ocrd_tesserocr_spark.operators.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_ORACLE))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_partial_aggregation(spark):
    """Map-side combine: two HashAggregate levels around the exchange."""
    from ocrd_tesserocr_spark.operators.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_ORACLE))
    assert plan.count("HashAggregate") >= 2


def test_filter_degenerate_scans_needed_columns_only(spark):
    from ocrd_tesserocr_spark.operators.relational import q_filter_degenerate

    plan = _plan(q_filter_degenerate(spark, SF_ORACLE))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_no_python_eval_in_relational_queries(spark):
    """No row-at-a-time Python anywhere: every oracle-checked query except
    the declared Arrow kernels (mapInArrow/mapInPandas) plans pure JVM
    operators."""
    import __spark_entry__ as entry

    ARROW_KERNELS = {"media_meta", "extract_flagship", "extract_block_spans"}
    for name, fn in entry.queries().items():
        if name in ARROW_KERNELS:
            continue
        plan = _plan(fn(spark, SF_ORACLE))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_ngram_jaccard_has_bounded_fanout(spark):
    """Bucket-and-generate: posting lists collected per shingle hash with
    the df-cap filter, pairs generated in-bucket — no shingle self-join."""
    from ocrd_tesserocr_spark.operators.dedup import q_ngram_jaccard_stats

    plan = _plan(q_ngram_jaccard_stats(spark, SF_ORACLE))
    assert "collect_list" in plan
    assert "64" in plan  # the cap literal survives into the filter
    # the only joins left are the two per-doc size lookups (on da/db),
    # NEVER a join keyed on the shingle hash h: an unconditional sweep of
    # every join's key line (a disjunctive form here once let a
    # shingle-keyed join regress through the other arm)
    for seg in plan.split("Join")[1:]:
        assert "h#" not in seg.splitlines()[0], "join keyed on shingle hash"


def test_lsh_pairs_single_signature_dag(spark):
    """The groupBy-bucket design plans the md5 signature computation ONCE
    (no alias self-join doubling the DAG)."""
    from ocrd_tesserocr_spark.operators.dedup import q_lsh_pairs

    plan = _plan(q_lsh_pairs(spark, SF_ORACLE))
    # each md5 appears in one projection chain only: count the scans
    assert plan.count("Scan parquet") <= 1 or plan.count("ReusedExchange") >= 1


def test_md5_subtree_not_duplicated_across_signature_columns(spark):
    """CollapseProject must NOT inline the expensive shingle-md5 map into
    each of the 16 signature columns: the optimized plan carries exactly
    one md5 subtree (Catalyst keeps a separate project for non-cheap
    expressions referenced more than once — this locks that in)."""
    from ocrd_tesserocr_spark.operators.dedup import (
        q_lsh_pairs,
        q_minhash_signature,
        q_simhash,
        q_winnow_fingerprints,
    )

    spark.conf.set("spark.sql.maxToStringFields", "10000")
    try:
        for q in (
            q_minhash_signature,
            q_lsh_pairs,
            q_simhash,
            q_winnow_fingerprints,
        ):
            df = q(spark, SF_ORACLE)
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            assert opt.count("md5") == 1, q.__name__
    finally:
        spark.conf.unset("spark.sql.maxToStringFields")


def test_ann_ivf_broadcasts_probe_side(spark):
    from ocrd_tesserocr_spark.operators.similarity import q_ann_ivf

    plan = _plan(q_ann_ivf(spark, SF_ORACLE))
    assert "Broadcast" in plan


def test_agg_concat_uses_codegen_sort(spark):
    """Round 6: the ordered concat sorts with sort_array (codegen'd natural
    struct ordering) — array_sort would reintroduce an interpreted
    comparison lambda per element pair, and the transform projection
    lambda must stay replaced by getField."""
    from ocrd_tesserocr_spark.operators.relational import (
        q_agg_concat_reading_order,
    )

    full = _formatted(q_agg_concat_reading_order(spark, SF_ORACLE))
    assert "sort_array" in full
    assert "lambdafunction" not in full


def test_similarity_fold_casts_whole_array(spark):
    """Round 6: the dot/norm folds cast the embedding array to
    array<double> ONCE before the fold instead of per element inside the
    lambda (the per-element cast was half the fold's cost)."""
    from ocrd_tesserocr_spark.operators.similarity import q_cosine_topk

    plan = _formatted(q_cosine_topk(spark, SF_ORACLE))
    folds = re.findall(
        r"zip_with\(cast\((\w+)#\d+ as array<double>\), "
        r"cast\((\w+)#\d+ as array<double>\), lambdafunction\(",
        plan,
    )
    # both fold inputs cast whole: the norm (embedding x embedding) and the
    # query-neighbor dot (qv x embedding)
    assert ("embedding", "embedding") in folds, folds
    assert ("qv", "embedding") in folds, folds
    # no per-element cast inside any fold lambda
    assert "cast(lambda" not in plan


def test_glyph_topk_resplit_carries_projection(spark):
    """Round 6: glyph_topk re-splits the single-row-group scan for the
    rlike/explode stack, and the exchange carries only the projected
    (doc_id, first word) — never the full text column."""
    from ocrd_tesserocr_spark.operators.glyphs import q_glyph_topk

    plan = _formatted(q_glyph_topk(spark, SF_ORACLE))
    [exchange] = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
        r"Arguments: RoundRobinPartitioning",
        plan,
    )
    cols = [c.split("#")[0] for c in exchange.split(", ")]
    assert "text" not in cols, cols
    assert cols == ["doc_id", "w"], cols


def test_lm_score_trigrams_not_lambda_built(spark):
    """Round 6: lm_score explodes the position sequence and slices with a
    codegen'd substr — the trigram substring must not live inside an
    interpreted higher-order lambda."""
    from ocrd_tesserocr_spark.operators.text import q_lm_score

    plan = _plan(q_lm_score(spark, SF_ORACLE))
    assert "lambdafunction(substring" not in plan


#: queries that still start jobs while they are built, and why
BUILD_JOBS_EXEMPT = {
    # iterates label propagation to a fixpoint; each round is a job
    "dedup_components",
}


def test_building_queries_runs_no_job(spark):
    """Building a query is lazy: every ``queries()`` entry but the named
    exemptions starts zero Spark jobs (no schema inference, no eager
    checkpoint)."""
    import __spark_entry__

    sc = spark.sparkContext
    started = {}
    try:
        for name, build in __spark_entry__.queries().items():
            group = f"build-guard-{name}"
            sc.setJobGroup(group, f"build {name}")
            build(spark, SF_ORACLE)
            started[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert BUILD_JOBS_EXEMPT <= started.keys()
    offenders = {n: k for n, k in started.items() if k and n not in BUILD_JOBS_EXEMPT}
    assert offenders == {}


def _final_plan(df) -> str:
    """The adaptive plan as it ran (call after an action)."""
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def test_host_skew_scans_documents_once(spark):
    """The host aggregate feeds the output and the totals branch through
    one exchange: the totals side reuses it, so the corpus is scanned
    once."""
    from ocrd_tesserocr_spark.operators.text import q_host_skew

    df = q_host_skew(spark, SF_ORACLE)
    df.collect()
    plan = _final_plan(df)
    assert "ReusedExchange" in plan
    assert plan.count("FileScan") == 1


def test_anchor_texts_scans_pages_once(spark):
    """The edge table feeds the top-anchor and the n_pages branches through
    one exchange: the n_pages side reuses it, so the pages corpus is
    scanned and regexped once."""
    from ocrd_tesserocr_spark.operators.linkgraph import q_anchor_texts

    df = q_anchor_texts(spark, SF_ORACLE)
    df.collect()
    plan = _final_plan(df)
    assert "ReusedExchange" in plan
    assert plan.count("FileScan") == 1


def test_lm_score_reads_the_fit_slice_once(spark):
    """The 10% fit slice feeds the fit pass and the cutoff sample through
    one re-split exchange: the sample reuses it, so the plan holds one scan
    of the corpus and one of the slice."""
    from ocrd_tesserocr_spark.operators.text import q_lm_score

    df = q_lm_score(spark, SF_ORACLE)
    df.collect()
    plan = _final_plan(df)
    assert re.search(r"ReusedExchange \[[^\]]*\], Exchange RoundRobinPartitioning", plan)
    assert plan.count("FileScan") == 2


def test_near_dedup_verified_shingles_once(spark):
    """The shingle table feeds the LSH branch and both verification sides
    through one exchange: the md5 shingle map runs once and the documents
    are scanned once."""
    from ocrd_tesserocr_spark.operators.dedup import q_near_dedup_verified

    df = q_near_dedup_verified(spark, SF_ORACLE)
    df.collect()
    plan = _final_plan(df)
    assert plan.count("md5(") == 1
    assert plan.count("FileScan") == 1


def test_lm_score_shares_the_count_table(spark):
    """The fit-slice count table feeds the model and the normalizer through
    one trigram exchange: the second branch reuses it, so the fit slice is
    exploded and aggregated once."""
    from ocrd_tesserocr_spark.operators.text import q_lm_score

    df = q_lm_score(spark, SF_ORACLE)
    df.collect()
    plan = _final_plan(df)
    assert re.search(r"ReusedExchange \[[^\]]*\], Exchange hashpartitioning\(t#", plan)
