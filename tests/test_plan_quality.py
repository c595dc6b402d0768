"""Physical-plan regression tests: the *shape* of each plan is part of the
contract at 100 TB, not an implementation detail. Each assertion pins a
scale-critical property (filter pushdown, column pruning, broadcast vs
shuffle join, top-k pushdown, shuffle count) so a refactor that silently
de-optimizes a query fails here before it ships.

Plan strings come from ``queryExecution().executedPlan()`` — driver-side
only, nothing is executed.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def exchange_inputs(df) -> list[tuple[str, str]]:
    """(arguments, input-columns) of every Exchange/BroadcastExchange node,
    from the FORMATTED explain — the plain plan string shows partitioning
    keys only, not what payload rides the exchange."""
    import re

    jvm = df.sparkSession._jvm
    s = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    out = []
    for block in re.split(r"\n(?=\(\d+\) )", s):
        header = block.splitlines()[0]
        if re.search(r"\(\d+\) (Exchange|BroadcastExchange)", header):
            inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            args = re.search(r"Arguments: ([^\n]*)", block)
            out.append(
                (args.group(1) if args else "", inp.group(1) if inp else "")
            )
    return out


@pytest.fixture(scope="module")
def Q():
    from texteller_spark.plans import queries

    return queries


def test_q1_pushdown_prune_partial_agg(spark, Q):
    p = plan_of(Q.q_pricing_summary(spark, SF))
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    # column pruning: html-sized columns like l_comment never exist here, but
    # the scan must not read join keys it doesn't need
    assert "l_partkey" not in p
    # map-side combine before the exchange
    assert "partial_sum" in p
    assert p.count("Exchange") == 1


def test_dim_joins_broadcast_never_shuffle(spark, Q):
    for q in (Q.q_region_rollup, Q.q_rollup):
        p = plan_of(q(spark, SF))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_semi_anti_are_broadcast_key_only(spark, Q):
    p = plan_of(Q.q_semi_anti(spark, SF))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "BroadcastHashJoin" in p
    # the orders side ships only its key column into each semi/anti build
    assert "o_totalprice" not in p and "o_orderdate" not in p


def test_asof_join_single_shuffle(spark, Q):
    """The union+last(ignorenulls) as-of rewrite must cost exactly one
    hash exchange (on user_id) — if a range self-join sneaks back in, the
    Exchange count or a join node betrays it."""
    p = plan_of(Q.q_asof_join(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p  # no join operator at all: it's a window rewrite


def test_star_schema_broadcasts_all_dims(spark, Q):
    """Q9-shape: three dims broadcast, the only exchange is the final
    groupBy — the fact table is scanned once and never shuffled pre-agg."""
    p = plan_of(Q.q_profit_by_nation_brand(spark, SF))
    assert p.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_topk_pushes_down(spark, Q):
    # per-group top-k: rank filter becomes WindowGroupLimit (partial+final),
    # so each map task keeps k rows per group before the shuffle
    p1 = plan_of(Q.q_topk_per_group(spark, SF))
    assert "WindowGroupLimit" in p1 and "Partial" in p1
    # global top-k: TakeOrderedAndProject, never a global Sort
    p2 = plan_of(Q.q_global_topk(spark, SF))
    assert "TakeOrderedAndProject" in p2
    assert "Exchange rangepartitioning" not in p2
    # brute-force cosine: same property with the JVM cosine expression
    p3 = plan_of(Q.q_cosine_topk(spark, SF))
    assert "TakeOrderedAndProject" in p3
    assert "ArrowEvalPython" not in p3  # cosine stays JVM-side


def test_domain_quota_is_windowgrouplimit_and_jvm_only(spark, Q):
    # per-domain quota: the rank<=k filter must become WindowGroupLimit
    # (each map task keeps k rows per domain before the shuffle), and the
    # whole URL-parse/quality chain stays JVM-side
    p = plan_of(Q.q_domain_quota(spark, SF))
    assert "WindowGroupLimit" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_array_stats_stay_jvm_side(spark, Q):
    # higher-order array expressions (aggregate/transform/array_max) must
    # compile to JVM codegen, never fall back to a Python eval node
    p = plan_of(Q.q_array_stats(spark, SF))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_extraction_pipeline_is_shuffle_free(spark):
    from texteller_spark.plans.pipeline import extract_pages
    from texteller_spark.sources.pages import pages_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(extract_pages(pages_from_documents(docs)))
    # the whole detect→recognize→normalize→assemble path is a map over scan
    # splits: Arrow kernels only, zero exchanges → scales linearly with
    # executors until the scan saturates
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p


def test_lsh_near_dup_is_bucket_equijoin_not_cartesian(spark, Q):
    """The LSH embedding near-dup path must plan a hash equi-join on
    (band_id, band_val) — never a cartesian/broadcast-nested-loop theta
    join. This is the property that separates the 10^12-row scale path from
    the O(n^2) exact baseline."""
    p = plan_of(Q.q_embedding_lsh(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # it IS a join — a hash equi-join on the band keys


def test_ann_join_is_band_equijoin_with_windowgrouplimit(spark, Q):
    """Bulk ANN join plan shape: candidates come from a hash equi-join on
    the band keys (never cartesian / broadcast-nested-loop), the exact
    cosine stays JVM-side, and the per-query top-k pushes down to
    WindowGroupLimit (partial per-map-task top-k before the shuffle)."""
    p = plan_of(Q.q_ann_join(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p  # band kernel is Arrow, cosine is JVM


def test_ivf_join_is_list_equijoin_vector_free_with_windowgrouplimit(spark, Q):
    """IVF ANN join plan shape: the inverted-list candidate join is a hash
    equi-join on cid whose exchange (broadcast at this scale, shuffled at
    corpus scale) carries ONLY (id, cid) rows — the vector-free posture
    every bucketed exchange in this package pins; the embedding crosses a
    keyed exchange at most once per side (the id join-backs of the exact
    rerank); per-query top-k pushes down to WindowGroupLimit. List
    assignment and probing are one Arrow kernel per side (two nodes),
    never per-row BatchEvalPython."""
    vec_markers = ("_v_query_id#", "_v_neighbor_id#")
    df = Q.q_ivf_kmeans(spark, SF)
    p = plan_of(df)
    assert "WindowGroupLimit" in p
    assert p.count("ArrowEvalPython") == 2
    assert "BatchEvalPython" not in p
    exs = exchange_inputs(df)
    cid_exs = [
        (args, inputs) for args, inputs in exs
        if any(c.startswith("cid#") for c in inputs.split(", "))
    ]
    assert cid_exs  # the list equi-join exists and moves (id, cid) rows
    for args, inputs in cid_exs:
        assert not any(v in inputs for v in vec_markers), (args, inputs)
    n_vec = sum(1 for _, i in exs if any(v in i for v in vec_markers))
    assert n_vec <= 2, exs


def test_lsh_band_exchanges_are_vector_free(spark, Q):
    """r3 verdict finding #1: the band shuffles of the embedding LSH pair
    finder and the bulk ANN join must carry ONLY (id, band-key) rows — the
    768-dim payload would otherwise ride the exchange ``bands`` times. The
    vectors join back by id afterwards, so at most two exchanges total
    (one per pair side) may carry an embedding column."""
    from texteller_spark.operators.dedup import release_caches

    cases = (
        (Q.q_embedding_lsh, ("_v#", "_va#", "_vb#")),
        (Q.q_ann_join, ("_v_query_id#", "_v_neighbor_id#")),
    )
    try:
        for qfn, vec_markers in cases:
            exs = exchange_inputs(qfn(spark, SF))
            assert exs, qfn.__name__  # the band join exists and shuffles
            for args, inputs in exs:
                if "band" in args:  # a band-keyed exchange: must be narrow
                    assert not any(v in inputs for v in vec_markers), (
                        qfn.__name__, args, inputs,
                    )
            n_vec = sum(
                1 for _, inputs in exs if any(v in inputs for v in vec_markers)
            )
            assert n_vec <= 2, (qfn.__name__, exs)
    finally:
        release_caches()


def test_lsh_plane_sign_margins_are_engine_safe(spark, Q):
    """Bucket membership is engine-independent only if no |plane . v| is
    within float-summation noise of zero. Pin a 1e-9 floor (observed ~3e-4
    on driver data vs ~1e-15 cross-engine noise)."""
    import duckdb
    import numpy as np

    from texteller_spark.operators.similarity import plane_matrix

    emb = (
        duckdb.sql(f"SELECT embedding FROM '{SF}/embeddings.parquet'")
        .fetchnumpy()["embedding"]
    )
    mat = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
    planes = plane_matrix(mat.shape[1], 32)
    assert np.abs(mat @ planes.T).min() > 1e-9


def _midpoint_margin(vals, digits: int) -> float:
    """Smallest distance of any value from a rounding midpoint at
    ``digits`` decimals: how far a value may drift before it rounds
    differently."""
    import numpy as np

    scaled = np.asarray(vals) * 10.0**digits
    return float((np.abs(scaled - np.floor(scaled) - 0.5) / 10.0**digits).min())


def test_blas_distance_forms_round_like_sequential_sums(spark):
    """The clustering kernels compute squared L2 as ``|x|²-2x·c+|c|²`` and
    cosine as a normalized matmul; the DuckDB oracles sum element by
    element. The two must round equal (6 digits for the k-means distance,
    4 for the SemDeDup cosine), and no sequential value may sit within
    100x the largest form difference of a rounding midpoint — otherwise
    equality on these fixtures would be luck, not a margin."""
    import duckdb
    import numpy as np

    emb = (
        duckdb.sql(f"SELECT embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id")
        .fetchnumpy()["embedding"]
    )
    x = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
    cents = x[:8]  # the catalog's Forgy seeds: the 8 lowest vec_ids

    blas_d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)
    seq_d2 = np.zeros_like(blas_d2)
    for i in range(x.shape[1]):
        seq_d2 = seq_d2 + (x[:, None, i] - cents[None, :, i]) ** 2

    x = x[(x * x).sum(axis=1) > 0]  # zero rows have no cosine
    nrm = np.sqrt((x * x).sum(axis=1))
    u = x / nrm[:, None]
    blas_cos = u @ u.T
    seq_dot = np.zeros_like(blas_cos)
    for i in range(x.shape[1]):
        seq_dot = seq_dot + x[:, None, i] * x[None, :, i]
    pairs = np.triu_indices(len(x), 1)  # the pair rule reads a < b only
    blas_cos = blas_cos[pairs]
    seq_cos = (seq_dot / (nrm[:, None] * nrm[None, :]))[pairs]

    for blas, seq, digits in ((blas_d2, seq_d2, 6), (blas_cos, seq_cos, 4)):
        assert np.array_equal(np.round(blas, digits), np.round(seq, digits)), digits
        diff = float(np.abs(blas - seq).max())
        assert _midpoint_margin(seq, digits) > 100 * diff, (digits, diff)


def test_chunked_pipeline_costs_exactly_two_exchanges(spark):
    """W5 plan shape: one repartition to spread chunks + the final
    groupBy(url) — no third shuffle may sneak in (the span payload is the
    widest data in flight; an extra exchange of it would dominate)."""
    from texteller_spark.plans.pipeline import extract_pages_chunked
    from texteller_spark.sources.pages import pages_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(extract_pages_chunked(pages_from_documents(docs)))
    assert p.count("Exchange hashpartitioning") == 2


def test_span_table_is_one_span_udf_over_the_scan(spark):
    """S5 plan shape: the span table is the span UDF exploded over the
    scan — no exchange, and exactly two Python nodes (the page source UDF
    and the span UDF), not a detect → recognize UDF chain."""
    from texteller_spark.plans.pipeline import span_table
    from texteller_spark.sources.pages import pages_from_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(span_table(pages_from_documents(docs)))
    assert "Exchange" not in p
    assert p.count("ArrowEvalPython") == 2


def test_no_row_at_a_time_python_in_any_catalog_plan(spark, Q):
    """Global hygiene: NO catalog query may plan a BatchEvalPython node
    (row-at-a-time Python UDF — the 10-100x slow path), and every Python
    node takes and returns Arrow: ArrowEvalPython of an ``arrow_udf``,
    MapInArrow or FlatMapGroupsInArrow. No pandas-backed node
    (MapInPandas, FlatMapGroupsInPandas) and no ArrowEvalPython of a
    pandas eval type (``pandas_udf``, ``F.udf(useArrow=True)``). Streaming
    entries execute eagerly on build, so they are exercised by their
    oracle tests instead."""
    import re

    from pyspark.util import PythonEvalType

    arrow_eval = {PythonEvalType.SQL_SCALAR_ARROW_UDF, PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF}
    skip = {"stream_span_rates", "stream_first_seen"}
    for name, fn in Q.QUERIES.items():
        if name in skip:
            continue
        p = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in p, name
        assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p, name
        evals = re.findall(r"ArrowEvalPython \[.*\], (\d+)$", p, re.M)
        assert {int(t) for t in evals} <= arrow_eval, (name, evals)


def test_training_prep_has_no_join_and_no_broadcast(spark, Q):
    """p8 scale shape: the dedup survivor is a window over digest, NOT a
    join against a broadcast dup-set (an O(corpus) broadcast at web-scale
    dup rates — the round-2 verdict's #1 scale-killer). Exactly two hash
    exchanges: the digest window + the split groupBy."""
    p = plan_of(Q.q_training_prep(spark, SF))
    assert "Join" not in p
    assert "BroadcastExchange" not in p
    assert p.count("Exchange hashpartitioning") == 2
    # the shuffle carries narrow derived columns, never the text payload
    assert "WindowGroupLimit" in p or "Window" in p


def test_span_queries_keep_scan_pruned(spark, Q):
    # metric-only queries over documents must not drag the full text column
    # through a shuffle: the scan projects, the agg is partial+final
    p = plan_of(Q.q_token_stats(spark, SF))
    assert "partial_" in p


def test_partitioned_layout_prunes_at_scan(spark, tmp_path):
    """Production layout discipline: the pages table partitioned by crawl
    date (the parquet projection of Iceberg's days(warc_ts) transform) must
    prune non-matching partitions AT THE SCAN — a date-filtered query on a
    10^12-row table may only touch its day's files."""
    from pyspark.sql import functions as F

    from texteller_spark.sources.pages import pages_df

    out = str(tmp_path / "pages_by_day")
    pages = pages_df(spark, 120, partitions=4).withColumn(
        "crawl_date", F.to_date("warc_ts")
    )
    pages.write.partitionBy("crawl_date").mode("overwrite").parquet(out)

    one_day = (
        spark.read.parquet(out).filter(F.col("crawl_date") == "2024-01-02")
    )
    p = plan_of(one_day)
    assert "PartitionFilters" in p and "crawl_date" in p.split("PartitionFilters", 1)[1][:200]
    # pruning is real: only day-2 rows are read (24 pages/day at 3600s steps)
    assert one_day.count() == 24


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located fact-to-fact joins at 10^12 rows: two tables bucketed on
    the join key must sort-merge join with ZERO Exchange — the bucketing
    claim in SURVEY §4 pinned as a plan property."""
    from pyspark.sql import functions as F

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{tmp_path / 'wh'}'"
    )
    try:
        docs = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
        )
        for name in ("bk_a", "bk_b"):
            (docs.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
             .option("path", str(tmp_path / name))
             .saveAsTable(f"buckdemo.{name}"))
        # hint a merge join (at test size AQE would broadcast, hiding the
        # property under test: the bucketed layout itself co-partitions)
        j = spark.table("buckdemo.bk_a").join(
            spark.table("buckdemo.bk_b").hint("merge"), "doc_id"
        )
        p = plan_of(j)
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p  # bucket layout co-partitions
        assert j.count() == 2000
    finally:
        spark.sql("DROP DATABASE IF EXISTS buckdemo CASCADE")


def test_pack_sequences_prefix_sum_is_distributed(spark, Q):
    # the two-level prefix sum: the ONLY single-partition exchange feeds the
    # one-row-per-bucket subtotal window; the per-doc running-sum window is
    # partitioned by bucket; the bucket prefix comes back via broadcast.
    # A regression to the naive `sum() over (order by id)` would put the
    # whole table through Exchange SinglePartition — the classic one-task
    # scale killer this pin exists to catch.
    p = plan_of(Q.q_pack_sequences(spark, SF))
    assert p.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in p
    # per-doc window is partitioned: its spec lists the bucket column
    assert "windowspecdefinition(_psb" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_blocklist_is_broadcast_anti_join(spark, Q):
    # the bounded blocklist must broadcast (never shuffle the corpus for a
    # 3-row exclusion list) and the whole URL chain stays JVM-side
    p = plan_of(Q.q_blocklist(spark, SF))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_incremental_dedup_shuffles_no_text(spark, Q):
    # the rolling-ingest dedup decision: every keyed exchange carries only
    # narrow columns (id/digest/band keys) — a regression that shuffles the
    # text column would turn the per-snapshot probe into a corpus-sized
    # shuffle at 100 TB. (_widen's RoundRobin repartition before the Arrow
    # signature kernel legitimately carries text and is a no-op on
    # file-backed corpora with adequate splits — excluded.)
    p = plan_of(Q.q_incremental_dedup(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line
    assert "ArrowEvalPython" in p  # the signature kernels, nothing else
    assert "BatchEvalPython" not in p


def test_minhash_band_exchanges_are_signature_free(spark, Q):
    """The r3 embedding-LSH payload finding applies to MinHash too: the
    banded self-join (and the incremental new-vs-seen band join) must
    shuffle only (id, band_id, band_hash) rows — the 64-long signature
    would otherwise ride the band exchange ``bands`` (=16) times. The
    signatures join back by id onto the deduplicated pairs, so at most two
    keyed exchanges total (one per pair side) may carry a minhash column.
    (The simhash chunk join is exempt by design: its signature is ONE long,
    smaller than the band key row — inline carry IS the narrow form.)"""
    from texteller_spark.operators.dedup import release_caches

    try:
        for qfn in (Q.q_minhash_lsh, Q.q_incremental_dedup):
            exs = exchange_inputs(qfn(spark, SF))
            assert exs, qfn.__name__  # the band join exists and shuffles
            for args, inputs in exs:
                if "band" in args:  # a band-keyed exchange: must be narrow
                    assert "minhash#" not in inputs and "sig_" not in inputs, (
                        qfn.__name__, args, inputs,
                    )
            n_sig = sum(
                1
                for _, inputs in exs
                if "minhash#" in inputs or "sig_" in inputs
            )
            assert n_sig <= 2, (qfn.__name__, exs)
    finally:
        release_caches()


def test_exact_substring_salted_join_plan_shape(spark):
    """salt_buckets widens the occurrence join key to (_h, _salt) — the
    deterministic hot-key spread — while keeping every prior pin: both
    joins stay shuffle strategies (no auto-broadcast of unbounded
    aggregates) and no text rides a keyed exchange."""
    from texteller_spark.operators.dedup import (
        release_caches,
        remove_repeated_substrings,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    try:
        out = remove_repeated_substrings(df, window=8, salt_buckets=8)
        plan = plan_of(out)
        assert "BroadcastHashJoin" not in plan
        import re

        m = re.search(r"ShuffledHashJoin \[([^\]]*)\]", plan)
        assert m and "_h" in m.group(1) and "_salt" in m.group(1), plan[:2000]
        for args, inputs in exchange_inputs(out):
            # the counting/occurrence exchanges (keyed on the window hash)
            # must stay 20-byte narrow; the single doc_id-keyed text join
            # at the end is the contract's one full-text movement
            if "hashpartitioning(_h" in args:
                assert "text#" not in inputs and "_toks#" not in inputs, (
                    args,
                    inputs,
                )
    finally:
        release_caches()


def test_star_edges_exchanges_narrow_and_no_self_join(spark):
    """Bucket-star mode's whole point is the scale posture: NO band
    self-join (the signature kernel runs once, unmaterialized), and every
    exchange narrow — neither the 64-long minhash signature nor the text
    may ride the window-min or edge-dedup shuffles."""
    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import minhash_band_star_edges

    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    edges = minhash_band_star_edges(df, bands=16)
    exs = exchange_inputs(edges)
    assert exs  # window-min + dedup exchanges exist
    for args, inputs in exs:
        if "RoundRobinPartitioning" in args:
            continue  # _widen's parallelism spread — pre-kernel, unkeyed
        assert "minhash#" not in inputs and "text#" not in inputs, (args, inputs)
    # one signature kernel: exactly one ArrowEvalPython node in the plan
    plan = plan_of(edges)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_exact_substring_dedup_shuffles_no_text(spark, Q):
    # EXACTSUBSTR's counting aggregate and coverage join must move only
    # (id, pos, hash) / (id, token-position) rows; the document text rides
    # a keyed exchange at most once, in the final rebuild join — at 100 TB
    # the window-hash shuffle dominates and must stay ~20 bytes/row.
    p = plan_of(Q.q_exact_substring(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # NOTHING broadcasts here: the dup-hash set and the coverage arrays are
    # unbounded aggregates (boilerplate-heavy crawls duplicate most
    # windows) — an auto-broadcast of either OOMs at scale (measured at
    # 100k docs), so both joins are pinned to shuffle strategies
    assert "BroadcastExchange" not in p, p
    n_text = 0
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line and "text#" in line:
            n_text += 1
    assert n_text <= 1, p
    assert "ArrowEvalPython" in p  # the rolling window-hash kernel
    assert "BatchEvalPython" not in p


def test_vocab_topk_is_partial_agg_plus_take_ordered(spark, Q):
    # corpus vocabulary: map-side partial count before the shuffle, global
    # top-k via TakeOrderedAndProject — never a full sort of the vocabulary
    p = plan_of(Q.q_vocab_topk(spark, SF))
    assert "partial_count" in p or "Partial" in p
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_nfc_normalize_is_single_arrow_kernel_no_shuffle(spark, Q):
    # one Arrow round-trip (the NFC kernel), zero exchanges: the scrub
    # regexp fuses into codegen around it
    p = plan_of(Q.q_nfc_normalize(spark, SF))
    assert p.count("ArrowEvalPython") == 1
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_link_graph_shuffles_pairs_not_html(spark, Q):
    # anchor extraction happens at the scan; the single hash exchange
    # carries only the (src, dst) string pair — shuffling page bodies at
    # 100 TB is the regression this pins against
    p = plan_of(Q.q_link_graph(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "html" not in line, line
    assert "EvalPython" not in p


def test_domain_rank_has_no_cartesian_and_one_row_broadcast_only(spark, Q):
    # the node count enters every round as a one-row broadcast (the only
    # sanctioned nested-loop join); node-keyed joins must stay hash-based
    # so the iteration scales with domains, not pages
    p = plan_of(Q.q_domain_rank(spark, SF))
    assert "CartesianProduct" not in p
    # rank mass flows through hash joins/aggregations on node keys
    assert "Exchange hashpartitioning" in p
    assert "EvalPython" not in p


def test_dedup_paragraphs_is_scan_only(spark, Q):
    # in-doc keep-first segment dedup is entirely in-row JVM higher-order
    # functions: zero exchanges, zero Python — it must run at scan speed
    p = plan_of(Q.q_dedup_paragraphs(spark, SF))
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_mixture_and_lr_are_single_agg_scans(spark, Q):
    # stratified sampling + the LR quality classifier each cost exactly one
    # hash exchange (the final narrow-key aggregation); every feature is a
    # codegen expression computed during the scan
    for fn in (Q.q_sample_mixture, Q.q_quality_lr):
        p = plan_of(fn(spark, SF))
        assert p.count("Exchange hashpartitioning") == 1, fn.__name__
        assert "EvalPython" not in p, fn.__name__


def test_kmeans_assignment_is_map_only_broadcast(spark):
    # assignment is a scan-speed map: one Arrow kernel per batch against
    # the driver's centroid matrix — an Exchange or CartesianProduct means
    # the embedding started moving to meet its centroids
    from texteller_spark.operators.clustering import assign_clusters, seed_centroids

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(assign_clusters(e, seed_centroids(e, 8)))
    assert "ArrowEvalPython" in p
    assert "Exchange" not in p
    assert "CartesianProduct" not in p


def test_semantic_dedup_pairs_join_is_cluster_keyed(spark, Q):
    # the pair space must be keyed on the cluster id (the SemDeDup
    # bound) — an unkeyed theta join would re-derive the O(n^2) baseline:
    # the grouped pair kernel groups on cid, its one exchange partitions
    # on cid, and no join or cartesian product pairs rows outside it
    import re

    p = plan_of(Q.q_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert not [l for l in p.splitlines() if "Join" in l], p
    groups = re.findall(r"FlatMapGroupsInArrow \[([^\]]*)\]", p)
    assert groups and all(re.fullmatch(r"cid#\d+L?", g) for g in groups), groups
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]*)", p)
    assert exchanges and all(e.startswith("cid#") for e in exchanges), exchanges


def test_semantic_dedup_arrow_is_one_shuffle(spark, Q):
    # vectors move exactly once: the cid-keyed exchange feeding the
    # grouped pair kernel, so the pair space is keyed on the cluster id
    # (the SemDeDup bound — an unkeyed theta join would re-derive the
    # O(n^2) baseline); assignment adds an Arrow eval, never row-at-a-time
    # Python
    p = plan_of(Q.q_semantic_dedup(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(cid" in p
    assert "FlatMapGroupsInArrow" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
