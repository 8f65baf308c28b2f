"""Pins on the query registry and the correctness-gate window.

The driver checks the FIRST 50 entries of ``queries()`` against their
oracles. These tests pin that window's composition so adding a query can
never silently push a SURVEY §2 operator or a flagship extension out of
the gate.
"""

from __future__ import annotations

from bravo_spark.inventory.registry import GATE_PRIORITY


def _entry():
    import __spark_entry__ as e

    return e


def test_gate_priority_is_exactly_the_window():
    assert len(GATE_PRIORITY) == 50
    assert len(set(GATE_PRIORITY)) == 50, "duplicate names in GATE_PRIORITY"


def test_gate_priority_names_all_registered():
    qs = _entry().queries()
    missing = [n for n in GATE_PRIORITY if n not in qs]
    assert not missing, f"GATE_PRIORITY names not registered: {missing}"


def test_first_window_is_gate_priority_in_order():
    qs = list(_entry().queries())
    assert qs[: len(GATE_PRIORITY)] == GATE_PRIORITY


def test_coverage_totals_match_registry():
    """COVERAGE.md's headline totals line must equal ``len(QUERIES)`` —
    the r13 verdict found it stale at "179" two rounds running (the r12
    post-freeze registrations and nested_state_rewrite never bumped it).
    Generated-from-registry isn't possible for a markdown file, so this
    pin is the enforcement: registering a query without updating the
    ledger headline now fails the suite."""
    import pathlib
    import re

    qs = _entry().queries()
    text = pathlib.Path(__file__).resolve().parents[1].joinpath(
        "COVERAGE.md").read_text()
    m = re.search(r"\*\*Totals: (\d+) queries\*\*", text)
    assert m, "COVERAGE.md headline '**Totals: N queries**' not found"
    assert int(m.group(1)) == len(qs), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(qs)}")


def test_every_gate_query_has_an_oracle():
    # the gate window must produce hash-checked rows, not weaker rows-only
    # checks — so every windowed query needs DuckDB oracle SQL
    osql = _entry().oracle_sql()
    missing = [n for n in GATE_PRIORITY if n not in osql]
    assert not missing, f"gate queries without oracles: {missing}"


def test_flagship_families_inside_window():
    window = set(GATE_PRIORITY)
    for name in (
        "snapshot_roundtrip", "checkpoint_roundtrip",
        "rocksdb_state_rewrite",
        # r19 rotation: the r18-staged 15-swap flip — the r16 wave
        # rotated out after 3 consecutive driver-green rounds (r16-r18);
        # in their slots the four r4-last streaming/sessionization rows,
        # ten r5-last conformance rows, the deferred text_quality
        # re-proof, and the r18 net-new warc_html_extract
        # (pair-with-staging rule); the rotated-out relational/window/
        # chunking/semantic-dedup/state-diff paths stay retained per
        # registry.py per-pair comments
        "f2_isin_filter", "f3_anti_filter", "a2_count_sum_per_key",
        "sort_topk", "join_enrich",
        "sessionize", "p2_value_only",
        "p3_list_flatten", "ann_cosine_topk",
        "streaming_session_windows", "streaming_stream_stream_join",
        "text_quality",
        "warc_html_extract", "streaming_dedup_counts",
        # r14 rotation: the r13-staged 15-swap flip — first driver check
        # for ALL remaining never-checked rows (recall evals, BPE
        # trainer, multimodal engine-API trio, text tail, the three r12
        # post-freeze sources, nested_state_rewrite); the rotated-out
        # source/sampling/media/kryo rows' paths stay retained per
        # registry.py per-pair comments
        # r17 rotation: the r16-staged 15-swap flip — the r14 wave
        # rotated out after 3 consecutive driver-green rounds (r14-r16);
        # in their slots the final four r2 re-proof rows plus the
        # eleven r16 net-new registrations (pair-with-staging rule);
        # the rotated-out recall-eval/multimodal/text/source/surgery
        # paths stay retained per registry.py per-pair comments
        "scalar_functions", "tpch_q10_returns", "tpch_q14_promo",
        "tpch_q18_having", "ann_ivf_index_search",
        "multimodal_orientation_normalize", "multimodal_exif_audit",
        "text_lm_perplexity_filter",
        "text_markup_strip", "text_chunk_tokens",
        "text_hash_features_classify",
        "avro_source_roundtrip", "warc_ingest",
        "phrase_search_index", "token_budget_pack",
        # r18 rotation: the r17-staged 16-swap flip — the r15 wave
        # rotated out after 3 consecutive driver-green rounds (r15-r17);
        # in their slots the ten oldest-last-check re-proof rows (two
        # r3-last, eight r4-last) plus first driver checks for the six
        # r17 net-new registrations (pair-with-staging rule); the
        # rotated-out relational/join/window/surgery paths stay retained
        # per registry.py per-pair comments
        "p6_map_values", "f4_named_subset", "ann_pq_topk",
        "ann_sketch_recall_eval", "dedup_simhash",
        "dedup_incremental_batch", "dedup_substring", "text_lang_id",
        # pipeline_clean_corpus took text_quality's slot: its contract
        # changed in r18 (composed url_dup stage) and changed-contract
        # rows re-prove in the same round's gate
        "pipeline_clean_corpus", "decontaminate_overlap",
        "warc_stream_ingest", "avro_stream_ingest",
        "ngram_lm_persist_score", "multimodal_exif_redact",
        "ann_ivf_index_stats", "dedup_url_canonical",
        # dedup/retrieval/streaming spine: the ngram row rotated out in
        # r16 after 14 driver-green rounds (stays benched + mirror-green);
        # the exact-hash baseline keeps a dedup row gated (SemDeDup
        # rotated out r19 after r16-r18 green), and the streaming
        # dedup/session/ss-join lifecycles above keep Structured
        # Streaming gated alongside the retained surgery rows
        "dedup_exact",
        "tpch_q3",
    ):
        assert name in window, f"{name} fell out of the correctness gate"


def test_oracle_and_query_keys_consistent():
    e = _entry()
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)


def test_gate_queries_have_driver_sortable_schemas(spark, sf_dir):
    """The driver canonicalizes results with pandas ``sort_values`` over
    every column; an array/map cell is unhashable there and burns the
    gate slot with a harness TypeError instead of a value check (the one
    red row in CORRECTNESS_r06, ``embedding_quantize``). Pin: no gate
    query may expose an ArrayType/MapType ANYWHERE in its schema — a
    struct cell materializes as a tuple, so a nested array inside it is
    just as unhashable — serialize to CSV/hex in the checked projection
    (engine APIs keep the typed columns)."""
    from pyspark.sql.types import ArrayType, DataType, MapType, StructType

    def unsortable(dt: DataType) -> bool:
        if isinstance(dt, (ArrayType, MapType)):
            return True
        if isinstance(dt, StructType):
            return any(unsortable(f.dataType) for f in dt.fields)
        return False

    from bravo_spark.inventory.registry import R20_STAGED_SWAPS

    qs = _entry().queries()
    offenders = []
    # the staged rotation INs are checked too: a staged query with an
    # unsortable schema would burn its very first gate slot on flip
    names = list(GATE_PRIORITY) + [i for _, i in R20_STAGED_SWAPS]
    for name in names:
        schema = qs[name](spark, sf_dir).schema
        for field in schema.fields:
            if unsortable(field.dataType):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, f"unsortable gate columns: {offenders}"


def test_staged_rotation_is_consistent():
    """The staged next-round rotation (registry.R20_STAGED_SWAPS) must
    stay executable: every OUT name is currently IN the gate window, every
    IN name is a registered query not currently gated (with the
    never-checked pool at zero since r14, INs are re-proof rows cycling
    back in, oldest last-check first), and the swap keeps the window at
    exactly 50 distinct names. Pins the staging as live data — the r7
    regression was a staged rotation that existed only in a comment and
    silently rotted."""
    from bravo_spark.inventory.registry import R20_STAGED_SWAPS

    qs = _entry().queries()
    window = set(GATE_PRIORITY)
    outs = [o for o, _ in R20_STAGED_SWAPS]
    ins = [i for _, i in R20_STAGED_SWAPS]
    assert len(set(outs)) == len(outs) and len(set(ins)) == len(ins)
    for o in outs:
        assert o in window, f"staged OUT {o} is not in the current gate"
    for i in ins:
        assert i in qs, f"staged IN {i} is not a registered query"
        assert i not in window, f"staged IN {i} is already gated"
    assert len(window - set(outs) | set(ins)) == 50


# --- r20: catalog.table_spread conditionality + driver-side split probe ----


def test_estimated_scan_splits_matches_rdd_probe(spark, sf_dir, tmp_path):
    """The driver-side FilePartition replay (catalog.estimated_scan_splits,
    r20 — replaces the per-call df.rdd.getNumPartitions() probe) must
    agree with Spark's real scan partitioning on both fixture shapes:
    the single-file one-row-group parquet and a many-file directory."""
    import os

    from bravo_spark import catalog

    p = os.path.join(sf_dir, "documents.parquet")
    est = catalog.estimated_scan_splits(spark, p)
    assert est == spark.read.parquet(p).rdd.getNumPartitions()

    many = str(tmp_path / "many.parquet")
    spark.range(50_000).repartition(8).write.parquet(many)
    est = catalog.estimated_scan_splits(spark, many)
    assert est == spark.read.parquet(many).rdd.getNumPartitions()
    assert est >= 2

    # a 'tb'-suffixed open cost: every file becomes its own split
    spark.conf.set("spark.sql.files.openCostInBytes", "1tb")
    try:
        est = catalog.estimated_scan_splits(spark, many)
        assert est == spark.read.parquet(many).rdd.getNumPartitions() == 8
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")

    # zero-byte files add neither a split nor an open cost
    for i in range(4):
        open(os.path.join(many, f"zz_empty_{i}.parquet"), "wb").close()
    est = catalog.estimated_scan_splits(spark, many)
    assert est == spark.read.schema("id long").parquet(
        many).rdd.getNumPartitions()

    # a partitioned layout is not replayed: the caller probes instead
    nested = str(tmp_path / "nested.parquet")
    spark.range(100).selectExpr("id", "id % 2 AS p").write.partitionBy(
        "p").parquet(nested)
    assert catalog.estimated_scan_splits(spark, nested) is None


def test_table_spread_spreads_fixture_and_noop_on_many_splits(
    spark, sf_dir, tmp_path
):
    """table_spread must round-robin the one-split fixture scan (the
    per-document codec rows would otherwise run on one core) and must be
    a NO-OP when the scan already yields >= cores/2 splits — the 100 TB
    posture: production inputs carry many files/row groups and get a
    plain scan with no extra exchange."""
    import os

    from bravo_spark import catalog

    p = catalog.table_spread(spark, sf_dir, "documents")
    assert "RoundRobinPartitioning" in p._jdf.queryExecution().executedPlan().toString()

    many_dir = str(tmp_path / "sfmany")
    os.makedirs(many_dir)
    spark.range(50_000).repartition(8).write.parquet(
        os.path.join(many_dir, "documents.parquet")
    )
    many = catalog.table_spread(spark, many_dir, "documents")
    plan = many._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
