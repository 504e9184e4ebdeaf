"""Physical-plan quality gates — the 100 TB design invariants asserted on
the actual Catalyst output, so a regression that silently de-optimizes the
plan (lost broadcast, surprise cartesian, missing partial agg, a second
scan of the input) fails CI rather than surfacing as a cluster incident."""

import re

import pyspark.sql.functions as F

from loongcollector_spark import flagship
from loongcollector_spark.synth import sequences_df


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_flagship_lookup_join_is_broadcast(spark, sf_dir):
    plan = _plan(flagship.pipeline_aggregates(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_flagship_aggregate_is_partial(spark, sf_dir):
    """Two HashAggregate nodes around the exchange = map-side combine."""
    plan = _plan(flagship.pipeline_aggregates(spark, sf_dir))
    aggs = plan.count("HashAggregate")
    assert aggs >= 2


def test_aggregate_path_has_no_prewrite_shuffle(spark, sf_dir):
    """pipeline_aggregates must NOT contain the (source, route_key)
    repartition — only the tiny aggregate exchange (partition=False path)."""
    plan = _plan(flagship.pipeline_aggregates(spark, sf_dir))
    assert "REPARTITION_BY_COL" not in plan


def test_routed_write_path_has_explicit_repartition(spark, sf_dir):
    plan = _plan(flagship.routed(spark, sf_dir))
    assert "hashpartitioning(source" in plan or "REPARTITION_BY_COL" in plan


def test_scan_prunes_columns(spark, sf_dir):
    """A 2-column projection over the events scan must not read all columns."""
    seq = sequences_df(spark, sf_dir)
    plan = _plan(seq.select("doc_id", "source"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    # doc_id/source derive from event_id+user_id etc.; the heavy `props`
    # string column must be pruned away
    assert "props" not in cols
    assert "value" not in cols


def test_brute_topk_broadcasts_queries(spark, sf_dir):
    from loongcollector_spark.dataops.queries import q_embed_topk

    plan = _plan(q_embed_topk(spark, sf_dir))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_joins_are_equijoins(spark, sf_dir):
    from loongcollector_spark.dataops.queries import q_dedup_minhash

    plan = _plan(q_dedup_minhash(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prom_relabel_chain_is_narrow(spark):
    """A full relabel chain (append + 6 actions + cleanup + external labels)
    must compile to ONE narrow projection tree: no Exchange, no join, no
    Python stage."""
    from loongcollector_spark.operators.relabel import PromRelabelProcessor, RelabelConfig

    df = spark.createDataFrame(
        [(1, {"__name__": "m", "code": "200", "host": "h"})],
        "i long, tags map<string,string>",
    )
    proc = PromRelabelProcessor(
        configs=(
            RelabelConfig(action="keep", regex="2..", source_labels=["code"]),
            RelabelConfig(action="replace", regex="(.*)", replacement="$1:9100",
                          source_labels=["host"], target_label="addr"),
            RelabelConfig(action="hashmod", source_labels=["host"],
                          target_label="shard", modulus=4),
            RelabelConfig(action="labelmap", regex="(co)de", replacement="$1"),
            RelabelConfig(action="labeldrop", regex="host"),
            RelabelConfig(action="lowercase", source_labels=["addr"], target_label="addr_lc"),
        ),
        target_tags={"job": "x"},
        external_labels={"cluster": "c"},
    )
    plan = _plan(proc.apply(df))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_geoip_join_is_broadcast(spark):
    """The range lookup must broadcast the dim (BroadcastNestedLoopJoin for
    the BETWEEN condition) — never a shuffle join or unhinted cartesian."""
    from loongcollector_spark.operators.base import to_events
    from loongcollector_spark.operators.enrich import GeoIpProcessor

    ranges = spark.createDataFrame(
        [(0, 100, "c", "p", "pc", "C", "CC", 1.0, 2.0)],
        "lo long, hi long, city string, province string, province_code string, "
        "country string, country_code string, latitude double, longitude double",
    )
    ev = to_events(spark.createDataFrame([(1, "10.0.0.1")], ["i", "content"]), source_key="ip")
    plan = _plan(GeoIpProcessor(ranges, source_key="ip").apply(ev))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_star_cap_has_no_window(spark):
    """n_anchors=1 capping must use the groupBy+min path — a bucket-keyed
    Window sort would re-introduce a per-bucket sort stage."""
    from loongcollector_spark.dataops import text

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)], ["doc_id", "text"]
    )
    plan = _plan(text.minhash_candidate_pairs(docs, max_bucket=64))
    assert "Window" not in plan


def test_otel_metric_rows_are_single_pass(spark):
    """OTLP metric conversion = from_json + explodes + one projection; no
    shuffle, no Python."""
    from loongcollector_spark.operators.base import to_events
    from loongcollector_spark.operators.otel import OtelMetricParser

    df = to_events(spark.createDataFrame([(1, "{}")], ["i", "content"]))
    plan = _plan(OtelMetricParser().apply(df))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan


def _tree_lines(plan: str):
    return plan.split("\n\n")[0].splitlines()


def _has_imr_ancestor(lines, i):
    """True if some line above i at strictly smaller tree indent contains
    InMemoryRelation (i.e. line i sits inside a cached-build subtree)."""
    indent = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    for j in range(i - 1, -1, -1):
        jind = len(lines[j]) - len(lines[j].lstrip(" :+-"))
        if jind < indent and "InMemoryRelation" in lines[j]:
            return True
        if jind == 0:
            break
    return False


def test_minhash_signature_built_once(spark):
    """The MinHash signature build (the k-way min SortAggregate over exploded
    shingles) must exist only INSIDE the persisted band frame's
    InMemoryRelation — every bucket-stats / pair-join / star reference reads
    the one materialization instead of re-running scan→shingle→aggregate
    (the re-inlining trap that made dedup_minhash rebuild signatures ~8×)."""
    from loongcollector_spark.dataops import text

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(30)],
        ["doc_id", "text"],
    )
    try:
        plan = _plan(text.minhash_near_dup_pairs(docs, threshold=0.5))
        lines = _tree_lines(plan)
        assert any("InMemoryRelation" in l for l in lines), "band frame not cached"
        for i, l in enumerate(lines):
            # SortAggregate only appears in the signature build (min over
            # md5-hashed shingles); everything outside the cache must not
            # contain one
            if "SortAggregate" in l:
                assert _has_imr_ancestor(lines, i), (
                    "signature SortAggregate outside the cached band build:\n" + l
                )
    finally:
        spark.catalog.clearCache()


def test_decode_repartition_only_on_narrow_scans(spark, sf_dir, tmp_path):
    """The tiny-parquet fix (repartition to defaultParallelism) must NOT
    insert a RoundRobin Exchange when the scan already yields >= 1 partition
    per core — at real scale that would shuffle the whole raw table before
    the decode stage."""
    import os

    # multi-file input read with a tiny maxPartitionBytes -> scan is already
    # wide -> no repartition node
    src = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    wide_dir = str(tmp_path / "events.parquet")
    src.repartition(8).write.parquet(wide_dir)
    conf = spark.conf
    old = conf.get("spark.sql.files.maxPartitionBytes")
    try:
        conf.set("spark.sql.files.maxPartitionBytes", "16384")
        wide = sequences_df(spark, str(tmp_path))
        assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        plan = _plan(wide)
        assert "RoundRobinPartitioning" not in plan and "REPARTITION_BY_NUM" not in plan
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old)

    # single tiny file -> the widening repartition IS applied
    narrow = sequences_df(spark, sf_dir)
    plan = _plan(narrow)
    assert "RoundRobinPartitioning" in plan or "REPARTITION_BY_NUM" in plan


def _assert_single_path(tree: str) -> None:
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("MapInPandas") == 1, tree
    assert "Union" not in tree, tree


def test_fused_pipeline_has_single_scan(spark, sf_dir):
    """The flagship is the not-source-partitioned 100 TB shape: exactly ONE
    parquet scan and ONE Python decode stage for all three formats, and no
    per-source Union."""
    tree = _plan(flagship.pipeline_aggregates(spark, sf_dir)).split("\n\n")[0]
    _assert_single_path(tree)
    assert "BroadcastHashJoin" in tree and "SortMergeJoin" not in tree


def test_routed_write_path_has_single_scan(spark, sf_dir):
    _assert_single_path(_plan(flagship.routed(spark, sf_dir)).split("\n\n")[0])


def test_gopher_repetition_builds_grams_once(spark, sf_dir):
    """The words split and each gram array must be built ONCE per row (the
    CollapseProject re-inlining trap): one split(lower(..)), one concat_ws
    tree per gram order, one sort_array per max_multiplicity — and no
    shuffle at all (pure per-row folds)."""
    from loongcollector_spark.dataops import text

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(text.gopher_repetition(df))
    assert plan.count("concat_ws") == 2, plan
    import re

    assert len(re.findall(r"split\(lower", plan)) == 1, plan
    assert plan.count("sort_array") == 2, plan
    assert "Exchange" not in plan


def test_decontaminate_probe_is_broadcast(spark, sf_dir):
    """The eval-gram probe must be a broadcast hash join (eval sets are
    small); the train side shuffles only for the final per-doc agg."""
    from loongcollector_spark.dataops import text

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = text.decontaminate(
        df.filter("doc_id % 29 <> 0"), df.filter("doc_id % 29 = 0")
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_syslog_parse_is_narrow(spark, sf_dir):
    """Both syslog protocol matchers are let-bound into ONE narrow
    projection: no Exchange, no Join, no Python stage, and each anchored
    regex appears exactly once as a match predicate."""
    from loongcollector_spark.queries import q_parse_syslog

    plan = _plan(q_parse_syslog(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_influx_decode_single_generate(spark, sf_dir):
    """Line-protocol decode: scan → let-bound parse → ONE Generate (the
    per-field explode) → projection. No Exchange, no Python."""
    from loongcollector_spark.queries import q_influx_decode

    plan = _plan(q_influx_decode(spark, sf_dir))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Generate") <= 2  # one explode node (+header mention)


def test_statsd_decode_is_narrow(spark, sf_dir):
    from loongcollector_spark.queries import q_statsd_decode

    plan = _plan(q_statsd_decode(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_pyroscope_decode_is_narrow(spark, sf_dir):
    """Profile decode: scan → let-bound request parse → ONE Generate (the
    per-stack-line explode) → narrow projection. Default (JVM xxhash64)
    tier: no Exchange, no Join, no Python stage."""
    from loongcollector_spark.queries import q_pyroscope_decode

    plan = _plan(q_pyroscope_decode(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Generate") <= 2  # one explode node (+header mention)


def test_span_dedup_sentence_frame_built_once(spark):
    """c4_span_dedup feeds three consumers from the sentence frame; the
    scan+split must materialize once (InMemoryRelation) with every consumer
    reading InMemoryTableScan — not three parquet re-scans."""
    from loongcollector_spark.dataops import text as T

    docs = spark.createDataFrame(
        [(i, "A one. B two. C three. D four.") for i in range(10)],
        ["doc_id", "text"],
    )
    try:
        plan = _plan(T.c4_span_dedup(docs))
        lines = _tree_lines(plan)
        assert any("InMemoryRelation" in l for l in lines), "sentence frame not cached"
        n_imts = sum("InMemoryTableScan" in l for l in lines)
        assert n_imts >= 3, f"expected >=3 cached reads, got {n_imts}"
        # no consumer may re-run the sentence split outside the cached build
        for i, l in enumerate(lines):
            if "split(" in l and not _has_imr_ancestor(lines, i):
                raise AssertionError("sentence split outside the cached build:\n" + l)
    finally:
        spark.catalog.clearCache()


def test_spl_time_stats_plan_matches_flagship_aggregate(spark, sf_dir):
    """The SPL-compiled windowed stats must plan exactly like the native
    flagship aggregate: broadcast lookup (never SMJ), partial/final
    HashAggregate pair, and a single non-broadcast exchange."""
    from loongcollector_spark.queries import q_spl_time_stats

    plan = _plan(q_spl_time_stats(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine
    tree = plan.split("\n\n")[0]
    shuffles = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "SinglePartition" not in ln
    ]
    assert len(shuffles) == 1, shuffles


def test_skywalking_segment_plan(spark, sf_dir):
    """SegmentObject decode: resource lookup broadcast (never SMJ), exactly
    one Generate (the span explode), no Python stage."""
    from loongcollector_spark.queries import q_skywalking_segment

    plan = _plan(q_skywalking_segment(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    tree = plan.split("\n\n")[0]
    assert sum("Generate" in ln for ln in tree.splitlines()) == 1
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_canal_and_meter_plans_narrow(spark, sf_dir):
    """canal row events and skywalking meter decode: single Generate, no
    shuffle, no join, no Python — the pure ingest-scan shape."""
    from loongcollector_spark.queries import q_canal_row_events, q_skywalking_meter

    for q in (q_canal_row_events, q_skywalking_meter):
        plan = _plan(q(spark, sf_dir))
        tree = plan.split("\n\n")[0]
        assert sum("Generate" in ln for ln in tree.splitlines()) == 1, q
        assert "Exchange" not in tree, q
        assert "Join" not in tree, q
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, q


def test_k8smeta_plans_narrow(spark, sf_dir):
    """k8s meta conversion is the pure scan shape: entity CASE projection has
    no shuffle/join/Python and only the container branch generates (explode);
    the union stays a per-branch narrow map."""
    from loongcollector_spark.queries import (
        q_k8s_links,
        q_k8s_pod_entities,
        q_k8s_workload_entities,
    )

    for q in (q_k8s_pod_entities, q_k8s_workload_entities, q_k8s_links):
        plan = _plan(q(spark, sf_dir))
        tree = plan.split("\n\n")[0]
        assert "Exchange" not in tree, q
        assert "Join" not in tree, q
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, q
    # workload entities: single-pass CASE projection, no Generate at all
    wplan = _plan(q_k8s_workload_entities(spark, sf_dir)).split("\n\n")[0]
    assert "Generate" not in wplan


def test_skywalking_v2_plan(spark, sf_dir):
    """v2 segment decode: both registry lookups (instances, endpoints)
    broadcast — never SMJ — with exactly one Generate (the span explode)
    and no Python stage."""
    from loongcollector_spark.queries import q_skywalking_v2_segment

    plan = _plan(q_skywalking_v2_segment(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert sum("Generate" in ln for ln in tree.splitlines()) == 1
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_hostmeta_plan_is_pure_scan(spark, sf_dir):
    """MetaNode conversion is a per-row projection: no shuffle beyond the
    fixture's own distinct, no join, no Generate, no Python."""
    from loongcollector_spark.operators.hostmeta import HostMetaConverter

    procs = spark.range(8).select(
        F.lit("h").alias("hostname"), F.lit("1.1.1.1").alias("ip"),
        F.lit("hid").alias("host_id"), (F.col("id") + 1).alias("pid"),
        F.col("id").alias("start_time"), F.lit("cmd x").alias("cmd"),
        F.lit("/bin/x").alias("exe"), F.lit("x").alias("comm"),
        F.lit(1).alias("ppid"), F.lit(5).alias("rss"),
    )
    plan = _plan(HostMetaConverter().process_nodes(procs))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree and "Join" not in tree
    assert "Generate" not in tree
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_line_dedup_plan(spark, sf_dir):
    """Duplicate-line election must be partial-aggregatable (HashAggregate
    pairs), the flag join an equi-join (no cartesian), and no window over
    the raw line rows."""
    from loongcollector_spark.dataops.queries import q_line_dedup

    plan = _plan(q_line_dedup(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_semdedup_pairwise_is_cell_scoped(spark, sf_dir):
    """The SemDeDup pairwise pass joins on the cell key — the plan must show
    an equi-join (hash or SMJ on __cell__), never a cartesian product."""
    from loongcollector_spark.dataops.queries import q_semdedup

    plan = _plan(q_semdedup(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_r4b_decoder_plans_narrow(spark, sf_dir):
    """redis INFO / wineventlog / ES bulk / pprof / jfr plan shapes:
    the scan-shaped ones are pure projections (no Exchange/Join); the
    binary profile decoders are ONE MapInPandas pass with no shuffle below
    it; the ES bulk frame has exactly ONE Exchange (the sink-key partial
    agg pair)."""
    from loongcollector_spark.queries import (
        q_flusher_es_bulk,
        q_jfr_profile,
        q_pprof_profile,
        q_redis_info,
        q_wineventlog,
    )

    for q in (q_redis_info, q_wineventlog):
        plan = _plan(q(spark, sf_dir))
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan

    for q in (q_pprof_profile, q_jfr_profile):
        plan = _plan(q(spark, sf_dir))
        assert "Exchange" not in plan
        assert "Join" not in plan
        # one decode pass (tree node + its detail header = 2 mentions)
        assert plan.count("MapInPandas") <= 2

    plan = _plan(q_flusher_es_bulk(spark, sf_dir))
    # one shuffle node (tree + detail header = 2 mentions), partial-agg pair
    assert plan.count("Exchange") <= 2
    assert plan.count("ObjectHashAggregate") == 4
    assert "Join" not in plan


def test_r4c_host_collector_plans(spark, sf_dir):
    """k8smetav1 pods: dims broadcast, never SortMergeJoin; systemv2: ONE
    window Exchange for the host lag; process_metrics: host-keyed windows
    only, no join; netping/snmp/command: pure narrow projections."""
    from loongcollector_spark.queries import (
        q_command_output,
        q_k8smetav1_pods,
        q_netping_metrics,
        q_process_metrics,
        q_snmp_variables,
        q_systemv2_metrics,
    )

    plan = _plan(q_k8smetav1_pods(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan

    plan = _plan(q_systemv2_metrics(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" in plan

    plan = _plan(q_process_metrics(spark, sf_dir))
    assert "Join" not in plan and "Window" in plan

    for q in (q_netping_metrics, q_snmp_variables, q_command_output):
        plan = _plan(q(spark, sf_dir))
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_ivf_probe_is_broadcast_cell_join(spark):
    """IVF multi-probe: the query side (exploded into nprobe cells) is
    broadcast; the vector side joins on the cell key — no cartesian, no
    sort-merge."""
    import pyspark.sql.functions as F

    from loongcollector_spark.dataops import similarity

    rows = [(i, [float((i * 5 + d) % 11) for d in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [rows[i][1] for i in range(4)]
    qs = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plan = _plan(similarity.ivf_topk(df, qs, cents, k=5, nprobe=2))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_journal_conversion_is_narrow(spark):
    """Journal entry conversion: literal-map lookups inside transform_values
    — a single narrow projection."""
    from loongcollector_spark.operators.journal import JournalEntryLogs

    df = spark.createDataFrame(
        [(1, {"PRIORITY": "3"}, 10, 20)],
        "i long, fields map<string,string>, realtime_ts long, monotonic_ts long",
    )
    plan = _plan(
        JournalEntryLogs(parse_priority=True, parse_syslog_facility=True).apply(df)
    )
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
