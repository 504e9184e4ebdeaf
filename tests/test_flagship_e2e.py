"""Flagship end-to-end behaviors: the one parse path against a per-source
parser reference, per-sink resumable writes, skew salting, Arrow desensitize."""

import pyspark.sql.functions as F
import pytest

from loongcollector_spark import flagship
from loongcollector_spark.operators.base import FIELDS, to_events
from loongcollector_spark.operators.parse import DelimiterParser, JsonParser, RegexParser
from loongcollector_spark.operators.transforms import Desensitize, DesensitizeArrow
from loongcollector_spark.plans.checkpoint import Manifest, resumable_sink_write
from loongcollector_spark.synth import sequences_df
from loongcollector_spark.tokens import decode_tokens

_SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _seq_rows(spark, rows):
    """Sequences frame from (doc_id, line, source) rows, one token per char."""
    return spark.createDataFrame(
        [(d, [ord(c) for c in line], len(line), src) for d, line, src in rows], _SEQ_SCHEMA
    )


def _reference_parse(seq):
    """The branched reference: each parser's own ``apply`` over the events
    of its source, unioned. Sources without a parser contribute no rows."""
    ev = to_events(seq.withColumn("content", decode_tokens("tokens")).drop("tokens"))

    def of(source):
        return ev.filter(F.col("source") == source)

    return (
        RegexParser(flagship.NGINX_REGEX, flagship.NGINX_KEYS).apply(of("nginx"))
        .unionByName(JsonParser().apply(of("app-json")))
        .unionByName(DelimiterParser("\t", flagship.CSV_KEYS).apply(of("csvlog")))
    )


def _keyed(df):
    rows = df.select("doc_id", "source", FIELDS).collect()
    return sorted((r["doc_id"], r["source"], tuple(sorted(r[FIELDS].items()))) for r in rows)


def test_fused_equals_branched(spark, sf_dir):
    """The one CASE-dispatched parse equals the branched per-source parser
    union on the fixture."""
    seq = sequences_df(spark, sf_dir).select("doc_id", "tokens", "n_tok", "source")
    assert _keyed(flagship.parsed_events_from(seq)) == _keyed(_reference_parse(seq))


def test_fused_csvlog_overflow_matches_branched(spark):
    """A csvlog line with MORE than len(CSV_KEYS) tab-separated fields gets
    the same __column{i}__ EXTEND overflow keys on the one parse path as from
    the DelimiterParser reference."""
    seq = _seq_rows(spark, [("d1", "u1\t10\tGET\t42\textra1\textra2", "csvlog")])
    got = _keyed(flagship.parsed_events_from(seq))
    assert got == _keyed(_reference_parse(seq))
    fields = dict(got[0][2])
    assert fields["__column4__"] == "extra1" and fields["__column5__"] == "extra2"


def test_source_without_parser_is_dropped(spark):
    """A row from a source with no parser (here syslog, with tab-separated
    content that would parse as csvlog) fails the parse and is discarded."""
    seq = _seq_rows(
        spark,
        [
            ("n", '1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" '
                  '200 5 "-" "ua" "-"', "nginx"),
            ("j", '{"k": "v"}', "app-json"),
            ("c", "u1\t10\tGET\t42", "csvlog"),
            ("s", "u2\t11\tPUT\t43", "syslog"),
        ],
    )
    got = flagship.parsed_events_from(seq)
    assert sorted(r["source"] for r in got.collect()) == ["app-json", "csvlog", "nginx"]
    assert _keyed(got) == _keyed(_reference_parse(seq))


def test_flagship_sink_writes_match_routed_rows(spark, sf_dir, tmp_path):
    routed = flagship.routed(spark, sf_dir).select("sink", "doc_id", "source")
    manifest = Manifest(str(tmp_path / "m"))
    out = str(tmp_path / "sinks")
    sinks = ["sink_a", "sink_b", "sink_default"]
    written = resumable_sink_write(routed, sinks, out, manifest)
    assert written == sinks
    # read back every sink dir and compare to the routed row set
    back = []
    for s in sinks:
        for r in spark.read.parquet(f"{out}/unit={s}").collect():
            back.append((s, r["doc_id"], r["source"]))
    expect = [(r["sink"], r["doc_id"], r["source"]) for r in routed.collect()]
    assert sorted(back) == sorted(expect)
    # expected per-sink counts at sf0.001 (deterministic from seeded testdata)
    counts = {s: sum(1 for b in back if b[0] == s) for s in sinks}
    assert counts == {"sink_a": 850, "sink_b": 100, "sink_default": 950}


def test_flagship_sink_write_resume_after_crash(spark, sf_dir, tmp_path):
    routed = flagship.routed(spark, sf_dir).select("sink", "doc_id")
    manifest = Manifest(str(tmp_path / "m"))
    out = str(tmp_path / "sinks")
    sinks = ["sink_a", "sink_b", "sink_default"]
    with pytest.raises(RuntimeError):
        resumable_sink_write(routed, sinks, out, manifest, fail_after=1)
    assert manifest.done_units() == {"sink_a"}
    # resume: only the two unfinished sinks are written
    written = resumable_sink_write(routed, sinks, out, manifest)
    assert written == ["sink_b", "sink_default"]
    total = sum(
        spark.read.parquet(f"{out}/unit={s}").count() for s in sinks
    )
    assert total == 1900


def test_salting_spreads_hot_source(spark, sf_dir):
    from loongcollector_spark.aggregate import partition_for_sinks

    # nginx is the deliberate 80% hot source; partitioning by source alone
    # puts 80% of rows in one partition — salting must spread it
    seq = sequences_df(spark, sf_dir)
    plain = partition_for_sinks(seq, keys=("source",), num_partitions=8)
    salted = partition_for_sinks(seq, keys=("source",), num_partitions=8, salt_buckets=8)

    def sizes(df):
        return [
            r["c"]
            for r in df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
    total = seq.count()
    assert max(sizes(plain)) >= total * 0.8  # hot partition exists unsalted
    assert max(sizes(salted)) < total * 0.4  # salting broke the hot key


def test_desensitize_arrow_md5_all_occurrences(spark):
    import hashlib

    line = "id=123 then id=456 end"
    ev = to_events(
        spark.createDataFrame([(0, line)], ["i", "content"])
    )
    out = DesensitizeArrow(
        source_key="content", method="md5", prefix_pattern="id=",
        content_pattern=r"\d+", replacing_all=True,
    ).apply(ev)
    got = out.collect()[0][FIELDS]["content"]
    h1 = hashlib.md5(b"123").hexdigest().upper()
    h2 = hashlib.md5(b"456").hexdigest().upper()
    assert got == f"id={h1} then id={h2} end"


def test_desensitize_arrow_matches_jvm_const(spark):
    rows = [(i, f"user=u{i} pass=secret{i} tail") for i in range(20)]
    ev = to_events(spark.createDataFrame(rows, ["i", "content"]))
    kw = dict(
        source_key="content", method="const", prefix_pattern="pass=",
        content_pattern=r"\w+", replacing_string="***", replacing_all=True,
    )
    a = {r["i"]: r[FIELDS]["content"] for r in Desensitize(**kw).apply(ev).collect()}
    b = {r["i"]: r[FIELDS]["content"] for r in DesensitizeArrow(**kw).apply(ev).collect()}
    assert a == b


def test_dict_map_csv_file(spark, tmp_path):
    from loongcollector_spark.operators.enrich import DictMap, read_dict_csv

    p = tmp_path / "dict.csv"
    p.write_text("nginx,web\ncsvlog,trade\n")
    d = read_dict_csv(str(p))
    assert d == {"nginx": "web", "csvlog": "trade"}
    ev = spark.createDataFrame([(0, {"k": "nginx"})], ["i", FIELDS])
    out = DictMap(d, source_key="k", dest_key="cat").apply(ev)
    assert out.collect()[0][FIELDS]["cat"] == "web"


def test_dict_map_csv_rejects_conflicts(tmp_path):
    from loongcollector_spark.operators.enrich import read_dict_csv

    p = tmp_path / "bad.csv"
    p.write_text("a,1\na,2\n")
    with pytest.raises(ValueError, match="hash crash"):
        read_dict_csv(str(p))


def test_fused_full_pipeline_matches_branched(spark, sf_dir):
    """pipeline_aggregates equals the same enrich → route → aggregate over
    the branched per-source parser reference, and the seeded per-sink counts."""
    from loongcollector_spark.aggregate import sink_aggregates
    from loongcollector_spark.operators.enrich import BroadcastLookup
    from loongcollector_spark.routing import RouteCondition, Router
    from loongcollector_spark.synth import ROUTE_RULES, source_lookup_df

    ev = _reference_parse(sequences_df(spark, sf_dir))
    ev = BroadcastLookup(source_lookup_df(spark), on="source").apply(ev)
    rules = [RouteCondition(r["sink"], r["match_key"], r["match_value"]) for r in ROUTE_RULES]
    ref = sink_aggregates(Router(rules).apply(ev)).select(
        "sink", "events", F.col("tokens_total").cast("long").alias("tokens_total")
    )
    a = sorted(tuple(r) for r in flagship.pipeline_aggregates(spark, sf_dir).collect())
    assert a == sorted(tuple(r) for r in ref.collect())
    assert {r[0]: r[1] for r in a} == {"sink_a": 850, "sink_b": 100, "sink_default": 950}
