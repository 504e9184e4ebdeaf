"""The flagship end-to-end job (SURVEY.md §7 minimum slice):

read sequences (doc_id, tokens, n_tok, source)
  → decode tokens→content (one Arrow stage over all sources)
  → per-source parse (nginx regex / app-json / tab-delimited): one
    CASE-on-source projection generated from the parser classes, with
    discard-unmatch semantics
  → broadcast-join source lookup (team_tag, env, route_key)
  → router fan-out (tag conditions, multi-match copy) via explode
  → explicit repartition((source, route_key)) [+salt]
  → per-sink aggregates (events, tokens_total) + per-source drop counts

Scale notes: one scan and one decode stage feed every source, so each row is
decoded and parsed exactly once whatever the source mix; the only wide
operations are the pre-write repartition and the tiny sink-key aggregation;
the lookup join is broadcast (no shuffle).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .aggregate import partition_for_sinks, sink_aggregates, with_lineage
from .operators.base import to_events
from .operators.common import ParserOptions
from .operators.enrich import BroadcastLookup
from .operators.parse import DelimiterParser, JsonParser, RegexParser
from .routing import RouteCondition, Router
from .synth import ROUTE_RULES, sequences_df, source_lookup_df
from .tokens import decode_tokens_arrow

# nginx access-log regex — the reference's own example pipeline
# (example_config/data_pipelines/nginx-regex.yaml)
NGINX_REGEX = (
    r'([\d\.:]+) - (\S+) \[(\S+) \S+\] "(\S+) (\S+) ([^"]+)" '
    r'(\d+) (\d+) "([^"]*)" "([^"]*)" "([^"]*)"'
)
NGINX_KEYS = [
    "remote_addr",
    "remote_user",
    "time_local",
    "method",
    "url",
    "protocol",
    "status",
    "body_bytes_sent",
    "http_referer",
    "http_user_agent",
    "http_x_forwarded_for",
]
CSV_KEYS = ["uid", "time", "cmethod", "value"]
PARSERS = {
    "nginx": RegexParser(NGINX_REGEX, NGINX_KEYS),
    "app-json": JsonParser(),
    "csvlog": DelimiterParser("\t", CSV_KEYS),
}


def replicated_sequences(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """Scale-up fixture: the sequences table replicated ``factor``× with
    unique doc_ids (used by the scaling benchmark so the job is CPU-bound
    rather than overhead-bound at test scale)."""
    seq = sequences_df(spark, sf_dir)
    if factor <= 1:
        return seq
    # explode preserves the upstream partitioning (already cluster-wide from
    # sequences_df) — no extra shuffle of the replicated token arrays
    return (
        seq.withColumn("__r__", F.explode(F.sequence(F.lit(1), F.lit(factor))))
        .withColumn("doc_id", F.concat_ws("-", "doc_id", F.col("__r__").cast("string")))
        .drop("__r__")
    )


def parsed_events_from(seq: DataFrame) -> DataFrame:
    """Parse a sequences frame into the unified event frame (doc_id, source,
    n_tok, fields): ONE Arrow decode stage over all sources, then ONE
    projection that dispatches on ``source`` to each parser's
    ``extract`` pair. A row whose source has no parser fails the parse and is
    discarded."""
    ev = to_events(decode_tokens_arrow(seq, "tokens", "content", drop_tokens=True))
    src = F.element_at(F.col("fields"), F.lit("content"))
    # one flat CASE per output: F.when starts it, Column.when extends it
    success = new_map = F
    for source, parser in PARSERS.items():
        ok, m = parser.extract(src)
        hit = F.col("source") == source
        success, new_map = success.when(hit, ok), new_map.when(hit, m)
    return ParserOptions().finalize(ev, success.otherwise(F.lit(False)), new_map, src)


# Alias kept because the benchmark's traced run times both names
# (parse.s and parse.fused_s).
fused_parsed_events = parsed_events_from


def enriched_from(spark: SparkSession, seq: DataFrame) -> DataFrame:
    """Parsed events joined with the broadcast source lookup
    (team_tag, env, route_key)."""
    lookup = source_lookup_df(spark)
    return BroadcastLookup(lookup, on="source").apply(parsed_events_from(seq))


def routed_from(
    spark: SparkSession,
    seq: DataFrame,
    salt_buckets: int = 0,
    partition: bool = True,
) -> DataFrame:
    """Fan-out: sink_a ⟵ env=prod, sink_b ⟵ team_tag=team-b, sink_default ⟵ all
    (multi-match copy semantics, Router.cpp:60-80), over ``enriched_from``.

    ``partition=True`` applies the explicit pre-WRITE repartition by
    (source, route_key) [+salt] — needed when the routed rows are written to
    per-sink files. Aggregation-only consumers pass ``partition=False``: the
    per-sink fold partial-aggregates map-side, so forcing a full-row shuffle
    first would only move the whole fields payload for nothing."""
    df = enriched_from(spark, seq)
    rules = [
        RouteCondition(r["sink"], r["match_key"], r["match_value"]) for r in ROUTE_RULES
    ]
    out = Router(rules).apply(df)
    if partition:
        out = partition_for_sinks(
            out, keys=("source", "route_key"), salt_buckets=salt_buckets
        )
    return with_lineage(out)


def routed(spark: SparkSession, sf_dir: str, salt_buckets: int = 0) -> DataFrame:
    return routed_from(spark, sequences_df(spark, sf_dir), salt_buckets)


def pipeline_aggregates_from(spark: SparkSession, seq: DataFrame) -> DataFrame:
    r = routed_from(spark, seq, partition=False)
    return sink_aggregates(r).select(
        "sink", "events", F.col("tokens_total").cast("long").alias("tokens_total")
    )


def pipeline_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline result: per-sink (events, tokens_total)."""
    return pipeline_aggregates_from(spark, sequences_df(spark, sf_dir))


def routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row-set equality surface: one row per (sink, doc)."""
    r = routed(spark, sf_dir)
    return r.select("sink", "doc_id", "source", "route_key", "env", "team_tag")


def drop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source discarded-event counts (≙ mDiscardedEventsTotal self-metric)."""
    seq = sequences_df(spark, sf_dir)
    inputs = seq.groupBy("source").agg(F.count(F.lit(1)).alias("input_events"))
    parsed = (
        parsed_events_from(seq)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("parsed_events"))
    )
    return (
        inputs.join(parsed, "source", "left")
        .select(
            "source",
            "input_events",
            F.coalesce("parsed_events", F.lit(0)).alias("parsed_events"),
            (F.col("input_events") - F.coalesce("parsed_events", F.lit(0))).alias("dropped"),
        )
        .orderBy("source")
    )
