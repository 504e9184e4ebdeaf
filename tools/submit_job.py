"""spark-submit entrypoint for the flagship pipeline (north rule: "run via
spark-submit --py-files on multi-executor clusters").

Usage (local sandbox — swap --master for yarn/k8s on a real cluster):

    cd /root/repo && zip -qr /tmp/loongcollector_spark.zip loongcollector_spark
    spark-submit --master 'local[8]' \
        --py-files /tmp/loongcollector_spark.zip \
        tools/submit_job.py \
        --sf-dir /root/testdata/sf0.001 --out /tmp/lc_out

The job: read the pre-tokenized sequences → parse→enrich→route → one parquet
write partitioned by sink into <out>/unit=<sink> (dynamic partition
overwrite, so finished sinks are left alone), each sink then marked done in
the checkpoint manifest under <out>/_manifest → print per-sink aggregates as
one JSON line. Re-running with the same --out resumes: completed sinks are
skipped, and when every sink is done no write job runs.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--salt-buckets", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("loongcollector-spark-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from loongcollector_spark import flagship
    from loongcollector_spark.metrics import observed
    from loongcollector_spark.plans.checkpoint import Manifest, resumable_sink_write
    from loongcollector_spark.session import configure_existing
    from loongcollector_spark.synth import ROUTE_RULES

    configure_existing(spark)

    routed = flagship.routed(spark, args.sf_dir, salt_buckets=args.salt_buckets)
    routed, obs = observed(routed, "routed")
    sinks = [r["sink"] for r in ROUTE_RULES]
    manifest = Manifest(f"{args.out}/_manifest")
    written = resumable_sink_write(routed, sinks, args.out, manifest)

    aggs = {
        r["sink"]: {"events": r["events"], "tokens_total": r["tokens_total"]}
        for r in flagship.pipeline_aggregates(spark, args.sf_dir).collect()
    }
    print(
        json.dumps(
            {
                "written_sinks": written,
                "skipped_sinks": [s for s in sinks if s not in written],
                "aggregates": aggs,
                "observed": dict(obs.get) if written else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
