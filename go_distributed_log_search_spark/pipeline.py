"""End-to-end parse -> enrich -> route -> aggregate pipeline.

The Spark-first restatement of the reference's ``index`` command
(/root/reference/src/commands/index.go:86-231): where the reference pulls
one JSON doc at a time through a compiled parser tree into a per-batch Bluge
index, this pipeline declares the whole flow as one Catalyst plan:

    scan transcripts
      -> parse (typed projections + _dynamic, zero-shuffle)
      -> enrich (broadcast dim joins, zero-shuffle)
      -> route (tag array, logical fan-out)
      -> aggregate (salted two-stage posting counts; ONE shuffle)

and lets Tungsten pipeline scan->parse->enrich->tag in a single
whole-stage-codegen span. The only wide dependency in the hot path is the
aggregation shuffle — checked by tests/test_plan_audit.py.

:func:`commit_batch` is the one batch commit every ingest path shares
(micro-batch loop, Structured Streaming ``foreachBatch``, spark-submit job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import aggregate, enrich, parse, route
from .sources.catalog import Warehouse
from .transcripts import transcripts_df


def parsed_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transcripts_df(spark, sf_dir)
    return enrich.enrich_turns(parse.parse_turns(df), spark)


def run_pipeline(spark: SparkSession, sf_dir: str, nsalt: int = aggregate.DEFAULT_NSALT) -> dict[str, DataFrame]:
    """Full flow; returns the principal DataFrames (lazy)."""
    base = transcripts_df(spark, sf_dir)
    enriched = parsed_enriched(spark, sf_dir)
    tagged = route.routed(enriched)
    # heavy-hitter detection samples the raw transcripts (pre-parse plan:
    # just the conv_id column) rather than the routed frame, so the sample
    # job doesn't drag the parse regexes along
    hot = aggregate.detect_hot_keys(base, "conv_id")
    return {
        "enriched": enriched,
        "routed": tagged,
        "route_counts": route.route_counts(enriched),
        "agg_terms": aggregate.term_counts(tagged, nsalt=nsalt, hot_keys=hot),
        "ordering": aggregate.ordering_check(base),
    }


def commit_batch(wh: Warehouse, enriched: DataFrame, batch_id: str) -> dict[str, int]:
    """Commit one ingest batch (S5, mod.go:263-371): one ``sink_*`` table
    per sink, the ``agg_terms`` posting counts, then ONE lineage append
    with every table's committed row count (A2, mod.go:362-365) — lineage
    lands after all data commits, so a crash before it re-runs the batch
    into the same ``batch_id`` partitions. Returns the lineage counts.

    The exploded routed frame is persisted: the sink appends need full
    rows and ``term_counts`` needs the ``sink`` column, so without it each
    of the four passes would re-run the parse.
    """
    routed = route.routed(enriched).persist()
    try:
        counts: dict[str, int] = {}
        for sink in route.SINKS:
            sink_df = routed.filter(F.col("sink") == sink).drop("sink")
            counts[sink] = wh.append_batch(sink_df, f"sink_{sink}", batch_id)
        # hot_keys=None: a batch is a bounded slice — partial agg absorbs
        # its skew; sample-based detection would add two jobs per batch
        aggs = aggregate.term_counts(routed, hot_keys=None)
        counts["agg_terms"] = wh.append_batch(aggs, "agg_terms", batch_id)
        wh.record_lineage_many(batch_id, counts)
    finally:
        routed.unpersist()
    return counts
