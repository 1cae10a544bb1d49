"""The benchmark's workloads: scale, key order and warm-up.

Key order is fixed and recorded in every result, because keys leave
session state behind for later keys (``q_sim_lsh`` sets
``spark.sql.execution.arrow.maxRecordsPerBatch`` for the rest of the
session), so order affects timings.
"""

from __future__ import annotations

from dataclasses import dataclass

#: the package under test, imported from the root of the checkout
PACKAGE = "oke_cassandra_spark_locality_demo_spark"


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    keys: tuple[str, ...]
    #: keys run on a tiny generated input (scale ``WARMUP_SF``) in each
    #: set-up, so class loading of the workload's main paths (scan and
    #: shuffle, Python workers, streaming) lands in set-up; none of them is
    #: a timed key, so no timed key runs twice in one process
    warmup: tuple[str, ...]


WARMUP_SF = 0.001

WORKLOADS = {
    w.name: w
    for w in (
        # scan, joins, exchange and JVM operators do the work; no Python
        # boundary, no writes. One key per layer: scan and hash
        # aggregation (q1), broadcast join and exchange (q3), distinct
        # aggregation under a SortAggregate (q_agg_distinct, ROADMAP's
        # first target), window sort with a per-group limit (top-k)
        Workload(
            "warehouse",
            0.2,
            ("q_tpch_q1", "q_tpch_q3", "q_agg_distinct", "q_topk_per_group"),
            ("q_tpch_q6",),
        ),
        # the Python/Arrow boundary, eager driver jobs in query build,
        # writes read back through the catalog and streaming micro-batches
        Workload(
            "corpus_ingest",
            0.03,
            (
                "q_dedup_exact", "q_dedup_simhash", "q_dedup_ngram_jaccard",
                "q_sim_lsh", "q_text_tfidf", "q_sink_parquet_partitioned",
                "q_scan_partition_pruned", "q_ctas", "q_insert_upsert",
                "q_stream_tumbling", "q_stream_dedup",
            ),
            ("q_udf_pandas", "q_stream_sliding"),
        ),
    )
}
