"""Property-based checks (hypothesis): the hand-built operators whose
semantics aren't a single Spark builtin — as-of join, session windows —
verified against brute-force Python references on random inputs.
Randomness here is test-side only; the operators themselves stay
deterministic."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from oke_cassandra_spark_locality_demo_spark.operators.joins import asof_join

_BASE = datetime(2024, 1, 1)


def _row_key(row):
    """Total-order sort key for canonicalized row tuples. Plain
    sorted() dies with TypeError on rows mixing None with tuples
    (e.g. q_fn_try's nullable struct column): None has no ordering
    against _canon's type-tagged tuples. Null-flag + repr gives a
    deterministic total order without changing equality semantics —
    the invariance assertion still compares the full row lists."""
    return tuple((v is None, repr(v)) for v in row)

# (user, ts_offset_seconds, value)
_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=1000),
        st.integers(min_value=0, max_value=99),
    ),
    min_size=0,
    max_size=15,
)


def _mk_events(spark, rows, tag):
    data = [
        (i, u, _BASE + timedelta(seconds=s), float(v))
        for i, (u, s, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, f"{tag}_id long, user_id long, ts timestamp, value double"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left_rows=_rows, right_rows=_rows)
def test_asof_join_matches_bruteforce(spark, left_rows, right_rows):
    left = _mk_events(spark, left_rows, "l").withColumnRenamed("l_id", "lid")
    right = (
        _mk_events(spark, right_rows, "r")
        .select("user_id", F.col("ts").alias("r_ts"), F.col("value").alias("r_value"))
    )
    got = {
        (r["lid"]): (r["r_ts"], r["r_value"])
        for r in asof_join(
            left, right, "user_id", "ts", "r_ts", ["r_ts", "r_value"]
        ).collect()
    }

    # brute force: per left row, latest right (ts', v) with ts' <= ts,
    # ties on ts' broken by the later-arriving (max) value? — the union-
    # marker form takes the right row that sorts LAST among equal ts',
    # which for duplicates is whichever last() saw; restrict the check to
    # the matched timestamp (deterministic) and skip value on exact ties.
    rights = {}
    for u, s, v in right_rows:
        rights.setdefault(u, []).append((_BASE + timedelta(seconds=s), float(v)))
    for i, (u, s, _v) in enumerate(left_rows):
        ts = _BASE + timedelta(seconds=s)
        cands = [rv for rv in rights.get(u, []) if rv[0] <= ts]
        expect_ts = max((c[0] for c in cands), default=None)
        assert i in got
        assert got[i][0] == expect_ts, (i, got[i], expect_ts)
        if expect_ts is not None:
            tied = {c[1] for c in cands if c[0] == expect_ts}
            assert got[i][1] in tied


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_session_window_matches_bruteforce(spark, rows):
    """Spark session_window(gap=60s) vs brute-force gap clustering."""
    df = _mk_events(spark, rows, "e")
    got = sorted(
        (r["user_id"], r["w"]["start"], r["w"]["end"], r["n"])
        for r in df.groupBy(
            F.col("user_id"), F.session_window("ts", "60 seconds").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    per_user: dict[int, list[datetime]] = {}
    for u, s, _v in rows:
        per_user.setdefault(u, []).append(_BASE + timedelta(seconds=s))
    expect = []
    for u, tss in per_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for t in tss[1:]:
            # Spark's session window is boundary-INCLUSIVE: an event at
            # exactly last+gap still extends the session; a new session
            # starts only strictly past it (hypothesis found the edge)
            if (t - last) > timedelta(seconds=60):
                expect.append((u, start, last + timedelta(seconds=60), n))
                start, n = t, 0
            last = t
            n += 1
        expect.append((u, start, last + timedelta(seconds=60), n))
    assert got == sorted(expect), (got, sorted(expect))


def test_pagerank_mass_conserved(spark, sf_dir):
    """With no dangling nodes (every nation trades at fixture scale),
    PageRank is a stochastic-matrix fixpoint iteration: total rank mass
    stays 1 every iteration. A drift means broken weight normalization
    or dropped contributions."""
    from oke_cassandra_spark_locality_demo_spark.registry import get

    rows = get("q_graph_pagerank").fn(spark, sf_dir).collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(r["pagerank"] > 0 for r in rows)


def test_results_invariant_under_partitioning(spark, sf_dir):
    """The exact-decimal discipline's point: results must be IDENTICAL
    (hash-equal, not approximately equal) under different shuffle
    partitioning — the property that makes retries, speculative
    execution, and cluster resizes safe at 100 TB. Run float-heavy
    queries under 5 and 32 shuffle partitions and require equality."""
    from oke_cassandra_spark_locality_demo_spark.registry import get

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    names = [
        "q_agg_hash",
        "q_agg_weighted",
        "q_agg_higher_moments",
        "q_win_time_weighted",
        # round-3 rewrites: rank-selection medians, merged rollup,
        # nano-unit integer centroid means, iterative float pagerank
        "q_agg_mad_outliers",
        "q_agg_incremental",
        "q_vec_centroid",
        "q_graph_pagerank",
        # round-4 integer-unit conversions: micro-unit log terms,
        # nano-unit dot/l2 sums, tt-unit money sums
        "q_text_entropy",
        "q_text_perplexity",
        "q_sim_pairwise_label",
        "q_pipeline_e2e",
        "q_stream_tumbling",
        "q_agg_stats",
        # round-4: the TPC-H module's decimal-sum discipline (Q1 is the
        # 8-aggregate float-heaviest of the suite; Q9 exercises the
        # same _money discipline through a 4-way join)
        "q_tpch_q1",
        "q_tpch_q9",
        # late-r4 additions: session boundaries must not move with the
        # shuffle layout (tie discipline), and the CMS bucket counts /
        # verdict booleans are partitioning-free by construction
        "q_sessionize",
        "q_agg_sketch_cms",
        # fifth-block additions: decimal power sums (moments), the
        # signed-delta IVM merge and PCA's exact-integer Gram matrix
        # are exact by construction — hold them to it
        "q_agg_sketch_moments",
        "q_vec_pca",
        "q_mv_incremental",
        "q_merge_multi_action",
        # block-7 additions flagged by the second review: the
        # temperature normalizer must stay an exact integer sum, and
        # the bitmap words are OR-merged (order-free) by construction
        "q_sample_temperature",
        "q_agg_bitmap_distinct",
        # late-r5 continuation: every new op that sums rounded log
        # terms (bigram perplexity, DSIR weights, NB scores) or crosses
        # an ECDF (KS) must emit identical integers under any layout
        "q_text_perplexity_bigram",
        "q_select_dsir",
        "q_drift_ks",
        "q_classify_nb",
        # two aggregates joined on the flag: the counts and the status
        # set must not move with the layout either
        "q_agg_distinct",
    ]
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        results = {}
        # third config also shrinks the scan splits to 128 KB: the
        # number of INPUT partitions (not just shuffle partitions)
        # decides the partial-aggregation merge order on the map side —
        # a separate environment axis the driver may differ on.
        for n_part, split_bytes in (
            ("5", prev_split),
            ("32", prev_split),
            ("7", "131072"),
        ):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
            for name in names:
                rows = sorted(
                    (tuple(r) for r in get(name).fn(spark, sf_dir).collect()),
                    key=_row_key,
                )
                results.setdefault(name, []).append(rows)
        for name, (a, b, c) in results.items():
            assert a == b == c, f"{name} differs across partitionings"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)


#: Fifty keys swept by test_sample_prefix_invariant_under_partitioning:
#: the dedup, streaming, statistics and TPC-H keys reworked in the last
#: optimisation round, then a block of array/map, vector, UDF, aggregate
#: and window keys. A literal, so the sweep's coverage does not move
#: when registration order does.
_SAMPLE_PREFIX_KEYS = (
    "q_dedup_containment", "q_dedup_ngram_jaccard", "q_dedup_ngram_prefix",
    "q_dedup_incremental_fuzzy", "q_split_leakage", "q_dedup_clusters",
    "q_dedup_minhash_audit", "q_stream_tumbling", "q_stream_sliding",
    "q_stream_session", "q_stream_multires", "q_stream_watermark_late",
    "q_stream_dedup", "q_stream_stateful", "q_stream_sink",
    "q_stream_foreach_batch", "q_stream_cdc_upsert", "q_stream_join_static",
    "q_stream_join_interval", "q_stream_join_outer", "q_stream_join_semi",
    "q_stream_stateful_tws", "q_dedup_simhash", "q_dedup_minhash",
    "q_dedup_span", "q_geo_knn", "q_select_dsir", "q_drift_ks",
    "q_classify_nb", "q_agg_heavy_hitters", "q_text_novelty",
    "q_stats_kruskal", "q_tpch_q17", "q_tpch_q20", "q_tpch_q21", "q_fn_array",
    "q_fn_map", "q_vec_centroid", "q_vec_quantize", "q_retention_cohorts",
    "q_udf_cogroup", "q_agg_weighted", "q_agg_multi_distinct", "q_agg_listagg",
    "q_agg_grouping_id", "q_agg_higher_moments", "q_agg_approx_quantile",
    "q_win_rank", "q_win_analytic", "q_win_frame_rows",
)


def test_sample_prefix_invariant_under_partitioning(spark, sf_dir):
    """Partition-count invariance for fifty keys, not just the
    hand-picked float-heavy list above. The r1-r3 repeat hash-fails all
    shared one mechanism the bit-exact local mirror (fixed
    partitioning) could not see: float aggregation whose result depends
    on the partial-aggregation order, which shifts with the harness's
    shuffle layout. Running each key under 5 and 32 shuffle partitions
    and requiring canonicalized-row equality probes exactly that
    failure mode.

    Three configs, two axes (mirroring the curated float-heavy sweep
    above): shuffle partitions 5 vs 32 vary the REDUCE-side merge
    order; the third config also shrinks scan splits to 128 KB, which
    varies the number of input partitions and with it the MAP-side
    partial-aggregation order — a separate environment axis a caller's
    host may legitimately differ on."""
    from oke_cassandra_spark_locality_demo_spark import registry

    from .parity import _canon

    qs = registry.all_queries()
    prefix = [(name, qs[name]) for name in _SAMPLE_PREFIX_KEYS]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        results: dict[str, list] = {}
        for n_part, split_bytes in (
            ("5", prev_split),
            ("32", prev_split),
            ("7", "131072"),
        ):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
            for name, fn in prefix:
                rows = sorted(
                    (
                        tuple(_canon(v) for v in r)
                        for r in fn(spark, sf_dir).collect()
                    ),
                    key=_row_key,
                )
                results.setdefault(name, []).append(rows)
        diffs = [n for n, (a, b, c) in results.items() if not (a == b == c)]
        assert not diffs, f"partitioning-dependent results: {diffs}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)


def test_driver_sample_prefix_is_oracle_backed():
    """The correctness harness adjudicates the first 50 keys of
    queries(); none of them may be a rows-only key, which would spend
    a slot on a weak (row-count) verdict."""
    from oke_cassandra_spark_locality_demo_spark import registry

    o = registry.all_oracles()
    rows_only = [k for k in list(registry.all_queries())[:50] if k not in o]
    assert not rows_only, rows_only


def test_scripts_reference_only_existing_registry_names():
    """Every ``registry.<name>`` (and ``from ...registry import <name>``)
    in the tools, tests, bench and driver contract names something the
    registry module defines, so a deleted helper cannot survive in a
    script that only fails when someone runs it."""
    import ast
    import pathlib

    from oke_cassandra_spark_locality_demo_spark import registry

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [
        *root.glob("tools/*.py"),
        *root.glob("tests/*.py"),
        *root.glob("perfbench/*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    missing = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.ImportFrom) and node.module:
                names = [a.name for a in node.names]
                if not node.module.endswith(".registry"):
                    continue
            elif isinstance(node, ast.Attribute) and "registry" in (
                getattr(node.value, "id", None),  # registry.x
                getattr(node.value, "attr", None),  # self.registry.x
            ):
                names = [node.attr]
            else:
                continue
            missing += [
                f"{path.relative_to(root)}:{node.lineno}: registry.{name}"
                for name in names
                if not hasattr(registry, name)
            ]
    assert not missing, missing


def test_oracle_float_parity_lint():
    """Enforce the FIXTURES.md cross-engine float rules over every
    registered oracle (measured r1-r4 driver postmortems):

    - no `LOG2(` — Spark's log2 is ln(x)/ln(2) while DuckDB's LOG2 is
      correctly rounded; they differ on 76 of the first 200 integers.
      Write the LN ratio explicitly on both sides.
    - no `value AS DECIMAL` — the double→decimal cast path on the
      full-noise events.value column hash-failed the driver three
      rounds running (q_agg_incremental); use ROUND(value*10^k)→BIGINT
      units. The two r3-adjudicated-GREEN small-window exceptions are
      allowlisted verbatim rather than churned.
    - no interpolated `QUANTILE_CONT`/`PERCENTILE` — diverges from any
      Spark formulation at value ties; use rank selection. One
      documented exception where the Spark side hand-implements the
      identical interpolation.
    """
    import re

    from oke_cassandra_spark_locality_demo_spark import registry

    registry._load_all()
    allow = {
        "LOG2": set(),
        "value-decimal": {"q_win_frame_rows", "q_win_frame_range"},
        "quantile": {"q_feature_bucketize"},
    }
    violations = []
    for name, spec in registry._REGISTRY.items():
        if not spec.oracle:
            continue
        up = spec.oracle.upper()
        if "LOG2(" in up and name not in allow["LOG2"]:
            violations.append((name, "LOG2"))
        if (
            re.search(r"VALUE\s+AS\s+DECIMAL", up)
            and name not in allow["value-decimal"]
        ):
            violations.append((name, "value-decimal"))
        if (
            ("QUANTILE_CONT" in up or "PERCENTILE" in up)
            and name not in allow["quantile"]
        ):
            violations.append((name, "quantile"))
    assert not violations, violations


def test_cogroup_survives_column_pruning(spark, sf_dir):
    """Regression: q_udf_cogroup must work under a count() action, not
    just collect-style ones. When both cogroup sides derive from ONE
    relation instance, the analyzer's self-cogroup dedup re-aliases the
    right child but leaves the pandas UDF's right-side argument
    expressions pointing at left expr-ids; column pruning (triggered by
    count(), never by collect()) then drops the right child's ts column
    and the UDF crashes with KeyError inside the worker. The fix loads
    the events relation once per side. The oracle harness collects rows
    and therefore cannot see this class — this test counts."""
    from oke_cassandra_spark_locality_demo_spark.registry import get

    df = get("q_udf_cogroup").fn(spark, sf_dir)
    assert df.count() == len(df.collect()) > 0


def test_incremental_mv_edges_match_recompute(spark):
    """IVM edge cases the fixture can't produce: a group that exists
    ONLY in the delta batch (born after the cutoff), a group fully
    retracted by deletes in the delta, and an update that moves a key
    between groups — incremental merge must equal the full recompute."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from oke_cassandra_spark_locality_demo_spark.operators.windows import (
        incremental_mv,
    )

    t = lambda d: datetime(2024, 1, d)  # noqa: E731
    rows = [
        # (user, event_id, ts, group, v_tt, op)
        (1, 1, t(1), "A", 100, "U"),
        (2, 2, t(2), "A", 200, "U"),
        (3, 3, t(3), "B", 300, "U"),
        # delta (>= Jan 10): kill group B, move user 2 to group C,
        # birth group D on a brand-new key
        (3, 4, t(11), "B", 0, "D"),
        (2, 5, t(12), "C", 250, "U"),
        (4, 6, t(13), "D", 400, "U"),
    ]
    feed = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, event_type string, "
        "v_tt long, op string",
    )
    cut = spark.range(1).select(F.lit(t(10)).alias("cut"))
    got = {
        r["event_type"]: (r["n_users"], r["total_value_tt"])
        for r in incremental_mv(feed, cut).collect()
    }
    # recompute by hand: latest per key -> 1:A/100, 2:C/250, 3:deleted, 4:D/400
    assert got == {"A": (1, 100), "C": (1, 250), "D": (1, 400)}, got


# ---------------------------------------------------------------------------
# Arrow batch-size invariance (round 9)
# ---------------------------------------------------------------------------

#: Registry keys whose physical plan contains an Arrow-batched Python
#: node (MapInPandas / FlatMap[Co]GroupsInPandas / ArrowEvalPython /
#: AggregateInPandas / MapInArrow), as detected by
#: tools/arrow_batch_probe.py at the round-9 HEAD, PLUS the two
#: streaming keys whose applyInPandasWithState / transformWithState
#: execution runs eagerly inside fn() where plan inspection can't see
#: it. Re-run the probe and update this pin when an Arrow call site is
#: added or removed (the call-site census below fails first).
_ARROW_BATCHED_KEYS = [
    "q_multimodal_phash", "q_multimodal_audio_energy",
    "q_multimodal_scenecut", "q_udf_pandas", "q_udf_grouped_agg",
    "q_udf_cogroup", "q_udf_arrow", "q_export_webdataset",
    "q_sim_knn_blas", "q_sim_ivf_audit", "q_text_compress_ratio",
    "q_multimodal_binary", "q_multimodal_frames", "q_multimodal_resize",
    "q_sim_ivf", "q_sim_pq", "q_sim_pq_audit",
    # r11: real PNG encode+decode, two mapInPandas stages
    "q_multimodal_decode_real",
    # r14 batch kernels: SimHash fold and LSH scorer (the LSH audit
    # runs the scorer through q_sim_lsh)
    "q_dedup_simhash", "q_sim_lsh", "q_sim_lsh_audit",
    # eager streaming (plan-invisible, still Arrow-batched):
    "q_stream_stateful", "q_stream_stateful_tws",
]

#: Per-module census of REAL Arrow API call sites, each qualified by
#: its ENCLOSING FUNCTION ("func[.nested]:api" — AST attribute/name
#: hits for mapInPandas / applyInPandas / mapInArrow / applyInArrow /
#: applyInPandasWithState / transformWithStateInPandas / pandas_udf;
#: docstring mentions don't count). Function-qualified, not bare
#: counts (ADVICE r9): moving an Arrow call from one query to another
#: within the same module keeps a count census identical while
#: silently staling _ARROW_BATCHED_KEYS — the qualified census drifts
#: on any such move. If this pin fails, re-run
#: tools/arrow_batch_probe.py and update BOTH pins from its output.
_ARROW_CALL_SITES = {
    "functions/udf.py": [
        "_zscore_denom:pandas_udf", "q_udf_arrow:mapInArrow",
        "q_udf_cogroup:applyInPandas", "q_udf_grouped_agg:applyInPandas",
    ],
    "llm/dedup.py": ["q_dedup_simhash:mapInPandas"],
    "llm/ivf.py": [
        "_assign_udf.assign:pandas_udf", "_probe_udf.probes:pandas_udf",
    ],
    "llm/multimodal.py": [
        "q_multimodal_audio_energy:mapInPandas",
        "q_multimodal_binary:mapInPandas",
        # r11 real-decode tier: encode stage + decode stage
        "q_multimodal_decode_real:mapInPandas",
        "q_multimodal_decode_real:mapInPandas",
        "q_multimodal_frames:mapInPandas",
        "q_multimodal_phash:mapInPandas",
        "q_multimodal_resize:mapInPandas",
        "q_multimodal_scenecut:mapInPandas",
    ],
    "llm/pq.py": ["_encode_udf.encode:pandas_udf", "q_sim_pq:mapInPandas"],
    "llm/similarity.py": [
        "q_sim_knn_blas:mapInPandas", "q_sim_lsh:mapInPandas",
    ],
    "llm/text.py": ["q_text_compress_ratio:pandas_udf"],
    "sources/ingest.py": ["q_export_webdataset:applyInPandas"],
    "streaming/stateful.py": [
        "q_stream_stateful.xf:applyInPandasWithState",
        "q_stream_stateful_tws.xf:applyInPandasWithState",
        "q_stream_stateful_tws.xf:transformWithStateInPandas",
    ],
}

_ARROW_API_ATTRS = {
    "mapInPandas", "applyInPandas", "mapInArrow", "applyInArrow",
    "applyInPandasWithState", "transformWithStateInPandas",
    "pandas_udf",
}


def test_arrow_call_site_census_matches_pin():
    """Mechanized sync guard for _ARROW_BATCHED_KEYS: walk every
    package module's AST and record each genuine Arrow API call site
    with its enclosing function. Any drift — including moving a call
    between functions of the same module, which a bare count misses
    (ADVICE r9) — means the probe pin above is stale; the failure
    message says exactly what to re-run."""
    import ast
    import os

    import oke_cassandra_spark_locality_demo_spark as pkg

    class _Census(ast.NodeVisitor):
        def __init__(self):
            self.stack: list[str] = []
            self.hits: list[str] = []

        def _func(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_FunctionDef = _func
        visit_AsyncFunctionDef = _func

        def _hit(self, api):
            scope = ".".join(self.stack) or "<module>"
            self.hits.append(f"{scope}:{api}")

        def visit_Attribute(self, node):
            if node.attr in _ARROW_API_ATTRS:
                self._hit(node.attr)
            self.generic_visit(node)

        def visit_Name(self, node):
            if node.id in _ARROW_API_ATTRS:
                self._hit(node.id)
            self.generic_visit(node)

    pkg_dir = os.path.dirname(pkg.__file__)
    got: dict[str, list[str]] = {}
    for root, _, files in os.walk(pkg_dir):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg_dir)
            with open(path) as fh:
                census = _Census()
                census.visit(ast.parse(fh.read()))
            if census.hits:
                got[rel] = sorted(census.hits)
    assert got == _ARROW_CALL_SITES, (
        "Arrow API call-site census drifted — run "
        "`python tools/arrow_batch_probe.py` and update "
        f"_ARROW_CALL_SITES + _ARROW_BATCHED_KEYS. census={got}"
    )


def test_arrow_batch_size_invariance(spark, sf_dir):
    """Every Arrow-batched key must produce identical canonical rows
    under the default 10000-row Arrow batches and under 7-row batches.

    On local[32] a 500-row fixture fits in ONE Arrow batch, so
    per-batch logic that should have been merged globally (a partial
    top-k kept per batch, a per-batch statistic) is structurally
    invisible — every batch IS the whole partition. On a
    1000-executor cluster over 100 TB, batch boundaries land
    everywhere; 7-row batches force ~70 boundaries through the same
    code locally. The registry wrapper pins only session.timeZone, so
    this conf is a live environment axis, same as the shuffle-layout
    sweep above."""
    from oke_cassandra_spark_locality_demo_spark import registry

    from .parity import _canon

    prev = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    try:
        results: dict[str, list] = {}
        for batch in ("10000", "7"):
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", batch
            )
            for name in _ARROW_BATCHED_KEYS:
                df = registry.get(name).fn(spark, sf_dir)
                # a build that resets the conf would run every later
                # key of this pass at its own batch size
                assert spark.conf.get(
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                ) == batch, f"{name}'s build changed maxRecordsPerBatch"
                rows = sorted(
                    (tuple(_canon(v) for v in r) for r in df.collect()),
                    key=_row_key,
                )
                results.setdefault(name, []).append(rows)
        diffs = [n for n, (a, b) in results.items() if a != b]
        assert not diffs, f"arrow-batch-size-dependent results: {diffs}"
        # Non-vacuousness: every swept key must actually return rows.
        empty = [n for n, (a, _) in results.items() if not a]
        assert not empty, f"swept keys returned 0 rows: {empty}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_engine_mode_invariance_pin(spark, sf_dir):
    """In-suite pin of the round-9 engine-mode sweeps (full-registry
    versions: `tools/drive_subset.py --all --conf k=v`, all 400/400 —
    see SCALING.md's axis table). Eight keys spanning the risk
    surfaces — decimal aggregation, float discipline, range-frame
    windows, null-safe hash join, banded dedup, Arrow-batched BLAS,
    micro-unit log sums, streaming batch form — must produce identical
    canonical rows with ANSI off, whole-stage codegen off, and a
    hostile session timezone (the registry wrapper's UTC pin must
    override it). Cheap (~8 keys × 4 configs) so the full suite keeps
    the axes pinned without the tools' 5-minute full drives."""
    from oke_cassandra_spark_locality_demo_spark import registry

    from .parity import _canon

    keys = [
        "q_tpch_q1", "q_agg_stats", "q_win_frame_range",
        "q_join_null_safe", "q_dedup_minhash_audit", "q_sim_knn_blas",
        "q_text_perplexity", "q_stream_tumbling",
    ]
    axes = [
        {},  # baseline: session defaults
        {"spark.sql.ansi.enabled": "false"},
        {"spark.sql.codegen.wholeStage": "false"},
        {"spark.sql.session.timeZone": "America/New_York"},
    ]
    saved = {
        k: spark.conf.get(k, None)
        for cfg in axes for k in cfg
    }
    try:
        results: dict[str, list] = {}
        for cfg in axes:
            for k, v in cfg.items():
                spark.conf.set(k, v)
            for name in keys:
                rows = sorted(
                    (
                        tuple(_canon(v) for v in r)
                        for r in registry.get(name).fn(spark, sf_dir).collect()
                    ),
                    key=_row_key,
                )
                assert rows, f"{name} returned 0 rows under {cfg}"
                results.setdefault(name, []).append(rows)
            for k in cfg:  # restore before the next axis flips its own
                if saved[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved[k])
        diffs = [
            n for n, runs in results.items()
            if any(r != runs[0] for r in runs[1:])
        ]
        assert not diffs, f"engine-mode-dependent results: {diffs}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# CDC merge batch-independence (round 10)
# ---------------------------------------------------------------------------

_cdc_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),      # user_id (few keys → collisions)
        st.integers(min_value=0, max_value=50),     # ts offset seconds (ties likely)
        st.integers(min_value=0, max_value=99),     # value
        st.booleans(),                              # delete?
    ),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_cdc_rows, n_batches=st.integers(min_value=1, max_value=4))
def test_cdc_merge_is_batch_independent(spark, tmp_path_factory, rows, n_batches):
    """q_stream_cdc_upsert's core claim, property-tested: the final
    snapshot is INDEPENDENT of how the replay was batched, because the
    per-epoch merge keeps latest-per-key max_by((ts, event_id)) — an
    associative, commutative fold. Random event sets (few keys, likely
    ts ties, interleaved deletes) split into 1-4 consecutive epochs
    must converge to the same live set and the same tombstones a plain
    Python latest-per-key reference computes — including the
    tombstone-hides-key and tie-broken-by-event_id edges."""
    import math
    import shutil

    from oke_cassandra_spark_locality_demo_spark.streaming.stateful import (
        cdc_merge_epoch,
    )

    data = [
        (u, i, _BASE + timedelta(seconds=s), float(v),
         "error" if d else "click")
        for i, (u, s, v, d) in enumerate(rows)
    ]
    # Python reference: latest per user by (ts, event_id)
    latest = {}
    for u, i, ts, v, et in data:
        if u not in latest or (latest[u][1], latest[u][0]) < (ts, i):
            latest[u] = (i, ts, v, et)
    want_live = {u: (i, v) for u, (i, ts, v, et) in latest.items()
                 if et != "error"}
    want_dead = {u for u, (_i, _ts, _v, et) in latest.items() if et == "error"}

    base = str(tmp_path_factory.mktemp("cdc_prop"))
    try:
        state = {}
        size = math.ceil(len(data) / n_batches)
        epoch = 0
        for off in range(0, len(data), size):
            chunk = data[off:off + size]
            batch = spark.createDataFrame(
                chunk,
                "user_id long, event_id long, ts timestamp, value double, "
                "event_type string",
            )
            cdc_merge_epoch(spark, base, state, batch, epoch)
            epoch += 1
        snap = spark.read.parquet(state["cur"])
        got_live = {
            r["user_id"]: (r["event_id"], r["value"])
            for r in snap.filter(F.col("op") != "D").collect()
        }
        got_dead = {
            r["user_id"] for r in snap.filter(F.col("op") == "D").collect()
        }
        assert got_live == want_live, (got_live, want_live, n_batches)
        assert got_dead == want_dead, (got_dead, want_dead, n_batches)
    finally:
        shutil.rmtree(base, ignore_errors=True)
