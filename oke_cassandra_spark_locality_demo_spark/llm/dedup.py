"""Deduplication operators over `documents` (SURVEY §2.3 LLM block).

Four tiers, in increasing tolerance for fuzz:
  exact            — hash-groupBy on normalized text (one shuffle)
  n-gram Jaccard   — exact set similarity via shingle inverted index
                     (no N² pair scan: only docs sharing a shingle meet)
  MinHash + LSH    — banded signatures; candidates verified exactly
  SimHash          — 64-bit fingerprint, banded for Hamming-≤k pairs

Everything is deterministic: "random" permutations are keyed hashes
(xxhash64 with fixed seeds), so re-runs and test oracles are stable.

100 TB story: all four avoid the quadratic pair space — the inverted
index / band buckets bound the join fan-out; the exact verifications run
only on candidate pairs. Hot-shingle skew is handled exactly by the
PPJoin prefix-filter formulation (q_dedup_ngram_prefix: prefixes index
only each doc's *rarest* shingles, so common shingles never fan out),
and AQE skew-join splitting covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

#: MinHash parameters: 64 hashes = 16 bands × 4 rows → s-curve threshold
#: ≈ (1/16)^(1/4) ≈ 0.5; pairs with true Jaccard ≥ 0.8 are caught with
#: probability 1-(1-0.8^4)^16 ≈ 0.9998 and verified exactly afterwards.
N_HASHES = 64
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.8


def _norm_text(c):
    return F.trim(F.lower(c))


@register(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, text
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY TRIM(LOWER(text)) ORDER BY doc_id) = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text, keeping the lowest doc_id. One
    hash aggregate (`min_by` with partial/map-side combine) — cheaper
    than the window-rank formulation, which must sort every partition.
    The group key is a 128-bit hash of the normalized text (two
    independent xxhash64 seeds), not the text itself: the shuffle key
    shrinks from ~text-length bytes to 16, and measured 3× faster cold
    at sf0.1. Collision odds at 100 TB (~10^11 docs) are ~10^22/2^129
    ≈ 10^-17 — below any hardware error rate."""
    d = load(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text"))
    keep = d.groupBy(
        F.xxhash64(norm).alias("_h1"), F.xxhash64(norm, F.lit(7)).alias("_h2")
    ).agg(
        F.min_by(F.struct("doc_id", "lang", "source", "text"), F.col("doc_id")).alias(
            "r"
        )
    )
    return keep.select("r.doc_id", "r.lang", "r.source", "r.text")


def _spread(df: DataFrame) -> DataFrame:
    """Re-spread a narrow scan across all cores before CPU-heavy per-row
    derivation (shingle/gram explosion, 64-bit fingerprint sums): a
    small-but-dense input — e.g. one parquet split holding the whole
    corpus sample — would otherwise pin the derivation stage to ONE
    task while 31 cores idle (measured: the q_dedup_span gram pipeline
    dropped 1.8s → 1.0s at sf0.1). No-op when the scan already has at
    least cluster parallelism (the 100 TB case, where thousands of
    splits exist and a repartition would pointlessly shuffle raw
    text)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def _shingles(df: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) pairs: distinct k-word shingles of normalized text.

    Zero-UDF expression, built as a k-way zip of shifted copies of the
    word array: shingle[i] = words[i] ⊕ words[i+1] ⊕ … ⊕ words[i+k-1].
    Each shift is ONE slice of the array and each zip_with evaluates one
    concat per element — O(k·n) total work per doc. The naive
    transform(sequence(...), i -> slice(words, i+1, k)) formulation
    re-slices per position inside an interpreted lambda and measured
    ~12× slower cold (7.3s vs 0.6s for 260k shingles at sf0.1).

    zip_with pads the shorter side with null and concat_ws skips nulls,
    so the trailing (k-1) partial shingles are malformed; the final
    slice(1, n-k+1) drops them. Docs with < k words yield their whole
    normalized text as the single shingle (same as the per-position
    form and the DuckDB oracle).
    """
    return _spread(df).select(
        "doc_id", F.explode(_shingle_array(k)).alias("shingle")
    )


def _shingle_array(k: int = 3):
    """Distinct k-word shingle ARRAY of `text` as a single narrow
    column expression — the un-exploded form of _shingles. Consumers
    that only need per-document shingle COUNTS (containment's |S_B|
    denominator) use F.size over this directly: a per-row map with no
    explode and no shuffle, where the exploded form would cost a full
    shingle-stream aggregation (VERDICT r6 #6)."""
    words = F.split(_norm_text(F.col("text")), " ")
    acc = words
    for j in range(2, k + 1):
        shifted = F.slice(
            words, j, F.greatest(F.size(words) - j + 1, F.lit(1))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.slice(acc, 1, F.greatest(F.size(words) - k + 1, F.lit(1)))
    )


NGRAM_JACCARD_ORACLE = """
    WITH shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - 3, 0) + 1),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+3], ' ')
                   ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(c.n_common AS DOUBLE)
             / (sa.n_sh + sb.n_sh - c.n_common) AS jaccard
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common) >= 0.6
"""


#: max candidate pairs the verification join will broadcast; above this
#: (16 bytes/pair ≈ 32 MB at the cap) the join is left to AQE
_CAND_BROADCAST_CAP = 2_000_000


def _capped_broadcast(cand: DataFrame) -> DataFrame:
    """Broadcast a candidate-pair set only under the measured cap.

    An unconditional ``F.broadcast`` on a data-dependent pair set OOMs
    every executor on an adversarial corpus (VERDICT r4 #4); past the
    cap the join is left to AQE's runtime choice. ``cand`` must already
    be pinned (memharden.pin) — the gating ``count()`` then reads the
    materialised blocks the verification join reuses; unpinned, the
    candidate join would run twice."""
    return F.broadcast(cand) if cand.count() <= _CAND_BROADCAST_CAP else cand


#: Memory-aware physical-plan hardening (VERDICT r10 item 3): shared
#: helpers live in memharden.py (q_maintenance_compact needed the same
#: treatment, so the module moved up a level in late r11); the
#: underscore aliases keep this file's many call sites and the test
#: suite's references stable. Identity at normal memory; under
#: spark.memory.fraction<=0.1 the shingle-explosion pipelines
#: materialize intermediates DISK_ONLY at 2-partition parallelism so
#: every stage's page-consumer count and active-task share stay above
#: Spark's 256 KB minimum page. See memharden.py for the measured
#: arithmetic.
from ..ckpt import release_checkpoint, tracked_local_checkpoint
from ..memharden import exec_memory_starved as _exec_memory_starved
from ..memharden import pin as _pin
from ..memharden import stage_barrier as _stage_barrier


#: Average shingle document-frequency above which prefix-filter
#: candidate blocking switches from single-shingle keys (k=1) to
#: within-prefix PAIR keys (k=2). The r12 second-decade probe measured
#: the k=1 scheme superlinear on a SATURATED shingle space
#: (q_dedup_ngram_prefix ×89.7 over sf0.1→sf1 on the fixture's 31-word
#: vocab, avg df 8.7→87): when no shingle is globally rare, every
#: prefix posting list grows ∝ corpus size and candidates grow ∝ Σ df²
#: ~ n²/|shingle space|. Pair keys re-sparsify the blocking space
#: (|space|² — 29791² here) at the cost of C(prefix,2) postings per
#: doc, restoring near-linear candidates; below the switch the k=1
#: path is strictly cheaper and stays. Natural text sits at avg df
#: ~1-3 (unbounded shingle space) — the switch only engages on
#: boilerplate-heavy / low-diversity corpora, which is exactly where
#: the measured blowup lives. Both schemes are EXACT (generalized
#: prefix-filter theorem, k=2 case: sets overlapping by ≥ c share ≥ 2
#: elements among their first (n − c + 2) under any common total
#: order), so the corpus-adaptive choice never affects results, only
#: the candidate plan — same contract as AQE picking a join strategy.
_PREFIX_DENSITY_SWITCH = 16.0


def _prefix_k(dfreq: DataFrame) -> int:
    """Blocking order for the generalized prefix filter: measured avg
    document frequency of the corpus's shingles (1-row scalar off the
    already-needed df table) against _PREFIX_DENSITY_SWITCH. Costs one
    Spark job over the df table's input per call."""
    row = dfreq.agg(F.avg("df").alias("d")).first()
    dens = row[0] if row and row[0] is not None else 0.0
    return 2 if dens > _PREFIX_DENSITY_SWITCH else 1


def _rarity_prefix(sh: DataFrame, t: float) -> DataFrame:
    """(doc_id, key, n_sh) candidate-blocking keys from each doc's
    generalized PPJoin prefix — its (n − ⌈t·n⌉ + k) globally-rarest
    shingles under the common (df asc, shingle asc) order, with k
    chosen per corpus by _prefix_k. Shared by the pairwise prefix
    join, the batch-vs-index incremental variant, and the
    train/eval leakage variant (the prefix-filter theorem holds for
    ANY pair, so cross-restricted candidate joins built from these
    keys stay exact).

    k=1: key = the shingle itself (the classic prefix filter).
    k=2: key = an ORDERED pair of prefix shingles (struct(s1, s2),
    rank order = the global order, so both members of any qualifying
    pair derive the identical struct); a doc whose minimum overlap
    bound ⌈t·n⌉ is below 2 cannot guarantee a shared pair, so it
    additionally emits degenerate struct(s, s) keys over its whole
    set — a real pair key can never collide with them (within-doc
    shingles are distinct, so s1 < s2 strictly), and any partner
    compatible with such a tiny doc is itself tiny and emits them too.

    n_sh rides along as a window count over the SAME doc_id
    partitioning the rank needs — one exchange, and no per-document
    sizes table to move at all (the former F.broadcast(sizes) was
    O(N_docs) rows shipped to every executor — an OOM at 1e9 docs,
    VERDICT r4 #4)."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    k = _prefix_k(dfreq)
    wdoc = W.partitionBy("doc_id")
    # starvation barrier (_stage_barrier docstring): the df-join would
    # otherwise pipeline its sorts into the window sorts below
    # two barriers (not one): the unordered count window and the
    # ordered row_number window are two sorter consumers that would
    # otherwise share one stage's page budget
    ranked = (
        _stage_barrier(
            _stage_barrier(sh.join(dfreq, "shingle")).withColumn(
                "n_sh", F.count(F.lit(1)).over(wdoc)
            )
        )
        .withColumn(
            "rn",
            F.row_number().over(
                wdoc.orderBy(F.col("df").asc(), F.col("shingle").asc())
            ),
        )
    )
    # prefix length: n - ceil(t*n) + k. The result is barriered too:
    # the row_number sort would otherwise share a stage with the
    # consumers' own join sorts.
    pref = _stage_barrier(
        ranked.filter(
            F.col("rn") <= F.col("n_sh") - F.ceil(t * F.col("n_sh")) + k
        ).select("doc_id", "shingle", "n_sh", "rn")
    )
    if k == 1:
        return pref.select(
            "doc_id", F.col("shingle").alias("key"), "n_sh"
        )
    # k=2: within-prefix ordered pairs via a doc_id-co-partitioned
    # self-join (C(prefix, 2) rows per doc — the deliberate posting
    # cost that buys the re-sparsified key space)
    left = pref.select(
        "doc_id",
        F.col("shingle").alias("s1"),
        F.col("rn").alias("r1"),
        "n_sh",
    )
    right = pref.select(
        "doc_id", F.col("shingle").alias("s2"), F.col("rn").alias("r2")
    )
    pairs = (
        left.join(right, "doc_id")
        .filter(F.col("r1") < F.col("r2"))
        .select(
            "doc_id",
            F.struct(
                F.col("s1").alias("s1"), F.col("s2").alias("s2")
            ).alias("key"),
            "n_sh",
        )
    )
    singles = pref.filter(F.ceil(F.lit(t) * F.col("n_sh")) < 2).select(
        "doc_id",
        F.struct(
            F.col("shingle").alias("s1"), F.col("shingle").alias("s2")
        ).alias("key"),
        "n_sh",
    )
    return pairs.unionByName(singles)


def _doc_arrays(sh: DataFrame) -> DataFrame:
    """(doc_id, hs: sorted array<long>) — each doc's distinct 3-shingle
    set as 64-bit xxhash64 keys, pinned because each verification
    reads it on both sides of the pair (r13 optimization round). Candidate VERIFICATION over this table is two broadcast-cand
    joins plus a per-pair array_intersect — it replaces the former
    shingle-stream shape (a per-doc sizes aggregation over the whole
    pinned shingle table plus a (doc_id, shingle)-keyed join of the
    FULL table against the candidate fan-out) with work proportional to
    the candidate pairs only. Hashed keys follow the family convention
    (q_dedup_ngram_jaccard's verification): collision odds ~1e-7 over
    ~1e6 distinct shingles, and a collision must land inside one
    candidate pair's intersection to perturb a count."""
    return _pin(
        sh.select("doc_id", F.xxhash64("shingle").alias("sh"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sh")).alias("hs"))
    )


@register("q_dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard near-dup pairs (≥ 0.6): df-ordered
    PREFIX candidate generation + hashed-key verification — the
    production formulation.

    Candidate generation indexes, per doc, only its (n − ⌈t·n⌉ + k)
    globally-RAREST shingles (order: df asc, key asc). The prefix-filter
    theorem (SSJoin/PPJoin, public literature) guarantees any pair with
    jaccard ≥ t shares a prefix element, so this is exact — and because
    prefixes hold the rarest shingles, a corpus-scale stop-shingle never
    becomes a join key unless it is some doc's rarest content, bounding
    hot-key fanout by construction (the r1/r2 formulation joined the
    FULL inverted index, where one stop-shingle made a single join key
    quadratic). The blocking ORDER k is corpus-adaptive (r12,
    _PREFIX_DENSITY_SWITCH): on saturated shingle spaces, where no
    shingle is globally rare and single-shingle candidates grow
    ∝ n²/|space| (measured ×24.2 over sf0.1→sf1 on the 31-word-vocab
    fixture), blocking moves to within-prefix PAIR keys — exact by the
    generalized prefix-filter theorem, ×2.8 on the same decade.
    Verification then computes the full intersection count
    for candidates only, so the output equals the naive all-pairs
    definition (same oracle as q_dedup_ngram_prefix, the raw-shingle
    reference implementation).

    Shingles are collapsed to 64-bit xxhash64 keys before any shuffle:
    df-count, prefix join, and verification all move 8-byte longs
    instead of ~20-byte strings (collision odds over ~10^6 distinct
    shingles are ~10^-7 — and a collision would have to land inside one
    doc pair's intersection to perturb a count)."""
    t = 0.6
    d = load(spark, sf_dir, "documents")
    sh = _stage_barrier(
        _shingles(d, 3).select("doc_id", F.xxhash64("shingle").alias("sh"))
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # corpus-adaptive generalized-prefix order (r12; see
    # _PREFIX_DENSITY_SWITCH): k=2 pair-key blocking on saturated
    # shingle spaces, classic k=1 otherwise — both exact
    k = _prefix_k(dfreq)

    # One per-doc aggregation produces BOTH the verification set and
    # the prefix: collect (df, sh) structs, array_sort (rarest
    # first), slice the first n − ⌈t·n⌉ + k as the prefix — all in
    # codegen, no per-doc window pass over the shingle table.
    docs = (
        _stage_barrier(sh.join(dfreq, "sh"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias(
                "ranked"
            )
        )
        .select(
            "doc_id",
            F.transform("ranked", lambda s: s.sh).alias("shset"),
            F.size("ranked").alias("n_sh"),
        )
        .withColumn(
            "prefix",
            F.slice(
                F.col("shset"),
                1,
                (F.col("n_sh") - F.ceil(t * F.col("n_sh")) + k).cast("int"),
            ),
        )
        # the pin is load-bearing: without it the four consumers
        # (pa/pb/av/bv) each re-run the collect_list + array_sort
        # aggregation after the (reused) exchange — measured 2.8×
        # slower at sf0.1. The blocks die with the returned DataFrame.
        .transform(_pin)
    )

    if k == 1:
        keys = F.col("prefix")
    else:
        # within-prefix ordered pairs (array_sort order IS the
        # global rarity order, so both members of a qualifying
        # pair derive the identical struct), plus degenerate
        # (s, s) keys for docs whose overlap bound is < 2 — see
        # _rarity_prefix's k=2 docstring for the soundness
        # argument (within-doc shingles are distinct, so real
        # pair keys never collide with degenerate ones)
        pair_keys = F.flatten(
            F.transform(
                F.col("prefix"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("prefix"), i + F.lit(2), F.size("prefix")
                    ),
                    lambda y: F.struct(
                        x.alias("s1"), y.alias("s2")
                    ),
                ),
            )
        )
        degen = F.transform(
            F.col("prefix"),
            lambda s: F.struct(s.alias("s1"), s.alias("s2")),
        )
        keys = F.when(
            F.ceil(F.lit(t) * F.col("n_sh")) < 2,
            F.concat(pair_keys, degen),
        ).otherwise(pair_keys)

    pa = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(keys).alias("bk"),
        F.col("n_sh").alias("na"),
    )
    pb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.explode(keys).alias("bk"),
        F.col("n_sh").alias("nb"),
    )
    # size-compatibility prune INSIDE the join: jaccard ≥ t implies
    # |A| ≥ t·|B| and |B| ≥ t·|A|, so incompatible pairs are provably
    # below threshold and never reach verification
    cand = (
        _stage_barrier(
            pa.join(
                pb,
                (pa.bk == pb.bk)
                & (F.col("doc_a") < F.col("doc_b"))
                & (F.col("na") >= t * F.col("nb"))
                & (F.col("nb") >= t * F.col("na")),
            ).select("doc_a", "doc_b")
        )
        .distinct()
        .transform(_pin)
    )

    # exact verification: candidate pairs join back to the per-doc sets;
    # the intersection count runs as array_intersect in codegen, never
    # re-shuffling the shingle table. Capped broadcast: without any
    # broadcast the static planner builds on the ARRAY-carrying
    # av/bv sides (their pinned stats look small at test scale) and the
    # query measures 2.8× slower at sf0.1.
    vcand = _capped_broadcast(cand)
    av = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shset").alias("sa"),
        F.col("n_sh").alias("na"),
    )
    bv = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shset").alias("sb"),
        F.col("n_sh").alias("nb"),
    )
    common = _stage_barrier(
        vcand
        .join(av, "doc_a")
        .join(bv, "doc_b")
    ).withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # RAW double jaccard: n/(na+nb−n) is one identically-written IEEE
    # division of exact ints on both engines — bit-equal. ROUND(x, 6)
    # would ADD the rendering-vs-binary divergence for clean ratios
    # whose decimal expansion terminates just past 6 digits in a 5
    # (the measured 333/640 class), so the un-rounded value is the
    # hash-safe emission.
    return (
        common.filter(jac >= t)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@register("q_dedup_ngram_prefix", oracle=NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard pairs (≥ 0.6) via PPJoin-style prefix
    filtering — the scalable exact formulation of q_dedup_ngram_jaccard.

    Prefix-filter principle (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin, public literature): order every doc's shingles by global
    rarity (df asc, shingle asc). A pair with jaccard ≥ t and
    compatible sizes (nb ≥ t·na) must overlap by c ≥ ceil(t·na), and
    any two sets overlapping ≥ c must share k elements within the
    first (n − c + k) elements of this common order (k=1 is the
    classic filter; _rarity_prefix picks k per corpus — see
    _PREFIX_DENSITY_SWITCH). So only the prefixes are indexed for
    candidate generation — the join touches a fraction of the
    inverted index, and because prefixes hold the *rarest* shingles,
    hot-shingle fan-out is avoided entirely. Candidates are then
    verified with a full intersection count, so the result is exact
    (same oracle as the plain formulation).

    This is the raw-shingle REFERENCE implementation of the algorithm;
    q_dedup_ngram_jaccard runs the production form of the same prefix
    filter over 64-bit hashed keys (8-byte shuffles), which is what the
    bench suite times. Two independent formulations sharing one oracle
    cross-check each other.
    """
    d = load(spark, sf_dir, "documents")
    t = 0.6
    sh = _pin(_shingles(d, 3))
    prefix = _rarity_prefix(sh, t)

    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "key", F.col("n_sh").alias("na")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), "key", F.col("n_sh").alias("nb")
    )
    cand = (
        pa.join(
            pb,
            (pa.key == pb.key)
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") >= t * F.col("nb"))
            & (F.col("nb") >= t * F.col("na")),
        )
        .select("doc_a", "doc_b", "na", "nb")
        .distinct()
        .transform(_pin)
    )

    # exact verification: full intersection count on candidates only
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        _capped_broadcast(cand)
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # RAW jaccard — same hash-safety reasoning as q_dedup_ngram_jaccard
    return common.filter(jac >= t).select(
        "doc_a", "doc_b", jac.alias("jaccard")
    )


#: contamination geometry: 5-word shingles; eval set = every 50th doc
_CONTAM_K = 5
_CONTAM_MOD = 50

_CONTAM_ORACLE = f"""
    WITH shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - {_CONTAM_K}, 0) + 1),
                       i -> ARRAY_TO_STRING(
                           STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+{_CONTAM_K}], ' ')
                   ))) AS shingle
        FROM documents
    ),
    eval_sh AS (
        SELECT DISTINCT shingle FROM shingled WHERE doc_id % {_CONTAM_MOD} = 0
    ),
    train AS (SELECT * FROM shingled WHERE doc_id % {_CONTAM_MOD} <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_shared
        FROM train t JOIN eval_sh e ON t.shingle = e.shingle
        GROUP BY t.doc_id
    )
    SELECT s.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           s.n_shingles,
           CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / s.n_shingles
               AS contam_score,
           (CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / s.n_shingles >= 0.05)
               AS contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""


@register("q_contamination", oracle=_CONTAM_ORACLE)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train↔eval contamination check: every 50th doc is the held-out
    eval set; each training doc is scored by the fraction of its 5-word
    shingles that appear anywhere in the eval set (the n-gram-overlap
    decontamination used before LLM pretraining).

    Scale shape: the eval side is tiny relative to the corpus by
    construction, so its distinct shingle set is BROADCAST and the
    training corpus is scanned exactly once with a map-side hash probe —
    no shuffle of the 100 TB side at all; only the per-doc counters
    aggregate. Shingles travel as xxhash64 keys, not strings."""
    d = load(spark, sf_dir, "documents")
    sh = _stage_barrier(
        _shingles(d, _CONTAM_K).select(
            "doc_id", F.xxhash64("shingle").alias("sh")
        )
    )
    is_eval = F.col("doc_id") % _CONTAM_MOD == 0
    eval_sh = sh.filter(is_eval).select("sh").distinct()
    train = sh.filter(~is_eval)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    score = F.col("n_shared").cast("double") / F.col("n_shingles")
    return (
        _stage_barrier(sizes).join(_stage_barrier(hits), "doc_id", "left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            # RAW int-ratio double (hash-safe identical bits; ROUND
            # would add the 333/640 rendering divergence)
            score.alias("contam_score"),
            (score >= 0.05).alias("contaminated"),
        )
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sig: array<bigint>[N_HASHES]) — min over keyed hashes.

    Permutation i is xxhash64(shingle, seed=i) (Spark's codegen'd 64-bit
    hash takes a seed; fixed seeds ⇒ deterministic). One groupBy: each
    doc's signature is N_HASHES mins computed map-side."""
    hashed = sh.select(
        "doc_id",
        F.array(
            *[F.xxhash64(F.col("shingle"), F.lit(i)) for i in range(N_HASHES)]
        ).alias("hs"),
    )
    mins = [F.min(F.col("hs")[i]).alias(f"h{i}") for i in range(N_HASHES)]
    return _stage_barrier(hashed).groupBy("doc_id").agg(*mins).select(
        "doc_id", F.array(*[f"h{i}" for i in range(N_HASHES)]).alias("sig")
    )


@register("q_dedup_minhash")  # rows-only: LSH recall < 1 has no exact oracle
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band buckets → candidate
    pairs (band-bucket join) → exact Jaccard verification ≥ 0.8.
    Deterministic, but recall < 1 ⇒ rows-only; the test suite asserts
    recall vs the exact-Jaccard pairs on the small SF."""
    d = load(spark, sf_dir, "documents")
    sh = _pin(_shingles(d, 3))
    sig = minhash_signatures(sh)

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * ROWS_PER_BAND + r] for r in range(ROWS_PER_BAND)]
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    bands = _stage_barrier(bands)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        .transform(_pin)
    )

    # exact verification of candidates only (r13 optimization round):
    # two broadcast-cand joins against the pinned per-doc hash-array
    # table + one array_intersect per pair — work ∝ candidate pairs.
    # The former shape aggregated per-doc sizes over the WHOLE pinned
    # shingle table and shuffled the full table by (doc_id, shingle)
    # into the candidate fan-out every run (measured 1.54 s → 0.66 s
    # warm at sf0.1). The candidate set is orders of magnitude smaller
    # than the shingle table — broadcast it under the measured cap;
    # past the cap AQE decides (VERDICT r4 #4: no unconditional
    # broadcast of data-dependent tables).
    arr = _doc_arrays(sh)
    va = arr.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    vb = arr.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    common = (
        _capped_broadcast(cand)
        .join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("n_common"),
            F.size("ha").cast("long").alias("na"),
            F.size("hb").cast("long").alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return common.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


#: SimHash banding parameters (VERDICT r5 item 3 — the fixed 4×16-bit
#: split was a silent scale ceiling; it is now a named, tunable policy
#: with the saturation math in the open).
#:
#: The fingerprint has SIMHASH_BITS bits split into SIMHASH_NBANDS
#: equal bands of width W = BITS/NBANDS; by pigeonhole, any pair
#: within Hamming distance NBANDS−1 agrees on ≥1 whole band, so
#: banded candidate generation has recall 1.0 for d ≤ NBANDS−1.
#: Each band has 2^W buckets, so expected bucket occupancy at N docs
#: is N/2^W and each bucket emits ~occ²/2 candidate pairs per band:
#:
#:   N docs   | 4×16 (2^16 buckets) occ | 2×32 (2^32 buckets) occ
#:   ---------|-------------------------|------------------------
#:   10^6     | 15                      | ~0 (0.0002)
#:   10^8     | 1,526                   | 0.02
#:   10^9     | 15,259  ← saturated     | 0.23
#:   10^10    | 152,588 ← saturated     | 2.3
#:
#: Policy: 4×16 (recall 1.0 at d ≤ 3) holds to ~10^8 docs; beyond
#: that switch to NBANDS=2 (32-bit buckets, recall guarantee drops to
#: d ≤ 1 with the d ≤ 6 tier becoming best-effort), or grow
#: SIMHASH_BITS to 128 with 4×32 bands — the code below derives
#: widths/masks from the constants, so either is a constant change,
#: not a rewrite. SIMHASH_BUCKET_CAP is the hard fan-out guard
#: either way: a band-bucket holding more docs than the cap is
#: degenerate (near-identical boilerplate or a saturated band) and is
#: dropped from candidate generation instead of emitting occ²/2
#: pairs — bounding per-bucket work by a named constant rather than
#: by corpus size. The cap is far above any fixture occupancy
#: (max ≈ 2 at sf0.1), so test-scale results are unchanged
#: (test_simhash_band_params_consistent asserts both properties).
SIMHASH_BITS = 64
SIMHASH_NBANDS = 4
SIMHASH_BAND_WIDTH = SIMHASH_BITS // SIMHASH_NBANDS
SIMHASH_BUCKET_CAP = 100_000
#: verification tier: emit pairs with bit_count(xor) ≤ this. Recall is
#: exactly 1.0 up to SIMHASH_NBANDS−1; best-effort between that and
#: the tier bound.
SIMHASH_HAMMING_MAX = 6


def _simhash_fold_batches(it):
    """mapInPandas kernel: fold per-doc SimHash bit counts over
    CONTIGUOUS doc runs of (doc_id, h) batches and emit finished
    (doc_id, simhash) rows — the NumPy replacement for the former
    33-column doc-keyed JVM aggregation (see q_dedup_simhash). A doc
    split across Arrow batch boundaries is merged via the carry; a doc
    reappearing NON-adjacently (meaning upstream re-shuffled word rows
    — the contiguity invariant this kernel requires) raises instead of
    silently emitting duplicate fingerprints. Integer-exact: counts are
    int64, the majority test is 2·set_count > n_words, and the bit
    packing goes through uint64 so bit 63 lands as the two's-complement
    sign, identical to the JVM's -(1<<63) literal."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    def finish(docs, cnt, nw):
        bits = (cnt * 2 > nw[:, None]).astype(np.uint64)
        packed = (bits << shifts[None, :]).sum(axis=1).view(np.int64)
        return pd.DataFrame({"doc_id": docs, "simhash": packed})

    carry = None  # (doc_id, cnt (64,), nw) of the partition's open run
    seen = set()
    for pdf in it:
        if not len(pdf):
            continue
        doc = pdf["doc_id"].to_numpy()
        h = pdf["h"].to_numpy()
        starts = np.flatnonzero(np.r_[True, doc[1:] != doc[:-1]])
        rdocs = doc[starts]
        cnt = np.empty((len(starts), 64), dtype=np.int64)
        for i in range(64):
            cnt[:, i] = np.add.reduceat((h >> i) & 1, starts)
        nw = np.diff(np.r_[starts, len(doc)]).astype(np.int64)
        if carry is not None:
            if rdocs[0] == carry[0]:
                cnt[0] += carry[1]
                nw[0] += carry[2]
            else:
                yield finish(
                    np.array([carry[0]]), carry[1][None, :],
                    np.array([carry[2]]),
                )
                seen.add(carry[0])
        carry = (rdocs[-1], cnt[-1].copy(), nw[-1])
        done_docs, done_cnt, done_nw = rdocs[:-1], cnt[:-1], nw[:-1]
        if len(done_docs):
            for x in done_docs.tolist():
                if x in seen:
                    raise RuntimeError(
                        "simhash fingerprint kernel saw a non-contiguous "
                        "doc run — upstream must not re-shuffle word rows"
                    )
                seen.add(x)
            yield finish(done_docs, done_cnt, done_nw)
    if carry is not None:
        if carry[0] in seen:
            raise RuntimeError(
                "simhash fingerprint kernel saw a non-contiguous "
                "doc run — upstream must not re-shuffle word rows"
            )
        yield finish(
            np.array([carry[0]]), carry[1][None, :], np.array([carry[2]])
        )


@register("q_dedup_simhash")  # rows-only: banded Hamming search, recall < 1
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: SIMHASH_BITS-bit fingerprint (sign of
    per-bit sums of word hashes), split into SIMHASH_NBANDS equal
    bands; pairs agreeing on ≥1 band are verified with
    bit_count(xor) ≤ SIMHASH_HAMMING_MAX. By pigeonhole, any pair
    within Hamming distance NBANDS−1 shares a clean band — recall 1.0
    for d ≤ 3 at the default 4×16 split, CONDITIONAL on the pair's
    shared band-bucket staying under SIMHASH_BUCKET_CAP (a saturated
    bucket is dropped before pair generation, so a pair connected only
    through it is missed; guaranteed vacuous at fixture scale by
    test_simhash_band_params_consistent). The d ≤ 6 output tier is
    best-effort (rows-only). Banding geometry and the per-bucket
    fan-out cap are module constants with the occupancy scale table —
    see the SIMHASH_* block above.

    Physical shape (r13 optimization round): the fingerprint is the
    expensive subtree (word explode + per-bit sums over every word),
    and the former band-bucket SELF-JOIN + separate occupancy guard
    referenced it FOUR times in one plan (x side, y side, ok_buckets
    under each) — only the map-side exchange was reused, so the
    post-shuffle sum-merge + band Generate ran 4×. Candidates are now
    generated by ONE aggregation: group bands by (band, bucket),
    collect the (doc_id, simhash) members — with the occupancy guard
    applied BEFORE the collect as a window count over the same
    (band, bucket) exchange (r14, ADVICE r13: the former size() filter
    ran after the collect_list buffer had already materialized a
    saturated bucket's full membership; the window pre-filter keeps
    aggregation state truly bounded at SIMHASH_BUCKET_CAP structs ≈
    1.6 MB, and WindowExec itself spills gracefully) — and emit the
    within-bucket ordered pairs with array higher-order functions. One
    pipeline, zero self-joins; pairs are slimmed to
    (doc_a, doc_b, hamming) and the d ≤ SIMHASH_HAMMING_MAX filter
    runs BEFORE the multi-band dedup (r14), so the distinct exchange
    moves the ~4% of candidate pairs that pass, not every bucket
    collision.

    The per-bit accumulation is a NumPy batch kernel (r14 optimization
    round, guide §4.2 "hand whole batches to vectorized native code"):
    words explode and xxhash64 stay in the JVM (string semantics and
    hashes bit-identical by construction), then mapInPandas folds each
    doc's 64 bit-counts with vectorized reduceat passes and emits the
    FINISHED fingerprint — no doc-keyed exchange, no 33-column
    aggregation buffer, no separate fingerprint projection. That is
    exact because a doc's word rows are CONTIGUOUS IN ONE PARTITION:
    _spread round-robins whole documents and explode/select are narrow
    (order-preserving), with no exchange before the map — the same
    invariant heavy_hitters' shard logic builds on; the stage barrier
    moved AFTER the (corpus-count-sized) fingerprint table, where it
    barriers 34× fewer rows anyway. The kernel still merges runs
    across Arrow BATCH boundaries within the partition, and raises on
    any non-contiguous doc run (defensive, also pinned by a CI test
    feeding it a split batch stream). The sign test sum(±1) > 0 is
    equivalently 2·(count of set bits) > n_words — integer-exact end
    to end, pinned by the CI parity test vs the pre-r13 formulation.
    The r13 SWAR-packed 32-sum JVM aggregation this replaces measured
    0.82 s isolated vs 0.49 s for the kernel at sf0.1 (the codegen'd
    per-word buffer updates plus the doc exchange were the fingerprint
    pipeline's floor, not the explode or the hash)."""
    d = load(spark, sf_dir, "documents")
    wh = _spread(d).select(
        "doc_id",
        F.explode(F.split(_norm_text(F.col("text")), " ")).alias("w"),
    ).select("doc_id", F.xxhash64("w").alias("h"))

    fp = _stage_barrier(
        wh.mapInPandas(_simhash_fold_batches, "doc_id long, simhash long")
    )
    band_mask = (1 << SIMHASH_BAND_WIDTH) - 1
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(
                            F.col("simhash"), b * SIMHASH_BAND_WIDTH
                        )
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bucket"),
                    )
                    for b in range(SIMHASH_NBANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    bands = _stage_barrier(bands)
    # ONE aggregation replaces the self-join: the fan-out guard runs as
    # an unordered-frame window COUNT over the same (band, bucket)
    # exchange BEFORE the collect (a bucket above the occupancy cap
    # would emit ~occ²/2 pairs AND build an occupancy-sized aggregation
    # buffer; drop its rows first — degenerate boilerplate or a
    # saturated band, the scale table above says when to re-band — so
    # collect_list state is genuinely bounded at SIMHASH_BUCKET_CAP
    # structs and the window itself spills gracefully). The groupBy
    # reuses the window's partitioning: one exchange total. array_sort
    # makes the emitted (doc_a, doc_b) orientation deterministic
    # (doc_a < doc_b by struct order, as the old x.doc_id < y.doc_id
    # filter guaranteed).
    occ = F.count(F.lit(1)).over(W.partitionBy("band", "bucket"))
    members = (
        bands.withColumn("occ", occ)
        .filter((F.col("occ") >= 2) & (F.col("occ") <= SIMHASH_BUCKET_CAP))
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("m"))
    )
    # emit (doc_a, doc_b, hamming) directly and filter the Hamming tier
    # BEFORE the multi-band dedup: the distinct exchange then moves only
    # the pairs that survive the tier (~4% at sf0.1), three narrow
    # columns instead of pair+both fingerprints.
    pairs = (
        members.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "m",
                        lambda a, i: F.transform(
                            F.slice(
                                F.col("m"),
                                i + 2,
                                F.greatest(F.size("m") - i - 1, F.lit(0)),
                            ),
                            lambda b: F.struct(
                                a.doc_id.alias("doc_a"),
                                b.doc_id.alias("doc_b"),
                                a.simhash.alias("ha"),
                                b.simhash.alias("hb"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.col("p.ha").bitwiseXOR(F.col("p.hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    return pairs.select("doc_a", "doc_b", "hamming")


@register(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(
             LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
             6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / (SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
          >= 0.95
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.95), blocked by `label` —
    blocking keys bound the pair space exactly like LSH buckets do (the
    100 TB version blocks on coarse quantizer cells). Dot products use
    the same left-fold-in-element-order double arithmetic as DuckDB's
    list_dot_product, so values are bit-identical before rounding.

    The fixture holds NO same-label pair at cosine ≥ 0.95, so this key
    returns 0 rows at every SF — a TRUE empty, not a dead pipeline:
    tests/test_llm_ops.py::test_embedding_cosine_matches_numpy runs the
    identical pair pipeline unthresholded against a numpy brute force
    (and pins the fixture's max cosine below the threshold), so a
    sign/normalization bug cannot hide behind the empty result."""
    return _embedding_cosine_pairs(spark, sf_dir, 0.95)


#: leading normalized coordinates used by the exact projection prune
#: in _embedding_cosine_pairs; 16-of-64 keeps the prune pass at ~25%
#: of a full dot while rejecting the overwhelming majority of
#: non-qualifying pairs (for isotropic data the 16-dim squared
#: distance concentrates near 0.5, 5x the 0.1 bound at t=0.95)
_EMB_PRUNE_DIMS = 16


def _embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Same-label (vec_a < vec_b) cosine pairs at ``threshold`` — the
    shared body of q_dedup_embedding, parameterized so tests can run it
    unthresholded (threshold=-1.0 emits every blocked pair).

    Exact projection prune (r12; second-decade probe read ×11.9 on ×4
    input growth — the label-blocked pair space is quadratic by the
    query's own definition, so the lever is per-pair cost, not pair
    count): coordinate subsetting is an orthogonal projection, so for
    UNIT vectors ‖û_P − v̂_P‖² ≤ ‖û − v̂‖² = 2(1 − cos) — any pair
    with cosine ≥ t therefore satisfies the _EMB_PRUNE_DIMS-dim bound
    ≤ 2(1 − t), and filtering on it first is a NECESSARY condition
    (never drops a qualifying pair; a 1e-9 slack absorbs fold-order
    float noise). Survivors get the full-width cosine in exactly the
    oracle's left-fold double arithmetic — the prune never touches an
    emitted value, so results stay bit-identical. Unthresholded calls
    (t = −1) make the bound ≥ 4, the diameter of the unit sphere —
    the prune passes everything by construction."""
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
    )
    # norms precomputed per vector (once), not per pair — same doubles as
    # the oracle's per-pair recomputation, ~3× less higher-order-fn work
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .withColumn(
            "p",
            F.transform(
                F.slice("v", 1, _EMB_PRUNE_DIMS),
                lambda x: x / F.col("norm"),
            ),
        )
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("v").alias("va"),
        F.col("norm").alias("na"), F.col("p").alias("pa"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), "label", F.col("v").alias("vb"),
        F.col("norm").alias("nb"), F.col("p").alias("pb"),
    )
    prune_d2 = F.aggregate(
        F.zip_with(
            F.col("pa"), F.col("pb"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(prune_d2 <= 2.0 * (1.0 - threshold) + 1e-9)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE pairs AS ({NGRAM_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id, (id = MIN(r)) AS canonical
    FROM reach GROUP BY id
"""


@register("q_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: the ngram-Jaccard pair list (≥ 0.6) becomes an
    undirected graph and each doc is labeled with its connected
    component's minimum doc_id — the canonical representative every
    pipeline keeps. The iterative min-label propagation (label :=
    min(label, neighbors' labels) until fixpoint) is the distributed
    connected-components loop: each round is one shuffle join keyed on
    doc_id, `localCheckpoint` truncates the growing lineage, and rounds
    needed = graph diameter (near-dup clusters are shallow — a handful).
    The DuckDB oracle computes the same components via a recursive CTE,
    checking the fixpoint, not the iteration count."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .withColumnsRenamed({"doc_a": "src", "doc_b": "dst"})
        # materialize once: every propagation round joins edges, and
        # without the checkpoint each round lazily re-evaluates the whole
        # jaccard pipeline behind it
        .transform(tracked_local_checkpoint)
    )
    labels = tracked_local_checkpoint(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
    )
    for _ in range(20):  # diameter bound; fixture converges in ≤3
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = tracked_local_checkpoint(
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        # superseded-round release (ckpt.py): the changed-count action
        # above was the old label set's last reader
        release_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        # the loop bound is a diameter assumption, not a semantic cap:
        # silently returning unconverged labels would split components
        raise RuntimeError(
            "q_dedup_clusters: min-label propagation did not converge "
            "within 20 rounds — component diameter exceeds the bound"
        )
    # edges are loop-only state: the returned plan reads labels only
    release_checkpoint(edges)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("id") == F.col("lbl")).alias("canonical"),
    )


@register(
    "q_dedup_entity",
    oracle="""
    WITH names AS (
        SELECT p_name, COUNT(*) AS n_parts,
               STRING_SPLIT(p_name, ' ')[1] AS blk_first,
               STRING_SPLIT(p_name, ' ')[-1] AS blk_last
        FROM part GROUP BY p_name
    ),
    cand AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        FROM names a JOIN names b
          ON a.blk_first = b.blk_first AND a.p_name < b.p_name
        UNION
        SELECT a.p_name, b.p_name, a.n_parts, b.n_parts
        FROM names a JOIN names b
          ON a.blk_last = b.blk_last AND a.p_name < b.p_name
    )
    SELECT name_a, name_b,
           levenshtein(name_a, name_b) AS edit_dist,
           n_parts_a, n_parts_b
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 2
    ORDER BY edit_dist, name_a, name_b
    """,
)
def q_dedup_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by multi-pass blocked fuzzy matching: part-name
    variants ("cold anvil" vs "old anvil") are linked when their edit
    distance is ≤ 2, without ever comparing all name pairs. Candidate
    pairs come from TWO blocking passes — same first token and same
    last token — union-deduped, then verified with an exact
    `levenshtein` call; a pair is only missed if BOTH its tokens
    disagree, which the ≤2-edit budget makes impossible for two-token
    names (standard multi-pass blocking recall argument).

    Scale shape: matching runs on the *distinct-name* relation (a
    pre-aggregation that collapses record volume to entity volume —
    2000 rows → 64 here, and crawl-scale corpora collapse similarly),
    each blocking pass is an equi hash join whose fan-out is bounded by
    block size, and the quadratic verify only ever sees within-block
    candidates. Per-name record counts ride along so downstream merge
    steps know each cluster's mass without re-scanning.
    """
    p = load(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    names = (
        p.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk_first", F.element_at(toks, 1))
        .withColumn("blk_last", F.element_at(toks, -1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk_first",
        "blk_last",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk_first",
        "blk_last",
    )
    by_first = a.join(b, ["blk_first"]).filter(F.col("name_a") < F.col("name_b"))
    by_last = a.join(b, ["blk_last"]).filter(F.col("name_a") < F.col("name_b"))
    cand = (
        by_first.select("name_a", "name_b", "n_parts_a", "n_parts_b")
        .union(by_last.select("name_a", "name_b", "n_parts_a", "n_parts_b"))
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.filter(dist <= 2)
        .select(
            "name_a",
            "name_b",
            dist.alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("edit_dist", "name_a", "name_b")
    )


@register(
    "q_dedup_incremental",
    oracle="""
    SELECT b.doc_id, b.lang, b.source
    FROM documents b
    WHERE b.doc_id % 10 = 0
      AND NOT EXISTS (
        SELECT 1 FROM documents h
        WHERE h.doc_id % 10 <> 0
          AND MD5(TRIM(LOWER(h.text))) = MD5(TRIM(LOWER(b.text)))
      )
    ORDER BY b.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a newly-arrived batch (here: every
    10th doc, standing in for today's crawl) is admitted only where its
    normalized-text hash does NOT appear in the accumulated history —
    a LEFT ANTI join on a 16-byte digest. This is how dedup actually
    runs at 100 TB: the corpus is deduped once, and each ingest batch
    anti-joins against the history's hash index instead of re-running
    global dedup over everything ever crawled.

    Scale shape: the anti join shuffles fixed-width digests, never
    text; the (small) batch side is the stream side of the hash join.
    With AQE the batch side broadcasts when it fits, making the pass
    history-scan-bound — and the history scan itself reads only the
    digest column when the index is materialized as its own table.
    """
    d = load(spark, sf_dir, "documents")
    digest = F.md5(F.trim(F.lower(F.col("text"))))
    hist = d.filter(F.col("doc_id") % 10 != 0).select(digest.alias("h"))
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "lang", "source", digest.alias("h")
    )
    return (
        batch.join(hist, "h", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "q_dedup_incremental_fuzzy",
    oracle="""
    WITH shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - 3, 0) + 1),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+3], ' ')
                   ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
    common AS (
        SELECT b.doc_id AS new_id, h.doc_id AS dup_of, COUNT(*) AS n_common
        FROM shingled b JOIN shingled h ON b.shingle = h.shingle
        WHERE b.doc_id % 10 = 0 AND h.doc_id % 10 <> 0
        GROUP BY b.doc_id, h.doc_id
    )
    SELECT c.new_id, c.dup_of,
           CAST(c.n_common AS DOUBLE)
             / (sb.n_sh + sh.n_sh - c.n_common) AS jaccard
    FROM common c
    JOIN sizes sb ON c.new_id = sb.doc_id
    JOIN sizes sh ON c.dup_of = sh.doc_id
    WHERE CAST(c.n_common AS DOUBLE) / (sb.n_sh + sh.n_sh - c.n_common) >= 0.6
    """,
)
def q_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission: the newly-arrived batch (every
    10th doc) is checked for 3-shingle Jaccard ≥ 0.6 against the
    accumulated history — the fuzzy companion of q_dedup_incremental's
    exact-digest anti-join, and how near-dup dedup actually runs at
    100 TB: the corpus-wide pair search happened once, and each ingest
    batch generates candidates ONLY against the standing index (a
    batch×index prefix join — no batch×batch or index×index pairs ever
    form).

    Exactness: the PPJoin prefix-filter theorem holds for any pair, so
    restricting the candidate join to cross (batch, history) pairs
    keeps it exact — emitted pairs are verified with the full
    intersection count, matching the naive cross-pair SQL definition.
    Scale shape: rarity df is computed over the union (the live index
    keeps global df maintained); candidate generation touches only the
    batch's prefixes against the index's prefix table — work scales
    with the BATCH, not the corpus. RAW int-ratio jaccard emission
    (hash-safe class)."""
    d = load(spark, sf_dir, "documents")
    t = 0.6
    sh = _pin(_shingles(d, 3))
    prefix = _rarity_prefix(sh, t)
    is_batch = F.col("doc_id") % 10 == 0
    pb = prefix.filter(is_batch).select(
        F.col("doc_id").alias("new_id"), "key", F.col("n_sh").alias("nb")
    )
    ph = prefix.filter(~is_batch).select(
        F.col("doc_id").alias("dup_of"), "key", F.col("n_sh").alias("nh")
    )
    cand = (
        _stage_barrier(
            pb.join(
                ph,
                (pb.key == ph.key)
                & (F.col("nb") >= t * F.col("nh"))
                & (F.col("nh") >= t * F.col("nb")),
            ).select("new_id", "dup_of", "nb", "nh")
        )
        .distinct()
        .transform(_pin)
    )
    # (r13 optimization round) verification via the pinned per-doc
    # hash-array table: two broadcast-cand joins + one array_intersect
    # per candidate — the former shape shuffled the WHOLE pinned
    # shingle table by (dup_of, shingle) into the candidate fan-out and
    # re-aggregated it every run (same rework as q_dedup_minhash's
    # verification; nb/nh already ride on cand, so no first() pulls and
    # no aggregation at all).
    arr = _doc_arrays(sh)
    va = arr.select(F.col("doc_id").alias("new_id"), F.col("hs").alias("ha"))
    vb = arr.select(F.col("doc_id").alias("dup_of"), F.col("hs").alias("hb"))
    common = (
        _capped_broadcast(cand)
        .join(va, "new_id")
        .join(vb, "dup_of")
        .select(
            "new_id",
            "dup_of",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("n_common"),
            "nb",
            "nh",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("nb") + F.col("nh") - F.col("n_common")
    )
    return common.filter(jac >= t).select(
        "new_id", "dup_of", jac.alias("jaccard")
    )


@register(
    "q_dedup_minhash_audit",
    oracle=f"""
    SELECT COUNT(*) AS n_truth, TRUE AS recall_ok
    FROM ({NGRAM_JACCARD_ORACLE}) exact_pairs
    WHERE jaccard >= 0.8
    """,
)
def q_dedup_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-adjudicable audit for the rows-only MinHash LSH path: the
    banded candidates + exact verification must recover ≥ 90% of the
    true Jaccard-≥0.8 pairs (16 bands × 4 rows ⇒ expected ≥ 99.9%).
    The LSH output itself has no SQL oracle (recall < 1), but its recall
    against the exact prefix-filtered pairs is deterministic for fixed
    data and seeds — emitted as the exact-truth count (oracle-able) plus
    a boolean the oracle states as TRUE; a recall regression flips it
    and hash-fails."""
    from .similarity import _recall_audit

    truth = q_dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.8)
    found = q_dedup_minhash(spark, sf_dir)
    return _recall_audit(truth, found, ["doc_a", "doc_b"], 0.9)


#: word-gram width for duplicated-span detection. Lee et al. 2022
#: ("Deduplicating Training Data Makes Language Models Better") use
#: 50-BPE-token exact substrings via a suffix array; the scalable
#: DataFrame re-expression is fixed-width word grams — every duplicated
#: substring of >= SPAN_K words is a run of duplicated SPAN_K-grams, so
#: gram-level multiplicity plus interval merging recovers the spans.
SPAN_K = 8


@register(
    "q_dedup_span",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS ws FROM documents
    ),
    g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               ARRAY_TO_STRING(ws[i+1:i+8], ' ') AS gram
        FROM (SELECT doc_id, ws, UNNEST(RANGE(0, GREATEST(LEN(ws) - 7, 0))) AS i
              FROM t)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
    p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN LAG(pos) OVER w IS NULL OR pos - LAG(pos) OVER w > 8
                    THEN 1 ELSE 0 END AS brk
        FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (SELECT doc_id, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
           FROM isl),
    spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 7 AS e
              FROM sp GROUP BY doc_id, span_id),
    per_doc AS (
        SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(MAX(e - s + 1) AS BIGINT) AS max_span_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(LEN(t.ws) AS BIGINT) AS n_tokens,
           p.dup_tokens, p.n_spans, p.max_span_tokens,
           CAST(p.dup_tokens AS DOUBLE) / LEN(t.ws) AS dup_frac
    FROM per_doc p JOIN t ON p.doc_id = t.doc_id
    """,
)
def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN detection (the substring-dedup
    tier below document-level dedup): every SPAN_K-word gram is keyed by
    a 128-bit hash; grams occurring in >= 2 distinct docs mark their
    token interval [pos, pos+K-1] duplicated; per doc, overlapping or
    contiguous intervals merge (gaps-and-islands) into maximal spans.
    Emits, per affected doc: token count, duplicated-token coverage,
    span count, longest span, and the coverage fraction (raw int-ratio
    double — hash-safe, both engines derive it from identical integers).

    100 TB story: the shuffle rows are (doc_id, pos, h1, h2) — 32 bytes
    per gram, never gram text. Cross-doc multiplicity is MIN(doc)<>
    MAX(doc) — algebraic, map-side combinable, so hot grams (boilerplate
    phrases) collapse per-partition before the exchange. The dup-key
    join re-uses the gram exchange (same (h1,h2) partitioning on both
    sides); the span merge is one doc_id window whose partitioning the
    two downstream groupBys reuse (superset grouping keys — same
    technique as q_sessionize, plan-asserted there). Collision odds on
    128 bits are ~10^-17 at 10^11 docs.
    Semantics ref: reference has no text ops (HCL/bash only —
    userdata/cloudinit.sh); this extends SURVEY §2.3's dedup mandate."""
    return duplicated_spans(load(spark, sf_dir, "documents"))


def duplicated_spans(d: DataFrame, K: int = SPAN_K) -> DataFrame:
    """Core of q_dedup_span over any (doc_id, text) relation — split out
    so tests can drive hand-built multi-span corpora (the fixture's
    planted near-dups are whole-document copies, which only ever produce
    single spans)."""
    ws = F.split(_norm_text(F.col("text")), " ")
    docs = d.select(
        "doc_id", ws.alias("ws"), F.size(ws).cast("long").alias("n_tokens")
    )
    # K-gram array via the _shingles zip-shift construction (O(K·n));
    # measured ≈ the per-position transform(sequence, slice) form here
    # (K=8 hashing + explode dominate, unlike the k=3 shingle case);
    # posexplode supplies the 0-based gram position the span merge
    # needs.
    acc = F.col("ws")
    for j in range(2, K + 1):
        shifted = F.slice(
            F.col("ws"), j, F.greatest(F.size(F.col("ws")) - j + 1, F.lit(1))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    gram_arr = F.slice(acc, 1, (F.col("n_tokens") - K + 1).cast("int"))
    grams = _spread(docs.filter(F.col("n_tokens") >= K)).select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    )
    gh = _stage_barrier(
        grams.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.xxhash64("gram").alias("h1"),
            F.xxhash64(F.lit("span-seed-2"), F.col("gram")).alias("h2"),
        )
    )
    # (r13 optimization round) cross-doc multiplicity as WINDOW
    # aggregates over the gram-hash partitioning instead of a groupBy +
    # join back: the former dup-key aggregate and the gh⋈dup hash join
    # (two consumers of the gram exchange + a join pass) collapse into
    # one unordered-frame min/max window over the single (h1, h2)
    # exchange — no dup-key relation to build or probe at all
    # (measured 1.68 s → 1.30 s at sf0.1, byte-identical output; at
    # scale this trades the join's per-partition hash build for the
    # window's per-partition cluster sort on the same single exchange).
    wg = W.partitionBy("h1", "h2")
    pos = _stage_barrier(
        gh.withColumn("lo", F.min("doc_id").over(wg))
        .withColumn("hi", F.max("doc_id").over(wg))
        .filter(F.col("lo") != F.col("hi"))
        .select("doc_id", "pos")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    lag = F.lag("pos").over(w)
    sp = pos.withColumn(
        "brk",
        F.when(lag.isNull() | (F.col("pos") - lag > K), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("span_id", F.sum("brk").over(w))
    spans = sp.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"), (F.max("pos") + K - 1).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
        F.max(F.col("e") - F.col("s") + 1).alias("max_span_tokens"),
    )
    return per_doc.join(docs, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
        "n_spans",
        "max_span_tokens",
        (F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias(
            "dup_frac"
        ),
    )


#: asymmetric containment threshold: |S_A ∩ S_B| / |S_B| ≥ 0.9 declares
#: "A contains B" (quotation / subset duplication).
CONTAINMENT_THRESHOLD = 0.9

#: Document-frequency cap on the containment inverted index: a shingle
#: present in more than this many documents is dropped BEFORE the
#: self-join (it is corpus boilerplate — "terms of service apply" —
#: and carries no containment signal, while generating df·(df−1)/2
#: candidate pairs). The cap bounds per-shingle join fan-out to
#: ~5·10^7 pairs regardless of corpus size — the guard that keeps the
#: plan alive at 10^9+ docs, where an uncapped stop-shingle with
#: df ≈ N would alone produce ~N²/2 rows. Chosen FAR above the
#: fixture's observed maximum df (25 at sf0.1, 7 at sf0.01 — asserted
#: in tests/test_llm_ops.py) so results at test scales are
#: bit-identical to the uncapped oracle; at production scale the
#: dropped shingles change containment for affected pairs by design
#: (accepting that a pair connected ONLY through boilerplate is not a
#: containment pair).
CONTAINMENT_DF_CAP = 10_000

#: Shingle width shared by q_dedup_containment's numerator
#: (_shingles → common-shingle count) and denominator
#: (_shingle_array → |S_B|). Both call sites MUST take this one
#: constant (ADVICE r7): the two derivations previously relied on each
#: helper's implicit default k=3, so changing k at one site would have
#: silently desynchronized |S_A ∩ S_B| from |S_B| and produced
#: wrong-scaled containment with no error. Same literal 3 → the
#: expression trees (and the adjudicated key's plan) are unchanged.
CONTAINMENT_SHINGLE_K = 3


@register(
    "q_dedup_containment",
    oracle="""
    WITH shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - 3, 0) + 1),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+3], ' ')
                   ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    directed AS (
        SELECT doc_a AS container, doc_b AS contained,
               CAST(n_common AS DOUBLE) / sb.n_sh AS containment
        FROM common JOIN sizes sb ON common.doc_b = sb.doc_id
        UNION ALL
        SELECT doc_b AS container, doc_a AS contained,
               CAST(n_common AS DOUBLE) / sa.n_sh AS containment
        FROM common JOIN sizes sa ON common.doc_a = sa.doc_id
    )
    SELECT container, contained, containment
    FROM directed WHERE containment >= 0.9
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment(A ⊇ B) =
    |S_A ∩ S_B| / |S_B| over distinct 3-word shingles — the measure that
    catches quotation and subset duplication, which Jaccard misses
    (a 100-word doc quoted inside a 10,000-word doc has Jaccard ≈ 0.01
    but containment ≈ 1.0). Both directions are derived from ONE
    unordered common-shingle count, so the pair space is shared with
    the Jaccard path's inverted-index shape: docs meet only through
    shingles they share (hashed to 64-bit keys for the shuffle), never
    an N² scan.

    100 TB posture: common/stop shingles are the fan-out risk. The
    CONTAINMENT_DF_CAP filter drops any shingle indexed by more than
    10^4 documents BEFORE the self-join (one count-only hash aggregate
    over the shingle stream — cheap, map-side-combinable, tiny output;
    an index built by collect_list would instead carry O(df) aggregate
    state per stop-shingle, which is why the count-prefilter shape is
    kept), bounding the candidate pairs any single shingle can emit;
    AQE skew-join splitting then handles the sub-cap skew that
    remains. The |S_B| denominators need no second aggregation at all:
    size(_shingle_array()) is a narrow per-row map (VERDICT r6 #6
    folded the former sizes shuffle away). The cap is
    chosen far above the fixture's maximum df (25 at sf0.1), so at
    test scales the capped plan is bit-identical to the uncapped
    oracle — asserted by test_containment_df_cap_exceeds_fixture_df."""
    d = load(spark, sf_dir, "documents")
    # Derive the hashed shingle stream from a PINNED 3-word shingle
    # table (same k as the jaccard family): the corpus-density probe
    # (_prefix_k below) is a driver-side collect, and over an unpinned
    # stream it is a SECOND full execution of the split/explode/distinct
    # pipeline — measured +2.5x on this query at sf0.1 (bench r13:
    # anchor 2.06 s -> 5.07 s). Pinned, the density job and the main
    # job both read the materialised table.
    # the ADVICE-r7 single-constant guard: sizes below derive |S_B|
    # from CONTAINMENT_SHINGLE_K, so the 3-shingle table is
    # only a legal source for the numerator stream while the constant
    # stays 3 — desynchronizing them would silently mis-scale
    # containment, hence the hard check rather than a comment
    assert CONTAINMENT_SHINGLE_K == 3, (
        "containment must shingle at the jaccard family's k"
    )
    sh = _stage_barrier(
        _pin(_shingles(d, 3)).select(
            "doc_id", F.xxhash64("shingle").alias("h")
        )
    )
    # doc sizes are computed BEFORE the df-cap: |S_B| is a property of
    # the document, not of the pruned index (capping the denominator
    # too would silently inflate containment for boilerplate-heavy
    # docs). |S_B| = size(distinct-shingle array) is a NARROW per-row
    # map over the un-exploded array (VERDICT r6 #6) — the previous
    # groupBy(doc_id) over the exploded stream shuffled every shingle
    # a second time just to count them. CAVEAT (ADVICE r7): F.size is
    # non-ANSI and returns -1 for a NULL text, where the old exploded
    # groupBy simply omitted the doc — fine HERE because null-text docs
    # produce no shingles and so never reach the pair join, but any
    # reuse of this sizes frame as a general doc-size relation must
    # null-guard first. The fixture contract pins text non-null at
    # every SF (tests/test_llm_ops.py::test_fixture_contract_text_non_null).
    sizes = _spread(d).select(
        "doc_id",
        F.size(_shingle_array(CONTAINMENT_SHINGLE_K)).cast("long").alias("n_sh"),
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    df_ok = dfreq.filter(F.col("df") <= CONTAINMENT_DF_CAP)
    indexed = _stage_barrier(sh.join(df_ok, "h"))
    # Corpus-adaptive candidate scheme (r12, same switch as the
    # jaccard family): below the density switch the classic full
    # inverted-index self-join counts common shingles directly; on a
    # SATURATED shingle space (second-decade probe: ×15.0 over
    # sf0.1→sf1 at avg df 87 — every shingle is medium-df, so the
    # self-join's Σ C(df,2) candidate volume grows ∝ n²/|space| and
    # the stop-shingle cap never engages) candidates come from the
    # asymmetric generalized prefix filter instead: containment ≥ 0.9
    # needs overlap c = ⌈0.9·|S_B|⌉, so ANY subset of the CONTAINED
    # doc's capped set of size n_cap − c + 2 must share ≥ 2 elements
    # with the container (else overlap ≤ c−1) — the contained side
    # emits ordered pairs from its RAREST such subset, the container
    # side emits all its within-set pairs (both under the one global
    # (df, h) order, so shared pairs derive identical structs), and
    # only verified candidates get an exact intersection count.
    # Degenerate (s,s) keys cover contained docs whose bound is < 2,
    # matched by container-side singles. Both schemes are exact and
    # produce the same (doc_a < doc_b, n_common-over-capped-sets)
    # relation the directed emission below consumes.
    if _prefix_k(dfreq) == 1:
        a = indexed.select(F.col("doc_id").alias("doc_a"), "h")
        b = indexed.select(F.col("doc_id").alias("doc_b"), "h")
        common = (
            _stage_barrier(
                a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        arr = (
            _stage_barrier(indexed)
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "h"))).alias(
                    "rk"
                )
            )
            .select(
                "doc_id",
                F.transform("rk", lambda s: s.h).alias("hs"),
                F.size("rk").alias("n_cap"),
            )
            .join(sizes, "doc_id")
            .transform(_pin)
        )

        def pair_keys(col_arr):
            return F.flatten(
                F.transform(
                    col_arr,
                    lambda x, i: F.transform(
                        F.slice(col_arr, i + F.lit(2), F.size(col_arr)),
                        lambda y: F.struct(x.alias("s1"), y.alias("s2")),
                    ),
                )
            )

        def degen_keys(col_arr):
            return F.transform(
                col_arr, lambda s: F.struct(s.alias("s1"), s.alias("s2"))
            )

        c_bound = F.ceil(
            F.lit(float(CONTAINMENT_THRESHOLD)) * F.col("n_sh")
        )
        bsub = F.slice(
            F.col("hs"),
            1,
            F.greatest(
                F.col("n_cap") - c_bound + 2, F.lit(0)
            ).cast("int"),
        )
        bkeys = arr.select(
            F.col("doc_id").alias("doc_b2"),
            F.explode(
                F.when(c_bound < 2, degen_keys(F.col("hs"))).otherwise(
                    pair_keys(bsub)
                )
            ).alias("bk"),
        )
        akeys = arr.select(
            F.col("doc_id").alias("doc_a2"),
            F.explode(
                F.concat(pair_keys(F.col("hs")), degen_keys(F.col("hs")))
            ).alias("bk"),
        )
        cand = (
            _stage_barrier(
                akeys.join(bkeys, "bk")
                .filter(F.col("doc_a2") != F.col("doc_b2"))
                .select(
                    F.least("doc_a2", "doc_b2").alias("doc_a"),
                    F.greatest("doc_a2", "doc_b2").alias("doc_b"),
                )
            )
            .distinct()
            .transform(_pin)
        )
        va = arr.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
        vb = arr.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
        common = (
            _capped_broadcast(cand)
            .join(va, "doc_a")
            .join(vb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("ha", "hb"))
                .cast("long")
                .alias("n_common"),
            )
            .filter(F.col("n_common") > 0)
        )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    both = _stage_barrier(common).join(sz_a, "doc_a").join(sz_b, "doc_b")
    ab = both.select(
        F.col("doc_a").alias("container"),
        F.col("doc_b").alias("contained"),
        (F.col("n_common").cast("double") / F.col("n_b")).alias("containment"),
    )
    ba = both.select(
        F.col("doc_b").alias("container"),
        F.col("doc_a").alias("contained"),
        (F.col("n_common").cast("double") / F.col("n_a")).alias("containment"),
    )
    return ab.unionByName(ba).filter(
        F.col("containment") >= CONTAINMENT_THRESHOLD
    )


@register(
    "q_split_leakage",
    oracle="""
    WITH sp AS (
        SELECT doc_id,
               CASE WHEN SUBSTRING(MD5(source), 1, 2) < 'cc' THEN 'train'
                    WHEN SUBSTRING(MD5(source), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - 3, 0) + 1),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+3], ' ')
                   ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
    common AS (
        SELECT e.doc_id AS ev_id, t.doc_id AS tr_id, COUNT(*) AS n_common
        FROM shingled e
        JOIN sp se ON e.doc_id = se.doc_id AND se.split <> 'train'
        JOIN shingled t ON e.shingle = t.shingle
        JOIN sp st ON t.doc_id = st.doc_id AND st.split = 'train'
        GROUP BY e.doc_id, t.doc_id
    ),
    leaks AS (
        SELECT c.ev_id, c.tr_id,
               CAST(c.n_common AS DOUBLE)
                 / (se.n_sh + st.n_sh - c.n_common) AS jac,
               c.n_common, se.n_sh + st.n_sh - c.n_common AS denom
        FROM common c
        JOIN sizes se ON c.ev_id = se.doc_id
        JOIN sizes st ON c.tr_id = st.doc_id
    )
    SELECT l.ev_id AS doc_id, ANY_VALUE(sp.split) AS split,
           CAST(COUNT(*) AS BIGINT) AS n_train_dups,
           CAST(MAX(CAST(ROUND(l.n_common * 1000000.0 / l.denom) AS BIGINT))
                AS BIGINT) AS max_jac_ppm
    FROM leaks l JOIN sp ON l.ev_id = sp.doc_id
    WHERE l.jac >= 0.6
    GROUP BY l.ev_id
    ORDER BY l.ev_id
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval SPLIT-LEAKAGE audit: every val/test document with a
    near-duplicate (3-shingle Jaccard ≥ 0.6) in the train split — the
    silent evaluation-inflation bug every serious pipeline audits for
    (the provenance-keyed split of `q_split_train_test` stops
    SAME-source near-dups from straddling, but cross-source
    near-duplication leaks anyway; this measures exactly that
    residual). Emits each leaked eval doc with its split, the count of
    train-side near-dups, and the worst Jaccard in integer ppm.

    Exactness + scale shape: identical to `q_dedup_incremental_fuzzy`
    with the batch/history roles played by eval/train — the PPJoin
    rarity-prefix filter is computed over the whole corpus, candidate
    generation joins only EVAL prefixes against TRAIN prefixes (work
    scales with the eval slice, ~20% of the corpus, and no train×train
    or eval×eval pair ever forms; the prefix-filter theorem keeps the
    cross-restriction exact), and candidates get the full intersection
    verify under the counted broadcast cap. All-integer emissions
    (ppm is a scale-0 ROUND of an int-ratio double)."""
    d = load(spark, sf_dir, "documents")
    t = 0.6
    pfx = F.substring(F.md5(F.col("source")), 1, 2)
    split = (
        F.when(pfx < "cc", "train").when(pfx < "e6", "val").otherwise("test")
    )
    sp = d.select("doc_id", split.alias("split"))
    sh = _pin(_shingles(d, 3))
    prefix = _rarity_prefix(sh, t).join(sp, "doc_id")
    pe = prefix.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("ev_id"),
        "key",
        F.col("n_sh").alias("ne"),
        "split",
    )
    pt = prefix.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("tr_id"), "key", F.col("n_sh").alias("nt")
    )
    cand = (
        pe.join(
            pt,
            (pe.key == pt.key)
            & (F.col("ne") >= t * F.col("nt"))
            & (F.col("nt") >= t * F.col("ne")),
        )
        .select("ev_id", "tr_id", "ne", "nt", "split")
        .distinct()
        .transform(_pin)
    )
    a = sh.select(F.col("doc_id").alias("ev_id"), "shingle")
    b = sh.select(F.col("doc_id").alias("tr_id"), "shingle")
    # (r13 optimization round) ne/nt/split are constant per candidate
    # pair (resp. per eval doc), so they ride as GROUPING KEYS instead
    # of first()/any_value() aggregates: a string aggregation buffer
    # (`split`) is not UnsafeRow-mutable and forced BOTH rollups into
    # SortAggregates — as keys, both hash-aggregate (plan went 4
    # SortAggregate + 4 Sort → 4 HashAggregate; group sets unchanged).
    common = (
        _capped_broadcast(cand)
        .join(a, "ev_id")
        .join(b, ["tr_id", "shingle"])
        .groupBy("ev_id", "tr_id", "ne", "nt", "split")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    denom = F.col("ne") + F.col("nt") - F.col("n_common")
    jac = F.col("n_common").cast("double") / denom
    return (
        common.filter(jac >= t)
        .groupBy(F.col("ev_id").alias("doc_id"), F.col("split"))
        .agg(
            F.count(F.lit(1)).alias("n_train_dups"),
            F.max(
                F.round(F.col("n_common") * 1000000.0 / denom, 0).cast("long")
            ).alias("max_jac_ppm"),
        )
        .select("doc_id", "split", "n_train_dups", "max_jac_ppm")
        .orderBy("doc_id")
    )


@register(
    "q_dedup_priority",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, text,
               CAST(SUBSTRING(source, 4) AS INTEGER) % 3 AS tier,
               TRIM(LOWER(text)) AS norm
        FROM documents
    ),
    g AS (
        SELECT norm, CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM d GROUP BY norm
    ),
    keep AS (
        SELECT doc_id, source, tier, norm
        FROM d
        QUALIFY ROW_NUMBER() OVER (PARTITION BY norm
                                   ORDER BY tier, doc_id) = 1
    )
    SELECT k.doc_id, k.source, CAST(k.tier AS BIGINT) AS tier, g.n_dups
    FROM keep k JOIN g USING (norm)
    ORDER BY k.doc_id
    """,
)
def q_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-PRIORITY exact dedup: within each duplicate group the kept
    canonical is chosen by source TIER first (curated beats web — here
    tier = source index mod 3, a stand-in for the curated/books/web
    ladder every mixture pipeline maintains), doc_id second — the
    provenance-aware variant of `q_dedup_exact`'s plain lowest-id rule.
    Real pipelines need this: when Wikipedia and a crawl dump collide,
    the curated copy's provenance (and license) must survive.

    Same scale shape as q_dedup_exact — one hash aggregation on the
    normalized text with `min_by` keyed on the COMPOSITE (tier, doc_id)
    struct (lexicographic struct ordering gives priority-then-id in a
    single combinable aggregate; no window over the corpus), plus the
    group-size count from the same aggregate. The oracle states the
    rule as a partitioned row_number, checking the min_by against the
    declarative formulation. All-integer / categorical emissions."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("CAST(SUBSTRING(source, 4) AS INT) % 3").alias("tier"),
        F.trim(F.lower(F.col("text"))).alias("norm"),
    )
    keep = d.groupBy("norm").agg(
        F.min_by(
            F.struct("doc_id", "source", "tier"),
            F.struct("tier", "doc_id"),
        ).alias("r"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return keep.select(
        "r.doc_id", "r.source", F.col("r.tier").cast("long").alias("tier"),
        "n_dups",
    ).orderBy("doc_id")


@register(
    "q_dedup_url",
    oracle=r"""
    WITH raw AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
          CASE WHEN doc_id % 2 = 0
               THEN 'Site' || CAST((doc_id // 7) % 20 AS VARCHAR) || '.Example.COM'
               ELSE 'site' || CAST((doc_id // 7) % 20 AS VARCHAR) || '.example.com'
          END ||
          CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
          '/docs/' || CAST(doc_id // 7 AS VARCHAR) ||
          CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
          '?' ||
          CASE WHEN doc_id % 2 = 0
               THEN 'utm_source=feed&page=' || CAST((doc_id // 7) % 5 AS VARCHAR) || '&ref=home'
               ELSE 'ref=home&page=' || CAST((doc_id // 7) % 5 AS VARCHAR) || '&utm_campaign=x'
          END ||
          CASE WHEN doc_id % 6 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END
          AS url
        FROM documents
    ),
    split AS (
        SELECT doc_id,
          LOWER(REGEXP_EXTRACT(REGEXP_REPLACE(url, '#.*$', ''), '^([^/]+//[^/?]+)', 1)) AS head,
          REGEXP_EXTRACT(REGEXP_REPLACE(url, '#.*$', ''), '^[^/]+//[^/?]+(/[^?]*)', 1) AS path,
          REGEXP_EXTRACT(REGEXP_REPLACE(url, '#.*$', ''), '\?([^#]*)$', 1) AS q
        FROM raw
    ),
    canon AS (
        SELECT doc_id,
          REGEXP_REPLACE(head, ':443$', '') ||
          CASE WHEN REGEXP_REPLACE(path, '/+$', '') = '' THEN '/'
               ELSE REGEXP_REPLACE(path, '/+$', '') END ||
          '?' || ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(
              STR_SPLIT(q, '&'), x -> NOT REGEXP_MATCHES(x, '^utm_'))), '&')
          AS canonical_url
        FROM split
    )
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
           MIN(doc_id) AS keeper_id
    FROM canon GROUP BY canonical_url ORDER BY canonical_url
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-CANONICALIZATION DEDUP — the first dedup pass of every
    web-crawl corpus pipeline: the same page arrives under many URL
    spellings (scheme/host case, explicit default :443 port, trailing
    slash, utm_*/click-id tracking params, param order, #fragments),
    and canonicalizing before content dedup removes the bulk of exact
    re-crawls without touching document text. Fixture documents carry
    no real URL, so one is synthesized deterministically per doc (the
    q_text_url_extract convention) such that groups of ~7 docs share a
    canonical page spelled 7 different ways. Canonicalization is pure
    narrow JVM string work — regexp fragment strip, lowercase of the
    scheme+authority, default-port strip, trailing-slash collapse, and
    a filter→array_sort→array_join pipeline over the query params
    (dropping ^utm_ trackers, byte-order param sort) — followed by ONE
    hash aggregation on the canonical string: no Python, no explode, a
    single shuffle, fully pushdown-friendly at 100 TB. Emits
    (canonical_url, n_variants, keeper_id = MIN doc_id), all
    hash-portable types. 72 canonical pages / 500 docs at sf0.01.
    Reference analog: none — target-only capability."""
    d = load(spark, sf_dir, "documents")
    page = F.expr("doc_id DIV 7")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("https://")
        ),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("Site"), (page % 20).cast("string"),
                     F.lit(".Example.COM")),
        ).otherwise(
            F.concat(F.lit("site"), (page % 20).cast("string"),
                     F.lit(".example.com"))
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), page.cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("utm_source=feed&page="),
                     (page % 5).cast("string"), F.lit("&ref=home")),
        ).otherwise(
            F.concat(F.lit("ref=home&page="), (page % 5).cast("string"),
                     F.lit("&utm_campaign=x"))
        ),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit("#sec"), (F.col("doc_id") % 3).cast("string")),
        ).otherwise(F.lit("")),
    )
    defrag = F.regexp_replace(url, "#.*$", "")
    head = F.lower(F.regexp_extract(defrag, "^([^/]+//[^/?]+)", 1))
    path = F.regexp_extract(defrag, "^[^/]+//[^/?]+(/[^?]*)", 1)
    q = F.regexp_extract(defrag, r"\?([^#]*)$", 1)
    path_c = F.regexp_replace(path, "/+$", "")
    canonical = F.concat(
        F.regexp_replace(head, ":443$", ""),
        F.when(path_c == "", F.lit("/")).otherwise(path_c),
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(F.split(q, "&"), lambda x: ~x.rlike("^utm_"))
            ),
            "&",
        ),
    )
    return (
        d.select(F.col("doc_id"), canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_id"),
        )
        .orderBy("canonical_url")
    )
