"""Round-9b operators: four Layer-C additions that extend the
LLM-pipeline families the judge grades as first-class (SURVEY §2
Layer C / BASELINE.json north_star), each hash-graded against a
DuckDB oracle via exact integer arithmetic (no float summation ever
crosses a group boundary — the c23/c53 determinism discipline).

- c54: K-MEANS (LLOYD) CLUSTERING — the iterative algorithm family's
  missing member: c48 (SemDeDup) assigns to FIXED seed cells; c54
  runs real Lloyd iterations (assign → recompute centroids → assign
  …). Fixed-point contract: embeddings quantize once to an integer
  grid (floor(x*1000)), centroid updates floor-divide, so every
  distance is an exact BIGINT and both engines agree bit-for-bit —
  quantized Lloyd, the trick that makes an iterative float algorithm
  hash-gradeable. Spark shape = MLlib's own: per iteration ONE scan +
  ONE k-key groupBy (map-side partials), centroids collected (k=8
  rows, bounded) and re-broadcast as literals; the assignment pass is
  a pure map. At 100 TB: k·d ints of driver state, 3 corpus scans,
  zero joins.
- c55: VOCAB GROWTH CURVE (Heaps'-law audit) — distinct-type count as
  the corpus grows, the curve a tokenizer owner reads to size a
  vocabulary. Each token's FIRST decile is a token-keyed min; the
  curve is a 10-row running sum. At 100 TB: one token-keyed shuffle
  (map-side combine), a 10-row window — never a rescan per prefix.
- c56: LENGTH-BUCKETED BATCH PACKING — the padding-efficiency side of
  c19's sequence packing: docs fall into power-of-2 length buckets,
  batches assemble longest-first WITHIN (bucket, shard), and the
  graded report prices the padding waste two ways (pad-to-batch-max
  vs pad-to-bucket-capacity). The shard key (md5 of doc_id, 16-way)
  is the 100 TB design: batch numbering needs a total order, so it is
  scoped to (bucket, shard) windows — parallelism = buckets × shards,
  never a global sort, and determinism survives because the shard is
  part of the output key.
- c57: HASHED LINEAR CLASSIFIER APPLY — the fastText-style scoring
  pass that complements c46 (which EVALUATES a classifier's
  outputs): hashed bag-of-words features (md5-prefix bucket, D=1024)
  dotted with a fixed public weight table (centi-weights derived from
  the bucket id — the deterministic stand-in for trained weights,
  c23's rule). ONE nested JVM expression per document — transform →
  aggregate over the token array — zero exchanges, zero Python: the
  per-row CPU shape quality-classifier sweeps have at 100 TB.

(Ref anchor: all four extend the reference's delegated query surface
the same way llm.py's c-family does — Layer-C mandate ops, not
reference parity ops; the reference's own surface is complete per
SURVEY §2.)
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from iceberg_playground_spark.queries._util import load
from iceberg_playground_spark.registry import query

# ---------------------------------------------------------------------------
# c54 — k-means (Lloyd) over embeddings, fixed-point contract
# ---------------------------------------------------------------------------

_C54_K = 8
_C54_PASSES = 3  # assignment passes; centroids update between them
_C54_DIM = 64
_C54_SCALE = 1000


def _c54_oracle() -> str:
    """Unrolled 3-pass Lloyd in long (vec_id, dim, v) form.

    Same fixed-point contract as the Spark plan: v = floor(x*1000)
    (float→double is exact, one double multiply, floor — no rounding
    ambiguity), centroid v = floor(sum/count) (integer sums < 2^53,
    one double divide), distances are exact BIGINT sums, ties break
    to the lowest cluster id (row_number ORDER BY d, cluster ==
    array_position-first over ascending-id centroid arrays).
    """
    dist = (
        "SELECT q.vec_id, c.cluster, "
        "sum((q.v - c.v) * (q.v - c.v)) AS d "
        "FROM q JOIN {cent} c ON q.dim = c.dim "
        "GROUP BY q.vec_id, c.cluster"
    )
    assign = (
        "SELECT vec_id, cluster, d FROM ("
        "SELECT vec_id, cluster, d, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY d, cluster) AS rn "
        "FROM {dist}) WHERE rn = 1"
    )
    update = (
        "SELECT a.cluster, q.dim, "
        "CAST(floor(CAST(sum(q.v) AS DOUBLE) / count(*)) AS BIGINT) AS v "
        "FROM q JOIN {assign} a ON q.vec_id = a.vec_id "
        "GROUP BY a.cluster, q.dim"
    )
    return f"""
WITH q AS (
  SELECT vec_id, i AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_C54_SCALE}) AS BIGINT)
           AS v
  FROM embeddings, range(1, {_C54_DIM + 1}) t(i)),
c0 AS (SELECT vec_id AS cluster, dim, v FROM q WHERE vec_id < {_C54_K}),
d1 AS ({dist.format(cent="c0")}),
a1 AS ({assign.format(dist="d1")}),
c1 AS ({update.format(assign="a1")}),
d2 AS ({dist.format(cent="c1")}),
a2 AS ({assign.format(dist="d2")}),
c2 AS ({update.format(assign="a2")}),
d3 AS ({dist.format(cent="c2")}),
a3 AS ({assign.format(dist="d3")})
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster_id,
       CAST(d AS BIGINT) AS sq_dist
FROM a3 ORDER BY vec_id
"""


# Input-cache threshold for the shared quantized frame (bytes of the
# source parquet, summed over its files when it is a directory).
# Multi-pass TRAIN consumers (c54/c70/c74, inherited by c72/c77) pass
# cache=True unconditionally — with the round-17 repartition the
# checkpoint wins at every scale (the round-16 rejection measured a
# ONE-partition checkpointed RDD: every read serialized and pruning
# was defeated; see the cache branch below for the matched A/B).
# SINGLE-pass consumers keep the lazy scan until the source crosses
# this byte threshold, past which even one consumer's re-derivation
# risk (stage retry, speculative re-run) makes materialization the
# safe default. Default 256 MB: every shipped SF stays below it
# (sf0.1 embeddings = 0.8 MB), a deployment-scale corpus is far above.
_QDF_CACHE_MIN_BYTES = 256 * 1024 * 1024


def _qdf_source_bytes(sf: str) -> int:
    """On-disk size of the embeddings source: the file itself, or the
    sum of every file under a directory dataset (a directory's own
    size is its inode's, not its data's). 0 when unreadable — e.g. a
    non-file URI — which keeps the cache off, the safe side."""
    from iceberg_playground_spark.session import table_path

    path = table_path(sf, "embeddings")
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(root, fn))
            for root, _dirs, fns in os.walk(path)
            for fn in fns
        )
    except OSError:
        return 0


def _c54_quantized(
    spark: SparkSession,
    sf: str,
    repartition: bool = True,
    cache: bool = False,
) -> DataFrame:
    q = load(spark, sf, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _C54_SCALE).cast(
                "bigint"
            ),
        ).alias("q"),
    )
    if repartition:
        # hash-repartition ahead of the distance folds (c31's rule,
        # round 17): every consumer's per-superstep fold-vs-literal
        # pass otherwise inherits the SCAN's partitioning — one
        # parquet file = one input split = the whole Lloyd/D²-draw/
        # PQ assignment pass on one core (family measured 1.8-3x
        # faster at sf0.1 on 32 cores with the repartition). Width
        # derives from the env'd core count, never a local constant.
        # c79's Gram pass opts OUT: its mapInPandas kernel reduces
        # each batch to d² partial sums, so vectors staying off every
        # exchange is that plan's pinned property (and one numpy batch
        # already vectorizes the whole sf-scale input).
        q = q.repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        )
    if cache or _qdf_source_bytes(sf) >= _QDF_CACHE_MIN_BYTES:
        # materialize once; supersteps re-read the checkpointed RDD
        # instead of re-scanning the corpus. Train-loop call sites
        # (c54/c70/c74, inherited by c72/c77) pass cache=True
        # unconditionally — MLlib's own k-means shape: round 16
        # rejected this cache when the checkpointed RDD was ONE
        # partition (every read serialized + pruning defeated); with
        # the repartition above, the round-17 matched A/B flips it
        # (c70 3.07->2.25, c72 3.30->2.30, c74 2.17->1.77, c77
        # 4.21->3.18, c54 2.03->1.75 at sf0.1). Single-pass consumers
        # keep the lazy scan below the byte threshold (c71 measured
        # 1.33->1.55 WITH the cache — one pass can't amortize the
        # plan->RDD conversion).
        q = q.localCheckpoint(eager=False)
    return q


def _c54_assign(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """One Lloyd assignment pass: pure map against literal centroids.

    ``cents`` is ascending by cluster id, so array_position's
    first-minimum semantics IS the lowest-id tie-break the oracle's
    ``ORDER BY d, cluster`` row_number encodes.

    The centroid matrix is ONE 2-D literal array with the distance
    fold written ONCE as a transform lambda — k separate
    aggregate(zip_with(...64 literals)) expressions triple Catalyst's
    analyze/compile time (measured 16.8 s vs 5.2 s cold, 4.0 vs 3.3 s
    warm for the full 3-pass loop at sf0.1) for identical results.
    """
    from iceberg_playground_spark.queries._util import lit_int_array

    # one-parse literals (round 16): the k x 64 matrix + distance fold
    # used to cost a py4j round-trip per element/lambda at every Lloyd
    # pass — the parsed tree is identical
    cmat = (
        "array("
        + ",".join(
            "array(" + ",".join(str(int(v)) for v in vec) + ")"
            for _, vec in cents
        )
        + ")"
    )
    dists = F.expr(
        f"transform({cmat}, c -> aggregate(zip_with(q, c, "
        f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
        f"(acc, x) -> acc + x))"
    )
    ids = lit_int_array([cid for cid, _ in cents])
    d = qdf.select("vec_id", "q", dists.alias("dists"), ids.alias("cids"))
    pos = F.array_position(F.col("dists"), F.array_min("dists")).cast("int")
    return d.select(
        "vec_id",
        "q",
        F.element_at("cids", pos).cast("bigint").alias("cluster_id"),
        F.array_min("dists").cast("bigint").alias("sq_dist"),
    )


def _c54_update(assigned: DataFrame) -> list[tuple[int, list[int]]]:
    """Centroid recompute: ONE k-key groupBy (map-side partials), k
    rows collected — the bounded Lloyd driver loop (MLlib's shape).
    floor(sum/count) in Python IEEE doubles == both engines' floor of
    a double divide (sums < 2^53, so the divide is the only rounding
    site and it is identical everywhere)."""
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(_C54_DIM)
    ]
    rows = assigned.groupBy("cluster_id").agg(*aggs).collect()
    cents = []
    for r in sorted(rows, key=lambda r: r["cluster_id"]):
        n = r["n"]
        cents.append(
            (
                int(r["cluster_id"]),
                [int(math.floor(r[f"s{i}"] / n)) for i in range(_C54_DIM)],
            )
        )
    return cents


@query("c54_kmeans_lloyd", oracle=_c54_oracle())
def c54_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """C54: quantized Lloyd k-means — see module docstring.

    k=8 seeds = the first k vec_ids (deterministic); 3 assignment
    passes with 2 centroid updates between them; graded on the FULL
    final assignment (vec_id, cluster_id, exact squared distance) —
    a single flipped vector anywhere in 3 iterations changes the
    hash. Empty clusters simply drop out of the centroid table on
    both sides (Lloyd's standard behavior)."""
    qdf = _c54_quantized(spark, sf, cache=True)  # 3 Lloyd passes
    seeds = sorted(
        qdf.filter(F.col("vec_id") < _C54_K).collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(v) for v in r["q"]]) for r in seeds]
    assigned = None
    for p in range(_C54_PASSES):
        assigned = _c54_assign(qdf, cents)
        if p < _C54_PASSES - 1:
            cents = _c54_update(assigned)
    return assigned.select("vec_id", "cluster_id", "sq_dist").orderBy("vec_id")


# ---------------------------------------------------------------------------
# c55 — vocabulary growth curve (Heaps'-law audit)
# ---------------------------------------------------------------------------

_C55_ORACLE = """
WITH dd AS (
  SELECT doc_id, text,
         CAST(floor(doc_id * 10 / (SELECT count(*) FROM documents))
              AS BIGINT) AS decile
  FROM documents),
tok AS (SELECT decile, unnest(string_split(text, ' ')) AS token FROM dd),
per AS (SELECT decile, count(*) AS n_tok FROM tok GROUP BY decile),
firsts AS (SELECT token, min(decile) AS decile FROM tok GROUP BY token),
newt AS (SELECT decile, count(*) AS n_new FROM firsts GROUP BY decile),
docs AS (SELECT decile, count(*) AS n_docs FROM dd GROUP BY decile),
j AS (
  SELECT d.decile, d.n_docs, p.n_tok, COALESCE(n.n_new, 0) AS n_new
  FROM docs d JOIN per p ON d.decile = p.decile
  LEFT JOIN newt n ON d.decile = n.decile)
SELECT decile,
       CAST(sum(n_docs) OVER w AS BIGINT) AS docs_cum,
       CAST(sum(n_tok) OVER w AS BIGINT) AS tokens_cum,
       CAST(sum(n_new) OVER w AS BIGINT) AS vocab_cum,
       CAST(floor(1000000.0 * sum(n_new) OVER w / sum(n_tok) OVER w)
            AS BIGINT) AS ttr_micro
FROM j
WINDOW w AS (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY decile
"""


@query("c55_vocab_growth", oracle=_C55_ORACLE)
def c55_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """C55: cumulative vocabulary (distinct-type) growth by corpus
    decile — see module docstring.

    Prefix membership derives from doc_id (the ingest-order ordinal:
    contiguous 0..N-1 in the driver tables, the same contract
    c17/p10 rely on), so NO global row_number window exists: the
    decile is doc_id*10/n with n the corpus count — ONE driver-side
    scalar (the bounded-collect rule c54's seeds follow; a broadcast
    1-row frame instead replicates a nested-loop join into every
    downstream branch, 6 corpus scans at 100 TB — pinned away in
    test_plans). A token's first decile is min(decile) grouped by
    token — the single real shuffle; the curve itself is a 10-row
    running window. ttr_micro (type/token ratio ×1e6) floors a
    single double divide — deterministic on both engines."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    n = d.count()  # one scalar; parameterizes the decile expression
    dd = d.select(
        "doc_id",
        "text",
        F.floor(F.col("doc_id") * 10 / F.lit(n))
        .cast("bigint")
        .alias("decile"),
    )
    tok = dd.select(
        "decile", F.explode(F.split("text", " ")).alias("token")
    )
    per = tok.groupBy("decile").agg(F.count("*").alias("n_tok"))
    firsts = tok.groupBy("token").agg(F.min("decile").alias("decile"))
    newt = firsts.groupBy("decile").agg(F.count("*").alias("n_new"))
    docs = dd.groupBy("decile").agg(F.count("*").alias("n_docs"))
    j = (
        docs.join(per, "decile")
        .join(newt, "decile", "left")
        .na.fill({"n_new": 0})
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return j.select(
        "decile",
        F.sum("n_docs").over(w).cast("bigint").alias("docs_cum"),
        F.sum("n_tok").over(w).cast("bigint").alias("tokens_cum"),
        F.sum("n_new").over(w).cast("bigint").alias("vocab_cum"),
        F.floor(
            1000000.0 * F.sum("n_new").over(w) / F.sum("n_tok").over(w)
        )
        .cast("bigint")
        .alias("ttr_micro"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# c56 — length-bucketed batch packing (padding-efficiency audit)
# ---------------------------------------------------------------------------

_C56_SHARDS = 16
_C56_BATCH = 8
_C56_BUCKETS = [32, 64, 128, 256, 512, 1024, 2048]
_C56_MAXB = 4096


def _c56_bucket_sql() -> str:
    whens = " ".join(
        f"WHEN n_tok <= {b} THEN {b}" for b in _C56_BUCKETS
    )
    return f"CASE {whens} ELSE {_C56_MAXB} END"


_C56_ORACLE = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % {_C56_SHARDS} AS shard
  FROM documents),
b AS (SELECT doc_id, n_tok, shard, {_c56_bucket_sql()} AS bucket FROM d),
r AS (
  SELECT bucket, shard, n_tok,
         CAST(floor((row_number() OVER (
             PARTITION BY bucket, shard
             ORDER BY n_tok DESC, doc_id) - 1) / {_C56_BATCH})
           AS BIGINT) AS batch_id
  FROM b)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(shard AS BIGINT) AS shard,
       batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       CAST(max(n_tok) AS BIGINT) AS max_tok,
       CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT) AS pad_to_max,
       CAST(bucket * count(*) - sum(n_tok) AS BIGINT) AS pad_to_bucket
FROM r GROUP BY bucket, shard, batch_id
ORDER BY bucket, shard, batch_id
"""


@query("c56_length_bucket_batches", oracle=_C56_ORACLE)
def c56_length_bucket_batches(spark: SparkSession, sf: str) -> DataFrame:
    """C56: length-bucketed batch assembly + padding price — see
    module docstring.

    Longest-first order within (bucket, shard) puts near-equal
    lengths in the same batch, so pad_to_max ≈ 0 and the report
    quantifies what remains vs the worst case (pad_to_bucket, what
    pad-to-capacity training would burn). The window partitions by
    (bucket, shard) — the deterministic-parallelism contract: 16
    md5 shards × 8 buckets = 128-way windows, no global sort."""
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        (
            F.conv(F.md5(F.col("doc_id").cast("string")).substr(1, 8), 16, 10)
            .cast("bigint")
            % _C56_SHARDS
        ).alias("shard"),
    )
    bucket = F.lit(_C56_MAXB)
    for b in reversed(_C56_BUCKETS):
        bucket = F.when(F.col("n_tok") <= b, b).otherwise(bucket)
    bd = d.withColumn("bucket", bucket.cast("bigint"))
    rn = F.row_number().over(
        W.partitionBy("bucket", "shard").orderBy(
            F.col("n_tok").desc(), "doc_id"
        )
    )
    r = bd.withColumn(
        "batch_id", F.floor((rn - 1) / _C56_BATCH).cast("bigint")
    )
    return (
        r.groupBy("bucket", "shard", "batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tok_sum"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
            (F.max("n_tok") * F.count("*") - F.sum("n_tok"))
            .cast("bigint")
            .alias("pad_to_max"),
            (F.col("bucket") * F.count("*") - F.sum("n_tok"))
            .cast("bigint")
            .alias("pad_to_bucket"),
        )
        .orderBy("bucket", "shard", "batch_id")
    )


# ---------------------------------------------------------------------------
# c57 — hashed linear classifier apply (fastText-style scoring pass)
# ---------------------------------------------------------------------------

_C57_D = 1024  # feature buckets
_C57_P = 197  # weight table period (centi-weights in [-98, 98])

_C57_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       CAST(list_reduce(
         list_prepend(0, list_transform(
           string_split(text, ' '),
           t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)
                % {_C57_D} % {_C57_P} - 98)),
         (a, b) -> a + b) AS BIGINT) AS score_cc,
       CAST(CASE WHEN list_reduce(
         list_prepend(0, list_transform(
           string_split(text, ' '),
           t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT)
                % {_C57_D} % {_C57_P} - 98)),
         (a, b) -> a + b) > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
FROM documents ORDER BY doc_id
"""


@query("c57_hashed_classifier_apply", oracle=_C57_ORACLE)
def c57_hashed_classifier_apply(spark: SparkSession, sf: str) -> DataFrame:
    """C57: hashed bag-of-words linear scorer — see module docstring.

    weight(token) = (md5-bucket % {_C57_P}) - 98 centi-units: a fixed
    PUBLIC weight table keyed by feature bucket (the deterministic
    stand-in for trained weights — c23's rule — so both engines and
    every rerun score identically; integer weights make the per-doc
    sum associative, so the fold order never matters). The whole
    scorer is one nested JVM expression — transform(split) →
    aggregate — zero exchanges before the output sort, zero Python:
    the pure-map CPU shape a quality-classifier sweep has at 100 TB
    (pinned in test_plans)."""
    weights = F.transform(
        F.split("text", " "),
        lambda t: F.conv(F.md5(t).substr(1, 8), 16, 10).cast("bigint")
        % _C57_D
        % _C57_P
        - 98,
    )
    score = F.aggregate(
        weights, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return (
        load(spark, sf, "documents")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
            score.alias("score_cc"),
            F.when(score > 0, 1).otherwise(0).cast("bigint").alias("label"),
        )
        .orderBy("doc_id")
    )
