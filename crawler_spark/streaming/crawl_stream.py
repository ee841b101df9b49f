"""Incremental crawl as a Structured Stream.

The batch scheduler (scheduler.py) runs BSP rounds under an explicit
driver loop. This tier replaces that loop with Structured Streaming's
machinery: the frontier is a WATCHED DIRECTORY of parquet files
(`frontier_in/`), `readStream` turns new files into micro-batches, and
`foreachBatch` runs one politeness-bounded round per batch — outlinks and
over-budget (deferred) urls are written back into the watched directory,
so the stream feeds itself until the crawl drains.

Why this shape and not `applyInPandasWithState` for the whole crawl: the
round is join-heavy (seen anti-join, robots broadcast join, fetch-as-join
against the html corpus) and joins don't live inside a keyed-state
operator; `foreachBatch` is the documented escape hatch that keeps every
join a full DataFrame plan while the streaming engine supplies source
tracking, restart offsets, and the micro-batch cadence.

Exactly-once: Structured Streaming guarantees each source file is handed
to `foreachBatch` once per checkpoint; our side effects are made
idempotent by keying EVERY output path by `batch_id` and writing with
mode=overwrite — a replayed batch (crash between the write and the offset
commit) overwrites its own previous output bit-for-bit, because all
derived values (seq, schedule, seen delta) are deterministic functions of
the batch's input files. This is the standard foreachBatch idempotency
contract; with Iceberg the same property comes from committing the batch
id in the snapshot summary and skipping already-committed ids.

Deferred urls (over a host's per-round budget) ride the feedback files
WITH their already-assigned ``(seq, round_added)``: they are already in
the seen log, so they must bypass the seen anti-join, and they must keep
their admission seq so the politeness order stays FIFO-within-priority
across batches — exactly the batch scheduler's carry-over semantics.
New candidates travel with ``seq = round_added = null`` and earn a
replay-stable ``seq = batch_id << 32 | within-batch admission rank`` (no
mutable cross-batch counter — a counter would break idempotent replay).

Scale: identical to the batch scheduler per round — the corpus is never
shuffled (broadcast fetch join on the budget-bounded scheduled set), seen
is an append-only delta log, and the watched directory only ever holds
narrow url rows. Reference semantics preserved: per-page order-preserving
outlink extraction (/root/reference/collector-url.go:31), silent drop of
failed fetches (/root/reference/collector.go:88-90).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from crawler_spark.frontier.canon import (
    canon_expr,
    canon_fixed_point_expr,
    flat_outlinks,
    host_bucket_expr,
    host_expr,
    url_hash_expr,
)
from crawler_spark.frontier.politeness import (
    apply_politeness_budget,
    politeness_cap,
    robots_allowed,
)

# rows flowing through the watched directory: url + admission key; seq and
# round_added are null for NEW candidates, set for deferred carry-overs.
# ``url`` is the batch's ``url_canon`` as published: seeds are canonicalized
# once at publish, outlinks leave flat_outlinks canonical and carry-overs
# are frontier rows, so a batch never runs the canonicalizer. The one gap:
# canonicalization is not idempotent on a few odd shapes, and batches used
# to canonicalize every row again; _publish gives exactly those rows that
# second pass (see canon_fixed_point_expr).
CAND_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("priority", IntegerType()),
        StructField("occ_a", LongType()),
        StructField("occ_b", LongType()),
        StructField("seq", LongType()),
        StructField("round_added", IntegerType()),
    ]
)

SEEN_SCHEMA = "url_hash long, bucket int, url_canon string"

_FRONTIER_COLS = [
    "url_canon", "host", "bucket", "url_hash",
    "priority", "occ_a", "occ_b", "seq", "round_added",
]


@dataclass
class StreamCrawlConfig:
    work_dir: str  # holds frontier_in/ checkpoint/ schedule/ seen/
    default_budget: int = 16
    n_buckets: int = 32
    max_passes: int = 50  # availableNow restarts (≈ outer BSP rounds)

    @property
    def frontier_in(self) -> str:
        return os.path.join(self.work_dir, "frontier_in")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.work_dir, "checkpoint")

    @property
    def schedule_dir(self) -> str:
        return os.path.join(self.work_dir, "schedule")

    @property
    def seen_dir(self) -> str:
        return os.path.join(self.work_dir, "seen")

    @property
    def stage_dir(self) -> str:
        return os.path.join(self.work_dir, "stage")


def _publish(
    df: DataFrame,
    stage_path: str,
    dest_dir: str,
    prefix: str,
    skip_if_empty: bool = False,
    recanon_odd: bool = False,
) -> int:
    """Write ``df`` to a staging dir, then move its part-files FLAT into the
    watched directory under deterministic ``{prefix}-{i}.parquet`` names.

    The parquet file-stream source does not recurse into subdirectories, so
    feedback must land as top-level files; deterministic names make a
    replayed batch overwrite its own previous files (os.replace) instead of
    enqueueing duplicates — the idempotency contract from the module
    docstring.

    The row count rides the write job as an ``Observation`` (CollectMetrics
    — the scheduler.py:512 pattern) and is returned; with ``skip_if_empty``
    an empty frame is staged but never moved into the watched dir, so
    publication is suppressed WITHOUT the separate persist+count() job the
    pre-r4 caller paid (empty batches must not publish: each would enqueue
    under a fresh batch id and chain empty batches forever). A suppressed
    stage is deleted on the spot (r5, ADVICE r4) so drain-terminating
    rounds stop leaving dead from_batch=N dirs behind.

    ``recanon_odd``: the same observation counts urls that are not provably
    canonical fixed points; only if there are any is the stage read back,
    every url canonicalized once more (a no-op on the others) and written
    to a sibling stage that is published instead. Reading the stage, not
    ``df``, keeps ``df``'s lineage (the feedback's outlink scan) to one run."""
    obs = Observation()
    counts = [F.count(F.lit(1)).alias("n")]
    if recanon_odd:
        odd = ~canon_fixed_point_expr(F.col("url"))
        counts.append(F.count(F.when(odd, 1)).alias("n_odd"))
    df.observe(obs, *counts).write.mode("overwrite").parquet(stage_path)
    n = int(obs.get["n"] or 0)
    if skip_if_empty and n == 0:
        shutil.rmtree(stage_path, ignore_errors=True)
        return 0
    if recanon_odd and obs.get["n_odd"]:
        recanon_path = stage_path.rstrip("/") + "_recanon"
        staged = df.sparkSession.read.parquet(stage_path)
        staged.withColumn("url", canon_expr(F.col("url"))).write.mode(
            "overwrite"
        ).parquet(recanon_path)
        shutil.rmtree(stage_path, ignore_errors=True)
        stage_path = recanon_path
    parts = sorted(
        f for f in os.listdir(stage_path) if f.endswith(".parquet") and not f.startswith(".")
    )
    for i, part in enumerate(parts):
        os.replace(
            os.path.join(stage_path, part),
            os.path.join(dest_dir, f"{prefix}-{i}.parquet"),
        )
    return n


def _keyed_new(cands: DataFrame) -> DataFrame:
    """New (already canonical) candidates: first-occurrence dedup within
    the batch (keep the smallest admission key — the batch scheduler's
    _dedup_candidates semantics), then derive host/bucket/hash."""
    c = cands.select(
        F.col("url").alias("url_canon"),
        F.col("priority").cast("int").alias("priority"),
        F.col("occ_a").cast("long").alias("occ_a"),
        F.col("occ_b").cast("long").alias("occ_b"),
    )
    return (
        c.groupBy("url_canon")
        .agg(F.min(F.struct("occ_a", "occ_b", "priority")).alias("f"))
        .select(
            "url_canon",
            F.col("f.priority").alias("priority"),
            F.col("f.occ_a").alias("occ_a"),
            F.col("f.occ_b").alias("occ_b"),
        )
        .withColumn("host", host_expr(F.col("url_canon")))
    )


def _round_fn(
    spark: SparkSession,
    corpus: DataFrame,
    robots: DataFrame | None,
    politeness: DataFrame | None,
    cfg: StreamCrawlConfig,
):
    """Build the foreachBatch body. All writes are keyed by batch_id and
    overwritten — see module docstring (idempotent replay)."""
    if politeness is None:
        politeness = spark.createDataFrame([], "host string, max_fetches_per_round int")
    cap = politeness_cap(politeness, cfg.default_budget)  # once, not per batch

    def run_round(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()

        # deferred carry-overs: already seen + robots-vetted; keep identity
        carried = batch.filter(F.col("seq").isNotNull()).select(
            F.col("url").alias("url_canon"),
            "priority", "occ_a", "occ_b", "seq", "round_added",
        ).withColumn("host", host_expr(F.col("url_canon")))

        # new candidates: dedup-in-batch → seen anti-join → robots → seq
        fresh_c = _keyed_new(batch.filter(F.col("seq").isNull()))
        seen_deltas = [
            os.path.join(cfg.seen_dir, d)
            for d in sorted(os.listdir(cfg.seen_dir))
            if os.path.isdir(os.path.join(cfg.seen_dir, d)) and d != f"batch={batch_id}"
        ] if os.path.isdir(cfg.seen_dir) else []
        if seen_deltas:
            seen = spark.read.schema(SEEN_SCHEMA).parquet(*seen_deltas)
            fresh_c = fresh_c.join(seen, "url_canon", "left_anti")
        fresh_c = fresh_c.persist()

        # seen delta = this batch's fresh DISCOVERIES, pre-robots — the
        # batch scheduler's semantics (a disallowed url is remembered so it
        # is never re-considered, but never admitted to the frontier)
        fresh_c.select(
            url_hash_expr(F.col("url_canon")).alias("url_hash"),
            host_bucket_expr(F.col("host"), cfg.n_buckets).alias("bucket"),
            "url_canon",
        ).write.mode("overwrite").parquet(
            os.path.join(cfg.seen_dir, f"batch={batch_id}")
        )

        admitted = robots_allowed(fresh_c, robots) if robots is not None else fresh_c

        # replay-stable seq for the batch's new urls. One global window is
        # fine HERE: the admitted set is bounded by budget × fan-out per
        # batch, not the whole frontier (the batch scheduler's two-phase
        # rank covers the unbounded case).
        w = Window.orderBy("occ_a", "occ_b")
        admitted = admitted.select(
            "url_canon", "host", "priority", "occ_a", "occ_b",
            (
                (F.lit(int(batch_id)).cast("long") * F.lit(1 << 32))
                + F.row_number().over(w).cast("long")
            ).alias("seq"),
            F.lit(int(batch_id)).cast("int").alias("round_added"),
        ).persist()

        frontier = admitted.unionByName(carried).select(
            "url_canon", "host", "priority", "occ_a", "occ_b", "seq", "round_added",
        ).withColumn(
            "bucket", host_bucket_expr(F.col("host"), cfg.n_buckets)
        ).withColumn("url_hash", url_hash_expr(F.col("url_canon")))

        scheduled, deferred = apply_politeness_budget(
            frontier, politeness, cfg.default_budget, cap=cap
        )
        scheduled = scheduled.persist()

        # fetch-as-join: budget-bounded scheduled set broadcast against the
        # html corpus (never shuffles the corpus); misses = silent drops
        ok = corpus.join(F.broadcast(scheduled), "url_canon", "inner").persist()
        miss = scheduled.join(
            F.broadcast(ok.select("url_canon")), "url_canon", "left_anti"
        )

        schedule_log = ok.select(
            F.col("url_canon").alias("url"), "host", "priority", "seq",
            F.lit(True).alias("fetched"),
        ).unionByName(
            miss.select(
                F.col("url_canon").alias("url"), "host", "priority", "seq",
                F.lit(False).alias("fetched"),
            )
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        schedule_log.write.mode("overwrite").parquet(
            os.path.join(cfg.schedule_dir, f"batch={batch_id}")
        )

        # feed the stream: outlinks of fetched pages (new candidates) +
        # deferred urls (carry-overs) into the watched directory; one
        # subdir per batch → overwrite on replay. Child admission key =
        # (parent seq, in-page position).
        parents = ok.select(
            F.col("seq").alias("parent_seq"), "url_canon", "html"
        ).repartition(spark.sparkContext.defaultParallelism)
        links = flat_outlinks(parents, ["parent_seq"])
        children = links.select(
            F.col("child_url").alias("url"),
            F.lit(0).alias("priority"),
            F.col("parent_seq").cast("long").alias("occ_a"),
            F.col("pos").cast("long").alias("occ_b"),
            F.lit(None).cast("long").alias("seq"),
            F.lit(None).cast("int").alias("round_added"),
        )
        feedback = children.unionByName(
            deferred.select(
                F.col("url_canon").alias("url"), "priority",
                "occ_a", "occ_b", "seq", "round_added",
            )
        )
        # empty-feedback suppression + count now ride the publish write
        # itself (Observation in _publish) — one job, no persist; no file
        # ⇒ the next pass sees no input and the drain loop terminates.
        _publish(
            feedback,
            os.path.join(cfg.stage_dir, f"from_batch={batch_id}"),
            cfg.frontier_in,
            f"b{batch_id}",
            skip_if_empty=True,
            recanon_odd=True,
        )
        ok.unpersist()
        scheduled.unpersist()
        admitted.unpersist()
        fresh_c.unpersist()
        batch.unpersist()

    return run_round


def stream_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame | None,
    politeness: DataFrame | None,
    cfg: StreamCrawlConfig,
) -> dict:
    """Run the streaming crawl to drain (or ``cfg.max_passes``).

    ``pages(url, html)`` corpus; ``seeds(url, priority, seq)``. Returns
    {"schedule": DataFrame, "seen": DataFrame, "passes": int}.

    Each availableNow pass consumes every file currently in the watched
    directory, including files a previous pass's rounds wrote back; we
    restart until a pass admits no new input — the streaming analogue of
    the BSP frontier draining. A killed job restarts from the checkpoint
    and replays only uncommitted batches, whose idempotent batch-id-keyed
    writes make the replay invisible.
    """
    os.makedirs(cfg.frontier_in, exist_ok=True)
    os.makedirs(cfg.schedule_dir, exist_ok=True)
    os.makedirs(cfg.seen_dir, exist_ok=True)
    os.makedirs(cfg.stage_dir, exist_ok=True)

    # seeds are canonicalized here, once; every later batch reads canonical
    # urls (CAND_SCHEMA). A restart re-publishes them under the same names.
    _publish(
        seeds.select(
            canon_expr(F.col("url")).alias("url"),
            F.col("priority").cast("int").alias("priority"),
            F.col("seq").cast("long").alias("occ_a"),
            F.lit(0).cast("long").alias("occ_b"),
            F.lit(None).cast("long").alias("seq"),
            F.lit(None).cast("int").alias("round_added"),
        ),
        os.path.join(cfg.stage_dir, "seeds"),
        cfg.frontier_in,
        "seeds",
    )

    # every micro-batch's fetch join reads the corpus: cache it so it is
    # canonicalized once per crawl, not once per batch
    corpus = pages.withColumn("url_canon", canon_expr(F.col("url"))).select(
        "url_canon", F.col("html").cast("string").alias("html")
    ).persist()
    round_fn = _round_fn(spark, corpus, robots, politeness, cfg)

    passes = 0
    try:
        for _ in range(cfg.max_passes):
            src = spark.readStream.schema(CAND_SCHEMA).parquet(cfg.frontier_in)
            q = (
                src.writeStream.foreachBatch(round_fn)
                .option("checkpointLocation", cfg.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            passes += 1
            n_in = sum(p["numInputRows"] for p in q.recentProgress)
            if n_in == 0:
                break
    finally:
        corpus.unpersist()

    schedule = (
        spark.read.parquet(
            *[
                os.path.join(cfg.schedule_dir, d)
                for d in sorted(os.listdir(cfg.schedule_dir))
            ]
        )
        if os.listdir(cfg.schedule_dir)
        else spark.createDataFrame(
            [],
            "url string, host string, priority int, seq long, fetched boolean, batch_id long",
        )
    )
    seen = (
        spark.read.schema(SEEN_SCHEMA).parquet(
            *[os.path.join(cfg.seen_dir, d) for d in sorted(os.listdir(cfg.seen_dir))]
        )
        if os.listdir(cfg.seen_dir)
        else spark.createDataFrame([], SEEN_SCHEMA)
    )
    return {"schedule": schedule, "seen": seen.distinct(), "passes": passes}
