"""End-to-end dedup pipeline: one ordered stage list, materialized under
one per-run policy, with per-partition lineage metrics and resume-by-run_id.

Stage graph (SURVEY.md §3.3):
  read pages -> extract+signatures [signatures]
             -> exact collapse -> lsh blocks -> candidate pairs
                + MinHash estimates [candidates]
             -> scores [scores]
             -> connected components over fuzzy edges between exact-group
                representatives -> members inherit the root's label [clusters]
             -> metrics [append]

Every bracketed stage goes through `DedupPipeline._checkpoint`, and the run
picks its materialization policy once, from `checkpoints` and `out_dir`:
  * parquet checkpoint (out_dir set): each stage is a parquet dir
    `out/<stage>/run_id=<R>/cfg=<fingerprint>/` (Iceberg-style partition
    layout written as plain parquet — swap the writer format on a cluster
    with an Iceberg runtime). A stage whose dir has _SUCCESS is not
    rebuilt on rerun with the same run_id and config: that is the
    resumability contract (north rule), tested by the test_resume_* tests
    in tests/test_pipeline_spark.py;
  * counted localCheckpoint (no out_dir);
  * fuse (checkpoints=False, the throughput fast path): see _FAST_POLICY.
`dedup_clusters` runs the same stages on an in-memory DataFrame.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import ALGO_VERSION
from ..operators import blocking, candidates as cand, cluster, scoring, signatures as sigs
from ..sources.pages import clean_pages, read_pages


@dataclass
class PipelineConfig:
    lev_match: float = scoring.LEV_MATCH
    jaccard_match: float = scoring.JACCARD_MATCH
    max_block: int = blocking.DEFAULT_MAX_BLOCK
    # row-level pre-salt guard for pathological hot band keys (bounds the
    # largest grouping-aggregation row; see blocking._presalt_hot_keys).
    # None disables detection (and its extra sampled scan of the stream).
    hot_block_bound: int | None = blocking.DEFAULT_HOT_BOUND
    # hybrid candidate generation: blocks > this size emit hub stars
    # instead of full cliques (meta-blocking comparison pruning — see
    # candidates.candidate_pairs). None = exhaustive cliques everywhere.
    star_min_block: int | None = cand.DEFAULT_STAR_MIN_BLOCK
    # LSH band count over the fixed k=128 MinHash (None = sigcore default
    # 32x4). The 24x5/16x8 sweep is recorded in BENCH/BASELINE.md; 32x4
    # stays the default for boundary recall (threshold curve at j=0.5).
    lsh_bands: int | None = None
    simhash_prefilter: bool = True
    max_hamming: int = cand.SIMHASH_HAMMING_MAX
    use_golden_text: bool = False
    exclude_hosts: list[str] = field(default_factory=list)
    # jw never participates in is_match (lev OR jaccard); computing it for
    # every slow-path pair was pure dead CPU in the hottest UDF. Opt in for
    # analysis runs that want the column populated.
    compute_jw: bool = False
    # checkpoints=False is the throughput fast path (_FAST_POLICY): no
    # parquet checkpoints, scores fuse into the clustering job, no
    # per-partition lineage, no cap census. Same results; resumability and
    # fine-grained metrics are OFF — use for benches, not production runs.
    checkpoints: bool = True
    # corpus-row threshold for the scoring attach semi pre-filter
    # (scoring.attach_estimates/score_estimated prefilter flag): below it
    # the whole minhash/text projection fits the session's 64 MB broadcast
    # threshold (~400 B per attach row -> ~150k rows), the attach joins
    # broadcast sig directly, and the pre-filter's distinct +
    # broadcast-build jobs are pure serial latency; at/above it the
    # pre-filter is what keeps the attach from shuffling the corpus
    # (measured at the 3.2M-page rehearsal). Scale-adaptive, not
    # local-tuned: the decision input is the corpus row count the
    # signatures stage already measures. Outputs identical either way
    # (the pre-filter is a pure filter).
    attach_prefilter_rows: int = 150_000


def _audit_ids(sig: DataFrame) -> int:
    """Fail fast on an xxhash64(url) surrogate-key collision (two distinct
    urls, one id -> silently merged clusters). Returns the colliding-id
    count (always 0 when it returns — nonzero raises); callers record it
    so the audit's result is observable in metrics, not just by absence
    of an exception.

    Single-pass form: per id, compare min/max of an INDEPENDENT second
    hash of the url (salted xxhash64 — an 8-byte buffer, so the agg stays
    a map-side-combinable HashAggregate; min/max of the url string itself
    would fall back to SortAggregate, and two exact countDistincts cost an
    Expand x2 over the corpus). An id carrying >= 2 distinct urls shows
    min != max unless the second hash collides for the same pair too
    (P ~ 2^-64, independent of the audited hash). ONE job either way:
    count() the tiny post-filter agg and branch on it (the round-4 form
    ran isEmpty() then a second count() job on failure)."""
    h2 = F.xxhash64(F.col("url"), F.lit(0x9E3779B9))
    bad = (
        sig.select("id", h2.alias("_h2"))
        .groupBy("id")
        .agg(F.min("_h2").alias("_a"), F.max("_h2").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
    )
    n = bad.count()
    if n:
        raise RuntimeError(
            f"xxhash64(url) collision on {n} surrogate id(s); "
            "use a wider surrogate key")
    return n


def spread(df: DataFrame) -> DataFrame:
    """Spread an under-parallel source across the cluster before an
    expensive per-row stage. A small parquet file, or a catalog-derived
    table, is 1-3 input splits, so the extraction/signature UDFs would run
    on 1-3 tasks. Conditional on the actual split count: a real corpus
    scan already yields tens of thousands of splits and must NOT pay a
    full-corpus shuffle (html included). The split count is parquet footer
    metadata, so no job runs. Row values are per-row deterministic, so
    partitioning never changes any output."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < 2 * par:
        return df.repartition(2 * par)
    return df


# How a stage's output is materialized: a resumable parquet checkpoint, a
# localCheckpoint (counted or not), or fused into its consumer's job.
PARQUET, LOCAL, LOCAL_UNCOUNTED, FUSE = (
    "parquet", "local", "local_uncounted", "fuse")
STAGES = ("signatures", "candidates", "scores", "clusters")
# checkpoints=False: signatures and candidates feed several subtrees and
# their counts feed the metrics and the pre-filter decision; scores has
# exactly one consumer (the edge list); clusters is small with two
# consumers (metrics count + caller), so one cheap materialization.
_FAST_POLICY = {"signatures": LOCAL, "candidates": LOCAL, "scores": FUSE,
                "clusters": LOCAL_UNCOUNTED}


def dedup_clusters(pages: DataFrame, cfg: PipelineConfig | None = None
                   ) -> DataFrame:
    """The batch dataflow on an in-memory DataFrame, for catalog /
    invariant queries that derive `pages` from the driver's tables instead
    of a parquet dir: DedupPipeline.run with `pages` as its source and no
    out_dir. Returns labels (url, cluster_id), clustered rows only."""
    return DedupPipeline(pages.sparkSession, None,
                         config=cfg or PipelineConfig(checkpoints=False)
                         ).run(pages)


class DedupPipeline:
    def __init__(self, spark: SparkSession, pages_dir: str | None,
                 out_dir: str | None = None, run_id: str | None = None,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.pages_dir = pages_dir
        self.out_dir = out_dir
        self.run_id = run_id or f"v{ALGO_VERSION}"
        self.cfg = config or PipelineConfig()
        self.stage_metrics: list[dict] = []

    @property
    def cfg_fingerprint(self) -> str:
        """Checkpoint outputs bake in config values (thresholds, caps,
        prefilter) — a rerun under the same run_id but a different config
        must NOT silently reuse stale stage parquet. The fingerprint keys
        the checkpoint path on everything that changes stage outputs."""
        import hashlib
        import json

        c = self.cfg
        payload = json.dumps(
            {
                "algo": ALGO_VERSION,
                "lev": c.lev_match, "jacc": c.jaccard_match,
                "max_block": c.max_block,
                "hot_bound": c.hot_block_bound,
                "star_min": c.star_min_block,
                "lsh_bands": c.lsh_bands,
                "prefilter": c.simhash_prefilter, "hamming": c.max_hamming,
                "golden": c.use_golden_text,
                "exclude": sorted(c.exclude_hosts),
                "jw": c.compute_jw,
            },
            sort_keys=True,
        )
        return hashlib.blake2b(payload.encode(), digest_size=4).hexdigest()

    # ------------------------------------------------------------ checkpoints
    def _ckpt_path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage, f"run_id={self.run_id}",
                            f"cfg={self.cfg_fingerprint}")

    def _checkpoint(self, stage: str, build: Callable[[], DataFrame]
                    ) -> DataFrame:
        """Materialize one stage under the run's policy. `build` returns
        the stage's lazy DataFrame; it is never called when the stage's
        parquet checkpoint already exists (resume)."""
        self.spark.sparkContext.setJobDescription(f"stage:{stage}")
        how = self.policy[stage]
        if how == FUSE:
            return build()
        path = self._ckpt_path(stage) if how == PARQUET else None
        resumed = path is not None and os.path.exists(
            os.path.join(path, "_SUCCESS"))
        df = None if resumed else build()
        t0 = time.monotonic()
        if path is None:
            out = df.localCheckpoint()
        else:
            if not resumed:
                df.write.mode("overwrite").parquet(path)
            out = self.spark.read.parquet(path)
        n = -1 if how == LOCAL_UNCOUNTED else out.count()
        self.stage_metrics.append(
            {"stage": stage, "rows_out": n,
             "wall_ms": int((time.monotonic() - t0) * 1000),
             "run_id": self.run_id, "resumed": resumed}
        )
        return out

    # ---------------------------------------------------------------- stages
    def run(self, pages: DataFrame | None = None) -> DataFrame:
        """Full pipeline; returns clusters(url, cluster_id), clustered rows
        only. `pages` (already cleaned) replaces the read of pages_dir."""
        t_all = time.monotonic()
        cfg = self.cfg
        self.policy = _FAST_POLICY if not cfg.checkpoints else dict.fromkeys(
            STAGES, LOCAL if self.out_dir is None else PARQUET)
        sig = self._checkpoint("signatures",
                               lambda: self._signatures(pages))
        if cfg.checkpoints:
            # per-partition lineage for the extract stage (north rule): rows
            # per partition + drop accounting, written into metrics
            self._partition_lineage(sig, "signatures")
        # the min(id) roots agg (one HashAggregate over the corpus) feeds
        # both the representatives and the exact group map: materialize once
        roots = blocking.exact_roots(sig).localCheckpoint(eager=False)
        # semi pre-filter of the attach joins only when the corpus is big
        # enough that the un-filtered attach would shuffle it (see
        # PipelineConfig.attach_prefilter_rows); the row count is already
        # measured by the signatures stage — no extra job
        n_sig = next(m["rows_out"] for m in self.stage_metrics
                     if m["stage"] == "signatures")
        prefilter = n_sig >= cfg.attach_prefilter_rows
        # surrogate-id collision audit — UNCONDITIONAL (fast path and resume
        # included): a collision would silently merge clusters. The audit
        # job runs from a driver thread (guide §2.6 — concurrent jobs
        # back-fill executors) so its wall overlaps blocking/candidates;
        # it is resolved (raising on any collision) right after the
        # candidates stage, so neither scores nor clusters are ever
        # materialized from colliding ids.
        with ThreadPoolExecutor(max_workers=1) as pool:
            audit = pool.submit(self._audit, sig)
            # the candidates stage carries the MinHash-Jaccard estimate:
            # one materialization serves both the resume contract and the
            # fast/slow scoring split (both branches read it)
            est = self._checkpoint(
                "candidates", lambda: scoring.attach_estimates(
                    self._pairs(sig, roots), sig, prefilter))
            n_bad_ids, audit_ms = audit.result()
        self.stage_metrics.append(
            {"stage": "id_audit", "rows_out": n_bad_ids,
             "run_id": self.run_id, "wall_ms": audit_ms})
        scores = self._checkpoint(
            "scores", lambda: scoring.score_estimated(
                est, sig, cfg.lev_match, cfg.jaccard_match, cfg.compute_jw,
                prefilter=prefilter))
        clusters = self._checkpoint(
            "clusters", lambda: self._labels(scores, sig, roots))
        self.stage_metrics.append(
            {"stage": "pipeline", "rows_out": clusters.count(),
             "wall_ms": int((time.monotonic() - t_all) * 1000),
             "run_id": self.run_id})
        self._write_metrics()
        return clusters

    def _signatures(self, pages: DataFrame | None) -> DataFrame:
        if pages is None:
            pages = clean_pages(read_pages(self.spark, self.pages_dir),
                                self.cfg.exclude_hosts)
        extracted = sigs.extract(spread(pages), self.cfg.use_golden_text)
        return sigs.signatures(extracted, self.cfg.lsh_bands)

    def _audit(self, sig: DataFrame) -> tuple[int, int]:
        t0 = time.monotonic()
        self.spark.sparkContext.setJobDescription("stage:id_audit")
        n = _audit_ids(sig)
        self.spark.sparkContext.setJobDescription(None)
        return n, int((time.monotonic() - t0) * 1000)

    def _pairs(self, sig: DataFrame, roots: DataFrame) -> DataFrame:
        """Exact collapse -> LSH blocks -> pruned candidate pairs."""
        cfg = self.cfg
        reps = blocking.exact_representatives(sig, roots)
        if cfg.hot_block_bound is not None:
            # hot-key detection scans the band stream twice (sample +
            # group): materialize the reps join once so the second pass is
            # explode-only
            reps = reps.localCheckpoint(eager=False)
        pruned, cap_metrics = blocking.prune_blocks(
            blocking.all_blocks(reps), cfg.max_block, cfg.hot_block_bound)
        if cfg.checkpoints:
            t0 = time.monotonic()
            n_salted = cap_metrics.count()
            self.stage_metrics.append(
                {"stage": "blocks_salted", "rows_out": n_salted,
                 "run_id": self.run_id,
                 "wall_ms": int((time.monotonic() - t0) * 1000)})
        pairs = cand.candidate_pairs(pruned, keep_block_key=False,
                                     star_min_block=cfg.star_min_block)
        if cfg.simhash_prefilter:
            pairs = cand.simhash_prefilter(pairs, sig, cfg.max_hamming)
        return pairs

    def _labels(self, scores: DataFrame, sig: DataFrame, roots: DataFrame
                ) -> DataFrame:
        """Transitive closure runs over FUZZY edges between exact-group
        representatives only; exact copies then inherit their root's label
        via one join (blocking.exact_group_map). The exact tier can never
        be lost (F1 floor, SURVEY.md §7e): a group's members always share
        their root's final label."""
        t0 = time.monotonic()
        cc_stats: dict = {}
        rep_labels = cluster.connected_components(scoring.match_edges(scores),
                                                  stats=cc_stats)
        labels = cluster.propagate_to_members(
            rep_labels, blocking.exact_group_map(sig, roots),
            sig.select("id", "url"))
        self.stage_metrics.append(
            {"stage": "cc_loop", "rows_out": cc_stats.get("levels", -1),
             "run_id": self.run_id,
             "wall_ms": int((time.monotonic() - t0) * 1000)})
        return labels

    def write_report(self, clusters: DataFrame,
                     max_inline_groups: int = 1000) -> dict:
        """Reference O2 analog: the run report JSON
        (`Results`/`DuplicateGroup`, main.rs:38-49; sorted groups 310-315,
        sorted members 630). The driver collect is CAPPED: totals plus the
        first `max_inline_groups` groups are inlined; the full cluster set
        lives in the clusters parquet (at 100x scale an unbounded group
        list with member URLs is a driver OOM)."""
        import json

        grouped = cluster.clusters_with_members(clusters)
        total_groups = grouped.count()
        groups = grouped.orderBy("cluster_id").limit(max_inline_groups).collect()
        report = {
            "run_id": self.run_id,
            "total_groups": total_groups,
            "groups_inlined": len(groups),
            "groups": [{"urls": list(r["urls"]), "n": r["n"]} for r in groups],
        }
        if self.out_dir is not None:
            path = os.path.join(self.out_dir,
                                f"dedupe_report_{self.run_id}.json")
            with open(path, "w") as f:
                json.dump(report, f, indent=2, sort_keys=True)
        return report

    # --------------------------------------------------------------- metrics
    def _partition_lineage(self, df: DataFrame, stage: str) -> None:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        for r in rows:
            self.stage_metrics.append(
                {"stage": f"{stage}.partition", "partition_id": r["partition_id"],
                 "rows_out": r["count"], "run_id": self.run_id})

    def _write_metrics(self) -> None:
        if self.out_dir is None:
            return
        path = os.path.join(self.out_dir, "metrics", f"run_id={self.run_id}")
        rows = [
            (
                self.run_id,
                m.get("stage", ""),
                int(m.get("partition_id", -1)),
                int(m.get("rows_out", -1)),
                int(m.get("wall_ms", -1)),
            )
            for m in self.stage_metrics
        ]
        mdf = self.spark.createDataFrame(
            rows, "run_id string, stage string, partition_id int, "
                  "rows_out long, wall_ms long"
        ).withColumn("ts", F.current_timestamp())
        mdf.write.mode("append").parquet(path)
