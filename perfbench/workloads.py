"""The benchmark workloads.

Each workload drives the engine from outside, through its public
functions, and checks every operation it attempts:

* `prepare(work, seed)` builds the seeded inputs (not timed);
* `setup(spark)` runs the cold operations that belong to set-up time;
* `run_pass(spark)` runs one timed operation and checks its output;
* `traced_pass(spark, tracer, rest)` runs the same operation layer by
  layer, one job group per layer, and returns per-layer counters;
* `final_check(spark)` runs the checks too costly for every pass and
  returns their problems, or None when the workload has none;
* `core_inputs()` returns the inputs of the pure-core microbench.

A pass result is `(wall_s, rows, problems)`; an empty `problems` list
means the output was correct.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
from pyspark.sql import functions as F

from dedupe_rust_spark.functions import ccore
from dedupe_rust_spark.operators import (
    ann, blocking, candidates as cand, cluster, scoring, signatures as sigs,
)
from dedupe_rust_spark.plans.pipeline import DedupPipeline, PipelineConfig
from dedupe_rust_spark.sources.pages import clean_pages, read_pages

import inputs
import probes

F1_FLOOR = 0.99
ANN_THRESHOLD = 0.35
ANN_RECALL_FLOOR = 0.999
# pairs this far above the threshold are missed by 64 tables x 4 bits with
# probability < 1e-7 each: the planted families must always be found
ANN_PLANTED_COS = 0.6


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(map(str, r)) for r in rows):
        h.update("\x1f".join(r).encode() + b"\n")
    return h.hexdigest()


def _f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / max(2 * tp + fp + fn, 1)


def _text_problems(rows, golden: dict[str, str | None]) -> list[str]:
    """Extracted text must equal the generator's golden text per url, and
    exactly the urls with golden text must survive extraction."""
    got = {r[0]: r[1] for r in rows}
    want = {u: t for u, t in golden.items() if t is not None}
    bad = sum(1 for u, t in got.items() if want.get(u) != t)
    missing = len(set(want) - set(got))
    if bad or missing:
        return [f"text: {bad} urls differ from golden, {missing} missing"]
    return []


def _clean(spark) -> None:
    """Between passes: drop cached data. No forced JVM GC: measured, a
    System.gc() between passes shrinks the heap and slows the next pass
    while it grows back (7.1-7.9 s vs 6.3-7.1 s on vector_dups)."""
    spark.catalog.clearCache()


def _share(span: dict, total: float) -> float:
    return (span["end"] - span["start"]) / total


def _labeled_texts(pages: inputs.Pages):
    """Golden texts of the labeled pairs (both sides extractable) and the
    labeled duplicate pairs as union-find edges."""
    p = pages.pairs
    labeled = p.assign(ta=p["url_a"].map(pages.golden),
                       tb=p["url_b"].map(pages.golden)).dropna()
    edges = [(a, b) for a, b, d in zip(p["url_a"], p["url_b"], p["is_dup"])
             if d]
    return list(labeled["ta"]), list(labeled["tb"]), edges


class DenseBatch:
    """`DedupPipeline.run` fast path on the default-mode generator: every
    base document is revisited ~10 times, so near-dup families (and LSH
    blocks) are large and blocking, candidates, scoring and CC do most of
    the work."""

    name = "dense_batch"
    n_pages = 3000
    # the cold pass (Python workers, codegen, JIT) and the warm-up passes
    # before pass times level off (measured: the fourth pass in a JVM is
    # the first within 5% of steady state); all count as set-up time
    setup_passes = 3

    def prepare(self, work: str, seed: int) -> None:
        self.pages = inputs.Pages(work, self.n_pages, self.n_pages // 10, seed)
        self.rows = len(self.pages)
        self.digest: str | None = None
        self.f1_value = 0.0
        self.cfg = PipelineConfig(checkpoints=False)

    def _check_labels(self, rows) -> list[str]:
        problems = []
        digest = _digest(rows)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("cluster digest differs from the first pass")
        labels = dict(rows)
        p = self.pages.pairs
        ca, cb = p["url_a"].map(labels), p["url_b"].map(labels)
        pred = (ca.notna() & (ca == cb)).to_numpy()
        dup = p["is_dup"].to_numpy(dtype=bool)
        exact_fn = int((~pred & dup & (p["tier"] == "exact").to_numpy()).sum())
        self.f1_value = _f1(int((pred & dup).sum()), int((pred & ~dup).sum()),
                            int((~pred & dup).sum()))
        if self.f1_value < F1_FLOOR:
            problems.append(f"f1 {self.f1_value:.4f} < {F1_FLOOR}")
        if exact_fn:
            problems.append(f"{exact_fn} exact-tier false negatives")
        return problems

    def setup(self, spark):
        return [self.run_pass(spark) for _ in range(self.setup_passes)]

    def run_pass(self, spark):
        t0 = time.monotonic()
        clusters = DedupPipeline(spark, self.pages.dir, config=self.cfg).run()
        rows = [(r["url"], r["cluster_id"]) for r in clusters.collect()]
        wall = time.monotonic() - t0
        problems = self._check_labels(rows)
        _clean(spark)
        return wall, self.rows, problems

    def final_check(self, spark):
        pages = clean_pages(read_pages(spark, self.pages.dir))
        rows = sigs.extract(pages).select("url", "text").collect()
        return _text_problems(rows, self.pages.golden)

    def f1(self) -> float:
        return self.f1_value

    def traced_pass(self, spark, tr: probes.Tracer, rest: probes.Rest):
        """DedupPipeline.run's operator sequence, each layer materialized
        under its own job group."""
        cfg = self.cfg
        tr.next_pass()
        t0 = time.monotonic()
        with tr.span("pipeline"):
            with tr.span("signatures") as c:
                pages = clean_pages(read_pages(spark, self.pages.dir),
                                    cfg.exclude_hosts)
                par = spark.sparkContext.defaultParallelism
                if pages.rdd.getNumPartitions() < 2 * par:
                    pages = pages.repartition(2 * par)
                sig = sigs.signatures(sigs.extract(pages, cfg.use_golden_text),
                                      cfg.lsh_bands).localCheckpoint()
                c["rows_out"] = n_sig = sig.count()
            with tr.span("blocking") as c:
                roots = blocking.exact_roots(sig).localCheckpoint()
                ex_map = blocking.exact_group_map(sig, roots)
                reps = blocking.exact_representatives(sig, roots)
                reps = reps.localCheckpoint()
                pruned, cap = blocking.prune_blocks(
                    blocking.all_blocks(reps), cfg.max_block,
                    cfg.hot_block_bound)
                pruned = pruned.localCheckpoint()
                c["reps_ratio"] = reps.count() / max(n_sig, 1)
                c["salted_blocks"] = cap.count()
            with tr.span("candidates") as c:
                pairs = cand.candidate_pairs(
                    pruned, keep_block_key=False,
                    star_min_block=cfg.star_min_block).localCheckpoint()
                kept = pairs
                if cfg.simhash_prefilter:
                    kept = cand.simhash_prefilter(pairs, sig, cfg.max_hamming)
                kept = kept.localCheckpoint()
                c["pairs"] = pairs.count()
                c["kept"] = kept.count()
            with tr.span("scoring") as c:
                prefilter = n_sig >= cfg.attach_prefilter_rows
                est = scoring.attach_estimates(kept, sig, prefilter)
                scores = scoring.score_estimated(
                    est.localCheckpoint(), sig, cfg.lev_match,
                    cfg.jaccard_match, cfg.compute_jw,
                    prefilter=prefilter).localCheckpoint()
                c["pairs"] = scores.count()
                c["fast"] = scores.filter(F.col("lev_sim").isNull()).count()
                c["matches"] = scores.filter(F.col("is_match")).count()
            with tr.span("cluster") as c:
                stats: dict = {}
                rep_labels = cluster.connected_components(
                    scoring.match_edges(scores), stats=stats)
                labels = cluster.propagate_to_members(
                    rep_labels, ex_map, sig.select("id", "url"))
                rows = [(r["url"], r["cluster_id"])
                        for r in labels.collect()]
                c.update(stats)
        wall = time.monotonic() - t0
        # census and checks: outside the layer spans
        generated = cand.pair_stream_stats(
            pruned, cfg.star_min_block)["generated_pair_rows"]
        problems = self._check_labels(rows) + _text_problems(
            sig.select("url", "text").collect(), self.pages.golden)
        spans = tr.pass_spans()
        groups = rest.group_bytes([s["group"] for s in spans.values()])
        b = {name: groups[s["group"]] for name, s in spans.items()}
        sp = {name: s["counts"] for name, s in spans.items()}
        n_pairs = sp["candidates"]["pairs"]
        layer = {
            "signatures.rows_out": sp["signatures"]["rows_out"],
            "signatures.udf_bytes": b["signatures"]["udf_bytes"],
            "blocking.shuffle_bytes": b["blocking"]["shuffle_bytes"],
            "blocking.reps_ratio": sp["blocking"]["reps_ratio"],
            "blocking.salted_blocks": sp["blocking"]["salted_blocks"],
            "candidates.shuffle_bytes": b["candidates"]["shuffle_bytes"],
            "candidates.generated_rows": generated,
            "candidates.pairs": n_pairs,
            "candidates.useful_ratio": n_pairs / max(generated, 1),
            "candidates.prefilter_kept_ratio":
                sp["candidates"]["kept"] / max(n_pairs, 1),
            "scoring.shuffle_bytes": b["scoring"]["shuffle_bytes"],
            "scoring.udf_bytes": b["scoring"]["udf_bytes"],
            "scoring.pairs": sp["scoring"]["pairs"],
            "scoring.fast_share":
                sp["scoring"]["fast"] / max(sp["scoring"]["pairs"], 1),
            "scoring.match_ratio":
                sp["scoring"]["matches"] / max(sp["scoring"]["pairs"], 1),
            "cluster.input_edges": sp["cluster"].get("input_edges", 0),
            "cluster.levels": sp["cluster"].get("levels", 0),
            "cluster.driver_finish": int(bool(
                sp["cluster"].get("driver_finish"))),
        }
        total = spans["pipeline"]["end"] - spans["pipeline"]["start"]
        for name in ("signatures", "blocking", "candidates", "scoring",
                     "cluster"):
            layer[f"{name}.wall_share"] = _share(spans[name], total)
            layer[f"{name}.jobs"] = spans[name]["jobs"]
        _clean(spark)
        return wall, self.rows, problems, layer

    def core_inputs(self):
        return (self.pages.html, *_labeled_texts(self.pages))


class VectorDups:
    """`ann.lsh_cosine_pairs(threshold=0.35)` then
    `cluster.connected_components` over 1,500 64-d page embeddings with
    planted near-duplicate families."""

    name = "vector_dups"
    n_vectors = 1500
    setup_passes = 2  # cold + one warm-up: the third pass is steady

    def prepare(self, work: str, seed: int) -> None:
        n = self.n_vectors
        self.pages = inputs.Pages(work, n + n // 10, n // 2, seed)
        keep = [i for i, t in enumerate(self.pages.text) if t is not None][:n]
        self.page_rows = keep
        X = inputs.embed([self.pages.text[i] for i in keep], seed)
        self.path = os.path.join(work, "embeddings.parquet")
        inputs.write_embeddings(self.path, X)
        self.rows = len(X)
        # brute-force oracle in the engine's arithmetic: float32 elements
        # widened to double; a pair counts when its cosine rounds (4 dp,
        # half-up) to >= the threshold
        A = X.astype(np.float64)
        norms = np.sqrt((A * A).sum(axis=1))
        G = (A @ A.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(A), 1)
        g = G[iu]
        cut = ANN_THRESHOLD - 5e-5
        sure = g >= cut + 1e-9
        self.oracle = {(int(a), int(b)): float(c) for a, b, c in
                       zip(iu[0][sure], iu[1][sure], g[sure])}
        edge = np.abs(g - cut) <= 1e-9
        self.ambiguous = {(int(a), int(b))
                          for a, b in zip(iu[0][edge], iu[1][edge])}
        self.planted = {k for k, c in self.oracle.items()
                        if c >= ANN_PLANTED_COS}
        self.digest: str | None = None
        self.f1_value = 0.0
        self.recall = 0.0

    def _check(self, pairs, labels) -> list[str]:
        problems = []
        got = {(int(a), int(b)): c for a, b, c in pairs}
        extra = [k for k in got if k not in self.oracle
                 and k not in self.ambiguous]
        off = [k for k, c in got.items() if k in self.oracle
               and abs(c - self.oracle[k]) > 6e-5]
        hit = len(set(got) & set(self.oracle))
        self.recall = hit / max(len(self.oracle), 1)
        self.f1_value = _f1(hit, len(extra), len(self.oracle) - hit)
        if extra or off:
            problems.append(f"{len(extra)} pairs below the threshold, "
                            f"{len(off)} cosines off the oracle")
        if not self.planted <= set(got):
            problems.append(f"{len(self.planted - set(got))} planted pairs "
                            "missed")
        if self.recall < ANN_RECALL_FLOOR:
            problems.append(f"recall {self.recall:.5f} < {ANN_RECALL_FLOOR}")
        uf = ccore.connected_components(list(got))
        if dict(labels) != uf:
            problems.append("CC labels differ from union-find")
        digest = _digest(labels)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("cluster digest differs from the first pass")
        return problems

    def _pairs(self, spark):
        df = spark.read.parquet(self.path)
        return ann.lsh_cosine_pairs(df, ANN_THRESHOLD).localCheckpoint()

    @staticmethod
    def _cc(pairs, stats=None):
        edges = pairs.select(F.col("vec_id_a").alias("src"),
                             F.col("vec_id_b").alias("dst"))
        return [(r["node"], r["cluster_id"]) for r in
                cluster.connected_components(edges, stats=stats).collect()]

    def setup(self, spark):
        return [self.run_pass(spark) for _ in range(self.setup_passes)]

    def run_pass(self, spark):
        t0 = time.monotonic()
        pairs = self._pairs(spark)
        rows = pairs.collect()
        labels = self._cc(pairs)
        wall = time.monotonic() - t0
        problems = self._check(rows, labels)
        _clean(spark)
        return wall, self.rows, problems

    def final_check(self, spark):
        return None

    def f1(self) -> float:
        return self.f1_value

    def traced_pass(self, spark, tr: probes.Tracer, rest: probes.Rest):
        tr.next_pass()
        t0 = time.monotonic()
        with tr.span("pipeline"):
            with tr.span("ann") as c:
                pairs = self._pairs(spark)
                rows = pairs.collect()
                c["pairs"] = len(rows)
            with tr.span("cluster") as c:
                stats: dict = {}
                labels = self._cc(pairs, stats)
                c.update(stats)
        wall = time.monotonic() - t0
        problems = self._check(rows, labels)
        # bucket census outside the spans: the same band stream
        # lsh_cosine_pairs groups (its default tables, bits and seed)
        sizes = (ann.srp_band_blocks(spark.read.parquet(self.path))
                 .groupBy("block_key").count()
                 .filter(F.col("count") > 1)
                 .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2),
                      F.max("count")).first())
        generated, bucket_max = int(sizes[0] or 0), int(sizes[1] or 0)
        spans = tr.pass_spans()
        b = rest.group_bytes([s["group"] for s in spans.values()])
        total = spans["pipeline"]["end"] - spans["pipeline"]["start"]
        sp_ann, sp_cc = spans["ann"], spans["cluster"]
        layer = {
            "ann.wall_share": _share(sp_ann, total),
            "ann.jobs": sp_ann["jobs"],
            "ann.shuffle_bytes": b[sp_ann["group"]]["shuffle_bytes"],
            "ann.udf_bytes": b[sp_ann["group"]]["udf_bytes"],
            "ann.generated_pairs": generated,
            "ann.pairs": len(rows),
            "ann.useful_ratio": len(rows) / max(generated, 1),
            "ann.bucket_max": bucket_max,
            "ann.recall": self.recall,
            "cluster.wall_share": _share(sp_cc, total),
            "cluster.jobs": sp_cc["jobs"],
            "cluster.input_edges": stats.get("input_edges", 0),
            "cluster.levels": stats.get("levels", 0),
            "cluster.driver_finish": int(bool(stats.get("driver_finish"))),
        }
        _clean(spark)
        return wall, self.rows, problems, layer

    def core_inputs(self):
        ta, tb, _ = _labeled_texts(self.pages)
        return ([self.pages.html[i] for i in self.page_rows], ta, tb,
                list(self.oracle))


WORKLOADS = {w.name: w for w in (DenseBatch, VectorDups)}
