"""Incremental dedup over a stream of newly-crawled pages.

The reference is one-shot batch (SURVEY.md §2.1: no streaming); a
continuously-fed crawl wants the same semantics incrementally: as new pages
arrive, find which are duplicates of anything already seen, and extend the
seen-signature state.

Design: Structured Streaming file source -> foreachBatch. Each micro-batch
  1. extracts + signs the new pages (same UDFs as batch — identical
     semantics by construction),
  2. joins the batch's text_sha256 against the persistent signature state
     (parquet dir; Iceberg table on a real cluster) to emit match edges
     (new_url -> first seen url with identical text),
  3. [fuzzy=True] additionally joins the batch's LSH band keys against
     the state's band keys and scores the candidate pairs with the SAME
     estimate-split decision as the batch pipeline (MinHash-Jaccard fast
     path; exact-refinement scorer UDF in the decision band) — near-dup
     matches against anything already seen, not just byte-identical,
  4. writes the batch signatures into the state.
foreachBatch (not a stateful operator) because the state table must be
shared with the batch pipeline and survive restarts.

Fuzzy-tier scale shape (round 6 — the formerly documented-only design,
implemented): the state never shuffles — the (small) batch's band
stream is broadcast and the state's band INDEX streams past it. Bands
are stored exploded as (block_key, id) rows hash-partitioned by
pmod(block_key, BAND_INDEX_PARTS); each batch reads only the partitions
its own keys touch (path-level pruning, inputFiles-asserted in tests)
and the join carries 8-byte surrogate ids — text joins in only for
decision-band refinement inside the shared scorer. Candidate pairs
(not the corpus) carry minhash/text into scoring. Like the exact tier,
fuzzy matches are found against PRE-batch state only (within-batch
pairs surface when either url recurs, or through the batch pipeline
over the full corpus).

Delivery semantics: both sinks are written as `batch_id=N` partition
directories with mode("overwrite") scoped to that directory — a micro-batch
retried after a partial failure REWRITES its own partition instead of
appending duplicates, so the sink contents are idempotent per batch
(effectively exactly-once at the directory level). A plain append here
would be at-least-once: retries double match rows and double-count state.
The match join reads state STRICTLY OLDER than the current batch
(batch_id < N): a retry of batch N must not see its own failed attempt's
partial state, or min(url) could resolve inside the batch and the retry
would emit different matches than a clean first run.

State layout:
  state_dir/batches/batch_id=N/sha_prefix=H/   fresh per-batch state
  state_dir/compacted/upto=K/sha_prefix=H/     folded batches 0..K
Every `compact_every` batches, process_batch folds all committed batch
dirs (< current batch) plus the previous compacted snapshot into a new
`upto=` snapshot and deletes what it folded — state reads stay O(state),
not O(batches). Readers take ONLY the max `upto=` snapshot, so a crash
between writing a new snapshot and deleting the old one never
double-counts (and duplicates would be harmless anyway: the match join
aggregates min(url) per sha). sha_prefix partitioning (16 shards) lets
prefix-restricted reads prune to 1/16 of the files (asserted in
tests/test_streaming.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.signatures import extract, signatures
from ..schemas import PAGES
from ..sources.pages import clean_pages

SIG_STATE_COLS = ["url", "host", "lang", "text_sha256", "n_chars"]
# fuzzy tier state additionally carries the LSH band keys (32 longs), the
# MinHash rows (estimate scoring) and the text (exact refinement in the
# decision band) — i.e. the state IS the signatures table, exactly what
# the batch pipeline checkpoints
FUZZY_STATE_COLS = SIG_STATE_COLS + ["bands", "minhash", "text"]
DEFAULT_COMPACT_EVERY = 8

# fuzzy band INDEX (round 6 — the formerly documented-only 10^12 design):
# state bands are stored EXPLODED as (block_key long, id long) rows,
# hash-partitioned into BAND_INDEX_PARTS dirs by pmod(block_key, P). The
# per-batch band join reads ONLY the partitions the batch's own keys
# touch (path-level pruning, asserted by inputFiles in
# tests/test_streaming.py) and carries 8-byte surrogate ids — never text
# or url payloads; matched ids join back to the signature state for
# scoring, and text is attached only inside the decision band
# (scoring.score_estimated's slow path). P is a layout constant: changing
# it requires reindexing (compaction rewrites everything anyway).
BAND_INDEX_PARTS = 64


def posix_lister(path: str) -> list[str]:
    """Default directory lister: driver-side os.listdir, correct on POSIX /
    HDFS-like mounts (this sandbox, NFS, fuse). Returns child names, [] if
    the directory does not exist."""
    if not os.path.isdir(path):
        return []
    return os.listdir(path)


def hadoop_lister(spark: SparkSession):
    """Object-store lister: Hadoop FileSystem.listStatus via the session's
    JVM — the swap-in for s3a/gs/abfs state dirs where os.listdir has no
    meaning. Same contract as posix_lister (child names, [] if absent)."""
    def _list(path: str) -> list[str]:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]
    return _list


def posix_remover(path: str) -> None:
    """Default recursive directory remover (compaction cleanup). Pair of
    posix_lister: shutil has no meaning on object stores."""
    shutil.rmtree(path, ignore_errors=True)


def hadoop_remover(spark: SparkSession):
    """Object-store remover: Hadoop FileSystem.delete(recursive) — the
    swap-in beside hadoop_lister; without it compaction on s3a/gs would
    write snapshots but silently never delete the folded batch dirs
    (shutil.rmtree no-ops there), so state reads would double-count and
    the dir would grow without bound."""
    def _rm(path: str) -> None:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)
    return _rm


def _batch_ids(state_dir: str, lister=posix_lister,
               subdir: str = "batches") -> list[int]:
    return sorted(int(f.split("=", 1)[1])
                  for f in lister(os.path.join(state_dir, subdir))
                  if f.startswith("batch_id="))


def _compacted_uptos(state_dir: str, lister=posix_lister,
                     subdir: str = "compacted") -> list[int]:
    return sorted(int(f.split("=", 1)[1])
                  for f in lister(os.path.join(state_dir, subdir))
                  if f.startswith("upto="))


def _state(spark: SparkSession, state_dir: str,
           before_batch: int | None = None,
           lister=posix_lister,
           cols: list[str] = SIG_STATE_COLS) -> DataFrame | None:
    """Accumulated signature state: newest compacted snapshot + batch dirs.
    before_batch=N excludes state written by batch N or later — the
    retry-safety contract (a snapshot only ever folds batches < any live
    batch, so snapshots never need the filter). `cols` selects the stored
    state schema (SIG_STATE_COLS for exact-only streams, FUZZY_STATE_COLS
    for fuzzy ones — a state dir belongs to one mode, set at stream
    start)."""
    parts: list[DataFrame] = []
    uptos = _compacted_uptos(state_dir, lister)
    if uptos:
        parts.append(
            spark.read.parquet(
                os.path.join(state_dir, "compacted", f"upto={uptos[-1]}")
            ).select(*cols, "sha_prefix")
        )
    bids = [b for b in _batch_ids(state_dir, lister)
            if before_batch is None or b < before_batch]
    if bids:
        bdir = os.path.join(state_dir, "batches")
        parts.append(
            spark.read.option("basePath", bdir).parquet(
                *[os.path.join(bdir, f"batch_id={b}") for b in bids]
            ).select(*cols, "sha_prefix")
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _band_sig_index(sig: DataFrame) -> DataFrame:
    """(bk_mod, block_key, id) band-index rows for a signature batch —
    id = xxhash64(url), the batch pipeline's surrogate key discipline."""
    return (
        sig.select(F.xxhash64("url").alias("id"),
                   F.posexplode("bands").alias("_b", "_h"))
        .select(F.xxhash64("_b", "_h").alias("block_key"), "id")
        .withColumn("bk_mod", F.pmod("block_key", F.lit(BAND_INDEX_PARTS)))
    )


def _band_index(spark: SparkSession, state_dir: str,
                before_batch: int | None = None,
                lister=posix_lister,
                mods: list[int] | None = None) -> DataFrame | None:
    """Accumulated band index (block_key, id), pruned at the PATH level to
    the bk_mod partitions in `mods` (None = all): only the touched 1/P of
    the index files are ever listed into the scan — the O(state)-per-batch
    band scan becomes O(state * touched/P). Same snapshot+batches layout
    and retry contract as _state."""
    def _mod_paths(base: str) -> list[str]:
        subs = [f for f in lister(base) if f.startswith("bk_mod=")]
        if mods is not None:
            want = {f"bk_mod={m}" for m in mods}
            subs = [f for f in subs if f in want]
        return [os.path.join(base, f) for f in subs]

    parts: list[DataFrame] = []
    uptos = _compacted_uptos(state_dir, lister,
                             subdir="bands_compacted")
    if uptos:
        base = os.path.join(state_dir, "bands_compacted", f"upto={uptos[-1]}")
        paths = _mod_paths(base)
        if paths:
            parts.append(spark.read.option("basePath", base).parquet(*paths)
                         .select("block_key", "id"))
    bids = [b for b in _batch_ids(state_dir, lister, subdir="bands")
            if before_batch is None or b < before_batch]
    for b in bids:
        base = os.path.join(state_dir, "bands", f"batch_id={b}")
        paths = _mod_paths(base)
        if paths:
            parts.append(spark.read.option("basePath", base).parquet(*paths)
                         .select("block_key", "id"))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _compact_bands(spark: SparkSession, state_dir: str, current_batch: int,
                   lister=posix_lister, remover=posix_remover) -> None:
    """Fold committed band-index batch dirs + the previous snapshot into
    bands_compacted/upto=<current_batch-1> — the index twin of _compact
    (crash dups are full-row identical; harmless for candidates, deduped
    for size)."""
    bids = [b for b in _batch_ids(state_dir, lister, subdir="bands")
            if b < current_batch]
    if not bids:
        return
    folded = _band_index(spark, state_dir, before_batch=current_batch,
                         lister=lister)
    folded = (folded.dropDuplicates(["block_key", "id"])
              .withColumn("bk_mod",
                          F.pmod("block_key", F.lit(BAND_INDEX_PARTS))))
    upto = current_batch - 1
    target = os.path.join(state_dir, "bands_compacted", f"upto={upto}")
    folded.write.partitionBy("bk_mod").mode("overwrite").parquet(target)
    for b in bids:
        remover(os.path.join(state_dir, "bands", f"batch_id={b}"))
    for u in _compacted_uptos(state_dir, lister, subdir="bands_compacted"):
        if u != upto:
            remover(os.path.join(state_dir, "bands_compacted", f"upto={u}"))


def _compact(spark: SparkSession, state_dir: str, current_batch: int,
             lister=posix_lister, remover=posix_remover,
             cols: list[str] = SIG_STATE_COLS) -> None:
    """Fold committed batch dirs (< current_batch) + the previous snapshot
    into compacted/upto=<current_batch-1>, then delete what was folded.
    Idempotent: a retried fold overwrites the same upto dir; readers use
    the MAX upto snapshot so stragglers are ignored until removed."""
    bids = [b for b in _batch_ids(state_dir, lister) if b < current_batch]
    if not bids:
        return
    folded = _state(spark, state_dir, before_batch=current_batch,
                    lister=lister, cols=cols)
    # self-heal: if a previous fold crashed after writing its snapshot but
    # before deleting the folded batch dirs, the next fold reads both.
    # Crash duplicates are FULL-ROW identical (the same batch rows read
    # twice), so dedup on the complete state tuple: a url legitimately
    # re-crawled with different text keeps both (url, text_sha256) rows
    # and future matches against either text stay correct.
    folded = folded.dropDuplicates(SIG_STATE_COLS)
    upto = current_batch - 1
    target = os.path.join(state_dir, "compacted", f"upto={upto}")
    folded.write.partitionBy("sha_prefix").mode("overwrite").parquet(target)
    for b in bids:
        remover(os.path.join(state_dir, "batches", f"batch_id={b}"))
    for u in _compacted_uptos(state_dir, lister):
        if u != upto:
            remover(os.path.join(state_dir, "compacted", f"upto={u}"))


def _fuzzy_matches(sig: DataFrame, prev: DataFrame,
                   lev_match: float, jaccard_match: float,
                   idx: DataFrame | None = None) -> DataFrame:
    """Near-dup matches of the batch against pre-batch state:
    (url, matched_url, score) — the best-scoring state match per new url,
    deterministic (ties break to the lexicographically smallest url).

    Candidate generation mirrors the batch pipeline's banding: LSH
    band-key equi-join, batch band stream broadcast so the state (index)
    streams past it. When `idx` is given (the band-key-partitioned
    (block_key, id) index, pruned to the batch's touched partitions by
    the caller) the join carries 8-byte ids only and matched ids join
    back to `prev` for urls; without it (index not yet built for a
    pre-existing state dir) the bands are exploded from `prev` directly.
    A url is NEVER a fuzzy match of itself: a re-crawled url whose text
    drifted is excluded here by the url != matched_url filter (its
    batch and state rows stay distinct via the n:/o: namespaces below)
    — version-drift detection would be a different `kind`, not a match.
    The DECISION is not mirrored but REUSED — candidate pairs
    are fed through scoring.attach_estimates + score_estimated over a
    two-namespace url-keyed signature table ("n:"/"o:" prefixes keep a
    re-crawled url's batch row distinct from its state row), so the
    estimate fast path, refinement band, and lev-OR-jaccard rule are the
    batch pipeline's own code, not a copy that could drift. Pair-side
    joins inside the shared code resolve to broadcasts at runtime via
    AQE (candidates are micro-batch-sized; session.py enables AQE)."""
    from ..operators import scoring

    nb = sig.select("url", F.posexplode("bands").alias("_b", "_h")).select(
        F.xxhash64("_b", "_h").alias("block_key"), "url")
    if idx is not None:
        hit_ids = (
            idx.join(F.broadcast(nb), "block_key")
            .select("url", "id")
            .distinct()
        )
        cand = (
            hit_ids.join(prev.select(F.xxhash64("url").alias("id"),
                                     F.col("url").alias("matched_url")),
                         "id")
            .filter(F.col("url") != F.col("matched_url"))
            .select(F.concat(F.lit("n:"), "url").alias("id_a"),
                    F.concat(F.lit("o:"), "matched_url").alias("id_b"))
            .distinct()
        )
    else:
        ob = prev.select(F.col("url").alias("matched_url"),
                         F.posexplode("bands").alias("_b", "_h")).select(
            F.xxhash64("_b", "_h").alias("block_key"), "matched_url")
        cand = (
            ob.join(F.broadcast(nb), "block_key")
            .filter(F.col("url") != F.col("matched_url"))
            .select(F.concat(F.lit("n:"), "url").alias("id_a"),
                    F.concat(F.lit("o:"), "matched_url").alias("id_b"))
            .distinct()
        )
    sig_u = (
        sig.select(F.concat(F.lit("n:"), "url").alias("id"),
                   "minhash", "text")
        .unionByName(prev.select(F.concat(F.lit("o:"), "url").alias("id"),
                                 "minhash", "text"))
    )
    # the estimate table is read by both branches of the fast/slow split
    est = scoring.attach_estimates(cand, sig_u).localCheckpoint(eager=False)
    scores = scoring.score_estimated(est, sig_u, lev_match, jaccard_match)
    matched = scores.filter(F.col("is_match")).select(
        F.expr("substring(id_a, 3)").alias("url"),
        F.expr("substring(id_b, 3)").alias("matched_url"),
        # fast-path rows carry the estimate in `jaccard` (lev null);
        # greatest() skips nulls — same score surface as the batch path
        F.greatest("lev_sim", "jaccard").alias("score"),
    )
    # best match per new url: max score, then min matched_url — one hash
    # agg over a struct (no window sort)
    return (
        matched
        .groupBy("url")
        .agg(F.min(F.struct((-F.col("score")).alias("_ns"),
                            F.col("matched_url").alias("_mu"))).alias("_b"))
        .select("url", F.col("_b._mu").alias("matched_url"),
                (-F.col("_b._ns")).alias("score"))
    )


def start_incremental_dedup(spark: SparkSession, input_dir: str,
                            state_dir: str, matches_dir: str,
                            checkpoint_dir: str, available_now: bool = True,
                            compact_every: int = DEFAULT_COMPACT_EVERY,
                            lister=posix_lister, remover=posix_remover,
                            fuzzy: bool = False,
                            lev_match: float | None = None,
                            jaccard_match: float | None = None):
    """Start the stream; returns the StreamingQuery (caller awaits it).

    fuzzy=False (default): exact-dup matching only; matches rows are
    (url, first_url, text_sha256) — the original contract. fuzzy=True:
    state carries bands/minhash/text (FUZZY_STATE_COLS; a state dir
    belongs to one mode) and matches rows are (url, matched_url, kind,
    score) with kind in {'exact', 'fuzzy'} — exact matches keep their
    sha-join semantics (score 1.0) and near-dups are scored with the
    batch pipeline's thresholds (overridable via lev_match /
    jaccard_match)."""
    stream = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    from ..operators.scoring import JACCARD_MATCH, LEV_MATCH

    state_cols = FUZZY_STATE_COLS if fuzzy else SIG_STATE_COLS
    lev = LEV_MATCH if lev_match is None else lev_match
    jacc = JACCARD_MATCH if jaccard_match is None else jaccard_match

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sig = (
            signatures(extract(clean_pages(batch_df)))
            .select(*state_cols)
            .withColumn("sha_prefix", F.substring("text_sha256", 1, 1))
            .localCheckpoint()  # batch_df is single-use; state join re-reads
        )
        # pre-batch state only: batch_id < N excludes a failed attempt's
        # own partial writes, so retry output == first-run output
        prev = _state(spark, state_dir, before_batch=batch_id, lister=lister,
                      cols=state_cols)
        if prev is not None:
            seen = prev.groupBy("sha_prefix", "text_sha256").agg(
                F.min("url").alias("first_url")
            )
            sha_hits = sig.join(seen, ["sha_prefix", "text_sha256"])
            exact = (
                sha_hits
                .filter(F.col("url") != F.col("first_url"))
                .select("url", "first_url", "text_sha256")
            )
            if fuzzy:
                # near-dup tier runs only for urls whose text is NOT
                # already in state byte-identically: exact-matched urls
                # are settled (score 1.0 beats any fuzzy score), and a
                # RE-DELIVERED url that is itself the sha-group min must
                # not resurface as a "fuzzy" match of its own copies —
                # the anti-join is on sha hits, not on emitted matches
                fresh = sig.join(sha_hits.select("url"), "url", "left_anti")
                # touched index partitions: the batch's own band keys mod
                # P (a <=P-row collect off the checkpointed batch) — the
                # state read below lists ONLY those bk_mod dirs
                mods = [r[0] for r in _band_sig_index(fresh)
                        .select("bk_mod").distinct().collect()]
                idx = _band_index(spark, state_dir, before_batch=batch_id,
                                  lister=lister, mods=mods)
                fz = _fuzzy_matches(fresh, prev, lev, jacc, idx=idx)
                matches = exact.select(
                    "url", F.col("first_url").alias("matched_url"),
                    F.lit("exact").alias("kind"),
                    F.lit(1.0).alias("score"),
                ).unionByName(fz.select(
                    "url", "matched_url", F.lit("fuzzy").alias("kind"),
                    F.col("score").cast("double")))
            else:
                matches = exact
        elif fuzzy:
            matches = spark.createDataFrame(
                [], "url string, matched_url string, kind string, "
                    "score double")
        else:
            matches = spark.createDataFrame(
                [], "url string, first_url string, text_sha256 string"
            )
        # idempotent per-batch sinks: overwrite THIS batch's partition dir
        matches.write.mode("overwrite").parquet(
            os.path.join(matches_dir, f"batch_id={batch_id}"))
        sig.write.partitionBy("sha_prefix").mode("overwrite").parquet(
            os.path.join(state_dir, "batches", f"batch_id={batch_id}"))
        if fuzzy:
            # band-key-partitioned index twin of the batch state write
            # (same batch_id dir + overwrite idempotency contract)
            _band_sig_index(sig).write.partitionBy("bk_mod").mode(
                "overwrite").parquet(
                os.path.join(state_dir, "bands", f"batch_id={batch_id}"))
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            _compact(spark, state_dir, current_batch=batch_id, lister=lister,
                     remover=remover, cols=state_cols)
            if fuzzy:
                _compact_bands(spark, state_dir, current_batch=batch_id,
                               lister=lister, remover=remover)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
