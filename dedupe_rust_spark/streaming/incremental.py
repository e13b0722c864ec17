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

State layout (two layered tables, one reader and one compactor):
  state_dir/batches/batch_id=N/sha_prefix=H/         fresh per-batch state
  state_dir/compacted/upto=K/sha_prefix=H/           folded batches 0..K
  state_dir/bands/batch_id=N/bk_mod=M/               [fuzzy] band index
  state_dir/bands_compacted/upto=K/bk_mod=M/         [fuzzy] folded index
Every `compact_every` batches, process_batch folds all committed batch
dirs (< current batch) plus the previous compacted snapshot into a new
`upto=` snapshot and deletes what it folded — state reads stay O(state),
not O(batches). Listing and deletion go through Hadoop FileSystem, so
the same code runs on local, HDFS and object-store state dirs. Readers
take ONLY the max `upto=` snapshot, so a crash between writing a new
snapshot and deleting the old one never double-counts (and duplicates
would be harmless anyway: the match join aggregates min(url) per sha).
sha_prefix partitioning (16 shards) lets prefix-restricted reads prune
to 1/16 of the files (asserted in tests/test_streaming.py).

Skip rule: the fuzzy tier runs only when some fresh url (text not yet in
state byte-identically) has a band key in a stored index partition. A
batch of exact copies, or one whose keys touch no index partition,
compares nothing and reads no state bands — the cheap check before the
expensive compare.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.blocking import lsh_blocks
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


class LayeredTable(NamedTuple):
    """One layered parquet table under a state dir: per-batch layers
    <batches>/batch_id=N/<part>=v/ plus folded snapshots
    <compacted>/upto=K/<part>=v/. `key` is the compaction dedup key —
    crash duplicates are identical on it."""
    batches: str
    compacted: str
    part: str
    key: list[str]


SIG_STATE = LayeredTable("batches", "compacted", "sha_prefix", SIG_STATE_COLS)
BAND_INDEX = LayeredTable("bands", "bands_compacted", "bk_mod",
                          ["block_key", "id"])


def _hadoop_path(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _ls(spark: SparkSession, path: str) -> list[str]:
    """Child names of `path` ([] if absent) via Hadoop FileSystem — the
    same call on local, HDFS and s3a/gs/abfs state dirs."""
    fs, p = _hadoop_path(spark, path)
    return [st.getPath().getName() for st in fs.listStatus(p)] \
        if fs.exists(p) else []


def _rm(spark: SparkSession, path: str) -> None:
    fs, p = _hadoop_path(spark, path)
    fs.delete(p, True)


def _layer_ids(spark: SparkSession, path: str, name: str) -> list[int]:
    """Sorted N of the `name=N` children of `path`; anything else
    (_SUCCESS, _temporary, .crc sidecars) is ignored."""
    return sorted(int(f.split("=", 1)[1]) for f in _ls(spark, path)
                  if f.startswith(f"{name}="))


def _read_layered(spark: SparkSession, state_dir: str, table: LayeredTable,
                  before_batch: int | None = None,
                  parts: list | None = None) -> DataFrame | None:
    """The table's stored rows (partition column included): the newest
    `upto=` snapshot plus the batch layers. before_batch=N excludes layers
    written by batch N or later — the retry-safety contract (a snapshot
    only ever folds batches < any live batch, so snapshots never need the
    filter). `parts` prunes at the PATH level to those partition values
    (None = all): only the touched leaf dirs are ever listed into the
    scan. Layers without partition dirs (an empty batch) are skipped.
    None if nothing is stored."""
    def leaves(layer: str) -> list[str]:
        names = [f for f in _ls(spark, layer)
                 if f.startswith(f"{table.part}=")]
        if parts is None:
            # whole layers: a few paths, not one per partition, keep the
            # scan's file listing on the driver
            return [layer] if names else []
        want = {f"{table.part}={v}" for v in parts}
        return [os.path.join(layer, f) for f in names if f in want]

    frames: list[DataFrame] = []
    snaps = os.path.join(state_dir, table.compacted)
    uptos = _layer_ids(spark, snaps, "upto")
    if uptos:
        base = os.path.join(snaps, f"upto={uptos[-1]}")
        paths = leaves(base)
        if paths:
            frames.append(spark.read.option("basePath", base).parquet(*paths))
    root = os.path.join(state_dir, table.batches)
    paths = [p for b in _layer_ids(spark, root, "batch_id")
             if before_batch is None or b < before_batch
             for p in leaves(os.path.join(root, f"batch_id={b}"))]
    if paths:
        frames.append(spark.read.option("basePath", root).parquet(*paths)
                      .drop("batch_id"))
    return reduce(DataFrame.unionByName, frames) if frames else None


def _compact(spark: SparkSession, state_dir: str, table: LayeredTable,
             current_batch: int) -> None:
    """Fold committed batch layers (< current_batch) + the previous
    snapshot into <compacted>/upto=<current_batch-1>, then delete what was
    folded. Idempotent: a retried fold overwrites the same upto dir;
    readers use the MAX upto snapshot so stragglers are ignored until
    removed."""
    root = os.path.join(state_dir, table.batches)
    bids = [b for b in _layer_ids(spark, root, "batch_id")
            if b < current_batch]
    folded = _read_layered(spark, state_dir, table,
                           before_batch=current_batch) if bids else None
    if folded is None:
        return
    # self-heal: if a previous fold crashed after writing its snapshot but
    # before deleting the folded batch dirs, the next fold reads both.
    # Crash duplicates are identical on the table's key (the same batch
    # rows read twice); for the signature state the key is the complete
    # state tuple, so a url legitimately re-crawled with different text
    # keeps both (url, text_sha256) rows and future matches against
    # either text stay correct.
    upto = current_batch - 1
    snaps = os.path.join(state_dir, table.compacted)
    folded.dropDuplicates(table.key).write.partitionBy(table.part).mode(
        "overwrite").parquet(os.path.join(snaps, f"upto={upto}"))
    for b in bids:
        _rm(spark, os.path.join(root, f"batch_id={b}"))
    for u in _layer_ids(spark, snaps, "upto"):
        if u != upto:
            _rm(spark, os.path.join(snaps, f"upto={u}"))


def _band_sig_index(sig: DataFrame) -> DataFrame:
    """(block_key, id, bk_mod) band-index rows for a signature batch:
    blocking.lsh_blocks' band keys with id = xxhash64(url), the batch
    pipeline's surrogate key discipline."""
    return lsh_blocks(sig.select(F.xxhash64("url").alias("id"), "bands")) \
        .withColumn("bk_mod", F.pmod("block_key", F.lit(BAND_INDEX_PARTS)))


def _fuzzy_matches(sig: DataFrame, prev: DataFrame, idx: DataFrame,
                   lev_match: float, jaccard_match: float) -> DataFrame:
    """Near-dup matches of the batch against pre-batch state:
    (url, matched_url, score) — the best-scoring state match per new url,
    deterministic (ties break to the lexicographically smallest url).

    Candidate generation mirrors the batch pipeline's banding: LSH
    band-key equi-join (blocking.lsh_blocks' keys), batch band stream
    broadcast so the state's band index `idx` (pruned to the batch's
    touched partitions by the caller) streams past it. The join carries
    8-byte ids only; matched ids join back to `prev` for urls.
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

    nb = lsh_blocks(sig.select(F.col("url").alias("id"), "bands")) \
        .withColumnRenamed("id", "url")
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
        prev = _read_layered(spark, state_dir, SIG_STATE,
                             before_batch=batch_id)
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
                idx = _read_layered(spark, state_dir, BAND_INDEX,
                                    before_batch=batch_id, parts=mods)
                matches = exact.select(
                    "url", F.col("first_url").alias("matched_url"),
                    F.lit("exact").alias("kind"),
                    F.lit(1.0).alias("score"),
                )
                # no fresh url, or no fresh band key in a stored index
                # partition: nothing can collide, so the fuzzy tier is
                # skipped and no state bands are read
                if idx is not None:
                    fz = _fuzzy_matches(fresh, prev, idx, lev, jacc)
                    matches = matches.unionByName(fz.select(
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
        layers = [(SIG_STATE, sig)]
        if fuzzy:
            layers.append((BAND_INDEX, _band_sig_index(sig)))
        for table, rows in layers:
            rows.write.partitionBy(table.part).mode("overwrite").parquet(
                os.path.join(state_dir, table.batches, f"batch_id={batch_id}"))
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            for table, _ in layers:
                _compact(spark, state_dir, table, current_batch=batch_id)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
