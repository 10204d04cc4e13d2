"""Continuous-ingest dedup against the PERSISTED MinHash index — the
production composition of ``operators/dedup_index.py`` with Structured
Streaming: every micro-batch probes the on-disk index, keeps only novel
documents, appends the survivors to BOTH the curated output and the index,
so later batches (and later days) dedup against everything ever accepted.

This is the third leg of the dedup-family stool:

- batch:      ``dedup.minhash_lsh_pairs`` (corpus self-join)
- streaming:  ``streaming/dedup.py`` (state within a watermark horizon)
- ingest:     THIS — unbounded history at O(batch) cost per batch, because
  the history lives in the index artifact, not in streaming state.

Idempotence under replay (foreachBatch is at-least-once): two mechanisms.
(1) The curated output is a deterministic per-epoch directory with
overwrite — a replayed epoch rewrites the same files (the ``exactly_once``
sink recipe).  (2) The probe IGNORES matches against doc_ids present in
the incoming batch itself: when an epoch replays after its index extend
already committed, every batch doc is now in the index and would match
ITSELF (est_jaccard 1.0), which would empty ``novel`` and overwrite the
epoch dir with nothing — permanently losing the accepted docs.  Filtering
out batch-self matches makes the replay recompute the same ``novel`` set.
The exclusion is safe against cross-epoch RE-DELIVERY (the same doc_id
re-sent in a later epoch — the most common duplication pattern in real
feeds) because index signature rows are stamped with the epoch that wrote
them: before probing, batch ids already indexed under a DIFFERENT epoch
(or a None epoch: batch-built history) are rejected outright, so only
this epoch's own replayed entries ever reach the self-match exclusion.  Index appends ARE
duplicated by a replay, deliberately: duplicate band/sig rows are
semantically harmless (the probe's candidate `distinct` collapses them;
signature rows per doc are identical copies) and are reclaimed by the
next ``build_minhash_index`` compaction — cheaper than a transactional
ledger on the hot ingest path.

The perceptual media families (``phash_index.IMAGE``/``AUDIO``/``VIDEO``)
ride the same discipline through ONE family-parameterised driver,
:func:`process_media_ingest_batch` / :func:`start_media_ingest`: the
batch is fingerprinted, probed against the persisted fingerprint index,
and its duplicated appends are reclaimed by ``compact_phash_index``.
Both editions share :func:`_replay_safe_novel` — the re-delivery guard
and the batch-self-match exclusion exist once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import keep_first_per_content
from ..operators.dedup_index import dedup_against_index, extend_minhash_index
from ..operators.phash_index import (
    Family,
    extend_phash_index,
    phash_against_index,
)


def _replay_safe_novel(
    batch: DataFrame,
    epoch_id: int,
    id_col: str,
    indexed: DataFrame | None,
    probe,
) -> DataFrame | None:
    """The replay-correctness joins, ONE definition for every family (text
    and the perceptual media families): cross-epoch re-delivery rejection
    → index probe with batch-self matches excluded → checkpointed novel
    survivors, or None when the guard leaves nothing.  Two copies would
    drift.

    ``batch`` is the probe-ready, checkpointed frame keyed on ``id_col``;
    ``indexed`` the index's ``(id_col, epoch)`` rows (None: an index
    without epoch stamps, where no re-delivery can be attributed);
    ``probe(batch)`` returns ``(id_col, matched_<id_col>, …)`` pairs.

    Re-delivery guard: an id already in the index under a DIFFERENT epoch
    (or a None epoch: batch-built history) is a re-sent id — without this
    it would match its own index entry, have the match discarded as a
    batch-self match, and be silently re-admitted.  Same-epoch entries
    are this epoch's own replayed extend and must NOT reject (that is the
    data-loss replay bug the self-match exclusion fixes).  Scale shape:
    the index side is a column-pruned (id, epoch) scan semi-joined
    against the BROADCAST batch ids — map-side over the index scan, the
    hits are <= batch-sized, and the final anti-join broadcasts them."""
    if indexed is not None:
        foreign = (
            indexed.filter(~F.col("epoch").eqNullSafe(F.lit(epoch_id)))
            .select(id_col)
            .join(F.broadcast(batch.select(id_col)), id_col, "left_semi")
            .distinct()
        )
        batch = batch.join(
            F.broadcast(foreign), id_col, "left_anti"
        ).localCheckpoint()
        if batch.isEmpty():
            return None
    matched = f"matched_{id_col}"
    matches = probe(batch).join(
        batch.select(F.col(id_col).alias(matched)), matched, "left_anti"
    )
    return batch.join(
        matches.select(id_col).distinct(), id_col, "left_anti"
    ).localCheckpoint()


def _novel_for_batch(
    batch: DataFrame, index_path: str, intra_batch: bool, epoch_id: int
) -> DataFrame | None:
    """The text probe pipeline: [intra-batch exact dedup] → the shared
    replay-safe probe (broadcast batch, index never shuffles)."""
    if batch.isEmpty():
        return None
    batch = batch.localCheckpoint()  # reused by probe + anti-join
    if intra_batch:
        batch = keep_first_per_content(batch).localCheckpoint()
    sigs = batch.sparkSession.read.parquet(f"{index_path}/sigs")
    return _replay_safe_novel(
        batch,
        epoch_id,
        "doc_id",
        sigs if "epoch" in sigs.columns else None,
        lambda b: dedup_against_index(b, index_path),
    )


def process_ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    intra_batch: bool = True,
    digest_sketch: bool = False,
) -> None:
    """One micro-batch → novel survivors → epoch-dir write + index extend.
    Exposed as a plain function so the replay path is directly testable.

    ``digest_sketch=True`` also maintains the Theta recrawl-triage
    artifact per epoch (``dedup_index.recrawl_triage``) — an epoch
    REPLAY re-appends an identical-content sketch, which unions to the
    same set (Theta set semantics), so the replay-idempotence contract
    of this function is unchanged.  Triage is an observability/sizing
    signal: the probe still runs for every batch (a sketch estimate must
    never DROP data)."""
    novel = _novel_for_batch(batch, index_path, intra_batch, epoch_id)
    if novel is None:
        return
    # deterministic per-epoch dir + overwrite = replay-idempotent
    novel.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
    # owner = the pipeline's stable identity (one ingest query per output
    # corpus): a post-crash restart re-acquires its own stale writer lease
    # instead of deadlocking on it, while a FOREIGN writer (a maintenance
    # compaction) still conflicts loudly.
    extend_minhash_index(
        novel, index_path, epoch=epoch_id, owner=f"ingest:{out_path}",
        digest_sketch=digest_sketch,
    )


def start_ingest_dedup(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    intra_batch: bool = True,
    query_name: str = "ingest_dedup",
    digest_sketch: bool = False,
):
    """Start the ingest query over an input ``stream`` of (doc_id, text, …)
    rows.  Returns the StreamingQuery.

    ``intra_batch`` keeps the smallest-id copy of exact duplicates WITHIN
    one batch (two copies arriving together are both absent from the index
    — the probe alone cannot see them); intra-batch NEAR-dups are likewise
    invisible to the probe until the next batch — when they matter, run
    the batch verifier over the (small) novel set in-line before the
    write, at O(novel² bounded-by-LSH) cost."""

    def _process(batch: DataFrame, epoch_id: int) -> None:
        process_ingest_batch(
            batch, epoch_id, index_path, out_path, intra_batch=intra_batch,
            digest_sketch=digest_sketch,
        )

    return _start(stream, _process, checkpoint, query_name)


def _start(stream: DataFrame, process, checkpoint: str, query_name: str):
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def read_ingested(spark, out_path: str) -> DataFrame:
    """The accepted corpus across all epochs, for every family (epoch dirs
    are hive-style partitions, so readers can also prune by epoch
    range)."""
    return spark.read.option("basePath", out_path).parquet(f"{out_path}/epoch=*")


def process_ingest_batch_manifest(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    table,
    intra_batch: bool = True,
) -> None:
    """Manifest-backed twin of :func:`process_ingest_batch`: novel docs
    commit to a ``sources.manifest.ManifestTable`` via ``commit_once(key=
    epoch)`` — replays are version-level no-ops, readers get ATOMIC
    current-snapshot reads (``table.read()``) instead of epoch-dir globs,
    and the accepted corpus gains time travel and safe compaction for
    free.

    Ordering matters: the index extend runs BEFORE (and regardless of)
    the commit.  Gating the extend on a successful first commit would
    open a crash window — commit lands, driver dies before the extend,
    every replay sees the key marker and skips the extend FOREVER, and
    later duplicates of this epoch's docs probe clean and get admitted.
    Extend-first means a replay at worst re-extends (duplicate index rows
    are tolerated by design) and the key marker guarantees at most one
    corpus commit."""
    novel = _novel_for_batch(batch, index_path, intra_batch, epoch_id)
    if novel is None:
        return
    extend_minhash_index(
        novel, index_path, epoch=epoch_id, owner=f"ingest:{table.path}"
    )
    table.commit_once(novel, key=epoch_id)


def process_media_ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    intra_batch: bool = True,
    *,
    family: Family,
) -> None:
    """Media edition of :func:`process_ingest_batch` for one perceptual
    ``family`` (``phash_index.IMAGE``/``AUDIO``/``VIDEO``): one micro-batch
    of (id, payload) rows → fingerprints → [intra-batch exact-hash
    collapse to the minimum id] → the shared replay-safe probe against
    the persisted fingerprint index → epoch-dir write + index extend.
    The epoch dir stores the ACCEPTED input rows — joined back to the
    batch by id, since the fingerprint frame dropped the payloads.
    Intra-batch NEAR-dups are invisible to the probe until the next
    batch, exactly the text caveat; run ``phash_near_dup_pairs`` over the
    (small) novel set in-line when that matters."""
    if batch.isEmpty():
        return
    fps = family.fingerprint(batch).localCheckpoint()
    if intra_batch:
        from pyspark.sql.window import Window as W

        w = W.partitionBy(family.hash_col).orderBy(family.id_col)
        fps = (
            fps.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint()
        )
    # the stored layout names the id img_id for every family
    indexed = batch.sparkSession.read.parquet(
        f"{index_path}/hashes"
    ).withColumnRenamed("img_id", family.id_col)
    novel = _replay_safe_novel(
        fps,
        epoch_id,
        family.id_col,
        indexed,
        lambda b: phash_against_index(b, index_path, family=family),
    )
    if novel is None:
        return
    accepted = batch.join(
        F.broadcast(novel.select(family.id_col)), family.id_col
    )
    accepted.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
    extend_phash_index(
        novel,
        index_path,
        epoch=epoch_id,
        owner=f"{family.name}-ingest:{out_path}",
        family=family,
    )


def start_media_ingest(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    intra_batch: bool = True,
    query_name: str | None = None,
    *,
    family: Family,
):
    """Start the media ingest query over an (id, payload, …) stream of
    ``family``; the query is named ``<family>_ingest`` unless
    ``query_name`` is given.  Returns the StreamingQuery."""

    def _process(batch: DataFrame, epoch_id: int) -> None:
        process_media_ingest_batch(
            batch, epoch_id, index_path, out_path, intra_batch=intra_batch,
            family=family,
        )

    return _start(
        stream, _process, checkpoint, query_name or f"{family.name}_ingest"
    )
