"""Streaming climatology refresh — closes the SCALE.md open item
"EAPE pass 2 does not stream".

Pass 1 of the atlas (per-cell kernel-weighted means) is algebraic, so
it streams as partial sums (events.py::incremental_cell_means). Pass 2
(EAPE) cannot stream: the per-pair displacement is computed AGAINST the
pass-1 cell means, so every pass-1 update invalidates pass-2 rows —
a feedback edge Structured Streaming's dataflow model does not express.

The documented remedy is the batch-refresh trigger implemented here:

- INCREMENTAL pair generation: each micro-batch of newly interpolated
  profiles joins the (static) grid via the binned neighborhood join —
  only the new profiles are matched, never the backlog. The pair rows
  land in a parquet pair store, partitioned by micro-batch id so a
  replayed batch OVERWRITES its own partition instead of duplicating it
  (foreachBatch's at-least-once contract made idempotent).
- PERIODIC full pass 1+2 over the accumulated pair store: the same
  clim_ts / clim_eape operators the batch pipeline uses (both passes
  consume the pair set, so nothing upstream recomputes), refreshing the
  atlas output in place.

Cost model at scale: the incremental part (pair join) is O(new
profiles) per trigger; the refresh is O(total pairs) but runs every
``refresh_every`` batches on the operator's schedule — exactly the
reference's full-rebuild economics (atlas.py:379-383) amortized, with
Spark doing the distribution. The pair store doubles as the
checkpointable state; deleting the atlas output is always safe (next
refresh rebuilds it).

Atlas publication is ATOMIC for concurrent readers: each refresh
writes a fresh ``{atlas_store}/v=<batch_id>`` directory and then
publishes it by an atomic rename of a pointer file
(``{atlas_store}/CURRENT``) — readers resolve the pointer via
:func:`current_atlas` and only ever see a fully-written version. The
two newest versions are retained so a reader that resolved the old
pointer mid-swap still finds its files; older versions are pruned.
The pointer plumbing goes through :mod:`.fsio` (VERDICT r9 item 3):
plain paths use driver-local os.rename (atomic on one local/NFS
mount), ``scheme://`` URIs use the Hadoop FileSystem API —
FileContext.rename(OVERWRITE), atomic on HDFS, last-writer-wins on
object stores (see fsio's per-filesystem atomicity contract; true
transactional publish on s3a/gs belongs in a table format). The
pair-store appends are replay-safe via the per-batch partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.atlas import clim_eape, clim_ts, match_pairs
from .fsio import read_pointer, store_fs

__all__ = ["atlas_refresh_writer", "current_atlas", "publish_version"]


def publish_version(
    atlas_store: str, version: int, keep: int = 2, spark: SparkSession | None = None
) -> None:
    """Atomically point ``{atlas_store}/CURRENT`` at ``v=<version>``:
    write the pointer to a temp file and rename it over CURRENT —
    local rename / HDFS FileContext OVERWRITE-rename are atomic, so a
    concurrent reader sees either the old pointer or the new one,
    never a torn write (object-store caveat: fsio docstring). Then
    prune all but the ``keep`` newest versions (keep >= 2 so a reader
    that resolved the OLD pointer just before the swap still finds its
    files). ``spark`` is required for URI stores (fsio.HadoopFS)."""
    fs = store_fs(atlas_store, spark)
    fs.write_text_atomic(
        f"{atlas_store}/CURRENT", str(version), f".CURRENT.tmp.{version}"
    )
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in fs.listdir(atlas_store)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    for v in versions[:-keep]:
        if v != version:
            fs.delete(f"{atlas_store}/v={v}")


def current_atlas(spark: SparkSession, atlas_store: str) -> DataFrame:
    """Read the currently-published atlas version. Resolves the CURRENT
    pointer once, then reads that immutable versioned directory — a
    refresh landing mid-read cannot disturb it (versions are
    write-once; the retention window keeps the previous version on
    disk through the swap)."""
    # read_pointer retries once on a missing/empty pointer: object-store
    # rename is copy+delete, so the swap has an instant where CURRENT is
    # absent (fsio.py atomicity contract); an empty pointer file after
    # the retry is unpublished, same as missing (self-review, round 10)
    txt = read_pointer(
        store_fs(atlas_store, spark), f"{atlas_store}/CURRENT"
    )
    if not txt:
        raise FileNotFoundError(
            f"no atlas published yet under {atlas_store!r} "
            "(CURRENT pointer missing — wait for the first refresh)"
        )
    return spark.read.parquet(f"{atlas_store}/v={int(txt)}")


def atlas_refresh_writer(
    grid: DataFrame,
    pair_store: str,
    atlas_store: str,
    reso_deg: float,
    smoothing_factor: float = 4.0,
    refresh_every: int = 1,
    algo: str = "R14",
    delayed_only: bool = True,
):
    """Build the foreachBatch callable: incremental pair append +
    periodic two-pass atlas rebuild. Wire it with::

        profiles_stream.writeStream.foreachBatch(
            atlas_refresh_writer(grid, pair_dir, atlas_dir, 2.0)
        ).option("checkpointLocation", ckpt).start()

    ``refresh_every=N`` refreshes on every Nth micro-batch (the final
    state after a stream drains is identical for any N that divides the
    last batch in — the pair store always holds every pair appended so
    far, so each refresh is a full, self-contained rebuild).
    """
    if refresh_every < 1:
        raise ValueError(f"refresh_every must be >= 1, got {refresh_every}")
    # Static side: cache, do NOT localCheckpoint. A localCheckpoint held
    # for the stream's lifetime is non-recomputable — losing one
    # executor (preemption, OOM kill) would invalidate the truncated
    # lineage and fail every later micro-batch. A cached grid re-derives
    # evicted blocks from its (deterministic) plan; the per-batch
    # localCheckpoints inside refresh() are safe because each trigger
    # rebuilds them from scratch.
    grid = grid.cache()
    grid.count()  # materialize once up front

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_pairs = match_pairs(
            grid, batch_df, reso_deg, smoothing_factor, delayed_only=delayed_only
        )
        # idempotent under foreachBatch replay: the batch owns its
        # partition directory and overwrites it wholesale
        new_pairs.write.mode("overwrite").parquet(f"{pair_store}/batch={batch_id}")
        if batch_id % refresh_every != 0:
            return
        # explicit schema: when every batch so far produced zero pairs
        # the store holds only _SUCCESS markers and schema inference
        # would raise inside foreachBatch, killing the stream — an empty
        # frame with the pair schema rebuilds an empty atlas instead
        pairs = (
            spark.read.schema(new_pairs.schema)
            .parquet(f"{pair_store}/batch=*")
            .localCheckpoint(eager=True)
        )
        ts = clim_ts(grid, None, reso_deg, smoothing_factor, pairs=pairs)
        eape = clim_eape(
            grid, None, reso_deg, smoothing_factor, pairs=pairs, algo=algo
        )
        out = ts.join(
            eape.select("glon", "glat", "RHO", "EAPE"), on=["glon", "glat"]
        )
        # versioned write + atomic pointer swap: replayed batches
        # overwrite their own v= directory (idempotent), readers via
        # current_atlas() never observe a partial directory
        store_fs(atlas_store, spark).mkdirs(atlas_store)
        out.write.mode("overwrite").parquet(f"{atlas_store}/v={batch_id}")
        publish_version(atlas_store, batch_id, spark=spark)

    # let callers release the cached grid once the stream is stopped
    refresh.unpersist_grid = lambda blocking=False: grid.unpersist(blocking)
    return refresh
