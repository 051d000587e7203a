"""Structured Streaming zonal statistics: incremental tile arrival →
continuously-updated per-feature stats.

The reference is single-pass batch; this is the Spark-native extension for
the 10^12-image table growing in place: ``readStream`` over the image-table
directory → the SAME exact coverage kernel as batch (emit="moments", one
row per feature×tile) → a stateful ``groupBy(feature_id)`` merge of the
partial moments. The moments are pure sums plus min/max, so Spark's
streaming state store merges each micro-batch in O(|features|) state with
no re-scan of earlier tiles.

The front half is the batch one too: ``zonal.feature_side`` reconciles
the features' CRS with the raster's and collects the broadcast feature set
(a table too large to broadcast is refused — there is no cover-join
fallback on a stream), and ``zonal.prune_tiles`` cuts the streaming tiles to
the feature bboxes' tile keys with a stateless stream-static join.

Algebraic stats (count/sum/mean/min/max/variance/stdev/CV and weighted
variants) stream as O(|features|) moment state. Frequency stats
(mode/median/quantile/frac/variety/minority) stream too, as a
``groupBy(feature_id, value)`` aggregate in complete mode: state is
bounded by |features| x |distinct values| — the CATEGORICAL-raster
assumption the batch ``frac`` path already documents (a continuous-valued
raster would grow state per distinct float; ``max_state_rows`` guards
that loudly).

Each trigger's snapshot (``foreachBatch`` over the complete merged state)
runs the SAME finish as batch — ``stats_from_freq``/``stats_from_moments``
then ``backfill`` — so the streaming answer after N tiles matches the
batch answer over those N tiles, a row for every feature included
(test-asserted for both stat families).

Weighted stats stream too: the weight raster is STATIC, so its tiles are
pre-grouped per value-tile key on the batch side
(``zonal.static_weight_lists``) and attached to the streaming tiles with a
stateless broadcast stream-static join — the moments schema already
carries the weighted sums, so the stateful aggregate is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.stats import StatsPlan
from ..sources.tiles import TILE_SCHEMA, RasterMeta, raw_tiles_with_meta


def stream_zonal_stats(
    spark: SparkSession,
    source_dir: str,
    features: DataFrame,
    stats: "list[str] | str",
    *,
    meta: RasterMeta,
    checkpoint_dir: str,
    weights=None,
    sink_dir: str | None = None,
    query_name: str = "zonal_stream",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
    quantiles: "list[float] | None" = None,
    max_state_rows: int = 1_000_000,
):
    """Start the streaming zonal query; returns the StreamingQuery.

    Each trigger snapshots the full current result. Without ``sink_dir``
    the snapshot is a temp view named ``query_name`` (read it with
    ``spark.table(query_name)``). With ``sink_dir`` it overwrites parquet
    there, which is the resumable-pipeline shape: the newest snapshot is
    always a consistent answer over every tile ingested so far.
    """
    from pyspark.sql import functions as F

    from ..operators import zonal

    if isinstance(stats, str):
        stats = [stats]
    plan = StatsPlan(stats, quantiles or [])
    plan.check_weights(weights)
    if weights is not None:
        if zonal.weight_disagg(meta.grid, weights.meta.grid) != (1, 1):
            raise ValueError(
                "finer-than-value weight grids disaggregate the value "
                "raster — batch-only; resample the weights first"
            )

    # the batch feature step (CRS reconciliation, bounded collect), before
    # any query starts; the streaming path has no cover-join fallback —
    # features must broadcast
    _, fb = zonal.feature_side(features, meta)
    if fb is None:
        raise ValueError(
            f"streaming zonal requires a broadcastable feature table "
            f"(> {zonal.BROADCAST_FEATURE_LIMIT} rows found); the streaming "
            "path has no raster-sequential cover-join fallback — partition the "
            "feature set or use the batch operator"
        )

    raw = (
        spark.readStream.schema(TILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    tiles, feats_bc = zonal.prune_tiles(
        raw_tiles_with_meta(raw, layer=meta.layer), meta, fb
    )
    if weights is not None:
        wlists = zonal.static_weight_lists(meta, weights)
        # size-gate the broadcast hint exactly like the batch path: a large
        # weight raster's pre-grouped lists join as a plain stream-static
        # equi-join (still stateless) instead of an OOM-prone broadcast
        wbytes = zonal._weight_payload_bytes(weights.meta)
        if wbytes <= zonal.WEIGHT_BROADCAST_MAX_BYTES:
            wlists = F.broadcast(wlists)
        tiles = tiles.join(wlists, on=["tile_row", "tile_col"], how="left")
    kernel_kwargs = dict(feats_bc=feats_bc, values_meta=meta)
    if plan.freq:
        # freq state: |features| x |distinct values| rows (categorical
        # rasters; max_state_rows guards the continuous case loudly)
        partials = zonal.coverage_facts(tiles, emit="freq", **kernel_kwargs)
        state = zonal.merge_freq(partials)
    else:
        # moments state: one row per feature
        moments = zonal.coverage_facts(tiles, emit="moments", **kernel_kwargs)
        state = zonal.merge_moments(moments)

    def _snapshot(batch_df: DataFrame, batch_id: int) -> None:
        # batch_df is the complete merged state
        if plan.freq:
            merged = batch_df.localCheckpoint(eager=True)
            # limit-bounded guard job (the repo-wide pattern): we only need
            # "more than max_state_rows?", never the exact count
            if merged.limit(max_state_rows + 1).count() > max_state_rows:
                raise ValueError(
                    "streaming freq state exceeds "
                    f"max_state_rows={max_state_rows} (feature, value) "
                    "rows: the value raster is not categorical enough to "
                    "stream frequency stats — run them in batch, or raise "
                    "max_state_rows"
                )
            result = zonal.stats_from_freq(plan, merged)
        else:
            result = zonal.stats_from_moments(plan, batch_df)
        result = zonal.backfill(result, features, feats_bc).orderBy("feature_id")
        if sink_dir is not None:
            result.write.mode("overwrite").parquet(sink_dir)
        else:
            # register the snapshot on the CALLER's session (row-based
            # createDataFrame preserves nulls exactly; the view is
            # per-feature tiny)
            snap = spark.createDataFrame(result.collect(), schema=result.schema)
            snap.createOrReplaceTempView(query_name)

    writer = (
        state.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_snapshot)
        .outputMode("complete")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
