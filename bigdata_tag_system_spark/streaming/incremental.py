"""Streaming incremental aggregate-view maintenance.

The production pattern for a continuously-updated rollup: each
micro-batch is reduced to per-key PARTIAL aggregates (map-side work,
batch-sized), then merged into a persistent store with
:func:`~bigdata_tag_system_spark.operators.merge.merge_additive_aggregates`
— counts/sums add, max/min fold — so the store always equals the
aggregate over everything ingested WITHOUT ever rescanning history.
The store stays |keys|-sized no matter how much flows through.

Delivery semantics: foreachBatch is at-least-once — a failed batch can
re-run under the SAME batch id, and additive merges are NOT idempotent.
The sink therefore records the last applied batch id in a sidecar and
skips replays of batches it has already merged (Spark retries reuse the
batch id, so this closes the common failure window). The marker write
and the store swap are two separate filesystem operations, so a crash
BETWEEN them can still double-apply one batch on restart — a
transactional table format (Delta: MERGE + txn version in one commit)
closes that last gap; this file-store fallback documents it instead of
hiding it.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence

from pyspark.sql import DataFrame


def additive_store_sink(
    partials_of: Callable[[DataFrame], DataFrame],
    store_path: str,
    key_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    count_col: str | None = None,
    max_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` sink maintaining an additive aggregate
    store at ``store_path``.

    ``partials_of`` maps a raw micro-batch to its per-key partial
    aggregate (one groupBy — the only thing the caller must define);
    the column roles mirror ``merge_additive_aggregates``.
    """
    marker_dir = store_path.rstrip("/") + "_meta"

    def _last_applied() -> int:
        try:
            with open(os.path.join(marker_dir, "last_batch")) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from bigdata_tag_system_spark.operators.merge import (
            merge_additive_aggregates,
        )
        from bigdata_tag_system_spark.sources.writers import (
            _rewrite_store, read_store_if_exists,
        )

        if batch_id <= _last_applied():
            return  # at-least-once replay of an already-merged batch
        part = partials_of(batch_df)
        store = read_store_if_exists(batch_df.sparkSession, store_path)
        merged = part if store is None else merge_additive_aggregates(
            store, part, key_cols, sum_cols=sum_cols,
            count_col=count_col, max_cols=max_cols, min_cols=min_cols)
        _rewrite_store(merged, store_path)
        os.makedirs(marker_dir, exist_ok=True)
        with open(os.path.join(marker_dir, "last_batch"), "w") as f:
            f.write(str(batch_id))

    return _sink
