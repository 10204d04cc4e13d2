"""Streaming schema inference — the reference's fold, made incremental.

The reference's merge is a left fold over lines (``Schemer.scala:11-14``),
which is exactly a streaming accumulator: each micro-batch folds to a partial
descriptor (distributed, via ``infer_json_column``) and ``foreachBatch``
merges it into the running schema on the driver.  State is O(schema size);
the stream can run forever.

This is SURVEY §7 M4 ("streaming inference") — the natural extension the
single-pass batch design already paid for.
"""

from __future__ import annotations

import threading
from typing import Optional

from ..schema_infer import EMPTY_STRUCT, Descriptor, infer_json_column
from ..schema_infer.infer import merge_partial
from ..schema_infer.render import render_definition


class StreamingSchemaAccumulator:
    """Thread-safe running schema over micro-batches."""

    def __init__(self, permissive: bool = True) -> None:
        self._lock = threading.Lock()
        self.schema: Descriptor = EMPTY_STRUCT
        self.rows = 0
        self.permissive = permissive

    def absorb(self, partial: Descriptor, n_rows: int) -> None:
        # lenient across batches when permissive: a cross-batch kind
        # conflict must not terminate the StreamingQuery
        with self._lock:
            self.schema, _ = merge_partial(self.schema, partial, self.permissive)
            self.rows += n_rows

    def definition(self) -> str:
        with self._lock:
            return render_definition(self.schema)


def infer_stream(
    stream_df,
    column: str,
    accumulator: Optional[StreamingSchemaAccumulator] = None,
    permissive: bool = True,
    checkpoint: Optional[str] = None,
):
    """Attach streaming inference to a streaming DataFrame's string column.

    Returns ``(StreamingQuery, StreamingSchemaAccumulator)``; the caller
    drives the stream (``processAllAvailable`` for tests, or leave running).
    Each micro-batch is itself folded distributively — the driver only ever
    merges one partial descriptor per batch.
    """
    acc = accumulator or StreamingSchemaAccumulator(permissive=permissive)

    def absorb_batch(batch_df, epoch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        partial = infer_json_column(batch_df, column, permissive=permissive)
        acc.absorb(partial, n)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(absorb_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start(), acc
