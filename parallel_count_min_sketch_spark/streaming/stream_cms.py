"""Structured Streaming sketch accumulation.

The CMS is a streaming-native structure: merge associativity means a
stream build is just per-micro-batch partials merged into a running
sketch. ``StreamingCMS`` wires that through ``foreachBatch``:

    readStream -> foreachBatch(batch_df -> partial sketches -> merge into
    running sketch, persist running sketch blob atomically)

The running sketch survives driver restarts through its own tiny
checkpoint blob (plus Spark's source checkpoint for exactly-once source
progress). Late data needs no special handling for global counts; the
windowed variant (``windowed_token_counts``) shows the watermarked
event-time aggregation path with Spark built-ins.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, functions as F

from ..config import CMSConfig
from ..operators.agg import build_cms_from_text
from ..sketches.cms import CountMinSketch

_STATE_HEADER = struct.Struct("<4sqI")  # magic, last batch_id, ckpt-tag length
_STATE_MAGIC = b"SCM2"  # v2: adds ckpt-tag; old SCM1 blobs are cleanly rejected


class StreamingCMS:
    """Accumulates a CMS over a streaming text column via foreachBatch.

    foreachBatch is at-least-once: after a driver crash between our state
    write and Spark's offset commit, the same micro-batch is REPLAYED. The
    state blob therefore carries the last applied batch_id, and
    ``process_batch`` is a no-op for batch_id <= last applied — making the
    merge effectively idempotent (exactly-once on the sketch contents).
    """

    def __init__(self, cfg: CMSConfig, text_col: str = "text",
                 state_path: str | None = None):
        self.cfg = cfg
        self.text_col = text_col
        self.state_path = state_path
        self.last_batch_id = -1
        self.ckpt_tag: str | None = None  # streaming checkpoint dir the
        # batch-id watermark is valid against (ids restart at 0 elsewhere)
        self.sketch = self._load_state() or cfg.new_sketch()
        self.batches_seen = 0

    def _load_state(self) -> CountMinSketch | None:
        if self.state_path and os.path.exists(self.state_path):
            with open(self.state_path, "rb") as f:
                data = f.read()
            magic, last_id, tag_len = _STATE_HEADER.unpack_from(data, 0)
            if magic != _STATE_MAGIC:
                raise ValueError("not a StreamingCMS v2 state blob (incompatible/older format)")
            self.last_batch_id = last_id
            off = _STATE_HEADER.size
            self.ckpt_tag = data[off:off + tag_len].decode("utf-8") or None
            return self.cfg.from_bytes(data[off + tag_len:])
        return None

    def _save_state(self) -> None:
        if not self.state_path:
            return
        tag = (self.ckpt_tag or "").encode("utf-8")
        tmp = self.state_path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(_STATE_HEADER.pack(_STATE_MAGIC, self.last_batch_id, len(tag)))
            f.write(tag)
            f.write(self.sketch.to_bytes())
        os.replace(tmp, self.state_path)  # atomic on POSIX

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.last_batch_id:
            return  # replayed micro-batch already merged — skip
        self.sketch.merge(build_cms_from_text(batch_df, self.text_col, self.cfg))
        self.batches_seen += 1
        self.last_batch_id = batch_id
        self._save_state()

    def start(self, stream_df: DataFrame, checkpoint_dir: str, *,
              trigger_once: bool = False):
        # the batch-id watermark is only monotone WITHIN one streaming
        # checkpoint: a new checkpoint dir restarts ids at 0, and reusing
        # this state there would silently skip real data
        tag = (checkpoint_dir if "://" in checkpoint_dir
               else os.path.abspath(checkpoint_dir))
        if self.ckpt_tag is not None and self.ckpt_tag != tag:
            raise ValueError(
                f"state blob {self.state_path} was accumulated under streaming "
                f"checkpoint {self.ckpt_tag}; batch ids restart at 0 under "
                f"{tag}, which would silently skip new data — use a fresh "
                "state_path for a new query"
            )
        self.ckpt_tag = tag
        writer = stream_df.writeStream.foreachBatch(self.process_batch) \
            .option("checkpointLocation", checkpoint_dir).outputMode("update")
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def windowed_token_counts(stream_df: DataFrame, *, ts_col: str = "ts",
                          text_col: str = "text", window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time windowed token counts — the pure-built-in
    streaming aggregation (late data beyond the watermark is dropped;
    within it, windows update incrementally)."""
    toks = (
        stream_df.withWatermark(ts_col, watermark)
        .select(ts_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return toks.groupBy(F.window(ts_col, window), "tok").count()
