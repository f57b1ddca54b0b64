"""Count-Min bindings of the generic sketch rails.

The reference computes a partial sketch per rank and merges them with an
associative ``MPI_Reduce`` (src/mpi/mpiV2.c:131-175; its OpenMP
thread-private variant is src/openmp/openmpV1.c:73-105). ``sketch_agg``
is that two-level design for every kernel:

  stage 1 (map):   each task folds the Arrow batches of its partition into
                   ONE sketch (a bincount per hash row — no per-row
                   Python) and emits a single serialized partial-sketch
                   row (~tens of KB).
  stage 2 (reduce): associative element-wise merge of the partials — the
                   fan-in tree of ``sketch_agg.merge_sketch_partials``, like
                   the reduction tree MPI_Reduce runs internally.

This module only binds a ``CMSConfig`` (``cfg.new_sketch`` /
``cfg.from_bytes``) to those rails, so CMS partial, text, grouped and
merge paths are the same code every other kernel runs.
"""

from __future__ import annotations

from ..config import CMSConfig
from ..sketches.cms import CountMinSketch
from .sketch_agg import (
    merge_sketch_partials,
    sketch_grouped,
    sketch_partials,
    text_token_partials,
)


def cms_partials(df, item_col: str, cfg: CMSConfig, *, weight_col: str | None = None,
                 string_items: bool = False):
    """DataFrame[partition_id, rows_seen, sketch]: one CMS partial per
    input partition."""
    return sketch_partials(df, item_col, cfg.new_sketch, weight_col=weight_col,
                           string_items=string_items)


def cms_text_partials(df, text_col: str, cfg: CMSConfig):
    """One CMS partial per partition over the tokens of a text column,
    tokenized in Arrow C kernels (no JVM-side explode)."""
    return text_token_partials(df, text_col, cfg.new_sketch)


def merge_partials(partials_df, cfg: CMSConfig) -> CountMinSketch:
    """Merge serialized CMS partials into one sketch (MPI_Reduce analog,
    src/mpi/mpiV2.c:163-175) through the shared fan-in merge; no partials
    give the zero sketch of ``cfg``."""
    sk = merge_sketch_partials(partials_df, cfg.from_bytes)
    return cfg.new_sketch() if sk is None else sk


def build_cms(df, item_col: str, cfg: CMSConfig, *, weight_col: str | None = None,
              string_items: bool = False) -> CountMinSketch:
    """End-to-end: partial sketches per partition -> fan-in merge -> sketch."""
    return merge_partials(
        cms_partials(df, item_col, cfg, weight_col=weight_col, string_items=string_items), cfg
    )


def build_cms_from_text(df, text_col: str, cfg: CMSConfig) -> CountMinSketch:
    return merge_partials(cms_text_partials(df, text_col, cfg), cfg)


def cms_grouped(df, group_col: str, item_col: str, cfg: CMSConfig, *,
                string_items: bool = False, weight_col: str | None = None):
    """DataFrame[group, rows_seen, sketch]: one merged CMS per group value
    (``sketch_agg.sketch_grouped`` with the stacked scatter-add fold)."""
    return sketch_grouped(df, group_col, item_col, cfg.new_sketch, cfg.from_bytes,
                          string_items=string_items, weight_col=weight_col)
