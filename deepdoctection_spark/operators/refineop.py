"""Refinement operator: noisy segmenter-style cell proposals → merged cells.

The extraction pipeline's tables carry DOM-declared spans; a detector-driven
segmenter instead proposes cells whose spans are guesses that overlap. This
operator synthesizes that situation deterministically (the variant selector
plays the role of detector noise) and runs the REAL refinement kernel
(kernels/refine.py — connected components + rectangle fixpoint, the
TableSegmentationRefinementService semantics of
/root/reference/deepdoctection/pipe/refine.py:44-296) per turn inside one
narrow Arrow stage.

Variants (variant = turn_idx % 3, SQL-reproducible):
  0  clean proposals (all 1×1)            → no merge, 4 refined cells
  1  cell (1,1) claims row_span=2         → shares tile (2,1) with the cell
     below → vertical merge, 3 refined cells
  2  additionally cell (2,1) claims
     column_span=2                        → L-shaped component; the rectangle
     fixpoint pulls in (1,2) → ALL cells merge into one 2×2 spanning cell
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepdoctection_spark.kernels.refine import (
    ProposedCell,
    cells_to_csv,
    refine_cells,
    refined_cells_to_html,
)
from deepdoctection_spark.operators.quarantine import guarded_map_rows

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("variant", pa.int32()),
        ("n_cells", pa.int32()),
        ("refined_html", pa.string()),
    ]
)


def _proposals(cells: list[dict], variant: int) -> list[ProposedCell]:
    out = []
    for c in cells:
        r, col = c["row_number"], c["column_number"]
        rs = cs = 1
        if variant >= 1 and (r, col) == (1, 1):
            rs = 2
        if variant == 2 and (r, col) == (2, 1):
            cs = 2
        out.append(ProposedCell(c["span_id"], r, col, rs, cs, c["cell_text"]))
    return out


def _refined(extracted: DataFrame, schema: pa.Schema, rows, counter) -> DataFrame:
    """Shared shape of the refinement stages: table-bearing turns only,
    ``rows(conv_id, turn_idx, variant, refined_cells)`` per turn."""

    def per_turn(conv_id, turn_idx, cells):
        variant = int(turn_idx) % 3
        yield from rows(conv_id, turn_idx, variant,
                        refine_cells(_proposals(cells, variant)))

    return guarded_map_rows(
        extracted.where(F.size("cells") > 0),
        ["conv_id", "turn_idx", "cells"], schema, per_turn, counter,
    )


def refined_tables(extracted: DataFrame, counter=None) -> DataFrame:
    """Per table-bearing turn: refined cell count + merged-cell HTML."""

    def rows(conv_id, turn_idx, variant, refined):
        n_rows = max(c.row_number + c.row_span - 1 for c in refined)
        yield (conv_id, turn_idx, variant, len(refined),
               refined_cells_to_html(refined, n_rows))

    return _refined(extracted, _SCHEMA, rows, counter)


_CSV_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("variant", pa.int32()),
        ("row_number", pa.int32()),
        ("csv_row", pa.string()),
    ]
)


def refined_csv_rows(extracted: DataFrame, counter=None) -> DataFrame:
    """Table.csv export (view.py:332-344) over the refined cells: one output
    row per table row, tab-joined tiles, spanned tiles blank."""

    def rows(conv_id, turn_idx, variant, refined):
        n_rows = max(c.row_number + c.row_span - 1 for c in refined)
        n_cols = max(c.column_number + c.column_span - 1 for c in refined)
        for r, row in enumerate(cells_to_csv(refined, n_rows, n_cols), 1):
            yield (conv_id, turn_idx, variant, r, row)

    return _refined(extracted, _CSV_SCHEMA, rows, counter)
