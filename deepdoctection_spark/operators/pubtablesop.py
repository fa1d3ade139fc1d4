"""Pubtables segmentation operator: stripe geometry → intersection-cell grid.

Synthesizes deterministic detector-style stripe geometry per turn (the
table-transformer stand-in: row/column stripes + spanning-cell boxes with
PARTIAL overlaps, so the weighted-IoA matching rule is exercised for real)
and runs the full segmentation kernel (kernels/pubtables.py) in one narrow
Arrow stage.

Geometry per turn (t = turn_idx):
  rows:    R = 2 + t % 2 stripes of height 20, full width 90 — fed in
           REVERSED order (center-sort must restore numbering)
  columns: 3 stripes of width 30, full height — also reversed
  spanning (v = t % 3):
    v0  box (200, 200, 210, 210): intersects NO stripe → dropped and counted
        in n_unmatched (the quarantine path, oracle-checked)
    v1  box (2, 3, 28, 37): covers rows 1-2 at IoA 0.5 each (weighted ×2 =
        1.0 > thr) and column 1 fully → placed (1,1) rowspan 2
    v2  box (33, 2, 87, 18): covers row 1 fully, columns 2-3 at IoA 0.5
        each (weighted ×2) → placed (1,2) colspan 2
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from deepdoctection_spark.kernels.pubtables import Box, segment_pubtables_grid
from deepdoctection_spark.operators.quarantine import guarded_map_rows

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("n_rows", pa.int32()),
        ("n_cols", pa.int32()),
        ("n_cells", pa.int32()),
        ("max_row_span", pa.int32()),
        ("max_col_span", pa.int32()),
        ("table_html", pa.string()),
        ("n_unmatched", pa.int32()),
    ]
)


def stripe_geometry(turn_idx: int) -> tuple[list[Box], list[Box], list[Box]]:
    """(row_stripes, col_stripes, spanning_boxes) for a turn — reversed
    stripe order on purpose."""
    n_rows = 2 + turn_idx % 2
    height = 20.0 * n_rows
    rows = [(0.0, 20.0 * i, 90.0, 20.0 * (i + 1)) for i in range(n_rows)]
    cols = [(30.0 * j, 0.0, 30.0 * (j + 1), height) for j in range(3)]
    variant = turn_idx % 3
    if variant == 1:
        spanning: list[Box] = [(2.0, 3.0, 28.0, 37.0)]
    elif variant == 2:
        spanning = [(33.0, 2.0, 87.0, 18.0)]
    else:
        # intersects no stripe: must be dropped + counted, never placed at
        # the (0, *) sentinel position
        spanning = [(200.0, 200.0, 210.0, 210.0)]
    return rows[::-1], cols[::-1], spanning


def pubtables_grids(transcripts: DataFrame, counter=None) -> DataFrame:
    """One segmented grid per turn (flat columns, narrow stage)."""

    def rows(conv_id: str, turn_idx: int):
        t = int(turn_idx)
        res = segment_pubtables_grid(*stripe_geometry(t))
        yield (conv_id, t, res.n_rows, res.n_cols, len(res.cells),
               res.max_row_span, res.max_col_span, res.html, res.n_unmatched)

    return guarded_map_rows(
        transcripts, ["conv_id", "turn_idx"], _SCHEMA, rows, counter
    )
