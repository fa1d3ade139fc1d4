"""Matching + NMS as production operators over noisy block proposals.

Wires the span-geometry kernels (kernels/match.py) into the query surface:
per turn, deterministic overlapping scored proposals are synthesized around
the extracted blocks (kernels/noisy.py — the DetectResultGenerator analogue),
then the REAL kernels run end-to-end:

- ``noisy_candidates``: greedy NMS over all of a turn's proposals
  (AnnotationNmsService, /root/reference/deepdoctection/pipe/common.py:239-301)
  → every proposal with its kept/suppressed verdict.
- ``noisy_assignments``: IoA argmax child→parent matching of probe spans
  against the NMS survivors (MatchingService, pipe/common.py:76-168;
  max_parent_only mode, :129-141) → every child with its assigned parent (or
  -1) and its best IoA.

Spark shape: one NARROW mapInArrow stage over (conv_id, turn_idx, blocks) —
spans never cross a turn, so no shuffle; flat output columns (no
nested-struct conversion penalty). The Python↔JVM boundary is once per Arrow
batch; per-turn work is a handful of numpy ops over ≤ ~24 intervals.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from deepdoctection_spark.kernels.match import interval_ioa, match_children, nms_spans
from deepdoctection_spark.kernels.noisy import (
    MATCH_IOA_THRESHOLD,
    NMS_IOU_THRESHOLD,
    TURN_PROBE,
    candidate_proposals,
    probe_children,
)
from deepdoctection_spark.operators.quarantine import guarded_map_rows

_CAND_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("block_no", pa.int32()),
        ("cand_id", pa.int32()),
        ("cand_begin", pa.int32()),
        ("cand_end", pa.int32()),
        ("score", pa.float64()),
        ("kept", pa.bool_()),
    ]
)

_ASSIGN_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("block_no", pa.int32()),
        ("child_id", pa.int32()),
        ("child_begin", pa.int32()),
        ("child_end", pa.int32()),
        ("parent_block_no", pa.int32()),
        ("parent_cand_id", pa.int32()),
        ("best_ioa", pa.float64()),
    ]
)


def _round4(x: float) -> float:
    """floor(x*1e4 + 0.5)/1e4 — bit-deterministic vs the DuckDB oracle
    (same policy as operators/textstats._round4)."""
    return math.floor(x * 10000 + 0.5) / 10000


def _turn_candidates(blocks: list[dict]) -> list[tuple[int, int, int, int, float]]:
    """All proposals of a turn: (block_no, cand_id, begin, end, score),
    ordered by (block_no, cand_id) — the deterministic parent order."""
    out = []
    for blk in blocks:
        bno = blk["reading_order"]
        for cid, cb, ce, score in candidate_proposals(
            blk["span_begin"], blk["span_end"]
        ):
            out.append((bno, cid, cb, ce, score))
    return out


def _turn_nms(blocks: list[dict]) -> tuple[list, list[int]]:
    """A turn's proposals and the indices greedy NMS keeps among them."""
    cands = _turn_candidates(blocks)
    if not cands:
        return cands, []
    spans = np.array([[c[2], c[3]] for c in cands], dtype=np.float64)
    scores = np.array([c[4] for c in cands], dtype=np.float64)
    return cands, nms_spans(spans, scores, NMS_IOU_THRESHOLD)


_TURN_COLS = ["conv_id", "turn_idx", "blocks"]


def noisy_candidates(extracted: DataFrame, counter=None) -> DataFrame:
    """Per proposal: kept/suppressed verdict from the real greedy-NMS kernel."""

    def rows(conv_id, turn_idx, blocks):
        cands, keep = _turn_nms(blocks)
        keep = set(keep)
        for j, (bno, cid, cb, ce, score) in enumerate(cands):
            yield (conv_id, turn_idx, bno, cid, cb, ce, score, j in keep)

    return guarded_map_rows(extracted, _TURN_COLS, _CAND_SCHEMA, rows, counter)


def noisy_assignments(extracted: DataFrame, counter=None) -> DataFrame:
    """Per probe child: argmax-IoA parent among NMS survivors (threshold 0.5,
    max-parent-only) or (-1, -1); best_ioa is the max over all survivors."""

    def rows(conv_id, turn_idx, blocks):
        cands, keep = _turn_nms(blocks)
        if not cands:
            return
        survivors = [cands[j] for j in sorted(keep)]  # (bno,cid) order
        parents = np.array([[s[2], s[3]] for s in survivors], dtype=np.float64)
        children: list[tuple[int, int, int, int]] = []
        for blk in blocks:
            for cid, cb, ce in probe_children(blk["span_begin"], blk["span_end"]):
                children.append((blk["reading_order"], cid, cb, ce))
        children.append((-1, 0, *TURN_PROBE))
        carr = np.array([[c[2], c[3]] for c in children], dtype=np.float64)
        assigned = dict(
            (ci, pi)
            for pi, ci in match_children(
                parents, carr, MATCH_IOA_THRESHOLD, max_parent_only=True
            )
        )
        m = interval_ioa(parents, carr)
        best = m.max(axis=0) if len(parents) else np.zeros(len(children))
        for ci, (bno, cid, cb, ce) in enumerate(children):
            pi = assigned.get(ci)
            parent = survivors[pi][:2] if pi is not None else (-1, -1)
            yield (conv_id, turn_idx, bno, cid, cb, ce, *parent,
                   _round4(float(best[ci])))

    return guarded_map_rows(extracted, _TURN_COLS, _ASSIGN_SCHEMA, rows, counter)
