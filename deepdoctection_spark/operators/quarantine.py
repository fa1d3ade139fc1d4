"""Row-level quarantine for flat-column Arrow stages.

The engine's fault-tolerance contract (the reference's MappingContextManager,
/root/reference/deepdoctection/mapper/maputils.py:41-110): one poison row
must never fail the task. The extraction stage records failures in an
``error`` column; downstream derived stages (matching/NMS, refinement,
pubtables) consume data that is well-formed by construction, so their
contract is the reference's other mode — log-and-DROP: on any per-row
failure, roll back the row's partially-appended outputs and continue.
``guarded_map_rows`` is the one batch loop those stages share.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

_log = logging.getLogger(__name__)


def quarantine_counter(spark, initial: int = 0):
    """A Spark accumulator for drop counts: incremented executor-side inside
    row_guard, readable driver-side as ``counter.value`` after an action —
    the reference logs AND counts (maputils.py:41-110); at 10^12 turns a
    silent drop rate is an ops hazard. Accumulator semantics are
    at-least-once under task retry (standard Spark caveat) — treat as an ops
    metric, not an exact ledger; the exact ledger is the manifest's
    per-bucket `quarantined` field (computed from committed data)."""
    return spark.sparkContext.accumulator(initial)


@contextmanager
def row_guard(cols: list[list], row_key: object = None, counter=None):
    """Append-rollback guard: on exception, truncate every output column
    back to its length at entry (dropping the failed row's partial output),
    count the drop on ``counter`` (quarantine_counter / any .add(int)
    object) when given, and swallow the error after logging."""
    marks = [len(c) for c in cols]
    try:
        yield
    except Exception as exc:  # quarantine: drop the row, never throw
        for c, m in zip(cols, marks):
            del c[m:]
        if counter is not None:
            counter.add(1)
        _log.warning("row quarantined (dropped) key=%r: %s", row_key, exc)


def guarded_map_rows(
    df: DataFrame,
    in_cols: list[str],
    schema: pa.Schema,
    rows: Callable[..., Iterable[tuple]],
    counter=None,
) -> DataFrame:
    """One narrow ``mapInArrow`` stage over ``df[in_cols]``: ``rows`` gets
    each input row's values (in ``in_cols`` order) and yields zero or more
    output tuples in ``schema`` field order. Each input row runs under
    ``row_guard``, so a row that raises — even after yielding — contributes
    nothing, is counted on ``counter`` and is logged by its first two input
    values (conv_id, turn_idx in every stage that uses this)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            cols: list[list] = [[] for _ in schema]
            for row in zip(*(c.to_pylist() for c in rb.columns)):
                with row_guard(cols, row[:2], counter=counter):
                    for out in rows(*row):
                        for c, v in zip(cols, out, strict=True):
                            c.append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
            )

    return df.select(*in_cols).mapInArrow(fn, schema=from_arrow_schema(schema))
