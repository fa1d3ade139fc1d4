"""The extraction stage: transcripts → extracted text + typed spans.

Spark-first design notes
------------------------
- ONE ``mapInArrow`` stage runs the whole per-turn chain (decode → block
  segmentation → boilerplate strip → table segmentation → ordering → span
  finalization). The reference runs the same chain as N sequential per-row
  components (/root/reference/deepdoctection/pipe/base.py:282-292); fusing
  them into one Arrow stage means the Python↔JVM boundary is crossed once per
  batch, not once per row per component — the engine's replacement for
  pickle-over-ZeroMQ worker transport
  (/root/reference/deepdoctection/dataflow/parallel_map.py:337-444).
- The stage is NARROW: no shuffle. Spans never cross a turn, so every turn is
  independent; Catalyst keeps the parquet scan → mapInArrow pipeline in one
  stage, and input partitioning is preserved.
- Row-level error quarantine: a failing turn yields an ``error`` string and
  empty outputs instead of failing the task — the reference's
  MappingContextManager contract (log-and-drop, never throw:
  /root/reference/deepdoctection/mapper/maputils.py:41-110). At 10^12 turns a
  poison row must not kill the job.
- Column pruning: pass-through columns are limited to the keys + role/tool;
  the payload column is dropped after extraction so downstream stages never
  carry it (the reference does this manually via clear_image /
  remove_image_from_lower_hierachy,
  /root/reference/deepdoctection/datapoint/image.py:194-205, 536-545 —
  Catalyst's ColumnPruning does it for us as long as payload and outputs are
  separate columns).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from deepdoctection_spark.config import DEFAULT_CONFIG, PipelineConfig
from deepdoctection_spark.kernels.extract import extract_turn, finalize_turn

_SPAN_STRUCT = T.StructType(
    [
        T.StructField("span_id", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("span_begin", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
        T.StructField("reading_order", T.IntegerType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("score", T.FloatType()),
    ]
)

_CELL_STRUCT = T.StructType(
    [
        T.StructField("span_id", T.StringType()),
        T.StructField("span_begin", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
        T.StructField("row_number", T.IntegerType()),
        T.StructField("column_number", T.IntegerType()),
        T.StructField("row_span", T.IntegerType()),
        T.StructField("column_span", T.IntegerType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("cell_text", T.StringType()),
    ]
)

_WORD_STRUCT = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("span_begin", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
        T.StructField("word_idx", T.IntegerType()),
    ]
)

EXTRACTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("blocks", T.ArrayType(_SPAN_STRUCT)),
        T.StructField("cells", T.ArrayType(_CELL_STRUCT)),
        T.StructField("words", T.ArrayType(_WORD_STRUCT)),
        T.StructField("table_html", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


# Streaming twin: the event-time column rides through the Arrow stage as
# int64 micros (restored to a timestamp JVM-side).
_TS_SCHEMA = T.StructType(
    EXTRACTION_SCHEMA.fields + [T.StructField("ts_us", T.LongType())]
)

_WORD_FIELDS = list(to_arrow_schema(_WORD_STRUCT))


def _batch_words(out_text: list[str]) -> pa.ListArray:
    """Tokenize the WHOLE batch's extracted text in one vectorized pass:
    one Arrow split (C) + numpy prefix sums replace the per-row
    kernels.textnorm.word_spans loop (which was ~1/3 of stage CPU).

    Output is bit-identical to per-row word_spans: tokens are maximal runs
    of non-separator chars (the contract emits exactly ' ' within a block
    and '\\n' between blocks), begin/end are codepoint offsets into the
    row's extracted_text, word_idx counts tokens within the row.
    Equivalence is property-tested against the per-row kernel
    (tests/test_property.py)."""
    txt = pa.array(out_text, pa.string())
    # str.split(' ') semantics: empty fragments mark separator runs, so the
    # fragment lengths alone reconstruct every offset (fragment k of a row
    # begins at sum(previous fragment lengths) + k separators)
    parts = pc.split_pattern(pc.replace_substring(txt, "\n", " "), " ")
    flat = parts.flatten()
    lens = pc.utf8_length(flat).to_numpy(zero_copy_only=False).astype(np.int64)
    offs = parts.offsets.to_numpy().astype(np.int64)  # n+1 row boundaries
    counts = np.diff(offs)
    row_start = np.repeat(offs[:-1], counts)  # first fragment index, per fragment
    k = np.arange(len(lens))
    cs = np.concatenate(([0], np.cumsum(lens)))
    begin = (cs[:-1] - cs[row_start]) + (k - row_start)
    nonempty = lens > 0
    nzcs = np.concatenate(([0], np.cumsum(nonempty)))
    word_idx = nzcs[:-1] - nzcs[row_start]
    sel = pa.array(nonempty)
    struct = pa.StructArray.from_arrays(
        [
            flat.filter(sel),
            pa.array(begin[nonempty].astype(np.int32), pa.int32()),
            pa.array((begin[nonempty] + lens[nonempty]).astype(np.int32), pa.int32()),
            pa.array(word_idx[nonempty].astype(np.int32), pa.int32()),
        ],
        fields=_WORD_FIELDS,
    )
    w_offsets = nzcs[offs].astype(np.int32)  # words-per-row prefix sums
    return pa.ListArray.from_arrays(pa.array(w_offsets, pa.int32()), struct)


def _extract_batches(
    cfg: PipelineConfig, with_words: bool, schema: T.StructType
) -> "callable":
    ld, gap, td = cfg.link_density_threshold, cfg.column_gap, cfg.tag_density_threshold
    keep_ts = "ts_us" in schema.names
    # The stage runs as mapInArrow and builds RecordBatches with pyarrow's C
    # conversion path directly: PySpark's generic pandas→Arrow converter
    # walks nested structs element-by-element in Python (≈20× the cost of
    # the extraction kernel itself, measured at sf0.1); pa.array(list-of-
    # tuples, type=...) does the same job in C.
    pa_schema = to_arrow_schema(schema)
    blocks_type = pa_schema.field("blocks").type
    cells_type = pa_schema.field("cells").type

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            idx = rb.schema.get_field_index
            # pass-through columns stay as Arrow arrays end-to-end (zero-copy
            # into the output batch — no to_pylist + re-encode roundtrip);
            # only the columns the Python kernels actually read are
            # materialized. `role` never crosses into Python at all.
            conv_arr = rb.column(idx("conv_id"))
            tix_arr = rb.column(idx("turn_idx"))
            roles_arr = rb.column(idx("role"))
            tools_arr = rb.column(idx("tool"))
            if conv_arr.type != pa.string():
                conv_arr = conv_arr.cast(pa.string())
            if tix_arr.type != pa.int32():
                tix_arr = tix_arr.cast(pa.int32())
            if roles_arr.type != pa.string():
                roles_arr = roles_arr.cast(pa.string())
            if tools_arr.type != pa.string():
                tools_arr = tools_arr.cast(pa.string())
            conv = conv_arr.to_pylist()
            tix = tix_arr.to_pylist()
            texts = rb.column(idx("text")).to_pylist()
            tools = tools_arr.to_pylist()
            out_text: list[str] = [""] * n
            out_nb: list[int] = [0] * n
            out_blocks: list[list] = [[] for _ in range(n)]
            out_cells: list[list] = [[] for _ in range(n)]
            out_html: list = [None] * n
            out_err: list = [None] * n
            for i in range(n):
                try:
                    blocks = extract_turn(texts[i], tools[i], ld, gap, td)
                    # words are NOT built per row: the whole batch's text is
                    # tokenized in one vectorized pass after the loop
                    # (_batch_words) — the per-row tokenizer was ~1/3 of
                    # stage CPU
                    fin = finalize_turn(conv[i], int(tix[i]), blocks,
                                        with_words=False)
                    out_text[i] = fin.extracted_text
                    out_nb[i] = len(fin.blocks)
                    # structs as tuples in schema field order
                    out_blocks[i] = [
                        (s.span_id, s.category, s.begin, s.end,
                         s.reading_order, s.parent_id, s.score)
                        for s in fin.blocks
                    ]
                    out_cells[i] = [
                        (s.span_id, s.begin, s.end,
                         int(s.attrs["row_number"]),
                         int(s.attrs["column_number"]),
                         int(s.attrs["row_span"]),
                         int(s.attrs["column_span"]),
                         s.parent_id,
                         out_text[i][s.begin : s.end])
                        for s in fin.cells
                    ]
                    # every table's HTML, in block order (a turn can carry
                    # several tables; keeping only the first silently
                    # contradicts the cells output)
                    out_html[i] = (
                        "\n".join(fin.table_htmls) if fin.table_htmls else None
                    )
                except Exception as exc:  # quarantine, never throw
                    # reset EVERY output (a failure after partial assignment
                    # must not leave a half-extracted row; also keeps the
                    # batch tokenizer from emitting words for it)
                    out_text[i] = ""
                    out_nb[i] = 0
                    out_blocks[i] = []
                    out_cells[i] = []
                    out_html[i] = None
                    out_err[i] = f"{type(exc).__name__}: {exc}"[:500]
            if with_words:
                words_arr = _batch_words(out_text)
            else:
                words_arr = pa.ListArray.from_arrays(
                    pa.array(np.zeros(n + 1, np.int32), pa.int32()),
                    pa.StructArray.from_arrays(
                        [pa.array([], f.type) for f in _WORD_FIELDS],
                        fields=_WORD_FIELDS,
                    ),
                )
            arrays = [
                conv_arr,
                tix_arr,
                roles_arr,
                tools_arr,
                pa.array(out_text, pa.string()),
                pa.array(out_nb, pa.int32()),
                pa.array(out_blocks, blocks_type),
                pa.array(out_cells, cells_type),
                words_arr,
                pa.array(out_html, pa.string()),
                pa.array(out_err, pa.string()),
            ]
            if keep_ts:
                arrays.append(rb.column(rb.schema.get_field_index("ts_us")))
            yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    return fn


def extract_transcripts(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    with_words: bool = True,
    keep_ts: bool = False,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction rows.

    Narrow (shuffle-free); schema is the engine's get_meta_annotation analogue
    (/root/reference/deepdoctection/pipe/base.py:118-128): a declared output
    contract per operator.

    ``keep_ts`` threads the event-time column through the Arrow stage as
    int64 micros (restored to timestamp JVM-side) — required by the
    streaming surface, where the watermark column must survive the stage.
    """
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    sel = transcripts.select(*cols) if not keep_ts else transcripts.select(
        *cols, F.unix_micros("ts").alias("ts_us")
    )
    schema = _TS_SCHEMA if keep_ts else EXTRACTION_SCHEMA
    out = sel.mapInArrow(_extract_batches(cfg, with_words, schema), schema=schema)
    if keep_ts:
        out = out.withColumn("ts", F.timestamp_micros("ts_us")).drop("ts_us")
    return out


def block_spans(extracted: DataFrame) -> DataFrame:
    """Flat per-block span table (the reference's Page.chunks export,
    /root/reference/deepdoctection/datapoint/view.py:733-764)."""
    return extracted.select(
        "conv_id", "turn_idx", F.explode("blocks").alias("b")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("b.span_id").alias("span_id"),
        F.col("b.category").alias("category"),
        F.col("b.span_begin").alias("span_begin"),
        F.col("b.span_end").alias("span_end"),
        F.col("b.reading_order").alias("reading_order"),
    )


def cell_spans(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "conv_id", "turn_idx", F.explode("cells").alias("c")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("c.span_id").alias("span_id"),
        F.col("c.span_begin").alias("span_begin"),
        F.col("c.span_end").alias("span_end"),
        F.col("c.row_number").alias("row_number"),
        F.col("c.column_number").alias("column_number"),
        F.col("c.row_span").alias("row_span"),
        F.col("c.column_span").alias("column_span"),
        F.col("c.parent_id").alias("parent_id"),
        F.col("c.cell_text").alias("cell_text"),
    )


def word_tokens(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "conv_id", "turn_idx", F.explode("words").alias("w")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("w.word_idx").alias("word_idx"),
        F.col("w.token").alias("token"),
        F.col("w.span_begin").alias("span_begin"),
        F.col("w.span_end").alias("span_end"),
    )


def word_token_ids(words: DataFrame) -> DataFrame:
    """Attach the deterministic word span_id to flat word_tokens rows —
    md5('{conv}|{turn}|word|{begin}|{end}'), the kernels/ids.span_id
    contract, computed JVM-side as a whole-stage-codegen md5 expression over
    the exploded rows (never per-word Python in the hot Arrow stage)."""
    return words.withColumn(
        "span_id",
        F.md5(
            F.concat_ws(
                "|",
                F.col("conv_id"),
                F.col("turn_idx"),
                F.lit("word"),
                F.col("span_begin"),
                F.col("span_end"),
            )
        ),
    )
