"""Seeded inputs and their ground truth.

The program's input surface is a ``documents`` parquet table
(doc_id, text, lang, source, n_chars); the package turns it into transcripts
with ``sources.transcripts``. This module writes that table from a seed
(same seed, same bytes) and derives the expected extraction output from the
payload template pieces, the derivation ``plans/oracles.py`` renders as SQL
(``oracle_extract_text``, ``oracle_conversation_text``): blocks of
``EXPECTED_BLOCKS[tool]`` joined by "\\n" per turn, turns joined by "\\n\\n"
in turn_idx order per conversation. The expected side never parses a
payload.
"""

from __future__ import annotations

import hashlib
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from deepdoctection_spark.sources.transcripts import (
    EXPECTED_BLOCKS,
    HTML_PAYLOAD,
    PDFISH_PAYLOAD,
    TURNS_PER_CONV,
)

# Shape of the sf0.1 documents table: 5000 rows, 44-577 chars of words from
# a small vocabulary; no '<', '|', '@' or newline (the payload templates and
# the layout parser rely on that).
N_DOCS = 5000
VOCAB = (
    "a the big small fast slow spark batch part line column order sort value "
    "scan hash group agg filter query key window row table stream merge data "
    "vector customer join"
).split()
LANGS = ["en", "en", "en", "zh", "fr", "es", "de"]
N_SOURCES = 20
TOOL_OF_MOD = {0: "", 1: "browser", 2: "pdf_reader"}
HOT_CONV = "conv-mega"


def write_documents(path: str, seed: int, plain_only: bool = False, n_docs: int = N_DOCS) -> list[dict]:
    """Write the documents table to ``path`` and return its rows.

    The texts, languages and sources are the same for every seed; the seed
    permutes which document id carries which of them, and with it the tool
    each text is rendered for and the partition it lands in.
    ``plain_only`` keeps only doc ids ≡ 0 (mod 3), which
    ``build_transcripts`` renders as plain-text turns.
    """
    fixed = random.Random(0)
    contents = []
    for _ in range(n_docs):
        text = " ".join(fixed.choice(VOCAB) for _ in range(fixed.randint(8, 90)))
        contents.append((text, fixed.choice(LANGS), f"src{fixed.randrange(N_SOURCES)}"))
    random.Random(seed).shuffle(contents)
    step = 3 if plain_only else 1
    rows = [
        {"doc_id": k * step, "text": text, "lang": lang, "source": source, "n_chars": len(text)}
        for k, (text, lang, source) in enumerate(contents)
    ]
    pq.write_table(pa.Table.from_pylist(rows), path)
    return rows


def _render(pieces, doc: dict) -> str:
    vals = {"d": str(doc["doc_id"]), "t": doc["text"], "l": doc["lang"], "s": doc["source"]}
    return "".join(v if kind == "lit" else vals[v] for kind, v in pieces)


def expected_turn(doc: dict) -> tuple[str, int]:
    """(extracted_text, n_blocks) the extraction must produce for ``doc``."""
    blocks = EXPECTED_BLOCKS[TOOL_OF_MOD[doc["doc_id"] % 3]]
    return "\n".join(_render(p, doc) for _cat, p in blocks), len(blocks)


def payload(doc: dict) -> tuple[str, str]:
    """(text, tool) of the turn ``build_transcripts`` synthesizes for ``doc``."""
    tool = TOOL_OF_MOD[doc["doc_id"] % 3]
    if tool == "browser":
        return _render(HTML_PAYLOAD, doc), tool
    if tool == "pdf_reader":
        return _render(PDFISH_PAYLOAD, doc), tool
    return doc["text"], tool


def base_key(doc_id: int) -> tuple[str, int]:
    return f"conv-{doc_id // TURNS_PER_CONV:05d}", doc_id % TURNS_PER_CONV


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def n_words(s: str) -> int:
    return len(s.replace("\n", " ").split())


def expected_turns(docs: list[dict], repl: int) -> dict[tuple[str, int], tuple[str, int, int]]:
    """(conv_id, turn_idx) → (md5 of extracted_text, n_blocks, word count)
    for ``replicated_transcripts(docs, repl)``."""
    out = {}
    for doc in docs:
        text, nb = expected_turn(doc)
        digest, nw = md5(text), n_words(text)
        conv, turn = base_key(doc["doc_id"])
        for r in range(repl):
            out[(f"{conv}-{r}" if repl > 1 else conv, turn)] = (digest, nb, nw)
    return out


def is_hot(conv_id: str, turn_idx: int, seed: int, modulus: int = 10, residues: int = 3) -> bool:
    """Seeded choice of the turns reassigned to the mega-conversation; the
    same crc32 the Spark side evaluates (``F.crc32`` over the same string)."""
    return zlib.crc32(f"{conv_id}#{turn_idx}#{seed}".encode()) % modulus < residues


# Hot turns keep a unique, roughly dense turn_idx inside the
# mega-conversation (rep * HOT_STRIDE + doc_id), the shape the two-phase
# reassembly's turn_idx chunking is built for.
HOT_STRIDE = 16384


def hot_turn_idx(conv_no: int, turn_idx: int, rep: int) -> int:
    return rep * HOT_STRIDE + conv_no * TURNS_PER_CONV + turn_idx


def expected_conversations(docs: list[dict], repl: int, seed: int) -> dict[str, tuple[int, str]]:
    """conv_id → (n_turns, md5 of conv_text) after the hot turns of the
    replicated transcripts move to ``HOT_CONV``."""
    by_conv: dict[str, list[tuple[int, str]]] = {}
    for doc in docs:
        text, _ = expected_turn(doc)
        conv, turn = base_key(doc["doc_id"])
        for r in range(repl):
            c = f"{conv}-{r}"
            if is_hot(c, turn, seed):
                idx = hot_turn_idx(doc["doc_id"] // TURNS_PER_CONV, turn, r)
                by_conv.setdefault(HOT_CONV, []).append((idx, text))
            else:
                by_conv.setdefault(c, []).append((turn, text))
    out = {}
    for conv, turns in by_conv.items():
        turns.sort()
        out[conv] = (len(turns), md5("\n\n".join(t for _, t in turns)))
    return out
