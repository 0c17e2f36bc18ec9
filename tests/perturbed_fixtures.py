"""Whitespace-perturbed copies of a fixture directory.

The generated corpora join words with exactly one space and carry no
blank documents, so a tokenizer that mishandles runs of spaces, edge
spaces or blank text passes on them unnoticed.  These copies keep every
table and every row, and only rewrite ``documents.text``:

* :func:`write_irregular_copy` — 1–3 spaces between words, 0–2 leading
  and 0–2 trailing spaces (every doc has at least one irregular gap
  when it has two words);
* :func:`write_blank_copy` — the irregular copy with
  ``BLANK_EVERY``-th documents blanked, alternating the empty string
  and an all-space string.

Both are deterministic in ``doc_id``.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

BLANK_EVERY = 50  # 10 of the 500 sf0.001 documents


def _irregular(doc_id: int, text: str) -> str:
    r = random.Random(doc_id)
    words = [w for w in text.split(" ") if w]
    gaps = [" " * r.randint(1, 3) for _ in words[1:]]
    if gaps and all(len(g) == 1 for g in gaps):
        gaps[r.randrange(len(gaps))] = "  "
    body = words[0] if words else ""
    for g, w in zip(gaps, words[1:]):
        body += g + w
    return " " * r.randint(0, 2) + body + " " * r.randint(0, 2)


def _blank(doc_id: int, text: str) -> str:
    if doc_id % BLANK_EVERY == 7:
        return "" if (doc_id // BLANK_EVERY) % 2 == 0 else "   "
    return _irregular(doc_id, text)


def _copy_with(src: str, dst: str, rewrite) -> str:
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        if name != "documents.parquet":
            s = os.path.join(src, name)
            (shutil.copytree if os.path.isdir(s) else shutil.copy2)(
                s, os.path.join(dst, name))
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    new = pa.array([rewrite(i, x) for i, x in zip(ids, texts)], pa.string())
    t = t.set_column(t.schema.get_field_index("text"), "text", new)
    pq.write_table(t, os.path.join(dst, "documents.parquet"))
    return dst


def write_irregular_copy(src: str, dst: str) -> str:
    """``src`` with irregular spacing in every document; returns dst."""
    return _copy_with(src, dst, _irregular)


def write_blank_copy(src: str, dst: str) -> str:
    """The irregular copy with every ``BLANK_EVERY``-th doc blank."""
    return _copy_with(src, dst, _blank)
