"""Seeded inputs: the archive corpus, the HTTP request pool and the
curation documents. The same seed always yields the same inputs; the
program only ever sees the parquet files and request bodies made here.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 512

# 50 tags in the reference's three categories (20 architecture,
# 10 nature, 20 objects).
TAG_VOCAB = (
    "mosque minaret dome tower palace church fountain bridge gate wall "
    "arch column stairs window balcony roof street square harbor pier "
    "sea sky tree garden hill cloud water shore park snow "
    "boat ship tram car horse cart lamp sign flag crowd "
    "person child statue bench clock train market shop table umbrella"
).split()

# Word list and distributions of the repository's `documents` test table.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _vec_list(m: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(m, dtype=np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, m.shape[1]).cast(
        pa.list_(pa.float32())
    )


class Archive:
    """The photo archive: images with one embedding each, 1-10 segments
    per image and 5 tags per image, as numpy arrays."""

    def __init__(self, seed: int, n_images: int):
        rng = np.random.default_rng([seed, 1])
        n = int(n_images)
        self.image_ids = rng.permutation(n).astype(np.int64)
        self.image_mat = _unit_rows(rng.standard_normal((n, DIM), np.float32))
        n_seg = rng.integers(1, 11, n)
        owner = np.repeat(np.arange(n), n_seg)
        noise = rng.standard_normal((len(owner), DIM), np.float32)
        self.seg_image_ids = self.image_ids[owner]
        self.seg_mat = _unit_rows(self.image_mat[owner] + noise)
        # skewed tag popularity: a few tags are common, most are rare
        pop = 1.0 / np.arange(1, 51) ** 0.8
        pop /= pop.sum()
        self.tag_idx = np.stack(
            [rng.choice(50, 5, replace=False, p=pop) for _ in range(n)]
        )
        self.tag_conf = rng.uniform(0.02, 0.98, (n, 5)).astype(np.float32)

    def write(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array(self.image_ids),
                    "embedding": _vec_list(self.image_mat),
                }
            ),
            os.path.join(out_dir, "images.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array(self.seg_image_ids),
                    "vec_id": pa.array(
                        np.arange(len(self.seg_image_ids), dtype=np.int64)
                    ),
                    "clip_features": _vec_list(self.seg_mat),
                }
            ),
            os.path.join(out_dir, "segments.parquet"),
        )
        n = len(self.image_ids)
        structs = pa.StructArray.from_arrays(
            [
                pa.array(np.asarray(TAG_VOCAB)[self.tag_idx].ravel()),
                pa.array(self.tag_conf.ravel()),
            ],
            names=["tag", "confidence"],
        )
        offsets = pa.array(np.arange(0, 5 * n + 1, 5, dtype=np.int32))
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array(self.image_ids),
                    "tags": pa.ListArray.from_arrays(offsets, structs),
                }
            ),
            os.path.join(out_dir, "segment_tags.parquet"),
        )


# -- request pool -------------------------------------------------------

# One round of request shapes: (path, mode, tag filter, top_k, JSON
# body). The pool cycles through it, so every run sends the same mix in
# the same order and only the payloads, tags and repeats follow the
# seed: 7 whole, 6 segment, 3 hybrid and 4 tags requests, so whole and
# segment requests hold the median; a quarter of the image requests
# carry a tag filter.
ROUND = (
    ("/search/whole", "whole", False, 10, False),
    ("/search/segment", "segment", False, 10, False),
    ("/search/tags", "tags", False, 10, True),
    ("/api/search", "whole", False, 10, False),
    ("/search/whole", "whole", True, 10, False),
    ("/search/hybrid", "hybrid", False, 10, False),
    ("/search/whole", "whole", False, 20, False),
    ("/api/search", "tags", False, 10, False),
    ("/search/whole", "whole", False, 10, False),
    ("/search/segment", "segment", True, 10, False),
    ("/search/whole", "whole", False, 10, False),
    ("/api/search", "whole", False, 10, False),
    ("/search/segment", "segment", False, 10, False),
    ("/search/hybrid", "hybrid", True, 10, False),
    ("/api/search", "segment", True, 10, False),
    ("/search/tags", "tags", False, 10, False),
    ("/search/segment", "segment", False, 5, False),
    ("/api/search", "hybrid", False, 10, False),
    ("/search/segment", "segment", False, 10, False),
    ("/search/tags", "tags", False, 10, True),
)
# the cold first round: one request of each plan shape (whole, segment
# and hybrid with and without a tag filter, tags), of /api/search and
# of both multipart tags forms, so that no request of the timed phase
# is the first of its shape and every shape is checked in every run
FIRST_ROUND_SLOTS = (0, 4, 1, 9, 5, 13, 2, 3, 7, 15)
REPEAT_SHARE = 0.15


def _multipart(fields: dict, image: bytes, filename: str):
    boundary = uuid.UUID(bytes=image[:16].ljust(16, b"\0")).hex
    parts = []
    for k, v in fields.items():
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{k}"'
            f"\r\n\r\n{v}\r\n".encode()
        )
    parts.append(
        f'--{boundary}\r\nContent-Disposition: form-data; name="image"; '
        f'filename="{filename}"\r\nContent-Type: image/jpeg\r\n\r\n'.encode()
        + image
        + b"\r\n"
    )
    parts.append(f"--{boundary}--\r\n".encode())
    return f"multipart/form-data; boundary={boundary}", b"".join(parts)


def make_request(seed: int, i: int, slot: int | None = None) -> dict:
    """The i-th distinct request of the pool: path, content type, body,
    and the parameters the reference check needs. Its shape is
    ``ROUND[slot]``, by default ``ROUND[i % len(ROUND)]``."""
    rng = np.random.default_rng([seed, 2, i])
    path, mode, filtered, top_k, as_json = ROUND[i % len(ROUND) if slot is None else slot]
    req = {"i": i, "path": path, "mode": mode, "top_k": top_k}
    if mode == "tags":
        tags = [TAG_VOCAB[t] for t in rng.choice(50, rng.integers(1, 4), replace=False)]
        req["tags"] = tags
        if as_json:
            req["ctype"] = "application/json"
            req["body"] = json.dumps({"tags": tags, "top_k": top_k}).encode()
            return req
        fields = {"tags": ",".join(tags), "top_k": top_k}
        if path == "/api/search":
            fields["mode"] = "tags"
        req["ctype"], req["body"] = _multipart(fields, rng.bytes(16), "q.jpg")
        return req
    image = rng.bytes(int(rng.integers(2048, 8192)))
    req["image"] = image
    fields = {"top_k": top_k}
    if path == "/api/search":
        fields["mode"] = mode
    if mode in ("segment", "hybrid"):
        req["max_segments"] = 10
    if filtered:
        tf = [TAG_VOCAB[t] for t in rng.choice(50, rng.integers(1, 3), replace=False)]
        req["tag_filter"] = tf
        fields["tags"] = ",".join(tf)
    req["ctype"], req["body"] = _multipart(fields, image, "query.jpg")
    return req


def request_order(seed: int, n: int):
    """Pool indices for the first ``n`` sends: fresh requests in order,
    with ``REPEAT_SHARE`` of sends repeating one of the last 50 bodies."""
    rng = np.random.default_rng([seed, 3])
    fresh = 0
    out = []
    for _ in range(n):
        if fresh > 0 and rng.random() < REPEAT_SHARE:
            out.append(int(fresh - 1 - rng.integers(0, min(50, fresh))))
        else:
            out.append(fresh)
            fresh += 1
    return out


# -- curation documents --------------------------------------------------


def write_documents(seed: int, n_docs: int, out_dir: str) -> None:
    """The ``documents`` table with the fixture's make-up: 10-100 words
    from a 30-word list, ~5% copies of an earlier document with a
    ``dup`` marker, five languages, sources ``src{doc_id % 20}``."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.asarray(DOC_VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(vocab), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for i, n in enumerate(lengths):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if src.endswith(" dup") else src + " dup")
        else:
            texts.append(" ".join(vocab[words[pos:pos + n]]))
        pos += n
    ids = np.arange(n_docs, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids),
                "text": pa.array(texts),
                "lang": pa.array(
                    np.asarray(DOC_LANGS)[rng.choice(5, n_docs, p=DOC_LANG_P)]
                ),
                "source": pa.array([f"src{i % 20}" for i in ids]),
                "n_chars": pa.array(
                    np.asarray([len(t) for t in texts], dtype=np.int64)
                ),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
