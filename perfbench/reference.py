"""Expected answers computed apart from the program.

Search: the query vectors are re-derived from the documented stub
encoder (a sha256-seeded standard-normal projection, L2-normalized in
float32; query segments are the first 64 payload bytes plus a 2-byte
segment id, with ``sha256(payload)[0] % max_segments + 1`` segments),
and every mode is scored by brute force in numpy with the documented
score algebra.

Curation: the batch jobs are replayed in DuckDB from the registry's
``oracle_sql()`` over the same parquet, and checked for properties the
method must have.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from corpus import TAG_VOCAB

MIN_CONFIDENCE = 0.1
SCORE_TOL = 1e-6
# ranking keys are rounded to 1e-6; two candidates a rounding step
# apart may legitimately swap when their raw scores straddle a boundary
RANK_TOL = 2e-6


def stub_vector(payload: bytes, dim: int) -> np.ndarray:
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big") % 2**32
    v = np.random.RandomState(seed).standard_normal(dim).astype(np.float32)
    return (v / np.linalg.norm(v)).astype(np.float64)


def stub_segments(payload: bytes, dim: int, max_segments: int) -> np.ndarray:
    n_seg = min(hashlib.sha256(payload).digest()[0] % max_segments + 1, max_segments)
    base = payload[:64]
    return np.stack(
        [stub_vector(base + sid.to_bytes(2, "big"), dim) for sid in range(1, n_seg + 1)]
    )


def round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


class SearchReference:
    """Brute-force scoring over the archive arrays (float64)."""

    def __init__(self, archive):
        self.ids = archive.image_ids
        self.mat = archive.image_mat.astype(np.float64)
        order = np.argsort(archive.seg_image_ids, kind="stable")
        self.seg_ids = archive.seg_image_ids[order]
        self.seg_mat = archive.seg_mat[order].astype(np.float64)
        self.seg_groups = np.unique(self.seg_ids)
        self.tag_names = np.asarray(TAG_VOCAB)[archive.tag_idx]
        self.tag_conf = archive.tag_conf.astype(np.float64)
        self.dim = self.mat.shape[1]

    def allowed(self, tags) -> np.ndarray:
        """Image ids with at least one of ``tags`` at or above the floor."""
        hit = np.isin(self.tag_names, list(tags)) & (self.tag_conf >= MIN_CONFIDENCE)
        return np.sort(self.ids[hit.any(axis=1)])

    def _seg_avg(self, image_ids: np.ndarray, qsegs: np.ndarray) -> dict:
        """Mean over query segments of the per-image max cosine."""
        out = {}
        for g in image_ids.tolist():
            lo = np.searchsorted(self.seg_ids, g, "left")
            hi = np.searchsorted(self.seg_ids, g, "right")
            if hi > lo:
                out[g] = float((self.seg_mat[lo:hi] @ qsegs.T).max(axis=0).mean())
        return out

    def expected(self, req: dict):
        """(rows, key) for a request: ``rows`` maps id -> score tuple for
        every candidate, ``key`` is the ranking key of one id."""
        mode, k = req["mode"], req["top_k"]
        allowed = self.allowed(req["tag_filter"]) if req.get("tag_filter") else None
        if mode == "tags":
            hit = np.isin(self.tag_names, req["tags"]) & (self.tag_conf >= MIN_CONFIDENCE)
            rows = {}
            for r in np.flatnonzero(hit.any(axis=1)).tolist():
                names = set(self.tag_names[r][hit[r]].tolist())
                rows[int(self.ids[r])] = (len(names), float(self.tag_conf[r][hit[r]].max()))
            return rows, lambda i: (-rows[i][0], -rows[i][1], i)
        payload = req["image"]
        if mode in ("whole", "hybrid"):
            q = stub_vector(payload, self.dim)
            ids, scores = self.ids, self.mat @ q + 1.0
            if allowed is not None:
                keep = np.isin(ids, allowed)
                ids, scores = ids[keep], scores[keep]
            if mode == "whole":
                rows = {int(i): (float(s),) for i, s in zip(ids, scores)}
                return rows, lambda i: (-rows[i][0], i)
            pool_n = max(20 * k, 100)
            take = np.lexsort((ids, -scores))[:pool_n]
            qsegs = stub_segments(payload, self.dim, req["max_segments"])
            seg = self._seg_avg(ids[take], qsegs)
            rows = {}
            for i, s in zip(ids[take].tolist(), scores[take].tolist()):
                sv = seg.get(i, 0.0)
                rows[i] = (s, sv, 0.4 * s + 0.6 * sv)
            return rows, lambda i: (-round6(rows[i][2]), i)
        qsegs = stub_segments(payload, self.dim, req["max_segments"])
        groups = self.seg_groups
        if allowed is not None:
            groups = groups[np.isin(groups, allowed)]
        cand = groups[: 3 * k]
        rows = {}
        for g in cand.tolist():
            lo = np.searchsorted(self.seg_ids, g, "left")
            hi = np.searchsorted(self.seg_ids, g, "right")
            m = (self.seg_mat[lo:hi] @ qsegs.T).max(axis=0)
            rows[g] = (float(m.mean()), float(m.max()))
        return rows, lambda i: (-round6(rows[i][0]), i)


SCORE_FIELDS = {
    "whole": ("score",),
    "segment": ("avg_similarity", "max_segment_similarity"),
    "hybrid": ("whole_score", "segment_score", "hybrid_score"),
    "tags": ("matched_tags", "max_confidence"),
}


def check_search(ref: SearchReference, req: dict, resp: dict) -> str | None:
    """None when ``resp`` is the right answer to ``req``, else why not.
    Scores must match the brute force to 1e-6; ids must be the exact
    top-k except where two candidates score within 1e-6 at the cut."""
    mode, k = req["mode"], req["top_k"]
    if resp.get("mode") != mode:
        return f"mode {resp.get('mode')!r} != {mode!r}"
    rows, key = ref.expected(req)
    want = sorted(rows, key=key)[:k]
    got = [r.get("image_id") for r in resp.get("results", [])]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if len(set(got)) != len(got):
        return "duplicate ids"
    fields = SCORE_FIELDS[mode]
    for r in resp["results"]:
        exp = rows.get(r["image_id"])
        if exp is None:
            return f"id {r['image_id']} is not a candidate"
        for f, e in zip(fields, exp):
            if abs(float(r[f]) - e) > SCORE_TOL:
                return f"id {r['image_id']} {f}={r[f]} expected {e}"
    # the ranking keys of returned rows must be those of the expected
    # rows, position by position, to the tolerance
    for j, (g, w) in enumerate(zip(got, want)):
        kg, kw = key(g), key(w)
        if any(abs(a - b) > RANK_TOL for a, b in zip(kg[:-1], kw[:-1])):
            return f"rank {j}: id {g} key {kg} expected id {w} key {kw}"
        if j and kg[:-1] == key(got[j - 1])[:-1] and g < got[j - 1]:
            return f"rank {j}: tie not broken by id"
    return None


# -- curation -------------------------------------------------------------

PII = re.compile(
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    r"|[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"
    r"|[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
)
FP_P = 1_000_000_007
FP_B = 1_000_003


def _tok_hash(tok: str) -> int:
    h = 0
    for ch in tok:
        h = (h * 31 + ord(ch)) % FP_P
    return h


def _chunk_fp(toks) -> int:
    a = 0
    for t in toks:
        a = (a * FP_B + _tok_hash(t)) % FP_P
    return a


def injected_text(doc_id: int, text: str) -> str:
    """The curation job's fixture: the PII appended to each document
    (by ``doc_id % 4``) before the chain runs."""
    r = doc_id % 4
    if r == 0:
        return f"{text} contact user{doc_id}@mail.example.com now"
    if r == 1:
        return f"{text} call +90 555 0199 today"
    if r == 2:
        return f"{text} from 192.168.1.50 addr"
    return text


def fixture_ids(docs) -> set:
    """Document ids after the jobs' dup injection: exact copies of
    ``doc_id % 5 == 0`` at +1,000,000, near copies of ``% 11 == 0`` at
    +2,000,000."""
    return (
        set(docs)
        | {i + 1_000_000 for i in docs if i % 5 == 0}
        | {i + 2_000_000 for i in docs if i % 11 == 0}
    )


def curate_properties(docs: dict, rows) -> str | None:
    """``docs``: input doc_id -> text; ``rows``: (doc_id, split,
    chunk_idx, n_tokens, chunk_fp) of the curation job."""
    input_ids = fixture_ids(docs)
    seen = {}
    for doc_id, split, idx, n_tok, fp in rows:
        if doc_id not in input_ids:
            return f"doc_id {doc_id} is not an input id"
        if not 1 <= n_tok <= 16:
            return f"doc {doc_id} chunk {idx} has {n_tok} tokens"
        if split not in ("train", "val", "test"):
            return f"doc {doc_id} split {split!r}"
        seen.setdefault(doc_id, set()).add((idx, fp))
    # a chunk that still held a PII literal would carry the fingerprint
    # of the unredacted token window
    for doc_id, chunks in seen.items():
        base = doc_id % 1_000_000
        text = docs[base] + (" extra" if doc_id >= 2_000_000 else "")
        toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", injected_text(doc_id, text).lower()) if t]
        for start in range(0, len(toks), 12):
            win = toks[start:start + 16]
            if PII.search(" ".join(win)) and (start // 12, _chunk_fp(win)) in chunks:
                return f"doc {doc_id} chunk {start // 12} kept a PII literal"
    return None


def near_dup_properties(rows, edge_nodes: int, input_ids: set) -> str | None:
    """``rows``: (canonical_id, n_members, max_member_id) per cluster;
    ``edge_nodes``: distinct nodes with a near-dup edge (from DuckDB)."""
    seen = set()
    for cid, n, mx in rows:
        if cid in seen:
            return f"cluster {cid} appears twice"
        seen.add(cid)
        if cid not in input_ids or mx not in input_ids:
            return f"cluster {cid} names an id outside the input"
        # a label is never above any member it was propagated to
        if n < 1 or cid > mx or (n > 1 and cid >= mx):
            return f"cluster {cid}: canonical above a member (max {mx}, {n} members)"
    total = sum(n for _, n, _ in rows)
    if total != edge_nodes:
        return f"{total} clustered nodes, {edge_nodes} nodes have near-dup edges"
    return None


def duckdb_replay(sql: str, docs_parquet: str):
    """Rows of a (possibly multi-statement) oracle query, and the node
    count of the near-dup edge table when the query builds one."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')"
        )
        stmts = [s for s in sql.split(";") if s.strip()]
        for s in stmts[:-1]:
            con.execute(s)
        out = [tuple(r) for r in con.execute(stmts[-1]).fetchall()]
        nodes = None
        if any("__dcc_edges" in s for s in stmts[:-1]):
            nodes = con.execute("SELECT COUNT(DISTINCT src) FROM __dcc_edges").fetchone()[0]
        return out, nodes
    finally:
        con.close()
