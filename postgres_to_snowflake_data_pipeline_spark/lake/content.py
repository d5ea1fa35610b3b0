"""Per-file CONTENT indexes for manifest-level file skipping.

Third pruning axis next to key ranges and the ts zone map: for columns a
table DECLARES via properties (``index.sets`` — low-cardinality payload
columns; ``index.tokens`` — one text column), every data file's manifest
entry records what values/tokens the file contains, and
``LakeTable.read(eq_prune=..., token_prune=...)`` opens only the files the
index cannot rule out — with the SAME LWW floor-retention rule that keeps
time-window reads sound under merge-on-read (see
``lake/table.py::_plan_scan``).

Index shapes, per file:

- value SET (``index.sets`` columns): the exact distinct values, capped at
  ``SET_CAP`` — a file with more distinct values stores no index and is
  always a candidate (pruning degrades gracefully, never lies).
- token index (``index.tokens`` column): the distinct lowercase
  alphanumeric tokens of the column's text. Small vocabularies
  (≤ ``TOKEN_EXACT_CAP``) store the exact token list; larger ones a fixed
  ``BLOOM_M``-bit Bloom filter (k=``BLOOM_K``, md5-derived positions —
  deterministic across processes and engines); beyond ``TOKEN_CAP``
  distinct tokens no index is stored. False positives only ever OPEN an
  extra file — membership "maybe" is the only claim a Bloom makes.

Scale posture: manifest-level token indexes are for BOUNDED-vocabulary
columns (tool names, tags, event/error codes) where a file's distinct
token count stays far below its row count. Unbounded free text at 100 TB
belongs in file-embedded indexes instead (parquet column Bloom filters —
Spark writer option ``parquet.bloom.filter.enabled#col`` — prune row
groups at scan time); this module's job is to avoid OPENING files at all,
which only a bounded vocabulary makes possible. Over-cap files degrade to
"always a candidate", so a mixed table stays correct either way.

Reference parity: the reference pipeline filters its export by scanning
every CSV it wrote (/root/reference/scripts/export_to_s3.py — layout is
the only index); this module gives the lake table the manifest-side
statistics Iceberg keeps per data file, extended to set/token membership.
"""

from __future__ import annotations

import base64
import hashlib
import re
from typing import Any

#: distinct-value cap for ``index.sets`` columns — above this a file
#: stores no set (always a candidate)
SET_CAP = 64
#: token vocabularies at or below this store the EXACT token list
TOKEN_EXACT_CAP = 256
#: Bloom geometry for mid-size vocabularies (2 KiB bitmap)
BLOOM_M = 16384
BLOOM_K = 4
#: above this many distinct tokens a file stores no token index
TOKEN_CAP = 4096

_TOKEN_RE = re.compile(r"[a-z0-9]+")
#: the Spark/DuckDB split pattern equivalent to ``_TOKEN_RE`` membership:
#: splitting on non-alnum runs yields the same non-empty token set
TOKEN_SPLIT_SQL = "[^a-z0-9]+"


def tokenize(text: str) -> list[str]:
    """Lowercase alphanumeric tokens of one string (the ONE tokenizer —
    index build, residual filters and oracles must all agree on it)."""
    return _TOKEN_RE.findall(text.lower())


def _positions(token: str) -> list[int]:
    """The Bloom bit positions of one token: four 32-bit words of
    md5(token), each mod BLOOM_M. md5 because it is the hash every engine
    in the house shares (CLAUDE.md) and the index must be reproducible
    across driver/executor/DuckDB-side tooling."""
    d = hashlib.md5(token.encode("utf-8")).digest()
    return [
        int.from_bytes(d[i * 4 : (i + 1) * 4], "big") % BLOOM_M
        for i in range(BLOOM_K)
    ]


def build_token_index(tokens: set[str]) -> dict[str, Any] | None:
    """Manifest-ready token index for one file's distinct tokens, or None
    when the vocabulary exceeds ``TOKEN_CAP`` (no index — candidate)."""
    if len(tokens) > TOKEN_CAP:
        return None
    if len(tokens) <= TOKEN_EXACT_CAP:
        return {"s": sorted(tokens)}
    bits = bytearray(BLOOM_M // 8)
    for t in tokens:
        for p in _positions(t):
            bits[p >> 3] |= 1 << (p & 7)
    return {"m": BLOOM_M, "k": BLOOM_K, "b": base64.b64encode(bytes(bits)).decode()}


def token_maybe(idx: dict[str, Any] | None, token: str) -> bool:
    """May this file contain ``token``? Exact for "s" indexes; Bloom
    "maybe" for "b" indexes; True when no index exists (sound default).
    Geometry rides the entry so a future BLOOM_M/BLOOM_K change cannot
    misread old manifests."""
    if idx is None:
        return True
    if "s" in idx:
        return token in idx["s"]
    bits = base64.b64decode(idx["b"])
    m, k = int(idx["m"]), int(idx["k"])
    d = hashlib.md5(token.encode("utf-8")).digest()
    for i in range(k):
        p = int.from_bytes(d[i * 4 : (i + 1) * 4], "big") % m
        if not bits[p >> 3] & (1 << (p & 7)):
            return False
    return True
