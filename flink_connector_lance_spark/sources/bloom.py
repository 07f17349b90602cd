"""Per-fragment bloom filters: point-predicate data skipping.

Zone maps (``fragments.parquet_fragment_stats``) prune fragments on
*range* predicates, but a high-cardinality point lookup (``doc_id =
'...'``, ``id IN (...)``) on a randomly-laid-out table has every
fragment's [min, max] straddling the literal — zone maps keep
everything and the scan reads the whole table. The reference carries no
statistics at all (ref table/LanceCatalog.java:683-704); real Lance
solves point lookups with btree/bitmap *scalar indexes*. This module is
the planning-time analog sized for a manifest-driven planner: one small
bloom filter per (fragment, column), built executor-side at write time,
consulted on the driver before any task is scheduled.

Scale shape (100 TB):
- Build rides the write: the task that encodes a fragment builds its
  blooms from the rows it holds and writes the sidecar beside it
  (``write_bloom_sidecar``) — no extra job, no re-read, no driver data.
- Sidecars (``<fragment>.bloom.json``) live next to the fragment file;
  the manifest records only ``{file, per-column m/k}`` (bytes, not the
  bit array), so the driver-side manifest stays metadata-sized at 10^5
  fragments.
- Consultation is lazy: a sidecar is read only when a pushed
  EqualTo/In filter names a bloom column AND the zone map kept the
  fragment; reads are LRU-cached (fragment files are immutable —
  copy-on-write rewrites get new names, so a cached bloom can never go
  stale).
- Maintenance rewrites (compaction/DELETE/MERGE/clustering) rebuild the
  blooms of the columns the rewritten fragments carried. A fragment
  without a bloom (old versions) simply doesn't prune — conservative,
  never wrong. The pushed filter still runs inside the scan.

Default sizing: 10 bits/row (~1% false-positive rate at k=7), capped at
128 KiB per column per fragment — a 1M-row fragment's bloom saturates
the cap at ~1.05 bits... the cap instead trades fpp for bounded sidecar
size (fpp degrades gracefully; pruning weakens but stays sound).

Hashing is engine-portable and type-canonical (int/bool -> splitmix64,
str -> md5) so the same value hashes identically at write time
(executor, numpy-vectorized for ints) and plan time (driver, scalar).
Floats are refused as bloom columns (equality on floats is already a
data-modeling bug).
"""

from __future__ import annotations

import base64
import hashlib
import json
import math
import os
from functools import lru_cache

BLOOM_SUFFIX = ".bloom.json"
BLOOM_STATS_KEY = "__bloom__"  # FragmentInfo.stats reserved key
DEFAULT_BITS_PER_ROW = 10
MAX_BITS = 8 * 128 * 1024  # 128 KiB per column per fragment

_MASK64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def _hash_pair(value) -> "tuple[int, int] | None":
    """(h1, h2) for one scalar, or None if the type is un-bloomable.

    bool is an int subclass — canonicalized through the int path so
    ``x = true`` and ``x = 1`` agree with the write-side encoding.
    """
    if isinstance(value, bool):
        value = int(value)
    if isinstance(value, int):
        h1 = _splitmix64(value & _MASK64)
        h2 = _splitmix64(h1) | 1
        return h1, h2
    if isinstance(value, str):
        d = hashlib.md5(value.encode("utf-8")).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:16], "little") | 1
        return h1, h2
    return None


def _params(n_rows: int, bits_per_row: int, max_bits: int) -> "tuple[int, int]":
    m = max(64, min(int(max_bits), int(n_rows) * int(bits_per_row)))
    # optimal k = ln2 * m/n, clamped to [1, 16]
    k = max(1, min(16, round(0.6931 * m / max(1, n_rows))))
    return m, k


class BloomFilter:
    """Fixed-size bloom with double hashing: idx_i = (h1 + i*h2) mod m."""

    def __init__(self, m_bits: int, k: int, bits: "bytearray | None" = None):
        self.m = int(m_bits)
        self.k = int(k)
        self.bits = bits if bits is not None else bytearray((self.m + 7) // 8)

    def _set(self, idx: int) -> None:
        self.bits[idx >> 3] |= 1 << (idx & 7)

    def _get(self, idx: int) -> bool:
        return bool(self.bits[idx >> 3] & (1 << (idx & 7)))

    def add(self, value) -> None:
        hp = _hash_pair(value)
        if hp is None:
            return
        h1, h2 = hp
        # & _MASK64 first: the vectorized path wraps at 64 bits, and
        # (h1 + i*h2) mod m only agrees with the wrapped sum when m is a
        # power of two — wrap explicitly so scalar == vectorized for all m
        for i in range(self.k):
            self._set(((h1 + i * h2) & _MASK64) % self.m)

    def add_int_array(self, values) -> None:
        """Vectorized add for an integer numpy array (nulls pre-dropped)."""
        import numpy as np

        x = values.astype(np.uint64, copy=True)
        with np.errstate(over="ignore"):
            x += np.uint64(0x9E3779B97F4A7C15)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h1 = x ^ (x >> np.uint64(31))
            y = h1 + np.uint64(0x9E3779B97F4A7C15)
            y = (y ^ (y >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            y = (y ^ (y >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h2 = (y ^ (y >> np.uint64(31))) | np.uint64(1)
            arr = np.frombuffer(self.bits, dtype=np.uint8).copy()
            for i in range(self.k):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
                np.bitwise_or.at(arr, (idx >> np.uint64(3)).astype(np.int64),
                                 np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)))
        self.bits = bytearray(arr.tobytes())

    def might_contain(self, value) -> bool:
        """False = PROVABLY absent; True = maybe present (or un-bloomable
        value type — conservative)."""
        hp = _hash_pair(value)
        if hp is None:
            return True
        h1, h2 = hp
        return all(
            self._get(((h1 + i * h2) & _MASK64) % self.m) for i in range(self.k)
        )

    def to_json(self) -> dict:
        return {"m": self.m, "k": self.k,
                "b64": base64.b64encode(bytes(self.bits)).decode("ascii")}

    @classmethod
    def from_json(cls, d: dict) -> "BloomFilter":
        return cls(d["m"], d["k"], bytearray(base64.b64decode(d["b64"])))


def _bloomable_arrow_type(t) -> "str | None":
    """'int' | 'str' for supported pyarrow column types, else None."""
    import pyarrow.types as pt

    if pt.is_integer(t) or pt.is_boolean(t):
        return "int"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    return None


def build_bloom_sidecar(fragment_abs_path: str,
                        columns: "list[str]") -> "dict | None":
    """Build blooms for ``columns`` of one local fragment file and write
    the ``<fragment>.bloom.json`` sidecar next to it
    (``write_bloom_sidecar``; the parquet read is column-pruned to
    exactly ``columns``).

    Returns the manifest stats entry ``{"file": <sidecar basename>,
    "cols": {col: {"m": m, "k": k}}}`` or None if no requested column is
    bloomable. Unknown / float / nested columns are skipped silently —
    absence of a bloom only disables pruning.
    """
    import pyarrow.parquet as pq

    from .fs import store_for

    schema = pq.read_schema(fragment_abs_path)
    present = [c for c in columns if c in schema.names
               and _bloomable_arrow_type(schema.field(c).type) is not None]
    if not present:
        return None
    table = pq.read_table(fragment_abs_path, columns=present)
    return write_bloom_sidecar(store_for(fragment_abs_path), fragment_abs_path,
                               table, present)


def build_bloom_payload(
    table,
    columns: "list[str]",
    bits_per_row: int = DEFAULT_BITS_PER_ROW,
    max_bits: int = MAX_BITS,
) -> "tuple[dict, dict] | None":
    """Pure core shared by every sidecar writer: ``(payload, cols)``
    where ``payload`` is the JSON-serializable filter map and ``cols``
    the tiny per-column parameter entry recorded in fragment stats.
    Storage-agnostic: ``write_bloom_sidecar`` writes it from the task
    that encoded the fragment, through the storage seam."""
    present = [c for c in columns if c in table.column_names
               and _bloomable_arrow_type(table.schema.field(c).type) is not None]
    if not present:
        return None
    out_cols: dict[str, dict] = {}
    payload: dict[str, dict] = {}
    for col in present:
        arr = table.column(col).combine_chunks()
        kind = _bloomable_arrow_type(arr.type)
        n = len(arr) - arr.null_count
        m, k = _params(max(1, n), bits_per_row, max_bits)
        bf = BloomFilter(m, k)
        try:
            if kind == "int":
                bf.add_int_array(
                    arr.drop_null().cast("int64").to_numpy(zero_copy_only=False)
                )
            else:
                for v in arr.drop_null().to_pylist():
                    bf.add(v)
        except Exception:
            # e.g. uint64 values past int64 range overflow the cast: a
            # bloom is an optimization — skip the column, never fail the
            # WRITE that asked for it
            continue
        payload[col] = bf.to_json()
        out_cols[col] = {"m": m, "k": k}
    if not payload:
        return None
    return payload, out_cols


def write_bloom_sidecar(store, fragment_key: str, table,
                        columns: "list[str]") -> "dict | None":
    """Build blooms for ``columns`` of ``table`` (the rows of the fragment
    at ``fragment_key``) and write the ``<fragment>.bloom.json`` sidecar
    beside it through the storage seam (sources/fs.py) — executor-side,
    before any manifest names the fragment. Returns the manifest stats
    entry, or None when no requested column is bloomable."""
    built = build_bloom_payload(table, columns)
    if built is None:
        return None
    payload, out_cols = built
    with store.open(fragment_key + BLOOM_SUFFIX, "wb") as fh:
        fh.write(json.dumps(payload).encode())
    return {"file": os.path.basename(fragment_key) + BLOOM_SUFFIX,
            "cols": out_cols}


@lru_cache(maxsize=4096)
def _load_sidecar(key: str, storage_items: "tuple | None") -> "dict | None":
    """Sidecar JSON at ``key`` (an absolute path or s3 url), one store
    ``open`` per sidecar, LRU-cached (fragment files — and therefore their
    sidecars — are immutable: rewrites get new names)."""
    from .fs import store_for

    try:
        with store_for(key, dict(storage_items) if storage_items else None).open(key) as fh:
            return json.load(fh)
    except Exception:
        return None  # missing/corrupt/unreachable sidecar -> no pruning


def fragment_bloom_may_contain(root: str, fragment_file: str, stats: "dict | None",
                               column: str, values,
                               storage_options: "dict | None" = None) -> bool:
    """Driver-side planning test: can ANY of ``values`` be present in
    this fragment's ``column``?  True whenever no bloom applies. The
    sidecar is read through the storage seam with the caller's storage
    options."""
    from .fs import absolute

    if not stats:
        return True
    entry = stats.get(BLOOM_STATS_KEY)
    if not entry or column not in entry.get("cols", {}):
        return True
    key = os.path.join(absolute(root), os.path.dirname(fragment_file), entry["file"])
    payload = _load_sidecar(
        key, tuple(sorted(storage_options.items())) if storage_options else None)
    if not payload or column not in payload:
        return True
    bf = BloomFilter.from_json(payload[column])
    return any(bf.might_contain(v) for v in values)


def parse_bloom_columns(raw: "str | list | tuple | None") -> "list[str]":
    if raw is None:
        return []
    if isinstance(raw, str):
        return [c.strip() for c in raw.split(",") if c.strip()]
    return [str(c) for c in raw]


def estimated_fpp(n_rows: int, bits_per_row: int = DEFAULT_BITS_PER_ROW,
                  max_bits: int = MAX_BITS) -> float:
    """Textbook fpp = (1 - e^{-kn/m})^k for the sizing this module picks."""
    m, k = _params(max(1, n_rows), bits_per_row, max_bits)
    return (1.0 - math.exp(-k * n_rows / m)) ** k
