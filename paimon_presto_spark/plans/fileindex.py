"""Per-file bloom-filter index — Paimon's ``file-index.bloom-filter.columns``
(public Paimon option surface; the reference connector inherits index-based
file skipping through Paimon core's scan planning, the same hook its
min/max skipping uses, ``PrestoSplitManager.java:46-82``).

Min/max stats skip files only when the predicate column is sorted or
clustered; a point lookup on a high-cardinality UNSORTED column (trace id,
user id, content hash) matches every file's [min, max] and scans the whole
table. A per-file bloom filter answers "definitely not in this file" for
equality probes regardless of layout — at 100 TB that turns a needle
lookup from a full scan into a handful of file reads.

Design:
- ~10 bits/distinct-key, 7 probes → ~1% false-positive rate; the filter is
  per (file, column), built from the file's DISTINCT values at write time
  in the same pass that collects footer stats, and stored inline in the
  manifest entry (base64). At ~1.2 bytes per distinct value it is the same
  order of size as the stats block; Paimon similarly embeds small indexes
  and spills big ones to sidecar files — the spill rung is not needed at
  this manifest's delta-member granularity.
- Hashing is the repo's portable convention (md5-derived, engine/version
  stable — ``functions/hashing.py`` rationale): a filter written months
  ago keeps skipping correctly after any Spark upgrade.
- Only equality-shaped predicates consult the index (=, IN); ranges can't.
  Only types with an unambiguous canonical key are indexed (integers,
  strings, booleans); floats (equality is a smell), dates and binaries
  fall back to stats-only — never wrong, just no skip.
- NULLs are not indexed: IS NULL keeps using the stats null_count.
"""

from __future__ import annotations

import base64
import hashlib
from typing import Any, Iterable, Iterator

BLOOM_K = 7  # probes per key
BITS_PER_KEY = 10  # ~1% fpp at k=7


def bloom_key(v: Any) -> str | None:
    """Canonical cross-path key for a value, or None if the type is not
    indexable. Type-prefixed so ``1`` and ``'1'`` never alias."""
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    return None


def _positions(key: str, m: int) -> Iterator[int]:
    """k bit positions via double hashing over one md5 (Kirsch-Mitzenmacher:
    two independent 64-bit halves compose k functions with one digest)."""
    d = hashlib.md5(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd → full period
    for i in range(BLOOM_K):
        yield (h1 + i * h2) % m


def build_bloom(values: Iterable[Any]) -> dict | None:
    """Bloom descriptor {m, k, b, t} for a column's values, or None when
    nothing indexable (all-null / unindexable type). ``t`` records the
    indexed type's key prefix (parquet columns are uniformly typed, so
    there is exactly one) — probes check it before trusting the filter."""
    keys = {bloom_key(v) for v in values}
    keys.discard(None)
    return build_bloom_from_keys(keys)


def build_bloom_from_keys(keys: Iterable[str]) -> dict | None:
    """``build_bloom`` over pre-canonicalized key strings — for builders
    (the executor-side write pass) that construct the exact ``bloom_key``
    spellings JVM-side so values never round-trip through pandas dtypes
    (a nullable int64 column floatifies, rounding values past 2^53)."""
    keys = set(keys)
    keys.discard(None)
    if not keys:
        return None
    prefixes = {k[:1] for k in keys}
    m = max(64, ((len(keys) * BITS_PER_KEY + 63) // 64) * 64)
    bits = bytearray(m // 8)
    for k in keys:
        for p in _positions(k, m):
            bits[p >> 3] |= 1 << (p & 7)
    out = {"m": m, "k": BLOOM_K, "b": base64.b64encode(bytes(bits)).decode()}
    if len(prefixes) == 1:
        out["t"] = next(iter(prefixes))
    return out


def decode(bloom: dict) -> tuple[bytes, int]:
    """(bitset, m) of a bloom descriptor — decode once, probe many."""
    return base64.b64decode(bloom["b"]), int(bloom["m"])


def probe_key(bloom: dict, v: Any) -> str | None:
    """Canonical key for probing `bloom` with literal `v`, or None when the
    probe is INCONCLUSIVE: the literal is unindexable, or its type differs
    from the column's indexed type. Spark compares under casts (``col = 5``
    on a string column matches the row '5'), so a type-mismatched literal
    probed as ``i:5`` against keys ``s:...`` would report definitely-absent
    and wrong-skip a file whose rows the post-scan filter matches. A
    descriptor without ``t`` (pre-upgrade) is likewise never trusted for a
    literal whose type we cannot confirm matches."""
    key = bloom_key(v)
    if key is None:
        return None
    t = bloom.get("t")
    if t is None or key[:1] != t:
        return None
    return key


def might_contain_decoded(bits: bytes, m: int, key: str | None) -> bool:
    if key is None:
        return True  # inconclusive probe → no conclusion
    return all(bits[p >> 3] & (1 << (p & 7)) for p in _positions(key, m))


def might_contain(bloom: dict, v: Any) -> bool:
    """False only when `v` is DEFINITELY absent from the indexed file."""
    bits, m = decode(bloom)
    return might_contain_decoded(bits, m, probe_key(bloom, v))


def index_columns(options: dict[str, str]) -> list[str]:
    """Parse the ``file-index.bloom-filter.columns`` option."""
    raw = options.get("file-index.bloom-filter.columns", "")
    return [c.strip() for c in raw.split(",") if c.strip()]


def translate_entry_metadata(
    entry: dict, cur_by_id: dict[int, str], writer_fields: list[dict]
) -> tuple[dict, dict]:
    """A manifest entry's (stats, bloom index) re-keyed to CURRENT column
    names through field ids.

    Stats and blooms are stored under the WRITER schema's column names,
    but schema evolution resolves columns by field id: a rename chain
    (a→b then c→a) re-binds a name to different data, so testing metadata
    by name alone can wrongly skip a file (lost rows). Translating via
    ids keeps skipping working for renamed columns and degrades re-bound
    names to no-skip — never wrong-skip. Used by the one scan planner,
    ``tablemeta.TableMeta.plan_entries``, that both front ends share (the
    single place the rename semantics live).
    """
    stats: dict = {}
    idx: dict = {}
    e_stats = entry.get("stats") or {}
    e_idx = entry.get("index") or {}
    for f in writer_fields:
        cur = cur_by_id.get(f["id"])
        if cur is None:
            continue
        if f["name"] in e_stats:
            stats[cur] = e_stats[f["name"]]
        if f["name"] in e_idx:
            idx[cur] = _retag_legacy(e_idx[f["name"]], f.get("type"))
    return stats, idx


#: Declared schema type → bloom_key prefix, for re-tagging descriptors
#: written before the ``t`` tag existed. Parquet columns are uniformly
#: typed, so the writer-schema type determines the one prefix every key in
#: a legacy filter carries.
_TYPE_PREFIX = {
    "tinyint": "i", "smallint": "i", "int": "i", "integer": "i",
    "bigint": "i", "long": "i", "boolean": "b", "string": "s",
}


def _retag_legacy(bloom: dict, declared_type: str | None) -> dict:
    """Derive the ``t`` tag from the writer schema for pre-tag descriptors.

    Without this, every bloom index written before the tag was introduced
    permanently stops skipping files (``probe_key`` treats an untagged
    descriptor as inconclusive) until the data is rewritten — a silent
    perf regression. The writer field's declared type is available at
    planning time and pins the prefix exactly as the tag would; types
    whose keys were never indexable (floats, dates, binaries) stay
    untagged and keep the conservative no-skip behavior. CHAR/VARCHAR
    spellings normalize to the string prefix."""
    if "t" in bloom or declared_type is None:
        return bloom
    base = declared_type.split("(")[0].strip().lower()
    prefix = _TYPE_PREFIX.get(
        base, "s" if base in ("varchar", "char") else None
    )
    if prefix is None:
        return bloom
    out = dict(bloom)
    out["t"] = prefix
    return out
