"""Per-member BLOOM FILTER index for point-lookup member skipping.

[min, max] stats prune range-clustered keys but are USELESS for a
high-cardinality unclustered column (a hash-distributed id spans the
whole domain in every member, so every member's interval covers every
probe). Delta solves this with a bloom-filter index stored as SIDECAR
files next to the data (``_delta_index``); Parquet stores blooms in the
file footer. This module does the same: each member directory gets a
hidden ``_bloom.json`` (the leading underscore keeps it invisible to
Spark's file index, like ``_SUCCESS``), holding one blocked bloom per
indexed PHYSICAL column.

Why a sidecar and not the manifest: a bloom is KBs-to-MBs per member —
carrying it in every version's manifest would rewrite index bytes on
every commit. The sidecar is written ONCE per (immutable) member
directory and travels with it through clone/restore/time travel for
free; the manifest stays O(members).

Hashing: position ``i`` is ``pmod(xxhash64(value, i), m)`` — k
INDEPENDENT salted xxhash64 calls rather than Kirsch-Mitzenmacher
``h1 + i*h2`` double hashing, deliberately: the add/multiply form
overflow-wraps 64-bit longs, which the foreign-session ANSI-mode sweep
would turn into a runtime error, while ``pmod`` of a single hash is
overflow-free under both modes. The driver-side probe replays the same
hash through a 1-row Spark job (metadata-plane, O(k) literals), so the
probe and the build can never disagree on hash semantics.

Sizing: m is the next power of two covering ``bits_per_key`` bits per
actually-written row (per member, from a read-back count — ground
truth, like the stats job). The defaults (16 bits/key, k=7) give a
per-member false-positive rate of ~0.2%; Delta's default index is far
looser (10% fpp) because it prunes row groups, not whole files.

Correctness never depends on the index: a member without a sidecar (a
fresh compaction output, an older lineage) is read conservatively, and
a false positive only costs a scan. A missing bit can never be wrong
because members are immutable — the one invariant the whole design
rides on.

Scale: the build is one count job plus one explode/bit_or aggregation
over ONLY the unindexed members (k rows shuffled per input row, output
O(members x m/64) words); at 100 TB this is the classic offline
index-build sweep, embarrassingly parallel and incremental. No
reference counterpart (the reference's Cassandra tables ARE its point
index); lakehouse extension per SURVEY.md §7.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: sidecar file name inside a member directory (underscore = hidden
#: from Spark/Hadoop file listings, same convention as _SUCCESS)
BLOOM_FILE = "_bloom.json"

_U64 = (1 << 64) - 1


def pow2_bits(rows: int, bits_per_key: int) -> int:
    """Next power-of-two bit count covering ``rows * bits_per_key``,
    clamped to [2^10, 2^27] (128 B to 16 MiB of words per column)."""
    want = max(1, rows) * max(1, bits_per_key)
    m = 1 << 10
    while m < want and m < (1 << 27):
        m <<= 1
    return m


def probe_hashes_many(
    spark: SparkSession, values: list, dtype, k: int
) -> list[list[int]]:
    """``[xxhash64(v, 0), ..., xxhash64(v, k-1)]`` for EVERY probe value
    ``v``, computed by the ENGINE itself in ONE job — the only way to
    guarantee the probe's hash matches the build's (same codepath, same
    type coercion). O(1) metadata-plane job, like the constraint probes. A
    point-skip readout that probes a batch of keys (e.g. 16 absent
    probes + 1 present) previously paid one driver-round-trip job per
    key — the job overhead, not the hashing, was ~100 ms each
    (measured r13).

    Values travel as DATA ROWS, not literals: a literal-per-probe
    projection generates fresh codegen source per distinct probe set
    (measured ~0.8-1 s of Janino compile per invocation for 17x7
    literal columns), while a fixed k-column shape over a value column
    is compiled once and cache-hits forever. ``lit(v).cast(dtype)`` and
    ``createDataFrame`` + ``cast(dtype)`` infer the same Spark type
    from the same Python value, so the hashed bytes are identical."""
    if not values:
        # createDataFrame cannot infer a schema from zero rows (r14,
        # ADVICE); zero probes need zero hashes
        return []
    df = spark.createDataFrame(
        [(j, v) for j, v in enumerate(values)], ["idx", "v"]
    )
    rows = df.select(
        "idx",
        *[
            F.xxhash64(F.col("v").cast(dtype), F.lit(i)).alias(f"h{i}")
            for i in range(k)
        ],
    ).collect()
    out: list[list[int]] = [[] for _ in values]
    for r in rows:
        out[r["idx"]] = [r[f"h{i}"] for i in range(k)]
    return out


def positions(hashes: list[int], k: int, m: int) -> list[int]:
    """Bit positions for a probe: Python ``%`` on a signed int64 agrees
    with Spark's ``pmod`` (both non-negative for positive modulus)."""
    return [hashes[i] % m for i in range(k)]


def might_contain(col_doc: dict, hashes: list[int]) -> bool:
    """Driver-side membership test against one member's per-column
    bloom document ``{"m":, "k":, "words": {word_idx: int64}}``."""
    m, k = col_doc["m"], col_doc["k"]
    words = col_doc["words"]
    for pos in positions(hashes, k, m):
        w = words.get(str(pos >> 6))
        if w is None:
            return False
        if not ((w & _U64) >> (pos & 63)) & 1:
            return False
    return True


def load_sidecar(member_full_dir: str) -> dict | None:
    """The member's bloom sidecar, or None (conservative read)."""
    path = os.path.join(member_full_dir, BLOOM_FILE)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None  # torn/corrupt sidecar: index off, read conservative


def write_sidecar(member_full_dir: str, doc: dict) -> None:
    """Atomic-rename write so a reader never sees a torn sidecar."""
    tmp = os.path.join(
        member_full_dir, f".{BLOOM_FILE}.tmp{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, os.path.join(member_full_dir, BLOOM_FILE))


def build_member_blooms(
    spark: SparkSession,
    member_dirs: dict[str, str],
    phys_cols: list[str],
    bits_per_key: int = 16,
    k: int = 7,
    schema=None,
) -> dict[str, dict]:
    """Blooms for several member directories in TWO distributed jobs
    (a per-member count, then one explode/bit_or aggregation), rows
    attributed to members via ``input_file_name`` — the same pattern
    as ``SnapshotStore._members_stats``. ``member_dirs`` maps the
    member id (``cXXXX`` basename) to its absolute directory. Returns
    ``{member_id: {"rows": n, "cols": {phys: {...}}}}``; sidecar
    writing is the caller's job. ``schema`` (a StructType covering the
    indexed physical columns) makes members that physically lack a
    column NULL-backfill instead of failing resolution — a subset-
    schema append still indexes (its bloom is simply empty for that
    column, which is exact: the member holds no values)."""
    if not member_dirs or not phys_cols:
        return {}
    full = list(member_dirs.values())
    member_key = F.regexp_extract(
        F.input_file_name(), r"/(c[0-9a-f]{16})/", 1
    ).alias("_member")
    reader = spark.read if schema is None else spark.read.schema(schema)
    base = reader.parquet(*full)
    counts = {
        r["_member"]: r["n"]
        for r in base.groupBy(member_key).agg(F.count("*").alias("n"))
        .collect()
    }
    sizes = {
        mid: pow2_bits(counts.get(mid, 0), bits_per_key)
        for mid in member_dirs
    }
    # per-member m, shipped as a literal map (members are manifest-sized)
    m_map = F.create_map(
        *[F.lit(x) for kv in sizes.items() for x in kv]
    )
    out: dict[str, dict] = {
        mid: {"rows": counts.get(mid, 0), "cols": {}}
        for mid in member_dirs
    }
    for p in phys_cols:
        pos = F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(p), F.lit(i)),
                        F.element_at(m_map, F.col("_member")),
                    )
                    for i in range(k)
                ]
            )
        ).alias("_pos")
        rows = (
            base.where(F.col(p).isNotNull())
            .select(member_key, F.col(p))
            .select("_member", pos)
            .groupBy(
                "_member",
                F.shiftright(F.col("_pos"), 6).alias("_word"),
            )
            .agg(
                F.bit_or(
                    # SQL form: the python shiftleft() wrapper only
                    # takes an int shift, the SQL function takes a col
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), "
                        "CAST(pmod(_pos, 64) AS INT))"
                    )
                ).alias("_bits")
            )
            .collect()
        )
        words: dict[str, dict[str, int]] = {mid: {} for mid in member_dirs}
        for r in rows:
            words.setdefault(r["_member"], {})[str(r["_word"])] = r["_bits"]
        for mid in member_dirs:
            out[mid]["cols"][p] = {
                "m": sizes[mid],
                "k": k,
                "words": words.get(mid, {}),
            }
    return out
