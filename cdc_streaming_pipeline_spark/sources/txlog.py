"""Transaction-log table format: ACID snapshot reads over parquet.

The reference lands CDC output as bare parquet directories (reference:
the Hive external-table DDL in airflow/dags/cdc_pipeline_dag.py); bare
directories give readers no consistency point — a reader that lists
files while a writer lands sees half a commit. This module adds the
minimal log-structured protocol that fixes it (the core idea of Delta
Lake / Iceberg, reduced to what the engine needs):

- ``<path>/_txlog/<8-digit version>.json`` — ONE file per committed
  version, published atomically WITH its content (tmp write +
  ``os.link`` create-if-absent; a pluggable backend slots in an object
  store's conditional put). The entry lists the data files the commit
  ADDS and logically
  REMOVES. Data files are immutable once written and never physically
  deleted by commits — removal is a log fact.
- Readers resolve a snapshot = replay adds/removes up to a pinned
  version. Snapshot isolation costs nothing: the resolved file list
  keeps reading that exact state while writers commit past it, and
  TIME TRAVEL is just pinning an older version.
- Writers stage parquet under ``<path>/data/`` first, then attempt the
  log create. On collision (a concurrent commit won the version): an
  ``append`` re-resolves and retries with the SAME staged files —
  blind appends never conflict logically; an ``overwrite`` aborts with
  ``ConcurrentWriteError`` because its read-set (the snapshot it
  replaces) changed — the Delta conflict matrix's two essential rows.
- ``compact()`` rewrites the current snapshot into one staged dir and
  commits it as remove-all+add — a logical no-op that fixes the
  small-files problem while EVERY prior version stays readable.

Scale notes: the log is one tiny JSON per commit (not per file); the
replay cost is O(commits), independent of data size; reads hand Spark
an explicit immutable file list, so partition pruning and pushdown work
unchanged. At real scale the missing pieces are checkpoint compaction
of the log itself and object-store putIfAbsent — both orthogonal to
the protocol demonstrated here.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as _dt
import json
import math
import os
import re
import uuid
from collections import Counter
from decimal import Decimal, InvalidOperation
from glob import glob

from pyspark.sql import DataFrame, SparkSession


class ConcurrentWriteError(RuntimeError):
    """A commit lost the version race and may not retry (its read set
    changed, or it reads the whole table), or it ran out of retries."""


#: attempts a retrying commit makes before it gives up. One bound for
#: every kind, the highest any kind used before, so no kind gives up
#: sooner; a retry re-resolves only the interleaved log suffix and
#: re-checks the read set, it never re-stages data.
COMMIT_RETRIES = 20


class LayoutMismatchError(ValueError):
    """An explicit constructor argument contradicts the layout the
    table's log records. ``field`` names the mismatched property so
    callers can scope recovery to exactly one kind of mismatch instead
    of string-matching the message, which a reworded error would break."""

    def __init__(self, message: str, field: str):
        super().__init__(message)
        self.field = field


def posix_put_if_absent(entry_path: str, payload: str) -> bool:
    """Default commit backend: atomic create-if-absent WITH full content.

    The payload is written to a sibling tmp file first, then
    ``os.link`` publishes it under the final name — link(2) fails with
    EEXIST if the name is taken (losing the race) and otherwise makes
    the fully-written content appear atomically. Writing through
    ``O_CREAT|O_EXCL`` and dumping JSON afterwards would make the
    CREATE the commit point but not the content: a crash (or a
    concurrent reader) between open and dump leaves/observes a
    zero-byte "committed" version that bricks every subsequent replay.
    """
    tmp = f"{entry_path}.{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, entry_path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


class SQLiteCommitBackend:
    """Concrete NON-POSIX commit backend: the atomic putIfAbsent decision
    is a PRIMARY KEY insert into a SQLite database — the same
    conditional-put primitive an object-store deployment injects (S3
    ``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0``, ABFS
    ETag create), standing in for it so the protocol's
    backend-independence is PROVEN by running the whole conflict/merge
    suite over a second implementation, not assumed from the interface.

    The database owns the decision and stores the payload; the log file
    on the filesystem is a read-side materialization written AFTER
    ownership is decided (this engine's readers resolve entries via the
    filesystem; a real object store serves reads from the same store
    that took the put, so this mirror step doesn't exist there). Crash
    between the insert and the materialization: the next writer that
    LOSES to that path re-materializes it from the stored payload before
    reporting the loss (``heal`` does the same for all rows), so a
    decided commit is never invisible to the writer protocol. Multiple
    processes are safe: SQLite serializes the insert; the file write is
    single-owner by construction (only the winner or a healer writes it,
    both from the same stored payload, via atomic replace)."""

    def __init__(self, db_path: str):
        self.db_path = db_path
        con = self._connect()
        try:
            with con:
                con.execute(
                    "CREATE TABLE IF NOT EXISTS commits("
                    "path TEXT PRIMARY KEY, payload TEXT NOT NULL)"
                )
        finally:
            con.close()  # sqlite3's context manager commits, never closes

    def _connect(self):
        import sqlite3

        return sqlite3.connect(self.db_path, timeout=30)

    @staticmethod
    def _materialize(entry_path: str, payload: str) -> None:
        tmp = f"{entry_path}.{uuid.uuid4().hex[:12]}.tmp"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, entry_path)

    def __call__(self, entry_path: str, payload: str) -> bool:
        import sqlite3

        con = self._connect()
        try:
            try:
                con.execute(
                    "INSERT INTO commits(path, payload) VALUES (?, ?)",
                    (entry_path, payload),
                )
                # COMMIT the row BEFORE materializing the file: the DB
                # row is the durable commit point. The reverse ordering
                # (materialize inside the open transaction) has a real
                # crash window — file visible, row rolled back at close —
                # where readers treat the version as committed while a
                # later writer's INSERT for the same path SUCCEEDS and
                # overwrites the visible entry with different content:
                # two winners for one version, a "committed" entry that
                # mutates. Committing first leaves only the benign
                # row-without-file window, which the loser-side heal
                # below and heal() close from the stored payload.
                con.commit()
                won = True
            except sqlite3.IntegrityError:
                con.rollback()
                won = False
            if won:
                self._materialize(entry_path, payload)
                return True
            if not os.path.exists(entry_path):
                # the winner may have crashed pre-materialization: heal
                # this path from the stored payload before reporting the
                # loss, so the caller's re-resolution sees the commit
                row = con.execute(
                    "SELECT payload FROM commits WHERE path = ?", (entry_path,)
                ).fetchone()
                if row is not None:
                    self._materialize(entry_path, row[0])
            return False
        finally:
            con.close()

    def heal(self) -> int:
        """Re-materialize every decided commit whose file is missing
        (crash recovery / read-replica bootstrap). Returns the count."""
        n = 0
        con = self._connect()
        try:
            for path, payload in con.execute("SELECT path, payload FROM commits"):
                if not os.path.exists(path):
                    self._materialize(path, payload)
                    n += 1
        finally:
            con.close()
        return n


#: cap on recorded string min/max lengths (Delta's stats truncation):
#: longer strings are stored as a ``STATS_TRUNC``-char prefix for MIN (a
#: valid lower bound — a prefix never exceeds the original) and the same
#: prefix with its last incrementable character bumped for MAX (greater
#: than every string sharing the prefix, so a valid upper bound) — a
#: text ``stats_col`` costs each log entry at most 2×32 chars per file
#: instead of two full documents.
STATS_TRUNC = 32

#: dictionary values longer than this are never recorded: a DICT_CAP-
#: sized set of long documents would bloat entries the same way
#: untruncated min/max would, and equality sets — unlike ranges — can't
#: be truncated soundly, so the (file, column) pair simply falls back to
#: [min, max] pruning.
DICT_VALUE_CAP = 64

_EPOCH_DT = _dt.datetime(1970, 1, 1)
_EPOCH_D = _dt.date(1970, 1, 1)


def _inc_last_char(s: str) -> str | None:
    """The smallest convenient string > every string prefixed by ``s``:
    bump the last incrementable character, dropping any trailing
    U+10FFFF run (Delta's truncated-upper-bound construction). None when
    no character can be bumped — callers store a null max and readers
    fall back to 'must read'."""
    for i in range(len(s) - 1, -1, -1):
        cp = ord(s[i])
        if cp < 0x10FFFF:
            return s[:i] + chr(cp + 1)
    return None


def _uri_to_path(p: str) -> str:
    """Decode a Spark-reported file URI (``input_file_name`` /
    ``_metadata.file_path`` percent-encode reserved characters) to the
    plain filesystem path log entries record. Idempotent on paths."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(p).path) if "://" in p or p.startswith("file:") else p


def _stat_norm(v, side: str):
    """Normalize ONE skipping statistic or probe bound to a JSON-
    primitive, ORDER-PRESERVING encoding — the shared write/read
    contract that makes pruning comparisons typed instead of accidental
    (``str(Decimal)`` stats would make numeric probes raise TypeError
    and string probes prune LEXICOGRAPHICALLY WRONG on the schema's
    canonical money type).

    - int / float / bool / str / None pass through;
    - Decimal → float, rounded OUTWARD by ``side`` ("min" down, "max"
      up) so an inexact conversion can only WIDEN the recorded range or
      probe interval — pruning stays conservative and the residual
      filter keeps results exact;
    - datetime → epoch MICROS as exact int arithmetic (float seconds ×
      1e6 loses sub-microsecond precision past ~2255); tz-aware values
      convert to UTC, naive ones are taken as written — order-preserving
      per column because Spark returns one kind per column;
    - date → midnight epoch micros, the SAME comparable domain, so a
      date probe against timestamp stats prunes on the boundary Spark's
      own date→timestamp cast uses in the residual filter;
    - anything else falls back to ``str`` (exotic types keep the legacy
      behavior; the read side REFUSES to compare those against numeric
      probes instead of comparing raw).
    """
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, Decimal):
        f = float(v)
        if math.isinf(f) or math.isnan(f):
            return f  # ±inf already wider than any finite bound
        if side == "min" and Decimal(f) > v:
            f = math.nextafter(f, -math.inf)
        elif side == "max" and Decimal(f) < v:
            f = math.nextafter(f, math.inf)
        return f
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH_DT
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, _dt.date):
        return (v - _EPOCH_D).days * 86_400_000_000
    return str(v)


def _stat_store(v, side: str):
    """Write-side statistic: ``_stat_norm`` plus string truncation.
    Probe bounds must NOT come through here — truncating a user's probe
    would silently change its meaning; truncating a STORED bound only
    widens the file's recorded range, which is always safe."""
    v = _stat_norm(v, side)
    if isinstance(v, str) and len(v) > STATS_TRUNC:
        return v[:STATS_TRUNC] if side == "min" else _inc_last_char(v[:STATS_TRUNC])
    return v


def _dict_norm(v):
    """Dictionary-value normalization: the same comparable domain as
    ``_stat_norm`` WITHOUT outward rounding — set membership needs one
    deterministic image on both sides, not a widened one (float(Decimal)
    is deterministic, and equal decimals map to the same float, so a
    probe can never falsely MISS; a collision only keeps an extra file,
    which the residual filter absorbs)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return _stat_norm(v, "min")  # exact integer encodings
    return str(v)


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _coerce_probe(p, stat, col: str, side: str):
    """Coerce a (pre-normalized) probe bound for comparison against one
    file's recorded statistic, enforcing one type discipline:
    numeric-looking STRING probes against numeric stats
    coerce through the same outward-rounded Decimal path (so
    ``('amount', '20.00', '300.00')`` works on a DECIMAL column instead
    of silently pruning wrong), while a NUMERIC probe against string
    stats — a legacy stringified-Decimal entry, or a genuinely mistyped
    probe — raises instead of comparing lexicographically."""
    if p is None or stat is None:
        return p
    if _is_num(stat) and isinstance(p, str):
        try:
            return _stat_norm(Decimal(p), side)
        except InvalidOperation:
            raise TypeError(
                f"probe bound {p!r} for column {col!r} is a non-numeric string "
                "but the recorded stats are numeric — pass a numeric bound"
            ) from None
    if _is_num(p) and isinstance(stat, str):
        raise TypeError(
            f"stats for column {col!r} were recorded as strings (a legacy "
            "entry written before DECIMAL/TIMESTAMP stats typing, or a "
            f"genuinely string-typed column) but probe bound {p!r} is "
            "numeric — comparing them would prune lexicographically; "
            "rewrite the stats (compact) or pass a matching bound"
        )
    return p


def _range_pruned(st, lo, hi, col: str) -> bool:
    """True iff a file's recorded [min, max] PROVABLY misses [lo, hi].
    ``lo``/``hi`` must already be ``_stat_norm``-alized; ``None`` means
    unbounded on that side. Per-file coercion handles numeric-string
    probes and refuses mixed-type comparisons (comparing raw would
    prune lexicographically, silently wrong)."""
    mn, mx = st[0], st[1]
    if lo is not None and mx is not None:
        if mx < _coerce_probe(lo, mx, col, "min"):
            return True
    if hi is not None and mn is not None:
        if mn > _coerce_probe(hi, mn, col, "max"):
            return True
    return False


def _dict_pruned(dvals, values, col: str) -> bool:
    """True iff the file's recorded value dictionary PROVABLY misses all
    (pre-``_dict_norm``-alized) probe values — with the same type
    discipline as ranges: string probes coerce against a numeric
    dictionary, numeric probes against a string dictionary raise."""
    dset = set(dvals)
    has_num = any(_is_num(d) for d in dset)
    has_str = any(isinstance(d, str) for d in dset)
    probe = set()
    for p in values:
        if isinstance(p, str) and has_num and not has_str:
            try:
                probe.add(float(Decimal(p)))
                continue
            except InvalidOperation:
                raise TypeError(
                    f"probe value {p!r} for column {col!r} is a non-numeric "
                    "string but the recorded dictionary is numeric"
                ) from None
        if _is_num(p) and has_str and not has_num:
            raise TypeError(
                f"dictionary for column {col!r} was recorded as strings but "
                f"probe value {p!r} is numeric — pass a matching value"
            )
        probe.add(p)
    return not (probe & dset)


def _no_values(nu) -> bool:
    """True iff the file's null facts ``[null_count, row_count]`` prove
    it holds NO non-null value for the column (all-null, or zero rows) —
    exactly the files whose min/max are null, which the pre-null-facts
    read path had to treat as 'unknown, must read'."""
    return nu is not None and nu[0] == nu[1]


# --------------------------------------------------- bloom sidecars --
#: per-(file, column) Bloom filter size in BITS. 2^17 bits = a 16 KiB
#: sidecar; with BLOOM_K=5 hashes the false-positive rate at the
#: distinct-count gate (m/8 values) is ~2%, and far below for smaller
#: files. Tables with bigger files should raise it (the sizing rule:
#: ~10 bits per expected distinct value); it is a WRITE policy per
#: handle — the 'm' each sidecar was built with rides in its log fact.
BLOOM_BITS = 1 << 17
#: number of hash probes per value (k). Each is one chained JVM
#: xxhash64 eval at write time and one pure-Python XXH64 at probe time.
BLOOM_K = 5

#: column types a Bloom filter is built/probed on: byte width Spark's
#: XxHash64 hashes the value with (byte/short/int all hash as 4-byte
#: ints), plus the type's own value domain for the provably-absent
#: probe shortcut. Doubles/decimals/timestamps are excluded — their
#: probe-side canonicalization is not bit-stable across languages, and
#: point lookups on them are not a real workload; ranges cover them.
_BLOOM_INT_TYPES = {
    "tinyint": (4, -(1 << 7), (1 << 7) - 1),
    "smallint": (4, -(1 << 15), (1 << 15) - 1),
    "int": (4, -(1 << 31), (1 << 31) - 1),
    "bigint": (8, -(1 << 63), (1 << 63) - 1),
}

#: loaded sidecar bitmaps, keyed by path — sidecars are immutable once
#: written (never rewritten, only vacuumed), so a plain capped dict is
#: a sound cache. Bounds driver memory at ~cap × (BLOOM_BITS/8).
_BLOOM_CACHE: dict[str, bytes] = {}
_BLOOM_CACHE_CAP = 512


def _bloom_bits(path: str, blob=None) -> bytes | None:
    """Load (and cache) one sidecar bitmap; None when unreadable —
    callers then keep the file (conservative, e.g. a shallow clone
    whose source was vacuumed out from under it still errors on DATA,
    not silently on metadata)."""
    from cdc_streaming_pipeline_spark.blob import DEFAULT_BLOB

    bits = _BLOOM_CACHE.get(path)
    if bits is not None:
        return bits
    try:
        bits = (blob or DEFAULT_BLOB).get(path)
    except OSError:
        return None
    if len(_BLOOM_CACHE) >= _BLOOM_CACHE_CAP:
        _BLOOM_CACHE.pop(next(iter(_BLOOM_CACHE)))
    _BLOOM_CACHE[path] = bits
    return bits


def _bloom_positions(v, width: int, m: int, k: int) -> list[int]:
    """The k bit positions of one typed value — MUST match the write
    job's JVM expression bit-for-bit: position_i = pmod(xxhash64(value,
    i), m), with the probe index chained as a 4-byte int literal.
    Python's ``%`` on the signed hash equals Spark's ``pmod``."""
    from cdc_streaming_pipeline_spark.functions.hashing import spark_xxhash64

    typed = (("long", v) if width == 8 else ("int", v)) if isinstance(v, int) else v
    return [spark_xxhash64(typed, i) % m for i in range(k)]


def _bloom_pruned(meta: dict, values: list, blob=None) -> bool:
    """True iff the sidecar PROVES every probe value absent from the
    file. Any value the bloom cannot speak about — an incompatible
    probe type, an unreadable sidecar — keeps the file (returns False);
    a value outside the column type's own domain (a bigint probe
    against an int column) is provably absent without hashing. Values
    arrive ``_dict_norm``-alized, so integral floats (including
    Decimal probes) test as their integer image — the same value
    Spark's implicit cast would match in the residual filter."""
    dtype = meta.get("dtype")
    m, k = meta["m"], meta["k"]
    bits = None
    for v in values:
        if v is None:
            continue  # IN never matches null: contributes no membership
        if dtype == "string":
            if not isinstance(v, str):
                return False  # incomparable probe: cannot prove absence
            probe = v
        elif dtype in _BLOOM_INT_TYPES:
            width, lo, hi = _BLOOM_INT_TYPES[dtype]
            if isinstance(v, bool):
                return False
            if isinstance(v, float):
                if not v.is_integer():
                    continue  # a non-integral probe can't equal any int
                if abs(v) >= 2.0**53:
                    # Spark's residual compares int columns to a float
                    # probe under DOUBLE equality, where several distinct
                    # bigints collapse onto one probe (9007199254740993
                    # == 9007199254740992.0 as doubles); hashing the one
                    # truncated image could prune a file whose NEIGHBOR
                    # bigint would match the residual — keep the file
                    return False
                v = int(v)
            if not isinstance(v, int):
                return False
            if not (lo <= v <= hi):
                continue  # outside the column type's domain: absent
            probe = v
        else:
            return False  # unknown dtype fact: never prune on it
        if bits is None:
            bits = _bloom_bits(meta["path"], blob)
            if bits is None or len(bits) * 8 < m:
                return False  # missing/short sidecar: must read
        width = _BLOOM_INT_TYPES[dtype][0] if dtype != "string" else 0
        if all(bits[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(probe, width, m, k)):
            return False  # may contain this value: keep the file
    return True


# --------------------------------------------- deletion vectors --
# Merge-on-read DELETE (Delta deletion vectors / Iceberg positional
# deletes): a delete commit writes, per touched data file, a sidecar of
# the file's deleted ROW INDICES — one metadata commit, zero data bytes
# rewritten. Readers anti-join (file, row_index) pairs; every rewrite
# path (merge / compact / rebucket / migrate) reads DV-applied rows, so
# replacement files are born clean and simply drop the fact. All other
# skipping facts remain SOUND under DVs because a DV only ever shrinks
# a file's row set and stats/dicts/blooms/null-counts are upper bounds.

#: DV sidecar format: little-endian uint64 row indices, sorted, unique.
_DV_MAGIC = b"DV01"


def _dv_write(path: str, positions: list[int], blob=None) -> None:
    from cdc_streaming_pipeline_spark.blob import DEFAULT_BLOB

    buf = bytearray(_DV_MAGIC)
    for p in sorted(set(positions)):
        buf += int(p).to_bytes(8, "little")
    (blob or DEFAULT_BLOB).put(path, bytes(buf))


def _dv_load(path: str, blob=None) -> list[int]:
    """Unlike a bloom sidecar, a DV is CORRECTNESS-critical: reading a
    file while ignoring its DV returns deleted rows, so an unreadable
    sidecar raises instead of degrading."""
    from cdc_streaming_pipeline_spark.blob import DEFAULT_BLOB

    raw = (blob or DEFAULT_BLOB).get(path)
    if raw[:4] != _DV_MAGIC:
        raise ValueError(f"corrupt deletion vector at {path}")
    body = raw[4:]
    return [
        int.from_bytes(body[i : i + 8], "little") for i in range(0, len(body), 8)
    ]


def _dv_stage_executor_side(
    matched: DataFrame, prior: dict[str, str], dv_dir: str, blob=None
) -> list:
    """Write per-file DV sidecars EXECUTOR-side — the 100 TB delete
    path: ``matched`` is a DataFrame of (_dv_fp, _dv_ri) pairs for the
    rows a delete/update marks; grouping by file sends each file's
    positions to ONE task, which loads that file's PRIOR cumulative
    vector (``prior``: {file: dv_path}, file-level metadata only),
    subtracts already-deleted positions, composes and writes the new
    cumulative ``.dv`` and this-commit ``.dva`` sidecars, and returns a
    single file-level metadata row. The driver never materializes a
    position list — its working set is one row per touched file, so a
    compliance-erasure over a wide predicate (millions–billions of
    positions) scales with executor count instead of funnelling every
    position through one process.

    Per-task memory is bounded by one file's deleted positions (≤ the
    file's row count — the same bound as reading the file). Returns
    [(file, cum_path, n_cum, add_path, n_add)] rows, EXCLUDING files
    where every matched position was already deleted (idempotent
    re-deletes commit nothing)."""

    def write_group(key, pdf):
        import pandas as pd

        f = key[0]
        newpos = {int(p) for p in pdf["_dv_ri"]}
        oldpos = set(_dv_load(prior[f], blob)) if f in prior else set()
        added = sorted(newpos - oldpos)
        if not added:
            return pd.DataFrame(
                {"file": [], "cum_path": [], "n_cum": [], "add_path": [], "n_add": []}
            )
        cum = sorted(oldpos | newpos)
        cpath = os.path.join(dv_dir, f"{uuid.uuid4().hex}.dv")
        _dv_write(cpath, cum, blob)
        apath = os.path.join(dv_dir, f"{uuid.uuid4().hex}.dva")
        _dv_write(apath, added, blob)
        return pd.DataFrame(
            {
                "file": [f],
                "cum_path": [cpath],
                "n_cum": [len(cum)],
                "add_path": [apath],
                "n_add": [len(added)],
            }
        )

    return (
        matched.groupBy("_dv_fp")
        .applyInPandas(
            write_group,
            "file string, cum_path string, n_cum long, add_path string, n_add long",
        )
        .collect()  # ONE row per touched file — file-level metadata only
    )


def _dv_facts(rows: list) -> dict:
    """The entry fields of the vectors ``_dv_stage`` wrote: each file's
    cumulative vector (``file_dvs``) and this commit's own positions
    (``dv_added``)."""
    return {
        "file_dvs": {r["file"]: {"path": r["cum_path"], "n": r["n_cum"]} for r in rows},
        "dv_added": {r["file"]: {"path": r["add_path"], "n": r["n_add"]} for r in rows},
    }


def _dv_stage(
    matched: DataFrame,
    prior: dict[str, str],
    dv_dir: str,
    blob=None,
    prior_n: dict[str, int] | None = None,
    small_hint: bool = True,
    head: list | None = None,
) -> list:
    """Threshold-gated DV staging — the WRITE-side twin of
    ``_dv_relation``'s read gate: when the commit's position volume is
    provably small (``small_hint`` callers hold ``matched`` cached, the
    capped collect finds ≤ ``DV_BROADCAST_MAX_POSITIONS`` pairs, and
    the touched PRIOR vectors' recorded sizes sum under the same cap —
    a metadata-only check), sidecars are composed DRIVER-side: a
    trickle merge's worth of longs plus a handful of tiny sidecar
    reads, skipping the applyInPandas round trip whose fixed
    Python-worker job cost (~2.5 s for a 2M-row table on local[32])
    dominated the MoR MERGE wall. Anything
    wider — or any caller that does not hold the pairs cached
    (``small_hint=False``, the compliance-erasure delete) — takes the
    executor-side path unchanged, so the driver never materializes an
    unbounded position list. ``head`` is ``matched``'s pairs when the
    caller already collected them under the cap (the MoR merge's fold
    decision), saving the collect. Same return contract as
    ``_dv_stage_executor_side``."""
    cap = DV_BROADCAST_MAX_POSITIONS
    if small_hint and sum((prior_n or {}).values()) <= cap:
        if head is None:
            head = matched.select("_dv_fp", "_dv_ri").limit(cap + 1).collect()
        if len(head) <= cap:
            by_file: dict[str, set] = {}
            for r in head:
                by_file.setdefault(r["_dv_fp"], set()).add(int(r["_dv_ri"]))
            out = []
            for f in sorted(by_file):
                newpos = by_file[f]
                oldpos = set(_dv_load(prior[f], blob)) if f in prior else set()
                added = sorted(newpos - oldpos)
                if not added:
                    continue  # idempotent re-delete: nothing to commit
                cum = sorted(oldpos | newpos)
                cpath = os.path.join(dv_dir, f"{uuid.uuid4().hex}.dv")
                _dv_write(cpath, cum, blob)
                apath = os.path.join(dv_dir, f"{uuid.uuid4().hex}.dva")
                _dv_write(apath, added, blob)
                out.append(
                    {
                        "file": f,
                        "cum_path": cpath,
                        "n_cum": len(cum),
                        "add_path": apath,
                        "n_add": len(added),
                    }
                )
            return out
    return _dv_stage_executor_side(matched, prior, dv_dir, blob)


def _dv_pairs_df(spark, dv_paths: dict[str, str]) -> DataFrame | None:
    """The (file, row_index) pairs of prior deletion vectors as a
    DISTRIBUTED DataFrame: read the sidecars with the binaryFile source
    and expand them executor-side — the anti-join relation for paths
    that must exclude already-deleted rows WITHOUT funneling positions
    through the driver (update_where's postimage guard). ``dv_paths``
    maps data file → sidecar path (file-level, tiny)."""
    if not dv_paths:
        return None
    by_sidecar = {m: f for f, m in dv_paths.items()}

    def expand(batches):
        import pandas as pd

        for pdf in batches:
            for spath, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if raw[:4] != _DV_MAGIC:
                    raise ValueError(f"corrupt deletion vector at {spath}")
                body = raw[4:]
                ris = [
                    int.from_bytes(body[i : i + 8], "little")
                    for i in range(0, len(body), 8)
                ]
                yield pd.DataFrame(
                    {
                        "_dv_fp": [by_sidecar[_uri_to_path(spath)]] * len(ris),
                        "_dv_ri": pd.array(ris, dtype="int64"),
                    }
                )

    raw = spark.read.format("binaryFile").load(sorted(by_sidecar))
    return raw.select("path", "content").mapInPandas(
        expand, "_dv_fp string, _dv_ri long"
    )


def _fp_key_col():
    """Normalize ``_metadata.file_path`` (a ``file:`` URI with
    percent-encoding — a path containing a space arrives as ``%20``)
    to the DECODED plain-path form log entries record, as a JVM
    expression — the DV anti-join key. Matches ``norm()`` in the stats
    job; without the decode step a table under a path with any
    URI-reserved character would silently MISS its vectors and return
    deleted rows (pinned in tests/test_txlog_deletion_vectors.py)."""
    from pyspark.sql import functions as F

    stripped = F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    # try_url_decode implements application/x-www-form-urlencoded
    # decoding, where a literal '+' means SPACE — but Spark percent-
    # encodes PATHS, leaving '+' as itself, and the Python twin
    # (urllib.unquote in _uri_to_path) preserves '+' too. Escape '+' to
    # '%2B' first so it round-trips: without this, a table under a path
    # containing '+' records DV keys in space-form and resolve-side
    # lookups silently miss every vector (deleted rows reappear).
    esc = F.regexp_replace(stripped, r"\+", "%2B")
    # try_url_decode: a literal '%' not forming a valid escape decodes
    # to NULL — fall back to the raw path (matching norm()'s unquote,
    # which leaves malformed escapes alone)
    return F.coalesce(F.try_url_decode(esc), stripped)


#: positions above which a read's DV anti-join relation is built
#: executor-side (binaryFile + mapInPandas) instead of materialized on
#: the driver for a broadcast — after a WIDE delete (millions of
#: positions), reads must not re-pay the driver funnel the write path
#: eliminated. The count comes from resolved metadata, so the choice
#: costs no I/O.
DV_BROADCAST_MAX_POSITIONS = 1 << 18

#: per-file size under which a write's skipping facts fuse the
#: dictionary collect_set into the stats aggregate (one job instead of
#: two) — the executor aggregation state is then bounded by the small
#: files themselves, so the approx-distinct gate the two-phase plan
#: needs is unnecessary. 4 MiB of parquet is comfortably below any
#: memory concern and covers the MoR trickle's postimage files.
SMALL_FACTS_FILE_BYTES = 4 << 20
#: bloom-position fuse gate: when a write's TOTAL staged bytes fit
#: here, the k bloom position sets per column ride the stats aggregate
#: (state bounded by batch bytes × k ints) instead of a second scan job
#: — the MoR trickle shape. Deliberately much tighter than the per-file
#: SMALL_FACTS gate: collect_set state for blooms is k× the value set.
BLOOM_FUSE_TOTAL_BYTES = 1 << 20


def _apply_dvs(spark, df: DataFrame, files: list[str], dvs: dict, blob=None) -> DataFrame:
    """Anti-join out each file's deleted row indices. ``dvs`` is the
    resolved {file: {"path", "n"}} map; files without a DV pass through
    untouched (the join is against only the relevant pairs). Small
    vectors broadcast (their size is the deleted rows in the files THIS
    read touches — the working set Delta's DV scan materializes per
    task); past ``DV_BROADCAST_MAX_POSITIONS`` the relation is read and
    expanded EXECUTOR-side so a post-wide-delete read never funnels
    positions through the driver."""
    from pyspark.sql import functions as F

    wanted = set(files)
    rel = {f: m for f, m in dvs.items() if f in wanted}
    if not rel:
        return df
    keyed = df.withColumn("_dv_fp", _fp_key_col()).withColumn(
        "_dv_ri", F.col("_metadata.row_index")
    )
    total = sum(int(m.get("n", 0)) for m in rel.values())
    if total > DV_BROADCAST_MAX_POSITIONS:
        pairs = _dv_pairs_df(spark, {f: m["path"] for f, m in rel.items()})
        return keyed.join(pairs, ["_dv_fp", "_dv_ri"], "left_anti").drop(
            "_dv_fp", "_dv_ri"
        )
    fps, ris = [], []
    for f, m in rel.items():
        for p in _dv_load(m["path"], blob):
            fps.append(f)
            ris.append(p)
    if not fps:
        return df  # every relevant vector is empty: nothing to join out
    import pandas as pd

    dvdf = spark.createDataFrame(
        pd.DataFrame({"_dv_fp": fps, "_dv_ri": pd.array(ris, dtype="int64")})
    )
    return keyed.join(F.broadcast(dvdf), ["_dv_fp", "_dv_ri"], "left_anti").drop(
        "_dv_fp", "_dv_ri"
    )


def _dv_relation(spark, dvmap: dict, blob=None) -> DataFrame | None:
    """A set of deletion-vector sidecars' (file, row_index) pairs as a
    join relation, threshold-gated exactly like ``_apply_dvs``: small
    vector sets materialize driver-side and BROADCAST — the anti/semi
    join then adds no shuffle to the scan it guards (the MoR wall-
    parity lever: a broadcast anti-join keeps update_where's candidate
    scan exchange-free, where a distributed pairs join sort-merges the
    whole slice); past ``DV_BROADCAST_MAX_POSITIONS`` the sidecars are
    read with the binaryFile source and expanded EXECUTOR-side, so no
    consumer of a WIDE delete ever funnels positions through the
    driver. The branch decision reads only resolved metadata (``n``
    per file) — no sidecar I/O. ``dvmap`` is {data file: {"path",
    "n"}} (an entry's ``dv_added`` or a resolved prior-vector subset).
    Returns a (_dv_fp, _dv_ri) frame ready to join, or None if the
    map holds no positions."""
    from pyspark.sql import functions as F

    if not dvmap:
        return None
    total = sum(int(m.get("n", 0)) for m in dvmap.values())
    if total > DV_BROADCAST_MAX_POSITIONS:
        return _dv_pairs_df(spark, {f: m["path"] for f, m in dvmap.items()})
    import pandas as pd

    fps, ris = [], []
    for f, m in dvmap.items():
        for p in _dv_load(m["path"], blob):
            fps.append(f)
            ris.append(p)
    if not fps:
        return None
    return F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"_dv_fp": fps, "_dv_ri": pd.array(ris, dtype="int64")})
        )
    )


def _dv_added_semi(table: "TxLogTable", dvadd: dict, version: int) -> DataFrame | None:
    """The rows a commit's vectors newly marked, semi-joined back out
    of the (unrewritten) files — the shared read path under
    ``table_changes`` and ``mv_delta``, riding ``_dv_added_relation``'s
    broadcast-or-distributed gate."""
    from pyspark.sql import functions as F

    rel = _dv_relation(table.spark, dvadd, getattr(table, 'blob', None))
    if rel is None:
        return None
    return (
        table._raw_read(sorted(dvadd), version)
        .withColumn("_dv_fp", _fp_key_col())
        .withColumn("_dv_ri", F.col("_metadata.row_index"))
        .join(rel, ["_dv_fp", "_dv_ri"], "left_semi")
        .drop("_dv_fp", "_dv_ri")
    )


def _pred_survives(
    f: str,
    pred,
    stats: dict,
    dicts: dict,
    nulls: dict,
    blooms: dict | None = None,
    blob=None,
) -> bool:
    """One predicate's per-file keep test, shared by every pruned read.
    ``pred`` is the NORMALIZED form from ``_normalize_pred``. Missing
    facts always keep the file — mixed writers stay exact. Fact
    precedence for ``in``: value dictionary (exact) wins outright; else
    the file must survive BOTH the Bloom sidecar (exact-negative
    membership, the high-cardinality fact dictionaries can't carry) and
    the min/max range."""
    col, op = pred[0], pred[1]
    nu = nulls.get(f, {}).get(col)
    if op == "isnull":
        return nu is None or nu[0] > 0
    if op == "isnotnull":
        return nu is None or nu[0] < nu[1]
    if _no_values(nu):
        return False  # no non-null value can match between/in
    if op == "between":
        st = stats.get(f, {}).get(col)
        if st is None or st[0] is None or st[1] is None:
            return True  # no stats: must read
        return not _range_pruned(st, pred[2], pred[3], col)
    # op == "in"
    _, _, dvals, lo, hi = pred
    d = dicts.get(f, {}).get(col)
    if d is not None:
        return not _dict_pruned(d, dvals, col)
    if blooms is not None:
        bf = blooms.get(f, {}).get(col)
        if bf is not None and _bloom_pruned(bf, pred[2], blob):
            return False
    st = stats.get(f, {}).get(col)
    if st is None or st[0] is None or st[1] is None:
        return True
    return not _range_pruned(st, lo, hi, col)


def _normalize_pred(pred) -> tuple:
    """Validate one predicate tuple and pre-normalize its probe values
    once (not per file): ``(col, "between", lo, hi)`` with either side
    None for open intervals, ``(col, "in", values)``,
    ``(col, "isnull")``, ``(col, "isnotnull")``."""
    op = pred[1]
    if op == "between":
        col, _, lo, hi = pred
        return (col, op, _stat_norm(lo, "min"), _stat_norm(hi, "max"))
    if op == "in":
        col, _, values = pred
        if not values:
            raise ValueError(f"'in' predicate on {col!r} needs at least one value")
        dvals = [_dict_norm(v) for v in values]
        los = [_stat_norm(v, "min") for v in values]
        his = [_stat_norm(v, "max") for v in values]
        lo = min(los) if all(v is not None for v in los) else None
        hi = max(his) if all(v is not None for v in his) else None
        return (col, op, dvals, lo, hi)
    if op in ("isnull", "isnotnull"):
        return (pred[0], op)
    raise ValueError(f"unknown predicate op: {op!r}")


#: sentinel for "literal could not be converted" during Column walking
_NO_LIT = object()


def _jlit_py(v):
    """Convert a literal surfaced from a Column's expression tree (py4j
    auto-converts primitives/str/Decimal; temporal and BigDecimal values
    arrive as JavaObjects) into the Python domain ``_normalize_pred``
    understands. Returns ``_NO_LIT`` for anything unmappable."""
    if v is None or isinstance(
        v, (bool, int, float, str, Decimal, _dt.datetime, _dt.date)
    ):
        return v
    try:
        cls = v.getClass().getName()
        if cls == "java.math.BigDecimal":
            return Decimal(v.toString())
        if cls in ("java.time.Instant", "java.sql.Timestamp"):
            inst = v if cls == "java.time.Instant" else v.toInstant()
            return _dt.datetime.fromtimestamp(
                inst.getEpochSecond(), _dt.timezone.utc
            ).replace(microsecond=inst.getNano() // 1000)
        if cls == "java.time.LocalDateTime":
            return _dt.datetime.fromisoformat(v.toString())
        if cls in ("java.time.LocalDate", "java.sql.Date"):
            return _dt.date.fromisoformat(v.toString())
    except Exception:
        pass
    return _NO_LIT


#: prune-tree leaf for "subtree not understood" — never prunes. The
#: tree's soundness invariant: a node evaluates False for a file ONLY
#: if no row in that file can satisfy the original predicate, so AND
#: combines with `and`, OR with `or`, and anything unknown is _TRUE.
_TRUE = ("true",)


def _walk_pred_node(node) -> tuple:
    """Recursive Column-node walk building a PRUNE TREE: ``("and", l,
    r)``, ``("or", l, r)``, ``("pred", raw_pred_tuple)``, or ``_TRUE``
    for any subtree we don't understand (NOT, function-wrapped columns,
    non-literal bounds — they contribute no pruning and the caller's
    residual filter keeps results exact). Soundness by structural
    induction: a ``pred`` leaf is the node's own condition relaxed to
    inclusive bounds, an AND can only match a file where BOTH children
    can, an OR where EITHER can, and ``_TRUE`` never prunes — so a file
    the tree rejects cannot hold a qualifying row. Disjunctions prune
    for real: ``amount >= 9e6 OR amount < 0`` drops every file whose
    stats rule out BOTH sides, where the old conjunct-list form fell
    back to reading everything."""

    def attr_name(n):
        try:
            if n.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = n.nameParts()
            if parts.size() != 1:
                return None
            return parts.apply(0)
        except Exception:
            return None

    def lit_value(n):
        try:
            if n.getClass().getSimpleName() != "Literal":
                return _NO_LIT
            return _jlit_py(n.value())
        except Exception:
            return _NO_LIT

    try:
        if node.getClass().getSimpleName() != "UnresolvedFunction":
            return _TRUE
        name = node.functionName().lower()
        jargs = node.arguments()
        args = [jargs.apply(i) for i in range(jargs.size())]
    except Exception:
        return _TRUE
    if name == "and" and len(args) == 2:
        l, r = _walk_pred_node(args[0]), _walk_pred_node(args[1])
        if l is _TRUE and r is _TRUE:
            return _TRUE
        return ("and", l, r)
    if name == "or" and len(args) == 2:
        l, r = _walk_pred_node(args[0]), _walk_pred_node(args[1])
        # an unknown side might match anything — the whole OR is unknown
        if l is _TRUE or r is _TRUE:
            return _TRUE
        return ("or", l, r)
    if name in ("isnull", "isnotnull") and len(args) == 1:
        col = attr_name(args[0])
        if col is None:
            return _TRUE
        return ("pred", (col, name))
    if name == "in" and len(args) >= 2:
        col = attr_name(args[0])
        vals = [lit_value(a) for a in args[1:]]
        if col is None or any(v is _NO_LIT for v in vals):
            return _TRUE
        return ("pred", (col, "in", vals))
    if name in (">=", ">", "<=", "<", "=", "==", "<=>") and len(args) == 2:
        col, v = attr_name(args[0]), lit_value(args[1])
        flipped = False
        if col is None:
            col, v = attr_name(args[1]), lit_value(args[0])
            flipped = True
        if col is None or v is _NO_LIT:
            return _TRUE
        if name in ("=", "=="):
            return ("pred", (col, "in", [v])) if v is not None else _TRUE
        if name == "<=>":
            return ("pred", (col, "isnull") if v is None else (col, "in", [v]))
        lower = (name in (">=", ">")) != flipped
        # strict bounds prune with the INCLUSIVE bound — a conservative
        # superset of files; the residual keeps strictness exact
        return ("pred", (col, "between", v, None) if lower else (col, "between", None, v))
    return _TRUE


def _normalize_tree(tree) -> tuple:
    """Normalize every pred leaf's probe values ONCE (not per file)."""
    if tree is _TRUE or tree[0] == "true":
        return _TRUE
    if tree[0] == "pred":
        return ("pred", _normalize_pred(tree[1]))
    return (tree[0], _normalize_tree(tree[1]), _normalize_tree(tree[2]))


def _tree_survives(
    f: str, tree, stats, dicts, nulls, blooms=None, blob=None
) -> bool:
    """Evaluate a NORMALIZED prune tree for one file: may the file hold
    a row satisfying the predicate? ``_TRUE`` leaves always survive."""
    if tree[0] == "true":
        return True
    if tree[0] == "pred":
        return _pred_survives(f, tree[1], stats, dicts, nulls, blooms, blob)
    l = _tree_survives(f, tree[1], stats, dicts, nulls, blooms, blob)
    if tree[0] == "and":
        return l and _tree_survives(f, tree[2], stats, dicts, nulls, blooms, blob)
    return l or _tree_survives(f, tree[2], stats, dicts, nulls, blooms, blob)


def _map_tree_cols(tree, fn) -> tuple:
    """Rewrite every pred leaf's column name through ``fn`` — how a
    logical-name predicate meets physical-name skipping facts under
    column mapping."""
    if tree[0] == "true":
        return tree
    if tree[0] == "pred":
        p = tree[1]
        return ("pred", (fn(p[0]),) + tuple(p[1:]))
    return (tree[0], _map_tree_cols(tree[1], fn), _map_tree_cols(tree[2], fn))


def _column_prune_tree(predicate) -> tuple:
    """Best-effort prune tree for a Spark Column predicate. NEVER raises
    on unsupported shapes — they become ``_TRUE`` leaves (no pruning;
    the caller applies the ORIGINAL Column as the residual filter, so
    results stay exact regardless). Works on the classic (py4j) Column
    node tree; any other runtime falls back to residual-only."""
    try:
        node = predicate._jc.node()
    except Exception:
        return _TRUE
    return _walk_pred_node(node)


#: JSON-schema atomic type name → Spark simpleString (the domain the
#: widening map speaks; decimal(p,s) strings pass through unchanged)
_JSON_TO_SIMPLE = {
    "integer": "int",
    "long": "bigint",
    "short": "smallint",
    "byte": "tinyint",
}

_INT_CHAIN = ["tinyint", "smallint", "int", "bigint"]


def _widen_allowed(cur: str | None, new: str) -> bool:
    """Delta-style type-widening rules: promotions that every existing
    parquet value survives EXACTLY — the integer chain, float→double,
    and decimal precision growth at the SAME scale. Anything else
    (narrowing, scale change, cross-family) is a rewrite, not metadata."""
    if cur is None:
        return False
    cur = _JSON_TO_SIMPLE.get(cur, cur)
    new = _JSON_TO_SIMPLE.get(new, new)
    if cur in _INT_CHAIN and new in _INT_CHAIN:
        return _INT_CHAIN.index(new) > _INT_CHAIN.index(cur)
    if cur == "float" and new == "double":
        return True
    mc = re.fullmatch(r"decimal\((\d+),(\d+)\)", cur)
    mn = re.fullmatch(r"decimal\((\d+),(\d+)\)", new)
    if mc and mn:
        pc, sc = int(mc.group(1)), int(mc.group(2))
        pn, sn = int(mn.group(1)), int(mn.group(2))
        return sn == sc and pc < pn <= 38
    return False


#: simpleString → JSON-schema atomic name (inverse of _JSON_TO_SIMPLE)
_SIMPLE_TO_JSON = {v: k for k, v in _JSON_TO_SIMPLE.items()}


def _wider_of(a, b):
    """The wider of two atomic JSON type strings under the widening
    rules; None when neither widens to the other (a real conflict)."""
    if a == b:
        return a
    if isinstance(a, str) and isinstance(b, str):
        if _widen_allowed(a, b):
            return b
        if _widen_allowed(b, a):
            return a
    return None


def _schema_union(aj: dict | None, bj: dict) -> dict:
    """Union of two schema-JSON documents, field by field — what keeps
    the log's recorded schema MONOTONE (a merge that touches only
    drift-less buckets must not shrink the recorded schema back below
    a column some other bucket carries). Type conflicts resolve to the
    WIDER type when the widening rules allow it; incomparable
    conflicts keep the NEW type (the new entry reflects its own files
    — the pre-monotone behavior, preserved for exotic evolutions like
    union-coerced string columns)."""
    if aj is None:
        return bj
    out_fields: list[dict] = []
    by_name: dict[str, dict] = {}
    for f in aj.get("fields", []):
        g = dict(f)
        out_fields.append(g)
        by_name[f["name"]] = g
    for f in bj.get("fields", []):
        cur = by_name.get(f["name"])
        if cur is None:
            g = dict(f)
            out_fields.append(g)
            by_name[f["name"]] = g
            continue
        if cur["type"] != f["type"]:
            cur["type"] = _wider_of(cur["type"], f["type"]) or f["type"]
        cur["nullable"] = bool(cur.get("nullable", True)) or bool(
            f.get("nullable", True)
        )
    return {"type": "struct", "fields": out_fields}


def _widened_struct(sj: dict, wid: dict):
    """The recorded schema with the widening map applied, every field
    nullable — the EXPLICIT read schema for widened tables (mergeSchema
    refuses to merge INT32 and INT64 footers, but Spark 4's parquet
    reader performs widening promotions when handed the wide schema
    up front; files missing a drifted column read as null)."""
    from pyspark.sql.types import StructType

    fields = []
    for f in sj.get("fields", []):
        g = dict(f)
        if g["name"] in wid:
            t = wid[g["name"]]
            g["type"] = _SIMPLE_TO_JSON.get(t, t)
        g["nullable"] = True
        fields.append(g)
    return StructType.fromJson({"type": "struct", "fields": fields})


def _bucket_overlap(t: int, n_ours: int, tag: int, n_theirs: int) -> bool:
    """May bucket ``t`` under layout ``n_ours`` share keys with a file
    tagged ``tag`` under write-time layout ``n_theirs``? Both layouts
    project the same key-hash, so a shared key forces agreement modulo
    the common divisor: ``t % g == tag % g`` with ``g = gcd``. Exact
    when one layout divides the other (the covering rule's cases) and
    conservative — never misses an overlap — for arbitrary pairs. The
    merge RETRY path needs the symmetric form: a foreign file can land
    under a LARGER layout after a racing lazy rebucket, where the
    one-sided ``t % n == tag`` test silently misses overlaps (N=8, t=3
    vs n'=16, tag=11 → same keys, 3 % 16 != 11) and both writers would
    commit images of the same key."""
    g = math.gcd(n_ours, n_theirs)
    return t % g == tag % g


#: per-handle bounds on the parsed-entry and Snapshot caches: a
#: snapshot replays at most checkpoint_interval entries past one
#: checkpoint, whose own Snapshot stays cached as the replay base, so
#: these hold every hot object with room for time travel, while a
#: handle that lives across an unbounded stream stays bounded
ENTRY_CACHE_MAX = 256
SNAPSHOT_CACHE_MAX = 4


def _cache_put(cache: dict, key, value, cap: int) -> None:
    """Insert (or refresh) as the newest, evicting the least recently
    put once ``cap`` is reached."""
    cache.pop(key, None)
    if len(cache) >= cap:
        cache.pop(next(iter(cache)))
    cache[key] = value


class TxLogTable:
    """``commit_backend`` is the pluggable putIfAbsent primitive
    (``fn(entry_path, payload) -> bool``, True iff this writer owns the
    name). The default is POSIX hard-link publication; an object-store
    deployment injects its conditional-put here (S3 If-None-Match, GCS
    x-goog-if-generation-match: 0, ABFS ETag create) and NOTHING else
    in the protocol changes — the log entry content, replay, and
    conflict rules are backend-independent."""

    #: a commit whose version is a positive multiple of this writes a
    #: checkpoint (``_publish``); None writes none
    checkpoint_interval: int | None = None

    def __init__(
        self, spark: SparkSession, path: str, commit_backend=None, blob_backend=None
    ):
        from cdc_streaming_pipeline_spark.blob import DEFAULT_BLOB

        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        self.data_dir = os.path.join(path, "data")
        # ``blob`` owns every METADATA object the engine reads/writes
        # itself (log entries, checkpoints, DV + bloom sidecars) — the
        # object-store seam (blob.py); data parquet and the distributed
        # sidecar scan go through Spark's own FS layer. The commit
        # decision defaults to the blob store's conditional put.
        self.blob = blob_backend or DEFAULT_BLOB
        self._put_if_absent = commit_backend or self.blob.put_if_absent
        # parsed log entries and folded Snapshots by version: both are
        # immutable once published (an entry once its put_if_absent won;
        # a version's state never changes), so one handle parses each
        # entry at most once and replays each version at most once while
        # it stays cached. Only successful parses are kept; the
        # _last_checkpoint pointer and existence probes always go to the
        # store. Callers treat the cached objects as read-only.
        self._entry_cache: dict[int, dict] = {}
        self._snapshots: dict[int, Snapshot] = {}
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ---- log primitives -------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.json")

    def latest_version(self) -> int | None:
        """Newest committed version. Committed versions are DENSE
        consecutive integers that are never deleted (every writer races
        for latest+1; the SQLite backend heals a crashed winner's file
        before reporting a loss, so a materialized v implies
        materialized v-1), which lets this probe upward from a version
        known to exist instead of listing the whole log directory."""
        return self._head()[0]

    def _head(self) -> tuple[int | None, int | None]:
        """(newest committed version, the ``_last_checkpoint`` pointer if
        this call read one). The probe starts at the newest version this
        handle has already read or replayed; a cold handle, or one more
        than a commit behind, reads the pointer and starts there when it
        is ahead. A log without a checkpoint is listed once, on a cold
        handle."""
        head = max([*self._entry_cache, *self._snapshots], default=None)
        ptr = None
        if head is None or self.blob.exists(self._entry_path(head + 2)):
            ptr = _last_checkpoint_version(self)
            if ptr is not None and (head is None or ptr > head):
                head = ptr
        if head is None:
            versions = self._versions()
            return (versions[-1] if versions else None), ptr
        while self.blob.exists(self._entry_path(head + 1)):
            head += 1
        return head, ptr

    def _versions(self) -> list[int]:
        names = (
            os.path.basename(p)[:-5]
            for p in self.blob.list(self.log_dir, "*.json")
        )
        return sorted(int(n) for n in names if n.isdigit())  # skips checkpoints

    def _versions_between(self, start: int, target: int | None) -> list[int]:
        """Committed versions in [start, target] by direct existence
        probes on the dense version sequence — O(range length), never a
        full directory listing. ``target=None`` probes to the end."""
        out: list[int] = []
        v = max(start, 0)
        while (target is None or v <= target) and self.blob.exists(
            self._entry_path(v)
        ):
            out.append(v)
            v += 1
        return out

    def _read_entry(self, version: int) -> dict:
        e = self._entry_cache.get(version)
        if e is None:
            e = json.loads(self.blob.get_text(self._entry_path(version)))
            _cache_put(self._entry_cache, version, e, ENTRY_CACHE_MAX)
        return e

    def history(self, limit: int | None = None) -> list[dict]:
        """Committed entries, oldest first. ``limit`` keeps only the
        NEWEST ``limit`` entries — O(limit) reads via the dense version
        sequence, no directory listing (the audit-UI shape: "last 20
        commits" must not cost a year of log replay). The unlimited form
        is inherently O(age) output but still probes instead of
        glob-listing — on an object store the listing is the expensive
        call, the probes are bounded GETs."""
        if limit is None:
            return [self._read_entry(v) for v in self._versions_between(0, None)]
        latest = self.latest_version()
        if latest is None:
            return []
        lo = max(0, latest - limit + 1)
        return [self._read_entry(v) for v in range(lo, latest + 1)]

    # ---- write path -----------------------------------------------------

    def _stage(self, df: DataFrame) -> list[str]:
        staged = os.path.join(self.data_dir, f"stage-{uuid.uuid4().hex[:12]}")
        df.write.mode("errorifexists").parquet(staged)
        return sorted(glob(os.path.join(staged, "*.parquet")))

    @staticmethod
    def _staged_bytes(files: list[str]) -> dict[str, int]:
        """Per-file byte sizes captured AT STAGE TIME, recorded in the
        log entry (alongside file_stats) so later decisions — salt
        sizing, per-bucket growth policies — read sizes from the log
        instead of stat()ing data files, which only works on a local
        filesystem. The writer just produced these files, so one stat
        per fresh file here is free on any backend that can list its
        own staging output."""
        out: dict[str, int] = {}
        for f in files:
            try:
                out[f] = os.path.getsize(f)
            except OSError:
                pass  # missing size degrades the CONSUMER, never the commit
        return out

    def _try_commit(self, version: int, entry: dict) -> bool:
        """Atomic create-if-absent with FULL content: True iff this
        writer won ``version``. Delegates to the injected backend.
        Every winning entry carries a wall-clock ``ts`` (the ONE commit
        choke point), which is what timestamp time travel resolves
        against — same caveat as Delta's commit timestamps: wall clocks
        across writers can skew, so ``version_at_timestamp`` treats the
        sequence as monotone and callers wanting exactness pin versions."""
        import time

        entry = dict(entry)
        entry.setdefault("ts", time.time())
        return self._put_if_absent(self._entry_path(version), json.dumps(entry))

    def _publish(
        self, base: int | None, build, txn=None, still_valid=None, landed=None
    ) -> int:
        """The one commit step every write goes through: race for
        version ``base + 1`` (0 on an empty log) with the entry
        ``build(base)`` returns (no adds, removes or files unless it
        says so), tagged with ``txn``; a winning commit calls
        ``landed(version)`` and then, at a positive multiple of
        ``checkpoint_interval``, writes the checkpoint. Returns the
        committed version.

        ``build`` runs again on every attempt, so entry fields derived
        from the base (an alter's re-resolved meta, a merge's unioned
        schema) match the version they land on. After a lost race:

        - a ``txn`` whose writer already recorded this epoch or a later
          one at the new head means the write landed before (a replayed
          micro-batch): that recorded version is returned, nothing more
          is written;
        - ``still_valid=None`` raises: one attempt, for writes whose
          read set is the whole table or that must land at version 0;
        - otherwise ``still_valid(snapshot at the new head)`` decides:
          false raises a conflict, true retries on the new head, up to
          ``COMMIT_RETRIES`` attempts."""
        for _ in range(COMMIT_RETRIES):
            version = (-1 if base is None else base) + 1
            entry = {"version": version, "adds": [], "removes": [], "n_files": 0}
            entry.update(build(base))
            if txn is not None:
                entry["txn"] = [txn[0], txn[1]]
            if self._try_commit(version, entry):
                if landed is not None:
                    landed(version)
                every = self.checkpoint_interval
                if every and version > 0 and version % every == 0:
                    write_checkpoint(self, version)
                return version
            what = f"{entry['mode']} commit"
            new = snapshot(self) if txn is not None or still_valid else None
            done = new.applied(txn) if txn is not None else None
            if done is not None:
                return done
            if still_valid is None:
                raise ConcurrentWriteError(
                    f"{what} lost the race for version {version}"
                    + ("; table already initialized" if version == 0 else "")
                )
            if not still_valid(new):
                raise ConcurrentWriteError(
                    f"{what} conflicts with a commit at version {new.version}"
                )
            base = new.version
        raise ConcurrentWriteError(f"{what} gave up after {COMMIT_RETRIES} retries")

    def _monotone(self, entry: dict, schema: dict):
        """The ``build`` of a write to part of the table: ``entry`` with
        ``schema`` unioned with the one recorded at each attempt's base.
        The record stays MONOTONE — no write shrinks it below a column
        other buckets carry, which the widened-table explicit-schema
        read (and ``_empty_frame``) relies on."""
        return lambda b: {
            **entry,
            "schema": _schema_union(_resolve_schema_json(self, b), schema),
        }

    def _add_facts(self, adds: list[str], buckets: dict[str, int] | None = None) -> dict:
        """The entry fields describing the files a commit adds; a
        bucketed write also records each file's bucket and the layout it
        was hashed under."""
        out = {"adds": adds, "n_files": len(adds), "file_bytes": self._staged_bytes(adds)}
        if buckets is not None:
            out["file_buckets"] = buckets
            out["file_layout_n"] = {f: self.n_buckets for f in adds}
        return out

    def txn_version(self, txn: tuple[str, int]) -> int | None:
        """The version a (writer_id, epoch) transaction committed as, or
        None — a history lookup. Whether a tagged write is already
        applied is ``Snapshot.applied``'s question, not this one: an
        epoch below the writer's recorded one is applied even when no
        entry carries it exactly (a replay of an older, absent epoch).

        Resolves through the checkpointed per-writer txn state
        (O(commits-since-checkpoint)), which records each writer's
        LATEST (epoch, version) — the case streaming replay actually
        hits (foreachBatch re-runs only the last batch). An OLDER epoch
        (out-of-order replay of deep history) falls back to a downward
        entry probe from the recorded commit, bounded by how far back
        the asked-for epoch landed."""
        writer, epoch = txn
        rec = snapshot(self).txns.get(writer)
        if rec is None or epoch > rec[0]:
            return None
        if epoch == rec[0]:
            return rec[1]
        for v in range(rec[1] - 1, -1, -1):
            if not self.blob.exists(self._entry_path(v)):
                continue
            e = self._read_entry(v)
            if e.get("txn") == [writer, epoch]:
                return e["version"]
        return None

    def _file_stats(self, files: list[str], stats_cols: list[str]) -> dict:
        """Per-file skipping facts for ``stats_cols`` as ENTRY KEYS to
        merge — ONE small aggregate job over the freshly staged files
        (grouped by input_file_name): ``file_stats`` min/max through the
        typed normalization (``_stat_store`` — Decimal/timestamp become
        comparable primitives, long strings truncate Delta-style) and
        ``file_nulls`` [null_count, row_count] (IS NULL / IS NOT NULL
        pruning, and the all-null-file shortcut for ranges)."""
        from pyspark.sql import functions as F

        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in stats_cols:
            aggs.append(F.min(c).alias(f"_min_{c}"))
            aggs.append(F.max(c).alias(f"_max_{c}"))
            aggs.append(F.count(c).alias(f"_nn_{c}"))
        rows = (
            self.spark.read.parquet(*files)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()  # bounded: one row per staged file
        )
        from urllib.parse import unquote, urlparse

        stats, nulls = {}, {}
        for r in rows:
            # input_file_name returns a URI (file:///...); normalize to
            # the filesystem path the log stores
            p = r["_f"]
            p = unquote(urlparse(p).path) if "://" in p or p.startswith("file:") else p
            stats[p] = {
                c: [_stat_store(r[f"_min_{c}"], "min"), _stat_store(r[f"_max_{c}"], "max")]
                for c in stats_cols
            }
            nulls[p] = {
                c: [r["_rows"] - r[f"_nn_{c}"], r["_rows"]] for c in stats_cols
            }
        return {"file_stats": stats, "file_nulls": nulls}

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        base: int | None = None,
        txn: tuple[str, int] | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Stage ``df``'s files once, then race for the next version.

        ``append``: retries on collision (a blind append has no read
        set, so no logical conflict is possible).
        ``overwrite``: replaces the snapshot at ``base`` — the version
        the writer READ to derive ``df`` (optimistic concurrency's
        declared read-set; default: resolved now). If any other commit
        lands on top of ``base`` first, the derivation is stale ->
        ConcurrentWriteError, never silent lost-update.
        ``txn``: optional (writer_id, epoch) idempotence tag (Delta's
        txn action): if the writer's recorded epoch is already at or
        past ``epoch`` (``Snapshot.applied``), return the recorded
        version WITHOUT writing — a micro-batch replayed after a
        streaming restart lands zero duplicate rows.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if txn is not None:
            done = snapshot(self).applied(txn)
            if done is not None:
                return done
        adds = self._stage(df)
        base = self.latest_version() if base is None else base
        entry = {
            "mode": mode,
            **self._add_facts(adds),
            # overwrite's read set is the snapshot at ``base``, resolved
            # through the newest checkpoint: a from-zero replay would make
            # every overwrite cost O(table age)
            "removes": resolve_with_checkpoint(self, base) if mode == "overwrite" else [],
            # the committed schema: lets readers build a correctly typed
            # EMPTY frame even when the snapshot resolves to zero files
            # (never-written table, all-removed state, or an empty-adds
            # commit) — read_changes' caught-up path
            "schema": df.schema.jsonValue(),
            **(self._file_stats(adds, stats_cols) if stats_cols else {}),
        }
        return self._publish(
            base,
            lambda _: entry,
            txn=txn,
            still_valid=(lambda _: True) if mode == "append" else None,
        )

    # ---- read path -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table AS OF ``version`` (default: latest). The returned
        DataFrame is pinned to the resolved immutable file list —
        snapshot isolation against any later commit. Resolution uses
        the newest usable checkpoint (falls back to full log replay)."""
        snap = snapshot(self, version)
        if not snap.files:
            raise FileNotFoundError(f"no committed data at version {version}")
        return self._read_snapshot_files(snap.files, snap.version)

    def _read_snapshot_files(self, files: list[str], version: int | None = None) -> DataFrame:
        """mergeSchema read of snapshot files with the version's DELETION
        VECTORS applied — the ONE raw-file read every consumer (reads,
        pruned reads, merge's old-file scan, compact / rebucket /
        migrate rewrites) goes through, so merge-on-read deletes are
        invisible everywhere and every rewrite's output is born clean.

        The anti-join tax is paid ONLY by the files that carry vectors:
        clean files scan plain and union back in. At 100 TB the dirty
        fraction after a selective delete is a handful of files, so the
        read costs what a clean read costs plus an anti-join over the
        touched slice."""
        dvs = snapshot(self, version).dvs
        dirty = [f for f in files if f in dvs]
        if not dirty:
            return self._raw_read(files, version)
        clean = [f for f in files if f not in dvs]
        ddf = _apply_dvs(
            self.spark, self._raw_read(dirty, version), dirty, dvs, self.blob
        )
        if not clean:
            return ddf
        cdf = self._raw_read(clean, version)
        return cdf.unionByName(ddf, allowMissingColumns=True)

    def _raw_read(self, files: list[str], version: int | None = None) -> DataFrame:
        """The one multi-file parquet read every consumer builds on.
        Unwidened tables read with mergeSchema (additive drift unions
        by footer merge, today's behavior, no metadata cost). Widened
        tables read with an EXPLICIT schema — the recorded (monotone)
        union schema with the widening map applied — because parquet
        footer merging refuses INT32-vs-INT64 while the Spark 4 reader
        happily performs the promotion when handed the wide schema up
        front. Plan-time cost: zero footer reads (cheaper than
        mergeSchema); files missing a drifted column read as null,
        exactly like the mergeSchema path."""
        wid_at = getattr(self, "_widening_at", None)
        wid = wid_at(version) if wid_at is not None else {}
        if not wid:
            return self.spark.read.option("mergeSchema", "true").parquet(*files)
        sj = snapshot(self, version).schema
        if sj is None:
            return self.spark.read.option("mergeSchema", "true").parquet(*files)
        return self.spark.read.schema(_widened_struct(sj, wid)).parquet(*files)

    def _queryable_snapshot(self, version: int | None = None) -> DataFrame:
        """What SQL should see: the committed snapshot AS OF ``version``
        with deletion vectors applied. BucketedTxLogTable overrides this
        with ``read_state`` (tombstones filtered, column mapping
        resolved, bookkeeping dropped)."""
        return self.read(version)

    def to_view(
        self,
        name: str,
        version: int | None = None,
        timestamp: float | None = None,
        global_view: bool = False,
    ) -> DataFrame:
        """Register this table's queryable snapshot as a SQL view — the
        reference's actual query modality (beeline SQL over a declared
        table, reference: scripts/monitor-pipeline.sh:109-113,
        airflow/dags/cdc_pipeline_dag.py:358-387): after
        ``t.to_view("cdc_events_v")`` a SQL-speaking user runs
        ``spark.sql("SELECT COUNT(*) FROM cdc_events_v")`` with no
        Python handle in sight. ``version=`` / ``timestamp=`` pins an
        AS-OF snapshot (SQL time travel); the view is ALWAYS pinned to
        the file list resolved at registration — snapshot isolation, so
        a later commit is invisible until ``to_view`` runs again (call
        it per landing cycle, exactly where the reference re-runs its
        MSCK/DDL refresh). ``global_view=True`` registers in
        ``global_temp`` for cross-session visibility within the app.
        Returns the registered DataFrame."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version OR timestamp, not both")
        if timestamp is not None:
            version = version_at_timestamp(self, timestamp)
        df = self._queryable_snapshot(version)
        if global_view:
            df.createOrReplaceGlobalTempView(name)
        else:
            df.createOrReplaceTempView(name)
        return df

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental consumption: the rows APPENDED in versions
        (from_version, to_version] — the change-feed a downstream
        consumer tails instead of re-reading the table (a streaming
        source over the log: poll latest_version(), read_changes(last),
        advance the cursor). Overwrite/compact versions are rejected —
        their adds re-state existing rows, so an append-only cursor
        would double-count; consumers of rewriting tables should diff
        snapshots (operators/cdc.py:snapshot_diff) instead."""
        to_v = self.latest_version() if to_version is None else to_version
        adds: list[str] = []
        for v in self._versions_between(from_version + 1, to_v):
            e = self._read_entry(v)
            if e.get("mode") != "append":
                raise ValueError(
                    f"version {v} is mode={e.get('mode')!r}: the append-only "
                    "change cursor cannot represent rewrites"
                )
            adds.extend(e.get("adds", []))
        if not adds:
            # nothing new: an EMPTY frame with the table's schema, so the
            # caller's pipeline composes without a None check (it keeps
            # its cursor either way — to_v is what it advances to). When
            # the snapshot itself resolves to zero files (never-written
            # table, or a committed entry with empty adds — e.g. the
            # lost-race simulations), fall back to the schema recorded in
            # the newest log entry instead of read()'s FileNotFoundError:
            # a polling consumer must degrade gracefully on catch-up.
            if resolve_with_checkpoint(self, to_v):
                return self.read(to_v).limit(0)
            return self._empty_frame(to_v)
        return self.spark.read.option("mergeSchema", "true").parquet(*adds)

    def _empty_frame(self, version: int | None = None) -> DataFrame:
        """A zero-row DataFrame with the table's schema as of
        ``version``, recovered from (newest first): the newest schema
        recorded in a log entry or checkpoint (the snapshot's), or any
        still-on-disk file ever referenced by the log. Raises only when
        the log carries no schema evidence."""
        from pyspark.sql.types import StructType

        target = self.latest_version() if version is None else version
        if target is None:
            raise FileNotFoundError(
                f"no committed data at version {version} and no schema recorded"
            )
        sj = _resolve_schema_json(self, target)
        if sj is not None:
            wid_at = getattr(self, "_widening_at", None)
            wid = wid_at(target) if wid_at is not None else {}
            if wid:
                # present widened types like every other read path
                return self.spark.createDataFrame([], _widened_struct(sj, wid))
            return self.spark.createDataFrame([], StructType.fromJson(sj))
        # last resort (pre-schema-recording logs): newest-first scan for
        # any referenced file still on disk — inherently O(age), only
        # reachable on logs that never recorded a schema anywhere
        for v in range(target, -1, -1):
            if not self.blob.exists(self._entry_path(v)):
                continue
            for f in self._read_entry(v).get("adds", []):
                if os.path.exists(f):
                    return self.spark.read.parquet(f).limit(0)
        raise FileNotFoundError(
            f"no committed data at version {version} and no schema recorded"
        )

    def read_where(
        self,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Data-skipping read: resolve the snapshot, then SKIP every
        file whose logged [min, max] for ``col`` cannot intersect
        [lo, hi] — the Delta/Iceberg stats-pruning move that turns a
        selective predicate into proportional I/O instead of a full
        scan. Files without stats are conservatively read; the residual
        filter is still applied, so the result is exact regardless of
        how coarse the stats are. Returns (df, files_read,
        files_total) so callers/tests can see the pruning."""
        snap = snapshot(self, version)
        files, version = snap.files, snap.version
        if not files:
            raise FileNotFoundError(f"no committed data at version {version}")
        pred = _normalize_pred((col, "between", lo, hi))
        keep = [f for f in files if _pred_survives(f, pred, snap.stats, {}, snap.nulls)]
        from pyspark.sql import functions as F

        if not keep:
            empty = self.read(version).filter(F.lit(False))
            return empty.filter(F.col(col).between(lo, hi)), 0, len(files)
        df = self._read_snapshot_files(keep, version).filter(
            F.col(col).between(lo, hi)
        )
        return df, len(keep), len(files)

    # ---- maintenance -----------------------------------------------------

    def compact(self, target_partitions: int = 1) -> int:
        """Rewrite the current snapshot into ``target_partitions`` files
        and commit remove-all+add. Logical content is unchanged; every
        earlier version remains readable (old files stay on disk)."""
        current = self.latest_version()
        snap = self.read(current).coalesce(target_partitions)
        entry = {
            "mode": "compact",
            **self._add_facts(self._stage(snap)),
            "removes": resolve_with_checkpoint(self, current),  # checkpoint-bounded
            "schema": snap.schema.jsonValue(),
        }
        return self._publish(current, lambda _: entry)


class BucketedTxLogTable(TxLogTable):
    """TxLogTable whose data files are BUCKET-PURE: every data file holds
    rows of exactly one key bucket (``pmod(xxhash64(keys), n_buckets)``,
    the operators/merge.py layout), and each log entry records the bucket
    of every file it adds (``file_buckets``). That single extra log fact
    turns the CDC MERGE from copy-on-write-the-table into
    copy-on-write-the-touched-buckets:

    - ``merge_cdc_batch`` resolves the snapshot, selects ONLY the files
      whose bucket the batch's keys hash into, merges them with
      latest-state semantics, and commits ONE log entry that removes
      those files and adds their per-bucket replacements. Untouched
      buckets' files are never opened, never rewritten — they stay
      byte-identical under the same paths across the commit — and the
      reader still flips atomically between complete snapshots.
    - Merge cost is proportional to the batch's bucket spread
      (touched/n_buckets of the table), not table size. A one-bucket
      table is the degenerate case: every merge rewrites the whole
      table, the plain copy-on-write MERGE.
    - ``merge_cdc_batch_mor`` is the same merge kernel under another
      fold rule: touched buckets keep their files, the batch keys'
      stored images are deletion-vectored and their winners appended.
    - Conflict rule is FILE-granular (the Delta conflict matrix's real
      rule, not the whole-table approximation): on losing the version
      race, the merge re-resolves; if the interleaved commits did not
      add or remove any file in ITS touched buckets, its read set is
      still valid and it retries under the next version — two merges
      over disjoint buckets both land. Otherwise ConcurrentWriteError.

    The stored rows are the RAW latest rows per key — op, order column,
    and delete marker included (same invariant as operators/merge.py's
    snapshot: a late, lower-LSN event can never resurrect a deleted
    key). ``read_state()`` is the queryable view.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str] | None = None,
        n_buckets: int | None = None,
        order_col: str | None = None,
        commit_backend=None,
        checkpoint_interval: int = 10,
        target_file_bytes: int = 8 << 20,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = BLOOM_BITS,
        blob_backend=None,
    ):
        super().__init__(
            spark, path, commit_backend=commit_backend, blob_backend=blob_backend
        )
        # The LOG records the layout contract (init_from_events /
        # rebucket write ``table_meta``); opening an existing table
        # validates explicit arguments against it — a writer merging
        # with the wrong n_buckets selects the wrong old files and
        # surfaces duplicate keys, so a mismatch is a loud error, and
        # omitted arguments resolve FROM the log (checkpoint-bounded).
        meta = resolve_table_meta(self)
        if meta is not None:
            for name, given, rec in (
                ("key_cols", list(key_cols) if key_cols else None, list(meta["key_cols"])),
                ("n_buckets", n_buckets, int(meta["n_buckets"])),
                ("order_col", order_col, meta["order_col"]),
            ):
                if given is not None and given != rec:
                    raise LayoutMismatchError(
                        f"table at {path} records {name}={rec!r} in its log; "
                        f"got {name}={given!r} — the bucket layout is a table "
                        "property, not a caller choice (use rebucket() to "
                        "change n_buckets)",
                        field=name,
                    )
            key_cols = list(meta["key_cols"])
            n_buckets = int(meta["n_buckets"])
            order_col = meta["order_col"]
        elif key_cols is None:
            raise ValueError(
                f"table at {path} has no recorded layout (new or legacy log) "
                "— key_cols is required"
            )
        self.key_cols = list(key_cols)
        self.n_buckets = 64 if n_buckets is None else n_buckets
        self.order_col = "_lsn" if order_col is None else order_col
        # Delta's every-10-commits policy: after any commit whose version
        # is a positive multiple of this, write a checkpoint so the NEXT
        # operation's metadata resolution replays at most this many
        # entries.
        self.checkpoint_interval = checkpoint_interval
        # salted-staging sizing target: COMPRESSED bytes of old files one
        # writer task may rewrite before the merge spreads the bucket
        # over more tasks/files. It bounds writer-task LATENCY (one task
        # per bucket grows with bucket size), not output-file size —
        # merge outputs are interim files
        # that the next touch of the bucket (or compact()) rewrites, so
        # small-file pressure is secondary to the rewrite wall.
        self.target_file_bytes = target_file_bytes
        # Data-skipping statistics: every write path (init / merge /
        # compact / rebucket / migrate) records per-file [min, max] for
        # these columns in its log entry, making ``read_state_where``
        # proportional-I/O. A WRITE policy per handle, not a layout
        # fact: files landed by a stats-less handle are simply read
        # conservatively — results stay exact either way, so mixed
        # writers need no coordination.
        self.stats_cols = list(stats_cols) if stats_cols else None
        # Column mapping (rename/drop without rewrite): logical→physical
        # name map + dropped physical names, owned by the log like the
        # bucket layout. Identity ({} / []) for unmapped tables.
        self.column_mapping = dict(meta.get("column_mapping") or {}) if meta else {}
        self.dropped_cols = list(meta.get("dropped_columns") or []) if meta else []
        # Type widening (Delta type widening / Iceberg schema evolution):
        # versioned physical-name → widened-type map; files keep their
        # narrow bytes, reads cast at the boundary, rewrites migrate.
        self.type_widening = dict(meta.get("type_widening") or {}) if meta else {}
        # Bloom-sidecar columns: the HIGH-cardinality complement of the
        # value dictionaries — per-file membership filters for
        # equality/IN point lookups on columns whose distinct count
        # blows the dictionary cap but whose [min, max] spans every
        # file (an id-shaped column under key-hash bucketing). Same
        # policy model as stats_cols: a write policy per handle,
        # mixed writers read conservatively, results exact either way.
        self.bloom_cols = list(bloom_cols) if bloom_cols else None
        self.bloom_bits = int(bloom_bits)

    # ---- bucket-aware staging / log facts --------------------------------

    def _stage_bucketed(
        self,
        df: DataFrame,
        salt_n: int = 1,
        n_buckets_hint: int | None = None,
        cluster_cols: list | None = None,
        cluster_parts: int | None = None,
    ) -> tuple[list[str], dict[str, int]]:
        """Stage ``df`` partitioned by key bucket; return (files, {file:
        bucket}). ``salt_n=1`` keeps each bucket's rows in one task (one
        contiguous file per bucket dir); ``salt_n>1`` spreads each bucket
        over ``salt_n`` deterministic key-hash slices so a LARGE touched
        bucket's rewrite runs as N parallel tasks producing N files — the
        log format allows many files per bucket, so only write latency
        changes. The salt is a hash of the key columns (not a random
        number), so staging stays deterministic for a given input.

        ``cluster_cols`` (with ``cluster_parts`` total output slices)
        switches to RANGE staging: rows are range-partitioned by
        (bucket, cluster_cols...) before the per-bucket write, so each
        bucket's files cover DISJOINT cluster-column ranges — the
        layout that makes per-file [min, max] stats selective inside a
        bucket (Delta OPTIMIZE ZORDER's purpose). Pass Column
        expressions (e.g. operators/layout.zorder_value) for
        multi-dimensional clustering."""
        from cdc_streaming_pipeline_spark.operators.merge import (
            BUCKET_COL,
            with_key_bucket,
        )
        from pyspark.sql import functions as F

        staged = os.path.join(self.data_dir, f"stage-{uuid.uuid4().hex[:12]}")
        out = with_key_bucket(df, self.key_cols, self.n_buckets)
        if cluster_cols:
            exprs = [F.col(c) if isinstance(c, str) else c for c in cluster_cols]
            parted = out.repartitionByRange(
                max(1, int(cluster_parts or 1)), F.col(BUCKET_COL), *exprs
            )
        elif salt_n > 1:
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in self.key_cols], F.lit("_wsalt")),
                F.lit(salt_n),
            )
            # explicit partition count: AQE would otherwise coalesce the
            # salted shuffle back into few tasks, re-serializing exactly
            # the rewrite this exists to parallelize
            n_parts = salt_n * max(
                1, out.select(BUCKET_COL).distinct().count() if n_buckets_hint is None else n_buckets_hint
            )
            parted = out.repartition(n_parts, F.col(BUCKET_COL), salt)
        else:
            parted = out.repartition(F.col(BUCKET_COL))
        (
            parted.write.mode("errorifexists")
            .partitionBy(BUCKET_COL)
            .parquet(staged)
        )
        buckets: dict[str, int] = {}
        for p in glob(os.path.join(staged, f"{BUCKET_COL}=*", "*.parquet")):
            b = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
            buckets[p] = b
        return sorted(buckets), buckets

    def _merge_salt_n(
        self,
        old_files: list[str],
        n_touched: int,
        file_bytes: dict[str, int] | None = None,
    ) -> int:
        """Writer tasks per touched bucket for this merge's rewrite of
        ``old_files`` (the files it folds; none means salt 1).

        One task per bucket puts a floor under merge latency that GROWS
        with bucket size (n_buckets is fixed at table creation), so a
        table with few large buckets merges slower than one with many
        small ones. Spread each touched bucket's rewrite over enough
        tasks that (a) the merge uses the cluster's parallelism and (b)
        output files stay near ``target_file_bytes`` — small merges
        keep salt 1 so file counts don't balloon.

        Sizes come from the LOG (``file_bytes``, recorded at stage time
        and resolved through checkpoints) — backend-independent, no data
        stat calls in the merge path. Files whose size the log lacks
        fall back to a local stat; if even that fails the parallelism
        cap applies, which can balloon file counts for small buckets."""
        if not old_files:
            return 1
        old_bytes: int | None = 0
        for f in old_files:
            s = (file_bytes or {}).get(f)
            if s is None:
                try:
                    s = os.path.getsize(f)
                except OSError:
                    old_bytes = None  # size unknowable: cap below
                    break
            old_bytes += s
        par = self.spark.sparkContext.defaultParallelism
        cap = max(1, par // max(1, n_touched))
        if old_bytes is None:
            return cap
        want = -(-old_bytes // (max(1, n_touched) * self.target_file_bytes))
        return int(max(1, min(cap, want)))

    def _bucket_map(self, version: int | None = None) -> dict[str, int]:
        """{data file: bucket} for the SNAPSHOT at ``version``, resolved
        through the newest checkpoint — O(commits-since-checkpoint), not
        O(table age)."""
        return resolve_snapshot_state(self, version)[1]

    # ---- lifecycle -------------------------------------------------------

    def init_from_events(self, events: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Bootstrap version 0 from an event backlog: raw latest rows
        (delete markers kept), bucket-pure files. ``txn`` tags the
        bootstrap with (writer_id, epoch) so a streaming sink whose
        FIRST micro-batch initializes the table stays exactly-once: the
        replayed batch finds its tag in the resolved txn state and
        no-ops instead of re-applying."""
        from cdc_streaming_pipeline_spark.operators.cdc import latest_state

        state = latest_state(
            events, key_cols=self.key_cols, order_col=self.order_col, drop_deleted=False
        )
        adds, buckets = self._stage_bucketed(state)
        entry = {
            "mode": "append",
            **self._add_facts(adds, buckets),
            "schema": state.schema.jsonValue(),
            "table_meta": self._meta_dict(),
            **self._staged_skipping_facts(adds, state.columns),
        }
        return self._publish(None, lambda _: entry, txn=txn)

    #: per-file dictionary-stats cap: value SETS are recorded only for
    #: (file, column) pairs with at most this many distinct values —
    #: equality/IN predicates prune on sets where [min, max] is useless
    #: (a categorical column's range spans the alphabet in every file)
    DICT_CAP = 16

    def _staged_skipping_facts(self, adds: list[str], columns: list[str]) -> dict:
        """The skipping facts one write stages, as entry keys to merge:
        ``file_stats`` (per-file [min, max]) always, ``file_dicts``
        (per-file value SETS) for (file, column) pairs that are
        low-cardinality IN THAT FILE (<= DICT_CAP distinct) — Delta/
        Iceberg keep only ranges; the dictionary is the extra fact that
        makes ``col = v`` / ``col IN (...)`` prunable on categoricals
        (whose [min, max] spans the alphabet in every file), and it
        earns its keep after a clustered compaction makes files
        value-pure. Columns the staged data doesn't carry (schema
        drift) are skipped — consumers read stats-less files
        conservatively.

        Bounded two-phase plan: ONE aggregate job computes min/max,
        null counts, AND an approx-distinct gate per (file, col) — then
        one collect_set job runs over dictionary candidates with the
        gate applied PER (file, column): each column's set is collected
        under ``when(file ∈ candidates-for-THAT-column)``, so a file
        that qualifies via one low-cardinality column never buffers a
        high-cardinality sibling's set executor-side (a cross-product
        would collect every candidate column on every candidate
        file). Sets exceeding the
        cap (sketch error) are dropped exactly; values longer than
        ``DICT_VALUE_CAP`` drop the (file, column) pair to range-only
        pruning."""
        from pyspark.sql import functions as F

        if (not self.stats_cols and not self.bloom_cols) or not adds:
            return {}
        cmap = getattr(self, "column_mapping", {}) or {}
        stats_pol = [cmap.get(c, c) for c in (self.stats_cols or [])]
        bloom_pol = [cmap.get(c, c) for c in (self.bloom_cols or [])]
        present = [c for c in stats_pol if c in columns]
        # analyze passes LIVE files, which can mix narrow/wide footers
        # on a widened table — the explicit-schema read handles that;
        # fresh staged adds are always width-uniform so the plain read
        # (which sees columns the schema record may not carry yet)
        # stays the default
        staged = (
            self._raw_read(adds) if self.type_widening else self.spark.read.parquet(*adds)
        )
        types = {f.name: f.dataType.simpleString() for f in staged.schema.fields}
        # bloom columns must be a type whose probe-side hashing is
        # bit-stable (ints and strings); others silently degrade to
        # whatever range/dict facts stats_cols provide
        bloomable = set(_BLOOM_INT_TYPES) | {"string"}
        bpresent = [
            c for c in bloom_pol if c in columns and types.get(c) in bloomable
        ]
        unbloomable = [
            c for c in bloom_pol if c in columns and types.get(c) not in bloomable
        ]
        norm = _uri_to_path
        if not present and not bpresent:
            if not unbloomable:
                return {}
            # typed None markers only (no aggregate job needed): the
            # coverage fact that stops analyze_table rescanning files
            # whose bloom column can never carry a sidecar
            return {
                "file_blooms": {
                    norm(f): {c: None for c in unbloomable} for f in adds
                }
            }

        # SMALL-BATCH FUSE (MoR wall parity): when every staged file is
        # tiny (the update/merge trickle shape — postimage files of a
        # 0.1% band), the dictionary sets are bounded by the files
        # themselves, so collect_set can ride the SAME aggregate as the
        # stats — one job instead of two, and the approx-distinct gate
        # is replaced by the exact cap check on the collected set. Big
        # files keep the two-phase plan whose gate bounds executor
        # aggregation state.
        sizes = [os.path.getsize(f) for f in adds]
        fuse_dicts = bool(present) and all(
            s <= SMALL_FACTS_FILE_BYTES for s in sizes
        )
        # BLOOM FUSE: when the
        # whole staged batch is tiny (the trickle-postimage shape), the
        # k bloom positions per value ride the SAME aggregate as k
        # bounded collect_sets per column — the separate _bloom_job
        # re-scan (a whole second Spark job for kilobytes of files)
        # disappears. Aggregation state is bounded by the batch bytes
        # themselves (total ≤ 1 MiB) times k ints; big batches keep the
        # two-job plan whose per-(file,column) gate bounds state.
        fuse_blooms = bool(bpresent) and sum(sizes) <= BLOOM_FUSE_TOTAL_BYTES
        aggs = [F.count(F.lit(1)).alias("_rows")]
        if fuse_blooms:
            m = self.bloom_bits
            for c in bpresent:
                for i in range(BLOOM_K):
                    pos = F.pmod(
                        F.xxhash64(F.col(c), F.lit(i)), F.lit(m).cast("long")
                    ).cast("int")
                    aggs.append(
                        F.collect_set(
                            F.when(F.col(c).isNotNull(), pos)
                        ).alias(f"_bp_{i}_{c}")
                    )
        for c in present:
            aggs += [
                F.min(c).alias(f"_min_{c}"),
                F.max(c).alias(f"_max_{c}"),
                F.count(c).alias(f"_nn_{c}"),
                F.approx_count_distinct(c).alias(f"_n_{c}"),
            ]
            if fuse_dicts:
                # slice to CAP+1 EXECUTOR-side: a qualifying set arrives
                # whole (exact fact), an oversized one arrives as CAP+1
                # values (dropped by the cap check) — the driver never
                # receives an unbounded value set even on a bulk load of
                # many small files
                aggs.append(
                    F.slice(
                        F.sort_array(F.collect_set(c)), 1, self.DICT_CAP + 1
                    ).alias(f"_set_{c}")
                )
        for c in bpresent:
            if c not in present:
                aggs.append(F.approx_count_distinct(c).alias(f"_n_{c}"))
        rows = (
            staged.groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()  # bounded: one row per staged file
        )
        out: dict = {}
        if present:
            out["file_stats"] = {
                norm(r["_f"]): {
                    c: [
                        _stat_store(r[f"_min_{c}"], "min"),
                        _stat_store(r[f"_max_{c}"], "max"),
                    ]
                    for c in present
                }
                for r in rows
            }
            out["file_nulls"] = {
                norm(r["_f"]): {c: [r["_rows"] - r[f"_nn_{c}"], r["_rows"]] for c in present}
                for r in rows
            }
        blooms: dict = {}
        if bpresent:
            blooms = self._staged_blooms(
                rows, bpresent, types, norm, fused=fuse_blooms
            )
        for c in unbloomable:  # typed None marker: analyze converges
            for r in rows:
                blooms.setdefault(norm(r["_f"]), {})[c] = None
        if blooms:
            out["file_blooms"] = blooms
        if not present:
            return out
        if fuse_dicts:
            dicts = self._dicts_from_sets(rows, {c: None for c in present}, norm)
            if dicts:
                out["file_dicts"] = dicts
            return out
        margin = 2 * self.DICT_CAP  # sketch-safe candidate threshold
        # per-COLUMN candidate file sets (raw URIs — the second job
        # matches on input_file_name again)
        cand: dict[str, list[str]] = {
            c: [r["_f"] for r in rows if r[f"_n_{c}"] <= margin] for c in present
        }
        cand = {c: fs for c, fs in cand.items() if fs}
        if not cand:
            return out
        drows = self._dict_job(cand).collect()
        dicts = self._dicts_from_sets(drows, cand, norm)
        if dicts:
            out["file_dicts"] = dicts
        return out

    def _dicts_from_sets(self, rows, cand: dict, norm) -> dict:
        """Shared cap/normalize step for both dictionary plans (fused
        single-job and gated two-phase): keep a (file, column) set only
        if it fits DICT_CAP and no value exceeds DICT_VALUE_CAP."""
        dicts: dict = {}
        for r in rows:
            d = {}
            for c in cand:
                s = r[f"_set_{c}"]
                if not s or len(s) > self.DICT_CAP:
                    continue
                vals = [_dict_norm(v) for v in s]
                if any(isinstance(v, str) and len(v) > DICT_VALUE_CAP for v in vals):
                    continue  # long values: fall back to range pruning
                d[c] = sorted(vals)
            if d:
                dicts[norm(r["_f"])] = d
        return dicts

    def _dict_job(self, cand: dict[str, list[str]]) -> DataFrame:
        """The dictionary collect_set aggregate with the approx-distinct
        gate applied PER (file, column): each column's set is collected
        under ``when(input_file ∈ candidates-for-THAT-column)``, so a
        (file, col) pair that FAILED the gate contributes nulls —
        collect_set drops them — and no task buffers a high-cardinality
        set because one sibling column qualified the file. ``cand``:
        {column: [raw file URIs that passed the gate for it]}.
        Exposed as a seam so tests can pin the plan shape (every
        collect_set wrapped in CASE WHEN)."""
        from pyspark.sql import functions as F

        # decode for the RE-READ (a raw percent-encoded URI double-encodes
        # and fails under paths with reserved characters); the isin gates
        # keep the raw URI form input_file_name reports
        cand_files = sorted({_uri_to_path(f) for fs in cand.values() for f in fs})
        fcol = F.input_file_name()
        return (
            (
                self._raw_read(cand_files)
                if self.type_widening
                else self.spark.read.parquet(*cand_files)
            )
            .groupBy(fcol.alias("_f"))
            .agg(
                *[
                    F.collect_set(
                        F.when(fcol.isin(cand[c]), F.col(c))
                    ).alias(f"_set_{c}")
                    for c in cand
                ]
            )
        )

    def _staged_blooms(
        self, rows, bpresent: list[str], types: dict, norm, fused: bool = False
    ) -> dict:
        """Build per-(file, column) BLOOM FILTER sidecars for one write's
        staged files — the high-cardinality complement of the value
        dictionaries: a point lookup on an id-shaped column (whose
        [min, max] spans every file under key-hash bucketing, and whose
        distinct count blows the dictionary cap) prunes on exact-negative
        membership instead of reading the table.

        Bounded like the dictionary job: the distinct-count gate
        (``n <= bloom_bits / 8``, ~2% fpp at the boundary with BLOOM_K
        probes) comes FREE from the stats job's approx_count_distinct;
        the build job's aggregation state per (file, column) is the SET
        OF BIT POSITIONS, capped at ``bloom_bits`` regardless of row
        count. Sidecar bitmaps (bloom_bits/8 bytes) are staged like data
        files — written before the commit race, referenced by the entry
        only if the commit wins, reclaimed by vacuum() otherwise. The
        log entry carries only {path, m, k, dtype} per (file, column).

        Positions are ``pmod(xxhash64(value, i), m)`` — k chained JVM
        xxhash64 evals, whole-stage-codegen, no Python at write time;
        the probe side replays them bit-exactly in pure Python
        (functions/hashing.py), so no Spark job runs during metadata
        pruning. A candidate file whose column is ALL NULL produces an
        all-zero bitmap (sound: IN never matches null), pruning it for
        every probe even without null facts."""
        from pyspark.sql import functions as F

        gate = self.bloom_bits // 8
        cand = {
            c: [r["_f"] for r in rows if r[f"_n_{c}"] <= gate] for c in bpresent
        }
        # (file, col) pairs FAILING the gate record an explicit None
        # marker: a saturated bloom prunes nothing, and the marker is
        # what lets analyze_table's coverage check converge instead of
        # rescanning gated-off files forever
        out: dict = {}
        for c in bpresent:
            ok = set(cand[c])
            for r in rows:
                if r["_f"] not in ok:
                    out.setdefault(norm(r["_f"]), {})[c] = None
        cand = {c: fs for c, fs in cand.items() if fs}
        if not cand:
            return out
        m, k = self.bloom_bits, BLOOM_K
        if fused:
            # positions already rode the stats aggregate (one job for
            # the whole facts pass): union the k per-hash sets per
            # (file, column) driver-side — bounded by the fuse's total-
            # bytes gate. All-null columns yield empty sets → the same
            # all-zero bitmap the two-job plan writes.
            pending = []
            for c, fs in cand.items():
                ok = {_uri_to_path(f) for f in fs}
                for r in rows:
                    if _uri_to_path(r["_f"]) not in ok:
                        continue
                    ps: set = set()
                    for i in range(k):
                        ps.update(r[f"_bp_{i}_{c}"] or [])
                    pending.append((norm(r["_f"]), c, sorted(ps)))
        else:
            brows = self._bloom_job(cand, m, k).collect()
            got = {(norm(r["_f"]), r["_c"]) for r in brows}
            pending = [(norm(r["_f"]), r["_c"], r["_ps"]) for r in brows]
            for c, fs in cand.items():  # all-null candidates: empty bitmap
                pending.extend(
                    (norm(f), c, []) for f in fs if (norm(f), c) not in got
                )
        bloom_dir = os.path.join(self.data_dir, "_bloom")
        os.makedirs(bloom_dir, exist_ok=True)
        for f, c, ps in pending:
            bm = bytearray(m // 8)
            for p in ps:
                bm[p >> 3] |= 1 << (p & 7)
            path = os.path.join(bloom_dir, f"{uuid.uuid4().hex}-{c}.bf")
            self.blob.put(path, bytes(bm))
            out.setdefault(f, {})[c] = {
                "path": path,
                "m": m,
                "k": k,
                "dtype": types[c],
            }
        return out

    def _bloom_job(self, cand: dict[str, list[str]], m: int, k: int) -> DataFrame:
        """The bloom-position aggregate: per candidate column, hash its
        non-null values k ways (chained xxhash64, JVM-side), explode to
        (file, column, position) and collect the DISTINCT position set
        per (file, column) — the aggregation buffer is bounded by ``m``
        bits' worth of ints, never by row count. Gating is per (file,
        column) exactly like ``_dict_job``. Exposed as a seam so tests
        can pin the plan (no Python stage, positions bounded)."""
        from pyspark.sql import functions as F

        parts = []
        for c, fs in cand.items():
            pos = F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(c), F.lit(i)), F.lit(m).cast("long")
                    ).cast("int")
                    for i in range(k)
                ]
            )
            bfiles = sorted({_uri_to_path(f) for f in fs})
            parts.append(
                (
                    self._raw_read(bfiles)
                    if self.type_widening
                    else self.spark.read.parquet(*bfiles)
                )
                .where(F.col(c).isNotNull())
                .select(
                    F.input_file_name().alias("_f"),
                    F.lit(c).alias("_c"),
                    F.explode(pos).alias("_p"),
                )
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.groupBy("_f", "_c").agg(F.collect_set("_p").alias("_ps"))

    def _meta_dict(self) -> dict:
        out = {
            "key_cols": self.key_cols,
            "n_buckets": self.n_buckets,
            "order_col": self.order_col,
        }
        if self.column_mapping:
            out["column_mapping"] = dict(self.column_mapping)
        if self.dropped_cols:
            out["dropped_columns"] = list(self.dropped_cols)
        if self.type_widening:
            out["type_widening"] = dict(self.type_widening)
        return out

    def _refresh_meta(self, version: int | None) -> None:
        """Adopt the layout recorded AT ``version`` before any operation
        that buckets rows — a long-lived handle must notice an
        out-of-band ``rebucket`` or column rename/drop (the log, not the
        constructor, owns layout AND naming). Key/order changes are
        never safe to adopt silently."""
        meta = resolve_table_meta(self, version)
        if meta is None:
            return  # legacy log: constructor intent stands
        if list(meta["key_cols"]) != self.key_cols or meta["order_col"] != self.order_col:
            raise ValueError(
                f"recorded key_cols/order_col {meta['key_cols']}/{meta['order_col']} "
                f"differ from this handle's {self.key_cols}/{self.order_col}"
            )
        self.n_buckets = int(meta["n_buckets"])
        self.column_mapping = dict(meta.get("column_mapping") or {})
        self.dropped_cols = list(meta.get("dropped_columns") or [])
        self.type_widening = dict(meta.get("type_widening") or {})

    # ---- column mapping (rename/drop without rewriting files) -----------

    def _mapping_at(self, version: int | None) -> tuple[dict, list]:
        """(logical→physical mapping, dropped physical names) recorded AT
        ``version`` — versioned like the bucket layout, so time travel to
        a pre-rename version reads under the names of that era."""
        meta = resolve_table_meta(self, version)
        if meta is None:
            return {}, []
        return dict(meta.get("column_mapping") or {}), list(
            meta.get("dropped_columns") or []
        )

    def _to_logical(self, df: DataFrame, version: int | None = None) -> DataFrame:
        """Present a PHYSICAL DataFrame (file column names) under the
        logical names of ``version``: drop dropped physical columns,
        rename mapped ones. Identity for unmapped tables — the zero-cost
        default every pre-mapping table stays on."""
        mapping, dropped = self._mapping_at(version)
        if not mapping and not dropped:
            return df
        cols = set(df.columns)
        for p in dropped:
            if p in cols:
                df = df.drop(p)
                cols.discard(p)
        for logical, physical in mapping.items():
            if physical in cols and logical != physical:
                df = df.withColumnRenamed(physical, logical)
        return df

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Map an incoming LOGICAL batch to physical file names under the
        CURRENT mapping. Loud on the two silent-aliasing traps: a batch
        carrying both a logical name and its physical target, and a
        batch re-introducing a DROPPED physical column (whose old data
        still lives in unrewritten files and would resurrect)."""
        self._refresh_meta(None)
        cols = set(df.columns)
        for p in self.dropped_cols:
            if p in cols:
                raise ValueError(
                    f"column {p!r} was dropped from this table; its data "
                    "still exists in unrewritten files, so re-adding the "
                    "same physical name would resurrect it — pick a new "
                    "name (rename_column) or rewrite the table first"
                )
        for logical, physical in self.column_mapping.items():
            if logical in cols:
                if physical in cols:
                    raise ValueError(
                        f"batch carries both logical {logical!r} and its "
                        f"physical target {physical!r}"
                    )
                df = df.withColumnRenamed(logical, physical)
        if self.type_widening:
            from pyspark.sql import functions as F

            cols = set(df.columns)
            for p, typ in self.type_widening.items():
                if p in cols:
                    # incoming batches are born WIDE, so every staged file
                    # from now on carries the widened type and rewrites
                    # migrate the table lazily
                    df = df.withColumn(p, F.col(p).cast(typ))
        return df

    def _phys_name(self, col: str, version: int | None = None) -> str:
        mapping, _ = self._mapping_at(version)
        return mapping.get(col, col)

    # ---- type widening (grow a column's type without rewriting files) ----

    def _widening_at(self, version: int | None) -> dict:
        """{physical name: widened simpleString type} recorded AT
        ``version`` — versioned like the column mapping, so time travel
        to a pre-widen version reads the narrow type of that era."""
        meta = resolve_table_meta(self, version)
        if meta is None:
            return {}
        return dict(meta.get("type_widening") or {})

    def widen_column(self, name: str, new_type: str) -> int:
        """Widen a column's type as ONE metadata commit — no file
        rewrite (Delta type widening / Iceberg schema evolution).
        Allowed promotions are the ones every stored value survives
        exactly: tinyint→smallint→int→bigint, float→double, and
        decimal(p,s)→decimal(p+k,s). Files keep their narrow bytes;
        reads cast at the API boundary, incoming batches are cast
        before staging (so new files are born wide and rewrites migrate
        the table lazily), and SKIPPING FACTS survive unchanged because
        ``_stat_norm`` already collapses every numeric type into one
        comparable domain — a pre-widen file's stats still prune
        post-widen probes, and a pre-widen bloom sidecar still answers
        probes under its own recorded dtype (out-of-domain probes are
        provably absent). Key columns are refused: the bucket layout
        hashes the key's BYTES, and Spark hashes int (4-byte) and
        bigint (8-byte) differently — widening a key would scatter
        every file's rows across foreign buckets. At 100 TB this is a
        JSON write where `ALTER COLUMN TYPE` classically rewrites the
        table."""

        def mutate():
            self._refresh_meta(None)
            logicals = set(self._logical_columns())
            if name not in logicals:
                raise ValueError(f"no such column {name!r} (have {sorted(logicals)})")
            phys = self._phys_name(name)
            if phys in self.key_cols:
                raise ValueError(
                    f"cannot widen key column {name!r}: bucket hashing is "
                    "width-sensitive (int and bigint hash differently), so a "
                    "widened key would scatter rows across foreign buckets — "
                    "use widen_key(), which widens and re-buckets as ONE "
                    "planned rewrite commit"
                )
            sj = _resolve_schema_json(self, self.latest_version())
            ftypes = {}
            for f in (sj or {}).get("fields", []):
                t = f["type"]
                ftypes[f["name"]] = t if isinstance(t, str) else None
            eff = self.type_widening.get(phys, ftypes.get(phys))
            if not _widen_allowed(eff, new_type):
                raise ValueError(
                    f"cannot widen {name!r} from {eff!r} to {new_type!r}: only "
                    "the integer chain, float->double, and same-scale decimal "
                    "precision growth are metadata-safe"
                )
            self.type_widening[phys] = new_type
            # record a VERIFIED union schema with the alter: post-widen
            # reads use an explicit schema (mergeSchema refuses mixed
            # widths), which silently drops any live-file column the
            # record misses — a possibility on pre-monotone logs. One
            # footer-merge over the live files closes it (the files are
            # all readable together exactly because nothing is widened
            # mid-flight on THEM); if a prior widen already mixed
            # widths, the record has been a verified union since then.
            live = resolve_with_checkpoint(self, self.latest_version())
            try:
                sj = self.spark.read.option("mergeSchema", "true").parquet(*live).schema.jsonValue() if live else None
            except Exception:
                sj = None  # widths already mixed: record is already a union
            base_sj = _resolve_schema_json(self, self.latest_version())
            if sj is not None:
                merged = _schema_union(base_sj, sj)
            else:
                merged = base_sj
            return {"schema": merged} if merged is not None else None

        return self._commit_alter(mutate)

    def _logical_columns(self) -> list[str]:
        sj = _resolve_schema_json(self, self.latest_version())
        phys = [f["name"] for f in (sj or {}).get("fields", [])]
        self._refresh_meta(None)
        rev = {p: l for l, p in self.column_mapping.items()}
        return [
            rev.get(p, p) for p in phys if p not in set(self.dropped_cols)
        ]

    def _commit_alter(self, mutate) -> int:
        """Commit one metadata mutation with lost-update protection:
        ``mutate()`` must RE-RESOLVE the table meta (``_refresh_meta``)
        and re-apply the intended change on top of whatever it finds —
        it is re-invoked after every lost version race, so an alter that
        races a rename/drop/rebucket commits the WINNER's meta plus this
        mutation instead of silently reverting the winner's change (and
        a mutation the winner made impossible raises loudly inside
        ``mutate`` instead of committing garbage). ``mutate`` may return
        a dict of extra entry fields (widen records the verified union
        schema)."""

        def build(_):
            extra = mutate()
            return {"mode": "alter", "table_meta": self._meta_dict(), **(extra or {})}

        return self._publish(self.latest_version(), build, still_valid=lambda _: True)

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column as ONE metadata commit — no file rewrite
        (Delta column mapping, name mode / Iceberg schema evolution).
        The files keep their physical names forever; the log's
        ``column_mapping`` translates at the API boundary: reads present
        logical names, incoming batches are accepted under them, and
        skipping-fact probes translate before fact lookup. Versioned
        like the bucket layout — time travel to a pre-rename version
        reads under the old name. At 100 TB this is the difference
        between a JSON write and rewriting the table to change a
        header."""
        from cdc_streaming_pipeline_spark.schemas import DELETED_COL, OP_COL

        def mutate():
            # re-run the whole validate+apply on FRESH meta: _commit_alter
            # re-invokes this after a lost race, so a concurrent alter's
            # change survives and a now-impossible rename raises
            self._refresh_meta(None)
            logicals = set(self._logical_columns())
            if old not in logicals:
                raise ValueError(f"no such column {old!r} (have {sorted(logicals)})")
            sj = _resolve_schema_json(self, self.latest_version())
            phys_cols = {f["name"] for f in (sj or {}).get("fields", [])}
            reserved = {OP_COL, DELETED_COL, self.order_col, "_is_deleted"}
            if (
                new in logicals
                or new in phys_cols
                or new in self.dropped_cols
                or new in reserved
            ):
                raise ValueError(
                    f"target name {new!r} collides with an existing logical, "
                    "physical, dropped, or bookkeeping column"
                )
            phys = self._phys_name(old)
            if phys in [self._phys_name(k) for k in self.key_cols]:
                # key columns may be renamed: bucketing keys on the
                # PHYSICAL name, which does not change
                pass
            self.column_mapping.pop(old, None)
            self.column_mapping[new] = phys

        return self._commit_alter(mutate)

    def drop_column(self, name: str) -> int:
        """Drop a column as ONE metadata commit — files keep the bytes
        (Delta's drop under column mapping is identical); reads stop
        projecting it, vacuum-by-rewrite reclaims the space eventually.
        Re-introducing the same PHYSICAL name is refused loudly (the
        unrewritten data would resurrect); key/order columns cannot be
        dropped."""
        def mutate():
            self._refresh_meta(None)
            logicals = set(self._logical_columns())
            if name not in logicals:
                raise ValueError(f"no such column {name!r}")
            phys = self._phys_name(name)
            if phys in self.key_cols or phys == self.order_col:
                raise ValueError(f"cannot drop key/order column {name!r}")
            self.column_mapping.pop(name, None)
            if phys not in self.dropped_cols:
                self.dropped_cols.append(phys)

        return self._commit_alter(mutate)

    @contextlib.contextmanager
    def _layout_change(self, n_buckets: int, type_widening: dict):
        """Adopt a new layout on this handle for the staging and the
        ``table_meta`` of one commit, published with the ``landed``
        callback this yields. If anything fails before that commit lands
        (a lost race included), the handle's fields go back to the
        layout the log still records; a failure after it lands (the
        checkpoint write) keeps the new one, which the log now records."""
        old = self.n_buckets, self.type_widening
        self.n_buckets, self.type_widening = n_buckets, type_widening
        done: list[int] = []
        try:
            yield done.append
        except BaseException:
            if not done:
                self.n_buckets, self.type_widening = old
            raise

    def rebucket(self, new_n_buckets: int, rewrite: bool = True) -> int:
        """Change the table's bucket count — the layout-evolution
        maintenance op (Delta/Iceberg partition evolution, bucket
        edition), in two flavors:

        ``rewrite=True`` (any count): rewrite the CURRENT snapshot
        bucket-pure under the new count and commit remove-all+add with
        the new ``table_meta``. One full-table rewrite, paid explicitly.

        ``rewrite=False`` (LAZY — new count must be a multiple of every
        live file's write-time layout, enforced): a METADATA-ONLY
        commit. No data moves; pruning stays exact through the covering
        rule (a file tagged b under divisor layout n holds exactly the
        keys whose new bucket t has t % n == b — pmod arithmetic, since
        n | N), every subsequent merge migrates the buckets it touches
        as a side effect of its normal rewrite, and ``migrate_buckets``
        finishes the long tail in bounded steps. This is the 100 TB
        form: the full rewrite is one enormous transaction there, while
        the lazy path costs one tiny JSON now and amortizes the rewrite
        into writes that were happening anyway. A merge racing the
        metadata commit retries safely — its staged files record their
        own (divisor) layout, so they stay exactly prunable under the
        new count.

        Every prior version stays readable either way (their file lists
        are pinned; bucket math only matters to writers), and other
        processes' handles refresh meta per operation."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError("rebucket of an uninitialized table")
        self._refresh_meta(base)
        if new_n_buckets == self.n_buckets:
            return base
        if not rewrite:
            # restrict to LIVE files' layouts: the accumulated layout map
            # keeps entries for files added-then-removed since the
            # checkpoint, and a dead file's layout must not veto a count
            # every live file actually permits
            pinned = snapshot(self, base)
            live_layouts = {
                pinned.layouts.get(f, self.n_buckets) for f in pinned.files
            } | {self.n_buckets}
            bad = [n for n in live_layouts if new_n_buckets % n != 0]
            if bad:
                raise ValueError(
                    f"lazy rebucket to {new_n_buckets} needs a multiple of "
                    f"every live layout; offending layouts: {sorted(bad)} "
                    "(use rewrite=True for arbitrary counts)"
                )
            with self._layout_change(new_n_buckets, self.type_widening) as landed:
                entry = {
                    "mode": "rebucket",
                    "file_buckets": {},
                    "table_meta": self._meta_dict(),
                }
                return self._publish(base, lambda _: entry, landed=landed)
        snap = resolve_with_checkpoint(self, base)
        df = self._read_snapshot_files(snap, base)
        from cdc_streaming_pipeline_spark.operators.merge import BUCKET_COL

        # _stage_bucketed hashes with the new count
        with self._layout_change(new_n_buckets, self.type_widening) as landed:
            return self._publish_rewrite(base, df.drop(BUCKET_COL), snap, landed)

    def _publish_rewrite(
        self, base: int, df: DataFrame, removes: list[str], landed
    ) -> int:
        """Stage ``df`` bucket-pure under the handle's layout and commit
        it as a ``rebucket`` entry replacing ``removes`` — the whole-table
        rewrite ``rebucket`` and ``widen_key`` share, ``landed`` being
        their ``_layout_change`` callback. One attempt: the read set is
        the whole table."""
        adds, buckets = self._stage_bucketed(df, salt_n=1)
        entry = {
            "mode": "rebucket",
            **self._add_facts(adds, buckets),
            "removes": sorted(removes),
            "buckets": sorted(set(buckets.values())),
            "schema": df.schema.jsonValue(),
            "table_meta": self._meta_dict(),
            **self._staged_skipping_facts(adds, df.columns),
        }
        return self._publish(base, lambda _: entry, landed=landed)

    def widen_key(
        self, name: str, new_type: str, n_buckets: int | None = None
    ) -> int:
        """Widen a KEY column's type as ONE planned operation — the
        migration ``widen_column`` refuses (bucket hashing is
        width-sensitive: Spark hashes an int's 4 bytes and a bigint's 8
        bytes differently, so a metadata-only widen would strand every
        stored row in a foreign bucket). This verb pays the rewrite
        explicitly and atomically: the current snapshot is read (vectors
        applied — the output is born clean), the key cast wide, and the
        whole table re-staged bucket-pure under the WIDE hash, committed
        as one remove-all+add entry with the widening recorded in
        ``table_meta`` so every future batch's key is cast wide BEFORE
        it hashes (``_to_physical``) — post-migration merges prune to
        exactly their touched buckets again. Optional ``n_buckets``
        changes the bucket count in the same rewrite (the rewrite is
        being paid anyway). Time travel to pre-widen versions still
        reads the narrow era exactly; a writer racing the rewrite
        conflicts loudly (``ConcurrentWriteError``) rather than
        committing files under a stale layout. At 100 TB this is the one
        schema change that genuinely costs a table rewrite — the verb
        makes that cost a single planned transaction instead of a
        hand-assembled widen+rebucket recipe."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError("widen_key of an uninitialized table")
        self._refresh_meta(base)
        phys = self._phys_name(name)
        if phys not in self.key_cols:
            raise ValueError(
                f"{name!r} is not a key column — widen_column() handles "
                "non-key columns as a pure metadata commit"
            )
        sj = _resolve_schema_json(self, base)
        ftypes = {
            f["name"]: (f["type"] if isinstance(f["type"], str) else None)
            for f in (sj or {}).get("fields", [])
        }
        eff = self.type_widening.get(phys, ftypes.get(phys))
        if not _widen_allowed(eff, new_type):
            raise ValueError(
                f"cannot widen {name!r} from {eff!r} to {new_type!r}: only "
                "the integer chain, float->double, and same-scale decimal "
                "precision growth are value-preserving"
            )
        from pyspark.sql import functions as F

        from cdc_streaming_pipeline_spark.operators.merge import BUCKET_COL

        snap = resolve_with_checkpoint(self, base)
        df = self._read_snapshot_files(snap, base).drop(BUCKET_COL)
        df = df.withColumn(phys, F.col(phys).cast(new_type))
        with self._layout_change(
            self.n_buckets if n_buckets is None else n_buckets,
            {**self.type_widening, phys: new_type},  # future batches hash WIDE
        ) as landed:
            return self._publish_rewrite(base, df, snap, landed)

    def migrate_buckets(self, max_files: int | None = None) -> tuple[int | None, int]:
        """Finish a lazy rebucket eagerly, in bounded steps: rewrite up
        to ``max_files`` live files whose write-time layout differs from
        the current one, bucket-pure under the current count. Returns
        (version, files migrated) — (None, 0) when the table is fully
        migrated. Each step is one per-file-replacement commit with the
        same conflict rule as a merge (``_read_set_intact``: the files it
        rewrites, with the vectors it read them with, and the buckets it
        writes), so it interleaves with disjoint writers; run it from the
        maintenance window (or let ordinary merges migrate the hot
        buckets for free)."""
        base = self.latest_version()
        if base is None:
            return None, 0
        self._refresh_meta(base)
        pinned = snapshot(self, base)
        stale = [
            f
            for f in pinned.files
            if pinned.layouts.get(f, self.n_buckets) != self.n_buckets
        ]
        if max_files is not None:
            stale = stale[:max_files]
        if not stale:
            return None, 0
        from cdc_streaming_pipeline_spark.operators.merge import BUCKET_COL

        df = self._read_snapshot_files(stale, base).drop(BUCKET_COL)
        adds, buckets = self._stage_bucketed(df, salt_n=1)
        entry = {
            "mode": "migrate",
            **self._add_facts(adds, buckets),
            "removes": sorted(stale),
            "buckets": sorted(set(buckets.values())),
            **self._staged_skipping_facts(adds, df.columns),
        }
        return self._publish_partial(base, pinned, stale, entry, df), len(stale)

    def _publish_partial(
        self, base: int, pinned: Snapshot, files: list[str], entry: dict, df: DataFrame
    ) -> int:
        """Commit ``entry``, which replaces ``files`` (read at
        ``pinned``) with ``df`` staged into the buckets it records,
        under a merge's rules: the recorded schema stays monotone, and a
        lost race retries iff the merge's file-granular rule holds over
        that read set."""
        ours = set(files)
        dv_read = {f: m for f, m in pinned.dvs.items() if f in ours}
        touched = set(entry["buckets"])
        return self._publish(
            base,
            self._monotone(entry, df.schema.jsonValue()),
            still_valid=lambda new: self._read_set_intact(new, ours, dv_read, touched),
        )

    def _read_set_intact(
        self, new: Snapshot, ours: set[str], dv_read: dict, touched: set[int]
    ) -> bool:
        """A merge that lost the version race may retry on top of ``new``
        iff the interleaved commits changed nothing in ITS buckets:

        - every file of its read set ``ours`` is still live, with the
          vector it was read with (``dv_read``) — a concurrent
          delete_where on OUR files changes their visible rows in place,
          and retrying would resurrect the concurrently-deleted rows;
        - no foreign file landed in a ``touched`` bucket, by the
          layout-SYMMETRIC overlap test (gcd rule): a racing lazy
          rebucket can land foreign files under a LARGER layout n' than
          this handle's N, where a one-sided ``t % n' == tag`` test
          misses true overlaps (N=8, t=3 vs n'=16, tag=11) and both
          writers would commit images of the same key;
        - no foreign file WITHOUT a bucket tag appeared (a plain
          commit()/compact interleaved): it may hold rows of any bucket
          including ours — the rule the merge-start path applies to
          untagged snapshots — else the merged buckets coexist with its
          rows and read_state() surfaces duplicate/stale keys."""
        live = set(new.files)
        return (
            ours <= live
            and all(new.dvs.get(f) == dv_read.get(f) for f in ours)
            and not any(
                f not in ours
                and (
                    f not in new.buckets
                    or any(
                        _bucket_overlap(
                            t,
                            self.n_buckets,
                            new.buckets[f],
                            new.layouts.get(f, self.n_buckets),
                        )
                        for t in touched
                    )
                )
                for f in live
            )
        )

    def merge_cdc_batch(
        self,
        batch: DataFrame,
        txn: tuple[str, int] | None = None,
    ) -> tuple[int, list[int]]:
        """Merge one CDC batch, rewriting ONLY its touched buckets as one
        atomic log entry (copy-on-write): the merge kernel with every
        touched bucket folded. Returns (committed version, touched
        buckets).

        Metadata cost is O(commits-since-checkpoint): the snapshot,
        bucket map, and txn state resolve through the newest checkpoint
        (``snapshot``), and every
        ``checkpoint_interval``-th merge writes the next checkpoint — so
        at CDC cadence (a merge per minute for a year ≈ 500k commits)
        each merge reads a bounded log suffix, not the whole history.

        ``txn=(writer_id, epoch)`` is the exactly-once idempotence tag
        (Delta's txn action) for streaming foreachBatch sinks: if this
        writer's recorded epoch is already >= ``epoch`` the replayed
        batch is a NO-OP returning the recorded commit version — a
        micro-batch replayed after a streaming restart lands zero
        duplicate rows. Epochs must be monotonic per writer (Structured
        Streaming's batchId contract)."""
        return self._merge(batch, txn, fold_rule="all")

    def merge_cdc_batch_mor(
        self,
        batch: DataFrame,
        txn: tuple[str, int] | None = None,
        max_dv_fraction: float | None = None,
    ) -> tuple[int, list[int]]:
        """Merge-on-read MERGE (Delta's DV-backed MERGE): apply one CDC
        batch by deletion-vectoring the stored images of the BATCH'S
        KEYS and appending their new winners as bucket-pure files — ONE
        commit. Write amplification drops from O(touched-bucket bytes)
        (``merge_cdc_batch`` rewrites every touched bucket's files) to
        O(batch keys' rows): at 100 TB a 64-bucket-spread trickle batch
        stops re-writing 1/1 of a 64-bucket table per merge and writes
        kilobytes instead. The scan side is unchanged (the touched
        buckets' files are still read to find the stored images); the
        rewrite side is what MoR removes — and the maintenance fold
        (compaction absorbs vectors + folds small postimage files)
        keeps sustained MoR ingest bounded, exactly the Delta
        lifecycle.

        ``max_dv_fraction`` turns on the per-bucket copy-on-write vs
        merge-on-read cost rule (Delta's trade, made per bucket and per
        batch). A touched bucket is rewritten whole inside this commit —
        all its DV-applied rows, bloom-skipped files included, merged
        with the batch and staged the way ``merge_cdc_batch`` stages a
        bucket, its files removed instead of vectored — when either

        - the logged bytes of the files covering it are at most
          ``target_file_bytes`` (a file the log has no size for counts
          as large): decided before the stored-image scan, so a small
          bucket costs no scan, bloom probe or vector staging, and a
          batch touching only small buckets scans nothing. The
          threshold is the output-file target, not a fitted crossover:
          ``tools/cow_mor_crossover.py`` measures where a rewrite stops
          costing less than vectors on a given host; or
        - once this merge's vectors land, it holds a file over the
          DV-debt threshold (``dv_debt_files``, each file scored with
          its prior vector plus the rows this merge would vector).

        Other touched buckets keep vectors plus appended postimages. The
        batch still lands as ONE log version, so a streaming sink needs
        no second fold commit. ``None`` (the default) keeps the
        pure-MoR commit whatever the bucket sizes.

        Semantics are IDENTICAL to ``merge_cdc_batch`` (the same kernel
        under another fold rule): per key the greatest ``order_col``
        wins among (stored image, batch events), tombstones are stored
        (a stale replay still loses), schema drift unions. Even a
        stale-only batch re-appends the unchanged winner (correct,
        slightly wasteful — the change feed emits NOTHING for it because
        pre- and post-image compare equal).

        Conflict rule is merge's file-granular rule PLUS the DV rule:
        retry after a lost race only if the read set (the scanned files
        of the touched buckets plus every file a fused fold removes) is
        still live with unchanged vectors, no foreign file landed in our
        buckets, and no untagged foreign commit appeared.

        Returns (version, touched buckets); replayed ``txn`` batches
        no-op exactly like the rewrite path."""
        return self._merge(batch, txn, fold_rule=max_dv_fraction)

    def _merge(
        self,
        batch: DataFrame,
        txn: tuple[str, int] | None,
        fold_rule: float | str | None,
    ) -> tuple[int, list[int]]:
        """The one CDC merge behind ``merge_cdc_batch`` and
        ``merge_cdc_batch_mor``. ``fold_rule`` picks the touched buckets
        rewritten whole (files removed, DV-applied rows restaged):

        - ``"all"`` folds every one (copy-on-write, mode ``"merge"``);
        - a fraction is the per-bucket copy-on-write vs merge-on-read
          cost rule of ``merge_cdc_batch_mor``: a bucket whose files'
          logged bytes fit in ``target_file_bytes`` is folded (decided
          from the pinned snapshot, before the stored-image scan), and
          so is one holding a file over that DV-debt threshold once
          this merge's vectors land (decided after the scan);
        - ``None`` folds none (pure merge-on-read).

        A bucket not folded keeps its files: the stored images of the
        batch's keys are deletion-vectored and their winners appended
        (mode ``"merge_mor"``)."""
        from cdc_streaming_pipeline_spark.operators.cdc import latest_state
        from cdc_streaming_pipeline_spark.operators.merge import (
            BUCKET_COL,
            touched_buckets,
            with_key_bucket,
        )
        from pyspark.sql import functions as F

        fold_all = fold_rule == "all"
        mode = "merge" if fold_all else "merge_mor"
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(
                "merge into an uninitialized table; call init_from_events"
            )
        self._refresh_meta(base)  # adopt an out-of-band rebucket's layout
        batch = self._to_physical(batch)
        pinned = snapshot(self, base)
        snap, bmap = pinned.files, pinned.buckets
        done = pinned.applied(txn)
        if done is not None:
            return done, []  # replayed micro-batch: already applied
        probe_keys, trickle = None, False
        if not fold_all:
            # the key probe feeds the stored-image scan's bloom pruning.
            # One capped collect yields both the touched buckets and the
            # leading-key values, so a trickle merge pays one tiny job
            # instead of two (touched_buckets plus a key collect). Raw
            # rows first (no distinct, so no exchange, and CollectLimit
            # exits early): a trickle batch resolves in one narrow job
            # and Python dedups.
            cap, key0 = 4096, self.key_cols[0]
            kb = with_key_bucket(
                batch.select(*self.key_cols), self.key_cols, self.n_buckets
            ).select(key0, BUCKET_COL)
            probe = kb.limit(cap + 1).collect()
            trickle = len(probe) <= cap
            if trickle:
                touched = {int(r[BUCKET_COL]) for r in probe}
                probe_keys = list({r[key0] for r in probe})
            elif len({r[key0] for r in probe}) <= cap:
                # a mid-size batch retries grouped by the leading key.
                # The cap counts DISTINCT key0 values, not (key0, bucket)
                # pairs: a composite key hashes one key0 into many
                # buckets, so the pair count could pass the cap while
                # the key0 set fits. Each group carries its bucket set,
                # so one job still yields both outputs.
                grouped = (
                    kb.groupBy(key0)
                    .agg(F.collect_set(BUCKET_COL).alias("_bkts"))
                    .limit(cap + 1)
                    .collect()
                )
                if len(grouped) <= cap:
                    touched = {int(b) for r in grouped for b in r["_bkts"]}
                    probe_keys = [r[key0] for r in grouped]
        if probe_keys is None:
            # a fold-all merge (no scan to feed), or a batch past the
            # probe cap (the cap+1 sampled rows already hold more
            # distinct key0 values, the bulk-load shape, or the grouped
            # retry blew it): one distinct-bucket job, no bloom pruning
            touched = set(touched_buckets(batch, self.key_cols, self.n_buckets))
        if not touched:
            return base, []
        untagged = [f for f in snap if f not in bmap]
        if untagged:
            raise ValueError(
                f"{len(untagged)} snapshot files carry no bucket tag — not a "
                "bucket-pure table (mixed with plain commits?)"
            )
        bucket_files = self._covering_files(pinned, snap, touched, lambda fs: True)
        # the copy-on-write half of the fold rule, decided before any
        # scan. tools/cow_mor_crossover.py measures both merges by
        # bucket size: on 4 vCPUs and local disk a rewrite used less
        # CPU than the scan plus vectors up to ~15 MiB a bucket and
        # less wall up to ~7 MiB, and left later reads no anti-join;
        # it writes the bucket's bytes where vectors write kilobytes,
        # so on storage that charges for bytes written the crossover
        # sits lower
        if fold_all:
            fold = bucket_files
        elif fold_rule is None:
            fold = []
        else:
            sizes = pinned.bytes
            fold = self._covering_files(
                pinned,
                bucket_files,
                touched,
                lambda fs: sum(sizes.get(f, math.inf) for f in fs)
                <= self.target_file_bytes,
            )
        # the stored-image scan covers the files no fold rewrites
        cow = set(fold)
        kept = [f for f in bucket_files if f not in cow]
        # Bloom-assisted scan pruning: bucket overlap bounds the files
        # that COULD hold the batch's keys; when the leading key column
        # carries bloom sidecars and the key set is small (the CDC
        # trickle case — the reference's per-row UPDATE workload), skip
        # every candidate file whose sidecar PROVES it holds none of
        # them. Sound because a skipped file contributes no stored
        # image to DV and no rows to the winners; a sustained-MoR
        # bucket with many postimage files then costs a point merge
        # one file, not the bucket. ``old`` is the scanned set; the
        # debt half below still scores and folds over all of ``kept``.
        cmap, key0 = self.column_mapping or {}, self.key_cols[0]
        prune = bool(kept) and probe_keys is not None and key0 in {
            cmap.get(c, c) for c in self.bloom_cols or []
        }
        # key values come from the fused probe above — no second batch job
        vals = [_dict_norm(v) for v in probe_keys] if prune else []
        blooms = pinned.blooms
        old = [
            f
            for f in kept
            if not (
                prune
                and (bf := blooms.get(f, {}).get(key0))
                and _bloom_pruned(bf, vals, self.blob)
            )
        ]
        dvs = pinned.dvs
        old_set = set(old)
        dv_ours = {f: m for f, m in dvs.items() if f in old_set}
        if old:
            raw = self._raw_read(old, base)
            # threshold-gated: small prior vectors broadcast (keeps the
            # stored-image scan exchange-free), wide ones expand
            # executor-side — metadata-only decision
            rel = _dv_relation(self.spark, dv_ours, self.blob)

            def visible_keyed(frame: DataFrame) -> DataFrame:
                keyed = frame.withColumn("_dv_fp", _fp_key_col()).withColumn(
                    "_dv_ri", F.col("_metadata.row_index")
                )
                if rel is None:
                    return keyed
                return keyed.join(rel, ["_dv_fp", "_dv_ri"], "left_anti")

            df = visible_keyed(raw)
            # only the BATCH'S KEYS' stored images participate — the
            # whole point: untouched keys of the same bucket are never
            # rewritten (AQE broadcasts the key set when it is small).
            # A semi join ignores duplicate keys on its right side, so
            # the key set needs no distinct (one shuffle job saved)
            bkeys = batch.select(*self.key_cols)
            oldk = df.join(bkeys, self.key_cols, "left_semi").persist()
        else:
            oldk = None
        try:
            pairs = None
            if kept and fold_rule is not None:
                # the debt half: this merge's vectored rows per file,
                # before staging
                if oldk is None:
                    new_n = {}
                elif trickle:
                    # a trickle batch (one the raw-row probe held) bounds its
                    # stored images, so ONE plain collect (no limit: a
                    # capped take scans partitions in several jobs) both
                    # scores the fold and feeds the vector staging
                    pairs = oldk.select("_dv_fp", "_dv_ri").collect()
                    new_n = Counter(r["_dv_fp"] for r in pairs)
                else:
                    new_n = {
                        r["_dv_fp"]: r["n"]
                        for r in oldk.groupBy("_dv_fp")
                        .agg(F.count("*").alias("n"))
                        .collect()  # one row per scanned file
                    }
                deleted = {
                    f: dvs.get(f, {}).get("n", 0) + new_n.get(f, 0) for f in kept
                }
                dirty = dv_debt_files(deleted, pinned.nulls, fold_rule)
                if dirty:
                    fold = fold + self._covering_files(
                        pinned, kept, touched, lambda fs: not dirty.isdisjoint(fs)
                    )
            fold_set = set(fold)
            parts = []
            if oldk is not None:
                # a folded file's stored images also arrive with its
                # bucket's rows below: identical duplicates, which
                # latest_state collapses, so oldk needs no filter
                parts.append(oldk.drop("_dv_fp", "_dv_ri"))
            # a folded bucket's every DV-applied row is rewritten. Files
            # the stored-image scan read reuse its merged schema and
            # vector relation (no second footer-merge job or sidecar
            # load); files the scan did not read (the copy-on-write
            # buckets' and the bloom-skipped ones) go through the shared
            # snapshot read, where only vectored files pay the anti-join
            scanned = [f for f in fold if f in old_set]
            if scanned:
                fr = visible_keyed(self.spark.read.schema(raw.schema).parquet(*scanned))
                parts.append(fr.drop("_dv_fp", "_dv_ri"))
            skipped = [f for f in fold if f not in old_set]
            if skipped:
                parts.append(self._read_snapshot_files(skipped, base))
            merged = batch
            for p in parts:
                merged = p.unionByName(merged, allowMissingColumns=True)
            new_state = latest_state(
                merged,
                key_cols=self.key_cols,
                order_col=self.order_col,
                drop_deleted=False,
            )
            adds, buckets = self._stage_bucketed(
                new_state,
                salt_n=self._merge_salt_n(fold, len(touched), pinned.bytes),
                n_buckets_hint=len(touched),
            )
            staged_facts = self._staged_skipping_facts(adds, new_state.columns)
            # vectors only for the files that stay live: a folded file
            # is removed, so it gets no sidecar
            vectored = old_set - fold_set
            if vectored:
                dv_dir = os.path.join(self.data_dir, "_dv")
                os.makedirs(dv_dir, exist_ok=True)
                # oldk is cached and sized by the batch's keys, so the
                # threshold gate's capped collect is cheap; a trickle
                # merge stages its vectors driver-side (one Python job
                # saved), a bulk one stays executor-side
                prior = {f: m for f, m in dv_ours.items() if f in vectored}
                matched = oldk.select("_dv_fp", "_dv_ri")
                if fold:
                    matched = matched.filter(~F.col("_dv_fp").isin(fold))
                rows = _dv_stage(
                    matched,
                    {f: m["path"] for f, m in prior.items()},
                    dv_dir,
                    self.blob,
                    prior_n={f: m["n"] for f, m in prior.items()},
                    head=(
                        [r for r in pairs if r["_dv_fp"] in vectored]
                        if pairs is not None
                        else None
                    ),
                )
            else:
                rows = []
        finally:
            if oldk is not None:
                oldk.unpersist()
        entry = {
            "mode": mode,
            **self._add_facts(adds, buckets),
            "removes": sorted(fold),
            # a copy-on-write entry carries no vector facts at all
            **({} if fold_all else _dv_facts(rows)),
            # an old-layout folded file can carry rows of buckets
            # beyond the touched ones; record every bucket written
            "buckets": sorted(touched | set(buckets.values())),
            **staged_facts,
        }
        # the read set: scanned files plus every file the fold rewrites
        ours = old_set | fold_set
        dv_read = {f: m for f, m in dvs.items() if f in ours}
        v = self._publish(
            base,
            self._monotone(entry, new_state.schema.jsonValue()),
            txn=txn,
            # file-granular revalidation: a disjoint-bucket interleave
            # retries on the new head
            still_valid=lambda new: self._read_set_intact(new, ours, dv_read, touched),
        )
        return v, sorted(touched)

    def _covering_files(
        self, snap: Snapshot, files: list[str], touched: set[int], select
    ) -> list[str]:
        """COVERING-rule selection: the files of ``files`` that cover a
        touched bucket ``select`` picks, in ``files`` order.
        ``select(fs)`` sees the files of ``files`` covering one bucket.

        A file tagged ``b`` under write-time layout ``n`` holds exactly
        the keys whose CURRENT bucket t satisfies t % n == b (sound
        because lazy rebucket only moves to multiples of every live
        layout). Uniform-layout tables reduce to the plain tag test;
        mid-migration files written under an old divisor layout are
        still selected exactly, and a fold rewrites them under the
        current layout."""
        picked: set[str] = set()
        for t in touched:
            fs = [
                f
                for f in files
                if _bucket_overlap(
                    t, self.n_buckets, snap.buckets[f], snap.layouts.get(f, self.n_buckets)
                )
            ]
            if select(fs):
                picked.update(fs)
        return [f for f in files if f in picked]

    def compact_buckets(
        self,
        buckets: list[int] | None = None,
        min_files: int = 2,
        cluster_cols: list | None = None,
        cluster_parts: int | None = None,
    ) -> tuple[int | None, list[int]]:
        """Rewrite each selected bucket's files into ONE file — the
        maintenance pass that bounds the file-count growth salted
        merges trade for write parallelism (every salted merge adds up
        to salt_n files to its touched buckets; compaction folds them
        back). Default selection: every bucket currently holding >=
        ``min_files`` files. Logical content is unchanged; untouched
        buckets' files are untouched (same per-bucket replacement
        commit as a merge, so the conflict rule stays file-granular and
        a concurrent DISJOINT-bucket merge interleaves safely); every
        earlier version stays readable. Returns (version, compacted
        buckets) — (None, []) when nothing qualifies.

        ``cluster_cols`` turns the fold into the OPTIMIZE ZORDER analog:
        each rewritten bucket's rows are RANGE-split over the cluster
        columns into ~``cluster_parts`` total files (default sized from
        logged bytes / ``target_file_bytes``), so per-file [min, max]
        stats become narrow and ``read_state_where`` prunes INSIDE cold
        buckets — hash bucketing alone leaves every file's value range
        wide. Merges into a clustered bucket rewrite it unordered
        (salted), degrading its clustering until the next clustered
        compaction — the standard lakehouse maintenance cadence, here
        one opt-in argument on the pass that already runs."""
        base = self.latest_version()
        if base is None:
            return None, []
        self._refresh_meta(base)  # re-staging hashes with n_buckets
        pinned = snapshot(self, base)
        bmap, layouts = pinned.buckets, pinned.layouts
        per_bucket: dict[int, list[str]] = {}
        for f in pinned.files:
            tag = bmap.get(f)
            if tag is None:
                continue
            n = layouts.get(f, self.n_buckets)
            for t in range(tag % n, self.n_buckets, n):
                per_bucket.setdefault(t, []).append(f)
        targets = sorted(
            b
            for b, fs in per_bucket.items()
            if len(fs) >= min_files and (buckets is None or b in buckets)
        )
        if not targets:
            return None, []
        old = sorted({f for b in targets for f in per_bucket[b]})
        from cdc_streaming_pipeline_spark.operators.merge import BUCKET_COL

        df = self._read_snapshot_files(old, base).drop(BUCKET_COL)

        if cluster_cols and cluster_parts is None:
            sizes = pinned.bytes
            known = [sizes[f] for f in old if f in sizes]
            total = sum(known) if known else 0
            cluster_parts = max(
                len(targets), -(-total // self.target_file_bytes) if total else 1
            )
        adds, new_buckets = self._stage_bucketed(
            df, salt_n=1, cluster_cols=cluster_cols, cluster_parts=cluster_parts
        )
        entry = {
            "mode": "merge",  # per-bucket replacement: same replay rule
            **self._add_facts(adds, new_buckets),
            "removes": old,
            # an old-layout input file can carry rows of buckets beyond
            # the targets; record every bucket this commit rewrote
            "buckets": sorted(set(new_buckets.values()) | set(targets)),
            **self._staged_skipping_facts(adds, df.columns),
        }
        return self._publish_partial(base, pinned, old, entry, df), targets

    def _queryable_snapshot(self, version: int | None = None) -> DataFrame:
        """SQL sees the latest-state view: deletion vectors applied,
        tombstones filtered, column mapping resolved to logical names,
        CDC bookkeeping dropped."""
        return self.read_state(version)

    def read_state(self, version: int | None = None) -> DataFrame:
        """The queryable latest-state view: delete markers filtered, CDC
        bookkeeping columns dropped."""
        from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted
        from cdc_streaming_pipeline_spark.schemas import DELETED_COL, OP_COL
        from pyspark.sql import functions as F

        df = self._to_logical(self.read(version), version)
        df = mark_deleted(df) if "_is_deleted" not in df.columns else df
        drop = [c for c in (OP_COL, self.order_col, DELETED_COL, "_is_deleted") if c in df.columns]
        return df.filter(~F.col("_is_deleted")).drop(*drop)

    def read_state_where(
        self,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Data-skipping latest-state read: skip every file whose logged
        [min, max] for ``col`` cannot intersect [lo, hi], then apply the
        ``read_state`` view (tombstones filtered, bookkeeping dropped)
        and the residual predicate. Returns (df, files_read,
        files_total).

        EXACT despite the pruning because this table's files hold
        materialized latest rows with disjoint key sets (bucket-pure;
        merges replace whole files) — no cross-file shadowing exists for
        a pruned file to hide, unlike an LSM where a skipped file could
        mask a newer image. Files without stats for ``col`` (written by
        a stats-less handle, or by a narrow pre-drift batch) are read
        conservatively, so mixed writers stay exact. At 100 TB this is
        the difference between a selective dashboard predicate scanning
        one bucket's worth of files and scanning the table.

        Probe bounds are typed: Decimal and datetime/date bounds are
        normalized through the same encoding the writer used for the
        stats, numeric-looking string bounds coerce against numeric
        stats, and genuinely incomparable pairs raise TypeError instead
        of comparing raw (which would prune a DECIMAL column
        lexicographically)."""
        return self.read_state_pruned([(col, "between", lo, hi)], version)

    def read_state_where_in(
        self,
        col: str,
        values: list,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Equality/IN data-skipping latest-state read: skip every file
        whose recorded VALUE DICTIONARY for ``col`` is disjoint from
        ``values`` — the pruning ranges cannot do on categoricals (a
        status column's [min, max] spans the alphabet in every file).
        Files without a dictionary fall back to the [min, max] check
        against [min(values), max(values)]; files with neither are read.
        Exactness argument is ``read_state_where``'s; the dictionary
        earns its keep after ``compact_buckets(cluster_cols=[col])``
        makes files value-pure. Returns (df, files_read, files_total)."""
        if not values:
            raise ValueError("read_state_where_in needs at least one value")
        return self.read_state_pruned([(col, "in", values)], version)

    def read_state_pruned(
        self,
        predicates: list[tuple],
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Conjunctive multi-predicate data-skipping read: each predicate
        is ``(col, "between", lo, hi)`` (either bound None for an open
        side), ``(col, "in", values)``, ``(col, "isnull")`` or
        ``(col, "isnotnull")``; a file survives only if NO predicate can
        rule it out (range stats, value dictionaries, and per-file null
        counts, keep-sets intersected), then ALL residual filters apply
        — so a dashboard's `amount BETWEEN x AND y AND status = 'open'`
        prunes on stats AND dictionaries at once. Probe values pass
        through the writer's own typed normalization (Decimal /
        datetime / date / numeric-string coercion; incomparable pairs
        raise). Exactness argument unchanged: pruning only ever drops
        files that cannot contain a qualifying row. Returns
        (df, files_read, files_total)."""
        from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted
        from cdc_streaming_pipeline_spark.schemas import DELETED_COL, OP_COL
        from pyspark.sql import functions as F

        if not predicates:
            raise ValueError("read_state_pruned needs at least one predicate")
        snap = snapshot(self, version)
        files, version = snap.files, snap.version
        if not files:
            raise FileNotFoundError(f"no committed data at version {version}")
        # facts are keyed by PHYSICAL column names; probe columns arrive
        # logical — translate before fact lookup, keep the residual
        # filters on the logical frame
        normd = [
            _normalize_pred((self._phys_name(p[0], version),) + tuple(p[1:]))
            for p in predicates
        ]

        keep = [
            f
            for f in files
            if all(
                _pred_survives(
                    f, p, snap.stats, snap.dicts, snap.nulls, snap.blooms, self.blob
                )
                for p in normd
            )
        ]

        def residual(df):
            for pred in predicates:
                op = pred[1]
                if op == "between":
                    _, _, lo, hi = pred
                    if lo is not None:
                        df = df.filter(F.col(pred[0]) >= lo)
                    if hi is not None:
                        df = df.filter(F.col(pred[0]) <= hi)
                elif op == "in":
                    df = df.filter(F.col(pred[0]).isin(*pred[2]))
                elif op == "isnull":
                    df = df.filter(F.col(pred[0]).isNull())
                else:
                    df = df.filter(F.col(pred[0]).isNotNull())
            return df

        if not keep:
            return residual(self.read_state(version).filter(F.lit(False))), 0, len(files)
        df = self._to_logical(self._read_snapshot_files(keep, version), version)
        df = mark_deleted(df) if "_is_deleted" not in df.columns else df
        drop = [
            c
            for c in (OP_COL, self.order_col, DELETED_COL, "_is_deleted")
            if c in df.columns
        ]
        df = df.filter(~F.col("_is_deleted")).drop(*drop)
        return residual(df), len(keep), len(files)

    def _pruned_files(
        self, predicate, version: int | None
    ) -> tuple[list[str], list[str]]:
        """(surviving files, all snapshot files) for a plain Spark
        Column predicate — the ONE prune-tree evaluation shared by
        ``read_state_filtered``, ``delete_where`` and ``update_where``:
        walk the Column into a prune tree, translate probe columns to
        physical names, keep every file the facts cannot rule out."""
        snap = snapshot(self, version)
        files = list(snap.files)
        tree = _column_prune_tree(predicate)
        if tree is _TRUE or not files:
            return list(files), files
        ntree = _map_tree_cols(
            _normalize_tree(tree), lambda c: self._phys_name(c, snap.version)
        )
        keep = [
            f
            for f in files
            if _tree_survives(
                f, ntree, snap.stats, snap.dicts, snap.nulls, snap.blooms, self.blob
            )
        ]
        return keep, files

    def read_state_filtered(
        self,
        predicate,
        version: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """The pruned read behind a PLAIN SPARK COLUMN — the query-
        surface form of ``read_state_pruned``: walk the predicate's
        expression tree into a PRUNE TREE mirroring its AND/OR
        structure over between / in / isnull leaves, evaluate it per
        file against range stats, value dictionaries, null counts and
        bloom sidecars, then apply the ORIGINAL Column as the residual
        filter. Disjunctions prune for real — ``amount >= 9e6 OR
        amount < 0`` drops every file whose facts rule out BOTH sides
        (a DNF dashboard predicate stays proportional-I/O). Soundness
        by structural induction (see ``_walk_pred_node``); any
        UNSUPPORTED subtree (NOT, function-wrapped columns, non-literal
        bounds) becomes a never-prunes leaf — ANY predicate returns
        exactly what an unpruned ``read_state().filter(predicate)``
        returns. Returns (df, files_read, files_total)."""
        from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted
        from cdc_streaming_pipeline_spark.schemas import DELETED_COL, OP_COL
        from pyspark.sql import functions as F

        keep, files = self._pruned_files(predicate, version)
        if not files:
            raise FileNotFoundError(f"no committed data at version {version}")
        if not keep:
            empty = self.read_state(version).filter(F.lit(False))
            return empty.filter(predicate), 0, len(files)
        df = self._to_logical(self._read_snapshot_files(keep, version), version)
        df = mark_deleted(df) if "_is_deleted" not in df.columns else df
        drop = [
            c
            for c in (OP_COL, self.order_col, DELETED_COL, "_is_deleted")
            if c in df.columns
        ]
        df = df.filter(~F.col("_is_deleted")).drop(*drop)
        return df.filter(predicate), len(keep), len(files)

    def delete_where(self, predicate) -> tuple[int | None, int, int]:
        """Merge-on-read DELETE (Delta deletion vectors / Iceberg
        positional deletes): mark every state row matching ``predicate``
        (a plain Spark Column) deleted by writing per-file ROW-INDEX
        sidecars and ONE metadata commit — no data file is rewritten,
        so deleting 0.1% of a 100 TB table costs a pruned scan plus
        kilobytes of metadata instead of rewriting terabytes. The next
        rewrite of a touched bucket (merge / compact / rebucket /
        migrate) reads DV-applied rows and its output files are born
        clean, dropping the vectors — exactly Delta's
        compaction-absorbs-DVs lifecycle.

        Semantics: rows already CDC-tombstoned or already DV-deleted
        are not re-counted; the predicate sees the same view
        ``read_state`` serves. A DV delete erases the row AND its
        ordering history — a subsequent CDC event of ANY LSN (even one
        staler than the deleted image) re-creates the key, exactly
        Delta's MERGE-after-DELETE behavior; when LSN fencing must
        survive the delete, merge a TOMBSTONE event instead (the
        tombstone row keeps absorbing stale replays). Vectors are CUMULATIVE per file (the
        entry's ``file_dvs`` replaces the file's previous vector), so
        resolution is latest-entry-wins and time travel to a
        pre-delete version restores the rows exactly. The entry also
        records ``dv_added`` (just this commit's new positions) so
        ``mv_delta`` can compute the incremental-view delta of a
        delete without diffing vectors.

        Candidate files are pruned with the SAME prune tree as
        ``read_state_filtered`` — a selective delete scans only the
        files its predicate can touch. Conflict rule: losing the
        version race is safe to retry iff the touched files are still
        live with UNCHANGED vectors (a concurrent delete or rewrite of
        the same file invalidates the computed cumulative vector).

        PARTITION-PARALLEL by construction: matched positions are
        grouped by file and each file's sidecar is composed (prior
        vector subtracted, cumulative vector written) inside its OWN
        executor task (``_dv_stage_executor_side``); the driver sees
        one metadata row per touched file. A compliance-erasure over a
        wide predicate at 100 TB — millions of files, billions of
        positions — keeps the driver's working set at file-level
        metadata, the same set the commit entry itself must hold.

        Returns (version, files_touched, rows_deleted) —
        (None, 0, 0) when nothing matches (no commit is written)."""
        from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted
        from pyspark.sql import functions as F

        base = self.latest_version()
        if base is None:
            raise FileNotFoundError("delete_where on an uninitialized table")
        keep, _ = self._pruned_files(predicate, base)
        if not keep:
            return None, 0, 0
        dvs = resolve_file_dvs(self, base)
        df = (
            self._raw_read(keep, base)
            .withColumn("_dv_fp", _fp_key_col())
            .withColumn("_dv_ri", F.col("_metadata.row_index"))
        )
        # NO prior-vector anti-join here: rows already DV-deleted are
        # matched by the predicate but subtracted per file INSIDE the
        # sidecar task (newpos − prior), so they are never re-counted
        # and the prior vectors are never loaded driver-side
        df = self._to_logical(df, base)  # predicate speaks logical names
        vis = mark_deleted(df) if "_is_deleted" not in df.columns else df
        vis = vis.filter(~F.col("_is_deleted"))
        matched = vis.filter(predicate).select("_dv_fp", "_dv_ri")
        dv_dir = os.path.join(self.data_dir, "_dv")
        os.makedirs(dv_dir, exist_ok=True)
        keep_set = set(keep)
        prior = {f: m["path"] for f, m in dvs.items() if f in keep_set}
        rows = _dv_stage_executor_side(matched, prior, dv_dir, self.blob)
        if not rows:
            return None, 0, 0
        entry = {"mode": "delete", **_dv_facts(rows)}
        touched = entry["file_dvs"]
        version = self._publish(
            base,
            lambda _: entry,
            still_valid=lambda new: self._vectors_intact(new, dvs, touched),
        )
        return version, len(touched), sum(r["n_add"] for r in rows)

    @staticmethod
    def _vectors_intact(new: Snapshot, dvs: dict, files) -> bool:
        """A DV commit that lost the race may retry on top of ``new``
        iff each file it vectors is still live with the vector it read
        (``dvs``): a concurrent delete or rewrite of the same file
        invalidates the cumulative vector it computed."""
        live = set(new.files)
        return all(f in live and new.dvs.get(f) == dvs.get(f) for f in files)

    def update_where(self, predicate, assignments: dict) -> tuple[int | None, int, int]:
        """Merge-on-read UPDATE (Delta's DV-backed MERGE/UPDATE): set
        ``assignments`` (logical column → Column expression or literal)
        on every state row matching ``predicate``, as ONE commit that
        (a) marks the old images deleted via per-file DV sidecars and
        (b) appends the new images as bucket-pure files — no touched
        bucket is rewritten, so a 0.1% update of a 100 TB table costs
        O(touched rows) instead of copy-on-write per touched bucket
        (the reference's ``UPDATE ... WHERE id = %s`` workload,
        test-generator/generate_test_data.py:183-219, at lake scale).

        Semantics: the predicate sees the ``read_state`` view (prior
        DVs applied executor-side — never through the driver — and CDC
        tombstones filtered). New images keep their row's ORIGINAL
        bookkeeping (op, order column): the update edits the image in
        place without disturbing LSN fencing, so a later CDC event
        with a higher LSN still wins and a stale replay still loses.
        Assignments are cast to the column's existing type (an UPDATE
        never changes the schema; use ``widen_column`` for that). Key
        columns cannot be assigned (that is a delete + insert, and it
        would move the row's bucket); bookkeeping columns are refused.

        Scale shape: candidate files prune through the predicate tree;
        old positions group per file and compose sidecars inside
        executor tasks (``_dv_stage_executor_side``); prior vectors are
        anti-joined as a DISTRIBUTED pairs frame (``_dv_pairs_df``).
        The driver holds file-level metadata only.

        Conflict rule: retry after a lost race only if the touched
        files are still live with UNCHANGED vectors (a concurrent
        delete/update/rewrite of the same file invalidates both the
        computed vectors and the staged postimages) and no untagged
        foreign file landed (it could restate our keys). Returns
        (version, files_touched, rows_updated); (None, 0, 0) when
        nothing matches."""
        from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted
        from cdc_streaming_pipeline_spark.schemas import DELETED_COL, OP_COL
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError("update_where on an uninitialized table")
        self._refresh_meta(base)
        keep, _ = self._pruned_files(predicate, base)
        if not keep:
            return None, 0, 0
        dvs = resolve_file_dvs(self, base)
        df = (
            self._raw_read(keep, base)
            .withColumn("_dv_fp", _fp_key_col())
            .withColumn("_dv_ri", F.col("_metadata.row_index"))
        )
        # postimages must NOT resurrect already-deleted rows, so prior
        # vectors are anti-joined out — broadcast below
        # DV_BROADCAST_MAX_POSITIONS (no shuffle added to the candidate
        # scan), distributed pairs frame (binaryFile + mapInPandas)
        # past it so a wide delete's positions never cross the driver
        keep_set = set(keep)
        prior = {f: m["path"] for f, m in dvs.items() if f in keep_set}
        rel = _dv_relation(self.spark, {f: dvs[f] for f in prior}, self.blob)
        if rel is not None:
            df = df.join(rel, ["_dv_fp", "_dv_ri"], "left_anti")
        df = self._to_logical(df, base)  # predicate/assignments: logical names
        had_marker = "_is_deleted" in df.columns
        vis = df if had_marker else mark_deleted(df)
        vis = vis.filter(~F.col("_is_deleted"))
        matched = vis.filter(predicate)

        types = {f.name: f.dataType for f in matched.schema.fields}
        rev = {p: l for l, p in self.column_mapping.items()}
        key_logical = {rev.get(k, k) for k in self.key_cols}
        reserved = {OP_COL, DELETED_COL, self.order_col, "_is_deleted", "_dv_fp", "_dv_ri"}
        for c in assignments:
            if c in key_logical:
                raise ValueError(
                    f"cannot assign key column {c!r}: changing a key is a "
                    "delete + insert (and would move the row's bucket)"
                )
            if c in reserved:
                raise ValueError(f"cannot assign bookkeeping column {c!r}")
            if c not in types:
                raise ValueError(f"no such column {c!r} (have {sorted(types)})")

        # ONE scan of the pruned files feeds both halves: persist the
        # matched slice (sized by rows TOUCHED, not table size), build
        # sidecars from it, stage postimages from it
        matched = matched.persist()
        try:
            dv_dir = os.path.join(self.data_dir, "_dv")
            os.makedirs(dv_dir, exist_ok=True)
            rows = _dv_stage(
                matched.select("_dv_fp", "_dv_ri"),
                prior,
                dv_dir,
                self.blob,
                prior_n={f: dvs[f]["n"] for f in prior},
            )
            if not rows:
                return None, 0, 0

            # new images → bucket-pure appended files (from the cached
            # matched slice, so the postimage rows are exactly the DV'd
            # rows)
            post = matched
            for c, expr in assignments.items():
                colx = expr if isinstance(expr, Column) else F.lit(expr)
                post = post.withColumn(c, colx.cast(types[c]))
            post = post.drop("_dv_fp", "_dv_ri")
            if not had_marker:
                # derived visibility marker: staging it would add a column
                # the table's files never carried (spurious schema drift)
                post = post.drop("_is_deleted")
            post_phys = self._to_physical(post)
            adds, buckets = self._stage_bucketed(post_phys)
            staged_facts = self._staged_skipping_facts(adds, post_phys.columns)
        finally:
            matched.unpersist()

        entry = {
            "mode": "update",
            **self._add_facts(adds, buckets),
            **_dv_facts(rows),
            **staged_facts,
        }
        touched = entry["file_dvs"]

        def still_valid(new: Snapshot) -> bool:
            # the vectors still hold, and no untagged foreign file landed
            # (it could restate our keys)
            return self._vectors_intact(new, dvs, touched) and not any(
                f not in keep_set and f not in new.buckets for f in new.files
            )

        version = self._publish(base, lambda _: entry, still_valid=still_valid)
        return version, len(touched), sum(r["n_add"] for r in rows)


def table_changes(
    table: "BucketedTxLogTable",
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED (Delta's ``table_changes``): typed change rows
    for every version in (from_version, to_version] — the rewrite-
    capable complement of the append-only ``read_changes`` cursor, and
    the surface a downstream CDC consumer tails when the upstream table
    itself merges, deletes and compacts.

    Output = the table's STATE columns plus ``_change_type`` ∈
    {'insert', 'update_preimage', 'update_postimage', 'delete'} and
    ``_commit_version``. Per-version derivation costs ∝ that version's
    touched files, never table size:

    - ``append``: added files' visible rows → insert.
    - ``merge``: key-join the removed files' visible rows (deletion
      vectors applied AS OF that version) against the added files' —
      new-only keys insert, vanished keys delete (a CDC tombstone
      landing), changed rows emit pre+post images, UNCHANGED rows of
      rewritten buckets emit NOTHING (a file rewrite is not a change).
    - ``overwrite``: same diff — a full restatement feeds only its net
      row changes (cost ∝ the restated table, by nature of the op).
    - ``delete``: the entry's ``dv_added`` row positions, semi-joined
      back out of the (unrewritten) files → delete.
    - ``compact`` / ``rebucket`` / ``migrate`` / ``analyze`` /
      ``clone``: logical no-ops → no rows.

    Schema drift composes: versions union by name with missing columns
    null-filled, like the table's own reads."""
    from pyspark.sql import functions as F

    from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted
    from cdc_streaming_pipeline_spark.schemas import DELETED_COL, OP_COL

    to_v = table.latest_version() if to_version is None else to_version
    meta = resolve_table_meta(table, to_v)
    key_cols = list(meta["key_cols"]) if meta else list(table.key_cols)
    order_col = meta["order_col"] if meta else table.order_col
    book = (OP_COL, order_col, DELETED_COL, "_is_deleted")

    def visible(files: list[str], version: int) -> DataFrame | None:
        if not files:
            return None
        df = table._read_snapshot_files(files, version)
        df = mark_deleted(df) if "_is_deleted" not in df.columns else df
        drop = [c for c in book if c in df.columns]
        return df.filter(~F.col("_is_deleted")).drop(*drop)

    def dvadd_visible(e: dict, v: int) -> DataFrame | None:
        """The rows this commit's vectors newly marked (``dv_added``
        positions semi-joined back out of the unrewritten files),
        VISIBLE ones only — a delete's net change, an update's
        preimages, a MoR merge's replaced images (whose stored
        tombstones must not resurface as feed rows). Threshold-gated
        via ``_dv_added_semi``: a wide delete's positions expand
        executor-side, never on the driver."""
        ddf = _dv_added_semi(table, e.get("dv_added", {}), v)
        if ddf is None:
            return None
        ddf = mark_deleted(ddf) if "_is_deleted" not in ddf.columns else ddf
        drop = [c for c in book if c in ddf.columns]
        return ddf.filter(~F.col("_is_deleted")).drop(*drop)

    def typed(df: DataFrame, ctype: str, v: int) -> DataFrame:
        return df.withColumn("_change_type", F.lit(ctype)).withColumn(
            "_commit_version", F.lit(v).cast("long")
        )

    parts: list[DataFrame] = []
    for v in table._versions_between(from_version + 1, to_v):
        e = table._read_entry(v)
        mode = e.get("mode")
        if mode in ("compact", "rebucket", "migrate", "analyze", "clone", "alter", "delete_noop"):
            continue
        if mode == "append":
            new = visible(e.get("adds", []), v)
            if new is not None:
                parts.append(typed(new, "insert", v))
            continue
        if mode in ("delete", "update"):
            ddf = dvadd_visible(e, v)
            if mode == "delete":
                if ddf is not None:
                    parts.append(typed(ddf, "delete", v))
                continue
            # update: preimages from the vectors, postimages from the
            # appended files (born clean — no DV applies to them at v)
            if ddf is not None:
                parts.append(typed(ddf, "update_preimage", v))
            post = visible(e.get("adds", []), v)
            if post is not None:
                parts.append(typed(post, "update_postimage", v))
            continue
        if mode in ("merge", "overwrite", "merge_mor"):
            # old side: the removed files' rows as visible just BEFORE
            # this version (their vectors at v-1 — a checkpoint at v
            # keeps only live files' vectors) plus the rows this
            # commit's vectors newly marked: merge_mor replaces rows by
            # vectoring them, and removes whole files only for the
            # buckets it folds. The key-join classification then
            # applies unchanged (a rewritten-but-unchanged row, or a
            # stale-only batch's identical re-appended winner, feeds
            # NOTHING: pre == post)
            old = None
            for side in (visible(e.get("removes", []), v - 1), dvadd_visible(e, v)):
                if side is not None:
                    old = side if old is None else old.unionByName(
                        side, allowMissingColumns=True
                    )
            new = visible(e.get("adds", []), v)
            if old is None and new is None:
                continue
            if old is None:
                parts.append(typed(new, "insert", v))
                continue
            if new is None:
                parts.append(typed(old, "delete", v))
                continue
            data_cols = sorted(set(old.columns) | set(new.columns))
            o = old.select(
                *[
                    (F.col(c) if c in old.columns else F.lit(None)).alias(f"_o_{c}")
                    for c in data_cols
                ],
                F.lit(1).alias("_o_present"),
            )
            n = new.select(
                *[
                    (F.col(c) if c in new.columns else F.lit(None)).alias(f"_n_{c}")
                    for c in data_cols
                ],
                F.lit(1).alias("_n_present"),
            )
            cond = None
            for k in key_cols:
                c = o[f"_o_{k}"].eqNullSafe(n[f"_n_{k}"])
                cond = c if cond is None else (cond & c)
            j = o.join(n, cond, "full_outer")
            in_old = F.col("_o_present").isNotNull()
            in_new = F.col("_n_present").isNotNull()
            same = None
            for c in data_cols:
                eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
                same = eq if same is None else (same & eq)
            oimg = [F.col(f"_o_{c}").alias(c) for c in data_cols]
            nimg = [F.col(f"_n_{c}").alias(c) for c in data_cols]
            parts.append(
                typed(j.filter(in_new & ~in_old).select(*nimg), "insert", v)
            )
            parts.append(
                typed(j.filter(in_old & ~in_new).select(*oimg), "delete", v)
            )
            upd = j.filter(in_old & in_new & ~same)
            parts.append(typed(upd.select(*oimg), "update_preimage", v))
            parts.append(typed(upd.select(*nimg), "update_postimage", v))
            continue
        raise ValueError(f"version {v} has unknown mode {mode!r}")
    to_logical = getattr(table, "_to_logical", None)
    if not parts:
        base = table._empty_frame(to_v)
        if to_logical is not None:
            base = to_logical(base, to_v)
        drop = [c for c in book if c in base.columns]
        return typed(base.drop(*drop), "insert", to_v).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # classification ran on PHYSICAL frames (join keys = the stable
    # physical key names); the feed presents the mapping of its END
    # version so columns stay uniform across a mid-feed rename
    if to_logical is not None:
        out = to_logical(out, to_v)
    return out


def version_at_timestamp(table: TxLogTable, ts: float) -> int:
    """The newest version committed AT OR BEFORE wall-clock ``ts``
    (unix seconds) — Delta's ``TIMESTAMP AS OF``. Binary search over
    the dense version range using each entry's recorded commit ``ts``
    (legacy entries without one fall back to the entry file's mtime),
    O(log age) entry reads. Commit timestamps are treated as monotone;
    writer clock skew can reorder near-simultaneous commits by a few
    seconds (Delta's caveat is identical) — pin versions when exactness
    at a boundary matters. Raises when ``ts`` predates version 0."""
    latest = table.latest_version()
    if latest is None:
        raise FileNotFoundError("timestamp travel on an uninitialized table")

    def ts_of(v: int) -> float:
        e = table._read_entry(v)
        if "ts" in e:
            return float(e["ts"])
        return table.blob.mtime(table._entry_path(v))

    if ts_of(0) > ts:
        raise ValueError(
            f"timestamp {ts} predates the table's first commit"
        )
    lo, hi = 0, latest
    while lo < hi:  # greatest v with ts_of(v) <= ts
        mid = (lo + hi + 1) // 2
        if ts_of(mid) <= ts:
            lo = mid
        else:
            hi = mid - 1
    return lo


def follow_changes(
    table: "BucketedTxLogTable", cursor: int | None = None
) -> tuple[DataFrame, int]:
    """The polling CDC-consumer step over the change feed: returns
    (typed change rows for versions (cursor, latest], new_cursor).
    A downstream replica loops ``feed, cur = follow_changes(t, cur)``
    and applies insert/update_postimage as upserts and delete as
    removes — the feed is SUFFICIENT to reconstruct ``read_state``
    exactly (pinned in tests), which is the contract that lets a
    100 TB table feed consumers at touched-files cost instead of
    snapshot diffs. ``cursor=None`` starts from before version 0
    (full replay: the initial load arrives as inserts)."""
    latest = table.latest_version()
    if latest is None:
        raise FileNotFoundError("follow_changes on an uninitialized table")
    start = -1 if cursor is None else cursor
    return table_changes(table, start, latest), latest


def feed_as_cdc_events(feed: DataFrame, lsn_as: str = "padded") -> DataFrame:
    """Map typed change-feed rows to DEBEZIUM-SHAPED CDC events — the
    same record shape the reference's Kafka topics carry (SURVEY §1.2:
    flattened after-image + ``_op``/``_lsn``/``_deleted``,
    delete.handling.mode=rewrite), so a txlog table can FEED the CDC
    pipeline anywhere a Kafka topic could:

    - ``insert`` at version 0 → op 'r' (the snapshot phase), later
      inserts → 'c';
    - ``update_postimage`` → 'u' (preimages drop — Debezium's unwrap
      emits only the after-image);
    - ``delete`` → 'd' carrying the LAST-KNOWN row image plus
      ``_deleted='true'`` (rewrite semantics).

    ``_lsn`` is the COMMIT VERSION of the source table: within one
    version a key nets at most one change, so per-key event order is
    total — the property the reference gets from single-partition
    topics. ``lsn_as='padded'`` (default) stamps it as the pipeline's
    zero-padded ``LSN_WIDTH`` string (``schemas.pad_lsn``) — the same
    contract every native producer follows, so feed events UNION and
    merge with native events directly (pinned in
    tests/test_txlog_change_feed.py). ``lsn_as='long'`` emits a bigint
    for consumers that compare numerically; note the value is in
    commit-version space, NOT the upstream database's LSN space — two
    sources' LSNs are only comparable stream-internally either way."""
    from cdc_streaming_pipeline_spark.schemas import (
        DELETED_COL,
        LSN_COL,
        OP_COL,
        pad_lsn,
    )
    from pyspark.sql import functions as F

    if lsn_as not in ("padded", "long"):
        raise ValueError(f"lsn_as must be 'padded' or 'long', got {lsn_as!r}")
    f = feed.filter(F.col("_change_type") != "update_preimage")
    op = (
        F.when(F.col("_change_type") == "delete", F.lit("d"))
        .when(F.col("_commit_version") == 0, F.lit("r"))
        .when(F.col("_change_type") == "insert", F.lit("c"))
        .otherwise(F.lit("u"))
    )
    lsn = (
        pad_lsn(F.col("_commit_version"))
        if lsn_as == "padded"
        else F.col("_commit_version").cast("long")
    )
    return (
        f.withColumn(OP_COL, op)
        .withColumn(LSN_COL, lsn)
        .withColumn(
            DELETED_COL,
            F.when(F.col("_change_type") == "delete", F.lit("true")).cast("string"),
        )
        .drop("_change_type", "_commit_version")
    )


class ChangeFeedSource:
    """Polling CDC SOURCE over a table's change feed (micro-batch per
    poll) — closes the produce side of the loop the Kafka env-block
    leaves open: writes to table A stream through this adapter into any
    CDC consumer exactly the way the reference's Debezium topics feed
    its HDFS sink. Same shape as ``JdbcIncrementalSource``: one scalar
    of state (the version cursor), durable when ``cursor_path`` is
    given.

    Exactly-once replication recipe (pinned in tests): merge each poll
    into the destination with the CURSOR as the txn epoch, then
    advance —

    >>> src = ChangeFeedSource(a, cursor_path)
    >>> events, cur = src.poll()
    >>> b.merge_cdc_batch(events, txn=("feed", cur))   # or init_from_events
    >>> src.advance(cur)

    a crash between merge and advance replays the poll, and the txn tag
    no-ops it — the streaming-checkpoint contract without a broker.
    Cost per poll is the feed's: O(files touched since the cursor),
    never O(table)."""

    def __init__(self, table: "BucketedTxLogTable", cursor_path: str | None = None):
        self.table = table
        self.cursor_path = cursor_path
        self.cursor: int | None = None
        if cursor_path and table.blob.exists(cursor_path):
            self.cursor = json.loads(table.blob.get_text(cursor_path))["cursor"]

    def poll(self) -> tuple[DataFrame, int]:
        """(Debezium-shaped events since the cursor, new cursor). Does
        NOT advance — call ``advance`` after the consumer has durably
        applied the batch."""
        feed, cur = follow_changes(self.table, self.cursor)
        return feed_as_cdc_events(feed), cur

    def advance(self, cursor: int) -> None:
        self.cursor = cursor
        if self.cursor_path:
            self.table.blob.put_text(
                self.cursor_path, json.dumps({"cursor": cursor})
            )


def mv_delta(
    table: TxLogTable,
    version: int,
    group_cols: list[str],
    sum_col: str,
    deleted_col: str = "_is_deleted",
) -> DataFrame:
    """The aggregate DELTA one committed version contributes to a
    grouped (count, sum) materialized view — the lakehouse MV
    maintenance primitive: because data files are immutable and a merge
    entry lists exactly the touched buckets' removed and added files,
    the view updates by aggregating ONLY those files (cost ∝ the
    merge's bucket spread, never table size) and adding the signed
    result to the prior view. Rows carry the raw latest-state images
    (delete markers included), so live-row semantics are applied here:
    a key that died contributes −1/−amount through its removed file and
    nothing through the added one. Exact-decimal sums make the ±
    folding order-insensitive."""
    from pyspark.sql import functions as F

    from cdc_streaming_pipeline_spark.operators.cdc import mark_deleted

    e = table._read_entry(version)
    # DV state just BEFORE this version: a removed file is negated at
    # the rows VISIBLE when it was removed (its full content minus its
    # accumulated vector) — negating the full file would double-count
    # the rows an earlier delete entry already subtracted. Resolved at
    # version-1 because a checkpoint at ``version`` keeps only the live
    # files' vectors; added files are born clean either way.
    dvs = resolve_file_dvs(table, version - 1)
    # caller names are LOGICAL under column mapping; frames read from
    # files are physical — present them under the CURRENT (latest)
    # mapping whatever the entry's era: physical names are stable, so
    # the latest logical names address every version's files, and the
    # caller's group/sum columns resolve uniformly across the fold
    to_logical = getattr(table, "_to_logical", None)

    def _logical(df: DataFrame) -> DataFrame:
        return to_logical(df, None) if to_logical is not None else df

    def _agg(df: DataFrame, sign: int) -> DataFrame:
        df = mark_deleted(df) if deleted_col not in df.columns else df
        return (
            df.filter(~F.col(deleted_col))
            .groupBy(*group_cols)
            .agg(
                (F.count("*") * sign).alias("n_rows"),
                (F.sum(F.col(sum_col).cast("decimal(28,6)")) * sign).alias("_sum"),
            )
        )

    def _live_agg(files: list[str], sign: int) -> DataFrame | None:
        if not files:
            return None
        df = table._raw_read(files, version)
        return _agg(
            _logical(_apply_dvs(table.spark, df, files, dvs, table.blob)), sign
        )

    pos = _live_agg(e.get("adds", []), 1)
    neg = _live_agg(e.get("removes", []), -1)
    # a DELETE entry's delta: the negation of exactly the rows its
    # vectors newly marked (the entry records them as ``dv_added``) —
    # semi-join those (file, row_index) pairs back out of the files
    negdv = None
    ddf = _dv_added_semi(table, e.get("dv_added", {}), version)
    if ddf is not None:
        negdv = _agg(_logical(ddf), -1)
    parts = [p for p in (pos, neg, negdv) if p is not None]
    if not parts:
        # an entry with neither adds nor removes still contributes a
        # TYPED empty delta: group-column types come from the table's
        # recorded schema (a hardcoded string type would make fold_mv's
        # unionByName mismatch on numeric group columns)
        from pyspark.sql.types import (
            DecimalType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        try:
            base = {
                f.name: f.dataType
                for f in _logical(table._empty_frame(version)).schema
            }
        except FileNotFoundError:
            base = {}
        fields = [StructField(c, base.get(c, StringType())) for c in group_cols]
        fields += [
            StructField("n_rows", LongType()),
            StructField("_sum", DecimalType(28, 6)),
        ]
        return table.spark.createDataFrame([], StructType(fields))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*group_cols).agg(
        F.sum("n_rows").alias("n_rows"), F.sum("_sum").alias("_sum")
    )


def fold_mv(
    table: TxLogTable,
    group_cols: list[str],
    sum_col: str,
    upto: int | None = None,
) -> DataFrame:
    """Fold every version's ``mv_delta`` into the grouped view — the
    from-scratch MV build whose total I/O is the bytes ever written
    (each immutable file aggregated exactly once), and whose
    INCREMENTAL step (one more version) is bucket-pruned. Returns
    (group_cols..., n_rows, total) with empty groups dropped."""
    from pyspark.sql import functions as F

    target = table.latest_version() if upto is None else upto
    acc: DataFrame | None = None
    for v in table._versions_between(0, target):
        d = mv_delta(table, v, group_cols, sum_col)
        acc = d if acc is None else acc.unionByName(d)
    if acc is None:
        raise FileNotFoundError("no committed versions")
    out = (
        acc.groupBy(*group_cols)
        .agg(F.sum("n_rows").alias("n_rows"), F.sum("_sum").alias("_total"))
        .filter(F.col("n_rows") > 0)
    )
    return out.select(
        *group_cols,
        "n_rows",
        F.round(F.col("_total"), 2).cast("double").alias("total"),
    )


def _checkpoint_path(table: TxLogTable, version: int) -> str:
    return os.path.join(table.log_dir, f"{version:08d}.checkpoint.json")


def write_checkpoint(table: TxLogTable, version: int | None = None) -> int:
    """Materialize the snapshot at ``version`` (default latest) next to
    the log. Readers then replay only the entries AFTER the newest
    checkpoint instead of the whole history — the move that keeps
    snapshot resolution O(commits-since-checkpoint) when a table has
    accumulated thousands of commits (Delta's _last_checkpoint).

    The checkpoint is the LIVE-restricted ``Snapshot``: the live file
    list, the per-writer txn state, every fact map of ``_FACT_KEYS``
    (bucket tags, stats, sizes, layouts, dictionaries, null counts,
    bloom references, deletion vectors) keyed by live files only — so
    it stays O(live) — and the newest recorded schema and table meta.
    A checkpoint lacking any fact map is skipped by readers.

    Writing a checkpoint is itself incremental (it resolves through the
    previous checkpoint), so a steady-cadence auto-checkpoint keeps the
    metadata cost of EVERY operation bounded regardless of table age.
    Idempotent and crash-safe: the checkpoint is derived state; a torn
    write is simply skipped by the reader and replay falls back to the
    previous checkpoint or the full log."""
    snap = snapshot(table, version).live()
    v = snap.version
    ck = {"version": v, "files": snap.files, "txns": snap.txns}
    ck.update({key: getattr(snap, name) for name, (_, key) in _FACT_KEYS.items()})
    if snap.schema is not None:
        ck["schema"] = snap.schema
    if snap.table_meta is not None:
        ck["table_meta"] = snap.table_meta
    table.blob.put_text(_checkpoint_path(table, v), json.dumps(ck))
    # what a reader would load from the file just written
    _cache_put(
        table._snapshots,
        v,
        dataclasses.replace(snap, checkpoint_version=v),
        SNAPSHOT_CACHE_MAX,
    )
    # the _last_checkpoint POINTER (Delta's): O(1) checkpoint discovery
    # instead of listing the accumulated checkpoint files (at CDC
    # cadence with a checkpoint every 10 merges, those are O(age)/10 —
    # same complexity class as the log replay this exists to avoid).
    # Monotonic guard: never move the pointer backwards.
    ptr = os.path.join(table.log_dir, "_last_checkpoint")
    cur = _last_checkpoint_version(table)
    if cur is None or v >= cur:
        table.blob.put_text(ptr, json.dumps({"version": v}))
    return v


def _last_checkpoint_version(table: TxLogTable) -> int | None:
    try:
        return int(
            json.loads(
                table.blob.get_text(os.path.join(table.log_dir, "_last_checkpoint"))
            )["version"]
        )
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return None  # pointer absent/torn: derived state, callers fall back


#: Snapshot fact map -> (log-entry key, checkpoint key): the one place
#: the two formats' names meet. They agree except for the write-time
#: layout, recorded as ``file_layout_n`` in entries and ``file_layouts``
#: in checkpoints. Every map folds by file key, the newest entry wins;
#: ``buckets`` alone also forgets the files an entry removes.
_FACT_KEYS = {
    "buckets": ("file_buckets", "file_buckets"),
    "stats": ("file_stats", "file_stats"),
    "bytes": ("file_bytes", "file_bytes"),
    "layouts": ("file_layout_n", "file_layouts"),
    "dicts": ("file_dicts", "file_dicts"),
    "nulls": ("file_nulls", "file_nulls"),
    "blooms": ("file_blooms", "file_blooms"),
    "dvs": ("file_dvs", "file_dvs"),
}


@dataclasses.dataclass(frozen=True)
class Snapshot:
    """Every log fact of one table version, folded in ONE pass over the
    newest usable checkpoint and the log suffix after it — Delta's log
    replay (Armbrust et al., VLDB 2020). ``snapshot`` builds and caches
    it per handle, so the containers are shared: treat them as
    read-only (the ``resolve_*`` functions hand out copies).

    ``files`` is the live file list in log order; ``txns`` maps each
    writer to [latest epoch, the version it committed as]; the fact
    maps of ``_FACT_KEYS`` are described by the matching
    ``resolve_file_*`` function; ``schema`` and ``table_meta`` are the
    newest recorded values; ``checkpoint_version`` is the checkpoint
    the replay started from (None: the full log). Fact maps keep the
    facts of files removed after that checkpoint; ``live()`` drops
    them. ``version`` is None only for a table with no commit."""

    version: int | None
    files: list = dataclasses.field(default_factory=list)
    txns: dict = dataclasses.field(default_factory=dict)
    buckets: dict = dataclasses.field(default_factory=dict)
    stats: dict = dataclasses.field(default_factory=dict)
    bytes: dict = dataclasses.field(default_factory=dict)
    layouts: dict = dataclasses.field(default_factory=dict)
    dicts: dict = dataclasses.field(default_factory=dict)
    nulls: dict = dataclasses.field(default_factory=dict)
    blooms: dict = dataclasses.field(default_factory=dict)
    dvs: dict = dataclasses.field(default_factory=dict)
    schema: dict | None = None
    table_meta: dict | None = None
    checkpoint_version: int | None = None

    def applied(self, txn: tuple[str, int] | None) -> int | None:
        """The version ``txn``'s writer recorded, when ``txn`` is already
        applied at this snapshot, else None: the one idempotence rule of
        every txn-tagged write. Epochs are monotonic per writer
        (Structured Streaming's batchId contract), so an epoch at or
        below the writer's latest recorded one landed before, even when
        its own entry is gone or was never tagged with it."""
        done = self.txns.get(txn[0]) if txn is not None else None
        return done[1] if done is not None and txn[1] <= done[0] else None

    def live(self) -> "Snapshot":
        """This snapshot with every fact map restricted to live files —
        the shape checkpoints, clones and ``describe_detail`` use."""
        keep = set(self.files)
        return dataclasses.replace(
            self,
            **{
                name: {f: m for f, m in getattr(self, name).items() if f in keep}
                for name in _FACT_KEYS
            },
        )


def _checkpoint_snapshot(table: TxLogTable, version: int) -> Snapshot | None:
    """The checkpoint at ``version`` as a Snapshot, cached on the handle;
    None when it is absent, torn, or missing a fact map. A checkpoint
    is derived state, so a bad one is skipped and replay falls back to
    an older checkpoint or the full log — a missing map is never read
    as empty."""
    try:
        ck = json.loads(table.blob.get_text(_checkpoint_path(table, version)))
        snap = Snapshot(
            version,
            files=list(ck["files"]),
            txns=dict(ck["txns"]),
            schema=ck.get("schema"),
            table_meta=ck.get("table_meta"),
            checkpoint_version=version,
            **{name: dict(ck[key]) for name, (_, key) in _FACT_KEYS.items()},
        )
    except (OSError, ValueError, KeyError, TypeError):
        return None
    _cache_put(table._snapshots, version, snap, SNAPSHOT_CACHE_MAX)
    return snap


def _best_checkpoint(
    table: TxLogTable, target: int, ptr: int | None = None
) -> Snapshot | None:
    """The newest usable checkpoint at or below ``target``. The
    ``_last_checkpoint`` pointer (``ptr``, when the caller already read
    it) names it when it does not overshoot; otherwise — an overshoot
    from near-past time travel or vacuum's horizon, or a bad checkpoint
    behind the pointer — probe DOWNWARD for existence: O(checkpoint
    interval) stat calls in steady state, never a listing or a parse
    of every checkpoint."""
    if ptr is None:
        ptr = _last_checkpoint_version(table)
    start = ptr if ptr is not None and ptr <= target else target
    for v in range(start, -1, -1):
        cached = table._snapshots.get(v)
        if cached is not None and cached.checkpoint_version == v:
            _cache_put(table._snapshots, v, cached, SNAPSHOT_CACHE_MAX)  # keep it hot
            return cached
        if v != ptr and not table.blob.exists(_checkpoint_path(table, v)):
            continue
        ck = _checkpoint_snapshot(table, v)
        if ck is not None:
            return ck
    return None


def snapshot(table: TxLogTable, version: int | None = None) -> Snapshot:
    """The table's ``Snapshot`` at ``version`` (default: latest): ONE
    checkpoint lookup and ONE forward pass over the log suffix after
    it, folding every entry into every fact at once —
    O(commits-since-checkpoint), not O(table age). Cached per handle
    by version (committed versions are immutable), so the many metadata
    reads of one operation share a single replay.

    A version past the head raises ValueError: the replay caches only
    versions whose entry it read. A negative version is the empty
    state before version 0."""
    ptr = None
    if version is None:
        version, ptr = table._head()
        if version is None:
            return Snapshot(None)  # nothing committed yet
    snap = table._snapshots.get(version)
    if snap is None:
        base = (_best_checkpoint(table, version, ptr) if version >= 0 else None) or Snapshot(-1)
        snap = _replay(table, base, version)
    if version >= 0:
        _cache_put(table._snapshots, version, snap, SNAPSHOT_CACHE_MAX)
    return snap


def _replay(table: TxLogTable, base: Snapshot, version: int) -> Snapshot:
    """Fold entries base.version+1 .. ``version`` onto a copy of ``base``."""
    files = dict.fromkeys(base.files)  # an ordered set: log order kept
    txns = {w: list(r) for w, r in base.txns.items()}
    facts = {name: dict(getattr(base, name)) for name in _FACT_KEYS}
    schema, meta = base.schema, base.table_meta
    for v in range(base.version + 1, version + 1):
        try:
            e = table._read_entry(v)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} is past the head of {table.path} "
                f"(no log entry {v})"
            ) from None
        for f in e.get("removes", ()):
            files.pop(f, None)
            facts["buckets"].pop(f, None)
        files.update(dict.fromkeys(e.get("adds", ())))
        for name, (key, _) in _FACT_KEYS.items():
            facts[name].update(e.get(key, ()))
        if e.get("txn"):
            w, ep = e["txn"]
            if w not in txns or ep >= txns[w][0]:
                txns[w] = [ep, e["version"]]
        schema = e.get("schema", schema)
        meta = e.get("table_meta", meta)
    return Snapshot(
        version,
        files=list(files),
        txns=txns,
        schema=schema,
        table_meta=meta,
        checkpoint_version=base.checkpoint_version,
        **facts,
    )


def resolve_snapshot_state(
    table: TxLogTable, version: int | None = None
) -> tuple[list[str], dict[str, int], dict[str, list[int]]]:
    """(files, {file: bucket}, {writer: [epoch, commit_version]}) at
    ``version`` — the state reads, merges, conflict revalidation and
    checkpoint writing share. Like every ``resolve_*`` function, a copy
    of the cached ``snapshot``: callers may mutate it."""
    s = snapshot(table, version)
    return list(s.files), dict(s.buckets), {w: list(r) for w, r in s.txns.items()}


def resolve_file_stats(table: TxLogTable, version: int | None = None) -> dict:
    """{file: {col: [min, max]}} up to ``version`` — the read_where
    data-skipping facts."""
    return dict(snapshot(table, version).stats)


def resolve_file_bytes(table: TxLogTable, version: int | None = None) -> dict:
    """{file: bytes} up to ``version`` — how the merge path sizes its
    salt without stat()ing data files (backend-independent; a file
    without a recorded size makes the consumer fall back per file)."""
    return dict(snapshot(table, version).bytes)


def resolve_file_layouts(table: TxLogTable, version: int | None = None) -> dict:
    """{file: n_buckets-at-write} up to ``version`` — what makes a LAZY
    rebucket sound: after a metadata-only layout change, live files
    written under an OLD (divisor) bucket count are still prunable
    exactly, because a file tagged ``b`` under ``n`` holds precisely
    the keys whose bucket under the current ``N`` (n | N) satisfies
    ``t % n == b``. Consumers treat a file absent from the map as
    written under the CURRENT layout."""
    return dict(snapshot(table, version).layouts)


def resolve_file_dicts(table: TxLogTable, version: int | None = None) -> dict:
    """{file: {col: [values...]}} up to ``version`` — the equality/IN
    pruning twin of ``resolve_file_stats``: a file absent from the map
    (or a column absent from a file's dict) is read conservatively."""
    return dict(snapshot(table, version).dicts)


def resolve_file_nulls(table: TxLogTable, version: int | None = None) -> dict:
    """{file: {col: [null_count, row_count]}} up to ``version`` — what
    makes ``IS NULL`` / ``IS NOT NULL`` predicates prunable (Delta's
    nullCount stats) and lets range/IN predicates drop all-null files,
    whose [min, max] are null. Missing facts are read conservatively."""
    return dict(snapshot(table, version).nulls)


def resolve_file_blooms(table: TxLogTable, version: int | None = None) -> dict:
    """{file: {col: {path, m, k, dtype}}} up to ``version`` — the
    point-lookup pruning fact for high-cardinality columns (sidecar
    bitmaps; the log holds only the reference). Missing facts are read
    conservatively, like every other skipping map."""
    return dict(snapshot(table, version).blooms)


def resolve_file_dvs(table: TxLogTable, version: int | None = None) -> dict:
    """{file: {"path": dv_sidecar, "n": deleted_rows}} at ``version``.
    Each delete commit records the file's CUMULATIVE vector, so the
    fold's latest-entry-wins update is the correct merge — and time
    travel to a pre-delete version resolves the older (or no) vector,
    restoring the deleted rows exactly."""
    return dict(snapshot(table, version).dvs)


def dv_debt_files(deleted: dict[str, int], nulls: dict, max_fraction: float) -> set[str]:
    """The deletion-vector debt rule, shared by the MoR merge's fused
    fold and the streaming sink's fallback fold: of ``deleted`` ({file:
    vectored rows}), the files whose deleted fraction exceeds
    ``max_fraction`` — a file whose row count the log does not record
    (``nulls``, the resolved ``file_nulls``) counts as fully deleted, so
    it folds on any vector. Such a file drags every read through its
    anti-join until its bucket is rewritten."""
    out: set[str] = set()
    for f, n in deleted.items():
        nu = nulls.get(f)
        rows = next((rc for _, rc in nu.values()), None) if nu else None
        if n > 0 and (n / rows if rows else 1.0) > max_fraction:
            out.add(f)
    return out


def resolve_with_checkpoint(table: TxLogTable, version: int | None = None) -> list[str]:
    """The live file list at ``version``."""
    return list(snapshot(table, version).files)


def _resolve_schema_json(table: TxLogTable, target: int) -> dict | None:
    """Newest recorded schema at or below ``target`` (shared: read-only)."""
    return snapshot(table, target).schema


def resolve_table_meta(table: TxLogTable, version: int | None = None) -> dict | None:
    """Newest recorded table metadata (key_cols / n_buckets / order_col)
    at or below ``version`` — the bucketed table's layout contract. The
    log is the source of truth for the bucket layout: a writer OPENING
    the table with a different n_buckets would select the wrong old
    files in a merge and surface duplicate keys — recording the layout
    makes that a loud ValueError instead of silent corruption, and lets
    ``rebucket`` evolve the layout as a log fact."""
    meta = snapshot(table, version).table_meta
    return None if meta is None else dict(meta)


def describe_detail(table: TxLogTable, version: int | None = None) -> dict:
    """Operational table summary from LOG FACTS alone (Delta DESCRIBE
    DETAIL): version, file/byte totals, per-bucket file-count extremes,
    write-time layout histogram (mid-migration visibility after a lazy
    rebucket), skipping-stats and dictionary coverage, and the newest
    checkpoint — everything an operator needs to decide whether to
    compact / migrate / recluster, at O(metadata-since-checkpoint) cost
    whatever the table's size. No data file is opened."""
    snap = snapshot(table, version).live()
    if snap.version is None:
        raise FileNotFoundError("describe_detail of an uninitialized table")
    files = snap.files
    per_bucket: dict[int, int] = {}
    for f in files:
        b = snap.buckets.get(f)
        if b is not None:
            per_bucket[b] = per_bucket.get(b, 0) + 1
    layout_hist: dict[int, int] = {}
    default_n = getattr(table, "n_buckets", None)
    for f in files:
        n = snap.layouts.get(f, default_n)
        layout_hist[n] = layout_hist.get(n, 0) + 1
    return {
        "version": snap.version,
        "n_files": len(files),
        "total_bytes": sum(snap.bytes.values()) if snap.bytes else None,
        "table_meta": dict(snap.table_meta) if snap.table_meta else None,
        "buckets_live": len(per_bucket),
        "max_files_per_bucket": max(per_bucket.values()) if per_bucket else 0,
        "layout_histogram": dict(sorted(layout_hist.items(), key=lambda kv: str(kv[0]))),
        "files_with_stats": sum(1 for f in files if snap.stats.get(f)),
        "files_with_dicts": sum(1 for f in files if snap.dicts.get(f)),
        "files_with_null_facts": sum(1 for f in files if snap.nulls.get(f)),
        "files_with_blooms": sum(1 for f in files if snap.blooms.get(f)),
        "files_with_dvs": sum(1 for f in files if snap.dvs.get(f)),
        "dv_deleted_rows": sum(m["n"] for m in snap.dvs.values()),
        "checkpoint_version": snap.checkpoint_version,
    }


def clone_table(src: TxLogTable, dest_path: str, version: int | None = None,
                commit_backend=None, blob_backend=None) -> TxLogTable:
    """SHALLOW clone (Delta CLONE, zero-copy table fork): commit the
    source's resolved snapshot — file list plus every skipping fact
    (buckets, layouts, bytes, stats, dicts) and the table meta — as the
    destination's version 0, moving NO data. O(metadata) whatever the
    table holds: the 100 TB dev/test fork is one JSON write.

    The clone is immediately writable and fully independent GOING
    FORWARD: its merges remove shared files from its own VIEW only
    (removes are log facts) and stage new files under its own data_dir,
    so neither side's writes are visible to the other. ``vacuum`` at
    the CLONE can never touch source bytes (it only scans its own
    data_dir), but ``vacuum`` at the SOURCE consults only the source's
    log — after the source compacts/overwrites and vacuums past the
    clone point, the shared files the clone still references are GONE
    and the clone's older reads break (the documented shallow-clone
    retention caveat; Delta's is identical). Writer txn tags are NOT
    carried: the clone is a fresh exactly-once namespace."""
    snap = snapshot(src, version).live()
    if snap.version is None:
        raise FileNotFoundError("clone of an uninitialized table")
    entry = {
        "mode": "clone",
        "adds": sorted(snap.files),
        "n_files": len(snap.files),
        # every fact map rides along: bloom sidecar refs point into the
        # SOURCE's data_dir exactly like the shared data files (same
        # shallow-clone retention caveat, same conservative degradation:
        # an unreadable sidecar keeps the file, unreadable DATA raises),
        # and deletion vectors are CORRECTNESS facts — without them the
        # source's deleted rows would reappear in the fork
        **{key: getattr(snap, name) for name, (key, _) in _FACT_KEYS.items()},
        "cloned_from": {"path": src.path, "version": snap.version},
    }
    if snap.schema is not None:
        entry["schema"] = snap.schema
    meta = snap.table_meta
    if meta is not None:
        entry["table_meta"] = meta
        dest = BucketedTxLogTable(
            src.spark,
            dest_path,
            key_cols=list(meta["key_cols"]),
            n_buckets=int(meta["n_buckets"]),
            order_col=meta["order_col"],
            commit_backend=commit_backend,
            stats_cols=getattr(src, "stats_cols", None),
            bloom_cols=getattr(src, "bloom_cols", None),
            bloom_bits=getattr(src, "bloom_bits", BLOOM_BITS),
            blob_backend=blob_backend or getattr(src, "blob", None),
        )
    else:
        dest = TxLogTable(
            src.spark,
            dest_path,
            commit_backend=commit_backend,
            blob_backend=blob_backend or getattr(src, "blob", None),
        )
    if dest.latest_version() is not None:
        raise FileExistsError(f"clone destination {dest_path} already has a log")
    dest._publish(None, lambda _: entry)
    if hasattr(dest, "_refresh_meta"):
        dest._refresh_meta(None)  # adopt column mapping from the entry
    return dest


def analyze_table(
    table: TxLogTable,
    stats_cols: list[str] | None = None,
    max_files: int | None = None,
) -> int | None:
    """Backfill skipping facts for live files that LACK them — the
    ANALYZE maintenance op (Delta `ANALYZE TABLE ... COMPUTE STATISTICS`
    / Iceberg rewrite of the stats metadata). Files written by
    stats-less handles, or before the table had a stats policy, are
    read conservatively forever; this pass runs ONE aggregate job over
    just the uncovered files and commits a FACTS-ONLY entry (no adds,
    no removes — resolvers fold `file_stats`/`file_nulls`/`file_dicts`
    by file key), so a 100 TB table becomes prunable for the cost of
    scanning its unanalyzed fraction once, without rewriting a byte.

    ``max_files`` bounds one pass (run from a maintenance window like
    ``migrate_buckets``). Concurrency: commits with append semantics —
    facts describe immutable files, so an interleaved commit can at
    worst remove a file whose (now dead) facts are simply never
    consulted again. Returns the committed version, or None when every
    live file already carries facts for every requested column."""
    cols = list(stats_cols or getattr(table, "stats_cols", None) or [])
    if not cols:
        raise ValueError("analyze_table needs stats_cols (argument or handle policy)")
    base = table.latest_version()
    if base is None:
        raise FileNotFoundError("analyze of an uninitialized table")
    snap = snapshot(table, base)
    live, stats, blooms = snap.files, snap.stats, snap.blooms
    bcols = list(getattr(table, "bloom_cols", None) or [])
    # fact maps are keyed by PHYSICAL names (_staged_skipping_facts
    # translates before writing); the coverage test must compare in the
    # same namespace or a post-rename logical policy sees every file as
    # missing forever and re-scans all live files on each call
    phys = getattr(table, "_phys_name", None)
    pcols = [phys(c) if phys else c for c in cols]
    pbcols = [phys(c) if phys else c for c in bcols]
    missing = [
        f
        for f in live
        if any(c not in stats.get(f, {}) for c in pcols)
        or any(c not in blooms.get(f, {}) for c in pbcols)
    ]
    if max_files is not None:
        missing = missing[:max_files]
    if not missing:
        return None
    columns = table.spark.read.option("mergeSchema", "true").parquet(*missing).columns
    if hasattr(table, "_staged_skipping_facts"):
        old_policy = table.stats_cols
        table.stats_cols = cols
        try:
            facts = table._staged_skipping_facts(missing, columns)
        finally:
            table.stats_cols = old_policy
    else:
        facts = table._file_stats(missing, [c for c in cols if c in columns])
    if not facts:
        return None
    entry = {"mode": "analyze", **facts}
    return table._publish(base, lambda _: entry, still_valid=lambda _: True)


def vacuum(
    table: TxLogTable, retain_versions: int = 2, min_age_seconds: float = 3600.0
) -> list[str]:
    """Physically delete data files referenced by NO version newer than
    ``latest - retain_versions`` — the storage-reclaim step that
    compact()/overwrite make necessary (commits only ever remove files
    LOGICALLY). Time travel to versions older than the horizon stops
    working, by contract; every retained version keeps reading
    byte-identical files. Returns the deleted paths.

    ``min_age_seconds`` is the Delta-style retention guard: a file
    younger than the window is NEVER deleted, whatever the log says.
    Unreferenced-by-any-retained-version is not the same as garbage —
    a concurrent ``commit()`` stages its parquet BEFORE racing for the
    log entry, so without the age guard vacuum would delete a
    just-staged file and the winning commit would land referencing
    deleted data, permanently unreadable. Set 0 only when no writer can
    be in flight (tests, single-writer maintenance windows)."""
    import time

    latest = table.latest_version()
    if latest is None:
        return []
    horizon = max(latest - retain_versions + 1, 0)
    # Union of the retained snapshots WITHOUT a per-version from-zero
    # replay (which would cost O(retain × table-age)): every file
    # live anywhere in [horizon, latest] is either live AT the horizon
    # or added after it, so ONE checkpoint-bounded resolution at the
    # horizon plus the adds of the retained suffix is the exact set —
    # O(commits-since-checkpoint + retain) entry reads.
    live: set[str] = set(resolve_with_checkpoint(table, horizon))
    for v in table._versions_between(horizon + 1, latest):
        live.update(table._read_entry(v).get("adds", []))
    deleted = []
    now = time.time()
    candidates = glob(
        os.path.join(table.data_dir, "stage-*", "*.parquet")
    ) + glob(  # bucket-pure staging nests one partition dir deeper
        os.path.join(table.data_dir, "stage-*", "*", "*.parquet")
    )
    # Bloom sidecars follow the same lifecycle as data files: staged
    # before the commit race, referenced only by winning entries. A
    # sidecar is live exactly when its DATA FILE is live in some
    # retained version — fact maps fold by file key and never forget
    # dead files, so liveness keys on the live data-file set above,
    # not on the fact map's own contents.
    blooms_all = resolve_file_blooms(table, latest)
    live_blooms: set[str] = {
        b["path"]
        for f in live
        for b in blooms_all.get(f, {}).values()
        if b is not None  # gated-off markers carry no sidecar
    }
    meta_candidates = table.blob.list(os.path.join(table.data_dir, "_bloom"), "*.bf")
    live |= live_blooms
    # DV sidecars: a cumulative vector is live while its data file is
    # live in ANY retained version — including superseded vectors the
    # horizon snapshot still references — and per-entry ``dv_added``
    # event sidecars stay live for the retained suffix (mv_delta reads
    # them); both resolve with the same bounded horizon + suffix walk.
    live_dvs: set[str] = {
        m["path"]
        for f, m in resolve_file_dvs(table, horizon).items()
        if f in live
    }
    for v in table._versions_between(horizon + 1, latest):
        e = table._read_entry(v)
        live_dvs.update(m["path"] for m in e.get("file_dvs", {}).values())
        live_dvs.update(m["path"] for m in e.get("dv_added", {}).values())
    meta_candidates += table.blob.list(
        os.path.join(table.data_dir, "_dv"), "*.dv"
    ) + table.blob.list(os.path.join(table.data_dir, "_dv"), "*.dva")
    live |= live_dvs

    def _reap(paths, mt, rm):
        for path in paths:
            if path in live:
                continue
            try:
                age = now - mt(path)
            except OSError:
                continue  # raced with another cleaner
            if age < min_age_seconds:
                continue  # possibly staged by an in-flight commit
            rm(path)
            deleted.append(path)

    # data parquet lives in SPARK's storage namespace (written by its
    # FS layer) — reaped with direct filesystem calls; metadata
    # sidecars live behind the blob seam — reaped through it
    _reap(candidates, os.path.getmtime, os.remove)
    _reap(meta_candidates, table.blob.mtime, table.blob.delete)
    return sorted(deleted)
