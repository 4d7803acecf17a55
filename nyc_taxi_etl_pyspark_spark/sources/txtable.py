"""Manifest/commit-log transactional tables — MERGE/OPTIMIZE that
survive object stores.

The engine's rename-swap maintenance routines (``io.compact_parquet``,
the streaming upsert sink) are crash-safe only where same-filesystem
``os.rename`` is atomic — a local POSIX volume. The reference actually
stores its medallion layers on an object store
(``/root/reference/src/gcs/paths.py:1-4``), where rename is copy+delete
and a concurrent reader can observe a missing or half-copied table.

This module is the minimal commit protocol that removes the rename
dependence — the core idea of Delta Lake's ``_delta_log`` and Iceberg's
snapshot/manifest scheme, reduced to the two primitives every storage
system actually offers:

1. **Immutable, uniquely-named data files.** Writers stage new parquet
   files under ``data/`` with uuid names. Nothing ever overwrites or
   renames a data file; unreferenced files are invisible to readers.
2. **One atomic, conditional manifest put.** A commit is a single
   ``_commits/v<N>.json`` object created with put-if-absent semantics.
   The manifest lists the COMPLETE file set of snapshot ``N`` — readers
   resolve the highest committed version and read exactly those files.

Consequences:

- A reader that lists mid-commit sees version N or version N+1, never a
  partial table: data files only become reachable when the manifest
  naming them lands, and the manifest lands atomically or not at all.
- A crash mid-commit strands unreferenced data files (reclaimed by
  ``vacuum``) and nothing else; the table is never unavailable — there
  is no window where the root is renamed away, unlike the swap scheme.
- Concurrent writers race on the SAME version number; put-if-absent
  arbitrates, the loser re-reads and retries (optimistic concurrency) —
  exactly Delta's commit-conflict protocol.
- Time travel falls out for free: every retained version stays
  readable (``read(spark, version=K)``).
- Manifest-level data skipping: commits harvest each staged file's
  parquet FOOTER min/max into the manifest (``collect_file_stats``),
  and ``read(..., where=[(col, lo, hi)])`` opens only the files whose
  ranges can match (``prune_files``) — the Iceberg/Delta min-max
  skipping idea, so a selective scan of a 100 TB table is planned from
  the manifest alone. Pair with ``io.write_parquet_range_sorted``-style
  layout before committing to make the ranges disjoint and the skip
  rate high.

Metadata scaling: a commit puts a DELTA record — the file-set change
(add/remove keys + stats for the added files only) plus the small
absolute fields (row total, schema, meta) — so commit payload and
commit-time driver work are O(changed files), not O(table). Every
``checkpoint_interval``-th commit also writes the full snapshot to
``_checkpoints/`` (idempotent, derived, never the commit point), so
resolving ANY snapshot reads at most one checkpoint + K delta records
— Delta Lake's log-checkpoint shape. The full snapshot a read plans
from is still O(live files) of metadata (measured: 10⁴ files = 1.3 MB,
~20 ms load, 6 ms prune; 10⁵ files = 13 MB, ~0.6 s load — read once
per query plan), and those numbers hold REGARDLESS of bloom indexing:
bloom payloads (~1.7 KB/file/col) live in per-commit sidecar objects
under ``_blooms/`` (stats carry only a ref), loaded lazily — only for
equality probes, only for files surviving range pruning, memoized per
sidecar. Beyond ``checkpoint_shard_files`` live files (default 10⁵)
checkpoints take the hierarchical split the big table formats use:
per-shard columnar objects plus a manifest-list ROOT whose per-shard
pruning envelopes (column min/max, bounded partition-value sets) let
a predicated read plan from root + MATCHED shards + the delta chain —
O(shards touched), not O(live files) (measured at 10⁶ files:
full materialization 6.1 s / 3.5 MB; a narrow-band plan 0.26 s /
223 KB reading 1 of 16 shards — MANIFEST_PROBE_r11.json). The
PROTOCOL (immutable files +
one atomic conditional put) is unchanged by any of this; checkpoints
and deltas are layout, not semantics. The publish of staged data
files and the harvest of their footer/bloom stats run as one
distributed job above a small file-count threshold
(``_publish_distributed``), so commit-time work scales with
executors; the driver's only O(files) cost is manifest metadata.

There is ONE on-disk format, recorded as ``meta["layout"] == 2`` on
every snapshot (``_TABLE_FORMAT``): data files at final unique keys
under per-commit ``data/c<uuid>/`` dirs with the partition columns
kept in the pages (shadow hive path segments), decoded partition
values and footer stats in the manifest, blooms in sharded sidecars,
columnar (past a size, sharded) checkpoints. A snapshot in any other
format is rejected with a ``ValueError`` (``_check_format``), never
read under rules it was not written for.

Storage backends implement only put-if-absent / put / read / list /
delete / upload. ``LocalStorage`` targets POSIX (put-if-absent via
``os.link``, which is atomic and fails on EEXIST).
``ObjectStoreSimStorage`` (tests) models an object store: atomic PUT,
listing, NO rename primitive — its ``rename`` is deliberately
copy-then-delete with a visible intermediate window, and the protocol
tests prove correctness without ever calling it. On a real lake the
same protocol maps 1:1 onto S3 conditional PUT (If-None-Match) / GCS
preconditions; data-file upload maps onto the cloud committers'
direct-to-final-unique-name write, so no extra copy is paid at scale.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

COMMITS_DIR = "_commits"
CHECKPOINTS_DIR = "_checkpoints"
BLOOMS_DIR = "_blooms"
DVS_DIR = "_dvs"  # deletion-vector sidecars (merge-on-read DELETE/UPDATE)
DATA_DIR = "data"
_V_WIDTH = 20  # zero-padded so lexicographic listing order == numeric order
# Merge-on-read broadcasts its CDC-batch source so candidate files never
# shuffle — but only while the batch is genuinely batch-sized. Above this
# approx-distinct key count the source joins by shuffle instead (a 4M-key
# "batch" is tens-to-hundreds of MB per executor copy; broadcasting it to
# 1,000 executors is an OOM, not an optimization).
_MERGE_BROADCAST_MAX_KEYS = 4_000_000

# ``meta["layout"]`` of every snapshot: the one on-disk format (see the
# module docstring); ``_check_format`` rejects any other value.
_TABLE_FORMAT = 2

# Partitioned files are hive-partitioned on SHADOW copies of the
# partition columns (``__p_<col>=...`` path segments) so the data pages
# KEEP the real columns — see ``TransactionalTable._stage``.
_SHADOW_PREFIX = "__p_"


class CommitConflict(Exception):
    """Another writer committed the version this commit targeted.
    Re-read the table and retry the read-modify-write."""


class ExpectationViolation(ValueError):
    """``commit_with_expectations(on_violation="fail")`` found rows
    violating a declared expectation; nothing was committed."""


class ConstraintViolation(ValueError):
    """A write contained rows violating a table CHECK constraint
    (``add_constraint``), or ``ADD CONSTRAINT`` found existing rows
    violating the new predicate. Nothing was committed — constraints
    are always fail-closed, on every commit path."""


def evaluate_expectations(
    df: "DataFrame", expectations: dict[str, str]
) -> tuple:
    """Shared expectation-gate core (batch commits AND streaming
    micro-batches): evaluate each named SQL predicate fail-closed
    (NULL = violation), count per-rule and total violations in ONE
    aggregate over ``df`` (pruned to the predicate columns), and
    return ``(all_pass_col, flag_cols, audit)`` where ``audit`` is the
    JSON-safe counts dict callers park in manifest meta."""
    from functools import reduce

    from pyspark.sql import functions as F

    if not expectations:
        raise ValueError("expectations must be a non-empty dict")
    flags = {
        name: F.coalesce(F.expr(pred), F.lit(False))
        for name, pred in expectations.items()
    }
    all_pass = reduce(lambda a, b: a & b, flags.values())
    counts = df.agg(
        F.count(F.lit(1)).alias("__rows__"),
        F.sum((~all_pass).cast("long")).alias("__failed__"),
        *[
            F.sum((~flag).cast("long")).alias(name)
            for name, flag in flags.items()
        ],
    ).first()
    audit = {
        "rows_seen": int(counts["__rows__"] or 0),
        "rows_failed": int(counts["__failed__"] or 0),
        "predicates": dict(expectations),
        "violations": {n: int(counts[n] or 0) for n in expectations},
    }
    return all_pass, flags, audit


def failed_expectation_names(flags: dict) -> "object":
    """Column listing which of ``flags`` a row violates (for tagging
    quarantined rows)."""
    from pyspark.sql import functions as F

    return F.array_compact(
        F.array(
            *[F.when(~flag, F.lit(name)) for name, flag in flags.items()]
        )
    )


class LocalStorage:
    """POSIX-backed storage. put-if-absent = write temp + ``os.link``:
    the link is atomic, fails with EEXIST when the key exists, and the
    linked content is complete (written and closed before linking) — a
    reader can never observe a partial manifest."""

    # Spark can write DIRECTLY at this store's keys (``url()`` is a
    # Spark-writable location), so commits may skip the staging
    # double-write and land data files at their final unique keys
    # (see ``TransactionalTable._stage``). A backend whose
    # keys Spark cannot address (or that must route every byte through
    # ``put_if_absent`` — e.g. an encrypting wrapper) sets this False
    # and keeps the staged path.
    supports_direct_write = True

    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)

    # -- key <-> filesystem ------------------------------------------------
    def url(self, key: str) -> str:
        """Spark-readable location of ``key`` (local path here; a cloud
        backend returns the object URI). An ABSOLUTE key passes through
        unchanged — that is how a SHALLOW CLONE's manifest references
        another table's data files without copying them (clone_from
        absolutizes the source keys; ``list``/``delete`` only ever see
        own-root relative keys, so maintenance can never touch a
        foreign file)."""
        return os.path.join(self.root, key)

    # -- object ops --------------------------------------------------------
    def put_if_absent(self, key: str, data: bytes) -> bool:
        dest = self.url(key)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(dest))
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, dest)
                return True
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)

    def read(self, key: str) -> bytes:
        with open(self.url(key), "rb") as f:
            return f.read()

    def list(self, prefix: str) -> list[str]:
        """Recursive listing under ``prefix`` (object stores list by key
        prefix with no directory notion; partitioned data lives in
        nested ``col=val/`` key segments)."""
        base = self.url(prefix)
        if not os.path.isdir(base):
            return []
        out = []
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            rel = os.path.relpath(dirpath, base)
            for name in filenames:
                if name.startswith("."):
                    continue
                key = name if rel == "." else f"{rel}/{name}"
                out.append(f"{prefix}/{key}")
        return sorted(out)

    def delete(self, key: str) -> None:
        try:
            os.unlink(self.url(key))
        except FileNotFoundError:
            pass

    def upload_file(self, local_path: str, key: str) -> None:
        """Publish a locally-staged file at ``key``. Local backend: hard
        link when possible (zero-copy), else copy-to-temp + atomic
        ``os.replace`` — the key must never exist partially written,
        because resume-style callers (deep clone) treat an EXISTING key
        as already-published and skip it; a bare ``copyfile`` crashed
        mid-copy would leave a truncated file a re-run silently keeps.
        Cloud backends PUT the object — atomic by the store's contract.
        Either way the key name is unique and unreferenced until a
        manifest names it, so partial visibility cannot affect
        readers."""
        dest = self.url(key)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        try:
            os.link(local_path, dest)
        except OSError:
            tmp = f"{dest}.__tmp_{os.getpid()}"
            try:
                shutil.copyfile(local_path, tmp)
                os.replace(tmp, dest)
            finally:
                if os.path.exists(tmp):
                    try:
                        os.unlink(tmp)
                    except OSError:
                        pass

    def prune_write_artifacts(self, prefix: str) -> None:
        """Remove a Spark write's non-data sidecars (``_SUCCESS``,
        ``.crc`` checksums) under ``prefix`` after a direct
        write-at-final-keys commit — driver-side LISTING work only,
        bounded by the one directory the write just produced. Object
        stores configured with a cloud committer produce no such
        artifacts; this default covers Hadoop's checksummed local FS."""
        base = self.url(prefix)
        for dirpath, _dirnames, filenames in os.walk(base):
            for name in filenames:
                if not name.endswith(".parquet"):
                    try:
                        os.unlink(os.path.join(dirpath, name))
                    except OSError:
                        pass

    def prune_empty_dirs(self, prefix: str, grace_s: float) -> int:
        """Remove empty directories under ``prefix`` older than
        ``grace_s`` (bottom-up, so emptied parents collapse too) —
        vacuum's filesystem-hygiene sweep. The grace window protects
        the instant between an in-flight commit creating its directory
        tree and landing the first file; a raced ``rmdir`` of a dir
        that just received a file simply fails and is skipped."""
        base = self.url(prefix)
        removed = 0
        for dirpath, _dirnames, _filenames in os.walk(base, topdown=False):
            if dirpath == base:
                continue
            try:
                # re-list: children removed earlier in this bottom-up
                # walk no longer count against the parent
                if os.listdir(dirpath):
                    continue
                if time.time() - os.path.getmtime(dirpath) < grace_s:
                    continue
                os.rmdir(dirpath)
                removed += 1
            except OSError:
                continue
        return removed

    def age_seconds(self, key: str) -> float:
        """Seconds since ``key`` was written (mtime here; creation time
        on a real object store). Used by vacuum's in-flight grace."""
        try:
            return max(0.0, time.time() - os.path.getmtime(self.url(key)))
        except OSError:
            return float("inf")


class ObjectStoreSimStorage(LocalStorage):
    """Object-store semantics simulator for tests: atomic conditional
    PUT, flat listing, and — crucially — a ``rename`` that is
    copy-then-delete with a crash hook, mirroring what s3/gs "rename"
    actually does. The commit protocol never calls ``rename``; the test
    suite uses it to demonstrate why the old swap scheme is unsafe here.
    (PUT atomicity is emulated with a link because the sim runs on
    POSIX; real object stores provide atomic PUT natively.)"""

    def rename(self, src_key: str, dst_key: str, crash_after_copy: bool = False) -> None:
        src, dst = self.url(src_key), self.url(dst_key)
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
        if crash_after_copy:
            raise RuntimeError("simulated crash between copy and delete")
        if os.path.isdir(src):
            shutil.rmtree(src)
        else:
            os.unlink(src)


HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _unquote(raw: str) -> str:
    from urllib.parse import unquote

    return unquote(raw)


def _decode_hive_partition_value(raw: str):
    """Decode a hive directory-name partition value to its logical
    form: Spark percent-escapes special characters in partition paths
    (``col=a%3Ab`` for value ``a:b``) and writes NULL as the
    ``__HIVE_DEFAULT_PARTITION__`` sentinel. Manifests record the
    DECODED value so partition pruning and the streaming source
    compare/emit what the batch reader reconstructs, not the escaped
    path segment. Decode happens exactly once, at commit: Spark escapes
    ``%`` itself, so re-decoding an already-decoded value that
    legitimately contains ``%XX`` would corrupt it."""
    if raw == HIVE_NULL_PARTITION:
        return None
    return _unquote(raw)


def _canon_partition_query_value(v):
    """Canonical string form of a user-supplied ``partitions=`` value,
    matching how Spark renders the value in a hive path (post-decode):
    booleans are lowercase, None stays None (the NULL partition),
    everything else is ``str`` (dates/timestamps stringify to the path
    form already)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


_TS_STR_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}"
    r"(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?$"
)


def _canon_temporal_cmp(v):
    """Comparison-canonical form for values of a TEMPORAL column (the
    caller gates on the manifest schema — string columns never pass
    through here). Collapses the representations that denote the same
    instant but diverge lexicographically: tz-aware vs naive datetimes,
    'T' vs ' ' separators, and Spark's trimmed fractional seconds
    ('...00:00:00.5') vs Python/parquet's padded form ('...00:00:00.500000').
    Without this, a trimmed string probe compares BELOW a padded stat
    bound for the same instant and range pruning wrongly skips the
    file. Trimmed ISO forms preserve value order lexicographically, so
    normalizing both sides keeps every range proof valid."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        s = str(v)
        return s.rstrip("0").rstrip(".") if v.microsecond else s
    if isinstance(v, _dt.date):
        return str(v)
    if isinstance(v, str):
        if _TS_STR_RE.match(v):
            # parse and re-render through the datetime branch above so
            # every string form (T/space separator, Z or ±HH:MM offset,
            # padded fraction) lands on the one canonical rendering
            try:
                dv = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
            except ValueError:
                return v
            return _canon_temporal_cmp(dv)
        return v
    return v


def _json_safe_stat(v):
    """Make a parquet footer min/max JSON-serializable and ORDER-
    comparable after a JSON round-trip. Non-primitive types (dates,
    timestamps, decimals) are stringified — ISO forms compare in value
    order lexicographically, which is all pruning needs."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def collect_file_stats(local_path: str) -> dict | None:
    """Per-column min/max + row count from a parquet file's FOOTER
    (pyarrow metadata read — no data pages touched). Returns
    ``{"rows": n, "cols": {col: [min, max]}, "bytes": size}`` or None
    when the footer is unreadable.
    Nested columns and stat-less columns are simply absent (pruning
    treats absence as "cannot exclude"); ``bytes`` is absent when the
    source isn't stat-able."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(local_path).metadata
    except Exception:
        return None
    try:
        import os as _os

        nbytes = _os.path.getsize(local_path)
    except OSError:
        nbytes = None  # non-filesystem source: size is optional metadata
    cols: dict[str, list] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                if "." in name:  # nested leaf: not a top-level prunable col
                    continue
                # .min/.max themselves can raise for logical types
                # pyarrow can't extract (ArrowNotImplementedError) —
                # stats are an exclusion proof, absence is always safe
                mn, mx = _json_safe_stat(st.min), _json_safe_stat(st.max)
            except Exception:
                continue
            if mn is None or mx is None:
                continue
            if name in cols:
                cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
            else:
                cols[name] = [mn, mx]
    out = {"rows": md.num_rows, "cols": cols}
    if nbytes is not None:
        # physical size rides the stats so maintenance (bin-packing)
        # and streaming admission (maxbytespertrigger) stay
        # metadata-only — no per-file stat round-trips at plan time
        out["bytes"] = nbytes
    return out


_BLOOM_K = 7  # ~optimal for 10 bits/key => ~1% false-positive rate
_BLOOM_MAX_BITS = 1 << 18  # 32 KiB/bloom cap; overfull blooms only raise FPR


def _canon_bloom_value(v) -> str:
    """Deterministic canonical form hashed into blooms at BUILD and
    PROBE time (format v2). The rule: canonicalize by LOGICAL VALUE,
    not representation, for every equality Spark's residual filter
    would match after implicit cast — a representation-sensitive form
    here turns a legitimate cross-representation probe into a bloom
    FALSE NEGATIVE (a wrongly skipped file), violating the one-sided
    error contract. Concretely:

    - integral-valued numerics collapse (``7``, ``7.0``, ``True``,
      ``np.int64(7)``, ``Decimal('7.00')`` → ``"7"``);
    - non-integral reals and Decimals collapse through ``float``
      (``1.5``, ``Decimal('1.50')`` → ``"1.5"``);
    - dates/timestamps take their Spark string rendering
      (``date(2020, 1, 1)`` → ``"2020-01-01"``), the same form a
      string-literal probe supplies;
    - strings hash their raw value (md5 downstream — no
      PYTHONHASHSEED dependence), so a string probe meets the
      stringified temporal/numeric forms above.

    Collapsing distinct representations can only ADD false positives
    (a kept file), never false negatives."""
    import datetime as _dt
    import decimal
    import numbers

    if v is None:
        return "\x00null"
    if isinstance(v, numbers.Integral):  # includes bool
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        iv = v.to_integral_value()
        if v == iv:
            return str(int(iv))
        return repr(float(v))
    if isinstance(v, numbers.Real):
        f = float(v)
        return str(int(f)) if f.is_integer() else repr(f)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, _dt.datetime):
        # Hash Spark's rendering so a string-literal probe meets the
        # build-side datetime — any divergence here is a bloom FALSE
        # NEGATIVE. Two normalizations: (1) build-side values arrive
        # tz-AWARE UTC from pyarrow (parquet isAdjustedToUTC) while
        # probes are naive session-TZ strings — collapse to the UTC
        # wall time (the session TZ is pinned UTC in session.py);
        # (2) Spark trims trailing zeros in the fractional part
        # ('... 00:00:00.5') while Python str() pads six digits.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        s = str(v)
        if v.microsecond:
            s = s.rstrip("0")
        return s
    if isinstance(v, _dt.date):
        return str(v)  # '2020-01-01'
    return str(v)


_BLOOM_FORMAT_V = 2


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """k bit positions for ``value`` via double hashing of one md5 of
    its canonical form (``_canon_bloom_value``)."""
    import hashlib

    d = hashlib.md5(_canon_bloom_value(value).encode()).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd => full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def build_bloom_stats(local_path: str, cols: list[str]) -> dict:
    """Per-column Bloom filters over a staged parquet file's distinct
    values — the point-lookup complement to min/max zone maps: an
    equality predicate on a HIGH-CARDINALITY, UNSORTED key (user_id,
    order id, doc fingerprint) spans every file's [min,max], so range
    stats exclude nothing, but a ~10-bits/key bloom excludes ~99% of
    non-matching files from the manifest alone (the Delta/Iceberg/
    Parquet bloom-filter idea, lifted to manifest level so planning
    never opens a footer). Sized from the file's actual distinct
    count, capped at 32 KiB; correctness is one-sided (no false
    negatives), so an overfull bloom only skips less."""
    import base64
    import hashlib

    import numpy as _np
    import pyarrow.compute as _pc
    import pyarrow.parquet as pq

    try:
        f = pq.ParquetFile(local_path)
        # intersect with the file's actual columns: an evolution append
        # may stage files that lack an indexed column (NULL-filled at
        # read time — nothing to index)
        present = [c for c in cols if c in f.schema_arrow.names]
        if not present:
            return {}
        t = f.read(columns=present)
    except Exception:
        return {}
    out: dict[str, dict] = {}
    for c in t.column_names:
        # distinct in C (arrow unique) instead of a python set over
        # to_pylist
        vals = [v for v in _pc.unique(t.column(c)).to_pylist() if v is not None]
        if not vals:
            continue
        m = min(_BLOOM_MAX_BITS, max(64, 10 * len(vals)))
        m = (m + 7) // 8 * 8
        if len(vals) > 256:
            # Vectorized position math (round 15): the per-value md5 is
            # irreducible (it IS the persisted bloom format), but the k
            # double-hash positions and bit sets move to numpy. Exact
            # bit-identity with _bloom_positions: (h1 + i·h2) % m ==
            # ((h1 % m) + i·(h2 % m)) % m, and with m ≤ 2^18 the
            # reduced sum fits uint64 with no wraparound, so the
            # positions match the python loop bit for bit.
            digest = hashlib.md5
            canon = _canon_bloom_value
            buf = b"".join(digest(canon(v).encode()).digest() for v in vals)
            arr = _np.frombuffer(buf, dtype="<u8").reshape(-1, 2)
            mm = _np.uint64(m)
            hm1 = arr[:, 0] % mm
            hm2 = (arr[:, 1] | _np.uint64(1)) % mm
            ks = _np.arange(_BLOOM_K, dtype=_np.uint64)
            pos = (hm1[:, None] + ks[None, :] * hm2[:, None]) % mm
            bits_arr = _np.zeros(m // 8, dtype=_np.uint8)
            _np.bitwise_or.at(
                bits_arr,
                (pos >> _np.uint64(3)).ravel(),
                _np.uint8(1) << (pos & _np.uint64(7)).ravel().astype(_np.uint8),
            )
            bits = bytes(bits_arr.tobytes())
        else:
            buf2 = bytearray(m // 8)
            for v in vals:
                for h in _bloom_positions(v, m, _BLOOM_K):
                    buf2[h >> 3] |= 1 << (h & 7)
            bits = bytes(buf2)
        out[c] = {
            "m": m,
            "k": _BLOOM_K,
            "v": _BLOOM_FORMAT_V,
            "b64": base64.b64encode(bits).decode(),
        }
    return out


def bloom_might_contain(bloom: dict, value) -> bool:
    """One-sided membership probe: False only when ``value`` is provably
    absent. A bloom of any format other than ``_BLOOM_FORMAT_V`` gives
    no proof (True) — it may cost a read, never drop a file."""
    import base64

    if bloom.get("v") != _BLOOM_FORMAT_V:
        return True
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[h >> 3] & (1 << (h & 7))
        for h in _bloom_positions(value, bloom["m"], bloom.get("k", _BLOOM_K))
    )


def prune_files(
    manifest: dict,
    where: list[tuple] | None,
    equals: list[tuple] | None = None,
    bloom_loader=None,
    files: list[str] | None = None,
) -> list[str]:
    """File-level data skipping from manifest statistics: keep only
    files whose [min, max] range can intersect every ``(col, lo, hi)``
    predicate (``lo``/``hi`` may be None for one-sided bounds) AND
    whose stats cannot disprove every ``(col, value)`` equality in
    ``equals`` — by range (value outside [min,max]) or by Bloom filter
    (``build_bloom_stats``) when the commit indexed the column. Files
    or columns WITHOUT stats are kept — pruning is only ever an
    exclusion proof, so missing metadata degrades to a full read, never
    a wrong one. This is the Iceberg/Delta min-max + bloom skipping
    idea on the commit log: the planner decides from the manifest alone
    which of a 100 TB table's files a selective scan must open.

    Bloom payloads live OUT of the manifest in per-commit SIDECAR
    objects (a file's stats carry only a ``bloom_ref`` key): manifests
    and checkpoints stay ~130 B/file however many columns are
    bloom-indexed, and non-equality reads never touch a bloom byte.
    ``bloom_loader`` (``TransactionalTable._bloom_sidecar``) resolves a
    ref to its {file: {col: bloom}} map, called LAZILY — only for files
    that survive range pruning, only when ``equals`` is given, and
    memoized per sidecar so a commit's blooms load once however many
    files reference them. A missing/unreadable sidecar degrades to
    "no proof" (file kept). ``files`` restricts the candidate
    set (e.g. the survivors of manifest PARTITION pruning, which runs
    first because it is pure metadata — so bloom sidecars load only
    for the candidate partitions' files, O(candidates) not
    O(snapshot))."""
    files = manifest["files"] if files is None else files
    if not where and not equals:
        return list(files)
    # each equality is a value SET (IN-list); a scalar is a 1-list.
    # None values are dropped everywhere below: SQL equality/IN never
    # matches NULL (the residual filter is three-valued too), and a
    # None inside min()/max()/bloom probes would otherwise crash or
    # wrongly exclude — dropping it degrades to "no proof", never a
    # wrong skip.
    eq = [
        (
            col,
            [
                u
                for u in (
                    v if isinstance(v, (list, tuple, set)) else [v]
                )
                if u is not None
            ],
        )
        for col, v in (equals or [])
    ]
    bands = list(where or [])
    for col, vs in eq:
        if not vs:
            continue
        try:
            bands.append((col, min(vs), max(vs)))
        except TypeError:
            # mixed-type IN-list: no total order, so no range proof —
            # keep the band out (files still bloom-probed per value)
            pass
    stats = manifest.get("stats", {})
    # TEMPORAL columns compare through a canonical rendering: stat
    # bounds round-trip JSON as PADDED strings ('...00:00:00.500000')
    # while Spark-form probes are TRIMMED ('...00:00:00.5') — raw
    # lexicographic compare would call equal instants unequal and
    # wrongly skip files. Gated on the manifest schema so string
    # columns keep exact raw ordering.
    temporal = {
        c
        for c, t in (manifest.get("schema") or {}).items()
        if isinstance(t, str)
        and (t.startswith("timestamp") or t == "date")
    }
    bands = [
        (
            col,
            _canon_temporal_cmp(lo) if col in temporal else lo,
            _canon_temporal_cmp(hi) if col in temporal else hi,
        )
        for col, lo, hi in bands
    ]
    band_kept = []
    for f in files:
        fstats = stats.get(f)
        keep = True
        if fstats:
            for col, lo, hi in bands:
                rng = fstats.get("cols", {}).get(col)
                if rng is None:
                    continue
                mn, mx = rng
                if col in temporal:
                    mn, mx = _canon_temporal_cmp(mn), _canon_temporal_cmp(mx)
                try:
                    if (lo is not None and mx < lo) or (
                        hi is not None and mn > hi
                    ):
                        keep = False
                        break
                except TypeError:  # incomparable bound/stat types: no proof
                    continue
        if keep:
            band_kept.append(f)
    if not (eq and any(vs for _, vs in eq)):
        return band_kept
    if bloom_loader is not None:
        # PREFETCH the band survivors' sidecar shards concurrently:
        # each is an independent small GET (memoized by the loader),
        # and an object store serves 8 parallel GETs in ~1 RTT-bound
        # batch instead of a serial chain. Driver-side, bounded by the
        # candidate set — partition/band pruning already ran.
        refs = {
            stats[f]["bloom_ref"]
            for f in band_kept
            if "bloom_ref" in stats.get(f, {})
        }
        if len(refs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(refs))) as ex:
                list(ex.map(bloom_loader, refs))
    kept = []
    for f in band_kept:
        fstats = stats.get(f)
        keep = True
        if fstats:
            for col, vs in eq:
                # PER-VALUE range exclusion (round 15 — the hypothesis
                # superset-safety property caught that only the coarse
                # min(vs)..max(vs) band was applied, so `a IN (0, 2)`
                # could not exclude a file with range [1, 1] even
                # though _shard_may_match excludes the shard; the
                # docstring always promised the per-value proof): a
                # file whose [min,max] contains NONE of the IN values
                # can never satisfy the equality.
                rng = fstats.get("cols", {}).get(col)
                if rng is not None and vs:
                    mn, mx = rng
                    if col in temporal:
                        mn, mx = (
                            _canon_temporal_cmp(mn),
                            _canon_temporal_cmp(mx),
                        )
                        cvs = [_canon_temporal_cmp(v) for v in vs]
                    else:
                        cvs = vs
                    try:
                        if all(v < mn or v > mx for v in cvs):
                            keep = False
                            break
                    except TypeError:  # incomparable types: no proof
                        pass
                bloom = None
                ref = fstats.get("bloom_ref")
                if ref and vs and bloom_loader is not None:
                    bloom = (bloom_loader(ref) or {}).get(f, {}).get(col)
                # TEMPORAL probes canonicalize by LOGICAL VALUE before
                # hashing, mirroring the band path above: build-side
                # blooms hash Spark's trimmed space-separated UTC
                # rendering (_canon_bloom_value's datetime branch ==
                # _canon_temporal_cmp's), so a raw 'T'-separated or
                # fraction-padded string probe of the same instant would
                # be a bloom FALSE NEGATIVE — a silently skipped file,
                # violating the one-sided-error contract.
                if bloom is not None and vs:
                    pvs = (
                        [_canon_temporal_cmp(v) for v in vs]
                        if col in temporal
                        else vs
                    )
                    if not any(
                        bloom_might_contain(bloom, v) for v in pvs
                    ):
                        keep = False
                        break
        if keep:
            kept.append(f)
    return kept


def _scan_top_level(text: str, sep: str):
    """Yield the offsets of every TOP-LEVEL occurrence of ``sep`` in
    ``text`` — outside single-quoted strings and parentheses; an
    alphabetic ``sep`` matches case-insensitively on word boundaries,
    and the ``AND`` that belongs to a pending ``BETWEEN`` is never a
    separator. The workhorse of the light SQL-shape parsing the DML
    front door does; it never needs a full grammar because
    correctness NEVER depends on it — unparsed pieces just
    contribute no file pruning."""
    depth = 0
    in_str = False
    pending_between = 0
    i = 0
    n = len(text)
    word_sep = sep[0].isalpha()
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    i += 1  # escaped quote
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and not word_sep and text.startswith(sep, i):
            yield i
            i += len(sep)
            continue
        elif depth == 0 and word_sep and ch.isalpha():
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            word = text[i:j].upper()
            boundary_ok = i == 0 or not (
                text[i - 1].isalnum() or text[i - 1] == "_"
            )
            if boundary_ok:
                if word == "BETWEEN":
                    pending_between += 1
                elif word == "AND" and pending_between > 0 and sep == "AND":
                    pending_between -= 1
                elif word == sep:
                    yield i
            i = j
            continue
        i += 1


def _split_top_level(text: str, sep: str) -> list[str]:
    """Split ``text`` on top-level ``sep`` (see :func:`_scan_top_level`)."""
    parts: list[str] = []
    start = 0
    for i in _scan_top_level(text, sep):
        parts.append(text[start:i])
        start = i + len(sep)
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


_SQL_IDENT = r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)"
_SQL_LIT = (
    r"(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"  # number
    r"|'(?:[^']|'')*'"  # string
    r"|(?:DATE|TIMESTAMP)\s*'(?:[^']|'')*')"  # temporal
)


def _sql_literal_value(tok: str):
    """Python value of a parsed SQL literal token (number, string,
    DATE/TIMESTAMP string) for min/max band comparison against
    manifest stats."""
    tok = tok.strip()
    up = tok.upper()
    if up.startswith("DATE") or up.startswith("TIMESTAMP"):
        tok = tok[tok.index("'") :]
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    f = float(tok)
    return int(f) if f.is_integer() and "." not in tok and "e" not in tok.lower() else f


def _sql_predicate_prune_hints(
    predicate: str,
) -> tuple[list[tuple], list[tuple]]:
    """Conservative file-pruning hints extracted from a SQL predicate:
    ``(bands, equalities)`` in :func:`prune_files` form, from the
    top-level AND conjuncts that are simple ``col <op> literal`` /
    ``literal <op> col`` / ``col BETWEEN a AND b`` comparisons.
    Anything else (ORs, functions, subqueries, column-to-column)
    contributes NO hint — the residual row filter stays exact, so a
    missed hint only costs pruning, never correctness. Strict ``<`` /
    ``>`` bounds are widened to inclusive (a superset keep)."""
    import re

    bands: list[tuple] = []
    eqs: list[tuple] = []
    col_op_lit = re.compile(
        rf"^{_SQL_IDENT}\s*(=|==|>=|<=|>|<)\s*{_SQL_LIT}$", re.I | re.S
    )
    lit_op_col = re.compile(
        rf"^{_SQL_LIT}\s*(=|==|>=|<=|>|<)\s*{_SQL_IDENT}$", re.I | re.S
    )
    between = re.compile(
        rf"^{_SQL_IDENT}\s+BETWEEN\s+{_SQL_LIT}\s+AND\s+{_SQL_LIT}$",
        re.I | re.S,
    )
    for conj in _split_top_level(predicate, "AND"):
        c = conj.strip()
        while c.startswith("(") and c.endswith(")"):
            # strip only a MATCHED outer pair ("(a) = (b)" keeps its
            # parens: the first '(' closes before the end)
            depth = 0
            matched = True
            for i, ch in enumerate(c):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                if depth == 0 and i < len(c) - 1:
                    matched = False
                    break
            if not matched:
                break
            c = c[1:-1].strip()
        m = col_op_lit.match(c)
        flipped = False
        if m is None:
            m2 = lit_op_col.match(c)
            if m2 is not None:
                m, flipped = m2, True
        if m is not None:
            if flipped:
                lit_tok, op, col = m.group(1), m.group(2), m.group(3)
                op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
            else:
                col, op, lit_tok = m.group(1), m.group(2), m.group(3)
            try:
                v = _sql_literal_value(lit_tok)
            except ValueError:
                continue
            if op in ("=", "=="):
                bands.append((col, v, v))
                eqs.append((col, [v]))
            elif op in (">", ">="):
                bands.append((col, v, None))
            else:
                bands.append((col, None, v))
            continue
        m = between.match(c)
        if m is not None:
            try:
                lo = _sql_literal_value(m.group(2))
                hi = _sql_literal_value(m.group(3))
            except ValueError:
                continue
            bands.append((m.group(1), lo, hi))
    return bands, eqs


def _evolve_schema(
    old: dict | None, new: dict, allow: bool, root: str, mode: str
) -> tuple[dict, bool]:
    """Merge an incoming commit schema into the table schema for
    append-family commits. Returns ``(manifest_schema, evolved)``;
    raises when the schemas differ and evolution is not allowed, or
    when a column present in both changed type incompatibly.

    A commit whose column type safely WIDENS to the declared table
    type (``int`` frame into a ``bigint`` table — the normal state of
    old writers after ``ALTER TABLE ... ALTER COLUMN TYPE``) is always
    legal, with or without ``allow``: the declared (wider) type wins,
    the narrow physical files land as-is, and the read path's explicit
    wider schema upcasts them on scan (Delta's post-type-widening
    append contract). The reverse — a commit WIDER than the table —
    still requires an explicit ``alter_column_type`` first, so an
    append can never silently change the declared schema."""
    if old is None or old == new:
        return new, False

    def _upcastable(c: str) -> bool:
        return old[c] in _WIDENINGS.get(new[c], ())

    if set(old) == set(new) and all(
        old[c] == new[c] or _upcastable(c) for c in new
    ):
        return dict(old), True
    if not allow:
        raise ValueError(
            f"{root}: {mode} schema mismatch — table has {old}, commit "
            f"brings {new}. Appends must match the table schema exactly "
            "(narrower types that safely widen to the declared type are "
            "upcast on read); pass allow_schema_evolution=True to add or "
            "omit columns, alter_column_type to widen the declared type, "
            "or evolve otherwise with a full replace commit."
        )
    conflicts = {
        c: (old[c], new[c])
        for c in old.keys() & new.keys()
        if old[c] != new[c] and not _upcastable(c)
    }
    if conflicts:
        raise ValueError(
            f"{root}: {mode} schema evolution cannot change column types: "
            f"{conflicts}; widen the declared type with alter_column_type "
            "or rewrite with a full replace commit instead"
        )
    # table columns keep their order and DECLARED type (for an
    # upcastable pair that is the wider one); new-only columns append
    return {**old, **{c: t for c, t in new.items() if c not in old}}, True


def _reconcile_schema(df: DataFrame, m: dict) -> DataFrame:
    """Project ``df`` up to the manifest's union schema: any column the
    physical files don't carry yet (ALTER TABLE ADD COLUMNS is a
    schema-only commit — no file is rewritten) is appended as a typed
    NULL literal, in the manifest's (JSON-sorted) order after the
    physical columns — the same shape a mergeSchema read produces once
    a post-evolution file exists. No-op (returns ``df`` untouched) on
    the overwhelmingly common path where files already cover the
    schema."""
    missing = {
        c: t for c, t in (m.get("schema") or {}).items() if c not in df.columns
    }
    if not missing:
        return df
    from pyspark.sql import functions as F

    return df.select(
        "*", *[F.lit(None).cast(t).alias(c) for c, t in missing.items()]
    )


# Type widenings the parquet vectorized reader can upcast on scan
# (verified: explicit wider read schema over narrow files) — the
# Delta/Iceberg safe-widening set for the types the engine stores.
# bigint→double is deliberately ABSENT (lossy above 2^53).
_WIDENINGS: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def _logical_rows(stats: dict, f: str) -> int | None:
    """LOGICAL row count of one file: physical footer rows minus the
    rows its deletion vector soft-deleted. None when the file has no
    recorded row count (pruning/arithmetic then fall back to a scan)."""
    s = stats.get(f, {})
    r = s.get("rows")
    if r is None:
        return None
    return int(r) - int(s.get("dv", {}).get("n", 0))


def _drop_empty_staged(
    keys: list[str], stats: dict, have_other_files: bool | None
) -> tuple[list[str], dict, tuple[str, dict] | None]:
    """Filter 0-row files out of a commit's staged add-set: a 0-row
    file carries no min/max/bloom stats, so once committed it is a
    candidate for EVERY pruned read forever (one no-op scan task per
    stray per query). Empty input partitions and emptied rewrites
    produce them routinely. A zero-file snapshot is unreadable, so one
    empty file survives as the SCHEMA ANCHOR:

    - ``have_other_files`` True: retained files anchor the schema —
      every empty staged file drops;
    - False: when everything staged is empty, ONE stays in ``keys``;
    - None (DEFER): the anchor is never kept in ``keys``; it returns
      as the third element for the caller to re-add iff its final
      file set (which this helper cannot see) ends up empty —
      ``commit``'s shape, where retained files are only known inside
      the CAS loop.

    Files with UNKNOWN row counts (no stats harvested) are treated as
    non-empty — dropping data is never worth saving a scan task.
    Dropped strays are vacuum backlog. Returns
    ``(keys, stats, anchor)``; ``anchor`` is ``(key, stats_entry)``
    or None."""
    nonempty = [k for k in keys if stats.get(k, {}).get("rows") != 0]
    if len(nonempty) == len(keys):
        return keys, stats, None
    anchor: tuple[str, dict] | None = None
    if not nonempty and keys:
        dropped = keys[0]
        anchor = (dropped, stats.get(dropped, {}))
        if have_other_files is False:
            nonempty = [dropped]
            anchor = None
    return (
        nonempty,
        {k: stats[k] for k in nonempty if k in stats},
        anchor,
    )


def _publish_one(
    storage: "LocalStorage",
    local: str | None,
    key: str,
    part_vals: dict,
    bloom_cols: list[str] | None,
) -> dict:
    """Publish ONE staged file at its final unique key and harvest its
    manifest stats entry (footer min/max + row count, partition values,
    optional blooms). Pure per-file work with no shared state — the
    unit both the driver-side loop (small commits) and the distributed
    publish job (large commits) execute. ``local=None`` means the data
    bytes ALREADY sit at ``key`` (a direct write-at-final-keys
    commit): only the footer/bloom harvest remains — no upload, the
    bytes never move twice."""
    src = local if local is not None else storage.url(key)
    fstats = collect_file_stats(src) or {}
    if part_vals:
        fstats["partition"] = part_vals
    if bloom_cols:
        # one column-projected read per staged file — the same
        # moment Delta's writer collects its bloom; never touches
        # committed files
        blooms = build_bloom_stats(src, list(bloom_cols))
        if blooms:
            fstats["bloom"] = blooms
    if local is not None:
        storage.upload_file(local, key)
    return fstats


def _arrow_stage_writer(
    dest_dir: str,
    cdir: str,
    arrow_schema_bytes: bytes,
    max_records_per_file: int | None,
    bloom_cols: list[str],
):
    """Build the ``mapInArrow`` function for the arrow-native staging
    writer (see ``TransactionalTable._stage_arrow_local``): each task
    writes its own partition's rows as ≤``max_records_per_file``-row
    parquet files DIRECTLY at their final keys via pyarrow — no Hadoop
    committer, no per-file ``.crc`` sidecar, no ``_SUCCESS``, no
    driver-side job commit — and harvests each file's footer stats +
    blooms in the same pass (the bytes are still warm in the page
    cache), yielding only (key, stats-json) metadata rows. Task 0
    additionally writes a 0-row SCHEMA-ANCHOR file when it received no
    rows, so an empty frame still stages ≥1 file (the anchor invariant
    ``_drop_empty_staged`` relies on); spurious 0-row files from other
    empty tasks are impossible (they write nothing)."""

    def write_partition(batches):
        import json as _json
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        mrpf = int(max_records_per_file) if max_records_per_file else None
        out_keys: list[str] = []
        out_stats: list[str] = []

        def flush(tbl: "pa.Table") -> None:
            name = (
                f"part-{pid:05d}-{len(out_keys):04d}-"
                f"{_uuid.uuid4().hex}.parquet"
            )
            path = f"{dest_dir}/{name}"
            pq.write_table(tbl, path)
            fstats = collect_file_stats(path) or {}
            if bloom_cols:
                blooms = build_bloom_stats(path, list(bloom_cols))
                if blooms:
                    fstats["bloom"] = blooms
            out_keys.append(f"{cdir}/{name}")
            out_stats.append(_json.dumps(fstats))

        buf: list = []
        buffered = 0
        for batch in batches:
            if batch.schema != schema:
                # Spark's arrow interchange marks non-nullable columns
                # `not null`, while the declared schema (to_arrow_schema
                # of the DataFrame schema) is all-nullable — and
                # Table.from_batches demands EXACT schema equality.
                # Nullability widening is a zero-copy cast; a genuinely
                # unconvertible batch raises here and the caller falls
                # back to the Spark writer.
                batch = batch.cast(schema)
            buf.append(batch)
            buffered += batch.num_rows
            while mrpf and buffered >= mrpf:
                tbl = pa.Table.from_batches(buf, schema=schema)
                flush(tbl.slice(0, mrpf))
                rest = tbl.slice(mrpf)
                buf = rest.to_batches() if rest.num_rows else []
                buffered = rest.num_rows
        if buffered:
            flush(pa.Table.from_batches(buf, schema=schema))
        if pid == 0 and not out_keys:
            # schema anchor for the empty-frame commit (dropped by
            # _drop_empty_staged whenever other staged files exist)
            flush(schema.empty_table())
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_keys, pa.string()), pa.array(out_stats, pa.string())],
            names=["key", "stats"],
        )

    return write_partition


def _publish_distributed(
    spark: SparkSession,
    storage: "LocalStorage",
    tasks: list[tuple],
    bloom_cols: list[str] | None,
) -> dict:
    """Publish staged files and harvest their stats as ONE Spark job:
    each task uploads its files and reads their parquet footers /
    bloom projections executor-side, returning only the (key, stats)
    metadata to the driver — the writer-task-committer shape, where
    commit-time work scales with executors, not with a driver loop.
    The driver's only O(files) cost is the manifest metadata itself.
    The storage handle is shipped by value (root path + class); any
    failure (unpicklable storage subclass, worker import) is raised to
    the caller, which falls back to the serial loop — re-publishing
    the same unique keys is idempotent and unreferenced strays are
    vacuum's job. Assumes the staging paths are reachable from the
    executors: trivially true in local mode (one host); on a real
    cluster staging lives on shared storage, or disappears entirely —
    the cloud committer writes data files directly at their final
    unique keys and only the footer/bloom harvest remains as this
    job, reading from the store."""
    bcols = list(bloom_cols or [])

    def _run(batch):
        out = []
        for local, key, part_vals in batch:
            out.append((key, _publish_one(storage, local, key, part_vals, bcols)))
        return out

    sc = spark.sparkContext
    n = max(1, min(len(tasks), sc.defaultParallelism))
    return dict(sc.parallelize(list(tasks), n).mapPartitions(_run).collect())


_listing_lock = threading.Lock()
_listing_depth = 0
_listing_prior: str | None = None


@contextmanager
def _no_listing_job(spark: SparkSession, n_paths: int):
    """Manifest-planned reads hand Spark EXPLICIT file paths — every
    one known to exist (committed manifests are immutable), so the
    InMemoryFileIndex parallel-listing JOB is pure overhead: above
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default
    32) Spark launches a one-task-per-path job just to stat the files,
    ~1.5–2 s of plan wall at 1,024 files vs ~0.3 s of serial driver
    stats (measured, bench.py tx_micro; still ~7× at 16,384 paths).
    Raise the threshold above the path count FOR THE DURATION OF THE
    PLANNING CALL ONLY — the file index is built eagerly inside
    ``reader.parquet(...)``, so scoping the override to the ``with``
    body suffices — then restore the session's prior value, so
    unrelated directory-based scans in the same session keep Spark's
    parallel listing at file counts where it wins. Reentrant across
    nested/concurrent planners via a depth counter: the PRE-OUTERMOST
    value is what gets restored."""
    global _listing_depth, _listing_prior
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _listing_lock:
        try:
            cur = int(spark.conf.get(key))
        except Exception:
            cur = 32
        if _listing_depth == 0 and n_paths >= cur:
            _listing_prior = str(cur)
        if n_paths >= cur:
            spark.conf.set(key, str(max(4096, 2 * n_paths)))
        _listing_depth += 1
    try:
        yield
    finally:
        with _listing_lock:
            _listing_depth -= 1
            if _listing_depth == 0 and _listing_prior is not None:
                try:
                    spark.conf.set(key, _listing_prior)
                except Exception:
                    pass
                _listing_prior = None


def _manifest_key(version: int) -> str:
    return f"{COMMITS_DIR}/v{version:0{_V_WIDTH}d}.json"


def _checkpoint_parquet_key(version: int) -> str:
    return f"{CHECKPOINTS_DIR}/v{version:0{_V_WIDTH}d}.parquet"


def _checkpoint_root_key(version: int) -> str:
    """Root of a SHARDED checkpoint (manifest-list, Iceberg-style):
    header fields + one envelope entry per shard. Written LAST, so a
    visible root implies every shard it lists is durable."""
    return f"{CHECKPOINTS_DIR}/v{version:0{_V_WIDTH}d}.root.json"


def _checkpoint_shard_key(version: int, i: int, size: int) -> str:
    """Shard object key. ``size`` (the writer's checkpoint_shard_files)
    is embedded in the key so two writers of the same immutable version
    configured with DIFFERENT shard sizes publish to disjoint key sets —
    a surviving root can only ever resolve shards sliced the way its
    own envelope list describes."""
    return (
        f"{CHECKPOINTS_DIR}/v{version:0{_V_WIDTH}d}"
        f".s{size}.shard-{i:05d}.parquet"
    )


# Cap on the per-column distinct-partition-value set recorded in a
# shard envelope; past it the column is marked unbounded (the shard
# then cannot be excluded on that column — superset-safe, and the root
# stays small however many partitions a giant shard spans).
_SHARD_ENVELOPE_MAX_PART_VALUES = 64


def _shard_envelope(files_slice: list[str], stats: dict) -> dict:
    """Aggregate per-shard pruning envelope: per-column [min, max]
    over the slice's file stats (a column any file lacks is omitted —
    cannot exclude on it) and per-column partition-value sets (omitted
    when any file lacks the value or the set exceeds the cap). Both
    are EXCLUSION proofs only: an absent entry degrades to 'load the
    shard', never a wrong skip."""
    bands: dict[str, list] = {}
    band_bad: set[str] = set()
    parts: dict[str, set] = {}
    part_bad: set[str] = set()
    rows = 0
    rows_known = True
    first = True
    for f in files_slice:
        s = stats.get(f) or {}
        r = s.get("rows")
        if r is None:
            rows_known = False
        else:
            rows += int(r)
        cols = s.get("cols") or {}
        part = s.get("partition") or {}
        if first:
            for c, rng in cols.items():
                bands[c] = [rng[0], rng[1]]
            for c, v in part.items():
                parts[c] = {v}
            first = False
            continue
        for c in list(bands):
            rng = cols.get(c)
            if rng is None or c in band_bad:
                band_bad.add(c)
                continue
            try:
                if rng[0] < bands[c][0]:
                    bands[c][0] = rng[0]
                if rng[1] > bands[c][1]:
                    bands[c][1] = rng[1]
            except TypeError:
                band_bad.add(c)
        for c in cols:
            if c not in bands:
                band_bad.add(c)  # appeared late: not in every file
        for c in list(parts):
            if c not in part or c in part_bad:
                part_bad.add(c)
                continue
            parts[c].add(part[c])
            if len(parts[c]) > _SHARD_ENVELOPE_MAX_PART_VALUES:
                part_bad.add(c)
    env: dict = {"n_files": len(files_slice)}
    if rows_known:
        env["rows"] = rows
    out_bands = {c: v for c, v in bands.items() if c not in band_bad}
    if out_bands:
        env["bands"] = out_bands
    out_parts = {
        c: sorted(v, key=lambda x: (x is None, str(x)))
        for c, v in parts.items()
        if c not in part_bad
    }
    if out_parts:
        env["partition_values"] = out_parts
    return env


def _shard_may_match(
    env: dict,
    bands: list[tuple] | None,
    eq: list[tuple] | None,
    partitions: dict | None,
    temporal: set[str] | None = None,
) -> bool:
    """Can any file in a shard survive the given predicates? Mirrors
    ``prune_files``' semantics one level up: exclusion only, missing
    envelope data keeps the shard. ``temporal`` is the schema-derived
    timestamp/date column set: probe bounds arrive Spark-trimmed
    ('...00:00:00.5') while envelope bands round-trip JSON padded
    ('...00:00:00.500000'), so both sides must pass through
    ``_canon_temporal_cmp`` before the lexicographic compare — exactly
    as ``prune_files`` does per-file — or an equal-instant probe
    wrongly excludes the whole shard."""
    temporal = temporal or set()
    ebands = env.get("bands") or {}

    def _rng(col):
        r = ebands.get(col)
        if r is None or col not in temporal:
            return r
        return (_canon_temporal_cmp(r[0]), _canon_temporal_cmp(r[1]))

    for col, lo, hi in bands or []:
        rng = _rng(col)
        if rng is None:
            continue
        if col in temporal:
            lo = _canon_temporal_cmp(lo) if lo is not None else None
            hi = _canon_temporal_cmp(hi) if hi is not None else None
        try:
            if lo is not None and rng[1] < lo:
                return False
            if hi is not None and rng[0] > hi:
                return False
        except TypeError:
            continue
    for col, vals in eq or []:
        rng = _rng(col)
        if rng is None:
            continue
        vs = [
            v
            for v in (
                vals if isinstance(vals, (list, tuple, set)) else [vals]
            )
            if v is not None
        ]
        if not vs:
            continue
        if col in temporal:
            vs = [_canon_temporal_cmp(v) for v in vs]
        try:
            if all(v < rng[0] or v > rng[1] for v in vs):
                return False
        except TypeError:
            continue
    eparts = env.get("partition_values") or {}
    for col, vals in (partitions or {}).items():
        have = eparts.get(col)
        if have is None:
            continue
        if not (set(have) & set(vals)):
            return False
    return True


_CKPT_STAT_COLS = ("rows", "partition", "cols", "bloom_ref")


def _encode_checkpoint_parquet(full: dict) -> bytes:
    """COLUMNAR checkpoint encoding — the Delta 'checkpoint parquet'
    shape: one row per data file (key, row count, partition values,
    min/max zone maps, bloom sidecar ref), table-level fields (version,
    parent, schema, meta, ...) as a small JSON header in the parquet
    footer's key-value metadata. Why parquet and not the JSON manifest
    dump: a JSON checkpoint costs O(files) text parse and one giant
    dict materialization at EVERY cold snapshot resolution — ~1.4 MB
    and fine at 10³ files, ~1.4 GB and a driver OOM at 10⁶. Columnar
    encoding makes the load a vectorized Arrow read, lets a reader
    PROJECT just the columns a question needs (a count touches only
    the header; planning touches file/partition/cols), and compresses
    the repetitive key/JSON text ~10×."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = full["files"]
    stats = full.get("stats", {})
    cols: dict[str, list] = {c: [] for c in _CKPT_STAT_COLS}
    extra: list = []
    for f in files:
        s = stats.get(f)
        if s is None:
            for c in _CKPT_STAT_COLS:
                cols[c].append(None)
            extra.append(None)
            continue
        cols["rows"].append(s.get("rows"))
        cols["partition"].append(
            json.dumps(s["partition"], sort_keys=True)
            if "partition" in s
            else None
        )
        cols["cols"].append(
            json.dumps(s["cols"], sort_keys=True) if "cols" in s else None
        )
        cols["bloom_ref"].append(s.get("bloom_ref"))
        rest = {k: v for k, v in s.items() if k not in _CKPT_STAT_COLS}
        extra.append(json.dumps(rest, sort_keys=True) if rest else None)
    header = {k: v for k, v in full.items() if k not in ("files", "stats")}
    table = pa.table(
        {
            "file": pa.array(files, pa.string()),
            "rows": pa.array(cols["rows"], pa.int64()),
            "partition": pa.array(cols["partition"], pa.string()),
            "cols": pa.array(cols["cols"], pa.string()),
            "bloom_ref": pa.array(cols["bloom_ref"], pa.string()),
            "extra": pa.array(extra, pa.string()),
        }
    ).replace_schema_metadata(
        {"txtable_checkpoint_header": json.dumps(header, sort_keys=True)}
    )
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="zstd")
    return buf.getvalue()


def _decode_checkpoint_parquet(
    data: bytes, columns: list[str] | None = None
) -> dict | None:
    """Decode a columnar checkpoint back into the standard manifest
    dict. ``columns`` projects the per-file stat columns actually
    deserialized (e.g. ``["rows"]`` for a metadata count) — unlisted
    columns are never decompressed, the lazy-stats half of the
    columnar-checkpoint design. None/garbage decodes to None (caller
    falls back to delta-chain reconstruction)."""
    import io

    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(io.BytesIO(data))
        meta = pf.schema_arrow.metadata or {}
        h = meta.get(b"txtable_checkpoint_header")
        if h is None:
            return None
        full = json.loads(h)
        want = ["file"] + [
            c
            for c in ("rows", "partition", "cols", "bloom_ref", "extra")
            if columns is None or c in columns
        ]
        t = pf.read(columns=want)
    except Exception:
        return None
    files = t.column("file").to_pylist()
    present = set(t.column_names)
    series = {
        c: t.column(c).to_pylist()
        for c in ("rows", "partition", "cols", "bloom_ref", "extra")
        if c in present
    }
    none_col = [None] * len(files)

    def _batch_json(col: list) -> list:
        # one json.loads over a joined array instead of len(files)
        # separate parses — ~5× less parser overhead at 10⁵+ files
        if col is none_col or not any(x is not None for x in col):
            return none_col
        joined = "[" + ",".join(x if x is not None else "null" for x in col) + "]"
        return json.loads(joined)

    rows_c = series.get("rows") or none_col
    part_c = _batch_json(series.get("partition") or none_col)
    cols_c = _batch_json(series.get("cols") or none_col)
    bref_c = series.get("bloom_ref") or none_col
    extra_c = series.get("extra") or none_col
    stats: dict[str, dict] = {}
    for i, f in enumerate(files):
        s: dict = {}
        if rows_c[i] is not None:
            s["rows"] = rows_c[i]
        if part_c[i] is not None:
            s["partition"] = part_c[i]
        if cols_c[i] is not None:
            s["cols"] = cols_c[i]
        if bref_c[i] is not None:
            s["bloom_ref"] = bref_c[i]
        if extra_c[i] is not None:
            s.update(json.loads(extra_c[i]))
        if s:
            stats[f] = s
    full["files"] = files
    full["stats"] = stats
    return full


def _version_of(key: str) -> int:
    name = key.rsplit("/", 1)[-1]
    return int(name[1:].split(".", 1)[0])


def _apply_delta(parent: dict, delta: dict) -> dict:
    """Reconstruct the FULL manifest of ``delta['version']`` from its
    parent's full manifest plus the delta commit record — the one
    place the delta→snapshot semantics live. File order is canonical:
    the parent's retained files in parent order, then the added files
    in commit order (exactly what every commit mode produced when
    manifests were written whole, so reads plan the same file list
    either way). Retained files keep their stats entries verbatim —
    per-file stats are immutable once committed."""
    removed = set(delta.get("remove", ()))
    add = list(delta.get("add", ()))
    files = [f for f in parent["files"] if f not in removed] + add
    stats = {
        f: s
        for f, s in parent.get("stats", {}).items()
        if f not in removed
    }
    stats.update(delta.get("stats", {}))
    full = {
        "version": delta["version"],
        "parent": delta.get("parent"),
        "files": files,
        "rows": delta.get("rows"),
        "schema": delta.get("schema"),
        "stats": stats,
        "meta": delta.get("meta", {}),
        "committed_at": delta.get("committed_at"),
    }
    if delta.get("partition_by"):
        full["partition_by"] = list(delta["partition_by"])
    if delta.get("mixed_schemas"):
        full["mixed_schemas"] = True
    return full


@dataclass
class TransactionalTable:
    """A parquet table governed by the manifest commit log.

    ``root`` is any storage root; ``storage`` defaults to
    ``LocalStorage`` (tests inject ``ObjectStoreSimStorage``).
    """

    root: str
    storage: LocalStorage = field(default=None)  # type: ignore[assignment]

    # Below this staged-file count the publish runs as a driver-side
    # loop (a per-commit Spark job costs ~0.1-0.3 s of scheduling that
    # dwarfs a handful of hard links + footer reads); at or above it
    # the publish + stats/bloom harvest run as ONE distributed job
    # (``_publish_distributed``) so commit-time work scales with
    # executors instead of serializing on the driver. Tests pin it to 1
    # to force the distributed path on small tables.
    distributed_publish_min_files: int = 33

    # Every Nth commit also writes a CHECKPOINT (the full manifest) to
    # ``_checkpoints/``; commits themselves put only a DELTA record, so
    # commit payload is O(changed files) and resolving any snapshot
    # reads at most one checkpoint + ``checkpoint_interval`` deltas —
    # the Delta-log compaction shape. The atomic put-if-absent of the
    # delta record remains THE commit point; checkpoints are derived,
    # idempotent, and never required for correctness (reconstruction
    # walks to the table's v0 full manifest if none exists).
    checkpoint_interval: int = 10

    # Bloom sidecars are sharded at ~this many files per object (over
    # the sorted key list, so partition-clustered candidates share
    # shards): an equality probe loads only its candidates' shards —
    # O(candidates), never O(commit). See ``_stage``.
    bloom_shard_files: int = 256

    # Past this live-file count a checkpoint is written SHARDED
    # (Iceberg's manifest-list shape): per-shard columnar objects of at
    # most this many files each, plus a small root listing every shard
    # with an aggregate pruning ENVELOPE (per-column min/max, bounded
    # partition-value sets). A predicated read then plans from root +
    # MATCHED shards + the delta chain — O(shards touched) metadata,
    # not O(live files) — while unpredicated consumers still
    # materialize the full snapshot by reading all shards. Below the
    # threshold the monolithic columnar checkpoint is unchanged (one
    # object beats many for small tables). Tests pin it low to exercise
    # the sharded path on small fixtures.
    checkpoint_shard_files: int = 100_000

    def __post_init__(self) -> None:
        if self.checkpoint_interval < 1:
            # validate BEFORE any commit can land: a bad value surfacing
            # as ZeroDivisionError after the delta record is durable
            # would make the caller's failure handling disagree with
            # table state
            raise ValueError(
                f"checkpoint_interval must be >= 1, got "
                f"{self.checkpoint_interval}"
            )
        if self.bloom_shard_files < 1:
            raise ValueError(
                f"bloom_shard_files must be >= 1, got "
                f"{self.bloom_shard_files}"
            )
        if self.checkpoint_shard_files < 1:
            raise ValueError(
                f"checkpoint_shard_files must be >= 1, got "
                f"{self.checkpoint_shard_files}"
            )
        if self.storage is None:
            self.storage = LocalStorage(self.root)
        # per-version FULL-manifest cache: safe because a committed
        # version's content is immutable (conditional put; vacuum only
        # deletes). Treat returned manifests as read-only.
        self._mcache: dict[int, dict] = {}
        # bloom sidecar cache (immutable objects, keyed by storage key)
        self._bcache: dict[str, dict] = {}

    _MCACHE_MAX = 32

    def _cache_put(self, version: int, full: dict) -> dict:
        self._mcache[version] = full
        while len(self._mcache) > self._MCACHE_MAX:
            self._mcache.pop(min(self._mcache))
        return full

    def _read_json(self, key: str) -> dict | None:
        try:
            return json.loads(self.storage.read(key))
        except (OSError, ValueError):
            return None

    def _read_checkpoint(self, version: int) -> dict | None:
        """Resolve a persisted checkpoint of ``version``: the monolithic
        columnar parquet form, else the SHARDED form (root + every
        shard, concatenated back into one manifest). Both decode to the
        same manifest dict; None when no checkpoint exists."""
        try:
            data = self.storage.read(_checkpoint_parquet_key(version))
        except OSError:
            data = None
        if data is not None:
            full = _decode_checkpoint_parquet(data)
            if full is not None:
                return full
        root = self._read_json(_checkpoint_root_key(version))
        if root is not None:
            return self._read_sharded_checkpoint(version, root)
        return None

    def _read_sharded_checkpoint(
        self, version: int, root: dict, shard_idx: list[int] | None = None
    ) -> dict | None:
        """Materialize a sharded checkpoint: header from the root,
        files/stats concatenated from the listed shards in order.
        ``shard_idx`` restricts to a subset (the pruned planning path);
        default is every shard (full snapshot). None if any requested
        shard is missing/undecodable (caller falls back)."""
        header = root.get("header") or {}
        envs = root.get("shards") or []
        n = len(envs)
        idx = list(range(n)) if shard_idx is None else sorted(shard_idx)
        size = root.get("shard_size")
        files: list[str] = []
        stats: dict[str, dict] = {}
        for i in idx:
            try:
                data = self.storage.read(
                    _checkpoint_shard_key(version, i, size)
                )
            except OSError:
                return None
            part = _decode_checkpoint_parquet(data)
            if part is None:
                return None
            # layout-identity check: a shard whose file count disagrees
            # with the root envelope's n_files would duplicate or drop
            # files silently. Fall back to the delta chain.
            want = (envs[i] or {}).get("n_files")
            if want is not None and len(part["files"]) != want:
                return None
            files.extend(part["files"])
            stats.update(part.get("stats", {}))
        full = dict(header)
        full["files"] = files
        full["stats"] = stats
        return full

    def _write_checkpoint(self, full: dict) -> None:
        """Persist a derived checkpoint of the FULL manifest ``full`` as
        columnar parquet (SHARDED with a manifest-list root past
        ``checkpoint_shard_files`` live files). Idempotent
        put-if-absent: a concurrent writer of the same immutable version produces
        identical content, and a crash costs the next reader only a
        few extra delta reads (checkpoints are never required for
        correctness). Sharded order: shards first, root LAST — a
        visible root implies its shards are durable; orphan shards
        from a crash are vacuum backlog."""
        files = full["files"]
        if len(files) <= self.checkpoint_shard_files:
            self.storage.put_if_absent(
                _checkpoint_parquet_key(full["version"]),
                _encode_checkpoint_parquet(full),
            )
            return
        header = {k: v for k, v in full.items() if k not in ("files", "stats")}
        stats = full.get("stats", {})
        size = self.checkpoint_shard_files
        shards = []
        for i in range(0, len(files), size):
            sl = files[i : i + size]
            data = _encode_checkpoint_parquet(
                {
                    **header,
                    "files": sl,
                    "stats": {f: stats[f] for f in sl if f in stats},
                }
            )
            self.storage.put_if_absent(
                _checkpoint_shard_key(full["version"], i // size, size), data
            )
            shards.append(_shard_envelope(sl, stats))
        # any_file: one live key for consumers needing a schema anchor
        # (empty-prune reads) without loading a shard. shard_size pins
        # the layout identity: readers compose shard keys from THIS
        # root's size, so a different-size writer's shards (or a crashed
        # writer's leftovers) can never be stitched under this envelope
        # list.
        root = {
            "header": header,
            "shards": shards,
            "shard_size": size,
            "any_file": files[0],
        }
        self.storage.put_if_absent(
            _checkpoint_root_key(full["version"]),
            json.dumps(root, sort_keys=True).encode(),
        )

    def _bloom_sidecar(self, key: str) -> dict:
        """Memoized bloom-sidecar load ({file: {col: bloom}}). Missing
        or unreadable sidecars resolve to {} — pruning then keeps the
        file (no exclusion proof), never wrongly skips. Sidecars are
        immutable once written, so caching by key is safe."""
        cached = self._bcache.get(key)
        if cached is None:
            cached = self._read_json(key) or {}
            if os.path.isabs(key) and f"/{BLOOMS_DIR}/" in key:
                # a BORROWED sidecar (shallow clone): its entries are
                # keyed by the SOURCE's relative file keys, while this
                # table's manifest keys those same files absolutely —
                # re-key onto the source root so point-read pruning
                # keeps working on the clone (miss = conservative keep,
                # never wrong, but the whole point of borrowing stats
                # is not to lose the pruning)
                src_root = key.split(f"/{BLOOMS_DIR}/")[0]
                cached = {
                    (
                        f
                        if os.path.isabs(f)
                        else os.path.join(src_root, f)
                    ): v
                    for f, v in cached.items()
                }
            self._bcache[key] = cached
            while len(self._bcache) > self._MCACHE_MAX:
                try:  # prefetch runs loaders concurrently (prune_files)
                    self._bcache.pop(next(iter(self._bcache)))
                except (KeyError, StopIteration):
                    break
        return cached

    def prune(
        self,
        where: list[tuple] | None = None,
        equals: list[tuple] | None = None,
        version: int | None = None,
    ) -> list[str]:
        """``prune_files`` over a snapshot with this table's bloom
        sidecar loader wired in — the planner-facing entry point (and
        what ``read`` uses internally)."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(
                f"no committed version in transactional table {self.root}"
            )
        return prune_files(m, where, equals, bloom_loader=self._bloom_sidecar)

    # -- snapshot resolution ----------------------------------------------
    def versions(self) -> list[int]:
        return sorted(
            _version_of(k) for k in self.storage.list(COMMITS_DIR)
            if k.endswith(".json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else -1

    def manifest(self, version: int | None = None) -> dict | None:
        """The FULL manifest of ``version`` (default: latest),
        reconstructed from the nearest base — cache, checkpoint, or the
        table's v0 full commit record — plus the delta records up to
        the target (``_full_manifest``). Walks backward past
        irrecoverable versions — with atomic puts none should exist,
        but a vacuum racing this listing may have deleted an old one.
        Returned dicts are shared via the per-version cache: treat
        them as immutable."""
        vs = self.versions()
        if version is not None:
            vs = [v for v in vs if v == version]
        for v in reversed(vs):
            m = self._full_manifest(v)
            if m is not None:
                return m
        return None

    def _full_manifest(self, version: int) -> dict | None:
        """Resolve the full manifest of ``version``: walk parent links
        down past delta records until a BASE (cached full manifest, a
        ``_checkpoints/`` object, or the v0 full commit record), then
        apply the collected deltas forward, caching every intermediate
        snapshot. Cost: at most one checkpoint read +
        ``checkpoint_interval`` delta reads; None if any link of the
        chain is missing or unreadable (the caller decides whether that
        is fatal). The result passes the format gate
        (``_check_format``)."""
        chain: list[dict] = []
        cur = version
        base: dict | None = None
        while True:
            if cur < 0:
                return None  # delta chain fell off the front of the log
            cached = self._mcache.get(cur)
            if cached is not None:
                base = cached
                break
            ck = self._read_checkpoint(cur)
            if ck is not None and "files" in ck:
                base = self._cache_put(cur, ck)
                break
            raw = self._read_json(_manifest_key(cur))
            if raw is None:
                return None
            if "files" in raw:  # full record: the v0 base of the chain
                base = self._cache_put(cur, raw)
                break
            chain.append(raw)
            parent = raw.get("parent")
            if parent is not None and parent >= cur:
                # corrupted record: parent links must strictly decrease
                # (a cycle here would walk forever) — treat the version
                # as irrecoverable, like any other broken chain link
                return None
            cur = parent if parent is not None else -1
        for d in reversed(chain):
            base = self._cache_put(d["version"], _apply_delta(base, d))
        return self._check_format(base)

    def _check_format(self, m: dict) -> dict:
        """The one on-disk format gate. Every commit record the writer
        puts carries ``meta["layout"] == _TABLE_FORMAT``
        (``_put_manifest`` stamps it); any other or missing value is a
        superseded format this library no longer reads."""
        found = (m.get("meta") or {}).get("layout")
        if found != _TABLE_FORMAT:
            raise ValueError(
                f"{self.root}: snapshot v{m.get('version')} has table "
                f"format layout={found!r}; only layout={_TABLE_FORMAT} "
                f"(write-at-final-keys, decoded partition values, "
                f"sidecar blooms) is supported — superseded formats are "
                f"no longer read. Rewrite the data into a new table."
            )
        return m

    def _planning_manifest(
        self,
        version: int | None,
        bands: list[tuple] | None,
        eq: list[tuple] | None,
        partitions: dict | None,
    ) -> dict | None:
        """A snapshot VIEW sufficient to plan a PREDICATED read —
        O(shards touched) metadata on a sharded-checkpoint table
        instead of O(live files): walk the delta chain from the target
        version; if the first base reached is a SHARDED checkpoint
        root, load only the shards whose envelopes can match the
        predicates, apply the deltas forward (delta adds are always
        included — they carry their own per-file stats for the
        per-file pruning pass), and return the partial view flagged
        ``pruned_view``. Every other situation — no predicates, the
        full snapshot already cached, a monolithic base, all shards
        matching — falls back to :meth:`manifest` (which this view is
        a provable file-superset-of for the given predicates; the
        per-file ``prune_files`` pass stays the exactness anchor
        either way). Pruned views are never cached (they are
        incomplete by design)."""
        if not (bands or eq or partitions):
            return self.manifest(version)
        vs = self.versions()
        if version is not None:
            vs = [v for v in vs if v == version]
        if not vs:
            return None
        target = vs[-1]
        chain: list[dict] = []
        cur = target
        while True:
            if cur < 0 or cur in self._mcache:
                # full snapshot reachable cheaply — normal path
                return self.manifest(version)
            root = self._read_json(_checkpoint_root_key(cur))
            if root is not None and root.get("shards"):
                envs = root["shards"]
                # schema-gated temporal set, mirroring prune_files: the
                # root header carries the same schema field a manifest
                # does, so envelope-vs-probe compares for timestamp/date
                # columns canonicalize both sides
                temporal = {
                    c
                    for c, t in (
                        (root.get("header") or {}).get("schema") or {}
                    ).items()
                    if isinstance(t, str)
                    and (t.startswith("timestamp") or t == "date")
                }
                matched = [
                    i
                    for i, env in enumerate(envs)
                    if _shard_may_match(env, bands, eq, partitions, temporal)
                ]
                if len(matched) == len(envs):
                    return self.manifest(version)  # nothing saved
                part = self._read_sharded_checkpoint(cur, root, matched)
                if part is None:
                    return self.manifest(version)
                base = dict(root.get("header") or {})
                base["files"] = part["files"]
                base["stats"] = part["stats"]
                for d in reversed(chain):
                    base = _apply_delta(base, d)
                base["pruned_view"] = True
                if root.get("any_file"):
                    base["any_file"] = root["any_file"]
                return self._check_format(base)
            raw = self._read_json(_manifest_key(cur))
            if raw is None or "files" in raw:
                # missing link or a FULL record base: normal path
                # (manifest() also prefers monolithic checkpoints the
                # walk above skipped — they are cheaper than deltas)
                return self.manifest(version)
            chain.append(raw)
            parent = raw.get("parent")
            if parent is not None and parent >= cur:
                return self.manifest(version)  # corrupted link
            cur = parent if parent is not None else -1

    def _committed_at(self, version: int) -> float | None:
        """Commit wall-time of ``version`` WITHOUT reconstructing its
        full snapshot: served from the cache when hot, else from the
        raw commit record — delta records carry ``committed_at``
        directly, so temporal resolution over V retained versions costs
        V small-object reads, not V delta-chain walks (O(V), not
        O(V × files))."""
        cached = self._mcache.get(version)
        if cached is not None:
            return cached.get("committed_at")
        raw = self._read_json(_manifest_key(version))
        if raw is not None:
            return raw.get("committed_at")
        ck = self._read_checkpoint(version)
        return ck.get("committed_at") if ck is not None else None

    def version_as_of(self, timestamp: float) -> int:
        """TIMESTAMP AS OF resolution: the latest version whose commit
        wall-time is ≤ ``timestamp`` (epoch seconds) — the Delta
        ``timestampAsOf`` shape, answered entirely from the commit log.
        Raises if every retained version is newer (the target version
        predates retention or the table)."""
        best = -1
        for v in self.versions():
            ca = self._committed_at(v)
            if ca is not None and ca <= timestamp:
                best = max(best, v)
        if best < 0:
            raise FileNotFoundError(
                f"{self.root}: no retained version committed at or before "
                f"epoch {timestamp} (vacuumed, or the table is newer)"
            )
        return best

    def count(self, version: int | None = None) -> int:
        """Metadata-only row count: served from the manifest's committed
        per-file row totals, NO data file opened and no Spark job — the
        Delta/Iceberg SELECT COUNT(*) optimization. Exact because every
        commit path records staged row counts and append/replace
        arithmetic maintains them (fsck() audits the invariant). On a
        COLD handle the total comes from the RAW commit record (delta
        records carry the absolute ``rows`` field), so a count is ONE
        small-object read — never a checkpoint parse or delta-chain
        walk, the lazy-stats contract at its cheapest."""
        v = self.latest_version() if version is None else version
        if v >= 0:
            cached = self._mcache.get(v)
            if cached is None:
                raw = self._read_json(_manifest_key(v))
                if raw is not None and raw.get("rows") is not None:
                    return int(raw["rows"])
            elif cached.get("rows") is not None:
                return int(cached["rows"])
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(
                f"no committed version in transactional table {self.root}"
            )
        return int(m["rows"])

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: list[tuple] | None = None,
        partitions: dict[str, list] | None = None,
        equals: dict[str, object] | None = None,
        as_of_timestamp: float | None = None,
    ) -> DataFrame:
        """Read a snapshot. ``where=[(col, lo, hi), ...]`` applies
        manifest-stats file pruning (``prune_files``) AND the residual
        row filter — the file skip is a superset guarantee, the filter
        makes it exact. ``equals={col: value}`` is the point-lookup
        form: files are skipped by range AND by the per-file Bloom
        filters a ``commit(bloom_by=...)`` table carries, then the
        exact equality filter applies — how a single-key fetch against
        a 100 TB unsorted table opens ~1 file instead of all of them.
        A list/tuple/set value is an IN-list: a file survives only if
        its bloom might contain AT LEAST ONE listed key (k keys open
        ≤ k files + false positives), and the residual is ``isin``. ``partitions={col: [values]}`` (partitioned
        tables) is EXACT manifest pruning: only files whose recorded
        partition values match are opened, no residual filter needed —
        the metastore-free form of partition pruning.
        ``as_of_timestamp`` (epoch seconds, mutually exclusive with
        ``version``) resolves TIMESTAMP AS OF via ``version_as_of``."""
        if as_of_timestamp is not None:
            if version is not None:
                raise ValueError(
                    "read(): pass either version or as_of_timestamp, not both"
                )
            version = self.version_as_of(as_of_timestamp)
        m = self._planning_manifest(
            version,
            list(where or []),
            list(equals.items()) if equals else None,
            {
                c: [_canon_partition_query_value(v) for v in vals]
                for c, vals in (partitions or {}).items()
            }
            if partitions
            else None,
        )
        if m is None:
            raise FileNotFoundError(
                f"no committed version in transactional table {self.root}"
            )
        if not m["files"]:
            if m.get("pruned_view") and m.get("any_file"):
                # every shard excluded by envelope: empty frame with
                # the table's schema, anchored on a live file key
                try:
                    reader = self._schema_reader(spark.read, m)
                    return self._empty_frame(reader, m, m["any_file"])
                except Exception:
                    # the checkpoint's anchor file may have been
                    # removed by a later delta AND physically vacuumed
                    # while the root survives its grace window — a
                    # derived artifact must never fail a valid read, so
                    # re-plan from the authoritative full manifest
                    # (whose files, if any, flow through the normal
                    # prune/empty handling below)
                    m = self.manifest(version)
                    if m is None:
                        raise FileNotFoundError(
                            "no committed version in transactional "
                            f"table {self.root}"
                        ) from None
        if not m["files"]:
            raise FileNotFoundError(
                f"snapshot v{m['version']} of {self.root} lists no files "
                "(empty commit) — no schema to reconstruct a frame from"
            )
        files = m["files"]
        if partitions:
            # PARTITION pruning runs FIRST: it is pure metadata (no
            # sidecar loads), so the band/bloom pass below touches only
            # the candidate partitions' files. File-level pruning is
            # only sound for columns the snapshot is PHYSICALLY
            # partitioned by (their values ride the manifest); any
            # other column falls through to the residual row filter
            # below — never a silent empty result.
            pb = set(m.get("partition_by") or [])
            stats = m.get("stats", {})
            # canonicalize the query values to the path-rendered form
            # the manifest records (booleans lowercase, None = the hive
            # NULL partition, dates/timestamps via str)
            sel = {
                c: {_canon_partition_query_value(v) for v in vals}
                for c, vals in partitions.items()
                if c in pb
            }
            if sel:
                # a file is skipped only when it RECORDS the queried
                # column with a non-matching value; files written under
                # an older partition scheme (alter_partitioning) don't
                # record it and fall through to the exact residual
                # filter below — superset skip, never a wrong result
                def _may_match(f: str) -> bool:
                    part = stats.get(f, {}).get("partition") or {}
                    return all(
                        c not in part or part[c] in vs
                        for c, vs in sel.items()
                    )

                files = [f for f in files if _may_match(f)]
        files = prune_files(
            m,
            where,
            list(equals.items()) if equals else None,
            bloom_loader=self._bloom_sidecar,
            files=files,
        )
        reader = self._schema_reader(spark.read, m)
        if not files:
            # every file excluded: empty frame with the table's schema
            df = self._empty_frame(reader, m, m["files"][0])
        else:
            with _no_listing_job(spark, len(files)):
                raw = reader.parquet(
                    *[self.storage.url(f) for f in files]
                )
            dv_map = self._dv_map(m, files)
            if dv_map:
                # merge-on-read: anti-join this snapshot's deletion
                # vectors before anything else sees the rows
                raw = self._strip_dv(
                    spark, self._with_dv_keys(raw, files), dv_map
                )
            df = self._with_generated(
                _reconcile_schema(self._to_logical(raw, m), m), m
            )
        if where or partitions or equals:
            from pyspark.sql import functions as F

            for col, lo, hi in where or []:
                if lo is not None:
                    df = df.where(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.where(F.col(col) <= F.lit(hi))
            # residual partition-value filter: exact, because the
            # partition columns are kept in the data pages. None selects
            # the NULL partition — three-valued isin would silently
            # drop it, so it becomes an explicit isNull disjunct.
            for col, vals in (partitions or {}).items():
                concrete = [v for v in vals if v is not None]
                cond = None
                if concrete:
                    cond = F.col(col).isin(concrete)
                if any(v is None for v in vals):
                    null_cond = F.col(col).isNull()
                    cond = null_cond if cond is None else (cond | null_cond)
                if cond is not None:
                    df = df.where(cond)
            # residual equality filter makes the bloom skip exact
            # (blooms have false positives, never false negatives);
            # a list/tuple/set value is an IN-list
            for col, v in (equals or {}).items():
                if isinstance(v, (list, tuple, set)):
                    df = df.where(F.col(col).isin(list(v)))
                else:
                    df = df.where(F.col(col) == F.lit(v))
        return df

    def read_appended(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Rows ADDED between two snapshots as a DataFrame, resolved
        purely from the manifest file-set difference — the O(|delta|)
        change feed for append-only windows (no snapshot join, no full
        scan; the planner opens ONLY the appended files). This is what
        makes incremental consumers (materialized-view refresh,
        ``operators/mv.py``; the streaming source, ``txstream.py``)
        cost proportional to the delta instead of the table.

        Raises ``ValueError`` when any file of ``from_version`` is
        absent from ``to_version`` — a compaction/delete/replace inside
        the window means the file diff no longer equals the row delta;
        the caller must fall back to ``changes()`` (snapshot diff) or a
        full refresh. ``from_version=-1`` returns the whole target
        snapshot (the bootstrap read)."""
        if from_version < 0:
            return self.read(spark, to_version)
        m0 = self.manifest(from_version)
        m1 = self.manifest(to_version)
        if m0 is None or m1 is None:
            raise FileNotFoundError(
                f"{self.root}: missing manifest for appended-window read "
                f"(from v{from_version}, to "
                f"{'latest' if to_version is None else f'v{to_version}'})"
            )
        old_files = set(m0["files"])
        removed = old_files - set(m1["files"])
        if removed:
            raise ValueError(
                f"{self.root}: window v{m0['version']}→v{m1['version']} is "
                f"not append-only ({len(removed)} file(s) rewritten or "
                "removed — compaction/delete/replace); use changes() or a "
                "full refresh"
            )
        new_files = [f for f in m1["files"] if f not in old_files]
        reader = self._schema_reader(spark.read, m1)
        if not new_files:
            anchor = m1["files"] or m0["files"]
            if not anchor:
                raise FileNotFoundError(
                    f"{self.root}: no files in either snapshot to derive "
                    "a schema from"
                )
            return self._empty_frame(reader, m1, anchor[0])
        with _no_listing_job(spark, len(new_files)):
            return self._to_logical(
                reader.parquet(*[self.storage.url(f) for f in new_files]),
                m1,
            )

    def _column_mapping(self, m: dict | None = None) -> dict[str, str]:
        """COLUMN MAPPING (Delta's name-mapping mode, round 10):
        {logical name: physical name} for every column whose manifest
        name differs from the name stored in the parquet pages.
        RENAME COLUMN is metadata-only because the PHYSICAL name never
        changes — old and new files alike store the original name; the
        manifest (schema, per-file stats, partition_by, bloom columns)
        speaks LOGICAL names throughout, and the mapping is applied
        only at the two physical boundaries: scan exit
        (:meth:`_to_logical`) and stage entry (:meth:`_stage`).
        Empty for every table that never renamed — the identity path
        adds zero work and zero plan nodes."""
        if m is None:
            m = self.manifest()
        return dict((m or {}).get("meta", {}).get("column_mapping") or {})

    def _dropped_columns(self, m: dict | None = None) -> set[str]:
        """PHYSICAL names of every column ever dropped (DROP COLUMN is
        metadata-only; old files still carry the pages). Tombstoned so
        (a) scans project them away, (b) ``add_columns`` refuses to
        re-use the name — re-adding would resurrect stale values from
        pre-drop files."""
        if m is None:
            m = self.manifest()
        return set((m or {}).get("meta", {}).get("dropped_columns") or [])

    def generated_columns(self, m: dict | None = None) -> dict[str, str]:
        """GENERATED ALWAYS AS columns: {name: SQL expression}. The
        invariant every write path enforces fail-closed: a physically
        written value ALWAYS equals the expression over its row. That
        invariant is what makes the read-side ``coalesce(col, expr)``
        EXACT on mixed files (pre-ALTER files lack the pages → NULL →
        the expression; post-ALTER files carry values the gate proved
        equal to it)."""
        if m is None:
            m = self.manifest()
        return dict(
            (m or {}).get("meta", {}).get("generated_columns") or {}
        )

    def _with_generated(self, df: DataFrame, m: dict) -> DataFrame:
        """Read-side materialization of generated columns:
        ``coalesce(physical, expr)`` per generated column — exact under
        the write-gate invariant (see :meth:`generated_columns`).
        No-op when the table declares none."""
        gen = self.generated_columns(m)
        if not gen:
            return df
        from pyspark.sql import functions as F

        schema = m.get("schema") or {}
        for g, e in gen.items():
            if g in df.columns:
                df = df.withColumn(
                    g,
                    F.coalesce(
                        F.col(g), F.expr(e).cast(schema.get(g, "string"))
                    ),
                )
        return df

    def _derive_generated(self, df: DataFrame, m: dict | None) -> DataFrame:
        """Write-side derivation: a frame omitting a generated column
        gets it computed (Delta's GENERATED ALWAYS AS write behavior);
        a frame supplying it is checked for equality by
        :meth:`_enforce_constraints` (via the implicit constraints in
        :meth:`_write_gates`)."""
        gen = self.generated_columns(m)
        if not gen:
            return df
        from pyspark.sql import functions as F

        schema = (m or {}).get("schema") or {}
        for g, e in gen.items():
            if g not in df.columns:
                df = df.withColumn(
                    g, F.expr(e).cast(schema.get(g, "string"))
                )
        return df

    def _rederive_generated(
        self, df: DataFrame, m: dict | None, skip: set[str] | frozenset = frozenset()
    ) -> DataFrame:
        """UPDATE-path recomputation (the Delta behavior): generated
        columns the statement did NOT explicitly assign are
        re-derived from the post-assignment row, so updating a base
        column cannot strand a stale generated value; explicitly
        assigned generated columns keep the user's value and face the
        equality gate instead."""
        gen = self.generated_columns(m)
        if not gen:
            return df
        from pyspark.sql import functions as F

        schema = (m or {}).get("schema") or {}
        for g, e in gen.items():
            if g in df.columns and g not in skip:
                df = df.withColumn(
                    g, F.expr(e).cast(schema.get(g, "string"))
                )
        return df

    def _write_gates(self, m: dict | None) -> dict[str, str]:
        """The full fail-closed predicate set for a write: declared
        CHECK constraints plus one NULL-safe equality per generated
        column (``g <=> (expr)`` — true/false, never unknown, so the
        expectations evaluator needs no special casing)."""
        meta = (m or {}).get("meta", {}) if m else {}
        gates = dict(meta.get("constraints") or {})
        for g, e in (meta.get("generated_columns") or {}).items():
            gates[f"__generated_{g}"] = f"`{g}` <=> ({e})"
        return gates

    def _to_logical(self, df: DataFrame, m: dict) -> DataFrame:
        """Project a PHYSICAL scan frame to the snapshot's LOGICAL
        column names: renamed columns aliased, dropped columns
        projected away, everything else (including ``__dv_*`` carry
        columns) passed through. No-op (frame returned untouched) when
        the snapshot has no mapping and no tombstones — the
        overwhelmingly common path."""
        mapping = self._column_mapping(m)
        dropped = self._dropped_columns(m)
        if not mapping and not dropped:
            return df
        from pyspark.sql import functions as F

        phys_to_log = {p: l for l, p in mapping.items()}
        cols = []
        for c in df.columns:
            if c in phys_to_log:
                cols.append(F.col(f"`{c}`").alias(phys_to_log[c]))
            elif c in dropped:
                continue
            else:
                cols.append(F.col(f"`{c}`"))
        return df.select(*cols)

    def _schema_reader(self, reader, m: dict):
        """Reader schema handling for a mixed-physical-schema snapshot.
        Evolution APPENDS (files differing only in column presence)
        merge footers, so pre-evolution files surface added columns as
        NULL. Once a column type has been WIDENED (``alter_column_type``
        — sticky ``widened`` meta), footer merging would fail with
        CANNOT_MERGE_SCHEMA on int-vs-bigint files; instead the
        manifest schema is passed EXPLICITLY and the parquet reader's
        type-widening upcast (int32→long, float→double) reads narrow
        files directly — no rewrite, files stay byte-identical, exactly
        the Delta/Iceberg metadata-only widening contract."""
        if not m.get("mixed_schemas"):
            return reader
        if m.get("meta", {}).get("widened"):
            # the explicit reader schema must name the PHYSICAL columns
            # (what the pages store); renamed columns logicalize after
            # the scan (_to_logical)
            mapping = self._column_mapping(m)
            return reader.schema(
                ", ".join(
                    f"`{mapping.get(c, c)}` {t}"
                    for c, t in (m.get("schema") or {}).items()
                )
            )
        return reader.option("mergeSchema", "true")

    def _empty_frame(self, reader, m: dict, anchor_key: str) -> DataFrame:
        """Zero-row frame carrying the TABLE schema. The anchor file's
        footer alone is not enough on a schema-evolved (mixed_schemas)
        table: a pre-evolution anchor lacks the evolved columns, so a
        residual filter on one would raise AnalysisException and the
        empty result's schema would disagree with the table's (breaking
        caller unionByName). The manifest schema — the union across
        every evolution — is authoritative, so any column the anchor
        footer misses is appended as a typed NULL literal (order: the
        anchor's columns first, exactly what a mergeSchema read of the
        full file set produces)."""
        return self._with_generated(
            _reconcile_schema(
                self._to_logical(
                    reader.parquet(self.storage.url(anchor_key)).limit(0),
                    m,
                ),
                m,
            ),
            m,
        )

    def create_view(
        self,
        spark: SparkSession,
        name: str,
        *,
        version: int | None = None,
        where: list[tuple] | None = None,
        partitions: dict[str, list] | None = None,
        equals: dict[str, object] | None = None,
        as_of_timestamp: float | None = None,
    ) -> DataFrame:
        """SQL access to a snapshot: resolve the (optionally pruned)
        ``read`` and register it as a session temp view, so
        ``spark.sql`` queries a transactional table like any relation.
        The division of labor is the table-format one: THIS layer plans
        which files the scan opens (manifest partition/zone-map/bloom
        pruning via ``where``/``partitions``/``equals``), and Catalyst
        handles everything inside the SQL text — its predicates still
        push down into the parquet scan (row-group/page skipping),
        columns prune, joins reorder. Predicates written in the SQL
        string do NOT re-run manifest file pruning, so pass the
        selective bands/keys here. The view is a plan over the pinned
        snapshot's immutable file list: it stays consistent (and
        time-travel-stable with ``version=``/``as_of_timestamp=``)
        under concurrent commits — re-register to follow the head.

        The name is also registered as a DML target, so ``MERGE INTO
        name ...`` / ``UPDATE`` / ``DELETE FROM`` / ``INSERT INTO``
        statement text routes to this table through
        ``sources/txsql.py::execute_dml`` (DML always acts on the
        TABLE HEAD, never the view's pinned snapshot — re-register
        the view to observe the write, standard MVCC)."""
        df = self.read(
            spark,
            version=version,
            where=where,
            partitions=partitions,
            equals=equals,
            as_of_timestamp=as_of_timestamp,
        )
        df.createOrReplaceTempView(name)
        from nyc_taxi_etl_pyspark_spark.sources.txsql import (
            register_dml_target,
        )

        register_dml_target(name, self)
        return df

    def exists(self) -> bool:
        return self.latest_version() >= 0

    def describe(self, version: int | None = None) -> dict:
        """Table health and layout summary from ONE manifest read — the
        `DESCRIBE DETAIL` an operator checks before deciding whether to
        OPTIMIZE or re-cluster. Everything is planner-side metadata; no
        data file is opened."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        stats = m.get("stats", {})
        rows_per_file = sorted(
            stats[f]["rows"] for f in m["files"] if "rows" in stats.get(f, {})
        )
        meta = m.get("meta", {})
        part_vals = {
            tuple(sorted(stats[f]["partition"].items()))
            for f in m["files"]
            if "partition" in stats.get(f, {})
        }
        sized = [
            stats[f]["bytes"]
            for f in m["files"]
            if "bytes" in stats.get(f, {})
        ]
        return {
            "version": m["version"],
            "rows": m.get("rows"),
            "n_files": len(m["files"]),
            # None when any file predates byte-stat harvesting — a
            # partial sum would silently understate the table
            "size_bytes": sum(sized) if len(sized) == len(m["files"]) else None,
            "rows_per_file_min": rows_per_file[0] if rows_per_file else None,
            "rows_per_file_max": rows_per_file[-1] if rows_per_file else None,
            "partition_by": m.get("partition_by"),
            "n_partitions": len(part_vals) or None,
            "clustering": meta.get("clustering"),
            "bloom_index": meta.get("bloom_index"),
            "properties": meta.get("properties") or {},
            "constraints": meta.get("constraints") or {},
            "column_mapping": meta.get("column_mapping") or {},
            "dropped_columns": meta.get("dropped_columns") or [],
            "generated_columns": meta.get("generated_columns") or {},
            "mixed_schemas": bool(m.get("mixed_schemas")),
            "schema": m.get("schema"),
            "n_versions_retained": len(self.versions()),
            "committed_at": m.get("committed_at"),
        }

    def fsck(self, version: int | None = None) -> dict:
        """Offline consistency check of a snapshot against storage —
        the audit an operator runs after an incident (partial vacuum,
        manual file deletion, bucket lifecycle policy misfire):

        - ``missing_files``: manifest-referenced keys absent from
          storage (FATAL: the snapshot cannot be fully read);
        - ``row_mismatches``: files whose parquet footer row count
          disagrees with the manifest stats (stats lie ⇒ pruning and
          fast row counts are suspect — re-commit to rebuild);
        - ``orphan_files``: data keys referenced by NO retained
          manifest (benign: in-flight commits or vacuum backlog);
        - ``ok``: True iff nothing fatal.

        Metadata-only except one footer read per checked file; no data
        pages are scanned and nothing is mutated. fsck audits STORAGE,
        not this handle's memory: it drops the per-version manifest
        cache first, so post-incident on-disk state (including a
        corrupted or replaced manifest object) is what gets checked."""
        self._mcache.clear()
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        missing: list[str] = []
        row_mismatches: list[str] = []
        stats = m.get("stats", {})
        partition_mismatches: list[str] = []
        check_parts = bool(m.get("partition_by"))
        temporal = {
            c
            for c, typ in (m.get("schema") or {}).items()
            if isinstance(typ, str)
            and (typ.startswith("timestamp") or typ == "date")
        }

        def _norm(x):
            # hive paths render booleans lowercase
            if isinstance(x, bool):
                return "true" if x else "false"
            return str(x)

        for key in m["files"]:
            path = self.storage.url(key)
            if not os.path.exists(path):
                missing.append(key)
                continue
            actual = collect_file_stats(path)
            if actual is None:
                missing.append(key)  # unreadable == unusable
                continue
            want = stats.get(key, {}).get("rows")
            if want is not None and actual["rows"] != want:
                row_mismatches.append(key)
            if check_parts:
                # format invariant: a file's PAGES carry its
                # partition columns, and every row shares the one
                # value its path/stats record — so the ON-DISK footer
                # min and max of each partition column must BOTH equal
                # the recorded value. A mismatch means pages and
                # manifest disagree (mis-stitched restore, hand-moved
                # or overwritten file) and partition pruning would
                # silently return wrong rows.
                for c, recorded in (
                    stats.get(key, {}).get("partition") or {}
                ).items():
                    rng = actual.get("cols", {}).get(c)
                    if rng is None or recorded is None:
                        continue  # NULL partition / statless col: no proof
                    mn, mx = rng
                    if c in temporal:
                        mn = _canon_temporal_cmp(_norm(mn))
                        mx = _canon_temporal_cmp(_norm(mx))
                        rec = _canon_temporal_cmp(str(recorded))
                    else:
                        mn, mx, rec = _norm(mn), _norm(mx), _norm(recorded)
                    if mn != mx or mn != rec:
                        partition_mismatches.append(key)
                        break
        # deletion-vector refs are part of the snapshot's read path —
        # a missing sidecar is as fatal as a missing data file (reads
        # would resurrect soft-deleted rows or fail outright)
        missing_dvs: list[str] = []
        for key in m["files"]:
            for ref in stats.get(key, {}).get("dv", {}).get("refs", []):
                if ref not in missing_dvs and not os.path.exists(
                    self.storage.url(ref)
                ):
                    missing_dvs.append(ref)
        referenced: set[str] = set()
        for v in self.versions():
            mv = self.manifest(v)
            if mv:
                referenced.update(mv["files"])
        orphans = [k for k in self.storage.list(DATA_DIR) if k not in referenced]
        return {
            "version": m["version"],
            "checked_files": len(m["files"]),
            "missing_files": missing,
            "row_mismatches": row_mismatches,
            "partition_mismatches": partition_mismatches,
            "missing_dv_sidecars": missing_dvs,
            "orphan_files": orphans,
            "ok": not missing
            and not row_mismatches
            and not partition_mismatches
            and not missing_dvs,
        }

    def changes(
        self,
        spark: SparkSession,
        key_cols: list[str],
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change data feed between two snapshots (Delta CDF shape):
        one row per key whose state differs, tagged ``_change_type`` ∈
        {insert, update, delete}, carrying the NEW values for
        insert/update and the OLD values for delete. Computed as a
        full-outer join of the two immutable snapshots on the key — no
        write-path bookkeeping needed because every retained version
        stays readable; cost is a join of two snapshots, shuffled on
        the key once each (AQE broadcasts the smaller snapshot when the
        delta window is small). Downstream consumers (sync to a search
        index, cache invalidation, incremental feature refresh) apply
        the feed idempotently keyed on (key, to_version)."""
        from pyspark.sql import functions as F

        m_lo = self.manifest(from_version)
        m_hi = self.manifest(to_version if to_version is not None
                             else self.latest_version())
        if (
            self._column_mapping(m_lo) != self._column_mapping(m_hi)
            or self._dropped_columns(m_lo) != self._dropped_columns(m_hi)
        ):
            raise ValueError(
                f"{self.root}: changes() window v{from_version}→"
                f"{'head' if to_version is None else f'v{to_version}'} "
                "crosses a RENAME/DROP COLUMN commit — the keyed diff "
                "would compare differently-named columns. Consume the "
                "feed up to the rename, then restart from it."
            )
        old = self.read(spark, from_version)
        new = self.read(spark, to_version)  # None → latest
        # schema may have widened between the snapshots (ALTER TABLE
        # ADD COLUMNS): diff in the NEW shape, NULL-filling the old
        # side — an unchanged row stays unchanged (NULL-filled old
        # field vs NULL new field), exactly Delta CDF's view of a
        # metadata-only evolution
        new_types = dict(new.dtypes)
        for c in new.columns:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new_types[c]))
        val_cols = [c for c in new.columns if c not in key_cols]
        o = old.select(
            *key_cols,
            F.struct(*val_cols).alias("__old"),
            F.lit(True).alias("__in_old"),
        )
        n = new.select(
            *key_cols,
            F.struct(*val_cols).alias("__new"),
            F.lit(True).alias("__in_new"),
        )
        j = o.join(n, on=list(key_cols), how="full")
        change = (
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .when(F.col("__old") != F.col("__new"), F.lit("update"))
        )
        picked = F.when(
            F.col("__in_new").isNull(), F.col("__old")
        ).otherwise(F.col("__new"))
        return (
            j.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
            .select(
                *key_cols,
                *[picked[c].alias(c) for c in val_cols],
                "_change_type",
            )
        )

    def history(self) -> list[dict]:
        """Audit trail of retained versions, newest first: version,
        parent, operation (+ full meta), row/file counts, the file-set
        DELTA each commit put (from the raw delta record — what the
        operation actually changed), layout flag, commit wall-time —
        the table-format DESCRIBE HISTORY, answered entirely from the
        commit log. Exposed as SQL via ``execute_dml("DESCRIBE
        HISTORY <table>")`` (``sources/txsql.py``)."""
        out = []
        for v in reversed(self.versions()):
            m = self.manifest(v)
            if not m:
                continue
            raw = self._read_json(_manifest_key(v))
            if raw is None:
                # commit record vacuumed — this version resolves only
                # via checkpoint, so the file-set DELTA is unknowable
                # from the log. Report unknown (None), never 0: a
                # parent-None misread would misclassify it as an empty
                # full commit.
                n_added = n_removed = None
            elif raw.get("parent") is None:
                n_added, n_removed = len(raw.get("files", ())), 0
            else:
                n_added = len(raw.get("add", ()))
                n_removed = len(raw.get("remove", ()))
            meta = m.get("meta", {})
            out.append(
                {
                    "version": m["version"],
                    "parent": m.get("parent"),
                    "op": meta.get("op", "commit"),
                    "rows": m.get("rows"),
                    "n_files": len(m.get("files", [])),
                    "n_added": n_added,
                    "n_removed": n_removed,
                    "layout": meta["layout"],
                    "meta": meta,
                    "committed_at": m.get("committed_at"),
                }
            )
        return out

    # -- commit path -------------------------------------------------------
    def _stage_arrow_local(
        self,
        df: DataFrame,
        cdir: str,
        max_records_per_file: int | None,
        bloom_by: list[str] | None,
    ) -> dict[str, dict] | None:
        """Arrow-native staging for UNPARTITIONED direct-write commits
        on a local-filesystem storage root (round 15, guide §4.2/§6):
        one ``mapInArrow`` job writes the data files at their final
        keys via ``pyarrow.parquet`` AND harvests footer stats + blooms
        in the same pass. vs the Spark-writer path it removes, per
        commit: the Hadoop commit protocol (task/job commit renames +
        ``_SUCCESS``), one ``.crc`` checksum sidecar per data file
        (2× the file creates at 1,024 files), the driver-side listing
        of the commit dir, and the SECOND distributed job that
        re-opened every file for the stat/bloom harvest. Measured at
        1,024 rolled files: commit wall 4.3 s → ~1.3 s warm. The
        committed artifact is the same: uniquely-named immutable
        parquet files under the commit-scoped ``data/c<uuid>/`` dir,
        unreferenced until the manifest lands; footer stats come from
        the identical ``collect_file_stats``/``build_bloom_stats``
        readers. Timestamp columns keep MICROS precision (Spark's
        arrow interchange is µs — the engine's
        ``parquet.outputTimestampType`` already pins TIMESTAMP_MICROS
        on the Spark path, so the written type is unchanged).

        Returns ``{key: stats}`` or ``None`` when this frame/storage
        cannot take the arrow path (caller falls back to the Spark
        writer): non-local storage root, pyarrow absent, or a column
        type Spark's arrow interchange cannot carry."""
        if not getattr(self.storage, "supports_direct_write", False):
            return None
        dest_dir = self.storage.url(cdir)
        from nyc_taxi_etl_pyspark_spark.sources.paths import is_local_uri

        if not is_local_uri(dest_dir) or "://" in dest_dir:
            return None
        try:
            import pyarrow as pa  # noqa: F401
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(df.schema)
        except Exception:
            return None  # pyarrow absent or unconvertible schema
        os.makedirs(dest_dir, exist_ok=True)
        fn = _arrow_stage_writer(
            dest_dir,
            cdir,
            arrow_schema.serialize().to_pybytes(),
            max_records_per_file,
            list(bloom_by or []),
        )
        try:
            rows = df.mapInArrow(fn, "key string, stats string").collect()
        except Exception:
            # a runtime arrow-conversion failure mid-job: fall back to
            # the Spark writer (fresh commit dir); any files the failed
            # job already wrote are unreferenced — vacuum's normal
            # backlog, same contract as a failed distributed publish
            return None
        out = {r["key"]: json.loads(r["stats"]) for r in rows}
        if not out:
            # a fully-empty plan (e.g. limit(0)) can schedule ZERO
            # tasks, so even task 0's anchor branch never ran — write
            # the 0-row schema anchor driver-side (Spark's writer
            # special-cases this the same way: one empty file)
            import pyarrow.parquet as pq

            name = f"part-00000-0000-{uuid.uuid4().hex}.parquet"
            pq.write_table(arrow_schema.empty_table(), f"{dest_dir}/{name}")
            out[f"{cdir}/{name}"] = collect_file_stats(
                f"{dest_dir}/{name}"
            ) or {"rows": 0, "cols": {}}
        return out

    def _stage(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        bloom_by: list[str] | None = None,
    ) -> tuple[list[str], dict]:
        """Write ``df`` as uniquely-named immutable files under a fresh
        commit-scoped directory ``data/c<uuid>/``, harvesting per-file
        footer stats for manifest-level data skipping on the way
        through. This is the table's one on-disk format
        (``_TABLE_FORMAT``).

        Hive partitioning uses SHADOW copies of the partition columns
        (``__p_<col>=val/`` path segments) so the data pages KEEP the
        real columns: reads are explicit file lists with no path
        reconstruction, schema order/types survive exactly, and footer
        min/max cover partition columns too. The commit invariant —
        names are fresh and nothing references them until the manifest
        lands; a crashed write's directory is vacuum's normal backlog.

        ``supports_direct_write`` on the storage chooses the TRANSPORT,
        not the format: a direct-write store has executor tasks write
        the files at their final keys (bytes written exactly once, the
        Iceberg shape); any other store stages the identical files
        locally and publishes them at the same keys. Either way the
        footer-stat + bloom harvest (plus, when staged, the upload)
        runs as ONE distributed job once the file count reaches
        ``distributed_publish_min_files`` — no per-file work serializes
        on the driver; small commits keep the cheaper driver-side
        loop."""
        # COLUMN MAPPING boundary (see _column_mapping): the frame
        # arrives with LOGICAL names; files always store PHYSICAL
        # names, so renamed columns translate here and the harvested
        # stats translate back before they enter the manifest.
        # Identity (no mapping) adds nothing. A logical name never
        # collides with another column's physical name
        # (rename_column enforces it), so the empty-partitioned
        # re-stage recursion below is idempotent under this select.
        __mapping = self._column_mapping()
        if __mapping:
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    F.col(f"`{c}`").alias(__mapping.get(c, c))
                    for c in df.columns
                ]
            )
            if partition_by:
                partition_by = [__mapping.get(c, c) for c in partition_by]
            if bloom_by:
                bloom_by = [__mapping.get(c, c) for c in bloom_by]
        tasks: list[tuple[str | None, str, dict]] = []
        staging = None
        direct = getattr(self.storage, "supports_direct_write", False)
        if any(c.startswith(_SHADOW_PREFIX) for c in partition_by or []):
            # the shadow namespace is the format's own; a real column
            # named __p_* would decode to the wrong partition name
            raise ValueError(
                f"partition_by columns may not start with "
                f"{_SHADOW_PREFIX!r} (reserved for shadow partition "
                f"path segments): {partition_by}"
            )
        out = df
        write_pb = [_SHADOW_PREFIX + c for c in partition_by or []]
        if write_pb:
            from pyspark.sql import functions as F

            for c in partition_by:
                out = out.withColumn(_SHADOW_PREFIX + c, F.col(c))

        def _part_vals(segs: list[str]) -> dict:
            vals = {}
            for seg in segs:
                k, v = seg.split("=", 1)
                # the column NAME is escaped in the path too (never
                # the NULL sentinel, only percent-escapes)
                name = _unquote(k)
                if name.startswith(_SHADOW_PREFIX):
                    name = name[len(_SHADOW_PREFIX) :]
                vals[name] = _decode_hive_partition_value(v)
            return vals

        try:
            cdir = f"{DATA_DIR}/c{uuid.uuid4().hex}"  # commit dir
            stats: dict[str, dict] | None = None
            if direct and not write_pb:
                # arrow-native staging (round 15): write-at-final-keys
                # + in-task stat/bloom harvest in ONE job for the
                # unpartitioned local-root case (the commit-heavy
                # shape: tx_micro, streaming sinks, CoW rewrites of
                # unpartitioned tables). Returns None when the
                # frame/storage cannot take it — the Spark writer
                # below remains the general path (hive partitioning,
                # remote roots, exotic types).
                stats = self._stage_arrow_local(
                    out, cdir, max_records_per_file, bloom_by
                )
                if stats is not None:
                    tasks = [(None, k, {}) for k in sorted(stats)]
            if stats is None:
                if direct:
                    dest = cdir
                else:
                    staging = tempfile.mkdtemp(prefix="txtable-stage-")
                    dest = staging
                writer = out.write.mode("overwrite")
                if write_pb:
                    writer = writer.partitionBy(*write_pb)
                if max_records_per_file:
                    # the writer itself rolls to a new file at the
                    # target row count — the exact mechanism for
                    # bounding file size, independent of how rows map
                    # to tasks.
                    writer = writer.option(
                        "maxRecordsPerFile", int(max_records_per_file)
                    )
                writer.parquet(self.storage.url(dest) if direct else dest)
                if direct:
                    if hasattr(self.storage, "prune_write_artifacts"):
                        self.storage.prune_write_artifacts(dest)
                    # enumerate the written keys (a LISTING of the one
                    # commit-private dir — unambiguous under
                    # concurrency)
                    for key in self.storage.list(dest):
                        if not key.endswith(".parquet"):
                            continue
                        segs = key[len(dest) + 1 :].split("/")[:-1]
                        tasks.append((None, key, _part_vals(segs)))
                else:
                    # enumerate staged files driver-side (a LISTING,
                    # not per-file content I/O) and assign their final
                    # keys under the commit dir (same key shape as the
                    # direct write)
                    for dirpath, dirnames, filenames in os.walk(staging):
                        dirnames[:] = [d for d in dirnames if "=" in d]
                        rel = os.path.relpath(dirpath, staging)
                        segs = [] if rel == "." else rel.split(os.sep)
                        part_vals = _part_vals(segs)
                        sub = (
                            "" if rel == "." else rel.replace(os.sep, "/") + "/"
                        )
                        for name in sorted(filenames):
                            if not name.endswith(".parquet"):
                                continue
                            local = os.path.join(dirpath, name)
                            key = f"{cdir}/{sub}{name}"
                            tasks.append((local, key, part_vals))
            if stats is None and len(tasks) >= self.distributed_publish_min_files:
                try:
                    stats = _publish_distributed(
                        df.sparkSession, self.storage, tasks, bloom_by
                    )
                except Exception:
                    # e.g. a storage subclass the workers cannot
                    # reconstruct: fall back to the serial loop below.
                    # Re-publishing the same unique keys is idempotent
                    # (same bytes, unreferenced until the manifest
                    # lands); any stray from the failed job is vacuum's
                    # normal backlog.
                    stats = None
            if stats is None:
                stats = {
                    key: _publish_one(
                        self.storage, local, key, part_vals, bloom_by
                    )
                    for local, key, part_vals in tasks
                }
            keys = [key for _, key, _ in tasks]
            stats = {k: s for k, s in stats.items() if s}
            if __mapping:
                # manifest speaks LOGICAL: translate harvested footer
                # stats, partition values, and bloom keys back
                __inv = {p: l for l, p in __mapping.items()}
                for fs in stats.values():
                    if "cols" in fs:
                        fs["cols"] = {
                            __inv.get(c, c): v for c, v in fs["cols"].items()
                        }
                    if "partition" in fs:
                        fs["partition"] = {
                            __inv.get(c, c): v
                            for c, v in fs["partition"].items()
                        }
                    if "bloom" in fs:
                        fs["bloom"] = {
                            __inv.get(c, c): v
                            for c, v in fs["bloom"].items()
                        }
            # Bloom payloads (~1.7 KB/file/col) do NOT ride the
            # manifest: they go to ONE per-commit sidecar object and
            # each file's stats keep only the ref — manifests and
            # checkpoints stay ~130 B/file, non-equality reads never
            # parse a bloom byte, and equality reads load the sidecar
            # lazily (see prune_files). The sidecar is uploaded BEFORE
            # the manifest that references it, same invariant as data
            # files; vacuum GCs unreferenced sidecars under the same
            # writer-grace window.
            blooms = {
                k: s.pop("bloom") for k, s in stats.items() if "bloom" in s
            }
            if blooms:
                # SHARDED sidecars: one object per ~bloom_shard_files
                # files, sliced over the SORTED key list — sorted v2
                # keys cluster by partition dir, so a partition/range-
                # pruned point read's candidates land in one or two
                # shards and the probe loads O(candidates), not
                # O(commit) (a 16k-file commit's single sidecar is
                # ~28 MB; its shard is ~0.5 MB). bloom_ref stays
                # per-file, so readers and vacuum are unchanged.
                import math

                items = sorted(blooms.items())
                n_shards = max(
                    1, math.ceil(len(items) / max(1, self.bloom_shard_files))
                )
                per = math.ceil(len(items) / n_shards)
                for i in range(0, len(items), per):
                    shard = dict(items[i : i + per])
                    sidecar = f"{BLOOMS_DIR}/{uuid.uuid4().hex}.json"
                    self.storage.put_if_absent(
                        sidecar, json.dumps(shard, sort_keys=True).encode()
                    )
                    for k in shard:
                        stats[k]["bloom_ref"] = sidecar
            if not keys and partition_by:
                # an EMPTY frame written hive-partitioned produces ZERO
                # part files (no partition values to write under), but
                # an empty UNPARTITIONED write produces one 0-row
                # schema-anchor file — and a zero-file snapshot is
                # unreadable. Re-stage flat so every caller (truncate
                # replace, delete-all rewrite, emptied merge) keeps the
                # anchor invariant. Latent until round 9's soak crossed
                # delete-all with partition evolution.
                return self._stage(
                    df.limit(0),
                    partition_by=None,
                    max_records_per_file=max_records_per_file,
                    bloom_by=bloom_by,
                )
            return keys, stats
        finally:
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)

    def _staged_rows(self, spark: SparkSession, keys: list[str], stats: dict) -> int:
        """Row count of the staged files WITHOUT re-evaluating the input
        frame (the stage write already computed it once): sum the footer
        counts harvested into ``stats``; if any file lacks them (an
        unreadable footer), fall back to a parquet count over the staged
        files — a metadata-only job, not a recompute of the plan."""
        if not keys:
            return 0
        if all("rows" in stats.get(k, {}) for k in keys):
            return sum(stats[k]["rows"] for k in keys)
        with _no_listing_job(spark, len(keys)):
            return (
                spark.read.parquet(
                    *[self.storage.url(k) for k in keys]
                ).count()
            )

    def _put_manifest(
        self,
        base_v: int,
        files: list[str],
        rows: int,
        schema: dict | None,
        stats: dict,
        meta: dict | None,
        partition_by: list[str] | None,
        prev: dict | None,
        mixed_schemas: bool = False,
        stats_override: dict | None = None,
    ) -> bool:
        """Build and conditionally put manifest ``base_v + 1``; the ONE
        place the manifest shape is defined (commit and delete both
        route here). Returns False when the version was taken.

        ``stats_override`` carries replacement stats entries for
        RETAINED files — the deletion-vector commit shape, where the
        only change is an existing file's stats gaining/extending its
        ``dv`` entry. ``_apply_delta`` already merges delta stats over
        the parent's, so overrides reconstruct identically from the
        log, from checkpoints, and from the writer cache.

        STICKY meta keys are CARRIED FORWARD from the previous
        manifest when this commit doesn't set them — application state
        that rides the table and must survive maintenance commits:

        - ``"replay"`` (streaming sinks' replay watermark: checkpoint
          identity + applied batch id) — without the carry, an
          optimize/merge/delete on a sink table would erase the marker
          and a replayed micro-batch would be re-applied (duplicate
          appends / double-counted merges).
        - ``"app"`` — an application-owned namespace carried
          WHOLESALE, so features that park state on the table (the
          persisted IVF index's codebook,
          ``operators/similarity.py::build_ivf_index``; any future
          bloom filter / marker) survive maintenance without the
          storage layer learning their key names.
        - ``"clustering"`` — the declared cluster/Z-order columns
          (set by ``commit(cluster_by=...)`` / ``commit(zorder_by=
          ...)``): a layout INTENT that appends and merges must not
          erase, so a later ``optimize()`` knows how to re-cluster.
          Change it by committing with different clustering args."""
        new_v = base_v + 1
        # every snapshot is stamped with the one table format; the
        # read-side gate (_check_format) rejects anything else, so a
        # caller asking for another format is an error, never ignored
        meta = dict(meta or {})
        if meta.setdefault("layout", _TABLE_FORMAT) != _TABLE_FORMAT:
            raise ValueError(
                f"{self.root}: meta['layout']={meta['layout']!r} is not "
                f"supported; every commit writes layout={_TABLE_FORMAT}"
            )
        for sticky in (
            "replay",
            "app",
            "clustering",
            "bloom_index",
            "properties",
            "widened",
            "constraints",
            "column_mapping",
            "dropped_columns",
            "generated_columns",
        ):
            if sticky not in meta and prev is not None:
                carried = prev.get("meta", {}).get(sticky)
                if carried is not None:
                    meta[sticky] = carried
        committed_at = time.time()
        if prev is None:
            # first commit: a full record — the delta chain's base
            record = {
                "version": new_v,
                "parent": None,
                "files": files,
                "rows": rows,
                "schema": schema,
                "stats": stats,
                "meta": meta,
                "committed_at": committed_at,
            }
            if partition_by:
                record["partition_by"] = list(partition_by)
            if mixed_schemas:
                record["mixed_schemas"] = True
        else:
            # DELTA record: the commit payload lists only the file-set
            # CHANGE (plus the small absolute fields — rows, schema,
            # meta), so committing one appended file to a million-file
            # table puts a few-KB object, not an O(table) manifest.
            # Retained files' stats are NOT re-serialized — per-file
            # stats are immutable by key and ride the parent snapshot.
            prev_files = set(prev["files"])
            fset = set(files)
            add = [f for f in files if f not in prev_files]
            record = {
                "version": new_v,
                "parent": base_v,
                "add": add,
                "remove": [f for f in prev["files"] if f not in fset],
                "rows": rows,
                "schema": schema,
                "stats": {
                    **{f: stats[f] for f in add if f in stats},
                    **(stats_override or {}),
                },
                "meta": meta,
                "committed_at": committed_at,
            }
            if partition_by:
                record["partition_by"] = list(partition_by)
            if mixed_schemas:
                # files under more than one physical schema (evolution
                # appends): readers must merge footers; cleared by the
                # next full replace (optimize/merge)
                record["mixed_schemas"] = True
        payload = json.dumps(record, sort_keys=True).encode()
        if not self.storage.put_if_absent(_manifest_key(new_v), payload):
            return False
        # canonical full snapshot: EXACTLY what reconstruction from the
        # log produces, so every handle (this one via cache, a fresh one
        # via _full_manifest) plans the identical file list
        record_rt = json.loads(payload.decode())  # JSON-normalized types,
        # decoupled from caller-held dicts — identical to a fresh read
        full = record_rt if prev is None else _apply_delta(prev, record_rt)
        self._cache_put(new_v, full)
        if new_v > 0 and new_v % self.checkpoint_interval == 0:
            # derived + idempotent: a crash here only means the next
            # reader walks a few more deltas; a concurrent writer of
            # the same checkpoint writes identical content
            self._write_checkpoint(full)
        return True

    def commit(
        self,
        df: DataFrame,
        *,
        mode: str = "replace",
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 8,
        bloom_by: list[str] | None = None,
        num_files: int | None = None,
        max_records_per_file: int | None = None,
        meta: dict | None = None,
        expect_version: int | None = None,
        allow_schema_evolution: bool = False,
        allow_stale_partition_scheme: bool = False,
    ) -> int:
        """Commit ``df`` as the next snapshot and return its version.

        ``bloom_by`` declares per-file Bloom-filter indexing on the
        given columns (``build_bloom_stats``): each staged file gets a
        ~10-bits/key bloom in its manifest stats, and
        ``read(equals={col: value})`` / ``prune_files(..., equals=...)``
        skip every file whose bloom disproves the key — the
        point-lookup complement to min/max zone maps, which cannot
        prune an unsorted high-cardinality key. STICKY like
        clustering: once declared, appends and copy-on-write rewrites
        keep indexing without re-stating it.

        ``allow_schema_evolution`` (append / replace_partitions only):
        permit the staged schema to ADD columns to — or omit columns
        from — the table schema, as long as every column present in
        both has the identical type (Delta's ``mergeSchema``). The
        manifest schema becomes the union, the manifest is flagged
        ``mixed_schemas``, and readers merge footers so files written
        before the evolution surface the new columns as NULL. A full
        ``replace`` rewrites every file under one schema and clears
        the flag.

        ``mode="replace"``: the new manifest lists only the staged
        files (full-snapshot semantics — what merge/compact produce).
        ``mode="append"``: staged files are added to the current file
        set (blind append; on conflict the append rebases and retries,
        since appends commute).
        ``mode="replace_partitions"`` (requires ``partition_by``):
        transactional dynamic partition overwrite — retained files are
        the previous snapshot's EXCEPT those in the partitions the
        staged data touches; a batch that rewrites 2 of 10,000 date
        partitions commits one manifest and never lists, reads, or
        rewrites the other 9,998. Commutes across disjoint partition
        sets, so a conflict rebases and retries like append; two
        writers overwriting the SAME partition serialize by version
        with last-writer-wins (pass ``expect_version`` to forbid).

        ``partition_by`` stages hive-partitioned files (see ``_stage``):
        the pages keep the partition columns and per-file partition
        values ride the manifest for exact partition pruning
        (``read(partitions={...})``).

        ``cluster_by`` range-partitions + sorts the staged files on the
        given columns before writing (``num_files`` output files,
        default the session parallelism): each file then covers a
        DISJOINT slice of the cluster-key domain, which is what makes
        the manifest's min/max stats actually skip — an unclustered
        commit spreads every key range across every file and
        ``prune_files`` can exclude nothing. Composable with
        ``partition_by`` (cluster within partitions).

        ``zorder_by`` (mutually exclusive with ``cluster_by``)
        range-partitions + sorts on the Morton interleave of the given
        columns' cell indexes (``sources/io.py::zorder_frame``,
        2**``zorder_bits`` cells per column): each file covers a small
        hyper-rectangle of the combined domain, so the manifest's
        min/max stats skip files for a selective predicate on ANY of
        the Z-ordered columns — the Delta/Iceberg OPTIMIZE ZORDER
        shape, costing the same single range exchange as ``cluster_by``
        plus one tiny min/max agg job.

        ``expect_version``: optimistic-concurrency guard for
        read-modify-write commits — the version the writer derived its
        result FROM. If someone else committed past it, raises
        :class:`CommitConflict` (the caller re-reads and recomputes).
        """
        if mode == "replace_partitions" and not partition_by:
            raise ValueError("replace_partitions requires partition_by")
        # table CHECK constraints + generated-column equality gate
        # EVERY commit front door (plain commits, copy-on-write
        # merge/update rewrites, streaming sinks, SQL INSERT/CTAS all
        # land here); the deletion-vector append paths enforce
        # separately before their own staging. A frame omitting a
        # GENERATED column gets it derived here (Delta's GENERATED
        # ALWAYS AS write behavior). Zero cost for plain tables.
        __m_gate = self.manifest()
        df = self._derive_generated(df, __m_gate)
        __gates_checked = self._write_gates(__m_gate)
        self._enforce_constraints(df, __gates_checked)
        if mode == "append" and partition_by is None:
            # an append MUST stage in the table's physical layout: flat
            # files appended to a hive-partitioned table would carry no
            # partition path/stats — invisible to partition pruning and
            # unreadable mixed with partitioned files. Inherit the
            # layout; the CAS loop re-validates against the race winner.
            partition_by = (self.manifest() or {}).get("partition_by")
        if cluster_by and zorder_by:
            raise ValueError(
                "cluster_by and zorder_by are mutually exclusive: "
                "lexicographic range clustering skips on the leading "
                "column only; Z-order trades a little per-column "
                "tightness for skipping on ANY clustered column"
            )
        if zorder_by:
            from nyc_taxi_etl_pyspark_spark.sources.io import zorder_frame

            df = zorder_frame(
                df, list(zorder_by), bits=zorder_bits, num_files=num_files
            )
        elif cluster_by:
            from pyspark.sql import functions as F

            n = num_files or df.sparkSession.sparkContext.defaultParallelism
            df = df.repartitionByRange(
                n, *[F.col(c) for c in cluster_by]
            ).sortWithinPartitions(*cluster_by)
        elif num_files is not None:
            df = df.repartition(num_files)
        if zorder_by or cluster_by:
            # record the clustering as a TABLE PROPERTY (declared
            # intent, like Delta's clustering columns): sticky across
            # commits (see _put_manifest), consumed by optimize() to
            # re-establish the layout after compaction/appends. Only a
            # hint — skipping correctness always comes from per-file
            # stats, never from this claim.
            meta = dict(meta or {})
            meta["clustering"] = (
                {"kind": "zorder", "cols": list(zorder_by), "bits": zorder_bits}
                if zorder_by
                else {"kind": "range", "cols": list(cluster_by)}
            )
        if bloom_by is None:
            # sticky bloom property: appends and rewrites keep indexing
            # the declared columns without every writer re-stating them
            prop = (self.manifest() or {}).get("meta", {}).get("bloom_index")
            if prop:
                bloom_by = prop.get("cols")
        else:
            meta = dict(meta or {})
            meta["bloom_index"] = {"cols": list(bloom_by)}
        schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        if mode in ("append", "replace_partitions"):
            # cheap FAST-FAIL before the (expensive) stage writes a
            # mismatched dataset; the authoritative re-check still runs
            # inside the CAS loop against whatever manifest wins a race.
            cur = self.manifest()
            _evolve_schema(
                (cur or {}).get("schema"),
                schema,
                allow_schema_evolution,
                self.root,
                mode,
            )
        keys, staged_stats = self._stage(
            df,
            partition_by=partition_by,
            max_records_per_file=max_records_per_file,
            bloom_by=bloom_by,
        )
        # Drop empty staged files in DEFER mode: the schema-anchor
        # decision needs the commit's FINAL file set (retained +
        # staged), which is only known inside the CAS loop below — an
        # empty APPEND to a non-empty table must NOT accrete an anchor,
        # while an empty replace (the documented truncate idiom) must
        # keep one.
        keys, staged_stats, anchor = _drop_empty_staged(
            keys, staged_stats, None
        )
        rows = self._staged_rows(df.sparkSession, keys, staged_stats)
        touched = {
            tuple(sorted(staged_stats[k]["partition"].items()))
            for k in keys
            if "partition" in staged_stats.get(k, {})
        }
        while True:
            base_v = self.latest_version()
            if expect_version is not None and base_v != expect_version:
                raise CommitConflict(
                    f"{self.root}: derived from v{expect_version} but table "
                    f"is at v{base_v}; re-read and retry"
                )
            prev = self.manifest(base_v) if base_v >= 0 else None
            if prev is not None:
                # Re-gate against the RACE WINNER's constraint set: a
                # concurrent ADD CONSTRAINT / generated-column change
                # landing between the front-door gate above and this
                # (possibly retried) CAS attempt would otherwise let a
                # violating batch publish on top of the new base — the
                # symmetric race to add_constraint's snapshot
                # validation. Zero cost on the common path (dict
                # equality short-circuits; no Spark job unless the
                # gate set actually changed).
                __prev_gates = self._write_gates(prev)
                if __prev_gates != __gates_checked:
                    self._enforce_constraints(df, __prev_gates)
                    __gates_checked = __prev_gates
            m_schema, evolved = schema, False
            if mode in ("append", "replace_partitions") and prev is not None:
                # schema guard INSIDE the CAS loop: a rebase after a lost
                # race re-validates against the WINNER's schema, or a
                # concurrent schema evolution could silently produce a
                # mixed-schema file set.
                m_schema, evolved = _evolve_schema(
                    prev.get("schema"),
                    schema,
                    allow_schema_evolution,
                    self.root,
                    mode,
                )
                if any(
                    m_schema.get(c) != t
                    for c, t in schema.items()
                    if c in m_schema
                ):
                    # narrow physical files joined a wider declared
                    # schema (post-widening append): flip the sticky
                    # ``widened`` flag so reads pass the explicit wider
                    # schema — footer merging would fail int-vs-bigint
                    meta = dict(meta or {})
                    meta["widened"] = True
            if mode == "append" and prev is not None:
                if (prev.get("partition_by") or None) != (
                    list(partition_by) if partition_by else None
                ):
                    raise ValueError(
                        f"{self.root}: append staged with layout "
                        f"{partition_by} but the table is partitioned by "
                        f"{prev.get('partition_by')} (changed by a "
                        "concurrent commit?); re-stage with the table's "
                        "layout."
                    )
                prev_files = list(prev["files"])
                if keys:
                    # real data arriving retires a truncate's 0-row
                    # schema anchor — without this, the stats-less
                    # anchor would ride every later snapshot as a
                    # permanent no-op scan task (0 rows: dropping it
                    # changes no result, no arithmetic)
                    pstats = prev.get("stats", {})
                    prev_files = [
                        f
                        for f in prev_files
                        if pstats.get(f, {}).get("rows") != 0
                    ]
                files = prev_files + keys
                total_rows = prev.get("rows", 0) + rows
                # retained files keep their stats across the append
                stats = {
                    **{
                        f: v
                        for f, v in prev.get("stats", {}).items()
                        if f in set(prev_files)
                    },
                    **staged_stats,
                }
            elif mode == "replace_partitions" and prev is not None:
                prev_stats = prev.get("stats", {})
                # replace_partitions only OWNS files recording the
                # current scheme's partition values; after partition
                # evolution, old-scheme files whose rows logically
                # belong to a replaced partition would be silently
                # retained alongside the new data (duplicates). Fail
                # loudly until the table is migrated (optimize()), or
                # the caller explicitly accepts the retain semantics.
                scheme = set(partition_by or [])
                # 0-row files are schema anchors (e.g. a truncate's
                # empty replace staged flat) — they cannot logically
                # belong to any replaced partition, so they are never
                # stale-scheme (mirrors the append branch's anchor
                # retirement)
                stale = [
                    f
                    for f in prev["files"]
                    if set(prev_stats.get(f, {}).get("partition") or {})
                    != scheme
                    and prev_stats.get(f, {}).get("rows") != 0
                ]
                if stale and not allow_stale_partition_scheme:
                    raise ValueError(
                        f"{self.root}: replace_partitions over scheme "
                        f"{sorted(scheme)} but {len(stale)} snapshot "
                        "file(s) record a different partition scheme "
                        "(written before alter_partitioning?) — their "
                        "rows may logically belong to a replaced "
                        "partition yet would be retained. Run "
                        "optimize() to migrate old-scheme files first, "
                        "or pass allow_stale_partition_scheme=True to "
                        "accept retain-by-file semantics."
                    )

                def _in_touched(f: str) -> bool:
                    part = prev_stats.get(f, {}).get("partition")
                    return (
                        part is not None
                        and tuple(sorted(part.items())) in touched
                    )

                retained = [f for f in prev["files"] if not _in_touched(f)]
                if keys:
                    # same anchor retirement as the append branch
                    retained = [
                        f
                        for f in retained
                        if prev_stats.get(f, {}).get("rows") != 0
                    ]
                # LOGICAL rows: a touched file may carry a deletion
                # vector, in which case its contribution to the
                # manifest's rows total is footer rows minus dv.n —
                # subtracting physical rows would understate the total
                dropped_rows = sum(
                    _logical_rows(prev_stats, f) or 0
                    for f in prev["files"]
                    if _in_touched(f)
                )
                files = retained + keys
                total_rows = max(0, prev.get("rows", 0) - dropped_rows) + rows
                stats = {
                    **{f: prev_stats[f] for f in retained if f in prev_stats},
                    **staged_stats,
                }
            else:
                files = keys
                total_rows = rows
                stats = staged_stats
            if not files and anchor is not None:
                # the whole commit is empty (truncate replace, or a
                # replace_partitions/append that retained nothing):
                # keep ONE 0-row staged file as the schema anchor
                files = [anchor[0]]
                stats = {**stats, anchor[0]: anchor[1]}
            pb = (
                list(partition_by)
                if partition_by
                else (
                    prev["partition_by"]
                    if prev is not None
                    and prev.get("partition_by")
                    and mode == "append"
                    else None
                )
            )
            mixed = mode in ("append", "replace_partitions") and (
                evolved or bool((prev or {}).get("mixed_schemas"))
            )
            if self._put_manifest(
                base_v,
                files,
                total_rows,
                m_schema,
                stats,
                meta,
                pb,
                prev,
                mixed_schemas=mixed,
            ):
                return base_v + 1
            # lost the race for base_v + 1
            if expect_version is not None:
                raise CommitConflict(
                    f"{self.root}: v{base_v + 1} committed concurrently; "
                    "re-read and retry"
                )
            # blind replace/append: rebase on the winner and retry

    def commit_with_expectations(
        self,
        df: DataFrame,
        expectations: dict[str, str],
        *,
        on_violation: str = "quarantine",
        quarantine_root: str | None = None,
        **commit_kwargs,
    ) -> int:
        """Commit ``df`` gated by declared data-quality expectations
        (the Delta Live Tables ``EXPECT`` shape): each entry maps an
        expectation name to a SQL boolean predicate; a row PASSES an
        expectation when the predicate is TRUE (NULL counts as a
        violation, so ``x > 0`` quarantines NULL x).

        ``on_violation``:
          - ``"quarantine"`` (default): violating rows are appended to a
            sibling transactional table (``<root>_quarantine`` unless
            ``quarantine_root`` is given) with ``__failed_expectations``
            naming the violated rules; passing rows are committed here.
          - ``"drop"``: violating rows are discarded (counts still
            recorded).
          - ``"fail"``: any violation raises :class:`ExpectationViolation`
            and commits NOTHING (the CI-gate mode).

        Per-expectation violation counts, the total row/violation
        counts, and the predicates themselves ride the committed
        manifest under ``meta["expectations"]`` — the audit trail a
        data contract needs (``describe()`` surfaces it). Cost: one
        dedicated counting aggregate over ``df`` before the filtered
        stage write. Catalyst prunes that scan to only the columns the
        predicates reference, and at scale the count can instead ride
        the staging action itself via ``DataFrame.observe`` — kept
        separate here because ``fail`` must decide BEFORE any file is
        staged, and the split keeps commit() untouched.

        Returns the committed version (of the PASSING rows). All other
        keyword arguments pass through to :meth:`commit`.
        """
        from pyspark.sql import functions as F

        if on_violation not in ("quarantine", "drop", "fail"):
            raise ValueError(
                f"on_violation={on_violation!r}: expected "
                "'quarantine', 'drop' or 'fail'"
            )
        all_pass, flags, audit = evaluate_expectations(df, expectations)
        audit["on_violation"] = on_violation
        failed = audit["rows_failed"]
        if failed and on_violation == "fail":
            raise ExpectationViolation(
                f"{self.root}: {failed}/{audit['rows_seen']} rows violate "
                f"expectations {audit['violations']}; nothing committed"
            )
        meta = dict(commit_kwargs.pop("meta", None) or {})
        meta["expectations"] = audit
        # MAIN commit FIRST (same order as the streaming variant): a
        # CommitConflict raised here — e.g. the caller passed
        # expect_version — leaves the quarantine untouched, so the
        # caller's retry cannot double-append violators. A crash
        # between the two commits loses at most this batch's
        # quarantine rows, never main-table correctness.
        version = self.commit(df.filter(all_pass), meta=meta, **commit_kwargs)
        if failed and on_violation == "quarantine":
            qroot = quarantine_root or self.root + "_quarantine"
            qtable = TransactionalTable(qroot, storage=type(self.storage)(qroot))
            bad = df.filter(~all_pass).withColumn(
                "__failed_expectations", failed_expectation_names(flags)
            )
            qtable.commit(
                bad,
                mode="append" if qtable.exists() else "replace",
                meta={"expectations": audit},
            )
        return version

    # -- maintenance -------------------------------------------------------
    def optimize(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
        max_retries: int = 5,
        zorder_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_bits: int = 8,
    ) -> dict:
        """Transactional small-file compaction (table-format OPTIMIZE):
        read snapshot N, rewrite into ``ceil(rows/target)`` files,
        commit as N+1 **iff the table is still at N** — a concurrent
        writer wins the race and compaction retries against the new
        snapshot. Readers of N keep their files (immutable) until
        ``vacuum``; there is no retry-window where the table is absent,
        which the rename-swap scheme could not avoid.

        Clustering-aware: the table's declared ``clustering`` property
        (sticky meta, set by ``commit(cluster_by=...)`` /
        ``commit(zorder_by=...)``) is RE-APPLIED during the rewrite —
        appends land unclustered between optimizes, and a compaction
        that round-robined the rows would silently destroy the layout
        the manifest's zone-map skipping depends on; this is
        Delta/Iceberg's OPTIMIZE ZORDER. Pass ``zorder_by`` /
        ``cluster_by`` here to (re)declare the clustering instead; on
        a hive-partitioned table the clustering sort happens WITHIN
        each partition (partition layout itself is always preserved)."""
        import math

        if zorder_by and cluster_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to optimize in {self.root}")
            df = self.read(spark, base_v)
            rows = m.get("rows") or df.count()
            pb = m.get("partition_by")
            if zorder_by:
                clus = {"kind": "zorder", "cols": list(zorder_by), "bits": zorder_bits}
            elif cluster_by:
                clus = {"kind": "range", "cols": list(cluster_by)}
            else:
                clus = m.get("meta", {}).get("clustering")
            if pb:
                # Partitioned table: the compaction unit is the
                # partition — shuffle on the partition cols so each
                # directory compacts together, leaving the layout (and
                # partition pruning) intact. File sizing is delegated
                # to the WRITER (maxRecordsPerFile below): a huge
                # partition's single task rolls to a fresh file every
                # target_rows_per_file rows, so hot partitions split to
                # ~target-row files while small partitions stay one —
                # no salt column, no fragmentation of the small ones.
                n_parts = len(
                    {
                        tuple(sorted(fs["partition"].items()))
                        for fs in m.get("stats", {}).values()
                        if "partition" in fs
                    }
                )
                from pyspark.sql import functions as F

                compacted = df.repartition(
                    max(n_parts, 1), *[F.col(c) for c in pb]
                )
                if clus:
                    # clustering WITHIN partitions: each task holds
                    # whole partition dirs; a within-task sort on the
                    # cluster key (Morton key for zorder) means the
                    # writer's maxRecordsPerFile rolls produce files
                    # covering contiguous key slices per partition.
                    if clus["kind"] == "zorder":
                        from nyc_taxi_etl_pyspark_spark.sources.io import (
                            zorder_bucket_exprs,
                            zorder_key_col,
                        )

                        bits = int(clus.get("bits", 8))
                        buckets = zorder_bucket_exprs(df, clus["cols"], bits=bits)
                        compacted = (
                            compacted.withColumn(
                                "__zkey", zorder_key_col(buckets, bits)
                            )
                            .sortWithinPartitions("__zkey")
                            .drop("__zkey")
                        )
                    else:
                        compacted = compacted.sortWithinPartitions(*clus["cols"])
            else:
                n_files = max(1, math.ceil(rows / target_rows_per_file))
                if clus and clus["kind"] == "zorder":
                    from nyc_taxi_etl_pyspark_spark.sources.io import zorder_frame

                    compacted = zorder_frame(
                        df,
                        clus["cols"],
                        bits=int(clus.get("bits", 8)),
                        num_files=n_files,
                    )
                elif clus:
                    from pyspark.sql import functions as F

                    compacted = df.repartitionByRange(
                        n_files, *[F.col(c) for c in clus["cols"]]
                    ).sortWithinPartitions(*clus["cols"])
                else:
                    compacted = df.repartition(n_files)
            meta = {"op": "optimize", "source_version": base_v}
            if clus:
                meta["clustering"] = clus
            try:
                new_v = self.commit(
                    compacted,
                    mode="replace",
                    partition_by=pb,
                    max_records_per_file=target_rows_per_file,
                    meta=meta,
                    expect_version=base_v,
                )
            except CommitConflict:
                continue
            return {
                "files_before": len(m["files"]),
                "files_after": len(self.manifest(new_v)["files"]),
                "rows": rows,
                "version": new_v,
            }
        raise CommitConflict(f"optimize lost {max_retries} commit races on {self.root}")

    def optimize_incremental(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
        small_file_threshold: float = 0.5,
        max_retries: int = 5,
    ) -> dict:
        """Incremental small-file compaction — the Delta OPTIMIZE
        bin-packing shape, and the form of OPTIMIZE that is actually
        runnable on a 100 TB table: rewrite ONLY the files below
        ``small_file_threshold × target_rows_per_file`` rows (the
        fragments streaming appends and tiny batch commits leave
        behind), grouped per hive partition; every file already near
        target size is RETAINED byte-for-byte, so cost is O(small
        files), never O(table). ``optimize()`` remains the full
        re-cluster (re-establishing globally disjoint zone-map ranges);
        this routine keeps the table's declared clustering locally —
        the compacted subset is re-sorted on the cluster/Z-order key so
        new files are individually tight, though their key ranges may
        overlap retained files' (skipping stays CORRECT — stats are
        per-file — just less tight until the next full optimize).

        Groups with fewer than two small files are left alone (a
        single-file rewrite buys nothing). Commits with optimistic
        concurrency like delete/merge. Returns {version,
        files_rewritten, files_retained, rows_compacted}; a no-op
        commits nothing and returns the current version."""
        import math

        from pyspark.sql import functions as F

        if not 0 < small_file_threshold <= 1:
            # above 1 the pass would re-compact its own near-target
            # output forever (each no-progress pass still commits a
            # version); the stable region is threshold <= 1, where a
            # compacted file of >= threshold x target rows is retained
            # by the next pass.
            raise ValueError(
                f"small_file_threshold must be in (0, 1], got "
                f"{small_file_threshold}"
            )
        thr = int(target_rows_per_file * small_file_threshold)
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to optimize in {self.root}")
            stats = m.get("stats", {})

            def _rows(f: str):
                # LOGICAL rows: a large file most of whose rows a
                # deletion vector soft-deleted is exactly the fragment
                # this pass exists to clean up (compacting it
                # materializes the DV)
                return _logical_rows(stats, f)

            groups: dict[tuple, list[str]] = {}
            for f in m["files"]:
                r = _rows(f)
                if r is None or r >= thr:
                    continue  # unknown-size files are conservatively kept
                part = tuple(
                    sorted((stats.get(f, {}).get("partition") or {}).items())
                )
                groups.setdefault(part, []).append(f)
            compact_groups = {g: fs for g, fs in groups.items() if len(fs) >= 2}
            to_compact = [f for fs in compact_groups.values() for f in fs]
            if not to_compact:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(m["files"]),
                    "rows_compacted": 0,
                }
            retained = [f for f in m["files"] if f not in set(to_compact)]
            rows_compacted = sum(
                _logical_rows(stats, f) for f in to_compact
            )
            pb = m.get("partition_by")
            # _affected_frame applies the snapshot's read semantics —
            # crucially the deletion-vector anti-join: compacting a
            # DV-carrying file through a raw reader would resurrect its
            # soft-deleted rows (the new file has no dv stats entry)
            df = self._affected_frame(spark, m, to_compact)
            if pb:
                # one task per compacted partition: whole fragments of a
                # partition land together; the writer's maxRecordsPerFile
                # rolls oversized groups
                compacted = df.repartition(
                    max(1, len(compact_groups)), *[F.col(c) for c in pb]
                )
            else:
                compacted = df.repartition(
                    max(1, math.ceil(rows_compacted / target_rows_per_file))
                )
            clus = m.get("meta", {}).get("clustering")
            if clus and clus["kind"] == "zorder":
                from nyc_taxi_etl_pyspark_spark.sources.io import (
                    zorder_bucket_exprs,
                    zorder_key_col,
                )

                bits = int(clus.get("bits", 8))
                buckets = zorder_bucket_exprs(df, clus["cols"], bits=bits)
                compacted = (
                    compacted.withColumn("__zkey", zorder_key_col(buckets, bits))
                    .sortWithinPartitions("__zkey")
                    .drop("__zkey")
                )
            elif clus:
                compacted = compacted.sortWithinPartitions(*clus["cols"])
            keys, staged_stats = self._stage(
                compacted,
                partition_by=pb,
                max_records_per_file=target_rows_per_file,
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            keys, staged_stats, _ = _drop_empty_staged(
                keys, staged_stats, bool(retained)
            )
            if self._put_manifest(
                base_v,
                retained + keys,
                m.get("rows", 0),  # content is moved, never changed
                m.get("schema"),
                {
                    **{f: stats[f] for f in retained if f in stats},
                    **staged_stats,
                },
                {
                    "op": "optimize_incremental",
                    "source_version": base_v,
                    "rows_compacted": rows_compacted,
                },
                pb,
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return {
                    "version": base_v + 1,
                    "files_rewritten": len(to_compact),
                    "files_retained": len(retained),
                    "rows_compacted": rows_compacted,
                }
            # lost the race: strays are vacuum backlog; re-derive
        raise CommitConflict(
            f"optimize_incremental lost {max_retries} commit races on {self.root}"
        )

    def purge_deletion_vectors(
        self,
        spark: SparkSession,
        max_dv_fraction: float = 0.0,
        max_retries: int = 5,
    ) -> dict:
        """Materialize deletion vectors away (Delta's ``REORG TABLE ...
        APPLY (PURGE)``): rewrite every file whose soft-deleted
        fraction exceeds ``max_dv_fraction`` through the DV-aware
        reader — the new files carry only live rows and no ``dv``
        stats entry — and retain every other file byte-for-byte. The
        maintenance knob merge-on-read needs at 100 TB: DV reads cost
        O(accumulated deleted positions) per scan, so files past the
        threshold get that debt paid ONCE here instead of on every
        query; ``optimize_incremental`` only catches files whose
        LOGICAL size fell under the compaction threshold, while this
        targets deadness directly (default 0.0 = purge every
        DV-carrying file). Orphaned ``_dvs/`` sidecars become vacuum
        backlog. Returns {version, files_rewritten, files_retained,
        rows_purged}; a no-op commits nothing."""
        if not 0 <= max_dv_fraction < 1:
            raise ValueError(
                f"max_dv_fraction must be in [0, 1), got {max_dv_fraction}"
            )
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to purge in {self.root}")
            stats = m.get("stats", {})
            to_purge = [
                f
                for f in m["files"]
                if "dv" in stats.get(f, {})
                and stats[f].get("rows")
                and int(stats[f]["dv"].get("n", 0))
                > max_dv_fraction * int(stats[f]["rows"])
            ]
            if not to_purge:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(m["files"]),
                    "rows_purged": 0,
                }
            retained = [f for f in m["files"] if f not in set(to_purge)]
            rows_purged = sum(
                int(stats[f]["dv"].get("n", 0)) for f in to_purge
            )
            df = self._affected_frame(spark, m, to_purge)
            keys, staged_stats = self._stage(
                df,
                partition_by=m.get("partition_by"),
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            keys, staged_stats, _ = _drop_empty_staged(
                keys, staged_stats, bool(retained)
            )
            if self._put_manifest(
                base_v,
                retained + keys,
                m.get("rows", 0),  # logical content unchanged
                m.get("schema"),
                {
                    **{f: stats[f] for f in retained if f in stats},
                    **staged_stats,
                },
                {
                    "op": "purge_dv",
                    "source_version": base_v,
                    "rows_purged": rows_purged,
                },
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return {
                    "version": base_v + 1,
                    "files_rewritten": len(to_purge),
                    "files_retained": len(retained),
                    "rows_purged": rows_purged,
                }
            # lost the race: staged strays are vacuum backlog; retry
        raise CommitConflict(
            f"purge_deletion_vectors lost {max_retries} commit races on "
            f"{self.root}"
        )

    def compact_deletion_vectors(
        self,
        spark: SparkSession,
        max_refs: int = 1,
        max_retries: int = 5,
    ) -> dict:
        """Merge each file's sidecar REF LIST into one consolidated
        sidecar — a stats-only commit that touches no data file (the
        cheap sibling of ``purge_deletion_vectors``, Delta's
        one-DV-per-file invariant restored as maintenance). Every
        merge-on-read commit APPENDS one ref per touched file, so N
        stacked merges leave reads unioning N sidecars before the
        anti-join; compaction collapses files carrying more than
        ``max_refs`` refs to a single ref each, with logical content,
        per-file ``dv.n``, and file bytes all unchanged (asserted:
        consolidated position counts must equal the recorded ``n``).
        Old sidecars stay referenced by older snapshots and become
        vacuum backlog as those retire. Returns {version,
        files_compacted, refs_before, refs_after}; no-op commits
        nothing."""
        from pyspark.sql import functions as F

        if max_refs < 1:
            raise ValueError(f"max_refs must be >= 1, got {max_refs}")
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to compact in {self.root}")
            stats = m.get("stats", {})
            targets = {
                f: e["dv"]
                for f, e in stats.items()
                if f in set(m["files"])
                and len(e.get("dv", {}).get("refs", [])) > max_refs
            }
            if not targets:
                return {
                    "version": base_v,
                    "files_compacted": 0,
                    "refs_before": 0,
                    "refs_after": 0,
                }
            refs_before = sum(len(e["refs"]) for e in targets.values())
            refs = sorted({r for e in targets.values() for r in e["refs"]})
            positions = (
                spark.read.parquet(*[self.storage.url(r) for r in refs])
                .where(F.col("file").isin(list(targets)))
                .select(
                    F.col("file").alias("__dv_file"),
                    F.col("pos").alias("__dv_pos"),
                )
            )
            positions.persist()
            try:
                counts = {
                    r["__dv_file"]: int(r["n"])
                    for r in positions.groupBy("__dv_file")
                    .agg(F.count("*").alias("n"))
                    .collect()  # bounded by len(targets)
                }
                for f, e in targets.items():
                    if counts.get(f, 0) != int(e.get("n", 0)):
                        raise ValueError(
                            f"{self.root}: DV compaction found "
                            f"{counts.get(f, 0)} recorded positions for "
                            f"{f} but stats claim n={e.get('n')} — "
                            "sidecars and stats disagree; run fsck"
                        )
                dv_key = self._upload_dv_sidecar(positions)
            finally:
                positions.unpersist()
            override = {
                f: {
                    **stats.get(f, {}),
                    "dv": {"refs": [dv_key], "n": int(e["n"])},
                }
                for f, e in targets.items()
            }
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),  # logical content unchanged
                m.get("schema"),
                {},  # retained files' stats ride the parent
                {
                    "op": "compact_dv",
                    "source_version": base_v,
                    "refs_before": refs_before,
                    "refs_after": len(targets),
                },
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
                stats_override=override,
            ):
                return {
                    "version": base_v + 1,
                    "files_compacted": len(targets),
                    "refs_before": refs_before,
                    "refs_after": len(targets),
                }
            try:  # lost the race: reclaim the orphaned sidecar eagerly
                self.storage.delete(dv_key)
            except Exception:
                pass
        raise CommitConflict(
            f"compact_deletion_vectors lost {max_retries} commit races on "
            f"{self.root}"
        )

    def restore(self, version: int, expect_version: int | None = None) -> int:
        """RESTORE TABLE TO VERSION (Delta's ``RESTORE``): commit a NEW
        version whose file list is the target snapshot's — a pure
        METADATA operation (one manifest put, zero data copied, zero
        Spark jobs) because data files are immutable and shared across
        manifests. History is preserved: the bad intermediate versions
        stay readable until vacuum retires them, and the restore itself
        is an auditable commit (``meta.op = "restore"``). The target
        must still be retained (not vacuumed). Optimistic concurrency
        via ``expect_version`` like any commit; a blind restore rebases
        past concurrent writers (last-writer-wins, as with replace).

        Sticky meta (``replay``/``app``/``clustering``) deliberately
        carries from the CURRENT head, not the restored target: a
        streaming sink's replay watermark must survive the rollback or
        a resumed stream would re-apply batches the (restored-over)
        history already consumed — data goes back in time, the
        exactly-once bookkeeping does not. The exception is column
        identity (mapping, drop tombstones, generated columns), which
        travels with the restored schema and files. Target and head
        share the one on-disk format (``_TABLE_FORMAT``), so the
        restored files read exactly as they did at the target."""
        target = self.manifest(version)
        if target is None:
            raise FileNotFoundError(
                f"{self.root}: version {version} is not retained "
                "(vacuumed or never committed) — cannot restore"
            )
        while True:
            base_v = self.latest_version()
            if expect_version is not None and base_v != expect_version:
                raise CommitConflict(
                    f"{self.root}: restore derived from v{expect_version} "
                    f"but table is at v{base_v}; re-read and retry"
                )
            prev = self.manifest(base_v) if base_v >= 0 else None
            meta = {"op": "restore", "restored_version": version}
            # column identity (mapping + drop tombstones) travels with
            # the restored SCHEMA and FILES — carrying the
            # head's mapping over the target's schema would logicalize
            # scans to names the restored schema doesn't declare
            t_meta = target.get("meta", {})
            meta["column_mapping"] = dict(
                t_meta.get("column_mapping") or {}
            )
            meta["dropped_columns"] = list(
                t_meta.get("dropped_columns") or []
            )
            meta["generated_columns"] = dict(
                t_meta.get("generated_columns") or {}
            )
            # CHECK constraints carry from the HEAD (active guardrails
            # survive a rollback), EXCEPT constraints referencing a
            # column the restored schema does not declare — carrying
            # those would make every later write fail on an
            # unresolvable predicate. Dropped names are recorded in
            # the restore's meta for the audit trail.
            head_cons = (prev or {}).get("meta", {}).get(
                "constraints"
            ) or {}
            if head_cons:
                head_schema = set((prev or {}).get("schema") or {})
                t_schema = set(target.get("schema") or {})
                kept: dict[str, str] = {}
                dropped_cons: list[str] = []
                for cname, expr in head_cons.items():
                    refs = {
                        c
                        for c in head_schema
                        if re.search(
                            rf"(?<![\w.`]){re.escape(c)}(?![\w`])", expr
                        )
                    }
                    if refs <= t_schema:
                        kept[cname] = expr
                    else:
                        dropped_cons.append(cname)
                meta["constraints"] = kept
                if dropped_cons:
                    meta["constraints_dropped_on_restore"] = sorted(
                        dropped_cons
                    )
            # per-file stats are NOT immutable by key anymore: a
            # deletion-vector commit edits a retained file's entry in
            # place, so restoring across one must explicitly re-assert
            # the TARGET's entry for every retained file whose stats
            # drifted (else _apply_delta carries the head's dv refs
            # into the restored snapshot — resurrected deletes)
            prev_stats = (prev or {}).get("stats", {})
            t_stats = target.get("stats", {})
            prev_files = set((prev or {}).get("files", ()))
            override = {
                f: t_stats.get(f, {})
                for f in target["files"]
                if f in prev_files and prev_stats.get(f) != t_stats.get(f)
            }
            if self._put_manifest(
                base_v,
                list(target["files"]),
                target.get("rows", 0),
                target.get("schema"),
                dict(target.get("stats", {})),
                meta,
                target.get("partition_by"),
                prev,
                mixed_schemas=bool(target.get("mixed_schemas")),
                stats_override=override or None,
            ):
                return base_v + 1
            if expect_version is not None:
                raise CommitConflict(
                    f"{self.root}: v{base_v + 1} committed concurrently; "
                    "re-read and retry"
                )

    def add_columns(
        self,
        spark: SparkSession,
        columns: dict[str, str],
        max_retries: int = 5,
    ) -> int:
        """ALTER TABLE ADD COLUMNS — a SCHEMA-ONLY commit (Delta's
        metadata-update action): the new version keeps the exact file
        list and per-file stats of its parent and widens only the
        manifest schema, so the cost is one small delta record no
        matter the table size — zero files rewritten, zero Spark jobs.
        Readers reconcile: files that predate the column surface it as
        a typed NULL (``_reconcile_schema``), identically on the batch
        reader, the pruned/empty path, the copy-on-write rewrites
        (``UPDATE t SET new_col = ...`` works immediately), and the
        streaming source (whose per-file Arrow reader already
        NULL-fills declared-but-absent columns). Types are Spark DDL
        strings, validated eagerly against the session's parser so a
        typo can't poison the manifest. The commit sets
        ``mixed_schemas`` — physical files now genuinely lag the
        declared schema — which the next full replace clears."""
        if not columns:
            raise ValueError("add_columns: no columns given")
        # eager type validation: build a zero-row frame with exactly
        # the new columns; a bad DDL type raises here, driver-only
        spark.createDataFrame(
            [], ", ".join(f"`{c}` {t}" for c, t in columns.items())
        )
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            schema = dict(m.get("schema") or {})
            clash = sorted(set(columns) & set(schema))
            if clash:
                raise ValueError(
                    f"add_columns: column(s) {clash} already exist in "
                    f"{self.root}"
                )
            # column-mapping guards: a new LOGICAL name must not equal
            # a dropped column's PHYSICAL name (old files still carry
            # those pages — re-using the name would resurrect stale
            # values) nor any renamed column's physical name (the
            # stage-side rename would collide two columns in one file)
            blocked = sorted(
                set(columns)
                & (
                    self._dropped_columns(m)
                    | set(self._column_mapping(m).values())
                )
            )
            if blocked:
                raise ValueError(
                    f"add_columns: name(s) {blocked} are retired physical "
                    f"column names in {self.root} (previously dropped or "
                    "the pre-rename name of a renamed column); pick a "
                    "different name"
                )
            schema.update(columns)
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                schema,
                dict(m.get("stats", {})),
                {"op": "add_columns", "added": sorted(columns)},
                m.get("partition_by"),
                m,
                mixed_schemas=True,
            ):
                return base_v + 1
        raise CommitConflict(
            f"add_columns lost {max_retries} commit races on {self.root}"
        )

    def alter_column_type(
        self,
        spark: SparkSession,
        column: str,
        new_type: str,
        max_retries: int = 5,
    ) -> int:
        """``ALTER TABLE ... ALTER COLUMN c TYPE t`` — SAFE type
        widening as a SCHEMA-ONLY commit (Delta's type-widening table
        feature): no file is rewritten and no Spark job runs; the new
        manifest declares the wider type and every read path passes
        the manifest schema explicitly (``_schema_reader``), letting
        the parquet reader upcast narrow files on scan. Only widenings
        in ``_WIDENINGS`` are accepted — anything lossy (narrowing,
        string↔numeric, bigint→double) raises before any commit. The
        sticky ``widened`` meta flag switches mixed-schema reads from
        footer merging (which cannot merge int-vs-bigint) to the
        explicit-schema form for the rest of the table's life."""
        nt = new_type.strip().lower()
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            schema = dict(m.get("schema") or {})
            if column not in schema:
                raise ValueError(
                    f"alter_column_type: unknown column {column!r} "
                    f"(have {sorted(schema)})"
                )
            old = str(schema[column]).lower()
            if nt == old:
                return base_v  # no-op
            if nt not in _WIDENINGS.get(old, ()):  # loud reject
                raise ValueError(
                    f"alter_column_type: {old} -> {nt} is not a safe "
                    f"widening (allowed from {old}: "
                    f"{sorted(_WIDENINGS.get(old, ())) or 'none'}); "
                    "lossy conversions need an explicit rewrite commit"
                )
            schema[column] = nt
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                schema,
                dict(m.get("stats", {})),
                {
                    "op": "alter_column_type",
                    "column": column,
                    "from": old,
                    "to": nt,
                    "widened": True,
                },
                m.get("partition_by"),
                m,
                mixed_schemas=True,
            ):
                return base_v + 1
        raise CommitConflict(
            f"alter_column_type lost {max_retries} commit races on {self.root}"
        )

    def clone_from(
        self,
        source: "TransactionalTable",
        version: int | None = None,
        max_retries: int = 5,
        deep: bool = False,
    ) -> int:
        """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``):
        commit a snapshot of THIS table whose manifest references the
        SOURCE snapshot's data files — absolutized keys, zero bytes
        copied, O(metadata) regardless of table size. The clone is a
        fully independent table from that instant: its own commit log,
        its own time travel, appends staged locally, copy-on-write and
        merge-on-read DML rewriting/DV-marking only what they touch
        (foreign files they don't touch stay byte-identical in the
        SOURCE's data root), and ``optimize()`` rewrites everything
        locally — the standard "shallow clone, then OPTIMIZE to
        materialize" deep-clone recipe. Per-file stats, bloom sidecar
        refs, deletion-vector refs, schema, partitioning, and sticky
        properties (clustering/bloom/merge_on_read) all carry over, so
        pruning and DV reads work on the clone exactly as on the
        source.

        Caveats (the same ones Delta documents): the clone BORROWS the
        source's files, so ``vacuum`` on the SOURCE can reclaim files
        the clone still references once the source's own retention
        expires them — run ``optimize()`` on the clone to make it
        self-contained before vacuuming the source, and ``fsck`` on
        the clone detects the breakage loudly. The clone's own
        ``vacuum`` can never touch foreign files (absolute keys are
        never listed under the clone's root). Cloning a clone is fine —
        already-absolute keys pass through. Requires an EMPTY
        destination (a clone is a table's first commit, not a merge).

        ``deep=True`` — DEEP CLONE (Delta's ``CREATE TABLE ... DEEP
        CLONE``): every borrowed data file and bloom sidecar is COPIED
        under the clone's own root before the single manifest commit,
        so the clone is SELF-CONTAINED from version 0 — vacuuming the
        source is harmless and ``fsck`` needs no source-lifetime
        caveat. The copy is per-file independent with DETERMINISTIC
        destination keys (a content-address of the source path), so a
        crashed deep clone RESUMES: re-running skips every key already
        present and only then commits (staged-then-commit — readers
        never see a partial clone, because nothing references the
        copies until the manifest lands). On the POSIX backend the
        copy is a hard link when possible (zero bytes moved, the
        link's refcount keeps the data alive across source vacuum); an
        object-store backend would issue server-side copies, fanned
        out per file."""
        src_v = source.latest_version() if version is None else version
        m = source.manifest(src_v)
        if m is None:
            raise FileNotFoundError(
                f"clone_from: {source.root} has no version {src_v}"
            )

        def _abs(key: str) -> str:
            return key if os.path.isabs(key) else source.storage.url(key)

        files = [_abs(f) for f in m["files"]]

        # DEEP CLONE: copy every data file under the clone's own root
        # FIRST, to deterministic content-addressed keys — re-running a
        # crashed deep clone skips keys already present (resume), and
        # nothing references a copy until the manifest commits below
        # (staged-then-commit). The manifest then lists OWN relative
        # keys, so reads, DV keying, and vacuum treat the clone as an
        # ordinary self-contained table.
        remap: dict[str, str] = {}
        if deep:
            import hashlib

            for src_abs in files:
                new_key = (
                    f"{DATA_DIR}/"
                    f"dc{hashlib.sha1(src_abs.encode()).hexdigest()}.parquet"
                )
                if not os.path.exists(self.storage.url(new_key)):
                    self.storage.upload_file(src_abs, new_key)
                remap[src_abs] = new_key
            files = [remap[f] for f in files]

        def _final(key: str) -> str:
            a = _abs(key)
            return remap.get(a, a)

        # DV sidecars address rows by the SOURCE's relative file keys;
        # the clone's manifest keys are absolute, so borrowed sidecars
        # would silently anti-join nothing. Rewrite each referenced
        # sidecar ONCE into the clone's own ``_dvs/`` with absolutized
        # file values — DV sidecars are O(deleted positions), tiny next
        # to the data files the clone deliberately does NOT copy, and
        # owning them decouples the clone from the source's DV-sidecar
        # vacuum lifecycle (only DATA files stay borrowed).
        ref_rewrite: dict[str, str] = {}

        def _clone_sidecar(ref: str) -> str:
            if ref in ref_rewrite:
                return ref_rewrite[ref]
            import pyarrow as pa
            import pyarrow.parquet as pq_

            tbl = pq_.read_table(source.storage.url(ref) if not os.path.isabs(ref) else ref)
            tbl = pa.table(
                {
                    "file": pa.array(
                        [_final(x) for x in tbl.column("file").to_pylist()],
                        type=pa.string(),
                    ),
                    "pos": tbl.column("pos").combine_chunks(),
                }
            )
            new_key = f"{DVS_DIR}/c{uuid.uuid4().hex}.parquet"
            tmp = tempfile.mkdtemp(prefix="txclone_dv_")
            try:
                path = os.path.join(tmp, "dv.parquet")
                pq_.write_table(tbl, path)
                self.storage.upload_file(path, new_key)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            ref_rewrite[ref] = new_key
            return new_key

        stats: dict[str, dict] = {}
        for f, fs in (m.get("stats") or {}).items():
            fs = dict(fs)
            if fs.get("bloom_ref"):
                bref = _abs(fs["bloom_ref"])
                if deep:
                    # blooms are tiny but referenced per file: copy them
                    # too, same deterministic resume-safe keying
                    import hashlib

                    bkey = (
                        f"{BLOOMS_DIR}/"
                        f"dc{hashlib.sha1(bref.encode()).hexdigest()}"
                    )
                    if not os.path.exists(self.storage.url(bkey)):
                        self.storage.upload_file(bref, bkey)
                    bref = bkey
                fs["bloom_ref"] = bref
            if fs.get("dv"):
                dv = dict(fs["dv"])
                dv["refs"] = [_clone_sidecar(r) for r in dv.get("refs", [])]
                fs["dv"] = dv
            stats[_final(f)] = fs
        # Carry every STICKY meta key EXCEPT "replay" (a streaming
        # sink's replay watermark is the SINK's identity — a clone
        # claiming it would make a resumed streaming job skip batches
        # against the wrong table). Dropping "widened" or "properties"
        # here would make a clone of a type-widened source unreadable
        # (explicit-schema reads route off the flag) / silently strip
        # user properties.
        meta = {
            k: v
            for k, v in (m.get("meta") or {}).items()
            if k
            in (
                "app",
                "clustering",
                "bloom_index",
                "properties",
                "widened",
                "constraints",
                "column_mapping",
                "dropped_columns",
                "generated_columns",
            )
        }
        meta.update(
            {
                "op": "clone",
                "clone_kind": "deep" if deep else "shallow",
                "clone_source": source.root,
                "clone_version": src_v,
            }
        )
        # pre-existing commits are checked ONCE, before the loop: inside
        # the loop a version appearing means we LOST the version-0 CAS
        # race (e.g. two concurrent clones), which must surface as
        # CommitConflict, not as the misleading "already has committed
        # versions" error
        if self.latest_version() >= 0:
            raise ValueError(
                f"clone_from: {self.root} already has committed "
                "versions — a shallow clone must be a table's FIRST "
                "commit (replace the data through normal commits "
                "instead)"
            )
        for _ in range(max_retries):
            base_v = self.latest_version()
            if base_v >= 0:
                raise CommitConflict(
                    f"clone_from: lost the version-0 commit race on "
                    f"{self.root} (another writer created the table "
                    "concurrently)"
                )
            if self._put_manifest(
                base_v,
                files,
                m.get("rows", 0),
                m.get("schema"),
                stats,
                meta,
                m.get("partition_by"),
                None,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return base_v + 1
        raise CommitConflict(
            f"clone_from lost {max_retries} commit races on {self.root}"
        )

    def alter_partitioning(
        self,
        spark: SparkSession,
        partition_by: list[str] | None,
        max_retries: int = 5,
    ) -> int:
        """PARTITION EVOLUTION (Iceberg's ``ALTER TABLE ... ADD/DROP
        PARTITION FIELD`` shape) as a METADATA-ONLY commit: the new
        scheme applies to FUTURE writes, every existing file stays
        byte-identical under its own recorded partition values, and no
        Spark job runs. Sound because the data pages keep the partition
        columns and reads plan from per-file
        ``partition`` stats: metadata pruning skips a file only when
        it RECORDS a queried column with a non-matching value (a file
        from an older scheme falls through to the exact residual
        filter — never a silent wrong result; see :meth:`read`).
        Old-scheme files migrate incrementally: any
        rewrite (OPTIMIZE, copy-on-write DELETE/UPDATE/MERGE) re-stages
        its rows under the current scheme. ``replace_partitions``
        only owns files that record the current scheme's values, so it
        REFUSES to run while old-scheme files remain (their rows may
        logically belong to a replaced partition yet would be
        retained) — run ``optimize()`` to migrate first, or pass
        ``allow_stale_partition_scheme=True``. ``partition_by=None``
        (or ``[]``) drops partitioning for future writes."""
        nt = list(partition_by or [])
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            cur = list(m.get("partition_by") or [])
            if nt == cur:
                return base_v  # no-op
            schema = m.get("schema") or {}
            unknown = [c for c in nt if c not in schema]
            if unknown:
                raise ValueError(
                    f"alter_partitioning: unknown columns {unknown} "
                    f"(have {sorted(schema)})"
                )
            if any(c.startswith(_SHADOW_PREFIX) for c in nt):
                raise ValueError(
                    f"alter_partitioning: columns may not start with "
                    f"{_SHADOW_PREFIX!r}: {nt}"
                )
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                dict(schema),
                {},  # retained files' stats ride the parent
                {
                    "op": "alter_partitioning",
                    "from": cur,
                    "to": nt,
                },
                nt or None,
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return base_v + 1
        raise CommitConflict(
            f"alter_partitioning lost {max_retries} commit races on "
            f"{self.root}"
        )

    def set_properties(
        self, props: dict[str, str], max_retries: int = 5
    ) -> int:
        """``ALTER TABLE ... SET TBLPROPERTIES``: merge ``props`` into
        the table's sticky key/value properties — a metadata-only O(1)
        commit (no file touched, no Spark job). Properties ride the
        manifest's sticky meta, so maintenance commits carry them
        forward; setting a key to the string ``"null"`` unsets it.
        The engine itself reads ``merge_on_read`` (``"true"`` routes
        SQL DELETE/UPDATE through deletion vectors, the Delta
        ``enableDeletionVectors`` shape); everything else is
        application-owned."""
        if not props:
            raise ValueError("set_properties: no properties given")
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            merged = dict(m.get("meta", {}).get("properties") or {})
            for k, v in props.items():
                if str(v).lower() == "null":
                    merged.pop(k, None)
                else:
                    merged[k] = str(v)
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                m.get("schema"),
                dict(m.get("stats", {})),
                {"op": "set_properties", "properties": merged},
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return base_v + 1
        raise CommitConflict(
            f"set_properties lost {max_retries} commit races on {self.root}"
        )

    def properties(self, version: int | None = None) -> dict[str, str]:
        """The table's sticky key/value properties at ``version``
        (current when None); {} for a table that never set any."""
        v = self.latest_version() if version is None else version
        m = self.manifest(v) if v >= 0 else None
        return dict((m or {}).get("meta", {}).get("properties") or {})

    # -- CHECK constraints ---------------------------------------------------

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """The table's CHECK constraints at ``version`` (current when
        None): {name: SQL boolean predicate}. {} when none declared."""
        v = self.latest_version() if version is None else version
        m = self.manifest(v) if v >= 0 else None
        return dict((m or {}).get("meta", {}).get("constraints") or {})

    def add_constraint(
        self,
        spark: SparkSession,
        name: str,
        expr: str,
        max_retries: int = 5,
    ) -> int:
        """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`` — a
        STICKY table-level guarantee (Delta's CHECK-constraint shape):
        from this commit on, EVERY path that lands rows (append,
        replace, replace_partitions, UPDATE/MERGE copy-on-write and
        merge-on-read appends, streaming sinks, the SQL front door)
        rejects the whole write with :class:`ConstraintViolation` if
        any row fails the predicate. Fail-closed like the engine's
        expectations: NULL counts as a violation (``x > 0`` rejects
        NULL x) — stricter than ANSI CHECK, which passes UNKNOWN.

        Adding the constraint first VALIDATES the existing snapshot
        (one counting aggregate, column-pruned); existing violations
        reject the ALTER itself, so a committed constraint always
        means "every live row satisfies this". The constraint rides
        sticky manifest meta: clones carry it, time travel sees the
        constraints of the version read, and RESTORE keeps the
        CURRENT head's constraints (the engine's documented
        restore-sticky rule — data goes back in time, active
        guardrails do not; diverges from Delta's metadata-restore on
        purpose, because silently dropping a data contract during a
        rollback is the fail-open direction). NOTE: a restore to a
        version whose data violates a later-added constraint succeeds
        (restore stages no rows); the next WRITE's full-frame check
        does not re-scan old files, so re-validate with
        ``_enforce_constraints(t.read(spark))`` after such a restore
        if the contract must hold. Metadata-only O(1) commit after
        the validation scan.

        Enforcement is check-then-stage (same trade as
        ``commit_with_expectations``: the gate must decide before any
        byte lands), so a NON-DETERMINISTIC input frame — ``rand()``
        without a seed — could stage rows the check never saw; commit
        deterministic frames, as every engine path does."""
        if not name or not name.isidentifier():
            raise ValueError(
                f"constraint name must be an identifier: {name!r}"
            )
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            cons = dict(m.get("meta", {}).get("constraints") or {})
            if name in cons:
                raise ValueError(
                    f"{self.root}: constraint {name!r} already exists "
                    f"({cons[name]!r}); DROP it first"
                )
            # validate the predicate parses AND the current snapshot
            # satisfies it — a committed constraint must be TRUE of
            # every live row, not just future writes
            self._enforce_constraints(
                self.read(spark, base_v), {name: expr}, phase="add"
            )
            cons[name] = expr
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                m.get("schema"),
                dict(m.get("stats", {})),
                {"op": "add_constraint", "constraints": cons},
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return base_v + 1
        raise CommitConflict(
            f"add_constraint lost {max_retries} commit races on {self.root}"
        )

    def drop_constraint(self, name: str, max_retries: int = 5) -> int:
        """``ALTER TABLE ... DROP CONSTRAINT name`` — metadata-only."""
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            cons = dict(m.get("meta", {}).get("constraints") or {})
            if name not in cons:
                raise ValueError(
                    f"{self.root}: no constraint named {name!r} "
                    f"(have {sorted(cons)})"
                )
            cons.pop(name)
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                m.get("schema"),
                dict(m.get("stats", {})),
                {"op": "drop_constraint", "constraints": cons},
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return base_v + 1
        raise CommitConflict(
            f"drop_constraint lost {max_retries} commit races on {self.root}"
        )

    # -- column mapping (RENAME / DROP COLUMN) -----------------------------

    def rename_column(
        self, old: str, new: str, max_retries: int = 5
    ) -> int:
        """``ALTER TABLE ... RENAME COLUMN old TO new`` — METADATA-ONLY
        (Delta's column-mapping rename): no file is rewritten because
        the PHYSICAL column name never changes; the commit rewrites the
        manifest's logical names (schema, per-file min/max and
        partition-value stats, partition_by, clustering and bloom
        declarations) and records {new: physical} in the sticky
        ``column_mapping``, which scans and stages translate at the
        parquet boundary (:meth:`_to_logical` / :meth:`_stage`).

        Invariants enforced here: the new name must be a fresh
        identifier that collides with NO other column's logical OR
        physical name (keeps the stage-side rename collision-free and
        the boundary select idempotent), and columns referenced by a
        CHECK constraint cannot be renamed (drop the constraint, rename,
        re-add under the new name — the Delta restriction). Pre-rename
        bloom sidecars stay keyed by the old name, so bloom
        point-pruning resumes for files staged after the rename;
        min/max band pruning is rewritten here and keeps working for
        every file. Time travel reads each version under its own
        names; ``changes()`` refuses to diff across a rename."""
        if not new or not new.isidentifier():
            raise ValueError(f"rename_column: invalid new name {new!r}")
        if new.startswith(_SHADOW_PREFIX):
            raise ValueError(
                f"rename_column: names may not start with "
                f"{_SHADOW_PREFIX!r}: {new!r}"
            )
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            schema = dict(m.get("schema") or {})
            if old not in schema:
                raise ValueError(
                    f"rename_column: no column {old!r} in {self.root} "
                    f"(have {sorted(schema)})"
                )
            if new in schema:
                raise ValueError(
                    f"rename_column: {new!r} already exists in {self.root}"
                )
            mapping = self._column_mapping(m)
            phys_of = {c: mapping.get(c, c) for c in schema}
            own_phys = phys_of.pop(old)
            if new in set(phys_of.values()) | self._dropped_columns(m):
                raise ValueError(
                    f"rename_column: {new!r} collides with another "
                    "column's physical name or a dropped column's "
                    f"tombstone in {self.root}; pick a different name"
                )
            for cname, expr in (
                m.get("meta", {}).get("constraints") or {}
            ).items():
                if re.search(rf"(?<![\w.`]){re.escape(old)}(?![\w`])", expr):
                    raise ValueError(
                        f"rename_column: column {old!r} is referenced by "
                        f"CHECK constraint {cname!r} ({expr!r}) — drop "
                        "the constraint, rename, and re-add it"
                    )
            gen = self.generated_columns(m)
            for gname, gexpr in gen.items():
                if gname != old and re.search(
                    rf"(?<![\w.`]){re.escape(old)}(?![\w`])", gexpr
                ):
                    raise ValueError(
                        f"rename_column: column {old!r} is referenced by "
                        f"generated column {gname!r} ({gexpr!r}) — drop "
                        "the generated column first"
                    )
            mapping.pop(old, None)
            if new != own_phys:
                mapping[new] = own_phys
            new_schema = {
                (new if c == old else c): t for c, t in schema.items()
            }
            stats = {}
            override = {}
            for f, fs in (m.get("stats") or {}).items():
                changed = False
                fs = dict(fs)
                if "cols" in fs and old in fs["cols"]:
                    fs["cols"] = {
                        (new if c == old else c): v
                        for c, v in fs["cols"].items()
                    }
                    changed = True
                if "partition" in fs and old in fs["partition"]:
                    fs["partition"] = {
                        (new if c == old else c): v
                        for c, v in fs["partition"].items()
                    }
                    changed = True
                stats[f] = fs
                if changed:
                    # delta records only carry ADDED files' stats;
                    # retained files' rewritten entries must ride the
                    # override channel (the DV-commit shape)
                    override[f] = fs
            meta = {
                "op": "rename_column",
                "from": old,
                "to": new,
                "column_mapping": mapping,
            }
            if old in gen:
                meta["generated_columns"] = {
                    (new if g == old else g): e for g, e in gen.items()
                }
            for key in ("clustering", "bloom_index"):
                decl = m.get("meta", {}).get(key)
                if decl and old in (decl.get("cols") or []):
                    decl = dict(decl)
                    decl["cols"] = [
                        new if c == old else c for c in decl["cols"]
                    ]
                    meta[key] = decl
            pb = m.get("partition_by")
            if pb and old in pb:
                pb = [new if c == old else c for c in pb]
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                new_schema,
                stats,
                meta,
                pb,
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
                stats_override=override,
            ):
                return base_v + 1
        raise CommitConflict(
            f"rename_column lost {max_retries} commit races on {self.root}"
        )

    def drop_column(self, col: str, max_retries: int = 5) -> int:
        """``ALTER TABLE ... DROP COLUMN`` — METADATA-ONLY: the column
        leaves the manifest schema and every file's stats; old files
        keep the pages (scans project them away via the sticky
        ``dropped_columns`` tombstone) until a rewrite re-stages them
        without it. The PHYSICAL name is tombstoned forever:
        ``add_columns`` refuses to re-use it, because a new column
        under the same name would resurrect stale pre-drop values from
        unrewritten files. Partition and clustering columns and
        columns referenced by CHECK constraints cannot be dropped
        (evolve those declarations first); the last column cannot be
        dropped."""
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            schema = dict(m.get("schema") or {})
            if col not in schema:
                raise ValueError(
                    f"drop_column: no column {col!r} in {self.root} "
                    f"(have {sorted(schema)})"
                )
            if len(schema) == 1:
                raise ValueError(
                    f"drop_column: {col!r} is the only column of "
                    f"{self.root}"
                )
            if col in (m.get("partition_by") or []):
                raise ValueError(
                    f"drop_column: {col!r} is a partition column of "
                    f"{self.root} — alter_partitioning first"
                )
            clustering = m.get("meta", {}).get("clustering") or {}
            if col in (clustering.get("cols") or []):
                raise ValueError(
                    f"drop_column: {col!r} is a declared clustering "
                    f"column of {self.root} — re-cluster first"
                )
            for cname, expr in (
                m.get("meta", {}).get("constraints") or {}
            ).items():
                if re.search(rf"(?<![\w.`]){re.escape(col)}(?![\w`])", expr):
                    raise ValueError(
                        f"drop_column: column {col!r} is referenced by "
                        f"CHECK constraint {cname!r} ({expr!r}) — drop "
                        "the constraint first"
                    )
            gen = self.generated_columns(m)
            for gname, gexpr in gen.items():
                if gname != col and re.search(
                    rf"(?<![\w.`]){re.escape(col)}(?![\w`])", gexpr
                ):
                    raise ValueError(
                        f"drop_column: column {col!r} is referenced by "
                        f"generated column {gname!r} ({gexpr!r}) — drop "
                        "the generated column first"
                    )
            mapping = self._column_mapping(m)
            phys = mapping.pop(col, col)
            dropped = sorted(self._dropped_columns(m) | {phys})
            schema.pop(col)
            stats = {}
            override = {}
            for f, fs in (m.get("stats") or {}).items():
                fs = dict(fs)
                if "cols" in fs and col in fs["cols"]:
                    fs["cols"] = {
                        c: v for c, v in fs["cols"].items() if c != col
                    }
                    override[f] = fs  # retained-file stats ride override
                stats[f] = fs
            meta = {
                "op": "drop_column",
                "dropped": col,
                "column_mapping": mapping,
                "dropped_columns": dropped,
            }
            if col in gen:
                meta["generated_columns"] = {
                    g: e for g, e in gen.items() if g != col
                }
            bloom = m.get("meta", {}).get("bloom_index")
            if bloom and col in (bloom.get("cols") or []):
                cols_left = [c for c in bloom["cols"] if c != col]
                meta["bloom_index"] = (
                    {**bloom, "cols": cols_left} if cols_left else None
                )
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                schema,
                stats,
                meta,
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
                stats_override=override,
            ):
                return base_v + 1
        raise CommitConflict(
            f"drop_column lost {max_retries} commit races on {self.root}"
        )

    def add_generated_column(
        self,
        spark: SparkSession,
        name: str,
        type_str: str,
        expr: str,
        max_retries: int = 5,
    ) -> int:
        """``ALTER TABLE ... ADD COLUMN name type GENERATED ALWAYS AS
        (expr)`` — a SCHEMA-ONLY commit (goes BEYOND Delta, which only
        allows generated columns at table creation): existing rows
        surface the computed expression at read time
        (``coalesce(physical, expr)`` — exact because the write gate
        enforces physical == expr fail-closed on every path), writes
        omitting the column derive it, writes supplying it are checked
        for NULL-safe equality and rejected whole on any mismatch, and
        copy-on-write rewrites materialize it physically as files
        re-stage (so stats/pruning progressively cover it). The
        expression may reference any NON-generated column of the
        current schema."""
        if not name or not name.isidentifier():
            raise ValueError(
                f"add_generated_column: invalid name {name!r}"
            )
        # eager validation: type parses, expression parses and
        # references only existing non-generated columns
        spark.createDataFrame([], f"`{name}` {type_str}")
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to alter in {self.root} (no committed version)"
                )
            schema = dict(m.get("schema") or {})
            if name in schema:
                raise ValueError(
                    f"add_generated_column: {name!r} already exists in "
                    f"{self.root}"
                )
            blocked = {name} & (
                self._dropped_columns(m)
                | set(self._column_mapping(m).values())
            )
            if blocked:
                raise ValueError(
                    f"add_generated_column: {name!r} is a retired "
                    f"physical column name in {self.root}"
                )
            gen = self.generated_columns(m)
            for g in gen:
                if re.search(rf"(?<![\w.`]){re.escape(g)}(?![\w`])", expr):
                    raise ValueError(
                        f"add_generated_column: expression references "
                        f"generated column {g!r} — chain generation is "
                        "not supported (inline the expression)"
                    )
            # the expression must evaluate against the current schema
            self.read(spark, base_v).limit(0).selectExpr(expr)
            gen[name] = expr
            schema[name] = type_str
            if self._put_manifest(
                base_v,
                list(m["files"]),
                m.get("rows", 0),
                schema,
                dict(m.get("stats", {})),
                {
                    "op": "add_generated_column",
                    "added": name,
                    "generated_columns": gen,
                },
                m.get("partition_by"),
                m,
                mixed_schemas=True,
            ):
                return base_v + 1
        raise CommitConflict(
            f"add_generated_column lost {max_retries} commit races on "
            f"{self.root}"
        )

    def _enforce_constraints(
        self,
        df: DataFrame,
        cons: dict[str, str] | None = None,
        phase: str = "write",
    ) -> None:
        """Gate ``df`` against CHECK constraints (``cons``, or the
        table's current set): ONE counting aggregate (column-pruned to
        the predicate columns, zero cost when no constraints exist);
        any violation raises :class:`ConstraintViolation` before a
        single byte is staged. Reuses the expectations evaluator, so
        NULL-handling is identical to the EXPECT gate."""
        if cons is None:
            cons = self.constraints()
        if not cons:
            return
        _, _, audit = evaluate_expectations(df, cons)
        if audit["rows_failed"]:
            verb = (
                "existing rows violate the new constraint"
                if phase == "add"
                else "write rejected (constraint violation)"
            )
            raise ConstraintViolation(
                f"{self.root}: {verb} — "
                f"{audit['rows_failed']}/{audit['rows_seen']} rows fail "
                f"{ {k: v for k, v in audit['violations'].items() if v} }"
            )

    def vacuum(
        self,
        retain_versions: int = 2,
        unreferenced_grace_s: float = 600.0,
        dry_run: bool = False,
    ) -> dict:
        """Reclaim storage: drop manifests older than the newest
        ``retain_versions`` and delete data files referenced by none of
        the retained snapshots. Retention is the READER grace period —
        an in-flight reader of a retained version is never broken; size
        it to the longest query you run (Delta's
        ``delete.retentionDuration``, by version count).

        ``unreferenced_grace_s`` is the WRITER grace period: a
        concurrent commit uploads its uniquely-named data files BEFORE
        putting the manifest that references them, so an unreferenced
        file younger than the grace window may belong to an in-flight
        commit and must not be deleted (deleting it would commit a
        manifest pointing at missing files). Only unreferenced files
        OLDER than the window — crash strays and files released by
        expired manifests — are reclaimed; size it above your longest
        commit's stage time. Pass 0 only when no writer can be active
        (tests, single-process maintenance)."""
        vs = self.versions()
        keep = set(vs[-retain_versions:]) if retain_versions > 0 else set(vs[-1:])
        live: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            if m:
                live.update(m["files"])
        # Retained versions must stay reconstructible AFTER their
        # ancestor delta records are dropped: checkpoint the OLDEST
        # retained version first (the keep set is the contiguous tail,
        # so every younger retained version reconstructs from this
        # base + retained deltas). Idempotent put; skipped only if the
        # version is already irrecoverable, in which case deleting its
        # ancestors changes nothing.
        if keep and not dry_run:
            base_keep = min(keep)
            full = self._full_manifest(base_keep)
            if full is not None:
                self._write_checkpoint(full)
        removed_manifests = 0
        for v in vs:
            if v not in keep:
                if not dry_run:
                    self.storage.delete(_manifest_key(v))
                removed_manifests += 1
        ckpt_keys = self.storage.list(CHECKPOINTS_DIR)
        roots_present = {
            _version_of(k) for k in ckpt_keys if k.endswith(".root.json")
        }
        for key in ckpt_keys:
            # checkpoints of expired versions are dead weight (readers
            # resolve versions from _commits, never from here). The
            # writer-grace window also applies: a concurrent commit may
            # have just checkpointed a version NEWER than this vacuum's
            # keep-set snapshot — deleting it would only cost the next
            # reader a few extra delta reads (checkpoints are derived,
            # never required), but the grace check avoids the waste.
            # ORPHAN shards — a sharded-checkpoint writer crashed after
            # some shards but before the root (the root is written
            # LAST, so no reader ever references them) — are garbage
            # even for retained versions, under the same grace.
            orphan_shard = (
                ".shard-" in key and _version_of(key) not in roots_present
            )
            if (
                (_version_of(key) not in keep or orphan_shard)
                and self.storage.age_seconds(key) >= unreferenced_grace_s
            ):
                if not dry_run:
                    self.storage.delete(key)
        removed_files = 0
        skipped_in_grace = 0
        for key in self.storage.list(DATA_DIR):
            if key in live:
                continue
            if self.storage.age_seconds(key) < unreferenced_grace_s:
                skipped_in_grace += 1
                continue
            if not dry_run:
                self.storage.delete(key)
            removed_files += 1
        # bloom sidecars referenced by NO retained snapshot's stats are
        # reclaimed like data files, under the same writer grace (a
        # sidecar is uploaded before the manifest that references it)
        live_sidecars: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            for fstats in (m or {}).get("stats", {}).values():
                ref = fstats.get("bloom_ref")
                if ref:
                    live_sidecars.add(ref)
        removed_sidecars = 0
        for key in self.storage.list(BLOOMS_DIR):
            if key in live_sidecars:
                continue
            if self.storage.age_seconds(key) < unreferenced_grace_s:
                skipped_in_grace += 1
                continue
            if not dry_run:
                self.storage.delete(key)
            removed_sidecars += 1
        # deletion-vector sidecars: live refs ride per-file stats
        # (``dv.refs``) of the retained snapshots, same lifecycle as
        # bloom sidecars — a ref is uploaded BEFORE the manifest that
        # cites it, so the writer grace window applies identically.
        # Orphans come from commit races (_dv_delete's eager cleanup
        # can itself fail), expired versions, and rewrites/compactions
        # that materialized the DV away.
        live_dvs: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            for fstats in (m or {}).get("stats", {}).values():
                live_dvs.update(fstats.get("dv", {}).get("refs", []))
        removed_dv_sidecars = 0
        for key in self.storage.list(DVS_DIR):
            if key in live_dvs:
                continue
            if self.storage.age_seconds(key) < unreferenced_grace_s:
                skipped_in_grace += 1
                continue
            if not dry_run:
                self.storage.delete(key)
            removed_dv_sidecars += 1
        # POSIX hygiene: directories emptied by the deletions above
        # (vacated commit dirs, drained hive partitions) would pile up
        # forever on a filesystem backend — object stores have no
        # directory notion, so this is a local-only sweep. Same writer
        # grace as file reclaim: a freshly-created dir may belong to an
        # in-flight commit that hasn't landed its first file yet.
        if hasattr(self.storage, "prune_empty_dirs") and not dry_run:
            self.storage.prune_empty_dirs(DATA_DIR, unreferenced_grace_s)
        return {
            "dry_run": dry_run,
            "removed_manifests": removed_manifests,
            "removed_data_files": removed_files,
            "removed_bloom_sidecars": removed_sidecars,
            "removed_dv_sidecars": removed_dv_sidecars,
            "skipped_in_grace": skipped_in_grace,
            "retained_versions": sorted(keep),
        }

    # -- DELETE ------------------------------------------------------------
    def delete(
        self,
        spark: SparkSession,
        where: list[tuple],
        max_retries: int = 5,
    ) -> dict:
        """Row-level DELETE with file-pruned rewrite: files whose
        manifest min/max stats PROVE they contain no matching row are
        retained byte-for-byte; only the files that can match are read,
        filtered, and re-staged — the Delta/Iceberg copy-on-write
        delete, planned from the manifest alone. On a clustered or
        partitioned layout a selective delete rewrites a handful of
        files out of thousands. ``where`` is the same conjunctive
        ``[(col, lo, hi)]`` band form as ``read``; rows matching EVERY
        band are deleted. Commits with optimistic concurrency (rebases
        and retries if another writer lands first); returns
        {version, files_rewritten, files_retained, rows_deleted}."""
        from pyspark.sql import functions as F

        if not where or all(lo is None and hi is None for _, lo, hi in where):
            # an empty/unconstrained conjunction matches EVERY row — a
            # programmatically-built filter that collapsed to nothing
            # must not silently truncate the table. Truncation is an
            # explicit act: commit an empty frame.
            raise ValueError(
                "delete: unconstrained predicate would remove every row; "
                "to truncate, commit an empty snapshot explicitly"
            )
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to delete from in {self.root}")
            affected = prune_files(m, where)
            retained = [f for f in m["files"] if f not in set(affected)]
            if not affected:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(retained),
                    "rows_deleted": 0,
                }
            pb = m.get("partition_by")
            # rewriting a subset of heterogeneous files merges footers
            # (else the first file's schema would silently drop evolved
            # columns from the re-staged rows)
            df = self._affected_frame(spark, m, affected)
            prev_stats = m.get("stats", {})
            if all("rows" in prev_stats.get(f, {}) for f in affected):
                # LOGICAL rows: the DV-aware _affected_frame stages only
                # live rows, so the deleted-row arithmetic must subtract
                # any deletion vector already on the file
                affected_rows = sum(
                    _logical_rows(prev_stats, f) for f in affected
                )
            else:
                affected_rows = df.count()
            pred = None
            for col, lo, hi in where:
                for bound in (
                    F.col(col) >= F.lit(lo) if lo is not None else None,
                    F.col(col) <= F.lit(hi) if hi is not None else None,
                ):
                    if bound is not None:
                        pred = bound if pred is None else pred & bound
            if pred is None:
                # every band is (col, None, None): unconstrained
                # conjunction matches everything in the affected files
                remaining, has_match = df.limit(0), affected_rows > 0
            else:
                # SQL DELETE semantics: a row is deleted only when the
                # predicate is TRUE — NULL-evaluating rows are KEPT, so
                # the keep-filter is NOT(coalesce(pred, FALSE)), never
                # the bare ~pred (three-valued logic would silently drop
                # every NULL row).
                pred = F.coalesce(pred, F.lit(False))
                remaining = df.where(~pred)
                has_match = df.where(pred).limit(1).count() > 0
            if not has_match:
                # stats said "maybe", data said "no match": nothing to do
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(m["files"]),
                    "rows_deleted": 0,
                }
            keys, staged_stats = self._stage(
                remaining,
                partition_by=pb,
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            keys, staged_stats, _ = _drop_empty_staged(
                keys, staged_stats, bool(retained)
            )
            kept_rows = self._staged_rows(spark, keys, staged_stats)
            deleted = affected_rows - kept_rows
            if self._put_manifest(
                base_v,
                retained + keys,
                max(0, m.get("rows", 0) - deleted),
                m.get("schema"),
                {
                    **{f: prev_stats[f] for f in retained if f in prev_stats},
                    **staged_stats,
                },
                {"op": "delete", "source_version": base_v},
                pb,
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return {
                    "version": base_v + 1,
                    "files_rewritten": len(affected),
                    "files_retained": len(retained),
                    "rows_deleted": deleted,
                }
            # lost the race: stranded staged files are reclaimed by
            # vacuum after the grace window; re-derive from the new
            # snapshot.
        raise CommitConflict(f"delete lost {max_retries} commit races on {self.root}")

    # -- deletion vectors (merge-on-read) ------------------------------------
    #
    # A DV commit soft-deletes rows by POSITION: instead of rewriting
    # every file a selective DELETE touches (copy-on-write — O(matched
    # file bytes)), it writes one small parquet sidecar of
    # (file key, row position) pairs under ``_dvs/`` and a delta record
    # whose only change is the affected files' stats gaining a
    # ``"dv": {"refs": [...], "n": total}`` entry — O(deleted
    # positions) bytes, the Delta/Iceberg deletion-vector shape on the
    # commit log. Readers subtract the DV with a broadcast anti-join on
    # (file, ``_metadata.row_index``) — the physical row position Spark
    # exposes on every parquet scan — so no data file is ever modified
    # and time travel keeps every version exact (DV refs ride per-file
    # stats, which are versioned like everything else). Min/max and
    # bloom stats keep describing the PHYSICAL file: pruning may keep a
    # file whose only matching rows are deleted (a false positive —
    # never wrong, the anti-join makes the read exact), and
    # ``optimize()`` / ``optimize_incremental()`` materialize DVs by
    # rewriting through the DV-aware reader. At 100 TB the anti-join
    # input is O(accumulated deleted positions on the scanned files),
    # which maintenance keeps bounded — the standard merge-on-read
    # compaction contract.

    def _dv_map(self, m: dict, files: list[str]) -> dict[str, dict]:
        """{file key: dv entry} for the subset of ``files`` carrying a
        deletion vector in this snapshot's stats."""
        stats = m.get("stats", {})
        return {
            f: stats[f]["dv"]
            for f in files
            if "dv" in stats.get(f, {})
        }

    @staticmethod
    def _decoded_file_path():
        """``_metadata.file_path`` decoded back to a plain filesystem
        path. The column is a URI — the scheme prefix varies
        ("file:/abs" vs "file:///abs") and special characters are
        percent-encoded (a table root containing a space scans as
        ``%20``), while storage keys are plain paths. Literal ``+`` is
        protected as ``%2B`` first because ``url_decode`` applies form
        semantics (``+`` → space), which would corrupt paths containing
        a real plus sign."""
        from pyspark.sql import functions as F

        return F.url_decode(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:(//)?", ""
                ),
                r"\+",
                "%2B",
            )
        )

    def _dv_key_col(self):
        """Expression rendering each scanned row's table-relative file
        KEY from ``_metadata.file_path``. File NAMES are not unique
        across hive partition directories (two partitions' task-0 files
        share a name), so the join key must be the path suffix under
        the table's data root. The path is percent-DECODED before the
        prefix strip — without that, a root (or partition value)
        needing URI encoding never matched the plain-path needle,
        producing a garbage key and a silently no-op'd deletion
        vector."""
        from pyspark.sql import functions as F

        return F.concat(
            F.lit(DATA_DIR + "/"),
            F.substring_index(
                self._decoded_file_path(),
                self.storage.url(DATA_DIR) + "/",
                -1,
            ),
        )

    def _with_dv_keys(
        self, raw: DataFrame, files: list[str] | None = None
    ) -> DataFrame:
        """Attach ``__dv_file``/``__dv_pos`` to a parquet SCAN frame.
        Must be called on the scan relation directly — ``_metadata``
        is a hidden column that does not survive an intervening
        projection.

        When the scanned ``files`` include FOREIGN keys (absolute —
        shallow-clone references into another table's data root), the
        prefix-strip expression cannot reconstruct them from
        ``file_path``; the key column instead comes from a broadcast
        (path → key) lookup built from the file list — metadata-sized,
        one small hash join on the scan."""
        from pyspark.sql import functions as F

        if files and any(os.path.isabs(f) for f in files):
            spark = raw.sparkSession
            # the lookup map holds plain paths; the scan side is
            # percent-DECODED (see _decoded_file_path) so an encoded
            # root/partition value cannot miss the map
            mapping = F.broadcast(
                spark.createDataFrame(
                    [(self.storage.url(f), f) for f in files],
                    "__dv_path string, __dv_file string",
                )
            )
            normalized = self._decoded_file_path()
            # LEFT join + raise_error guard, not an inner join: a scan
            # path that matches neither spelling must FAIL the read
            # loudly — an inner join would silently drop every row of
            # that file from DV/clone reads (silent data loss).
            keyed = raw.select(
                "*",
                normalized.alias("__dv_path"),
                F.col("_metadata.row_index").alias("__dv_pos"),
            ).join(mapping, "__dv_path", "left")
            guard = F.when(
                F.col("__dv_file").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "_with_dv_keys: scan path did not normalize"
                            " to any known data file (refusing to"
                            " silently drop its rows): "
                        ),
                        F.col("__dv_path"),
                    )
                ),
            ).otherwise(F.col("__dv_file"))
            return keyed.withColumn("__dv_file", guard).drop("__dv_path")
        return raw.select(
            "*",
            self._dv_key_col().alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )

    def _dv_positions(self, spark: SparkSession, dv_map: dict) -> DataFrame:
        """(``__dv_file``, ``__dv_pos``) frame of every deleted position
        recorded for ``dv_map``'s files — a distributed read of the
        referenced sidecars, never a driver materialization."""
        from pyspark.sql import functions as F

        refs = sorted({r for e in dv_map.values() for r in e["refs"]})
        return spark.read.parquet(
            *[self.storage.url(r) for r in refs]
        ).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )

    def _strip_dv(
        self,
        spark: SparkSession,
        keyed: DataFrame,
        dv_map: dict,
        drop: bool = True,
    ) -> DataFrame:
        """Remove soft-deleted rows: broadcast anti-join of a
        ``_with_dv_keys`` frame against the sidecar positions."""
        from pyspark.sql import functions as F

        out = keyed.join(
            F.broadcast(self._dv_positions(spark, dv_map)),
            ["__dv_file", "__dv_pos"],
            "left_anti",
        )
        return out.drop("__dv_file", "__dv_pos") if drop else out

    def _affected_frame(
        self,
        spark: SparkSession,
        m: dict,
        files: list[str],
        keep_keys: bool = False,
    ):
        """Reader over a snapshot's file SUBSET with the snapshot's
        read semantics applied (mergeSchema for evolved tables,
        manifest-schema reconciliation
        for ALTERed columns no file carries yet, deletion vectors
        anti-joined out — a rewrite of a DV-carrying file must not
        resurrect its soft-deleted rows). ``keep_keys`` retains the
        ``__dv_file``/``__dv_pos`` scan-position columns on the result
        (merge's touched-file discovery joins on them)."""
        reader = self._schema_reader(spark.read, m)
        with _no_listing_job(spark, len(files)):
            raw = reader.parquet(*[self.storage.url(f) for f in files])
        dv_map = self._dv_map(m, files)
        if dv_map or keep_keys:
            raw = self._with_dv_keys(raw, files)
        if dv_map:
            raw = self._strip_dv(spark, raw, dv_map, drop=not keep_keys)
        return self._with_generated(
            _reconcile_schema(self._to_logical(raw, m), m), m
        )

    def _upload_dv_sidecar(self, hits: DataFrame) -> str:
        """Write the (``__dv_file``, ``__dv_pos``) pairs of ``hits`` as
        ONE parquet deletion-vector sidecar under ``_dvs/`` and return
        its storage key. Uploaded BEFORE the manifest that cites it, so
        vacuum's writer grace window applies to in-flight sidecars."""
        import glob as _glob

        from pyspark.sql import functions as F

        dv_key = f"{DVS_DIR}/c{uuid.uuid4().hex}.parquet"
        tmp = tempfile.mkdtemp(prefix="txdv_")
        try:
            (
                hits.select(
                    F.col("__dv_file").alias("file"),
                    F.col("__dv_pos").alias("pos"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(tmp, "dv"))
            )
            part = _glob.glob(os.path.join(tmp, "dv", "part-*.parquet"))
            self.storage.upload_file(part[0], dv_key)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return dv_key

    def _dv_delete(
        self,
        spark: SparkSession,
        base_v: int,
        m: dict,
        affected: list[str],
        cond,
        op_meta: dict,
        assignments: dict[str, str] | None = None,
    ) -> dict | None:
        """One merge-on-read DELETE/UPDATE attempt against snapshot
        ``m``: find every live row of ``affected`` matching ``cond`` (a
        Column; NULL keeps the row, SQL three-valued logic), write
        their (file, position) pairs as ONE parquet sidecar under
        ``_dvs/``, and commit a delta whose only file-set change is
        dropping files that became fully empty — everything else is a
        stats edit (dv refs + logical row arithmetic). With
        ``assignments`` this is merge-on-read UPDATE (the Delta DV
        update shape): the matched OLD positions are soft-deleted
        exactly as above AND the matched rows re-enter the table as
        appended files with the assignments applied (each RHS
        evaluated against the old row, cast back to the column's
        type), so cost is O(matched rows), never O(matched file
        bytes). Returns the result dict, or None on a commit race
        (caller retries from the new head)."""
        from pyspark.sql import functions as F

        stats = m.get("stats", {})
        reader = self._schema_reader(spark.read, m)
        with _no_listing_job(spark, len(affected)):
            raw = reader.parquet(*[self.storage.url(f) for f in affected])
        keyed = self._with_generated(
            _reconcile_schema(
                self._to_logical(self._with_dv_keys(raw, affected), m), m
            ),
            m,
        )
        prev_dvs = self._dv_map(m, affected)
        if prev_dvs:
            # only LIVE rows can be deleted again — scanning raw files
            # would re-match already-deleted positions and double-count
            keyed = self._strip_dv(spark, keyed, prev_dvs, drop=False)
        hits = keyed.where(cond)
        if assignments is None:
            hits = hits.select("__dv_file", "__dv_pos")
        hits.persist()
        try:
            # per-file deletion counts: bounded by len(affected)
            counts = {
                r["__dv_file"]: int(r["n"])
                for r in hits.groupBy("__dv_file")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            counted = "rows_deleted" if assignments is None else "rows_updated"
            if not counts:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(m["files"]),
                    counted: 0,
                    "dv_files": 0,
                }
            total = sum(counts.values())
            dv_key = self._upload_dv_sidecar(hits)
            staged_keys: list[str] = []
            staged_stats: dict[str, dict] = {}
            if assignments is not None:
                # the matched rows re-enter as appends: RHS evaluated
                # against the OLD row (still in scope here), cast back
                # to the column's type so the schema never drifts
                old = hits.drop("__dv_file", "__dv_pos")
                updated = old.select(
                    *[
                        (
                            F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                            if f.name in assignments
                            else F.col(f.name)
                        )
                        for f in old.schema.fields
                    ]
                )
                updated = self._rederive_generated(
                    updated, m, skip=set(assignments)
                )
                self._enforce_constraints(
                    updated, self._write_gates(m)
                )
                staged_keys, staged_stats = self._stage(
                    updated,
                    partition_by=m.get("partition_by"),
                    bloom_by=(
                        m.get("meta", {}).get("bloom_index") or {}
                    ).get("cols"),
                )
                staged_keys, staged_stats, _ = _drop_empty_staged(
                    staged_keys, staged_stats, True  # DV retains files
                )
        finally:
            hits.unpersist()
        res = self._dv_finalize(
            base_v,
            m,
            counts,
            dv_key,
            staged_keys,
            staged_stats,
            # DELETE shrinks the table by the matched count; UPDATE
            # re-inserts every matched row, so cardinality is unchanged
            max(0, int(m.get("rows", 0)) - (total if assignments is None else 0)),
            op_meta,
            anchor_df=keyed.drop("__dv_file", "__dv_pos").limit(0),
        )
        if res is not None:
            res[counted] = total
            if assignments is None:
                res.pop("files_appended", None)
        return res

    def _dv_finalize(
        self,
        base_v: int,
        m: dict,
        counts: dict[str, int],
        dv_key: str | None,
        staged_keys: list[str],
        staged_stats: dict[str, dict],
        new_rows: int,
        op_meta: dict,
        anchor_df: DataFrame,
    ) -> dict | None:
        """Shared tail of every merge-on-read commit (DELETE / UPDATE /
        MERGE): fold the sidecar's per-file hit ``counts`` into the
        affected files' ``dv`` stats — dropping any file whose every
        physical row is now dead — stage a schema anchor if the
        snapshot would go zero-file, and CAS the delta manifest whose
        only file-set change is drops + appends. Returns the common
        result fields, or None on a lost race (the orphaned sidecar is
        reclaimed eagerly; vacuum's ``_dvs/`` sweep would also catch
        it after the writer grace)."""
        stats = m.get("stats", {})
        # every sidecar key must name a file of the base snapshot —
        # a mismatch (e.g. a scan path that failed to strip back to
        # its storage key) would record deletions nothing ever reads,
        # a silent DV no-op. Fail the commit loudly instead.
        unknown = sorted(set(counts) - set(m["files"]))
        if unknown:
            raise ValueError(
                f"{self.root}: deletion-vector keys do not match any "
                f"snapshot file (scan-path keying bug?): {unknown[:3]}"
            )
        override: dict[str, dict] = {}
        emptied: list[str] = []
        for f, n in counts.items():
            old = dict(stats.get(f, {}))
            prev = old.get("dv", {"refs": [], "n": 0})
            new_n = int(prev.get("n", 0)) + n
            if old.get("rows") is not None and new_n >= int(old["rows"]):
                # every physical row is now deleted: drop the file from
                # the snapshot instead of carrying a full-file DV
                emptied.append(f)
                continue
            old["dv"] = {
                "refs": list(prev.get("refs", [])) + [dv_key],
                "n": new_n,
            }
            override[f] = old
        files = (
            [f for f in m["files"] if f not in set(emptied)]
            if emptied
            else list(m["files"])
        )
        if not files and not staged_keys:
            # the delete emptied EVERY file: a zero-file snapshot is
            # unreadable (no schema anchor), so stage one empty file —
            # exactly what the copy-on-write path's empty rewrite does
            staged_keys, staged_stats = self._stage(
                anchor_df,
                partition_by=m.get("partition_by"),
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
        if self._put_manifest(
            base_v,
            files + staged_keys,
            new_rows,
            m.get("schema"),
            staged_stats,  # retained files' stats ride the parent
            {
                **op_meta,
                "source_version": base_v,
                "strategy": "merge-on-read",
                "dv_commit": sum(counts.values()),
            },
            m.get("partition_by"),
            m,
            mixed_schemas=bool(m.get("mixed_schemas")),
            stats_override=override,
        ):
            return {
                "version": base_v + 1,
                "files_rewritten": 0,
                "files_retained": len(files),
                "files_dropped_empty": len(emptied),
                "dv_files": len(override),
                "dv_ref": dv_key,
                "files_appended": len(staged_keys),
            }
        # commit race: staged update files are vacuum backlog
        if dv_key is not None:
            try:
                self.storage.delete(dv_key)
            except Exception:
                pass
        return None

    def _dv_merge(
        self,
        spark: SparkSession,
        base_v: int,
        m: dict,
        affected: list[str],
        updates: DataFrame,
        key_cols: list[str],
        meta: dict | None,
        clauses: list[dict] | None = None,
        broadcast_source: bool = True,
    ) -> dict | None:
        """One merge-on-read MERGE attempt against snapshot ``m``:
        soft-delete the matched target positions via a deletion-vector
        sidecar and append the merge output rows — cost is
        O(matched + source rows), never O(matched file bytes), the
        Delta DV-merge shape for frequent small CDC batches against
        wide tables. The upsert form replays
        :func:`operators.merge.merge_upsert` semantics exactly:
        plain-equality key matching (NULL keys insert), per-TARGET-row
        replacement (duplicate target keys stay duplicated, each copy
        taking the source values), and duplicate source keys fanning
        out (callers pre-reduce via ``latest_by`` upstream, as the
        copy-on-write path does). The clause form
        (``clauses is not None``) replays
        :func:`operators.merge.merge_clauses` via its merge-on-read
        decomposition — matched UPDATE/DELETE effects become DV
        positions + projected appends; "keep" rows (no clause fires)
        touch nothing, which is exactly the rows the copy-on-write
        path pays to rewrite. ``affected`` is the band-pruned
        candidate-file list — complete because min/max pruning never
        excludes a file containing a (non-NULL) source key; the
        caller routes NULL-source-key clause merges to copy-on-write.
        Returns the result dict, or None on a commit race (caller
        retries from the new head)."""
        from pyspark.sql import functions as F

        if clauses is not None:
            return self._dv_merge_clauses(
                spark,
                base_v,
                m,
                affected,
                updates,
                key_cols,
                meta,
                clauses,
                broadcast_source=broadcast_source,
            )
        schema_cols = list((m.get("schema") or {}).keys())
        if set(schema_cols) != set(updates.columns):
            raise ValueError(
                f"merge: schema mismatch table={schema_cols} "
                f"updates={updates.columns}"
            )
        m_schema = m.get("schema") or {}
        # cast the source to the DECLARED types up front so staged
        # appends can never narrow or widen the physical schema
        u = updates.select(
            *[F.col(c).cast(m_schema[c]).alias(c) for c in schema_cols]
        )
        counts: dict[str, int] = {}
        dv_key: str | None = None
        total_deleted = 0
        if affected:
            keyed = self._affected_frame(spark, m, affected, keep_keys=True)
            # broadcast only a small CDC batch (caller gates on the
            # source's estimated key count); a table-sized source runs
            # as a shuffle join instead of OOMing every executor
            su = u.select(
                *[F.col(c).alias(f"__u_{c}") for c in schema_cols]
            )
            if broadcast_source:
                su = F.broadcast(su)
            cond = None
            for k in key_cols:
                c = keyed[k] == F.col(f"__u_{k}")
                cond = c if cond is None else cond & c
            pairs = keyed.join(su, cond, "inner")
            pairs.persist()
            try:
                # one DV mark per matched TARGET row, even when
                # duplicate source keys fan the pair list out
                positions = pairs.select("__dv_file", "__dv_pos").distinct()
                counts = {
                    r["__dv_file"]: int(r["n"])
                    for r in positions.groupBy("__dv_file")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                total_deleted = sum(counts.values())
                if counts:
                    dv_key = self._upload_dv_sidecar(positions)
                # matched target rows re-enter with the SOURCE values
                # (one output row per pair — merge_upsert's fan-out);
                # unmatched source rows are the inserts. The anti-join
                # runs against the MATCHED keys (bounded by the batch,
                # broadcast explicitly) — never against the target's
                # full key set, which is O(table) rows and would blow
                # the broadcast build on a wide table
                re_entered = pairs.select(
                    *[F.col(f"__u_{c}").alias(c) for c in schema_cols]
                )
                matched_keys = pairs.select(*key_cols).distinct()
                if broadcast_source:
                    # matched keys ⊆ source keys: same size gate
                    matched_keys = F.broadcast(matched_keys)
                inserts = u.join(
                    matched_keys,
                    on=list(key_cols),
                    how="left_anti",
                ).select(*schema_cols)
                appends = re_entered.unionByName(inserts)
                self._enforce_constraints(
                    appends, self._write_gates(m)
                )
                staged_keys, staged_stats = self._stage(
                    appends,
                    partition_by=m.get("partition_by"),
                    bloom_by=(
                        m.get("meta", {}).get("bloom_index") or {}
                    ).get("cols"),
                )
            finally:
                pairs.unpersist()
        else:
            # no candidate file holds a source key: pure insert
            self._enforce_constraints(
                u, self._write_gates(m)
            )
            staged_keys, staged_stats = self._stage(
                u,
                partition_by=m.get("partition_by"),
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
        staged_keys, staged_stats, _ = _drop_empty_staged(
            staged_keys, staged_stats, True  # DV route retains all files
        )
        staged_rows = self._staged_rows(spark, staged_keys, staged_stats)
        if not counts and staged_rows == 0:
            # nothing matched, nothing inserts: no commit (zero-row
            # staged files are vacuum backlog)
            return {"version": base_v, "files_rewritten": 0}
        res = self._dv_finalize(
            base_v,
            m,
            counts,
            dv_key,
            staged_keys,
            staged_stats,
            max(0, int(m.get("rows", 0)) - total_deleted + staged_rows),
            {**(meta or {}), "op": "merge"},
            anchor_df=u.limit(0),
        )
        if res is not None:
            res["rows_matched"] = total_deleted
            res["rows_appended"] = staged_rows
        return res

    def _dv_merge_clauses(
        self,
        spark: SparkSession,
        base_v: int,
        m: dict,
        affected: list[str],
        updates: DataFrame,
        key_cols: list[str],
        meta: dict | None,
        clauses: list[dict],
        broadcast_source: bool = True,
    ) -> dict | None:
        """Clause-form merge-on-read MERGE attempt: decompose the
        conditional WHEN MATCHED UPDATE/DELETE + WHEN NOT MATCHED
        INSERT semantics into a deletion-vector sidecar (the matched
        rows a clause fires on) plus one append (the CASE-projected
        UPDATE outputs and qualifying inserts) —
        :func:`operators.merge.merge_clauses_decomposed`. Matched rows
        on which NO clause fires stay byte-identical in their files,
        which is precisely the copy-on-write path's rewrite cost this
        route avoids. The caller guarantees no ``not_matched_by_source``
        clauses and no NULL source keys (both routed to copy-on-write
        upstream) and unique source keys (pre-checked). Returns the
        result dict, or None on a commit race."""
        from pyspark.sql import functions as F

        from nyc_taxi_etl_pyspark_spark.operators.merge import (
            merge_clauses_decomposed,
        )

        if affected:
            keyed = self._affected_frame(spark, m, affected, keep_keys=True)
        else:
            # no candidate file holds a source key: clause evaluation
            # against an EMPTY typed target — only NOT MATCHED inserts
            # can produce rows
            keyed = (
                self.read(spark, base_v)
                .limit(0)
                .withColumn("__dv_file", F.lit(None).cast("string"))
                .withColumn("__dv_pos", F.lit(None).cast("bigint"))
            )
        touched, appends = merge_clauses_decomposed(
            keyed,
            updates,
            key_cols,
            clauses,
            ["__dv_file", "__dv_pos"],
            broadcast_source=broadcast_source,
        )
        touched = touched.distinct()  # one DV mark per target row
        touched.persist()
        try:
            counts = {
                r["__dv_file"]: int(r["n"])
                for r in touched.groupBy("__dv_file")
                .agg(F.count("*").alias("n"))
                .collect()  # bounded by the batch's matched-file set
            }
            total_deleted = sum(counts.values())
            dv_key = self._upload_dv_sidecar(touched) if counts else None
        finally:
            touched.unpersist()
        self._enforce_constraints(
            appends, self._write_gates(m)
        )
        staged_keys, staged_stats = self._stage(
            appends,
            partition_by=m.get("partition_by"),
            bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get("cols"),
        )
        staged_keys, staged_stats, _ = _drop_empty_staged(
            staged_keys, staged_stats, True  # DV route retains all files
        )
        staged_rows = self._staged_rows(spark, staged_keys, staged_stats)
        if not counts and staged_rows == 0:
            # no clause fired and nothing inserts: no commit (zero-row
            # staged files are vacuum backlog)
            return {"version": base_v, "files_rewritten": 0}
        res = self._dv_finalize(
            base_v,
            m,
            counts,
            dv_key,
            staged_keys,
            staged_stats,
            max(0, int(m.get("rows", 0)) - total_deleted + staged_rows),
            {**(meta or {}), "op": "merge"},
            anchor_df=appends.limit(0),
        )
        if res is not None:
            res["rows_matched"] = total_deleted
            res["rows_appended"] = staged_rows
        return res

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        max_retries: int = 5,
        merge_on_read: bool = False,
    ) -> dict:
        """Row-level DELETE with an arbitrary SQL predicate — the
        ``DELETE FROM t WHERE <pred>`` form (``sources/txsql.py``
        routes statement text here). File pruning comes from the
        conservative band/equality hints
        :func:`_sql_predicate_prune_hints` can extract from the
        predicate's simple conjuncts (plus bloom probes for equality
        hints); correctness always comes from the residual row filter
        — SQL three-valued logic applies, so NULL-evaluating rows are
        KEPT, exactly like the band-form :meth:`delete`. Returns
        {version, files_rewritten, files_retained, rows_deleted}."""
        from pyspark.sql import functions as F

        if not predicate or not predicate.strip():
            raise ValueError(
                "delete_where: empty predicate would remove every row; "
                "to truncate, commit an empty snapshot explicitly"
            )
        bands, eqs = _sql_predicate_prune_hints(predicate)
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to delete from in {self.root}")
            affected = prune_files(
                m, bands or None, eqs or None, bloom_loader=self._bloom_sidecar
            )
            retained = [f for f in m["files"] if f not in set(affected)]
            if not affected:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(retained),
                    "rows_deleted": 0,
                }
            if merge_on_read:
                res = self._dv_delete(
                    spark,
                    base_v,
                    m,
                    affected,
                    F.coalesce(F.expr(predicate), F.lit(False)),
                    {"op": "delete"},
                )
                if res is not None:
                    return res
                continue  # commit race: retry from the new head
            df = self._affected_frame(spark, m, affected)
            prev_stats = m.get("stats", {})
            if all("rows" in prev_stats.get(f, {}) for f in affected):
                # LOGICAL rows: physical footer counts minus any
                # deletion vector already on the file (the DV-aware
                # _affected_frame stages only live rows)
                affected_rows = sum(
                    _logical_rows(prev_stats, f) for f in affected
                )
            else:
                affected_rows = df.count()
            pred = F.coalesce(F.expr(predicate), F.lit(False))
            if df.where(pred).limit(1).count() == 0:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(m["files"]),
                    "rows_deleted": 0,
                }
            keys, staged_stats = self._stage(
                df.where(~pred),
                partition_by=m.get("partition_by"),
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            keys, staged_stats, _ = _drop_empty_staged(
                keys, staged_stats, bool(retained)
            )
            kept_rows = self._staged_rows(spark, keys, staged_stats)
            deleted = affected_rows - kept_rows
            if self._put_manifest(
                base_v,
                retained + keys,
                max(0, m.get("rows", 0) - deleted),
                m.get("schema"),
                {
                    **{f: prev_stats[f] for f in retained if f in prev_stats},
                    **staged_stats,
                },
                {"op": "delete", "source_version": base_v},
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return {
                    "version": base_v + 1,
                    "files_rewritten": len(affected),
                    "files_retained": len(retained),
                    "rows_deleted": deleted,
                }
        raise CommitConflict(
            f"delete_where lost {max_retries} commit races on {self.root}"
        )

    def replace_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        predicate: str,
        max_retries: int = 5,
    ) -> dict:
        """Predicate overwrite — Delta's ``INSERT INTO t REPLACE WHERE
        <pred>`` / ``option("replaceWhere", ...)`` shape: atomically
        DELETE every current row matching ``predicate`` and APPEND
        ``df``, in ONE commit — a reader sees either the old region or
        the new, never neither. The arbitrary-predicate generalization
        of ``mode="replace_partitions"``.

        Guards (both fail-closed, nothing committed):
        - every replacement row must itself SATISFY the predicate
          (Delta's default replaceWhere validation) — otherwise the op
          would write rows outside the region it claims to own;
        - table CHECK constraints apply as on any commit path.

        File pruning is the same band/bloom-hint path as
        ``delete_where``: only files the predicate's conjuncts cannot
        exclude are rewritten (their non-matching rows re-staged);
        every other file is retained byte-identical. Correctness never
        depends on pruning — the residual row filter decides, with SQL
        three-valued logic (NULL-evaluating rows are KEPT). Returns
        {version, files_rewritten, files_retained, rows_deleted,
        rows_appended}."""
        from pyspark.sql import functions as F

        if not predicate or not predicate.strip():
            raise ValueError(
                "replace_where: empty predicate would replace every row; "
                "use mode='replace' for a full overwrite"
            )
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        n_outside = df.where(~pred).limit(1).count()
        if n_outside:
            raise ValueError(
                f"replace_where: replacement rows do not satisfy the "
                f"predicate {predicate!r} — the op would write outside "
                "the region it replaces (Delta replaceWhere validation)"
            )
        bands, eqs = _sql_predicate_prune_hints(predicate)
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(
                    f"nothing to replace in {self.root} (no committed "
                    "version); use commit() to create the table"
                )
            # Mirror commit(): derive omitted GENERATED ALWAYS AS
            # columns, then gate on the FULL write-gate set (declared
            # CHECKs + one physical<=>expr equality per generated
            # column) — not just plain constraints. Without the
            # equality gate a frame supplying a wrong generated value
            # would commit and break the read-side
            # coalesce(physical, expr) exactness invariant.
            gated_df = self._derive_generated(df, m)
            self._enforce_constraints(gated_df, self._write_gates(m))
            schema_cols = list((m.get("schema") or {}).keys())
            if set(schema_cols) != set(gated_df.columns):
                raise ValueError(
                    f"replace_where: schema mismatch table={schema_cols} "
                    f"df={gated_df.columns}"
                )
            m_schema = m.get("schema") or {}
            new_rows_df = gated_df.select(
                *[F.col(c).cast(m_schema[c]).alias(c) for c in schema_cols]
            )
            affected = prune_files(
                m, bands or None, eqs or None,
                bloom_loader=self._bloom_sidecar,
            )
            retained = [f for f in m["files"] if f not in set(affected)]
            prev_stats = m.get("stats", {})
            survivors_keys: list[str] = []
            survivors_stats: dict[str, dict] = {}
            affected_rows = 0
            if affected:
                sub = self._affected_frame(spark, m, affected)
                if all("rows" in prev_stats.get(f, {}) for f in affected):
                    affected_rows = sum(
                        _logical_rows(prev_stats, f) for f in affected
                    )
                else:
                    affected_rows = sub.count()
                survivors_keys, survivors_stats = self._stage(
                    sub.where(~pred),
                    partition_by=m.get("partition_by"),
                    bloom_by=(
                        m.get("meta", {}).get("bloom_index") or {}
                    ).get("cols"),
                )
            staged_keys, staged_stats = self._stage(
                new_rows_df,
                partition_by=m.get("partition_by"),
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            all_keys = survivors_keys + staged_keys
            all_stats = {**survivors_stats, **staged_stats}
            all_keys, all_stats, _ = _drop_empty_staged(
                all_keys, all_stats, bool(retained)
            )
            kept_rows = self._staged_rows(
                spark,
                [k for k in all_keys if k in set(survivors_keys)],
                all_stats,
            )
            appended = self._staged_rows(
                spark,
                [k for k in all_keys if k in set(staged_keys)],
                all_stats,
            )
            deleted = affected_rows - kept_rows
            if self._put_manifest(
                base_v,
                retained + all_keys,
                max(0, m.get("rows", 0) - deleted + appended),
                m.get("schema"),
                {
                    **{f: prev_stats[f] for f in retained if f in prev_stats},
                    **all_stats,
                },
                {
                    "op": "replace_where",
                    "predicate": predicate,
                    "source_version": base_v,
                },
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return {
                    "version": base_v + 1,
                    "files_rewritten": len(affected),
                    "files_retained": len(retained),
                    "rows_deleted": deleted,
                    "rows_appended": appended,
                }
        raise CommitConflict(
            f"replace_where lost {max_retries} commit races on {self.root}"
        )

    def update_where(
        self,
        spark: SparkSession,
        assignments: dict[str, str],
        predicate: str | None = None,
        max_retries: int = 5,
        merge_on_read: bool = False,
    ) -> dict:
        """Row-level UPDATE — the ``UPDATE t SET col = expr, ... WHERE
        <pred>`` form (``sources/txsql.py`` routes statement text
        here): copy-on-write rewrite of ONLY the files the predicate's
        prune hints cannot exclude. SQL UPDATE semantics: every
        assignment's right-hand side evaluates against the OLD row, a
        row updates only when the predicate is TRUE (NULL keeps the
        old values), and each assigned expression is cast back to the
        column's existing type so the table schema never drifts. No
        predicate means update every row.

        ``merge_on_read=True`` switches to the deletion-vector UPDATE
        shape: the matched rows' OLD positions are soft-deleted via a
        ``_dvs/`` sidecar and the updated rows are APPENDED — cost
        O(matched rows) instead of O(matched file bytes), the right
        trade for selective updates over large files (``optimize``
        later materializes the DVs away). Returns {version,
        files_rewritten, files_retained, rows_updated}."""
        from pyspark.sql import functions as F

        if not assignments:
            raise ValueError("update_where: no assignments")
        bands, eqs = (
            _sql_predicate_prune_hints(predicate) if predicate else ([], [])
        )
        for _ in range(max_retries):
            base_v = self.latest_version()
            m = self.manifest(base_v)
            if m is None:
                raise FileNotFoundError(f"nothing to update in {self.root}")
            unknown = set(assignments) - set(m.get("schema") or {})
            if unknown:
                raise ValueError(
                    f"update_where: unknown column(s) {sorted(unknown)}; "
                    "schema evolution goes through commit(), not UPDATE"
                )
            affected = prune_files(
                m, bands or None, eqs or None, bloom_loader=self._bloom_sidecar
            )
            retained = [f for f in m["files"] if f not in set(affected)]
            if not affected:
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(retained),
                    "rows_updated": 0,
                }
            if merge_on_read:
                res = self._dv_delete(
                    spark,
                    base_v,
                    m,
                    affected,
                    (
                        F.coalesce(F.expr(predicate), F.lit(False))
                        if predicate
                        else F.lit(True)
                    ),
                    {"op": "update"},
                    assignments=assignments,
                )
                if res is not None:
                    return res
                continue  # commit race: retry from the new head
            df = self._affected_frame(spark, m, affected)
            pred = (
                F.coalesce(F.expr(predicate), F.lit(False))
                if predicate
                else F.lit(True)
            )
            if df.where(pred).limit(1).count() == 0:
                # stats said "maybe", data said "no match": no commit
                return {
                    "version": base_v,
                    "files_rewritten": 0,
                    "files_retained": len(m["files"]),
                    "rows_updated": 0,
                }
            # exact matched-row count rides the STAGE WRITE as an
            # Observation (computed where the OLD columns are still in
            # scope) — no second scan of the affected files
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(
                obs,
                F.sum(F.when(pred, 1).otherwise(0)).alias("n_matched"),
            )
            updated = df.select(
                *[
                    (
                        F.when(
                            pred,
                            F.expr(assignments[f.name]).cast(f.dataType),
                        )
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                        if f.name in assignments
                        else F.col(f.name)
                    )
                    for f in df.schema.fields
                ]
            )
            updated = self._rederive_generated(
                updated, m, skip=set(assignments)
            )
            self._enforce_constraints(
                updated, self._write_gates(m)
            )
            keys, staged_stats = self._stage(
                updated,
                partition_by=m.get("partition_by"),
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            keys, staged_stats, _ = _drop_empty_staged(
                keys, staged_stats, bool(retained)
            )
            prev_stats = m.get("stats", {})
            if self._put_manifest(
                base_v,
                retained + keys,
                m.get("rows", 0),  # content changed, cardinality didn't
                m.get("schema"),
                {
                    **{f: prev_stats[f] for f in retained if f in prev_stats},
                    **staged_stats,
                },
                {"op": "update", "source_version": base_v},
                m.get("partition_by"),
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return {
                    "version": base_v + 1,
                    "files_rewritten": len(affected),
                    "files_retained": len(retained),
                    "rows_updated": int(obs.get["n_matched"] or 0),
                }
        raise CommitConflict(
            f"update_where lost {max_retries} commit races on {self.root}"
        )

    # -- MERGE -------------------------------------------------------------
    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_cols: list[str],
        *,
        latest_by: list[str] | None = None,
        clauses: list[dict] | None = None,
        meta: dict | None = None,
        max_retries: int = 5,
        merge_on_read: bool = False,
    ) -> int:
        """Transactional MERGE INTO: latest-wins upsert of ``updates``
        against the current snapshot (``operators/merge.py`` semantics),
        committed with optimistic concurrency — the read-merge-commit
        loop retries from the NEW snapshot if another writer lands
        first, so concurrent mergers serialize without locks. On a
        schema-evolved table the updates frame must carry the FULL
        current schema (merge_upsert raises a loud schema-mismatch
        otherwise — add the evolved columns as NULL literals to the
        updates before merging).

        ``clauses`` switches to FULL-FORM merge semantics
        (``operators/merge.py:merge_clauses`` — conditional
        ``WHEN MATCHED [AND cond] THEN UPDATE SET col=expr | DELETE``,
        ``WHEN NOT MATCHED [AND cond] THEN INSERT``, ``WHEN NOT
        MATCHED BY SOURCE ...``). In clause form the SQL-standard
        cardinality rule is enforced up front: a source with DUPLICATE
        merge keys would apply two different clause outcomes to one
        target row, so it raises instead of silently fanning out
        (``latest_by`` still pre-reduces the batch when given).

        ``merge_on_read=True`` (the SQL front door routes it from the
        ``MERGE_ON_READ`` hint / ``merge_on_read`` table property)
        switches the matched-row effects to a deletion-vector commit
        (:meth:`_dv_merge`): matched target positions are soft-deleted
        and the merge output rows append, so a small CDC batch against
        a wide 100 TB table writes O(batch) bytes instead of
        rewriting even the touched files. Works for BOTH the upsert
        form and clause form (matched UPDATE/DELETE effects decompose
        into DV positions + CASE-projected appends,
        ``operators/merge.py:merge_clauses_decomposed``); the two
        shapes a DV cannot express fall back to the copy-on-write
        full rewrite automatically: ``NOT MATCHED BY SOURCE`` clauses
        (they touch every unmatched target row) and clause-form
        merges whose source carries NULL merge keys (band pruning
        cannot see eqNullSafe NULL matches). Read amplification is
        bounded by ``purge_deletion_vectors`` / OPTIMIZE exactly as
        for DV DELETE/UPDATE."""
        from pyspark.sql import functions as F

        from nyc_taxi_etl_pyspark_spark.operators.merge import (
            merge_clauses,
            merge_upsert,
        )

        if merge_on_read and latest_by:
            # pre-reduce the batch ONCE (merge_upsert does this inside
            # the copy-on-write path; the DV path appends the reduced
            # rows directly)
            from pyspark.sql import Window

            w = Window.partitionBy(*key_cols).orderBy(
                *[F.col(c).desc() for c in latest_by]
            )
            updates = (
                updates.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
            latest_by = None
        if clauses is not None:
            from pyspark.sql import Window

            if latest_by:
                w = Window.partitionBy(*key_cols).orderBy(
                    *[F.col(c).desc() for c in latest_by]
                )
                updates = (
                    updates.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1)
                    .drop("__rn")
                )
            elif any(c["when"] != "not_matched" for c in clauses):
                dup = (
                    updates.groupBy(*key_cols)
                    .count()
                    .where(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
                if dup:
                    raise ValueError(
                        "MERGE cardinality violation: multiple source rows "
                        "share a merge key — deduplicate the source (or "
                        "pass latest_by) so each target row matches at "
                        "most one source row"
                    )
        # key-band stats over the source, computed ONCE (the updates
        # frame is immutable across commit retries): min/max per merge
        # key prune the candidate files, a NULL-key count decides
        # whether clause-form eqNullSafe matching can trust band
        # pruning (min/max stats ignore NULLs, so a NULL source key
        # could match a pruned file's NULL target rows)
        key_aggs = [
            F.approx_count_distinct(F.struct(*key_cols)).alias("__n_keys")
        ]
        for k in key_cols:
            key_aggs += [
                F.min(F.col(k)).alias(f"__lo_{k}"),
                F.max(F.col(k)).alias(f"__hi_{k}"),
                F.sum(F.when(F.col(k).isNull(), 1).otherwise(0)).alias(
                    f"__n_{k}"
                ),
            ]
        key_row = updates.agg(*key_aggs).first()
        n_src_keys = int(key_row["__n_keys"] or 0)
        null_keys = any(int(key_row[f"__n_{k}"] or 0) > 0 for k in key_cols)
        bands = [
            (k, key_row[f"__lo_{k}"], key_row[f"__hi_{k}"]) for k in key_cols
        ]
        def _cow_replace(base: DataFrame, base_v: int, pb) -> int | None:
            """One full-rewrite merge attempt against snapshot
            ``base_v`` (first commit / undecomposable clauses / dense
            batch): merge declaratively over ``base`` and commit the
            whole result as the next snapshot. Returns the version, or
            None on a lost race (the caller's loop retries from the
            new head)."""
            if clauses is not None:
                merged = merge_clauses(base, updates, key_cols, clauses)
            else:
                merged = merge_upsert(
                    base, updates, key_cols, latest_by=latest_by
                )
            try:
                return self.commit(
                    merged,
                    mode="replace",
                    partition_by=pb,
                    meta={
                        **(meta or {}),
                        "op": "merge",
                        "source_version": base_v,
                    },
                    expect_version=base_v,
                )
            except CommitConflict:
                return None

        for _ in range(max_retries):
            base_v = self.latest_version()
            if base_v < 0:
                merged = updates
                # expect_version=-1 (not None): two concurrent FIRST
                # merges must conflict-and-retry, not blind-replace each
                # other (the loser would silently erase the winner's
                # rows).
                if clauses is not None:
                    # no current snapshot: only NOT MATCHED inserts can
                    # produce rows; replay the clause semantics against
                    # an empty base of the updates' own schema
                    merged = merge_clauses(
                        updates.limit(0), updates, key_cols, clauses
                    )
                try:
                    return self.commit(
                        merged,
                        mode="replace",
                        partition_by=None,
                        meta={
                            **(meta or {}),
                            "op": "merge",
                            "source_version": base_v,
                        },
                        expect_version=base_v,
                    )
                except CommitConflict:
                    continue
            m = self.manifest(base_v)
            pb = m.get("partition_by") if m else None
            # TOUCHED-FILE merge (the Delta shape): a merge may only
            # change target rows whose key appears in the source, so
            # rewrite ONLY the files holding such rows — candidates
            # pruned by the source's key bands against the manifest's
            # min/max, then pinned exactly by a key semi-join — and
            # retain every other file byte-for-byte. A 10-row CDC batch
            # against a clustered 100 TB table rewrites a handful of
            # files, never the table. Exceptions that fall back to the
            # full-outer rewrite: NOT MATCHED BY SOURCE clauses (they
            # touch every unmatched target row) and clause-form merges
            # with NULL source keys (eqNullSafe matches NULL rows that
            # band pruning cannot see).
            subset_ok = clauses is None or (
                not null_keys
                and all(c["when"] != "not_matched_by_source" for c in clauses)
            )
            if subset_ok and all(
                key_row[f"__lo_{k}"] is None
                and int(key_row[f"__n_{k}"] or 0) == 0
                for k in key_cols
            ):
                return base_v  # empty source: nothing can match or insert
            if not subset_ok:
                v = _cow_replace(self.read(spark, base_v), base_v, pb)
                if v is None:
                    continue
                return v
            candidates = prune_files(
                m, bands, bloom_loader=self._bloom_sidecar
            )
            # DENSE-merge fallback: when band pruning excluded little
            # AND the source carries a large share of the table's keys,
            # the semi-join discovery pass cannot exclude files either
            # (hash-spread keys land in every file) — the single-pass
            # full-outer rewrite is strictly cheaper than discovery +
            # subset rewrite of everything. Sparse CDC batches (the
            # case touched-files exists for) never trip this.
            if (
                not merge_on_read  # DV merge is O(batch) at any density
                and len(candidates) > 0.5 * max(1, len(m["files"]))
                and n_src_keys > 0.05 * max(1, int(m.get("rows") or 0))
            ):
                v = _cow_replace(self.read(spark, base_v), base_v, pb)
                if v is None:
                    continue
                return v
            if merge_on_read:
                # no touched-file discovery pass: the DV path never
                # rewrites, so it needs positions (from its own pairs
                # join over the band-pruned candidates), not a file
                # list — one fewer full scan of the candidate files
                res = self._dv_merge(
                    spark,
                    base_v,
                    m,
                    candidates,
                    updates,
                    key_cols,
                    meta,
                    clauses=clauses,
                    # broadcast the CDC batch only while it is actually
                    # batch-sized; a table-sized MERGE_ON_READ source
                    # falls back to a shuffle join (still O(matched +
                    # source)) instead of broadcasting the whole batch
                    # to every executor
                    broadcast_source=(
                        n_src_keys <= _MERGE_BROADCAST_MAX_KEYS
                    ),
                )
                if res is None:
                    continue  # commit race: retry from the new head
                return res["version"]
            matched: list[str] = []
            if candidates:
                sub = self._affected_frame(
                    spark, m, candidates, keep_keys=True
                )
                skeys = F.broadcast(
                    updates.select(
                        *[F.col(k).alias(f"__mk_{k}") for k in key_cols]
                    ).distinct()
                )
                cond = None
                for k in key_cols:
                    c = sub[k].eqNullSafe(F.col(f"__mk_{k}"))
                    cond = c if cond is None else cond & c
                matched = sorted(
                    r["__dv_file"]
                    for r in sub.join(skeys, cond, "left_semi")
                    .select("__dv_file")
                    .distinct()
                    .collect()
                )
            retained = [f for f in m["files"] if f not in set(matched)]
            base_subset = (
                self._affected_frame(spark, m, matched)
                if matched
                else self.read(spark, base_v).limit(0)
            )
            if clauses is not None:
                merged = merge_clauses(base_subset, updates, key_cols, clauses)
            else:
                merged = merge_upsert(
                    base_subset, updates, key_cols, latest_by=latest_by
                )
            self._enforce_constraints(
                merged, self._write_gates(m)
            )
            keys, staged_stats = self._stage(
                merged,
                partition_by=pb,
                bloom_by=(m.get("meta", {}).get("bloom_index") or {}).get(
                    "cols"
                ),
            )
            keys, staged_stats, _ = _drop_empty_staged(
                keys, staged_stats, bool(retained)
            )
            staged_rows = self._staged_rows(spark, keys, staged_stats)
            if not matched and staged_rows == 0:
                # nothing matched and nothing inserts: no commit (the
                # zero-row staged files are vacuum backlog)
                return base_v
            prev_stats = m.get("stats", {})
            sub_rows = (
                sum(_logical_rows(prev_stats, f) for f in matched)
                if all("rows" in prev_stats.get(f, {}) for f in matched)
                else None
            )
            if sub_rows is None:
                sub_rows = self._affected_frame(spark, m, matched).count()
            if self._put_manifest(
                base_v,
                retained + keys,
                max(0, int(m.get("rows", 0)) - sub_rows + staged_rows),
                m.get("schema"),
                {
                    **{f: prev_stats[f] for f in retained if f in prev_stats},
                    **staged_stats,
                },
                {
                    **(meta or {}),
                    "op": "merge",
                    "source_version": base_v,
                    "strategy": "touched-files",
                    "files_rewritten": len(matched),
                },
                pb,
                m,
                mixed_schemas=bool(m.get("mixed_schemas")),
            ):
                return base_v + 1
            # lost the race: staged strays are vacuum backlog; retry
            # from the new head
        raise CommitConflict(f"merge lost {max_retries} commit races on {self.root}")


def is_transactional(path: str) -> bool:
    """True when ``path`` carries a commit log (used by
    ``io.compact_parquet`` to dispatch OPTIMIZE through the protocol
    instead of the local-only rename swap)."""
    return os.path.isdir(os.path.join(path.rstrip("/"), COMMITS_DIR))
