"""Native Delta Lake transaction-log writer/reader (protocol-level).

The reference's headline feature is Delta tables on HDFS
(``/root/reference/examples/example_lakesail_kerberos.py:162-184``,
``README.md:302``). ``delta-spark`` jars are not installable in this
sandbox, so instead of settling for the Parquet fallback the engine
implements the **public Delta transaction protocol** itself
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md): data files
are staged and published like any FileFormatWriter commit, and each
commit appends ``_delta_log/{version:020d}.json`` holding the standard
``protocol`` / ``metaData`` / ``add`` / ``remove`` actions. The result
on disk is a REAL Delta table — a cluster with delta-spark (or any
Delta reader) opens it directly; this module's reader reconstructs any
snapshot by folding the log.

Scale posture (same as Delta's own design):
- the log stores file *paths + stats*, O(commits) JSON — never data;
- snapshot resolution folds the newest parquet checkpoint plus at most
  CHECKPOINT_INTERVAL-1 JSON tail commits driver-side (tiny), then the
  scan is a normal multi-file parquet read with full pushdown;
- ``overwrite`` is a metadata operation: new adds + removes of the old
  generation in ONE atomic commit file — readers of version N-1 are
  untouched (MVCC time travel for free);
- commit atomicity comes from the filesystem's fail-on-existing rename
  (HDFSLogStore semantics).

File ops route through the Hadoop FileSystem API via the JVM gateway,
so ``file://`` and ``hdfs://`` behave identically.
"""

from __future__ import annotations

import functools
import json
import re as _re
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..querydef import QueryDef

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
# highest writer version whose features this module actually enforces:
# v3 = CHECK constraints (delta_add_constraint / _enforce_constraints).
# Fresh tables still declare v2 until a constraint bumps them.
_MAX_WRITER_IMPLEMENTED = 3

# Table-feature protocol (reader v3 / writer v7, PROTOCOL.md "Table
# Features"): instead of a monolithic version bump, the protocol action
# lists the exact features a reader/writer must implement. This module
# implements exactly these; gating refuses any table listing one it
# does not (a feature-aware engine that ignored an unknown feature
# would read WRONG data, not degraded data).
_READER_FEATURES_IMPLEMENTED = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "typeWidening",
        "v2Checkpoint",
        # vacuumProtocolCheck: the feature's whole contract is "VACUUM
        # must read the protocol before reclaiming files" — delta_vacuum
        # enforces it below (unknown writer features refuse the vacuum,
        # since such a feature may reference files outside add actions)
        "vacuumProtocolCheck",
    }
)
_WRITER_FEATURES_IMPLEMENTED = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "checkConstraints",
        "generatedColumns",
        "identityColumns",
        # Row tracking is declared under an ENGINE-SPECIFIC feature name,
        # not the protocol's "rowTracking": this module's watermark lives
        # in metaData.configuration (not a domainMetadata action) and the
        # materialized id column is a fixed `_row_id`. A delta-spark
        # writer seeing the standard name would accept the table, find no
        # domain-metadata watermark, and mint OVERLAPPING baseRowIds —
        # silent id corruption. The vendor name makes every foreign
        # writer refuse cleanly (unknown writerFeature), and symmetrically
        # this writer refuses foreign "rowTracking" tables (name absent
        # from this set) instead of corrupting their domain-metadata
        # watermark discipline. Readers are unaffected either way
        # (writerFeatures are ignored on the read path).
        "lakesailRowTracking",
        # Liquid-clustering keys live in metaData.configuration, not a
        # domainMetadata action — vendor-scoped for the same reason as
        # row tracking (see the CLUSTER BY section)
        "lakesailClustering",
        "typeWidening",
        "v2Checkpoint",
        "allowColumnDefaults",
        # PROTOCOL.md domainMetadata: full support — commit API, fold,
        # checkpoint restatement (all three layouts), log compaction
        "domainMetadata",
        "vacuumProtocolCheck",
        # PROTOCOL.md inCommitTimestamps: every commit is stamped
        # monotonically (max(now, prev+1)) by _write_commit and the
        # protocol field is written on post-enablement commits;
        # _commit_timestamp prefers the protocol field on reads
        "inCommitTimestamp",
    }
)

# Sidecar directory for deletion-vector storage files (merge-on-read
# DELETE). Each DV-delete commit writes ONE storage unit under here,
# shared by every add the commit re-stamps — mirroring the protocol's
# "multiple DV descriptors may point into one storage file" shape. The
# DEFAULT on-disk encoding is parquet rows (data-file basename,
# row_index) rather than the protocol's z85/RoaringBitmap binary
# framing: the DESCRIPTOR + lifecycle semantics (protocol gating,
# cardinality, vacuum protection, OPTIMIZE materialization) follow
# PROTOCOL.md; the byte format is this engine's own, chosen so the
# reader can apply DVs as a distributed broadcast anti-join instead of
# a driver-side bitmap probe. Both interop directions are nonetheless
# covered: the READER decodes foreign wire-format DVs in place
# (sources/dv_codec.py, X187), and DV DML accepts
# ``wire_format="standard"`` to COMMIT protocol-format DVs that
# delta-spark reads directly (X189).
_DV_DIR = "_deletion_vectors"

# Parquet checkpoint cadence (the Delta protocol's own default): every
# N commits the full snapshot state is written as
# ``_delta_log/{v:020d}.checkpoint.parquet`` and ``_last_checkpoint``
# re-pointed, so snapshot resolution folds ONE parquet file plus at most
# N-1 JSON tail commits instead of every commit since version 0 —
# O(interval), not O(commits). At 100 TB / tens of thousands of commits
# this is the difference between a bounded metadata read and a log walk.
CHECKPOINT_INTERVAL = 10


# FileSystem handles, cached per (application, scheme, authority).
# FileSystem.get is already cached JVM-side with exactly this key, so
# the python cache changes no semantics — it only removes the 2-3 py4j
# round trips (Path → hadoopConfiguration → getFileSystem) every log
# operation paid to re-resolve a handle the JVM would hand back
# unchanged. Lifecycle queries make ~100 _hadoop_fs calls each and the
# event log showed their cost is driver-side py4j latency, not stages.
_FS_CACHE: dict[tuple, object] = {}


_URI_SCHEME_RE = _re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):(?://([^/]*))?")


def _fs_cache_key(spark: SparkSession, path: str) -> tuple:
    # Parse the scheme exactly as java.net.URI does: ``file:/tmp/x``
    # (single-slash, no authority) is scheme 'file', NOT the defaultFS
    # — partitioning on '://' alone mapped such URIs and scheme-less
    # paths to the same ('','') slot, which could hand back a handle
    # for the wrong filesystem when fs.defaultFS is not file://.
    # Scheme-less paths all resolve through the application's constant
    # fs.defaultFS, so one shared ('','') slot for them is exact.
    m = _URI_SCHEME_RE.match(path)
    if m is None:
        scheme, authority = "", ""
    else:
        scheme = m.group(1).lower()
        authority = (m.group(2) or "").lower()
    return (spark.sparkContext.applicationId, scheme, authority)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    key = _fs_cache_key(spark, path)
    fs = _FS_CACHE.get(key)
    if fs is None:
        conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        fs = hpath.getFileSystem(conf)
        _FS_CACHE[key] = fs
    return fs, hpath, jvm


def _log_dir(path: str) -> str:
    return f"{path}/_delta_log"


def _version_file(path: str, version: int) -> str:
    return f"{_log_dir(path)}/{version:020d}.json"


def _checkpoint_file(path: str, version: int) -> str:
    return f"{_log_dir(path)}/{version:020d}.checkpoint.parquet"


# Multi-part checkpoints (PROTOCOL.md classic checkpoint naming
# ``<v>.checkpoint.<part>.<parts>.parquet``): the distributed checkpoint
# writer shards the add actions across N parquet parts written as a
# Spark job, so neither writing nor reading the snapshot of a
# 10^6-file table ever builds a driver-side row list. Part 1 carries
# the metadata-sized actions (protocol/metaData/txn); parts 2..N carry
# only adds — readers here fold per-row with .get() so the narrower
# part schema is benign.
_CKPT_PART_RE = _re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)

# V2 checkpoints (PROTOCOL.md "V2 Spec Checkpoints", reader/writer table
# feature ``v2Checkpoint``): a UUID-named top file
# ``<v>.checkpoint.<uniqueStr>.parquet`` holding the metadata-sized
# actions (protocol/metaData/txn) plus ONE checkpointMetadata action and
# ``sidecar`` actions pointing at parquet files under
# ``_delta_log/_sidecars/`` that carry the add actions. The layout
# delta-spark writes for modern tables — and the natural fit for the
# distributed checkpoint job: each Spark output part becomes one
# sidecar, registered by name in the top file, so checkpoint writing,
# listing and folding are all O(metadata) on the driver at any table
# size. Sidecar remove actions (vacuum tombstones) don't affect live
# state and are ignored by the fold, exactly like classic tails.
_CKPT_V2_RE = _re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.parquet$"
)
_SIDECAR_DIR = "_sidecars"


def _checkpoint_part_file(
    path: str, version: int, part: int, parts: int
) -> str:
    return (
        f"{_log_dir(path)}/{version:020d}.checkpoint."
        f"{part:010d}.{parts:010d}.parquet"
    )


# The two storage moves the log needs — write an object once, publish a
# log record atomically — each live behind ONE helper: every log, crc,
# manifest and DV byte write is _write_bytes, every log-file publish is
# _publish_log_file, every staged parquet publish (data, change, sidecar
# and checkpoint-part files) is _publish_staged, and every byte read is
# _read_raw_bytes. All of them go through the Hadoop FileSystem, so each
# log file has the same scheme support (viewfs://, hdfs://, ...).


def _read_raw_bytes(spark: SparkSession, path: str) -> bytes:
    """Raw file bytes via the Hadoop FileSystem. py4j copies Python
    bytearrays INTO the JVM, so stream.read(buf) can't hand data back —
    drain JVM-side (commons-io ships with Hadoop)."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _write_bytes(fs, hpath, payload: bytes, overwrite: bool = False) -> None:
    """Create ``hpath`` (parent dirs included) holding ``payload``."""
    stream = fs.create(hpath, overwrite)
    try:
        stream.write(payload)
    finally:
        stream.close()


def _publish_log_file(fs, jvm, final: str, payload: bytes, replace: bool) -> bool:
    """Atomic log publish: write ``payload`` to ``_delta_log/.tmp-<uuid>``
    and rename it to ``final``, so a reader listing the log never opens a
    partly written file. The temp name has no ``.json``/``.parquet``
    suffix: one left by a crash never matches a log-file pattern.

    When ``final`` already exists, ``replace`` overwrites it (a
    checkpoint of the same version is idempotent); otherwise the temp
    file is dropped and False says this writer lost (the HDFSLogStore
    rename-fail-on-existing contract — a racing commit retries at
    version+1). Returns True once ``final`` holds ``payload``."""
    path_cls = jvm.org.apache.hadoop.fs.Path
    tmp = path_cls(f"{final.rsplit('/', 1)[0]}/.tmp-{uuid.uuid4().hex}")
    dest = path_cls(final)
    _write_bytes(fs, tmp, payload)
    # RawLocalFileSystem.rename REPLACES an existing destination (POSIX
    # renameTo), so fail-on-existing needs an explicit check on file:// —
    # HDFS rename enforces it natively; Delta's own FileSystemLogStore
    # does exactly this split.
    if fs.exists(dest):
        if not replace:
            fs.delete(tmp, False)
            return False
        fs.delete(dest, False)
    if fs.rename(tmp, dest):
        return True
    fs.delete(tmp, False)
    return False


def _read_parquet_bytes(spark: SparkSession, file: str):
    """One log parquet file as a pyarrow table."""
    import io as _io

    import pyarrow.parquet as pq

    return pq.read_table(_io.BytesIO(_read_raw_bytes(spark, file)))


def _checkpoint_files(spark: SparkSession, path: str, version: int) -> list[str]:
    """The checkpoint's file set at ``version``, metadata-first: the
    single classic file; or the complete multi-part set (part order);
    or the V2 top file followed by its sidecars (the top file lists
    them — one small driver read resolves the set). In every layout,
    file [0] is the one holding the metadata-sized actions."""
    single = _checkpoint_file(path, version)
    fs, hpath, _ = _hadoop_fs(spark, single)
    if fs.exists(hpath):
        return [single]
    fs, log_path, _ = _hadoop_fs(spark, _log_dir(path))
    by_n: dict[int, dict[int, str]] = {}
    v2_tops: list[str] = []
    for status in fs.listStatus(log_path):
        name = status.getPath().getName()
        m = _CKPT_PART_RE.match(name)
        if m and int(m.group(1)) == version:
            by_n.setdefault(int(m.group(3)), {})[int(m.group(2))] = (
                f"{_log_dir(path)}/{name}"
            )
            continue
        m = _CKPT_V2_RE.match(name)
        if m and int(m.group(1)) == version:
            v2_tops.append(f"{_log_dir(path)}/{name}")
    for n, parts in sorted(by_n.items()):
        if set(parts) == set(range(1, n + 1)):
            return [parts[i] for i in range(1, n + 1)]
    if v2_tops:
        top = sorted(v2_tops)[-1]
        files = [top]
        for row in _read_parquet_bytes(spark, top).to_pylist():
            sc = row.get("sidecar")
            if sc is not None and sc.get("path"):
                p = sc["path"]
                files.append(
                    p
                    if _is_absolute_ref(p)
                    else f"{_log_dir(path)}/{_SIDECAR_DIR}/{p}"
                )
        return files
    raise ValueError(
        f"checkpoint {version} of {path} is incomplete: no complete "
        f"part set among {sorted(by_n)} and no v2 top file"
    )


def _list_versions(spark: SparkSession, path: str) -> list[int]:
    fs, log_path, _ = _hadoop_fs(spark, _log_dir(path))
    if not fs.exists(log_path):
        return []
    versions = []
    for status in fs.listStatus(log_path):
        name = status.getPath().getName()
        stem = name[: -len(".json")]
        if name.endswith(".json") and stem.isdigit():
            versions.append(int(stem))
    return sorted(versions)


def _list_checkpoints(spark: SparkSession, path: str) -> list[int]:
    """Versions with a USABLE checkpoint: classic single files plus
    COMPLETE multi-part sets (a partially-written set must never be
    chosen as a fold base — its missing adds would silently drop live
    files)."""
    fs, log_path, _ = _hadoop_fs(spark, _log_dir(path))
    if not fs.exists(log_path):
        return []
    suffix = ".checkpoint.parquet"
    versions = []
    # parts grouped by (version, declared part count): sets from an
    # aborted rewrite with a different N must never pool together
    multi: dict[tuple[int, int], set[int]] = {}
    for status in fs.listStatus(log_path):
        name = status.getPath().getName()
        stem = name[: -len(suffix)]
        if name.endswith(suffix) and stem.isdigit():
            versions.append(int(stem))
            continue
        m = _CKPT_PART_RE.match(name)
        if m:
            multi.setdefault(
                (int(m.group(1)), int(m.group(3))), set()
            ).add(int(m.group(2)))
            continue
        m = _CKPT_V2_RE.match(name)
        if m:
            # the UUID-named top file is written LAST (after its
            # sidecars), so its existence means the checkpoint is whole
            versions.append(int(m.group(1)))
    for (v, n), seen in multi.items():
        if seen == set(range(1, n + 1)):
            versions.append(v)
    return sorted(set(versions))


# Log-compaction files (the protocol's minor log compaction,
# ``<start>.<end>.compacted.json``): the action reconciliation of the
# contiguous commit range [start, end] — per path the LAST add/remove
# (removes kept as tombstones), the latest metaData/protocol, the latest
# txn per appId. A fold that would walk the range's individual commits
# reads the ONE compacted file instead: between checkpoints a busy
# table's tail shrinks from O(interval) file opens to O(1) without the
# cost of a full checkpoint rewrite. The per-commit JSON files are NOT
# deleted (streaming/CDF readers and in-commit-timestamp resolution
# still walk them); compaction is purely a snapshot-read accelerator,
# exactly the protocol's contract.
_COMPACTED_RE = _re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _compacted_file(path: str, start: int, end: int) -> str:
    return f"{_log_dir(path)}/{start:020d}.{end:020d}.compacted.json"


def _list_compactions(spark: SparkSession, path: str) -> list[tuple[int, int]]:
    fs, log_path, _ = _hadoop_fs(spark, _log_dir(path))
    if not fs.exists(log_path):
        return []
    out = []
    for status in fs.listStatus(log_path):
        m = _COMPACTED_RE.match(status.getPath().getName())
        if m:
            out.append((int(m.group(1)), int(m.group(2))))
    return sorted(out)


def _tail_plan(
    spark: SparkSession, path: str, start: int, target: int
) -> list[tuple[str, int]]:
    """The files a fold of the JSON tail [start, target] should read, in
    order, each with the version its actions reconcile AT (a compacted
    file's actions order at its END version — legal because the range
    was already reconciled internally). Compaction files are consumed
    greedily (longest span first) wherever one starts exactly at the
    fold cursor; everything else falls back to per-commit files."""
    comps: dict[int, int] = {}
    for cs, ce in _list_compactions(spark, path):
        if start <= cs and ce <= target and ce > cs:
            comps[cs] = max(comps.get(cs, -1), ce)
    plan: list[tuple[str, int]] = []
    v = start
    while v <= target:
        ce = comps.get(v)
        if ce is not None:
            plan.append((_compacted_file(path, v, ce), ce))
            v = ce + 1
        else:
            plan.append((_version_file(path, v), v))
            v += 1
    return plan


def _read_text(spark: SparkSession, path: str) -> str:
    return _read_raw_bytes(spark, path).decode()


# Immutable-log-text LRU. Version commits and compaction files are
# write-once by the rename-with-fail-on-existing commit contract, so
# their bytes never change after they become visible — re-reading them
# through py4j (open + JVM drain + close per file) was the single
# biggest driver cost of the lifecycle queries (a snapshot fold re-reads
# the whole JSON tail, and _write_commit re-reads the previous commit
# for ICT monotonicity, on EVERY call). Mutable log files
# (_last_checkpoint) must keep using _read_text directly. Cleanup
# (delta_cleanup_log) purges the table's entries so a post-retention
# read fails loudly exactly as an uncached one would.
#
# Scope assumption: the cache lives in THIS driver process and is
# invalidated only by this process's delta_cleanup_log. Log-retention
# cleanup (or delete-and-recreate at the same path) performed by a
# DIFFERENT process would leave ghosts here — the engine's maintenance
# contract is a single maintenance driver per table, same as the
# JVM-side FileSystem handle cache above.
import threading as _threading  # noqa: E402

_LOG_TEXT_CACHE: dict[str, str] = {}
_LOG_TEXT_CACHE_CAP_BYTES = 64 * 1024 * 1024
_log_text_cache_bytes = 0
_LOG_TEXT_CACHE_LOCK = _threading.Lock()


def _read_log_text_immutable(spark: SparkSession, path: str) -> str:
    global _log_text_cache_bytes
    with _LOG_TEXT_CACHE_LOCK:
        cached = _LOG_TEXT_CACHE.pop(path, None)
        if cached is not None:
            # re-insert so dict order tracks recency (true LRU): the
            # hottest entries — the JSON tail every snapshot fold
            # re-reads — must not be first out when the cap hits
            _LOG_TEXT_CACHE[path] = cached
            return cached
    text = _read_text(spark, path)
    with _LOG_TEXT_CACHE_LOCK:
        if path not in _LOG_TEXT_CACHE:
            _log_text_cache_bytes += len(text)
            _LOG_TEXT_CACHE[path] = text
        while (
            _log_text_cache_bytes > _LOG_TEXT_CACHE_CAP_BYTES
            and _LOG_TEXT_CACHE
        ):
            old_path = next(iter(_LOG_TEXT_CACHE))
            _log_text_cache_bytes -= len(_LOG_TEXT_CACHE.pop(old_path))
    return text


def _purge_log_text_cache(prefix: str) -> None:
    """Drop cached log texts under ``prefix`` (a table's _delta_log dir)
    — called by log-retention cleanup so deleted commits read as
    deleted, never as cached ghosts."""
    global _log_text_cache_bytes
    with _LOG_TEXT_CACHE_LOCK:
        for p in [p for p in _LOG_TEXT_CACHE if p.startswith(prefix)]:
            _log_text_cache_bytes -= len(_LOG_TEXT_CACHE.pop(p))


def _commit_info(op: str, metrics: dict | None = None) -> dict:
    """A ``commitInfo`` payload for ``_write_commit`` to stamp (the
    timestamp is filled at write time so retries re-stamp).
    ``metrics`` become delta-spark's ``operationMetrics`` map (string
    values, as delta-spark writes them)."""
    info: dict = {"operation": op}
    if metrics is not None:
        info["operationMetrics"] = {k: str(v) for k, v in metrics.items()}
    return {"commitInfo": info}


def _elapsed_ms(t0: float) -> int:
    """``executionTimeMs`` of an op that started at ``perf_counter() == t0``."""
    return int((time.perf_counter() - t0) * 1000)


def _num_records(adds: list[dict]) -> int:
    """Rows in staged ``add`` actions, from the ``numRecords`` stat every
    staged file carries."""
    return sum(json.loads(a["add"]["stats"])["numRecords"] for a in adds)


def _commit_timestamp(spark: SparkSession, path: str, version: int) -> int | None:
    """The commit's in-commit timestamp (ms) from its commitInfo, or
    None when the JSON was cleaned / predates timestamp stamping.
    The PROTOCOL field name (``inCommitTimestamp``, written when the
    table carries the writer feature) takes precedence over this
    engine's historical ``timestamp`` stamp — interop with delta-spark
    ICT tables reads the same field delta-spark wrote."""
    info = _commit_info_fields(spark, path, version)
    if info is None:
        return None
    ts = info.get("inCommitTimestamp", info.get("timestamp"))
    return int(ts) if ts is not None else None


_ICT_FEATURE = "inCommitTimestamp"


def _commit_info_fields(
    spark: SparkSession, path: str, version: int
) -> dict | None:
    """The commit's raw commitInfo payload, or None when the JSON was
    cleaned — shared by the timestamp reader and the ICT stickiness
    check so both see the same fields."""
    try:
        text = _read_log_text_immutable(
            spark, _version_file(path, version)
        )
    except Exception:  # noqa: BLE001 — cleaned commit
        return None
    for line in text.splitlines():
        action = json.loads(line)
        if "commitInfo" in action:
            return action["commitInfo"]
    return None


def _write_commit(spark: SparkSession, path: str, version: int, actions) -> None:
    """Atomic commit: write temp, rename-with-fail-on-existing (the
    HDFSLogStore optimistic-concurrency contract — a racing writer loses
    the rename and must retry at version+1).

    Every commit is stamped with a ``commitInfo`` first action carrying
    an in-commit timestamp (the inCommitTimestamp idea: the commit's
    logical time lives IN the log, immune to file-copy mtime loss) made
    monotonic against the previous commit — ``max(now, prev + 1)`` —
    so timestamp-based time travel is well-ordered even when two
    commits land within one clock tick."""
    actions = list(actions)
    if not any("commitInfo" in a for a in actions):
        actions = [_commit_info("WRITE")] + actions
    now = int(time.time() * 1000)
    prev_info = (
        _commit_info_fields(spark, path, version - 1) if version > 0 else None
    )
    prev = None
    if prev_info is not None:
        raw = prev_info.get("inCommitTimestamp", prev_info.get("timestamp"))
        prev = int(raw) if raw is not None else None
    stamped = max(now, prev + 1) if prev is not None else now
    # the PROTOCOL field is sticky: once a commit carries
    # inCommitTimestamp (the enablement commit writes it because its own
    # protocol action declares the feature), every later commit does too
    ict_on = (prev_info is not None and "inCommitTimestamp" in prev_info) or any(
        _ICT_FEATURE in _features(a["protocol"])[1]
        for a in actions
        if "protocol" in a
    )
    for a in actions:
        if "commitInfo" in a:
            a["commitInfo"] = {**a["commitInfo"], "timestamp": stamped}
            if ict_on:
                a["commitInfo"]["inCommitTimestamp"] = stamped
            break
    fs, _, jvm = _hadoop_fs(spark, path)
    payload = "".join(json.dumps(a) + "\n" for a in actions).encode()
    # the temp file's create makes _delta_log on the table's first commit
    if not _publish_log_file(
        fs, jvm, _version_file(path, version), payload, replace=False
    ):
        raise RuntimeError(
            f"delta commit conflict: version {version} already exists at {path}"
        )


def _commit(
    spark: SparkSession,
    path: str,
    read_version: int | None,
    actions: list[dict],
    rebase=None,
    max_retries: int = 3,
) -> int:
    """The optimistic transaction every commit of this module runs
    (Delta's OptimisticTransaction): commit ``actions``, derived from the
    snapshot at ``read_version``, at exactly ``read_version + 1`` —
    version 0 when ``read_version`` is None (table creation). The
    commitInfo records ``readVersion`` (delta-spark's field; absent on
    creation); a retry of the same actions keeps the version they were
    built from, re-planned actions carry their own.

    A lost race (the version already exists) applies the op's conflict
    rule. ``rebase=None`` aborts with DeltaConcurrentModification;
    otherwise ``rebase()`` checks the winning commits and returns
    ``(seen, actions)`` — retry ``actions`` at ``seen + 1`` — or raises
    DeltaConcurrentModification itself. After ``max_retries`` lost races
    the conflict propagates. A landed commit at a CHECKPOINT_INTERVAL
    multiple gets its cadence checkpoint.

    The protocol allows one ``metaData`` action per version. Every writer
    builds each metaData of a commit from the one before it (creation or
    schema evolution, then the identity watermark, then the row-id
    watermark), so only the last one is committed."""
    version = 0 if read_version is None else read_version + 1
    for attempt in range(max_retries + 1):
        last_meta = max(
            (i for i, a in enumerate(actions) if "metaData" in a), default=None
        )
        actions = [
            a for i, a in enumerate(actions) if "metaData" not in a or i == last_meta
        ]
        if not any("commitInfo" in a for a in actions):
            actions = [_commit_info("WRITE")] + actions
        info = next(a["commitInfo"] for a in actions if "commitInfo" in a)
        if version > 0:
            info.setdefault("readVersion", version - 1)
        try:
            _write_commit(spark, path, version, actions)
            break
        except RuntimeError:
            if rebase is None:
                raise DeltaConcurrentModification(
                    f"a concurrent commit landed during {info['operation']} "
                    f"on {path}; re-run against the new snapshot"
                ) from None
            if attempt == max_retries:
                raise
            seen, actions = rebase()
            version = seen + 1
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        _auto_checkpoint(spark, path, version)
    return version


def _removes(files, data_change: bool = True) -> list[dict]:
    """``remove`` actions retiring ``files`` (in the given order)."""
    now = int(time.time() * 1000)
    return [
        {
            "remove": {
                "path": f,
                "deletionTimestamp": now,
                "dataChange": data_change,
            }
        }
        for f in files
    ]


def _checkpoint_arrow_schema():
    """Checkpoint parquet schema per the public Delta protocol (one action
    per row; struct columns for protocol/metaData/add) — a delta-spark
    reader following ``_last_checkpoint`` parses these fields directly."""
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        # table-features lists (reader v3 / writer v7);
                        # null for legacy-version tables
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [("provider", pa.string()), ("options", str_map)]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # merge-on-read deletion-vector descriptor
                        # (PROTOCOL.md add.deletionVector, FULL protocol
                        # shape — offset/sizeInBytes/maxRowIndex are
                        # null on native units but must survive
                        # checkpointing for foreign wire-format DVs);
                        # null when the file has no DV
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                    ("maxRowIndex", pa.int64()),
                                ]
                            ),
                        ),
                        # row tracking: the file's fresh-row-id range
                        # start (PROTOCOL.md add.baseRowId); null on
                        # tables without the feature
                        ("baseRowId", pa.int64()),
                        # PROTOCOL.md add.tags ("map containing metadata
                        # about this logical file") — carries the ZCube
                        # id/spec that makes OPTIMIZE ZORDER incremental
                        ("tags", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
            # PROTOCOL.md domainMetadata: per-domain string configuration
            # owned by the writer that declares the feature. Checkpoints
            # restate the LIVE domains (removed=true tombstones are
            # reconciliation artifacts of the JSON tail / compacted
            # ranges, never of a complete snapshot).
            (
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def _maps_to_items(action: dict | None, keys: tuple[str, ...]) -> dict | None:
    """pyarrow's map type converts from/to lists of (key, value) pairs;
    JSON actions carry plain dicts — translate the named fields."""
    if action is None:
        return None
    out = dict(action)
    for k in keys:
        if isinstance(out.get(k), dict):
            out[k] = list(out[k].items())
    return out


def delta_enable_v2_checkpoints(spark: SparkSession, path: str) -> int:
    """Commit the protocol upgrade that opts the table into V2
    checkpoints (reader+writer table feature ``v2Checkpoint``,
    delta-spark's ``delta.checkpointPolicy = v2``). Existing declared
    features are preserved; legacy-implied features this engine does
    not enforce (appendOnly, invariants — never configured on tables
    it creates) are deliberately NOT claimed, so foreign writers don't
    assume enforcement that isn't there. Returns the upgrade commit's
    version (the read version when already upgraded)."""
    return _commit_metadata_change(
        spark,
        path,
        "UPGRADE PROTOCOL",
        lambda _v, proto, meta: [_protocol(proto, meta, add={"v2Checkpoint"})],
    )


def delta_checkpoint(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    distributed: bool = False,
    part_files: int = 8,
    format: str = "classic",
) -> int:
    """Write a protocol-conformant parquet checkpoint of the snapshot at
    ``version`` (latest if None) and re-point ``_last_checkpoint``.
    Returns the checkpointed version. Pure metadata — no data files are
    touched. Three layouts share one set of metadata-sized actions
    (protocol/metaData/txn/domainMetadata):

    - the default classic single file, driver-written (snapshot state is
      O(live files), the same driver-side object every fold already
      builds — right up to ~10^5 adds);
    - ``distributed=True``: the protocol's MULTI-PART checkpoint
      (``<v>.checkpoint.<part>.<parts>.parquet``). The add actions are
      reconstructed and sharded across ``part_files`` parquet parts 2..N
      as a Spark job (:func:`delta_snapshot_adds_df`); the metadata
      actions are part 1, published LAST so the part set only becomes
      complete — and thus listable as a fold base — once every part is
      in place. At 10^6 live files neither the write nor later folds
      ever build a driver-side row list;
    - ``format="v2"``: the same Spark job writes the adds as sidecar
      files under ``_delta_log/_sidecars/``, then ONE UUID-named top
      file carries the metadata actions + checkpointMetadata + the
      sidecar registry, published last so listing only ever sees whole
      checkpoints. Requires the table to declare the ``v2Checkpoint``
      feature (:func:`delta_enable_v2_checkpoints`).

    The pointer's ``size`` counts the action rows across the files; for
    the sharded layouts the add count comes from the parts' footers —
    O(parts) metadata reads, never a driver row scan."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no delta table at {path}")
    target = versions[-1] if version is None else version
    if format not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint format {format!r}")
    sharded = distributed or format == "v2"
    proto, meta, live, txns = _snapshot_state(
        spark, path, target, include_adds=not sharded
    )
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    if format == "v2" and "v2Checkpoint" not in _features(proto)[0]:
        raise ValueError(
            f"table at {path} does not declare the v2Checkpoint feature; "
            "run delta_enable_v2_checkpoints first (a v2 checkpoint on an "
            "un-upgraded table would break readers that only know the "
            "classic layout)"
        )
    # absent keys become nulls under the explicit schema. The TABLE's
    # protocol action is propagated (falling back to ours for tables we
    # created) — a checkpoint must restate the log, not downgrade a
    # foreign table's declared requirements; live domains are restated
    # (removed tombstones never reach a complete snapshot)
    rows: list[dict] = [
        {"protocol": dict(proto or _PROTOCOL)},
        {
            "metaData": _maps_to_items(meta, ("configuration",))
            | {"format": _maps_to_items(meta.get("format", {}), ("options",))}
        },
    ]
    rows += [
        {"txn": {"appId": app_id, "version": v}}
        for app_id, v in sorted(txns.items())
    ]
    rows += [
        {"domainMetadata": {"domain": d, "configuration": c, "removed": False}}
        for d, c in sorted(delta_domain_metadata(spark, path, target).items())
    ]
    fs, _, jvm = _hadoop_fs(spark, path)
    log = _log_dir(path)
    schema = _checkpoint_arrow_schema()
    pointer: dict = {}
    n_adds = 0
    if not sharded:
        rows += [
            {"add": _maps_to_items(add, ("partitionValues", "tags"))}
            for _, add in sorted(live.items())
        ]
        final = _checkpoint_file(path, target)
    else:
        cols = [f.name for f in _add_spark_schema().fields]
        writer = (
            delta_snapshot_adds_df(spark, path, target)
            .select(F.struct(*[F.col(c) for c in cols]).alias("add"))
            .repartition(part_files)
            .write.mode("overwrite")
        )
        if format == "v2":
            root = f"{log}/{_SIDECAR_DIR}"

            def names(staged: list[str]) -> list[str]:
                return [f"{uuid.uuid4().hex}.parquet" for _ in staged]

        else:
            root = log

            def names(staged: list[str]) -> list[str]:
                # clear stale parts from any earlier (possibly aborted)
                # rewrite of this version — mixed part sets must not pool
                # in the listing
                for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(log)):
                    m = _CKPT_PART_RE.match(st.getPath().getName())
                    if m and int(m.group(1)) == target:
                        fs.delete(st.getPath(), False)
                n = len(staged) + 1
                return [
                    _checkpoint_part_file(path, target, i, n).rsplit("/", 1)[1]
                    for i in range(2, n + 1)
                ]

        published = _publish_staged(
            fs, jvm, writer, f"{log}/.ckpt-staging-{uuid.uuid4().hex}",
            root, names, stats_cols=[],
        )
        n_adds = sum(stats["numRecords"] for _, _, stats in published)
        if format == "v2":
            schema = pa.schema(
                list(schema)
                + [
                    pa.field(
                        "checkpointMetadata",
                        pa.struct([("version", pa.int64())]),
                    ),
                    pa.field(
                        "sidecar",
                        pa.struct(
                            [
                                ("path", pa.string()),
                                ("sizeInBytes", pa.int64()),
                                ("modificationTime", pa.int64()),
                            ]
                        ),
                    ),
                ]
            )
            now = int(time.time() * 1000)
            rows = [{"checkpointMetadata": {"version": target}}] + rows
            rows += [
                {
                    "sidecar": {
                        "path": name,
                        "sizeInBytes": size,
                        "modificationTime": now,
                    }
                }
                for name, size, _ in published
            ]
            final = f"{log}/{target:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
            pointer = {"sidecars": len(published)}
        else:
            n_parts = len(published) + 1
            final = _checkpoint_part_file(path, target, 1, n_parts)
            pointer = {"parts": n_parts}
    # Serialize driver-side and publish through the SAME Hadoop FileSystem
    # every other log write uses — pyarrow's FileSystem.from_uri cannot
    # resolve schemes like viewfs:// that the JVM conf maps. The file is
    # metadata-sized (O(live files) rows at most), so one in-memory
    # parquet buffer is fine.
    buf = _io.BytesIO()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), buf)
    if not _publish_log_file(fs, jvm, final, buf.getvalue(), replace=True):
        raise RuntimeError(f"failed to publish checkpoint {target} at {path}")
    # _last_checkpoint is a mutable pointer (the one log file the protocol
    # overwrites in place); crash between checkpoint and pointer is safe —
    # readers fall back to the previous pointer or a directory listing.
    _write_bytes(
        fs,
        jvm.org.apache.hadoop.fs.Path(f"{log}/_last_checkpoint"),
        json.dumps(
            {"version": target, "size": n_adds + len(rows), **pointer}
        ).encode(),
        overwrite=True,
    )
    return target


def _read_checkpoint(
    spark: SparkSession, path: str, version: int, meta_only: bool = False
) -> tuple[dict | None, dict[str, dict], dict[str, int]]:
    """Load one checkpoint parquet into (protocol, metaData, {path: add},
    {txn appId: version}). Read through the Hadoop FileSystem (same
    scheme support as the JSON commits — viewfs://, hdfs://, ...);
    checkpoints are metadata-sized so one driver-side buffer is fine.
    ``meta_only`` projects the parquet read to the metadata-sized action
    columns (protocol/metaData/txn) and skips the per-file dict fold —
    the driver's share of a DISTRIBUTED snapshot resolution, O(1) in the
    live-file count (the add column is never decoded). Multi-part
    checkpoints: metadata actions live in part 1 only, so meta_only
    reads exactly one small file regardless of part count."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _checkpoint_files(spark, path, version)
    if meta_only:
        files = files[:1]
    pieces = []
    for f in files:
        raw = _read_raw_bytes(spark, f)
        cols = ["protocol", "metaData", "txn"] if meta_only else None
        if cols:
            # a checkpoint legitimately omits columns for action types
            # it contains none of (e.g. no txn column when no writer
            # ever committed a SetTransaction) — intersect BEFORE the
            # projected read or pyarrow raises "No match for FieldRef"
            avail = set(pq.read_schema(_io.BytesIO(raw)).names)
            cols = [c for c in cols if c in avail]
        piece = pq.read_table(_io.BytesIO(raw), columns=cols)
        pieces.append(piece)
    # fold piece-by-piece instead of concat_tables: multi-part schemas
    # may legitimately differ in column set AND nested struct width
    # (a part holding only adds omits the metadata action columns;
    # foreign writers carry wider add structs) — dict rows tolerate
    # every shape, arrow unification does not
    import itertools as _it

    rows_iter = _it.chain.from_iterable(p.to_pylist() for p in pieces)
    proto: dict | None = None
    meta: dict | None = None
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    for row in rows_iter:
        if (
            row.get("protocol") is not None
            and row["protocol"].get("minReaderVersion") is not None
        ):
            # strip null feature lists so legacy-version protocols
            # round-trip exactly (a v3 protocol keeps its lists)
            proto = {
                k: v for k, v in row["protocol"].items() if v is not None
            }
        elif row.get("txn") is not None and row["txn"].get("appId") is not None:
            txns[row["txn"]["appId"]] = row["txn"]["version"]
        elif row.get("metaData") is not None:
            meta = dict(row["metaData"])
            if isinstance(meta.get("configuration"), list):
                meta["configuration"] = dict(meta["configuration"])
            if isinstance(meta.get("format"), dict) and isinstance(
                meta["format"].get("options"), list
            ):
                meta["format"] = dict(meta["format"])
                meta["format"]["options"] = dict(meta["format"]["options"])
        elif row.get("add") is not None:
            add = {k: v for k, v in row["add"].items() if v is not None}
            if isinstance(add.get("partitionValues"), list):
                add["partitionValues"] = dict(add["partitionValues"])
            if isinstance(add.get("tags"), list):
                add["tags"] = dict(add["tags"])
            live[add["path"]] = add
    return proto, meta, live, txns


def _check_reader_version(path: str, proto: dict | None) -> None:
    """Public Delta protocol requirement: a reader encountering a table
    whose ``minReaderVersion`` exceeds what it implements MUST refuse —
    silently folding a log whose semantics it does not understand
    (deletion vectors, column mapping, ...) reads WRONG DATA, not
    degraded data. Writer gating is :func:`_check_writer_version` (a
    pure reader may legitimately read tables that demand a newer
    writer)."""
    if proto is None:
        return
    found = proto.get("minReaderVersion")
    if found is None or int(found) <= _PROTOCOL["minReaderVersion"]:
        return
    if int(found) == 2:
        # PROTOCOL.md legacy reader version 2 == column mapping: exactly
        # what delta-spark stamps on column-mapped tables below table
        # features (the vendored golden fixture caught a refusal here).
        if "columnMapping" in _READER_FEATURES_IMPLEMENTED:
            return
    if int(found) == 3:
        # table-features reader: readable iff every listed readerFeature
        # is implemented. A v3 protocol action with NO feature list is
        # malformed per PROTOCOL.md — refuse rather than guess.
        feats = proto.get("readerFeatures")
        unknown = set(feats or ()) - _READER_FEATURES_IMPLEMENTED
        if feats is not None and not unknown:
            return
        raise ValueError(
            f"cannot read delta table at {path}: it requires reader "
            f"features {sorted(unknown) if feats is not None else '<unlisted>'} "
            f"this reader does not implement "
            f"(implemented: {sorted(_READER_FEATURES_IMPLEMENTED)})"
        )
    raise ValueError(
        f"cannot read delta table at {path}: it requires "
        f"minReaderVersion={found} but this reader implements "
        f"version {_PROTOCOL['minReaderVersion']} plus reader features "
        f"{sorted(_READER_FEATURES_IMPLEMENTED)}"
    )


def _check_writer_version(path: str, proto: dict | None) -> None:
    """Writer half of protocol gating, run by the fold every committing
    op reads (:func:`_snapshot_at`): committing to a table that demands
    a newer writer would corrupt invariants this module does not
    implement — refuse. Legacy versions up to 3 (CHECK constraints,
    enforced by _enforce_constraints) are writable; writer v7 is
    writable iff every listed writerFeature is implemented."""
    found = (proto or {}).get("minWriterVersion")
    if found is None or int(found) <= _MAX_WRITER_IMPLEMENTED:
        return
    feats = proto.get("writerFeatures")
    unknown = set(feats or ()) - _WRITER_FEATURES_IMPLEMENTED
    if int(found) != 7 or feats is None or unknown:
        raise ValueError(
            f"cannot write delta table at {path}: it requires "
            f"minWriterVersion={found} (features "
            f"{sorted(unknown) if feats else '<unlisted>'}) but "
            f"this writer implements version "
            f"{_MAX_WRITER_IMPLEMENTED} plus writer features "
            f"{sorted(_WRITER_FEATURES_IMPLEMENTED)}"
        )


def _features(proto: dict | None) -> tuple[set[str], set[str]]:
    """The (reader, writer) table features the protocol ``proto``
    requires: the listed ones plus what a legacy version implies —
    reader v2 is column mapping (on both sides), writer 3..6 enforces
    CHECK constraints."""
    proto = proto or _PROTOCOL
    reader = set(proto.get("readerFeatures") or ())
    writer = set(proto.get("writerFeatures") or ())
    if int(proto.get("minReaderVersion", 1)) == 2:
        reader.add("columnMapping")
        writer.add("columnMapping")
    if 3 <= int(proto.get("minWriterVersion", 2)) < 7:
        writer.add("checkConstraints")
    return reader, writer


def _protocol(
    proto: dict | None, meta: dict, add=(), drop=()
) -> dict | None:
    """The ``protocol`` action a commit must carry when the table at
    ``proto`` (None: creation), with metaData ``meta``, starts using the
    features ``add`` and stops using ``drop`` — None when the protocol
    stays as it is. The one place versions and feature lists are built:

    - every reader feature is a reader-writer feature, listed on both
      sides;
    - a table using no feature beyond CHECK constraints keeps the legacy
      pair: writer 3 when ``meta`` defines constraints, else 2;
    - otherwise writer 7 lists every writer feature, checkConstraints
      included (PROTOCOL.md's version-7 rule that every feature the
      table uses is spelled out); the reader is 1 with no reader
      feature, stays 2 on a reader-v2 column-mapped table, and is
      otherwise 3 listing every reader feature."""
    reader, writer = _features(proto)
    drop = set(drop)
    writer = (writer | set(add)) - drop
    reader = (reader | (writer & _READER_FEATURES_IMPLEMENTED)) - drop
    if not reader and writer <= {"checkConstraints"}:
        new = {
            "minReaderVersion": 1,
            "minWriterVersion": 3 if _table_constraints(meta) else 2,
        }
    else:
        legacy_cm = reader == {"columnMapping"} and (
            int((proto or {}).get("minReaderVersion", 1)) == 2
        )
        new = {
            "minReaderVersion": 1 if not reader else 2 if legacy_cm else 3,
            "minWriterVersion": 7,
        }
        if new["minReaderVersion"] == 3:
            new["readerFeatures"] = sorted(reader)
        new["writerFeatures"] = sorted((writer | {"checkConstraints"}) - drop)
    if proto is not None and all(
        int(new[k]) == int(proto.get(k, _PROTOCOL[k])) for k in _PROTOCOL
    ) and _features(new) == _features(proto):
        return None
    return {"protocol": new}


def _fold_range(
    spark: SparkSession, path: str, version: int | None
) -> tuple[int | None, int | None, int]:
    """Resolve (target version, newest usable checkpoint or None, tail
    start) and enforce the contiguity invariant shared by the driver and
    distributed folds: the fold is only correct over a CONTIGUOUS
    [start, target] commit range; a gap means log cleanup removed
    history below the retained checkpoint — fail loudly rather than
    return a silently-wrong snapshot."""
    versions = _list_versions(spark, path)
    if not versions:
        return None, None, 0
    target = versions[-1] if version is None else version
    if target > versions[-1]:
        raise ValueError(
            f"version {target} of {path} does not exist "
            f"(latest is {versions[-1]})"
        )
    ckpts = [c for c in _list_checkpoints(spark, path) if c <= target]
    ck = ckpts[-1] if ckpts else None
    start = ck + 1 if ck is not None else 0
    available = {v for v in versions if start <= v <= target}
    if available != set(range(start, target + 1)):
        raise ValueError(
            f"version {target} of {path} is no longer reconstructible: "
            f"commits {sorted(set(range(start, target + 1)) - available)} "
            "were removed by log retention cleanup"
        )
    return target, ck, start


def _snapshot_state(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    include_adds: bool = True,
) -> tuple[dict | None, dict | None, dict[str, dict], dict[str, int]]:
    """Resolve the snapshot at ``version`` (latest if None) into
    (protocol, current metaData, live {path: add}, {txn appId: newest
    version}). Starts from the newest checkpoint ≤ version when one
    exists and folds only the JSON tail after it — O(CHECKPOINT_INTERVAL)
    commits, not O(all commits). Raises if the table's protocol demands a
    newer reader than this module implements. ``include_adds=False``
    returns an empty live dict and never decodes the checkpoint's add
    column — callers pair it with :func:`delta_snapshot_adds_df` for the
    distributed fold, keeping the driver O(metadata), not O(live files)."""
    return _snapshot_at(spark, path, version, include_adds, write=False)[1:]


def _snapshot_at(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    include_adds: bool = True,
    write: bool = True,
) -> tuple[int | None, dict | None, dict | None, dict[str, dict], dict[str, int]]:
    """:func:`_snapshot_state` led by the version the fold resolved
    (None when there is no table) — the read version a writer hands to
    :func:`_commit`, so its commit lands at exactly that version + 1.
    Every committing op reads its snapshot here, so ``write`` applies
    the writer gate (:func:`_check_writer_version`) to all of them."""
    target, ck, start = _fold_range(spark, path, version)
    if target is None:
        return None, None, None, {}, {}
    proto: dict | None = None
    meta: dict | None = None
    live: dict[str, dict] = {}
    txns: dict[str, int] = {}
    if ck is not None:
        proto, meta, live, txns = _read_checkpoint(
            spark, path, ck, meta_only=not include_adds
        )
    for file, v in _tail_plan(spark, path, start, target):
        try:
            text = _read_log_text_immutable(spark, file)
        except Exception as exc:  # noqa: BLE001 — JVM IOException via py4j
            # a commit listed moments ago can vanish mid-fold when a
            # concurrent delta_cleanup_log runs between our listing and
            # this read — surface the SAME loud, typed failure as the
            # contiguity pre-check instead of a raw JVM IOException
            if "FileNotFoundException" not in str(exc):
                raise
            raise ValueError(
                f"version {target} of {path} is no longer "
                f"reconstructible: commit {v} was removed by log "
                "retention cleanup during the fold"
            ) from exc
        for line in text.splitlines():
            action = json.loads(line)
            if "add" in action:
                if include_adds:
                    live[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                if include_adds:
                    live.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
            elif "txn" in action:
                txns[action["txn"]["appId"]] = action["txn"]["version"]
            elif "protocol" in action:
                proto = action["protocol"]
    _check_reader_version(path, proto)
    if write:
        _check_writer_version(path, proto)
    _check_type_widening(path, proto, meta)
    return target, proto, meta, live, txns


# ---------------------------------------------------------------------------
# Distributed snapshot reconstruction. The driver-side fold above is the
# right tool up to O(10^5) live files; at 100 TB (~10^6 adds) folding the
# checkpoint into a Python dict is the driver bottleneck delta-spark
# avoids by reconstructing state as a Spark job. This path does the
# same: the checkpoint parquet is scanned with spark.read.parquet, the
# JSON tail with spark.read.text + from_json, and the per-path
# last-writer-wins reconciliation is ONE hash aggregation on the file
# path — executors hold the state, the driver sees only the (pruned)
# survivors it must hand to the parquet scan. Metadata-sized actions
# (protocol/metaData/txn) stay on the driver via the meta_only
# checkpoint read, which never decodes the add column.

# Checkpoint row count beyond which delta_read folds the snapshot as a
# Spark job instead of a driver loop. Below it, JVM job overhead
# (~100 ms) dwarfs the dict fold; above it, the dict fold's time and
# driver memory grow without bound while the Spark fold stays flat.
_DIST_FOLD_ROWS = 100_000


def _add_spark_schema():
    """Spark twin of the checkpoint ``add`` struct (and the JSON commit
    ``add`` payload) — one schema serves both scans."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("path", StringType()),
            StructField("partitionValues", MapType(StringType(), StringType())),
            StructField("size", LongType()),
            StructField("modificationTime", LongType()),
            StructField("dataChange", BooleanType()),
            StructField("stats", StringType()),
            StructField(
                "deletionVector",
                # full protocol descriptor: offset/sizeInBytes/
                # maxRowIndex null on native units, REQUIRED to apply a
                # foreign (delta-spark) wire-format DV
                StructType(
                    [
                        StructField("storageType", StringType()),
                        StructField("pathOrInlineDv", StringType()),
                        StructField("offset", IntegerType()),
                        StructField("sizeInBytes", IntegerType()),
                        StructField("cardinality", LongType()),
                        StructField("maxRowIndex", LongType()),
                    ]
                ),
            ),
            StructField("baseRowId", LongType()),
            StructField("tags", MapType(StringType(), StringType())),
        ]
    )


def _conform_struct_col(col, expected, actual):
    """Project a struct column onto ``expected``, subfield by subfield:
    absent subfields become typed nulls, EXTRA foreign subfields are
    dropped (delta-spark checkpoints carry the full 6-field
    deletionVector descriptor — offset/sizeInBytes/maxRowIndex — which
    would otherwise fail the unionByName with the JSON-tail parts'
    3-field struct), and nested structs recurse. A NULL struct stays
    NULL (no empty-struct fabrication)."""
    from pyspark.sql.types import StructType

    have = {f.name: f for f in actual.fields}
    subs = []
    for f in expected.fields:
        if f.name not in have:
            subs.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif isinstance(f.dataType, StructType) and isinstance(
            have[f.name].dataType, StructType
        ):
            subs.append(
                _conform_struct_col(
                    col[f.name], f.dataType, have[f.name].dataType
                ).alias(f.name)
            )
        else:
            subs.append(col[f.name].cast(f.dataType).alias(f.name))
    return F.when(col.isNotNull(), F.struct(*subs))


def _conform_field(parent, field, actual):
    """One expected top-level field of ``parent`` (a struct column with
    runtime StructType ``actual``) conformed to the native schema:
    missing → typed null, struct → recursive rebuild, scalar → cast."""
    from pyspark.sql.types import StructType

    have = {f.name: f for f in actual.fields}
    if field.name not in have:
        return F.lit(None).cast(field.dataType).alias(field.name)
    if isinstance(field.dataType, StructType) and isinstance(
        have[field.name].dataType, StructType
    ):
        return _conform_struct_col(
            parent[field.name], field.dataType, have[field.name].dataType
        ).alias(field.name)
    return parent[field.name].cast(field.dataType).alias(field.name)


def delta_snapshot_adds_df(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The snapshot's live ``add`` set as a DataFrame, reconstructed as
    a Spark job: checkpoint parquet scan ∪ JSON-tail parse, reconciled
    per path by (commit version, add-beats-remove) — the in-commit
    ordering this engine's DV re-stamp commits rely on (a remove and
    re-add of the same path in one commit nets to the add). Wrong-side
    protocol/reader gating still applies (driver-side, metadata-only).
    One shuffle on the file path; no driver loop over adds."""
    target, ck, start = _fold_range(spark, path, version)
    if target is None:
        raise ValueError(f"no delta table at {path}")
    # reader gating must run even though the add fold is distributed
    proto, meta, _, _ = _snapshot_state(
        spark, path, target, include_adds=False
    )
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    add_schema = _add_spark_schema()
    cols = [f.name for f in add_schema.fields]
    parts: list[DataFrame] = []
    if ck is not None:
        # multi-part checkpoints: parts 2..N carry only the add column;
        # mergeSchema unions the part schemas and the metadata-only
        # columns surface as nulls, filtered right out
        ckpt = (
            spark.read.option("mergeSchema", "true")
            .parquet(*_checkpoint_files(spark, path, ck))
            .where(F.col("add.path").isNotNull())
        )
        # foreign checkpoints (delta-spark) differ from the native add
        # shape in BOTH directions: fields this engine knows may be
        # absent (→ typed nulls), and present struct fields may be
        # WIDER (the full 6-field deletionVector descriptor) — conform
        # each field recursively so the union with the JSON-tail parts
        # resolves (caught by the golden fixture + the widened-DV test)
        add_actual = ckpt.schema["add"].dataType
        parts.append(
            ckpt.select(
                *[
                    _conform_field(F.col("add"), f, add_actual)
                    for f in add_schema.fields
                ],
                F.lit(ck).alias("_v"),
                F.lit(True).alias("_live"),
            )
        )
    tail = [f for f, _ in _tail_plan(spark, path, start, target)]
    if tail:
        from pyspark.sql.types import StringType, StructField, StructType

        line_schema = StructType(
            [
                StructField("add", add_schema),
                StructField(
                    "remove",
                    StructType([StructField("path", StringType())]),
                ),
            ]
        )
        # a compacted tail file's actions order at its END version (the
        # second number in <start>.<end>.compacted.json); per-commit
        # files at their own version — two anchored extracts, coalesced
        txt = spark.read.text(tail).select(
            F.from_json("value", line_schema).alias("a"),
            F.coalesce(
                F.nullif(
                    F.regexp_extract(
                        F.input_file_name(),
                        r"\.(\d+)\.compacted\.json$",
                        1,
                    ),
                    F.lit(""),
                ),
                F.regexp_extract(F.input_file_name(), r"(\d+)\.json$", 1),
            )
            .cast("long")
            .alias("_v"),
        )
        parts.append(
            txt.where(F.col("a.add.path").isNotNull()).select(
                *[F.col(f"a.add.{c}").alias(c) for c in cols],
                "_v",
                F.lit(True).alias("_live"),
            )
        )
        parts.append(
            txt.where(F.col("a.remove.path").isNotNull()).select(
                F.col("a.remove.path").alias("path"),
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in add_schema.fields[1:]
                ],
                "_v",
                F.lit(False).alias("_live"),
            )
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    winner = F.max_by(
        F.struct(*cols, "_live"),
        F.struct(F.col("_v"), F.col("_live").cast("int").alias("_a")),
    ).alias("w")
    return (
        union.groupBy("path")
        .agg(winner)
        .where(F.col("w._live"))
        .select("path", *[F.col(f"w.{c}").alias(c) for c in cols if c != "path"])
    )


def _last_checkpoint_info(spark: SparkSession, path: str) -> dict | None:
    try:
        return json.loads(
            _read_text(spark, f"{_log_dir(path)}/_last_checkpoint")
        )
    except Exception:  # noqa: BLE001 — absent pointer / foreign format
        return None


def _snapshot_live_for_read(
    spark: SparkSession,
    path: str,
    version: int | None,
    partition_filter: dict[str, str] | None,
    range_filter: dict[str, tuple] | None,
) -> tuple[dict | None, dict[str, dict]]:
    """(metaData, live adds) for a read, choosing the fold strategy:
    the driver dict fold for ordinary tables, the Spark-job fold —
    with partition and stats pruning pushed INTO the job, so the driver
    only ever collects the pruned survivors — once the checkpoint
    pointer reports ≥ _DIST_FOLD_ROWS actions. Latest-version reads
    only (time travel keeps the driver fold: the newest checkpoint may
    postdate the target and the pointer says nothing about history)."""
    use_dist = False
    if version is None:
        lc = _last_checkpoint_info(spark, path)
        use_dist = bool(lc) and int(lc.get("size", 0)) >= _DIST_FOLD_ROWS
    if not use_dist:
        _, meta, live, _ = _snapshot_state(spark, path, version)
        return meta, live
    _, meta, _, _ = _snapshot_state(spark, path, version, include_adds=False)
    adds_df = delta_snapshot_adds_df(spark, path, version)
    if partition_filter:
        for k, v in partition_filter.items():
            adds_df = adds_df.where(
                F.col("partitionValues").getItem(k) == F.lit(v)
            )
    if range_filter and meta is not None:
        for g, (glo, ghi) in _derived_partition_bounds(
            spark, meta, range_filter
        ).items():
            pv = F.col("partitionValues").getItem(g)
            adds_df = adds_df.where(
                pv.isNull() | ((pv >= F.lit(glo)) & (pv <= F.lit(ghi)))
            )
        pm = {l: p for p, l in _cm_pairs(meta)}
        for col, (lo, hi) in range_filter.items():
            phys = pm.get(col, col)
            mn = F.get_json_object("stats", f"$.minValues.{phys}")
            mx = F.get_json_object("stats", f"$.maxValues.{phys}")
            if isinstance(lo, bool) or isinstance(hi, bool):
                pass  # no stats skipping on boolean bounds
            elif isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
                # numeric bounds compare as double (exact to 2^53 —
                # beyond that the driver fold is the byte-exact path)
                mn, mx = mn.cast("double"), mx.cast("double")
                lo, hi = float(lo), float(hi)
            adds_df = adds_df.where(
                mn.isNull() | mx.isNull() | ~((mn > F.lit(hi)) | (mx < F.lit(lo)))
            )
    live = {}
    for r in adds_df.collect():
        d = {
            k: v
            for k, v in r.asDict(recursive=True).items()
            if v is not None
        }
        # a null struct normally surfaces as None (dropped above), but
        # an all-null-fields struct must not masquerade as a live DV
        dv = d.get("deletionVector")
        if dv is not None and dv.get("storageType") is None:
            d.pop("deletionVector")
        live[d["path"]] = d
    return meta, live


def _file_stats(filesystem, root: str, rel: str, stats_cols: list[str]) -> dict:
    """Per-file column min/max/numRecords from the parquet footer — the
    Delta ``stats`` field that powers predicate data skipping. Footer-only
    reads via pyarrow (portable across file:// and hdfs:// through
    pyarrow.fs), no data pages touched. The filesystem handle is built
    once per commit by the caller, not once per file."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(f"{root}/{rel}", filesystem=filesystem)
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    schema_names = md.schema.names
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = schema_names[ci]
            if name not in stats_cols:
                continue
            st = col.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                continue
            mins[name] = min(mins[name], st.min) if name in mins else st.min
            maxs[name] = max(maxs[name], st.max) if name in maxs else st.max
    return {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        # protocol stats.nullCount — lets an IS NOT NULL / IS NULL
        # predicate skip files whose column is all-null / no-null
        "nullCount": nulls,
    }


def _file_stats_jvm(jvm, conf, jpath, stats_cols: list[str]) -> dict:
    """Footer stats through the JVM Hadoop FileSystem — the fallback for
    schemes pyarrow cannot resolve (viewfs://, kerberized hdfs:// with
    no libhdfs in the container). This is how delta-spark itself reads
    footers (parquet-hadoop is always on Spark's classpath), so Delta
    writes keep per-file ``numRecords`` — which COUNT(*) folds and the
    incremental-pipeline ledgers depend on — on EVERY filesystem the
    JVM can reach, not just the ones libhdfs can. min/max/nullCount are
    best-effort: primitive and UTF-8 binary statistics convert cleanly
    over py4j; anything else is skipped (the file simply never skips on
    that column — correct, just unpruned)."""

    def _py(v):
        # py4j auto-converts java primitives/strings; Binary stays a
        # JavaObject → decode as UTF-8 (parquet string min/max)
        if v is None or isinstance(v, (int, float, bool, str)):
            return v
        try:
            return v.toStringUsingUTF8()
        except Exception:
            return None

    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, conf
        )
    )
    try:
        blocks = reader.getFooter().getBlocks()
        num = 0
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        for b in blocks:
            num += b.getRowCount()
            if not stats_cols:
                continue
            for c in b.getColumns():
                name = c.getPath().toDotString()
                if name not in stats_cols:
                    continue
                st = c.getStatistics()
                if st is None or st.isEmpty():
                    continue
                if st.isNumNullsSet():
                    nulls[name] = nulls.get(name, 0) + st.getNumNulls()
                if not st.hasNonNullValue():
                    continue
                mn, mx = _py(st.genericGetMin()), _py(st.genericGetMax())
                if mn is None or mx is None:
                    continue
                mins[name] = min(mins[name], mn) if name in mins else mn
                maxs[name] = max(maxs[name], mx) if name in maxs else mx
    finally:
        reader.close()
    return {
        "numRecords": num,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _footer_reader(jvm, root: str, conf):
    """Footer reader for the parquet files under ``root`` — the one
    place that picks the route: pyarrow when it resolves the scheme,
    else parquet-hadoop through the JVM Hadoop FS (viewfs://, kerberized
    hdfs:// with no libhdfs). ``conf`` is a zero-argument callable
    returning the Hadoop Configuration; only the JVM route calls it.
    Returns ``read(rel, stats_cols, jpath=None) -> stats`` — ``jpath``
    is the file's Hadoop Path when the caller already holds one."""
    from pyarrow import fs as pafs

    try:
        pa_fs, pa_root = pafs.FileSystem.from_uri(root)
    except Exception:
        hconf = conf()

        def read(rel, stats_cols, jpath=None):
            if jpath is None:
                jpath = jvm.org.apache.hadoop.fs.Path(f"{root}/{rel}")
            return _file_stats_jvm(jvm, hconf, jpath, stats_cols)

        return read
    return lambda rel, stats_cols, jpath=None: _file_stats(
        pa_fs, pa_root, rel, stats_cols
    )


def _publish_staged(
    fs, jvm, writer, staging: str, root: str, names, stats_cols=None
) -> list[tuple[str, int, dict | None]]:
    """Staged-parquet publish. ``writer`` (a DataFrameWriter) writes
    into the hidden dir ``staging``; its parquet files are listed once,
    sorted by their path under ``staging``, and each is moved to
    ``root/<name>``, where ``names(staged_rels)`` gives the names in the
    same order. With ``stats_cols`` (a list, possibly empty) each
    published file's footer stats are read. The staging dir is deleted
    on every exit, so a failed write, move or footer read never leaves
    it behind. Returns ``(name, size, stats)`` per file, sorted."""
    path_cls = jvm.org.apache.hadoop.fs.Path
    staging_path = path_cls(staging)
    try:
        writer.parquet(staging)
        # URI-relativize against the FS's own qualified form:
        # string-splitting on the caller's raw path breaks when Hadoop
        # qualifies it differently (file:///tmp/t → file:/tmp/t,
        # hdfs://nn/t → hdfs://nn:8020/t)
        base_uri = fs.makeQualified(staging_path).toUri()
        staged = []
        it = fs.listFiles(staging_path, True)
        while it.hasNext():
            status = it.next()
            src = status.getPath()
            rel = base_uri.relativize(src.toUri()).getPath()
            if rel.endswith(".parquet"):
                staged.append((rel, src, int(status.getLen())))
        staged.sort(key=lambda s: s[0])
        dests = names([rel for rel, _, _ in staged])
        for d in sorted({name.rpartition("/")[0] for name in dests}):
            fs.mkdirs(path_cls(f"{root}/{d}" if d else root))
        read = None
        if stats_cols is not None:
            read = _footer_reader(jvm, root, fs.getConf)
        out = []
        for (_, src, size), name in zip(staged, dests):
            dest = path_cls(f"{root}/{name}")
            if not fs.rename(src, dest):
                raise RuntimeError(f"failed to publish {root}/{name}")
            stats = None if read is None else read(name, stats_cols, dest)
            out.append((name, size, stats))
        return out
    finally:
        fs.delete(staging_path, True)


def _stage_data_files(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> list[dict]:
    """Write df as parquet into the table dir under unique names; return
    Delta `add` actions. With ``partition_by``, files land in hive-style
    ``col=value/`` subdirs and each add carries its ``partitionValues``
    (partition columns live ONLY in metadata, exactly Delta's layout —
    that is what makes partition pruning a log-fold, not a file-listing)."""
    from urllib.parse import unquote

    fs, _, jvm = _hadoop_fs(df.sparkSession, path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)

    def names(staged: list[str]) -> list[str]:
        out = []
        for rel in staged:
            rel_dir = rel.rpartition("/")[0]
            unique = f"part-{uuid.uuid4().hex}.parquet"
            out.append(f"{rel_dir}/{unique}" if rel_dir else unique)
        return out

    # numRecords is recorded for EVERY file (footer-only read), matching
    # delta-spark — COUNT(*) and incremental-pipeline ledgers then fold
    # from the log instead of rescanning data; min/max only for stats_cols
    published = _publish_staged(
        fs, jvm, writer, f"{path}/.staging-{uuid.uuid4().hex}", path,
        names, stats_cols or [],
    )
    adds = []
    for rel, size, stats in published:
        part_values = {}
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                # Spark hive-escapes dir segments (%XX) and spells null as
                # __HIVE_DEFAULT_PARTITION__; the Delta protocol stores the
                # UNESCAPED value (null for missing) — a real delta-spark
                # reader reconstructs values from the log, not the dirs
                part_values[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
        add = {
            "path": rel,
            "partitionValues": part_values,
            "size": size,
            "modificationTime": int(time.time() * 1000),
            "dataChange": True,
            # Delta stores per-file stats as a JSON *string* field;
            # default=str keeps date/timestamp/Decimal stats serializable
            "stats": json.dumps(stats, default=str),
        }
        adds.append({"add": add})
    return adds


def delta_metadata(
    spark: SparkSession, path: str, version: int | None = None
) -> dict | None:
    """The snapshot's current metaData action (the newest one at or
    before ``version`` — schema evolution commits replace it)."""
    _, meta, _, _ = _snapshot_state(spark, path, version)
    return meta


# Type widening (Delta table feature ``typeWidening``): tables that opt
# in at creation may evolve a column to a WIDER type in the same
# numeric chain on a mergeSchema append — the metaData action records
# the wider type and files written before the widening read back
# upcast. Spark 4's vectorized parquet reader performs exactly these
# promotions when the declared read schema is wider than the file
# (INT32 → long, FLOAT → double — probed, values exact), so the old
# files are never rewritten: at 100 TB a column widening is a KB of
# JSON, not a table rewrite. A batch carrying the NARROWER type after
# the widening is simply cast up into the table type (no metadata
# churn). Any type change outside the chains stays rejected — implicit
# arbitrary retyping on append is how silent corruption happens at
# scale.
_TW_ENABLE_KEY = "delta.enableTypeWidening"
_TW_CHAINS = (("byte", "short", "integer", "long"), ("float", "double"))
# PROTOCOL.md: every widened column records its widening history in
# field metadata under this key, as a list of
# {"fromType", "toType", "tableVersion"} entries. This engine stamps it
# on its own widening commits (interop) and — because the public
# protocol permits widenings this engine does NOT implement
# (int→double, decimal precision/scale changes, date→timestampNTZ) —
# validates it when resolving any snapshot: a foreign table whose
# recorded history leaves the two supported chains is refused with the
# same clean gating error as an unknown reader feature, instead of
# passing the feature gate and then misreading (or crashing in) the
# parquet reader on pre-widening files.
_TW_PREV_KEY = "delta.typeWidening.previousTypes"


def _check_type_widening(path: str, proto: dict | None, meta: dict | None) -> None:
    """Reader gate for foreign ``typeWidening`` tables: every recorded
    widening hop must lie strictly within a supported chain."""
    if proto is None or not meta or not meta.get("schemaString"):
        return
    if "typeWidening" not in _features(proto)[0]:
        return

    def _walk(node) -> None:
        if isinstance(node, dict):
            md = node.get("metadata")
            if isinstance(md, dict) and md.get(_TW_PREV_KEY):
                for hop in md[_TW_PREV_KEY]:
                    frm = str((hop or {}).get("fromType"))
                    to = str((hop or {}).get("toType"))
                    if not any(
                        frm in c and to in c and c.index(to) > c.index(frm)
                        for c in _TW_CHAINS
                    ):
                        raise ValueError(
                            f"cannot read delta table at {path}: column "
                            f"{node.get('name')!r} was widened "
                            f"{frm} -> {to}, outside the widening chains "
                            f"this reader implements "
                            f"{[list(c) for c in _TW_CHAINS]}; refusing "
                            "rather than misreading pre-widening files"
                        )
            for v in node.values():
                _walk(v)
        elif isinstance(node, list):
            for v in node:
                _walk(v)

    _walk(json.loads(meta["schemaString"]))


_APPEND_ONLY_KEY = "delta.appendOnly"


def _append_only(meta: dict | None) -> bool:
    """delta.appendOnly=true (a legacy writer-v2 contract): commits may
    only ADD data — any operation that removes or rewrites committed
    rows must be refused. Layout-only commits (OPTIMIZE / ZORDER,
    dataChange=false) remain legal, matching delta-spark."""
    return bool(meta) and (
        str(meta.get("configuration", {}).get(_APPEND_ONLY_KEY, "")).lower()
        == "true"
    )


def _tw_enabled(meta: dict | None) -> bool:
    return bool(meta) and (
        str(meta.get("configuration", {}).get(_TW_ENABLE_KEY, "")).lower()
        == "true"
    )


def _tw_widens(frm, to) -> bool:
    """True iff ``frm`` → ``to`` is a supported widening (same chain,
    strictly higher rank)."""
    a, b = frm.typeName(), to.typeName()
    for chain in _TW_CHAINS:
        if a in chain and b in chain:
            return chain.index(b) > chain.index(a)
    return False


def _merge_schemas(existing, incoming, allow_widening: bool = False):
    """unionByName-style schema merge: existing fields keep their order
    and types; brand-new incoming fields append (nullable). A same-name
    field with a different type is rejected — unless the table enables
    type widening and the change is a chain widening (either direction:
    a wider batch widens the table, a narrower batch upcasts into it)."""
    from pyspark.sql.types import StructField, StructType

    by_name = {f.name: f for f in incoming.fields}
    merged = []
    for f in existing.fields:
        new = by_name.get(f.name)
        if new is not None and new.dataType != f.dataType:
            if allow_widening and _tw_widens(f.dataType, new.dataType):
                merged.append(StructField(f.name, new.dataType, f.nullable))
                continue
            if allow_widening and _tw_widens(new.dataType, f.dataType):
                merged.append(f)  # narrower batch upcasts into the table
                continue
            raise ValueError(
                f"schema evolution cannot change column {f.name!r} from "
                f"{f.dataType.simpleString()} to {new.dataType.simpleString()}"
            )
        merged.append(f)
    existing_names = {f.name for f in existing.fields}
    for f in incoming.fields:
        if f.name not in existing_names:
            merged.append(StructField(f.name, f.dataType, True))
    return StructType(merged)


# ---------------------------------------------------------------------------
# Column mapping (PROTOCOL.md "Column Mapping", mode `name`): every
# schema field carries a stable physical name (`col-<uuid>`) + id in its
# metadata; data files are written with PHYSICAL column names and the
# reader aliases them back to logical names. RENAME COLUMN and DROP
# COLUMN then become pure metaData commits — zero files rewritten — the
# other reader-v3 table feature besides deletion vectors. At 100 TB a
# rename is a KB of JSON instead of a table rewrite.

# Generated columns (PROTOCOL.md writer feature "generatedColumns",
# delta-spark's GENERATED ALWAYS AS): the expression lives in the field's
# schema metadata; writers compute the column when a batch omits it and
# REFUSE a batch that supplies contradicting values; row-level UPDATE /
# MERGE recompute it from the post-image. Readers are unaffected (pure
# writer feature — minReaderVersion stays at the table's floor).
_GEN_EXPR_KEY = "delta.generationExpression"


def _generated_columns(meta: dict | None) -> dict[str, str]:
    """{logical column: generation SQL expr} from the schema metadata."""
    if not meta:
        return {}
    return {
        f["name"]: (f.get("metadata") or {})[_GEN_EXPR_KEY]
        for f in json.loads(meta["schemaString"])["fields"]
        if _GEN_EXPR_KEY in (f.get("metadata") or {})
    }


def _apply_generated(df: DataFrame, meta: dict) -> DataFrame:
    """Fill-or-verify every generated column on a LOGICAL-name batch:
    absent columns are computed from the expression; supplied columns
    are validated value-by-value (delta's rule — a writer may provide
    the value, but it must EQUAL the generation expression, else the
    commit is refused). One validation scan per supplied column, zero
    when callers let the engine compute (the normal path)."""
    gen = _generated_columns(meta)
    if not gen:
        return df
    types = {
        f.name: f.dataType for f in _logical_schema(meta).fields
    }
    for name, expr in gen.items():
        computed = F.expr(expr).cast(types[name])
        if name not in df.columns:
            df = df.withColumn(name, computed)
            continue
        bad = df.where(~F.col(name).eqNullSafe(computed)).limit(1).count()
        if bad:
            raise ValueError(
                f"supplied value for generated column {name} contradicts "
                f"its generation expression ({expr})"
            )
    return df


# Column DEFAULT values (PROTOCOL.md writer feature
# "allowColumnDefaults", delta-spark's ``DEFAULT`` clause): the SQL
# expression lives in the field's schema metadata under the protocol's
# ``CURRENT_DEFAULT`` key. Unlike a generated column, a supplied value
# WINS — the default only substitutes for omission, evaluated at write
# time (existing files are untouched; this is an insert-time feature,
# not a read-time one). Pure writer feature: readers ignore it.
_DEFAULT_KEY = "CURRENT_DEFAULT"


def _column_defaults(meta: dict | None) -> dict[str, str]:
    """{logical column: default SQL expr} from the schema metadata."""
    if not meta:
        return {}
    return {
        f["name"]: (f.get("metadata") or {})[_DEFAULT_KEY]
        for f in json.loads(meta["schemaString"])["fields"]
        if _DEFAULT_KEY in (f.get("metadata") or {})
    }


def _apply_defaults(df: DataFrame, meta: dict) -> DataFrame:
    """Fill each ABSENT default column of a LOGICAL-name batch with its
    expression, cast to the declared type. Supplied columns pass through
    untouched (the defining contrast with _apply_generated's
    fill-or-verify)."""
    defaults = _column_defaults(meta)
    if not defaults:
        return df
    types = {f.name: f.dataType for f in _logical_schema(meta).fields}
    for name, expr in defaults.items():
        if name not in df.columns:
            df = df.withColumn(name, F.expr(expr).cast(types[name]))
    return df


# Generated PARTITION columns (delta-spark's partition-on-expression
# idiom): when a partition column is GENERATED from a base column by a
# MONOTONE expression, a range predicate on the BASE column derives a
# partition-value range on the generated column — the reader prunes
# hive partitions without the query ever naming them. delta-spark
# recognizes a fixed expression whitelist for exactly this reason
# (monotonicity is what makes bound-mapping sound); this engine's list:
_GEN_PART_PATTERNS = (
    _re.compile(
        r"date_trunc\(\s*'(?:year|quarter|month|week|day)'\s*,"
        r"\s*(?P<col>\w+)\s*\)",
        _re.I,
    ),
    _re.compile(r"year\(\s*(?P<col>\w+)\s*\)", _re.I),
    _re.compile(
        r"substring\(\s*cast\(\s*(?P<col>\w+)\s+as\s+string\s*\)\s*,"
        r"\s*1\s*,\s*\d+\s*\)",
        _re.I,
    ),
    _re.compile(
        r"date_format\(\s*(?P<col>\w+)\s*,"
        r"\s*'(?:yyyy|yyyy-MM|yyyy-MM-dd)'\s*\)",
        _re.I,
    ),
)


def _monotone_base(expr: str) -> str | None:
    for pat in _GEN_PART_PATTERNS:
        m = pat.fullmatch(expr.strip())
        if m:
            return m.group("col")
    return None


def _derived_partition_bounds(
    spark: SparkSession, meta: dict, range_filter: dict[str, tuple]
) -> dict[str, tuple[str, str]]:
    """{generated partition column: (lo, hi) partition-value strings}
    derived from range filters on their base columns. The generation
    expression is evaluated AT THE BOUNDS engine-side (a 2-row local
    relation — the same Catalyst expression that wrote the partition
    values, so the derived strings match the stored ones exactly);
    monotonicity of the whitelisted expressions makes [g(lo), g(hi)]
    a sound cover of every partition any matching row can live in."""
    from pyspark.sql.types import StructType

    parts = set(meta.get("partitionColumns") or [])
    gens = _generated_columns(meta)
    schema = _logical_schema(meta)
    out: dict[str, tuple[str, str]] = {}
    for gcol, expr in gens.items():
        if gcol not in parts:
            continue
        base = _monotone_base(expr)
        if base is None or base not in range_filter:
            continue
        lo, hi = range_filter[base]
        field = [f for f in schema.fields if f.name == base]
        if not field:
            continue
        probe = spark.createDataFrame(
            [(lo,), (hi,)], StructType(field)
        ).select(F.expr(expr).cast("string").alias("g"))
        vals = sorted(r["g"] for r in probe.collect())
        out[gcol] = (vals[0], vals[-1])
    return out


# Identity columns (PROTOCOL.md writer feature "identityColumns",
# delta-spark's GENERATED ALWAYS AS IDENTITY): start/step/highWaterMark
# live in the field's schema metadata; every identity write allocates a
# fresh id block above the watermark and commits the advanced watermark
# in the same transaction. The protocol guarantees UNIQUENESS and a
# monotone watermark — not contiguity and not any particular row↔id
# mapping (same as delta-spark).
_ID_START = "delta.identity.start"
_ID_STEP = "delta.identity.step"
_ID_HIGH = "delta.identity.highWaterMark"


def _identity_columns(meta: dict | None) -> dict[str, dict]:
    """{column: {start, step, high(|None)}} from schema metadata."""
    if not meta:
        return {}
    out = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        md = f.get("metadata") or {}
        if _ID_START in md:
            out[f["name"]] = {
                "start": int(md[_ID_START]),
                "step": int(md[_ID_STEP]),
                "high": int(md[_ID_HIGH]) if _ID_HIGH in md else None,
            }
    return out


def _allocate_identity(
    df: DataFrame, meta: dict
) -> tuple[DataFrame, dict | None]:
    """Assign every identity column a fresh id block for ``df``'s rows
    and return (df with ids, metaData action advancing the watermarks —
    None when the table has no identity columns or df adds no rows).

    Scale shape: ONE materialization of the batch (localCheckpoint), an
    O(partitions) count collect, then per-partition offsets assigned via
    a window keyed on the physical partition id — ids are allocated
    block-per-partition with no global sort and no driver data path.
    The row↔id mapping follows the physical partitioning (the protocol
    only promises uniqueness); total allocation per batch is exactly
    |rows| steps, so watermark advancement is deterministic even though
    the mapping is not."""
    from pyspark.sql import Window

    ids = _identity_columns(meta)
    if not ids:
        return df, None
    present = [c for c in ids if c in df.columns]
    if present:
        raise ValueError(
            f"identity columns {present} are GENERATED ALWAYS — remove "
            "them from the batch; the engine allocates the values"
        )
    df = _checkpoint(df)  # pin partition ids for both passes
    tagged = df.withColumn("__id_pid", F.spark_partition_id())
    counts = sorted(
        (r["__id_pid"], r["n"])
        for r in tagged.groupBy("__id_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(n for _, n in counts)
    if total == 0:
        # an EMPTY batch still conforms: callers re-select the identity
        # columns afterwards (merge's insert piece), so hand back typed
        # null columns rather than a frame missing them
        for name in ids:
            df = df.withColumn(name, F.lit(None).cast("long"))
        return df, None
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = df.sparkSession.createDataFrame(
        offsets, "__id_pid int, __id_off long"
    )
    # broadcast the O(partitions) offset table — no chained expression,
    # no driver data path, works at 100k input splits
    tagged = tagged.join(F.broadcast(off_df), "__id_pid")
    w = Window.partitionBy("__id_pid").orderBy(
        F.monotonically_increasing_id()
    )
    pos = (F.row_number().over(w) - 1 + F.col("__id_off")).cast("long")
    sj = json.loads(meta["schemaString"])
    for name, spec in ids.items():
        base = (
            spec["high"] + spec["step"]
            if spec["high"] is not None
            else spec["start"]
        )
        tagged = tagged.withColumn(
            name, (F.lit(base) + pos * F.lit(spec["step"])).cast("long")
        )
        new_high = base + (total - 1) * spec["step"]
        for f in sj["fields"]:
            if f["name"] == name:
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    _ID_HIGH: new_high,
                }
    out_cols = [f["name"] for f in sj["fields"] if f["name"] in tagged.columns]
    # non-schema passthrough columns (e.g. row tracking's materialized
    # _row_id riding a MERGE insert piece) survive the allocation select
    extras = [c for c in df.columns if c not in out_cols]
    new_meta = {**meta, "schemaString": json.dumps(sj)}
    return tagged.select(*out_cols, *extras), {"metaData": new_meta}


def _recompute_generated(df: DataFrame, meta: dict) -> DataFrame:
    """FORCE-recompute every generated column from the current row
    values — the UPDATE/MERGE post-image rule (a dependency may have
    changed, so fill-or-verify semantics don't apply)."""
    gen = _generated_columns(meta)
    if not gen:
        return df
    types = {f.name: f.dataType for f in _logical_schema(meta).fields}
    cols = set(df.columns)
    for name, expr in gen.items():
        if name in cols:
            df = df.withColumn(name, F.expr(expr).cast(types[name]))
    return df


_CM_MODE_KEY = "delta.columnMapping.mode"
_CM_MAXID_KEY = "delta.columnMapping.maxColumnId"
_CM_ID = "delta.columnMapping.id"
_CM_PHYS = "delta.columnMapping.physicalName"


def _cm_enabled(meta: dict | None) -> bool:
    if not meta:
        return False
    mode = str(meta.get("configuration", {}).get(_CM_MODE_KEY, "")).lower()
    if mode in ("", "none"):
        return False
    if mode != "name":
        # `id` mode resolves columns by parquet field ids written by a
        # foreign engine — not implemented; misreading would be silent
        raise ValueError(
            f"columnMapping mode {mode!r} is not supported (only 'name')"
        )
    return True


def _cm_assign(schema_json: dict, start_id: int) -> tuple[dict, int]:
    """Assign mapping metadata (id + physical name) to every field that
    lacks it; returns (new schema json, new maxColumnId). Existing
    assignments are stable — evolution only mints ids for NEW fields."""
    max_id = start_id
    fields = []
    for f in schema_json["fields"]:
        f = dict(f)
        md = dict(f.get("metadata") or {})
        if _CM_PHYS not in md:
            max_id += 1
            md[_CM_ID] = max_id
            md[_CM_PHYS] = f"col-{uuid.uuid4().hex[:16]}"
        f["metadata"] = md
        fields.append(f)
    return {**schema_json, "fields": fields}, max_id


def _cm_pairs(meta: dict) -> list[tuple[str, str]]:
    """[(physical, logical)] in declared order (identity when unmapped)."""
    fields = json.loads(meta["schemaString"])["fields"]
    if not _cm_enabled(meta):
        return [(f["name"], f["name"]) for f in fields]
    return [
        ((f.get("metadata") or {}).get(_CM_PHYS, f["name"]), f["name"])
        for f in fields
    ]


def _logical_schema(meta: dict):
    """The snapshot schema with LOGICAL names and no mapping metadata —
    what callers see and what incoming batches are validated against."""
    from pyspark.sql.types import StructField, StructType

    st = StructType.fromJson(json.loads(meta["schemaString"]))
    return StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in st.fields]
    )


def _physical_schema(meta: dict):
    """The on-file schema (physical names) for the parquet scan."""
    from pyspark.sql.types import StructField, StructType

    st = StructType.fromJson(json.loads(meta["schemaString"]))
    pairs = dict((l, p) for p, l in _cm_pairs(meta))
    return StructType(
        [
            StructField(pairs[f.name], f.dataType, f.nullable)
            for f in st.fields
        ]
    )


def _to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Rename a logical-name batch to physical names for staging."""
    if not _cm_enabled(meta):
        return df
    pm = {l: p for p, l in _cm_pairs(meta)}
    return df.select(
        *[F.col(c).alias(pm.get(c, c)) for c in df.columns]
    )


def _is_absolute_ref(ref: str) -> bool:
    """True for absolute references: a URI with a scheme (Hadoop URIs
    stringify as ``file:/tmp/...`` — scheme colon, no ``//``) or an
    absolute filesystem path."""
    import re

    return ref.startswith("/") or bool(re.match(r"^[A-Za-z][\w+.-]*:", ref))


def _data_uri(path: str, ref: str) -> str:
    """Resolve an add/remove/DV reference to a readable location: the
    protocol allows RELATIVE paths (within the table dir — the normal
    case) and ABSOLUTE URIs (shallow clones reference the source
    table's files in place)."""
    return ref if _is_absolute_ref(ref) else f"{path}/{ref}"


def _physical_scan(
    spark: SparkSession,
    path: str,
    meta: dict,
    files,
    with_position: bool = False,
    with_row_col: bool = False,
) -> DataFrame:
    """Scan ``files`` with the snapshot's physical schema and project to
    LOGICAL column names (+ ``__dv_file``/``__dv_row`` scan-position
    metadata when requested). The single translation point every reader
    path (snapshot read, DML scan, rewrite source, DV delete) goes
    through. ``with_row_col`` additionally reads the row-tracking
    materialized ``_row_id`` column (exposed as ``__rt_mat``): the read
    schema declares it, so files a rewrite materialized return their
    stored ids and files written by plain appends return nulls."""
    schema = _physical_schema(meta)
    if with_row_col:
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            list(schema.fields) + [StructField(_RT_COL, LongType(), True)]
        )
    reader = spark.read.schema(schema)
    if not any(_is_absolute_ref(f) for f in files):
        # basePath powers hive-style partition discovery; an absolute
        # (shallow-clone) reference lives outside the table dir and
        # would clash with it. Clones of partitioned tables are refused
        # at clone time, so dropping basePath here never loses
        # partition columns.
        reader = reader.option("basePath", path)
    scan = reader.parquet(*[_data_uri(path, f) for f in sorted(files)])
    cols = [F.col(p).alias(l) for p, l in _cm_pairs(meta)]
    if with_position:
        cols += [
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__dv_file"),
            F.col("_metadata.row_index").alias("__dv_row"),
        ]
    if with_row_col:
        cols += [F.col(_RT_COL).alias("__rt_mat")]
    return scan.select(*cols)


def _commit_metadata_change(
    spark: SparkSession, path: str, op: str, mutate
) -> int:
    """The one commit path of a metadata-only ALTER (no data file added
    or removed), committed as operation ``op``. ``mutate(read_version,
    proto, meta)`` validates the snapshot at ``read_version`` and returns
    the commit's actions (None entries skipped: a :func:`_protocol` that
    changes nothing); when none remain, nothing is committed and the
    read version is returned. A lost race re-plans against the winner's
    snapshot, so a racing change is rebased or re-refused, never
    clobbered."""

    def plan() -> tuple[int, list[dict]]:
        read_version, proto, meta, _, _ = _snapshot_at(
            spark, path, include_adds=False
        )
        if meta is None:
            raise ValueError(f"no delta table at {path}")
        actions = [a for a in mutate(read_version, proto, meta) if a]
        return read_version, [_commit_info(op)] + actions

    read_version, actions = plan()
    if len(actions) == 1:
        return read_version
    return _commit(spark, path, read_version, actions, rebase=plan)


def _check_column_not_referenced(meta: dict, col: str, verb: str) -> None:
    """Refuse schema surgery on a column some table expression depends
    on (a generation expression or CHECK constraint that silently broke
    would corrupt every later write) — delta-spark's dependency rule.
    Word-boundary match is conservative: a false positive blocks a
    rename, never corrupts."""
    import re

    refs = [
        (f"generated column {n}", e)
        for n, e in _generated_columns(meta).items()
        if n != col
    ] + [
        (f"constraint {n}", e) for n, e in _table_constraints(meta).items()
    ]
    for tag, expr in refs:
        if re.search(rf"\b{re.escape(col)}\b", expr):
            raise ValueError(
                f"cannot {verb} column {col}: referenced by {tag} ({expr})"
            )


def delta_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """``ALTER TABLE ... RENAME COLUMN`` as a pure metaData commit —
    requires column mapping (the physical name pins the on-file bytes;
    only the logical label changes). Zero files touched; every prior
    snapshot time-travels back under its own name."""

    def mutate(_v, _proto, meta: dict) -> list[dict]:
        if not _cm_enabled(meta):
            raise ValueError(
                "RENAME COLUMN requires columnMapping (create the table "
                f"with {{'{_CM_MODE_KEY}': 'name'}})"
            )
        sj = json.loads(meta["schemaString"])
        names = [f["name"] for f in sj["fields"]]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        _check_column_not_referenced(meta, old, "rename")
        sj["fields"] = [
            {**f, "name": new} if f["name"] == old else f
            for f in sj["fields"]
        ]
        return [{"metaData": {**meta, "schemaString": json.dumps(sj)}}]

    return _commit_metadata_change(spark, path, "RENAME COLUMN", mutate)


def delta_drop_column(spark: SparkSession, path: str, col: str) -> int:
    """``ALTER TABLE ... DROP COLUMN`` as a pure metaData commit —
    requires column mapping. The physical column stays in the files
    (readers project it away); a later RESTORE of an older snapshot
    brings the column back intact."""

    def mutate(_v, _proto, meta: dict) -> list[dict]:
        if not _cm_enabled(meta):
            raise ValueError(
                "DROP COLUMN requires columnMapping (create the table "
                f"with {{'{_CM_MODE_KEY}': 'name'}})"
            )
        sj = json.loads(meta["schemaString"])
        names = [f["name"] for f in sj["fields"]]
        if col not in names:
            raise ValueError(f"no such column: {col}")
        if len(names) == 1:
            raise ValueError("cannot drop the table's only column")
        _check_column_not_referenced(meta, col, "drop")
        sj["fields"] = [f for f in sj["fields"] if f["name"] != col]
        return [{"metaData": {**meta, "schemaString": json.dumps(sj)}}]

    return _commit_metadata_change(spark, path, "DROP COLUMNS", mutate)


def _evolve(meta: dict, merged, version: int) -> dict:
    """The metaData of table ``meta`` evolved to schema ``merged`` (a
    :func:`_merge_schemas` result) by the commit at ``version`` —
    ``meta`` itself when ``merged`` changes nothing. Existing fields keep
    their schema metadata (column-mapping ids and physical names,
    generation expressions); a widened field appends its hop to
    ``delta.typeWidening.previousTypes``, where a foreign reader (and
    this engine's own read gate) looks for the widening history; on
    column-mapped tables only NEW fields mint a fresh id and physical
    name, and ``maxColumnId`` follows."""
    existing = _logical_schema(meta)
    if merged == existing:
        return meta
    old_md = {
        f["name"]: f.get("metadata") or {}
        for f in json.loads(meta["schemaString"])["fields"]
    }
    old_types = {f.name: f.dataType for f in existing.fields}
    merged_json = json.loads(merged.json())
    for f, field in zip(merged.fields, merged_json["fields"]):
        if f.name not in old_md:
            continue
        field["metadata"] = old_md[f.name]
        frm = old_types[f.name]
        if frm != f.dataType:
            hop = {
                "fromType": frm.typeName(),
                "toType": f.dataType.typeName(),
                "tableVersion": version,
            }
            prior = list(old_md[f.name].get(_TW_PREV_KEY) or [])
            field["metadata"] = {**old_md[f.name], _TW_PREV_KEY: prior + [hop]}
    new_meta = dict(meta)
    if _cm_enabled(meta):
        conf = dict(meta.get("configuration", {}))
        merged_json, max_id = _cm_assign(
            merged_json, int(conf.get(_CM_MAXID_KEY, "0"))
        )
        conf[_CM_MAXID_KEY] = str(max_id)
        new_meta["configuration"] = conf
    new_meta["schemaString"] = json.dumps(merged_json)
    return new_meta


def _conform(
    df: DataFrame, meta: dict, version: int, merge_schema: bool = False
) -> tuple[DataFrame, dict]:
    """The write rule: turn batch ``df`` into rows of the table ``meta``
    describes, in LOGICAL names and table column order, for the commit
    at ``version``. Returns (conformed rows, the commit's metaData —
    ``meta`` itself when the write changes none).

    Generated columns are filled or verified, omitted DEFAULT columns
    filled and identity blocks allocated (a supplied identity value is
    refused) BEFORE the schema check, so a batch that correctly omits
    them is not a mismatch. A batch that is only stricter on nullability
    passes; any other difference is refused unless ``merge_schema``
    (delta-spark's mergeSchema) evolves the table. The rows must then
    satisfy every CHECK constraint and column invariant."""
    df = _apply_generated(df, meta)
    df = _apply_defaults(df, meta)
    df, id_action = _allocate_identity(df, meta)
    if id_action is not None:
        meta = id_action["metaData"]
    # row tracking reserves _row_id on every write: a merge_schema batch
    # carrying it would evolve it into the logical schema and collide
    # with the read path's injected physical column, bricking every
    # row-ids read and DML
    if _rt_enabled(meta) and _RT_COL in df.columns:
        raise ValueError(
            f"row tracking reserves the physical column name {_RT_COL}; "
            "rename the batch column"
        )
    existing = _logical_schema(meta)
    if _nullability_conforms(df.schema, existing):
        # delta-spark accepts a STRICTER batch (non-nullable column into
        # a nullable table column) without schema evolution — only the
        # nullability marks differ, so conform the batch to the table
        # (Spark's to() keeps the batch's tighter non-null marks; the
        # staged parquet simply contains no nulls in those columns)
        if df.schema != existing:
            df = df.to(existing)
    elif not merge_schema:
        raise ValueError(
            "schema mismatch on write (pass merge_schema=True to "
            "evolve the table schema, delta-spark's mergeSchema)"
        )
    else:
        merged = _merge_schemas(
            existing, df.schema, allow_widening=_tw_enabled(meta)
        )
        # conform df to the merged shape: evolution-added columns the
        # incoming batch lacks become typed nulls, column order fixed;
        # the cast is what upcasts a narrower-typed batch into a
        # widened table column (a no-op everywhere else — any unsafe
        # type change was already rejected by the merge)
        df = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in merged.fields
            ]
        )
        meta = _evolve(meta, merged, version)
    # writer-v3 enforcement: the batch must satisfy every table CHECK
    # constraint before any file is staged (re-runs on OCC retry, so a
    # constraint added by a racing commit is honored too)
    _enforce_constraints(df, meta)
    return df, meta


def _plan_commit(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str,
    partition_by: list[str] | None,
    merge_schema: bool,
    configuration: dict | None = None,
    generated_columns: dict | None = None,
    identity_columns: dict | None = None,
    column_defaults: dict | None = None,
    invariants: dict | None = None,
) -> tuple[int | None, list[dict], DataFrame, dict, list[dict]]:
    """One optimistic-transaction attempt: fold the CURRENT snapshot and
    build the commit's non-add actions from it (protocol, metaData,
    overwrite's removes), conforming ``df`` by :func:`_conform`. Returns
    (read version, None at creation; actions; conformed df in LOGICAL
    names; effective metaData; the snapshot's live add actions). Re-run
    on every retry so a lost race re-validates against the winner's
    committed state."""
    read_version, _, meta, live, _ = _snapshot_at(spark, path)
    version = 0 if read_version is None else read_version + 1
    actions: list[dict] = []
    if read_version is None:
        conf = dict(configuration or {})
        overlap = set(column_defaults or ()) & (
            set(generated_columns or ()) | set(identity_columns or ())
        )
        if overlap:
            raise ValueError(
                f"columns {sorted(overlap)} cannot have a DEFAULT and be "
                "generated/identity at once"
            )
        # generated/default columns a creation batch omits are computed
        # here so their TYPES land in the schema; value validation + the
        # cast happen in _apply_generated/_apply_defaults once the
        # metaData exists
        typed = df
        for name, expr in {
            **(generated_columns or {}),
            **(column_defaults or {}),
        }.items():
            if name not in typed.columns:
                typed = typed.withColumn(name, F.expr(expr))
        schema_json = json.loads(typed.schema.json())
        field_md = {
            **{
                n: {_GEN_EXPR_KEY: e}
                for n, e in (generated_columns or {}).items()
            },
            **{n: {_DEFAULT_KEY: e} for n, e in (column_defaults or {}).items()},
        }
        for n, e in (invariants or {}).items():
            if n not in [f["name"] for f in schema_json["fields"]]:
                raise ValueError(
                    f"invariant column {n!r} is not a batch column"
                )
            field_md.setdefault(n, {})["delta.invariants"] = json.dumps(
                {"expression": {"expression": e}}
            )
        if field_md:
            schema_json["fields"] = [
                {
                    **f,
                    "metadata": {
                        **(f.get("metadata") or {}),
                        **field_md[f["name"]],
                    },
                }
                if f["name"] in field_md
                else f
                for f in schema_json["fields"]
            ]
        for name, spec in (identity_columns or {}).items():
            if int(spec.get("step", 1)) == 0:
                raise ValueError(
                    f"identity column {name}: step must be non-zero "
                    "(step 0 would mint duplicate ids forever)"
                )
            if name in [f["name"] for f in schema_json["fields"]]:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — it "
                    "must not be a batch column"
                )
            schema_json["fields"].append(
                {
                    "name": name,
                    "type": "long",
                    # declared nullable so the allocated expression's
                    # Spark type matches on append validation; values
                    # are engine-allocated and never null in practice
                    "nullable": True,
                    "metadata": {
                        _ID_START: int(spec.get("start", 1)),
                        _ID_STEP: int(spec.get("step", 1)),
                    },
                }
            )
        on = {
            "generatedColumns": bool(generated_columns),
            "identityColumns": bool(identity_columns),
            "allowColumnDefaults": bool(column_defaults),
            "lakesailRowTracking": _rt_enabled({"configuration": conf}),
            "typeWidening": _tw_enabled({"configuration": conf}),
            "columnMapping": _cm_enabled({"configuration": conf}),
        }
        if on["columnMapping"]:
            if partition_by:
                raise ValueError(
                    "column mapping with partitioned layout is not "
                    "supported (partitionValues would need physical keys)"
                )
            schema_json, max_id = _cm_assign(schema_json, 0)
            conf[_CM_MAXID_KEY] = str(max_id)
        new_meta = {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": list(partition_by or []),
            "configuration": conf,
            "createdTime": int(time.time() * 1000),
        }
        # constraints/invariants supplied at creation bind the very
        # first batch (new_meta carries both configuration and schema)
        df, new_meta = _conform(df, new_meta, version)
        protocol = _protocol(None, new_meta, add={f for f in on if on[f]})
        return None, [protocol, {"metaData": new_meta}], df, new_meta, []
    # a commit whose layout contradicts metaData.partitionColumns
    # would be protocol-corrupt (adds with wrong partitionValues,
    # mixed directory layouts) — reject it loudly
    declared = meta.get("partitionColumns", [])
    if partition_by is None and declared:
        # delta-spark UX: a write that omits partitionBy on an existing
        # partitioned table inherits its layout (the golden foreign-
        # fixture append); only a CONTRADICTING spec is protocol-corrupt
        partition_by = list(declared)
    if list(partition_by or []) != list(declared):
        raise ValueError(
            f"partition_by {partition_by or []} does not match the "
            f"table's declared partitionColumns {declared}"
        )
    df, new_meta = _conform(df, meta, version, merge_schema)
    if new_meta is not meta:
        actions.append({"metaData": new_meta})
        meta = new_meta
    if mode == "overwrite":
        if live and _append_only(meta):
            raise ValueError(
                f"table at {path} is append-only (delta.appendOnly="
                "true); overwrite would retract committed rows"
            )
        actions += _removes(sorted(live))
    return read_version, actions, df, meta, list(live.values())


def delta_last_txn(spark: SparkSession, path: str, app_id: str) -> int | None:
    """Newest committed ``txn`` version for ``app_id`` (None if that app
    never committed) — the reader half of the protocol's
    idempotent-writer mechanism; resolves from checkpoint + tail like
    any other fold."""
    _, _, _, txns = _snapshot_state(spark, path)
    return txns.get(app_id)


# ---------------------------------------------------------------------------
# Row tracking (modeled on PROTOCOL.md "Row Tracking", declared as the
# engine-specific writer feature ``lakesailRowTracking``): every NEW
# physical file is stamped with a fresh, never-reused ``baseRowId``
# range at commit time, and readers resolve each row's stable id as
# ``coalesce(materialized _row_id, baseRowId + row_index)`` — the same
# scan-position metadata the DV reader uses, so merge-on-read deletes
# compose for free (masking removes positions without shifting the
# survivors' indices). STABILITY across rewrites comes from
# materialization: copy-on-write UPDATE/DELETE/MERGE and OPTIMIZE write
# each surviving row's current id into a physical ``_row_id`` column of
# the rewritten files, which the positional default then defers to.
# Divergences from delta-spark, chosen to reuse this module's existing
# machinery: the high watermark lives in ``metaData.configuration`` (not
# a domainMetadata action — the fold and checkpoint already replicate
# metaData; consequence: RESTORE rolls the watermark back with the
# snapshot, exactly like the identity-column watermark), the adds omit
# ``defaultRowCommitVersion``, and the materialized column is named
# ``_row_id`` on file (delta-spark mints a random ``row_id_<uuid>``
# physical name). FOREIGN-WRITER HAZARD, and why the feature name is
# vendor-scoped: if these tables declared the standard ``rowTracking``,
# a delta-spark writer would accept them, look for the watermark in
# domainMetadata, find none, and mint overlapping baseRowIds — silently
# breaking id uniqueness with no error anywhere. Declaring
# ``lakesailRowTracking`` instead makes a foreign writer refuse the
# table outright (unknown writerFeature ⇒ protocol-mandated refusal),
# and this writer symmetrically refuses foreign ``rowTracking`` tables,
# so neither engine can corrupt the other's watermark discipline.

_RT_ENABLE_KEY = "delta.enableRowTracking"
_RT_WM_KEY = "delta.rowTracking.rowIdHighWaterMark"
_RT_COL = "_row_id"


def _rt_enabled(meta: dict | None) -> bool:
    """Row-tracking gate: table property ``delta.enableRowTracking``
    in metaData.configuration (creation-time opt-in)."""
    return bool(meta) and (
        str(meta.get("configuration", {}).get(_RT_ENABLE_KEY, "")).lower()
        == "true"
    )


def _rt_assign(meta: dict, adds: list[dict]) -> dict | None:
    """Stamp fresh ``baseRowId`` ranges onto freshly staged ``adds`` (each
    records ``numRecords`` in its stats, where delta-spark keeps it) and
    return the metaData action advancing the row-id high watermark (None
    when nothing was allocated)."""
    if not _rt_enabled(meta):
        return None
    wm = start = int((meta.get("configuration") or {}).get(_RT_WM_KEY, "0"))
    for a in adds:
        a["add"]["baseRowId"] = wm
        wm += json.loads(a["add"]["stats"])["numRecords"]
    if wm == start:
        return None
    new_meta = dict(meta)
    conf = dict(new_meta.get("configuration") or {})
    conf[_RT_WM_KEY] = str(wm)
    new_meta["configuration"] = conf
    return {"metaData": new_meta}


def _rt_attach(spark: SparkSession, scan: DataFrame, adds) -> DataFrame:
    """Resolve each scanned row's stable id onto ``scan`` (which carries
    ``__dv_file``/``__dv_row`` positions and the ``__rt_mat``
    materialized column): prefer the materialized id, fall back to
    baseRowId + row position. The (file basename → base) map is
    O(live files) — broadcast join, never a fact-side shuffle."""
    rows = [
        (f.rsplit("/", 1)[-1], int(a["baseRowId"]))
        for f, a in adds
        if a.get("baseRowId") is not None
    ]
    m = spark.createDataFrame(
        rows, "__rt_file string, __rt_base long"
    )
    out = scan.join(
        F.broadcast(m), scan["__dv_file"] == m["__rt_file"], "left"
    )
    return out.withColumn(
        _RT_COL,
        F.coalesce(
            F.col("__rt_mat"), F.col("__rt_base") + F.col("__dv_row")
        ),
    ).drop("__rt_file", "__rt_base", "__rt_mat")


def _stage(
    path: str,
    meta: dict,
    rows: DataFrame,
    live_adds,
    stats_cols=(),
    *,
    data_change: bool = True,
    tags: dict | None = None,
) -> tuple[list[dict], dict | None]:
    """Stage conformed ``rows`` (LOGICAL columns, plus ``_row_id`` on
    row-tracked tables) as new data files of the table ``meta``
    describes; returns (their ``add`` actions, the metaData action
    advancing the row-id watermark — None unless the table tracks row
    ids).

    Files hold the PHYSICAL columns in the table's hive layout, keyed by
    physical partition names. Min/max stats cover the stats surface of
    ``live_adds`` (the snapshot's live files) plus ``stats_cols`` (a
    write's stats columns, a Z-order's keys), so no write narrows what
    range reads can skip. Each add says ``dataChange: data_change`` and
    carries ``tags``; row-tracked tables get fresh baseRowId ranges."""
    pm = {l: p for p, l in _cm_pairs(meta)}
    surface = set(_live_stats_cols(live_adds))
    surface |= {pm.get(c, c) for c in stats_cols}
    parts = [pm.get(c, c) for c in meta.get("partitionColumns") or ()]
    adds = _stage_data_files(
        _to_physical(rows, meta), path, parts or None, sorted(surface)
    )
    for a in adds:
        a["add"]["dataChange"] = data_change
        if tags:
            a["add"]["tags"] = dict(tags)
    return adds, _rt_assign(meta, adds)


def delta_write(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    merge_schema: bool = False,
    max_retries: int = 3,
    txn: tuple[str, int] | None = None,
    configuration: dict | None = None,
    generated_columns: dict | None = None,
    identity_columns: dict | None = None,
    column_defaults: dict | None = None,
    invariants: dict | None = None,
) -> int:
    """Commit df to a protocol-conformant Delta table; returns the
    committed version. ``configuration`` seeds metaData.configuration on
    table CREATION only (e.g. ``{"delta.enableChangeDataFeed": "true"}``
    turns on cdc-action writes for every later DML commit).

    ``generated_columns`` ({name: SQL expr}, creation only) declares
    GENERATED ALWAYS AS columns (writer feature ``generatedColumns``):
    later batches may omit them (the writer computes the expression) but
    a batch that supplies contradicting values is refused; UPDATE/MERGE
    recompute them from each post-image row.

    ``merge_schema=True`` (delta-spark's ``mergeSchema`` option,
    reference README.md:302 "schema evolution") lets an append carry new
    columns: the commit includes an updated ``metaData`` action with the
    widened schema, and files written before the evolution read back with
    nulls in the new columns. Without it, a mismatched append is
    rejected. Every CHECKPOINT_INTERVAL commits a parquet checkpoint is
    written automatically.

    Optimistic concurrency: a lost rename race (another writer landed
    the target version first) re-plans against the winner's state —
    version, schema validation, and overwrite's remove set are all
    recomputed — and recommits at the next version, up to
    ``max_retries`` times. The staged data files are reused verbatim:
    they are plain parquet whose columns the re-validated snapshot
    schema must still cover (the replan raises otherwise), so a retry
    never rewrites data — exactly Delta's OptimisticTransaction
    behavior.

    ``txn=(app_id, version)`` commits the protocol's idempotent-writer
    action alongside the data: a replaying writer (foreachBatch
    at-least-once delivery, job restart) checks ``delta_last_txn`` and
    skips batches it already landed — Delta's txnAppId/txnVersion
    streaming-sink mechanism."""
    t0 = time.perf_counter()
    spark = df.sparkSession

    def plan():
        return _plan_commit(
            spark,
            df,
            path,
            mode,
            partition_by,
            merge_schema,
            configuration,
            generated_columns,
            identity_columns,
            column_defaults,
            invariants,
        )

    read_version, actions, conformed, eff_meta, live = plan()
    if partition_by is None and eff_meta.get("partitionColumns"):
        # _plan_commit inherited the existing table's layout; retry
        # re-plans must use the same effective spec
        partition_by = list(eff_meta["partitionColumns"])
    txn_action = (
        [{"txn": {"appId": txn[0], "version": int(txn[1])}}] if txn else []
    )
    if (
        str(
            (eff_meta.get("configuration") or {}).get(_OPT_WRITE_KEY, "")
        ).lower()
        == "true"
    ):
        # optimizeWrite: an AQE REBALANCE exchange before the file write —
        # the runtime sizes output partitions to the advisory partition
        # size (splitting skewed ones, coalescing tiny ones), which is
        # exactly delta-spark's optimized-write shuffle. Partitioned
        # tables rebalance ON the partition columns so each hive dir gets
        # right-sized files instead of one shard per task.
        conformed = conformed.hint("rebalance", *(partition_by or []))
    adds, rt_action = _stage(path, eff_meta, conformed, live, stats_cols or ())
    rt_actions = [rt_action] if rt_action else []
    metrics = {
        "numFiles": len(adds),
        "numOutputRows": _num_records(adds),
        "numOutputBytes": sum(a["add"]["size"] for a in adds),
        "executionTimeMs": _elapsed_ms(t0),
    }

    def commit_actions(planned: list[dict]) -> list[dict]:
        info = _commit_info("WRITE", metrics)
        return [info] + txn_action + planned + rt_actions + adds

    def replan() -> tuple[int, list[dict]]:
        seen, replanned, _, _, _ = plan()
        return seen, commit_actions(replanned)

    version = _commit(
        spark,
        path,
        read_version,
        commit_actions(actions),
        # a creation commit's staged files were written under THIS
        # writer's metaData (its column-mapping physical names, its
        # generated/identity specs) and are not valid under the winner's
        # table; staged identity values / row-id ranges were allocated
        # under the LOST snapshot's watermark, which a racing allocating
        # write may have claimed — these abort for the caller to re-run
        rebase=None
        if read_version is None
        or _identity_columns(eff_meta)
        or rt_action is not None
        else replan,
        max_retries=max_retries,
    )
    _post_commit_auto_compact(spark, path, eff_meta)
    return version


def _auto_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Post-commit cadence checkpoint, best-effort by design: the commit
    it follows has already durably landed, so raising here would make a
    SUCCEEDED write look failed — and a plain caller retrying it would
    double-append. Readers fall back to the JSON fold when a cadence
    checkpoint is missing; the next interval (or an explicit
    delta_checkpoint call, which stays strict) catches up."""
    import warnings

    try:
        delta_checkpoint(spark, path, version)
    except Exception as exc:  # noqa: BLE001 — commit already durable
        warnings.warn(
            f"delta auto-checkpoint at version {version} of {path} failed "
            f"({exc!r}); readers fall back to the JSON log fold"
        )


def delta_live_adds(
    spark: SparkSession, path: str, version: int | None = None
) -> list[tuple[str, dict]]:
    """Fold the log up to `version` (inclusive; latest if None) into the
    live (file, add-action) set — the snapshot's MVCC reconstruction.
    Resolution is checkpoint + JSON tail (see _snapshot_state)."""
    _, _, live, _ = _snapshot_state(spark, path, version)
    return sorted(live.items())


def delta_live_files(
    spark: SparkSession, path: str, version: int | None = None
) -> list[str]:
    return [f for f, _ in delta_live_adds(spark, path, version)]


def delta_count_from_stats(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """Metadata-only ``COUNT(*)`` — delta-spark's
    OptimizeMetadataOnlyQuery: the answer is the sum of live add
    actions' ``stats.numRecords`` minus live deletion-vector
    cardinalities. O(log) driver work, ZERO data files opened — at
    100 TB this turns the most common dashboard query from a full scan
    into a snapshot fold the reader already performed. Raises if any
    live file lacks numRecords (caller falls back to a scan; this
    engine's write path always stamps it)."""
    _, meta, live, _ = _snapshot_state(spark, path, version)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    total = 0
    for f, a in live.items():
        st = a.get("stats")
        n = json.loads(st).get("numRecords") if st else None
        if n is None:
            raise ValueError(
                f"add action for {f} carries no numRecords stats; "
                "metadata-only count unavailable — scan instead"
            )
        total += int(n)
        dv = a.get("deletionVector")
        if dv:
            total -= int(dv["cardinality"])
    return total


def _version_at_timestamp(spark: SparkSession, path: str, ts: int) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit
    timestamp is ≤ ``ts`` (in-commit timestamp when stamped, the commit
    file's modification time as the legacy fallback — delta-spark's own
    rule). Raises below the first commit's time."""
    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no delta table at {path}")
    fs, _, jvm = _hadoop_fs(spark, path)
    best: int | None = None
    for v in versions:
        ct = _commit_timestamp(spark, path, v)
        if ct is None:
            status = fs.getFileStatus(
                jvm.org.apache.hadoop.fs.Path(_version_file(path, v))
            )
            ct = int(status.getModificationTime())
        if ct <= ts:
            best = v
        else:
            break  # timestamps are monotonic in version order
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of {path}"
        )
    return best


def delta_history(spark: SparkSession, path: str) -> list[dict]:
    """DESCRIBE HISTORY: newest-first [(version, timestamp, operation,
    readVersion, operationMetrics)] from each retained commit's
    commitInfo (cleaned commits are absent — history follows log
    retention, exactly delta-spark's behavior). ``readVersion`` is the
    snapshot the commit acted on (None for table creation and for
    commits that did not record it); ``operationMetrics`` is the
    commit's delta-spark-named metrics map (None when it carries
    none)."""
    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no delta table at {path}")
    out = []
    for v in reversed(versions):
        text = _read_log_text_immutable(spark, _version_file(path, v))
        info: dict = {}
        for line in text.splitlines():
            action = json.loads(line)
            if "commitInfo" in action:
                info = action["commitInfo"]
                break
        out.append(
            {
                "version": v,
                "timestamp": info.get("timestamp"),
                "operation": info.get("operation"),
                "readVersion": info.get("readVersion"),
                "operationMetrics": info.get("operationMetrics"),
            }
        )
    return out


# --- Version checksums (delta-spark's VERSION_CHECKSUM ``.crc`` sidecar) ---
# One JSON file per version next to the commit: snapshot aggregates
# (tableSizeBytes, numFiles, protocol, metadata) a reader can cheaply
# validate its reconstructed state against — delta-spark writes these on
# every commit and uses them to catch state corruption / lost updates.
# Emission here is a catch-up pass (every version missing a sidecar),
# each from the checkpoint-started snapshot fold, so cost is
# O(versions · CHECKPOINT_INTERVAL) metadata reads — never data files.


def _nullability_conforms(batch, table) -> bool:
    """True when ``batch`` differs from ``table`` ONLY by top-level
    nullability marks that may legally tighten: same names and data
    types in order, and no batch field nullable where the table's is
    not (a nullable batch cannot write into a non-nullable column)."""
    if len(batch.fields) != len(table.fields):
        return False
    for b, t in zip(batch.fields, table.fields):
        if b.name != t.name or b.dataType != t.dataType:
            return False
        if b.nullable and not t.nullable:
            return False
    return True


def _crc_file(path: str, version: int) -> str:
    return f"{_log_dir(path)}/{version:020d}.crc"


def _snapshot_crc_payload(
    spark: SparkSession, path: str, version: int
) -> dict:
    proto, meta, live, _ = _snapshot_state(spark, path, version)
    return {
        "tableSizeBytes": int(
            sum(int(a.get("size", 0)) for a in live.values())
        ),
        "numFiles": len(live),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": meta,
        "protocol": proto,
    }


def _write_crc(spark: SparkSession, path: str, version: int, payload: dict) -> None:
    fs, _, jvm = _hadoop_fs(spark, path)
    hp = jvm.org.apache.hadoop.fs.Path(_crc_file(path, version))
    # crc files are overwritable by contract
    _write_bytes(fs, hp, (json.dumps(payload) + "\n").encode(), overwrite=True)


def delta_emit_checksums(spark: SparkSession, path: str) -> int:
    """Write the VERSION_CHECKSUM sidecar for every retained version
    that lacks one; returns how many were emitted."""
    fs, _, jvm = _hadoop_fs(spark, path)
    emitted = 0
    for v in _list_versions(spark, path):
        hp = jvm.org.apache.hadoop.fs.Path(_crc_file(path, v))
        if fs.exists(hp):
            continue
        _write_crc(spark, path, v, _snapshot_crc_payload(spark, path, v))
        emitted += 1
    return emitted


def delta_verify_checksums(spark: SparkSession, path: str) -> list[dict]:
    """Validate every version's ``.crc`` against the snapshot
    reconstructed from the log: [(version, present, valid, num_files)].
    Valid = size, file count, metadata id, and protocol all match —
    the delta-spark state-validation contract."""
    fs, _, jvm = _hadoop_fs(spark, path)
    rows = []
    for v in _list_versions(spark, path):
        crc = _crc_file(path, v)
        hp = jvm.org.apache.hadoop.fs.Path(crc)
        want = _snapshot_crc_payload(spark, path, v)
        if not fs.exists(hp):
            rows.append(
                {
                    "version": v,
                    "present": False,
                    "valid": False,
                    "num_files": want["numFiles"],
                }
            )
            continue
        stored = json.loads(_read_text(spark, crc))
        valid = (
            stored.get("tableSizeBytes") == want["tableSizeBytes"]
            and stored.get("numFiles") == want["numFiles"]
            and (stored.get("metadata") or {}).get("id")
            == (want["metadata"] or {}).get("id")
            and stored.get("protocol") == want["protocol"]
        )
        rows.append(
            {
                "version": v,
                "present": True,
                "valid": valid,
                "num_files": want["numFiles"],
            }
        )
    return rows


def delta_native_version_checksum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VERSION_CHECKSUM lifecycle: a four-commit table (write, append,
    DELETE, OPTIMIZE) gets a ``.crc`` sidecar per version; every
    sidecar must validate against the log-reconstructed snapshot, and
    a deliberately corrupted v1 sidecar must FAIL validation while
    every other version still passes — the tamper-detection contract,
    asserted in-query. Output: per version, the snapshot row count and
    the 1/0 validity before and after the tamper."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_delta_crc_")
    delta_write(n, path, mode="overwrite")  # v0
    delta_write(n.where("n_regionkey = 0"), path, mode="append")  # v1
    delta_delete(spark, path, "n_nationkey % 2 = 0")  # v2
    delta_optimize(spark, path)  # v3
    emitted = delta_emit_checksums(spark, path)
    before = delta_verify_checksums(spark, path)
    if emitted != len(before) or not all(r["valid"] for r in before):
        raise AssertionError(
            f"fresh checksums must all validate: emitted={emitted}, "
            f"rows={before}"
        )
    _write_crc(
        spark,
        path,
        1,
        {
            "tableSizeBytes": -1,
            "numFiles": 999,
            "numMetadata": 1,
            "numProtocol": 1,
        },
    )
    after = {r["version"]: r for r in delta_verify_checksums(spark, path)}
    rows = []
    for r in before:
        v = r["version"]
        n_rows = delta_read(spark, path, version=v).count()
        rows.append(
            (
                v,
                n_rows,
                1 if r["valid"] else 0,
                1 if after[v]["valid"] else 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "version bigint, n_rows bigint, crc_valid bigint,"
        " crc_valid_after_tamper bigint",
    ).orderBy("version")


# --- Domain metadata (PROTOCOL.md ``domainMetadata`` action) ----------------
# Per-domain string configuration owned by the writer that sets it —
# delta-spark keeps liquid-clustering keys and row-tracking watermarks
# here. Writer feature "domainMetadata" (table-features v7); readers
# ignore domains they don't understand, so there is no reader gate.
_DOMAIN_FEATURE = "domainMetadata"
_SYSTEM_DOMAIN_PREFIX = "delta."


def delta_domain_metadata(
    spark: SparkSession, path: str, version: int | None = None
) -> dict[str, str]:
    """The snapshot's LIVE domain metadata: {domain: configuration}.
    Same fold shape as the main snapshot resolution (newest checkpoint ≤
    version + the JSON/compacted tail) but touching ONLY the
    domainMetadata column/actions — a dedicated accessor, so the
    40-call-site (protocol, meta, live, txns) tuple stays put. Removed
    domains are absent, exactly like a dropped key."""
    import io as _io

    import pyarrow.parquet as pq

    target, ck, start = _fold_range(spark, path, version)
    if target is None:
        raise ValueError(f"no delta table at {path}")
    domains: dict[str, str] = {}
    if ck is not None:
        # This engine's own checkpoints put domains in the metadata part
        # (file [0]) like protocol/metaData/txn, but a foreign
        # delta-spark multi-part classic checkpoint distributes actions
        # across parts with no placement contract — so fold EVERY part
        # whose schema carries the column (a footer read per part;
        # skipped parts cost no data I/O). Within one checkpoint a
        # domain appears at most once (it holds the reconciled state),
        # so part order can't change the fold.
        for f in _checkpoint_files(spark, path, ck):
            buf = _io.BytesIO(_read_raw_bytes(spark, f))
            if "domainMetadata" not in pq.read_schema(buf).names:
                continue
            buf.seek(0)
            for row in (
                pq.read_table(buf, columns=["domainMetadata"]).to_pylist()
            ):
                dm = row.get("domainMetadata")
                if dm is None or dm.get("domain") is None:
                    continue
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration")
    for file, _v in _tail_plan(spark, path, start, target):
        for line in _read_log_text_immutable(spark, file).splitlines():
            dm = json.loads(line).get("domainMetadata")
            if dm is None:
                continue
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration")
    return domains


def delta_enable_in_commit_timestamps(spark: SparkSession, path: str) -> int:
    """Opt the table into PROTOCOL in-commit timestamps (writer feature
    ``inCommitTimestamp``, table-features v7; delta-spark's
    ``delta.enableInCommitTimestamps``): one commit carrying the
    protocol upgrade, the enabling table property, and the enablement
    provenance the protocol prescribes (enablement version — so readers
    know timestamps BEFORE it come from file-modification semantics).
    The enablement commit itself is the first to carry
    ``commitInfo.inCommitTimestamp`` (the _write_commit stamp is sticky
    from here on); this engine's monotonicity guarantee
    (``max(now, prev+1)``) already satisfies the feature's ordering
    requirement. Returns the enablement commit version; idempotent."""

    def mutate(read_version: int, proto, meta: dict) -> list:
        if _ICT_FEATURE in _features(proto)[1]:
            return []
        conf = {
            **(meta.get("configuration") or {}),
            "delta.enableInCommitTimestamps": "true",
            "delta.inCommitTimestampEnablementVersion": str(read_version + 1),
        }
        return [
            _protocol(proto, meta, add={_ICT_FEATURE}),
            {"metaData": {**meta, "configuration": conf}},
        ]

    return _commit_metadata_change(spark, path, "UPGRADE PROTOCOL", mutate)


def _commit_domain_action(
    spark: SparkSession, path: str, dm: dict, op: str
) -> int:
    def mutate(read_version: int, proto, meta: dict) -> list:
        # removing an absent domain is refused loudly — a silent no-op
        # here would hide a caller racing its own earlier removal
        if dm["removed"] and dm["domain"] not in delta_domain_metadata(
            spark, path, read_version
        ):
            raise ValueError(f"domain {dm['domain']!r} not present at {path}")
        return [_protocol(proto, meta, add={_DOMAIN_FEATURE}), {"domainMetadata": dm}]

    return _commit_metadata_change(spark, path, op, mutate)


def delta_set_domain_metadata(
    spark: SparkSession, path: str, domain: str, configuration: str
) -> int:
    """SET a metadata domain (create or replace its configuration
    string) as one commit. ``delta.``-prefixed domains are
    system-controlled (the protocol reserves them for table features);
    user writes there are refused — exactly delta-spark's rule."""
    if domain.startswith(_SYSTEM_DOMAIN_PREFIX):
        raise ValueError(
            f"domain {domain!r} is system-controlled "
            f"({_SYSTEM_DOMAIN_PREFIX}* is reserved for table features)"
        )
    dm = {"domain": domain, "configuration": configuration, "removed": False}
    return _commit_domain_action(spark, path, dm, "SET DOMAIN METADATA")


def delta_remove_domain_metadata(
    spark: SparkSession, path: str, domain: str
) -> int:
    """REMOVE a metadata domain: commits a removed=true tombstone (the
    reconciliation artifact later folds retract on). Removing an absent
    domain is refused."""
    if domain.startswith(_SYSTEM_DOMAIN_PREFIX):
        raise ValueError(
            f"domain {domain!r} is system-controlled "
            f"({_SYSTEM_DOMAIN_PREFIX}* is reserved for table features)"
        )
    dm = {"domain": domain, "configuration": None, "removed": True}
    return _commit_domain_action(spark, path, dm, "REMOVE DOMAIN METADATA")


def delta_row_count_from_stats(
    spark: SparkSession, path: str, version: int | None = None
) -> int | None:
    """Snapshot row count from the log's per-file ``numRecords`` stats —
    NO data scan: the answer lives in the add actions, which is how
    delta-spark serves ``COUNT(*)`` on a stats-complete table. Returns
    None when any live file lacks stats (caller falls back to a scan);
    an empty table is 0."""
    adds = delta_snapshot_adds_df(spark, path, version).select(
        F.get_json_object("stats", "$.numRecords").alias("n")
    )
    agg = adds.agg(
        F.count(F.lit(1)).alias("files"),
        F.count("n").alias("with_stats"),
        F.sum(F.col("n").cast("long")).alias("rows"),
    ).head()
    if agg["files"] != agg["with_stats"]:
        return None
    return int(agg["rows"] or 0)


def delta_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_filter: dict[str, str] | None = None,
    range_filter: dict[str, tuple] | None = None,
    timestamp: int | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """Snapshot read; ``partition_filter`` prunes files from the LOG's
    partitionValues and ``range_filter`` ({col: (lo, hi)}) skips files
    whose footer min/max stats cannot intersect — both are pure metadata
    folds; skipped files are never listed or opened. ``range_filter`` is
    advisory (files without stats always survive): callers keep their row
    predicate, skipping only removes provably-irrelevant files. The scan
    always applies the snapshot's metaData schema, so files written
    before a schema evolution read back with typed nulls in the
    evolution-added columns. ``timestamp`` (ms) is TIMESTAMP AS OF —
    resolved to the newest version at or before it. ``row_ids`` (row-
    tracked tables only) appends the stable ``_row_id`` column —
    ``coalesce(materialized id, baseRowId + row_index)``."""
    from pyspark.sql.types import StructType

    if timestamp is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp, not both")
        version = _version_at_timestamp(spark, path, timestamp)

    meta, live = _snapshot_live_for_read(
        spark, path, version, partition_filter, range_filter
    )
    adds = sorted(live.items())
    # on the distributed fold the filters below were already pushed into
    # the Spark job; re-applying them to the collected survivors is an
    # idempotent no-op
    if partition_filter:
        adds = [
            (f, a)
            for f, a in adds
            if all(
                a.get("partitionValues", {}).get(k) == v
                for k, v in partition_filter.items()
            )
        ]
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    if range_filter:
        # generated-partition-column pruning: a range on a BASE column
        # derives partition-value bounds on any monotone-generated
        # partition column (ISO strings compare lexicographically)
        for g, (glo, ghi) in _derived_partition_bounds(
            spark, meta, range_filter
        ).items():
            adds = [
                (f, a)
                for f, a in adds
                if a.get("partitionValues", {}).get(g) is None
                or glo <= a["partitionValues"][g] <= ghi
            ]
        adds = _stats_skip(adds, meta, range_filter)
    if row_ids and not _rt_enabled(meta):
        raise ValueError(
            f"row_ids read of {path}: table does not enable "
            f"{_RT_ENABLE_KEY}"
        )
    if not adds:
        # a fully-retracted or fully-pruned snapshot is a VALID empty
        # table — reconstruct its schema from metaData, don't error
        empty = spark.createDataFrame([], _logical_schema(meta))
        if row_ids:
            empty = empty.withColumn(_RT_COL, F.lit(None).cast("long"))
        return empty
    has_dv = any(a.get("deletionVector") for _, a in adds)
    # scan with the on-file (physical) schema, project to logical names;
    # with DVs, carry the scan-position metadata columns and anti-join
    # away deleted positions (broadcast DV side, no fact-side shuffle)
    scan = _physical_scan(
        spark,
        path,
        meta,
        [f for f, _ in adds],
        with_position=has_dv or row_ids,
        with_row_col=row_ids,
    )
    if has_dv:
        scan = _dv_anti_filter(spark, path, scan, adds)
    if row_ids:
        scan = _rt_attach(spark, scan, adds)
        return scan.select(*[l for _, l in _cm_pairs(meta)], _RT_COL)
    # re-project to the metaData column order so the snapshot's schema
    # contract holds exactly (zero-cost projection)
    return scan.select(*[l for _, l in _cm_pairs(meta)])


def _live_stats_cols(adds) -> list[str]:
    """The (physical) columns whose min/max stats the live adds carry —
    a layout rewrite must re-stamp the SAME skipping surface, or every
    post-compaction range read silently loses its pruning."""
    keys: set[str] = set()
    for a in adds:
        st = a.get("stats")
        if st:
            keys |= set(json.loads(st).get("minValues", {}))
    return sorted(keys)


def _scope_partition_predicate(
    spark: SparkSession, meta: dict, live: dict, where
) -> dict:
    """Resolve an arbitrary partition predicate (delta-spark's
    ``OPTIMIZE t WHERE part >= x`` scope) to the matching subset of the
    live add set. Metadata-scale: the DISTINCT partition tuples (never
    the data) become a local DataFrame, each value cast to its schema
    type, and Spark evaluates the predicate — so any expression the
    engine can type-check over partition columns works (ranges, IN,
    arithmetic). A predicate naming a non-partition column fails
    resolution loudly. NULL predicate results are out of scope (SQL
    three-valued logic), matching the replaceWhere remainder rule."""
    part_cols = meta.get("partitionColumns") or []
    if not part_cols:
        raise ValueError(
            "a partition-predicate scope requires a partitioned table"
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    groups: dict[tuple, list[str]] = {}
    for f, a in live.items():
        pv = a.get("partitionValues") or {}
        groups.setdefault(
            tuple(pv.get(c) for c in part_cols), []
        ).append(f)
    if not groups:
        return {}
    pdf = spark.createDataFrame(
        [tuple(t) for t in groups],
        schema=", ".join(f"`{c}` string" for c in part_cols),
    )
    matched = (
        pdf.select(
            *[
                F.col(c).cast(schema[c].dataType).alias(c)
                for c in part_cols
            ],
            F.struct(*part_cols).alias("__raw"),
        )
        .where(_coerce_predicate(where))
        .select("__raw")
        .collect()
    )
    hit = {tuple(r["__raw"]) for r in matched}
    # map matched TYPED tuples back through their raw-string identity:
    # the struct carries the typed values, so re-derive membership by
    # casting each raw tuple the same way locally is avoided — instead
    # keep raw strings inside the struct via a second projection
    scope: dict = {}
    for raw, files in groups.items():
        if raw in hit:
            for f in files:
                scope[f] = live[f]
    return scope


def delta_optimize(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    partition_filter: dict[str, str] | None = None,
    where=None,
) -> int:
    """Compaction (Delta OPTIMIZE): rewrite the live file set into
    ``target_files`` larger files and commit add+remove with
    ``dataChange: false`` — the snapshot's ROWS are unchanged, only the
    layout, which is what lets streaming readers skip these commits.
    At 100 TB this is the small-file antidote: read-side file count (and
    task count) drops by orders of magnitude while MVCC keeps old
    versions readable.

    ``partition_filter`` ({col: value}) is delta-spark's scoped
    ``OPTIMIZE t WHERE part = x``: only matching partitions' files are
    read, rewritten, and removed — the rest of the table is untouched,
    which is what makes nightly compaction of just-landed partitions
    affordable on a table whose history spans years. ``where`` is the
    GENERAL form of the same scope — any Spark-resolvable predicate
    over partition columns (``"part >= 2"``, ``"part IN (1,3)"``),
    resolved at metadata scale against the distinct partition tuples
    (delta-spark accepts the same arbitrary partition predicates on
    OPTIMIZE). Partitioned
    tables keep their hive layout and partitionValues through the
    rewrite (a compaction that drops them silently breaks every later
    partition-pruned read)."""
    t0 = time.perf_counter()
    # ONE snapshot for both the rewrite source and the remove list —
    # resolving them at different times would let a concurrent append's
    # file land in the removes without its rows in the rewrite
    snap, _, meta, live, _ = _snapshot_at(spark, path)
    if snap is None:
        raise ValueError(f"no delta table at {path}")
    if where is not None and partition_filter:
        raise ValueError(
            "pass either partition_filter (equality dict) or where "
            "(arbitrary partition predicate), not both"
        )
    if where is not None:
        scope = _scope_partition_predicate(spark, meta, live, where)
    elif partition_filter:
        unknown = set(partition_filter) - set(meta.get("partitionColumns") or ())
        if unknown:
            raise ValueError(
                f"OPTIMIZE scope names non-partition columns: "
                f"{sorted(unknown)}"
            )
        scope = {
            f: a
            for f, a in live.items()
            if all(
                (a.get("partitionValues") or {}).get(k) == str(v)
                for k, v in partition_filter.items()
            )
        }
    else:
        scope = dict(live)
    if not scope:
        return snap  # nothing in scope: no-op, no commit
    # row-tracked tables compact WITH their stable ids and materialize
    # them into the compacted files — OPTIMIZE must not renumber rows
    current = _read_affected_files(spark, path, meta, live, sorted(scope))
    return _rewrite(
        spark, path, "OPTIMIZE", snap, meta, live, sorted(scope),
        current.coalesce(target_files), t0=t0, layout=True, abort=True,
    )


_OPT_WRITE_KEY = "delta.autoOptimize.optimizeWrite"
_AUTO_COMPACT_KEY = "delta.autoOptimize.autoCompact"
AUTO_COMPACT_MIN_FILES = 4
AUTO_COMPACT_MAX_SIZE = 16 * 1024 * 1024  # files below this are "small"


def delta_optimize_small(
    spark: SparkSession,
    path: str,
    max_file_size: int = AUTO_COMPACT_MAX_SIZE,
    min_num_files: int = AUTO_COMPACT_MIN_FILES,
) -> int | None:
    """Auto-compaction's kernel (delta-spark's
    ``delta.autoOptimize.autoCompact``): when at least ``min_num_files``
    live files are smaller than ``max_file_size``, rewrite ONLY those
    small files into one file per partition directory and commit with
    ``dataChange: false`` — large files are never touched (the contrast
    with full OPTIMIZE, which rewrites the whole live set). DV-carrying
    small files materialize their deletion vectors; row-tracked tables
    keep stable ids. Returns the committed version, or None when below
    the threshold (no commit — the no-op must be free, it runs after
    every write)."""
    t0 = time.perf_counter()
    snap, _, meta, live, _ = _snapshot_at(spark, path)
    if snap is None:
        raise ValueError(f"no delta table at {path}")
    small = sorted(
        f
        for f, a in live.items()
        if int(a.get("size", 0)) < max_file_size and not _is_absolute_ref(f)
    )
    if len(small) < min_num_files:
        return None
    rows = _read_affected_files(spark, path, meta, live, small)
    part_cols = meta.get("partitionColumns") or None
    # one output file per partition dir (the compaction target); for an
    # unpartitioned table that is exactly one file
    rows = rows.repartition(*part_cols) if part_cols else rows.coalesce(1)
    return _rewrite(
        spark, path, "auto-OPTIMIZE", snap, meta, live, small, rows,
        t0=t0, layout=True,
    )


def _post_commit_auto_compact(spark: SparkSession, path: str, meta: dict) -> None:
    """Best-effort post-commit hook (same doctrine as _auto_checkpoint:
    the write already durably succeeded, so a failing compaction must
    warn, not raise)."""
    if str((meta.get("configuration") or {}).get(_AUTO_COMPACT_KEY, "")).lower() != "true":
        return
    import warnings

    try:
        delta_optimize_small(spark, path)
    except DeltaConcurrentModification:
        pass  # a racing writer landed first; its own hook will compact
    except Exception as exc:  # noqa: BLE001 — commit already durable
        warnings.warn(
            f"delta auto-compaction of {path} failed ({exc!r}); the table "
            "stays correct, only the small-file layout remains"
        )


def delta_clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE: create a new Delta table at ``dst`` whose v0
    references the source snapshot's data files (and DV storage units)
    IN PLACE by absolute URI — a zero-copy table copy (delta-spark's
    CREATE TABLE ... SHALLOW CLONE). The clone then evolves
    independently: appends/DML/OPTIMIZE land new files under the clone
    dir and retire absolute references; the source never sees any of
    it. Protocol, schema, configuration (and so constraints, CDF,
    column mapping, generated/identity specs) carry over; the clone
    gets a fresh table id. Standard hazard applies: VACUUM on the
    SOURCE can reap files a shallow clone still references."""
    proto, meta, live, _ = _snapshot_state(spark, src, version)
    if meta is None:
        raise ValueError(f"no delta table at {src}")
    if meta.get("partitionColumns"):
        raise ValueError(
            "shallow clone of a partitioned table is not supported "
            "(partition values are directory-discovered, which needs a "
            "single basePath)"
        )
    if _list_versions(spark, dst):
        raise ValueError(f"clone destination {dst} is already a delta table")
    fs, src_path, _jvm = _hadoop_fs(spark, src)
    base_uri = str(fs.makeQualified(src_path).toUri())
    now = int(time.time() * 1000)
    actions: list[dict] = [
        _commit_info("CLONE"),
        {"protocol": dict(proto or _PROTOCOL)},
        {
            "metaData": {
                **meta,
                "id": uuid.uuid4().hex,
                "createdTime": now,
            }
        },
    ]
    for f, a in sorted(live.items()):
        add = dict(a)
        add["path"] = f if _is_absolute_ref(f) else f"{base_uri}/{f}"
        dv = add.get("deletionVector")
        if dv and not _is_absolute_ref(dv["pathOrInlineDv"]):
            # absolute-path descriptor (protocol storageType "p")
            add["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": f"{base_uri}/{dv['pathOrInlineDv']}",
            }
        add["dataChange"] = True
        actions.append({"add": add})
    return _commit(spark, dst, None, actions)


def delta_deep_clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
) -> int:
    """DEEP CLONE: materialize the source snapshot's data files INTO
    the clone directory (delta-spark's ``CREATE TABLE ... CLONE src``
    without SHALLOW) — the transportable copy: v0 references RELATIVE
    paths to bytes the clone owns, so a later VACUUM on the source
    cannot strand it (the shallow clone's standing hazard), and the
    whole directory can be moved across filesystems. Partitioned
    tables keep their relative layout (the shallow clone's basePath
    restriction does not apply); DV storage units are copied alongside
    and keep their relative descriptors. Protocol, schema and
    configuration carry over; the clone gets a fresh table id and
    evolves independently.

    Copies go through the Hadoop FileSystem API (works on viewfs:// /
    kerberized hdfs://); at 100 TB the byte copy IS the cost — same
    tradeoff as delta-spark, which distributes the copy; here the
    driver loop is file-count-bound (metadata-scale for the tables this
    engine authors; swap in a parallelized foreachPartition copy if a
    million-file table ever needs it)."""
    proto, meta, live, _ = _snapshot_state(spark, src, version)
    if meta is None:
        raise ValueError(f"no delta table at {src}")
    if _list_versions(spark, dst):
        raise ValueError(f"clone destination {dst} is already a delta table")
    sfs, spath, jvm = _hadoop_fs(spark, src)
    dfs, dpath, _ = _hadoop_fs(spark, dst)
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    futil = jvm.org.apache.hadoop.fs.FileUtil

    def _copy(rel_or_abs: str, dst_rel: str) -> None:
        s = (
            jvm.org.apache.hadoop.fs.Path(rel_or_abs)
            if _is_absolute_ref(rel_or_abs)
            else jvm.org.apache.hadoop.fs.Path(spath, rel_or_abs)
        )
        d = jvm.org.apache.hadoop.fs.Path(dpath, dst_rel)
        if not futil.copy(s.getFileSystem(conf), s, dfs, d, False, conf):
            raise RuntimeError(f"deep clone failed copying {rel_or_abs}")

    now = int(time.time() * 1000)
    actions: list[dict] = [
        _commit_info("CLONE"),
        {"protocol": dict(proto or _PROTOCOL)},
        {
            "metaData": {
                **meta,
                "id": uuid.uuid4().hex,
                "createdTime": now,
            }
        },
    ]
    copied_dvs: set[str] = set()
    # absolute refs collapse to clone-root names; two absolute refs from
    # different source dirs can share a basename, so claimed names are
    # tracked (pre-seeded with the relative live set) and collisions get
    # a source-path-hash prefix instead of a failed/overwriting copy
    taken: set[str] = {f for f in live if not _is_absolute_ref(f)}
    abs_dest: dict[str, str] = {}

    def _dest_name(ref: str) -> str:
        if ref in abs_dest:
            return abs_dest[ref]
        import hashlib

        name = ref.rsplit("/", 1)[-1]
        if name in taken:
            name = (
                hashlib.sha256(ref.encode()).hexdigest()[:8] + "-" + name
            )
        taken.add(name)
        abs_dest[ref] = name
        return name

    for f, a in sorted(live.items()):
        add = dict(a)
        # an absolute ref (source was itself a shallow clone) lands as
        # a fresh relative file named by its (disambiguated) basename at
        # the clone root; relative refs keep their (partitioned) layout
        rel = f if not _is_absolute_ref(f) else _dest_name(f)
        _copy(f, rel)
        add["path"] = rel
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") != "i":
            ref = dv["pathOrInlineDv"]
            if _DV_DIR in ref:
                # native parquet row-set unit (literal path, possibly
                # absolute if the source was itself a shallow clone):
                # copy to its _deletion_vectors/-rooted relative tail
                rel = ref[ref.index(_DV_DIR) :]
                if rel not in copied_dvs:
                    _copy(ref, rel)
                    copied_dvs.add(rel)
                add["deletionVector"] = {
                    **dv,
                    "storageType": "u",
                    "pathOrInlineDv": rel,
                }
            elif dv["storageType"] == "u":
                # wire-format uuid descriptor: the same descriptor
                # derives the same relative .bin name in the clone
                from .dv_codec import dv_unique_filename

                prefix, name = dv_unique_filename(ref)
                rel = f"{prefix}/{name}" if prefix else name
                if rel not in copied_dvs:
                    _copy(rel, rel)
                    copied_dvs.add(rel)
            else:
                # wire-format absolute path: copy the .bin and re-point
                # absolutely INTO the clone (protocol: "p" is absolute);
                # basenames disambiguate through the same registry as
                # collapsed data refs
                name = _dest_name(ref)
                if name not in copied_dvs:
                    _copy(ref, name)
                    copied_dvs.add(name)
                dst_base = str(dfs.makeQualified(dpath).toUri())
                add["deletionVector"] = {
                    **dv,
                    "pathOrInlineDv": f"{dst_base}/{name}",
                }
        add["dataChange"] = True
        actions.append({"add": add})
    return _commit(spark, dst, None, actions)


def delta_optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_files: int = 8,
    bits: int | None = None,
    incremental: bool = False,
    _allow_single: bool = False,
    curve: str = "morton",
) -> int:
    """OPTIMIZE ... ZORDER BY (col_1, ..., col_n): rewrite the live set
    clustered on the N-dim Morton interleave of the keys, so per-file
    min/max stats become tight hyper-rectangles in EVERY listed
    dimension and ``range_filter`` skips files for predicates on ANY of
    them — the multi-dimensional upgrade of plain compaction. Same
    dataChange=false MVCC discipline as delta_optimize (layout-only;
    streaming readers skip it; deletion vectors are materialized away
    by the rewrite). Bit-interleave is pure column arithmetic
    (whole-stage codegen) and the write is one range exchange on the
    z-value. ``bits`` defaults to the finest per-dimension resolution
    that fits the 62-bit z-lane (16 for 2–3 cols, 15 for 4, ...).

    Every clustered file is stamped with a ZCube id + column spec in
    ``add.tags`` (the PROTOCOL.md metadata map — delta-spark's own
    OPTIMIZE bookkeeping location). ``incremental=True`` then rewrites
    ONLY the files outside a matching cube — freshly appended files,
    files clustered on a different column list, and DV-carrying files
    (their row set changed) — and is a zero-commit no-op when nothing
    qualifies. At 100 TB this is what makes re-clustering after daily
    appends O(new data) instead of O(table): delta-spark's ZCube
    design, reproduced on the native log.

    ``curve="hilbert"`` swaps the Morton interleave for the Hilbert
    curve (2 columns only — the stepwise xy2d in sources/layout.py):
    adjacent-cell traversal cuts tighter per-file rectangles than
    Morton's quadrant jumps, which is the curve liquid clustering
    actually uses. Same normalization, range exchange, ZCube tags
    (the spec records the curve so incremental re-clustering never
    mixes cube kinds) and MVCC discipline."""
    from .layout import with_hilbert_key, zorder_key_n

    if curve not in ("morton", "hilbert"):
        raise ValueError(f"unknown clustering curve: {curve!r}")
    if curve == "hilbert" and len(cols) != 2:
        raise ValueError(
            "hilbert clustering interleaves exactly 2 columns"
        )

    # public ZORDER keeps delta-spark's contract: interleaving needs ≥2
    # dimensions (a 1-column "z-order" is plain range clustering — that
    # is exactly what liquid clustering's single-key case wants, so
    # delta_optimize_clustered opts in via _allow_single; direct callers
    # asking to ZORDER one column almost certainly meant OPTIMIZE or
    # forgot a key, and get told so)
    if len(cols) < (1 if _allow_single else 2):
        raise ValueError(
            "zorder needs at least 1 column"
            if _allow_single
            else "zorder needs at least 2 columns (one-column clustering "
            "is plain range layout — use CLUSTER BY or compaction)"
        )
    t0 = time.perf_counter()
    if bits is None:
        bits = min(16, 62 // len(cols))
    snap, _, meta, live, _ = _snapshot_at(spark, path)
    if snap is None:
        raise ValueError(f"no delta table at {path}")
    zcube_spec = (
        json.dumps(list(cols))
        if curve == "morton"
        else json.dumps({"curve": curve, "cols": list(cols)})
    )
    if incremental:
        rewrite = {
            f: a
            for f, a in live.items()
            if (a.get("tags") or {}).get("ZCUBE_ZORDER_BY") != zcube_spec
            or a.get("deletionVector")
        }
        if not rewrite:
            return snap  # fully clustered — nothing to commit
    else:
        rewrite = dict(live)
    current = _read_affected_files(spark, path, meta, live, sorted(rewrite))
    # normalize each key to the full bit range before interleaving —
    # raw keys of different magnitudes would let the wider key's high
    # bits dominate every z prefix and the narrow key would never
    # cluster (Delta's ZCube building does the same range-normalization
    # via its range-partition ids). Min/max is one metadata-sized agg.
    bounds = current.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1

    def _norm(i: int, c: str):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        if mn is None or mx is None or mx == mn:
            return F.lit(0).cast("long")
        return F.expr(
            f"CAST((CAST({c} AS BIGINT) - {mn}) * {top} DIV {mx - mn} "
            "AS BIGINT)"
        )

    if curve == "hilbert":
        keyed = with_hilbert_key(
            current.withColumn("__c0", _norm(0, cols[0])).withColumn(
                "__c1", _norm(1, cols[1])
            ),
            "__c0",
            "__c1",
            bits,
            out="__z",
        ).drop("__c0", "__c1")
    else:
        keyed = current.withColumn(
            "__z", zorder_key_n([_norm(i, c) for i, c in enumerate(cols)], bits)
        )
    clustered = (
        keyed.repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    # the table's stats surface plus the clustering keys: per-file
    # rectangles in every listed dimension, and range skipping on the
    # columns the table already had stats for
    return _rewrite(
        spark,
        path,
        "OPTIMIZE ZORDER" if curve == "morton" else "OPTIMIZE HILBERT",
        snap,
        meta,
        live,
        sorted(rewrite),
        clustered,
        t0=t0,
        layout=True,
        abort=True,
        cluster_cols=cols,
        tags={"ZCUBE_ID": uuid.uuid4().hex, "ZCUBE_ZORDER_BY": zcube_spec},
    )


# --- Liquid-clustering-style CLUSTER BY -------------------------------------
# The modern public replacement for explicit OPTIMIZE ZORDER: clustering
# keys are TABLE METADATA, writes stay cheap, and OPTIMIZE incrementally
# clusters only not-yet-clustered files (no full rewrites on append).
# Divergence from delta-spark, following this module's row-tracking
# precedent: the protocol's `clustering` feature keys its column list
# off a domainMetadata action; this engine keeps it in
# metaData.configuration. Generic domainMetadata IS now fully supported
# (commit API, fold, checkpoint restatement — see delta_domain_metadata),
# but the clustering keys stay in configuration for compatibility with
# this engine's own earlier tables, and the writer feature stays
# vendor-scoped: declaring the standard name would let a delta-spark
# OPTIMIZE accept the table, look for the `delta.clustering` DOMAIN,
# find none, and silently treat it as unclustered. Foreign writers
# refuse cleanly instead; readers are unaffected since clustering is
# layout-only.
_CLUSTER_KEY = "lakesail.clusteringColumns"
_CLUSTER_FEATURE = "lakesailClustering"


def delta_clustering_columns(meta: dict | None) -> list[str] | None:
    """The table's clustering column list, or None when not clustered."""
    raw = ((meta or {}).get("configuration") or {}).get(_CLUSTER_KEY)
    return json.loads(raw) if raw else None


def delta_cluster_by(
    spark: SparkSession, path: str, cols: list[str] | None
) -> int:
    """ALTER TABLE ... CLUSTER BY (liquid clustering): record the
    clustering key list as table metadata (``CLUSTER BY NONE`` with
    ``cols=None``) and declare the writer feature. Layout changes
    happen LATER, in ``delta_optimize_clustered`` — this commit is
    metadata-only, which is what makes re-keying a 100 TB table free
    until the next maintenance OPTIMIZE. Hive-partitioned tables are
    refused (clustering and directory partitioning are mutually
    exclusive, as in delta-spark)."""

    def mutate(_v, proto, meta: dict) -> list:
        conf = dict(meta.get("configuration") or {})
        if not cols:
            conf.pop(_CLUSTER_KEY, None)
            return [{"metaData": {**meta, "configuration": conf}}]
        if meta.get("partitionColumns"):
            raise ValueError(
                "CLUSTER BY is incompatible with hive partitioning — "
                "a table has one layout authority"
            )
        names = [
            f["name"] for f in json.loads(meta["schemaString"])["fields"]
        ]
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"clustering columns not in schema: {missing}")
        conf[_CLUSTER_KEY] = json.dumps(list(cols))
        return [
            _protocol(proto, meta, add={_CLUSTER_FEATURE}),
            {"metaData": {**meta, "configuration": conf}},
        ]

    return _commit_metadata_change(spark, path, "CLUSTER BY", mutate)


def delta_optimize_clustered(
    spark: SparkSession,
    path: str,
    target_files: int = 8,
    bits: int | None = None,
) -> int:
    """OPTIMIZE on a CLUSTER BY table: read the clustering keys from
    table metadata and incrementally cluster ONLY the files outside a
    matching ZCube — fresh appends, files clustered under a previous
    key list, DV-carrying files. A fully-clustered table is a
    zero-commit no-op. This is the liquid-clustering maintenance loop:
    appends stay cheap, every OPTIMIZE is O(new data), and changing the
    keys (delta_cluster_by) naturally re-clusters everything on the
    next pass because the stale cube spec no longer matches."""
    _, meta, _, _ = _snapshot_state(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    cols = delta_clustering_columns(meta)
    if not cols:
        raise ValueError(
            f"{path} has no clustering columns — run delta_cluster_by first"
        )
    return delta_optimize_zorder(
        spark, path, cols, target_files=target_files, bits=bits,
        incremental=True, _allow_single=True,
    )


def delta_generate_manifest(spark: SparkSession, path: str) -> list[str]:
    """``GENERATE symlink_format_manifest`` (delta-spark's command for
    Presto/Trino/Athena interop): write text manifests listing the
    snapshot's live data files by absolute URI — one manifest per
    partition directory (a single root manifest for unpartitioned
    tables) under ``_symlink_format_manifest/``. Pure metadata: the
    manifest is the live set the log fold already holds. Returns the
    manifest relative paths.

    Refused when any live file carries a deletion vector — a symlink
    consumer reads raw parquet and would resurrect DV-deleted rows;
    OPTIMIZE first (it materializes the DVs), then regenerate."""
    _, meta, live, _ = _snapshot_state(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    if any(a.get("deletionVector") for a in live.values()):
        raise ValueError(
            "cannot generate a symlink manifest while deletion vectors "
            "are live (symlink consumers read raw files); run "
            "delta_optimize first"
        )
    fs, table_path, jvm = _hadoop_fs(spark, path)
    # regenerate from scratch: a partition whose files all disappeared
    # since the last GENERATE must lose its manifest, or a symlink
    # consumer keeps reading retired/vacuumed files
    stale = jvm.org.apache.hadoop.fs.Path(f"{path}/_symlink_format_manifest")
    if fs.exists(stale):
        fs.delete(stale, True)
    base_uri = str(fs.makeQualified(table_path).toUri())
    part_cols = meta.get("partitionColumns") or []
    groups: dict[str, list[str]] = {}
    for f, a in live.items():
        uri = f if _is_absolute_ref(f) else f"{base_uri}/{f}"
        subdir = ""
        if part_cols:
            pv = a.get("partitionValues", {})
            subdir = "/".join(f"{c}={pv.get(c)}" for c in part_cols)
        groups.setdefault(subdir, []).append(uri)
    out = []
    for subdir, uris in groups.items():
        rel = (
            "_symlink_format_manifest"
            + (f"/{subdir}" if subdir else "")
            + "/manifest"
        )
        _write_bytes(
            fs,
            jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}"),
            ("\n".join(sorted(uris)) + "\n").encode(),
            overwrite=True,  # regenerate-in-place semantics
        )
        out.append(rel)
    return sorted(out)


# FULL-vacuum distributed path: the recursive listing streams through
# the driver in bounded chunks of this many paths, each anti-joined as a
# Spark job against the cached live set — driver peak memory is one
# chunk + the reclaim set, never the full candidate list. Separate knob
# from _DIST_FOLD_ROWS so tests can force multi-chunk flushes cheaply.
_VACUUM_CHUNK_ROWS = _DIST_FOLD_ROWS


def _inventory_rel_col(base_uri) -> "F.Column":
    """Canonical table-relative path for an inventory ``path`` row, as a
    Column — NULL means "not this table's file, ignore".

    Inventory reports are CALLER data: rows arrive absolute
    (``file:/t/x``, ``file:///t/x``, ``/t/x``) or table-relative, and a
    sloppy-but-resolvable row (``./part.parquet``, ``p=1//part.parquet``,
    ``sub/../part.parquet``) must still match the canonical add-action
    path of a LIVE file — a raw string membership test would miss it and
    DELETE live data (the r14 advice finding). So: strip a matching
    qualified/scheme-less table-root prefix (an absolute row matching no
    prefix is outside the root → NULL; this also stops a scheme'd row
    for a FOREIGN table from being resolved against this table's root),
    then normalize segments — drop ``''``/``.``, fold ``..`` against a
    stack, and refuse paths that escape the root.
    """
    base_str = str(base_uri)
    base_path = base_uri.getPath()
    prefixes = [base_str]
    scheme = base_uri.getScheme()
    if scheme:  # every URI spelling of the same root: file:///t, file:/t
        auth = base_uri.getAuthority()
        prefixes.append(f"{scheme}://{auth or ''}{base_path}")
        if not auth:
            prefixes.append(f"{scheme}:{base_path}")
    prefixes.append(base_path)
    p = F.col("path")
    stripped = None
    for pre in dict.fromkeys(prefixes):
        cond = p.startswith(pre + "/")
        val = p.substr(F.lit(len(pre) + 2), F.length(p))
        stripped = (
            F.when(cond, val) if stripped is None else stripped.when(cond, val)
        )
    is_abs = p.startswith("/") | p.rlike(r"^[A-Za-z][\w+.-]*:")
    raw = stripped.otherwise(F.when(~is_abs, p))

    def _merge(acc, seg):
        stack = acc.getField("st")
        kept = (
            F.when((seg == "") | (seg == "."), stack)
            .when(
                seg == "..",
                F.slice(stack, 1, F.greatest(F.size(stack) - 1, F.lit(0))),
            )
            .otherwise(F.concat(stack, F.array(seg)))
        )
        escaped = acc.getField("esc") | ((seg == "..") & (F.size(stack) == 0))
        return F.struct(kept.alias("st"), escaped.alias("esc"))

    def _finish(acc):
        return F.when(
            acc.getField("esc") | (F.size(acc.getField("st")) == 0),
            F.lit(None).cast("string"),
        ).otherwise(F.array_join(acc.getField("st"), "/"))

    init = F.struct(
        F.array().cast("array<string>").alias("st"), F.lit(False).alias("esc")
    )
    return F.aggregate(F.split(raw, "/"), init, _merge, _finish)


def _vacuum_live_dfs(
    spark: SparkSession, path: str, retained: list[int]
) -> tuple[DataFrame, DataFrame]:
    """(referenced paths, DV storage-unit refs) across the retained
    snapshots, as DataFrames — the live side of the distributed VACUUM
    diff. Each retained version folds via :func:`delta_snapshot_adds_df`
    (checkpoint scan ∪ JSON tail as a Spark job), so the driver never
    materializes the live set."""
    refs: DataFrame | None = None
    for v in retained:
        a = delta_snapshot_adds_df(spark, path, v).select(
            "path", "deletionVector"
        )
        refs = a if refs is None else refs.unionByName(a)
    assert refs is not None
    referenced_df = refs.select("path").distinct()
    dv_refs_df = (
        refs.where(F.col("deletionVector.pathOrInlineDv").isNotNull())
        .select(
            F.expr(
                "trim(BOTH '/' FROM deletionVector.pathOrInlineDv)"
            ).alias("dv_ref")
        )
        .distinct()
    )
    return referenced_df, dv_refs_df


def _vacuum_reclaim_diff(
    candidates_df: DataFrame,
    referenced_df: DataFrame,
    dv_refs_df: DataFrame,
) -> DataFrame:
    """The reclaim set as a Spark job: candidates (single canonical
    ``rel`` column, ``.parquet`` only) anti-joined against the live add
    paths; DV candidates anti-joined on their 2-segment storage-unit
    prefix (a unit lives exactly as long as a retained descriptor points
    at it). Mirrors the driver loop's membership rules exactly —
    ``_delta_log``/``_change_data`` never reclaimed, a 2-segment rel
    NAMED like a unit dir is a file and stays deletable (null join key
    passes the anti-join)."""
    is_dv = F.col("rel").startswith(_DV_DIR)
    data = candidates_df.where(
        (~is_dv)
        & ~F.col("rel").startswith("_delta_log")
        & ~F.col("rel").startswith("_change_data")
    )
    data_reclaim = data.join(
        referenced_df, data["rel"] == referenced_df["path"], "left_anti"
    ).select("rel")
    dv = candidates_df.where(is_dv).withColumn(
        "unit",
        F.when(
            F.size(F.split(F.col("rel"), "/")) >= 3,
            F.substring_index(F.col("rel"), "/", 2),
        ),
    )
    dv_reclaim = dv.join(
        dv_refs_df, dv["unit"] == dv_refs_df["dv_ref"], "left_anti"
    ).select("rel")
    return data_reclaim.unionByName(dv_reclaim)


def _collect_reclaim(df: DataFrame) -> list:
    """The distributed VACUUM diff's single driver materialization —
    only the RECLAIM set ever crosses to the driver (tests spy here to
    prove the driver sees O(reclaim) rows, not O(data files))."""
    return df.collect()


def _vacuum_scope_filter(spark: SparkSession, meta: dict, where):
    """Build the WHERE-scoped VACUUM candidate filter: a function
    ``candidates_df -> candidates_df`` (single ``rel`` column in and
    out) keeping only candidates inside partition directories matching
    the predicate. The partition values are parsed from the hive path
    itself — a VACUUM candidate is by definition NOT in the live add
    set, so the path is the only place its partition identity exists.
    The filter composes into every candidate source (inventory scan,
    recursive-listing chunks, LITE's commit scan), so the scoping runs
    inside the distributed candidate job, never as a driver loop.

    Scope semantics (the ``OPTIMIZE ... WHERE`` sibling): only files
    whose EVERY partition segment has the hive ``col=value`` form and
    whose decoded, schema-typed values satisfy the predicate are
    candidates; everything else — other partitions, files at the table
    root, DV storage units — is out of scope and left untouched. NULL
    predicate results are out of scope (SQL three-valued logic). The
    predicate may name only partition columns; anything else fails
    resolution loudly against a typed probe frame before any candidate
    job runs."""
    part_cols = meta.get("partitionColumns") or []
    if not part_cols:
        raise ValueError(
            "a WHERE-scoped VACUUM requires a partitioned table "
            "(the scope predicate ranges over partition columns)"
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    probe = spark.createDataFrame(
        [], StructType([schema[c] for c in part_cols])
    )
    probe.where(_coerce_predicate(where)).schema  # resolve or raise

    def apply(df: DataFrame) -> DataFrame:
        segs = F.split(F.col("rel"), "/")
        cond = F.size(segs) > len(part_cols)  # dirs + a file name
        out = df
        for i, c in enumerate(part_cols):
            seg = segs.getItem(i)
            cond = cond & seg.startswith(f"{c}=")
            raw = F.regexp_extract(seg, "^[^=]*=(.*)$", 1)
            # hive path unescape is %XX only — url_decode would also
            # turn a literal '+' into a space, so shield it first
            val = F.when(
                raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None)
            ).otherwise(
                F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))
            )
            out = out.withColumn(c, val.cast(schema[c].dataType))
        return out.where(cond & _coerce_predicate(where)).select("rel")

    return apply


def _scope_rels_locally(
    spark: SparkSession, scope, rels
) -> list[str]:
    """Driver-fold branches reuse the SAME columnar scope filter via a
    one-hop local frame — below the distributed threshold the candidate
    list is small by construction, and duplicating the hive-path parse
    in Python would be a second implementation to keep correct."""
    if not rels:
        return []
    cdf = spark.createDataFrame([(r,) for r in sorted(rels)], "rel string")
    return sorted(r["rel"] for r in scope(cdf).collect())


def delta_vacuum(
    spark: SparkSession,
    path: str,
    keep_versions: int = 1,
    lite: bool = False,
    inventory: DataFrame | None = None,
    dry_run: bool = False,
    where=None,
) -> list[str]:
    """Retention cleanup (Delta VACUUM): physically delete data files no
    snapshot in the retained window references; returns the deleted
    relative paths. Time travel older than the window stops working — the
    standard storage/history trade (Delta's default horizon is 7 days;
    here the knob is version count for deterministic tests). The log
    itself is never truncated: history metadata stays cheap, only data
    bytes are reclaimed.

    ``lite=True`` is delta-spark 3.3's ``VACUUM ... LITE``: candidates
    come from the LOG's remove actions instead of a recursive storage
    listing — at 100 TB that replaces a LIST page stream over millions
    of objects with a metadata read of the commit range, the fast path
    for tables vacuumed on schedule. The documented trade (same as
    delta-spark's): LITE only reclaims what the log remembers removing
    — orphans from aborted writes and files whose remove commits were
    already log-compacted away need a periodic FULL vacuum.

    ``inventory`` is delta-spark 3.1's ``VACUUM ... USING INVENTORY``:
    a caller-supplied DataFrame of the storage tree — columns ``path``
    (absolute URI or table-relative), ``length``, ``isDir``,
    ``modificationTime`` — used as the candidate source in place of the
    recursive listing. The point at 100 TB: object stores already
    produce daily inventory reports (S3 Inventory, GCS inventory);
    reusing one turns the LIST page stream over millions of objects
    into a scan of a table that already exists. Reclaim semantics are
    identical to FULL — an inventory that covers the table directory
    reclaims exactly what the recursive listing would (asserted by the
    registered lifecycle query); rows outside the table root and
    directories are ignored, per the delta-spark contract. Inventory
    rows are CANONICALIZED before the live-set membership test
    (``./x``, ``a//b``, ``sub/../x`` and every absolute spelling of the
    table root resolve to the add-action path form; ``..`` escaping the
    root is ignored) — a sloppy-but-resolvable row for a live file must
    never read as an orphan.

    ``dry_run=True`` is delta-spark's ``VACUUM ... DRY RUN``: report
    exactly the reclaim a real run would delete (existence checks
    included) without touching storage — supported by every candidate
    strategy (FULL, LITE, inventory), driver-fold and distributed.

    ``where`` is the ``OPTIMIZE ... WHERE`` sibling for maintenance
    scoping: an arbitrary partition predicate (``"part >= 2"``,
    ``"part IN (1,3)"``) restricting RECLAIM to files inside matching
    partition directories — partition values parse from the hive path
    (a candidate is by definition absent from the live add set, so the
    path is its only partition identity) and the filter is pushed into
    whichever candidate job runs (inventory scan, listing chunks,
    LITE's commit scan). The point at 100 TB: nightly maintenance of
    just-landed partitions never pays a diff over years of cold
    partitions. Out-of-scope files — other partitions, table-root
    files, DV storage units — are simply not candidates; the live-set
    membership test is unchanged (scoping only ever narrows the
    candidate side, so it can never delete more than an unscoped run).

    Past X60's ``_DIST_FOLD_ROWS`` checkpoint threshold the
    candidates⟂live diff runs as a Spark anti-join against
    :func:`delta_snapshot_adds_df` (inventory: fully distributed; FULL:
    the listing streams through the driver in ``_VACUUM_CHUNK_ROWS``
    chunks against the cached live set; LITE: the commit JSONs scan
    with ``spark.read.text`` + ``from_json``) and only the RECLAIM set
    is collected — the driver stays O(reclaim), never O(data files or
    remove actions)."""
    if lite and inventory is not None:
        raise ValueError(
            "VACUUM LITE and USING INVENTORY are mutually exclusive: "
            "LITE's candidates come from the log, not from storage"
        )
    if inventory is not None:
        missing = {"path", "length", "isDir", "modificationTime"} - set(
            inventory.columns
        )
        if missing:
            raise ValueError(
                f"inventory is missing required columns: {sorted(missing)}"
            )
    versions = _list_versions(spark, path)
    if not versions:
        return []
    # the vacuumProtocolCheck contract: read the protocol BEFORE
    # reclaiming anything — a writer feature this engine doesn't
    # implement may reference data files outside the add actions
    # (deletion vectors are exactly that shape), and vacuuming blind
    # would delete them
    proto, meta, _, _ = _snapshot_state(
        spark, path, include_adds=False
    )
    unknown = _features(proto)[1] - _WRITER_FEATURES_IMPLEMENTED
    if unknown:
        raise ValueError(
            f"refusing to VACUUM {path}: writer features "
            f"{sorted(unknown)} are not implemented here and may "
            "reference files outside the add actions"
        )
    scope = (
        _vacuum_scope_filter(spark, meta or {}, where)
        if where is not None
        else None
    )
    retained = versions[-keep_versions:]
    # X60's threshold decides the diff strategy: past it the live set is
    # too big to hold driver-side, so candidates⟂live runs as a Spark
    # anti-join and only the RECLAIM set (small under any sane
    # retention) reaches the driver for the actual deletes.
    lc = _last_checkpoint_info(spark, path)
    use_dist = bool(lc) and int(lc.get("size", 0)) >= _DIST_FOLD_ROWS
    referenced: set[str] = set()
    dv_refs: set[str] = set()
    if not use_dist:
        for v in retained:
            for f, a in delta_live_adds(spark, path, v):
                referenced.add(f)
                d = a.get("deletionVector")
                if d:
                    dv_refs.add(d["pathOrInlineDv"].strip("/"))
    fs, table_path, jvm = _hadoop_fs(spark, path)
    base_uri = fs.makeQualified(table_path).toUri()
    deleted = []

    def _reclaim(rels) -> None:
        # shared delete loop for every candidate strategy; DRY RUN
        # reports exactly what a real run would delete (existence
        # included — inventories and logs can be stale) without touching
        # storage
        for rel in rels:
            hp = jvm.org.apache.hadoop.fs.Path(table_path, rel)
            if fs.exists(hp):
                if not dry_run:
                    fs.delete(hp, False)
                deleted.append(rel)

    if lite:
        # log-driven: candidates are the remove-action paths the commit
        # JSONs still on disk remember (relative refs only — an
        # absolute ref belongs to another table's directory)
        if use_dist:
            # candidates⟂live as a Spark job, same posture as FULL and
            # inventory: the commit JSONs scan with spark.read.text +
            # from_json, the live side is the distributed add fold, and
            # only the reclaim set reaches the driver — a schedule-
            # vacuumed 100 TB table's log window can hold millions of
            # remove actions
            from pyspark.sql.types import (
                StringType,
                StructField,
                StructType,
            )

            files = []
            for v in versions:
                vf = _version_file(path, v)
                if fs.exists(jvm.org.apache.hadoop.fs.Path(vf)):
                    files.append(vf)
            if not files:
                return []
            line_schema = StructType(
                [
                    StructField(
                        "remove",
                        StructType([StructField("path", StringType())]),
                    )
                ]
            )
            rel_c = F.col("a.remove.path")
            cand = (
                spark.read.text(files)
                .select(F.from_json("value", line_schema).alias("a"))
                .where(rel_c.isNotNull())
                .where(
                    ~(
                        rel_c.startswith("/")
                        | rel_c.rlike(r"^[A-Za-z][\w+.-]*:")
                    )
                )
                .select(rel_c.alias("rel"))
                .distinct()
            )
            if scope is not None:
                cand = scope(cand)
            referenced_df, _ = _vacuum_live_dfs(spark, path, retained)
            reclaim = _collect_reclaim(
                cand.join(
                    referenced_df,
                    cand["rel"] == referenced_df["path"],
                    "left_anti",
                )
            )
            _reclaim(sorted({r["rel"] for r in reclaim}))
            return sorted(deleted)
        candidates: set[str] = set()
        for v in versions:
            try:
                text = _read_log_text_immutable(
                    spark, _version_file(path, v)
                )
            except Exception:  # noqa: BLE001 — cleaned commit
                continue
            for line in text.splitlines():
                action = json.loads(line)
                r = action.get("remove")
                if r and not _is_absolute_ref(r["path"]):
                    candidates.add(r["path"])
        cands = sorted(candidates - referenced)
        if scope is not None:
            cands = _scope_rels_locally(spark, scope, cands)
        _reclaim(cands)
        return sorted(deleted)
    if inventory is not None:
        # Candidate source = the caller's inventory table instead of a
        # recursive LIST. The isDir/suffix pre-filter AND the per-row
        # canonicalization run DISTRIBUTED on the inventory (both
        # reclaim branches below only ever delete ``*.parquet``), so
        # the driver never sees the storage tree. Canonicalization
        # matters for correctness, not just tidiness: a
        # sloppy-but-resolvable inventory row for a LIVE file
        # (``./part.parquet``, ``p=1//part.parquet``) must match the
        # canonical add-action path or the membership test below would
        # delete live data.
        candidates_df = (
            inventory.where(
                (~F.col("isDir")) & F.col("path").endswith(".parquet")
            )
            .select(_inventory_rel_col(base_uri).alias("rel"))
            .where(F.col("rel").isNotNull() & F.col("rel").endswith(".parquet"))
        )
        if scope is not None:
            candidates_df = scope(candidates_df)
        if use_dist:
            referenced_df, dv_refs_df = _vacuum_live_dfs(
                spark, path, retained
            )
            reclaim = _collect_reclaim(
                _vacuum_reclaim_diff(candidates_df, referenced_df, dv_refs_df)
            )
            _reclaim(sorted({r["rel"] for r in reclaim}))
            return sorted(deleted)
        rels = [r["rel"] for r in candidates_df.collect()]
    elif use_dist:
        # FULL above the threshold: the recursive listing still streams
        # through the driver (the Hadoop FS iterator is O(1) memory),
        # but it is flushed in bounded chunks against the CACHED live
        # set — driver peak is one chunk + the reclaim set, and the
        # live set (the big side) never leaves the executors.
        referenced_df, dv_refs_df = _vacuum_live_dfs(spark, path, retained)
        referenced_df = referenced_df.persist()
        dv_refs_df = dv_refs_df.persist()
        try:
            chunk: list[str] = []
            reclaim_rels: set[str] = set()

            def _flush() -> None:
                cdf = spark.createDataFrame(
                    [(r,) for r in chunk], "rel string"
                ).where(F.col("rel").endswith(".parquet"))
                if scope is not None:
                    cdf = scope(cdf)
                reclaim_rels.update(
                    r["rel"]
                    for r in _collect_reclaim(
                        _vacuum_reclaim_diff(cdf, referenced_df, dv_refs_df)
                    )
                )

            it = fs.listFiles(table_path, True)
            while it.hasNext():
                chunk.append(
                    base_uri.relativize(it.next().getPath().toUri()).getPath()
                )
                if len(chunk) >= _VACUUM_CHUNK_ROWS:
                    _flush()
                    chunk.clear()
            if chunk:
                _flush()
        finally:
            referenced_df.unpersist()
            dv_refs_df.unpersist()
        _reclaim(sorted(reclaim_rels))
        return sorted(deleted)
    else:
        rels = []
        it = fs.listFiles(table_path, True)
        while it.hasNext():
            rels.append(
                base_uri.relativize(it.next().getPath().toUri()).getPath()
            )
        if scope is not None:  # inventory rels are already scoped
            rels = _scope_rels_locally(spark, scope, rels)
    for rel in rels:
        if rel.startswith(_DV_DIR):
            # a DV storage unit lives exactly as long as a retained
            # snapshot's descriptor points at it; superseded units
            # (merged into a newer one, or materialized by OPTIMIZE)
            # are reclaimed here like any other unreferenced file
            if rel.endswith(".parquet") and not any(
                rel.startswith(p + "/") for p in dv_refs
            ):
                _reclaim([rel])
            continue
        if (
            # the .parquet suffix rule also shields a FOREIGN table's
            # deletion_vector_*.bin storage files from reclamation
            rel.endswith(".parquet")
            and not rel.startswith("_delta_log")
            # change-data files are never in any snapshot's live set, so
            # the unreferenced-file rule would reap them instantly; their
            # lifetime follows the LOG's (a commit whose JSON is retained
            # must keep its feed readable) — cleaned with the log, not here
            and not rel.startswith("_change_data")
            and rel not in referenced
        ):
            _reclaim([rel])
    return sorted(deleted)


def delta_compact_log(
    spark: SparkSession,
    path: str,
    start: int | None = None,
    end: int | None = None,
) -> str:
    """Minor log compaction (the protocol's
    ``<start>.<end>.compacted.json``): write ONE file holding the action
    reconciliation of the contiguous commit range — per path the LAST
    add/remove (removes kept as tombstones so reconciliation with an
    older checkpoint still retracts), the latest metaData/protocol, the
    latest txn per appId. Defaults compact the current JSON tail (newest
    checkpoint exclusive → latest commit). Snapshot folds (driver and
    distributed) then read this one file instead of walking the range's
    commits — O(1) tail opens between checkpoints at a fraction of a
    full checkpoint rewrite's cost. The per-commit files stay: streaming
    and CDF readers keep their per-version walk, and log cleanup remains
    the only thing that deletes history. Returns the compacted file's
    path; raises if the range is not contiguous on disk or spans fewer
    than two commits (nothing to reconcile)."""
    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no delta table at {path}")
    if end is None:
        end = versions[-1]
    if start is None:
        ckpts = [c for c in _list_checkpoints(spark, path) if c <= end]
        start = ckpts[-1] + 1 if ckpts else 0
    if end <= start:
        raise ValueError(
            f"log compaction range [{start}, {end}] spans fewer than two "
            "commits; nothing to reconcile"
        )
    available = {v for v in versions if start <= v <= end}
    if available != set(range(start, end + 1)):
        raise ValueError(
            f"cannot compact [{start}, {end}] of {path}: commits "
            f"{sorted(set(range(start, end + 1)) - available)} are missing"
        )
    latest: dict[str, dict] = {}  # path → its last add/remove action line
    meta = proto = None
    txns: dict[str, int] = {}
    # last domainMetadata action per domain — removed=true tombstones are
    # KEPT (reconciliation with an older checkpoint must still retract)
    doms: dict[str, dict] = {}
    for v in range(start, end + 1):
        for line in _read_log_text_immutable(
            spark, _version_file(path, v)
        ).splitlines():
            action = json.loads(line)
            if "add" in action:
                latest[action["add"]["path"]] = action
            elif "remove" in action:
                latest[action["remove"]["path"]] = action
            elif "metaData" in action:
                meta = action
            elif "protocol" in action:
                proto = action
            elif "txn" in action:
                txns[action["txn"]["appId"]] = action["txn"]["version"]
            elif "domainMetadata" in action:
                doms[action["domainMetadata"]["domain"]] = action
    actions: list[dict] = []
    if proto is not None:
        actions.append(proto)
    if meta is not None:
        actions.append(meta)
    actions += [
        {"txn": {"appId": a, "version": v}} for a, v in sorted(txns.items())
    ]
    actions += [doms[d] for d in sorted(doms)]
    actions += [latest[p] for p in sorted(latest)]
    fs, _, jvm = _hadoop_fs(spark, path)
    final = _compacted_file(path, start, end)
    payload = "".join(json.dumps(a) + "\n" for a in actions).encode()
    # losing the publish means an identical compaction of the same
    # immutable range already landed (racing maintenance job) — not a
    # conflict
    _publish_log_file(fs, jvm, final, payload, replace=False)
    return final


def delta_cleanup_log(spark: SparkSession, path: str) -> list[int]:
    """Log retention cleanup (the protocol's metadata cleanup, the knob
    delta-spark exposes as ``delta.logRetentionDuration``): delete JSON
    commits and checkpoints BELOW the newest checkpoint — every retained
    snapshot (checkpoint version and later) still resolves from
    checkpoint + tail; time travel below it raises. Returns the deleted
    versions. Deletion is immediate (no retention grace): a reader that
    listed versions just before cleanup can lose a commit mid-fold —
    _snapshot_state catches the missing file and raises the same typed
    "no longer reconstructible" ValueError as the contiguity pre-check,
    so concurrent cleanup degrades to a loud retryable failure, never a
    silently-wrong snapshot. Run from a single maintenance job (Delta's
    own assumption for metadata cleanup). Without this the log directory grows one file per commit
    forever; with it, steady state is one checkpoint + ≤ interval JSON
    tail files regardless of table age."""
    ckpts = _list_checkpoints(spark, path)
    if not ckpts:
        return []
    cutoff = ckpts[-1]
    fs, _, jvm = _hadoop_fs(spark, path)
    deleted = []
    for v in _list_versions(spark, path):
        if v < cutoff:
            fs.delete(jvm.org.apache.hadoop.fs.Path(_version_file(path, v)), False)
            deleted.append(v)
    for c in ckpts[:-1]:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(_checkpoint_file(path, c)), False
        )
    # multi-part checkpoints below the cutoff: every part goes; v2 tops
    # below the cutoff go too, and sidecars survive only while a
    # RETAINED v2 top still references them
    log_path = jvm.org.apache.hadoop.fs.Path(_log_dir(path))
    keep_sidecars: set[str] = set()
    for st in fs.listStatus(log_path):
        name = st.getPath().getName()
        m = _COMPACTED_RE.match(name)
        if m and int(m.group(1)) < cutoff:
            # a compaction whose range dips below the cutoff can never
            # again start at a fold cursor (folds begin at the retained
            # checkpoint) — expired with the commits it reconciles
            fs.delete(st.getPath(), False)
            continue
        m = _CKPT_PART_RE.match(name)
        if m and int(m.group(1)) < cutoff:
            fs.delete(st.getPath(), False)
            continue
        m = _CKPT_V2_RE.match(name)
        if m:
            if int(m.group(1)) < cutoff:
                fs.delete(st.getPath(), False)
            else:
                for row in _read_parquet_bytes(
                    spark, f"{_log_dir(path)}/{name}"
                ).to_pylist():
                    sc = row.get("sidecar")
                    if sc is not None and sc.get("path"):
                        keep_sidecars.add(sc["path"])
    side_path = jvm.org.apache.hadoop.fs.Path(
        f"{_log_dir(path)}/{_SIDECAR_DIR}"
    )
    if fs.exists(side_path):
        for st in fs.listStatus(side_path):
            if st.getPath().getName() not in keep_sidecars:
                fs.delete(st.getPath(), False)
    # retention cleanup is the ONE writer that deletes write-once log
    # files — drop their cached texts so expired commits read as
    # expired, never as cached ghosts
    _purge_log_text_cache(_log_dir(path))
    return deleted


def delta_restore(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp: int | None = None,
) -> int:
    """RESTORE TABLE ... TO VERSION | TIMESTAMP (delta-spark's RESTORE
    command, the undo button of the lakehouse lifecycle): commit a NEW
    version whose live file set and schema equal the snapshot at
    ``version`` — or, with ``timestamp`` (epoch millis), at the last
    version committed at-or-before that instant, resolved through the
    same commit-timestamp rule time travel uses (in-commit timestamps
    when the feature is on, file modification times otherwise). Pure
    metadata — the old generation's files are re-added by path, the
    current generation removed, nothing rewritten; and because the
    restore is itself one more MVCC commit, the pre-restore state stays
    time-travelable (exactly the public RESTORE semantics). Refuses
    loudly when a file the restore needs was already vacuumed away —
    re-adding a missing path would manufacture a corrupt snapshot."""
    if (version is None) == (timestamp is None):
        raise ValueError("pass exactly one of version / timestamp")
    if version is None:
        version = _version_at_timestamp(spark, path, timestamp)
    _, meta_t, live_t, _ = _snapshot_state(spark, path, version)
    if meta_t is None:
        raise ValueError(f"no delta snapshot at version {version} of {path}")
    read_version, _, meta_c, live_c, _ = _snapshot_at(spark, path)
    fs, _, jvm = _hadoop_fs(spark, path)
    # an add must be (re-)committed when its path is not live OR its
    # action differs (a deletion-vector delete re-adds the same path;
    # restoring across it must re-stamp the old descriptor state)
    readd = sorted(
        f for f in live_t if live_c.get(f) != live_t[f]
    )
    missing = [
        f
        for f in readd
        if f not in live_c
        and not fs.exists(jvm.org.apache.hadoop.fs.Path(_data_uri(path, f)))
    ]
    # a restored descriptor needs its DV storage unit too
    missing += [
        dv
        for dv in sorted(
            {
                live_t[f]["deletionVector"]["pathOrInlineDv"]
                for f in readd
                if live_t[f].get("deletionVector")
            }
        )
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(_data_uri(path, dv)))
    ]
    if missing:
        raise ValueError(
            f"cannot restore version {version} of {path}: data files "
            f"removed by vacuum: {missing[:3]}"
        )
    actions: list[dict] = [_commit_info("RESTORE")]
    if meta_c != meta_t:
        actions.append({"metaData": meta_t})
    retract = sorted(set(live_c) - set(live_t))
    if retract and _append_only(meta_c):
        raise ValueError(
            f"table at {path} is append-only (delta.appendOnly=true); "
            "RESTORE would retract committed rows"
        )
    actions += _removes(retract)
    for f in readd:
        actions.append({"add": {**live_t[f], "dataChange": True}})
    return _commit(spark, path, read_version, actions)


# ---------------------------------------------------------------------------
# Row-level DML (copy-on-write MERGE / UPDATE / DELETE)
#
# The reference claims full ACID DML on its Delta tables
# (``/root/reference/README.md:302``); delta-spark expresses it as
# ``DeltaTable.merge/update/delete``. The protocol mechanism is
# copy-on-write: identify the files that contain at least one affected
# row, rewrite ONLY those files without the deleted rows / with the
# updated rows, and commit paired ``remove``+``add`` actions with
# ``dataChange: true``. Untouched files are never read twice or
# rewritten, so the cost is O(affected files), not O(table) — at 100 TB
# a point-delete rewrites a handful of files while MVCC keeps every
# prior snapshot time-travelable, composing with OPTIMIZE, RESTORE,
# checkpoints, schema evolution, and the version-diff CDC unchanged.


class DeltaConcurrentModification(RuntimeError):
    """A concurrent commit changed files this DML transaction read.

    Matches delta-spark's ConcurrentDeleteReadException family: the
    rewrite was derived from a snapshot whose files are no longer all
    live, so blindly committing would resurrect or double-apply rows.
    Callers re-run the whole DML call against the new snapshot."""


# ---------------------------------------------------------------------------
# DML file skipping: every DML op scans only the live files whose per-file
# min/max stats can hold a row it changes (Delta's data skipping, applied
# to the write path as delta-spark does).

# Integral Spark types by byte width — the only columns DML skips on.
# Spark orders NaN above every float value but parquet min/max omit NaN,
# so a float column's stats cannot bound even ``x > 5``.
_INTEGRAL_WIDTH = {"byte": 1, "short": 2, "integer": 4, "long": 8}
# a comparison read with its operands swapped (``5 < k`` is ``k > 5``)
_FLIPPED = {
    "EqualTo": "EqualTo",
    "EqualNullSafe": "EqualNullSafe",
    "GreaterThan": "LessThan",
    "GreaterThanOrEqual": "LessThanOrEqual",
    "LessThan": "GreaterThan",
    "LessThanOrEqual": "GreaterThanOrEqual",
}


def _stats_skip(adds, meta: dict, bounds: dict[str, tuple]) -> list:
    """The one stats-skipping rule, for reads and DML: the (file, add)
    pairs whose min/max stats may intersect every ``bounds`` entry
    ({logical column: (lo, hi)}, inclusive, None = open end). Stats are
    keyed by PHYSICAL names on column-mapped tables. A file without
    stats, or without both stats of a column, is kept."""
    if not bounds:
        return list(adds)
    pm = {l: p for p, l in _cm_pairs(meta)}

    def overlaps(a: dict) -> bool:
        if not a.get("stats"):
            return True
        st = json.loads(a["stats"])
        for col, (lo, hi) in bounds.items():
            mn = st.get("minValues", {}).get(pm.get(col, col))
            mx = st.get("maxValues", {}).get(pm.get(col, col))
            if mn is None or mx is None:
                continue
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                return False
        return True

    return [(f, a) for f, a in adds if overlaps(a)]


def _jkind(e) -> str:
    return e.getClass().getSimpleName()


def _jchildren(e) -> list:
    ch = e.children()
    return [ch.apply(i) for i in range(ch.size())]


def _unwrap_widening(e):
    """Catalyst expression ``e`` under its integral-widening casts, or
    None when that is not an integral expression."""
    while _jkind(e) == "Cast":
        src = _INTEGRAL_WIDTH.get(e.child().dataType().typeName())
        dst = _INTEGRAL_WIDTH.get(e.dataType().typeName())
        if src is None or dst is None or dst < src:
            return None
        e = e.child()
    return e if e.dataType().typeName() in _INTEGRAL_WIDTH else None


def _bound_column(e, common) -> str | None:
    """The integral column ``e`` reads (``common`` stands in for a
    BETWEEN's shared-operand reference), or None."""
    e = _unwrap_widening(e)
    if e is not None and common is not None and _jkind(e) == "CommonExpressionRef":
        e = _unwrap_widening(common)
    return e.name() if e is not None and _jkind(e) == "AttributeReference" else None


def _bound_constant(e) -> int | None:
    """The non-NULL integral constant ``e`` is, or None."""
    e = _unwrap_widening(e)
    if e is None or _jkind(e) != "Literal" or e.value() is None:
        return None
    return int(e.value())


def _conjuncts(e, common=None) -> list[tuple]:
    """Top-level AND conjuncts of ``e`` as (conjunct, BETWEEN operand).
    Spark 4 analyzes ``k BETWEEN a AND b`` as
    ``Between(With(And(ref >= a, ref <= b), def(k)))``."""
    kind = _jkind(e)
    if kind == "And":
        return _conjuncts(e.left(), common) + _conjuncts(e.right(), common)
    if kind == "Between":
        return _conjuncts(_jchildren(e)[0], common)
    if kind == "With":
        body, *defs = _jchildren(e)
        if len(defs) == 1:
            return _conjuncts(body, _jchildren(defs[0])[0])
    return [(e, common)]


def _conjunct_bound(e, common) -> tuple | None:
    """(column, lo, hi) that one conjunct implies, or None."""
    kind = _jkind(e)
    if kind == "In":
        value, *items = _jchildren(e)
        col = _bound_column(value, common)
        consts = [_bound_constant(i) for i in items]
        if col is None or not consts or None in consts:
            return None
        return col, min(consts), max(consts)
    if kind not in _FLIPPED:
        return None
    left, right = _jchildren(e)
    col, c = _bound_column(left, common), _bound_constant(right)
    if col is None:
        col, c = _bound_column(right, common), _bound_constant(left)
        kind = _FLIPPED[kind]
    if col is None or c is None:
        return None
    lo, hi = {
        "EqualTo": (c, c),
        "EqualNullSafe": (c, c),
        "GreaterThan": (c + 1, None),
        "GreaterThanOrEqual": (c, None),
        "LessThan": (None, c - 1),
        "LessThanOrEqual": (None, c),
    }[kind]
    return col, lo, hi


def _predicate_bounds(spark: SparkSession, meta: dict, predicate) -> dict:
    """Inclusive bounds {logical column: (lo, hi)} (None = open) that
    every row matching the DML ``predicate`` satisfies, for
    :func:`_stats_skip`. Read off the top-level AND conjuncts of the
    ANALYZED predicate — resolved against an empty frame of the logical
    schema (no job; Spark's own coercions decide what a comparison
    means): ``col ⋚ constant`` either way round, BETWEEN and
    ``IN (constants)``, on integral columns, through widening casts. Any
    other conjunct or a NULL constant adds no bound; a predicate that
    does not resolve here adds none (the DML scan raises its error)."""
    from pyspark.errors import AnalysisException

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    try:
        plan = (
            spark.createDataFrame([], _logical_schema(meta))
            .where(pred)
            ._jdf.queryExecution()
            .analyzed()
        )
    except AnalysisException:
        return {}  # the DML scan raises it
    if _jkind(plan) != "Filter":
        return {}
    bounds: dict[str, tuple] = {}
    for conj, common in _conjuncts(plan.condition()):
        got = _conjunct_bound(conj, common)
        if got is None:
            continue
        col, lo, hi = got
        plo, phi = bounds.get(col, (None, None))
        bounds[col] = (
            lo if plo is None else plo if lo is None else max(lo, plo),
            hi if phi is None else phi if hi is None else min(hi, phi),
        )
    return bounds


def _merge_key_bounds(
    src: DataFrame, meta: dict, live: dict[str, dict], on: list[str]
) -> dict | None:
    """MERGE's skipping bounds: the source's min/max of each integral
    ``on`` key that live files carry stats for — one aggregate, which
    also materializes a lazy source checkpoint. None when some key has
    no non-NULL source value: then no target row can match."""
    stated = set(_live_stats_cols(live.values()))
    pm = {l: p for p, l in _cm_pairs(meta)}
    tgt = {f.name: f.dataType.typeName() for f in _logical_schema(meta).fields}
    keys = [
        k
        for k in on
        if pm[k] in stated
        and tgt[k] in _INTEGRAL_WIDTH
        and src.schema[k].dataType.typeName() in _INTEGRAL_WIDTH
    ]
    if not keys:
        return {}
    row = src.agg(
        *[F.min(k).alias(f"lo{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"hi{i}") for i, k in enumerate(keys)],
    ).first()
    if any(row[f"lo{i}"] is None for i in range(len(keys))):
        return None
    return {k: (row[f"lo{i}"], row[f"hi{i}"]) for i, k in enumerate(keys)}


def _pruned_scan(
    spark: SparkSession,
    path: str,
    meta: dict,
    live: dict[str, dict],
    bounds: dict,
    with_row_col: bool = False,
) -> DataFrame | None:
    """The DML scan: logical columns plus ``__dv_file``/``__dv_row``
    positions over the live files ``bounds`` cannot skip, with their
    deletion vectors applied — rows a DV masks are logically gone, and
    DML must never see (or resurrect) them. None when every file is
    skipped."""
    adds = _stats_skip(sorted(live.items()), meta, bounds)
    if not adds:
        return None
    scan = _physical_scan(
        spark,
        path,
        meta,
        [f for f, _ in adds],
        with_position=True,
        with_row_col=with_row_col,
    )
    return _dv_anti_filter(spark, path, scan, adds)


# the checkpoints of the DML op running on this thread
_OWNED = threading.local()


def _checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, released when the enclosing
    :func:`_releases_checkpoints` op returns (kept otherwise)."""
    cp = df.localCheckpoint(eager=eager)
    held = getattr(_OWNED, "held", None)
    if held is not None:
        held.append(cp)
    return cp


def _releases_checkpoints(fn):
    """Make DML op ``fn`` unpersist the local checkpoints it takes
    through :func:`_checkpoint` when it returns or raises — it has
    committed or failed by then, so nothing reads them again."""

    @functools.wraps(fn)
    def op(*args, **kwargs):
        outer = getattr(_OWNED, "held", None)
        _OWNED.held = []
        try:
            return fn(*args, **kwargs)
        finally:
            for cp in _OWNED.held:
                cp._jdf.queryExecution().analyzed().rdd().unpersist(False)
            _OWNED.held = outer

    return op


def _touched_files(
    spark: SparkSession, path: str, meta: dict, live: dict[str, dict], predicate
) -> list[str]:
    """The live files holding a row that DML ``predicate`` matches: the
    pruned scan of the files its stats bounds cannot skip, reduced to
    the DISTINCT ``__dv_file`` basenames (data files are
    ``part-{uuid}.parquet``; the driver receives file names only) and
    mapped back to their log paths."""
    scan = _pruned_scan(
        spark, path, meta, live, _predicate_bounds(spark, meta, predicate)
    )
    if scan is None:
        return []
    base_map = {f.rsplit("/", 1)[-1]: f for f in live}
    hits = scan.where(_coerce_predicate(predicate)).select("__dv_file")
    return [base_map[r[0]] for r in hits.distinct().collect()]


def _read_affected_files(
    spark: SparkSession,
    path: str,
    meta: dict,
    live: dict[str, dict],
    files,
) -> DataFrame:
    """Read exactly ``files`` of the snapshot with the snapshot schema,
    deletion vectors applied — the copy-on-write rewrite source. A CoW
    rewrite of a DV-carrying file materializes the DV (the rewritten
    file needs no descriptor); without this filter the rewrite would
    RESURRECT merge-on-read-deleted rows. Row-tracked tables get each
    row's stable ``_row_id`` appended, so the rewrite materializes it
    into the replacement files."""
    with_row_ids = _rt_enabled(meta)
    subset = [(f, live[f]) for f in files]
    has_dv = any(a.get("deletionVector") for _, a in subset)
    scan = _physical_scan(
        spark,
        path,
        meta,
        files,
        with_position=has_dv or with_row_ids,
        with_row_col=with_row_ids,
    )
    if has_dv:
        scan = _dv_anti_filter(spark, path, scan, subset)
    if with_row_ids:
        scan = _rt_attach(spark, scan, subset)
        return scan.select(*[l for _, l in _cm_pairs(meta)], _RT_COL)
    return scan.select(*[l for _, l in _cm_pairs(meta)])


def _coerce_predicate(predicate) -> "F.Column":
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # SQL DML three-valued logic: a NULL predicate row is NOT affected
    return F.coalesce(pred, F.lit(False))


def _rewrite(
    spark: SparkSession,
    path: str,
    op: str,
    read_version: int,
    meta: dict,
    live: dict[str, dict],
    removed: list[str],
    rows: DataFrame | None,
    *,
    t0: float | None = None,
    metrics=None,
    changes=None,
    extra_actions: list[dict] | None = None,
    kept: list[dict] | None = None,
    abort: bool = False,
    layout: bool = False,
    cluster_cols: list[str] | None = None,
    tags: dict | None = None,
) -> int:
    """The one way an op replaces live files: commit removes for
    ``removed`` (files of the snapshot ``live`` read at ``read_version``),
    the re-adds ``kept`` (a deletion-vector op's live files with a new
    descriptor) and ``rows`` (logical columns, plus ``_row_id`` on
    row-tracked tables) staged as new files, in one version.

    ``rows`` are staged by :func:`_stage` with ``cluster_cols`` (a
    Z-order's keys) added to the stats surface and ``tags`` on every add.
    Row-tracked tables commit the row-id watermark advance after
    ``extra_actions`` (txn, the op's metaData), whose metaData it is
    built from. When the table records CDF, ``changes()`` gives the op's
    change images as (frame, ``_change_type``) pairs, staged as the
    commit's cdc files.

    ``layout`` marks a rewrite that leaves the snapshot's rows as they
    were (OPTIMIZE, Z-order, auto-compaction, REORG PURGE): its adds and
    removes say ``dataChange: false``, so streaming readers skip it, the
    append-only guard does not apply, and its commitInfo carries
    delta-spark's file and byte counts. Other ops name their own metrics
    with ``metrics(adds, cdc)`` (None: no metrics); both get
    ``executionTimeMs`` since ``t0``.

    A lost race applies the op's conflict rule. With ``abort`` (OPTIMIZE,
    Z-order, staged identity values), or staged row ids the winner may
    have claimed, it raises DeltaConcurrentModification. Otherwise the
    removed files are re-validated against the winner's snapshot: if
    each is still live with the same add action, the same actions retry
    at the next version (the staged files are reused verbatim, Delta's
    OptimisticTransaction behavior); if not, it raises — committing
    would apply the op to rows that no longer exist, or, when a racing
    deletion-vector commit re-added a path with a new descriptor, drop
    the winner's deletions."""
    if removed and not layout and _append_only(meta):
        raise ValueError(
            f"table at {path} is append-only (delta.appendOnly=true); "
            "this operation would remove or rewrite committed rows"
        )
    adds: list[dict] = []
    rt_action = None
    if rows is not None:
        adds, rt_action = _stage(
            path, meta, rows, live.values(), cluster_cols or (),
            data_change=not layout, tags=tags,
        )
    cdc = (
        _stage_change_files(changes(), path)
        if changes is not None and _cdf_enabled(meta)
        else []
    )
    info = None
    if layout:
        info = {
            "numRemovedFiles": len(removed),
            "numAddedFiles": len(adds),
            "numRemovedBytes": sum(int(live[f].get("size", 0)) for f in removed),
            "numAddedBytes": sum(a["add"]["size"] for a in adds),
        }
    elif metrics is not None:
        info = metrics(adds, cdc)
    if info is not None:
        info["executionTimeMs"] = _elapsed_ms(t0)
    actions = (
        [_commit_info(op, info)]
        + list(extra_actions or [])
        + ([rt_action] if rt_action else [])
        + cdc
        + _removes(sorted(removed), not layout)
        + list(kept or [])
        + adds
    )

    def revalidate() -> tuple[int, list[dict]]:
        seen, _, _, live_now, _ = _snapshot_at(spark, path)
        gone = [f for f in removed if f not in live_now]
        if gone:
            raise DeltaConcurrentModification(
                f"files read by this DML were removed by a concurrent "
                f"commit to {path}: {gone[:3]}"
            )
        changed = [f for f in removed if live_now[f] != live[f]]
        if changed:
            raise DeltaConcurrentModification(
                f"files read by this DML were modified (e.g. a "
                f"deletion-vector update) by a concurrent commit "
                f"to {path}: {changed[:3]}"
            )
        return seen, actions

    return _commit(
        spark,
        path,
        read_version,
        actions,
        rebase=None if abort or rt_action is not None else revalidate,
    )


# ---------------------------------------------------------------------------
# CHECK constraints (the protocol's writer-version-3 feature; the last
# piece of the reference's "ACID transactions" claim, README.md:302)

_CONSTRAINT_PREFIX = "delta.constraints."


def _table_constraints(meta: dict | None) -> dict[str, str]:
    """{name: SQL expr} from metaData.configuration, delta-spark's
    ``ALTER TABLE ... ADD CONSTRAINT`` storage format."""
    if not meta:
        return {}
    return {
        k[len(_CONSTRAINT_PREFIX) :]: v
        for k, v in meta.get("configuration", {}).items()
        if k.startswith(_CONSTRAINT_PREFIX)
    }


def _field_invariants(meta: dict | None) -> dict[str, str]:
    """Column invariants (PROTOCOL.md "Column Invariants", the legacy
    writer-v2 contract delta-spark stores as ``delta.invariants`` in
    field metadata): {column: SQL expression}. New tables normally
    prefer CHECK constraints, but ``delta_write(invariants=...)`` can
    declare the legacy form for delta-spark parity, and a foreign
    writer-v2 table carrying invariants must have them ENFORCED on our
    writes —
    ignoring them would corrupt the foreign table's contract (writer
    v2 is accepted by the writer gate precisely because this engine
    honors everything v2 implies)."""
    if not meta or not meta.get("schemaString"):
        return {}
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"])["fields"]:
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError) as exc:
            raise ValueError(
                f"unparseable delta.invariants on column {f['name']!r}: "
                f"{inv!r}"
            ) from exc
        out[f["name"]] = expr
    return out


def _enforce_constraints(df: DataFrame, meta: dict | None) -> None:
    """Refuse to stage rows that violate any table CHECK constraint or
    column invariant.

    SQL semantics: a CHECK row violates only when the expression is
    FALSE (NULL passes); an INVARIANT must hold for NULL too
    (delta-spark treats a null invariant result as a violation). One
    executor-side pass with an early-out limit(1) — the write this is
    guarding already scans the same rows, so the validation is a second
    cheap pass over the incoming batch only, never the table."""
    constraints = _table_constraints(meta)
    for name, expr in constraints.items():
        bad = df.where(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        )
        if bad.limit(1).count():
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by "
                "incoming rows; nothing was committed"
            )
    for col, expr in _field_invariants(meta).items():
        if col not in df.columns:
            continue  # absent column → typed nulls; NOT NULL-style
            # invariants on evolution-added columns are delta's own gap
        bad = df.where(
            ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        )
        if bad.limit(1).count():
            raise ValueError(
                f"column invariant on {col!r} ({expr}) violated by "
                "incoming rows; nothing was committed"
            )


def delta_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: validate the snapshot the commit
    reads against ``expr`` (a violating table must not gain the
    constraint; a lost race re-validates the winner's), then commit an
    updated metaData carrying it, with the table's constraints declared
    per :func:`_protocol` — writer 3 on a legacy table, the
    ``checkConstraints`` feature at writer 7. Our own writer gate
    accepts both because this module enforces them; foreign writers
    that don't will refuse the table, which is the protocol working as
    designed."""
    key = _CONSTRAINT_PREFIX + name

    def mutate(read_version: int, proto, meta: dict) -> list:
        _enforce_constraints(
            delta_read(spark, path, version=read_version),
            {"configuration": {key: expr}},
        )
        conf = {**meta.get("configuration", {}), key: expr}
        new_meta = {**meta, "configuration": conf}
        return [_protocol(proto, new_meta), {"metaData": new_meta}]

    return _commit_metadata_change(spark, path, "ADD CONSTRAINT", mutate)


def delta_drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metaData update removing the key."""
    key = _CONSTRAINT_PREFIX + name

    def mutate(_v, _proto, meta: dict) -> list:
        conf = dict(meta.get("configuration", {}))
        if conf.pop(key, None) is None:
            raise ValueError(f"no constraint {name!r} on {path}")
        return [{"metaData": {**meta, "configuration": conf}}]

    return _commit_metadata_change(spark, path, "DROP CONSTRAINT", mutate)


def _cdf_enabled(meta: dict | None) -> bool:
    """The protocol's CDF gate: table property
    ``delta.enableChangeDataFeed`` in metaData.configuration."""
    return bool(meta) and (
        str(
            meta.get("configuration", {}).get(
                "delta.enableChangeDataFeed", ""
            )
        ).lower()
        == "true"
    )


def _stage_change_files(images, path: str) -> list[dict]:
    """Write an op's change images — (frame of logical columns,
    ``_change_type``) pairs — as parquet under ``_change_data/`` and
    return the commit's ``cdc`` actions, the protocol's change-data-file
    route. A commit that carries cdc actions gives CDF readers an
    O(changes) read: they open ONLY these files, never the rewritten
    data files. Change files are written flat (partition values live in
    the rows, not the directory layout)."""
    df = None
    for frame, kind in images:
        image = frame.drop(_RT_COL).withColumn("_change_type", F.lit(kind))
        df = image if df is None else df.unionByName(image)
    fs, _, jvm = _hadoop_fs(df.sparkSession, path)
    published = _publish_staged(
        fs,
        jvm,
        df.write.mode("overwrite"),
        f"{path}/.staging-cdc-{uuid.uuid4().hex}",
        path,
        lambda staged: [
            f"_change_data/cdc-{uuid.uuid4().hex}.parquet" for _ in staged
        ],
    )
    return [
        {
            "cdc": {
                "path": rel,
                "partitionValues": {},
                "size": size,
                "dataChange": False,
            }
        }
        for rel, size, _ in published
    ]


def delta_read_cdf(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed read over commits [from_version, to_version]:
    every row the range changed, tagged ``_change_type`` (insert /
    delete / update_preimage / update_postimage) + ``_commit_version``.

    Commits that carry ``cdc`` actions (the DML writers on a
    CDF-enabled table) are read from their ``_change_data/`` files —
    O(changes), no data file opened. Commits without cdc actions fall
    back to file-granularity derivation: dataChange adds read as
    inserts, dataChange removes read as deletes (exact for append-only
    and overwrite commits, the same rule delta-spark applies).
    dataChange=false layout commits (OPTIMIZE) contribute nothing.
    Raises when a commit in the range was removed by log cleanup —
    a silently partial feed would corrupt every downstream increment."""
    versions = _list_versions(spark, path)
    if not versions:
        raise ValueError(f"no delta table at {path}")
    hi = versions[-1] if to_version is None else to_version
    want = set(range(from_version, hi + 1))
    if not want <= set(versions):
        raise ValueError(
            f"CDF range [{from_version}, {hi}] of {path} is no longer "
            f"reconstructible: commits {sorted(want - set(versions))} "
            "were removed by log retention cleanup"
        )
    pieces: list[DataFrame] = []
    for v in sorted(want):
        text = _read_log_text_immutable(spark, _version_file(path, v))
        cdc_files: list[str] = []
        add_files: list[str] = []
        rm_files: list[str] = []
        dv_adds = False
        for line in text.splitlines():
            action = json.loads(line)
            if "cdc" in action:
                cdc_files.append(action["cdc"]["path"])
            elif "add" in action and action["add"].get("dataChange", True):
                if action["add"].get("deletionVector"):
                    dv_adds = True
                add_files.append(action["add"]["path"])
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                rm_files.append(action["remove"]["path"])
        if cdc_files:
            part = spark.read.parquet(
                *[_data_uri(path, f) for f in cdc_files]
            ).withColumn("_commit_version", F.lit(v).cast("bigint"))
            pieces.append(part)
            continue
        if dv_adds:
            # a DV-delete re-adds a file it did NOT fully insert, so the
            # file-granularity fallback would misreport the whole file as
            # inserted — exact feeds over merge-on-read deletes require
            # cdc actions; refuse rather than corrupt the feed
            raise ValueError(
                f"commit {v} of {path} applies deletion vectors without "
                "cdc actions; enable delta.enableChangeDataFeed for an "
                "exact feed over merge-on-read deletes"
            )
        if add_files or rm_files:
            # read with the snapshot's physical schema projected to
            # logical names — a column-mapped table's files hold
            # col-<uuid> names that must never leak into the feed
            _, meta_v, _, _ = _snapshot_state(spark, path, v)
        for files, ctype in ((add_files, "insert"), (rm_files, "delete")):
            if not files:
                continue
            part = (
                _physical_scan(spark, path, meta_v, files)
                .withColumn("_change_type", F.lit(ctype))
                .withColumn("_commit_version", F.lit(v).cast("bigint"))
            )
            pieces.append(part)
    if not pieces:
        _, meta, _, _ = _snapshot_state(spark, path, hi)
        empty = spark.createDataFrame([], _logical_schema(meta))
        return empty.withColumn(
            "_change_type", F.lit(None).cast("string")
        ).withColumn("_commit_version", F.lit(None).cast("bigint"))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def delta_delete(spark: SparkSession, path: str, predicate) -> int:
    """``DELETE FROM t WHERE predicate`` on the native log, copy-on-write.

    Distributed two-phase plan: (1) one snapshot scan evaluates the
    predicate and aggregates the DISTINCT affected file set (driver
    receives file names only — metadata-sized); (2) ONLY those files are
    re-read, surviving rows (predicate false/NULL) re-staged, and the
    commit pairs their removes with the survivor adds. A file whose rows
    all match simply gets a remove. Files without matches are untouched.
    Returns the committed version (current version if nothing matched)."""
    t0 = time.perf_counter()
    pred = _coerce_predicate(predicate)
    read_version, _, meta, live, _ = _snapshot_at(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    affected = _touched_files(spark, path, meta, live, predicate)
    if not affected:
        return read_version
    sub = _read_affected_files(spark, path, meta, live, affected)

    def metrics(adds: list[dict], cdc: list[dict]) -> dict:
        copied = _num_records(adds)
        out = {
            "numRemovedFiles": len(affected),
            "numAddedFiles": len(adds),
            "numCopiedRows": copied,
            "numAddedChangeFiles": len(cdc),
        }
        # the removed files' live rows, when every one records numRecords
        stats = [json.loads(live[f].get("stats") or "{}") or {} for f in affected]
        if all("numRecords" in st for st in stats):
            out["numDeletedRows"] = (
                sum(st["numRecords"] for st in stats)
                - sum(
                    int((live[f].get("deletionVector") or {}).get("cardinality", 0))
                    for f in affected
                )
                - copied
            )
        return out

    # survivors carry their materialized _row_id; fresh base ranges are
    # still stamped (never reused), matching delta-spark's rewrite shape
    return _rewrite(
        spark, path, "DELETE", read_version, meta, live, affected,
        sub.where(~pred), t0=t0, metrics=metrics,
        changes=lambda: [(sub.where(pred), "delete")],
    )


@_releases_checkpoints
def delta_replace_where(
    spark: SparkSession, path: str, predicate, df: DataFrame
) -> int:
    """Selective overwrite — delta-spark's ``.mode("overwrite")
    .option("replaceWhere", pred)`` with ARBITRARY predicates (not just
    partition columns), the idempotent-backfill writer a lakehouse job
    scheduler leans on: re-running "rebuild region P" always converges
    to the new region (reference surfaces this writer via delta-spark,
    /root/reference/README.md:302).

    Atomic region swap, one commit:

    1. every incoming row must satisfy the predicate — a row
       that does not (or where it is NULL) would land OUTSIDE the
       declared replacement region; delta-spark refuses
       (DeltaAnalysisException), so do we, with nothing staged or
       committed;
    2. existing matching rows leave copy-on-write: files whose rows all
       match get plain removes, partially-matching files are rewritten
       keeping their non-matching remainder (NULL-predicate rows are
       remainder, SQL three-valued logic);
    3. the incoming rows follow the rule an append follows
       (:func:`_conform` without schema evolution: a batch an append
       refuses is refused here, before anything is staged) and are
       staged; removes + remainder + new data publish in ONE version —
       a reader sees the old region or the new one, never a mix.

    At 100 TB: phase 1 is one snapshot scan reducing to the DISTINCT
    affected-file set (driver sees file names only); only those files
    are re-read. A partition-aligned predicate therefore rewrites
    nothing — pure remove + append, the classic backfill fast path.
    """
    t0 = time.perf_counter()
    pred = _coerce_predicate(predicate)
    read_version, _, snap_meta, live, _ = _snapshot_at(spark, path)
    if snap_meta is None:
        raise ValueError(f"no delta table at {path}")
    incoming, meta = _conform(df, snap_meta, read_version + 1)
    # three consumers (region check, staging, change feed), one compute
    incoming = _checkpoint(incoming, eager=False)
    # "outside" = predicate not TRUE — ~NULL is NULL and would slip the
    # where(), letting NULL-predicate rows commit outside the declared
    # region (and a re-run's scan.where(pred) could never remove them,
    # breaking idempotent-backfill convergence)
    outside = (
        incoming.where(
            ~F.coalesce(pred.cast("boolean"), F.lit(False))
        )
        .limit(1)
        .count()
    )
    if outside:
        raise ValueError(
            f"replaceWhere({predicate!r}): incoming rows fall outside "
            "the replacement predicate — nothing was committed"
        )
    affected = _touched_files(spark, path, meta, live, predicate)
    new_rows = incoming
    if _rt_enabled(meta):
        # fresh region rows have no prior identity: null defers to the
        # staged file's fresh baseRowId + position
        new_rows = new_rows.withColumn(_RT_COL, F.lit(None).cast("long"))
    sub = _read_affected_files(spark, path, meta, live, affected) if affected else None
    # the remainder keeps its materialized _row_id through the rewrite
    out = new_rows if sub is None else sub.where(~pred).unionByName(new_rows)

    def changes() -> list:
        deleted = [] if sub is None else [(sub.where(pred), "delete")]
        return deleted + [(incoming, "insert")]

    return _rewrite(
        spark, path, "WRITE (replaceWhere)", read_version, meta, live,
        affected, out, t0=t0, changes=changes,
        metrics=lambda adds, cdc: {
            "numFiles": len(adds),
            "numOutputRows": _num_records(adds),
            "numOutputBytes": sum(a["add"]["size"] for a in adds),
            "numRemovedFiles": len(affected),
            "numRemovedBytes": sum(int(live[f].get("size", 0)) for f in affected),
        },
        # the conformed batch's metaData carries the identity watermark
        # of the values staged under it: abort on a lost race
        extra_actions=None if meta is snap_meta else [{"metaData": meta}],
        abort=meta is not snap_meta,
    )


def delta_update(
    spark: SparkSession, path: str, predicate, assignments: dict
) -> int:
    """``UPDATE t SET col = expr WHERE predicate``, copy-on-write.

    ``assignments`` maps column name → Column/SQL-string expression
    evaluated against the pre-update row. Same two-phase plan as
    delta_delete; rewritten files hold every row they held before (the
    row count is invariant under UPDATE), with matching rows transformed.
    All assignments are applied simultaneously from the preimage (SQL
    UPDATE semantics — ``SET a = b, b = a`` swaps)."""
    t0 = time.perf_counter()
    pred = _coerce_predicate(predicate)
    exprs = {
        col: (F.expr(e) if isinstance(e, str) else e)
        for col, e in assignments.items()
    }
    read_version, _, meta, live, _ = _snapshot_at(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    unknown = set(exprs) - {f.name for f in schema.fields}
    if unknown:
        raise ValueError(f"UPDATE of unknown columns: {sorted(unknown)}")
    gen_assigned = set(exprs) & set(_generated_columns(meta))
    if gen_assigned:
        raise ValueError(
            f"cannot UPDATE generated columns {sorted(gen_assigned)}; "
            "they are recomputed from their generation expression"
        )
    id_assigned = set(exprs) & set(_identity_columns(meta))
    if id_assigned:
        raise ValueError(
            f"cannot UPDATE identity columns {sorted(id_assigned)}; "
            "their values are engine-allocated"
        )
    affected = _touched_files(spark, path, meta, live, predicate)
    if not affected:
        return read_version
    rt = _rt_enabled(meta)
    sub = _read_affected_files(spark, path, meta, live, affected)
    # one simultaneous select from the preimage; casts pin each updated
    # column to its declared type so UPDATE can never widen the schema.
    # Row-tracked tables carry each row's _row_id through the rewrite —
    # UPDATE never changes a row's identity.
    updated = sub.select(
        *[
            F.when(pred, exprs[f.name].cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in exprs
            else F.col(f.name)
            for f in schema.fields
        ],
        *([F.col(_RT_COL)] if rt else []),
    )
    # generated columns follow their dependencies' post-image values
    updated = _recompute_generated(updated, meta)
    _enforce_constraints(updated, meta)

    def changes() -> list:
        post = sub.where(pred).select(
            *[
                exprs[f.name].cast(f.dataType).alias(f.name)
                if f.name in exprs
                else F.col(f.name)
                for f in schema.fields
            ]
        )
        return [
            (sub.where(pred), "update_preimage"),
            (_recompute_generated(post, meta), "update_postimage"),
        ]

    return _rewrite(
        spark, path, "UPDATE", read_version, meta, live, affected, updated,
        t0=t0, changes=changes,
        metrics=lambda adds, cdc: {
            "numRemovedFiles": len(affected),
            "numAddedFiles": len(adds),
            "numAddedChangeFiles": len(cdc),
        },
    )


@_releases_checkpoints
def delta_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    update_cols: list[str] | None = None,
    insert_unmatched: bool = True,
    txn: tuple[str, int] | None = None,
    schema_evolution: bool = False,
    matched_delete: str | None = None,
    matched_condition: str | None = None,
) -> int:
    """``MERGE INTO target USING source ON keys`` upsert
    (whenMatchedUpdate + whenNotMatchedInsert), copy-on-write.

    Full matched-clause surface (delta-spark's clause chain, evaluated
    in the canonical retire-then-refresh order):

    - ``matched_delete`` — ``whenMatchedDelete(condition=...)``,
      evaluated FIRST on the matched row's PRE-update values: matching
      rows leave the table (and emit CDF ``delete`` images). Target
      columns are addressed by name; the source row's values are
      available as ``__src_<col>``.
    - ``matched_condition`` — ``whenMatchedUpdate(condition=...)``:
      matched rows not taken by the delete clause update only when the
      condition holds (same name addressing); others pass through
      unchanged and emit no change images. ``None`` keeps the
      unconditional-update behavior.

    ``schema_evolution=True`` is delta-spark's ``withSchemaEvolution()``:
    source columns the target lacks evolve the table schema in the SAME
    commit (new nullable fields appended; existing fields keep their
    schema metadata, column-mapping tables mint fresh ids/physical
    names for the new fields only). Matched rows take the new columns'
    source values, pre-evolution rows read back as nulls — no file is
    rewritten for the evolution itself. Same-name type conflicts are
    rejected (MERGE never widens types; that is the append path's
    typeWidening contract).

    ``txn=(app_id, version)`` rides the protocol's idempotent-writer
    action on the merge commit — the streaming-sink replay guard
    (consult :func:`delta_last_txn` before re-applying a batch), same
    contract as ``delta_write``'s txn.

    Phase 1, the touched-file pass (distributed): the source's per-key
    row counts, left-joined to the (keys, file) scan of the live files
    whose key stats overlap the source's key range, yield the matched
    files and the ambiguity check in one job — only file names and a
    duplicate flag are collected. Phase 2: re-read ONLY matched files,
    left-join the source and overwrite ``update_cols`` (default: every
    non-key column the source carries) on matched rows; source rows
    whose key no matched file holds are appended as inserts (a target
    row with a source key lives in a matched file by definition),
    conformed to the table schema (missing columns → typed nulls). One
    commit carries removes + rewritten adds + insert adds — the upsert
    is atomic.

    Ambiguity check (delta-spark raises the same way): a source with
    duplicate keys would update one target row twice nondeterministically
    — rejected before any file is staged."""
    if not on:
        raise ValueError("merge requires at least one key column")
    t0 = time.perf_counter()
    # one computation of the source feeds the key bounds, the touched-
    # file pass, the rewrite and the inserts (for streaming upserts: a
    # python-source read + the fold); its first action materializes it
    src = _checkpoint(source, eager=False)
    read_version, _, meta, _live, _ = _snapshot_at(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    schema = _logical_schema(meta)
    tcols = [f.name for f in schema.fields]
    missing = [k for k in on if k not in tcols or k not in source.columns]
    if missing:
        raise ValueError(f"merge keys absent from target or source: {missing}")
    evo_action = None
    if schema_evolution and any(
        f.name not in tcols for f in source.schema.fields
    ):
        # append-only evolution: _merge_schemas keeps existing fields
        # (order, types — conflicts raise, MERGE never widens) and
        # appends the new ones nullable
        meta = _evolve(
            meta, _merge_schemas(schema, source.schema), read_version + 1
        )
        evo_action = {"metaData": meta}
        schema = _logical_schema(meta)
        tcols = [f.name for f in schema.fields]
    identity = _identity_columns(meta)
    upd = update_cols or [
        c
        for c in source.columns
        if c in tcols and c not in on and c not in identity
    ]
    if set(upd) & set(identity):
        raise ValueError(
            f"cannot MERGE-update identity columns "
            f"{sorted(set(upd) & set(identity))}"
        )
    bounds = _merge_key_bounds(src, meta, _live, on)
    scan = None if bounds is None else _pruned_scan(spark, path, meta, _live, bounds)
    keyed = src.groupBy(*on).agg(F.count(F.lit(1)).alias("__n"))
    if scan is None:
        keyed = keyed.withColumn("__ls_file", F.lit(None).cast("string"))
    else:
        keyed = keyed.join(
            scan.select(*on, F.col("__dv_file").alias("__ls_file")),
            on=on,
            how="left",
        )
    touched = (
        keyed.where((F.col("__n") > 1) | F.col("__ls_file").isNotNull())
        .select("__ls_file", (F.col("__n") > 1).alias("__dup"))
        .distinct()
        .collect()
    )
    if any(r["__dup"] for r in touched):
        raise ValueError(
            "MERGE source has duplicate rows per key — each target row "
            "must match at most one source row"
        )
    base_map = {f.rsplit("/", 1)[-1]: f for f in _live}
    affected = sorted({base_map[r["__ls_file"]] for r in touched if r["__ls_file"]})
    rt = _rt_enabled(meta)
    pieces: list[DataFrame] = []
    if affected:
        sub = _read_affected_files(spark, path, meta, _live, affected)
        # explicit match flag, not COALESCE: a matched source row that
        # carries NULL in an update column must write that NULL
        src_upd = src.select(
            *on,
            F.lit(True).alias("__src_matched"),
            *[F.col(c).alias(f"__src_{c}") for c in upd],
        )
        # a column the OLD files don't carry (just-evolved) reads as a
        # typed null on the unmatched side
        def _old(c: str):
            return (
                F.col(c)
                if c in sub.columns
                else F.lit(None).cast(schema[c].dataType)
            )

        # a clause condition that evaluates NULL is NOT taken (delta-spark
        # semantics: the row passes through) — without the coalesce a NULL
        # __del would be dropped by where(~__del) AND excluded from the
        # delete CDF images, vanishing the row with no change record
        del_pred = (
            F.coalesce(
                _coerce_predicate(matched_delete).cast("boolean"),
                F.lit(False),
            )
            if matched_delete is not None
            else F.lit(False)
        )
        upd_pred = (
            F.coalesce(
                _coerce_predicate(matched_condition).cast("boolean"),
                F.lit(False),
            )
            if matched_condition is not None
            else F.lit(True)
        )
        flagged = (
            sub.join(src_upd, on=on, how="left")
            .withColumn(
                "__matched",
                F.coalesce(F.col("__src_matched"), F.lit(False)),
            )
            .withColumn("__del", F.col("__matched") & del_pred)
            .withColumn(
                "__upd", F.col("__matched") & ~del_pred & upd_pred
            )
        )
        if _cdf_enabled(meta):
            # the survivors and the three change-image consumers
            flagged = _checkpoint(flagged, eager=False)
        merged_all = flagged.select(
            *[
                F.when(
                    F.col("__upd"),
                    F.col(f"__src_{c}").cast(schema[c].dataType),
                )
                .otherwise(_old(c))
                .alias(c)
                if c in upd
                else _old(c).alias(c)
                for c in tcols
            ],
            # updated rows keep their stable row id through the rewrite
            *([F.col(_RT_COL)] if rt else []),
            "__del",
            "__upd",
        )
        merged = merged_all.where(~F.col("__del")).drop("__del", "__upd")
        # generated columns track their dependencies' merged values
        merged = _recompute_generated(merged, meta)
        pieces.append(merged)
    id_action = None
    if insert_unmatched:
        inserts = (
            src.join(sub.select(*on), on=on, how="left_anti")
            if affected
            else src
        ).select(
            *[
                F.col(c).cast(schema[c].dataType).alias(c)
                if c in src.columns
                else F.lit(None).cast(schema[c].dataType).alias(c)
                for c in tcols
            ],
            # inserted rows have no prior identity: a null materialized
            # id defers to the staged file's fresh baseRowId + position
            *([F.lit(None).cast("long").alias(_RT_COL)] if rt else []),
        )
        # a source that omits a generated column inserts its computed
        # value, not a typed null
        inserts = _recompute_generated(inserts, meta)
        if identity:
            # inserted rows get fresh ids above the watermark; the
            # advanced watermark commits atomically with the upsert
            inserts, id_action = _allocate_identity(
                inserts.drop(*identity), meta
            )
            if id_action is not None:
                meta = id_action["metaData"]
            inserts = inserts.select(*tcols, *([_RT_COL] if rt else []))
        pieces.append(inserts)
    if not pieces:
        return read_version
    out = functools.reduce(DataFrame.unionByName, pieces)
    _enforce_constraints(out, meta)

    def changes() -> list:
        images = []
        if affected:
            # pre-images from the flagged frame (pre-update values,
            # conformed to the evolved schema when needed)
            pre_all = flagged.select(
                *[_old(c).alias(c) for c in tcols], "__del", "__upd"
            )
            post = merged_all.where("__upd").drop("__del", "__upd", _RT_COL)
            images += [
                (pre_all.where("__del").drop("__del", "__upd"), "delete"),
                (pre_all.where("__upd").drop("__del", "__upd"), "update_preimage"),
                (_recompute_generated(post, meta), "update_postimage"),
            ]
        if insert_unmatched:
            images.append((inserts, "insert"))
        return images

    return _rewrite(
        spark, path, "MERGE", read_version, meta, _live, affected, out,
        t0=t0, changes=changes,
        metrics=lambda adds, cdc: {
            "numTargetFilesAdded": len(adds),
            "numTargetFilesRemoved": len(affected),
            "numTargetBytesAdded": sum(a["add"]["size"] for a in adds),
            "numTargetBytesRemoved": sum(
                int(_live[f].get("size", 0)) for f in affected
            ),
            "numOutputRows": _num_records(adds),
            "numTargetChangeFilesAdded": len(cdc),
        },
        # evolution first: the id and row-id watermarks are built FROM
        # the evolved meta, so last-metaData-wins stays consistent
        extra_actions=[
            a
            for a in (
                {"txn": {"appId": txn[0], "version": int(txn[1])}} if txn else None,
                evo_action,
                id_action,
            )
            if a is not None
        ],
        # staged insert files hold ids allocated under THIS snapshot's
        # watermark; a lost race may have claimed them — abort, never
        # blind-retry (mirrors delta_write's identity guard)
        abort=id_action is not None,
    )


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE; reader protocol v3 / writer v7)
#
# delta-spark's other DELETE strategy (PROTOCOL.md "Deletion Vectors"):
# instead of rewriting every file that contains a matching row, commit
# the SAME data file back with a descriptor pointing at a sidecar that
# lists the deleted row positions. Write cost becomes O(deleted rows),
# not O(bytes of affected files) — at 100 TB a point-delete touching
# 10k files rewrites kilobytes of positions instead of terabytes of
# parquet. The read side re-applies the DVs as a broadcast anti-join on
# (file basename, row position); OPTIMIZE materializes them away
# (its rewrite reads through delta_read, which already filters).


def _dv_anti_filter(
    spark: SparkSession, path: str, df: DataFrame, adds
) -> DataFrame:
    """Filter ``df`` (which carries ``__dv_file``/``__dv_row`` scan
    metadata columns) through the deletion vectors referenced by
    ``adds``. Two descriptor dialects are applied:

    - NATIVE units (pathOrInlineDv under ``_deletion_vectors/``):
      parquet row sets, scanned distributed. The DV side is restricted
      to exactly the (storage unit, data file) pairs the live
      descriptors name — entries for files whose DV was superseded by a
      later merge, or that were rewritten since, can never leak in.
    - FOREIGN wire-format descriptors (delta-spark: inline Z85,
      UUID-addressed or absolute ``.bin`` RoaringBitmapArray files) —
      decoded driver-side by sources/dv_codec.py. Per the protocol a
      DV is O(deleted rows in ONE file) and capped by delta-spark's
      own sizing; descriptors are per-live-file, so the decode is
      bounded by the snapshot's DV'd-file count. (An executor-side
      ``mapInPandas`` decode over the descriptor frame is the drop-in
      upgrade if a foreign table ever carries millions of DVs.)

    Either way DV rows are O(deleted rows): broadcast, never a
    fact-side shuffle."""
    native_pairs = []
    foreign_rows: list[tuple[str, int]] = []
    for f, a in adds:
        d = a.get("deletionVector")
        if not d:
            continue
        ref = d.get("pathOrInlineDv") or ""
        if d.get("storageType") in ("u", "p") and _DV_DIR in ref:
            native_pairs.append((f.rsplit("/", 1)[-1], ref))
        else:
            from .dv_codec import decode_descriptor_rows

            base = f.rsplit("/", 1)[-1]
            rows = decode_descriptor_rows(
                d, lambda rel: _read_raw_bytes(spark, _data_uri(path, rel))
            )
            foreign_rows.extend((base, r) for r in rows)
    if not native_pairs and not foreign_rows:
        return df
    parts = []
    if native_pairs:
        parts.append(
            _native_dv_rows(spark, path, native_pairs).select(
                F.col("file").alias("__del_file"),
                F.col("row_index").alias("__del_row"),
            )
        )
    if foreign_rows:
        parts.append(
            spark.createDataFrame(
                foreign_rows, "__del_file string, __del_row long"
            )
        )
    dv = parts[0]
    for p in parts[1:]:
        dv = dv.unionByName(p)
    return df.join(
        F.broadcast(dv),
        (df["__dv_file"] == dv["__del_file"])
        & (df["__dv_row"] == dv["__del_row"]),
        "left_anti",
    )


def _native_dv_rows(
    spark: SparkSession, path: str, pairs: list[tuple[str, str]]
) -> DataFrame:
    """The (file, row_index) rows of NATIVE DV storage units for exactly
    the (data-file basename, unit path) ``pairs`` live descriptors name —
    entries for files whose DV was superseded by a later merge, or that
    were rewritten since, can never leak in. Read with the units'
    declared schema: no schema-inference job."""
    valid = [f"{u.rsplit('/', 1)[-1]}||{b}" for b, u in pairs]
    return (
        spark.read.schema("file string, row_index long")
        .parquet(*[_data_uri(path, u) for u in sorted({u for _, u in pairs})])
        .where(
            F.concat_ws(
                "||",
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2),
                F.col("file"),
            ).isin(valid)
        )
        .select("file", "row_index")
    )


def _dv_mask_and_commit(
    spark: SparkSession,
    path: str,
    read_version: int,
    proto: dict | None,
    meta: dict,
    live: dict[str, dict],
    hits: DataFrame,
    op: str,
    t0: float,
    changes,
    rows: DataFrame | None = None,
    wire_format: str = "native",
) -> int:
    """Shared merge-on-read commit core: mask ``hits``' (file, row
    position) pairs behind a fresh DV storage unit (merged with the
    affected files' prior DVs), re-add partially-masked files with the
    new descriptor, plain-remove fully-masked files, and commit them
    through :func:`_rewrite` with ``rows`` (an UPDATE's replacement
    rows) and the ``changes`` images.

    ``hits`` is the caller's checkpoint of the matched rows (carrying
    ``__dv_file``/``__dv_row``, DVs already applied): one
    ``groupBy(file).count()`` over it gives both the hit files and each
    file's new cardinality — the prior descriptor's ``cardinality`` plus
    the new hits, the two sets being disjoint.

    ``wire_format``: "native" (default) stores the DV as a parquet row
    set under ``_deletion_vectors/`` — the distributed-anti-join layout;
    "standard" emits the PROTOCOL.md wire format (one
    ``deletion_vector_<uuid>.bin`` packing every file's
    RoaringBitmapArray, Z85-uuid 'u' descriptors with offset/size/CRC) —
    the table is then DV-readable by delta-spark in place. The standard
    encode collects the merged positions driver-side (O(deleted rows),
    the same bound as the foreign decode path); tables with huge delete
    masses should keep the native layout or OPTIMIZE the DVs away."""
    new_rows = hits.select(
        F.col("__dv_file").alias("file"), F.col("__dv_row").alias("row_index")
    )
    new_card = {
        r["file"]: r["n"]
        for r in new_rows.groupBy("file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not new_card:
        return read_version
    base_map = {f.rsplit("/", 1)[-1]: f for f in live}
    prior = {
        b: live[base_map[b]]["deletionVector"]
        for b in new_card
        if live[base_map[b]].get("deletionVector")
    }
    card = {
        b: n + int(prior[b]["cardinality"]) if b in prior else n
        for b, n in new_card.items()
    }
    # merge with the affected files' existing DV rows
    merged = new_rows
    native_prior = {
        b: d["pathOrInlineDv"]
        for b, d in prior.items()
        if _DV_DIR in (d.get("pathOrInlineDv") or "")
    }
    if native_prior:
        merged = merged.unionByName(
            _native_dv_rows(spark, path, list(native_prior.items()))
        )
    foreign_prior = {b: d for b, d in prior.items() if b not in native_prior}
    if foreign_prior:
        # prior descriptors in the protocol wire format (a foreign table
        # we now write to, or our own standard-format commits)
        from .dv_codec import decode_descriptor_rows

        decoded: list[tuple[str, int]] = []
        for b, d in foreign_prior.items():
            decoded.extend(
                (b, r)
                for r in decode_descriptor_rows(
                    d,
                    lambda rel: _read_raw_bytes(spark, _data_uri(path, rel)),
                )
            )
        if decoded:
            merged = merged.unionByName(
                spark.createDataFrame(decoded, "file string, row_index long")
            )
    descriptors: dict[str, dict]
    if wire_format == "standard":
        from .dv_codec import pack_dv_file, roaring_array_encode, z85_encode

        by_file: dict[str, set[int]] = {}
        for r in merged.collect():  # O(deleted rows) — see docstring
            by_file.setdefault(r["file"], set()).add(int(r["row_index"]))
        bitmaps = {
            b: roaring_array_encode(sorted(v)) for b, v in by_file.items()
        }
        blob, offsets = pack_dv_file([bitmaps[b] for b in sorted(bitmaps)])
        u = uuid.uuid4()
        fs, hpath, _ = _hadoop_fs(
            spark, f"{path}/deletion_vector_{u}.bin"
        )
        _write_bytes(fs, hpath, blob)
        descriptors = {
            b: {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": offsets[i],
                "sizeInBytes": len(bitmaps[b]),
                "cardinality": card[b],
                "maxRowIndex": max(by_file[b]),
            }
            for i, b in enumerate(sorted(bitmaps))
        }
    elif wire_format == "native":
        dv_rel = f"{_DV_DIR}/dv-{uuid.uuid4().hex}"
        merged.write.parquet(f"{path}/{dv_rel}")
        descriptors = {
            b: {
                "storageType": "u",
                "pathOrInlineDv": dv_rel,
                "cardinality": card[b],
            }
            for b in card
        }
    else:
        raise ValueError(f"unknown DV wire_format {wire_format!r}")
    adds_out: list[dict] = []
    affected: list[str] = []
    for b in sorted(card):
        f = base_map[b]
        old_add = live[f]
        affected.append(f)
        num = None
        if old_add.get("stats"):
            num = json.loads(old_add["stats"]).get("numRecords")
        if num is not None and card[b] >= int(num):
            continue  # DV covers the whole file → plain remove
        new_add = dict(old_add)
        new_add["deletionVector"] = descriptors[b]
        new_add["dataChange"] = True
        adds_out.append({"add": new_add})
    readded = {a["add"]["path"].rsplit("/", 1)[-1] for a in adds_out}
    hit_rows = "numDeletedRows" if op == "DELETE" else "numUpdatedRows"
    upgrade = _protocol(proto, meta, add={"deletionVectors"})
    return _rewrite(
        spark, path, op, read_version, meta, live, affected, rows,
        t0=t0, changes=changes, kept=adds_out,
        extra_actions=[upgrade] if upgrade is not None else None,
        metrics=lambda adds, cdc: {
            "numRemovedFiles": len(card) - len(readded),
            "numAddedFiles": len(adds),
            hit_rows: sum(new_card.values()),
            "numCopiedRows": 0,
            "numDeletionVectorsAdded": len(readded - set(prior)),
            "numDeletionVectorsUpdated": len(readded & set(prior)),
            "numDeletionVectorsRemoved": len(set(prior) - readded),
            "numAddedChangeFiles": len(cdc),
        },
    )


@_releases_checkpoints
def delta_delete_dv(
    spark: SparkSession, path: str, predicate, wire_format: str = "native"
) -> int:
    """``DELETE FROM t WHERE predicate`` via deletion vectors
    (merge-on-read), the delta-spark DV write path.

    Plan: ONE scan of the files the predicate's stats bounds cannot skip
    (existing DVs applied, so re-deletes and CDF images never resurrect
    already-deleted rows) evaluates the predicate and checkpoints the
    (file basename, row position) hit pairs; hits are unioned with the
    affected files' prior DV rows (descriptor merge — per-file DVs are
    monotone) and written distributed as this commit's single DV
    storage unit. The commit then re-adds each partially-affected file
    with the new descriptor (remove+add of the SAME path — no data file
    is read or rewritten) and plain-removes files whose DV now covers
    every row. First DV commit upgrades the table protocol to reader
    v3 / writer v7 with the deletionVectors table feature.

    Returns the committed version (current version if nothing matched).
    Composes with OCC retry (action-equality re-validation via
    ``expected`` — a racing DV update on the same file aborts rather
    than dropping its deletions), CDF (delete images from the same
    checkpoint), checkpoints (descriptor round-trips through the
    checkpoint schema), RESTORE, and OPTIMIZE (materializes DVs away)."""
    t0 = time.perf_counter()
    pred = _coerce_predicate(predicate)
    read_version, proto, meta, live, _ = _snapshot_at(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    scan = _pruned_scan(
        spark, path, meta, live, _predicate_bounds(spark, meta, predicate)
    )
    if scan is None:
        return read_version
    images = [l for _, l in _cm_pairs(meta)] if _cdf_enabled(meta) else []
    # one computation of the hits feeds the mask aggregate, the DV write
    # and the change images
    hits = _checkpoint(
        scan.where(pred).select(*images, "__dv_file", "__dv_row"), eager=False
    )
    return _dv_mask_and_commit(
        spark, path, read_version, proto, meta, live, hits, "DELETE", t0,
        lambda: [(hits.select(*images), "delete")], wire_format=wire_format,
    )


@_releases_checkpoints
def delta_update_dv(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    wire_format: str = "native",
) -> int:
    """``UPDATE ... SET ...`` via deletion vectors (merge-on-read): the
    matched positions are MASKED behind a DV and the post-image rows
    appended as new files — one commit, no affected file rewritten. For
    a point-update on a 100 TB table this writes O(matched rows) of new
    data + kilobytes of positions where copy-on-write rewrites every
    touched file. Assignments follow delta_update semantics (applied
    simultaneously from the preimage, generated columns recomputed,
    identity/generated assignment refused, constraints enforced)."""
    t0 = time.perf_counter()
    pred = _coerce_predicate(predicate)
    exprs = {
        col: (F.expr(e) if isinstance(e, str) else e)
        for col, e in assignments.items()
    }
    read_version, proto, meta, live, _ = _snapshot_at(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    if not live:
        return read_version
    logical = _logical_schema(meta)
    unknown = set(exprs) - {f.name for f in logical.fields}
    if unknown:
        raise ValueError(f"UPDATE of unknown columns: {sorted(unknown)}")
    blocked = set(exprs) & (
        set(_generated_columns(meta)) | set(_identity_columns(meta))
    )
    if blocked:
        raise ValueError(
            f"cannot UPDATE generated/identity columns {sorted(blocked)}"
        )
    rt = _rt_enabled(meta)
    scan = _pruned_scan(
        spark,
        path,
        meta,
        live,
        _predicate_bounds(spark, meta, predicate),
        with_row_col=rt,
    )
    if scan is None:
        return read_version
    # one materialization feeds the DV mask, the replacement staging,
    # and the CDF images
    hits = _checkpoint(scan.where(pred))
    # row-tracked tables: the replacement rows are the SAME logical rows
    # — materialize their current ids so the masked positions' identity
    # migrates to the appended post-image files
    src = _rt_attach(spark, hits, list(live.items())) if rt else hits
    updated = src.select(
        *[
            exprs[f.name].cast(f.dataType).alias(f.name)
            if f.name in exprs
            else F.col(f.name)
            for f in logical.fields
        ],
        *([F.col(_RT_COL)] if rt else []),
    )
    updated = _recompute_generated(updated, meta)
    _enforce_constraints(updated, meta)
    pre = [f.name for f in logical.fields]
    return _dv_mask_and_commit(
        spark, path, read_version, proto, meta, live, hits, "UPDATE", t0,
        lambda: [
            (hits.select(*pre), "update_preimage"),
            (updated, "update_postimage"),
        ],
        rows=updated, wire_format=wire_format,
    )


def delta_reorg_purge(spark: SparkSession, path: str) -> int:
    """``REORG TABLE ... APPLY (PURGE)`` (delta-spark's DV-materializing
    rewrite): rewrite ONLY the live files carrying deletion-vector
    descriptors, physically dropping their masked rows, and commit the
    replacement with ``dataChange: false`` — the snapshot's logical rows
    are unchanged, so streaming readers skip the commit exactly as they
    skip OPTIMIZE. Files without a DV are untouched (unlike OPTIMIZE,
    which rewrites the whole live set). This is the mandatory first step
    of retiring the deletionVectors table feature: after the purge no
    live add references a DV storage unit, VACUUM can reclaim the units,
    and :func:`delta_drop_feature` can downgrade the protocol.

    Row-tracked tables keep every surviving row's ``_row_id`` through
    the rewrite (materialized into the replacement files, same as
    OPTIMIZE). Returns the committed version (current version when no
    live file carries a DV — a no-op writes no commit)."""
    t0 = time.perf_counter()
    read_version, _, meta, live, _ = _snapshot_at(spark, path)
    if read_version is None:
        raise ValueError(f"no delta table at {path}")
    affected = sorted(f for f, a in live.items() if a.get("deletionVector"))
    if not affected:
        return read_version
    # action-equality re-validation: a racing DV delete on an affected
    # file would add deletions this rewrite's survivors never dropped
    return _rewrite(
        spark, path, "REORG PURGE", read_version, meta, live, affected,
        _read_affected_files(spark, path, meta, live, affected),
        t0=t0, layout=True,
    )


# Features delta_drop_feature knows how to retire, with the per-feature
# "still in use" predicate documented at the call site. Everything else
# is refused: columnMapping leaves physical names inside every data
# file, v2Checkpoint would need the checkpoint history rewritten, and
# lakesailRowTracking would orphan the id watermark discipline.
_DROPPABLE_FEATURES = frozenset(
    {
        "deletionVectors",
        "typeWidening",
        "checkConstraints",
        "generatedColumns",
        "identityColumns",
        "allowColumnDefaults",
    }
)


def delta_drop_feature(
    spark: SparkSession,
    path: str,
    feature: str,
    truncate_history: bool = False,
) -> int:
    """``ALTER TABLE ... DROP FEATURE`` (delta-spark's two-step feature
    retirement): commit a protocol action WITHOUT ``feature``, downgrading
    to the legacy version pair when no table feature remains. A reader
    below the drop commit still needs the feature for time travel, so the
    drop is refused while any RETAINED log range (commit JSON or
    checkpoint) uses it — ``truncate_history=True`` first checkpoints the
    current snapshot and expires the older log (delta-spark's
    ``DROP FEATURE ... TRUNCATE HISTORY``), after which nothing below the
    cutoff is reconstructible and the feature can go.

    Per-feature "in use" gates (all refuse with the remedial step named):
    deletionVectors — any live add carrying a descriptor (run
    :func:`delta_reorg_purge` first); typeWidening — any field with a
    recorded widening history (pre-widening files need upcast-on-read
    forever); checkConstraints / generatedColumns / identityColumns —
    any constraint / generation expression / identity spec still in the
    schema. The feature-enabling configuration key (e.g.
    ``delta.enableTypeWidening``) is cleared in the same commit."""
    if feature not in _DROPPABLE_FEATURES:
        raise ValueError(
            f"feature {feature!r} cannot be dropped (supported: "
            f"{sorted(_DROPPABLE_FEATURES)})"
        )

    def check_live(read_version: int, proto, meta: dict) -> None:
        """The feature is declared and the snapshot no longer uses it."""
        if feature not in set().union(*_features(proto)):
            raise ValueError(
                f"table at {path} does not declare feature {feature!r}"
            )
        if feature == "deletionVectors":
            live = _snapshot_state(spark, path, read_version)[2]
            dv_live = [f for f, a in live.items() if a.get("deletionVector")]
            if dv_live:
                raise ValueError(
                    f"cannot drop deletionVectors from {path}: "
                    f"{len(dv_live)} live file(s) still carry descriptors; "
                    "run delta_reorg_purge first"
                )
        elif feature == "typeWidening":
            widened = [
                f["name"]
                for f in json.loads(meta["schemaString"])["fields"]
                if (f.get("metadata") or {}).get(_TW_PREV_KEY)
            ]
            if widened:
                raise ValueError(
                    f"cannot drop typeWidening from {path}: columns "
                    f"{sorted(widened)} record a widening history and "
                    "their pre-widening files need upcast-on-read forever"
                )
        elif feature == "checkConstraints":
            if _table_constraints(meta) or _field_invariants(meta):
                raise ValueError(
                    f"cannot drop checkConstraints from {path}: "
                    "constraints are still defined; drop them first"
                )
        elif feature == "generatedColumns":
            if _generated_columns(meta):
                raise ValueError(
                    f"cannot drop generatedColumns from {path}: "
                    "generation expressions are still defined"
                )
        elif feature == "identityColumns":
            if _identity_columns(meta):
                raise ValueError(
                    f"cannot drop identityColumns from {path}: identity "
                    "specs are still defined"
                )
        elif feature == "allowColumnDefaults":
            if _column_defaults(meta):
                raise ValueError(
                    f"cannot drop allowColumnDefaults from {path}: "
                    "column defaults are still defined"
                )

    if truncate_history:
        # checkpoint a snapshot whose live set passes the gates and expire
        # everything below it: time travel into the feature-using range
        # now raises instead of needing the feature
        read_version, proto, meta, _, _ = _snapshot_at(
            spark, path, include_adds=False
        )
        if meta is None:
            raise ValueError(f"no delta table at {path}")
        check_live(read_version, proto, meta)
        delta_checkpoint(spark, path, read_version)
        delta_cleanup_log(spark, path)

    def mutate(read_version: int, proto, meta: dict) -> list:
        check_live(read_version, proto, meta)
        if feature == "deletionVectors":
            # any retained commit or checkpoint that still resolves a
            # DV-carrying snapshot forces readers to implement the
            # feature; delta-spark runs the same retained-history scan
            # before the protocol downgrade. O(retained log) driver work
            # — metadata-sized, and bounded by log retention.
            used = []
            for v in _list_versions(spark, path):
                try:
                    text = _read_log_text_immutable(
                        spark, _version_file(path, v)
                    )
                except Exception:  # noqa: BLE001 — a commit that vanished
                    # mid-scan was just expired by concurrent cleanup; it
                    # is no longer retained, so it cannot force the feature
                    continue
                if '"deletionVector"' in text:
                    used.append(v)
            for c in _list_checkpoints(spark, path):
                _, _, ck_live, _ = _snapshot_state(spark, path, c)
                if any(a.get("deletionVector") for a in ck_live.values()):
                    used.append(c)
            if used:
                raise ValueError(
                    f"cannot drop deletionVectors from {path}: retained "
                    f"log versions {sorted(set(used))[:5]} still use it; "
                    "pass truncate_history=True (after delta_reorg_purge) "
                    "to expire them"
                )
        conf = dict(meta.get("configuration") or {})
        key = {
            "deletionVectors": "delta.enableDeletionVectors",
            "typeWidening": _TW_ENABLE_KEY,
        }.get(feature)
        return [
            _protocol(proto, meta, drop={feature}),
            {"metaData": {**meta, "configuration": conf}}
            if conf.pop(key, None) is not None
            else None,
        ]

    return _commit_metadata_change(spark, path, "DROP FEATURE", mutate)


# ---------------------------------------------------------------------------
# Registered queries


def delta_native_overwrite_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Delta lifecycle (overwrite → append → read,
    example_lakesail_kerberos.py:162-184) against the engine's own
    protocol-level log: the latest snapshot must equal both commits'
    rows. The oracle is the nation table twice (overwrite + append of
    the same rows)."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="ls_delta_native_")
    delta_write(n, path, mode="overwrite")
    delta_write(n, path, mode="append")
    back = delta_read(spark, path)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("n_regionkey")
    )


def delta_native_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC time travel: version 0 read after an overwrite must still see
    the original snapshot (full customer table), while the latest sees
    only the overwrite's subset. Output stacks both reads."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    path = tempfile.mkdtemp(prefix="ls_delta_tt_")
    delta_write(c, path, mode="overwrite")
    delta_write(
        c.where(F.col("c_mktsegment") == "BUILDING"), path, mode="overwrite"
    )
    v0 = delta_read(spark, path, version=0).agg(
        F.lit(0).alias("version"), F.count(F.lit(1)).alias("n_rows")
    )
    v1 = delta_read(spark, path).agg(
        F.lit(1).alias("version"), F.count(F.lit(1)).alias("n_rows")
    )
    return v0.unionByName(v1).orderBy("version")


def delta_native_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Delta write + log-level partition pruning: the
    ``partition_filter`` selects files from the log's partitionValues, so
    the scan touches ONE partition's files — no directory listing, no
    reads of skipped partitions (at 100 TB, the difference between a
    metadata fold and a filesystem walk of millions of files)."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="ls_delta_part_")
    delta_write(o, path, mode="overwrite", partition_by=["o_orderpriority"])
    urgent = delta_read(
        spark, path, partition_filter={"o_orderpriority": "1-URGENT"}
    )
    return urgent.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "sum_total_cents"
        ),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


def delta_native_stats_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-stats data skipping: a range-clustered write gives every
    file a tight l_quantity band; the range_filter folds the log's
    min/max stats and skips files that cannot match. Skipping is
    advisory — the row predicate stays, so the answer is exact even for
    straddling files; what changes at 100 TB is that ~(1 - selectivity)
    of the files are never opened."""
    import tempfile

    from ..tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="ls_delta_stats_")
    clustered = li.repartitionByRange(8, "l_quantity").sortWithinPartitions(
        "l_quantity"
    )
    delta_write(clustered, path, stats_cols=["l_quantity"])
    narrow = delta_read(
        spark, path, range_filter={"l_quantity": (1.0, 10.0)}
    ).where((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 10))
    return narrow.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
            "sum_price_cents"
        ),
        F.max("l_quantity").alias("max_qty"),
    )


def delta_native_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragmented write → OPTIMIZE → read: the compacted snapshot must be
    row-identical to the fragmented one (the oracle pins it to the source
    table), while the file count collapses (asserted in tests)."""
    import tempfile

    from ..tables import load_table

    s = load_table(spark, sf_dir, "supplier")
    path = tempfile.mkdtemp(prefix="ls_delta_opt_")
    delta_write(s.repartition(16), path)
    delta_optimize(spark, path, target_files=1)
    back = delta_read(spark, path)
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.round(F.col("s_acctbal") * 100, 0).cast("long")).alias(
                "sum_acctbal_cents"
            ),
        )
        .orderBy("s_nationkey")
    )


def delta_native_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed log: 13 commits cross CHECKPOINT_INTERVAL, so the
    read resolves from the parquet checkpoint plus the JSON tail — the
    protocol's O(interval) snapshot path (at tens of thousands of
    commits the non-checkpointed fold is a driver-side log walk). Log
    retention cleanup then deletes every commit below the checkpoint and
    the snapshot must still read identically from checkpoint + tail
    alone. The append slices cover every nation row exactly once, so the
    final snapshot is the nation table twice."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="ls_delta_ckpt_")
    delta_write(n, path, mode="overwrite")
    for i in range(12):
        delta_write(
            n.where(F.col("n_nationkey") % 12 == i), path, mode="append"
        )
    if not _list_checkpoints(spark, path):
        raise RuntimeError("expected a parquet checkpoint after 13 commits")
    if not delta_cleanup_log(spark, path):
        raise RuntimeError("log cleanup should remove pre-checkpoint commits")
    back = delta_read(spark, path)
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").alias("sum_nationkey"),
        )
        .orderBy("n_regionkey")
    )


def delta_native_v2_checkpoint_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 checkpoint as the ONLY fold base: part lands in two append
    halves, a DV delete re-stamps files, the protocol upgrades to
    v2Checkpoint and a sidecar-backed V2 checkpoint is written; log
    cleanup then deletes every pre-checkpoint JSON commit, and a tail
    append lands AFTER the checkpoint — so the final read MUST resolve
    from UUID-top + sidecars + tail (asserted in-flight: no classic
    checkpoint exists, sidecars do). Totals oracle against plain SQL."""
    import glob as _glob
    import tempfile

    from ..tables import load_table

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_v2fold_")
    delta_write(p.where("p_partkey % 2 = 0").repartition(2), path)
    delta_write(p.where("p_partkey % 2 = 1"), path, mode="append")
    delta_delete_dv(spark, path, "p_partkey % 9 = 0")
    delta_enable_v2_checkpoints(spark, path)
    v = delta_checkpoint(spark, path, format="v2", part_files=3)
    if not delta_cleanup_log(spark, path):
        raise RuntimeError("cleanup should remove pre-checkpoint commits")
    extra = p.where("p_partkey % 10 = 0").select(
        (F.col("p_partkey") + 1000000).alias("p_partkey"), "cents"
    )
    delta_write(extra, path, mode="append")
    fs, single, _ = _hadoop_fs(spark, _checkpoint_file(path, v))
    if fs.exists(single):
        raise AssertionError("fold base must be the v2 top, not classic")
    if not _glob.glob(f"{path}/_delta_log/_sidecars/*.parquet"):
        raise AssertionError("v2 checkpoint wrote no sidecars")
    return (
        delta_read(spark, path)
        .groupBy((F.col("p_partkey") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("bucket")
    )


def delta_native_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE ZORDER: the first two-thirds of orders is
    fully z-ordered (one ZCube), the last third appended afterwards;
    ``incremental=True`` must rewrite ONLY the appended files — the
    original cube's files are asserted still-live, every live file
    carries the cube spec tag, and an immediate re-run is a
    zero-commit no-op. The banded pruned read then oracles against the
    layout-independent SQL — re-clustering after appends stays
    O(new data) without changing a single row."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_zo_inc_q_")
    dims = ["o_custkey", "o_orderkey"]
    delta_write(
        o.where("o_orderkey % 3 != 0").repartition(6), path, stats_cols=dims
    )
    delta_optimize_zorder(spark, path, dims, target_files=4)
    cube = set(delta_live_files(spark, path))
    delta_write(
        o.where("o_orderkey % 3 = 0").repartition(2), path, mode="append"
    )
    v = delta_optimize_zorder(
        spark, path, dims, target_files=2, incremental=True
    )
    live = dict(delta_live_adds(spark, path))
    if not cube <= set(live):
        raise AssertionError("incremental zorder rewrote the clustered cube")
    if any(
        (a.get("tags") or {}).get("ZCUBE_ZORDER_BY") != json.dumps(dims)
        for a in live.values()
    ):
        raise AssertionError("live files missing the ZCube spec tag")
    if delta_optimize_zorder(spark, path, dims, incremental=True) != v:
        raise AssertionError("re-run on a clustered table must be a no-op")
    lo, hi = 100, 500
    pruned = delta_read(spark, path, range_filter={"o_custkey": (lo, hi)})
    return (
        pruned.where(F.col("o_custkey").between(lo, hi))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.countDistinct("o_orderkey").alias("n_orders_distinct"),
        )
    )


def delta_native_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liquid-clustering lifecycle on the native log: orders land in
    arrival order, CLUSTER BY (o_custkey, o_orderkey) is recorded as
    metadata (no rewrite), the first OPTIMIZE clusters the whole live
    set, an append stays cheap (unclustered), and the second OPTIMIZE
    touches ONLY the appended files — asserted in-flight: the original
    cube survives, every live file carries the cluster spec tag, an
    immediate re-run is a zero-commit no-op, and a custkey range
    predicate skips files on footer stats. Returns the pruned read's
    aggregate (layout-independent → plain-SQL oracle)."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_cluster_")
    keys = ["o_custkey", "o_orderkey"]
    delta_write(o.where("o_orderkey % 3 != 0").repartition(6), path)
    delta_cluster_by(spark, path, keys)
    _, meta, _, _ = _snapshot_state(spark, path)
    if delta_clustering_columns(meta) != keys:
        raise AssertionError("clustering columns not recorded in metadata")
    delta_optimize_clustered(spark, path, target_files=4)
    cube = set(delta_live_files(spark, path))
    delta_write(
        o.where("o_orderkey % 3 = 0").repartition(2), path, mode="append"
    )
    v = delta_optimize_clustered(spark, path, target_files=2)
    live = dict(delta_live_adds(spark, path))
    if not cube <= set(live):
        raise AssertionError("clustered OPTIMIZE rewrote the existing cube")
    if any(
        (a.get("tags") or {}).get("ZCUBE_ZORDER_BY") != json.dumps(keys)
        for a in live.values()
    ):
        raise AssertionError("live files missing the cluster spec tag")
    if delta_optimize_clustered(spark, path) != v:
        raise AssertionError("OPTIMIZE on a clustered table must be a no-op")
    lo, hi = 100, 500

    def survives(a: dict) -> bool:
        st = json.loads(a["stats"])
        mn = st["minValues"].get("o_custkey")
        mx = st["maxValues"].get("o_custkey")
        return mn is None or mx is None or not (mn > hi or mx < lo)

    surviving = sum(1 for a in live.values() if survives(a))
    if not surviving < len(live):
        raise AssertionError(
            f"clustering produced no file skipping: {surviving}/{len(live)}"
        )
    pruned = delta_read(spark, path, range_filter={"o_custkey": (lo, hi)})
    return pruned.where(F.col("o_custkey").between(lo, hi)).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


def delta_native_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on append (reference README.md:302): the first
    commit has two columns, the append carries a third with
    ``merge_schema=True`` — the commit's updated metaData widens the
    table, and pre-evolution files read back with typed nulls."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer")
    path = tempfile.mkdtemp(prefix="ls_delta_evo_")
    delta_write(
        c.where(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name"),
        path,
        mode="overwrite",
    )
    delta_write(
        c.where(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_acctbal"
        ),
        path,
        mode="append",
        merge_schema=True,
    )
    back = delta_read(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_with_acctbal"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias(
            "sum_acctbal_cents"
        ),
    )


def delta_native_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two snapshots of the native log: an
    overwrite moves the table from the %3 subset to the %2 subset, and
    the diff (exceptAll both ways on MVCC reads of v0 and v1) yields the
    inserted/deleted row counts — the version-diff CDC a downstream
    incremental consumer runs. Both snapshots resolve from the same log;
    nothing is re-read from the source table."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    path = tempfile.mkdtemp(prefix="ls_delta_cdc_")
    delta_write(c.where(F.col("c_custkey") % 3 == 0), path, mode="overwrite")
    delta_write(c.where(F.col("c_custkey") % 2 == 0), path, mode="overwrite")
    v0 = delta_read(spark, path, version=0)
    v1 = delta_read(spark, path, version=1)
    inserted = v1.exceptAll(v0).agg(
        F.lit("insert").alias("change_type"), F.count(F.lit(1)).alias("n_rows")
    )
    deleted = v0.exceptAll(v1).agg(
        F.lit("delete").alias("change_type"), F.count(F.lit(1)).alias("n_rows")
    )
    return inserted.unionByName(deleted).orderBy("change_type")


def delta_native_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE lifecycle: overwrite (v0) → append (v1) → destructive
    overwrite (v2) → restore to v1 (v3). The latest read must equal the
    pre-destruction snapshot (supplier twice) while v2 stays
    time-travelable; the restore commit re-adds v1's files by path,
    rewriting nothing."""
    import tempfile

    from ..tables import load_table

    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    path = tempfile.mkdtemp(prefix="ls_delta_restore_")
    delta_write(s, path, mode="overwrite")
    delta_write(s, path, mode="append")
    delta_write(s.where(F.col("s_nationkey") == 0), path, mode="overwrite")
    delta_restore(spark, path, 1)
    back = delta_read(spark, path)
    return (
        back.groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("s_nationkey")
    )


def delta_native_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM lifecycle: v0 overwrite (nation, 2 files) → v1 append
    (3 files) → v2 destructive overwrite (region-0 subset, 1 file) →
    VACUUM retaining only the newest snapshot. The five files only
    v0/v1 reference are physically reclaimed, the current read is
    untouched, time travel to v0 now fails at scan time, and the log
    still lists all three versions (VACUUM reclaims data bytes, never
    history metadata) — delta-spark's storage/history trade, with a
    version-count retention knob for deterministic tests in place of
    the 7-day default."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="ls_delta_vacuum_")
    delta_write(n.repartition(2), path, mode="overwrite")  # v0: 2 files
    delta_write(n.repartition(3), path, mode="append")  # v1: +3 files
    delta_write(
        n.where(F.col("n_regionkey") == 0).repartition(1),
        path,
        mode="overwrite",
    )  # v2: 1 live file, 5 tombstones
    reclaimed = delta_vacuum(spark, path, keep_versions=1)
    n_live = delta_read(spark, path).count()
    try:
        delta_read(spark, path, version=0).count()
        v0_fails = 0
    except Exception:  # noqa: BLE001 — reclaimed data file
        v0_fails = 1
    return spark.createDataFrame(
        [
            (
                n_live,
                len(reclaimed),
                len(_list_versions(spark, path)),
                v0_fails,
            )
        ],
        "n_live_rows long, n_files_reclaimed long, "
        "n_versions_in_log long, v0_travel_fails long",
    )


def delta_native_merge_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION (delta-spark's withSchemaEvolution):
    the source carries a column the target lacks (``tier``); one MERGE
    commit evolves the schema, updates matched rows with the new
    column's values, inserts unmatched source rows, and every
    pre-evolution row reads back with a null — no data file rewritten
    for the evolution itself."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_mergevo_")
    delta_write(c.where(F.col("k") % 2 == 0).repartition(4), path)
    source = c.where(F.col("k") % 3 == 0).select(
        "k",
        (F.col("cents") * 2).alias("cents"),
        F.when(F.col("k") % 2 == 0, "matched")
        .otherwise("inserted")
        .alias("tier"),
    )
    delta_merge(spark, path, source, on=["k"], schema_evolution=True)
    return (
        delta_read(spark, path)
        .groupBy(F.coalesce("tier", F.lit("legacy")).alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("tier")
    )


def delta_native_domain_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """domainMetadata lifecycle (the protocol's per-domain writer
    metadata — where delta-spark keeps clustering keys and row-tracking
    watermarks): set two domains, update one, tombstone the other,
    verify MVCC time travel sees the old domain state, then cross the
    checkpoint interval and drop the pre-checkpoint JSON so the fold
    MUST resolve domains from the checkpoint restatement alone. Also
    pins the two refusals: writes to system (``delta.``-prefixed)
    domains and removal of an absent domain."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="ls_delta_domains_")
    delta_write(n, path)  # v0
    delta_set_domain_metadata(
        spark, path, "app.pipeline", '{"stage": "bronze"}'
    )  # v1
    delta_set_domain_metadata(spark, path, "app.owner", "team-data")  # v2
    delta_set_domain_metadata(
        spark, path, "app.pipeline", '{"stage": "silver"}'
    )  # v3
    delta_remove_domain_metadata(spark, path, "app.owner")  # v4
    try:
        delta_set_domain_metadata(spark, path, "delta.clustering", "{}")
        sys_refused = 0
    except ValueError:
        sys_refused = 1
    try:
        delta_remove_domain_metadata(spark, path, "app.owner")
        absent_refused = 0
    except ValueError:
        absent_refused = 1
    at_v2 = delta_domain_metadata(spark, path, version=2)
    v2_ok = int(
        at_v2.get("app.owner") == "team-data"
        and at_v2.get("app.pipeline") == '{"stage": "bronze"}'
    )
    one = n.where(F.col("n_nationkey") == 0)
    for _ in range(CHECKPOINT_INTERVAL - 4):  # v5..v10, auto-ckpt at 10
        delta_write(one, path, mode="append")
    delta_cleanup_log(spark, path)
    domains = delta_domain_metadata(spark, path)
    return spark.createDataFrame(
        [
            (
                delta_read(spark, path).count(),
                len(domains),
                int(domains.get("app.pipeline") == '{"stage": "silver"}'),
                int("app.owner" not in domains),
                v2_ok,
                sys_refused,
                absent_refused,
            )
        ],
        "n_rows long, n_live_domains long, pipeline_updated long, "
        "owner_removed long, v2_travel_ok long, system_refused long, "
        "absent_remove_refused long",
    )


def delta_native_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert on the native log (delta-spark's
    ``whenMatchedUpdateAll/whenNotMatchedInsertAll``): target = even
    custkeys, source = %3 custkeys with doubled balances. Matched rows
    (custkey %6 == 0) take the source balance, unmatched source rows
    insert — one atomic copy-on-write commit; the pre-merge snapshot
    stays time-travelable at version 0. Balances are integer cents
    end-to-end so the oracle comparison is exact."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0)
        .cast("long")
        .alias("acct_cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_merge_")
    target = c.where(F.col("c_custkey") % 2 == 0)
    # spread over several files so the merge rewrites a strict subset
    delta_write(target.repartition(8), path, mode="overwrite")
    source = c.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", (F.col("acct_cents") * 2).alias("acct_cents")
    )
    delta_merge(spark, path, source, on=["c_custkey"])
    back = delta_read(spark, path)
    return (
        back.groupBy((F.col("c_custkey") % 5).alias("key_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("acct_cents").alias("sum_cents"),
        )
        .orderBy("key_bucket")
    )


def delta_native_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE + UPDATE lifecycle on the native log: delete every 'F'
    order, then bump urgent orders' totals by 500 cents — two
    copy-on-write commits rewriting only files holding affected rows;
    versions 0/1/2 all stay readable (MVCC). Grouped totals oracle the
    final snapshot."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_dml_")
    delta_write(o.repartition(8), path, mode="overwrite")
    delta_delete(spark, path, "o_orderstatus = 'F'")
    delta_update(
        spark,
        path,
        "o_orderpriority = '1-URGENT'",
        {"cents": F.col("cents") + 500},
    )
    back = delta_read(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


def delta_native_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors: two DV deletes land as
    descriptor commits (the data files written at version 0 are never
    rewritten — asserted in tests/test_delta_log.py), the second merging
    its positions into the first's on shared files. The snapshot scan
    re-applies the DVs as a broadcast anti-join on (file, row position).
    Grouped totals oracle the final logical state."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_dv_")
    delta_write(
        o.repartition(8), path, mode="overwrite", stats_cols=["o_orderkey"]
    )
    delta_delete_dv(spark, path, "o_orderkey % 3 = 0")
    delta_delete_dv(spark, path, "o_orderstatus = 'O' AND o_orderkey % 5 = 1")
    back = delta_read(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


def delta_native_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping lifecycle: a mapped table (files written under
    physical ``col-<uuid>`` names) takes a RENAME COLUMN and a DROP
    COLUMN as pure metaData commits — zero data files rewritten,
    asserted in tests — then a copy-on-write DELETE through the mapping.
    Grouped totals over the renamed column oracle the final state."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_cm_")
    delta_write(
        c.repartition(4),
        path,
        configuration={_CM_MODE_KEY: "name"},
    )
    delta_rename_column(spark, path, "cents", "acct_cents")
    delta_drop_column(spark, path, "c_nationkey")
    delta_delete(spark, path, "c_custkey % 4 = 0")
    back = delta_read(spark, path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("acct_cents").alias("sum_cents"),
        )
        .orderBy("c_mktsegment")
    )


def delta_native_generated_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED ALWAYS AS lifecycle: the table declares
    ``tax_cents = cents * 7 DIV 100``; the creation batch and a later
    append both OMIT the column (the writer computes it), then an UPDATE
    bumps urgent orders' ``cents`` and the generated column follows the
    post-image automatically. Grouped totals over both columns oracle
    the final state — a stale or null generated value breaks the sums."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_gen_")
    delta_write(
        o.where("o_orderkey % 2 = 0").repartition(4),
        path,
        mode="overwrite",
        generated_columns={"tax_cents": "cents * 7 DIV 100"},
    )
    delta_write(o.where("o_orderkey % 2 = 1"), path, mode="append")
    delta_update(
        spark,
        path,
        "o_orderpriority = '1-URGENT'",
        {"cents": F.col("cents") + 500},
    )
    back = delta_read(spark, path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.sum("tax_cents").alias("sum_tax_cents"),
        )
        .orderBy("o_orderpriority")
    )


def delta_native_history_timestamp_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DESCRIBE HISTORY + TIMESTAMP AS OF: a five-commit lifecycle
    (write, append, DELETE, OPTIMIZE, RESTORE) stamps each commit with a
    monotonic in-commit timestamp and an operation name; reading AS OF
    each commit's own timestamp must reproduce that version's snapshot
    EXACTLY (asserted in-query for every version — wall-clock values
    never reach the output). Output: the history's (version, operation)
    ledger plus each snapshot's row count — fully deterministic."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    path = tempfile.mkdtemp(prefix="ls_delta_hist_")
    delta_write(n, path, mode="overwrite")  # v0 WRITE
    delta_write(n.where("n_regionkey = 0"), path, mode="append")  # v1 WRITE
    delta_delete(spark, path, "n_nationkey % 2 = 0")  # v2 DELETE
    delta_optimize(spark, path)  # v3 OPTIMIZE
    delta_restore(spark, path, 1)  # v4 RESTORE
    hist = delta_history(spark, path)
    rows = []
    for h in sorted(hist, key=lambda x: x["version"]):
        v, ts = h["version"], h["timestamp"]
        by_ts = delta_read(spark, path, timestamp=ts)
        by_v = delta_read(spark, path, version=v)
        n_ts, n_v = by_ts.count(), by_v.count()
        if n_ts != n_v:
            raise AssertionError(
                f"TIMESTAMP AS OF {ts} resolved away from version {v}: "
                f"{n_ts} vs {n_v} rows"
            )
        rows.append((v, h["operation"], n_v))
    return spark.createDataFrame(
        rows, "version bigint, operation string, n_rows bigint"
    ).orderBy("version")


def delta_native_in_commit_timestamps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROTOCOL in-commit timestamps (writer feature
    ``inCommitTimestamp``) as a feature-gated lifecycle: a pre-ICT
    write, the enablement commit (protocol upgrade + table property +
    enablement-version provenance), and two post-enablement commits.
    Asserted in-query (wall-clock values never reach the output):
    ``commitInfo.inCommitTimestamp`` present on exactly the commits ≥
    the enablement version, strictly monotonic timestamps across the
    mixed pre/post history, TIMESTAMP AS OF each commit's own stamp
    resolving to exactly that version, enablement idempotent, and the
    enablement version recorded in the table configuration. Output:
    the deterministic (version, operation, has_ict, n_rows) ledger +
    the enablement version."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    path = tempfile.mkdtemp(prefix="ls_delta_ict_")
    delta_write(n, path, mode="overwrite")  # v0: pre-ICT
    ev = delta_enable_in_commit_timestamps(spark, path)  # v1: enable
    if delta_enable_in_commit_timestamps(spark, path) != ev:
        raise AssertionError("ICT enablement must be idempotent")
    delta_write(n.where("n_regionkey = 0"), path, mode="append")  # v2
    delta_delete(spark, path, "n_nationkey % 2 = 0")  # v3
    proto, meta, _, _ = _snapshot_state(spark, path, include_adds=False)
    if _ICT_FEATURE not in _features(proto)[1]:
        raise AssertionError("writer feature missing after enablement")
    conf = meta.get("configuration") or {}
    if conf.get("delta.enableInCommitTimestamps") != "true" or int(
        conf.get("delta.inCommitTimestampEnablementVersion", -1)
    ) != ev:
        raise AssertionError(f"enablement provenance wrong: {conf}")
    rows = []
    prev_ts = None
    ops = {h["version"]: h["operation"] for h in delta_history(spark, path)}
    for v in _list_versions(spark, path):
        info = _commit_info_fields(spark, path, v) or {}
        has_ict = 1 if "inCommitTimestamp" in info else 0
        if has_ict != (1 if v >= ev else 0):
            raise AssertionError(
                f"v{v}: inCommitTimestamp presence violates the gate"
            )
        ts = _commit_timestamp(spark, path, v)
        if prev_ts is not None and ts <= prev_ts:
            raise AssertionError(f"v{v}: timestamps not monotonic")
        prev_ts = ts
        n_rows = delta_read(spark, path, timestamp=ts).count()
        if n_rows != delta_read(spark, path, version=v).count():
            raise AssertionError(f"v{v}: AS OF its own ICT missed")
        rows.append((v, ops.get(v, "WRITE"), has_ict, n_rows))
    return spark.createDataFrame(
        rows,
        "version bigint, operation string, has_ict bigint, n_rows bigint",
    ).select(
        "*", F.lit(ev).cast("long").alias("enablement_version")
    ).orderBy("version")


def delta_native_identity_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY lifecycle: a surrogate-key column
    (start 100, step 3) is allocated by the engine across a write, an
    append, and a MERGE whose inserts mint fresh ids while its updates
    keep theirs. The row↔id mapping is partitioning-dependent (the
    protocol promises uniqueness + watermark monotonicity, like
    delta-spark), so the output pins the id SET algebraically: count,
    distinct count, min/max, and the arithmetic-series sum — plus the
    data column's totals."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_id_")
    delta_write(
        c.where("c_custkey % 3 = 0").repartition(4),
        path,
        identity_columns={"surrogate_id": {"start": 100, "step": 3}},
    )
    delta_write(c.where("c_custkey % 3 = 1"), path, mode="append")
    src = c.where("c_custkey % 6 = 1").select(
        "c_custkey", (F.col("cents") * 2).alias("cents")
    ).unionByName(c.where("c_custkey % 3 = 2"))
    delta_merge(spark, path, src, on=["c_custkey"])
    back = delta_read(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("surrogate_id").alias("n_distinct_ids"),
        F.min("surrogate_id").alias("min_id"),
        F.max("surrogate_id").alias("max_id"),
        F.sum("surrogate_id").alias("sum_id"),
        F.sum("cents").alias("sum_cents"),
    )


def delta_native_foreign_dv_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Read-in-place of a FOREIGN deletion-vector table (PROTOCOL.md
    "Deletion Vector Format" — the delta-spark wire encoding this
    engine does not itself write): the query AUTHORS the foreign bytes
    deterministically from the customer fixture — file A (even
    custkeys, custkey order) with an INLINE Z85 RoaringBitmapArray
    deleting every 7th row position, file B (odd custkeys) with a
    UUID-addressed ``.bin`` storage file ('u', version/size/CRC
    framing) deleting every 5th position — then folds the log and
    applies the DVs through sources/dv_codec.py. The authoring is
    necessarily engine-external (that is the point: these bytes come
    from a different writer); the READ is the engine under test.
    Survivors are pinned by position arithmetic the oracle reproduces
    with ROW_NUMBER.

    Scale shape: decode is O(deleted rows per descriptor), the apply is
    the same broadcast anti-join as native DVs — no fact-side
    shuffle."""
    import os
    import tempfile
    import uuid as _uuid

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from .dv_codec import frame_dv_file, roaring_array_encode, z85_encode

    cust = _pq.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_acctbal"]
    )
    rows = sorted(
        zip(
            cust.column("c_custkey").to_pylist(),
            cust.column("c_acctbal").to_pylist(),
        )
    )
    root = tempfile.mkdtemp(prefix="ls_foreign_dv_")
    os.makedirs(f"{root}/_delta_log")

    def author(rel: str, subset: list[tuple], drop_mod: int) -> dict:
        _pq.write_table(
            _pa.table(
                {
                    "c_custkey": _pa.array(
                        [k for k, _ in subset], _pa.int64()
                    ),
                    "c_acctbal": _pa.array(
                        [b for _, b in subset], _pa.float64()
                    ),
                }
            ),
            f"{root}/{rel}",
        )
        bitmap = roaring_array_encode(
            [i for i in range(len(subset)) if i % drop_mod == 0]
        )
        return {
            "path": rel,
            "size": os.path.getsize(f"{root}/{rel}"),
            "bitmap": bitmap,
            "cardinality": (len(subset) + drop_mod - 1) // drop_mod,
        }

    a = author("part-a.parquet", [r for r in rows if r[0] % 2 == 0], 7)
    b = author("part-b.parquet", [r for r in rows if r[0] % 2 == 1], 5)
    pad_a = a["bitmap"] + b"\x00" * (-len(a["bitmap"]) % 4)
    dv_a = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(pad_a),
        "sizeInBytes": len(a["bitmap"]),
        "cardinality": a["cardinality"],
    }
    u = _uuid.UUID(int=0xABCDEF, version=4)
    os.makedirs(f"{root}/ab")
    with open(f"{root}/ab/deletion_vector_{u}.bin", "wb") as fh:
        fh.write(frame_dv_file(b["bitmap"]))
    dv_b = {
        "storageType": "u",
        "pathOrInlineDv": "ab" + z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(b["bitmap"]),
        "cardinality": b["cardinality"],
    }
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "c_custkey",
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                },
                {
                    "name": "c_acctbal",
                    "type": "double",
                    "nullable": True,
                    "metadata": {},
                },
            ],
        },
        separators=(",", ":"),
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        },
        {
            "metaData": {
                "id": "foreign-dv-driver",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": "part-a.parquet",
                "partitionValues": {},
                "size": a["size"],
                "modificationTime": 1700000000000,
                "dataChange": True,
                "deletionVector": dv_a,
            }
        },
        {
            "add": {
                "path": "part-b.parquet",
                "partitionValues": {},
                "size": b["size"],
                "modificationTime": 1700000000000,
                "dataChange": True,
                "deletionVector": dv_b,
            }
        },
    ]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        for act in actions:
            fh.write(json.dumps(act, separators=(",", ":")) + "\n")
    back = delta_read(spark, root)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias(
            "sum_cents"
        ),
        F.countDistinct("c_custkey").alias("n_customers"),
        F.min("c_custkey").alias("min_custkey"),
        F.max("c_custkey").alias("max_custkey"),
    )


def delta_convert_parquet(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """``CONVERT TO DELTA parquet.`<path>` [PARTITIONED BY ...]``
    (delta-spark's in-place adoption of a plain parquet directory) —
    the one-time migration a parquet-on-HDFS lake runs to join the
    lakehouse. NO data file is read or rewritten: version 0 is authored
    from a recursive file listing; hive ``k=v`` directory components
    become partitionValues (CONVERT requires the partition columns
    declared, as in delta-spark); the logical schema comes from one
    Spark schema inference over the directory; per-file stats
    (numRecords + optional min/max for ``stats_cols``) come from
    parquet FOOTERS via parquet-hadoop — metadata-only on any
    JVM-reachable filesystem (viewfs://, kerberized hdfs://). Refuses
    when a ``_delta_log`` already exists.

    Scale: O(files) footer opens + one commit; at 100 TB this is the
    same listing the first parquet scan pays, and the files never
    move — readers switch to the log atomically."""
    from urllib.parse import unquote

    fs, table_path, jvm = _hadoop_fs(spark, path)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(_log_dir(path))):
        raise ValueError(f"{path} is already a delta table")
    inferred = spark.read.parquet(path)
    schema_json = json.loads(inferred.schema.json())
    names = [f["name"] for f in schema_json["fields"]]
    for c in partition_by or []:
        if c not in names:
            raise ValueError(
                f"partition column {c!r} not in inferred schema {names}"
            )
    conf_h = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    base_uri = fs.makeQualified(table_path).toUri()
    adds: list[dict] = []
    it = fs.listFiles(table_path, True)
    while it.hasNext():
        status = it.next()
        rel = base_uri.relativize(status.getPath().toUri()).getPath()
        if not rel.endswith(".parquet") or rel.startswith("_"):
            continue
        pv: dict[str, str | None] = {}
        for comp in rel.split("/")[:-1]:
            if "=" in comp:
                k, _, v = comp.partition("=")
                pv[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
        missing = [c for c in (partition_by or []) if c not in pv]
        if missing:
            raise ValueError(
                f"file {rel} lacks declared partition dirs {missing}"
            )
        if pv and not partition_by:
            # delta-spark CONVERT errors the same way: a hive-layout
            # directory converted without its partition schema would
            # author adds whose partition columns exist in the logical
            # schema but in neither partitionValues nor the data files
            raise ValueError(
                f"{rel} is hive-partitioned ({sorted(pv)}); declare "
                "partition_by — CONVERT requires the partition schema"
            )
        st = _file_stats_jvm(
            jvm, conf_h, status.getPath(), list(stats_cols or [])
        )
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {
                        c: pv[c] for c in (partition_by or [])
                    },
                    "size": int(status.getLen()),
                    "modificationTime": int(status.getModificationTime()),
                    "dataChange": True,
                    "stats": json.dumps(st, separators=(",", ":")),
                }
            }
        )
    if not adds:
        raise ValueError(f"no parquet files under {path} to convert")
    meta = {
        "id": uuid.uuid4().hex,
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema_json),
        "partitionColumns": list(partition_by or []),
        "configuration": {},
        "createdTime": int(time.time() * 1000),
    }
    actions = [
        _commit_info("CONVERT"),
        _protocol(None, meta),
        {"metaData": meta},
        *adds,
    ]
    return _commit(spark, path, None, actions)


def delta_native_dv_wire_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write-side interop for deletion vectors: two successive
    merge-on-read DELETEs committed in the PROTOCOL wire format
    (``wire_format="standard"`` — Z85-uuid 'u' descriptors into one
    packed ``deletion_vector_<uuid>.bin``, offsets/sizes/CRCs per
    file), the second overlapping the first so the prior-descriptor
    MERGE runs through the standard decode path. Asserts in-flight that
    every live descriptor really is wire-format (no
    ``_deletion_vectors/`` parquet unit leaked in), then returns the
    survivor aggregate — a delta-spark reader applying the same
    bitmaps gets the same rows, which is the claim under test."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_dv_wire_")
    delta_write(o.where("o_orderkey < 3000").repartition(4), path)
    delta_delete_dv(
        spark, path, "o_orderkey % 3 = 0", wire_format="standard"
    )
    delta_delete_dv(
        spark, path, "o_orderkey % 5 = 0", wire_format="standard"
    )
    for f, a in delta_live_adds(spark, path):
        d = a.get("deletionVector")
        if d is None:
            continue
        if d["storageType"] != "u" or _DV_DIR in d["pathOrInlineDv"]:
            raise AssertionError(
                f"non-wire-format descriptor leaked on {f}: {d}"
            )
        if d.get("offset") is None or d.get("sizeInBytes") is None:
            raise AssertionError(f"descriptor missing framing fields: {d}")
    back = delta_read(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def delta_native_convert_parquet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONVERT TO DELTA lifecycle: a hive-partitioned plain parquet
    directory (orders < 5000, partitioned by priority, several files
    per partition) is adopted in place, then proven to be a first-class
    delta table: a partition-pruned read, a post-convert APPEND
    (5000 ≤ key < 5100), and the final per-priority rollup — which
    breaks if partitionValues, stats, or the appended commit are wrong.
    Converting an already-delta path must refuse."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    raw = tempfile.mkdtemp(prefix="ls_convert_")
    (
        o.where("o_orderkey < 5000")
        .repartition(4)
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(raw)
    )
    delta_convert_parquet(
        spark, raw, partition_by=["o_orderpriority"], stats_cols=["o_orderkey"]
    )
    try:
        delta_convert_parquet(spark, raw)
    except ValueError:
        pass
    else:
        raise AssertionError("double CONVERT must refuse")
    pruned = delta_read(
        spark, raw, partition_filter={"o_orderpriority": "1-URGENT"}
    )
    if pruned.where("o_orderpriority <> '1-URGENT'").count():
        raise AssertionError("partition prune returned foreign rows")
    # the inferred schema orders partition columns LAST — conform the
    # append batch to the converted table's logical column order
    delta_write(
        o.where("o_orderkey >= 5000 AND o_orderkey < 5100").select(
            "o_orderkey", "cents", "o_orderpriority"
        ),
        raw,
        mode="append",
        partition_by=["o_orderpriority"],
    )
    return (
        delta_read(spark, raw)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderpriority")
    )


def delta_native_merge_clauses(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-clause MERGE (delta-spark's whenMatchedDelete +
    conditional whenMatchedUpdate + whenNotMatchedInsert) on a
    CDF-enabled table: matched negative balances are RETIRED
    (delete clause, evaluated first on pre-update values), matched rows
    update only when the source value is strictly larger (the
    stale-guard condition ``__src_cents > cents`` — zero-balance rows
    pass through untouched and emit NO change images), unmatched source
    rows insert. Output pins the final state AND the change feed's
    per-kind counts for the merge commit — a clause leak (deleted row
    surviving, unconditional update firing, phantom images) breaks a
    value."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_mcl_")
    delta_write(
        c.where("c_custkey % 2 = 0").repartition(4),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    source = c.where("c_custkey % 3 = 0").select(
        "c_custkey", (F.col("cents") * 2).alias("cents")
    )
    v = delta_merge(
        spark,
        path,
        source,
        on=["c_custkey"],
        matched_delete="cents < 0",
        matched_condition="__src_cents > cents",
    )
    feed = delta_read_cdf(spark, path, v, v)
    kinds = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if kinds.get("update_preimage", 0) != kinds.get(
        "update_postimage", 0
    ):
        raise AssertionError(f"unpaired update images: {kinds}")
    return delta_read(spark, path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.lit(kinds.get("delete", 0)).cast("long").alias("n_cdf_deletes"),
        F.lit(kinds.get("update_preimage", 0))
        .cast("long")
        .alias("n_cdf_updates"),
        F.lit(kinds.get("insert", 0)).cast("long").alias("n_cdf_inserts"),
    )


def _scope_adds_df(
    spark: SparkSession, meta: dict, adds_df: DataFrame, where
) -> DataFrame:
    """Filter a distributed adds frame (carrying ``partitionValues``)
    to partitions matching an arbitrary partition predicate. The
    predicate is evaluated ONCE over the DISTINCT partition tuples
    (metadata-scale, the same typed-cast evaluation as
    :func:`_scope_partition_predicate`); the matching raw tuples then
    semi-join back against the adds — a broadcast of O(partitions)
    rows, never a per-file predicate re-evaluation."""
    part_cols = (meta or {}).get("partitionColumns") or []
    if not part_cols:
        raise ValueError(
            "a partition-predicate scope requires a partitioned table"
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    tup = adds_df.select(
        *[F.col("partitionValues").getItem(c).alias(c) for c in part_cols]
    ).distinct()
    typed = tup.select(
        F.struct(*part_cols).alias("__raw"),
        *[F.col(c).cast(schema[c].dataType).alias(c) for c in part_cols],
    )
    hit = [
        tuple(r["__raw"])
        for r in typed.where(_coerce_predicate(where)).select("__raw").collect()
    ]
    if not hit:
        return adds_df.where(F.lit(False))
    match_df = spark.createDataFrame(
        hit, schema=", ".join(f"`{c}` string" for c in part_cols)
    )
    cond = None
    for c in part_cols:
        eq = adds_df["partitionValues"].getItem(c).eqNullSafe(match_df[c])
        cond = eq if cond is None else cond & eq
    return adds_df.join(F.broadcast(match_df), cond, "left_semi")


def delta_fsck(
    spark: SparkSession, path: str, dry_run: bool = False, where=None
) -> list[str]:
    """``FSCK REPAIR TABLE`` (delta-spark): retire add actions whose
    data files have VANISHED from storage (a cloud lifecycle rule, a
    manual rm, a botched restore) so reads stop failing on the missing
    bytes. Returns the missing relative/absolute refs; unless
    ``dry_run``, commits their removes (``dataChange: true`` — rows
    really disappeared) in one version.

    Listing-driven: ONE recursive listing of the table dir compared to
    the live set — at 100 TB that is a LIST page stream, not a
    million per-file existence RPCs. Absolute refs (shallow clones)
    are the rare exception and get individual exists() probes.

    Past X60's ``_DIST_FOLD_ROWS`` checkpoint threshold the live⟂present
    diff runs as a Spark anti-join (same posture as ``delta_vacuum``):
    the listing spills to a temp parquet in ``_VACUUM_CHUNK_ROWS``
    driver chunks, the live side is :func:`delta_snapshot_adds_df`,
    and the driver collects only the MISSING set plus the (rare)
    absolute refs — never the live set or the full listing.

    ``where`` scopes the repair to partitions matching an arbitrary
    partition predicate (the maintenance-scope sibling of
    ``OPTIMIZE/VACUUM ... WHERE``): only matching live adds are
    integrity-checked AND the listing walks only the directories those
    adds live in — after a lifecycle rule misfires on one partition,
    the check never pages through years of cold partitions. Unlike
    VACUUM's scope (candidates are orphans, identity only in the
    path), FSCK's live side carries ``partitionValues`` in the log, so
    scoping resolves on METADATA — the predicate is evaluated once
    over the distinct partition tuples (O(partitions), driver-side,
    same machinery as OPTIMIZE's scope). Missing files outside the
    scope are left for an unscoped run."""
    fs, root, jvm = _hadoop_fs(spark, path)
    # relativize DECODED (URI.getPath()), matching how _stage_data_files
    # records add paths — raw-URI string-stripping keeps percent-encoding
    # ('part a' → 'part%20a', hive-escaped '%' → '%25'), which would make
    # live files look missing and a non-dry-run FSCK would then commit
    # dataChange removes for files that exist
    base_uri = fs.makeQualified(root).toUri()
    lc = _last_checkpoint_info(spark, path)
    use_dist = bool(lc) and int(lc.get("size", 0)) >= _DIST_FOLD_ROWS
    if use_dist:
        import shutil
        import tempfile

        read_version, _, meta, _, _ = _snapshot_at(
            spark, path, include_adds=False
        )
        if meta is None:
            raise ValueError(f"no delta table at {path}")
        live_df = delta_snapshot_adds_df(spark, path, read_version).select(
            "path", "partitionValues"
        )
        if where is not None:
            live_df = _scope_adds_df(spark, meta, live_df, where)
        live_df = live_df.select("path")
        is_abs = F.col("path").startswith("/") | F.col("path").rlike(
            r"^[A-Za-z][\w+.-]*:"
        )
        tmp = tempfile.mkdtemp(prefix="ls_fsck_present_")
        try:
            chunk: list[str] = []

            def _spill() -> None:
                spark.createDataFrame(
                    [(r,) for r in chunk], "path string"
                ).write.mode("append").parquet(tmp)

            if where is None:
                roots = [(root, "")]
            else:
                # scoped: walk ONLY the partition directories the scoped
                # adds live in (O(scoped partitions) dirs, derived from
                # the scoped frame itself) — the cold partitions are
                # never listed. A fully-vanished directory simply lists
                # nothing, so its files fall out as MISSING.
                n = len(meta.get("partitionColumns") or [])
                dirs = [
                    r["d"]
                    for r in live_df.where(~is_abs)
                    .select(
                        F.substring_index(F.col("path"), "/", n).alias("d")
                    )
                    .distinct()
                    .collect()
                ]
                roots = []
                for d in dirs:
                    dp = jvm.org.apache.hadoop.fs.Path(root, d)
                    if fs.exists(dp):
                        roots.append((dp, d))
            for rt, _rel in roots:
                it = fs.listFiles(rt, True)
                while it.hasNext():
                    rel = base_uri.relativize(
                        it.next().getPath().toUri()
                    ).getPath()
                    if not rel.startswith(
                        "_delta_log/"
                    ) and not rel.startswith("/"):
                        chunk.append(rel)
                        if len(chunk) >= _VACUUM_CHUNK_ROWS:
                            _spill()
                            chunk.clear()
            _spill()  # unconditional: the diff needs the dir even if empty
            missing = sorted(
                r["path"]
                for r in _collect_reclaim(
                    live_df.where(~is_abs).join(
                        spark.read.parquet(tmp), "path", "left_anti"
                    )
                )
            )
            abs_refs = sorted(
                r["path"] for r in live_df.where(is_abs).collect()
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        read_version, _, meta, live, _ = _snapshot_at(spark, path)
        if meta is None:
            raise ValueError(f"no delta table at {path}")
        if where is not None:
            live = _scope_partition_predicate(spark, meta, live, where)
            scoped_dirs = {
                f.rsplit("/", 1)[0]
                for f in live
                if not _is_absolute_ref(f) and "/" in f
            }
            list_roots = [
                jvm.org.apache.hadoop.fs.Path(root, d) for d in scoped_dirs
            ]
            list_roots = [p for p in list_roots if fs.exists(p)]
        else:
            list_roots = [root]
        present: set[str] = set()
        for rt in list_roots:
            it = fs.listFiles(rt, True)
            while it.hasNext():
                rel = base_uri.relativize(
                    it.next().getPath().toUri()
                ).getPath()
                if not rel.startswith("_delta_log/") and not rel.startswith(
                    "/"
                ):
                    present.add(rel)
        missing = [
            f
            for f in sorted(live)
            if not _is_absolute_ref(f) and f not in present
        ]
        abs_refs = [f for f in sorted(live) if _is_absolute_ref(f)]
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    for f in abs_refs:
        p = jvm.org.apache.hadoop.fs.Path(f)
        if not p.getFileSystem(conf).exists(p):
            missing.append(f)
    if dry_run or not missing:
        return missing
    _commit(
        spark, path, read_version, [_commit_info("FSCK")] + _removes(missing)
    )
    return missing


def delta_native_fsck_repair(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FSCK lifecycle: two single-file commits, one data file deleted
    out from under the log (the storage-lifecycle accident), dry-run
    names exactly that file, repair retires it in one commit, and the
    table keeps serving — a post-repair append lands normally. Output:
    the surviving per-bucket rollup plus the repair counters."""
    import os
    import tempfile

    from ..tables import load_table

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_fsck_")
    delta_write(p.where("p_partkey % 3 = 0").repartition(1), path)
    before = set(delta_live_files(spark, path))
    delta_write(
        p.where("p_partkey % 3 = 1").repartition(1), path, mode="append"
    )
    lost = set(delta_live_files(spark, path)) - before
    if len(lost) != 1:
        raise AssertionError(f"expected one appended file, got {lost}")
    os.remove(os.path.join(path, lost.pop()))
    dry = delta_fsck(spark, path, dry_run=True)
    if len(dry) != 1:
        raise AssertionError(f"dry run should name one file: {dry}")
    repaired = delta_fsck(spark, path)
    if repaired != dry:
        raise AssertionError("repair disagreed with its dry run")
    if delta_fsck(spark, path, dry_run=True):
        raise AssertionError("second fsck still sees missing files")
    delta_write(
        p.where("p_partkey % 3 = 2"), path, mode="append"
    )
    return (
        delta_read(spark, path)
        .groupBy((F.col("p_partkey") % 2).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("sum_cents"),
        )
        .withColumn("n_repaired", F.lit(len(repaired)).cast("long"))
        .orderBy("bucket")
    )


def delta_native_column_invariants(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column-invariant lifecycle (PROTOCOL.md "Column Invariants", the
    legacy writer-v2 contract): creation declares ``cents >= 0`` in
    field metadata (`delta_write(invariants=...)`), after which

      1. an append carrying negative cents must REFUSE atomically;
      2. an append carrying a NULL cents must ALSO refuse — the
         defining contrast with CHECK constraints (X186), where NULL
         passes: a null invariant result is a violation;
      3. the clean remainder commits.

    Output pins the final state, both refusal counters, and the
    protocol's writer version (2 — invariants never bump to 3)."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_inv_")
    delta_write(
        c.where("c_custkey % 2 = 0 AND cents >= 0").repartition(4),
        path,
        invariants={"cents": "cents >= 0"},
    )
    refused_value = 0
    try:
        delta_write(c.where("c_custkey % 2 = 1"), path, mode="append")
    except ValueError:
        refused_value += 1
    refused_null = 0
    try:
        delta_write(
            spark.sql(
                "SELECT CAST(-1 AS BIGINT) AS c_custkey,"
                " CAST(NULL AS BIGINT) AS cents"
            ),
            path,
            mode="append",
        )
    except ValueError:
        refused_null += 1
    delta_write(
        c.where("c_custkey % 2 = 1 AND cents >= 0"), path, mode="append"
    )
    proto, _, _, _ = _snapshot_state(spark, path, include_adds=False)
    return delta_read(spark, path).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.lit(refused_value).cast("long").alias("n_refused_value"),
        F.lit(refused_null).cast("long").alias("n_refused_null"),
        F.lit(int((proto or {}).get("minWriterVersion", 0)))
        .cast("long")
        .alias("min_writer_version"),
    )


def delta_native_metadata_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-only COUNT(*) (delta-spark OptimizeMetadataOnlyQuery):
    a table built through append + copy-on-write DELETE + DV DELETE
    answers COUNT from the log alone — add stats' numRecords minus DV
    cardinalities — at the LATEST version and a time-traveled one.
    The in-flight assertion compares it to the real scan count; the
    output pins both plus the DV-deleted mass, so a stats-stamping or
    cardinality bug anywhere in the write paths shows up as a value
    mismatch."""
    import tempfile

    from ..tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber"
    )
    path = tempfile.mkdtemp(prefix="ls_delta_mc_")
    delta_write(li.where("k < 4000").repartition(4), path)  # v0
    delta_write(
        li.where("k >= 4000 AND k < 5000"), path, mode="append"
    )  # v1
    delta_delete(spark, path, "k % 7 = 0")  # v2: copy-on-write
    delta_delete_dv(spark, path, "k % 10 = 0")  # v3: merge-on-read
    n_v1 = delta_count_from_stats(spark, path, version=1)
    n_final = delta_count_from_stats(spark, path)
    n_scan = delta_read(spark, path).count()
    if n_final != n_scan:
        raise AssertionError(
            f"metadata count {n_final} != scan count {n_scan}"
        )
    _, _, live, _ = _snapshot_state(spark, path)
    dv_deleted = sum(
        int(a["deletionVector"]["cardinality"])
        for a in live.values()
        if a.get("deletionVector")
    )
    return spark.range(1).select(
        F.lit(n_v1).cast("long").alias("n_rows_v1"),
        F.lit(n_final).cast("long").alias("n_rows_final"),
        F.lit(int(n_scan)).cast("long").alias("n_scan_final"),
        F.lit(dv_deleted).cast("long").alias("dv_deleted_rows"),
    )


def delta_native_replace_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """replaceWhere lifecycle (delta-spark ``.mode("overwrite")
    .option("replaceWhere", ...)``), the scheduler-driven backfill:

      1. orders land scattered (bucket = custkey % 4 across every
         file — forces the partial-file rewrite path, not the
         partition fast path);
      2. region ``bucket = 1`` is atomically replaced by a recomputed
         half-sized batch (even keys, doubled cents) — odd-key bucket-1
         rows must vanish with it;
      3. a batch leaking OUTSIDE its declared region must refuse with
         nothing committed (version pinned before/after);
      4. replacing a region with NO existing rows (bucket = 9) degrades
         to a pure predicate-guarded insert.

    Output: per-bucket counts/sums of the final table + the refusal
    counter — a leaked row, a resurrected odd key, or a silent commit
    of the refused batch each breaks a row."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") % 4).cast("bigint").alias("bucket"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_rw_")
    delta_write(o.repartition(6), path)
    repl = o.where("bucket = 1 AND k % 2 = 0").select(
        "k", "bucket", (F.col("cents") * 2).alias("cents")
    )
    delta_replace_where(spark, path, "bucket = 1", repl)
    refused = 0
    v_before = _list_versions(spark, path)[-1]
    try:
        delta_replace_where(spark, path, "bucket = 2", o.where("bucket = 3"))
    except ValueError:
        refused += 1
    if _list_versions(spark, path)[-1] != v_before:
        raise AssertionError("refused replaceWhere must commit nothing")
    fresh = o.where("bucket = 2 AND k % 5 = 0").select(
        "k", F.lit(9).cast("bigint").alias("bucket"), "cents"
    )
    delta_replace_where(spark, path, "bucket = 9", fresh)
    return (
        delta_read(spark, path)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .withColumn("n_refused", F.lit(refused).cast("long"))
        .orderBy("bucket")
    )


def delta_native_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECK-constraint lifecycle (PROTOCOL.md "CHECK Constraints",
    delta-spark's ALTER TABLE ADD CONSTRAINT / writer-v3 contract):

      1. write the non-negative half of a cents table;
      2. ADD CONSTRAINT nonneg (cents >= 0) — validates the existing
         snapshot, bumps minWriterVersion to 3;
      3. an append carrying violating rows must REFUSE atomically
         (nothing committed — counted, and any leak breaks the final
         aggregate);
      4. a clean append commits under the constraint;
      5. ADD CONSTRAINT the current data violates must REFUSE (the
         alter-side validation);
      6. DROP CONSTRAINT, after which the once-refused rows commit.

    The output pins the final state (row/sum/negative counts), both
    refusal counters, and the protocol's writer version — a constraint
    that silently failed to enforce, failed to validate, or failed to
    bump the protocol shows up in one of them."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_ck_")
    delta_write(
        c.where("c_custkey % 2 = 0 AND cents >= 0").repartition(4), path
    )
    delta_add_constraint(spark, path, "nonneg", "cents >= 0")
    odds = c.where("c_custkey % 2 = 1")
    refused_appends = 0
    try:
        delta_write(odds, path, mode="append")  # carries negatives
    except ValueError:
        refused_appends += 1
    delta_write(odds.where("cents >= 0"), path, mode="append")
    refused_alters = 0
    try:
        delta_add_constraint(spark, path, "rich", "cents >= 500000")
    except ValueError:
        refused_alters += 1
    delta_drop_constraint(spark, path, "nonneg")
    delta_write(odds.where("cents < 0"), path, mode="append")
    proto, _, _, _ = _snapshot_state(spark, path, include_adds=False)
    back = delta_read(spark, path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.sum((F.col("cents") < 0).cast("bigint")).alias("n_neg_rows"),
        F.lit(int((proto or {}).get("minWriterVersion", 0)))
        .cast("long")
        .alias("min_writer_version"),
        F.lit(refused_appends).cast("long").alias("n_refused_appends"),
        F.lit(refused_alters).cast("long").alias("n_refused_alters"),
    )


def delta_native_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY on the native log: orders land in arrival
    order (custkey scattered across every file), then a z-order rewrite
    clusters (o_custkey, o_orderkey) so a custkey range predicate can
    SKIP files on footer stats. The query asserts in-flight that the
    stats-based file skip actually prunes (post-zorder surviving files <
    live files) and returns the pruned read's aggregate — wrong skipping
    (dropping a file it needed) breaks the totals."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_zo_")
    delta_write(
        o.repartition(8), path, stats_cols=["o_custkey", "o_orderkey"]
    )
    delta_optimize_zorder(spark, path, ["o_custkey", "o_orderkey"])
    lo, hi = 100, 500
    live = delta_live_adds(spark, path)

    def survives(a: dict) -> bool:
        st = json.loads(a["stats"])
        mn = st["minValues"].get("o_custkey")
        mx = st["maxValues"].get("o_custkey")
        return mn is None or mx is None or not (mn > hi or mx < lo)

    surviving = sum(1 for _, a in live if survives(a))
    if not surviving < len(live):
        raise AssertionError(
            f"z-order produced no file skipping: {surviving}/{len(live)}"
        )
    pruned = delta_read(spark, path, range_filter={"o_custkey": (lo, hi)})
    return (
        pruned.where(F.col("o_custkey").between(lo, hi))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


def delta_native_zorder3_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY over THREE columns: lineitem clustered on the
    3-dim Morton interleave of (l_orderkey, l_partkey, l_suppkey), then
    one lowest-quarter band per dimension. Asserts in-flight that footer
    stats prune files on EACH of the three dimensions independently —
    the property a 2-dim curve cannot give you — and returns the three
    pruned reads' aggregates (layout-independent, so the oracle runs the
    same algebra on the raw table). At 100 TB this is the fact-table
    layout for multi-dimensional dashboards: one rewrite serves range
    predicates on any of the clustered keys."""
    import tempfile

    from ..tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_zo3_")
    dims = ["l_orderkey", "l_partkey", "l_suppkey"]
    delta_write(li.repartition(8), path, stats_cols=dims)
    delta_optimize_zorder(spark, path, dims)
    # lowest-quarter band per dimension, integer floor-div bounds so the
    # DuckDB oracle reproduces them exactly
    b = li.agg(
        *[F.min(c).alias(f"mn_{c}") for c in dims],
        *[F.max(c).alias(f"mx_{c}") for c in dims],
    ).collect()[0]
    bands = {
        c: (int(b[f"mn_{c}"]), int(b[f"mn_{c}"]) + (int(b[f"mx_{c}"]) - int(b[f"mn_{c}"])) // 4)
        for c in dims
    }
    live = delta_live_adds(spark, path)
    for c, (lo, hi) in bands.items():
        def survives(a: dict) -> bool:
            st = json.loads(a["stats"])
            mn, mx = st["minValues"].get(c), st["maxValues"].get(c)
            return mn is None or mx is None or not (mn > hi or mx < lo)

        surviving = sum(1 for _, a in live if survives(a))
        if not surviving < len(live):
            raise AssertionError(
                f"3-dim z-order gave no skipping on {c}: "
                f"{surviving}/{len(live)}"
            )
    parts = []
    for c, (lo, hi) in bands.items():
        pruned = delta_read(spark, path, range_filter={c: (lo, hi)})
        parts.append(
            pruned.where(F.col(c).between(lo, hi))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(F.lit(c).alias("dim"), "n_rows", "sum_cents")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("dim")


def delta_native_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE lifecycle: the clone's v0 references the source's
    files in place (zero copy — asserted: no data files under the clone
    dir), inheriting its deletion vectors; the clone then takes an
    append and an UPDATE the source must never see (asserted in-query).
    Output: the CLONE's grouped totals."""
    import glob as _glob
    import os
    import tempfile

    from ..tables import load_table

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
    )
    src = tempfile.mkdtemp(prefix="ls_clone_src_")
    delta_write(p.repartition(4), src, stats_cols=["p_partkey"])
    delta_delete_dv(spark, src, "p_partkey % 7 = 0")
    dst = tempfile.mkdtemp(prefix="ls_clone_dst_")
    os.rmdir(dst)
    delta_clone(spark, src, dst)
    if _glob.glob(f"{dst}/part-*.parquet"):
        raise AssertionError("shallow clone copied data files")
    extra = p.where("p_partkey % 5 = 0").select(
        (F.col("p_partkey") + 1000000).alias("p_partkey"), "cents"
    )
    delta_write(extra, dst, mode="append")
    delta_update(spark, dst, "p_partkey % 11 = 0", {"cents": F.col("cents") + 50})
    src_total = delta_read(spark, src).agg(F.sum("cents")).collect()[0][0]
    base_total = (
        p.where("p_partkey % 7 <> 0").agg(F.sum("cents")).collect()[0][0]
    )
    if src_total != base_total:
        raise AssertionError("clone DML leaked into the source table")
    return (
        delta_read(spark, dst)
        .groupBy((F.col("p_partkey") % 3).alias("key_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("key_bucket")
    )


def delta_native_deep_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEP CLONE lifecycle — the transportability proof: a PARTITIONED
    source (which shallow clone refuses) with a DV delete is deep-
    cloned, the ENTIRE source directory is then destroyed, and the
    clone must still read (its v0 owns every byte), absorb an append,
    and produce the grouped totals. Asserted in-query: the clone's add
    paths are all relative (self-contained) and the hive layout
    carried over."""
    import shutil
    import tempfile

    from ..tables import load_table

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_nationkey") % 5).cast("bigint").alias("pbucket"),
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    src = tempfile.mkdtemp(prefix="ls_dclone_src_")
    delta_write(s.repartition(4), src, partition_by=["pbucket"])
    delta_delete_dv(spark, src, "s_suppkey % 6 = 0")
    dst = tempfile.mkdtemp(prefix="ls_dclone_dst_")
    shutil.rmtree(dst)
    delta_deep_clone(spark, src, dst)
    _, _, live, _ = _snapshot_state(spark, dst, include_adds=True)
    if any(_is_absolute_ref(f) for f in live):
        raise AssertionError("deep clone left absolute references")
    if not any("pbucket=" in f for f in live):
        raise AssertionError("deep clone lost the hive partition layout")
    shutil.rmtree(src)  # the source is GONE; the clone must not care
    extra = s.where("s_suppkey % 9 = 0").select(
        (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
        "pbucket",
        "cents",
    )
    delta_write(extra, dst, mode="append", partition_by=["pbucket"])
    return (
        delta_read(spark, dst)
        .groupBy("pbucket")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("pbucket")
    )


def delta_native_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE: matched positions are masked behind a
    deletion vector and the post-image rows appended — the affected
    files are never rewritten (asserted in tests: the pre-update file
    set stays live, re-stamped with descriptors). Two DV updates stack
    on shared files; a DV delete then composes on top. Grouped totals
    oracle the final logical state."""
    import tempfile

    from ..tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_udv_")
    delta_write(li.repartition(6), path, stats_cols=["l_orderkey"])
    delta_update_dv(
        spark, path, "l_returnflag = 'R'", {"cents": F.col("cents") + 7}
    )
    delta_update_dv(
        spark,
        path,
        "l_orderkey % 10 = 3",
        {"cents": F.col("cents") * 2},
    )
    delta_delete_dv(spark, path, "l_linenumber = 7")
    back = delta_read(spark, path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("l_returnflag")
    )


def delta_native_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full deletion-vector retirement lifecycle: two DV deletes mask
    rows behind descriptors (no data file rewritten), REORG PURGE then
    rewrites ONLY the descriptor-carrying files with dataChange=false
    (materializing the DVs away), and DROP FEATURE with history
    truncation downgrades the protocol to the legacy version pair — the
    final table is a plain reader-v1 Delta table a featureless client
    can read. In-query invariants: post-purge the live set carries zero
    descriptors, and post-drop the protocol declares no deletionVectors
    feature. Grouped totals oracle the final logical state."""
    import tempfile

    from ..tables import load_table

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_purge_")
    delta_write(p.repartition(6), path, stats_cols=["p_partkey"])
    delta_delete_dv(spark, path, "p_partkey % 4 = 1")
    delta_delete_dv(spark, path, "p_brand = 'Brand#23' AND p_partkey % 4 = 2")
    delta_reorg_purge(spark, path)
    _, _, live, _ = _snapshot_state(spark, path)
    assert not any(a.get("deletionVector") for a in live.values()), (
        "REORG PURGE left live deletion-vector descriptors"
    )
    delta_drop_feature(spark, path, "deletionVectors", truncate_history=True)
    proto, _, _, _ = _snapshot_state(spark, path)
    assert "deletionVectors" not in set().union(*_features(proto)), (
        "DROP FEATURE left deletionVectors in the protocol"
    )
    back = delta_read(spark, path)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("p_brand")
    )


def delta_native_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minor log compaction: after three append/overwrite commits and a
    copy-on-write DELETE, ``delta_compact_log`` reconciles the whole
    4-commit tail into one ``0.3.compacted.json``; the snapshot fold
    then plans exactly ONE tail read (asserted in-query via _tail_plan —
    the mechanism-level read spy lives in tests/test_delta_log.py).
    Grouped totals oracle the final state."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_compact_")
    delta_write(o.where("o_orderkey % 3 = 0").repartition(3), path)
    delta_write(
        o.where("o_orderkey % 3 = 1").repartition(3), path, mode="append"
    )
    delta_write(
        o.where("o_orderkey % 3 = 2").repartition(3), path, mode="append"
    )
    delta_delete(spark, path, "o_orderkey % 10 = 7")
    delta_compact_log(spark, path)
    plan = _tail_plan(spark, path, 0, 3)
    assert plan == [(_compacted_file(path, 0, 3), 3)], (
        f"fold should read the one compacted file, planned {plan}"
    )
    back = delta_read(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


def delta_native_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (writer feature ``allowColumnDefaults``):
    the table declares ``tier DEFAULT 'standard'`` and ``score DEFAULT
    100``; the creation batch and a later append OMIT both (the writer
    fills the defaults at insert time), a middle append supplies its own
    ``tier`` — supplied values WIN, the defining contrast with generated
    columns. Grouped totals oracle the final state."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_def_")
    delta_write(
        c.where("c_custkey % 3 = 0"),
        path,
        column_defaults={"tier": "'standard'", "score": "100"},
    )
    delta_write(
        c.where("c_custkey % 3 = 1").withColumn("tier", F.lit("vip")),
        path,
        mode="append",
    )
    delta_write(c.where("c_custkey % 3 = 2"), path, mode="append")
    back = delta_read(spark, path)
    return (
        back.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("sum_cents"),
            F.sum("score").alias("sum_score"),
        )
        .orderBy("tier")
    )


def delta_native_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file auto-maintenance pair: optimizeWrite (AQE
    REBALANCE before every file write) keeps each commit's files
    right-sized, and autoCompact (post-commit hook) folds accumulated
    small files into one per partition with dataChange=false commits.
    Three fragmented appends land on a table declaring both; in-query
    invariant: the final live set is a SINGLE file despite 4 multi-file
    writes. Totals oracle the final state (layout work must never
    change rows)."""
    import tempfile

    from ..tables import load_table

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_ac_")
    delta_write(
        s.where("s_suppkey % 4 = 0").repartition(3),
        path,
        configuration={
            _OPT_WRITE_KEY: "true",
            _AUTO_COMPACT_KEY: "true",
        },
    )
    for r in (1, 2, 3):
        delta_write(
            s.where(f"s_suppkey % 4 = {r}").repartition(3),
            path,
            mode="append",
        )
    live = delta_live_files(spark, path)
    assert len(live) == 1, (
        f"auto-compaction should leave ONE live file, found {len(live)}"
    )
    back = delta_read(spark, path)
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("s_nationkey")
    )


def delta_native_generated_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generated PARTITION columns + derived pruning: the table
    partitions on ``order_month`` GENERATED AS
    ``substring(cast(o_orderdate as string), 1, 7)``; a reader filtering
    only on the BASE date column gets hive-partition pruning for free —
    the monotone generation expression maps the date bounds to a
    partition-value range engine-side. In-query invariants: the derived
    bounds are exactly ('1995-01', '1995-06') and the pruned live set is
    a strict subset. Monthly totals oracle the rows."""
    import datetime
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_gp_")
    delta_write(
        o,
        path,
        partition_by=["order_month"],
        generated_columns={
            "order_month": "substring(cast(o_orderdate as string), 1, 7)"
        },
    )
    rf = {
        "o_orderdate": (
            datetime.datetime(1995, 1, 1, 0, 0, 0),
            datetime.datetime(1995, 6, 30, 23, 59, 59),
        )
    }
    _, meta, live, _ = _snapshot_state(spark, path)
    bounds = _derived_partition_bounds(spark, meta, rf)
    assert bounds == {"order_month": ("1995-01", "1995-06")}, bounds
    kept = [
        f
        for f, a in live.items()
        if "1995-01" <= a["partitionValues"]["order_month"] <= "1995-06"
    ]
    assert 0 < len(kept) < len(live), (len(kept), len(live))
    back = delta_read(spark, path, range_filter=rf)
    # file pruning is partition-granular; the row predicate restates the
    # bound (month-aligned here, so it is a no-op — stated for contract)
    back = back.where(
        F.col("o_orderdate").between(*rf["o_orderdate"])
    )
    return (
        back.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("order_month")
    )


def delta_native_cdf_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over DML commits: a CDF-enabled table takes a
    DELETE (v1) then an UPDATE (v2); ``delta_read_cdf(1, 2)`` returns
    exactly the changed rows — delete images plus update pre/post
    images — read from the commits' ``_change_data`` files (O(changes);
    the rewritten data files are never opened, asserted in tests).
    Output aggregates the feed per (commit, change_type) in cents."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_cdf_")
    delta_write(
        c.repartition(8),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete(spark, path, "c_custkey % 7 = 0")
    delta_update(
        spark, path, "c_custkey % 5 = 0", {"cents": F.col("cents") + 100}
    )
    feed = delta_read_cdf(spark, path, 1, 2)
    return (
        feed.groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("_commit_version", "_change_type")
    )


def delta_native_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking end-to-end: two single-file sorted appends pin each
    row's fresh id to its batch rank (baseRowId 0 and |batch1|), then a
    copy-on-write UPDATE, a CoW DELETE on the second batch's file and a
    full OPTIMIZE each rewrite files — and every surviving row must read
    back its ORIGINAL id through the materialized ``_row_id`` column.
    The oracle recomputes the expected ids as batch-offset row numbers,
    so any renumbering (a rewrite dropping materialization, OPTIMIZE
    reassigning positions) is a value mismatch, not just a row-count
    drift."""
    import tempfile

    from ..tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    b1 = (
        o.where(F.col("o_orderkey") % 10 == 1)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    b2 = (
        o.where(F.col("o_orderkey") % 10 == 2)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_rt_")
    delta_write(
        b1,
        path,
        mode="overwrite",
        configuration={"delta.enableRowTracking": "true"},
    )
    delta_write(b2, path, mode="append")
    delta_update(spark, path, "o_orderkey % 100 = 1", {"o_custkey": "0"})
    delta_delete(spark, path, "o_orderkey % 100 = 22")
    delta_optimize(spark, path, target_files=1)
    back = delta_read(spark, path, row_ids=True)
    return back.select(
        "o_orderkey",
        "o_custkey",
        F.col(_RT_COL).alias("row_id"),
    ).orderBy("o_orderkey")


def delta_native_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening: an int `cents` column is widened to bigint by a
    mergeSchema append carrying the wider type (one metaData commit —
    the int-typed files are NEVER rewritten and read back upcast), and
    a later narrower int batch upcasts into the widened table. The
    grouped totals over all three batches oracle the final state; any
    value corruption in the upcast path (sign, truncation) breaks the
    exact cent sums."""
    import tempfile

    from ..tables import load_table

    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100, 0)
    b1 = c.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_mktsegment", cents.cast("int").alias("cents")
    )
    b2 = c.where(F.col("c_custkey") % 3 == 1).select(
        "c_custkey", "c_mktsegment", cents.cast("long").alias("cents")
    )
    b3 = c.where(F.col("c_custkey") % 3 == 2).select(
        "c_custkey", "c_mktsegment", cents.cast("int").alias("cents")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_tw_")
    delta_write(
        b1, path, configuration={"delta.enableTypeWidening": "true"}
    )
    delta_write(b2, path, mode="append", merge_schema=True)
    delta_write(b3, path, mode="append", merge_schema=True)
    back = delta_read(spark, path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("c_mktsegment")
    )


def delta_describe_detail(spark: SparkSession, path: str) -> dict:
    """``DESCRIBE DETAIL`` (delta-spark's table-inspection command):
    the snapshot's physical/metadata summary — format, table id,
    location, creation time, partition/clustering columns, live file
    count and byte size (from add actions — no storage listing),
    table properties, protocol versions and declared features. Pure
    log fold; O(metadata) at any table size."""
    proto, meta, live, _ = _snapshot_state(spark, path)
    if meta is None:
        raise ValueError(f"no delta table at {path}")
    proto = proto or _PROTOCOL
    feats = sorted(set().union(*_features(proto)))
    return {
        "format": (meta.get("format") or {}).get("provider", "parquet"),
        "id": meta.get("id"),
        "location": path,
        "createdAt": meta.get("createdTime"),
        "partitionColumns": list(meta.get("partitionColumns") or ()),
        "clusteringColumns": delta_clustering_columns(meta) or [],
        "numFiles": len(live),
        "sizeInBytes": sum(
            int(a.get("size") or 0) for a in live.values()
        ),
        "properties": dict(meta.get("configuration") or {}),
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        "tableFeatures": feats,
    }


def delta_native_describe_detail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DESCRIBE DETAIL lifecycle: a partitioned CDF table built with a
    deterministic file layout (one file per partition per append), a
    CHECK constraint bumping the writer protocol — the detail row must
    report exactly the file count, partitioning, properties and
    protocol the construction implies, with live bytes positive and
    consistent with the add actions."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", (F.col("n_nationkey") % 3).alias("part")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_detail_")
    delta_write(
        n.where("n_nationkey % 2 = 0").repartition(1),
        path,
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_write(
        n.where("n_nationkey % 2 = 1").repartition(1),
        path,
        mode="append",
    )
    delta_add_constraint(spark, path, "nonneg", "n_nationkey >= 0")
    d = delta_describe_detail(spark, path)
    if d["sizeInBytes"] <= 0 or d["numFiles"] != 6:
        raise AssertionError(f"unexpected detail: {d}")
    return spark.createDataFrame(
        [
            (
                d["format"],
                len(d["partitionColumns"]),
                ",".join(d["partitionColumns"]),
                d["numFiles"],
                int(d["sizeInBytes"] > 0),
                d["properties"].get("delta.enableChangeDataFeed"),
                d["minReaderVersion"],
                d["minWriterVersion"],
                int("delta.constraints.nonneg" in d["properties"]),
            )
        ],
        "format string, n_partition_cols long, partition_cols string,"
        " num_files long, has_bytes int, cdf_property string,"
        " min_reader long, min_writer long, has_constraint int",
    )


def delta_native_vacuum_lite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VACUUM LITE lifecycle: an overwrite retires the first
    generation, LITE reclaims exactly those log-remembered files while
    a planted ORPHAN parquet (an aborted write's leftover the log never
    saw) survives — then FULL vacuum reaps the orphan too. Output: the
    surviving rollup plus both reclaim counters and the orphan flags."""
    import os
    import tempfile

    from ..tables import load_table

    r = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.length("r_name").cast("long").alias("name_len")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_vlite_")
    delta_write(r.repartition(2), path)
    gen1 = set(delta_live_files(spark, path))
    delta_write(r, path, mode="overwrite")
    orphan = os.path.join(path, "part-orphan-deadbeef.c000.snappy.parquet")
    r.limit(1).toPandas().to_parquet(orphan)
    lite = delta_vacuum(spark, path, keep_versions=1, lite=True)
    if set(lite) != gen1:
        raise AssertionError(
            f"LITE must reclaim exactly the retired generation: "
            f"{sorted(lite)} vs {sorted(gen1)}"
        )
    orphan_survived_lite = int(os.path.exists(orphan))
    full = delta_vacuum(spark, path, keep_versions=1)
    orphan_survived_full = int(os.path.exists(orphan))
    return (
        delta_read(spark, path)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("name_len").alias("sum_name_len"),
        )
        .select(
            "n_rows",
            "sum_name_len",
            F.lit(len(lite)).cast("long").alias("n_lite_reclaimed"),
            F.lit(len(full)).cast("long").alias("n_full_reclaimed"),
            F.lit(orphan_survived_lite).cast("int").alias(
                "orphan_survived_lite"
            ),
            F.lit(orphan_survived_full).cast("int").alias(
                "orphan_survived_full"
            ),
        )
    )


def delta_native_vacuum_inventory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VACUUM USING INVENTORY lifecycle (delta-spark 3.1): an overwrite
    retires the first generation and an aborted write leaves an orphan;
    the vacuum's candidates come from a caller-supplied inventory table
    (the S3-Inventory-report shape: path/length/isDir/modificationTime)
    instead of a recursive listing. Inventory-driven reclaim must equal
    FULL's exactly; a row OUTSIDE the table root must be ignored; a
    STALE row (file already gone) must be a no-op; directories are
    skipped. Output: surviving rollup + the reclaim counters."""
    import os
    import tempfile

    from ..tables import load_table

    r = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.length("r_name").cast("long").alias("name_len")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_vinv_")
    delta_write(r.repartition(2), path)
    gen1 = set(delta_live_files(spark, path))
    delta_write(r, path, mode="overwrite")
    orphan = os.path.join(path, "part-orphan-deadbeef.c000.snappy.parquet")
    r.limit(1).toPandas().to_parquet(orphan)
    outside_dir = tempfile.mkdtemp(prefix="ls_delta_vinv_outside_")
    outside = os.path.join(outside_dir, "not-this-table.parquet")
    r.limit(1).toPandas().to_parquet(outside)
    rows = []
    for root, dirs, files in os.walk(path):
        for d in dirs:
            p = os.path.join(root, d)
            rows.append((p, 0, True, int(os.stat(p).st_mtime * 1000)))
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            rows.append((p, st.st_size, False, int(st.st_mtime * 1000)))
    # outside-root row (must be ignored) + stale row (already gone)
    rows.append((outside, 1, False, 0))
    rows.append((os.path.join(path, "part-stale.parquet"), 1, False, 0))
    inv = spark.createDataFrame(
        rows,
        "path string, length long, isDir boolean, modificationTime long",
    )
    reclaimed = delta_vacuum(spark, path, keep_versions=1, inventory=inv)
    expected = gen1 | {os.path.basename(orphan)}
    if set(reclaimed) != expected:
        raise AssertionError(
            "inventory vacuum must reclaim exactly what FULL would: "
            f"{sorted(reclaimed)} vs {sorted(expected)}"
        )
    return (
        delta_read(spark, path)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("name_len").alias("sum_name_len"),
        )
        .select(
            "n_rows",
            "sum_name_len",
            F.lit(len(reclaimed)).cast("long").alias("n_reclaimed"),
            F.lit(int(not os.path.exists(orphan))).cast("int").alias(
                "orphan_reclaimed"
            ),
            F.lit(int(os.path.exists(outside))).cast("int").alias(
                "outside_root_survived"
            ),
        )
    )


def delta_native_uniform_iceberg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UniForm lifecycle: two Delta commits, each followed by a
    ``uniform_sync`` that folds the snapshot into Iceberg metadata
    (hand-rolled Avro OCF manifests + metadata.json chain, public
    Iceberg v2 / Avro 1.11 specs — see ``sources/uniform.py``), then a
    DELETION-VECTOR delete and a third sync that must convert the DV to
    Iceberg v2 POSITION DELETES (content=1 manifest + position-delete
    parquet). The Iceberg read path (version-hint → metadata → manifest
    list → manifest → data files) must see EXACTLY the Delta live set,
    and the merge-on-read path (data minus position deletes) must see
    EXACTLY the post-delete rows Delta reads — asserted in-query.
    Output: rollup + lineage/delete counters."""
    import os
    import tempfile

    from ..tables import load_table
    from .uniform import (
        iceberg_current_files,
        iceberg_read_rows,
        uniform_sync,
    )

    r = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.length("r_name").cast("long").alias("name_len")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_uniform_")
    delta_write(r.repartition(2), path)
    uniform_sync(spark, path)
    delta_write(r, path, mode="append")
    s2 = uniform_sync(spark, path)
    md = json.loads(open(s2["metadata_path"]).read())
    if md["current-snapshot-id"] != 2 or len(md["snapshots"]) != 2:
        raise AssertionError(
            f"iceberg snapshot lineage broken: {md['snapshots']}"
        )
    files = iceberg_current_files(path)
    ice_view = {
        os.path.relpath(f["file_path"], path) for f in files
    }
    delta_view = set(delta_live_files(spark, path))
    if ice_view != delta_view:
        raise AssertionError(
            f"iceberg view != delta view: {ice_view} vs {delta_view}"
        )
    ice_rows = sum(f["record_count"] for f in files)
    # DV leg: merge-on-read delete, then a sync that emits position
    # deletes; the Iceberg merge-on-read result must equal Delta's
    delta_delete_dv(spark, path, "r_regionkey = 0")
    s3 = uniform_sync(spark, path)
    if s3["n_delete_files"] < 1 or s3["n_delete_rows"] < 1:
        raise AssertionError(f"DV sync emitted no position deletes: {s3}")
    ice_live = sorted(
        (row["r_regionkey"], row["name_len"])
        for row in iceberg_read_rows(spark, path)
        .select("r_regionkey", "name_len")
        .collect()
    )
    delta_live = sorted(
        (row["r_regionkey"], row["name_len"])
        for row in delta_read(spark, path)
        .select("r_regionkey", "name_len")
        .collect()
    )
    if ice_live != delta_live:
        raise AssertionError(
            f"iceberg merge-on-read != delta: {ice_live} vs {delta_live}"
        )
    return (
        delta_read(spark, path)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("name_len").alias("sum_name_len"),
        )
        .select(
            "n_rows",
            "sum_name_len",
            F.lit(3).cast("long").alias("n_snapshots"),
            F.lit(len(files)).cast("long").alias("n_iceberg_files"),
            F.lit(int(ice_rows)).cast("long").alias("iceberg_rows"),
            F.lit(s3["n_delete_files"]).cast("long").alias("n_delete_files"),
            F.lit(s3["n_delete_rows"]).cast("long").alias("n_delete_rows"),
            F.lit(len(ice_live)).cast("long").alias("iceberg_live_rows"),
        )
    )


def delta_native_optimize_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Predicate-scoped OPTIMIZE lifecycle (delta-spark's ``OPTIMIZE t
    WHERE part >= 2``): two appends leave exactly 2 files in each of 4
    partitions, the scoped compaction rewrites ONLY partitions 2 and 3
    (to 1 file each), and the out-of-scope partitions' add paths must
    survive the commit verbatim — asserted in-query, because an
    OPTIMIZE that touches out-of-scope files silently multiplies write
    amplification at 100 TB. Output: per-partition rollup with the
    deterministic file counts and the untouched flag."""
    import tempfile

    from ..tables import load_table

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") % 4).alias("part"),
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_optw_")
    # the split key must be independent of part = s_suppkey % 4, so
    # BOTH appends land one file in EVERY partition (2 files each)
    delta_write(
        s.where("s_suppkey % 8 <= 3").repartition(1),
        path,
        partition_by=["part"],
    )
    delta_write(
        s.where("s_suppkey % 8 > 3").repartition(1),
        path,
        mode="append",
    )
    before = {
        f: a for f, a in _snapshot_state(spark, path)[2].items()
    }
    delta_optimize(spark, path, target_files=1, where="part >= 2")
    after = _snapshot_state(spark, path)[2]
    out_scope_before = {
        f for f in before if "part=0" in f or "part=1" in f
    }
    out_scope_after = {
        f for f in after if "part=0" in f or "part=1" in f
    }
    if out_scope_before != out_scope_after:
        raise AssertionError(
            "scoped OPTIMIZE touched out-of-scope partitions"
        )
    per_part_files = {}
    for f in after:
        for seg in f.split("/"):
            if seg.startswith("part="):
                k = int(seg.split("=", 1)[1])
                per_part_files[k] = per_part_files.get(k, 0) + 1
    if {k: v for k, v in per_part_files.items() if k >= 2} != {2: 1, 3: 1}:
        raise AssertionError(
            f"in-scope partitions not compacted to 1 file: {per_part_files}"
        )
    files_df = spark.createDataFrame(
        [(k, v) for k, v in per_part_files.items()], "part long, n_files long"
    )
    return (
        delta_read(spark, path)
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .join(files_df, "part")
        .select(
            "part",
            "n_rows",
            "sum_cents",
            "n_files",
            (F.col("part") < 2).cast("int").alias("untouched"),
        )
        .orderBy("part")
    )


def delta_native_generate_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATE symlink_format_manifest lifecycle: a partitioned table
    (1 data file per partition by construction) generates one manifest
    per partition dir; reading the parquet files the manifests point
    at — the way Presto/Trino/Athena actually consume them — must
    reproduce the table exactly. A DELETE then retires one partition,
    the manifest is REGENERATED, and the retired partition's manifest
    must disappear (the stale-manifest resurrection hazard). Output:
    per-partition rollup read back THROUGH the manifest symlinks."""
    import tempfile

    from ..tables import load_table

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") % 3).alias("part"),
        F.length("n_name").cast("long").alias("name_len"),
    )
    path = tempfile.mkdtemp(prefix="ls_delta_manifest_")
    delta_write(n.repartition(1), path, partition_by=["part"])
    rels = delta_generate_manifest(spark, path)
    if len(rels) != 3:
        raise AssertionError(f"expected 3 partition manifests: {rels}")
    delta_delete(spark, path, "part = 2")
    rels = delta_generate_manifest(spark, path)
    if len(rels) != 2 or any("part=2" in r for r in rels):
        raise AssertionError(
            f"regenerate kept a retired partition's manifest: {rels}"
        )
    import os

    uris: list[str] = []
    for rel in rels:
        with open(os.path.join(path, rel)) as fh:
            uris.extend(u for u in fh.read().splitlines() if u)
    symlinked = spark.read.parquet(*uris)
    return (
        symlinked.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").alias("sum_keys"),
            F.sum("name_len").alias("sum_name_len"),
        )
        .select(
            "n_rows",
            "sum_keys",
            "sum_name_len",
            F.lit(len(uris)).cast("long").alias("n_symlinks"),
        )
    )


def delta_native_restore_timestamp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTORE TO TIMESTAMP through in-commit timestamps: three
    generations committed at authored ICT instants, restore resolves
    an inter-commit timestamp to the version AT-OR-BEFORE it (the
    time-travel rule), and the pre-restore generation stays readable
    as history. Output: the restored snapshot's rollup plus the
    resolved state counters."""
    import tempfile

    from ..tables import load_table

    r = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.length("r_name").cast("long").alias("name_len")
    )
    path = tempfile.mkdtemp(prefix="ls_delta_rts_")
    delta_write(r, path)
    delta_enable_in_commit_timestamps(spark, path)
    # v2 (doubling append) and v3 (tripling append); ICT guarantees
    # v3_ts >= v2_ts + 1, so restoring AT v2's in-commit instant
    # resolves to exactly v2 (two generations) — never v3
    delta_write(r, path, mode="append")
    delta_write(r, path, mode="append")
    v2_ts = _commit_timestamp(spark, path, 2)
    restored_v = delta_restore(spark, path, timestamp=v2_ts)
    back = delta_read(spark, path)
    pre = delta_read(spark, path, version=restored_v - 1)
    return (
        back.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("name_len").alias("sum_name_len"),
        )
        .select(
            "n_rows",
            "sum_name_len",
            F.lit(pre.count()).cast("long").alias("pre_restore_rows"),
        )
    )


# --- customer upsert lifecycle (MERGE / DELETE / CDC on the native log) ----
def _customer_upsert_table(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Seed a table with customer (v0), then MERGE (v1) the shared upsert
    source: BUILDING balances +1000 update in place, and five synthetic
    NEWSEG rows (custkeys < 5, shifted by 1e6) insert. Returns the path."""
    import tempfile

    from ..tables import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = tempfile.mkdtemp(prefix=prefix)
    delta_write(cust, path)
    updated = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") + 1000).alias("c_acctbal")
    )
    inserted = cust.where(F.col("c_custkey") < 5).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    delta_merge(spark, path, updated.unionByName(inserted), on=["c_custkey"])
    return path


def _segment_summary(df: DataFrame) -> DataFrame:
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias(
            "sum_acctbal_cents"
        ),
    )


def versioned_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DML lifecycle: seed with customer, MERGE (update BUILDING
    balances, insert 5 synthetic rows), DELETE the MACHINERY segment,
    then report per-segment stats from the final snapshot. The oracle
    replays the same algebra over the source table directly — proving
    merge/delete semantics, not just plumbing."""
    path = _customer_upsert_table(spark, sf_dir, "ls_versioned_merge_")
    delta_delete(spark, path, "c_mktsegment = 'MACHINERY'")
    return _segment_summary(delta_read(spark, path)).orderBy("c_mktsegment")


def versioned_snapshot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: overwrite then append, then read BOTH snapshots by
    version — append isolation means v0's count is unchanged."""
    import tempfile

    from ..tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    path = tempfile.mkdtemp(prefix="ls_versioned_tt_")
    delta_write(cust, path)
    delta_write(cust.where(F.col("c_mktsegment") == "BUILDING"), path, mode="append")
    return (
        delta_read(spark, path, version=0)
        .agg(
            F.lit(0).cast("bigint").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .unionByName(
            delta_read(spark, path, version=1).agg(
                F.lit(1).cast("bigint").alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        .orderBy("version")
    )


def _upsert_versions(spark: SparkSession, sf_dir: str, prefix: str):
    """(added, removed, v0) of the customer upsert: the row-level diff of
    version 1 against version 0 via two ``exceptAll`` passes — an updated
    row surfaces as one removed + one added."""
    path = _customer_upsert_table(spark, sf_dir, prefix)
    v0 = delta_read(spark, path, version=0)
    v1 = delta_read(spark, path, version=1)
    return v1.exceptAll(v0), v0.exceptAll(v1), v0


def versioned_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between snapshots (Delta's ``table_changes`` analogue): the
    value-level diff of version 0 vs version 1, counted per change type."""
    added, removed, v0 = _upsert_versions(spark, sf_dir, "ls_versioned_cdc_")
    n_removed = removed.count()
    return spark.createDataFrame(
        [
            ("added", added.count()),
            ("removed", n_removed),
            ("unchanged", v0.count() - n_removed),
        ],
        "change_type string, n_rows bigint",
    ).orderBy("change_type")


def versioned_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance from CDC: a per-segment summary
    (count + acctbal cents) is maintained by applying the version-0→1
    row deltas as signed contributions (+1 for added, -1 for removed) to
    the version-0 summary — never rescanning the base table. The oracle
    recomputes it from scratch on the post-merge state, so any drift in
    the delta algebra is a hash mismatch. The refresh cost is
    O(changed rows), not O(table)."""
    added, removed, v0 = _upsert_versions(spark, sf_dir, "ls_versioned_ivm_")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    deltas = added.withColumn("w", F.lit(1)).unionByName(
        removed.withColumn("w", F.lit(-1))
    )
    delta_agg = deltas.groupBy("c_mktsegment").agg(
        F.sum("w").cast("bigint").alias("n_rows"),
        F.sum(F.col("w") * cents).alias("sum_acctbal_cents"),
    )
    return (
        _segment_summary(v0)
        .unionByName(delta_agg)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("sum_acctbal_cents").cast("bigint").alias("sum_acctbal_cents"),
        )
        .where(F.col("n_rows") > 0)
        .orderBy("c_mktsegment")
    )


QUERIES: list[QueryDef] = [
    QueryDef(
        "delta_native_version_checksum",
        delta_native_version_checksum,
        """
        WITH v0 AS (SELECT n_nationkey, n_regionkey FROM nation),
        v1 AS (SELECT * FROM v0
               UNION ALL SELECT * FROM v0 WHERE n_regionkey = 0),
        v2 AS (SELECT * FROM v1 WHERE n_nationkey % 2 <> 0)
        SELECT * FROM (
          SELECT CAST(0 AS BIGINT) AS version,
                 CAST((SELECT COUNT(*) FROM v0) AS BIGINT) AS n_rows,
                 CAST(1 AS BIGINT) AS crc_valid,
                 CAST(1 AS BIGINT) AS crc_valid_after_tamper
          UNION ALL SELECT 1, (SELECT COUNT(*) FROM v1), 1, 0
          UNION ALL SELECT 2, (SELECT COUNT(*) FROM v2), 1, 1
          UNION ALL SELECT 3, (SELECT COUNT(*) FROM v2), 1, 1
        ) ORDER BY version
        """,
        tags=("parity", "delta", "io"),
        description="VERSION_CHECKSUM (.crc) sidecars: per-version "
        "snapshot aggregates emitted and validated against the "
        "log-reconstructed state; a tampered sidecar fails validation "
        "while every other version still passes.",
    ),
    QueryDef(
        "delta_native_column_mapping",
        delta_native_column_mapping,
        """
        WITH base AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
          FROM customer WHERE c_custkey % 4 <> 0)
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(acct_cents) AS BIGINT) AS sum_cents
        FROM base GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="Column mapping (mode=name): RENAME/DROP COLUMN as "
        "metaData-only commits over physical col-<uuid> file names; "
        "DML and reads translate through the mapping.",
    ),
    QueryDef(
        "delta_native_history_timestamp_travel",
        delta_native_history_timestamp_travel,
        """
        WITH v0 AS (SELECT n_nationkey, n_regionkey FROM nation),
        v1 AS (SELECT * FROM v0
               UNION ALL SELECT * FROM v0 WHERE n_regionkey = 0),
        v2 AS (SELECT * FROM v1 WHERE n_nationkey % 2 <> 0)
        SELECT * FROM (
          SELECT CAST(0 AS BIGINT) AS version, 'WRITE' AS operation,
                 CAST((SELECT COUNT(*) FROM v0) AS BIGINT) AS n_rows
          UNION ALL SELECT 1, 'WRITE', (SELECT COUNT(*) FROM v1)
          UNION ALL SELECT 2, 'DELETE', (SELECT COUNT(*) FROM v2)
          UNION ALL SELECT 3, 'OPTIMIZE', (SELECT COUNT(*) FROM v2)
          UNION ALL SELECT 4, 'RESTORE', (SELECT COUNT(*) FROM v1)
        ) ORDER BY version
        """,
        tags=("parity", "delta", "io"),
        description="DESCRIBE HISTORY + TIMESTAMP AS OF: monotonic "
        "in-commit timestamps, per-commit operation ledger, AS-OF reads "
        "asserted equal to version reads in-query.",
    ),
    QueryDef(
        "delta_native_in_commit_timestamps",
        delta_native_in_commit_timestamps,
        """
        WITH v0 AS (SELECT n_nationkey, n_regionkey FROM nation),
        v2 AS (SELECT * FROM v0
               UNION ALL SELECT * FROM v0 WHERE n_regionkey = 0),
        v3 AS (SELECT * FROM v2 WHERE n_nationkey % 2 <> 0)
        SELECT *, CAST(1 AS BIGINT) AS enablement_version FROM (
          SELECT CAST(0 AS BIGINT) AS version, 'WRITE' AS operation,
                 CAST(0 AS BIGINT) AS has_ict,
                 CAST((SELECT COUNT(*) FROM v0) AS BIGINT) AS n_rows
          UNION ALL SELECT 1, 'UPGRADE PROTOCOL', 1,
                 (SELECT COUNT(*) FROM v0)
          UNION ALL SELECT 2, 'WRITE', 1, (SELECT COUNT(*) FROM v2)
          UNION ALL SELECT 3, 'DELETE', 1, (SELECT COUNT(*) FROM v3)
        ) ORDER BY version
        """,
        tags=("parity", "delta", "io"),
        description="Writer feature inCommitTimestamp as a gated "
        "lifecycle: protocol upgrade + enablement provenance property, "
        "commitInfo.inCommitTimestamp on exactly the post-enablement "
        "commits, monotonicity and AS-OF resolution asserted in-query.",
    ),
    QueryDef(
        "delta_native_update_dv",
        delta_native_update_dv,
        """
        WITH base AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem),
        u1 AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 CASE WHEN l_returnflag = 'R' THEN cents + 7
                      ELSE cents END AS cents
          FROM base),
        u2 AS (
          SELECT l_orderkey, l_linenumber, l_returnflag,
                 CASE WHEN l_orderkey % 10 = 3 THEN cents * 2
                      ELSE cents END AS cents
          FROM u1),
        final AS (SELECT * FROM u2 WHERE l_linenumber <> 7)
        SELECT l_returnflag, COUNT(*) AS n_items,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM final GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        tags=("parity", "delta", "io", "dml"),
        description="Merge-on-read UPDATE: positions masked via DV, "
        "post-image rows appended; stacked updates + delete compose; "
        "no affected file rewritten.",
    ),
    QueryDef(
        "delta_native_shallow_clone",
        delta_native_shallow_clone,
        """
        WITH src AS (
          SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT)
                   AS cents
          FROM part WHERE p_partkey % 7 <> 0),
        appended AS (
          SELECT * FROM src
          UNION ALL
          SELECT p_partkey + 1000000,
                 CAST(round(p_retailprice * 100) AS BIGINT)
          FROM part WHERE p_partkey % 5 = 0),
        final AS (
          SELECT p_partkey,
                 CASE WHEN p_partkey % 11 = 0 THEN cents + 50
                      ELSE cents END AS cents
          FROM appended)
        SELECT p_partkey % 3 AS key_bucket, COUNT(*) AS n_parts,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM final GROUP BY key_bucket ORDER BY key_bucket
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="Shallow clone: zero-copy v0 via absolute file "
        "references (DVs carried as storageType p); clone evolves "
        "independently, source isolation asserted in-query.",
    ),
    QueryDef(
        "delta_native_deep_clone",
        delta_native_deep_clone,
        """
        WITH src AS (
          SELECT s_suppkey, CAST(s_nationkey % 5 AS BIGINT) AS pbucket,
                 CAST(round(s_acctbal * 100) AS BIGINT) AS cents
          FROM supplier),
        kept AS (SELECT * FROM src WHERE s_suppkey % 6 <> 0),
        final AS (
          SELECT * FROM kept
          UNION ALL
          SELECT s_suppkey + 1000000, pbucket, cents FROM src
          WHERE s_suppkey % 9 = 0)
        SELECT pbucket, COUNT(*) AS n_suppliers,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM final GROUP BY pbucket ORDER BY pbucket
        """,
        tags=("parity", "delta", "io", "ddl", "bench"),
        description="Deep clone: self-contained copy of a PARTITIONED "
        "DV-carrying snapshot (relative refs, hive layout preserved); "
        "survives destruction of the source directory and evolves "
        "independently.",
    ),
    QueryDef(
        "delta_native_zorder_skip",
        delta_native_zorder_skip,
        """
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders WHERE o_custkey BETWEEN 100 AND 500
        """,
        tags=("parity", "delta", "io", "layout", "zorder"),
        description="OPTIMIZE ZORDER BY on the native log: Morton "
        "clustering makes footer stats skip files on either key; "
        "skipping asserted in-query.",
    ),
    QueryDef(
        "delta_native_zorder3_skip",
        delta_native_zorder3_skip,
        """
        WITH b AS (
          SELECT MIN(l_orderkey) AS omn,
                 MIN(l_orderkey) + (MAX(l_orderkey) - MIN(l_orderkey)) // 4 AS ohi,
                 MIN(l_partkey) AS pmn,
                 MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 4 AS phi,
                 MIN(l_suppkey) AS smn,
                 MIN(l_suppkey) + (MAX(l_suppkey) - MIN(l_suppkey)) // 4 AS shi
          FROM lineitem)
        SELECT 'l_orderkey' AS dim, COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM lineitem, b WHERE l_orderkey BETWEEN b.omn AND b.ohi
        UNION ALL
        SELECT 'l_partkey', COUNT(*),
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        FROM lineitem, b WHERE l_partkey BETWEEN b.pmn AND b.phi
        UNION ALL
        SELECT 'l_suppkey', COUNT(*),
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        FROM lineitem, b WHERE l_suppkey BETWEEN b.smn AND b.shi
        ORDER BY dim
        """,
        tags=("parity", "delta", "io", "layout", "zorder", "bench"),
        description="3-column OPTIMIZE ZORDER: the N-dim Morton curve "
        "prunes files on each of three clustered keys independently; "
        "per-dimension skipping asserted in-query.",
    ),
    QueryDef(
        "delta_native_convert_parquet",
        delta_native_convert_parquet,
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM orders WHERE o_orderkey < 5100
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        tags=("parity", "delta", "io", "interop"),
        description="CONVERT TO DELTA: in-place adoption of a hive-"
        "partitioned parquet directory (no data rewrite; footer stats, "
        "dir-derived partitionValues), partition-pruned read, "
        "post-convert append, double-convert refusal.",
    ),
    QueryDef(
        "delta_native_dv_wire_roundtrip",
        delta_native_dv_wire_roundtrip,
        """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM orders
        WHERE o_orderkey < 3000
          AND o_orderkey % 3 <> 0
          AND o_orderkey % 5 <> 0
        """,
        tags=("parity", "delta", "io", "interop"),
        description="DV write-side interop: merge-on-read DELETEs "
        "committed in the protocol wire format (packed .bin + Z85 'u' "
        "descriptors), overlapping second delete merges through the "
        "standard decode; live descriptors asserted wire-format.",
    ),
    QueryDef(
        "delta_native_foreign_dv_read",
        delta_native_foreign_dv_read,
        """
        WITH evens AS (
          SELECT c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS idx
          FROM customer WHERE c_custkey % 2 = 0),
        odds AS (
          SELECT c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS idx
          FROM customer WHERE c_custkey % 2 = 1),
        surv AS (
          SELECT c_custkey, c_acctbal FROM evens WHERE idx % 7 <> 0
          UNION ALL
          SELECT c_custkey, c_acctbal FROM odds WHERE idx % 5 <> 0)
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               COUNT(DISTINCT c_custkey) AS n_customers,
               CAST(MIN(c_custkey) AS BIGINT) AS min_custkey,
               CAST(MAX(c_custkey) AS BIGINT) AS max_custkey
        FROM surv
        """,
        tags=("parity", "delta", "io", "interop"),
        description="Foreign deletion-vector read-in-place: inline Z85 "
        "and UUID-addressed .bin RoaringBitmapArray descriptors "
        "(delta-spark wire format) decoded and applied as the standard "
        "broadcast anti-join; survivors pinned by row-position "
        "arithmetic.",
    ),
    QueryDef(
        "delta_native_fsck_repair",
        delta_native_fsck_repair,
        """
        WITH base AS (
          SELECT p_partkey,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS cents
          FROM part),
        final AS (
          SELECT * FROM base WHERE p_partkey % 3 = 0
          UNION ALL
          SELECT * FROM base WHERE p_partkey % 3 = 2)
        SELECT p_partkey % 2 AS bucket, COUNT(*) AS n_parts,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(1 AS BIGINT) AS n_repaired
        FROM final GROUP BY bucket ORDER BY bucket
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="FSCK REPAIR TABLE: a data file deleted out from "
        "under the log is named by the dry run and retired in one "
        "remove commit (listing-driven, no per-file RPCs); the table "
        "keeps serving and appending.",
    ),
    QueryDef(
        "delta_native_column_invariants",
        delta_native_column_invariants,
        """
        WITH base AS (
          SELECT c_custkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer)
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(1 AS BIGINT) AS n_refused_value,
               CAST(1 AS BIGINT) AS n_refused_null,
               CAST(2 AS BIGINT) AS min_writer_version
        FROM base WHERE cents >= 0
        """,
        tags=("parity", "delta", "io", "ddl", "governance"),
        description="Column invariants (legacy writer v2): declared in "
        "field metadata at creation, violating AND null-carrying "
        "appends refuse atomically (NULL violates an invariant, unlike "
        "CHECK), writer version stays 2.",
    ),
    QueryDef(
        "delta_native_merge_clauses",
        delta_native_merge_clauses,
        """
        WITH base AS (
          SELECT c_custkey AS k,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer),
        tgt AS (SELECT * FROM base WHERE k % 2 = 0),
        final AS (
          SELECT k, CASE WHEN k % 6 = 0 AND cents > 0
                         THEN 2 * cents ELSE cents END AS cents
          FROM tgt WHERE NOT (k % 6 = 0 AND cents < 0)
          UNION ALL
          SELECT k, 2 * cents FROM base
          WHERE k % 3 = 0 AND k % 2 <> 0)
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST((SELECT COUNT(*) FROM tgt
                     WHERE k % 6 = 0 AND cents < 0) AS BIGINT)
                 AS n_cdf_deletes,
               CAST((SELECT COUNT(*) FROM tgt
                     WHERE k % 6 = 0 AND cents > 0) AS BIGINT)
                 AS n_cdf_updates,
               CAST((SELECT COUNT(*) FROM base
                     WHERE k % 3 = 0 AND k % 2 <> 0) AS BIGINT)
                 AS n_cdf_inserts
        FROM final
        """,
        tags=("parity", "delta", "io", "dml"),
        description="Full-clause MERGE: whenMatchedDelete (pre-update "
        "predicate, evaluated first) + conditional whenMatchedUpdate "
        "(stale-guard on __src_ values) + insert, with per-kind CDF "
        "image counts pinned for the commit.",
    ),
    QueryDef(
        "delta_native_metadata_count",
        delta_native_metadata_count,
        """
        WITH base AS (
          SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey < 5000)
        SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows_v1,
               CAST((SELECT COUNT(*) FROM base
                     WHERE k % 7 <> 0 AND k % 10 <> 0) AS BIGINT)
                 AS n_rows_final,
               CAST((SELECT COUNT(*) FROM base
                     WHERE k % 7 <> 0 AND k % 10 <> 0) AS BIGINT)
                 AS n_scan_final,
               CAST((SELECT COUNT(*) FROM base
                     WHERE k % 7 <> 0 AND k % 10 = 0) AS BIGINT)
                 AS dv_deleted_rows
        """,
        tags=("parity", "delta", "io"),
        description="Metadata-only COUNT(*): answered from add stats' "
        "numRecords minus DV cardinalities at the latest and a "
        "time-traveled version, zero data files opened; asserted "
        "in-flight against the real scan count.",
    ),
    QueryDef(
        "delta_native_replace_where",
        delta_native_replace_where,
        """
        WITH base AS (
          SELECT o_orderkey AS k,
                 CAST(o_custkey % 4 AS BIGINT) AS bucket,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        final AS (
          SELECT k, bucket, cents FROM base WHERE bucket <> 1
          UNION ALL
          SELECT k, bucket, 2 * cents AS cents FROM base
          WHERE bucket = 1 AND k % 2 = 0
          UNION ALL
          SELECT k, CAST(9 AS BIGINT) AS bucket, cents FROM base
          WHERE bucket = 2 AND k % 5 = 0)
        SELECT bucket, COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(1 AS BIGINT) AS n_refused
        FROM final GROUP BY bucket ORDER BY bucket
        """,
        tags=("parity", "delta", "io", "dml", "bench"),
        description="replaceWhere selective overwrite: arbitrary-"
        "predicate region swap in one atomic commit (partial files "
        "rewritten keeping remainder), out-of-region batches refused "
        "with nothing committed, empty-region replace degrades to a "
        "predicate-guarded insert.",
    ),
    QueryDef(
        "delta_native_check_constraints",
        delta_native_check_constraints,
        """
        WITH base AS (
          SELECT c_custkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer),
        final AS (
          SELECT * FROM base WHERE c_custkey % 2 = 0 AND cents >= 0
          UNION ALL
          SELECT * FROM base WHERE c_custkey % 2 = 1)
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(SUM(CASE WHEN cents < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_neg_rows,
               CAST(3 AS BIGINT) AS min_writer_version,
               CAST(1 AS BIGINT) AS n_refused_appends,
               CAST(1 AS BIGINT) AS n_refused_alters
        FROM final
        """,
        tags=("parity", "delta", "io", "ddl", "governance"),
        description="CHECK-constraint lifecycle: ADD CONSTRAINT "
        "validates the snapshot and bumps writer v3, violating appends "
        "and alters refuse atomically, DROP CONSTRAINT re-admits — "
        "final state, refusal counters, and protocol version pinned.",
    ),
    QueryDef(
        "delta_native_identity_columns",
        delta_native_identity_columns,
        """
        WITH n AS (SELECT COUNT(*) AS total FROM customer),
        cents AS (
          SELECT SUM(CASE WHEN c_custkey % 6 = 1
                          THEN 2 * CAST(round(c_acctbal * 100) AS BIGINT)
                          ELSE CAST(round(c_acctbal * 100) AS BIGINT) END)
                   AS sum_cents
          FROM customer)
        SELECT CAST(n.total AS BIGINT) AS n_rows,
               CAST(n.total AS BIGINT) AS n_distinct_ids,
               CAST(100 AS BIGINT) AS min_id,
               CAST(100 + 3 * (n.total - 1) AS BIGINT) AS max_id,
               CAST(n.total * 100 + 3 * ((n.total - 1) * n.total // 2)
                 AS BIGINT) AS sum_id,
               CAST(cents.sum_cents AS BIGINT) AS sum_cents
        FROM n, cents
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="Identity columns: engine-allocated surrogate keys "
        "across write/append/MERGE; id set pinned algebraically "
        "(series min/max/sum, uniqueness).",
    ),
    QueryDef(
        "delta_native_generated_columns",
        delta_native_generated_columns,
        """
        WITH base AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        upd AS (
          SELECT o_orderpriority,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN cents + 500
                      ELSE cents END AS cents
          FROM base),
        final AS (SELECT *, cents * 7 // 100 AS tax_cents FROM upd)
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(SUM(tax_cents) AS BIGINT) AS sum_tax_cents
        FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="Generated columns (writer feature): omitted on write "
        "and computed by the engine; UPDATE recomputes from the "
        "post-image.",
    ),
    QueryDef(
        "delta_native_deletion_vectors",
        delta_native_deletion_vectors,
        """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        survivors AS (
          SELECT * FROM base
          WHERE NOT (o_orderkey % 3 = 0)
            AND NOT (o_orderstatus = 'O' AND o_orderkey % 5 = 1))
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM survivors GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        tags=("parity", "delta", "io", "dml"),
        description="Merge-on-read DELETE via deletion vectors: descriptor "
        "commits (reader v3 table feature), no data file rewritten; the "
        "read re-applies DVs as a broadcast anti-join.",
    ),
    QueryDef(
        "delta_native_generated_partitions",
        delta_native_generated_partitions,
        """
        SELECT substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS order_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
          AND TIMESTAMP '1995-06-30 23:59:59'
        GROUP BY order_month ORDER BY order_month
        """,
        tags=("parity", "delta", "io", "layout"),
        description="Generated partition columns: a base-column range "
        "filter derives partition-value bounds through the monotone "
        "generation expression — hive pruning without naming the "
        "partition column.",
    ),
    QueryDef(
        "delta_native_auto_compact",
        delta_native_auto_compact,
        """
        SELECT s_nationkey, COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        tags=("parity", "delta", "io", "layout"),
        description="optimizeWrite (AQE REBALANCE pre-write) + "
        "autoCompact (post-commit small-file fold, dataChange=false): "
        "four fragmented writes leave ONE live file, rows unchanged.",
    ),
    QueryDef(
        "delta_native_column_defaults",
        delta_native_column_defaults,
        """
        WITH base AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                 CASE WHEN c_custkey % 3 = 1 THEN 'vip'
                      ELSE 'standard' END AS tier
          FROM customer)
        SELECT tier, COUNT(*) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(COUNT(*) * 100 AS BIGINT) AS sum_score
        FROM base GROUP BY tier ORDER BY tier
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="Column DEFAULT values (writer feature "
        "allowColumnDefaults): omitted columns fill at insert time, "
        "supplied values win — the contrast with generated columns.",
    ),
    QueryDef(
        "delta_native_log_compaction",
        delta_native_log_compaction,
        """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        survivors AS (
          SELECT * FROM base WHERE NOT (o_orderkey % 10 = 7))
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM survivors GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        tags=("parity", "delta", "io", "checkpoint"),
        description="Minor log compaction (<start>.<end>.compacted.json): "
        "the snapshot fold reads ONE reconciled tail file instead of "
        "walking the commit range; per-commit files stay for streaming.",
    ),
    QueryDef(
        "delta_native_reorg_purge",
        delta_native_reorg_purge,
        """
        WITH base AS (
          SELECT p_partkey, p_brand,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS cents
          FROM part),
        survivors AS (
          SELECT * FROM base
          WHERE NOT (p_partkey % 4 = 1)
            AND NOT (p_brand = 'Brand#23' AND p_partkey % 4 = 2))
        SELECT p_brand, COUNT(*) AS n_parts,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM survivors GROUP BY p_brand ORDER BY p_brand
        """,
        tags=("parity", "delta", "io", "dml"),
        description="REORG PURGE materializes deletion vectors away "
        "(dataChange=false rewrite of only descriptor-carrying files); "
        "DROP FEATURE + TRUNCATE HISTORY then downgrades the protocol "
        "to legacy reader v1.",
    ),
    QueryDef(
        "delta_native_cdf_capture",
        delta_native_cdf_capture,
        """
        WITH base AS (
          SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer),
        deleted AS (SELECT * FROM base WHERE c_custkey % 7 = 0),
        updated AS (SELECT * FROM base
                    WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0)
        SELECT CAST(1 AS BIGINT) AS _commit_version,
               'delete' AS _change_type,
               COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM deleted
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'update_postimage', COUNT(*),
               CAST(SUM(cents + 100) AS BIGINT)
        FROM updated
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'update_preimage', COUNT(*),
               CAST(SUM(cents) AS BIGINT)
        FROM updated
        ORDER BY _commit_version, _change_type
        """,
        tags=("parity", "delta", "io", "dml"),
        description="Change Data Feed: DML commits write _change_data "
        "files + cdc actions; the CDF read is O(changes).",
    ),
    QueryDef(
        "delta_native_merge_upsert",
        delta_native_merge_upsert,
        """
        WITH target AS (
          SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
          FROM customer WHERE c_custkey % 2 = 0),
        source AS (
          SELECT c_custkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) * 2 AS acct_cents
          FROM customer WHERE c_custkey % 3 = 0),
        merged AS (
          SELECT t.c_custkey,
                 CASE WHEN s.c_custkey IS NOT NULL THEN s.acct_cents
                      ELSE t.acct_cents END AS acct_cents
          FROM target t LEFT JOIN source s ON t.c_custkey = s.c_custkey
          UNION ALL
          SELECT s.c_custkey, s.acct_cents FROM source s
          WHERE NOT EXISTS (SELECT 1 FROM target t
                            WHERE t.c_custkey = s.c_custkey))
        SELECT c_custkey % 5 AS key_bucket, COUNT(*) AS n_rows,
               CAST(SUM(acct_cents) AS BIGINT) AS sum_cents
        FROM merged GROUP BY key_bucket ORDER BY key_bucket
        """,
        tags=("parity", "delta", "io", "dml"),
        description="MERGE upsert (matched update + unmatched insert) as one "
        "atomic copy-on-write commit on the native Delta log.",
    ),
    QueryDef(
        "delta_native_delete_update",
        delta_native_delete_update,
        """
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        after_del AS (SELECT * FROM base WHERE o_orderstatus <> 'F'),
        after_upd AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN cents + 500
                      ELSE cents END AS cents
          FROM after_del)
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM after_upd GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        tags=("parity", "delta", "io", "dml"),
        description="DELETE + UPDATE as copy-on-write commits rewriting only "
        "affected files; all versions stay time-travelable.",
    ),
    QueryDef(
        "delta_native_restore",
        delta_native_restore,
        """
        SELECT s_nationkey, COUNT(*) * 2 AS n_rows
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        tags=("parity", "delta", "io"),
        description="RESTORE TO VERSION as a pure-metadata MVCC commit "
        "(re-adds the old generation, keeps history).",
    ),
    QueryDef(
        "delta_native_merge_evolution",
        delta_native_merge_evolution,
        """
        WITH c AS (
          SELECT c_custkey AS k,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer),
        t AS (SELECT k, cents FROM c WHERE k % 2 = 0),
        s AS (
          SELECT k, cents * 2 AS cents,
                 CASE WHEN k % 2 = 0 THEN 'matched'
                      ELSE 'inserted' END AS tier
          FROM c WHERE k % 3 = 0),
        final AS (
          SELECT t.k, COALESCE(s.cents, t.cents) AS cents, s.tier
          FROM t LEFT JOIN s ON t.k = s.k
          UNION ALL
          SELECT k, cents, tier FROM s WHERE k % 2 <> 0)
        SELECT COALESCE(tier, 'legacy') AS tier,
               COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM final GROUP BY 1 ORDER BY 1
        """,
        tags=("parity", "delta", "io"),
        description="MERGE with schema evolution: source-only column "
        "evolves the table in the merge commit; matched rows take its "
        "values, pre-evolution rows read back null.",
    ),
    QueryDef(
        "delta_native_domain_metadata",
        delta_native_domain_metadata,
        """
        SELECT CAST(COUNT(*) + 6 AS BIGINT) AS n_rows,
               CAST(1 AS BIGINT) AS n_live_domains,
               CAST(1 AS BIGINT) AS pipeline_updated,
               CAST(1 AS BIGINT) AS owner_removed,
               CAST(1 AS BIGINT) AS v2_travel_ok,
               CAST(1 AS BIGINT) AS system_refused,
               CAST(1 AS BIGINT) AS absent_remove_refused
        FROM nation
        """,
        tags=("parity", "delta", "io"),
        description="domainMetadata lifecycle: set/update/tombstone, "
        "MVCC travel of domain state, checkpoint restatement after log "
        "cleanup, system-domain and absent-removal refusals.",
    ),
    QueryDef(
        "delta_native_vacuum",
        delta_native_vacuum,
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_live_rows,
               CAST(5 AS BIGINT) AS n_files_reclaimed,
               CAST(3 AS BIGINT) AS n_versions_in_log,
               CAST(1 AS BIGINT) AS v0_travel_fails
        FROM nation WHERE n_regionkey = 0
        """,
        tags=("parity", "delta", "io"),
        description="VACUUM: unreferenced data files reclaimed (5 of 6), "
        "current snapshot intact, expired time travel fails cleanly, "
        "log history preserved.",
    ),
    QueryDef(
        "delta_native_version_diff",
        delta_native_version_diff,
        """
        SELECT 'delete' AS change_type, COUNT(*) AS n_rows
        FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 2 != 0
        UNION ALL
        SELECT 'insert', COUNT(*)
        FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 3 != 0
        ORDER BY change_type
        """,
        tags=("parity", "delta", "io"),
        description="CDC version diff between two MVCC snapshots of the "
        "native Delta log.",
    ),
    QueryDef(
        "delta_native_v2_checkpoint_fold",
        delta_native_v2_checkpoint_fold,
        """
        WITH base AS (
          SELECT p_partkey AS k,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS cents
          FROM part),
        kept AS (SELECT k, cents FROM base WHERE k % 9 <> 0),
        extra AS (SELECT k + 1000000 AS k, cents FROM base WHERE k % 10 = 0),
        allr AS (SELECT * FROM kept UNION ALL SELECT * FROM extra)
        SELECT k % 7 AS bucket, COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM allr GROUP BY bucket ORDER BY bucket
        """,
        tags=("parity", "delta", "io", "checkpoint"),
        description="V2 checkpoint (UUID top + sidecars) as the only "
        "fold base after log cleanup, with DV state and a JSON tail on "
        "top; classic-absence and sidecar presence asserted in-query.",
    ),
    QueryDef(
        "delta_native_zorder_incremental",
        delta_native_zorder_incremental,
        """
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
                 AS n_orders_distinct
        FROM orders WHERE o_custkey BETWEEN 100 AND 500
        """,
        tags=("parity", "delta", "io", "layout", "zorder"),
        description="Incremental OPTIMIZE ZORDER via ZCube add.tags: "
        "appended files re-cluster, the existing cube stays in place, "
        "re-runs are zero-commit no-ops; invariants asserted in-query.",
    ),
    QueryDef(
        "delta_native_cluster_by",
        delta_native_cluster_by,
        """
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM orders WHERE o_custkey BETWEEN 100 AND 500
        """,
        tags=("parity", "delta", "io", "layout", "zorder", "bench"),
        description="Liquid-clustering-style CLUSTER BY: keys recorded "
        "as table metadata, OPTIMIZE incrementally clusters only "
        "unclustered files (appends stay cheap, re-runs no-op), footer "
        "stats skip on the clustered keys; lifecycle asserted in-query.",
    ),
    QueryDef(
        "delta_native_checkpoint_read",
        delta_native_checkpoint_read,
        """
        WITH doubled AS (SELECT * FROM nation UNION ALL SELECT * FROM nation)
        SELECT n_regionkey, COUNT(*) AS n_rows,
               CAST(SUM(n_nationkey) AS BIGINT) AS sum_nationkey
        FROM doubled GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        tags=("parity", "delta", "io"),
        description="Parquet checkpoint + _last_checkpoint: snapshot resolves "
        "from checkpoint plus JSON tail.",
    ),
    QueryDef(
        "delta_native_schema_evolution",
        delta_native_schema_evolution,
        """
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN c_custkey % 2 = 1 THEN 1 END) AS n_with_acctbal,
               CAST(SUM(CASE WHEN c_custkey % 2 = 1
                             THEN CAST(round(c_acctbal * 100) AS BIGINT) END)
                    AS BIGINT) AS sum_acctbal_cents
        FROM customer
        """,
        tags=("parity", "delta", "io"),
        description="mergeSchema append: metaData evolves, old files read "
        "with typed nulls.",
    ),
    QueryDef(
        "delta_native_optimize_compact",
        delta_native_optimize_compact,
        """
        SELECT s_nationkey, COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS sum_acctbal_cents
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        tags=("parity", "delta", "io", "bench"),
        description="OPTIMIZE compaction on the native log: dataChange=false "
        "rewrite, row-identical snapshot.",
    ),
    QueryDef(
        "delta_native_stats_skip",
        delta_native_stats_skip,
        """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_price_cents,
               MAX(l_quantity) AS max_qty
        FROM lineitem WHERE l_quantity >= 1 AND l_quantity <= 10
        """,
        tags=("parity", "delta", "io", "bench"),
        description="Delta footer-stats data skipping on a range-clustered "
        "write.",
    ),
    QueryDef(
        "delta_native_partition_prune",
        delta_native_partition_prune,
        """
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_total_cents,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
        FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        tags=("parity", "delta", "io"),
        description="Partitioned Delta write + log-fold partition pruning.",
    ),
    QueryDef(
        "delta_native_overwrite_append",
        delta_native_overwrite_append,
        """
        WITH doubled AS (SELECT * FROM nation UNION ALL SELECT * FROM nation)
        SELECT n_regionkey, COUNT(*) AS n_rows
        FROM doubled GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        tags=("parity", "delta", "io"),
        description="Protocol-level Delta log: overwrite + append commits, "
        "snapshot read equals both.",
    ),
    QueryDef(
        "delta_native_time_travel",
        delta_native_time_travel,
        """
        SELECT 0 AS version, COUNT(*) AS n_rows FROM customer
        UNION ALL
        SELECT 1, COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING'
        ORDER BY version
        """,
        tags=("parity", "delta", "io"),
        description="MVCC time travel on the self-written Delta log.",
    ),
    QueryDef(
        "delta_native_row_tracking",
        delta_native_row_tracking,
        """
        WITH b1 AS (
          SELECT o_orderkey, o_custkey,
                 ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
          FROM orders WHERE o_orderkey % 10 = 1),
        b2 AS (
          SELECT o_orderkey, o_custkey,
                 (SELECT COUNT(*) FROM b1)
                   + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
          FROM orders WHERE o_orderkey % 10 = 2),
        u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 100 = 1 THEN 0
                    ELSE o_custkey END AS o_custkey,
               CAST(row_id AS BIGINT) AS row_id
        FROM u
        WHERE o_orderkey % 100 <> 22
        ORDER BY o_orderkey
        """,
        tags=("parity", "delta", "io", "dml", "bench"),
        description="Row tracking: stable row ids survive CoW UPDATE, "
        "DELETE, and OPTIMIZE via materialized _row_id columns.",
    ),
    QueryDef(
        "delta_native_type_widening",
        delta_native_type_widening,
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="Type widening: int->bigint column evolution as one "
        "metaData commit; pre-widening files read back upcast.",
    ),
    QueryDef(
        "delta_native_optimize_where",
        delta_native_optimize_where,
        """
        SELECT CAST(s_suppkey % 4 AS BIGINT) AS part,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT))
                 AS BIGINT) AS sum_cents,
               CAST(CASE WHEN s_suppkey % 4 >= 2 THEN 1 ELSE 2 END
                 AS BIGINT) AS n_files,
               CAST(CASE WHEN s_suppkey % 4 < 2 THEN 1 ELSE 0 END
                 AS INT) AS untouched
        FROM supplier
        GROUP BY s_suppkey % 4
        ORDER BY part
        """,
        tags=("parity", "delta", "io", "layout"),
        description="Predicate-scoped OPTIMIZE (WHERE part >= 2): only "
        "in-scope partitions compact (2 files -> 1), out-of-scope add "
        "paths survive verbatim (asserted in-query), rows unchanged.",
    ),
    QueryDef(
        "delta_native_generate_manifest",
        delta_native_generate_manifest,
        """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys,
               CAST(SUM(length(n_name)) AS BIGINT) AS sum_name_len,
               CAST(2 AS BIGINT) AS n_symlinks
        FROM nation WHERE n_nationkey % 3 <> 2
        """,
        tags=("parity", "delta", "io", "interop"),
        description="GENERATE symlink_format_manifest: per-partition "
        "manifests of live-file URIs, consumed back as raw parquet "
        "(the Presto/Trino path); regenerate drops a DELETEd "
        "partition's manifest instead of resurrecting it.",
    ),
    QueryDef(
        "delta_native_describe_detail",
        delta_native_describe_detail,
        """
        SELECT 'parquet' AS format,
               CAST(1 AS BIGINT) AS n_partition_cols,
               'part' AS partition_cols,
               CAST(6 AS BIGINT) AS num_files,
               CAST(1 AS INT) AS has_bytes,
               'true' AS cdf_property,
               CAST(1 AS BIGINT) AS min_reader,
               CAST(3 AS BIGINT) AS min_writer,
               CAST(1 AS INT) AS has_constraint
        """,
        tags=("parity", "delta", "io", "ddl"),
        description="DESCRIBE DETAIL: physical/metadata snapshot summary "
        "(live file count + bytes from add actions, partitioning, "
        "properties, protocol) — pure log fold, deterministic layout "
        "asserted in-query.",
    ),
    QueryDef(
        "delta_native_vacuum_lite",
        delta_native_vacuum_lite,
        """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(length(r_name)) AS BIGINT) AS sum_name_len,
               CAST(2 AS BIGINT) AS n_lite_reclaimed,
               CAST(1 AS BIGINT) AS n_full_reclaimed,
               CAST(1 AS INT) AS orphan_survived_lite,
               CAST(0 AS INT) AS orphan_survived_full
        FROM region
        """,
        tags=("parity", "delta", "io"),
        description="VACUUM LITE (log-driven reclaim from remove "
        "actions — no storage listing): retired generation reclaimed "
        "exactly, a planted orphan survives LITE and falls to FULL — "
        "the documented fast-path/completeness trade.",
    ),
    QueryDef(
        "delta_native_vacuum_inventory",
        delta_native_vacuum_inventory,
        """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(length(r_name)) AS BIGINT) AS sum_name_len,
               CAST(3 AS BIGINT) AS n_reclaimed,
               CAST(1 AS INT) AS orphan_reclaimed,
               CAST(1 AS INT) AS outside_root_survived
        FROM region
        """,
        tags=("parity", "delta", "io", "bench"),
        description="VACUUM USING INVENTORY (delta-spark 3.1): "
        "candidates from a caller-supplied inventory table instead of "
        "a recursive listing — reclaims exactly what FULL would; "
        "outside-root rows ignored, stale rows no-ops, asserted "
        "in-query.",
    ),
    QueryDef(
        "delta_native_uniform_iceberg",
        delta_native_uniform_iceberg,
        """
        SELECT (COUNT(*) - 1) * 2 AS n_rows,
               CAST(SUM(CASE WHEN r_regionkey <> 0
                             THEN length(r_name) END) * 2 AS BIGINT)
                   AS sum_name_len,
               CAST(3 AS BIGINT) AS n_snapshots,
               CAST(3 AS BIGINT) AS n_iceberg_files,
               CAST(COUNT(*) * 2 AS BIGINT) AS iceberg_rows,
               CAST(1 AS BIGINT) AS n_delete_files,
               CAST(2 AS BIGINT) AS n_delete_rows,
               CAST((COUNT(*) - 1) * 2 AS BIGINT) AS iceberg_live_rows
        FROM region
        """,
        tags=("parity", "delta", "io", "interop", "bench"),
        description="UniForm: Iceberg v2 metadata emission over the "
        "Delta layout (hand-rolled Avro OCF manifests from the public "
        "specs) including deletion-vector conversion to position "
        "deletes; the Iceberg read path sees exactly the Delta live "
        "set, merge-on-read equals Delta's post-delete rows, snapshot "
        "lineage tracks commits — asserted in-query.",
    ),
    QueryDef(
        "delta_native_restore_timestamp",
        delta_native_restore_timestamp,
        """
        SELECT COUNT(*) * 2 AS n_rows,
               CAST(SUM(length(r_name)) * 2 AS BIGINT) AS sum_name_len,
               CAST(COUNT(*) * 3 AS BIGINT) AS pre_restore_rows
        FROM region
        """,
        tags=("parity", "delta", "io"),
        description="RESTORE TO TIMESTAMP through in-commit timestamps: "
        "at-or-before resolution picks the middle generation; the "
        "pre-restore state stays time-travelable history.",
    ),
    QueryDef(
        "versioned_merge_upsert",
        versioned_merge_upsert,
        """
        WITH src AS (
          SELECT c_custkey, c_mktsegment, c_acctbal + 1000 AS c_acctbal
          FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION ALL
          SELECT c_custkey + 1000000, 'NEWSEG', 0.0
          FROM customer WHERE c_custkey < 5),
        merged AS (
          SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
          FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.c_custkey = c.c_custkey)
          UNION ALL
          SELECT * FROM src),
        final AS (SELECT * FROM merged WHERE c_mktsegment <> 'MACHINERY')
        SELECT c_mktsegment, COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS sum_acctbal_cents
        FROM final GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        tags=("extension", "io", "delta", "dml"),
        description="MERGE upsert + DELETE on a native Delta table.",
    ),
    QueryDef(
        "versioned_snapshot_counts",
        versioned_snapshot_counts,
        """
        SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows FROM customer
        UNION ALL
        SELECT CAST(1 AS BIGINT),
               COUNT(*) + (SELECT COUNT(*) FROM customer
                           WHERE c_mktsegment = 'BUILDING')
        FROM customer
        ORDER BY version
        """,
        tags=("extension", "io", "delta", "timetravel"),
        description="Snapshot isolation: per-version counts via time travel.",
    ),
    QueryDef(
        "versioned_incremental_agg",
        versioned_incremental_agg,
        """
        WITH final AS (
          SELECT c_custkey, c_mktsegment,
                 CASE WHEN c_mktsegment = 'BUILDING'
                      THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal
          FROM customer
          UNION ALL
          SELECT c_custkey + 1000000, 'NEWSEG', 0.0
          FROM customer WHERE c_custkey < 5)
        SELECT c_mktsegment, COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS sum_acctbal_cents
        FROM final GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        tags=("extension", "io", "delta", "dml", "cdc"),
        description="Incremental view maintenance: CDC deltas applied as "
        "signed contributions to a materialized summary.",
    ),
    QueryDef(
        "versioned_changes",
        versioned_changes,
        """
        WITH src AS (
          SELECT c_custkey, c_mktsegment, c_acctbal + 1000 AS c_acctbal
          FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION ALL
          SELECT c_custkey + 1000000, 'NEWSEG', 0.0
          FROM customer WHERE c_custkey < 5),
        n_upd AS (SELECT COUNT(*) AS u FROM customer
                  WHERE c_mktsegment = 'BUILDING'),
        n_ins AS (SELECT COUNT(*) AS i FROM customer WHERE c_custkey < 5),
        n_all AS (SELECT COUNT(*) AS t FROM customer)
        SELECT 'added' AS change_type, CAST(u + i AS BIGINT) AS n_rows
          FROM n_upd, n_ins
        UNION ALL
        SELECT 'removed', CAST(u AS BIGINT) FROM n_upd
        UNION ALL
        SELECT 'unchanged', CAST(t - u AS BIGINT) FROM n_all, n_upd
        ORDER BY change_type
        """,
        tags=("extension", "io", "delta", "dml", "cdc"),
        description="CDC: row-level snapshot diff (table_changes analogue).",
    ),
]
