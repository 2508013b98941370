"""The ORD document store as a first-class Spark 4 Python Data
Source (``spark.read.format("ord")``).

This is the reference's crawl/ingest loop re-expressed as a custom
connector: one input partition PER CAPTURE FILE — the same unit the
reference parallelizes over with its 3 browser workers
(web_scrpaer_2.py:308-327) — so a 1000-file corpus fans out across
1000 tasks with no driver-side parsing. Each task streams one file's
reaction records as flat arity rows (the bronze view
``ord_scan_documents`` computes relationally); a malformed file
yields zero rows, the PERMISSIVE posture of the reference's
try/except guard (web_scrpaer_2.py:451-456).

The DataFrame path (``sources/ord.py``) stays the production
ingestion — JVM JSON parsing, full nested schema. This connector is
the API-surface counterpart: it shows how a source Spark has no
reader for (a live crawl queue, a proprietary archive) plugs into
the planner with partition-level parallelism, while returning rows
value-checked against the same DuckDB oracle as the relational scan.
"""

from __future__ import annotations

import base64
import glob
import json
from collections.abc import Callable, Iterator, Sequence
from typing import Any

from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)

ORD_FLAT_SCHEMA = ("dataset_id string, total_reactions_scraped bigint, "
                   "reaction_pos int, reaction_id string, success boolean, "
                   "n_input_tabs int, n_outcomes int")


class OrdFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


# columns the reader can filter natively (single-part attributes)
_PUSHABLE = {("dataset_id",), ("success",), ("reaction_id",)}


class OrdDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ord source requires a 'path' option (glob)")
        self.pushed: list[EqualTo] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Native filter pushdown (Spark 4.1 connector API): EqualTo
        on the pushable columns is evaluated inside :meth:`read`
        while streaming each file — rows that fail never cross the
        Python→JVM Arrow boundary, the connector analog of parquet
        row-group pruning. Everything else is yielded back for Spark
        to evaluate post-scan (the contract: returned filters must
        be the input objects by reference)."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in _PUSHABLE:
                self.pushed.append(f)
            else:
                yield f

    def _row_passes(self, row: tuple) -> bool:
        cols = {("dataset_id",): 0, ("reaction_id",): 3, ("success",): 4}
        return all(row[cols[f.attribute]] == f.value for f in self.pushed)

    def partitions(self) -> Sequence[OrdFilePartition]:
        # One partition per capture file — the reference's
        # per-dataset-worker parallel unit. The glob expands on the
        # driver (metadata only); file CONTENT is read in executors.
        files = sorted(glob.glob(self.path))
        if not files:
            raise ValueError(f"ord source matched no files: {self.path}")
        return [OrdFilePartition(p) for p in files]

    def read(self, partition: OrdFilePartition) -> Iterator[tuple]:
        try:
            with open(partition.path, encoding="utf-8") as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            return  # PERMISSIVE: malformed file -> zero rows
        if not isinstance(doc, dict):
            return
        for ds in doc.values():
            if not isinstance(ds, dict):
                continue
            dataset_id = ds.get("dataset_id")
            total = ds.get("total_reactions_scraped")
            reactions = ds.get("reactions") or []
            if not reactions:
                # posexplode_outer parity: empty dataset keeps one
                # all-NULL placeholder row
                row = (dataset_id, total, None, None, None, None, 0)
                if self._row_passes(row):
                    yield row
                continue
            for pos, r in enumerate(reactions):
                r = r if isinstance(r, dict) else {}
                tabs = r.get("inputsMap")
                row = (dataset_id, total, pos, r.get("reaction_id"),
                       r.get("success"),
                       len(tabs) if tabs is not None else None,
                       len(r.get("outcomes") or []))
                if self._row_passes(row):
                    yield row


class OrdDataSource(DataSource):
    """``spark.read.format("ord").option("path", glob)``."""

    @classmethod
    def name(cls) -> str:
        return "ord"

    def schema(self) -> str:
        return ORD_FLAT_SCHEMA

    def reader(self, schema) -> OrdDataSourceReader:
        return OrdDataSourceReader(self.options)


# ---------------------------------------------------------------------------
# Streaming flavor: the capture files as a micro-batch source


class OrdStreamReader(SimpleDataSourceStreamReader):
    """Streaming ORD source: each capture file is an atomic arrival
    unit — the batch analog of the reference finishing one dataset
    crawl and flushing its JSON.

    Offsets are the SET of processed basenames, not a lexicographic
    high-watermark (the round-7 form): a watermark silently DROPS any
    late arrival whose name sorts below it — a slow writer finishing
    ``cap-001`` after ``cap-002`` was read would never be ingested,
    data loss the round-8 advice flagged. With the seen-set, ``read``
    re-globs every micro-batch and takes exactly glob∖seen, so
    arrival ORDER is irrelevant; ``readBetweenOffsets`` replays
    exactly ``end.seen ∖ start.seen`` — stable under corpus growth
    and arrival reordering, which neither a positional index nor a
    watermark is. The offset grows with the retention window's file
    count (names only — ~40 B each): each data-bearing batch emits
    the current glob's names plus any previously-seen name whose
    deletion os.path.exists can't confirm, so a retention-pruned
    file's name leaves the next offset rather than accumulating
    forever while a transient listing gap never evicts a processed
    name into double-delivery (a quiet tick leaves the offset
    unchanged; pruning lands when new data next arrives). Replay
    assumes files are immutable once written
    and not deleted mid-retention — the standard capture-directory
    contract; writers should stage via tmp+rename so a name never
    appears before its content is complete."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ord_stream source requires a 'path' option")

    def initialOffset(self) -> dict:
        return {"seen": []}

    def _norm(self, off: dict) -> set[str]:
        """Seen-set of an offset; legacy round-7 watermark offsets
        (``{"last_file": x}``, e.g. a checkpoint taken before the
        upgrade) convert by materializing the names the watermark
        semantics had considered processed."""
        import os
        if "seen" in off:
            return set(off["seen"])
        last = off.get("last_file", "")
        return {os.path.basename(p) for p in glob.glob(self.path)
                if os.path.basename(p) <= last}

    def _rows_for(self, paths: list[str]) -> Iterator[tuple]:
        reader = OrdDataSourceReader({"path": self.path})
        for path in paths:
            yield from reader.read(OrdFilePartition(path))

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        import os
        seen = self._norm(start)
        live = sorted(glob.glob(self.path))
        paths = [p for p in live if os.path.basename(p) not in seen]
        if not paths:  # quiet tick: offset unchanged (canonical form)
            return [], {"seen": sorted(seen)}
        # materialized list, not a generator: the simple-reader
        # framework CACHES and PICKLES the returned iterator for
        # replay (generators can't pickle). The simple API ships all
        # rows through the driver by design — right for control-rate
        # sources like this one; a high-volume source graduates to
        # the full DataSourceStreamReader with executor partitions.
        #
        # The emitted seen-set intersects with the CURRENT glob
        # (round-8 advice): a retention-pruned file's name now leaves
        # the next offset instead of accumulating forever, so the
        # offset tracks the retention window's file count, not the
        # all-time count. Safe under the immutable/no-reappear
        # contract because replay only ever reads end.seen ∖
        # start.seen — a name absent from both sets replays as
        # nothing, exactly like its pruned content.
        #
        # Round-9 advice hardening: a seen name missing from one
        # glob listing is only dropped after os.path.exists CONFIRMS
        # the deletion — a transient listing gap (NFS/glob hiccup)
        # must not evict a processed name, or its rows double-deliver
        # when it reappears. Names whose directory can't be derived
        # (glob magic above the basename) are retained — unbounded
        # growth is the safe failure, double-delivery is not.
        # Round-10 advice: confirm deletion with os.stat, evicting
        # ONLY on a clean FileNotFoundError — os.path.exists also
        # returns False on transient stat failures (EACCES, an NFS
        # flap), the very hiccup class this guard exists for, and
        # evicting on one would double-deliver the file's rows when
        # it reappears. Any other OSError keeps the name (unbounded
        # growth is the stated safe failure).
        live_names = {os.path.basename(p) for p in live}
        base = os.path.dirname(self.path)
        has_magic = any(c in base for c in "*?[")
        kept = set()
        for name in seen - live_names:
            if has_magic:
                kept.add(name)  # unverifiable: keep
                continue
            try:
                os.stat(os.path.join(base, name))
                kept.add(name)  # still present: keep
            except FileNotFoundError:
                pass            # confirmed deleted: evict
            except OSError:
                kept.add(name)  # transient stat failure: keep
        return (list(self._rows_for(paths)),
                {"seen": sorted(live_names | kept)})

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        import os
        batch = self._norm(end) - self._norm(start)
        return list(self._rows_for(
            [p for p in sorted(glob.glob(self.path))
             if os.path.basename(p) in batch]))

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to clean up


class OrdStreamDataSource(DataSource):
    """``spark.readStream.format("ord_stream").option("path", glob)``."""

    @classmethod
    def name(cls) -> str:
        return "ord_stream"

    def schema(self) -> str:
        return ORD_FLAT_SCHEMA

    def simpleStreamReader(self, schema) -> OrdStreamReader:
        return OrdStreamReader(self.options)


# ---------------------------------------------------------------------------
# Sink flavor: transactional JSONL writer (write/commit/abort)


class OrdShardCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str | None, n_rows: int):
        self.tmp_path = tmp_path
        self.n_rows = n_rows


_NUMERIC = (BooleanType, ByteType, ShortType, IntegerType, LongType,
            FloatType, DoubleType)


def _masked(arr, values: list) -> list:
    """``values`` with None where ``arr`` is null."""
    if not arr.null_count:
        return values
    valid = arr.is_valid().to_numpy(zero_copy_only=False).tolist()
    return [v if ok else None for v, ok in zip(values, valid)]


def _segments(arr) -> tuple:
    """A list or map array's own slice of its child values, and its
    offsets rebased onto that slice."""
    if not len(arr):  # Spark sends an empty one with no offsets buffer
        return arr.values.slice(0, 0), [0]
    off = arr.offsets.to_numpy()
    return (arr.values.slice(off[0], off[-1] - off[0]),
            (off - off[0]).tolist())


def _dicts(names: list[str], convs: list, arrays: list, n: int) -> list:
    """One dict per row of ``n``, from the arrays of a batch's columns
    or a struct's fields and their ``_values`` functions."""
    cols = [c(a) for c, a in zip(convs, arrays)]
    if not cols:
        return [{} for _ in range(n)]
    return [dict(zip(names, v)) for v in zip(*cols)]


def _values(dt: DataType) -> Callable[[Any], list]:
    """The function from an Arrow array of Spark type ``dt`` to the
    Python values ``Row.asDict(recursive=True)`` holds for it: structs
    become dicts keyed by field name (a repeated name keeps its last
    value, as in ``asDict``), maps become dicts. Nested arrays are
    converted a child column at a time (values, offsets, validity),
    Dremel-style, not one ``as_py`` scalar at a time as ``to_pylist``
    does, which is ~3x slower on the renested ORD documents. Binary
    becomes base64 text, as Spark's JSON writer renders it, not the
    ``bytes`` repr no JSON reader decodes. Other leaves (timestamps,
    decimals, dates, UDTs) go through ``to_pylist`` and pyspark's own
    Arrow-to-Row converter, so they render as they did on the row
    path."""
    if isinstance(dt, StructType):
        names, convs = dt.names, [_values(f.dataType) for f in dt.fields]
        return lambda arr: _masked(
            arr, _dicts(names, convs, arr.flatten(), len(arr)))
    if isinstance(dt, ArrayType):
        conv = _values(dt.elementType)

        def array(arr) -> list:
            values, off = _segments(arr)
            items = conv(values)
            return _masked(arr, [items[a:b] for a, b in zip(off, off[1:])])
        return array
    if isinstance(dt, MapType):
        convs = (_values(dt.keyType), _values(dt.valueType))

        def map_(arr) -> list:
            entries, off = _segments(arr)
            keys, items = (c(a) for c, a in zip(convs, entries.flatten()))
            return _masked(arr, [dict(zip(keys[a:b], items[a:b]))
                                 for a, b in zip(off, off[1:])])
        return map_
    if isinstance(dt, _NUMERIC):
        import pyarrow as pa
        import pyarrow.compute as pc

        # numpy has no null: fill, convert, then mask
        return lambda arr: _masked(arr, pc.fill_null(
            arr, pa.scalar(False).cast(arr.type))
            .to_numpy(zero_copy_only=False).tolist())
    if isinstance(dt, StringType):
        return lambda arr: arr.to_numpy(zero_copy_only=False).tolist()
    if isinstance(dt, BinaryType):
        return lambda arr: [None if v is None
                            else base64.b64encode(v).decode("ascii")
                            for v in arr.to_pylist()]
    leaf = ArrowTableToRowsConversion._create_converter(
        dt, none_on_identity=True, binary_as_bytes=True)
    if leaf is None:
        return lambda arr: arr.to_pylist()
    return lambda arr: [leaf(v) for v in arr.to_pylist()]


class OrdSinkWriter(DataSourceArrowWriter):
    """Transactional JSONL sink: each task streams its partition to
    a TEMP shard and reports it in a commit message; only the driver
    ``commit`` renames shards to their final names and writes the
    ``_MANIFEST.json`` that makes them visible — readers who honor
    the manifest never observe a partially-failed job (the same
    atomicity contract a FileOutputCommitter gives parquet, rebuilt
    at the connector level; ``abort`` deletes the temp shards).
    This is the reference's document-store flush
    (web_scrpaer_2.py:545-548) upgraded from write-in-place to
    all-or-nothing.

    Multi-commit semantics: final shard names carry a per-job UUID,
    so a second ``save()`` to the same directory never clobbers a
    prior commit's shards; in append mode the new manifest is the
    union of the old one and this job's shards, in overwrite mode it
    lists only this job's shards and the superseded files are
    deleted AFTER the new manifest is live. The manifest itself is
    written tmp-file + ``os.replace`` (atomic on POSIX), so a crash
    mid-commit leaves the PREVIOUS manifest fully intact — renamed
    orphan shards may exist but are invisible to any reader that
    honors the manifest, preserving the all-or-nothing claim."""

    def __init__(self, options: dict, overwrite: bool = True,
                 schema: StructType | None = None):
        # schema: the frame's, which write() needs; commit and abort
        # run without it
        self.path = options.get("path")
        self.overwrite = overwrite
        self.schema = schema
        if not self.path:
            raise ValueError("ord_sink requires a 'path' option")

    def write(self, iterator) -> OrdShardCommit:
        """Each row of each Arrow batch becomes one JSON object line,
        nested structs keeping their field names."""
        import os
        import uuid
        names = self.schema.names
        convs = [_values(f.dataType) for f in self.schema.fields]
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for batch in iterator:
                rows = _dicts(names, convs, batch.columns, batch.num_rows)
                f.writelines(json.dumps(r, sort_keys=True, default=str)
                             + "\n" for r in rows)
                n += len(rows)
        if n == 0:  # no empty shards: drop the file, commit nothing
            os.remove(tmp)
            return OrdShardCommit(None, 0)
        return OrdShardCommit(tmp, n)

    # Commit-lock acquisition budget. Manifest rewrite + shard GC is
    # milliseconds of work, so a minute of contention means a peer
    # crashed INSIDE its critical section (post-acquire crashes leave
    # the lock behind). Stale locks are taken over ONLY when the
    # owner is provably dead (kill-0) or its identity is unknowable
    # AND the lock has outlived the budget; a PROBEABLY-LIVE owner is
    # never age-broken — however long it holds, waiters fail loudly
    # at their own deadline instead (round-9 advice: age-breaking a
    # live-but-paused holder re-creates the lost-update the lock
    # exists to prevent).
    _LOCK_TIMEOUT_S = 60.0

    def _try_break_stale_lock(self, lock: str) -> bool:
        """Remove `lock` iff its owner is provably dead, or the owner
        is unknowable (empty/garbled/foreign lock — liveness can't be
        probed) and the lock has outlived _LOCK_TIMEOUT_S (round-8
        advice: a committer SIGKILLed inside the critical section
        used to wedge every later commit until a human deleted the
        file). A PID that probes ALIVE is never broken, regardless of
        age — a live committer paused past the budget (GC, OS stall)
        must not lose its lock mid-critical-section (round-9 advice).
        The lock carries its owner's PID; liveness is a kill-0 probe
        (this is a local-filesystem sink, so owner and breaker share
        a host). Breaking renames to a unique name first so
        concurrent breakers race on the rename — exactly one wins —
        re-stats the inode before renaming so a lock that just
        changed hands is left alone, and re-stats AFTER the rename:
        if the renamed inode is not the one judged stale (the
        stat→rename TOCTOU lost — the stale lock was released and a
        fresh one acquired in the window), the fresh lock is restored
        via os.link; a restore collision raises loudly rather than
        leaving two committers both believing they hold the lock.
        Returns True if the caller should retry acquisition
        immediately."""
        import os
        import time
        try:
            st = os.stat(lock)
        except FileNotFoundError:
            return True  # released while we looked
        pid = None
        try:
            with open(lock, encoding="utf-8") as f:
                pid = int(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            pid = None  # empty/garbled lock: fall back to age alone
        if pid is None:
            # unknown owner (e.g. acquired but PID not yet written,
            # or a foreign tool's lock): trust it until it outlives
            # the budget — age is the only signal available
            stale = time.time() - st.st_mtime > self._LOCK_TIMEOUT_S
        else:
            try:
                os.kill(pid, 0)
                stale = False  # live owner: NEVER age-broken
            except ProcessLookupError:
                stale = True  # provably dead: crashed post-acquire
            except PermissionError:
                stale = False  # exists, other uid: live
        if not stale:
            return False
        grab = f"{lock}.stale-{os.getpid()}-{time.time_ns()}"
        try:
            now = os.stat(lock)
            if (now.st_ino, now.st_mtime_ns) != \
                    (st.st_ino, st.st_mtime_ns):
                return False  # changed hands since we judged it
            os.replace(lock, grab)
        except FileNotFoundError:
            return True  # another breaker (or the owner) got there first
        # post-rename verification: the replace acted on the PATH, so
        # a release+reacquire between the re-stat and the rename
        # would have grabbed the NEW owner's lock. Confirm the inode
        # we renamed is the one we judged stale; if not, put it back.
        got = os.stat(grab)
        if (got.st_ino, got.st_mtime_ns) == (st.st_ino, st.st_mtime_ns):
            os.remove(grab)
            return True
        try:
            os.link(grab, lock)  # fails iff a third party re-created it
            os.remove(grab)
            return False  # victim restored; treat as live contention
        except FileExistsError:
            # a third committer acquired while the victim's lock was
            # renamed away: mutual exclusion is compromised — fail
            # loudly instead of proceeding. The grab file is LEFT ON
            # DISK deliberately (round-10 advice): it is the
            # displaced live owner's lock record — deleting it would
            # erase the victim's identity, and the victim's eventual
            # release would then remove the THIRD party's lock file,
            # extending the violation past this raise. Its path in
            # the error keeps the displacement inspectable.
            raise RuntimeError(
                f"ord_sink: lock takeover raced a live acquisition on "
                f"{lock}; a concurrently-acquired lock was displaced "
                f"and could not be restored — the displaced owner's "
                f"lock record is preserved at {grab} for manual "
                "inspection") from None

    def commit(self, messages) -> None:
        import os
        import time
        import uuid
        job = uuid.uuid4().hex[:12]
        shards, total = [], 0
        for i, m in enumerate(m for m in messages
                              if m is not None and m.tmp_path):
            final = os.path.join(self.path, f"part-{job}-{i:05d}.jsonl")
            os.replace(m.tmp_path, final)
            shards.append(os.path.basename(final))
            total += m.n_rows
        mpath = os.path.join(self.path, "_MANIFEST.json")
        # The manifest update is a read-modify-write: two concurrent
        # appends without mutual exclusion would both read the old
        # manifest and the last os.replace would silently drop the
        # other job's shards (round-8 advice). Serialize commits with
        # an O_EXCL lock file — shard renames above stay outside the
        # critical section (per-job-UUID names can't clobber).
        lock = os.path.join(self.path, "_MANIFEST.lock")
        deadline = time.monotonic() + self._LOCK_TIMEOUT_S
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL
                             | os.O_WRONLY)
                # owner identity for the staleness probe: PID + wall
                # time (the breaker also has the file's mtime)
                os.write(fd, f"{os.getpid()} {time.time()}".encode())
                # inode of OUR lock file, for release-time identity
                # verification (round-10 advice): if a breaker ever
                # displaces this lock and a third party re-creates
                # the path, a blind os.remove at release would
                # delete the THIRD PARTY's lock — verify before
                # removing.
                lock_ino = os.fstat(fd).st_ino
                os.close(fd)
                break
            except FileExistsError:
                if self._try_break_stale_lock(lock):
                    # stale lock cleared: restart the budget — the
                    # takeover is progress, not contention
                    deadline = time.monotonic() + self._LOCK_TIMEOUT_S
                    continue
                if time.monotonic() > deadline:
                    raise RuntimeError(
                        f"ord_sink: could not acquire {lock} within "
                        f"{self._LOCK_TIMEOUT_S:.0f}s — live "
                        "committers are holding or cycling it "
                        "(commits should take milliseconds)") from None
                time.sleep(0.05)
        try:
            old = {"shards": [], "total_rows": 0}
            if os.path.exists(mpath):
                try:
                    with open(mpath, encoding="utf-8") as f:
                        old = json.load(f)
                except (OSError, json.JSONDecodeError):
                    pass  # unreadable prior manifest: treat as empty
            if not self.overwrite:
                shards = old.get("shards", []) + shards
                total += old.get("total_rows", 0)
            manifest = {"shards": shards, "total_rows": total}
            tmp = mpath + f".tmp-{job}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f, sort_keys=True)
            os.replace(tmp, mpath)  # atomic: readers see old XOR new
            if self.overwrite:
                # superseded shards are deleted only after the new
                # manifest is live; a crash in this loop leaves
                # invisible garbage, never a broken table.
                for name in old.get("shards", []):
                    if name not in shards:
                        try:
                            os.remove(os.path.join(self.path, name))
                        except OSError:
                            pass
        finally:
            # release ONLY the lock we own: if the path's inode is no
            # longer ours, our lock was displaced and someone else's
            # lock now lives there — removing it would extend the
            # mutual-exclusion violation past the breaker's loud
            # raise (round-10 advice). Leave the foreign file for
            # the displacement inspection instead.
            try:
                if os.stat(lock).st_ino == lock_ino:
                    os.remove(lock)
            except FileNotFoundError:
                pass  # already broken/removed: nothing we own remains
            except OSError:
                # A transient stat/remove failure (EACCES, NFS flap —
                # the same class OrdStreamReader's offset path guards)
                # must not raise from this finally: it would mask the
                # commit's real exception and skip release outright.
                # Retry once after a beat; if the lock still can't be
                # released, leave it for the staleness breaker (the
                # next committer breaks locks older than the TTL)
                # rather than raising.
                try:
                    time.sleep(0.05)
                    if os.stat(lock).st_ino == lock_ino:
                        os.remove(lock)
                except OSError:
                    pass

    def abort(self, messages) -> None:
        import os
        for m in messages:
            if m is not None and m.tmp_path and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class OrdSinkDataSource(DataSource):
    """``df.write.format("ord_sink").option("path", dir).save()``.
    ``mode("append")`` unions the manifest; any other mode replaces
    it (and garbage-collects the superseded shards post-commit)."""

    @classmethod
    def name(cls) -> str:
        return "ord_sink"

    def writer(self, schema, overwrite: bool) -> OrdSinkWriter:
        return OrdSinkWriter(self.options, overwrite, schema)
