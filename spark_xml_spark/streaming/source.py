"""Streaming XML source/sink built on the Spark 4 Python DataSource
streaming API.

Reader: a file-tailing source (the shape of Spark's own FileStreamSource).
Offsets are the set of files already delivered, as a
``{"files": {path: size}}`` dict; each microbatch plans byte-range splits
for newly appeared files only and reads them through the batch reader's
``read_partition`` — same split packing, same tokenizer windows and
columnar tier, same Arrow output. This is the full
``DataSourceStreamReader`` (executor-side reads) — not the driver-side
Simple variant — so batch size is bounded by split planning, not driver
throughput.

Writer: one complete XML document per partition per microbatch, named
with the batch id; ``abort`` removes that batch's files (best-effort
rollback, matching the batch writer's semantics).
"""

from __future__ import annotations

import dataclasses
import logging
import os
from dataclasses import dataclass
from typing import Iterator, List, Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

from spark_xml_spark.options import XmlOptions, get_option
from spark_xml_spark.sources import datasource as ds
from spark_xml_spark.xmlcore import tokenizer

_LOG = logging.getLogger(__name__)


class XmlStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._opts_dict = dict(options)
        self._schema = schema
        self._path = options.get("path") or options.get("location")
        if not self._path:
            raise ValueError("path option is required for the xml stream source")
        ds._arrow_schema(schema)  # an unmappable column type fails planning
        mf = get_option(options, "maxFilesPerTrigger")
        mb = get_option(options, "maxBytesPerTrigger")
        self._max_files = int(mf) if mf is not None else None
        self._max_bytes = int(mb) if mb is not None else None
        if self._max_files is not None and self._max_files <= 0:
            raise ValueError("maxFilesPerTrigger must be a positive integer")
        if self._max_bytes is not None and self._max_bytes <= 0:
            raise ValueError("maxBytesPerTrigger must be a positive integer")
        self._cursor_path = get_option(options, "admissionCursorPath")
        self._legacy_cursor_paths: List[str] = []
        if self._cursor_path is None and (
            self._max_files is not None or self._max_bytes is not None
        ):
            # Auto-derive the restart cursor from a ``checkpointLocation``
            # READER option (pass the sink's checkpoint dir to readStream
            # too): the cursor then lives and dies with the engine's WAL,
            # and a capped query gets a capped batch 0 on a fresh backlog
            # start with no explicit cursor option. Local paths only —
            # the cursor file is written with plain open()/os.replace.
            ckpt = get_option(options, "checkpointLocation")
            if ckpt and "://" not in ckpt:
                # Namespace the cursor PER SOURCE: a query that unions two
                # capped xml-graft readers hands both the same reader
                # checkpointLocation, and a shared fixed filename would
                # make each overwrite the other's admitted position
                # (capped-restart replay could then skip or re-admit
                # files). Key on the canonical data path + EVERY option
                # that shapes what the snapshot/admission sees — the
                # listing filters (pathGlobFilter/recursiveFileLookup)
                # and the admission order (latestFirst) as much as the
                # caps themselves (ADVICE r10: two capped readers over
                # the same dir differing only in glob must not clobber
                # each other's admitted position) — so co-located
                # readers get distinct cursor files, while the same
                # reader re-derives the same name across restarts.
                import hashlib

                gf, rl = ds._listing_opts(self._opts_dict)
                ident = "|".join(
                    str(x)
                    for x in (
                        os.path.abspath(self._path),
                        self._max_files,
                        self._max_bytes,
                        gf,
                        rl,
                        str(
                            get_option(self._opts_dict, "latestFirst")
                            or "false"
                        ).lower(),
                    )
                )
                tag = hashlib.sha256(ident.encode()).hexdigest()[:16]
                self._cursor_path = os.path.join(
                    ckpt, f"xml_graft_admission_cursor-{tag}.json"
                )
                # earlier cursor-name eras must keep their admitted
                # position across the naming upgrades (ADVICE r11):
                # r10 hashed only (path, caps) without the listing/order
                # options now in ident; before that the name was the
                # fixed un-tagged file. _cursor_load probes these in
                # order on a miss and migrates the first hit forward.
                legacy = "|".join(
                    str(x)
                    for x in (
                        os.path.abspath(self._path),
                        self._max_files,
                        self._max_bytes,
                    )
                )
                ltag = hashlib.sha256(legacy.encode()).hexdigest()[:16]
                self._legacy_cursor_paths = [
                    os.path.join(
                        ckpt, f"xml_graft_admission_cursor-{ltag}.json"
                    ),
                    os.path.join(ckpt, "xml_graft_admission_cursor.json"),
                ]
                try:
                    os.makedirs(ckpt, exist_ok=True)
                except OSError:
                    # unreachable dir: fail later, loudly, in _cursor_save
                    pass
        # latestFirst (FileStreamSource parity in spirit): admit PENDING
        # files newest-path-first when capped — for catch-up scenarios
        # where fresh data matters more than the backlog tail. Path order
        # stands in for mtime order (deterministic, no extra stat calls;
        # date-partitioned and part-numbered layouts sort chronologically).
        self._latest_first = str(
            get_option(options, "latestFirst") or "false"
        ).lower() == "true"
        # Admission-control state (driver-side instance, one per query run).
        # Three pieces, kept separate because they answer different safety
        # questions — see latestOffset for the full protocol:
        #   _known: files never to admit again (delivered OR already admitted
        #           in a returned offset). The admission blocklist.
        #   _planned: files in some engine-planned batch (partitions start/
        #           end, commit end) — these are WAL-durable engine state and
        #           the only thing safe to persist as a restart cursor
        #           (persisting bare admissions could lose a file the engine
        #           never planned before a crash).
        #   _base: the engine's current position — every offset this source
        #           returns must be a superset of it, or files the engine
        #           considers delivered would re-enter a later end-minus-
        #           start diff and be ingested twice.
        self._known: Optional[dict] = None
        self._planned: dict = {}
        self._base: Optional[dict] = None

    @staticmethod
    def _merge(into: dict, offset: Optional[dict]) -> None:
        for f, sz in ((offset or {}).get("files") or {}).items():
            into.setdefault(f, sz)

    def _learn_planned(self, offset: Optional[dict]) -> None:
        if self._known is None:
            self._known = {}
        self._merge(self._known, offset)
        self._merge(self._planned, offset)

    def _cursor_load(self) -> Optional[dict]:
        if not self._cursor_path:
            return None
        import json

        probes = [(self._cursor_path, True)]
        for i, lp in enumerate(self._legacy_cursor_paths):
            # the hashed legacy name (i == 0) encodes path+caps, so it
            # can only belong to this stream; the oldest FIXED name
            # carries no identity — a recycled checkpoint dir could
            # hold a different stream's cursor, and adopting it would
            # mark never-ingested files as admitted (silent data loss).
            # It is adopted only if every recorded file lies under this
            # stream's source path.
            probes.append((lp, i == 0))
        src_root = os.path.abspath(self._path) + os.sep
        for path, trusted in probes:
            if not path:
                continue
            try:
                with open(path) as fh:
                    files = json.load(fh).get("files", {})
                cur = {str(f): int(sz) for f, sz in files.items()}
            except (OSError, ValueError):
                continue
            if not trusted and (
                # the identity-less fixed name must carry at least one
                # file provably under THIS stream's source root; an
                # empty map passes all() vacuously and would bake a
                # foreign stream's cursor file into this stream's
                # identity path
                not cur
                or not all(
                    os.path.abspath(f).startswith(src_root) for f in cur
                )
            ):
                continue
            if path != self._cursor_path:
                # one-time migration of a pre-r11 (path+caps-only hash)
                # cursor to the current derived name, so the admitted
                # position survives the naming upgrade. The legacy file
                # is deliberately LEFT IN PLACE: the legacy names are
                # SHARED (path+caps only / fixed), so a co-located
                # reader differing only in listing options derives the
                # same legacy file but a different current name —
                # retiring it on first migration would hand that reader
                # None and re-ingest its whole backlog. The residual
                # risk (current cursor later lost -> stale legacy
                # adopted -> partial rewind) is strictly smaller than
                # the full-backlog re-admit that losing the cursor with
                # NO fallback causes, and the adoption is logged loudly
                # either way (ADVICE r12).
                _LOG.warning(
                    "xml stream source adopted legacy admission cursor "
                    "%s (migrating to %s)", path, self._cursor_path,
                )
                saved = self._planned
                self._planned = dict(cur)
                try:
                    self._cursor_save()
                except OSError:
                    pass  # migration is best-effort; cur still applies
                finally:
                    self._planned = saved
            return cur
        return None

    def _cursor_save(self) -> None:
        if not self._cursor_path:
            return
        import json

        tmp = f"{self._cursor_path}.tmp{os.getpid()}"
        try:
            with open(tmp, "w") as fh:
                json.dump({"files": self._planned}, fh)
            os.replace(tmp, self._cursor_path)
        except OSError as exc:
            # MUST be loud: a silently stale cursor re-admits files the
            # engine already committed on the next restart — duplicate
            # ingestion. Failing the batch here is as recoverable as a
            # checkpoint write failure (the engine retries/replays).
            raise OSError(
                f"xml stream source could not persist admissionCursorPath "
                f"{self._cursor_path!r}; failing the batch rather than "
                f"risking duplicate re-admission after a restart"
            ) from exc

    # -- offsets -----------------------------------------------------------
    def _snapshot(self) -> dict:
        from spark_xml_spark.sources import partitions as pmod

        try:
            # partition-aware listing: a Hive-style layout's nested files
            # are discovered recursively; flat dirs list exactly as before
            gf, rl = ds._listing_opts(self._opts_dict)
            listed = [
                (f, sz)
                for f, sz, _ in pmod.discover_partitions(
                    self._path, glob_filter=gf, recursive_lookup=rl
                )[0]
            ]
        except FileNotFoundError:
            listed = []
        return {"files": {p: size for p, size in listed}}

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        """Newest offset, bounded by maxFilesPerTrigger/maxBytesPerTrigger.

        Spark's Python stream API has no ReadLimit channel and never hands
        the checkpointed position to the source (the engine calls
        latestOffset BEFORE initialOffset on a fresh query, and not at all
        on a committed restart), so admission control lives here: the
        returned offset is the engine's current position plus at most
        max_files new files / max_bytes new snapshot bytes (always at
        least one pending file, FileStreamSource's no-wedge rule). New
        files admit in path order — deterministic and free.

        Exactly-once constraint: every returned offset must be a superset
        of the engine's position, or previously delivered files re-enter a
        later end-minus-start diff and are ingested twice. When that
        position is unknown (first call of a run), it is recovered from,
        in order:
          1. ``admissionCursorPath`` (opt-in, one file per query like
             checkpointLocation; auto-derived as
             ``<checkpointLocation>/xml_graft_admission_cursor-<tag>.json``
             with the tag hashed from the data path + cap options, so a
             query unioning two capped xml-graft readers under one
             checkpoint dir cannot share — and clobber — one cursor
             file; derived when a cap is set and the reader was given
             the checkpoint dir): the planned position persisted at
             partitions() time, when it is already WAL-durable in the
             engine. Present -> capped restart; absent -> treated as a
             fresh query, capped from the very first batch (the 100 TB
             backlog-start case). Keep the file with the checkpoint:
             deleting only the cursor downgrades a restart to the
             uncapped path below at worst.
          2. A replayed uncommitted batch's partitions(start, end), which
             runs before any latestOffset and seeds the position.
          3. Otherwise the full snapshot is admitted in one uncapped batch
             — the only superset of an unknowable committed offset."""
        snap = self._snapshot()
        if self._max_files is None and self._max_bytes is None:
            return snap
        if self._base is None:
            cur = self._cursor_load()
            if cur is not None:
                self._base = dict(cur)
                self._learn_planned({"files": cur})
            elif self._cursor_path:
                self._base = {}  # fresh query: cap from batch 0
            else:
                # position unknowable: full backlog in one batch (case 3)
                self._base = dict(snap["files"])
                self._learn_planned(snap)
                return snap
        if self._known is None:
            self._known = {}
        pending = sorted(
            (f for f in snap["files"] if f not in self._known),
            reverse=self._latest_first,
        )
        admitted = dict(self._base)
        nfiles = 0
        nbytes = 0
        for f in pending:
            sz = int(snap["files"][f])
            if nfiles > 0 and (
                (self._max_files is not None and nfiles + 1 > self._max_files)
                or (self._max_bytes is not None and nbytes + sz > self._max_bytes)
            ):
                break
            admitted[f] = snap["files"][f]
            nfiles += 1
            nbytes += sz
        out = {"files": admitted}
        self._merge(self._known, out)
        self._base = dict(admitted)
        return out

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        self._learn_planned(start)
        self._learn_planned(end)
        if self._base is None:
            # restart replay: the engine's position is this batch's end
            self._base = dict((end or {}).get("files") or {})
        self._cursor_save()
        from spark_xml_spark.xmlcore import fs

        seen = set((start or {}).get("files", {}))
        end_files = (end or {}).get("files", {})
        new_files = [p for p in end_files if p not in seen]
        xopts = XmlOptions.from_dict(self._opts_dict)
        open_cost = ds._open_cost(self._opts_dict)
        target = ds._split_target(
            self._opts_dict, open_cost, [(f, int(end_files[f])) for f in new_files]
        )
        groups: dict = {}
        for f in new_files:
            # Deterministic replay: the offset recorded the file's size at
            # snapshot time. Plan/clamp splits against THAT size, never the
            # current one — a file that grew since yields identical rows; a
            # file that shrank (rewritten) is skipped entirely rather than
            # replayed with different content (ADVICE r2).
            snap = int(end_files[f])
            try:
                cur = fs.size_of(f)
            except (OSError, FileNotFoundError):
                continue
            if cur < snap:
                continue
            splits = groups.setdefault(self._pvalues_of(f), [])
            for s in tokenizer.plan_splits(f, xopts.charset, target):
                if s.whole_file:
                    if cur != snap:
                        # compressed/whole-file content changed; not replayable
                        continue
                elif s.start >= snap:
                    continue
                else:
                    s = dataclasses.replace(s, end=min(s.end, snap))
                splits.append(dataclasses.replace(s, eof=snap))
        # bin-pack small splits within each partition-value group, as the
        # batch reader does, so a many-small-files batch stays O(cores)
        # tasks
        parts: List[InputPartition] = []
        for key in sorted(
            groups, key=lambda t: tuple("" if v is None else v for v in t)
        ):
            pvals: tuple = ()
            if key:
                (pvals,) = ds._typed_pvals(ds._pvalue_batch(
                    [key], self._schema.fields[-len(key):]
                ))
            splits = groups[key]
            parts.extend(ds._pack_splits(
                splits, target, open_cost, {s.path: s.eof for s in splits},
                pvals=pvals,
            ))
        # Spark requires at least one partition per batch; an empty batch
        # gets an empty marker partition.
        return parts or [ds.XmlInputPartition(())]

    def _pvalues_of(self, filepath: str) -> tuple:
        """The raw Hive partition values of one file (None for
        __HIVE_DEFAULT_PARTITION__) when the schema exposes its partition
        keys as its trailing fields, else (). Pure path logic; the
        values are typed as the schema declares them."""
        from spark_xml_spark.sources import partitions as pmod

        _, recursive = ds._listing_opts(self._opts_dict)
        if recursive:
            # recursiveFileLookup disables partition inference (batch
            # parity): name=value directory names are plain directories,
            # never value sources — the field parses from file content
            return ()
        kv = pmod.partition_values_of(self._path, filepath)
        keys = [k for k, _ in kv]
        if not keys or [f.name for f in self._schema.fields[-len(keys):]] != keys:
            return ()  # schema does not expose the partition columns
        return tuple(v for _, v in kv)

    def read(self, partition: ds.XmlInputPartition) -> Iterator:
        return ds.read_partition(
            partition, self._schema, XmlOptions.from_dict(self._opts_dict)
        )

    def commit(self, end: dict) -> None:
        self._learn_planned(end)


@dataclass
class XmlStreamCommitMessage(WriterCommitMessage):
    # relative to the sink root (partitioned writes keep col=value/ dirs)
    # so abort can delete every file this task's micro-batch wrote
    files: tuple


class XmlStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict, schema: T.StructType):
        self._opts_dict = dict(options)
        self._schema = schema
        self._path = options.get("path") or options.get("location")
        if not self._path:
            raise ValueError("path option is required for the xml stream sink")

    def _partition_by(self) -> List[str]:
        raw = get_option(self._opts_dict, "partitionBy")
        return [c.strip() for c in raw.split(",") if c.strip()] if raw else []

    def write(self, iterator) -> XmlStreamCommitMessage:
        from pyspark import TaskContext

        from spark_xml_spark.sources.datasource import (
            iter_partition_groups,
            write_document_file,
        )
        from spark_xml_spark.xmlcore import fs

        xopts = XmlOptions.from_dict(self._opts_dict)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        pby = self._partition_by()
        files: List[str] = []
        if not pby:
            name, count = write_document_file(
                self._path, self._schema, iterator, xopts, pid, 0
            )
            if count:
                files.append(name)
            else:  # empty micro-batch partition: no empty-document litter
                fs.delete_file(self._path.rstrip("/") + "/" + name)
        else:
            # Hive-style partitioned streaming sink: same col=value/ layout,
            # value escaping and content elision as the batch writer (the
            # partition-aware stream/batch readers re-derive the columns).
            # Batches APPEND files into the partition dirs; sort each
            # micro-batch within partitions on the partition columns to get
            # one file per (task, value, batch).
            for seq, (reldir, dschema, rows) in enumerate(
                iter_partition_groups(self._schema, iterator, pby)
            ):
                name, count = write_document_file(
                    self._path.rstrip("/") + "/" + reldir,
                    dschema, rows, xopts, pid, seq,
                )
                rel = reldir + "/" + name
                if count:
                    files.append(rel)
                else:
                    fs.delete_file(self._path.rstrip("/") + "/" + rel)
        return XmlStreamCommitMessage(files=tuple(files))

    def commit(self, messages, batchId: int) -> None:
        pass

    def abort(self, messages, batchId: int) -> None:
        from spark_xml_spark.xmlcore import fs

        for m in messages:
            for f in getattr(m, "files", ()) if m is not None else ():
                try:
                    fs.delete_file(self._path.rstrip("/") + "/" + f)
                except OSError:
                    pass
