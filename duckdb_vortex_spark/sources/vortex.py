"""Vortex-semantics Spark DataSource (SURVEY.md §2A rows A1-A9).

The reference extension's value-add is columnar file I/O for the
Vortex format: ``read_vortex(path)`` scan with schema-from-footer
bind, glob expansion, projection + filter pushdown with zone-map
pruning, chunked multi-batch scans, and ``COPY TO (FORMAT VORTEX)``
compressed writes (/root/reference/README.md:63-79, test/sql/
sequence.test:11-15). This module re-expresses that capability as a
Spark **Python DataSource** ("vortex"), per the survey's mapping:

- A1 scan source ........ ``spark.read.format("vortex").load(path)``
- A2 glob expansion ..... glob patterns in ``load()`` path
- A4 file sink .......... ``df.write.format("vortex").save(path)``
- A5 projection pushdown. only Spark-pruned columns are decoded
- A6 filter pushdown .... ``pushFilters`` → zone-map row-group skip
                          (opt-in ``pushdown=true``; default scans are
                          filter-independent — see pushFilters r8 note)
- A7 statistics ......... per-chunk min/max/null-count (parquet stats)
- A8 chunked scan ....... one InputPartition per (file, row-group)
- A9 type matrix ........ Arrow ↔ Spark conversion (SURVEY.md §1.2)

Container format: a real ``.vortex`` binary container (rung (b) of
SURVEY.md §7 Phase 2), implemented in ``vortex_format.py``: footer-
described chunks with per-chunk zone maps and lightweight encodings —
FoR bit-packed ints (FastLanes-family), ALP floats with exception
patching, FSST-style symbol-table / dictionary strings, validity
bitmaps, zlib cascade, Arrow-IPC fallback for nested & decimal types.
Not parquet: every byte of the layout is defined in that module.

Scale: the scan parallelism unit is the chunk, so a 1000-executor
cluster gets even work distribution for any file count; pushdown
happens before any Arrow batch is materialized; reads stream
RecordBatches (never whole files) across the Python↔JVM boundary.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable, Sequence
from dataclasses import dataclass
from types import SimpleNamespace

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# Spark 4.1 forks DataSource planning workers (create, plan, pushdown,
# write, commit) from the stock pyspark.daemon whatever
# spark.python.daemon.module says. Such a worker is reused across
# calls; importing worker_daemon here lets every call after its first
# VTX1 call skip the re-read of Spark's archives too. The call below
# freezes the import-time heap of any Python worker (executor or
# planning) that loads this source; in the driver it does nothing.
from .. import worker_daemon
from . import vortex_format as vfmt

worker_daemon.freeze_worker_heap()

FILE_SUFFIX = ".vortex"


def _expand(path: str) -> list[str]:
    """Glob expansion (A2) + URI routing (A3). A directory means all
    chunked files in it; glob matches may themselves be dataset
    directories. Multi-path reads pass a JSON list out-of-band via the
    ``paths`` option (see ``_option_paths``) — no in-band separator,
    so a path containing any character stays readable. Non-local URIs
    (s3a://…) resolve through the filesystem registry in
    vortex_format."""
    fs, p = vfmt.filesystem_for(path)
    globbed = any(ch in p for ch in "*?[")
    if globbed and getattr(fs, "flat_namespace", False):
        # object stores have no directories, so per-match isdir probes
        # (a listing each) are O(matches) network at plan time. The
        # store's glob_entries classifies object vs dataset-"directory"
        # matches from its ONE listing: objects append directly;
        # directory matches (a dataset named ds-1.vortex with data at
        # ds-1.vortex/part-0.vortex) expand to their part files exactly
        # as the local isdir branch does (ADVICE r4 — previously these
        # silently expanded to nothing).
        files: list[str] = []
        for m, is_dir in fs.glob_entries(p):
            if is_dir:
                files.extend(
                    fs.glob(m.rstrip("/") + f"/part-*{FILE_SUFFIX}")
                    or fs.glob(m.rstrip("/") + f"/**/part-*{FILE_SUFFIX}")
                )
            else:
                files.append(m)
        prefix = path[: len(path) - len(p)]
        return [prefix + f for f in files]
    matches = fs.glob(p) if globbed else [p]
    files = []
    for m in matches:
        if fs.isdir(m):
            # flat dataset, then hive-partitioned subdirs (col=value/…)
            files.extend(
                fs.glob(os.path.join(m, f"part-*{FILE_SUFFIX}"))
                or fs.glob(os.path.join(m, "**", f"part-*{FILE_SUFFIX}"))
            )
        elif fs.exists(m):
            files.append(m)
    prefix = path[: len(path) - len(p)]
    return [prefix + f for f in files]


_STORE_CURRENT: tuple | None = None


def _store_options(options: dict) -> dict:
    """Extract the object-store connection options (picklable subset
    carried to executor workers alongside reader/writer state)."""
    keys = ("s3_endpoint", "s3_access_key", "s3_secret_key", "s3_region",
            "s3_session_token")
    return {k: options[k] for k in keys if k in options}


def _apply_store_options(store: dict) -> None:
    """Register the S3 filesystem for this PROCESS from DataSource
    options (``.option("s3_endpoint", ...)`` — the Python-source
    analogue of ``fs.s3a.endpoint``). Python data sources evaluate in
    separate worker processes (driver-side workers for schema binding,
    executor workers for read/write tasks), so driver-side registry
    state never travels; each entry point re-applies from the options
    it was pickled with.

    The cache tracks the CURRENTLY-registered option tuple, not every
    tuple ever registered: with an ever-registered set, two datasets on
    different stores in one worker process would leave the second
    store's client registered while the first dataset's next task
    skips re-registration and silently reads through the wrong store
    (ADVICE r4). Each task re-applies its OWN options immediately
    before resolving paths, so reads always route to their dataset's
    store; ``replace=True`` marks that swap as deliberate to
    register_s3's conflict guard."""
    global _STORE_CURRENT
    if not store or "s3_endpoint" not in store:
        return
    key = tuple(sorted(store.items()))
    if key == _STORE_CURRENT:
        return
    from .object_store import register_s3

    register_s3(
        store["s3_endpoint"],
        store.get("s3_access_key"),
        store.get("s3_secret_key"),
        store.get("s3_region", "us-east-1"),
        session_token=store.get("s3_session_token"),
        replace=True,
    )
    _STORE_CURRENT = key


def _option_paths(options: dict) -> tuple[str, list[str]]:
    """Resolve the read target from options: a ``paths`` option holding
    a JSON list of paths (out-of-band multi-path form, used by
    versioned reads) wins over the single ``path``. Returns a display
    string and the expanded file list."""
    import json

    raw = options.get("paths")
    if raw:
        parts = json.loads(raw)
        if not isinstance(parts, list):
            raise ValueError("vortex 'paths' option must be a JSON list")
        files: list[str] = []
        for p in parts:
            files.extend(_expand(p))
        return raw, files
    path = options.get("path")
    if not path:
        raise ValueError("vortex scan requires a path")
    return path, _expand(path)


def _with_missing_columns(
    table, spark_schema: StructType, cols: list[str], n_rows: int | None = None
):
    """Project ``table`` onto ``cols`` in order, materializing columns
    the file predates as typed null arrays (additive schema
    evolution). Types for filled columns come from the bound dataset
    schema, so every file yields batches with one uniform schema.
    ``n_rows`` must be the chunk's true row count whenever the pruned
    projection may contain zero physically-present columns (a
    0-column Arrow table reports num_rows=0, which would silently
    drop every row of an old file when selecting only evolved
    columns)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    by_name = {f.name: f for f in spark_schema.fields}
    n = table.num_rows if n_rows is None else n_rows
    arrays, fields = [], []
    for c in cols:
        idx = table.schema.get_field_index(c)
        if idx >= 0:
            arrays.append(table.column(idx))
            fields.append(table.schema.field(idx))
        else:
            t = to_arrow_type(by_name[c].dataType)
            arrays.append(pa.chunked_array([pa.nulls(n, type=t)]))
            fields.append(pa.field(c, t))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _hive_str(v) -> str:
    """Hive directory spelling of a partition value (bool lowercases,
    None gets the hive default-partition name)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _partition_values(file: str) -> dict[str, str]:
    """Hive-style ``col=value`` directory segments of a file path."""
    out: dict[str, str] = {}
    for seg in file.split(os.sep):
        if "=" in seg and not seg.endswith(FILE_SUFFIX):
            k, _, v = seg.partition("=")
            out[k] = v
    return out


@dataclass
class VortexChunk(InputPartition):
    """One scan unit = one row-group (chunk) of one file (A8)."""

    file: str
    row_group: int


def _read_chunk_batches(partition: VortexChunk, schema: StructType):
    """Decode one chunk onto ``schema``'s columns as Arrow batches: the
    file's footer and only the projected columns are read, and columns
    the file predates come back as typed nulls. A ``row_group < 0``
    partition (nothing survives pruning, or a stream batch without new
    data) yields one empty batch with the schema."""
    cols = [f.name for f in schema.fields]
    footer = vfmt.read_footer(partition.file)
    if partition.row_group < 0:
        yield from _with_missing_columns(
            footer.schema.empty_table(), schema, cols
        ).to_batches(max_chunksize=1)
        return
    present = [c for c in cols if footer.schema.get_field_index(c) >= 0]
    n_rows = footer.chunks[partition.row_group]["n_rows"]
    table = vfmt.read_chunk(partition.file, footer, partition.row_group, present)
    yield from _with_missing_columns(
        table, schema, cols, n_rows=n_rows
    ).to_batches()


class VortexReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.store = _store_options(options)
        _apply_store_options(self.store)
        self.path, self.files = _option_paths(options)
        if not self.files:
            raise FileNotFoundError(f"no vortex files match {self.path!r}")
        self.schema = schema
        self.pushed: list[Filter] = []
        # r8: hint-state pruning is OPT-IN (default false). A scan with
        # no hint state is identical for every query, which makes any
        # relation reuse — filtered fan-outs, self-joins, an unfiltered
        # count after a filtered action — correct by construction under
        # the upstream single-slot readInfo cache (see pushFilters).
        self.pushdown_enabled = str(options.get("pushdown", "false")).lower() == "true"
        # Plan-event tracing: the option form reaches the planning
        # worker through the pickled reader no matter how the session
        # was launched (the env var only works when it was exported
        # before the JVM spawned its Python plan workers). Used by the
        # upstream-readInfo canary (tests/test_vortex_source.py).
        self._trace_file = options.get("trace_file") or os.environ.get(
            "VORTEX_TRACE_FILE"
        )
        self._trace("init")

    def _trace(self, event: str) -> None:
        log = getattr(self, "_trace_file", None)
        if log:
            with open(log, "a") as fh:
                fh.write(f"{event} id={id(self)} pushed={[str(f) for f in self.pushed]}\n")

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:  # noqa: N802
        """A6: record the comparison/null filters we can evaluate
        against chunk statistics and batch data as PRUNING/PREFILTER
        HINTS — but return EVERY filter to Spark as residual, so Spark
        always keeps its own Filter node above the scan. The hints
        drive footer zone-map chunk pruning (partitions) and an
        Arrow-side batch prefilter (read), both of which only REDUCE
        the rows crossing the Arrow→JVM boundary; row-level
        correctness never depends on reader state.

        Why all-residual (r7): the Python DataSource contract treats
        non-returned filters as fully handled, so Spark DELETES their
        Filter nodes. Combined with the upstream caveat below, two
        differently-filtered scans of the SAME relation (a decontam
        anti-join, any filtered self-join) executed one branch's scan
        closure for both — and the branch whose Filter Spark had
        deleted returned unfiltered rows, silently. With all filters
        residual, the worst a stale scan closure can do is prune
        chunks with the OTHER branch's hints (wrong-direction
        pruning). r8 removes that residue too: hints are opt-in.

        KNOWN UPSTREAM CAVEAT (Spark 4.1 Python DataSource): the JVM
        caches the planned scan (``PythonDataSourceV2.readInfo``) in a
        single mutable slot per relation and only the pushdown path
        refreshes it — so scans planned later can serve earlier
        branches of the same relation, and a branch with NO pushable
        filters reuses whatever scan the slot holds (builtin sources
        are unaffected).

        Why hints are OPT-IN rather than auto-poisoned (r8): the
        obvious in-Python fix — detect a re-plan with a different
        filter set on one reader and degrade to no pruning — is
        structurally impossible. Traced under VORTEX_TRACE_FILE:
        (a) every pushdown planning deserializes a FRESH DataSource /
        reader instance (pyspark/sql/worker/data_source_pushdown_
        filters.py reads the pickled source per invocation), so no
        Python object ever sees two plans; (b) the hazardous branch —
        an unfiltered action reusing a filtered plan's pruned scan —
        invokes NO Python hook at all (no __init__, no pushFilters,
        no partitions), the JVM replays the cached partition list
        wholesale. No Python-side state, module-global or otherwise,
        can observe the reuse. Hence the only safe default is a scan
        whose partition list is filter-INDEPENDENT: default scans
        record no hints, so any cached-slot mixup between branches is
        invisible (every branch's scan is the same scan) and Spark's
        retained Filter nodes give exact rows.

        ``.option("pushdown", "true")`` re-enables plan-time zone-map
        chunk pruning + hive-partition dir pruning, and is safe for
        the fresh-``load()``-per-query pattern (one relation, one
        consumption) — how the catalog, driver, bench, and the
        incremental-ingest index scans use this source. Pinned in
        tests/test_vortex_source.py::test_relation_reuse_default_safe
        and test_filtered_fanout_matches_parquet.
        """
        self._trace(f"pushFilters {[str(f) for f in filters]}")
        if not self.pushdown_enabled:
            return filters  # hint-free: scan is identical for any query
        supported = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            IsNull,
            IsNotNull,
            In,
            StringStartsWith,
        )
        # each call carries the COMPLETE filter set for its scan —
        # reset instead of append, so a reader instance that gets
        # re-planned never prunes with the UNION of two scans' hints
        self.pushed = []
        for f in filters:
            # attribute may be a multi-segment path into a STRUCT
            # column (("st", "a")): nested layouts carry per-leaf zone
            # maps (vortex_format._encode_nested), so these prune
            # chunks exactly like top-level columns.
            if isinstance(f, supported) and len(f.attribute) >= 1:
                self.pushed.append(f)
        return filters

    def partitions(self) -> Sequence[VortexChunk]:
        self._trace("partitions")
        chunks = []
        for f in self.files:
            if not self._dir_survives(f):
                continue  # partition-directory pruning: no footer read
            footer = vfmt.read_footer(f)
            for ci in range(len(footer.chunks)):
                if self._chunk_survives(footer, ci):
                    chunks.append(VortexChunk(f, ci))
        # Empty scan still needs ≥1 partition for a valid (empty) result.
        return chunks or [VortexChunk(self.files[0], -1)]

    def _dir_survives(self, file: str) -> bool:
        """Hive-partition pruning: a pushed =/IN filter on a partition
        column skips every file under non-matching ``col=value`` dirs
        WITHOUT opening them — at 100k files this is the difference
        between listing directories and 100k footer reads. Values
        compare in hive string form (how the writer spelled them)."""
        pvals = _partition_values(file)
        if not pvals:
            return True
        for f in self.pushed:
            if len(f.attribute) != 1:
                continue  # nested-path filter can never name a partition dir
            name = f.attribute[0]
            if name not in pvals:
                continue
            have = pvals[name]
            if isinstance(f, EqualTo) and have != _hive_str(f.value):
                return False
            if isinstance(f, In) and have not in {_hive_str(v) for v in f.value}:
                return False
        return True

    def _chunk_survives(self, footer, chunk_idx: int) -> bool:
        """A7: zone-map pruning — skip a chunk when its footer
        min/max/null-count stats refute a pushed filter."""
        stats: dict[str, SimpleNamespace | None] = {}

        def stat_for(name: str):
            if name not in stats:
                triple = vfmt.chunk_stats(footer, chunk_idx, name)
                stats[name] = (
                    None
                    if triple is None or triple[0] is None
                    else SimpleNamespace(
                        min=triple[0], max=triple[1], null_count=triple[2]
                    )
                )
            return stats[name]

        for f in self.pushed:
            # dotted path resolves nested struct leaves (st.a) in the
            # footer's child descriptors — same pruning as flat columns
            name = ".".join(f.attribute)
            s = stat_for(name)
            if s is None:
                continue
            try:
                if isinstance(f, GreaterThan) and s.max <= f.value:
                    return False
                if isinstance(f, GreaterThanOrEqual) and s.max < f.value:
                    return False
                if isinstance(f, LessThan) and s.min >= f.value:
                    return False
                if isinstance(f, LessThanOrEqual) and s.min > f.value:
                    return False
                if isinstance(f, EqualTo):
                    if not (s.min <= f.value <= s.max):
                        return False
                    # bloom: refutes point membership where the min/max
                    # range cannot (non-clustered strings OR sparse int
                    # keys — a chunk spanning ids 1..9000 with 3000
                    # present refutes 2/3 of point lookups)
                    if isinstance(f.value, (str, int)) and not isinstance(f.value, bool):
                        bloom = vfmt.chunk_bloom(footer, chunk_idx, name)
                        if bloom is not None and not vfmt.bloom_maybe_contains(
                            bloom, f.value
                        ):
                            return False
                if isinstance(f, In):
                    if all(v < s.min or v > s.max for v in f.value):
                        return False
                    if all(
                        isinstance(v, (str, int)) and not isinstance(v, bool)
                        for v in f.value
                    ):
                        bloom = vfmt.chunk_bloom(footer, chunk_idx, name)
                        if bloom is not None and not any(
                            vfmt.bloom_maybe_contains(bloom, v) for v in f.value
                        ):
                            return False
                if isinstance(f, IsNull) and s.null_count == 0:
                    return False
                if isinstance(f, StringStartsWith) and isinstance(s.max, str):
                    # chunk can hold a prefix match only if [min, max]
                    # intersects [prefix, next(prefix)): max < prefix or
                    # min >= next(prefix) refute it.
                    nxt = f.value[:-1] + chr(ord(f.value[-1]) + 1) if f.value else ""
                    if s.max < f.value or (nxt and s.min >= nxt):
                        return False
            except TypeError:
                continue  # incomparable stats (e.g. bytes vs str) — keep chunk
        return True

    def read(self, partition: VortexChunk):
        """Decode one chunk: prune columns (A5; chunk-level filter
        pruning happened in partitions()), yield Arrow RecordBatches
        (A9 — zero-copy into Spark). Row-level filtering is Spark's —
        every filter is returned as residual (see pushFilters).
        Columns the file predates (additive schema evolution) come
        back as typed nulls, so a filter on an evolved column is
        correct on old files too."""
        _apply_store_options(self.store)  # executor-side worker process
        yield from _read_chunk_batches(partition, self.schema)


class VortexStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("vortex")`` — file-discovery streaming
    source over a growing vortex dataset (the streaming twin of the
    batch scan, mirroring Spark's own FileStreamSource semantics:
    files are immutable once written, new part files are new data).

    Offsets are the sorted list of consumed file names — exactly-once
    across restarts because the checkpointed end offset names the
    files already read. Each micro-batch plans one InputPartition per
    (new file, chunk), so batch read parallelism carries over. The
    offset grows with file count; production retention pairs this with
    periodic compaction (see streaming/sinks.py), the same trade
    Spark's file source makes with its file log."""

    def __init__(self, options: dict, schema: StructType):
        self.store = _store_options(options)
        _apply_store_options(self.store)
        self.path = options.get("path")
        if not self.path:
            raise ValueError("vortex stream read requires a path")
        self.schema = schema

    def _current_files(self) -> list[str]:
        return sorted(_expand(self.path))

    def initialOffset(self) -> dict:  # noqa: N802
        return {"files": []}

    def latestOffset(self) -> dict:  # noqa: N802
        return {"files": self._current_files()}

    def partitions(self, start: dict, end: dict) -> Sequence[VortexChunk]:
        seen = set(start.get("files", []))
        chunks: list[VortexChunk] = []
        for f in end.get("files", []):
            if f in seen:
                continue
            footer = vfmt.read_footer(f)
            chunks.extend(VortexChunk(f, ci) for ci in range(len(footer.chunks)))
        # a no-new-data batch still needs one (empty) partition
        if not chunks:
            anchor = end.get("files") or [None]
            if anchor[0] is None:
                return []
            chunks = [VortexChunk(anchor[0], -1)]
        return chunks

    def read(self, partition: VortexChunk):
        _apply_store_options(self.store)  # executor-side worker process
        yield from _read_chunk_batches(partition, self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets are self-describing; nothing to clean up


class VortexCommit(WriterCommitMessage):
    pass


class VortexWriter(DataSourceArrowWriter):
    """A4: the COPY-TO sink. Each task streams its Arrow batches into
    one chunked, cascade-compressed ``.vortex`` file (encodings chosen
    per chunk × column in vortex_format) — the same per-thread sink
    shape as the reference's copy function (SURVEY.md §3.3)."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self.store = _store_options(options)
        _apply_store_options(self.store)
        self.path = options.get("path")
        if not self.path:
            raise ValueError("vortex write requires a path")
        self.chunk_rows = int(options.get("chunk_rows", 65536))
        self.partition_by = [
            c.strip() for c in options.get("partition_by", "").split(",") if c.strip()
        ]
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator):
        _apply_store_options(self.store)  # executor-side worker process
        if self.partition_by:
            return self._write_partitioned(iterator)
        return self._write_one(iterator, self.path)

    def _write_one(self, batches, out_dir: str):
        import pyarrow as pa

        out = os.path.join(out_dir, f"part-{uuid.uuid4().hex}{FILE_SUFFIX}")
        writer = None
        pending: list = []
        n_pending = 0

        def flush(tail: bool) -> None:
            # Re-chunk buffered Arrow batches into exact chunk_rows
            # chunks, independent of incoming batch boundaries — chunk
            # size is the scan-parallelism unit (A8), so it must be
            # stable, not an artifact of the Python↔JVM batch size.
            nonlocal pending, n_pending
            table = pa.Table.from_batches(pending).combine_chunks()
            full = n_pending if tail else (n_pending // self.chunk_rows) * self.chunk_rows
            if full:
                writer.write_table(table.slice(0, full), row_group_size=self.chunk_rows)
            rest = table.slice(full)
            pending = rest.to_batches() if rest.num_rows else []
            n_pending = rest.num_rows

        try:
            for batch in batches:
                if writer is None:
                    writer = vfmt.VortexFileWriter(out, batch.schema)
                pending.append(batch)
                n_pending += batch.num_rows
                if n_pending >= self.chunk_rows:
                    flush(tail=False)
            if writer is not None and n_pending:
                flush(tail=True)
        except BaseException:
            # never COMMIT a partial file: a close() here would write a
            # valid footer over truncated chunks (or complete a
            # multipart upload), and the part-* glob would then serve
            # duplicate/partial rows after Spark retries the task
            if writer is not None:
                writer.abort()
            raise
        else:
            if writer is not None:
                writer.close()
        return VortexCommit()

    def _write_partitioned(self, iterator):
        """Hive-layout fan-out: each task splits its batches by the
        partition columns and streams per-partition files under
        ``col=value/…`` dirs. Partition columns stay IN the data files
        (the dirs are a pruning index, not the storage of record), so
        readers need no dir-parsing schema recovery. Callers should
        repartition on the partition columns first (write_partitioned
        does) so each task owns few partitions — the per-task writer
        count is the number of distinct values it sees."""
        import pyarrow as pa
        import pyarrow.compute as pc

        writers: dict[tuple, tuple] = {}  # key -> (VortexFileWriter, buffer list, count)

        def subdir(values: tuple) -> str:
            segs = [f"{c}={_hive_str(v)}" for c, v in zip(self.partition_by, values)]
            return os.path.join(self.path, *segs)

        try:
            for batch in iterator:
                table = pa.Table.from_batches([batch])
                keys = [table.column(c) for c in self.partition_by]
                combo = pc.binary_join_element_wise(
                    *[
                        pc.coalesce(pc.cast(k, pa.string()), "__HIVE_DEFAULT_PARTITION__")
                        for k in keys
                    ],
                    "\x00",
                )
                for key_str in pc.unique(combo).to_pylist():
                    mask = pc.equal(combo, key_str)
                    part = table.filter(mask)
                    values = tuple(part.column(c)[0].as_py() for c in self.partition_by)
                    entry = writers.get(values)
                    if entry is None:
                        out = os.path.join(
                            subdir(values), f"part-{uuid.uuid4().hex}{FILE_SUFFIX}"
                        )
                        entry = [vfmt.VortexFileWriter(out, batch.schema), [], 0]
                        writers[values] = entry
                    entry[1].append(part)
                    entry[2] += part.num_rows
                    if entry[2] >= self.chunk_rows:
                        merged = pa.concat_tables(entry[1]).combine_chunks()
                        entry[0].write_table(merged, row_group_size=self.chunk_rows)
                        entry[1], entry[2] = [], 0
        except BaseException:
            for w, _bufs, _n in writers.values():
                w.abort()  # same no-partial-commit rule as _write_one
            raise
        else:
            for w, bufs, n in writers.values():
                if n:
                    w.write_table(
                        pa.concat_tables(bufs).combine_chunks(),
                        row_group_size=self.chunk_rows,
                    )
                w.close()
        return VortexCommit()


class VortexDataSource(DataSource):
    """``spark.read.format("vortex")`` / ``df.write.format("vortex")``.

    Registration parity with the reference's extension bootstrap
    (SURVEY.md §3.1): ``register(spark)`` below is our
    ``initialize_extension_from_raw``.
    """

    @classmethod
    def name(cls) -> str:
        return "vortex"

    def schema(self) -> StructType:
        """A1: bind schema from the file footer — no user input."""
        _apply_store_options(_store_options(self.options))
        target, files = _option_paths(self.options)
        if not files:
            raise FileNotFoundError(
                f"cannot bind vortex schema: no files at {target!r}"
            )
        # prefer_timestamp_ntz: tz-naive arrow timestamps are NTZ
        # (DuckDB-timestamp semantics, SURVEY.md §1.2); tz-aware ones
        # still map to TimestampType. All columns read back nullable —
        # same convention as Spark's builtin parquet source.
        # ADDITIVE schema evolution (schema-on-read, lakehouse
        # semantics): later files may add columns — rows from files
        # without a column read as NULL. Same-name columns must agree
        # on type exactly; a type conflict still fails loudly at bind
        # time, not decode garbage at scan time. Footer reads are
        # cheap (no data pages), so merging every file is O(files).
        import pyarrow as pa

        merged: dict[str, object] = {}
        for f in files:
            for fld in vfmt.read_footer(f).schema:
                seen = merged.get(fld.name)
                if seen is None:
                    merged[fld.name] = fld.type
                elif seen != fld.type:
                    raise ValueError(
                        f"vortex dataset type conflict on {fld.name!r}: "
                        f"{seen} vs {fld.type} (in {f!r}) — additive "
                        "evolution only; changing a column's type needs "
                        "a rewrite into a new dataset (write_sorted)"
                    )
        arrow_schema = pa.schema([pa.field(n, t) for n, t in merged.items()])
        bound = from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)
        return StructType([f.__class__(f.name, f.dataType, True) for f in bound.fields])

    def reader(self, schema: StructType) -> VortexReader:
        return VortexReader(self.options, schema)

    def streamReader(self, schema: StructType) -> VortexStreamReader:  # noqa: N802
        return VortexStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> VortexWriter:
        if overwrite:
            path = self.options.get("path")
            if path:
                # this runs in its own worker process too: register the
                # object store from options BEFORE routing the path
                _apply_store_options(_store_options(self.options))
                fs, p = vfmt.filesystem_for(path)
                if fs.isdir(p):
                    for f in fs.glob(os.path.join(p, f"part-*{FILE_SUFFIX}")):
                        fs.remove(f)
        return VortexWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the vortex DataSource against the session catalog —
    parity with ``vortex_init`` (/root/reference/src/vortex_extension.cpp:9-11)."""
    # filter pushdown into Python sources is gated by a SQL conf
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VortexDataSource)


def write_partitioned(
    df, path: str, partition_cols: list[str], chunk_rows: int = 65536, **options
) -> None:
    """Write a hive-partitioned vortex dataset (``col=value/part-*``).

    Repartitions on the partition columns first so each task owns few
    distinct values (bounded open-writer count per task), then fans
    out per-partition files. Equality/IN predicates on the partition
    columns later prune whole directories without any footer I/O —
    the first-order scan reducer at 100 TB, ahead of zone maps."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.format("vortex")
        .mode(options.pop("mode", "append"))
        .option("chunk_rows", chunk_rows)
        .option("partition_by", ",".join(partition_cols))
        .options(**options)
        .save(path)
    )


def write_sorted(
    df,
    path: str,
    sort_cols: list[str],
    chunk_rows: int = 65536,
    **options,
) -> None:
    """Write a vortex dataset clustered on ``sort_cols``: range-
    partition so each task owns a disjoint key range, sort within the
    partition, then write. Every chunk's zone map (min/max) becomes a
    tight, non-overlapping interval on the sort key, so a point or
    range predicate prunes all but O(1) of the chunks instead of
    matching every chunk's full-span statistics — the layout the
    reference's statistics layer (SURVEY.md §2A A7) rewards, and at
    100 TB the difference between scanning one chunk and scanning all
    of them. Range partitioning also bounds per-task memory (no hot
    partition), unlike a global orderBy(1-partition) write.

    The range cut has no partition count, so AQE sizes the output
    files by bytes: contiguous range partitions coalesce to about the
    advisory partition size each (one file for a small dataset, more
    as it grows), and each file stays one sorted key range."""
    (
        df.repartitionByRange(*sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.format("vortex")
        .mode(options.pop("mode", "append"))
        .option("chunk_rows", chunk_rows)
        .options(**options)
        .save(path)
    )


def zorder_key(df, cols: list[str], bits: int | None = None):
    """Morton (Z-order) key over numeric ``cols`` as a Column, with
    per-column extents taken from a 1-row broadcast kept IN-PLAN (no
    driver scalar). Each column is scaled onto a ``2^bits`` grid, then
    the grid coordinates' bits are interleaved — round-robin, column j
    owning bit positions ``i*ncols + j``.

    Returns ``(df_with_extents, key_column)``: the caller chains
    ``repartitionByRange(key)`` etc. and drops the helper columns.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    n = len(cols)
    if bits is None:
        bits = min(16, 62 // n)
    ext = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__zmn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__zmx_{c}") for c in cols],
    )
    d = df.crossJoin(F.broadcast(ext))
    grid = (1 << bits) - 1
    quant = []
    for c in cols:
        mn, mx = F.col(f"__zmn_{c}"), F.col(f"__zmx_{c}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        q = F.floor((F.col(c).cast("double") - mn) / span * F.lit(float(grid)))
        quant.append(F.least(F.greatest(q, F.lit(0)), F.lit(grid)).cast("bigint"))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, q in enumerate(quant):
            z = z + F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j)
    return d, z


def write_zordered(
    df, path: str, zorder_cols: list[str], bits: int | None = None,
    chunk_rows: int = 65536, **options,
) -> None:
    """Write a vortex dataset clustered on a Morton (Z-order) curve
    over ``zorder_cols`` — the multi-dimensional analogue of
    ``write_sorted``. A single-column sort makes zone maps tight on
    ONE column and useless on the rest; interleaving the columns'
    bits makes every chunk a small hyper-rectangle in the combined
    space, so a selective predicate on ANY of the z-ordered columns
    (or a box over several) prunes most chunks from their min/max
    zone maps alone. This is the layout Delta/Iceberg expose as
    ``OPTIMIZE ... ZORDER BY`` (public Delta OPTIMIZE docs; Morton
    1966), here feeding the ``.vortex`` footer's per-chunk statistics
    (SURVEY.md §2A A7).

    Scale: one extra 1-row extent aggregate + one range shuffle on the
    z-key — same cost shape as write_sorted; the curve computation is
    pure JVM column algebra (shift/mask), no Python. Extents come from
    the data itself in-plan, so no coordination step precedes the
    write."""
    d, z = zorder_key(df, zorder_cols, bits)
    helper = [c for c in d.columns if c.startswith("__zmn_") or c.startswith("__zmx_")]
    (
        d.withColumn("__zkey", z)
        .repartitionByRange("__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *helper)
        .write.format("vortex")
        .mode(options.pop("mode", "append"))
        .option("chunk_rows", chunk_rows)
        .options(**options)
        .save(path)
    )


def dataset_stats(spark, path: str):
    """ANALYZE-style dataset statistics from footers ONLY — no data
    pages are read. Returns a DataFrame (file, column, n_rows,
    n_chunks, min, max, null_count, encodings) with min/max/nulls
    folded across each file's chunk zone maps; min/max surface as
    strings (the footer's JSON spelling) so one schema covers every
    column type.

    At 100 TB this is the statistics path a query planner or data
    catalog wants: cost is O(files), footer reads are a few KB each,
    and the per-file rows parallelize through Arrow
    (`session._local_frame`), staying driver-side only for the file
    list (the same listing any scan performs)."""
    from ..session import _local_frame

    rows = []
    for f in _expand(path):
        footer = vfmt.read_footer(f)
        for name in footer.schema.names:
            mn = mx = None
            nulls = 0
            encs = set()
            n_chunks = 0
            for ci, chunk in enumerate(footer.chunks):
                cd = chunk["columns"].get(name)
                if cd is None:
                    continue  # column added after this file: no stats
                n_chunks += 1
                encs.add(cd["enc"])
                triple = vfmt.chunk_stats(footer, ci, name)
                if triple is None:
                    continue
                cmn, cmx, cnulls = triple
                nulls += cnulls
                if cmn is not None:
                    mn = cmn if mn is None else min(mn, cmn)
                if cmx is not None:
                    mx = cmx if mx is None else max(mx, cmx)
            rows.append(
                (
                    f,
                    name,
                    sum(c["n_rows"] for c in footer.chunks),
                    n_chunks,
                    None if mn is None else str(mn),
                    None if mx is None else str(mx),
                    nulls,
                    sorted(encs),
                )
            )
    return _local_frame(
        spark,
        rows,
        "file string, column string, n_rows bigint, n_chunks bigint, "
        "min string, max string, null_count bigint, encodings array<string>",
    )
