"""Transaction-log table format as a Spark 4 Python DataSource — the
DSv2 WRITE path (COVERAGE.md tier-3 item 3, started round 10).

``df.write.format("hh_txnlog").mode("append"|"overwrite").save(path)``
gives a governed sink with the lakehouse commit discipline:

- executors serialize their partitions to parquet data files under
  ``<path>/data/`` (pyarrow, one file per non-empty partition) and
  return per-file commit messages (file name, row count, additive
  checksum — the corpus_shard_manifest delivery-certificate fields);
- the DRIVER's ``commit()`` publishes one atomic log entry
  ``<path>/_txn_log/<version>.json`` (write-temp + put-if-absent
  os.link, retrying the next version on EEXIST so concurrent
  committers serialize instead of silently clobbering) listing
  ``add`` files — and, for overwrite, ``remove`` of every previously
  live file. Readers replay the log last-action-wins (the scan_txn_log
  read discipline), so data files that exist on disk but were never
  committed, or were removed by an overwrite, are provably invisible;
- ``abort()`` deletes the partition files of a failed job, leaving the
  table at its previous version — a crashed write is a no-op.

The read side is the same DataSource: one InputPartition per LIVE file
(log replay at planning time), rows served via pyarrow. Scale notes:
data files are written and read fully in parallel (one task per
partition/file); only the tiny JSON log entry is driver-side, exactly
like the production table formats this models. Reference behavior
generalized: the JSON sink of fetchRumors.js:153-166 (write results,
serve them consistently) upgraded to atomic multi-writer discipline.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


def _log_dir(path: str) -> str:
    return os.path.join(path, "_txn_log")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json")
    )


def _live_map(path: str, as_of: int | None = None) -> dict[str, int]:
    """Replay the log last-action-wins up to and including version
    ``as_of`` (None = latest) and return {file name: version added}."""
    live: dict[str, int] = {}
    for v in _versions(path):
        if as_of is not None and v > as_of:
            break
        entry = json.load(open(os.path.join(_log_dir(path), f"{v}.json")))
        for f in entry.get("remove", []):
            live.pop(f, None)
        for f in entry.get("add", []):
            live[f["file"]] = v
    return live


def live_files(path: str, as_of: int | None = None) -> list[str]:
    """Replay the log last-action-wins and return the live data files
    (absolute paths) in deterministic (version, name) order — the
    TIME-TRAVEL read when ``as_of`` pins a version (the state any
    reader saw at that version, reproducible forever because removed
    files stay on disk until a vacuum)."""
    return [
        os.path.join(path, "data", name)
        for name, _ in sorted(
            _live_map(path, as_of).items(), key=lambda kv: (kv[1], kv[0])
        )
    ]


def added_live_files(path: str, from_v: int, to_v: int) -> list[str]:
    """INCREMENTAL (CDC-of-appends) read set: files added in versions
    (from_v, to_v] that are still live at to_v. A consumer that
    processed the table at from_v reads exactly these to catch up —
    files both added AND removed inside the range (e.g. by an
    overwrite) never appear, matching the state-diff semantics of
    snapshot_diff."""
    return [
        os.path.join(path, "data", name)
        for name, v in sorted(
            _live_map(path, to_v).items(), key=lambda kv: (kv[1], kv[0])
        )
        if from_v < v <= to_v
    ]


def vacuum(path: str) -> int:
    """Delete every data file NOT live at the current version —
    overwritten/compacted-away history plus never-committed orphans —
    and return how many were removed. The latest snapshot is untouched;
    TIME TRAVEL to pre-vacuum versions intentionally stops working
    (their files are gone), which is the retention trade every
    production table format's VACUUM makes. Driver-side like the log
    itself: the file list is KB-scale metadata; the deletes are
    unlink() calls, not data movement."""
    data_dir = os.path.join(path, "data")
    if not os.path.isdir(data_dir):
        return 0
    live = {os.path.basename(p) for p in live_files(path)}
    removed = 0
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet") and name not in live:
            os.remove(os.path.join(data_dir, name))
            removed += 1
    return removed


def manifest(path: str) -> list[dict]:
    """Per-file (rows, checksum) of the CURRENT live set — the delivery
    certificate a consumer diffs against a re-read."""
    live = {os.path.basename(p) for p in live_files(path)}
    out = []
    for v in _versions(path):
        entry = json.load(open(os.path.join(_log_dir(path), f"{v}.json")))
        out.extend(f for f in entry.get("add", []) if f["file"] in live)
    return sorted(out, key=lambda f: f["file"])


class _FilePartition(InputPartition):
    def __init__(self, file_path: str):
        self.file_path = file_path


class _TxnCommit(WriterCommitMessage):
    def __init__(self, file: str | None, rows: int, checksum: int):
        self.file = file
        self.rows = rows
        self.checksum = checksum


def _read_plan(options) -> list[str]:
    """Resolve the read-side options to the file set: ``version`` pins
    an as-of (time-travel) snapshot; ``fromVersion``+``toVersion`` pin
    an incremental range (files added in (from, to] and live at to);
    neither = the latest snapshot. The two modes are exclusive."""
    path = options.get("path", "")
    version = options.get("version")
    from_v, to_v = options.get("fromversion"), options.get("toversion")
    if version is not None and (from_v is not None or to_v is not None):
        raise ValueError(
            "hh_txnlog: 'version' (time travel) and 'fromVersion'/"
            "'toVersion' (incremental) are mutually exclusive"
        )
    if (from_v is None) != (to_v is None):
        raise ValueError(
            "hh_txnlog: incremental reads need BOTH fromVersion and "
            "toVersion"
        )
    if from_v is not None:
        return added_live_files(path, int(from_v), int(to_v))
    return live_files(path, int(version) if version is not None else None)


class TxnLogDataSource(DataSource):
    """``spark.read.format("hh_txnlog")`` / ``df.write.format("hh_txnlog")``.

    Options: ``path`` — the table root directory. Read side also takes
    ``version`` (time-travel: the snapshot as of that log version) or
    ``fromVersion``+``toVersion`` (incremental: only files added in
    that range and still live at ``toVersion``).
    """

    @classmethod
    def name(cls) -> str:
        return "hh_txnlog"

    def schema(self) -> str:
        # read-side schema comes from the first planned file's parquet
        # footer (option-aware: a time-travel read infers from the
        # pinned snapshot); an empty plan has no schema to offer
        from hh_rumors_presto_spark import io

        files = _read_plan(self.options)
        if not files:
            raise ValueError(
                "hh_txnlog: cannot infer schema from an empty table "
                "or empty version range"
            )
        return io.read_footer(files[0]).schema

    def reader(self, schema) -> "TxnLogReader":
        return TxnLogReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> "TxnLogWriter":
        return TxnLogWriter(self.options, schema, overwrite)


class TxnLogReader(DataSourceReader):
    def __init__(self, options, schema=None) -> None:
        self.path = options.get("path")
        self.options = options
        # the TABLE schema (inferred once from the first live file) is
        # the row contract; every file must be projected onto it so a
        # file written with the same columns in a different order can
        # never transpose values silently
        self.names = (
            [f.name for f in schema.fields] if schema is not None else None
        )

    def partitions(self):
        return [_FilePartition(p) for p in _read_plan(self.options)]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        table = pq.read_table(partition.file_path)
        names = self.names or table.schema.names
        missing = set(names) - set(table.schema.names)
        if missing:
            raise ValueError(
                f"hh_txnlog: file {partition.file_path} lacks table "
                f"columns {sorted(missing)} — refusing to read"
            )
        table = table.select(names)  # reorder by name, never by position
        for batch in table.to_batches():
            for row in batch.to_pylist():
                yield tuple(row[name] for name in names)


class TxnLogWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool) -> None:
        self.path = options.get("path")
        self.schema = schema
        self.overwrite = overwrite

    def write(self, iterator) -> _TxnCommit:
        """Executor-side: serialize this partition to one parquet file.
        Empty partitions write nothing (file=None) — mirroring Spark's
        own no-file-for-empty-partition behavior sink_compact pins."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        names = [f.name for f in self.schema.fields]
        rows = [dict(zip(names, tuple(r))) for r in iterator]
        if not rows:
            return _TxnCommit(None, 0, 0)
        name = f"part-{uuid.uuid4().hex}.parquet"
        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        import pyarrow.parquet as pq

        pq.write_table(table, os.path.join(data_dir, name))
        # additive checksum over the first LONG-typed column (or row
        # count if none): order-free, mergeable across files
        checksum = 0
        long_cols = [
            f.name for f in self.schema.fields
            if f.dataType.simpleString() in ("bigint", "int", "long")
        ]
        if long_cols:
            c = long_cols[0]
            checksum = sum(int(r[c]) for r in rows if r[c] is not None)
        return _TxnCommit(name, len(rows), checksum)

    def commit(self, messages) -> None:
        """Driver-side: publish ONE atomic log entry for the whole job."""
        adds = [
            {"file": m.file, "rows": m.rows, "checksum": m.checksum}
            for m in messages
            if m is not None and m.file is not None
        ]
        os.makedirs(_log_dir(self.path), exist_ok=True)
        tmp = os.path.join(_log_dir(self.path), f".tmp-{uuid.uuid4().hex}")
        # put-if-absent publish: os.link(tmp, dest) fails with EEXIST if
        # a concurrent committer already claimed this version, in which
        # case we retry at the next version — unlike os.rename, which
        # silently overwrites on POSIX and would lose the loser's commit.
        # The overwrite's remove-list is recomputed INSIDE the loop: a
        # losing overwrite must remove everything live at the version it
        # actually serializes after (including files a concurrent winner
        # just committed), not the snapshot it took before the race.
        version = (_versions(self.path) or [-1])[-1] + 1
        while True:
            removes = (
                [os.path.basename(p) for p in live_files(self.path)]
                if self.overwrite
                else []
            )
            with open(tmp, "w") as fh:
                json.dump(
                    {"version": version, "add": adds, "remove": removes}, fh
                )
            dest = os.path.join(_log_dir(self.path), f"{version}.json")
            try:
                os.link(tmp, dest)  # atomic: dest appears fully written
                break
            except FileExistsError:
                version += 1
        os.remove(tmp)

    def abort(self, messages) -> None:
        """Failed job: remove whatever partitions managed to write; the
        log is untouched, so the table stays at its previous version."""
        for m in messages:
            if m is not None and getattr(m, "file", None):
                try:
                    os.remove(os.path.join(self.path, "data", m.file))
                except OSError:
                    pass
