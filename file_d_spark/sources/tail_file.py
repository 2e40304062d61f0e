"""Tail-follow file source via the Python DataSource API.

Spark's built-in file streaming source lists whole NEW files; the
reference instead tails files as they grow, tracking byte offsets per
file with rotation/truncation handling
(/root/reference/plugin/input/file/worker.go:47, offset.go:51,233).

This DataSource brings that semantics to Structured Streaming:
  * offsets = {path: byte_position} JSON (the reference's offset DB —
    here managed by Spark's checkpoint WAL instead of tmp+fsync+rename)
  * each micro-batch reads [committed, latest] per file, snapped to
    newline boundaries so partial writes never emit half lines
  * truncation (size < committed offset) re-reads from 0, like the
    reference's resetter
  * one InputPartition per grown file -> per-file parallelism

Usage:
    spark.dataSource.register(TailFileDataSource)
    df = (spark.readStream.format("tail_file")
          .option("path", "/var/log/pods").option("glob", "*.log").load())
"""

from __future__ import annotations

import fnmatch
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType


class _TailPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _list_files(
    root: str,
    glob: str,
    dir_pattern: str = "*",
    exclude: list[str] | None = None,
) -> list[str]:
    """Walk ``root`` collecting files whose basename matches ``glob``.

    ``dir_pattern`` filters every directory component below the root
    (file.go:194 joins watchDir/dir_pattern/filename_pattern — one
    configured level; applying it to each level is the superset that
    also covers deeper trees).  ``exclude`` entries are FULL-PATH
    globs (file.go:74, watcher.go:155: an excluded path wins over any
    include match)."""
    out = []
    exclude = exclude or []
    for dirpath, dirs, files in os.walk(root):
        if dir_pattern != "*":
            dirs[:] = [d for d in dirs if fnmatch.fnmatch(d, dir_pattern)]
        for name in files:
            if not fnmatch.fnmatch(name, glob):
                continue
            path = os.path.join(dirpath, name)
            if any(fnmatch.fnmatch(path, pat) for pat in exclude):
                continue
            out.append(path)
    return sorted(out)


def _newline_boundary(path: str, size: int) -> int:
    """Largest offset <= size ending on a newline (0 if none)."""
    if size <= 0:
        return 0
    chunk = 64 * 1024
    with open(path, "rb") as fh:
        pos = size
        while pos > 0:
            read_from = max(0, pos - chunk)
            fh.seek(read_from)
            buf = fh.read(pos - read_from)
            idx = buf.rfind(b"\n")
            if idx >= 0:
                return read_from + idx + 1
            pos = read_from
    return 0


class TailResetter:
    """Runtime offset resetter — the control-plane half of the
    reference's /reset endpoint
    (/root/reference/plugin/input/file/resetter.go:19-100,
    file.go:204: mounted at /pipelines/<name>/0/reset).

    The reference truncates in-memory jobs / rewrites its offsets DB;
    here the offset state lives in Spark's checkpoint WAL, which
    nothing may edit in place, so a reset is a REQUEST FILE dropped
    into ``reset_dir``: the stream reader picks pending requests up at
    the next micro-batch boundary, forces the matched files to re-read
    from byte 0 (the WAL then commits the new positions), and deletes
    each request once the batch that applied it commits — at-least-
    once, surviving restarts mid-reset.

    Selector semantics mirror the reference's request body: an empty
    request truncates ALL files; ``inode`` matches the live st_ino of
    tracked files; ``source_id`` matches entries of the imported
    file.d offsets file (the only place source_ids exist over here);
    ``file`` matches by path — the portable key in this engine.
    """

    def __init__(self, reset_dir: str):
        self.reset_dir = reset_dir
        os.makedirs(reset_dir, exist_ok=True)
        self._seq = 0

    def reset(
        self,
        file: str | None = None,
        inode: int | None = None,
        source_id: int | None = None,
    ) -> str:
        """Write one reset request; returns its path.  No selector =
        reset everything (resetter.go:75 truncateAll)."""
        import time as _time

        req = {}
        if file:
            req["file"] = file
        if inode:
            req["inode"] = int(inode)
        if source_id:
            req["source_id"] = int(source_id)
        self._seq += 1
        final = os.path.join(
            self.reset_dir, f"reset-{_time.time_ns()}-{self._seq}.json"
        )
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(req, fh)
        os.rename(tmp, final)  # readers never see half-written requests
        return final


class TailFileStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("tail_file requires option 'path'")
        self.glob = options.get("glob", "*")
        self.dir_pattern = options.get("dir_pattern", "*")
        # JSON array of full-path globs (paths.exclude, file.go:74)
        self.exclude = json.loads(options.get("exclude", "[]"))
        # runtime resets (see TailResetter): directory polled at each
        # micro-batch boundary for reset request files
        self.reset_dir = options.get("reset_dir")
        # drop-in swap from a running file.d deployment: its offsets
        # file (plugin/input/file/offset.go format) seeds the FIRST
        # checkpoint so already-delivered bytes aren't re-read; once a
        # checkpoint exists, Spark's WAL owns the positions and this
        # option is ignored (initialOffset is only consulted on a
        # fresh checkpoint).
        self.offsets_file = options.get("offsets_file")
        # reference offsets_op (file.go:63-69,128): continue = use the
        # offsets file; tail = start at end-of-file (newline-snapped,
        # like the reference's skip-to-next-line after SeekEnd);
        # reset = start every file from 0, ignoring saved offsets
        self.offsets_op = options.get("offsets_op", "continue")
        if self.offsets_op not in ("continue", "tail", "reset"):
            raise ValueError(
                f"offsets_op must be continue|tail|reset, got "
                f"{self.offsets_op!r}"
            )

    def initialOffset(self) -> dict:
        if self.offsets_op == "tail":
            # everything already in the files is old news; begin at the
            # current newline boundary of each existing file
            return self.latestOffset()
        if self.offsets_op == "continue" and self.offsets_file:
            from file_d_spark.sources.offsets import load_initial_positions

            return {"files": load_initial_positions(self.offsets_file)}
        return {"files": {}}

    def latestOffset(self) -> dict:
        files = {}
        for path in _list_files(
            self.root, self.glob, self.dir_pattern, self.exclude
        ):
            try:
                size = os.path.getsize(path)
            except OSError:
                continue
            files[path] = _newline_boundary(path, size)
        out = {"files": files}
        if self.reset_dir and os.path.isdir(self.reset_dir):
            # pending reset requests must SCHEDULE a batch even when no
            # file grew (the engine skips batches whose end offset
            # equals the committed one) — fold the request names into
            # the offset so a reset alone makes end != start
            pending = sorted(
                n for n in os.listdir(self.reset_dir) if n.endswith(".json")
            )
            if pending:
                out["resets"] = pending
        return out

    def _unlink_requests(self, names: list[str]) -> None:
        if not self.reset_dir:
            return
        for name in names:
            try:
                os.unlink(os.path.join(self.reset_dir, name))
            except OSError:
                pass

    def _resets_for(self, names: list[str], tracked: list[str]) -> set[str]:
        """Resolve the reset request files PINNED INTO the batch's end
        offset (latestOffset listed them) to the file paths that must
        re-read from byte 0.  An empty request body means ALL tracked
        files (resetter.go:75 truncateAll); ``inode`` matches live
        st_ino; ``source_id`` matches the imported file.d offsets
        entries.  Requests deleted since (already-committed batches)
        simply resolve to nothing — replay after commit never happens.
        """
        reqs = []
        for name in names:
            try:
                with open(os.path.join(self.reset_dir, name)) as fh:
                    reqs.append(json.load(fh))
            except (OSError, ValueError):
                continue
        if not reqs:
            return set()
        to_reset: set[str] = set()
        by_source_id: dict[int, str] = {}
        if any(r.get("source_id") for r in reqs) and self.offsets_file:
            from file_d_spark.sources.offsets import parse_offsets

            try:
                with open(self.offsets_file) as fh:
                    for e in parse_offsets(fh.read()):
                        by_source_id[e["source_id"]] = e["file"]
            except (OSError, ValueError):
                pass
        for req in reqs:
            if not any(req.get(k) for k in ("file", "inode", "source_id")):
                to_reset.update(tracked)  # truncateAll
                continue
            if req.get("file"):
                to_reset.add(req["file"])
            if req.get("inode"):
                for path in tracked:
                    try:
                        if os.stat(path).st_ino == int(req["inode"]):
                            to_reset.add(path)
                    except OSError:
                        continue
            if req.get("source_id") and by_source_id:
                hit = by_source_id.get(int(req["source_id"]))
                if hit:
                    to_reset.add(hit)
        return to_reset

    def partitions(self, start: dict, end: dict) -> list[_TailPartition]:
        start_files = start.get("files", {})
        end_files = end.get("files", {})
        # requests applied by the PREVIOUS batch (start is its durable
        # end offset) are done — remove them; stateless, so it holds
        # even when partitions/commit land on different reader
        # instances
        self._unlink_requests(start.get("resets", []))
        reset = (
            self._resets_for(end.get("resets", []), list(end_files))
            if self.reset_dir and end.get("resets")
            else set()
        )
        parts = []
        for path, end_off in end_files.items():
            begin = start_files.get(path, 0)
            if end_off < begin:
                begin = 0  # truncation/rotation: re-read
            if path in reset:
                begin = 0  # runtime reset request: re-read from 0
            if end_off > begin:
                parts.append(_TailPartition(path, begin, end_off))
        if not parts:
            # Spark requires >=1 partition per batch; emit an empty one
            parts.append(_TailPartition("", 0, 0))
        return parts

    def read(self, partition: _TailPartition):
        if not partition.path:
            return
        with open(partition.path, "rb") as fh:
            fh.seek(partition.start)
            data = fh.read(partition.end - partition.start)
        offset = partition.start
        for line in data.split(b"\n"):
            if not line and offset + 1 >= partition.end:
                break
            yield (line.decode("utf-8", "replace"), partition.path, offset)
            offset += len(line) + 1

    def commit(self, end: dict) -> None:
        # checkpoint WAL is the offset DB; applied reset requests are
        # cleaned up here (and again at the next partitions() — commit
        # may land on a different reader instance, so cleanup is
        # stateless, keyed on the names pinned into the offset)
        self._unlink_requests(end.get("resets", []))


class TailFileDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tail_file"

    def schema(self) -> str:
        return "value string, file string, offset long"

    def streamReader(self, schema: StructType) -> TailFileStreamReader:
        return TailFileStreamReader(self.options)
