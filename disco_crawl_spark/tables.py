"""Snapshot-versioned parquet tables — "icelite", an Iceberg-shaped shim.

SURVEY.md §7 step 0: no Iceberg runtime jar is available in this sandbox, so
this module provides the subset of Iceberg semantics the engine needs, with
the same API shape, over plain parquet + JSON manifests:

- **snapshot-per-commit**: every append/overwrite writes new parquet data
  dirs and commits a new immutable snapshot listing its data dirs; readers
  see only committed snapshots (atomic via temp-file + rename of the
  manifest);
- **cheap appends**: an append snapshot = parent's data dirs + new dirs (no
  rewrite), exactly like Iceberg manifests;
- **time travel / resume**: any snapshot id can be read back, and
  ``rollback`` makes an older one the head again; the crawl engine's
  round checkpoint is one ``commit_state`` snapshot that names every
  state table's head, and resume rolls each table back to it
  (north_star: resumable mid-crawl);
- **per-partition lineage**: each commit records its data files as
  ``{file, rows}`` entries, row counts read from parquet footers (no
  extra Spark job), plus engine-supplied state on ``commit_state``
  snapshots (domain state, event/metric deltas, table heads).

At production scale this maps 1:1 onto Iceberg: append→fast-append commit,
overwrite→REPLACE, meta→snapshot summary, read(snapshot)→time travel. Swap
``Catalog`` for an Iceberg catalog and the engine code does not change.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.dataset as pads
import pyarrow.parquet as papq


class Table:
    def __init__(self, root: str, name: str):
        self.name = name
        self.path = os.path.join(root, name)
        os.makedirs(os.path.join(self.path, "data"), exist_ok=True)

    # -- manifest handling -------------------------------------------
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_meta.json")

    def _load_meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {"current": None, "snapshots": []}
        with open(self._meta_path) as f:
            return json.load(f)

    def _commit(self, meta: dict):
        tmp = self._meta_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path)  # atomic on POSIX

    # -- inspection ---------------------------------------------------
    def history(self) -> list:
        """Raw snapshot records (file lineage stored as per-commit DELTAS:
        ``files_delta`` + ``files_reset``; use ``snapshot()`` for a record
        with the full ``files`` list materialized). Storing full lists per
        snapshot made _meta.json — rewritten on EVERY commit — grow
        O(commits^2): measured as the round checkpoint cost climbing
        every crawl round."""
        return self._load_meta()["snapshots"]

    @staticmethod
    def _files_at(snapshots: list, snapshot_id: int) -> list:
        """Replay file-lineage deltas up to and including snapshot_id."""
        cur: list = []
        for s in snapshots:
            if s["id"] > snapshot_id:
                break
            if s.get("files_reset"):
                cur = list(s.get("files_delta") or [])
            else:
                cur = cur + list(s.get("files_delta") or [])
        return cur

    def snapshot(self, snapshot_id: "int | None" = None) -> "dict | None":
        """The snapshot record with its ``files`` list materialized
        (default: the head); None when there is no such snapshot."""
        m = self._load_meta()
        if snapshot_id is None:
            snapshot_id = m["current"]
        for s in m["snapshots"]:
            if s["id"] == snapshot_id:
                return {**s, "files": self._files_at(m["snapshots"], s["id"])}
        return None

    # -- writes -------------------------------------------------------
    def _write_data(self, df) -> "tuple[str, list]":
        rel = f"data/{uuid.uuid4().hex}"
        out = os.path.join(self.path, rel)
        df.write.mode("overwrite").parquet(out)
        # per-file lineage: row counts from parquet footers, no extra
        # Spark job
        files = [{"file": os.path.relpath(f, self.path),
                  "rows": papq.ParquetFile(f).metadata.num_rows}
                 for f in pads.dataset(out, format="parquet").files]
        return rel, files

    def _new_snapshot(self, op: str, data_dir: "str | None" = None,
                      files_delta: "list | None" = None,
                      files_reset: bool = False,
                      state: "dict | None" = None) -> int:
        """Commit a snapshot. ``data_dir``/``files_delta`` are what THIS
        commit adds; ``files_reset`` starts the data dirs and the lineage
        over (overwrite / compaction), otherwise both extend the parent's.
        The full file list is replayed on read (``_files_at``).
        A ``state`` payload's ``dom`` dict is externalized to one
        write-once JSON file per checkpoint and referenced as
        ``dom_ref`` — _meta.json is rewritten on every commit, so holding
        every round's O(hosts) dict inline made the per-round commit cost
        O(rounds x hosts) (measured growing every round); the small
        events/metrics deltas stay inline."""
        meta = self._load_meta()
        last = meta["snapshots"][-1] if meta["snapshots"] else None
        sid = (last["id"] + 1) if last else 0
        files_delta = files_delta or []
        data = [] if files_reset or not last else list(last["data"])
        if data_dir is not None:
            data.append(data_dir)
        if files_reset:
            rows = sum(f["rows"] for f in files_delta) if files_delta else None
        else:
            rows = ((last.get("rows") or 0) if last else 0) + \
                sum(f["rows"] for f in files_delta)
        if state and "dom" in state:
            dom_rel = f"state/s{sid:06d}.json"
            dom_abs = os.path.join(self.path, dom_rel)
            os.makedirs(os.path.dirname(dom_abs), exist_ok=True)
            with open(dom_abs, "w") as f:
                json.dump({"dom": state["dom"]}, f)
            state = {k: v for k, v in state.items() if k != "dom"}
            state["dom_ref"] = dom_rel
        snap = {
            "id": sid,
            "parent": meta["current"],
            "op": op,
            "data": data,
            "files_delta": files_delta,
            "files_reset": files_reset,
            "rows": rows,
            "state": state or {},
        }
        meta["snapshots"].append(snap)
        meta["current"] = sid
        self._commit(meta)
        return sid

    def load_state(self, snap_state: dict) -> dict:
        """Materialize a snapshot's state payload (resolving ``dom_ref``)."""
        st = dict(snap_state)
        ref = st.pop("dom_ref", None)
        if ref is not None:
            with open(os.path.join(self.path, ref)) as f:
                st["dom"] = json.load(f)["dom"]
        return st

    def append(self, df) -> "tuple[int, str]":
        """Commit an append snapshot; returns (snapshot_id, new data dir) so
        callers can cheaply re-read just the delta."""
        rel, files = self._write_data(df)
        sid = self._new_snapshot("append", rel, files)
        return sid, os.path.join(self.path, rel)

    def overwrite(self, df) -> "tuple[int, str]":
        rel, files = self._write_data(df)
        sid = self._new_snapshot("overwrite", rel, files, files_reset=True)
        return sid, os.path.join(self.path, rel)

    def commit_state(self, state: dict) -> int:
        """Metadata-only snapshot (no data change) — used for driver-side
        round checkpoints. Inherits the parent's data/file lineage
        without copying it."""
        return self._new_snapshot("state", state=state)

    # -- reads --------------------------------------------------------
    def read(self, spark, snapshot_id: "int | None" = None):
        """DataFrame of the table at a snapshot (default: current).
        Returns None when the table has no data yet."""
        snap = self.snapshot(snapshot_id)
        if not snap or not snap["data"]:
            return None
        return spark.read.parquet(
            *[os.path.join(self.path, d) for d in snap["data"]])

    def compact(self, spark, target_files: "int | None" = None,
                sort_cols: "list | None" = None) -> "int | None":
        """Iceberg ``rewrite_data_files`` equivalent: rewrite the current
        snapshot's accumulated delta files (one dir per append at the
        writing job's parallelism — many small files over a long-lived
        table) into one fresh data dir, committed as a ``compact``
        snapshot with the file lineage reset. Same rows, new layout;
        time travel to pre-compaction snapshots and ``rollback`` keep
        working because old data dirs are only removed by an explicit
        ``expire_before``. ``sort_cols`` range-partitions and sorts the
        output files (the Iceberg sort-order + rewrite recipe), so a
        filter on them skips row groups by their parquet footer stats.
        Returns the new snapshot id, or None for an empty table."""
        cur = self.snapshot()
        if not cur or not cur["data"]:
            return None
        df = spark.read.parquet(
            *[os.path.join(self.path, d) for d in cur["data"]])
        if target_files:
            df = (df.repartitionByRange(target_files, *sort_cols)
                  if sort_cols else df.repartition(target_files))
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        rel, files = self._write_data(df)
        return self._new_snapshot("compact", rel, files, files_reset=True)

    def _retain(self, meta: dict, snapshots: list):
        """Commit ``snapshots`` as the whole history, then GC every data
        dir none of them lists — including a dir whose write finished but
        whose snapshot never committed."""
        meta["snapshots"] = snapshots
        self._commit(meta)
        keep = {d for s in snapshots for d in s["data"]}
        data_root = os.path.join(self.path, "data")
        for d in os.listdir(data_root):
            if f"data/{d}" not in keep:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)

    def rollback(self, snapshot_id: "int | None"):
        """Iceberg ``rollback_to_snapshot`` equivalent: make snapshot_id the
        head again, drop newer snapshots, and GC their orphaned data dirs.
        ``None`` truncates the table to empty (rollback past the first
        commit). Crash recovery rolls each state table back to the head
        the engine's round checkpoint names."""
        meta = self._load_meta()
        if snapshot_id is not None and not any(
                s["id"] == snapshot_id for s in meta["snapshots"]):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        meta["current"] = snapshot_id
        self._retain(meta, [] if snapshot_id is None else
                     [s for s in meta["snapshots"] if s["id"] <= snapshot_id])

    def expire_before(self, keep_snapshot_id: int):
        """GC data dirs unreachable from snapshots >= keep_snapshot_id
        (Iceberg expire_snapshots equivalent). keep_snapshot_id is clamped
        to the current snapshot so the table's head always survives expiry
        (an id past the head would otherwise silently empty the table)."""
        meta = self._load_meta()
        if meta["current"] is not None:
            keep_snapshot_id = min(keep_snapshot_id, meta["current"])
        self._retain(meta, [s for s in meta["snapshots"]
                            if s["id"] >= keep_snapshot_id])


class Catalog:
    """A warehouse directory of icelite tables."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.warehouse, name)
