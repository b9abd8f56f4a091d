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
- **time travel / resume**: any snapshot id can be read back; the crawl
  engine commits one snapshot per round, which IS the checkpoint
  (north_star: resumable mid-crawl);
- **per-partition lineage**: commit metadata records per-file row counts
  read from parquet footers (no extra Spark job), plus arbitrary
  engine-supplied state (round number, domain cursors).

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


def _footer_stats(md) -> dict:
    """JSON-storable per-file column min/max, merged across row groups.
    Only string/int columns are recorded (the table keys — host, url_key,
    session, gen — are these; floats/binaries don't drive point lookups).
    A column with any stats-less or non-storable chunk is omitted, which
    read-side pruning treats as "may contain anything" (fail-safe)."""
    out: dict = {}
    bad: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:      # nested: skip
                continue
            st = col.statistics
            if (st is None or not st.has_min_max
                    or not isinstance(st.min, (str, int))
                    or isinstance(st.min, bool)):
                bad.add(name)
                out.pop(name, None)
                continue
            lo, hi = st.min, st.max
            if name in out:
                lo, hi = min(lo, out[name][0]), max(hi, out[name][1])
            out[name] = [lo, hi]
    return out


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
        ``files_delta`` + ``files_reset``; use ``snapshot()`` /
        ``current_snapshot()`` for a record with the full ``files`` list
        materialized). Storing full lists per snapshot made _meta.json —
        rewritten on EVERY commit — grow O(commits^2): measured as the
        round checkpoint cost climbing every crawl round."""
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

    def _hydrated(self, meta: dict, snap: "dict | None") -> "dict | None":
        if snap is None:
            return None
        out = dict(snap)
        out["files"] = self._files_at(meta["snapshots"], snap["id"])
        return out

    def current_snapshot(self) -> "dict | None":
        m = self._load_meta()
        for s in m["snapshots"]:
            if s["id"] == m["current"]:
                return self._hydrated(m, s)
        return None

    def snapshot(self, snapshot_id: int) -> "dict | None":
        m = self._load_meta()
        for s in m["snapshots"]:
            if s["id"] == snapshot_id:
                return self._hydrated(m, s)
        return None

    # -- writes -------------------------------------------------------
    def _write_data(self, df, round_no: int) -> "tuple[str, list]":
        rel = f"data/r{round_no:05d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, rel)
        df.write.mode("overwrite").parquet(out)
        # per-file lineage + column min/max from parquet footers — no
        # extra Spark job. The stats are what Iceberg keeps per data file
        # in its manifests; ``read(..., eq=...)`` uses them to skip files
        # at planning time (manifest-level pruning), the layout feature a
        # per-host point query at 10 TB lives on.
        files = []
        for f in pads.dataset(out, format="parquet").files:
            md = papq.ParquetFile(f).metadata
            files.append({"file": os.path.relpath(f, self.path),
                          "rows": md.num_rows,
                          "stats": _footer_stats(md)})
        return rel, files

    def _new_snapshot(self, data_dirs: list, round_no: int, op: str,
                      files_delta: list, state: "dict | None",
                      files_reset: bool = False) -> int:
        """Commit a snapshot. ``files_delta`` lists only the files THIS
        commit adds (``files_reset`` starts the lineage over — overwrite /
        compaction); the full list is replayed on read (``_files_at``).
        A ``state`` payload's ``dom`` dict is externalized to one
        write-once JSON file per checkpoint and referenced as
        ``dom_ref`` — _meta.json is rewritten on every commit, so holding
        every round's O(hosts) dict inline made the per-round commit cost
        O(rounds x hosts) (measured growing every round); the small
        events/metrics deltas stay inline."""
        meta = self._load_meta()
        last = meta["snapshots"][-1] if meta["snapshots"] else None
        sid = (last["id"] + 1) if last else 0
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
            "round": round_no,
            "op": op,
            "data": data_dirs,
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

    def append(self, df, round_no: int = 0,
               state: "dict | None" = None) -> "tuple[int, str]":
        """Commit an append snapshot; returns (snapshot_id, new data dir) so
        callers can cheaply re-read just the delta."""
        meta = self._load_meta()
        last = meta["snapshots"][-1] if meta["snapshots"] else None
        prev_dirs = last["data"] if last else []
        rel, files = self._write_data(df, round_no)
        sid = self._new_snapshot(prev_dirs + [rel], round_no, "append",
                                 files, state)
        return sid, os.path.join(self.path, rel)

    def overwrite(self, df, round_no: int = 0,
                  state: "dict | None" = None) -> "tuple[int, str]":
        rel, files = self._write_data(df, round_no)
        sid = self._new_snapshot([rel], round_no, "overwrite", files, state,
                                 files_reset=True)
        return sid, os.path.join(self.path, rel)

    def commit_state(self, round_no: int, state: dict) -> int:
        """Metadata-only snapshot (no data change) — used for driver-side
        domain-state checkpoints. Inherits the parent's data/file lineage
        without copying it."""
        meta = self._load_meta()
        last = meta["snapshots"][-1] if meta["snapshots"] else None
        return self._new_snapshot(last["data"] if last else [], round_no,
                                  "state", [], state)

    # -- reads --------------------------------------------------------
    def read(self, spark, snapshot_id: "int | None" = None,
             eq: "dict | None" = None):
        """DataFrame of the table at a snapshot (default: current).
        Returns None when the table has no data yet.

        ``eq`` ({column: value}, all conjunctive) enables manifest-level
        file skipping: only data files whose footer [min, max] range can
        contain every value are scanned — the Iceberg manifest-pruning
        behavior, so a per-host point query over a long-lived table reads
        a handful of files instead of every delta. Files with no recorded
        stats for a column are kept (fail-safe), and the caller still
        applies the actual filter — pruning is a scan reduction, never a
        semantic one."""
        snap = (self.snapshot(snapshot_id) if snapshot_id is not None
                else self.current_snapshot())
        if not snap or not snap["data"]:
            return None
        if not eq or not snap.get("files"):
            # no predicate, or file lineage unavailable: full snapshot scan
            dirs = [os.path.join(self.path, d) for d in snap["data"]]
            return spark.read.parquet(*dirs)
        files = self.prune_files(snap, eq)
        if not files:
            # no file can contain the values: an empty frame with the
            # table's schema (read metadata only, skip all rows)
            dirs = [os.path.join(self.path, d) for d in snap["data"]]
            return spark.read.parquet(*dirs).limit(0)
        return spark.read.parquet(*files)

    def prune_files(self, snap: dict, eq: dict) -> list:
        """Absolute paths of the snapshot's data files whose stats ranges
        may contain every {column: value} in ``eq``."""
        kept = []
        for f in snap.get("files", []):
            stats = f.get("stats") or {}
            keep = True
            for col, val in eq.items():
                rng = stats.get(col)
                if rng is not None and not (rng[0] <= val <= rng[1]):
                    keep = False
                    break
            if keep:
                kept.append(os.path.join(self.path, f["file"]))
        return kept

    def compact(self, spark, round_no: int = 0,
                target_files: "int | None" = None,
                sort_cols: "list | None" = None) -> "int | None":
        """Iceberg ``rewrite_data_files`` equivalent: rewrite the current
        snapshot's accumulated delta files (one dir per append at the
        writing job's parallelism — many small files over a long-lived
        table) into one fresh data dir, committed as a ``compact``
        snapshot with the file lineage reset. Same rows, new layout;
        time travel to pre-compaction snapshots and ``rollback`` keep
        working because old data dirs are only removed by an explicit
        ``expire_before``. ``sort_cols`` sorts within output files so the
        per-file min/max footer stats become selective for ``read(eq=)``
        manifest pruning (the Iceberg sort-order + rewrite recipe).
        Returns the new snapshot id, or None for an empty table."""
        cur = self.current_snapshot()
        if not cur or not cur["data"]:
            return None
        df = spark.read.parquet(
            *[os.path.join(self.path, d) for d in cur["data"]])
        if target_files:
            df = (df.repartitionByRange(target_files, *sort_cols)
                  if sort_cols else df.repartition(target_files))
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        rel, files = self._write_data(df, round_no)
        return self._new_snapshot([rel], round_no, "compact", files, None,
                                  files_reset=True)

    def rollback(self, snapshot_id: "int | None"):
        """Iceberg ``rollback_to_snapshot`` equivalent: make snapshot_id the
        head again, drop newer snapshots, and GC their orphaned data dirs.
        ``None`` truncates the table to empty (rollback past the first
        commit). Used by crash recovery to discard aborted-round deltas."""
        meta = self._load_meta()
        if snapshot_id is not None and not any(
                s["id"] == snapshot_id for s in meta["snapshots"]):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        keep_snaps = ([] if snapshot_id is None else
                      [s for s in meta["snapshots"] if s["id"] <= snapshot_id])
        keep_dirs = {d for s in keep_snaps for d in s["data"]}
        meta["snapshots"] = keep_snaps
        meta["current"] = snapshot_id
        self._commit(meta)
        data_root = os.path.join(self.path, "data")
        for d in os.listdir(data_root):
            if f"data/{d}" not in keep_dirs:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)

    def expire_before(self, keep_snapshot_id: int):
        """GC data dirs unreachable from snapshots >= keep_snapshot_id
        (Iceberg expire_snapshots equivalent). keep_snapshot_id is clamped
        to the current snapshot so the table's head always survives expiry
        (an id past the head would otherwise silently empty the table)."""
        meta = self._load_meta()
        if meta.get("current") is not None:
            keep_snapshot_id = min(keep_snapshot_id, meta["current"])
        keep = {d for s in meta["snapshots"] if s["id"] >= keep_snapshot_id
                for d in s["data"]}
        meta["snapshots"] = [s for s in meta["snapshots"]
                             if s["id"] >= keep_snapshot_id]
        self._commit(meta)
        data_root = os.path.join(self.path, "data")
        for d in os.listdir(data_root):
            if f"data/{d}" not in keep:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)


class Catalog:
    """A warehouse directory of icelite tables."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.warehouse, name)

    def tables(self) -> list:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )
