"""Structured Streaming SOURCE over the manifest lake format (X141) —
the "Delta table as a stream source" shape, built on PySpark 4's Python
DataSource API: offsets are manifest VERSION NUMBERS, each micro-batch
plans exactly the files APPENDED between two committed versions, and the
checkpoint's offset log gives end-to-end exactly-once (a replayed batch
re-plans the identical version range; files are immutable).

Downstream consumers — the continuous half of what
``read_manifest_incremental`` (X130) does for scheduled jobs — follow a
table another pipeline appends to, without listing directories or
re-reading history:

    spark.dataSource.register(ManifestStreamDataSource)
    (spark.readStream.format("manifest_stream")
          .option("path", root)
          .load()
          .writeStream...)

Contract mirrors Delta's streaming source:

* **Append-only by default** — a version range in which files were
  REMOVED (replace / retention / compaction / merge rewrote history)
  raises mid-stream rather than double-counting rewritten rows; pass
  ``.option("ignoreChanges", "true")`` to stream just the added files
  across such a range (rewritten rows may then re-surface — Delta's
  documented ``ignoreChanges`` caveat, verbatim).
* ``.option("startingVersion", N)`` begins after version N (default 0 =
  the table's full history first batch).
* Schema is the table's RECORDED schema at stream start; files written
  before a schema-evolving append read with NULLs in the added columns
  (the read path casts every file to the stream schema via Arrow).
* ``.option("readChangeFeed", "true")`` (X151) streams the row-level
  CHANGE FEED instead of raw appends — Delta's ``readChangeFeed``
  streaming mode, the continuous half of ``read_manifest_changes``
  (X136): each micro-batch walks the commit range one version at a
  time and emits full rows tagged ``change_type`` ∈ {``insert``,
  ``delete``, ``update_preimage``, ``update_postimage``} plus
  ``commit_version`` (Delta's ``_change_type``/``_commit_version``).
  Planning stays METADATA-SIZED and fully partition-local: an append
  plans its added files as ``insert`` partitions; a ``DELETE_DV`` /
  ``UPDATE_DV`` commit plans, per touched file, the positions newly
  recorded in the version's DV sidecar (pre-images read by
  ``Table.take`` on the raw file — positions ARE row indexes), and an
  ``UPDATE_DV``'s appended files become ``update_postimage``
  partitions; row-preserving maintenance (compaction, DV/column
  purges, sidecar consolidation) emits nothing. No cross-file join
  anywhere — the WRITER's commit discipline (one operation name + one
  DV sidecar per version) is what makes the feed reconstructible from
  metadata, the same reason Delta writes change files at commit time.
  With the table's ``change_feed`` property on (X153/X154/X156,
  ``enable_change_feed`` — Delta's ``enableChangeDataFeed``), keyed
  MERGE, key-delete, retention-sweep, replaceWhere, full-REPLACE and
  RESTORE commits record their row-level changes in a ``cdf-``
  sidecar at COMMIT time (Delta's ``_change_data`` files), and the
  stream plans that sidecar as the commit's authoritative change set
  — flowing continuously across every rewrite class. The remaining
  raise is history written BEFORE the property was set (no sidecar
  exists to read): the error points at the batch APIs
  (``read_manifest_changes`` endpoint diff;
  ``read_manifest_table_changes`` per-commit walk, X155), which
  key-join such commits exactly.

Scale posture: offset resolution is the sink's own latest-version walk
(advisory pointer plus forward probe, ``manifest_lake._latest_committed``)
run over ``os`` calls; planning is a file-set difference (O(changed
files)); each planned file becomes one ``InputPartition`` read
executor-side by pyarrow in Arrow batches — no row-at-a-time Python in
the data path. This reader resolves paths with ``os`` (``file:``
scheme); an object-store deployment swaps ``_OsFS`` and the
``_local``-based helpers for fsspec equivalents — the offset/planning
logic is scheme-agnostic.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _local(path: str) -> str:
    """Strip a ``file:`` scheme; refuse remote schemes (this reader's FS
    access is os-based; see the module docstring for the swap point)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    if re.match(r"^[a-z][a-z0-9+.-]*://", path):
        raise ValueError(
            f"manifest_stream reads local paths; got {path!r} — back the "
            "helpers with fsspec for object stores"
        )
    return path


class _OsFS:
    """The calls the sink's latest-version walk
    (``manifest_lake._latest_committed``) makes on its filesystem
    handle, answered with ``os`` on local paths: a trigger poll costs a
    few stat calls and no py4j round-trip."""

    @staticmethod
    def read_text(p: str) -> str:
        with open(p) as fh:  # FileNotFoundError when absent
            return fh.read()

    exists = staticmethod(os.path.exists)
    is_dir = staticmethod(os.path.isdir)
    child_names = staticmethod(os.listdir)


def _latest_committed_version(root: str) -> int | None:
    """Latest committed version: the sink's advisory-pointer walk with
    its forward probe and listing fallback, over ``_OsFS``."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _latest_committed,
    )

    return _latest_committed(_OsFS(), root)[0]


def _committed_in_range(root: str, v0: int, v1: int) -> list[int]:
    """Committed versions in (v0, v1], by direct existence probes —
    O(range) stats instead of an O(history) listing (the CDF walk plans
    one micro-batch's version span, which is small by construction)."""
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _COMMIT_SUFFIX,
        _mf_dir,
        _mf_name,
    )

    mdir = _mf_dir(root)
    return [
        v
        for v in range(v0 + 1, v1 + 1)
        if os.path.exists(f"{mdir}/{_mf_name(v)}{_COMMIT_SUFFIX}")
        and os.path.exists(f"{mdir}/{_mf_name(v)}")
    ]


def _load_meta(root: str, version: int) -> dict:
    # lazily imported like _row_preserving (one classification source)
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _mf_dir,
        _mf_name,
        _require_features,
    )

    with open(f"{_mf_dir(root)}/{_mf_name(version)}") as fh:
        meta = json.load(fh)
    # protocol gate (X157) — pure-read path, reader features only
    _require_features(meta, root)
    return meta


def _entries(root: str, meta: dict) -> list[dict]:
    ents = list(meta.get("files") or [])
    for ref in meta.get("segments") or []:
        with open(f"{root.rstrip('/')}/mf/seg/{ref['name']}") as fh:
            ents.extend(json.load(fh)["files"])
    return ents


def _entry_names(root: str, meta: dict) -> list[str]:
    return [e["name"] for e in _entries(root, meta)]


@dataclass
class _FilePartition(InputPartition):
    path: str
    arrow_schema_bytes: bytes  # serialized target schema (IPC)


@dataclass
class _CdfPartition(InputPartition):
    """One change-feed unit: a whole added file (``positions is None``)
    or the newly-DV'd positions of one surviving file. Positions ride
    the partition (the planner already holds the sidecar rows, and a
    DV delta is deleted-rows-sized by contract — metadata, not data)."""

    path: str
    arrow_schema_bytes: bytes
    change_type: str
    commit_version: int
    positions: tuple | None  # None = whole file


# commits that rewrite/drop files while preserving the visible row set —
# the change feed emits NOTHING for them (rows merely moved between
# files; Delta CDF likewise skips OPTIMIZE/REORG commits)
# the row-preserving commit classification is owned by the sink module
# (sinks/manifest_lake.py:_CDF_ROW_PRESERVING_OPS) and imported lazily
# — planning runs driver-side only, so executors never import the sink
# module; a single shared set means a new commit type picks its
# classification ONCE for both the stream and the per-commit batch
# walk (r17 review)
def _row_preserving() -> set:
    from stock_market_data_pipeline_spark.sinks.manifest_lake import (
        _CDF_ROW_PRESERVING_OPS,
    )

    return _CDF_ROW_PRESERVING_OPS


def _dv_positions(root: str, meta: dict) -> dict[str, set]:
    """file -> deleted positions of a version's DV sidecar (driver-side
    pyarrow read; the sidecar is deleted-rows-sized by the DV contract)."""
    dv = meta.get("dv")
    if not dv:
        return {}
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{root.rstrip('/')}/stats/{dv['sidecar']}",
        columns=["file", "pos"],
    )
    out: dict[str, set] = {}
    for f, p in zip(
        t.column("file").to_pylist(), t.column("pos").to_pylist()
    ):
        out.setdefault(f, set()).add(p)
    return out


class ManifestStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema, options: dict):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        self._root = root
        self._schema_bytes = to_arrow_schema(schema).serialize().to_pybytes()
        self._pa = pa
        self._start_version = int(
            options.get("startingversion")
            or options.get("startingVersion")
            or 0
        )
        flag = str(
            options.get("ignorechanges")
            or options.get("ignoreChanges")
            or "false"
        )
        self._ignore_changes = flag.lower() == "true"
        cdf = str(
            options.get("readchangefeed")
            or options.get("readChangeFeed")
            or "false"
        )
        self._cdf = cdf.lower() == "true"
        if self._cdf and self._ignore_changes:
            raise ValueError(
                "manifest_stream: readChangeFeed and ignoreChanges are "
                "mutually exclusive — the change feed is exact or it "
                "raises; ignoreChanges opts into inexactness"
            )

    def initialOffset(self) -> dict:
        return {"version": self._start_version}

    def latestOffset(self) -> dict:
        v = _latest_committed_version(self._root)
        return {"version": v if v is not None else self._start_version}

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        if v1 <= v0:
            return []
        if self._cdf:
            return self._cdf_partitions(v0, v1)
        old = (
            set(_entry_names(self._root, _load_meta(self._root, v0)))
            if v0 > 0
            else set()
        )
        meta1 = _load_meta(self._root, v1)
        ents1 = _entries(self._root, meta1)
        new = [e["name"] for e in ents1]
        if meta1.get("dv") and not self._ignore_changes:
            # the executor-side pyarrow reader streams RAW file
            # contents — it cannot subtract deletion vectors, so a
            # DV-carrying version would re-surface deleted rows
            raise ValueError(
                f"manifest_stream: v{v1} of {self._root} carries "
                "deletion vectors (delete_where_dv) which a file-level "
                "stream cannot apply — purge_deletion_vectors first, or "
                "set ignoreChanges=true to stream raw file contents"
            )
        removed = old - set(new)
        if removed and not self._ignore_changes:
            raise ValueError(
                f"manifest_stream: versions v{v0}->v{v1} of {self._root} "
                f"are not append-only ({len(removed)} files rewritten or "
                "dropped) — a streaming read would double-count or miss "
                "rows; run maintenance behind the stream's watermark or "
                "set ignoreChanges=true to accept re-surfaced rows"
            )
        # honor a shallow clone's per-entry base (the entry's bytes
        # live in the SOURCE table's data dir)
        data = f"{self._root.rstrip('/')}/data"
        paths = {
            e["name"]: (
                f"{_local(e['base'])}/{e['name']}"
                if e.get("base")
                else f"{data}/{e['name']}"
            )
            for e in ents1
        }
        return [
            _FilePartition(paths[n], self._schema_bytes)
            for n in sorted(set(new) - old)
        ]

    def _cdf_partitions(self, v0: int, v1: int):
        """Plan the change feed for (v0, v1] ONE VERSION AT A TIME —
        change semantics are per-commit (a file appended at v then
        DV-deleted at v+1 must emit its inserts AND those deletes), so
        unlike the raw mode the range never collapses to an endpoint
        diff. Cost: O(versions × entries) driver-side metadata."""
        root = self._root
        parts: list[_CdfPartition] = []
        prev_meta = _load_meta(root, v0) if v0 > 0 else {}
        prev_names = set(_entry_names(root, prev_meta)) if v0 > 0 else set()
        prev_dv = _dv_positions(root, prev_meta) if v0 > 0 else {}
        prev_dv_name = (prev_meta.get("dv") or {}).get("sidecar")

        def _dv_step(meta):
            # most commits carry the dv ref verbatim: re-reading the
            # FULL cumulative sidecar per version step would make a
            # long catch-up batch O(versions x dv_rows) driver-side
            # (r16 review) — reload only when the sidecar name moved
            nonlocal prev_dv, prev_dv_name
            name = (meta.get("dv") or {}).get("sidecar")
            if name != prev_dv_name:
                prev_dv = _dv_positions(root, meta)
                prev_dv_name = name
            return prev_dv
        # walk COMMITTED versions only: a WAP version staged without a
        # marker is invisible to readers and must stay invisible here
        # (direct per-version probes — O(batch span), not O(history))
        steps = _committed_in_range(root, v0, v1)
        for v in steps:
            meta = _load_meta(root, v)
            ents = _entries(root, meta)
            names = {e["name"] for e in ents}
            op = str(meta.get("operation") or "commit")
            if op in _row_preserving():
                # rows moved between files, none changed — emit nothing
                prev_meta, prev_names = meta, names
                _dv_step(meta)
                continue
            if meta.get("cdf") is not None:
                # the WRITER recorded this commit's change rows at
                # commit time (X153, change_feed property — Delta's
                # _change_data files): the sidecar is AUTHORITATIVE
                # for the whole commit, so neither the added files nor
                # the DV delta plan separately (a merge's added bucket
                # files are mostly carried rows — planning them as
                # inserts would double-count)
                sc = (meta["cdf"] or {}).get("sidecar")
                if sc:
                    sdir = f"{root.rstrip('/')}/stats/{sc}"
                    for fn in sorted(os.listdir(sdir)):
                        if fn.startswith((".", "_")) or not fn.endswith(
                            ".parquet"
                        ):
                            continue
                        parts.append(
                            _CdfPartition(
                                f"{sdir}/{fn}",
                                self._schema_bytes,
                                None,  # change_type rides IN the file
                                v,
                                None,
                            )
                        )
                prev_meta, prev_names = meta, names
                _dv_step(meta)
                continue
            removed = prev_names - names
            if removed:
                raise ValueError(
                    f"manifest_stream[readChangeFeed]: v{v} of {root} "
                    f"(operation {op}) rewrote or dropped "
                    f"{len(removed)} files and recorded no change-data "
                    "sidecar — this commit's row-level changes are not "
                    "reconstructible from metadata; enable_change_feed "
                    "BEFORE such writes (keyed merges/deletes, "
                    "retention sweeps, replaceWhere backfills, full "
                    "replaces and restores then record cdf- sidecars, "
                    "X153/X154/X156), or consume this range with the "
                    "batch APIs (read_manifest_changes endpoint diff / "
                    "read_manifest_table_changes per-commit walk) and "
                    "restart the stream past it"
                )
            data = f"{root.rstrip('/')}/data"
            paths = {
                e["name"]: (
                    f"{_local(e['base'])}/{e['name']}"
                    if e.get("base")
                    else f"{data}/{e['name']}"
                )
                for e in ents
            }
            added_ct = "update_postimage" if op == "UPDATE_DV" else "insert"
            for n in sorted(names - prev_names):
                parts.append(
                    _CdfPartition(
                        paths[n], self._schema_bytes, added_ct, v, None
                    )
                )
            old_dv = dict(prev_dv)  # pre-step snapshot for the delta
            dv = _dv_step(meta)
            dv_ct = "update_preimage" if op == "UPDATE_DV" else "delete"
            for n in sorted(set(dv) & prev_names & names):
                fresh = dv[n] - old_dv.get(n, set())
                if fresh:
                    parts.append(
                        _CdfPartition(
                            paths[n],
                            self._schema_bytes,
                            dv_ct,
                            v,
                            tuple(sorted(fresh)),
                        )
                    )
            prev_meta, prev_names = meta, names
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        target = pa.ipc.read_schema(
            pa.py_buffer(partition.arrow_schema_bytes)
        )
        t = pq.read_table(partition.path)
        is_cdf = isinstance(partition, _CdfPartition)
        if is_cdf and partition.positions is not None:
            # DV positions ARE parquet row indexes: Table.take on the
            # raw file yields exactly the changed rows, no join
            t = t.take(list(partition.positions))
        cols = []
        for field in target:
            if is_cdf and field.name == "change_type":
                if partition.change_type is None:
                    # X153 sidecar partition: the change type rides in
                    # the recorded change rows themselves
                    cols.append(
                        t.column("change_type").cast(field.type)
                    )
                    continue
                # constant columns via pa.repeat — never a file-sized
                # Python list
                cols.append(pa.repeat(
                    pa.scalar(partition.change_type, type=field.type),
                    t.num_rows,
                ))
            elif is_cdf and field.name == "commit_version":
                cols.append(pa.repeat(
                    pa.scalar(partition.commit_version, type=field.type),
                    t.num_rows,
                ))
            elif field.name in t.column_names:
                cols.append(t.column(field.name).cast(field.type))
            else:
                # file pre-dates a schema-evolving append: NULL-fill,
                # the parquet evolution contract read_manifest applies
                cols.append(pa.nulls(t.num_rows, type=field.type))
        yield from pa.Table.from_arrays(
            cols, schema=target
        ).to_batches(max_chunksize=1 << 15)

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint's offset log; versions are
        # immutable — nothing to release
        pass


class ManifestStreamDataSource(DataSource):
    """``spark.readStream.format("manifest_stream")`` after
    ``spark.dataSource.register(ManifestStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_stream"

    def _root(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("manifest_stream requires .option('path', root)")
        return _local(path)

    def schema(self):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        root = self._root()
        latest = _latest_committed_version(root)
        if latest is None:
            raise FileNotFoundError(
                f"no committed manifest under {root} — publish a first "
                "version before streaming from the table"
            )
        sj = _load_meta(root, latest).get("schema")
        if not sj:
            raise ValueError(
                f"manifest under {root} records no schema — rewrite via "
                "publish_files to record one"
            )
        st = StructType.fromJson(json.loads(sj))
        cdf = str(
            self.options.get("readchangefeed")
            or self.options.get("readChangeFeed")
            or "false"
        )
        if cdf.lower() == "true":
            # Delta's _change_type/_commit_version, unprefixed to match
            # the batch feed's ``change_type`` column
            for f in (
                StructField("change_type", StringType(), False),
                StructField("commit_version", LongType(), False),
            ):
                if f.name in [g.name for g in st.fields]:
                    raise ValueError(
                        f"table at {root} already has a column named "
                        f"{f.name!r} — it collides with the change-feed "
                        "metadata column"
                    )
                st = StructType(list(st.fields) + [f])
        return st

    def streamReader(self, schema):
        return ManifestStreamReader(self._root(), schema, dict(self.options))
