"""Partitioned graph tables: snapshot writes, MERGE upsert, checkpoint/resume.

Replaces the reference's Neo4j sink (``neo4j_service.py:62-310``) with
Iceberg-style partitioned parquet tables (the sandbox has no Iceberg catalog;
layout and commit protocol mirror it):

- nodes/edges partitioned by ``graph_id`` → every query's `MATCH (g {id})`
  prefix becomes partition pruning (S12/S13, SURVEY.md §4)
- S10 CREATE = commit the incoming graph_id partitions; S11 MERGE =
  current partition ∪ incoming → one keyed aggregate (per node_id, resp.
  (src, dst, rel_type)) → committed through the same CREATE path
  (idempotent; COLUMN-wise merge — incoming non-null wins per column, props
  included, mirroring Neo4j ``SET n += props`` which only overwrites
  provided keys; keep-existing-non-empty label/type on identity —
  neo4j_service.py:132-141)
- a ``_manifest`` table mirrors the reference's ``.processed_files`` ledger
  (auto_processor.py:843-883): one row per committed (stage, unit); re-runs
  skip committed units → the resume contract of the north rule.

Commit protocol (partition-scoped copy-on-write — the 100 TB shape):
partition data lives in immutable version dirs
``<root>/<table>/data/graph_id=<g>/v=<snap>/``; each snapshot is a tiny
manifest ``<root>/<table>/snapshot=<n>/_MANIFEST.json`` mapping every live
graph_id to its current version dir, plus a ``_COMMITTED`` marker written
last. A MERGE into one graph on a 10k-graph warehouse therefore writes ONE
partition's files and a manifest that re-references the other 9 999 —
no whole-table rewrite, exactly Iceberg's overwritePartitions/RewriteFiles.
DELETE is a manifest-only commit (zero data writes). A killed write is
invisible (readers only trust the marker), and reads pin the manifest's file
set, so concurrent commits never tear a scan.

Each table has one layout. Graph tables (nodes, edges, the entity index,
the stream-curation partitions) commit only through
``upsert_graph_partitions``, and every method that reads or drops their
partitions refuses, with ValueError, a snapshot that has no partition
manifest. Tables written with ``write_snapshot`` (raw_extract, triples,
metrics, …) keep whole-dir snapshots — they are per-run artifacts, not
upsert targets.

Reads go through ``spark.read.option("basePath", …)`` over the manifest's
version dirs, so ``graph_id`` stays a partition column and `MATCH`-prefix
filters still prune at scan (pinned by test_graph_table_partition_pruning).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class GraphStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- snapshot plumbing ---------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snapshots(self, table: str) -> list[int]:
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for name in os.listdir(tdir):
            if name.startswith("snapshot="):
                snap = int(name.split("=", 1)[1])
                if os.path.exists(os.path.join(tdir, name, "_COMMITTED")):
                    out.append(snap)
        return sorted(out)

    def current_snapshot(self, table: str) -> int | None:
        snaps = self._snapshots(table)
        return snaps[-1] if snaps else None

    def _snapshot_path(self, table: str, snap: int) -> str:
        return os.path.join(self._table_dir(table), f"snapshot={snap}")

    def _data_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "data")

    def _manifest_file(self, table: str, snap: int) -> str:
        return os.path.join(self._snapshot_path(table, snap), "_MANIFEST.json")

    def _manifest(self, table: str, snap: int) -> dict:
        """The partition manifest of graph table ``table`` at ``snap``.
        Raises ValueError for a whole-dir snapshot: a partition commit over
        one would drop every graph it holds from later reads."""
        try:
            with open(self._manifest_file(table, snap)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"table {table} snapshot {snap} has no partition manifest: "
                "it is a whole-dir table, not a graph table"
            ) from None

    def _commit(self, table: str, snap: int, manifest: dict | None = None) -> None:
        """Make ``snap`` visible: write its partition manifest (graph tables),
        then the ``_COMMITTED`` marker — last, as readers trust only it."""
        spath = self._snapshot_path(table, snap)
        if manifest is not None:
            os.makedirs(spath, exist_ok=True)
            with open(self._manifest_file(table, snap), "w") as f:
                json.dump(manifest, f, indent=1, sort_keys=True)
        with open(os.path.join(spath, "_COMMITTED"), "w") as f:
            json.dump({"snapshot": snap, "committed_at": time.time()}, f)

    def write_snapshot(self, table: str, df: DataFrame) -> int:
        """Commit ``df`` as a new whole-dir snapshot of ``table`` (per-run
        artifacts: raw_extract, triples, metrics, …); returns the snapshot
        id. The _COMMITTED marker is written only after the parquet job
        succeeds, so partial writes never become visible (resume-safe)."""
        cur = self.current_snapshot(table)
        snap = (cur + 1) if cur is not None else 0
        df.write.mode("overwrite").parquet(self._snapshot_path(table, snap))
        self._commit(table, snap)
        return snap

    def upsert_graph_partitions(
        self, table: str, df: DataFrame, *,
        sort_within: tuple[str, ...] = (),
        sub_partition: tuple[str, ...] = (),
        drop_ids: tuple[str, ...] = (),
    ) -> set[str]:
        """The one commit of a graph_id-partitioned table: write df's
        graph_id partitions as immutable ``v=<snap>`` version dirs (ONE Spark
        job, partitionBy) and commit a manifest referencing them plus every
        untouched partition's existing files. ``drop_ids`` removes
        partitions manifest-only (a partition also present in df survives —
        written data wins); pass the target graph_id when an empty rebuild
        must not leave a stale partition referenced. ``sub_partition`` adds
        secondary partition columns BELOW the version dir
        (``graph_id=g/v=n/<sub>=x/...``) — commit granularity stays per
        graph_id, while reads still prune on the sub keys (used by the entity
        token index, partitioned (graph_id, tok_prefix)).
        Returns the graph_ids written."""
        cur = self.current_snapshot(table)
        old = self._manifest(table, cur)["partitions"] if cur is not None else {}
        snap = (cur + 1) if cur is not None else 0
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        tmp = os.path.join(self._table_dir(table), f"_tmp-{snap}")
        df.write.mode("overwrite").partitionBy("graph_id", *sub_partition).parquet(tmp)
        changed: dict[str, str] = {}
        os.makedirs(self._data_dir(table), exist_ok=True)
        for name in sorted(os.listdir(tmp)):
            if not name.startswith("graph_id="):
                continue
            # manifest keys are the UNESCAPED graph_id (Spark hive-escapes
            # special chars in partition dir names: 'a/b' → 'a%2Fb')
            gid = unquote(name.split("=", 1)[1])
            part_dir = os.path.join(self._data_dir(table), name)
            os.makedirs(part_dir, exist_ok=True)
            dest = os.path.join(part_dir, f"v={snap}")
            # a crashed previous attempt (died before _COMMITTED) can leave
            # an unreferenced dest dir with this snap number — it is garbage
            # by construction (no committed manifest points at it), so
            # replace it instead of wedging every retry with ENOTEMPTY
            if os.path.exists(dest):
                shutil.rmtree(dest)
            os.rename(os.path.join(tmp, name), dest)
            changed[gid] = f"{name}/v={snap}"
        shutil.rmtree(tmp, ignore_errors=True)
        partitions = {
            g: p for g, p in old.items() if g not in changed and g not in drop_ids
        }
        partitions.update(changed)
        self._commit(table, snap, {"partitions": partitions, "schema": df.schema.json()})
        return set(changed)

    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        snap = snapshot if snapshot is not None else self.current_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        try:
            manifest = self._manifest(table, snap)
        except ValueError:  # a whole-dir snapshot
            return self.spark.read.parquet(self._snapshot_path(table, snap))
        return self._read_manifest_paths(table, manifest, list(manifest["partitions"]))

    def read_partition(self, table: str, graph_id: str,
                       snapshot: int | None = None) -> DataFrame | None:
        """Single-partition read (no scan of other graphs' files); None if the
        partition doesn't exist in the snapshot."""
        snap = snapshot if snapshot is not None else self.current_snapshot(table)
        if snap is None:
            return None
        manifest = self._manifest(table, snap)
        if graph_id not in manifest["partitions"]:
            return None
        return self._read_manifest_paths(table, manifest, [graph_id])

    def _read_manifest_paths(self, table: str, manifest: dict,
                             graph_ids: list[str]) -> DataFrame:
        parts = manifest["partitions"]
        paths = [os.path.join(self._data_dir(table), parts[g]) for g in graph_ids]
        if not paths:
            schema = T.StructType.fromJson(json.loads(manifest["schema"]))
            return self.spark.createDataFrame([], schema)
        df = (
            self.spark.read.option("basePath", self._data_dir(table))
            .option("mergeSchema", "true")
            .parquet(*paths)
        )
        return df.drop("v")

    def exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    def file_rows(self, table: str,
                  graph_id: str | None = None) -> list[tuple[int, int]]:
        """``(write partition, rows)`` per ``part-NNNNN-*.parquet`` file of the
        current snapshot (``graph_id``'s partition only, when given), rows
        read from the parquet footers: no Spark job. The write partition is
        the file name's ``NNNNN``, the task that wrote the file."""
        snap = self.current_snapshot(table)
        if snap is None:
            return []
        try:
            parts = self._manifest(table, snap)["partitions"]
            dirs = [os.path.join(self._data_dir(table), p) for g, p in parts.items()
                    if graph_id in (None, g)]
        except ValueError:  # a whole-dir snapshot has no graph partitions
            if graph_id is not None:
                raise
            dirs = [self._snapshot_path(table, snap)]
        return [
            (int(f.split("-")[1]), pq.ParquetFile(os.path.join(root, f)).metadata.num_rows)
            for d in dirs for root, _, files in os.walk(d) for f in sorted(files)
            if f.startswith("part-") and f.endswith(".parquet")
        ]

    # --- graph API (S10-S13) ---------------------------------------------------

    def store_graph(self, nodes: DataFrame, edges: DataFrame) -> tuple[int, int]:
        """S10 CREATE semantics: commit the incoming graph_id partitions
        (replacing them if re-run — idempotent). Partitions of OTHER graphs
        are carried by manifest reference — zero data rewritten for them.

        Idempotency across BOTH tables: a graph_id present in either incoming
        frame is replaced in both — so re-running a graph whose edges (or
        nodes) frame came out empty drops the stale partition instead of
        leaving it referenced by the manifest (the written side's gids are
        passed as drop_ids to the other table's commit)."""
        node_gids = self.upsert_graph_partitions("nodes", nodes, sort_within=("node_id",))
        edge_gids = self.upsert_graph_partitions(
            "edges", edges, sort_within=("src", "dst"),
            drop_ids=tuple(sorted(node_gids)),
        )
        stale_node_gids = edge_gids - node_gids
        if stale_node_gids:
            self._drop_partitions("nodes", stale_node_gids)
        return (self.current_snapshot("nodes"), self.current_snapshot("edges"))

    def store_graph_merge(self, nodes: DataFrame, edges: DataFrame,
                          graph_id: str) -> None:
        """S11 MERGE upsert into one graph_id partition
        (neo4j_service.py:76-188): reads ONLY that partition and commits the
        result through ``store_graph``. Nodes and edges the frames do not
        name are kept unchanged.

        nodes — `MERGE (n:Node {id})`: on-create take incoming row; on-match
        keep existing non-empty label/type/entity_class, and merge value
        columns COLUMN-wise — incoming non-null wins, existing value is kept
        where the incoming column is null (Neo4j ``SET n += props`` only
        overwrites provided keys).
        edges — `MERGE (s)-[r]->(t)` keyed (src, dst, rel_type): incoming
        row wins, then the smallest edge_id.
        """
        flag = F.col("_flag")  # 0 = existing row, 1 = incoming row

        def with_existing(table: str, inc: DataFrame) -> DataFrame:
            inc = inc.withColumn("graph_id", F.lit(graph_id)).withColumn("_flag", F.lit(1))
            old = self.read_partition(table, graph_id)
            return inc if old is None else old.withColumn("_flag", F.lit(0)).unionByName(
                inc, allowMissingColumns=True)

        # one keyed aggregate per table: each column picks its row by an
        # integer order, so no row is ordered and map columns (props) merge
        def pick(c: str):
            if c in ("label", "type", "entity_class"):
                # existing non-empty, then incoming, then existing empty
                order = F.when((flag == 0) & (F.trim(c) != ""), 2).otherwise(flag)
            else:  # incoming non-null, then existing non-null
                order = F.when(F.col(c).isNotNull(), flag)
            return F.max_by(c, order).alias(c)

        both = with_existing("nodes", nodes)
        cols = [c for c in both.columns if c != "_flag"]
        merged_nodes = both.groupBy("node_id").agg(
            *[pick(c) for c in cols if c != "node_id"]).select(*cols)

        both, key = with_existing("edges", edges), ["src", "dst", "rel_type"]
        cols = [c for c in both.columns if c != "_flag"]
        merged_edges = both.groupBy(*key).agg(F.min_by(
            F.struct(*[c for c in cols if c not in key]), F.struct(-flag, "edge_id"),
        ).alias("e")).select(*key, "e.*").select(*cols)

        self.store_graph(merged_nodes, merged_edges)

    def get_graph(self, graph_id: str, node_limit: int = 1000,
                  edge_limit: int = 2000) -> tuple[DataFrame, DataFrame]:
        """S12 read caps (neo4j_service.py:190): partition-pruned scans."""
        n = self.read("nodes").filter(F.col("graph_id") == graph_id).limit(node_limit)
        e = self.read("edges").filter(F.col("graph_id") == graph_id).limit(edge_limit)
        return n, e

    def list_graphs(self) -> list[str]:
        """S13: distinct graph ids — manifest keys, no Spark job
        (SHOW PARTITIONS analogue)."""
        if not self.exists("nodes"):
            return []
        return sorted(self._manifest("nodes", self.current_snapshot("nodes"))["partitions"])

    def _drop_partitions(self, table: str, graph_ids) -> None:
        """Manifest-only commit removing partitions — no data files read or
        written."""
        cur = self.current_snapshot(table)
        manifest = self._manifest(table, cur)
        for gid in graph_ids:
            manifest["partitions"].pop(gid, None)
        self._commit(table, cur + 1, manifest)

    def delete_graph(self, graph_id: str) -> None:
        """S13 DETACH DELETE: manifest-only commit dropping the partition —
        no data files read or written. Derived per-graph tables (the entity
        token index, operators/retrieval.py) are dropped too, so a deleted
        graph can't leave dangling index rows behind."""
        for table in ("nodes", "edges", "entity_index"):
            if not self.exists(table):
                continue
            self._drop_partitions(table, (graph_id,))

    def compact_partition(self, table: str, graph_id: str,
                          target_files: int = 1,
                          sort_within: tuple[str, ...] = ()) -> None:
        """Iceberg ``rewrite_data_files`` analogue: rewrite one partition's
        accumulated small files (every incremental commit adds up to
        shuffle-partition-count files) into ``target_files``, committed as a
        normal snapshot. Content is unchanged; pair with vacuum() to reclaim
        the superseded version dirs. A sub-partitioned table (the entity
        index) keeps its layout: the sub-partition columns are read off the
        current version dir's ``<col>=`` dirs and written back the same way."""
        part = self.read_partition(table, graph_id)
        if part is None:
            raise FileNotFoundError(f"no partition {graph_id} in {table}")
        sub_partition, d = [], os.path.join(
            self._data_dir(table),
            self._manifest(table, self.current_snapshot(table))["partitions"][graph_id])
        while subs := sorted(n for n in os.listdir(d) if "=" in n):
            sub_partition.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])
        if sub_partition:
            # coalesce per sub-partition value, not across them
            part = part.repartition(target_files, *sub_partition)
        else:
            part = part.coalesce(target_files)
        self.upsert_graph_partitions(
            table, part, sort_within=sort_within, sub_partition=tuple(sub_partition),
        )

    def vacuum(self, table: str, keep_last: int = 2) -> list[str]:
        """Iceberg ``expire_snapshots`` analogue for a graph table: delete
        partition version dirs referenced by NO surviving snapshot manifest,
        keeping the last ``keep_last`` committed snapshots (older snapshot
        dirs are dropped too). Readers pinned to a surviving snapshot are
        unaffected — data files are immutable and only unreferenced versions
        are removed. Returns the deleted version-dir paths."""
        snaps = self._snapshots(table)
        if not snaps:
            return []
        keep = snaps[-keep_last:] if keep_last > 0 else snaps[-1:]
        live: set[str] = set()
        for snap in keep:
            live.update(self._manifest(table, snap)["partitions"].values())
        deleted: list[str] = []
        data = self._data_dir(table)
        if os.path.isdir(data):
            for part in sorted(os.listdir(data)):
                pdir = os.path.join(data, part)
                if not (os.path.isdir(pdir) and part.startswith("graph_id=")):
                    continue
                for ver in sorted(os.listdir(pdir)):
                    rel = f"{part}/{ver}"
                    if ver.startswith("v=") and rel not in live:
                        shutil.rmtree(os.path.join(pdir, ver), ignore_errors=True)
                        deleted.append(rel)
                if not os.listdir(pdir):
                    os.rmdir(pdir)
        for snap in snaps:
            if snap not in keep:
                shutil.rmtree(self._snapshot_path(table, snap), ignore_errors=True)
        return deleted

    # --- manifest / resume (S9) -----------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _load_manifest(self) -> dict[str, dict]:
        if os.path.exists(self._manifest_path()):
            with open(self._manifest_path()) as f:
                return json.load(f)
        return {}

    def is_done(self, stage: str, unit: str = "") -> bool:
        return f"{stage}::{unit}" in self._load_manifest()

    def mark_done(self, stage: str, unit: str = "", **meta) -> None:
        m = self._load_manifest()
        m[f"{stage}::{unit}"] = {"committed_at": time.time(), **meta}
        with open(self._manifest_path(), "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)

    def stage_meta(self, stage: str, unit: str = "") -> dict | None:
        """The metadata recorded by mark_done for one stage, or None."""
        return self._load_manifest().get(f"{stage}::{unit}")

    def completed_stages(self) -> list[str]:
        return sorted(self._load_manifest())
