"""Asset-DAG pipeline runner — the reference's query lifecycle.

Ref: the `pudl` ETL job (SURVEY.md §3.1): Dagster resolves an asset
dependency graph (node = table-producing function, edge = named
input), materializes each table through its IO manager, and enforces
the declared schema at the boundary (build_defs
src/pudl/dagster/build.py:36-68; asset registry
src/pudl/dagster/assets/__init__.py:31-56; schema enforcement at the
sink src/pudl/dagster/io_managers.py:139-152,379-418).

Spark-first re-expression: an asset is a ``(spark, inputs) ->
DataFrame`` function; the graph is materialized with a Parquet
checkpoint per asset (exactly the reference's per-asset
materialization, which is what makes a 100 TB run restartable and
keeps any single lineage shallow). Between assets Catalyst sees plain
parquet scans, so pruning/pushdown work across layer boundaries;
within an asset the whole transform is one optimized plan — the
process-boundary pickling the reference pays per Dagster op simply
disappears.

Like Dagster's multiprocess executor (src/pudl/dagster/config.py),
independent assets build side by side: a topological wavefront feeds
a thread pool sized to the session's ``defaultParallelism``, and every
thread submits its asset's Spark jobs to the one shared session.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from pudl_spark.schema.enforce import enforce_schema
from pudl_spark.schema.model import Resource
from pudl_spark.sources.files import write_parquet_table

AssetFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Asset:
    """One table-producing node (ref: a Dagster @asset)."""

    name: str
    fn: AssetFn
    deps: tuple[str, ...] = ()
    resource: Resource | None = None      # declared schema, enforced at sink
    partition_cols: tuple[str, ...] = ()
    sort_cols: tuple[str, ...] = ()
    group: str = "core"                   # raw -> core -> out layering
    # Inline asset checks (ref: Dagster asset checks,
    # src/pudl/dagster/asset_checks.py:264): each callable maps the
    # materialized DataFrame to a VIOLATIONS DataFrame (empty == pass,
    # see pudl_spark.validate); failures abort the run.
    checks: tuple = ()
    # Incremental-materialization inputs (ref: Dagster code_version /
    # memoization): `version` is the asset's declared code version —
    # bump it when the transform changes; `inputs_signature` (for
    # source assets) returns a string capturing the external inputs'
    # state (e.g. file sizes+mtimes) so upstream data changes
    # invalidate the asset without a manual bump.
    version: str = "1"
    inputs_signature: Callable[[], str] | None = None


@dataclass
class AssetGraph:
    """A DAG of assets with per-asset Parquet materialization."""

    assets: dict[str, Asset] = field(default_factory=dict)

    def add(self, name: str, deps: tuple[str, ...] = (),
            resource: Resource | None = None,
            partition_cols: tuple[str, ...] = (),
            sort_cols: tuple[str, ...] = (), group: str = "core",
            checks: tuple = (), version: str = "1",
            inputs_signature: Callable[[], str] | None = None):
        """Decorator: register ``fn(spark, inputs)`` as an asset."""
        def deco(fn: AssetFn) -> AssetFn:
            self.assets[name] = Asset(
                name=name, fn=fn, deps=tuple(deps), resource=resource,
                partition_cols=tuple(partition_cols),
                sort_cols=tuple(sort_cols), group=group,
                checks=tuple(checks), version=version,
                inputs_signature=inputs_signature)
            return fn
        return deco

    def fingerprints(self, selection: list[str] | None = None
                     ) -> dict[str, str]:
        """Content-addressed freshness keys: an asset's fingerprint
        hashes its declared code version, its external-input
        signature, its sink configuration (schema / partitioning /
        sort), and — transitively — every upstream fingerprint. Any
        change upstream therefore re-keys the whole downstream
        closure, which is exactly the invalidation rule Dagster's
        memoization and every lakehouse incremental build uses.
        """
        import hashlib

        fps: dict[str, str] = {}
        for name in self.order(selection):
            a = self.assets[name]
            parts = [
                f"v={a.version}",
                f"sig={a.inputs_signature() if a.inputs_signature else ''}",
                f"schema={a.resource.name if a.resource else ''}",
                f"part={','.join(a.partition_cols)}",
                f"sort={','.join(a.sort_cols)}",
            ] + [f"dep:{d}={fps[d]}" for d in sorted(a.deps)]
            fps[name] = hashlib.sha256(
                "|".join(parts).encode()).hexdigest()[:32]
        return fps

    def _dep_graph(self, selection: list[str] | None = None
                   ) -> TopologicalSorter:
        """Dependency sorter over the full graph or the upstream
        closure of ``selection``."""
        wanted = set(self.assets) if selection is None else set()
        if selection is not None:
            stack = list(selection)
            while stack:
                n = stack.pop()
                if n in wanted:
                    continue
                wanted.add(n)
                stack.extend(self.assets[n].deps)
        return TopologicalSorter(
            {n: [d for d in self.assets[n].deps if d in wanted]
             for n in wanted})

    def order(self, selection: list[str] | None = None) -> list[str]:
        """Topological materialization order (full graph or the
        upstream closure of ``selection``)."""
        return list(self._dep_graph(selection).static_order())

    def materialize(self, spark: SparkSession, store_dir: str,
                    selection: list[str] | None = None,
                    skip_existing: bool = False,
                    incremental: bool = False) -> dict[str, str]:
        """Run the DAG; each asset is written to
        ``store_dir/<name>.parquet`` and downstream assets read the
        materialized copy (checkpoint semantics — shallow lineage,
        restartable). Returns name -> path.

        Independent assets build concurrently (ref: Dagster's
        multiprocess executor): every asset whose dependencies are
        done is submitted at once to a thread pool of
        ``spark.sparkContext.defaultParallelism`` threads, and each
        thread runs its asset's transform, schema enforcement, sink
        and checks, submitting the Spark jobs to the shared session.
        A wide DAG therefore keeps the cluster busy instead of
        building one asset at a time.

        ``incremental=True`` skips any asset whose fingerprint (code
        version + external-input signature + upstream closure, see
        :meth:`fingerprints`) matches the manifest recorded by the
        previous run AND whose output still exists — so a 100 TB
        rebuild after a one-asset change recomputes only that asset's
        downstream cone, not the world. The manifest is rewritten
        (under a lock) after EVERY asset, so an interrupted run
        resumes where it stopped.

        On a failure no further asset is submitted, the assets
        already in flight finish (and are recorded in the manifest),
        and the first exception is re-raised.
        """
        import json
        import threading
        from concurrent.futures import (FIRST_COMPLETED,
                                        ThreadPoolExecutor, wait)

        manifest_path = os.path.join(store_dir, "_manifest.json")
        manifest: dict[str, str] = {}
        if incremental and os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
        fps = self.fingerprints(selection) if incremental else {}
        paths = {name: os.path.join(store_dir, f"{name}.parquet")
                 for name in self.order(selection)}
        graph = self._dep_graph(selection)
        graph.prepare()
        lock = threading.Lock()

        def run_one(name: str) -> None:
            asset = self.assets[name]
            dest = paths[name]
            if (incremental and manifest.get(name) == fps[name]
                    and os.path.exists(dest)):
                return
            if skip_existing and os.path.exists(dest):
                return
            inputs = {d: spark.read.parquet(paths[d]) for d in asset.deps}
            df = asset.fn(spark, inputs)
            if asset.resource is not None:
                df = enforce_schema(df, asset.resource)
            write_parquet_table(
                df, dest,
                partition_cols=list(asset.partition_cols) or None,
                sort_cols=list(asset.sort_cols) or None)
            if asset.checks:
                from pudl_spark.validate import assert_empty

                materialized = spark.read.parquet(dest)
                for idx, check in enumerate(asset.checks):
                    assert_empty(check(materialized),
                                 f"{name}.check[{idx}]")
            if incremental:
                with lock:
                    manifest[name] = fps[name]
                    os.makedirs(store_dir, exist_ok=True)
                    with open(manifest_path, "w") as f:
                        json.dump(manifest, f, indent=0, sort_keys=True)

        error: BaseException | None = None
        pending: dict = {}
        with ThreadPoolExecutor(
                max_workers=spark.sparkContext.defaultParallelism) as ex:
            while True:
                if error is None:
                    for name in graph.get_ready():
                        pending[ex.submit(run_one, name)] = name
                if not pending:
                    break
                done, _ = wait(pending, return_when=FIRST_COMPLETED)
                for fut in done:
                    name, exc = pending.pop(fut), fut.exception()
                    if exc is None:
                        graph.done(name)
                    elif error is None:
                        error = exc
        if error is not None:
            raise error
        return paths
