"""The three benchmark workloads.

Each workload is one closed-loop client in one Python process driving
the engine's public entry points: it sets up (inputs, warm-up, and
for ``dedup_serving`` the index build), then issues requests back to
back until the run's time is spent, then checks its outputs against
an independent oracle (untimed). Every workload fills the same four
end-to-end metrics; README.md in this directory gives what each one
means per workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

BATCH_ID_STRIDE = 10**7      # doc-id offset between generated batches
MIN_REBUILDS = 3             # etl_nightly rebuilds per run, at least
MIN_APPENDS = 2              # dedup_serving cycles per run, at least


def percentile_with_10_beyond(values: list[float]) -> tuple[float, float]:
    """The highest percentile that still has at least ten samples above
    it, as ``(percentile, value)``; the maximum when there are ten or
    fewer samples (no percentile then has ten beyond it)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11                      # 0-based index; n - 1 - k = 10 above
    return 100.0 * (k + 1) / n, xs[k]


def data_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in data_files(path))


class Run:
    """One benchmark run: the session, its scratch directory, the tracer
    and the operation counters."""

    def __init__(self, spark, scratch: str, seed: int, seconds: float,
                 tracer, cores: int, sf: float):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.cores = cores
        self.sf = sf
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.inputs: dict[str, tuple[int, int]] = {}
        self.oracle_s = 0.0        # time in oracle checks, never counted

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        detail = "".join(traceback.format_exception_only(exc)).strip() \
            if exc is not None else ""
        self.errors.append(f"{what}: {detail}"[:500])

    def check(self, what: str, fn) -> bool:
        """Run one oracle comparison (untimed); ``fn`` returns a
        mismatch description or None."""
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            msg = fn()
        except Exception as exc:           # a crashing check fails the op
            self.fail(what, exc)
            msg = "error"
        else:
            if msg:
                self.fail(what)
                self.errors[-1] += msg[:400]
        self.oracle_s += time.perf_counter() - t0
        return not msg

    def timed(self, what: str, fn):
        """Issue one request; returns (seconds, result) or (None, None)
        when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:           # a failed request is counted
            self.fail(what, exc)
            return None, None
        return time.perf_counter() - t0, out


def median_setup(run: Run, reps: int, once) -> float:
    """Run the input-dependent set-up ``reps`` times (each into a fresh
    directory, the last one kept) and return its median wall time."""
    times = []
    for i in range(reps):
        t0 = time.perf_counter()
        once(i == reps - 1)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ============================================================ analyst_mix

ANALYST_QUERIES = (
    "pricing_summary",           # scan + aggregate
    "nation_revenue_by_year",    # snowflake join + aggregate
    "freshest_event_per_user",   # window: latest row per key
    "pivot_event_values",        # reshape: pivot
    "harvest_user_profile",      # harvest (consistency) aggregate
    "market_share_by_year",      # seven-table join
    "hourly_event_windows",      # temporal windows
    "purchase_asof_signup",      # as-of join
)


def analyst_mix(run: Run) -> dict:
    from pudl_spark.plans.queries import QUERIES

    data = run.path("tables")

    def make(keep: bool) -> None:
        d = data if keep else run.path("tables_rep")
        info = gen.generate_tables(d, run.seed, run.sf,
                                   tables=oracle.ANALYST_TABLES)
        if keep:
            run.inputs.update(info)
        else:
            shutil.rmtree(d)

    prep_s = median_setup(run, 3, make)

    duck = oracle.duck_over(data)
    wrong: set[str] = set()
    result_bytes: dict[str, tuple[int, int]] = {}

    def request(name: str):
        with run.tr.span("queries.construct", query=name):
            df = QUERIES[name](run.spark, data)
        with run.tr.span("queries.execute", query=name) as s:
            pdf = df.toPandas()
            if s is not None:
                s.attrs["result_bytes"] = int(
                    pdf.memory_usage(deep=True).sum())
        return pdf

    # Warm-up: every distinct query once. This is each query's first
    # execution, so it is the one checked against the oracle.
    t0 = time.perf_counter()
    run.oracle_s = 0.0
    for name in ANALYST_QUERIES:
        with run.tr.span("request.warmup", query=name):
            _, pdf = run.timed(name, lambda: request(name))
        if pdf is None:
            wrong.add(name)
            continue
        result_bytes[name] = (int(pdf.memory_usage(deep=True).sum()),
                              len(pdf))
        if not run.check(f"oracle {name}",
                         lambda: oracle.compare_query(duck, name, pdf)):
            wrong.add(name)
    warm_s = time.perf_counter() - t0 - run.oracle_s

    # Whole rounds only (each query once per round, in a seeded order),
    # so every run measures the same mix of queries.
    rng = np.random.default_rng([run.seed, 9])
    lat: list[float] = []
    t_start = time.perf_counter()
    done = 0
    while time.perf_counter() - t_start < run.seconds:
        for i in rng.permutation(len(ANALYST_QUERIES)):
            name = ANALYST_QUERIES[i]
            with run.tr.span("request", query=name):
                dt, pdf = run.timed(name, lambda: request(name))
            if dt is not None:
                if name in wrong:
                    run.fail(f"{name}: wrong result (first execution)")
                else:
                    lat.append(dt)
            done += 1
    wall = time.perf_counter() - t_start
    nbytes = sum(b for b, _ in result_bytes.values())
    nrows = sum(r for _, r in result_bytes.values())
    return {"setup_extra_s": prep_s + warm_s, "latencies": lat,
            "throughput": done / wall,
            "bytes_per_row": nbytes / max(nrows, 1),
            "notes": {"queries": len(ANALYST_QUERIES), "requests": done,
                      "result_rows_per_pass": nrows}}



# ============================================================ etl_nightly

PRIMARY_KEYS = {"orders": ("o_orderkey",), "events": ("event_id",)}
# out asset (a registered query over the raw store) -> raw tables read
ETL_OUT = {
    "declarative_transform_orders": ("orders",),
    "event_anomaly_flags": ("events",),
    "impute_event_values": ("events",),     # applyInPandas island
}
EVENTS_CONE = frozenset({"events"} | {q for q, d in ETL_OUT.items()
                                      if "events" in d})
_LOGICAL = {"int32": "integer", "int64": "integer", "double": "number",
            "string": "string", "timestamp[us]": "datetime"}


def resource_for(name: str, parquet_path: str):
    """The declared schema of a raw table, from its source's columns."""
    from pudl_spark.schema.model import Field, FieldConstraints, Resource

    pk = PRIMARY_KEYS[name]
    sch = pq.read_schema(parquet_path)
    return Resource(name, tuple(
        Field(f.name, _LOGICAL[str(f.type)],
              FieldConstraints(required=f.name in pk)) for f in sch), pk)


def _signature(path: str) -> str:
    files = sorted(data_files(path))
    return ";".join(f"{os.path.basename(f)}:{os.path.getsize(f)}:"
                    f"{os.stat(f).st_mtime_ns}" for f in files)


def build_graph(src: str, store: str, expected_rows: dict, tr):
    """Raw layer: one asset per source (catalog read, declared schema,
    sorted parquet sink, golden row-count check).
    Out layer: registered queries reading the raw store."""
    from pudl_spark import validate as V
    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.plans.pipeline import AssetGraph
    from pudl_spark.plans.queries import QUERIES

    g = AssetGraph()
    for t, pk in PRIMARY_KEYS.items():
        path = os.path.join(src, f"{t}.parquet")
        first = data_files(path)[0]

        def read(spark, inputs, path=path):
            return read_parquet_table(spark, path)

        def count_ok(df, t=t):
            return V.check_row_counts_per_partition(
                df, None, {None: expected_rows[t]})

        g.add(t, resource=resource_for(t, first), sort_cols=pk,
              group="raw", checks=(count_ok,),
              inputs_signature=lambda path=path: _signature(path))(read)
    for q, deps in ETL_OUT.items():
        def out(spark, inputs, q=q):
            with tr.span("queries.construct", query=q):
                return QUERIES[q](spark, store)

        def not_null(df, q=q):
            return V.check_columns_not_all_null(df, q)

        g.add(q, deps=deps, group="out", checks=(not_null,))(out)
    return g


def etl_nightly(run: Run) -> dict:
    src = run.path("sources")
    expected: dict[str, int] = {}

    def make(keep: bool) -> None:
        d = src if keep else run.path("sources_rep")
        info = gen.generate_tables(d, run.seed, run.sf,
                                   tables=tuple(PRIMARY_KEYS))
        ev = os.path.join(d, "events.parquet")
        os.makedirs(ev + ".d")
        os.rename(ev, os.path.join(ev + ".d", "base.parquet"))
        os.rename(ev + ".d", ev)
        if keep:
            run.inputs.update(info)
            expected.update({t: r for t, (r, _) in info.items()})
        else:
            shutil.rmtree(d)

    prep_s = median_setup(run, 3, make)
    base_events = expected["events"]
    store = run.path("store")
    graph = build_graph(src, store, expected, run.tr)
    if run.tr.enabled:
        import layers
        layers.trace_assets(run.tr, graph)

    def materialize():
        return graph.materialize(run.spark, store, incremental=True)

    t_start = time.perf_counter()
    with run.tr.span("request.cold", kind="cold"):
        cold_s, _ = run.timed("cold build", materialize)
    if cold_s is None:
        raise RuntimeError(run.errors[-1])
    rows = {a: parquet_rows(os.path.join(store, f"{a}.parquet"))
            for a in graph.assets}
    stored = sum(dir_bytes(os.path.join(store, f"{a}.parquet"))
                 for a in graph.assets)
    rebuilds: list[float] = []
    month = 0
    gen_s = 0.0
    t_rebuilds = time.perf_counter()
    while (time.perf_counter() - t_rebuilds < run.seconds
           or month < MIN_REBUILDS):
        month += 1
        t0 = time.perf_counter()
        n, nbytes = gen.new_month_events(
            os.path.join(src, "events.parquet"), run.seed, run.sf, month,
            name="new")
        gen_s += time.perf_counter() - t0
        run.inputs[f"events_new_month_{month}"] = (n, nbytes)
        expected["events"] = base_events + n
        with run.tr.span("request.rebuild", kind="rebuild"):
            dt, _ = run.timed(f"rebuild month {month}", materialize)
        if dt is not None:
            rebuilds.append(dt)
    wall = time.perf_counter() - t_start - gen_s

    # Oracle gate: every out asset against its SQL over the raw store,
    # and every raw asset's row count against its source.
    duck = oracle.duck_over(store, tables=tuple(PRIMARY_KEYS))
    from pudl_spark.catalog import read_parquet_table
    for q in ETL_OUT:
        run.check(f"oracle {q}", lambda q=q: oracle.compare_query(
            duck, q, read_parquet_table(
                run.spark, os.path.join(store, f"{q}.parquet")).toPandas()))
    for t in PRIMARY_KEYS:
        run.check(f"rows {t}", lambda t=t: None if parquet_rows(
            os.path.join(store, f"{t}.parquet")) == expected[t]
            else f"{t}: row count != {expected[t]}")
    total_rows = sum(rows.values())
    return {"setup_extra_s": prep_s, "latencies": rebuilds,
            "throughput": total_rows / cold_s,
            "bytes_per_row": stored / total_rows,
            "graph": graph, "store": store, "rows": rows,
            "notes": {"cold_build_s": round(cold_s, 3),
                      "output_rows": total_rows, "rebuilds": len(rebuilds),
                      "loop_wall_s": round(wall, 3)}}



# ========================================================== dedup_serving

PROBES_PER_CYCLE = 3         # k: probes between two appends
COMPACT_EVERY = 2            # M: appends between two compactions
BATCH_DOCS = 40              # docs per probe batch
HELD_OUT = 0.1               # corpus share kept out of the index
PREFIX = "bench_lsh"
STORE_TABLES = (f"{PREFIX}_bands", f"{PREFIX}_sets")


def n_indexed(n_docs: int) -> int:
    return int(n_docs * (1 - HELD_OUT))


def table_dir(spark, table: str) -> str:
    from pudl_spark.functions.dedup import _resolve_table_location

    loc = _resolve_table_location(spark, table)
    return loc[len("file:"):] if loc.startswith("file:") else loc


def store_stats(spark) -> tuple[int, int]:
    """(data files, bytes) over both index tables."""
    files = [f for t in STORE_TABLES
             for f in data_files(table_dir(spark, t))]
    return len(files), sum(os.path.getsize(f) for f in files)


def dedup_serving(run: Run) -> dict:
    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import build_lsh_store, lsh_store_probe

    spark = run.spark
    corpus_path = run.path("docs", "corpus.parquet")
    texts: list[str] = []

    def make(keep: bool) -> None:
        import pyarrow as pa

        d = run.path("docs" if keep else "docs_rep")
        os.makedirs(d)
        rng = np.random.default_rng([run.seed, 5])
        cols = gen.documents(rng, 0, gen._rows("documents", run.sf))
        pq.write_table(pa.table(cols), os.path.join(d, "corpus.parquet"))
        with run.tr.span("dedup.build"):
            build_lsh_store(
                spark,
                read_parquet_table(spark, os.path.join(d, "corpus.parquet"))
                .filter(f"doc_id < {n_indexed(len(cols['text']))}"),
                "doc_id", "text", PREFIX, run.path("store"))
        if keep:
            texts.extend(cols["text"].to_pylist())
            run.inputs["documents"] = (len(texts),
                                       os.path.getsize(corpus_path))
        else:
            shutil.rmtree(d)

    prep_s = median_setup(run, 1, make)
    n_idx = n_indexed(len(texts))
    corpus, held_out = texts[:n_idx], texts[n_idx:]

    batch_no = 0

    def next_batch() -> tuple[str, dict[int, str]]:
        nonlocal batch_no
        batch_no += 1
        ids = range(BATCH_ID_STRIDE * batch_no,
                    BATCH_ID_STRIDE * batch_no + BATCH_DOCS)
        docs = gen.doc_batch(corpus, held_out, run.seed, batch_no,
                             BATCH_DOCS)
        path = run.path("docs", f"batch{batch_no}.parquet")
        run.inputs[f"batch{batch_no}"] = gen.write_docs(path, ids, docs,
                                                        run.seed)
        return path, dict(zip(ids, docs))

    def probe(path: str):
        with run.tr.span("dedup.probe") as s:
            pdf = lsh_store_probe(
                spark, PREFIX, read_parquet_table(spark, path),
                "doc_id", "text").toPandas()
            if s is not None:
                s.attrs["pairs"] = len(pdf)
        return pdf

    # Warm-up: one probe, not checked, not ingested.
    t0 = time.perf_counter()
    probe(next_batch()[0])
    warm_s = time.perf_counter() - t0

    log: list[tuple] = []     # ("probe", batch, pairs) | ("append", batch)
    probe_lat: list[float] = []
    bytes_per_doc: list[float] = []
    appended = appends = 0
    n_docs = n_idx
    t_start = time.perf_counter()
    gen_s = 0.0
    cycles = 0
    while (time.perf_counter() - t_start < run.seconds
           or cycles < MIN_APPENDS):
        cycles += 1
        batches = []
        for _ in range(PROBES_PER_CYCLE):
            t0 = time.perf_counter()
            path, docs = next_batch()
            gen_s += time.perf_counter() - t0
            with run.tr.span("request.probe"):
                dt, pairs = run.timed("probe", lambda: probe(path))
            if dt is not None:
                probe_lat.append(dt)
                log.append(("probe", docs, pairs))
            batches.append((path, docs))
        paths = [p for p, _ in batches]
        with run.tr.span("request.append"):
            dt, _ = run.timed("append", lambda: _append(run, paths))
        if dt is not None:
            appends += 1
            for _, docs in batches:
                log.append(("append", docs))
                appended += len(docs)
                n_docs += len(docs)
            bytes_per_doc.append(store_stats(spark)[1] / n_docs)
        if appends and appends % COMPACT_EVERY == 0 and dt is not None:
            with run.tr.span("request.compact"):
                run.timed("compact", lambda: _compact(run))
    wall = time.perf_counter() - t_start - gen_s

    _check_dedup(run, corpus, log)
    return {"setup_extra_s": prep_s + warm_s, "latencies": probe_lat,
            "throughput": appended / wall,
            "bytes_per_row": statistics.median(bytes_per_doc),
            "notes": {"probes": len(probe_lat), "appends": appends,
                      "docs_appended": appended,
                      "store_files": store_stats(spark)[0],
                      "loop_wall_s": round(wall, 3)}}


def _append(run: Run, paths: list[str]) -> None:
    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import append_to_lsh_store

    docs = read_parquet_table(run.spark, paths[0])
    for p in paths[1:]:
        docs = docs.unionByName(read_parquet_table(run.spark, p))
    with run.tr.span("dedup.append") as s:
        before = store_stats(run.spark)[0] if s is not None else 0
        append_to_lsh_store(run.spark, PREFIX, docs, "doc_id", "text")
        if s is not None:
            s.attrs["files_added"] = store_stats(run.spark)[0] - before


def _compact(run: Run) -> None:
    from pudl_spark.operators.layout import compact_bucketed_table

    for table in STORE_TABLES:
        with run.tr.span("layout.compact", table=table) as s:
            if s is not None:
                files = data_files(table_dir(run.spark, table))
                s.attrs.update(files_before=len(files),
                               bytes_rewritten=sum(map(os.path.getsize,
                                                       files)))
            compact_bucketed_table(run.spark, table)
            if s is not None:
                s.attrs["files_after"] = len(
                    data_files(table_dir(run.spark, table)))


def _check_dedup(run: Run, corpus: list[str], log: list[tuple]) -> None:
    """Replay the loop against an exact shingle index: each probe
    against the docs indexed at that moment; then the final index
    against a from-scratch build over the same documents."""
    index = oracle.ShingleIndex()
    for i, text in enumerate(corpus):
        index.add(i, text)
    all_docs = dict(enumerate(corpus))
    for entry in log:
        if entry[0] == "probe":
            _, docs, pairs = entry
            run.check("probe vs exact jaccard", lambda: oracle.check_probe(
                index, docs, pairs, threshold=0.7))
        else:
            for doc_id, text in entry[1].items():
                index.add(doc_id, text)
                all_docs[doc_id] = text
    run.check("appended store == rebuilt store",
              lambda: _compare_rebuild(run, all_docs))


def _compare_rebuild(run: Run, docs: dict[int, str]) -> str | None:
    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import build_lsh_store

    spark = run.spark
    path = run.path("docs", "all.parquet")
    gen.write_docs(path, list(docs), list(docs.values()), run.seed)
    build_lsh_store(spark, read_parquet_table(spark, path), "doc_id",
                    "text", "bench_rebuilt", run.path("rebuilt"))
    for t in ("bands", "sets"):
        a = _canon(spark.table(f"{PREFIX}_{t}").toPandas())
        b = _canon(spark.table(f"bench_rebuilt_{t}").toPandas())
        if not a.equals(b):
            return f"{t}: appended store ({len(a)} rows) != rebuild " \
                   f"({len(b)} rows)"
    return None


def _canon(pdf):
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: tuple(sorted(v))
                                if v is not None else None)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def drop_tables(spark) -> None:
    """Drop every table the run registered, so no run inherits another's."""
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
