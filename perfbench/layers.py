"""Per-layer metrics of the traced run.

``install`` wraps the engine's layer entry points in spans (for the
traced run only); ``per_layer`` turns the spans, joined with the Spark
event log, into the per-layer metrics listed in BENCHMARK.json. Time
metrics are self times (a span's duration minus the part of it its
child spans cover), summed over the requests of the run; counts are
summed over the same requests. A layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import statistics

import workloads as W


def install(tr) -> None:
    import pudl_spark.catalog as catalog
    import pudl_spark.plans.pipeline as pipeline
    import pudl_spark.sources.files as files
    import pudl_spark.validate as validate

    def read(span, args, kwargs, call):
        before = len(catalog._SCHEMA_MEMO)
        out = call()
        span.attrs["miss"] = len(catalog._SCHEMA_MEMO) > before
        return out

    def write(span, args, kwargs, call):
        out = call()
        span.attrs["files"] = len(W.data_files(args[1]))
        return out

    def bucketed(span, args, kwargs, call):
        span.attrs["mode"] = kwargs.get("mode", "overwrite")
        return call()

    def check(span, args, kwargs, call):
        try:
            return call()
        except validate.ValidationError:
            span.attrs["violations"] = 1
            raise

    def end_asset(args):
        asset = tr.open_assets.pop(args[1], None)
        if asset is not None:
            tr.close(asset)

    tr.patch(catalog, "read_parquet_table", "catalog.read", read)
    tr.patch(pipeline, "enforce_schema", "schema.enforce")
    tr.patch(pipeline, "write_parquet_table", "sources.write", write)
    tr.patch(files, "write_bucketed_table", "sources.bucketed_write",
             bucketed)
    tr.patch(validate, "assert_empty", "validate.check", check, end_asset)
    tr.patch(pipeline.AssetGraph, "fingerprints", "pipeline.fingerprint")


def trace_assets(tr, graph) -> None:
    """Open a span when an asset's transform starts and close it when
    its last check has run: materialize calls transform, schema
    enforcement, the sink and the checks in that order."""
    for a in graph.assets.values():
        fn, label = a.fn, f"{a.name}.check[{len(a.checks) - 1}]"

        def traced(spark, inputs, fn=fn, a=a, label=label):
            tr.open_assets[label] = tr.open(
                f"pipeline.asset.{a.group}", asset=a.name)
            return fn(spark, inputs)

        a.fn = traced


def _self_time(span, children) -> float:
    """Span duration minus the union of its children's intervals."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.seconds - covered


def per_layer(tr, view, run, out, start_s, warm_s, e2e) -> dict:
    kids: dict[str, list] = {}
    for s in tr.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    requests = [s for s in tr.spans if s.name.startswith("request")
                and s.name != "request.warmup"]

    def under_requests(spans):
        return [s for s in spans if any(view.under(s.id, r.id)
                                        for r in requests)]

    def named(prefix, measured=True):
        spans = [s for s in tr.spans if s.name.startswith(prefix)]
        return under_requests(spans) if measured else spans

    def self_s(prefix, measured=True):
        return sum(_self_time(s, kids.get(s.id, []))
                   for s in named(prefix, measured))

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (start_s, "s")
    m["session.warmup_s"] = (warm_s, "s")

    reads = named("catalog.read")
    misses = sum(1 for s in reads if s.attrs.get("miss"))
    m["catalog.read_calls"] = (len(reads), "count")
    m["catalog.read_s"] = (self_s("catalog.read"), "s")
    m["catalog.memo_hit_ratio"] = (
        (len(reads) - misses) / len(reads) if reads else 0.0, "ratio")

    q_all = named("queries.")
    m["queries.construct_s"] = (self_s("queries.construct"), "s")
    m["queries.construct_jobs"] = (
        len(view.jobs_under(named("queries.construct"))), "count")
    m["queries.execute_s"] = (self_s("queries.execute"), "s")
    m["queries.jobs"] = (len(view.jobs_under(q_all)), "count")
    m["queries.stages"] = (view.stages_under(q_all), "count")
    qt = view.tasks_under(q_all)
    m["queries.tasks"] = (len(qt), "count")
    m["queries.failed_tasks"] = (sum(t.failed for t in qt), "count")
    m["queries.result_bytes"] = (sum(
        s.attrs.get("result_bytes", 0)
        for s in named("queries.execute")), "B")

    m["pipeline.fingerprint_s"] = (self_s("pipeline.fingerprint"), "s")
    m["pipeline.asset_s.raw"] = (self_s("pipeline.asset.raw"), "s")
    m["pipeline.asset_s.out"] = (self_s("pipeline.asset.out"), "s")
    builds = [r for r in requests if r.name in ("request.cold",
                                                 "request.rebuild")]
    built = named("pipeline.asset.")
    n_assets = len(out["graph"].assets) if "graph" in out else 0
    m["pipeline.assets_built"] = (len(built), "count")
    m["pipeline.assets_skipped"] = (len(builds) * n_assets - len(built),
                                    "count")
    rebuilds = [r.id for r in builds if r.name == "request.rebuild"]
    m["pipeline.rebuilt_outside_cone"] = (sum(
        1 for s in built if s.attrs["asset"] not in W.EVENTS_CONE
        and any(view.under(s.id, r) for r in rebuilds)), "count")
    wall = sum(r.seconds for r in builds)
    busy = sum(t.run_s for t in view.tasks_under(builds))
    m["pipeline.cores_idle_frac"] = (
        1 - busy / (wall * run.cores) if wall else 0.0, "ratio")

    m["schema.enforce_s"] = (self_s("schema.enforce"), "s")

    sinks = named("sources.write") + named("sources.bucketed_write")
    st = view.tasks_under(sinks)
    m["sources.write_s"] = (self_s("sources.write"), "s")
    m["sources.rows_written"] = (sum(t.records_written for t in st),
                                 "count")
    m["sources.bytes_written"] = (sum(t.bytes_written for t in st), "B")
    m["sources.files_written"] = (sum(s.attrs.get("files", 0)
                                      for s in named("sources.write")),
                                  "count")
    m["sources.bucketed_append_s"] = (sum(
        _self_time(s, kids.get(s.id, []))
        for s in named("sources.bucketed_write")
        if s.attrs.get("mode") == "append"), "s")

    checks = named("validate.check")
    m["validate.checks_run"] = (len(checks), "count")
    m["validate.check_s"] = (self_s("validate.check"), "s")
    m["validate.violations"] = (sum(s.attrs.get("violations", 0)
                                    for s in checks), "count")

    builds_idx = named("dedup.build", measured=False)
    m["dedup.build_s"] = (statistics.median(
        [s.seconds for s in builds_idx]) if builds_idx else 0.0, "s")
    probes = named("dedup.probe")
    m["dedup.probe_s"] = (self_s("dedup.probe"), "s")
    m["dedup.probe_jobs"] = (len(view.jobs_under(probes)), "count")
    m["dedup.probe_tasks"] = (len(view.tasks_under(probes)), "count")
    m["dedup.pairs"] = (sum(s.attrs.get("pairs", 0) for s in probes),
                        "count")
    appends = named("dedup.append")
    m["dedup.append_s"] = (self_s("dedup.append"), "s")
    m["dedup.append_files_added"] = (sum(
        s.attrs.get("files_added", 0) for s in appends), "count")

    impute = [s for s in named("pipeline.asset.out")
              if s.attrs["asset"] == "impute_event_values"]
    acc: dict[str, float] = {}
    for t in view.tasks_under(impute):
        for k, v in t.accum.items():
            acc[k] = acc.get(k, 0.0) + v
    m["impute.python_s"] = (acc.get("time to run Python workers", 0.0)
                            / 1000.0, "s")
    m["impute.arrow_bytes"] = (
        acc.get("data sent to Python workers", 0.0)
        + acc.get("data returned from Python workers", 0.0), "B")

    compacts = named("layout.compact")
    m["layout.compact_s"] = (self_s("layout.compact"), "s")
    for key in ("files_before", "files_after", "bytes_rewritten"):
        m[f"layout.{key}"] = (sum(s.attrs.get(key, 0) for s in compacts),
                              "B" if key.startswith("bytes") else "count")

    et = view.tasks_under(requests)
    m["engine.task_s"] = (sum(t.run_s for t in et), "s")
    m["engine.scheduler_delay_s"] = (sum(t.sched_delay_s for t in et), "s")
    m["engine.gc_s"] = (sum(t.gc_s for t in et), "s")
    m["engine.shuffle_read_bytes"] = (sum(t.shuffle_read for t in et), "B")
    m["engine.shuffle_write_bytes"] = (sum(t.shuffle_write for t in et),
                                       "B")
    m["engine.spill_bytes"] = (sum(t.spill for t in et), "B")

    m["trace.p50_s"] = e2e["p50_s"]
    m["trace.spans"] = (len(tr.spans), "count")
    return m

