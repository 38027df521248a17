"""Turns one run's raw measurements (the harness's result.json) into the
end-to-end metrics, the per-layer metrics, the self-time table and the
correctness verdict. See README.md for what each metric means.
"""
import glob
import json
import os
import re
import statistics

import stats

NS_PER_MS = 1e6


def _ms(ns):
    return ns / NS_PER_MS


def latency_summary(lat_ms):
    """p50 and p75 of a latency sample, with the sample-count rule's verdict."""
    n = len(lat_ms)
    return {"n": n, "p50": stats.percentile(lat_ms, 50), "p75": stats.percentile(lat_ms, 75),
            "beyond_p75": stats.samples_beyond(n, 75), "supported": stats.highest_supported(n)}


# ---------------------------------------------------------------- serve

def _fetch_rows(body):
    d = json.loads(body)["data"]
    return d["header"], d["rows"]


def check_serve(workload, res, plan):
    """Returns {rid: reason} for every wrong, refused or failed request."""
    recs = res["records"]
    bad = {}
    for r in recs:
        if r["status"] != 200:
            bad[r["rid"]] = f"status {r['status']} {r['error'] or r['body'][:200]}"
    if res.get("script_exhausted"):
        bad[0] = "a client ran out of script before the run ended"
    if workload == "serve_read":
        ref = {x["key"]: x for x in res["reference"]}
        for r in recs:
            want = ref.get(r["key"])
            if r["rid"] in bad:
                continue
            if want is None or want["status"] != 200:
                bad[r["rid"]] = "the sequential pass could not answer this request"
                continue
            (got_head, got_rows), (want_head, want_rows) = _fetch_rows(r["body"]), _fetch_rows(want["body"])
            if got_head != want_head or not stats.rows_equal(got_rows, want_rows):
                bad[r["rid"]] = "differs from the sequential single-client answer"
        return bad

    expect = plan["expect"]
    versions = {int(k): v for k, v in expect["versions"].items()}
    writes, reads = [], []
    for r in recs:
        if r["rid"] in bad:
            continue
        kind, key = r["kind"], r["key"]
        if kind in ("ddl", "ctas"):
            vid = int(key[1:])
            if _fetch_rows(r["body"])[1] != [["successful"]]:
                bad[r["rid"]] = "registration not acknowledged"
            else:
                writes.append({"client": r["client"], "name": versions[vid]["name"], "vid": vid,
                               "rows": versions[vid]["rows"], "send": r["sendNs"], "recv": r["recvNs"]})
        elif kind == "fetch" and key.startswith("name:"):
            lo, hi, n = _fetch_rows(r["body"])[1][0]
            single = lo == hi and lo != "null"
            reads.append({"rid": r["rid"], "client": r["client"], "name": key[5:],
                          "vid": int(lo) if single else None, "n": int(n), "single": single,
                          "send": r["sendNs"], "recv": r["recvNs"]})
        elif kind == "fetch":
            n, s = _fetch_rows(r["body"])[1][0]
            if not stats.rows_equal([[n, s]], [[str(x) for x in expect["counts"][key]]]):
                bad[r["rid"]] = f"count/sum {n}/{s}, want {expect['counts'][key]}"
        elif kind == "export" and r["rows"] != expect["exports"][key]:
            bad[r["rid"]] = f"exported {r['rows']} rows, want {expect['exports'][key]}"
        elif kind == "history" and r["rows"] != 30:
            bad[r["rid"]] = f"history returned {r['rows']} entries"
        elif kind == "catalog" and r["rows"] < 1:
            bad[r["rid"]] = "empty catalog listing"
    initial = {name: (vid, versions[vid]["rows"]) for name, vid in expect["initial"].items()}
    for read, why in stats.version_violations(reads, writes, initial):
        bad[read["rid"]] = why
    return bad


def serve_end_to_end(workload, res, setup_s):
    recs = [r for r in res["records"] if r["status"] == 200]
    lat = {}
    for r in recs:
        lat.setdefault(r["kind"], []).append(_ms(r["recvNs"] - r["sendNs"]))
    wall = max((r["recvNs"] for r in res["records"]), default=0) / 1e9 or res["wall_s"]
    ops = [x for xs in lat.values() for x in xs] if workload == "serve_write" else lat.get("fetch", [])
    s = latency_summary(ops)
    e2e = {"setup_s": setup_s, "ops_per_s": len(recs) / wall, "p50_ms": s["p50"], "p75_ms": s["p75"],
           "cpu_ms_per_op": _ms(res["cpu_ns"]) / max(len(recs), 1), "retained_heap_mb": res["retained_heap_mb"]}
    named = {}
    for kind, label in (("fetch", "fetch"), ("ddl", "ddl"), ("ctas", "ctas"), ("export", "export")):
        if kind in lat:
            named[f"{label}_p50_ms"] = stats.percentile(lat[kind], 50)
            named[f"{label}_p90_ms"] = stats.percentile(lat[kind], 90)
    meta = lat.get("catalog", []) + lat.get("history", [])
    if meta:
        named["meta_p50_ms"] = stats.percentile(meta, 50)
    named["samples"] = {k: len(v) for k, v in lat.items()}
    named["tail_rule"] = s
    return e2e, named


# ---------------------------------------------------------------- suite

def check_suite(res, testdata_sf, root):
    """Compares each query's rows with its DuckDB oracle (tools/check_oracle.py's rule).

    Fixture oracles name the repo's expected/ directory by absolute path;
    they are pointed at the copy in the checkout under `root`.
    """
    import duckdb
    bad = {}
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"create view {t} as select * from read_parquet('{testdata_sf}/{t}.parquet')")
    for q in res["queries"]:
        name = q["name"]
        if q["error"]:
            bad[name] = q["error"][:300]
            continue
        if q["verify_error"]:
            bad[name] = q["verify_error"][:300]
            continue
        files = glob.glob(os.path.join(res["_verify_dir"], name, "*.parquet"))
        oracle = res["oracle_sql"].get(name)
        if oracle:
            oracle = re.sub(r"'[^']*/expected/", f"'{root}/expected/", oracle)
        if not files or oracle is None:
            bad[name] = "no rows written" if not files else "no oracle"
            continue
        try:
            got = con.execute(f"select * from read_parquet('{res['_verify_dir']}/{name}/*.parquet')").fetchdf()
            want = con.execute(oracle).fetchdf()
        except Exception as e:  # a broken oracle or unreadable output is a failure
            bad[name] = str(e)[:300]
            continue
        why = stats.frames_equal(got, want)
        if why:
            bad[name] = why
    return bad


def suite_end_to_end(res, setup_s):
    walls = [q["wall_s"] for q in res["queries"] if not q["error"]]
    wall = sum(walls)
    s = latency_summary([w * 1000 for w in walls])
    cpu_ns = sum(q["cpu_ns"] for q in res["queries"] if not q["error"])
    e2e = {"setup_s": setup_s, "ops_per_s": len(walls) / wall if wall else 0.0, "p50_ms": s["p50"],
           "p75_ms": s["p75"], "cpu_ms_per_op": _ms(cpu_ns) / max(len(walls), 1),
           "retained_heap_mb": res["retained_heap_mb"]}
    named = {"suite_wall_s": wall, "query_p50_s": s["p50"] / 1000,
             "query_p90_s": stats.percentile(walls, 90), "samples": {"query": len(walls)}, "tail_rule": s,
             "query_walls_s": {q["name"]: q["wall_s"] for q in res["queries"]}}
    return e2e, named


# ---------------------------------------------------------------- layers

# name -> unit. Times are self times per operation (a timed request or
# a suite query) unless the unit says otherwise.
PER_LAYER = {
    "server.overhead_ms": "ms/op", "server.export_bytes": "bytes",
    "sql.classify_ms": "ms/op", "sql.rewrite_ms": "ms/op", "sql.rewrite_jobs": "jobs/op",
    "sql.resolve_ms": "ms/op", "sql.analyze_ms": "ms/op",
    "catalog.lookup_ms": "ms/op", "catalog.lookups_per_request": "count/op", "catalog.register_ms": "ms/op",
    "catalog.history_ms": "ms/op", "catalog.list_ms": "ms/op", "catalog.lines": "lines",
    "catalog.record_query_ms": "ms/op",
    "sources.read_ms": "ms/op", "sources.infer_jobs": "jobs/op", "sources.scan_passes_per_fetch": "passes/fetch",
    "sources.files_discovered": "files/op", "sources.file_cache_hits": "files/op",
    "sources.export_write_ms": "ms/op",
    "plan.ms": "ms/op", "codegen.ms": "ms/op", "codegen.compiles": "count/op",
    "exec.ms": "ms/op", "exec.jobs": "jobs/op", "exec.task_wait_ms": "ms/task", "exec.shuffle_bytes": "bytes/op",
    "exec.spill_bytes": "bytes/op", "exec.gc_ms": "ms/op",
    "build.ms": "ms/op", "build.jobs": "jobs/op", "streaming.ms": "ms", "cache.leftover_entries": "count",
}


def layer_metrics(kind, res):
    """Per-layer metrics and the self-time table from a traced run.

    Times are self times in ms per operation (a timed request, or a suite
    query); counts are per operation unless the name says otherwise.
    """
    rids = {r["rid"]: r for r in res.get("records", [])} if kind == "serve" else \
        {q["rid"]: q for q in res["queries"]}
    ops = max(len(rids), 1)
    spans = stats.assign_parents([s for s in res["spans"] if s["rid"] in rids])
    self_ns, residual = stats.self_times(spans)
    rows = [r for r in res["layer_rows"] if r["rid"] in rids]

    def self_ms(*names):
        return sum(_ms(self_ns.get(n, 0)) for n in names) / ops

    def rowsum(field, phases=None, rid_ok=lambda rid: True):
        return sum(r[field] for r in rows if (phases is None or r["phase"] in phases) and rid_ok(r["rid"]))

    if kind == "serve":
        counters = res["counters"]
        plan_ms = res["plan_ms"]
    else:
        counters, plan_ms = {}, {}
        for q in res["queries"]:
            for k, v in q["counters"].items():
                counters[k] = counters.get(k, 0) + v
            for k, v in q["plan_ms"].items():
                plan_ms[k] = plan_ms.get(k, 0) + v
    fetch_rids = {rid for rid, r in rids.items() if r.get("kind") == "fetch"}
    exports = [r for r in rids.values() if r.get("kind") == "export"]
    infer_phases = ("rewrite", "resolve") if kind == "serve" else ("build",)
    infer_field = "jobs" if kind == "serve" else "reader_jobs"
    tasks = rowsum("tasks")
    m = {
        "server.overhead_ms": self_ms("request"),
        "server.export_bytes": sum(r["bytes"] for r in exports) / len(exports) if exports else 0.0,
        "sql.classify_ms": self_ms("sql.classify"),
        "sql.rewrite_ms": self_ms("sql.rewrite"),
        "sql.rewrite_jobs": rowsum("jobs", ("rewrite",)) / ops,
        "sql.resolve_ms": self_ms("sql.resolve"),
        "sql.analyze_ms": self_ms("sql.analyze"),
        "catalog.lookup_ms": self_ms("catalog.lookup"),
        "catalog.lookups_per_request": sum(1 for s in spans if s["name"] == "catalog.lookup") / ops,
        "catalog.register_ms": self_ms("catalog.register"),
        "catalog.history_ms": self_ms("catalog.history"),
        "catalog.list_ms": self_ms("catalog.list"),
        "catalog.lines": res.get("catalog_lines", 0),
        "catalog.record_query_ms": self_ms("catalog.record_query"),
        "sources.read_ms": self_ms(*("spark.job." + p for p in infer_phases)) if kind == "serve"
        else rowsum("reader_job_ms", infer_phases) / ops,
        "sources.infer_jobs": rowsum(infer_field, infer_phases) / ops,
        "sources.scan_passes_per_fetch": rowsum("scan_stages", rid_ok=lambda rid: rid in fetch_rids)
        / len(fetch_rids) if fetch_rids else 0.0,
        "sources.files_discovered": counters.get("files_discovered", 0) / ops,
        "sources.file_cache_hits": counters.get("file_cache_hits", 0) / ops,
        "sources.export_write_ms": self_ms("sql.export", "spark.job.export"),
        "plan.ms": (plan_ms.get("optimization", 0) + plan_ms.get("planning", 0)) / ops,
        "codegen.ms": counters.get("codegen_ns", 0) / NS_PER_MS / ops,
        "codegen.compiles": counters.get("codegen_compiles", 0) / ops,
        "exec.ms": self_ms("spark.job.exec", "exec"),
        "exec.jobs": rowsum("jobs", ("exec",)) / ops,
        "exec.task_wait_ms": rowsum("task_wait_ms") / tasks if tasks else 0.0,
        "exec.shuffle_bytes": rowsum("shuffle_bytes") / ops,
        "exec.spill_bytes": rowsum("spill_bytes") / ops,
        "exec.gc_ms": rowsum("gc_ms") / ops,
        "build.ms": self_ms("build", "spark.job.build"),
        "build.jobs": rowsum("jobs", ("build",)) / ops,
        "streaming.ms": sum(q["wall_s"] * 1000 for q in res.get("queries", []) if "_stream" in q["name"]),
        "cache.leftover_entries": sum(q["cache_leftover"] for q in res.get("queries", [])),
    }
    total = sum(self_ns.values()) + residual
    table = sorted(((name, _ms(ns) / ops, ns / total if total else 0.0) for name, ns in self_ns.items()),
                   key=lambda x: -x[1])
    table.append(("(residual)", _ms(residual) / ops, residual / total if total else 0.0))
    return m, table


def summarize(workload, kind, res, plan, setup_s, trace, testdata):
    """The run's metrics, verdict and report text."""
    if kind == "serve":
        bad = check_serve(workload, res, plan)
        e2e, named = serve_end_to_end(workload, res, setup_s)
        attempted = len(res["records"])
    else:
        bad = check_suite(res, os.path.join(testdata, "sf0.1"), os.getcwd())
        e2e, named = suite_end_to_end(res, setup_s)
        attempted = len(res["queries"])
    failed = len(bad)
    named["fail_ratio"] = failed / max(attempted, 1)
    out = {"workload": workload, "end_to_end": e2e, "named": named, "failures": bad,
           "attempted": attempted, "failed": failed,
           "load_probe_s": statistics.median(res["load_probe_s"]), "boot_s": res["boot_s"],
           "cold_s": res["cold_s"], "warmup_s": res["warmup_s"]}
    if trace:
        out["per_layer"], out["self_time"] = layer_metrics(kind, res)
    return out
