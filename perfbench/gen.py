"""Seeded workload generator for the graft benchmark.

Every input of a run derives from the seed and from the repo's fixed
test tables (the TPC-H-ish parquet sets, sf0.01 and sf0.1): the data
files and their versions, the request scripts with their literals, the
pre-grown catalog and history, and the suite's query list. The engine
receives only these generated inputs.

Each workload's reason for existing is recorded next to its definition
in WORKLOADS and is copied verbatim into BENCHMARK.json.
"""
import json
import os
import random
import re
import zipfile
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

CLIENTS = 4  # nproc of the reference box; every serve workload uses all of them

WORKLOADS = {
    "serve_read": {
        "kind": "serve",
        "why": "4 closed-loop clients, all /fetch over CSV/TSV/NDJSON/XLSX/parquet files with a Zipf"
               " skew: schema inference, rewrite, plan and exec do the work",
    },
    "serve_write": {
        "kind": "serve",
        "why": "4 clients mix fetches with DDL re-pointing shared names, CTAS, exports and catalog/history"
               " reads over a pre-grown catalog: catalog and writer costs and freshness show",
    },
    "suite": {
        "kind": "suite",
        "why": "one caller runs a fixed family-spanning subset of the operator suite at sf0.1 as"
               " graft.Bench does: build, codegen and exec dominate; server and catalog are bypassed",
    },
}

# The suite subset: one or two queries of each family of
# SparkEntry.queries (SQL surface, engine, LLM data ops, streaming,
# index), each gated by its DuckDB oracle, and sized so one pass with its
# set-up fits the run budget on a 4-core box.
SUITE_QUERIES = [
    "eng_create_table",           # engine (EngineOps)
    "q03_join_agg_topk",          # SQL surface (SqlSurfaceA)
    "q14_window_rank",            # SQL surface (SqlSurfaceB)
    "sim_topk_lsh_indexed",       # index (IndexOps)
    "text_heavy_hitters_stream",  # streaming (LlmOps)
    "text_quality",               # LLM data ops (LlmOps)
]

SLICE_ROWS = 4000     # rows per slice (XLSX slices are smaller)
XLSX_ROWS = 400
# Assumptions, not measurements (no traffic log of the reference exists;
# README.md, "What the mix assumes"): the textbook Zipf exponent, so the
# head repeats within a run and the tail is reached once or twice; and
# quota blocks of whole Zipf counts, so every seed sends the same mix.
ZIPF_S = 1.0
BLOCK = 48            # requests per quota block: about half of what 4 clients send in a run
WARMUP_OPS = 16       # per client: the fixed-work warm-up before the timed region
SCRIPT_LEN = 200      # per client; far more than a run can send
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]

# Data files in popularity-rank order (rank 0 is the hottest). The
# composition is fixed so every seed costs the same; the seed picks the
# rows of each file, the literals and the order of requests.
FORMATS = ["csv_parts", "parquet", "tsv", "log", "csv", "xlsx", "csv_parts", "parquet", "tsv", "log", "csv"]
N_PATHS = len(FORMATS)
# serve_read's distinct requests in popularity order: (file rank, template);
# rank None reads a catalog name instead of a path
READ_POOL = [(0, "agg"), (1, "point"), (2, "agg"), (3, "point"), (None, "agg"), (4, "join_parquet"),
             (5, "agg"), (6, "point"), (7, "join_csv"), (8, "point"), (9, "agg"), (10, "agg")]


def zipf_weights(n, s=ZIPF_S):
    return [1.0 / (i + 1) ** s for i in range(n)]


def quota_block(weights, size):
    """Item counts proportional to `weights` summing to `size` (largest
    remainder), each at least 1: a block with an exact Zipf composition.
    """
    total = sum(weights)
    raw = [max(1.0, size * w / total) for w in weights]
    counts = [int(x) for x in raw]
    for i in sorted(range(len(raw)), key=lambda i: counts[i] - raw[i])[:max(0, size - sum(counts))]:
        counts[i] += 1
    return counts


def quota_sequence(weights, length, rng, size=BLOCK):
    """Indices into `weights`, block after block; each block holds the
    quota_block counts in a seeded shuffle, so any run-length prefix of
    the sequence has close to the Zipf composition.
    """
    counts = quota_block(weights, size)
    out = []
    while len(out) < length:
        block = [i for i, c in enumerate(counts) for _ in range(c)]
        rng.shuffle(block)
        out.extend(block)
    return out[:length]


# ---------------------------------------------------------------- writers

def _as_text_table(t):
    """Dates as yyyy-mm-dd strings: what a user's exported files hold."""
    cols = {}
    for name in t.column_names:
        c = t[name]
        if pa.types.is_timestamp(c.type):
            c = pc.strftime(c, format="%Y-%m-%d")
        cols[name] = c
    return pa.table(cols)


def write_csv(t, path, sep=","):
    pacsv.write_csv(_as_text_table(t), path,
                    pacsv.WriteOptions(include_header=True, delimiter=sep, quoting_style="none"))


def write_ndjson(t, path):
    with open(path, "w") as f:
        for row in _as_text_table(t).to_pylist():
            f.write(json.dumps(row) + "\n")


def write_xlsx(t, path):
    """A minimal one-sheet workbook: numbers as numeric cells, text inline."""
    rows = [t.column_names] + [list(r.values()) for r in _as_text_table(t).to_pylist()]

    def cell(v):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f"<c><v>{v!r}</v></c>"
        return f'<c t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
             + "".join(f'<row r="{i + 1}">' + "".join(cell(v) for v in r) + "</row>" for i, r in enumerate(rows))
             + "</sheetData></worksheet>")
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            z.writestr(name, text)


def write_file(t, data_dir, stem, fmt):
    """Writes `t` as `fmt`; returns the path a query names (relative to data_dir)."""
    if fmt == "csv_parts":
        os.makedirs(os.path.join(data_dir, stem), exist_ok=True)
        n = t.num_rows
        for i in range(3):
            write_csv(t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
                      os.path.join(data_dir, stem, f"part-{i}.csv"))
        return f"{stem}/part-*.csv"
    rel = {"parquet": ".parquet", "tsv": ".tsv", "log": ".log", "csv": ".csv", "xlsx": ".xlsx"}[fmt]
    path = os.path.join(data_dir, stem + rel)
    if fmt == "parquet":
        pq.write_table(t, path)
    elif fmt == "tsv":
        write_csv(t, path, sep="\t")
    elif fmt == "log":
        write_ndjson(t, path)
    elif fmt == "csv":
        write_csv(t, path)
    else:
        write_xlsx(t, path)
    return stem + rel


# ---------------------------------------------------------------- catalog

def catalog_line(i, ref, path):
    return json.dumps({"id": i, "tableRef": ref, "tablePath": path, "schema": [], "comment": None,
                       "entryType": "MANAGED", "bucketBy": None, "sortBy": None,
                       "numBuckets": None, "generation": None})


def history_line(i, sql):
    secs = 1_700_000_000 + 7 * i
    return json.dumps({"sql": sql, "status": "successful" if i % 17 else "fail",
                       "createdAt": f"{secs}"})


# ---------------------------------------------------------------- requests

def fetch(sql, key):
    return {"kind": "fetch", "method": "POST", "path": "/fetch", "body": {"sql": sql}, "key": key}


def agg_sql(src, q):
    return (f"select l_returnflag, l_linestatus, count(*) as n, sum(l_quantity) as qty, "
            f"avg(l_discount) as disc from {src} where l_quantity > {q} "
            f"group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus")


def point_sql(src, k):
    return (f"select l_orderkey, l_linenumber, l_quantity, l_extendedprice from {src} "
            f"where l_orderkey = {k} order by l_linenumber")


def join_sql(src, orders, t):
    return (f"select o.o_orderpriority, count(*) as n, sum(l.l_quantity) as qty from {src} l "
            f"join {orders} o on l.l_orderkey = o.o_orderkey where o.o_totalprice > {t} "
            f"group by o.o_orderpriority order by o.o_orderpriority")


def count_sql(src, q):
    return f"select count(*) as n, sum(l_linenumber) as s from {src} where l_quantity > {q}"


def testdata_root(checkout):
    """Where the test tables live: $GRAFT_TESTDATA, else the directory the
    checkout's TESTDATA.md names for them; None when neither is known.
    """
    if os.environ.get("GRAFT_TESTDATA"):
        return os.environ["GRAFT_TESTDATA"]
    try:
        with open(os.path.join(checkout, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]+)/sf0\.01/`", f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def generate(workload, seed, testdata, out_dir):
    """Writes the inputs of one run under out_dir; returns the plan path."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    plan = {"kind": spec["kind"], "dataDir": data_dir,
            "catalogDir": os.path.join(out_dir, "catalog"),
            "probeDir": os.path.join(testdata, "sf0.01"),
            "setupOps": [], "warmup": [], "scripts": [],
            "sequentialCheck": False, "sfDir": os.path.join(testdata, "sf0.1"),
            "warmDir": os.path.join(testdata, "sf0.01"), "queries": [],
            "verifyDir": os.path.join(out_dir, "verify"), "expect": {}}
    os.makedirs(plan["catalogDir"], exist_ok=True)
    if spec["kind"] == "suite":
        plan["queries"] = list(SUITE_QUERIES)
    else:
        _serve(workload, rng, testdata, data_dir, plan)
    path = os.path.join(out_dir, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    return path


def _serve(workload, rng, testdata, data_dir, plan):
    src = os.path.join(testdata, "sf0.01")
    lineitem = pq.read_table(os.path.join(src, "lineitem.parquet"), columns=LINEITEM_COLS)
    lineitem = lineitem.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    n = lineitem.num_rows

    def slice_of(rows):
        start = rng.randrange(0, n - rows)
        return lineitem.slice(start, rows)

    # data files: lineitem slices in FORMATS order; the head repeats and
    # the tail misses any path-keyed cache
    paths, slices = [], []
    for i, fmt in enumerate(FORMATS):
        t = slice_of(XLSX_ROWS if fmt == "xlsx" else SLICE_ROWS)
        paths.append(write_file(t, data_dir, f"li{i:02d}", fmt))
        slices.append(t)
    orders_paths = [write_file(orders, data_dir, "orders", "parquet"),
                    write_file(orders, data_dir, "orders_csv", "csv")]
    # warm-up files: same shapes, never named by a timed request
    warm = [write_file(slice_of(XLSX_ROWS if f == "xlsx" else SLICE_ROWS), data_dir, f"warm{i}", f)
            for i, f in enumerate(FORMATS[:6])]

    def literal_q():
        return rng.choice([5, 15, 25, 35, 45])

    def orderkey_in(t):
        keys = t["l_orderkey"].to_pylist()
        return keys[rng.randrange(len(keys))]

    def read_request(rank, template, key):
        src = f"'{paths[rank]}'" if rank is not None else "li_named1"
        if template == "agg":
            return fetch(agg_sql(src, literal_q()), key)
        if template == "point":
            return fetch(point_sql(src, orderkey_in(slices[rank])), key)
        orders_path = orders_paths[0 if template == "join_parquet" else 1]
        return fetch(join_sql(src, f"'{orders_path}'", rng.choice([50000, 150000, 250000])), key)

    catalog, history = [], []
    named = {f"li_named{j}": paths[j] for j in range(3)}
    plan["setupOps"] = [fetch(point_sql(f"'{warm[0]}'", 1), "setup")]
    # the warm-up loop runs every request shape of the workload over the
    # warm-up files, so the timed region starts with warm code paths
    warm_ops = [fetch(agg_sql(f"'{w}'", 25), "warm") for w in warm]
    warm_ops += [fetch(point_sql(f"'{warm[i]}'", 1), "warm") for i in (1, 2, 4)]
    warm_ops += [fetch(join_sql(f"'{warm[2]}'", f"'{orders_paths[0]}'", 150000), "warm"),
                 fetch(join_sql(f"'{warm[3]}'", f"'{orders_paths[1]}'", 150000), "warm"),
                 fetch(agg_sql("warm_named", 25), "warm")]

    if workload == "serve_read":
        # a small catalog: the three named tables and a few others
        for ref, p in list(named.items()) + [("warm_named", warm[0])]:
            catalog.append((ref, p))
        for i in range(12):
            catalog.append((f"t{i:04d}", paths[rng.randrange(N_PATHS)]))
        pool = [read_request(rank, template, f"r{i:02d}") for i, (rank, template) in enumerate(READ_POOL)]
        order = quota_sequence(zipf_weights(len(pool)), SCRIPT_LEN * CLIENTS, rng)
        # dealt round-robin, so the clients together walk the blocks in order
        plan["scripts"] = [[pool[j] for j in order[c::CLIENTS]] for c in range(CLIENTS)]
        plan["sequentialCheck"] = True
    else:
        catalog.append(("warm_named", warm[0]))
        _serve_write(rng, data_dir, plan, catalog, history, paths, slices, warm, warm_ops, slice_of, literal_q)
    # each client walks the warm-up shapes from its own offset, WARMUP_OPS in all
    plan["warmup"] = [[warm_ops[(3 * c + i) % len(warm_ops)] for i in range(WARMUP_OPS)] for c in range(CLIENTS)]

    with open(os.path.join(plan["catalogDir"], "catalog.jsonl"), "w") as f:
        for i, (ref, p) in enumerate(catalog):
            f.write(catalog_line(i + 1, ref, p) + "\n")
    if history:
        with open(os.path.join(plan["catalogDir"], "query_history.jsonl"), "w") as f:
            for i, sql in enumerate(history):
                f.write(history_line(i, sql) + "\n")


PRE_CATALOG = 4000    # catalog lines of a long-lived server
PRE_HISTORY = 20000   # history lines of a long-lived server
SHARED = 4            # pointer names every client re-points
# CTAS names are one per client, not shared: a fetch by a name that
# races another client's CTAS of it can fail with TABLE_OR_VIEW_NOT_FOUND
# (the engine keeps resolved names as temp views in one shared session
# and the CTAS drops the view; ROADMAP direction 2), and a benchmark run
# may not fail. Cross-client freshness is checked on the shared pointer
# names, which no request drops.
# one client's repeating op pattern: half fetches (by shared name, by
# CTAS name, by path), the rest DDL, CTAS, export and metadata reads.
# The proportions are an assumption: /fetch, the reference's core use,
# stays the commonest request, and every other kind gets a slot in ten
# so a 10 s run samples each about ten times.
PATTERN = ["fetch_name", "ddl", "fetch_path", "export", "fetch_name",
           "catalog", "ctas", "fetch_ctas", "history", "fetch_path"]


def _serve_write(rng, data_dir, plan, catalog, history, paths, slices, warm, warm_ops, slice_of, literal_q):
    os.makedirs(os.path.join(data_dir, "ver"), exist_ok=True)
    expect = {"versions": {}, "initial": {}, "counts": {}, "exports": {}}

    def version_file(name, vid):
        t = slice_of(rng.randrange(200, 400))
        t = t.append_column("ver", pa.array([vid] * t.num_rows, pa.int64()))
        fmt = "parquet" if vid % 2 else "csv"
        rel = write_file(t, data_dir, f"ver/{name}_v{vid}", fmt)
        expect["versions"][str(vid)] = {"name": name, "rows": t.num_rows}
        return rel

    # the pre-grown catalog: thousands of registrations, the shared
    # names' first versions last so they are the live ones
    for i in range(PRE_CATALOG - SHARED):
        catalog.append((f"t{i % 1500:04d}", paths[rng.randrange(len(paths))]))
    for j in range(SHARED):
        vid = j + 1
        catalog.append((f"w{j}", version_file(f"w{j}", vid)))
        expect["initial"][f"w{j}"] = vid
    for i in range(PRE_HISTORY):
        history.append(agg_sql(f"'{paths[rng.randrange(len(paths))]}'", literal_q()))

    ctas_src = paths[1]  # the parquet slice
    ctas_rows = slices[1]

    def ctas_sql(name, vid, q):
        groups = len(set(pc.filter(ctas_rows["l_returnflag"],
                                   pc.greater(ctas_rows["l_quantity"], q)).to_pylist()))
        expect["versions"][str(vid)] = {"name": name, "rows": groups}
        return (f"create table {name} as select {vid} as ver, l_returnflag, count(*) as n "
                f"from '{ctas_src}' where l_quantity > {q} group by l_returnflag")

    def ctas_op(name, vid, q):
        return {"kind": "ctas", "method": "POST", "path": "/fetch",
                "body": {"sql": ctas_sql(name, vid, q)}, "key": f"v{vid}"}

    warm_ops.extend([
        fetch(count_sql(f"'{warm[1]}'", 25), "warm"),
        {"kind": "ddl", "method": "POST", "path": "/fetch",
         "body": {"sql": f"create table warm_w () location '{warm[1]}'"}, "key": "warm"},
        fetch("select count(*) as n from warm_w", "warm"),
        {"kind": "catalog", "method": "GET", "path": "/catalog", "body": {}, "key": "warm"},
        {"kind": "history", "method": "GET", "path": "/query/history", "body": {}, "key": "warm"},
        ctas_op("warm_c", 5, 25),
    ] + [{"kind": "export", "method": "POST", "path": "/query/export", "key": "warm",
          "body": {"sql": f"select l_orderkey, l_quantity from '{warm[1]}' where l_quantity > 25", "file_type": t}}
         for t in ("CSV", "JSON", "XLSX")])

    def counted(rank, q):
        t = slices[rank]
        keep = pc.greater(t["l_quantity"], q)
        return int(pc.sum(keep).as_py()), int(pc.sum(pc.filter(t["l_linenumber"], keep)).as_py() or 0)

    scripts = []
    for c in range(CLIENTS):
        script = []
        ranks = iter(quota_sequence(zipf_weights(len(paths)), SCRIPT_LEN, rng))
        for i in range(SCRIPT_LEN):
            kind = PATTERN[i % len(PATTERN)]
            vid = 1000 * (c + 1) + i
            if kind == "fetch_name":
                name = f"w{rng.randrange(SHARED)}"
                script.append(fetch(f"select min(ver) as lo, max(ver) as hi, count(*) as n from {name}",
                                    f"name:{name}"))
            elif kind == "fetch_ctas":  # after this client's own CTAS in PATTERN
                name = f"c{c}"
                script.append(fetch(f"select min(ver) as lo, max(ver) as hi, count(*) as n from {name}",
                                    f"name:{name}"))
            elif kind == "ddl":
                name = f"w{rng.randrange(SHARED)}"
                script.append({"kind": "ddl", "method": "POST", "path": "/fetch",
                               "body": {"sql": f"create table {name} () location '{version_file(name, vid)}'"},
                               "key": f"v{vid}"})
            elif kind == "ctas":
                script.append(ctas_op(f"c{c}", vid, literal_q()))
            elif kind == "fetch_path":
                rank = next(ranks)
                q = literal_q()
                key = f"count:{rank}:{q}"
                expect["counts"][key] = counted(rank, q)
                script.append(fetch(count_sql(f"'{paths[rank]}'", q), key))
            elif kind == "export":
                rank = next(ranks)
                q = literal_q()
                key = f"export:{rank}:{q}"
                expect["exports"][key] = counted(rank, q)[0]
                script.append({"kind": "export", "method": "POST", "path": "/query/export",
                               "body": {"sql": (f"select l_orderkey, l_partkey, l_quantity, l_shipdate "
                                                f"from '{paths[rank]}' where l_quantity > {q}"),
                                        "file_type": ("CSV", "JSON", "XLSX")[(i // len(PATTERN) + c) % 3]},
                               "key": key})
            else:
                script.append({"kind": kind, "method": "GET",
                               "path": "/catalog" if kind == "catalog" else "/query/history",
                               "body": {}, "key": kind})
        scripts.append(script)
    plan["scripts"] = scripts
    plan["expect"] = expect
