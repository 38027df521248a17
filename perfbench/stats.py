"""Pure functions behind the benchmark's numbers and checks: percentiles
and the sample-count rule, span self time, the serve_write version
checker, the response and oracle compare rules, and quartile spreads.
"""
import math
import statistics

MIN_BEYOND = 10  # a reported percentile needs this many samples above it
LEAVES = ("spark.job.", "sql.analyze")  # spans recorded without a parent


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples sit strictly above the q-th percentile's
    position in the sorted sample (the position `percentile` interpolates at).
    """
    return n - 1 - math.floor((n - 1) * q / 100.0) if n else 0


def highest_supported(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least MIN_BEYOND samples beyond it, or None."""
    for q in sorted(candidates, reverse=True):
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def quartile_spread(values):
    """(median, q1, q3, (q3 - q1) / median), quartiles as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


# ---------------------------------------------------------------- spans

def _union_length(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def assign_parents(spans, slack_ns=2_000_000):
    """Fills in `parent` for spans recorded without one (Spark jobs, analysis
    phases, suite phases) as the shortest span of the same rid that
    contains them, within `slack_ns` (Spark times have ms precision).
    Derived spans are leaves and never parents. Returns a new list.
    """
    by_rid = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)

    def dur(x):
        return x["endNs"] - x["startNs"]

    out = []
    for group in by_rid.values():
        for s in group:
            s = dict(s)
            if not s["parent"]:
                fits = [p for p in group if p["id"] != s["id"] and not p["name"].startswith(LEAVES)
                        and dur(p) >= dur(s) and p["startNs"] - slack_ns <= s["startNs"]
                        and s["endNs"] <= p["endNs"] + slack_ns]
                s["parent"] = min(fits, key=dur)["id"] if fits else 0
            out.append(s)
    return out


def self_times(spans):
    """Self time per span name, in ns: each span's duration minus the part
    of its interval its children cover (children clipped to the parent).
    Returns (dict name -> ns, residual ns), where the residual is the root
    spans' total duration not accounted for by the self times.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startNs"], s["endNs"]
        covered = _union_length([(max(lo, c["startNs"]), min(hi, c["endNs"]))
                                 for c in children.get(s["id"], []) if c["startNs"] < hi and c["endNs"] > lo])
        out[s["name"]] = out.get(s["name"], 0) + (hi - lo) - covered
    ids = {s["id"] for s in spans}
    roots = sum(s["endNs"] - s["startNs"] for s in spans if s["parent"] not in ids)
    return out, roots - sum(out.values())


# ---------------------------------------------------------------- versions

def version_violations(reads, writes, initial):
    """Checks fetches by a shared name against the registrations made.

    reads:   dicts with client, name, vid, n (rows seen), single (one
             version in the result), send, recv.
    writes:  dicts with client, name, vid, rows, send, recv, of the
             acknowledged registrations.
    initial: name -> (vid, rows) registered before the timed region.

    A read must see exactly one version; that version must have been
    registered for that name, no later than the read returned, with all
    its rows; and it must be no older than the latest registration of
    that name this client saw acknowledged before sending the read.
    "Older" means that registration was acknowledged before the client's
    own one was sent, so no ordering of the two could leave it current.
    Returns a list of (read, reason).
    """
    by_vid = {vid: {"name": name, "rows": rows, "send": -math.inf, "recv": -math.inf, "client": None}
              for name, (vid, rows) in initial.items()}
    for w in writes:
        by_vid[w["vid"]] = w
    bad = []
    for r in reads:
        w = by_vid.get(r["vid"])
        if not r["single"]:
            bad.append((r, "more than one version in one result"))
        elif w is None or w["name"] != r["name"]:
            bad.append((r, "a version never registered for this name"))
        elif w["send"] > r["recv"]:
            bad.append((r, "a version registered after the read returned"))
        elif w["rows"] != r["n"]:
            bad.append((r, f"{r['n']} rows of a {w['rows']}-row version"))
        else:
            own = [x for x in writes if x["client"] == r["client"] and x["name"] == r["name"]
                   and x["recv"] < r["send"]]
            if own:
                last = max(own, key=lambda x: x["recv"])
                if last["vid"] != r["vid"] and w["recv"] < last["send"]:
                    bad.append((r, f"version {r['vid']} is older than acknowledged {last['vid']}"))
    return bad


# ---------------------------------------------------------------- compares

def cells_equal(a, b, rel=1e-9):
    """Rendered cells match: exactly, or as numbers within `rel`."""
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except (TypeError, ValueError):
        return False
    return math.isclose(x, y, rel_tol=rel, abs_tol=rel)


def rows_equal(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(cells_equal(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def frames_equal(got, want):
    """tools/check_oracle.py's rule: columns sorted by name, rows sorted by
    all columns, then an exact compare of the string renderings.
    Returns None when equal, else the reason.
    """
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    cols = list(got.columns)
    got = got.sort_values(cols).reset_index(drop=True)
    want = want.sort_values(cols).reset_index(drop=True)
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    diff = (got.astype(str) != want.astype(str)).any(axis=1)
    return f"{int(diff.sum())}/{len(got)} rows differ" if diff.any() else None
