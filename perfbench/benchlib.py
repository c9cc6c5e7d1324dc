"""Helpers of run.py: percentiles, failure accounting, span self time and
layer attribution. Pure functions over the run record that
`perfbench.Main` writes; tested by `perfbench/tests/test_benchlib.py`.
"""
import math

FAILED = math.inf  # latency of a failed operation: it misses every limit


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or xs[lo] == xs[hi]:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest candidate percentile with at least ten of `n` samples
    beyond it, or None when not even the median has."""
    for q in candidates:
        if round(n * (100.0 - q) / 100.0, 9) >= 10:
            return q
    return None


def latencies(ops):
    """Per-operation latencies in ms, a failed operation counting as
    FAILED (it misses any latency limit)."""
    return [o["ms"] if o["ok"] else FAILED for o in ops]


def accounting(ops):
    """(attempted, failed) over operations already marked by `mark_wrong`."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def mark_wrong(ops, wrong_ids):
    """Copies of `ops` with those whose unit output was wrong set failed."""
    wrong = set(wrong_ids)
    return [dict(o, ok=o["ok"] and o.get("unit") not in wrong) for o in ops]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, outer):
    return max(interval[0], outer[0]), min(interval[1], outer[1])


def self_times(spans):
    """Self time of each span, by id: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = (s["start_ns"], s["end_ns"])
        covered = union_length(clip((c["start_ns"], c["end_ns"]), iv)
                               for c in children.get(s["id"], []))
        out[s["id"]] = (iv[1] - iv[0]) - covered
    return out


# Jobs whose program frame is one of these run a layer of their own, even
# when the benchmark's span around them is a wider call (Facade.ingest
# runs validation, Facade.stage computes column statistics).
SITE_LAYERS = (
    ("graft.etl.Validate", "etl.validate"),
    ("graft.store.Store.writeMetadata", "store.column_stats"),
    ("graft.store.Store.columnStats", "store.column_stats"),
    ("graft.store.Store.statsExactness", "store.column_stats"),
    ("graft.ops.Lease", "ops.lease"),
)

# benchmark span name -> layer
SPAN_LAYERS = {
    "io.xlsx_read": "io.xlsx_read",
    "facade.ingest": "store.ingest",
    "store.ingest": "store.ingest",
    "etl.validate": "etl.validate",
    "facade.stage": "store.stage",
    "facade.stage_incremental": "store.stage_incremental",
    "io.export_csv": "io.export_csv",
    "io.export_xlsx": "io.export_xlsx",
    "ops.lease": "ops.lease",
    "store.read_prod": "store.read_prod",
    "dsl.compile": "dsl.compile",
    "serve.query": "serve.query",
    "serve.http": "serve.http",
    "entry.query": "entry.query",
}


def site_layer(site):
    for prefix, layer in SITE_LAYERS:
        if site.startswith(prefix):
            return layer
    return None


def layer_self_ms(spans, jobs, clock):
    """Self time per layer in ms. A span's self time goes to its layer,
    except the part covered by its own jobs whose program frame names a
    layer of its own (`SITE_LAYERS`), which goes to that layer. `clock`
    maps the spans' nanoTime onto the jobs' epoch milliseconds."""
    offset_ms = clock["milli"] - clock["nano"] / 1e6
    selfs = self_times(spans)
    by_span = {}
    for j in jobs:
        if j["end_ms"] >= 0:
            by_span.setdefault(j["span"], []).append(j)
    out = {}
    for s in spans:
        layer = SPAN_LAYERS.get(s["name"])
        own = selfs[s["id"]] / 1e6
        iv = (s["start_ns"] / 1e6 + offset_ms, s["end_ns"] / 1e6 + offset_ms)
        moved = {}
        for j in by_span.get(s["id"], []):
            other = site_layer(j["site"])
            if other and other != layer:
                moved.setdefault(other, []).append(clip((j["start_ms"], j["end_ms"]), iv))
        for other, ivs in moved.items():
            t = min(union_length(ivs), own)
            out[other] = out.get(other, 0.0) + t
            own -= t
        if layer:
            out[layer] = out.get(layer, 0.0) + own
    return out


def driver_gap_ms(spans, jobs, clock, roots):
    """Wall time of the `roots` spans minus the union of the job intervals
    of their subtrees: time no Spark job was running."""
    offset_ms = clock["milli"] - clock["nano"] / 1e6
    parent = {s["id"]: s["parent"] for s in spans}

    def root_of(sid):
        seen = 0
        while sid and sid not in roots and seen < 1000:
            sid, seen = parent.get(sid, 0), seen + 1
        return sid if sid in roots else None

    per_root = {}
    for j in jobs:
        r = root_of(j["span"])
        if r is not None and j["end_ms"] >= 0:
            per_root.setdefault(r, []).append((j["start_ms"], j["end_ms"]))
    gap = 0.0
    for s in spans:
        if s["id"] in roots:
            iv = (s["start_ns"] / 1e6 + offset_ms, s["end_ns"] / 1e6 + offset_ms)
            covered = union_length(clip(x, iv) for x in per_root.get(s["id"], []))
            gap += (iv[1] - iv[0]) - covered
    return gap


def spread(values):
    """Interquartile distance as a share of the median."""
    import statistics
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
