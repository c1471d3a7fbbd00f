"""Statistics and span arithmetic shared by the benchmark's metrics."""
import math
import statistics

# percentiles the tail helper may report, lowest first
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        return None
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def tail(values, min_beyond=10):
    """(p, value) for the highest percentile in TAIL_PERCENTILES that
    leaves at least `min_beyond` samples above its rank, or None when
    even the median has fewer than that beyond it."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond:
            best = (p, percentile(values, p))
    return best


def median(values):
    return statistics.median(values) if values else None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{id: self time} for spans given as dicts with id, parent, start,
    end: a span's duration minus the part of it its children cover.
    Children may overlap each other (task-thread spans run in parallel);
    the covered part counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def import_stages(op, children, labels=None):
    """Split one import's wall time into pipeline stages.

    `op` is the import span, `children` its direct driver-thread child
    spans. The pipeline's stages are read off its fixed sequence of table
    operations: the crawl is the gap between the first `import_executions`
    append and the next table operation; the checksum job runs inside the
    `validation_results` append that follows the manifest read; the copies
    run inside the `import_reports` appends. Every other table operation
    is `store`, and `driver` is the import span's self time once the crawl
    is a child of it. The stages sum to the import's wall time. `labels`,
    when given, receives each child table operation's stage by span id."""
    store = sorted((c for c in children if c["name"].startswith("store.")),
                   key=lambda c: c["start"])
    out = {"crawl": 0, "checksum": 0, "copy": 0, "store": 0, "driver": 0}
    kids = list(children)
    after_manifest_read = False
    seen_exec_append = False
    for i, c in enumerate(store):
        name = c["name"]
        if name == "store.append:import_executions" and not seen_exec_append:
            seen_exec_append = True
            if i + 1 < len(store) and store[i + 1]["start"] > c["end"]:
                crawl = {"id": None, "parent": op["id"], "start": c["end"],
                         "end": store[i + 1]["start"]}
                out["crawl"] = crawl["end"] - crawl["start"]
                kids.append(crawl)
            stage = "store"
        elif name == "store.read:processing_assets":
            after_manifest_read = True
            stage = "store"
        elif name == "store.append:validation_results" and after_manifest_read:
            after_manifest_read = False
            stage = "checksum"
        elif name == "store.append:import_reports":
            stage = "copy"
        else:
            stage = "store"
        out[stage] += c["end"] - c["start"]
        if labels is not None:
            labels[c["id"]] = stage
    out["driver"] = self_times([op] + [dict(k, parent=op["id"]) for k in kids])[op["id"]]
    return out
