"""Per-layer metrics of a traced run.

Inputs are the harness record: spans (benchmark-side only: op, api,
reader and table-store spans), Spark jobs tagged with the op and the
innermost span that submitted them, and per-stage task metrics. Every
count and time is per traced op of the measured loop unless its unit says
otherwise, so runs of different lengths compare.
"""
import os

import stats

API_ENDPOINTS = (
    "datasets.get_id", "datasets.get_title", "datasets.list", "datasets.post",
    "datasets.patch", "datasets.delete", "dataset_versions.post", "import_status.get")
API_READS = {"datasets.get_id", "datasets.get_title", "datasets.list", "import_status.get"}
MODULES = ("RelationalOps", "TextOps", "VectorOps", "EventOps", "JsonOps", "CurationOps",
           "HtmlOps", "NormalizeOps", "GeoOps")
STORE_WRITES = ("store.append:", "store.overwrite:", "store.merge:", "store.delete:",
                "store.fold:", "store.compact:")
STORE_READS = ("store.read:", "store.scan:")

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "crawl.docs": "count/op", "crawl.busy_s": "s/op", "crawl.ms_per_doc": "ms",
    "reader.opens": "count/op", "reader.bytes": "bytes/op", "reader.open_ms_p50": "ms",
    "reader.driver_busy_s": "s/op", "reader.task_busy_s": "s/op",
    "checksum.busy_s": "s/op", "checksum.files": "count/op", "checksum.mib_per_s": "MiB/s",
    "checksum.tasks": "count/op", "checksum.parallelism": "ratio",
    "checksum.failed_rows": "count",
    "copy.busy_s": "s/op", "copy.files": "count/op", "copy.bytes_written": "bytes/op",
    "copy.tasks": "count/op", "copy.parallelism": "ratio", "copy.opens_per_file": "ratio",
    "store.commits": "count/op", "store.commit_busy_s": "s/op", "store.reads": "count/op",
    "store.read_busy_s": "s/op", "store.files_written": "count/op",
    "store.bytes_written": "bytes/op", "store.live_generations": "count",
    "store.folds": "count/op", "store.lookup_files_read": "count",
    "store.lookup_files_total": "count",
    "pipeline.jobs": "count/op", "pipeline.driver_s": "s/op", "pipeline.wall_s": "s/op",
    "pipeline.crawl_s": "s/op", "pipeline.checksum_s": "s/op", "pipeline.copy_s": "s/op",
    "pipeline.store_s": "s/op", "pipeline.gap_s": "s/op",
    **{f"api.{e}.p50_ms": "ms" for e in API_ENDPOINTS},
    "api.jobs_per_request": "count/op", "api.driver_share": "ratio",
    "engine.jobs": "count/op", "engine.stages": "count/op", "engine.tasks": "count/op",
    "engine.driver_s": "s/op", "engine.executor_run_s": "s/op",
    "engine.executor_cpu_s": "s/op", "engine.gc_s": "s/op",
    "engine.shuffle_read_bytes": "bytes/op", "engine.shuffle_write_bytes": "bytes/op",
    "engine.spill_bytes": "bytes/op", "engine.input_bytes": "bytes/op",
    "engine.parallelism": "ratio",
    **{f"queries.{m}.wall_s": "s/pass" for m in MODULES},
    "trace.overhead_frac": "ratio",
}


def _walk(path, hidden=True):
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if hidden or not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Trace:
    def __init__(self, res):
        self.spans = [dict(id=a[0], parent=a[1], name=a[2], req=a[3], start=a[4],
                           end=a[5], task=a[6]) for a in res.get("spans", [])]
        self.by_id = {s["id"]: s for s in self.spans}
        base_ns, base_ms = res["base_ns"], res["base_ms"]
        self.stages = {
            a[0]: dict(start=base_ns + (a[1] - base_ms) * 1e6,
                       end=base_ns + (a[2] - base_ms) * 1e6, tasks=a[3], run_ms=a[4],
                       cpu_ns=a[5], gc_ms=a[6], shuffle_read=a[7], shuffle_write=a[8],
                       spill=a[9], input=a[10])
            for a in res.get("stages", [])}
        self.jobs = [dict(id=a[0], span=a[1], req=a[2], stages=a[3])
                     for a in res.get("jobs", [])]
        self.op_span = {s["req"]: s for s in self.spans
                        if s["parent"] == 0 and s["name"].startswith("op.")}

    def under(self, span_id, ancestor_ids):
        """Whether span `span_id` is one of `ancestor_ids` or inside one."""
        while span_id:
            if span_id in ancestor_ids:
                return True
            span_id = self.by_id[span_id]["parent"] if span_id in self.by_id else 0
        return False

    def stages_of(self, jobs):
        ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        return [self.stages[i] for i in ids]

    def engine(self, reqs):
        """Summed engine figures over the ops `reqs`."""
        t = dict(jobs=0, stages=0, tasks=0, driver_ns=0, wall_ns=0, run_ms=0, cpu_ns=0,
                 gc_ms=0, shuffle_read=0, shuffle_write=0, spill=0, input=0)
        for r in reqs:
            op = self.op_span.get(r)
            if op is None:
                continue
            js = [j for j in self.jobs if j["req"] == r]
            sts = self.stages_of(js)
            wall = op["end"] - op["start"]
            t["jobs"] += len(js)
            t["stages"] += len(sts)
            t["wall_ns"] += wall
            t["driver_ns"] += wall - stats.union_length(
                [(s["start"], s["end"]) for s in sts], op["start"], op["end"])
            for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                      "shuffle_write", "spill", "input"):
                t[k] += sum(s[k] for s in sts)
        return t


def compute(res, spec, facts, cores):
    tr = Trace(res)
    measured = [o for o in res["ops"] if o["measured"]]
    traced = [o for o in measured if o["traced"]]
    reqs = [o["req"] for o in traced]
    n = max(1, len(traced))
    m = {k: 0.0 for k in UNITS}

    # engine, over every traced op
    e = tr.engine(reqs)
    m.update({
        "engine.jobs": e["jobs"] / n, "engine.stages": e["stages"] / n,
        "engine.tasks": e["tasks"] / n, "engine.driver_s": e["driver_ns"] / 1e9 / n,
        "engine.executor_run_s": e["run_ms"] / 1e3 / n,
        "engine.executor_cpu_s": e["cpu_ns"] / 1e9 / n, "engine.gc_s": e["gc_ms"] / 1e3 / n,
        "engine.shuffle_read_bytes": e["shuffle_read"] / n,
        "engine.shuffle_write_bytes": e["shuffle_write"] / n,
        "engine.spill_bytes": e["spill"] / n, "engine.input_bytes": e["input"] / n,
        "engine.parallelism": (e["run_ms"] / 1e3) / (e["wall_ns"] / 1e9 * cores)
        if e["wall_ns"] else 0.0,
    })

    # reader
    opens = [s for s in tr.spans if s["name"] == "reader.open"]
    io = res.get("io", {})
    m["reader.opens"] = len(opens) / n
    m["reader.bytes"] = sum(io.get(k, {}).get("bytes", 0) for k in ("driver", "task")) / n
    m["reader.open_ms_p50"] = (stats.median([(s["end"] - s["start"]) / 1e6 for s in opens])
                               or 0.0)
    m["reader.driver_busy_s"] = io.get("driver", {}).get("busy_ns", 0) / 1e9 / n
    m["reader.task_busy_s"] = io.get("task", {}).get("busy_ns", 0) / 1e9 / n

    # table store
    in_store = lambda s: s["parent"] in tr.by_id and \
        tr.by_id[s["parent"]]["name"].startswith("store.")
    writes = [s for s in tr.spans if s["name"].startswith(STORE_WRITES)]
    reads = [s for s in tr.spans if s["name"].startswith(STORE_READS)]
    m["store.commits"] = len(writes) / n
    m["store.commit_busy_s"] = sum(s["end"] - s["start"] for s in writes
                                   if not in_store(s)) / 1e9 / n
    m["store.reads"] = len(reads) / n
    m["store.read_busy_s"] = sum(s["end"] - s["start"] for s in reads
                                 if not in_store(s)) / 1e9 / n
    m["store.folds"] = sum(1 for s in writes if s["name"].startswith(
        ("store.fold:", "store.compact:"))) / n
    m["store.live_generations"] = sum(res.get("generations", {}).values())
    lookups = res.get("lookups", [])
    if lookups:
        m["store.lookup_files_read"] = sum(a for a, _ in lookups) / len(lookups)
        m["store.lookup_files_total"] = sum(b for _, b in lookups) / len(lookups)
    if "tables" in res:
        files, size = _walk(res["tables"])
        m["store.files_written"] = files / len(res["ops"])
        m["store.bytes_written"] = size / len(res["ops"])

    if spec["kind"] == "api":
        _imports(m, tr, res, [o for o in traced if o["kind"] == "dataset_versions.post"],
                 facts, cores)
        for ep in API_ENDPOINTS:
            m[f"api.{ep}.p50_ms"] = stats.median(
                [o["ms"] for o in measured if o["kind"] == ep and o["ok"]]) or 0.0
        m["api.jobs_per_request"] = e["jobs"] / n
        m["api.driver_share"] = e["driver_ns"] / e["wall_ns"] if e["wall_ns"] else 0.0
    else:
        mods = res.get("query_modules", {})
        for mod in MODULES:
            m[f"queries.{mod}.wall_s"] = sum(
                o["ms"] for o in measured if mods.get(o["kind"]) == mod) / 1e3 / res["units"]

    m["trace.overhead_frac"] = overhead(measured)
    return {k: (float(v), UNITS[k]) for k, v in m.items()}


def overhead(measured):
    """Tracing overhead: the summed per-kind medians of traced ops over
    those of untraced ops, minus one. Ops of a kind are traced in the
    order traced, untraced, untraced, traced, so only whole groups of four
    are compared; a kind with fewer than four measured ops is left out."""
    by_kind = {}
    for o in measured:
        by_kind.setdefault(o["kind"], []).append(o)
    traced = untraced = 0.0
    for ops in by_kind.values():
        whole = ops[:len(ops) - len(ops) % 4]
        if whole:
            traced += stats.median([o["ms"] for o in whole if o["traced"]])
            untraced += stats.median([o["ms"] for o in whole if not o["traced"]])
    return traced / untraced - 1 if untraced else 0.0


def _imports(m, tr, res, traced, facts, cores):
    """Pipeline, crawl, checksum and copy figures, per traced import."""
    n = max(1, len(traced))
    clean = facts["clean"]
    totals = dict(crawl=0, checksum=0, copy=0, store=0, driver=0)
    labels = {}
    docs = 0
    for o in traced:
        op = tr.op_span.get(o["req"])
        if op is None:
            continue
        kids = [s for s in tr.spans if s["parent"] == op["id"] and not s["task"]]
        for k, v in stats.import_stages(op, kids, labels).items():
            totals[k] += v
        docs += sum(1 for s in kids if s["name"] == "reader.open")
    wall = sum(totals.values())
    m["pipeline.wall_s"] = wall / 1e9 / n
    for k, name in (("crawl", "crawl"), ("checksum", "checksum"), ("copy", "copy"),
                    ("store", "store"), ("driver", "gap")):
        m[f"pipeline.{name}_s"] = totals[k] / 1e9 / n
    m["crawl.docs"] = docs / n
    m["crawl.busy_s"] = totals["crawl"] / 1e9 / n
    m["crawl.ms_per_doc"] = totals["crawl"] / 1e6 / docs if docs else 0.0
    e = tr.engine([o["req"] for o in traced])
    m["pipeline.jobs"] = e["jobs"] / n
    m["pipeline.driver_s"] = e["driver_ns"] / 1e9 / n

    data_bytes = sum(d["size"] for d in clean["data"].values())
    copy_opens = 0.0
    for stage in ("checksum", "copy"):
        ids = {i for i, lab in labels.items() if lab == stage}
        task_opens = [s for s in tr.spans if s["name"] == "reader.open" and s["task"]
                      and tr.under(s["parent"], ids)]
        sts = tr.stages_of([j for j in tr.jobs if tr.under(j["span"], ids)])
        busy_s = totals[stage] / 1e9
        m[f"{stage}.busy_s"] = busy_s / n
        m[f"{stage}.tasks"] = sum(s["tasks"] for s in sts) / n
        m[f"{stage}.parallelism"] = (sum(s["run_ms"] for s in sts) / 1e3 / (busy_s * cores)
                                     if busy_s else 0.0)
        if stage == "checksum":
            m["checksum.files"] = len(task_opens) / n
            m["checksum.mib_per_s"] = data_bytes * n / (1 << 20) / busy_s if busy_s else 0.0
        else:
            copy_opens = len(task_opens) / n
    # what the copies left in storage: every clean version's files
    versions = res.get("clean_versions", [])
    if versions:
        files, size = _walk(res["storage"], hidden=False)
        m["copy.files"] = files / len(versions)
        m["copy.bytes_written"] = size / len(versions)
        m["copy.opens_per_file"] = copy_opens / m["copy.files"] if files else 0.0
    # the validator's failed rows on the seeded-defect version (run.py
    # checks them against the injected counts)
    failed = res.get("defects", {}).get("defect", {}).get("failed_checks", {})
    m["checksum.failed_rows"] = failed.get("checksum", 0) + failed.get("staging bucket access", 0)
