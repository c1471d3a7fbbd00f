#!/usr/bin/env python3
"""Benchmark of the geospatial data lake: the validate-and-import pipeline,
the catalog/status API and the operator queries.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
harness into `.bench_build/` (see build.py). Each run makes its inputs from
the seed, drives one workload in a single JVM (`local[4]`, one client
thread), checks every output, prints a record line with the full set of
workload figures and then, as the last line, the result object:
  --trace 0: the end-to-end metrics of BENCHMARK.json
  --trace 1: the per-layer metrics, from spans and Spark listener events
See perfbench/README.md for the workloads, the metrics and which layer
moves which figure.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import layers  # noqa: E402
import stacgen  # noqa: E402
import stats  # noqa: E402

BENCH = build.BENCH
BUCKET = "perfbench-staging"
SETUPS = 3
CORES = 4
JVM_TIMEOUT_S = 165

QUERIES = [
    # the paper's access patterns (RelationalOps)
    "q01_scan_prefix", "q02_point_lookup", "q03_eq_lookup", "q04_exists_guard",
    "q05_prefix_count", "q06_ordered_manifest", "q07_outcome_filter",
    "q08_allpass_summary", "q09_consistency_rule", "q10_enumerate",
    "q11_status_merge", "q12_key_compose", "q13_url_funcs", "q14_multihash",
    "q15_manifest_csv", "q16_graph_bfs", "q17_revenue_agg",
    # one of the cheaper queries of each other operator module
    "q21_fingerprint", "q28_ann_buckets", "q37_iso_datetime", "q33_json_dup_keys",
    "q110_domain_mixture", "q237_zstd_chain", "q178_sitemap_parse",
    "q232_polygon_zorder",
]

WORKLOADS = {
    "api_mixed": {"kind": "api", "datasets": 2, "items": 10, "asset_bytes": 1024,
                  "collections": 2},
    "operator_queries": {"kind": "queries", "queries": QUERIES},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_inputs(spec, seed, work):
    """Write the workload's inputs under `work`; return (config, facts)."""
    cfg = {}
    facts = {}
    staging = os.path.join(work, "staging")
    if spec["kind"] == "api":
        # the two defect graphs are imported once, before the timed loop
        # (which also warms the JIT); every block of the loop imports `clean`
        # again as a new version
        graphs = {
            "clean": dict(n_items=spec["items"], asset_bytes=spec["asset_bytes"],
                          n_collections=spec["collections"]),
            "defect": dict(n_items=4, asset_bytes=1024,
                           defects={"checksum": 2, "missing": 1, "dupkey": 1}),
            "schema": dict(n_items=3, asset_bytes=64, defects={"schema": 1}),
        }
        for i, (g, kw) in enumerate(graphs.items()):
            facts[g] = stacgen.generate(os.path.join(staging, g), seed * 10 + i, **kw)
            cfg[f"{g}_url"] = f"s3://{BUCKET}/{g}/catalog.json"
        cfg["datasets"] = spec["datasets"]
    else:
        cfg["data"] = os.path.join(BENCH, "data", "sf0.01")
        cfg["queries"] = spec["queries"]
        cfg["qout"] = os.path.join(work, "qout")
    cfg["bucket"] = BUCKET
    cfg["staging"] = staging
    return cfg, facts


def run_jvm(classes, cfg, work, deadline):
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness", cfg_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness JVM timed out; see " + log_path)
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited with {rc}:\n{tail}")
    with open(cfg["result"]) as f:
        return json.load(f)


# ---- output checks ---------------------------------------------------------

def check_imports(res, facts):
    """Storage layout, href rewriting and copied bytes of the clean
    versions; failure counts and skipped uploads of the defect versions."""
    problems = []
    storage = res["storage"]
    base = os.path.join(storage, f"{res['title']}-{res['dataset_id']}")
    clean = facts["clean"]
    want = set(clean["metadata"]) | set(clean["data"])
    versions = res["clean_versions"]
    for i, v in enumerate(versions):
        d = os.path.join(base, v)
        got = {n for n in os.listdir(d) if not n.startswith(".")} if os.path.isdir(d) else set()
        if got != want:
            problems.append(f"version {v}: {len(got)} files stored, {len(want)} staged")
            continue
        for n, meta in clean["data"].items():
            if os.path.getsize(os.path.join(d, n)) != meta["size"]:
                problems.append(f"version {v}: {n} has the wrong size")
        if i == len(versions) - 1:
            for n, meta in clean["data"].items():
                with open(os.path.join(d, n), "rb") as f:
                    if stacgen.multihash(f.read()) != meta["multihash"]:
                        problems.append(f"version {v}: {n} content differs")
            for n in clean["metadata"]:
                with open(os.path.join(d, n)) as f:
                    doc = json.load(f)
                hrefs = [l["href"] for l in doc.get("links", [])] + \
                    [a["href"] for a in doc.get("assets", {}).values()]
                if any("/" in h for h in hrefs):
                    problems.append(f"version {v}: {n} keeps a non-basename href")
    for g in ("defect", "schema"):
        d = res.get("defects", {}).get(g)
        if d is None:
            problems.append(f"{g} version did not import")
            continue
        if d["failed_checks"] != facts[g]["expected_failures"]:
            problems.append(f"{g} version: failures {d['failed_checks']}, "
                            f"injected {facts[g]['expected_failures']}")
        if (d["validation"], d["metadata_upload"], d["asset_upload"]) != \
                ("Failed", "Skipped", "Skipped"):
            problems.append(f"{g} version: status {d['validation']}/"
                            f"{d['metadata_upload']}/{d['asset_upload']}")
        if os.path.exists(os.path.join(base, d["execution"].replace("execution-", ""))):
            problems.append(f"{g} version was copied to storage")
    return problems


def check_queries(res, cfg):
    import duckdb
    import qcheck
    with open(os.path.join(BENCH, "query_pins.json")) as f:
        pins = json.load(f)
    problems = []
    con = duckdb.connect()
    for q in cfg["queries"]:
        d = os.path.join(cfg["qout"], q)
        if not os.path.isdir(d):
            problems.append(f"{q}: no output")
            continue
        got = qcheck.fingerprint(con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')"))
        want = pins.get(q)
        if want is None or [got[0], got[1]] != [want["rows"], want["hash"]]:
            problems.append(f"{q}: {got[0]} rows, hash {got[1][:12]}; pinned {want}")
    return problems


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs (diagnostic)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def disk_bytes(path):
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


# ---- metrics ---------------------------------------------------------------

def end_to_end(res):
    measured = [o["ms"] for o in res["ops"] if o["measured"]]
    return {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "op_p50_ms": (stats.median(measured), "ms"),
        "op_mean_ms": (sum(measured) / len(measured), "ms"),
        "op_cpu_ms": ((res["measure_client_cpu_s"] + res["measure_task_cpu_s"]) * 1000.0
                      / len(measured), "ms"),
    }


def record(spec, res, facts):
    """The workload's own figures, by the names the design uses."""
    measured = [o for o in res["ops"] if o["measured"]]
    ms = [o["ms"] for o in measured]
    rec = {}

    def tail_of(prefix, values):
        rec[prefix + "_p50_ms"] = stats.median(values)
        t = stats.tail(values)
        if t is not None:
            rec[f"{prefix}_p{t[0]:g}_ms"] = t[1]

    if spec["kind"] == "api":
        imports = [o["ms"] for o in measured if o["kind"] == "dataset_versions.post"]
        reads = [o["ms"] for o in measured if o["kind"] in layers.API_READS]
        writes = [o["ms"] for o in measured
                  if o["kind"] not in layers.API_READS and o["kind"] != "dataset_versions.post"]
        tail_of("api_read", reads)
        tail_of("api_write", writes)
        rec["status_p50_ms"] = stats.median(
            [o["ms"] for o in measured if o["kind"] == "import_status.get"])
        rec["api_ops_per_s"] = len(ms) / res["measure_s"]
        clean = facts["clean"]
        staged = clean["bytes"]
        n_files = len(clean["metadata"]) + len(clean["data"])
        if imports:
            rec["import_s_p50"] = stats.median(imports) / 1000.0
            rec["import_assets_per_s"] = n_files / rec["import_s_p50"]
            rec["import_mib_per_s"] = staged / (1 << 20) / rec["import_s_p50"]
        n_versions = len(res["clean_versions"])
        stored = disk_bytes(res["storage"]) + disk_bytes(res["tables"])
        rec["storage_amp"] = stored / (n_versions * staged) if n_versions else None
    else:
        rec["queries_total_s"] = sum(ms) / 1000.0 / res["units"]
        rec["query_p50_s"] = stats.median(ms) / 1000.0
    rec["peak_rss_mib"] = res["peak_rss_kb"] / 1024.0
    rec["phases_s"] = {"session": res["session_s"], "setup": sum(res["setup_s"]),
                       "verify": res.get("verify_s"), "measure": res["measure_s"]}
    return rec


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    spec = WORKLOADS[args.workload]

    try:
        classes = build.ensure_built()
    except Exception as e:  # no sources, no toolchain or a compile error
        log(f"build failed: {e}")
        return 2
    # a first run that had to compile still gets the full time to measure
    deadline = max(deadline, time.monotonic() + JVM_TIMEOUT_S - 30)

    work = os.path.join(build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg, facts = make_inputs(spec, args.seed, work)
        # leave the JVM time to write its record after the measured loop
        budget = max(10.0, deadline - time.monotonic() - 60)
        cfg.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                   trace=bool(args.trace), work=work, setups=SETUPS, cores=CORES,
                   measure_budget_s=budget,
                   result=os.path.join(work, "result.json"))
        steal0 = steal_s()
        try:
            res = run_jvm(classes, cfg, work, deadline)
        except RuntimeError as e:
            log(str(e))
            return 1

        failures = list(res["failures"])
        if spec["kind"] == "api":
            problems = check_imports(res, facts)
        else:
            problems = check_queries(res, cfg)
        failures += [{"op": "check", "error": p} for p in problems]
        attempted = len(res["ops"])
        # a wrong output found here fails the op that produced it, which the
        # harness already counted as attempted
        failed = min(attempted, len(failures))

        rec = record(spec, res, facts)
        rec["ops_failed_frac"] = failed / attempted
        rec["steal_s"] = steal_s() - steal0
        rec["failures"] = failures[:20]
        if args.trace:
            metrics = layers.compute(res, spec, facts, CORES)
        else:
            metrics = end_to_end(res)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "record": rec}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
