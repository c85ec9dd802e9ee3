"""Per-layer metrics of a traced run, derived from the written-out spans.

Spans are (id, parent, request, name, start, end). Spark jobs and Catalyst
phases arrive without a parent; each is attached to the innermost span of
its request that contains its start. A span's self time is its duration
minus the part of it covered by its children.
"""
import json
import os

QUERIES = ["q41_tumbling_window", "q43_session_window", "q51_minhash_pairs",
           "q55_text_profile", "q190_kneser_ney", "q195_curation_v4"]
VERBS = ["append", "merge", "delete", "delete_mor", "fold", "compact", "analyze", "vacuum",
         "point_read", "pruned_read", "stats", "read_version"]
REQUEST_LAYERS = ["parse", "cubes.build", "compile", "respond.nest", "respond.collect"]
PHASES = ["analysis", "optimization", "planning"]
EXEC = ["jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "input_bytes"]

# (name, unit), in report order; BENCHMARK.json lists the same names
METRICS = (
    [("parse.self_ms", "ms"), ("cubes.build_ms", "ms"), ("compile.self_ms", "ms"),
     ("respond.nest_ms", "ms"), ("respond.collect_ms", "ms"), ("respond.rows", "count")]
    + [(f"spark.catalyst.{p}_ms", "ms") for p in PHASES + ["codegen"]]
    + [("exec.self_ms", "ms"), ("exec.plan_cache.hit_ratio", "ratio"),
       ("exec.plan_cache.hits", "count"), ("exec.plan_cache.misses", "count"),
       ("exec.plan_cache.wait_ms", "ms")]
    + [(f"sources.manifest.{v}_ms", "ms") for v in VERBS]
    + [("sources.manifest.bytes_written", "bytes"), ("sources.manifest.files_written", "count"),
       ("sources.manifest.merge_over_cap_share", "ratio"),
       ("sources.manifest.files_admitted_ratio", "ratio"),
       ("sources.manifest.full_scan_share", "ratio")]
    + [("spark.exec.driver_actions", "count")]
    + [(f"spark.exec.{k}", "ms" if k.endswith("_ms") else
        "bytes" if k.endswith("_bytes") else "count") for k in EXEC]
    + [(f"queries.{q}{s}", "ms") for q in QUERIES for s in ("_ms", "_task_ms")]
    + [("jvm.gc_ms", "ms"), ("trace.overhead_ms", "ms"), ("trace.target_layer_share", "ratio")]
)


def load_spans(path):
    spans = {}
    with open(path) as fh:
        for line in fh:
            s = json.loads(line)
            spans[s["id"]] = s
    # attach parentless spans (jobs, phases) by time containment
    by_req = {}
    for s in spans.values():
        by_req.setdefault(s["req"], []).append(s)
    for group in by_req.values():
        anchored = [s for s in group if s["parent"] != -1]
        for s in group:
            if s["parent"] != -1:
                continue
            tol = 1_000_000  # job and phase times have millisecond resolution
            hosts = [a for a in anchored
                     if a["start"] - tol <= s["start"] and s["start"] <= a["end"] + tol]
            host = min(hosts, key=lambda a: a["end"] - a["start"], default=None)
            s["parent"] = host["id"] if host else 0
    children = {}
    for s in spans.values():
        if s["parent"] > 0:
            children.setdefault(s["parent"], []).append(s)
    for s in spans.values():
        covered = _covered((max(c["start"], s["start"]), min(c["end"], s["end"]))
                           for c in children.get(s["id"], []))
        s["self"] = max(s["end"] - s["start"] - covered, 0)
    return spans


def _ms(ns):
    return ns / 1e6


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, work):
    """Return ({metric: (value, unit)}, report) for a traced run."""
    spans = load_spans(os.path.join(work, "spans.jsonl"))
    roots = {s["id"]: s for s in spans.values() if s["parent"] == 0 and s["req"] == s["id"]}
    by_req = {}
    for s in spans.values():
        by_req.setdefault(s["req"], []).append(s)

    def self_of(req, name):
        return sum(s["self"] for s in by_req.get(req, []) if s["name"] == name)

    def incl_of(req, prefix):
        return sum(s["end"] - s["start"] for s in by_req.get(req, []) if s["name"].startswith(prefix))

    ops = res["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    # request roots that served a cube request
    cube_reqs = [r for r in roots.values()
                 if any(s["name"] == "parse" for s in by_req[r["id"]])]
    m = {}
    for name in REQUEST_LAYERS:
        key = {"parse": "parse.self_ms", "cubes.build": "cubes.build_ms",
               "compile": "compile.self_ms", "respond.nest": "respond.nest_ms",
               "respond.collect": "respond.collect_ms"}[name]
        m[key] = _mean(_ms(self_of(r["id"], name)) for r in cube_reqs)
    m["respond.rows"] = _mean(o.get("rows", 0) for o in ops if o["kind"] in ("request", "cube"))
    for p in PHASES:
        m[f"spark.catalyst.{p}_ms"] = _mean(_ms(incl_of(r["id"], f"spark.catalyst.{p}"))
                                           for r in cube_reqs)
    counters = res["counters"]
    m["spark.catalyst.codegen_ms"] = _mean(_codegen_ms(r) for r in roots.values())

    pc = res.get("plan_cache", {"hits": 0, "misses": 0})
    m["exec.plan_cache.hits"] = pc["hits"]
    m["exec.plan_cache.misses"] = pc["misses"]
    m["exec.plan_cache.hit_ratio"] = pc["hits"] / max(pc["hits"] + pc["misses"], 1)
    # the runner's own work around the collect: its stats listener and the wait for it
    m["exec.self_ms"] = _mean(_ms(self_of(r["id"], "exec")) for r in cube_reqs)
    waits = [_ms(s["self"]) for s in spans.values() if s["name"] == "exec.plan_cache"]
    m["exec.plan_cache.wait_ms"] = _mean(waits)

    for v in VERBS:
        m[f"sources.manifest.{v}_ms"] = _mean(
            _ms(s["end"] - s["start"]) for s in spans.values()
            if s["name"] == f"sources.manifest.{v}")
    lake = res.get("lake")
    writes = [o for o in ops if o["class"] == "write"]
    merges = [o for o in ops if o["kind"] == "merge"]
    m["sources.manifest.bytes_written"] = lake["bytes_added"] / max(len(writes), 1) if lake else 0
    m["sources.manifest.files_written"] = lake["files_added"] / max(len(writes), 1) if lake else 0
    m["sources.manifest.merge_over_cap_share"] = _mean(1.0 if o.get("over_cap") else 0.0
                                                       for o in merges)
    if lake and lake["admitted"]:
        m["sources.manifest.files_admitted_ratio"] = (
            sum(a for a, _ in lake["admitted"]) / sum(t for _, t in lake["admitted"]))
        m["sources.manifest.full_scan_share"] = lake["full_scans"] / lake["pruned_reads"]
    else:
        m["sources.manifest.files_admitted_ratio"] = 0.0
        m["sources.manifest.full_scan_share"] = 0.0

    m["spark.exec.driver_actions"] = counters["driver_actions"] / max(len(ops), 1)
    for k in EXEC:
        m[f"spark.exec.{k}"] = _mean(r.get("exec", {}).get(k, 0) for r in roots.values())

    for q in QUERIES:
        qs = [r for r in roots.values() if r["attrs"].get("query") == q]
        m[f"queries.{q}_ms"] = _mean(_ms(r["end"] - r["start"]) for r in qs)
        m[f"queries.{q}_task_ms"] = _mean(r.get("exec", {}).get("task_ms", 0) for r in qs)

    m["jvm.gc_ms"] = res["jvm"]["gc_ms"]
    m["trace.overhead_ms"] = overhead(ops)

    # the layer each workload was built to stress, as a share of traced op time
    w = res["workload"]
    if w == "cube_api":
        misses = [r for r in cube_reqs if any(s["name"] == "compile" for s in by_req[r["id"]])]
        front = ["parse", "cubes.build", "compile", "respond.nest", "respond.collect",
                 "exec.plan_cache"]
        num = sum(sum(self_of(r["id"], n) for n in front)
                  + sum(incl_of(r["id"], f"spark.catalyst.{p}") for p in PHASES) for r in misses)
        den = sum(r["end"] - r["start"] for r in misses)
        target = ("front door (parse, cubes, compile, catalyst, respond) on misses", num, den)
        miss_codegen_ms = _mean(_codegen_ms(r) for r in misses)
    elif w == "lakehouse_rw":
        num = sum(incl_of(r["id"], "sources.manifest.") for r in roots.values())
        den = sum(r["end"] - r["start"] for r in roots.values())
        target = ("sources.manifest verbs", num, den)
    else:
        num = sum(_covered((s["start"], s["end"]) for s in by_req[r["id"]]
                           if s["name"] == "spark.exec.job") for r in roots.values())
        den = sum(r["end"] - r["start"] for r in roots.values())
        target = ("spark.exec jobs", num, den)
    m["trace.target_layer_share"] = target[1] / max(target[2], 1)

    # self-time table over every traced op; a request's concurrent jobs
    # count once, as the wall time they cover together
    table = {}
    total = sum(r["end"] - r["start"] for r in roots.values())
    for s in spans.values():
        t = table.setdefault(s["name"], [0, 0])
        t[0] += s["self"] if s["name"] != "spark.exec.job" else 0
        t[1] += 1
    if "spark.exec.job" in table:
        table["spark.exec.job"][0] = sum(
            _covered((s["start"], s["end"]) for s in group if s["name"] == "spark.exec.job")
            for group in by_req.values())
    report = {
        "self_time_table": {n: {"self_ms": round(_ms(v[0]), 3), "spans": v[1],
                                "share": round(v[0] / max(total, 1), 4)}
                            for n, v in sorted(table.items(), key=lambda kv: -kv[1][0])},
        "target_layer": {"layer": target[0], "share": m["trace.target_layer_share"],
                         "base_ms": {"layer": _ms(target[1]), "ops": _ms(target[2])}},
        "plan_cache": {"hit_ratio": m["exec.plan_cache.hit_ratio"],
                       "base": {"hits": pc["hits"], "misses": pc["misses"]}},
        "tracing_overhead": {"per_op_ms": m["trace.overhead_ms"],
                             "traced_ops": len(traced), "untraced_ops": len(untraced)},
    }
    if w == "cube_api":
        # codegen compiles inside tasks as well as on the driver, so part of
        # it sits inside the spark.exec job spans of a miss
        report["target_layer"]["codegen_per_miss_ms"] = miss_codegen_ms
    if lake:
        report["sources.manifest"] = {
            "files_admitted": {"admitted": sum(a for a, _ in lake["admitted"]),
                               "snapshot_files": sum(t for _, t in lake["admitted"])},
            "full_scans": {"full": lake["full_scans"], "pruned_reads": lake["pruned_reads"]},
            "merge_over_cap": {"over": sum(1 for o in merges if o.get("over_cap")),
                               "merges": len(merges)}}
    units = dict(METRICS)
    return {k: (float(m[k]), units[k]) for k, _ in METRICS}, report


def _codegen_ms(root):
    return int(root["attrs"].get("codegen_ns", 0)) / 1e6


def overhead(ops):
    """Traced minus untraced op time, per op: the difference of medians
    within each kind of op, weighted by how often the kind ran. The cold
    first pass of a batch run is left out."""
    strata = {}
    for o in ops:
        if o.get("pass") == 0:
            continue
        key = o.get("req_kind", o["kind"])
        strata.setdefault(key, ([], []))[0 if o["traced"] else 1].append(o["ms"])
    both = [(t, u) for t, u in strata.values() if t and u]
    weight = sum(len(t) + len(u) for t, u in both)

    def med(xs):
        xs = sorted(xs)
        return (xs[(len(xs) - 1) // 2] + xs[len(xs) // 2]) / 2

    return sum((len(t) + len(u)) * (med(t) - med(u)) for t, u in both) / max(weight, 1)


def _covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
