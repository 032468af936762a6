"""Turns the JVM's raw record of a run into the benchmark's output: the
correctness verdict against the manifest, the end-to-end metrics of the
untraced loop, and (traced runs) the per-layer metrics and the span
summary. Every metric is defined in perfbench/README.md.
"""
import json
import os
import statistics

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_per_s": "1/s", "rows_per_s": "rows/s", "process_cpu_s": "s",
    "peak_heap_mb": "MB", "stored_bytes_per_row": "B/row", "ok_rate": "ratio",
}

def _ops(loop):
    return loop["ops"]


def _dur_s(op):
    return (op["end_ns"] - op["start_ns"]) / 1e9


# ---------------------------------------------------------------- correctness

def check(res, workload, manifest, config):
    """Returns the list of (op id, reason) mismatches; an op appears at most
    once. Ops of the traced loop are checked like the untraced ones."""
    if manifest.get("config") != config:
        return [(-1, "manifest was recorded for another configuration; "
                     "regenerate it with --regen-manifest")]
    exp = manifest["workloads"][workload]
    bad = []
    ops = _ops(res["untraced"]) + (_ops(res["traced"]) if "traced" in res else [])
    runs = 0
    for op in ops:
        why = None
        if not op["ok"]:
            why = "threw: %s" % op["error"]
        elif op.get("check_error"):
            why = "check threw: %s" % op["check_error"]
        elif workload == "query_mix":
            e = exp[op["name"]]
            if (op["rows"], op["hash"]) != (e["rows"], e["hash"]):
                why = "rows/hash %s/%s, expected %s/%s" % (
                    op["rows"], op["hash"], e["rows"], e["hash"])
        elif workload == "etl_refresh":
            runs += 1
            why = _check_refresh(op, exp, runs)
        else:
            if op["kind"] == "health":
                runs += 1
                if op["health_rows"] != 6 * runs or op["health_run_rows"] != 6:
                    why = "pipeline_health has %d rows (%d for this pass), expected %d (6)" % (
                        op["health_rows"], op["health_run_rows"], 6 * runs)
            else:
                e = exp[op["name"]]
                t = op.get("table", e)
                if op["status"] != "SUCCESS":
                    why = "status %s" % op["status"]
                elif op["records_out"] != e["n"] or op["n"] != e["n"]:
                    why = "records_out %d, expected %d" % (op["records_out"], e["n"])
                elif op["records_in"] != op["expected_in"]:
                    why = "records_in %d, expected %d" % (op["records_in"], op["expected_in"])
                elif (t["rows"], t["hash"]) != (e["rows"], e["hash"]):
                    why = "table rows/hash %s/%s, expected %s/%s" % (
                        t["rows"], t["hash"], e["rows"], e["hash"])
        if why:
            bad.append((op["id"], "%s %s: %s" % (op["kind"], op["name"], why)))
    return bad


def _check_refresh(op, exp, runs):
    if op["status"] != "SUCCESS":
        return "run status %s" % op["status"]
    for s in op["sources"]:
        e = exp["sources"][s["name"]]
        if s["status"] != "SUCCESS":
            return "%s status %s (%s)" % (s["name"], s["status"], s["error"])
        if (s["records_in"], s["records_out"]) != (e["records_in"], e["records_out"]):
            return "%s in/out %d/%d, expected %d/%d" % (
                s["name"], s["records_in"], s["records_out"], e["records_in"], e["records_out"])
    for src, t in op.get("tables", {}).items():
        e = exp["tables"][src]
        if (t["rows"], t["hash"]) != (e["rows"], e["hash"]):
            return "table of %s rows/hash %s/%s, expected %s/%s" % (
                src, t["rows"], t["hash"], e["rows"], e["hash"])
    if op["health_rows"] != 6 * runs:
        return "pipeline_health has %d rows, expected %d" % (op["health_rows"], 6 * runs)
    if op["health_run_rows"] != 6 or op["health_run_success"] != 6:
        return "pipeline_health has %d rows (%d SUCCESS) for this run, expected 6" % (
            op["health_run_rows"], op["health_run_success"])
    return None


# ---------------------------------------------------------- end-to-end

def tail(values):
    """The highest percentile with at least ten values beyond it, as
    (value, percentile). Below 20 values that percentile would not reach the
    median, so the 90th percentile (interpolated) stands in."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return statistics.quantiles(v, n=10, method="inclusive")[-1] if n > 1 else v[0], 90.0
    return v[n - 11], 100.0 * (n - 10) / n


def rows_in(workload, op):
    if workload == "etl_refresh":
        return sum(s["records_in"] for s in op.get("sources", []))
    if workload == "etl_bulk":
        return op.get("records_in", 0) if op["kind"] == "source" else 0
    return op.get("rows", 0)


def end_to_end(res, workload, bad_ids):
    loop = res["untraced"]
    ops = _ops(loop)
    wall = loop["wall_ns"] / 1e9
    lat = [_dur_s(o) for o in ops]
    p50 = statistics.median(lat)
    t, pct = tail(lat)
    failed = sum(1 for o in ops if o["id"] in bad_ids)
    if workload == "query_mix":
        stored = res["stored_bytes"] / res["stored_rows"]
    else:
        last = _last_tables(ops, workload)
        stored = sum(x["bytes"] for x in last) / sum(x["rows"] for x in last)
    m = {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": wall,
        "op_p50_s": p50,
        "op_tail_s": t,
        "ops_per_s": len(ops) / wall,
        "rows_per_s": sum(rows_in(workload, o) for o in ops) / wall,
        "process_cpu_s": loop["cpu_ns"] / 1e9,
        "peak_heap_mb": max(o["live_heap_bytes"] for o in ops) / 2 ** 20,
        "stored_bytes_per_row": stored,
        "ok_rate": 1.0 - failed / len(ops),
    }
    details = {"ops": len(ops), "passes": loop["passes"], "op_tail_pct": pct,
               "heap_pool_peaks_mb": {k: v / 2 ** 20 for k, v in loop["peak_heap_pools"].items()},
               "error_rate": failed / len(ops),
               "setup": {k: v for k, v in res["setup"].items() if k.endswith("_s")}}
    return m, details


def _last_tables(ops, workload):
    if workload == "etl_refresh":
        return list([o for o in ops if "tables" in o][-1]["tables"].values())
    latest = {}
    for o in ops:
        if o["kind"] == "source" and "table" in o:
            latest[o["name"]] = o["table"]
    return list(latest.values())


# ------------------------------------------------------------- per layer

def self_times(spans):
    """Per span name: count, total ms, and self ms (the span's duration minus
    the part of it its child spans cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                end = b
        d = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        d["count"] += 1
        d["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        d["self_ms"] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out


def per_layer(res, workload, query_rows, modules, untraced_wall_s):
    loop = res["traced"]
    ops = _ops(loop)
    passes = loop["passes"]
    tags = res["tags"]
    cores = res["cores"]
    zero = {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input_rows": 0,
            "output_bytes": 0}

    def op_tags(op, phase=None):
        pre = "op%d." % op["id"]
        return [v for k, v in tags.items()
                if k.startswith(pre) and (phase is None or k == pre + phase)]

    def tsum(items, field):
        return sum(t[field] for t in items)

    def per_pass(x):
        return x / passes

    m = {}
    # orchestrate.*
    runs = [o for o in ops if o["kind"] in ("run", "health")]
    if workload == "etl_refresh":
        spans_ms = [o["call_ns"] / 1e6 for o in ops]
        m["orchestrate.run_ms"] = statistics.mean(spans_ms)
        m["orchestrate.jobs_per_run"] = statistics.mean(tsum(op_tags(o), "jobs") for o in ops)
        m["orchestrate.health_ms"] = statistics.mean(
            o["call_ns"] / 1e6 - (o["run_end_ms"] - o["run_start_ms"]) for o in ops)
        m["orchestrate.source_overlap"] = statistics.mean(
            _busy_ms(o["sources"]) / (o["run_end_ms"] - o["run_start_ms"]) for o in ops)
    elif workload == "etl_bulk":
        m["orchestrate.run_ms"] = per_pass(sum(_dur_s(o) for o in ops) * 1e3)
        m["orchestrate.jobs_per_run"] = per_pass(sum(tsum(op_tags(o), "jobs") for o in ops))
        m["orchestrate.health_ms"] = statistics.mean(_dur_s(o) * 1e3 for o in runs)
        # the pass span is its ops' wall time: the last pass's untimed
        # checks sit between its ops
        m["orchestrate.source_overlap"] = statistics.mean(
            _busy_ms(o["sources"]) / (sum(_dur_s(x) for x in ops if x["pass"] == o["pass"]) * 1e3)
            for o in runs)
    else:
        for k in ("run_ms", "jobs_per_run", "health_ms", "source_overlap"):
            m["orchestrate." + k] = 0.0

    # sources/clean/transform/load stage probes (ETL only)
    pr = res.get("probes", {})
    stages = pr.get("stages", {})
    work = pr.get("work", {})

    def stage_ms(st):
        return sum(v[st + "_ns"] for v in stages.values()) / 1e6

    def work_delta(st, prev, field):
        return sum(w.get(st, {}).get(field, 0) - w.get(prev, {}).get(field, 0)
                   for w in work.values())

    m["sources.gen_ms"] = stage_ms("gen") if stages else 0.0
    m["sources.xlsx_ms"] = pr.get("xlsx_ns", 0) / 1e6
    m["clean.ms"] = stage_ms("clean") if stages else 0.0
    m["clean.shuffle_bytes"] = work_delta("clean", "gen", "shuffle_write")
    m["transform.ms"] = stage_ms("transform") if stages else 0.0
    m["transform.jobs"] = work_delta("transform", "clean", "jobs")
    m["load.ms"] = stage_ms("load") if stages else 0.0
    if workload == "etl_refresh":
        ins = sum(s["records_in"] for o in ops for s in o["sources"])
        outs = sum(s["records_out"] for o in ops for s in o["sources"])
        files = statistics.mean(sum(t["files"] for t in o["tables"].values())
                                for o in ops if "tables" in o)
        health_files = ops[-1]["health_files"] / (len(ops) + len(_ops(res["untraced"])))
    elif workload == "etl_bulk":
        src = [o for o in ops if o["kind"] == "source"]
        ins = sum(o["records_in"] for o in src)
        outs = sum(o["records_out"] for o in src)
        files = statistics.mean(sum(o["table"]["files"] for o in src if o["pass"] == p)
                                for p in {o["pass"] for o in src if "table" in o})
        health_files = runs[-1]["health_files"] / runs[-1]["health_appends"]
    else:
        ins = outs = 0
        files = health_files = 0.0
    m["clean.keep_ratio"] = outs / ins if ins else 0.0
    m["load.bytes_written"] = per_pass(sum(tsum(op_tags(o), "output_bytes") for o in ops))
    m["load.files_written"] = files
    m["load.health_files"] = health_files

    # query.* / catalyst.* / module.*
    q = [o for o in ops if o["kind"] == "query"]
    m["query.construct_ms"] = per_pass(sum(o["construct_ns"] for o in q) / 1e6)
    m["query.construct_jobs"] = per_pass(sum(tsum(op_tags(o, "construct"), "jobs") for o in q))
    m["query.exec_ms"] = per_pass(sum(o["exec_ns"] for o in q) / 1e6)
    m["query.exec_jobs"] = per_pass(sum(tsum(op_tags(o, "exec"), "jobs") for o in q))
    for ph in ("analysis", "optimization", "planning"):
        m["catalyst.%s_ms" % ph] = per_pass(sum(o.get("phase_" + ph, 0) for o in q))
    m["codegen.compiles"] = per_pass(res["codegen"]["compiles"])
    m["codegen.compile_ms"] = per_pass(res["codegen"]["compile_ns"] / 1e6)

    # executor.*: tasks of the timed ops only
    all_op = [t for o in ops for t in op_tags(o)]
    wall_ms = loop["wall_ns"] / 1e6
    m["executor.task_cpu_ms"] = per_pass(tsum(all_op, "cpu_ns") / 1e6)
    m["executor.task_run_ms"] = per_pass(tsum(all_op, "run_ms"))
    m["executor.gc_ms"] = per_pass(tsum(all_op, "gc_ms"))
    m["executor.shuffle_write_bytes"] = per_pass(tsum(all_op, "shuffle_write"))
    m["executor.shuffle_read_bytes"] = per_pass(tsum(all_op, "shuffle_read"))
    m["executor.spill_bytes"] = per_pass(tsum(all_op, "spill"))
    m["executor.input_rows"] = per_pass(tsum(all_op, "input_rows"))
    m["executor.tasks"] = per_pass(tsum(all_op, "tasks"))
    m["executor.slot_util"] = tsum(all_op, "run_ms") / (wall_ms * cores)
    m["executor.skew"] = res["skew"]

    # streaming.*: the last progress of each query carries its final state
    st = res["streaming"]
    last = {}
    for p in st:
        last[p["query"]] = p
    m["streaming.batches"] = per_pass(len(st))
    m["streaming.batch_ms"] = per_pass(sum(p["batch_ms"] for p in st))
    m["streaming.input_rows"] = per_pass(sum(p["input_rows"] for p in st))
    m["streaming.state_rows"] = per_pass(sum(p["state_rows"] for p in last.values()))
    m["streaming.state_bytes"] = per_pass(sum(p["state_bytes"] for p in last.values()))

    m["engine.checkpoints"] = statistics.mean(o["rdds_created"] for o in ops)
    m["engine.persisted_rdds"] = statistics.mean(o["rdds_persisted"] for o in ops)
    m["engine.cached_bytes"] = statistics.mean(o["cached_bytes"] for o in ops)

    module_of = {name: mod for name, _, mod in query_rows}
    for mod in modules:
        mine = [o for o in q if module_of.get(o["name"]) == mod]
        tg = [t for o in mine for t in op_tags(o)]
        m["module.%s.construct_ms" % mod] = per_pass(sum(o["construct_ns"] for o in mine) / 1e6)
        m["module.%s.exec_ms" % mod] = per_pass(sum(o["exec_ns"] for o in mine) / 1e6)
        m["module.%s.task_cpu_ms" % mod] = per_pass(tsum(tg, "cpu_ns") / 1e6)
        m["module.%s.shuffle_bytes" % mod] = per_pass(tsum(tg, "shuffle_write"))

    m["trace.overhead_s"] = loop["wall_ns"] / 1e9 - untraced_wall_s
    unattributed = tags.get("unattributed", zero)
    m["trace.unattributed_tasks"] = unattributed["tasks"]
    # self-check: the per-tag task counts add up to every task end seen
    tagged = sum(t["tasks"] for t in tags.values())
    check = {"task_ends": res["task_ends"], "tasks_by_tag": tagged,
             "tasks_of_ops": tsum(all_op, "tasks"),
             "ok": tagged == res["task_ends"]}
    return m, check


def _busy_ms(sources):
    return sum(s["end_ms"] - s["start_ms"] for s in sources)


# ----------------------------------------------------------------- output

def emit(res, workload, trace, manifest_path, config, query_rows, modules, root):
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    bad = check(res, workload, manifest, config)
    bad_ids = {i for i, _ in bad}
    m, details = end_to_end(res, workload, bad_ids)
    print(json.dumps({"env": res["env"]}))
    if res["setup"].get("warmup_failures"):
        details["warmup_failures"] = res["setup"]["warmup_failures"]
    details["mismatches"] = [r for _, r in bad][:20]
    if trace:
        layer, attribution = per_layer(res, workload, query_rows, modules, m["wall_s"])
        summary = self_times(res["spans"])
        details["attribution_check"] = attribution
        details["trace_summary"] = summary
        tdir = os.path.join(root, ".bench_build", "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, "%s-seed%d.json" % (workload, res["seed"]))
        with open(path, "w") as fh:
            json.dump({"spans": res["spans"], "self_times": summary, "tags": res["tags"]}, fh)
        details["trace_file"] = os.path.relpath(path, root)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}
    print(json.dumps({"details": details}))
    attempted = details["ops"] + (len(_ops(res["traced"])) if trace else 0)
    failed = len({i for i in bad_ids if i >= 0}) if all(i >= 0 for i in bad_ids) else attempted
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_ms") or leaf == "ms":
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "B"
    if leaf in ("keep_ratio", "source_overlap", "slot_util", "skew"):
        return "ratio"
    if leaf.endswith("rows"):
        return "rows"
    return "count"
