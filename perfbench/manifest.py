"""Regenerates perfbench/manifest.json, the expected output of every op.

Only `python3 perfbench/run.py --regen-manifest` calls this; a benchmark
run never writes the manifest. Each workload runs once (seed 1, untraced)
and its observed outputs become the expectation, after checks that the
outputs agree with themselves and with what the generators promise:
every query gives the same rows and hash on every pass, every etl_bulk
source loads exactly its generator's n rows, and every etl_refresh run has
all six sources SUCCESS.
"""
import json
import os


def regenerate(run, path, config, workloads):
    """Records `workloads` into the manifest at `path`, keeping the other
    workloads' entries when the configuration is unchanged."""
    out = {"config": config, "workloads": {}}
    if os.path.exists(path):
        with open(path) as fh:
            old = json.load(fh)
        if old.get("config") == config:
            out = old
    for w in workloads:
        res = run(w)
        ops = res["untraced"]["ops"]
        bad = [o for o in ops if not o["ok"] or o.get("check_error")]
        if bad:
            raise SystemExit("regen: %s op %s failed: %s" % (
                w, bad[0]["name"], bad[0]["error"] or bad[0]["check_error"]))
        out["workloads"][w] = RECORDERS[w](ops)
        print("regen: %s recorded from %d ops" % (w, len(ops)))
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _same(d, key, value, what):
    if d.setdefault(key, value) != value:
        raise SystemExit("regen: %s differs between ops: %s vs %s" % (what, d[key], value))


def _query_mix(ops):
    exp = {}
    for o in ops:
        _same(exp, o["name"], {"rows": o["rows"], "hash": o["hash"]}, o["name"])
    return exp


def _etl_bulk(ops):
    exp = {}
    for o in ops:
        if o["kind"] != "source":
            continue
        if o["status"] != "SUCCESS" or o["records_out"] != o["n"]:
            raise SystemExit("regen: %s loaded %d rows, generator n is %d" % (
                o["name"], o["records_out"], o["n"]))
        if "table" in o:
            t = o["table"]
            _same(exp, o["name"], {"n": o["n"], "rows": t["rows"], "hash": t["hash"]}, o["name"])
    return exp


def _etl_refresh(ops):
    exp = {"sources": {}, "tables": {}}
    for o in ops:
        for s in o["sources"]:
            if s["status"] != "SUCCESS":
                raise SystemExit("regen: %s %s" % (s["name"], s["status"]))
            _same(exp["sources"], s["name"],
                  {"records_in": s["records_in"], "records_out": s["records_out"]}, s["name"])
        for src, t in o.get("tables", {}).items():
            _same(exp["tables"], src, {"rows": t["rows"], "hash": t["hash"]}, src)
    return exp


RECORDERS = {"query_mix": _query_mix, "etl_bulk": _etl_bulk, "etl_refresh": _etl_refresh}
