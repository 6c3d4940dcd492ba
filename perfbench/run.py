#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload corpus_train --seed 1 --seconds 8 --trace 0

Builds graft and the benchmark from source (perfbench/build.py),
generates the inputs from the seed (perfbench/gen.py), runs the
workload in one JVM on local[<cores>] (perfbench/scala), checks every
output, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. The lines before it describe the inputs, the
output check and, when traced, the per-layer report by key. Metric
definitions are in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("corpus_train", "stream_load")
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]


def jvm_command(classes, work, args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dgraft.substrate.dir=" + os.path.join(work, "substrate"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + build.classpath(), "perfbench.Main"] + args
    return cmd


def run_jvm(cmd, log_path):
    """Runs the JVM in its own process group and waits for it. On a
    timeout, or when this process is interrupted or terminated, the
    whole group is killed and reaped."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


# ---------------------------------------------------------------- batch

def batch_check(res, input_dir):
    """(attempted, failed, report) over every key execution: a run fails
    when it threw, returned no rows, returned other rows than the key's
    first pass, or (oracle keys) the first pass disagrees with DuckDB."""
    import check
    oracle = check.oracle_check(input_dir, res["oracle_sql"], res["dumps"])
    first = {q["key"]: q.get("hash") for q in res["queries"] if q["pass"] == 1}
    report = {"oracle_mismatch": {k: v for k, v in oracle.items() if v},
              "oracle_keys": len(oracle), "errors": {}, "empty": [], "unstable": []}
    failed = 0
    for q in res["queries"]:
        k = q["key"]
        bad = False
        if not q["ok"]:
            report["errors"][k] = q["error"]
            bad = True
        elif q["rows"] == 0:
            report["empty"].append(k)
            bad = True
        elif q["hash"] != first[k]:
            report["unstable"].append(k)
            bad = True
        if oracle.get(k):
            bad = True
        failed += bad
    report["empty"] = sorted(set(report["empty"]))
    report["unstable"] = sorted(set(report["unstable"]))
    return len(res["queries"]), failed, report


def warm_passes(res, traced=None):
    """The measured passes: pass 1 is cold, pass 2 warms up, and a
    stream's rate pass is measured apart."""
    return [p for p in res["passes"] if p["pass"] > 2 and p.get("kind") != "rate" and
            (traced is None or p["traced"] == traced)]


def batch_end_to_end(res):
    warm = warm_passes(res)
    warm_ids = {p["pass"] for p in warm}
    lat = [q["latency_s"] for q in res["queries"] if q["pass"] in warm_ids and q["ok"]]
    first = next(p for p in res["passes"] if p["pass"] == 1)
    return {"first_pass_s": first["wall_s"],
            "pass_s": stats.median(p["wall_s"] for p in warm),
            "query_p50_s": stats.percentile(lat, 0.5),
            "query_p90_s": stats.percentile(lat, 0.9)}


# --------------------------------------------------------------- stream

def stream_check(res):
    """One operation per sink: its contents equal its batch twin's."""
    report = {"sinks_checked": res["checked"], "mismatches": res["mismatches"],
              "events_fed": res["events_fed"]}
    return res["checked"], len(res["mismatches"]), report


def stream_end_to_end(res):
    warm = warm_passes(res)
    lat = next(p for p in res["passes"] if p["kind"] == "rate")["latencies_s"]
    drain = stats.median(p["wall_s"] for p in warm)
    return {"first_pass_s": res["passes"][0]["wall_s"],
            "pass_s": drain,
            "query_p50_s": stats.percentile(lat, 0.5),
            "query_p90_s": stats.percentile(lat, 0.9),
            "stream_latency_p99_s": stats.percentile(lat, 0.99),
            "stream_latency_samples": len(lat),
            "stream_rate_eps": res["rate_eps"],
            "stream_burst_eps": res["burst"] / drain}


# ------------------------------------------------------------ per layer

def pass_of(res, t_ms):
    for p in res["passes"]:
        if p["start_ms"] <= t_ms < p["end_ms"]:
            return p["pass"]
    return 0


def stage_spans(res):
    """One floating span per collected stage. A batch stage belongs to
    the query whose job group ran it; a streaming stage to the query
    whose run id ran it, in the pass during which it was submitted."""
    queries = {b["run_id"]: b["query"] for p in res["passes"] for b in p.get("batches", [])}
    out = []
    for s in res["stages"]:
        g = s["group"]
        if g.startswith("pb-t-"):
            _, _, p, key = g.split("-", 3)
            p = int(p)
        elif g in queries:
            p, key = pass_of(res, s["submit_ms"]), queries[g]
        else:
            continue
        out.append(dict(s, id=10_000_000 + s["stage"], parent=None, name="stage",
                        layer="stage", key=key, start_ms=s["submit_ms"],
                        end_ms=s["complete_ms"], **{"pass": p}))
    return out


def layer_report(res):
    """Self time (s) by layer, per pass and per key, for traced passes.
    Stages run in parallel, so the time under a span's stages counts
    once, as the union of their intervals, in the "stages" layer."""
    spans = [s for s in res["spans"] if s["parent"] != -1]
    floating = [dict(s, parent=None) for s in res["spans"] if s["parent"] == -1]
    stages = stage_spans(res)
    allspans = stats.attach(spans, floating + stages)
    self_ms = stats.self_times(allspans)
    kids = {}
    for s in allspans:
        kids.setdefault(s["parent"], []).append(s)
    by_pass, by_key = {}, {}

    def add(s, layer, ms):
        lp = by_pass.setdefault(s["pass"], {})
        lp[layer] = lp.get(layer, 0.0) + ms / 1e3
        if s["key"]:
            lk = by_key.setdefault(s["key"], {})
            lk[layer] = lk.get(layer, 0.0) + ms / 1e3
    for s in allspans:
        if s["pass"] < 1 or s["layer"] == "stage":
            continue
        add(s, s["layer"], self_ms[s["id"]])
        st = [(max(s["start_ms"], c["start_ms"]), min(s["end_ms"], c["end_ms"]))
              for c in kids.get(s["id"], []) if c["layer"] == "stage"]
        if st:
            add(s, "stages", stats.union_ms(st))
    coverage = {}
    for top in (s for s in allspans if s["name"] == "pass"):
        covered = [(c["start_ms"], c["end_ms"]) for c in kids.get(top["id"], [])]
        wall = top["end_ms"] - top["start_ms"]
        coverage[top["pass"]] = stats.union_ms(covered) / wall if wall > 0 else 1.0
    return {"self_s_by_pass": by_pass, "self_s_by_key": by_key,
            "coverage_by_pass": coverage, "stages": stages}


def stage_totals(stages):
    skew = [s["max_task_ms"] / s["median_task_ms"] for s in stages
            if s["tasks"] >= 2 and s["median_task_ms"] > 0]
    total = {k: sum(s[k] for s in stages) for k in (
        "cpu_s", "run_s", "sched_s", "tasks", "scan_tasks", "in_bytes", "in_rows",
        "fetch_wait_s", "shuffle_write_b", "spill_b")}
    total["task_skew"] = stats.median(skew) or 1.0
    return total


def per_layer(res, report):
    """The per-layer metrics of a traced run: medians over its traced
    warm passes, unless the name says first pass (`_first`) or the
    metric is a run total (substrate builds, model fits)."""
    stream = "batches" in res["passes"][0]
    first = res["passes"][0]
    units = [p for p in warm_passes(res, traced=True)]
    untraced = warm_passes(res, traced=False)
    stages = {}
    for s in report["stages"]:
        stages.setdefault(s["pass"], []).append(s)
    if stream:
        per_pass = {p["pass"]: p for p in res["passes"]}
        spans = {(s["pass"], s["name"]): s for s in res["spans"]}

        def span_s(p, name):
            s = spans.get((p, name))
            return (s["end_ms"] - s["start_ms"]) / 1e3 if s else 0.0
        field = {
            "build": lambda p: span_s(p, "stream.start"),
            "plan": lambda p: sum(b["durations_s"].get("queryPlanning", 0.0)
                                  for b in per_pass[p]["batches"]),
            "exec": lambda p: sum(b["durations_s"].get("addBatch", 0.0)
                                  for b in per_pass[p]["batches"]),
            "clear": lambda p: 0.0}
    else:
        def qsum(name):
            return lambda p: sum(q[name] for q in res["queries"] if q["pass"] == p)
        per_pass = {}
        for q in res["queries"]:
            c = per_pass.setdefault(q["pass"], {})
            for k in ("gc_ms", "codegen_n", "codegen_ms", "substrate_reads",
                      "substrate_build_s", "substrate_builds", "model_fits"):
                c[k] = c.get(k, 0.0) + q[k]
        field = {"build": qsum("operator_s"), "plan": qsum("plan_s"),
                 "exec": qsum("exec_s"), "clear": qsum("clear_s")}
    wall = {p["pass"]: (p["end_ms"] - p["start_ms"]) / 1e3 for p in res["passes"]}
    ids = [p["pass"] for p in units]
    totals = {i: stage_totals(stages.get(i, [])) for i in ids}
    cores = res["cores"]

    def med(f):
        return stats.median(f(i) for i in ids) if ids else 0.0
    f1 = first["pass"]
    m = {
        "session.start_s": res["setup"]["session_start_s"],
        "session.warmup_s": res["setup"]["session_warmup_s"],
        "operators.build_s": med(field["build"]),
        "operators.build_first_s": field["build"](f1),
        "catalyst.plan_s": med(field["plan"]),
        "catalyst.plan_first_s": field["plan"](f1),
        "codegen.compile_n": med(lambda i: per_pass[i]["codegen_n"]),
        "codegen.compile_s": med(lambda i: per_pass[i]["codegen_ms"] / 1e3),
        "codegen.compile_first_n": per_pass[f1]["codegen_n"],
        "codegen.compile_first_s": per_pass[f1]["codegen_ms"] / 1e3,
        "substrate.build_s": sum(c["substrate_build_s"] for c in per_pass.values()),
        "substrate.builds": sum(c["substrate_builds"] for c in per_pass.values()),
        "substrate.reads": med(lambda i: per_pass[i]["substrate_reads"]),
        "caches.model_fits": sum(c["model_fits"] for c in per_pass.values()),
        "caches.clear_s": med(field["clear"]),
        "scan.bytes_mb": med(lambda i: totals[i]["in_bytes"] / 1048576.0),
        "scan.rows": med(lambda i: totals[i]["in_rows"]),
        "scan.tasks": med(lambda i: totals[i]["scan_tasks"]),
        "exec.wall_s": med(field["exec"]),
        "exec.cpu_s": med(lambda i: totals[i]["cpu_s"]),
        "exec.run_s": med(lambda i: totals[i]["run_s"]),
        "exec.core_util": med(lambda i: totals[i]["cpu_s"] / (wall[i] * cores)),
        "exec.sched_delay_s": med(lambda i: totals[i]["sched_s"]),
        "exec.tasks": med(lambda i: totals[i]["tasks"]),
        "exec.task_skew": med(lambda i: totals[i]["task_skew"]),
        "shuffle.write_mb": med(lambda i: totals[i]["shuffle_write_b"] / 1048576.0),
        "shuffle.fetch_wait_s": med(lambda i: totals[i]["fetch_wait_s"]),
        "shuffle.spill_mb": med(lambda i: totals[i]["spill_b"] / 1048576.0),
        "jvm.gc_s": med(lambda i: per_pass[i]["gc_ms"] / 1e3),
        "jvm.code_cache_mb": res["code_cache_mb"],
        "trace.coverage": min((report["coverage_by_pass"].get(i, 0.0) for i in ids), default=0.0),
        "trace.overhead_s": (stats.median(p["wall_s"] for p in units) -
                             stats.median(p["wall_s"] for p in untraced)) if untraced else 0.0,
        "stream.batch_s": 0.0, "stream.batches": 0.0, "stream.commit_s": 0.0,
        "stream.state_rows": 0.0, "stream.state_mem_mb": 0.0, "stream.backlog_rows": 0.0,
        "sink.jdbc_upsert_s": 0.0, "sink.jdbc_rows": 0.0, "loadgen.lag_s": 0.0,
    }
    if stream:
        rate = next(p for p in res["passes"] if p["kind"] == "rate")

        def batches(i, query=None):
            return [b for b in per_pass[i]["batches"] if query in (None, b["query"])]

        def last(i, field_name):
            by_q = {b["query"]: b[field_name] for b in batches(i)}
            return sum(by_q.values())
        m.update({
            "stream.batch_s": med(lambda i: stats.median(
                b["durations_s"].get("triggerExecution", 0.0)
                for b in batches(i) if b["rows"] > 0) or 0.0),
            "stream.batches": med(lambda i: len(batches(i))),
            "stream.commit_s": med(lambda i: sum(
                b["durations_s"].get("walCommit", 0.0) + b["durations_s"].get("commitOffsets", 0.0)
                for b in batches(i))),
            "stream.state_rows": med(lambda i: last(i, "state_rows")),
            "stream.state_mem_mb": med(lambda i: last(i, "state_mem_b") / 1048576.0),
            "stream.backlog_rows": rate["backlog_rows_max"],
            "sink.jdbc_upsert_s": med(lambda i: sum(
                b["durations_s"].get("addBatch", 0.0) for b in batches(i, "cdc"))),
            "sink.jdbc_rows": med(lambda i: sum(b["state_updated"] for b in batches(i, "cdc"))),
            "loadgen.lag_s": max(rate["lag_s"], default=0.0),
        })
    return m


# ------------------------------------------------------------------ main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_benchmark_json():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv):
    a = parse_args(argv)
    spec = load_benchmark_json()
    classes = build.build()
    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    for d in ("tmp", "substrate", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        manifest = gen.write(a.seed, input_dir)
        print(json.dumps({"inputs": manifest}))
        args = ["--workload", a.workload, "--input", input_dir, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        rc = run_jvm(jvm_command(classes, work, args), os.path.join(work, "jvm.log"))
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"the workload JVM failed (exit {rc})")
        with open(result_path) as f:
            res = json.load(f)

        if "checked" in res:
            attempted, failed, report = stream_check(res)
            e2e = stream_end_to_end(res)
        else:
            attempted, failed, report = batch_check(res, input_dir)
            e2e = batch_end_to_end(res)
        e2e["setup_s"] = res["setup"]["setup_s"]
        e2e["heap_peak_mb"] = res["heap_peak_mb"]
        print(json.dumps({"check": report, "attempted": attempted, "failed": failed,
                          "failed_frac": failed / attempted}))
        print(json.dumps({"storage_memory_mb": res["storage_memory_mb"],
                          "input_mb": sum(t["bytes"] for t in manifest["tables"].values()) / 1048576.0}))
        print(json.dumps({"end_to_end": e2e}))
        if a.trace:
            report = layer_report(res)
            print(json.dumps({"layer_report": {k: v for k, v in report.items() if k != "stages"}}))
            values = per_layer(res, report)
            wanted = spec["per_layer"]
        else:
            values = e2e
            wanted = spec["end_to_end"]
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None:
                raise SystemExit(f"metric {m['name']} could not be computed")
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    main(sys.argv[1:])
