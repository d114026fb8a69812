#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one single-client local[<cores>] Spark session in
a fresh JVM (perfbench/scala), checks every output outside the timed region
(perfbench/oracle.py), prints each metric by name and unit, and ends with
one JSON line: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run also writes its spans to
.bench_build/trace/. perfbench/README.md describes the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Fixed query panel of curation_pipeline: a full pass over the 125 curation
# queries takes minutes on a few cores, so the workload times a panel that
# the seed only reorders. It covers each curation family: BPE tokens, exact,
# URL, near and semantic dedup (MinHash and embedding artifacts built on
# first use), the quality classifier, DSIR weights, IVF retrieval (the
# trained model is memoized per session) and a Caching-barrier query.
# Queries that write stored ANN indexes, full-text indexes, streaming sources
# or CSV dumps use fixed directories outside the run's own and are left out.
PANELS = {
    "curation_pipeline": [
        "q_bpe_tokens", "q_exact_dedup", "q_url_dedup", "q_minhash_pairs",
        "q_near_dedup_clusters", "q_semantic_dedup", "q_quality_classifier",
        "q_dsir_weights", "q_cosine_topk_ivf", "q_lm_bigram_score"],
}
WORKLOADS = ["curation_pipeline", "events_ingest_scan"]
MIN_STEADY = 3  # untraced steady rounds per run
JVM_HEAP = "3g"
# The JVM may run --seconds plus this long: set-up, the cold and warm-up
# rounds, the last steady round and the checks (about 40 s on 4 cores).
JVM_ALLOWANCE_S = 130
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

END_TO_END = [
    ("setup_s", "s"), ("first_round_s", "s"), ("round_s", "s"),
    ("query_p50_s", "s"), ("peak_rss_mb", "MB"),
]
CATALYST_PHASES = ("analysis", "optimization", "planning")
LAYERS = ["query", "construct", "analysis", "optimization", "planning",
          "execute", "job", "stage"]
SETUP_PARTS = ("session", "warmup", "resolve")
PER_LAYER = [(f"setup.{p}_s", "s") for p in SETUP_PARTS] + [
    ("construct.s", "s"), ("construct.jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.rule_effective_ratio", "ratio"),
    ("codegen.compiles", "count"), ("codegen.first_round_compiles", "count"),
    ("codegen.first_round_compile_s", "s"), ("codegen.first_round_source_kb", "KiB"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.failed_tasks", "count"),
    ("scheduler.single_task_stage_share", "ratio"),
    ("scheduler.delay_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_share", "ratio"),
    ("exec.core_busy_ratio", "ratio"), ("exec.input_bytes", "B"),
    ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.rows_in_per_row_out", "ratio"),
    ("cache.scans", "count"), ("cache.built_blocks", "count"),
    ("cache.built_bytes", "B"), ("cache.hit_ratio", "ratio"),
    ("cache.resident_bytes", "B"),
    ("tables.ingest_rows_per_s", "1/s"), ("tables.compact_rows_per_s", "1/s"),
    ("tables.files_written", "count"),
    ("tables.bytes_written", "B"), ("tables.bytes_rewritten", "B"),
    ("tables.files_per_bucket", "count"), ("tables.bytes_per_user_byte", "ratio"),
    ("trace.overhead_s", "s"),
] + [(f"self.{layer}_s", "s") for layer in LAYERS[1:]]


def hot_queries():
    """Names of the ingest workload's hot KQL set, in file order."""
    with open(os.path.join(HERE, "hot_queries.kql")) as f:
        return [line[3:].strip() for line in f if line.startswith("// ")]


def seeded_order(seed, names):
    return [str(x) for x in np.random.default_rng([seed, 30]).permutation(names)]


def secs(a_ms, b_ms):
    return (b_ms - a_ms) / 1e3


def cpu_ticks():
    """(steal, total) CPU ticks of the machine, from /proc/stat; None where
    the platform has no such file."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


# ---------------------------------------------------------------------------
# Spans and per-layer metrics of a traced run
# ---------------------------------------------------------------------------

def attribute_execs(res):
    """Catalyst records -> (sample id, phase of the sample) by phase start."""
    samples = sorted(res["samples"], key=lambda s: s["start_ms"])
    starts = [int(s["start_ms"]) for s in samples]
    out = []
    for e in res["execs"]:
        if not e["phases"]:
            continue
        t = min(p[0] for p in e["phases"].values())
        i = int(np.searchsorted(starts, t, side="right")) - 1
        if i >= 0 and t <= samples[i]["end_ms"] + 1:
            s = samples[i]
            out.append((s["id"], "construct" if t < s["construct_end_ms"] else "execute", e))
    return out


def build_spans(res, round_ids):
    """Spans of the samples of the given rounds: query > construct/execute >
    catalyst phases and jobs > stages. All spans of a query share its id."""
    spans = []
    stage_by_id = {s["id"]: s for s in res["stages"]}
    wanted = {s["id"] for s in res["samples"] if s["round"] in round_ids}
    for s in res["samples"]:
        if s["id"] not in wanted:
            continue
        q = s["id"]
        spans += [
            {"id": q, "query": q, "name": "query", "parent": None,
             "start": s["start_ms"], "end": s["end_ms"]},
            {"id": q + "/construct", "query": q, "name": "construct", "parent": q,
             "start": s["start_ms"], "end": s["construct_end_ms"]},
            {"id": q + "/execute", "query": q, "name": "execute", "parent": q,
             "start": s["construct_end_ms"], "end": s["end_ms"]}]
        for name, (a, b) in s.get("plan_phases", {}).items():
            if name in CATALYST_PHASES:
                spans.append({"id": f"{q}/construct/{name}", "query": q, "name": name,
                              "parent": q + "/construct", "start": a, "end": b})
    for k, (q, phase, e) in enumerate(attribute_execs(res)):
        if q not in wanted:
            continue
        for name, (a, b) in e["phases"].items():
            if name in CATALYST_PHASES:
                spans.append({"id": f"{q}/{phase}/{name}{k}", "query": q, "name": name,
                              "parent": f"{q}/{phase}", "start": a, "end": b})
    for j in res["jobs"]:
        if j["query"] not in wanted:
            continue
        jid = f"{j['query']}/job{j['id']}"
        spans.append({"id": jid, "query": j["query"], "name": "job",
                      "parent": f"{j['query']}/{j['phase']}",
                      "start": j["start_ms"], "end": j["end_ms"]})
        for sid in j["stages"]:
            st = stage_by_id.get(sid)
            if st and st["job"] == j["id"] and st["tasks"] > 0:
                spans.append({"id": f"{jid}/stage{sid}", "query": j["query"],
                              "name": "stage", "parent": jid,
                              "start": st["submit_ms"], "end": st["end_ms"]})
    return spans


def layer_self_seconds(spans):
    self_ms = stats.self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        out[s["name"]] += self_ms[s["id"]] / 1e3
    return out


def round_layers(res, r, rows_out, cores):
    """Per-layer values of one traced round."""
    samples = [s for s in res["samples"] if s["round"] == r]
    ids = {s["id"] for s in samples}
    jobs = [j for j in res["jobs"] if j["query"] in ids]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in res["stages"] if s["job"] in job_ids and s["tasks"] > 0]
    execs = [e for q, _, e in attribute_execs(res) if q in ids]
    blocks = [b for b in res["blocks"] if b[0] in ids]
    rnd = next(x for x in res["rounds"] if x["round"] == r)
    wall = secs(rnd["start_ms"], rnd["end_ms"])

    def phase_s(name):
        return (sum(secs(*e["phases"][name]) for e in execs if name in e["phases"])
                + sum(secs(*s["plan_phases"][name]) for s in samples
                      if name in s.get("plan_phases", {})))

    def cg(key):
        return sum((s[c] or {}).get(key, 0) for s in samples
                   for c in ("codegen_construct", "codegen_execute"))

    def st(key):
        return sum(s[key] for s in stages)

    rule_calls = sum(e["rule_calls"] for e in execs)
    scans = sum(e["cache_scans"] for e in execs)
    builds = len({b[1] for b in blocks})
    run_s = st("run_ms") / 1e3
    rows_in = st("input_records")
    out_rows = sum(rows_out.get(s["name"], 0) for s in samples)
    v = {
        "construct.s": sum(secs(s["start_ms"], s["construct_end_ms"]) for s in samples),
        "construct.jobs": sum(1 for j in jobs if j["phase"] == "construct"),
        "catalyst.analysis_s": phase_s("analysis"),
        "catalyst.optimization_s": phase_s("optimization"),
        "catalyst.planning_s": phase_s("planning"),
        "catalyst.rule_effective_ratio":
            sum(e["rule_effective"] for e in execs) / rule_calls if rule_calls else 0.0,
        "codegen.compiles": cg("compiles"),
        "codegen.compile_s": cg("compile_ns") / 1e9,
        "codegen.source_kb": cg("source_bytes") / 1024,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": st("tasks"),
        "scheduler.failed_tasks": st("failed_tasks"),
        "scheduler.single_task_stage_share":
            sum(1 for s in stages if s["tasks"] == 1) / len(stages) if stages else 0.0,
        "scheduler.delay_s":
            (st("duration_ms") - st("run_ms") - st("deser_ms") - st("result_ser_ms")) / 1e3,
        "exec.run_s": run_s,
        "exec.cpu_s": st("cpu_ns") / 1e9,
        "exec.gc_share": st("gc_ms") / st("run_ms") if st("run_ms") else 0.0,
        "exec.core_busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
        "exec.input_bytes": st("input_bytes"),
        "exec.shuffle_read_bytes": st("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": st("shuffle_write_bytes"),
        "exec.spill_bytes": st("spill_bytes"),
        "exec.rows_in_per_row_out": rows_in / max(1, out_rows),
        "cache.scans": scans,
        "cache.built_blocks": len(blocks),
        "cache.built_bytes": sum(b[2] for b in blocks),
        "cache.hit_ratio": scans / (scans + builds) if scans + builds else 0.0,
        "cache.resident_bytes": rnd["cache_resident_bytes"],
    }
    v.update({f"self.{k}_s": x for k, x in
              layer_self_seconds(build_spans(res, {r})).items() if k != "query"})
    return v


def table_metrics(res, manifest):
    """Write-path metrics of the ingest workload (zero elsewhere). Times
    appear as rates so no metric reads a constant zero time."""
    t = res["tables"]
    if not t:
        return {k: 0.0 for k, _ in PER_LAYER if k.startswith("tables.")}
    dur = {n: sum(secs(s["start_ms"], s["end_ms"]) for s in res["samples"]
                  if s["name"] == n) for n in ("append", "compact")}
    return {
        "append_s": dur["append"],
        "compact_s": dur["compact"],
        "tables.ingest_rows_per_s": manifest["appended_rows"] / dur["append"],
        "tables.compact_rows_per_s": manifest["appended_rows"] / dur["compact"],
        "tables.files_written": t["segment_files"],
        "tables.bytes_written": t["segment_bytes"],
        "tables.bytes_rewritten": t["compacted_bytes"],
        "tables.files_per_bucket": t["compacted_files"] / max(1, t["compacted_buckets"]),
        "tables.bytes_per_user_byte": t["compacted_bytes"] / manifest["unique_parquet_bytes"],
    }


# ---------------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        print("run from the repository root: no build.sbt here", file=sys.stderr)
        return 2
    ingest = a.workload == "events_ingest_scan"

    classpath = build.build(root)
    run_dir = os.path.join(root, build.BUILD_DIR, "run-" + a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, scratch = (os.path.join(run_dir, d) for d in ("data", "out", "scratch"))
    for d in (out, scratch, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    if ingest:
        manifest = gen.write_ingest(a.seed, data)
        sizes = (f"{manifest['unique_rows']} unique rows in {manifest['batches']} batches, "
                 f"{len(manifest['appends'])} appends ({manifest['appended_rows']} rows), "
                 f"{manifest['unique_parquet_bytes']} B as plain parquet")
    else:
        manifest = {"rows": gen.write_fixtures(a.seed, data)}
        sizes = " ".join(f"{k}={v}" for k, v in manifest["rows"].items())

    spec = {"workload": a.workload, "data": data, "out": out, "scratch": scratch,
            "seconds": a.seconds, "trace": a.trace, "min_steady": MIN_STEADY,
            "session_conf": os.path.join(HERE, "session.conf")}
    if ingest:
        spec.update(hot_queries=os.path.join(HERE, "hot_queries.kql"),
                    hot_order=",".join(seeded_order(a.seed, hot_queries())),
                    appends=",".join(map(str, manifest["appends"])))
    else:
        spec["queries"] = ",".join(seeded_order(a.seed, PANELS[a.workload]))
    spec_path = os.path.join(run_dir, "spec.txt")
    with open(spec_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in spec.items())

    log_path = os.path.join(run_dir, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + ADD_OPENS + ["-cp", classpath, "perfbench.Main", spec_path])
    ticks0 = cpu_ticks()
    timeout = a.seconds + JVM_ALLOWANCE_S
    with open(log_path, "w") as log:
        try:
            status = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                                    timeout=timeout).returncode
        except subprocess.TimeoutExpired:  # the JVM has been killed and reaped
            status = f"a timeout after {timeout:.0f} s"
    if status != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"benchmark JVM ended with {status}", file=sys.stderr)
        return 1
    ticks1 = cpu_ticks()
    with open(os.path.join(out, "results.json")) as f:
        res = json.load(f)
    steal = (f"{100 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]):.1f}%"
             if ticks0 and ticks1 else "unknown")

    # ---- correctness -------------------------------------------------------
    check_dir = os.path.join(out, "check")
    checked = (oracle.check_ingest(res["checks"], manifest, check_dir) if ingest
               else oracle.check_fixture(res["checks"], check_dir, data, root))
    timed_errors = [(s["id"], s["error"]) for s in res["samples"] if s["error"]]
    check_errors = [(n, e) for n, (_, e) in checked.items() if e]
    attempted = len(res["samples"]) + len(checked)
    failed = len(timed_errors) + len(check_errors)
    rows_out = {n: rows for n, (rows, _) in checked.items()}

    # ---- end-to-end --------------------------------------------------------
    rounds = res["rounds"]
    steady = [x for x in rounds if x["round"] >= 2 and not x["traced"]]
    steady_ids = {x["round"] for x in steady}
    lat = [secs(s["start_ms"], s["end_ms"]) for s in res["samples"]
           if s["round"] in steady_ids and not s["error"]]
    p50, n_lat = stats.percentile(lat, 50)
    e2e = {
        "setup_s": sum(res["setup_s"].values()),
        "first_round_s": secs(rounds[0]["start_ms"], rounds[0]["end_ms"]),
        "round_s": stats.median([secs(x["start_ms"], x["end_ms"]) for x in steady]),
        "query_p50_s": p50,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    env = res["env"]
    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: nproc {env['nproc']}, "
          f"java {env['java']}, load average {env['load_avg_start']:.2f} at start, "
          f"{env['load_avg_end']:.2f} at end, CPU steal {steal} during the JVM run")
    print(f"# inputs: {sizes}")
    print(f"# rounds: " + ", ".join(f"{secs(x['start_ms'], x['end_ms']):.3f}"
                                    + ("t" if x["traced"] else "") for x in rounds)
          + " s (t: traced); set-up from JVM start: "
          + ", ".join(f"{p} {res['setup_s'][p]:.3f} s" for p in SETUP_PARTS))
    for k, unit in END_TO_END:
        print(f"# {k} = {e2e[k]:.6g} {unit}" + (f" (n={n_lat})" if k == "query_p50_s" else ""))
    hp = stats.highest_percentile(lat)
    if hp and hp[0] > 50:
        print(f"# query_p{hp[0]}_s = {hp[1]:.6g} s (n={hp[2]}, highest percentile "
              f"with {stats.MIN_BEYOND} samples beyond it)")
    print(f"# error_rate = {failed / attempted:.6g} ({failed} of {attempted} "
          f"timed operations and checks)")
    if ingest:
        print(f"# checks: {len(checked) - 1} hot query results against the generator's, "
              f"the compacted tree's keys and rows")
    else:
        with open(os.path.join(check_dir, "oracle_sql.json")) as f:
            n_oracle = len(json.load(f))
        print(f"# checks: {n_oracle} of {len(checked)} queries against their DuckDB oracle "
              f"(tools/check_oracle.py), the others for rows")
    for n, e in timed_errors + check_errors:
        print(f"# FAILED {n}: {e}")
    tables = table_metrics(res, manifest)
    if ingest:
        print(f"# ingest_rows_per_s = {tables['tables.ingest_rows_per_s']:.6g} 1/s "
              f"(appends {tables['append_s']:.3f} s)")
        print(f"# compact_s = {tables['compact_s']:.6g} s")
        print(f"# bytes_per_user_byte = {tables['tables.bytes_per_user_byte']:.6g}")

    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if a.trace:
        cores = env["nproc"]
        traced = [x["round"] for x in rounds if x["round"] >= 2 and x["traced"]]
        per_round = [round_layers(res, r, rows_out, cores) for r in traced]
        layer = {k: stats.median([v[k] for v in per_round]) for k in per_round[0]}
        first = round_layers(res, 0, rows_out, cores)
        layer["codegen.first_round_compiles"] = first["codegen.compiles"]
        layer["codegen.first_round_compile_s"] = first["codegen.compile_s"]
        layer["codegen.first_round_source_kb"] = first["codegen.source_kb"]
        layer.update({f"setup.{p}_s": res["setup_s"][p] for p in SETUP_PARTS})
        layer.update(tables)
        layer["trace.overhead_s"] = (
            stats.median([secs(x["start_ms"], x["end_ms"]) for x in rounds
                          if x["round"] in traced]) - e2e["round_s"])
        trace_dir = os.path.join(root, build.BUILD_DIR, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "env": env,
                       "layers": layer, "first_round": first,
                       "spans": build_spans(res, {0, *traced})}, f)
        for label, v in (("median traced steady round", layer), ("first round", first)):
            self_s = {x: v[f"self.{x}_s"] for x in LAYERS[1:]}
            total = sum(self_s.values()) or 1.0
            print(f"# self time per layer, {label}: " + ", ".join(
                f"{x} {t:.3f} s" for x, t in self_s.items()) + "; shares: executor "
                f"(job, stage) {(self_s['job'] + self_s['stage']) / total:.0%}, driver "
                f"construct and Catalyst {sum(self_s[x] for x in LAYERS[1:5]) / total:.0%}, "
                f"driver execute {self_s['execute'] / total:.0%}")
        print(f"# tracing overhead {layer['trace.overhead_s']:+.3f} s per round; "
              f"spans in {os.path.relpath(trace_path, root)}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
        for k, u in PER_LAYER:
            print(f"# {k} = {layer[k]:.6g} {u}")

    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(check_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
