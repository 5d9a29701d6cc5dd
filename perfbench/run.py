#!/usr/bin/env python3
"""Closed-loop benchmark of the graft Spark library.

    python3 perfbench/run.py --workload dataflow|retrieval_serve
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run reads or generates its
inputs (dataflow: the suite's sf0.01 tables under perfbench/data/;
retrieval_serve: a corpus generated from the seed under .bench_out/),
drives one client thread against local[N]
(N = processor count), checks the outputs, prints a report and, as the
last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics BENCHMARK.json
declares; with --trace 1 the per-layer ones, from a traced run. Every run
also writes its full record (all metrics that apply to the workload, the
contention record, failures, spans) to .bench_out/runs/.
`python3 perfbench/run.py --self-check` only checks the metric math.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".bench_out")
# a run must end within 180 s (the first one, which builds, within 900 s)
JVM_TIMEOUT_S = 150
SBT_TIMEOUT_S = 400
SETUP_REPS = 3
# the suite's sf0.01 test tables (60k lineitem rows), byte for byte: one
# pass of the 52 rows over the sf0.1 tables takes 74 s of ops on 4 vCPUs,
# which the run budget cannot hold beside the serving workload
DATAFLOW_DATA = os.path.join(HERE, "data", "sf0.01")
# retrieval corpus: the sf0.1 sizes of the documents and embeddings tables
CORPUS_DOCS, CORPUS_VECS = 5_000, 2_000
QUERY_BATCHES, QUERIES_PER_BATCH, TUNE_QUERIES = 2, 20, 40
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


# ------------------------------------------------------------------ build

def _sources():
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, fs in os.walk(top):
            for f in fs:
                if f.endswith((".scala", ".java", ".properties")) or \
                        "resources" in d:
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles program + harness unless the stamp matches; returns the
    classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("perfbench: no program sources at src/main/scala/"
                         "graft (run from the repository root)")
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("perfbench: building (sbt compile)")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=SBT_TIMEOUT_S)
    cps = [ln for ln in p.stdout.splitlines()
           if not ln.startswith("[") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = cps[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ----------------------------------------------------------------- inputs

def generate(seed, data):
    """Writes the serving corpus and queries under `data`; returns seconds
    taken."""
    t0 = time.perf_counter()
    gen.write_corpus(data, seed, CORPUS_DOCS, CORPUS_VECS)
    gen.write_queries(data, seed, QUERY_BATCHES, QUERIES_PER_BATCH,
                      TUNE_QUERIES)
    return time.perf_counter() - t0


# -------------------------------------------------------------------- run

def run_jvm(cp, main_args, data, work):
    """Runs perfbench.Main in its own process group; returns its result
    with the launch time and the JVM options added."""
    res_file = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    jvm_opts = (["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
                + [x for p in ADD_OPENS
                   for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
                + [f"-Djava.io.tmpdir={work}/tmp",
                   f"-Dderby.system.home={work}/derby",
                   "-Dspark.ui.enabled=false"])
    cmd = (["java"] + jvm_opts + ["-cp", cp, "perfbench.Main"] + main_args
           + ["--data", data, "--work", work, "--out", res_file])
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    launch_ms = int(time.time() * 1000)
    with open(jvm_log, "w") as lf:
        # SPARK_LOCAL_DIRS would override spark.local.dir (under `work`)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=lf,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s; "
                             f"log tail:\n{_tail(jvm_log)}")
        except BaseException:
            # interrupted or terminated: take the JVM down with us
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0 or not os.path.exists(res_file):
        raise SystemExit(f"perfbench: JVM failed ({p.returncode}); "
                         f"log tail:\n{_tail(jvm_log)}")
    with open(res_file) as f:
        res = json.load(f)
    res["launch_epoch_ms"] = launch_ms
    res["jvm_opts"] = jvm_opts
    marks = [("launch", launch_ms), ("jvm", res["jvm_start_epoch_ms"]),
             ("session", res["session_ready_epoch_ms"]),
             ("first op", res["first_op_epoch_ms"]),
             ("last op", res["last_op_epoch_ms"]),
             ("result", res["result_epoch_ms"]),
             ("exit", int(time.time() * 1000))]
    log("perfbench: jvm phases " + ", ".join(
        f"{a}->{b} {(tb - ta) / 1000:.1f} s"
        for (a, ta), (b, tb) in zip(marks, marks[1:])))
    return res


def _tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so a running JVM is stopped with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    e2e_decl, layer_decl = declared()
    metrics.self_check(list(e2e_decl), list(layer_decl))
    if args.self_check:
        print("perfbench: self-check passed")
        return
    if not args.workload:
        ap.error("--workload is required")
    cp = build()

    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.workload == "dataflow":
            data, gen_s = DATAFLOW_DATA, []
        else:
            data = os.path.join(work, "data")
            gen_s = [generate(args.seed, data) for _ in range(SETUP_REPS)]
        t0 = time.perf_counter()
        res = run_jvm(
            cp, ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--reps", str(SETUP_REPS)], data, work)
        log(f"perfbench: jvm {time.perf_counter() - t0:.1f} s")
        if args.workload == "dataflow":
            t0 = time.perf_counter()
            mark_oracle_failures(res, data)
            log(f"perfbench: oracle {time.perf_counter() - t0:.1f} s")
        report(args, res, gen_s, e2e_decl, layer_decl)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def mark_oracle_failures(res, data):
    """Marks every op of a row whose output the oracle rejects as failed."""
    import oracle
    rows = sorted({o["kind"] for o in res["ops"]})
    bad, res["oracle_notes"] = oracle.check(ROOT, data, res["outputs"], rows)
    for o in res["ops"]:
        if o["error"] is None and o["kind"] in bad:
            o["error"] = "oracle mismatch: " + bad[o["kind"]]


def report(args, res, gen_s, e2e_decl, layer_decl):
    wl = args.workload
    e2e, counts = metrics.end_to_end(res, gen_s)
    layer = metrics.per_layer(res, gen_s) if args.trace else {}
    self_s = metrics.self_times(res) if args.trace else {}
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if o["error"] is not None)
    contention = {"box.steal_s": res["box_steal_s"],
                  "box.load1_max": res["box_load1_max"],
                  "process_cpu_s": sum(o["cpu_s"] for o in res["ops"]),
                  "jvm.heap_peak_mb": res["jvm_heap_peak_mb"]}
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    base = os.path.join(runs, f"{wl}-seed{args.seed}-trace{args.trace}")
    overhead = None
    last = os.path.join(runs, f"{wl}-last-untraced.json")
    if args.trace == 0:
        with open(last, "w") as f:
            json.dump({"ops_per_s": e2e.get("ops_per_s")}, f)
    elif os.path.exists(last) and e2e.get("ops_per_s"):
        with open(last) as f:
            untraced = json.load(f).get("ops_per_s")
        if untraced:
            overhead = 1.0 - e2e["ops_per_s"] / untraced
    errors = {}
    for o in res["ops"]:
        if o["error"] is not None:
            errors.setdefault(o["kind"], o["error"])

    print(f"perfbench {wl} seed={args.seed} trace={args.trace} "
          f"cpus={res['cpus']}: correct={'yes' if failed == 0 else 'NO'} "
          f"attempted={attempted} failed={failed}")
    units_e2e = metrics.applies(metrics.END_TO_END, wl)
    for n, u in units_e2e.items():
        note = ""
        if n in counts:
            note = (f"  (n={counts[n][0]} completed ops, "
                    f"{counts[n][1]} beyond)")
        print(f"  {n:30s} {fmt(e2e.get(n, float('nan'))):>14s} {u}{note}")
    if args.trace:
        for n, u in metrics.applies(metrics.PER_LAYER, wl).items():
            print(f"  {n:30s} {fmt(layer[n]):>14s} {u}")
        print("  self time per op: " + " ".join(
            f"{k}={fmt(v)}" for k, v in self_s.items()))
        print(f"  tracing overhead (1 - traced/untraced ops_per_s): "
              f"{fmt(overhead) if overhead is not None else 'n/a (no untraced run of this workload yet)'}")
    print("  contention: " + " ".join(f"{k}={fmt(v)}"
                                      for k, v in contention.items()))
    for kind, err in sorted(errors.items()):
        print(f"  FAILED {kind}: {err}")
    for row, note in sorted(res.get("oracle_notes", {}).items()):
        print(f"  NOTE {row}: {note}")

    record = {"workload": wl, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cpus": res["cpus"],
              "attempted": attempted, "failed": failed, "errors": errors,
              "oracle_notes": res.get("oracle_notes", {}),
              "end_to_end": e2e, "percentile_samples": counts,
              "per_layer": layer, "self_s_per_op": self_s,
              "tracing_overhead": overhead,
              "contention": contention, "setup_reps_s": res["setup_reps_s"],
              "input_gen_s": gen_s, "jvm_opts": res["jvm_opts"],
              "adc_batch_recall": res.get("adc_batch_recall"),
              "reference_s": res.get("reference_s"),
              "warm_round_s": res.get("warm_round_s"),
              "ops": res["ops"]}
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(base + ".spans.jsonl", "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")

    chosen = layer_decl if args.trace else e2e_decl
    values = layer if args.trace else e2e
    missing = [n for n in chosen if n not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": u}
                                  for n, u in chosen.items()}}))


if __name__ == "__main__":
    main()
