#!/usr/bin/env python3
"""Benchmark of the tweet-graph pipeline, end to end and layer by layer.

    python3 perfbench/run.py --workload tweets_cli|tweets_jaccard \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source (once per
source tree), generates the workload's corpus from the seed, runs the
workload in one JVM for at least S seconds and the workload's min_runs
timed runs (closed loop, one client, runs back to back), checks every
run's outputs against a DuckDB oracle, and prints the metrics by name and
unit. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 measures the end-to-end metrics with no listener attached.
--trace 1 attaches the benchmark's SparkListener and QueryExecutionListener
(as `spark.extraListeners` / `spark.sql.queryExecutionListeners` JVM
properties) and reports the per-layer metrics instead; its `run.wall_s`
minus the untraced `wall_s` is the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
XMX = "2g"

# min_runs: timed runs made even when --seconds has passed. It is set so
# that the window always holds the same number of runs (a run takes longer
# than --seconds / min_runs), so a slower host does not also move the
# median to an earlier, less warmed-up run.
WORKLOADS = {
    # the paper's command: four outputs written as CSV by graft.cli.Main
    "tweets_cli": dict(profile="cli", min_runs=2,
                       outputs=["wordcloud", "full.edges", "full.vertices", "report",
                                "neighbours.edges", "neighbours.vertices"]),
    # a library caller forcing three outputs from its own session
    "tweets_jaccard": dict(profile="jaccard", min_runs=4,
                           outputs=["jaccard.edges", "report", "full.edges"]),
}

OPS = ["TextClean", "RetweetGraph", "HashtagGraph", "JaccardGraph", "Report", "Neighbours"]
PER_LAYER = (
    [("run.wall_s", "s"), ("run.jobs", "count"), ("run.stages", "count"),
     ("run.tasks", "count"), ("run.task_s", "s"), ("run.shuffle_write_mb", "MB"),
     ("run.spill_mb", "MB"), ("run.gc_s", "s"), ("run.attributed_share", "ratio"),
     ("run.unattributed_task_s", "s"),
     ("cli.session_s", "s"), ("cli.wordcloud_s", "s"), ("cli.full_graph_s", "s"),
     ("cli.report_s", "s"), ("cli.neighbours_s", "s"),
     ("tweets.scan_passes", "ratio"), ("tweets.read_mb", "MB"), ("tweets.scan_task_s", "s")]
    + [(f"ops.{o}.{k}", u) for o in OPS for k, u in
       [("self_s", "s"), ("tasks", "count"), ("task_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]]
    + [("ops.JaccardGraph.pair_rows", "count"), ("ops.JaccardGraph.edge_yield", "ratio"),
       ("graph.save.write_s", "s"), ("graph.save.bytes_mb", "MB"),
       ("GraftStorage.persisted_mb", "MB"), ("GraftStorage.blocks_after_clear", "count"),
       ("plan.exchanges", "count"), ("plan.windows", "count"),
       ("plan.nested_loop_joins", "count")])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this directory")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see perfbench/.work/build.log")
    with open(stamp, "w") as f:
        f.write(fp)


def java(run_dir, trace, cli, cores, args, timeout):
    """Runs the harness; returns (launch time, result dict)."""
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = {"spark.ui.enabled": "false", "spark.local.dir": os.path.join(run_dir, "spark-local"),
             "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
             "java.io.tmpdir": tmp, "derby.system.home": tmp}
    if cli:
        # what a spark-submit user passes as --conf: the CLI itself keeps
        # its own session code (it defaults to local[*] and 200 partitions)
        props.update({"spark.master": f"local[{cores}]",
                      "spark.sql.shuffle.partitions": str(cores)})
    if trace:
        props.update({"spark.extraListeners": "perfbench.TraceListener",
                      "spark.sql.queryExecutionListeners": "perfbench.TraceQueryListener"})
    result = os.path.join(run_dir, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", f"-Xmx{XMX}"] + [x for o in opens for x in ("--add-opens", o)]
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", os.pathsep.join([CLASSES, os.path.join(SPARK_JARS, "*")]),
              "perfbench.Harness", f"result={result}"]
           + [f"{k}={v}" for k, v in args.items()])
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness did not finish within {timeout:.0f} s")
    if rc != 0 or not os.path.exists(result):
        fail(f"harness exited with {rc}; see {os.path.join(run_dir, 'jvm.log')}")
    with open(result) as f:
        return t0, json.load(f)


def perturbation_rejected(expected):
    """The comparison must notice a changed field and a missing row."""
    for rows in expected.values():
        if not rows:
            continue
        good = oracle.digest(rows)
        changed = [tuple(rows[0][:-1]) + (rows[0][-1] + "x",)] + rows[1:]
        if oracle.digest(changed) == good or oracle.digest(rows[1:]) == good:
            return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    started = time.time()
    wl = WORKLOADS[a.workload]
    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    # inputs: the corpus must be byte-identical when generated twice
    data, stats = gen.generate(wl["profile"], a.seed)
    again, _ = gen.generate(wl["profile"], a.seed)
    deterministic = data == again
    corpus = os.path.join(run_dir, "corpus.jsonl")
    with open(corpus, "wb") as f:
        f.write(data)
    hub = stats["hub_id"]

    t = time.time()
    expected = oracle.expected(corpus, hub, run_dir)
    oracle_s = time.time() - t
    want = {k: oracle.digest(expected[k]) for k in wl["outputs"]}
    stats["jaccard_edges"] = len(expected["jaccard.edges"])
    checks_ok = perturbation_rejected({k: expected[k] for k in wl["outputs"]})

    args = dict(workload=a.workload, corpus=corpus, hub=hub, out=os.path.join(run_dir, "out"),
                seconds=a.seconds, minRuns=wl["min_runs"], cores=cores, trace=a.trace,
                lines=stats["tweets"])
    cli = a.workload == "tweets_cli"
    budget = max(60.0, 170.0 - (time.time() - started))
    t0, res = java(run_dir, a.trace, cli, cores, args, budget)
    setup = res["setup_done_ms"] / 1e3 - t0

    # every run's outputs against the oracle
    failed = 0
    for out in res["outputs"]:
        if cli:
            rows = oracle.cli_outputs(out, hub)
            got = {k: oracle.digest(rows[k]) for k in wl["outputs"]}
        else:
            got = dict(zip(wl["outputs"], out))
        bad = [k for k in wl["outputs"] if got[k] != want[k]]
        if bad:
            failed += 1
            print(f"output mismatch in {out if cli else 'run'}: {', '.join(bad)}", file=sys.stderr)
    attempted = len(res["walls"])
    walls = res["walls"]
    wall = statistics.median(walls)

    context = dict(workload=a.workload, seed=a.seed, nproc=nproc, local_cores=cores,
                   xmx=XMX, xmx_mb=round(res["xmx_mb"]), bench_calibrate_ms=res["cal_ms"],
                   runs=attempted, seconds=a.seconds, trace=a.trace, corpus=stats,
                   corpus_bytes=len(data), corpus_deterministic=deterministic,
                   oracle_s=round(oracle_s, 3), oracle_rows={k: len(expected[k]) for k in wl["outputs"]})
    print(json.dumps({"context": context}))
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} runs failed the oracle check)")
    if a.trace:
        layer = res["per_layer"]
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
        total = layer.get("run.task_s", 0.0)
        print(f"attribution of run.task_s = {total:.3f} s (median of {attempted} traced runs):")
        shares = sorted(((k[len("attrib."):-len(".task_s")], v) for k, v in layer.items()
                         if k.startswith("attrib.")), key=lambda kv: -kv[1])
        for name, v in shares + [("unattributed", layer.get("run.unattributed_task_s", 0.0))]:
            print(f"  {name:<24} {v:9.3f} s  {100 * v / total if total else 0:5.1f} %")
        shutil.copy(os.path.join(run_dir, "out", "trace.json"),
                    os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"))
        print(f"samples: traced wall_s over {attempted} runs {[round(w, 3) for w in walls]}")
    else:
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "records_per_s": {"value": stats["tweets"] / wall, "unit": "1/s"},
            "setup_s": {"value": setup, "unit": "s"},
            "peak_heap_mb": {"value": res["peak_heap_mb"], "unit": "MB"},
        }
        print(f"samples: wall_s over {attempted} runs {[round(w, 3) for w in walls]}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    correct = deterministic and checks_ok and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
