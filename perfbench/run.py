#!/usr/bin/env python3
"""The spark-graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs them in one JVM (perfbench/scala/Harness.scala:
one SparkSession on local[nproc / 2], one closed-loop client), checks the
outputs outside the timed region, and prints one JSON object as its last
line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (perfbench/layers.py). The line before it is the full
record (machine fingerprint, heap, Spark config, input sizes, seed, every
metric, the checks); a copy is kept under the build directory's
records/ for perfbench/diff.py.

Workloads (the `why` of each is in BENCHMARK.json):
  cf_pipeline     the paper's ratings pipeline through graft.collab
  relational_mix  a frozen list of q_* registry rows on generated tables
"""
import argparse
import json
import multiprocessing
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

DEADLINE_S = 170          # the whole command ends within 180 s
HEAP = "2g"
RMSE_GATE = 1.0           # integer ratings from a rank-6 model + noise

CF = {"users": 3000, "products": 400, "ratings": 60000,
      "score_batches": 32, "score_batch": 2000}
# frozen at the registry as it stands; not read from it at run time
QUERIES = [
    "q_agg_lineitem", "q_join_revenue", "q_star_join", "q_window_topk",
    "q_hll_distinct", "q_upsert", "q_incr_agg", "q_zonemap_scan",
    "q_asof_native", "q_range_join_native",
]
RELATIONAL = {"sf": 0.01, "passes": 50}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fingerprint():
    try:
        with open("/proc/loadavg") as f:
            la = [float(x) for x in f.read().split()[:3]]
    except OSError:
        la = [-1.0, -1.0, -1.0]
    try:
        procs = sum(1 for d in os.listdir("/proc") if d.isdigit())
    except OSError:
        procs = -1
    return {"loadavg": la, "n_procs": procs, "nproc": os.cpu_count()}


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _busy(until):
    while time.time() < until:
        pass


def spin_up(n, seconds=2.0):
    """Keep every CPU busy for a moment before the timed JVM starts. On a
    virtual machine that has sat idle, the first second or two of work
    runs several times slower (measured on a 4-vCPU VM after 30 s idle:
    0.93 s, then 0.35 s, then 0.22 s for the same loop); without this the
    idle time before a run would leak into its setup_s."""
    until = time.time() + seconds
    procs = [multiprocessing.Process(target=_busy, args=(until,)) for _ in range(n)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()


def make_inputs(workload, seed, d):
    """Write the workload's inputs under d; return (harness args, facts)."""
    if workload == "cf_pipeline":
        f = gen.ratings_csv(f"{d}/ratings.csv", seed, CF["users"],
                            CF["products"], CF["ratings"])
        expected = gen.score_pairs(f"{d}/pairs.parquet", seed, CF["users"],
                                   CF["products"], CF["score_batches"],
                                   CF["score_batch"], f.pop("_train_users"),
                                   f.pop("_train_products"))
        f["scored_expected"] = expected
        return {"train_ratings": f["train"]}, f
    f = gen.tables(f"{d}/tables", seed, RELATIONAL["sf"])
    with open(f"{d}/order.txt", "w") as out:
        for p in gen.query_order(QUERIES, seed, RELATIONAL["passes"]):
            out.write(",".join(p) + "\n")
    f["queries"] = len(QUERIES)
    return {}, f


def check(workload, rec, facts):
    """Correctness checks on the run's outputs; returns {name: (ok, detail)}."""
    out = rec["outputs"]
    res = {}
    if workload == "cf_pipeline":
        rm = out["rmse"]
        res["rmse_gate"] = (bool(rm) and all(0 < r < RMSE_GATE for r in rm),
                            f"rmse {rm} < {RMSE_GATE}")
        lines = out["report"].split("\n")
        res["report"] = (
            lines[0] == "User\tProduct\tPredicted\tActual\tError?"
            and lines[-1].startswith("RMSE = ")
            and len(lines) - 2 == facts["joined_expected"],
            f"{len(lines) - 2} report rows, {facts['joined_expected']} expected")
        bad = [s for s in out["scored"]
               if s[1] != facts["scored_expected"][s[0]] or s[2] != 0]
        res["scoring"] = (not bad and bool(out["scored"]),
                          f"{len(out['scored'])} batches, mismatched {bad[:3]}")
    else:
        sys.path.insert(0, "tools")
        import check_oracle
        got = check_oracle.check(f"{facts['dir']}/tables", out["oracle_out"],
                                 QUERIES, quiet=True)
        for q in QUERIES:
            st, detail = got.get(q, ("fail", "no output"))
            res[f"oracle.{q}"] = (st == "pass" or (st == "rows_only" and
                                  not detail.startswith("0 rows")), detail)
        res["writes"] = (not out["write_failures"], str(out["write_failures"]))
    return res


def run(args):
    t_start = time.time()
    fp_start = fingerprint()
    cp = build.build()
    root = os.path.join(build.out_dir(), f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    inputs, work = f"{root}/inputs", f"{root}/work"
    os.makedirs(inputs)
    os.makedirs(f"{work}/tmp")
    try:
        t = time.time()
        hargs, facts = make_inputs(args.workload, args.seed, inputs)
        facts["inputs_s"] = time.time() - t
        facts["dir"] = inputs
        record_path = f"{work}/record.json"
        n = cpus()
        # Spark and the collector get half the CPUs: on a shared
        # 4-vCPU VM a fixed loop took 0.21-0.25 s in each of 2 concurrent
        # processes but 0.22-0.37 s in each of 4, so a run that keeps every
        # CPU busy measures its neighbours more than the program
        slots = max(1, n // 2)
        # a fixed, pre-touched heap: resident memory then does not depend
        # on how far the collector happened to grow the heap in this run
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
                f"-XX:ParallelGCThreads={slots}", "-XX:ConcGCThreads=1",
                "-XX:-UsePerfData", "-Xss16m", f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Harness", f"workload={args.workload}",
                  f"inputs={inputs}", f"work={work}", f"seconds={args.seconds}",
                  f"trace={args.trace}", f"cpus={slots}", f"out={record_path}"]
               + [f"{k}={v}" for k, v in hargs.items()])
        spin_up(n)
        left = DEADLINE_S - (time.time() - t_start)
        with open(f"{root}/jvm.log", "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(1.0, left))
            except subprocess.TimeoutExpired:
                raise SystemExit("perfbench: harness exceeded the time limit")
            finally:  # also on SIGTERM: never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.exists(record_path):
            with open(f"{root}/jvm.log") as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            raise SystemExit(f"perfbench: harness exited with code {rc}")
        t_jvm = time.time() - t_start
        with open(record_path) as f:
            rec = json.load(f)
        checks = check(args.workload, rec, facts)
        t_checked = time.time() - t_start
        ops = layers.ops_of(rec)
        attempted = len(ops)
        failed = sum(1 for o in ops if not o["ok"])
        calls = None
        if args.trace:
            metrics, calls = layers.per_layer(rec, facts)
        else:
            metrics = layers.end_to_end(rec)
        result = {
            "correct": all(ok for ok, _ in checks.values()) and failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        full = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": n, "spark_slots": slots, "heap": HEAP,
            "machine": {"start": fp_start, "end": fingerprint()},
            "spark_conf": rec["spark_conf"], "heap_max_bytes": rec["heap_max_bytes"],
            "inputs": {k: v for k, v in facts.items()
                       if k not in ("scored_expected", "dir")},
            "fail_ratio": failed / attempted if attempted else None,
            "wall_s": {"harness_done": t_jvm, "checks_done": t_checked},
            "tail": layers.tail(rec),
            "layer_calls": calls,
            "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in checks.items()},
            "errors": rec["errors"],
            "result": result,
        }
        records = os.path.join(build.out_dir(), "records")
        os.makedirs(records, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}.json"
        with open(os.path.join(records, name), "w") as f:
            json.dump(full, f, indent=1)
        if args.trace:
            shutil.copy(record_path, os.path.join(records, name[:-5] + ".spans.json"))
        print(json.dumps(full))
        print(json.dumps(result))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    # turn SIGTERM into SystemExit so the cleanup in run() still happens
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cf_pipeline", "relational_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
