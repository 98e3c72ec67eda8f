#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one line of JSON.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed, starts a
fresh JVM (local[4], one closed-loop client), checks every output and prints
as its last line

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones. With --trace 1 the
workload runs twice with the same seed, untraced and then traced; the
metrics are the per-layer ones from the traced run plus the tracing overhead
on every end-to-end metric, and the raw trace is kept under
perfbench/.work/traces/. See perfbench/README.md.
"""
import argparse
import datetime as dt
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import build, metrics  # noqa: E402

WORKLOADS = ("etl_nightly", "query_mix", "text_nightly")
DEADLINE_S = 170       # for the JVM runs, after the build
BUILD_TIMEOUT_S = 650  # a first run, build included, stays under 15 minutes
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def sizes(workload, seconds):
    """Work per run, from --seconds and rates measured on a 4-core box, so
    that one run measures about that long. Equal --seconds give equal work."""
    if workload == "etl_nightly":
        return {"nights": max(1, round(seconds / 4)), "tx_per_day": 5000}
    if workload == "query_mix":
        return {"query_count": 11, "rounds": max(2, round(seconds * 0.6))}
    return {"batches": max(3, round(seconds * 0.6)), "variants": 50}


def write_params(path, params):
    with open(path, "w") as f:
        for k, v in params.items():
            f.write(f"{k}={v}\n")


def make_inputs(workload, seed, seconds, inputs):
    """Generate the run's inputs; return the outputs the run must produce
    when the generator knows them (etl_nightly), else None."""
    size = sizes(workload, seconds)
    params, expected = {"seed": seed}, None
    if workload == "etl_nightly":
        from bench import feeds
        f = feeds.Feeds(seed, days=1 + size["nights"], tx_per_day=size["tx_per_day"])
        f.write(os.path.join(inputs, "feeds"), os.path.join(inputs, "bank"))
        params["dates"] = ",".join(d.isoformat() for d in f.dates)
        params["tags"] = ",".join(feeds.day_tag(d) for d in f.dates)
        expected = f.expected()
    elif workload == "query_mix":
        params.update(size, sf_dir=os.path.join(HERE, "data", "sf0.01"))
    else:
        from bench import docs
        docs.make_batches(os.path.join(HERE, "data", "sf0.01", "documents.parquet"),
                          os.path.join(inputs, "batches"), seed, size["batches"],
                          size["variants"])
        params.update(batches=size["batches"])
    write_params(os.path.join(inputs, "params.properties"), params)
    return expected


def run_jvm(cp, workload, trace, inputs, work, deadline):
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
           "perfbench.Main", "--workload", workload, "--trace", str(int(trace)),
           "--inputs", inputs, "--work", work, "--out", out]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("the JVM run exceeded the time limit")
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise RuntimeError(f"the JVM run failed (exit {rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def fail(result, kind, name, why):
    for o in reversed(result["ops"]):
        if o["kind"] == kind and o["name"] == name:
            if o["ok"]:
                o["ok"], o["err"] = False, why
            return
    result["ops"].append({"idx": len(result["ops"]), "kind": kind, "name": name,
                          "primary": False, "t0": 0.0, "t1": 0.0, "ok": False, "err": why})


def check_outputs(workload, result, expected, work):
    """Output checks made outside the JVM; failures are marked on the ops."""
    if workload == "etl_nightly":
        state = result["outputs"]["state"]
        last = result["outputs"]["nights"][-1]
        if "error" in state:
            fail(result, last["kind"], last["day"], state["error"])
            return
        for n, want in zip(result["outputs"]["nights"], expected):
            got_mart = sorted(map(list, state["mart"].get(n["day"], [])))
            if got_mart != sorted(want["mart"]):
                fail(result, n["kind"], n["day"], "fraud mart differs from the generator's")
            if state["fact"].get(n["day"]) != [want["fact_rows"], want["fact_amt"]]:
                fail(result, n["kind"], n["day"], "fact rows/amount differ")
        for key in ("hist", "blacklist"):
            if sorted(map(list, state[key])) != sorted(expected[-1][key]):
                fail(result, last["kind"], last["day"], f"final {key} differs from the generator's")
    elif workload == "query_mix":
        from bench import oracle
        sql = result["outputs"]["oracle_sql"]
        orc = oracle.Oracle(os.path.join(HERE, "data", "sf0.01"))
        with open(os.path.join(work, "results.jsonl")) as f:
            for line in f:
                r = json.loads(line)
                try:
                    ok, why = orc.check(r, sql[r["name"]])
                except Exception as e:  # an unreadable result is a wrong one
                    ok, why = False, f"check failed: {e}"
                if not ok:
                    fail(result, "query", r["name"], why)


def one_run(cp, args, trace, root_work, deadline):
    """Generate, run and check once; returns (result, gen_s)."""
    inputs = os.path.join(root_work, "inputs")
    work = os.path.join(root_work, "work")
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    g0 = time.monotonic()
    expected = make_inputs(args.workload, args.seed, args.seconds, inputs)
    gen_s = time.monotonic() - g0
    result = run_jvm(cp, args.workload, trace, inputs, work, deadline)
    check_outputs(args.workload, result, expected, work)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    return result, gen_s


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(root, "build.sbt"))):
        print("perfbench: run from the root of a checkout of the program "
              "(src/main/scala/graft and build.sbt are missing)", file=sys.stderr)
        return 2
    state = os.path.join(HERE, ".work")
    try:
        cp = build.classpath(root, os.path.join(state, "build"), timeout=BUILD_TIMEOUT_S)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 3
    deadline = time.monotonic() + DEADLINE_S
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    try:
        result, gen_s = one_run(cp, args, False, run_dir, deadline)
        runs = [result]
        if args.trace:
            traced, gen_s = one_run(cp, args, True, run_dir, deadline)
            runs.append(traced)
    except Exception as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for o in result["ops"]:
        print(f"perfbench: {o['kind']}:{o['name']} {(o['t1'] - o['t0']) / 1000:.3f}s"
              f"{'' if o['ok'] else ' FAILED'}", file=sys.stderr)
    print(f"perfbench: setup {result['setup']}", file=sys.stderr)
    attempted = sum(len(r["ops"]) for r in runs)
    failures = [(o["kind"], o["name"], o["err"]) for r in runs for o in r["ops"] if not o["ok"]]
    for k, n, err in failures:
        print(f"perfbench: FAILED {k}:{n}: {err}", file=sys.stderr)
    e2e = metrics.end_to_end(result)
    print(f"perfbench: generator {gen_s:.2f} s (not in setup_s)", file=sys.stderr)
    if args.trace:
        layer = metrics.per_layer(traced)
        layer["bench.gen_s"] = gen_s
        traced_e2e = metrics.end_to_end(traced)
        for m, _ in metrics.END_TO_END:
            layer[f"overhead.{m}"] = traced_e2e[m] / e2e[m] - 1.0 if e2e[m] else 0.0
        tdir = os.path.join(state, "traces")
        os.makedirs(tdir, exist_ok=True)
        stamp = dt.datetime.now().strftime("%Y%m%dT%H%M%S")
        with open(os.path.join(tdir, f"{args.workload}-{args.seed}-{stamp}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "per_layer": layer,
                       "end_to_end": {"untraced": e2e, "traced": traced_e2e},
                       **metrics.breakdown(traced), "ops": traced["ops"],
                       "trace": traced["trace"]}, f)
        shown = {name: {"value": layer[name], "unit": unit} for name, unit in metrics.PER_LAYER}
    else:
        shown = {name: {"value": e2e[name], "unit": unit} for name, unit in metrics.END_TO_END}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
