#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 20 --trace 0

It builds the program from source (perfbench/build.sh), starts one JVM
with local[nproc], runs the workload as one closed-loop client for
--seconds, checks every output, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, from
a run with a Spark listener and spans at every layer boundary. Result,
span and counter files go to .bench_build/results/. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import medallion  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
DATA_DIR = os.path.join("perfbench", "data", "sf0.1")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def heap():
    """The test suite's heap rule: half of MemTotal in GiB, within [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def source_digest():
    """Identifies the code under test when the checkout is not a git repo."""
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/scala"):
        for d, _, files in sorted(os.walk(top)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build():
    code = subprocess.run(["bash", os.path.join("perfbench", "build.sh"), BUILD],
                          stdout=sys.stderr).returncode
    if code != 0:
        sys.exit(f"build failed with code {code}")


def launch(config, run_dir):
    """Runs the JVM driver on `config`; returns (result dict, seconds from
    spawn to the JVM's main)."""
    classes = os.path.join(BUILD, "classes")
    with open(os.path.join(classes, ".spark_jars")) as f:
        jars = f.read().strip()
    cp = os.pathsep.join([os.path.join(classes, "program"),
                          os.path.join(classes, "perfbench"), os.path.join(jars, "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    config = dict(config, run_dir=os.path.abspath(run_dir),
                  result=os.path.abspath(os.path.join(run_dir, "result.json")))
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    cmd = (["java", f"-Xmx{config['heap']}", "-Xss16m",
            "-XX:ReservedCodeCacheSize=1g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
           + ["-cp", cp, "perfbench.Main", cfg_path])
    # the run directory is a fresh directory under SPARK_LOCAL_DIRS
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.dirname(os.path.abspath(run_dir)))
    spawn_ms = time.time() * 1e3
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.terminate()  # lets Spark's shutdown hooks remove its local dirs
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if code != 0:
        raise RuntimeError(f"JVM driver exited with code {code}")
    with open(config["result"]) as f:
        res = json.load(f)
    return res, (res["main_start_ms"] - spawn_ms) / 1e3


def sized(seconds, per_unit_s):
    """Units of work (registry rounds, pipeline days) that fill about
    `seconds` at the commit the benchmark was defined on. The work is fixed
    by --seconds alone, so a faster program finishes sooner rather than
    doing more work."""
    return max(1, round(seconds / per_unit_s))


def metric(value, unit):
    return {"value": value, "unit": unit}


def registry_check(res, frozen):
    """Compares each query's output digest, taken on the untimed warm-up
    round, with the frozen one. Every timed operation of a query that
    failed or differed there counts as failed."""
    bad = {}
    for c in res["checks"]:
        want = frozen[c["name"]]
        if not c.get("ok"):
            bad[c["name"]] = f"check run failed: {c.get('error')}"
        elif c["rows"] != want["rows"] or c["hash"] != want["hash"]:
            bad[c["name"]] = f"digest {c['rows']}:{c['hash']} != {want['rows']}:{want['hash']}"
    for o in res["ops"]:
        if o.get("ok") and o["name"] in bad:
            o["ok"] = False
            o["error"] = bad[o["name"]]


def end_to_end(res, setup_s):
    lat = [(o["end"] - o["start"]) / 1e3 for o in res["ops"]]
    walls = [(w["end"] - w["start"]) / 1e3 for w in res["windows"]]
    return {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(statistics.median(walls), "s"),
        "op_p50_s": metric(statistics.median(lat), "s"),
    }


def extras(res, kind):
    """End-to-end figures outside BENCHMARK.json's metric list: defined on
    some workloads only, zero whenever the program is correct, or too
    unsteady between runs to bound."""
    lat = [(o["end"] - o["start"]) / 1e3 for o in res["ops"]]
    failed = sum(1 for o in res["ops"] if not o.get("ok"))
    out = {"error_rate": metric(failed / len(res["ops"]), "1"),
           "peak_rss_mb": metric(res["peak_rss_kb"] / 1024, "MB")}
    t = stats.tail(lat)
    if t:
        p, v, beyond = t
        out["op_tail_s"] = dict(metric(v, "s"), percentile=p, beyond=beyond, samples=len(lat))
    if kind == "medallion":
        written = sum(o["bytes_written"] for o in res["ops"])
        appended = sum(o["bronze_appended"] for o in res["ops"])
        sizes = res["layer_bytes"]
        out["write_amp"] = metric(written / appended, "B/B")
        out["space_amp"] = metric(sum(sizes.values()) / sizes["bronze"], "B/B")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    wl = load_spec()["workloads"][args.workload]
    build()

    load_start = loadavg()
    nproc = os.cpu_count()
    local = os.path.abspath(os.path.join(BUILD, "local"))
    run_dir = os.path.join(local, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        config = {"workload_kind": wl["kind"], "trace": bool(args.trace),
                  "nproc": nproc, "heap": heap()}
        gen_s = 0.0
        if wl["kind"] == "medallion":
            shape = dict(wl["shape"], days=1 + sized(args.seconds, wl["day_s"]))
            t0 = time.perf_counter()
            days = medallion.generate(args.seed, shape)
            medallion.write(days, os.path.join(run_dir, "input"))
            gen_s = time.perf_counter() - t0
            config.update(input_dir=os.path.join(run_dir, "input"),
                          days=shape["days"], day0_epoch_ms=shape["day0_epoch_ms"])
        else:
            names = sorted(wl["queries"])
            random.Random(args.seed).shuffle(names)
            config.update(queries=names, data_dir=os.path.abspath(DATA_DIR),
                          rounds=sized(args.seconds, wl["round_s"]))
        res, boot_s = launch(config, run_dir)
        setup_s = gen_s + boot_s + res["session_s"] \
            + res.get("bulk_load_s", 0.0) + res.get("warmup_s", 0.0)

        errors = []
        if wl["kind"] == "medallion":
            exp = medallion.expected(days, shape["day0_epoch_ms"])
            try:
                errors = medallion.check(res["layers_dir"], exp)
            except (OSError, KeyError, ValueError) as e:
                errors = [f"final layers unreadable: {e!r}"]
            if errors:
                for o in res["ops"]:
                    o["ok"] = False
        else:
            registry_check(res, wl["queries"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(res, setup_s)
    more = extras(res, wl["kind"])
    failed = sum(1 for o in res["ops"] if not o.get("ok"))
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "heap": config["heap"],
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "commit": git_commit(), "source_digest": source_digest(),
            "windows": len(res["windows"]), "ops": len(res["ops"]),
            "setup_parts_s": {"generate": gen_s, "jvm_boot": boot_s,
                              "session": res["session_s"],
                              "bulk_load": res.get("bulk_load_s"),
                              "warmup": res.get("warmup_s")},
            "flush_policy": "no fsync: layers are written through the local "
                            "file system into the page cache"}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stem = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    result = {"info": info, "end_to_end": e2e, "extra": more, "check_errors": errors,
              "ops": [{k: o.get(k) for k in ("round", "name", "start", "end", "ok", "error")}
                      for o in res["ops"]]}

    lines = [f"# {k}: {v}" for k, v in info.items() if k != "setup_parts_s"]
    if args.trace:
        batch = medallion.batch_rows(days) if wl["kind"] == "medallion" else None
        layer, self_s = stats.per_layer(res, nproc, batch)
        for k in ("write_amp", "space_amp"):
            layer[f"medallion.{k}"] = more[k]["value"] if k in more else 0.0
        result["per_layer"] = layer
        result["self_s_per_op"] = {k: v / max(1, len(res["ops"])) for k, v in self_s.items()}
        with open(stem + ".spans.json", "w") as f:
            json.dump({"spans": res["spans"], "jobs": res.get("jobs", [])}, f)
        base = stem[:-1] + "0.json"
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]["wall_s"]["value"]
            result["trace_overhead_s"] = e2e["wall_s"]["value"] - untraced
        lines += [f"self time per op, layer {k}: {v:.4f} s"
                  for k, v in sorted(result["self_s_per_op"].items())]
        lines.append("tracing overhead (traced wall_s - untraced wall_s): " + (
            f"{result['trace_overhead_s']:.4f} s" if "trace_overhead_s" in result
            else "n/a: no untraced run of this workload and seed in this checkout"))
        metrics = {m["name"]: metric(layer[m["name"]], m["unit"])
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
    for k, v in list(e2e.items()) + list(more.items()):
        lines.append(f"{k} = {v['value']} {v['unit']}" + (
            f" (p{v['percentile']}, {v['beyond']} of {v['samples']} samples beyond)"
            if "percentile" in v else ""))
    for e in errors + [f"{o['name']}: {o.get('error')}" for o in res["ops"] if not o.get("ok")]:
        lines.append(f"FAILED {e}")
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1)
    print("\n".join(lines))
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": len(res["ops"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
