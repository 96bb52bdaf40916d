#!/usr/bin/env python3
"""The repository benchmark: one command, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark driver with sbt and generates the corpus; later runs reuse both
(everything lives under perfbench/.work, which git ignores). Each run:

  * starts the driver JVM (perfbench.Harness) on local[nproc] with its own
    empty staging dir (java.io.tmpdir), removed afterwards;
  * runs the workload's queries from one driver thread as a closed loop, in
    an order drawn from --seed: one first pass, one unmeasured warm-up pass,
    then steady passes (cached frames cleared before each) until --seconds
    have passed;
  * checks every execution against the stored golden row count and content
    hash in workloads.json;
  * starts the JVM twice more only to time set-up, and reports the median.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. See README.md for the workloads and what each metric measures.

Maintenance flag: --capture rewrites the workload's goldens in
workloads.json from this run (use only on a commit whose results have been
certified; see README.md).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPEATS = 3
MIN_PASSES = 1  # steady passes, even when --seconds ends sooner

# Engine modules (packages under graft/) that get their own `<module>.jobs`
# and `<module>.job_s` metrics, by the innermost engine frame on a job's call
# site; `harness` is the benchmark's own noop write, `other` has no engine
# frame. `sources.Tables` jobs are reported as `sources.load_*`.
MODULES = ["SparkEntry", "core.Caches", "ext.Dedup", "ext.EventOps",
           "ext.Graph", "ext.Multimodal", "ext.Retrieval", "ext.Sampling",
           "ext.Similarity", "ext.TextOps", "ml.Als", "operators.Profile",
           "operators.Recommend", "operators.Relational",
           "pipeline.Recommender", "plans.AsOfJoin", "streaming.EventStreams",
           "harness", "other"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha256_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def tree_files(*dirs):
    out = []
    for d in dirs:
        if os.path.isfile(d):
            out.append(d)
            continue
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", ".work"))
            out += [os.path.join(base, f) for f in sorted(files)]
    return out


# ---------------------------------------------------------------- build

def build():
    """Compile the engine and the driver once per source fingerprint and
    return the runtime classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
               os.path.join(HERE, "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        raise BenchError("engine sources not found (run from a full checkout): "
                         + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    fp = sha256_files(tree_files(*sources))
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fp:
            return b["classpath"]
    log("building engine and driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError("sbt build failed")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, f)
    log(f"build took {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- corpus

def corpus_fingerprint(path):
    """Content fingerprint of a corpus dir: per table, the row count and an
    order-insensitive sum of row hashes. Spark-written tables differ in file
    layout and row order from build to build, so bytes are not compared."""
    import duckdb
    con = duckdb.connect()
    h = hashlib.sha256()
    for t in sorted(os.listdir(path)):
        if not t.endswith(".parquet"):
            continue
        src = os.path.join(path, t)
        if os.path.isdir(src):
            src = os.path.join(src, "*.parquet")
        n, s = con.execute("SELECT count(*), sum(hash(r)::HUGEINT) FROM "
                           "(SELECT t AS r FROM read_parquet(?) t)", [src]).fetchone()
        h.update(f"{t}:{n}:{s};".encode())
    con.close()
    return h.hexdigest()[:16]


def java_cmd(classpath, main, xmx, tmpdir, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{xmx}", f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, main] + args)


def corpus(spec, name, classpath):
    """Return the dir of corpus `name`, generating it on first use, and
    refuse to go on when its content differs from the recorded one."""
    c = spec["corpora"][name]
    path = os.path.join(WORK, "corpus", name)
    stamp = path + ".json"
    built = None
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
    if built is None:
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.time()
        if "generate" in c:
            subprocess.run([sys.executable, os.path.join(HERE, "gen_corpus.py"), path,
                            str(c["generate"]["scale"])], check=True, timeout=600)
        else:
            src = corpus(spec, c["replicate"]["from"], classpath)
            tmp = os.path.join(WORK, "corpus", f"{name}.build")
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(c["replicate"]["cores"]),
                       SPARK_LOCAL_DIRS=tmp)
            with open(os.path.join(WORK, f"corpus-{name}.log"), "w") as logf:
                subprocess.run(java_cmd(classpath, "graft.tools.MakeTenX", "3g", tmp,
                                        [src, path] + c["replicate"]["args"]),
                               env=env, stdout=logf, stderr=subprocess.STDOUT,
                               check=True, timeout=800)
            shutil.rmtree(tmp, ignore_errors=True)
        built = {"fingerprint": corpus_fingerprint(path),
                 "build_s": round(time.time() - t0, 3)}
        with open(stamp, "w") as f:
            json.dump(built, f)
        log(f"corpus {name} built in {built['build_s']} s (not part of setup_s)")
    if built["fingerprint"] != c["fingerprint"]:
        raise BenchError(f"corpus {name} fingerprint {built['fingerprint']} != "
                         f"recorded {c['fingerprint']}; refusing to run")
    return path


def warm_page_cache(path):
    """Read the corpus once, so no run pays for disk reads another run did
    not (the page cache is shared with whatever else the host runs)."""
    for f in tree_files(path):
        with open(f, "rb") as fh:
            while fh.read(1 << 22):
                pass


# ---------------------------------------------------------------- driver JVM

def launch(classpath, wl, corpus_dir, run_dir, mode, extra):
    """Run the driver JVM; return (setup seconds, exit code)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    args = [f"mode={mode}", f"corpus={corpus_dir}", f"cores={wl['cores']}",
            f"stagingDir={tmp}", f"warehouseDir={os.path.join(run_dir, 'warehouse')}"] + extra
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, f"jvm-{mode}.log")
    t0 = time.time()
    with open(log_path, "a") as logf:
        p = subprocess.Popen(java_cmd(classpath, "perfbench.Harness", wl["xmx"], tmp, args),
                             cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=logf, text=True)
        ready = None
        try:
            for line in p.stdout:
                if line.startswith("READY ") and ready is None:
                    ready = int(line.split()[1]) / 1000.0
                    if mode == "setup":
                        break  # set-up is timed; its shutdown is not
            if mode == "setup" and ready is not None:
                p.kill()
            p.wait(timeout=170)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if (p.returncode != 0 and mode != "setup") or ready is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BenchError(f"driver JVM ({mode}) exited with {p.returncode}")
    return ready - t0


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals):
    """Total length in seconds of the union of [start, end] ms intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def module_of(site):
    return site if site in MODULES or site == "sources.Tables" else "other"


def check_execs(raw, goldens, order):
    """Count executions that threw, disagree with the golden, or are empty."""
    failed, notes = 0, []
    for e in raw["execs"]:
        g = goldens.get(e["q"])
        why = None
        if e["error"]:
            why = e["error"]
        elif g is None:
            why = "no golden recorded"
        elif e["rows"] == 0 and g["rows"] != 0:
            why = "empty result"
        elif e["rows"] != g["rows"] or e["hash"] != g["hash"]:
            why = f"rows/hash {e['rows']}/{e['hash']} != golden {g['rows']}/{g['hash']}"
        if why:
            failed += 1
            notes.append(f"pass {e['pass']} {e['q']}: {why}")
    seen = sorted({e["q"] for e in raw["execs"]})
    if seen != sorted(order):
        notes.append("executed query set differs from the workload")
        failed += 1
    return failed, notes


def end_to_end(raw, setups, failed, attempted):
    steady = [p for p in raw["passes"] if p["kind"] == "steady"]
    return {
        "setup_s": (median(setups), "s"),
        "first_pass_s": ((raw["passes"][0]["end"] - raw["passes"][0]["start"]) / 1000.0, "s"),
        "pass_s": (median([(p["end"] - p["start"]) / 1000.0 for p in steady]), "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }


def per_pass_layers(raw, p):
    """Per-layer figures of one traced pass."""
    idx, start, end = p["idx"], p["start"], p["end"]
    wall = (end - start) / 1000.0
    tag_pass = lambda t: int(t.split(":")[0])
    phase = lambda t: t.split(":")[2]
    execs = [e for e in raw["execs"] if e["pass"] == idx]
    jobs = [j for j in raw["jobs"] if tag_pass(j["tag"]) == idx]
    stages = [s for s in raw["stages"] if tag_pass(s["tag"]) == idx]
    qes = [q for q in raw["qes"] if start <= q["end"] <= end + 1]
    batches = [b for b in raw["batches"] if start <= b["ts"] <= end + 1]
    job_s = union_s([(j["start"], j["end"]) for j in jobs])
    task_s = sum(s["run_ms"] for s in stages) / 1000.0
    load = [j for j in jobs if j["site"] == "sources.Tables"]
    m = {
        "entry.build_s": sum(e["t1"] - e["t0"] for e in execs) / 1000.0,
        "entry.build_jobs": sum(1 for j in jobs if phase(j["tag"]) == "build"),
        "sources.load_jobs": len(load),
        "sources.load_s": union_s([(j["start"], j["end"]) for j in load]),
        "catalyst.plan_s": sum(q["plan_ms"] for q in qes) / 1000.0,
        "catalyst.actions": len(qes),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["task_n"] for s in stages),
        "spark.one_task_stage_frac": (sum(1 for s in stages if s["tasks"] == 1)
                                      / len(stages)) if stages else 0.0,
        "spark.job_s": job_s,
        "spark.task_wait_s": sum(s["wait_ms"] for s in stages) / 1000.0,
        "spark.slot_util": task_s / (raw["cores"] * job_s) if job_s else 0.0,
        "spark.driver_only_s": wall - job_s,
        "exec.task_s": task_s,
        "exec.task_cpu_s": sum(s["cpu_ms"] for s in stages) / 1000.0,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "exec.shuffle_write_mb": sum(s["shuffle_w"] for s in stages) / 2**20,
        "exec.shuffle_read_mb": sum(s["shuffle_r"] for s in stages) / 2**20,
        "exec.spill_mb": sum(s["spill"] for s in stages) / 2**20,
        "exec.peak_exec_mem_mb": max([s["peak_mem"] for s in stages] or [0]) / 2**20,
        "caches.storage_mb": next((s["cached"] for s in raw["storage"] if s["pass"] == idx), 0) / 2**20,
        "caches.cached_scans": sum(q["cached_scans"] for q in qes),
        "staging.artifacts_built": sum(e["staged_new"] for e in execs),
        "staging.bytes_written": sum(e["staged_bytes"] for e in execs),
        "staging.build_s": sum(e["t1"] - e["t0"] for e in execs if e["staged_new"]) / 1000.0,
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(b["batch_ms"] for b in batches) / 1000.0,
        "jvm.jit_s": p["jit_s"],
        "jvm.gc_s": p["gc_s"],
    }
    for mod in MODULES:
        mj = [j for j in jobs if module_of(j["site"]) == mod]
        m[f"{mod}.jobs"] = len(mj)
        m[f"{mod}.job_s"] = union_s([(j["start"], j["end"]) for j in mj])
    # self-checks: the three phases cover each query span, and every job of
    # the pass lies inside it, so job time plus driver-only time is its wall
    problems = []
    for e in execs:
        parts = (e["t1"] - e["t0"]) + (e["t2"] - e["t1"]) + (e["t3"] - e["t2"])
        if abs((e["t3"] - e["t0"]) - parts) > 1e-6 or not e["t0"] <= e["t1"] <= e["t2"] <= e["t3"]:
            problems.append(f"pass {idx} {e['q']}: phases do not cover the query span")
    # 5 ms of slack: Spark stamps jobs with the millisecond wall clock
    outside = [j["id"] for j in jobs if j["start"] < start - 5 or j["end"] > end + 5]
    if outside:
        problems.append(f"pass {idx}: jobs {outside[:5]} lie outside the pass")
    if m["spark.driver_only_s"] < -0.005 or abs(m["spark.job_s"] + m["spark.driver_only_s"] - wall) > 1e-9:
        problems.append(f"pass {idx}: job_s + driver_only_s != pass wall")
    return m, problems


def spans_and_self(raw, traced):
    """Span tree of the traced passes, kept in memory and written at the
    end; self time = duration minus the part its children cover."""
    spans = []
    for p in traced:
        pid = f"p{p['idx']}"
        spans.append((pid, None, "pass", p["start"], p["end"]))
        for e in (e for e in raw["execs"] if e["pass"] == p["idx"]):
            qid = f"{pid}.q{e['q']}"
            spans.append((qid, pid, "query", e["t0"], e["t3"]))
            for name, a, b in (("entry.build", "t0", "t1"), ("catalyst.plan", "t1", "t2"),
                               ("action", "t2", "t3")):
                spans.append((f"{qid}.{name}", qid, name, e[a], e[b]))
    exec_ids = {(e["pass"], e["qi"]): f"p{e['pass']}.q{e['q']}" for e in raw["execs"]}
    phase_name = {"build": "entry.build", "plan": "catalyst.plan", "action": "action"}
    traced_ids = {p["idx"] for p in traced}
    for j in raw["jobs"]:
        pi, qi, ph, _ = j["tag"].split(":")
        if int(pi) not in traced_ids:
            continue
        parent = f"{exec_ids[(int(pi), int(qi))]}.{phase_name[ph]}"
        spans.append((f"job{j['id']}", parent, "spark.job", j["start"], j["end"]))
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    self_t = {}
    for s in spans:
        kids = children.get(s[0], [])
        cover = union_s([(max(k[3], s[3]), min(k[4], s[4])) for k in kids if k[4] > s[3] and k[3] < s[4]])
        self_t[s[2]] = self_t.get(s[2], 0.0) + (s[4] - s[3]) / 1000.0 - cover
    return spans, self_t


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture", action="store_true")
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(bench_json) as f:
        declared = json.load(f)
    if a.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {a.workload}")
    wl = dict(spec["workloads"][a.workload])
    wl["cores"] = os.cpu_count() or 1
    goldens = wl["queries"]
    # the seed only permutes the query order; the set and corpus are fixed
    order = sorted(goldens)
    random.Random(a.seed).shuffle(order)
    assert sorted(order) == sorted(goldens)

    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    # every corpus is prepared up front, so only the first run in a
    # checkout pays for building them
    dirs = {name: corpus(spec, name, classpath) for name in spec["corpora"]}
    corpus_dir = dirs[wl["corpus"]]
    warm_page_cache(corpus_dir)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "raw.json")
        min_passes = MIN_PASSES * 2 if a.trace else MIN_PASSES
        setups = [launch(classpath, wl, corpus_dir, run_dir, "run", [
            f"out={out}", "queries=" + ",".join(order), f"seconds={a.seconds}",
            f"minPasses={min_passes}", f"trace={a.trace}"])]
        with open(out) as f:
            raw = json.load(f)
        for _ in range(SETUP_REPEATS - 1):
            # each set-up starts from an empty staging dir as well
            shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
            setups.append(launch(classpath, wl, corpus_dir, run_dir, "setup", []))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in raw["execs"]:
        e["qi"] = order.index(e["q"])
    attempted = len(raw["execs"])
    failed, notes = check_execs(raw, goldens, order)
    for n in notes[:20]:
        log(f"FAILED {n}")
    problems = []
    if a.trace == 0:
        metrics = end_to_end(raw, setups, failed, attempted)
        expected = declared["end_to_end"]
    else:
        traced = [p for p in raw["passes"] if p["kind"] == "steady" and p["traced"]]
        untraced = [p for p in raw["passes"] if p["kind"] == "steady" and not p["traced"]]
        per = []
        for p in traced:
            m, pr = per_pass_layers(raw, p)
            per.append(m)
            problems += pr
        first, pr = per_pass_layers(raw, raw["passes"][0])
        problems += pr
        units = {d["name"]: d["unit"] for d in declared["per_layer"]}
        metrics = {k: (median([m[k] for m in per]), units.get(k, "")) for k in per[0]}
        # build-time work belongs to the first pass; steady passes should
        # read staged artifacts and run no stream batches
        for k in ("staging.artifacts_built", "staging.bytes_written", "staging.build_s",
                  "streaming.batches", "streaming.batch_s", "jvm.jit_s", "jvm.gc_s"):
            metrics[f"first.{k}"] = (first[k], units.get(f"first.{k}", ""))
        wall = lambda ps: median([(p["end"] - p["start"]) / 1000.0 for p in ps])
        metrics["trace.overhead_s"] = (wall(traced) - wall(untraced), "s")
        spans, self_t = spans_and_self(raw, traced)
        for name in ("pass", "query", "entry.build", "catalyst.plan", "action", "spark.job"):
            metrics[f"self.{name}_s"] = (self_t.get(name, 0.0) / len(traced), "s")
        trace_path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": spans}, f)
        log(f"{len(spans)} spans written to {os.path.relpath(trace_path, ROOT)}; "
            f"tracing overhead {metrics['trace.overhead_s'][0]:+.3f} s per pass "
            f"(traced {wall(traced):.3f} s vs untraced {wall(untraced):.3f} s)")
        expected = declared["per_layer"]
    for p in problems[:20]:
        log(f"SELF-CHECK {p}")
    names = sorted(d["name"] for d in expected)
    if sorted(metrics) != names:
        problems.append("printed metric names differ from BENCHMARK.json: "
                        f"extra {sorted(set(metrics) - set(names))}, "
                        f"missing {sorted(set(names) - set(metrics))}")
        log(f"SELF-CHECK {problems[-1]}")
    if a.capture:
        capture(spec, a.workload, raw)
    kinds = [p["kind"] for p in raw["passes"]]
    log(f"{a.workload}: {len(order)} queries, 1 first + {kinds.count('warmup')} warm-up + "
        f"{kinds.count('steady')} steady passes, "
        f"{attempted} executions, {failed} failed")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))


def capture(spec, workload, raw):
    got = {}
    for e in raw["execs"]:
        if e["error"]:
            log(f"capture: {e['q']} failed, not recorded")
            continue
        r = {"rows": e["rows"], "hash": e["hash"]}
        if got.setdefault(e["q"], r) != r:
            log(f"capture: {e['q']} is not deterministic across passes")
            got[e["q"]]["unstable"] = True
    spec["workloads"][workload]["queries"] = {
        q: {"rows": r["rows"], "hash": r["hash"]} for q, r in sorted(got.items())
        if not r.get("unstable")}
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    log(f"captured {len(spec['workloads'][workload]['queries'])} goldens")


if __name__ == "__main__":
    try:
        main()
    except (BenchError, FileNotFoundError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        sys.exit(2)
