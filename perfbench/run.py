#!/usr/bin/env python3
"""Layered benchmark for the graft operator engine.

One command runs one workload with one seed, in a fresh JVM and a fresh
Spark session at local[N], N = min(4, available cores):

    python3 perfbench/run.py --workload suite --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md):
  suite      a fixed sample of the operator registry, stratified by the
             per-query profile of the whole catalogue, one query at a
             time, in an order shuffled by the seed;
  wordcount  `api.MapReduce.wordCount` over a seeded Unicode corpus,
             with the result written as `<key> : <value>` lines.

Each run first makes one untimed warm pass, which takes the JVM's
class-loading, JIT and code-generation cost; every timed pass then runs
in a new session, so memoized relations are built again in each.

The first run in a checkout builds the engine and the harness from
source with sbt (perfbench/build.sbt) and generates the tables; later
runs reuse both from `.bench_build/`. The run checks every result
outside the timed interval and prints, last, one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones,
from a run that records spans with a SparkListener and a
QueryExecutionListener.

`--write-digests` regenerates perfbench/expected/digests.json from the
tree being benchmarked (all registered queries, run twice in different
orders; a query whose two digests differ is reported and not written).
`--catalogue --trace 1 --write-profile` regenerates the per-query
profile perfbench/expected/catalogue_profile.json that the suite's
sample is drawn from.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics  # noqa: E402
import tables  # noqa: E402

DIGESTS = os.path.join(HERE, "expected", "digests.json")
PROFILE = os.path.join(HERE, "expected", "catalogue_profile.json")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
TABLES_VERSION = "sf0.1-seed42-v1"
MAX_CORES = 4
# A fixed heap and young generation: with G1's adaptive sizing the
# peak RSS of identical runs differs by a fifth.
JVM_HEAP = "3g"
JVM_YOUNG = "1g"
RUN_LIMIT_S = 170
# The suite's sample: one query from each of SUITE_SIZE equal strata of
# the catalogue profile ordered by wall time (see suite_sample); the
# stratum that holds SUITE_LOOPING (a driver-looping graph query) takes it.
SUITE_SIZE = 14
SUITE_LOOPING = "q192_label_propagation"
# timed passes per run at the nominal --seconds of BENCHMARK.json;
# scaled linearly for other values, so the work, not the clock, is fixed
NOMINAL_SECONDS = 25
SUITE_PASSES = 2
WORDCOUNT_PASSES = 8
# Word count keeps getting faster over its first three passes (JIT of
# the tokenizer and the combine), so it warms with three.
WORDCOUNT_WARM = 3
WORDCOUNT_MB = 24.0
SETUPS = 3
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build engine + harness if the sources changed; return the classpath.

    The build also records a class-data-sharing archive of the classes a
    pass over the suite's sample loads (`-XX:ArchiveClassesAtExit`),
    which every later JVM maps instead of loading and verifying those
    classes again; it cuts the JVM's start-up and first-query cost
    roughly in half."""
    stamp = os.path.join(BUILD, "classpath.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got["sources"] == want:
            return got["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the engine")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, stdout=fh, stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if "scala-2.13" in ln and os.pathsep in ln]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}", 3)
    cp = lines[-1]
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    run_harness(cp, {"workload": "queries", "data": table_dir(), "names": ",".join(suite_names(0)),
                     "passes": 1, "setups": 1, "cores": local_cores(), "trace": 0},
                time.time() + 600, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    with open(stamp, "w") as fh:
        json.dump({"sources": want, "classpath": cp}, fh)
    return cp


# ----------------------------------------------------------------- host

def local_cores():
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f[:8])
    except (OSError, ValueError):
        return 0, 0


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: a busy shared host shows here."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def host_info(cores):
    def grep(path, key):
        try:
            with open(path) as fh:
                for ln in fh:
                    if ln.startswith(key):
                        return ln.split(":", 1)[1].strip()
        except OSError:
            pass
        return "unknown"
    return {"nproc": len(os.sched_getaffinity(0)),
            "cpu_model": grep("/proc/cpuinfo", "model name"),
            "mem_total": grep("/proc/meminfo", "MemTotal"),
            "master": f"local[{cores}]",
            "loadavg_start": os.getloadavg()[0], "cpu_times_start": cpu_times()}


# ---------------------------------------------------------------- inputs

def table_dir():
    out = os.path.join(BUILD, "data", f"tables-{TABLES_VERSION}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tables.generate(tmp, sf=0.1, seed=42)
        os.replace(tmp, out)
    return out


def corpus_dir(seed):
    """The seed's corpus and its known counts; other seeds' are removed."""
    data = os.path.join(BUILD, "data")
    name = f"corpus-{seed}-{WORDCOUNT_MB:g}mb"
    out = os.path.join(data, name)
    answer = out + ".json"
    if not (os.path.isdir(out) and os.path.exists(answer)):
        if os.path.isdir(data):
            for old in os.listdir(data):
                if old.startswith("corpus-"):
                    p = os.path.join(data, old)
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        counts, tokens, size = corpus.generate(out + ".tmp", seed, WORDCOUNT_MB)
        os.replace(out + ".tmp", out)
        with open(answer, "w") as fh:
            json.dump({"counts": counts, "tokens": tokens, "bytes": size}, fh)
    with open(answer) as fh:
        return out, json.load(fh)


def load_digests():
    with open(DIGESTS) as fh:
        return json.load(fh)


def load_profile():
    with open(PROFILE) as fh:
        return json.load(fh)


def suite_sample(profile, size=SUITE_SIZE, looping=SUITE_LOOPING):
    """Stratified sample of the catalogue.

    Order the queries by their wall time in the catalogue run
    (`profile["queries"]`), cut them into `size` strata of equal count,
    and take from each the query whose figures when run alone
    (`profile["solo"]`, building every memoized relation it uses) are
    nearest the stratum's: jobs to the stratum's mean jobs, wall time to
    its median wall time, each as a share (ties by name). The stratum
    holding `looping` takes it. Matching on the solo figures is what
    keeps the sample, run in a fresh session, as heavy per query as the
    whole catalogue, where memoized relations are shared by many
    queries."""
    cat, solo = profile["queries"], profile["solo"]
    names = sorted(cat, key=lambda n: (cat[n]["wall_s"], n))
    picks = []
    for i in range(size):
        stratum = names[i * len(names) // size:(i + 1) * len(names) // size]
        if looping in stratum:
            picks.append(looping)
            continue
        jobs = statistics.mean(cat[n]["jobs"] for n in stratum)
        wall = statistics.median(cat[n]["wall_s"] for n in stratum)
        picks.append(min(stratum, key=lambda n: (abs(solo[n]["jobs"] - jobs) / jobs +
                                                 abs(solo[n]["wall_s"] - wall) / wall, n)))
    return picks


def suite_names(seed):
    names = suite_sample(load_profile())
    random.Random(seed).shuffle(names)
    return names


def write_profile(per_query, host, seed, section, path=PROFILE):
    """Write one section of the per-query catalogue profile: jobs, task,
    fn and wall time averaged over the timed passes, and the widest
    stage seen. `queries` holds a run of the whole catalogue in one
    session per pass, `solo` one with each query in a session of its
    own; other sections of the file are kept."""
    by_name = {}
    for q in per_query:
        by_name.setdefault(q["name"], []).append(q)
    queries = {n: {"jobs": statistics.mean(q["jobs"] for q in qs),
                   "wall_s": statistics.mean(q["wall_s"] for q in qs),
                   "task_s": statistics.mean(q["task_s"] for q in qs),
                   "fn_s": statistics.mean(q["fn_s"] for q in qs),
                   "widest_stage_tasks": max(q["widest_stage_tasks"] for q in qs),
                   "passes": len(qs)} for n, qs in sorted(by_name.items())}
    prof = {}
    if os.path.exists(path):
        with open(path) as fh:
            prof = json.load(fh)
    solo = " --solo" if section == "solo" else ""
    prof.setdefault("made_by", {})[section] = (
        f"python3 perfbench/run.py --workload suite --catalogue{solo} --trace 1 "
        f"--seed {seed} --write-profile")
    prof.setdefault("host", {})[section] = host
    prof[section] = queries
    with open(path, "w") as fh:
        json.dump(prof, fh, indent=1)


# ------------------------------------------------------------------ run

def run_harness(cp, opts, deadline, jvm_flags=None):
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + jvm_flags
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", f"work={work}", f"out={out}"]
           + [f"{k}={v}" for k, v in opts.items()])
    log = os.path.join(BUILD, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness ran past the time limit; see {log}", 4)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (exit {rc}); see {log}", 4)
    with open(out) as fh:
        return json.load(fh)


def check_queries(raw, expected):
    """Per run: None when correct, else why not."""
    verdicts = []
    for r in raw["runs"]:
        want = expected.get(r["name"])
        if r.get("error"):
            verdicts.append(f"error: {r['error']}")
        elif want is None:
            verdicts.append("no expected digest")
        elif r["digest"] != want:
            verdicts.append(f"digest {r['digest']} != expected {want}")
        else:
            verdicts.append(None)
    return verdicts


def read_wordcount(out_dir):
    got = {}
    for f in sorted(os.listdir(out_dir)):
        if f.startswith("part-"):
            with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
                for ln in fh:
                    key, _, value = ln.rstrip("\n").rpartition(" : ")
                    got[key] = got.get(key, 0) + int(value)
    return got


def check_wordcount(raw, answer):
    verdicts = []
    for r in raw["runs"]:
        if r.get("error"):
            verdicts.append(f"error: {r['error']}")
            continue
        got = read_wordcount(r["output"])
        if got != answer["counts"]:
            bad = sorted(set(got.items()) ^ set(answer["counts"].items()))[:3]
            verdicts.append(f"{len(got)} words written, {len(answer['counts'])} expected; e.g. {bad}")
        else:
            verdicts.append(None)
    return verdicts


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["suite", "wordcount"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=NOMINAL_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-digests", action="store_true")
    ap.add_argument("--catalogue", action="store_true",
                    help="suite over every registered query, not the sample, without "
                         "the per-run time limit (for the full layer profile)")
    ap.add_argument("--write-profile", action="store_true",
                    help="with --catalogue --trace 1: rewrite expected/catalogue_profile.json")
    ap.add_argument("--same-session", action="store_true",
                    help="with --catalogue: run each query warm then timed, back to back, "
                         "all in one session, instead of passes in fresh sessions")
    ap.add_argument("--solo", action="store_true",
                    help="with --catalogue: run every timed query in a new session of its own, "
                         "so it builds every memoized relation it uses")
    ap.add_argument("--tables", metavar="DIR",
                    help="with --catalogue: read the tables from DIR instead of generating "
                         "them; results are not checked (the digests are for the generated ones)")
    args = ap.parse_args()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (src/main/scala/graft) are not in this checkout")
    if not args.write_digests and not args.workload:
        fail("--workload is required")
    if (args.write_profile or args.same_session or args.solo or args.tables) and not (
            args.catalogue and args.workload == "suite"):
        fail("--write-profile, --same-session, --solo and --tables need --workload suite --catalogue")
    if args.same_session and args.solo:
        fail("--same-session and --solo exclude each other")
    if args.write_profile and not args.trace:
        fail("--write-profile needs --trace 1")

    cp = classpath()
    deadline = max(deadline, time.time() + RUN_LIMIT_S)  # a first build is extra
    cores = local_cores()
    if args.write_digests:
        return write_digests(cp, cores)

    host = host_info(cores)
    scale = max(args.seconds, 1.0) / NOMINAL_SECONDS
    opts = {"cores": cores, "setups": SETUPS, "trace": args.trace, "warm": 1}
    tokens = None
    if args.workload == "wordcount":
        data, answer = corpus_dir(args.seed)
        tokens = answer["tokens"]
        input_mb = answer["bytes"] / 1e6
        opts.update(workload="wordcount", data=data, warm=WORDCOUNT_WARM,
                    passes=max(1, round(WORDCOUNT_PASSES * scale)))
    else:
        data = os.path.abspath(args.tables) if args.tables else table_dir()
        input_mb = sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)) / 1e6
        digests = load_digests()
        if digests["cores"] != cores:
            fail(f"expected digests were made at local[{digests['cores']}], "
                 f"this host runs local[{cores}]")
        if args.catalogue:
            names = list(digests["queries"])
            random.Random(args.seed).shuffle(names)
            deadline += 3600
        else:
            names = suite_names(args.seed)
        opts.update(workload="queries", data=data, names=",".join(names),
                    passes=max(1, round(SUITE_PASSES * scale)))
        if args.same_session:
            opts.update(order="query", passes=1)
        if args.solo:
            opts.update(solo=1, passes=1)

    t_jvm = time.time()
    raw = run_harness(cp, opts, deadline)
    t_jvm = time.time() - t_jvm
    if args.workload == "wordcount":
        verdicts = check_wordcount(raw, answer)
    elif args.tables:
        verdicts = [f"error: {r['error']}" if r.get("error") else None for r in raw["runs"]]
        print(f"results not checked: the expected digests are for the generated tables, "
              f"not {data}")
    else:
        verdicts = check_queries(raw, {k: v["digest"] for k, v in digests["queries"].items()})
    failed = sum(1 for v in verdicts if v)
    for r, v in zip(raw["runs"], verdicts):
        if v:
            print(f"WRONG {r['name']} (pass {r['pass']}): {v}")

    host.update(loadavg_end=os.getloadavg()[0], jdk=raw["java_version"],
                spark=raw["spark_version"],
                cpu_steal_share=steal_share(host.pop("cpu_times_start"), cpu_times()))
    e2e, details = metrics.end_to_end(raw, input_mb)
    details.update(failed_frac=failed / len(verdicts), warm_s=sum(
                       (p["end_ms"] - p["start_ms"]) / 1e3 for p in raw["passes"] if not p["timed"]),
                   jvm_s=t_jvm, jvm_uptime_s=raw["jvm_uptime_s"])
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "end_to_end": e2e, "details": details}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"host: {host['nproc']} cpus, {host['cpu_model']}, {host['mem_total']}, "
          f"JDK {host['jdk']}, Spark {host['spark']}, {host['master']}, "
          f"loadavg {host['loadavg_start']:.2f} -> {host['loadavg_end']:.2f}, "
          f"CPU steal {100 * host['cpu_steal_share']:.1f}%")
    unit = units()
    for k, v in e2e.items():
        print(f"  {k:<18} {fmt(v):>12} {unit[k]}")
    print(f"  {'query_tail_s':<18} {fmt(details['query_tail_s']):>12} s "
          f"(p{details['tail_percentile']:g} of {details['latency_samples']} samples; not gated)")
    print(f"  {'failed_frac':<18} {fmt(details['failed_frac']):>12} ({failed}/{len(verdicts)})")
    if args.trace:
        layers, per_query = metrics.per_layer(raw, tokens)
        record.update(per_layer=layers, per_query=per_query, self_times=metrics.self_times(raw))
        if args.write_profile:
            write_profile(per_query, host, args.seed, "solo" if args.solo else "queries")
        out = {k: {"value": v, "unit": unit[k]} for k, v in layers.items()}
        print_layers(layers, per_query, record["self_times"], unit)
    else:
        out = {k: {"value": v, "unit": unit[k]} for k, v in e2e.items()}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"correct: {'yes' if failed == 0 else 'NO'}")
    print(json.dumps({"correct": failed == 0, "attempted": len(verdicts), "failed": failed,
                      "metrics": out}))
    return 0


def units():
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def print_layers(layers, per_query, self_t, unit):
    for k, v in layers.items():
        print(f"  {k:<28} {fmt(v):>12} {unit[k]}")
    print("  where the time goes (per pass):")
    print(f"    jobs per query {layers['sched.jobs_per_query']:.2f}, tasks per stage "
          f"{layers['sched.tasks_per_stage']:.2f}, queries with no stage over one task "
          f"{layers['sched.single_task_queries']:.0f}, no-task time {layers['sched.no_task_s']:.2f} s "
          f"({100 * layers['sched.no_task_share']:.0f}% of wall), sum(task)/wall "
          f"{layers['exec.parallelism']:.2f}, fn {layers['plan.fn_s']:.2f} s")
    print("    self time by span kind: " + ", ".join(f"{k} {v:.2f} s" for k, v in self_t.items()))
    first = [q for q in per_query if q["pass"] == min(r["pass"] for r in per_query)]
    for q in sorted(first, key=lambda q: -q["jobs"])[:8]:
        print(f"    {q['name']:<32} jobs {q['jobs']:>3}  task {q['task_s']:6.2f} s  "
              f"fn {q['fn_s']:6.2f} s  wall {q['wall_s']:6.2f} s")


def write_digests(cp, cores):
    """Run every registered query twice, in two orders, and keep the
    digests that agree."""
    data = table_dir()
    results = []
    for order_seed in (None, 7):
        names = "ALL"
        if order_seed is not None:
            names = [r["name"] for r in results[0]["runs"]]
            random.Random(order_seed).shuffle(names)
            names = ",".join(names)
        raw = run_harness(cp, {"workload": "queries", "data": data, "names": names, "passes": 1,
                               "setups": 1, "cores": cores, "trace": 0}, time.time() + 3600)
        results.append(raw)
    order = [r["name"] for r in results[0]["runs"]]
    first = {r["name"]: r for r in results[0]["runs"]}
    second = {r["name"]: r for r in results[1]["runs"]}
    queries, unstable = {}, []
    for n in order:
        a, b = first[n], second[n]
        if a.get("error") or b.get("error") or a["digest"] != b["digest"]:
            unstable.append(n)
            print(f"UNSTABLE {n}: {a.get('error') or a['digest']} vs {b.get('error') or b['digest']}")
            continue
        queries[n] = {"rows": a["rows"], "digest": a["digest"]}
    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    with open(DIGESTS, "w") as fh:
        json.dump({"tables": TABLES_VERSION, "cores": cores, "queries": queries}, fh, indent=1)
    print(f"{len(queries)} digests written, {len(unstable)} unstable")
    return 1 if unstable else 0


if __name__ == "__main__":
    sys.exit(main())
