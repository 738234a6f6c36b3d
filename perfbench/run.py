"""graft benchmark: one command, run from the repository root.

  python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program (build.py), generates the seeded inputs
(gen.py), runs the workload in one JVM started directly (graftbench.Main),
checks every output (check.py), and prints every metric as a bare line,
then one JSON object as the last line. With --trace 1 the metrics are the
per-layer ones of BENCHMARK.json, from the same run with tracing on.

The timed phase is ROUNDS whole rounds of the same operations on every run,
not a fixed duration: --seconds is accepted but does not set how many
operations run.

The first run after a build also runs the program once untimed, through
set-up and warm-up, to record the classes it loads in a class-data-sharing
archive beside the jar; later JVMs map them instead of loading them, which
takes ~6 s off the untimed first session start of every run.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170
# the timed phase is this many whole rounds on every run, whatever they cost
# and whatever --seconds says, so that every run times the same operations
ROUNDS = 1
INPUT_CACHE_PER_WORKLOAD = 3
# query_tail_ms: the mean of the slowest quarter of the timed reads. A run
# times 12 (batch_10x) or 19 (interactive) reads, too few for a percentile
# with ten samples beyond it; one order statistic of them (p90 was tried)
# moves with a single read
TAIL_SHARE = 0.25
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def tail_mean(xs, share):
    """Mean of the slowest `share` of xs (at least one)."""
    k = max(1, round(len(xs) * share))
    return statistics.mean(sorted(xs)[-k:])


def inputs_for(root, workload, seed):
    """The seeded inputs, regenerated unless an earlier run of the same
    gen.py left them with the same bytes; returns (dir, sha256)."""
    cache = os.path.join(root, build.BUILD_DIR, "inputs")
    with open(gen.__file__, "rb") as f:
        gen_version = hashlib.sha256(f.read()).hexdigest()[:16]
    key = f"{workload}-{seed}-{gen_version}"
    d = os.path.join(cache, key)
    stored = os.path.join(cache, key + ".sha256")
    if os.path.isdir(d) and os.path.exists(stored):
        digest = gen.input_hash(d)
        with open(stored) as f:
            if digest == f.read():
                os.utime(d)
                return d, digest
    shutil.rmtree(d, ignore_errors=True)
    digest = gen.generate(workload, seed, d)
    with open(stored, "w") as f:
        f.write(digest)
    # keep the most recently used input sets of this workload
    mine = sorted((e for e in os.listdir(cache) if e.startswith(workload + "-")
                   and os.path.isdir(os.path.join(cache, e))),
                  key=lambda e: os.path.getmtime(os.path.join(cache, e)), reverse=True)
    for old in mine[INPUT_CACHE_PER_WORKLOAD:]:
        shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
        if os.path.exists(os.path.join(cache, old + ".sha256")):
            os.remove(os.path.join(cache, old + ".sha256"))
    return d, digest


def java(classpath, work, flags, args):
    """The command line of a benchmark JVM."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + flags
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
               f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-cp", os.pathsep.join(classpath), "graftbench.Main"] + args)


def class_archive(root, classpath, workload, inputs):
    """The class-data-sharing archive of this build, recorded by one untimed
    run of set-up and warm-up (zero rounds) when there is none yet."""
    jsa = classpath[0] + ".jsa"
    if not os.path.exists(jsa):
        work = os.path.join(root, build.BUILD_DIR, "work", f"cds-{os.getpid()}")
        os.makedirs(os.path.join(work, "tmp"))
        try:
            with open(os.path.join(work, "jvm.log"), "w") as log:
                subprocess.run(java(classpath, work, [f"-XX:ArchiveClassesAtExit={jsa}"],
                                    [workload, inputs, work, "0", "0", "0"]),
                               stdout=log, stderr=subprocess.STDOUT, check=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return jsa


def end_to_end(res):
    ops = res["ops"]
    def kind(k):
        return [o for o in ops if o["kind"] == k]
    def rate(xs, key):
        return sum(o[key] for o in xs) / (sum(o["ms"] for o in xs) / 1000.0)
    def median_rate(xs):
        # repeated calls of one operation: the median call's rate
        return statistics.median(o["units"] / (o["ms"] / 1000.0) for o in xs)
    reads = kind("read")
    read_ms = [o["ms"] for o in reads]
    extra = res["extra"]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "query_p50_ms": (statistics.median(read_ms), "ms"),
        "query_tail_ms": (tail_mean(read_ms, TAIL_SHARE), "ms"),
        "qps": (len(reads) / (sum(read_ms) / 1000.0), "1/s"),
        "rows_per_s": (rate([o for o in reads if o["rows"] > 0], "rows"), "rows/s"),
        "docs_per_s": (median_rate(kind("dedup")), "docs/s"),
        "ann_queries_per_s": (median_rate(kind("ann")), "1/s"),
        "ingest_rows_per_s": (rate(kind("write"), "units"), "rows/s"),
        "stored_bytes_per_row": (extra["stored_bytes"] / extra["raw_rows"], "B"),
        "retained_heap_mb": (res["retained_heap_mb"], "MiB"),
    }


def per_layer(res, units):
    layers = dict(res["layers"])
    extra = res["extra"]
    n_ops = len(res["ops"])
    layers["ingest.rollup_ratio"] = extra["raw_rows"] / extra["stored_rows"]
    layers["ingest.files_per_chunk"] = extra["files"] / extra["chunks"]
    layers["jvm.gc_ms"] = layers["jvm.gc_ms"] / n_ops
    return {k: (layers[k], units[k]) for k in units}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted; the timed phase is ROUNDS rounds whatever this says")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        print("run from the repository root: src/main/scala/graft not found", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build.build(root)
    t_build = time.time()
    inputs, digest = inputs_for(root, a.workload, a.seed)
    t_archive = time.time()
    jsa = class_archive(root, classpath, a.workload, inputs)
    t_inputs = time.time()
    # the deadline leaves out a first run's build and archive recording
    deadline = t_start + DEADLINE_S + (t_build - t_start) + (t_inputs - t_archive)
    print(f"input_sha256 {digest}")

    work = os.path.join(root, build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(classpath, work, [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [],
               [a.workload, inputs, work, str(ROUNDS), str(a.trace), str(a.seed)])
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                           timeout=max(10.0, deadline - time.time()))
        t_jvm = time.time()
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        if res["rounds"] != ROUNDS:
            raise OSError(f"the program ran {res['rounds']} rounds, not {ROUNDS}")
        checked, failures = check.check_outputs(inputs, os.path.join(work, "outputs.jsonl"))
        t_check = time.time()
    except (subprocess.SubprocessError, OSError) as e:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    for msg in failures[:20]:
        print(f"check failed: {msg}", file=sys.stderr)
    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    wrong = len(failures) - failed_ops
    metrics = end_to_end(res)
    if a.trace:
        # a traced run's end-to-end figures, printed only, give the overhead
        for name, (value, unit) in metrics.items():
            print(f"{a.workload} traced {name} {value:.6g} {unit}")
        metrics = per_layer(res, {m["name"]: m["unit"] for m in spec["per_layer"]})
    for name, (value, unit) in metrics.items():
        print(f"{a.workload} {name} {value:.6g} {unit}")
    print(f"{a.workload} attempted {len(res['ops'])}")
    print(f"{a.workload} failed {failed_ops}")
    print(f"{a.workload} checked {checked} wrong {wrong}")
    print(f"{a.workload} rounds {res['rounds']} "
          f"warmup_s {sum(o['ms'] for o in res['warmup']) / 1000:.3f} "
          f"timed_s {res['timed_s']:.3f} "
          f"setups {' '.join(f'{s:.3f}' for s in res['setup_s'])}")
    print(f"{a.workload} wall_s {time.time() - t_start:.1f} build_s {t_build - t_start:.1f} "
          f"inputs_s {t_archive - t_build:.1f} archive_s {t_inputs - t_archive:.1f} "
          f"jvm_s {t_jvm - t_inputs:.1f} "
          f"check_s {t_check - t_jvm:.1f}")
    # the last run's records stay for inspection; the rest of the work dir goes
    shutil.copy(os.path.join(work, "result.json"),
                os.path.join(root, build.BUILD_DIR, f"last-{a.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": wrong == 0,
        "attempted": len(res["ops"]),
        "failed": failed_ops,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
