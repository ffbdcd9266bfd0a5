#!/usr/bin/env python3
"""The lakehouse benchmark.

    python3 perfbench/run.py --workload <lake_refresh|corpus_curation> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from this checkout's sources
(once, with a class-data-sharing archive of the classes a run loads;
later runs reuse both while the sources are unchanged; every run maps the
archive or fails), runs
one workload in its own JVM, checks every output it produced against a
computation made apart from the engine, and prints one JSON object as
the last line of standard output: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics untraced, the per-layer metrics with
`--trace 1`).
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
TARGET = HERE / "target"
ARCHIVE = TARGET / "classes.jsa"
WORK_ROOT = HERE / ".work"

WORKLOADS = ("lake_refresh", "corpus_curation")

END_TO_END = {"setup_s": "s", "write_ms": "ms", "read_ms": "ms", "stored_mb": "MB"}

# Per-layer metrics of the traced run, with units. Sample medians come
# from the timed calls, the rest from the benchmark's counters.
PER_LAYER = {
    "table.commits_per_write": "count",
    "table.log_reads_per_commit": "count",
    "table.log_reads_per_read": "count",
    "table.snapshot_ms": "ms",
    "table.files_in_snapshot": "count",
    "table.files_scanned": "count",
    "table.log_mb": "MB",
    "table.data_mb": "MB",
    "sql.analyze_ms": "ms",
    "sql.plan_ms": "ms",
    "sql.exec_ms": "ms",
    "streaming.bronze_ms": "ms",
    "streaming.bronze_commits": "count",
    "pipeline.silver_ms": "ms",
    "pipeline.gold_ms": "ms",
    "pipeline.gold_rows_per_input_row": "ratio",
    "pipeline.gold_read_ms": "ms",
    "operators.score_ms": "ms",
    "operators.pairs_ms": "ms",
    "operators.components_ms": "ms",
    "operators.pairs": "count",
    "operators.topk_ms": "ms",
    "operators.topk_recall": "share",
    **{f"spark.{role}.{m}": u for role in ("write", "read") for m, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_write_mb", "MB"), ("input_mb", "MB"), ("gc_ms", "ms"),
        ("slot_busy_share", "share"), ("driver_only_ms", "ms"))},
    "host.steal": "share",
    **{f"self.{layer}_ms": "ms" for layer in
       ("bench", "streaming", "pipeline", "table", "sql", "operators")},
}
SAMPLED = ("sql.analyze_ms", "sql.plan_ms", "sql.exec_ms",
           "streaming.bronze_ms", "pipeline.silver_ms", "pipeline.gold_ms",
           "operators.score_ms", "operators.pairs_ms", "operators.components_ms",
           "operators.topk_ms")

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("cannot find Spark's jars: set SPARK_HOME")
    return str(Path(home) / "jars")


def fingerprint():
    h = hashlib.sha256()
    roots = [REPO / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for root in roots:
        files = sorted(root.rglob("*")) if root.is_dir() else [root]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(REPO)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt; returns the runtime classpath."""
    if not (REPO / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {REPO / 'src' / 'main' / 'scala'}")
    stamp, classpath = TARGET / "perfbench.stamp", TARGET / "classpath.txt"
    fp = fingerprint()
    if (stamp.is_file() and classpath.is_file() and ARCHIVE.is_file()
            and stamp.read_text() == fp):
        return classpath.read_text().strip()
    TARGET.mkdir(exist_ok=True)
    stamp.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = TARGET / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-Dperfbench.sparkJars={spark_jars()}", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT, timeout=480).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0 or not classpath.is_file():
        fail(f"build failed (log {log}):\n{tail(log)}")
    train_archive(classpath.read_text().strip())
    stamp.write_text(fp)
    return classpath.read_text().strip()


def train_archive(classpath):
    """Dumps a class-data-sharing archive of every class a run loads (one
    set-up and one round of each workload), so each run's JVM maps them
    instead of loading them one by one. `setup_s` is measured with it, so
    a build whose training fails is a failed build."""
    ARCHIVE.unlink(missing_ok=True)
    work = TARGET / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [java(), *jvm_flags(work), f"-XX:ArchiveClassesAtExit={ARCHIVE}",
           "-cp", classpath, "graft.perfbench.Main", "--workload", "classes",
           "--seed", "0", "--seconds", "0", "--trace", "0",
           "--work", str(work), "--out", str(work / "result.json")]
    log = TARGET / "train.log"
    try:
        with open(log, "w") as out:
            rc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT, timeout=300).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        rc = e
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        fail(f"training the class-data-sharing archive failed ({rc}; log {log}):\n{tail(log)}")


def java():
    if os.environ.get("JAVA_HOME"):
        return str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    return shutil.which("java") or "java"


def jvm_flags(work):
    """Flags every benchmark JVM shares (the archive requires the same)."""
    return ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", *JAVA_OPENS]


def run_jvm(classpath, args, work, deadline):
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    log = work / "jvm.log"
    # -Xshare:on: a JVM that cannot map the archive stops instead of
    # starting slower
    cmd = [java(), *jvm_flags(work), f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(result)]
    with open(log, "w") as out:
        try:
            subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                           stderr=subprocess.STDOUT,
                           timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"the {args.workload} run did not end in time:\n{tail(log)}")
    if not result.is_file():
        fail(f"the {args.workload} run wrote no result:\n{tail(log)}")
    res = json.loads(result.read_text())
    if "error" in res:
        print(tail(log), file=sys.stderr)
    return res


def median_of(samples, key):
    v = samples.get(key)
    return statistics.median(v) if v else 0.0


def mean_of_medians(samples, role, kinds=None):
    """Each kind's median, averaged over the kinds of the fixed mix (or
    over `kinds` of it)."""
    meds = [statistics.median(v) for k, v in samples.items()
            if k.startswith(role + ".") and v and (kinds is None or k.split(".")[-1] in kinds)]
    return sum(meds) / len(meds) if meds else 0.0


def end_to_end(res):
    s = res["samples"]
    return {
        "setup_s": res["session_s"] + statistics.median(res["setup_reps_s"]),
        "write_ms": mean_of_medians(s, "write"),
        "read_ms": mean_of_medians(s, "read"),
        "stored_mb": res["stored_bytes"] / 1e6,
    }


def per_layer(res, extra):
    s = res["samples"]
    vals = {name: 0.0 for name in PER_LAYER}
    vals.update({k: float(v) for k, v in res["trace"]["metrics"].items() if k in vals})
    vals.update({k: median_of(s, k) for k in SAMPLED if s.get(k)})
    vals.update(extra)
    return vals


def self_time_table(res):
    rounds = res["rounds"]
    lines = [f"self time per layer, {res['workload']} (ms per round, {rounds} rounds):"]
    for k, v in sorted(res["trace"]["metrics"].items()):
        if k.startswith("self."):
            lines.append(f"  {k[5:-3]:<10} {v:10.1f}")
    return "\n".join(lines)


def keep_spans(work, args):
    """The traced run's spans outlive its work directory."""
    traces = TARGET / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    spans = work / "spans.json"
    if spans.is_file():
        shutil.copy(spans, traces / f"{args.workload}-{args.seed}.json")


def check(res):
    """Returns (errors, extra per-layer values)."""
    import checks
    data = res["check"]
    if res["workload"] == "lake_refresh":
        errors = checks.check_lake(data)
        return errors, {"pipeline.gold_read_ms":
                        mean_of_medians(res["samples"], "read", checks.LAKE_QUERIES)}
    errors, recall = checks.check_corpus(data)
    return errors, {"operators.topk_recall": recall}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S - 15  # leaves time for the checks
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(classpath, args, work, deadline)
        if "error" in res:
            fail(f"the {args.workload} run stopped: {res['error']}")
        errors, extra = check(res)
        for e in errors[:20]:
            print(f"perfbench: WRONG: {e}", file=sys.stderr)
        if args.trace:
            keep_spans(work, args)
            print(self_time_table(res))
            metrics = {k: (v, PER_LAYER[k]) for k, v in per_layer(res, extra).items()}
        else:
            metrics = {k: (v, END_TO_END[k]) for k, v in end_to_end(res).items()}
        correct = not errors
        print(json.dumps({
            "correct": correct,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if WORK_ROOT.is_dir() and not any(WORK_ROOT.iterdir()):
            WORK_ROOT.rmdir()


if __name__ == "__main__":
    main()
