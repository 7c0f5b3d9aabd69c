#!/usr/bin/env python3
"""Build and run graft's benchmark for one workload and seed.

    python3 graftbench/run.py --workload ann_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the library and
the benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. The benchmark JVM prints the
result as its last stdout line; the full record, with provenance, is printed
before it and appended to `.bench_build/graftbench/results.jsonl`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ("ann_bulk", "ann_serve", "dedup_near")
HEAP = "4g"
BUILD_TIMEOUT_S = 800
# A run must end within 180 s (the first run of a checkout, which builds,
# within 900 s). This is that limit less time to stop the JVM and print; it is
# not tuned to any host. A traced run, the longest, takes about half of it on
# a 4-core host (README), so a run slows down 2x before it is stopped — and a
# run that slow would miss the 180 s limit anyway.
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def source_id(tree):
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            return f"git:{sha.stdout.strip()} tree:{tree}"
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"tree:{tree}"


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def build(tree):
    """Compile with sbt once per source tree; returns the runtime classpath.

    sbt compiles into the one `target/` it keeps for every tree, so the
    classes of this tree are copied to `.bench_build/graftbench/<tree>/` and
    the stamp names that copy: a later build of another tree in the same
    checkout cannot change what this tree's runs execute.
    """
    tree_dir = os.path.join(OUT, tree)
    stamp = os.path.join(tree_dir, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    log("building graft and the benchmark with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        log("build failed" if code is not None else "build timed out")
        sys.exit(2)
    cp = [ln for ln in out.splitlines() if ln and not ln.startswith("[")][-1].strip()
    # entries sbt writes under graftbench/ (the compiled classes) are copied;
    # the Spark and Scala jars outside it do not change with the tree
    shutil.rmtree(tree_dir, ignore_errors=True)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.commonpath([os.path.abspath(e), HERE]) == HERE and os.path.isdir(e):
            dst = os.path.join(tree_dir, f"classes-{i}")
            shutil.copytree(e, dst)
            e = dst
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(stamp + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(stamp + ".tmp", stamp)
    return cp


def main():
    # a terminated runner still stops the build or benchmark JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
            "run from the root of a graft checkout")
        return 2

    tree = source_hash()
    cp = build(tree)
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(work, "record.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.bench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--record", record])
    env = dict(os.environ, GRAFTBENCH_SOURCE=source_id(tree))
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, text=True)
        if code is None:
            log(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
            return 3
        lines = [ln for ln in out.splitlines() if ln.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if not (isinstance(result, dict)
                and set(result) == {"correct", "attempted", "failed", "metrics"}):
            sys.stderr.write(out)
            log(f"benchmark exited {code} without a result line")
            return code or 4
        if os.path.exists(record):
            with open(record) as fh:
                rec = fh.read().strip()
            with open(os.path.join(OUT, "results.jsonl"), "a") as fh:
                fh.write(rec + "\n")
            spans = os.path.join(work, f"spans-{a.workload}-{a.seed}.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(OUT, "spans"), exist_ok=True)
                shutil.copy(spans, os.path.join(OUT, "spans"))
            print(rec)
        print(json.dumps(result), flush=True)
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
