#!/usr/bin/env python3
"""Run graft's measuring mains from the compiled classes (`sbt compile` first).

    python3 tools/measure.py bench   --sf DIR [--only Q,...] [--reps N] [--out FILE]
    python3 tools/measure.py sweep   --sf DIR [--factor N] [--only Q,...] [--reps N] [--out FILE]
    python3 tools/measure.py cluster --sf DIR [--only Q,...|ALL] [--reps N] [--out FILE]

bench    graft.Bench on DIR; its one JSON line goes to stdout, the full JSON
         to FILE (default bench_out.json).
sweep    builds DIR's ScaleUp replica of --factor (default 100) under
         target/ unless it exists, runs graft.Bench on DIR and on the
         replica (both full JSONs under target/measure/), and writes their
         tools/assemble_scaling.py comparison to FILE (default
         bench_scaling.json).
cluster  graft.tools.ClusterCheck bench on DIR: the query set on a
         local-cluster master of 2 workers x max(1, cores/2) cores and on
         local[2 x max(1, cores/2)]; FILE defaults to bench_cluster.json.

Cores and heap come from the box: every core this process may run on, and
half the physical memory. Nothing may recompile target/scala-2.13/classes
while a run is in flight (Bench flags such a run as classes_changed_mid_run).
"""
import argparse
import json
import os
import re
import subprocess
import sys
from pathlib import Path

from assemble_scaling import assemble

REPO = Path(__file__).resolve().parent.parent
CLASSES = REPO / "target" / "scala-2.13" / "classes"
# Spark's jars: $SPARK_HOME/jars, else the directory build.sbt compiles against
JARS = (Path(os.environ["SPARK_HOME"]) / "jars" if os.environ.get("SPARK_HOME") else
        Path(re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                       (REPO / "build.sbt").read_text()).group(1)))

# Spark on JDK 17 outside spark-submit needs these; they match
# org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions().
ADD_OPENS = [flag for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for flag in ("--add-opens", p + "=ALL-UNNAMED")]


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal, in whole GB, at least 1."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, kb // (2 << 20))}g"


def java_cmd(main, *args):
    """The command line that runs `main` from the compiled classes."""
    return (["java", *ADD_OPENS, f"-Xmx{heap()}",
             "-cp", f"{JARS}/*:{CLASSES}", main, *map(str, args)])


def run(main, *args, **env):
    env = {k: str(v) for k, v in env.items() if v is not None}
    print("[measure]", *[f"{k}={v}" for k, v in env.items()], main, *args,
          file=sys.stderr, flush=True)
    return subprocess.run(java_cmd(main, *args),
                          env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), **env)).returncode


def bench(sf, a, out):
    return run("graft.Bench", SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_BENCH_ONLY=a.only,
               SPARK_GRAFT_BENCH_REPS=a.reps, SPARK_GRAFT_BENCH_OUT=out)


def sweep(a):
    sf = Path(a.sf).resolve()
    replica = REPO / "target" / f"{sf.name}_x{a.factor}"
    if not replica.exists():
        rc = run("graft.tools.ScaleUp", sf, replica, a.factor)
        if rc:
            return rc
    legs = REPO / "target" / "measure"
    legs.mkdir(parents=True, exist_ok=True)
    base, big = legs / "bench_base.json", legs / f"bench_x{a.factor}.json"
    for leg in (base, big):
        leg.unlink(missing_ok=True)
    rc = max(bench(sf, a, base), bench(replica, a, big))
    if not (base.exists() and big.exists()):
        return rc or 1
    out = assemble(json.loads(base.read_text()), json.loads(big.read_text()), a.factor)
    Path(a.out or "bench_scaling.json").write_text(json.dumps(out, indent=1) + "\n")
    return rc


def cluster(a):
    return run("graft.tools.ClusterCheck", "bench", a.sf, a.out or "bench_cluster.json",
               SPARK_GRAFT_CLUSTER_QUERIES=a.only, SPARK_GRAFT_BENCH_REPS=a.reps)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("cmd", choices=["bench", "sweep", "cluster"])
    ap.add_argument("--sf", required=True, help="scale-factor directory of parquet tables")
    ap.add_argument("--only", help="comma-separated query names (default: the main's own set)")
    ap.add_argument("--reps", type=int, help="passes per query (default: the main's own)")
    ap.add_argument("--factor", type=int, default=100, help="sweep: replica factor")
    ap.add_argument("--out", help="output JSON")
    a = ap.parse_args()
    if a.cmd == "bench":
        rc = bench(a.sf, a, a.out)
    elif a.cmd == "sweep":
        rc = sweep(a)
    else:
        rc = cluster(a)
    sys.exit(rc)


if __name__ == "__main__":
    main()
