#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_mix|layout_rw \\
        --seed N --seconds S --trace 0|1

Builds the engine from ``src/main`` (cached in ``.bench_build``),
generates the seeded inputs (cached in ``.bench_work/inputs``), runs the
workload in a fresh JVM whose scratch files all stay under
``.bench_work/runs``, checks every answer, prints one line per metric
and, last, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics of ``BENCHMARK.json`` when
``--trace 0``, its per-layer metrics when ``--trace 1``. Every metric
of the run, with its samples, is kept in ``.bench_work/results``, and a
traced run's spans beside it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("query_mix", "layout_rw")
INJECTS = ("none", "flip_letter_byte", "alter_query_row", "skip_model_update")
# The layout's op latencies are nearly all fixed cost (a 10x larger
# table moved a cycle by about 12 %), so it uses the small table set.
TABLE_SIZE = {("query_mix", "full"): "mix", ("query_mix", "tiny"): "tiny",
              ("layout_rw", "full"): "tiny", ("layout_rw", "tiny"): "tiny"}
KEEP_INPUTS = 40
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    """The jars of ``$SPARK_HOME``, else of a Spark distribution whose
    ``bin/`` on PATH holds ``spark-submit``. They must include the Scala
    compiler, which builds the engine."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-sql_*.jar")) and any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BenchError("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def tree_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for p in sorted(x for x in d.rglob("*") if x.is_file()):
            h.update(str(p.relative_to(d)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def _stopped(signum, _frame):
    raise BenchError(f"stopped by signal {signum}")


def java(jars, args, cwd, log, timeout, extra_cp=()):
    cp = os.pathsep.join([str(p) for p in extra_cp] + [str(jars / "*")])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           f"-Djava.io.tmpdir={cwd / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", cp, *args]
    (cwd / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        # A signal to the runner must not leave the JVM behind.
        old = {sig: signal.signal(sig, _stopped) for sig in (signal.SIGTERM, signal.SIGINT)}
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            raise BenchError(f"java timed out after {timeout:.0f}s (log: {log})")
        finally:
            for sig, h in old.items():
                signal.signal(sig, h)
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def compile_scala(jars, name, srcs, resources, cp, deadline):
    """Compile ``srcs`` into ``.bench_build/<name>``, once per content."""
    out = BUILD / name
    if (out / "done").exists():
        return out / "classes"
    tmp = BUILD / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    files = sorted(str(p) for s in srcs for p in s.rglob("*.scala"))
    if not files:
        raise BenchError(f"no Scala sources under {', '.join(map(str, srcs))}")
    args = ["scala.tools.nsc.Main", "-nowarn", "-d", str(tmp / "classes"),
            "-cp", os.pathsep.join([str(p) for p in cp] + [str(jars / "*")]), *files]
    rc = java(jars, args, tmp, tmp / "compile.log", deadline - time.time())
    if rc != 0:
        raise BenchError(f"compiling {name} failed:\n" + (tmp / "compile.log").read_text()[-4000:])
    if resources and resources.is_dir():
        shutil.copytree(resources, tmp / "classes", dirs_exist_ok=True)
    shutil.rmtree(tmp / "tmp", ignore_errors=True)
    (tmp / "done").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out / "classes"


def build(jars, t0):
    """Compile the engine and the harness and export the queries' oracle
    SQL, once per source content. A run that builds gets 880 s in all,
    one whose build is cached 170 s. Returns the program's hash, the
    classpath, the oracle SQL file and the run's deadline."""
    src = ROOT / "src" / "main"
    if not (src / "scala").is_dir():
        raise BenchError(f"program sources not found: {src / 'scala'}")
    ph = tree_hash(src)
    bh = tree_hash(HERE / "scala")
    sql = BUILD / f"bench-{bh}-{ph}" / "oracle_sql.json"
    deadline = t0 + (170 if sql.exists() else 880)
    program = compile_scala(jars, f"program-{ph}", [src / "scala"], src / "resources", [], deadline)
    bench = compile_scala(jars, f"bench-{bh}-{ph}", [HERE / "scala"], None, [program], deadline)
    cp = [bench, program]
    if not sql.exists():
        run_dir = WORK / "runs" / f"oracle-{os.getpid()}"
        run_dir.mkdir(parents=True, exist_ok=True)
        rc = java(jars, ["perfbench.Main", "--oracle-sql", str(sql) + ".tmp"], run_dir,
                  run_dir / "jvm.log", deadline - time.time(), cp)
        shutil.rmtree(run_dir, ignore_errors=True)
        if rc != 0:
            raise BenchError("exporting the oracle SQL failed")
        os.replace(str(sql) + ".tmp", sql)
    return ph, cp, sql, deadline


def inputs(workload, size, seed, ph, sql):
    """The seeded inputs of one run; generated once per (workload, size, seed)."""
    import gen
    d = WORK / "inputs" / f"{workload}-{size}-s{seed}"
    if not (d / "done").exists():
        shutil.rmtree(d, ignore_errors=True)
        if workload == "query_mix":
            gen.corpus(d / "corpus", size, seed)
        gen.tables(d / "tables", TABLE_SIZE[workload, size], seed)
        (d / "done").write_text("ok\n")
    os.utime(d / "done")
    if workload == "query_mix":
        exp = d / f"expected-{ph}"
        if not (exp / "done").exists():
            import oracle
            oracle.expected(json.loads(sql.read_text()), d / "tables", exp)
            (exp / "done").write_text("ok\n")
    prune(WORK / "inputs", KEEP_INPUTS)
    return d


def prune(parent, keep):
    dirs = sorted((p for p in parent.iterdir() if (p / "done").exists()),
                  key=lambda p: (p / "done").stat().st_mtime, reverse=True)
    for p in dirs[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def describe(name, m):
    hi = "".join(f", {k}={m[k]:.6g}" for k in m if k.startswith("p"))
    value = "nan" if m["value"] is None else f"{m['value']:.6g}"
    return f"{name} = {value} {m['unit']} (n={m['n']}{hi})"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test")
    ap.add_argument("--inject", choices=INJECTS, default="none",
                    help="corrupt one answer, to prove the checks fire (self-test)")
    a = ap.parse_args(argv)
    t0 = time.time()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    try:
        jars = spark_jars()
        ph, cp, sql, deadline = build(jars, t0)
        t_build = time.time()
        inp = inputs(a.workload, a.size, a.seed, ph, sql)
        t_inputs = time.time()
        run_dir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        result = run_dir / "result.json"
        try:
            rc = java(jars, ["perfbench.Main", a.workload, str(inp), str(run_dir), str(a.seed),
                             str(a.seconds), str(a.trace), a.inject, str(result)],
                      run_dir, run_dir / "jvm.log", deadline - time.time(), cp)
            if rc != 0 or not result.exists():
                raise BenchError(f"{a.workload} run failed (exit {rc}):\n"
                                 + (run_dir / "jvm.log").read_text(errors="replace")[-6000:])
            res = json.loads(result.read_text())
            t_jvm = time.time()
            if a.workload == "query_mix":
                import oracle
                if a.inject == "alter_query_row":
                    oracle.alter_one_row(run_dir / "check" / "q01_pricing_summary")
                bad = oracle.compare(run_dir / "check", inp / f"expected-{ph}")
                res["attempted"] += len(bad)
                res["failed"] += sum(1 for ok in bad.values() if not ok)
                res["failures"] += [f"{q}: differs from the oracle" for q, ok in bad.items() if not ok]
            results = WORK / "results"
            results.mkdir(parents=True, exist_ok=True)
            stem = f"{a.workload}-s{a.seed}-t{a.trace}"
            (results / f"{stem}.metrics.json").write_text(json.dumps(res, indent=1))
            if a.trace:
                shutil.copy(run_dir / "spans.jsonl", results / f"{stem}.spans.jsonl")
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    metrics = res["metrics"]
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"wall={time.time() - t0:.1f}s (build {t_build - t0:.1f}s, inputs "
          f"{t_inputs - t_build:.1f}s, jvm {t_jvm - t_inputs:.1f}s, checks {time.time() - t_jvm:.1f}s)")
    for name, m in metrics.items():
        print(describe(name, m))
    fail_frac = res["failed"] / max(1, res["attempted"])
    print(f"fail_frac = {fail_frac:.6g} share (n={res['attempted']})")
    for f in res["failures"]:
        print(f"FAILED: {f}")
    missing = [m["name"] for m in wanted if metrics.get(m["name"], {}).get("value") is None]
    if missing:
        print(f"perfbench: run did not produce {', '.join(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
