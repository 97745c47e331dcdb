#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload pipe|spark --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
`src/main/scala` and the harness from `perfbench/src` with the Scala
compiler shipped in Spark's jars (into `$CARGO_TARGET_DIR`, default
`.bench_build`); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed under `.bench_work/`.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of the
workload with `--trace 0`, the per-layer metrics of every workload with
`--trace 1`. The exit code is 0 only when every output check passed.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# The process also times `graft.Cli` cold starts (`cli_cold_ms` in its
# result file) and checks their output; the time is not reported, since
# from one run to the next it moved by more than any bound allows.
END_TO_END = ["setup_s", "pass_s", "op_geomean_ms", "cpu_s", "heap_retained_mb"]
HEAP = "2g"
QUERY_ENTRIES = 7
# The declared queries read fixed tables, so their timings do not move
# with the seed.
TABLES_SEED = 42
RUN_LIMIT_S = 170  # every run ends within 180 s, build excluded
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory the sbt build compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    with open(f"{root}/build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        fail("build.sbt names no unmanagedBase and SPARK_HOME is not set")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources(root):
    prog = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob(f"{root}/src/main/resources/**/*", recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    return prog, res, bench


def build(root, jars):
    """Compiles program and harness once per source state; returns the
    two class directories."""
    prog, res, bench = sources(root)
    if not prog:
        fail(f"no program sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for p in prog + res + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       h.hexdigest()[:16])
    pdir, bdir = f"{out}/program", f"{out}/bench"
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(f"{out}/ok"):
            return pdir, bdir
        for d in (pdir, bdir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                  "scala.tools.nsc.Main", "-nowarn"]
        t0 = time.time()
        for cp, dest, files in ((f"{jars}/*", pdir, prog),
                                (f"{pdir}:{jars}/*", bdir, bench)):
            r = subprocess.run(scalac + ["-d", dest, "-cp", cp] + files,
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True)
            if r.returncode != 0:
                print(r.stdout[-4000:], file=sys.stderr)
                fail(f"compile failed into {dest}")
        for p in res:
            dest = os.path.join(pdir, os.path.relpath(p, f"{root}/src/main/resources"))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(p, dest)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        open(f"{out}/ok", "w").close()
    return pdir, bdir


def oracle_check(root, tables, verify):
    """Compares each entry's output with its DuckDB oracle through
    scripts/check_oracle.py. Two corrupted copies of one entry's output
    go along, one value changed by one bit and one row dropped, and the
    compare must report both. Returns the errors."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    with open(f"{verify}/oracle_sql.json") as f:
        sql = json.load(f)
    errors = [] if len(sql) == QUERY_ENTRIES else \
        [f"oracle SQL for {len(sql)} entries, want {QUERY_ENTRIES}"]
    name = next(n for n in sorted(sql) if pq.read_table(f"{verify}/{n}").num_rows >= 2)
    t = pq.read_table(f"{verify}/{name}")
    col = t.column_names[0]
    v = t.column(col).to_pylist()
    v[0] = (v[0] ^ 1) if isinstance(v[0], int) else \
        (v[0][:-1] + chr(ord(v[0][-1]) ^ 1)) if isinstance(v[0], str) else v[0] + 1
    corrupt = {"selftest_flipped": t.set_column(0, col, pa.array(v, t.schema.field(col).type)),
               "selftest_dropped": t.slice(0, t.num_rows - 1)}
    for k, bad in corrupt.items():
        os.makedirs(f"{verify}/{k}")
        pq.write_table(bad, f"{verify}/{k}/part-0.parquet")
        sql[k] = sql[name]
    with open(f"{verify}/oracle_sql.json", "w") as f:
        json.dump(sql, f)
    r = subprocess.run([sys.executable, f"{root}/scripts/check_oracle.py", tables, verify],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=60)
    ok = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("ok ")}
    fails = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
    errors += [l for l in fails if not l.startswith("FAIL selftest_")]
    errors += [f"self-test: oracle compare missed the {k[9:]} output of {name}"
               for k in corrupt if not any(l.startswith(f"FAIL {k}:") for l in fails)]
    errors += [f"oracle compare gave no verdict for {k}" for k in sql
               if k not in corrupt and k not in ok and not any(l.startswith(f"FAIL {k}:") for l in fails)]
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipe", "spark"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(f"{root}/scripts/check_oracle.py"):
        fail("run from the repository root (scripts/check_oracle.py not found)")
    jars = spark_jars(root)
    if not glob.glob(f"{jars}/scala-compiler-*.jar"):
        fail(f"no Scala compiler in {jars}")
    pdir, bdir = build(root, jars)

    start = time.time()
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        tables = f"{base}/tables-{TABLES_SEED}"
        if (a.workload == "spark" or a.trace) and not os.path.isdir(tables):
            import gen_tables
            os.makedirs(f"{work}/tables")
            gen_tables.write(TABLES_SEED, f"{work}/tables")
            try:
                os.rename(f"{work}/tables", tables)
            except OSError:  # made meanwhile by another run
                pass
        scala_lib = glob.glob(f"{jars}/scala-library-*.jar")[0]
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ParallelGCThreads=2",
                "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dgraft.system.dir={work}/graft"] + ADD_OPENS +
               ["-cp", f"{bdir}:{pdir}:{jars}/*", "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--tables", tables,
                "--cli-cp", f"{pdir}:{scala_lib}:{jars}/*",
                "--result", f"{work}/result.json",
                "--trace-out", f"{base}/trace-{a.workload}-{a.seed}.json"])
        with open(f"{work}/jvm.log", "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(f"{work}/result.json"):
            with open(f"{work}/jvm.log") as log:
                text = log.read()
            at = text.find('Exception in thread "main"')
            print(text[at:at + 6000] if at >= 0 else text[-6000:], file=sys.stderr)
            fail(f"benchmark process ended with {code}")
        shutil.copyfile(f"{work}/jvm.log", f"{base}/{a.workload}-{a.seed}-trace{a.trace}.log")
        with open(f"{work}/result.json") as f:
            res = json.load(f)

        errors = list(res["check_errors"])
        if a.workload == "spark" or a.trace:
            errors += oracle_check(root, tables, f"{work}/verify")
        names = END_TO_END if not a.trace else list(res["metrics"])
        metrics = {}
        for k in names:
            if res["metrics"].get(k, {}).get("value") is None:
                errors.append(f"metric {k} was not measured")
            else:
                metrics[k] = res["metrics"][k]

        for e in res["op_errors"]:
            print(f"perfbench: failed op: {e}", file=sys.stderr)
        for e in errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
              f"{res['attempted']} ops attempted, {res['failed']} failed, "
              f"{len(errors)} check errors")
        for k, m in metrics.items():
            print(f"  {k:44s} {m['value']:.6g} {m['unit']}")
        correct = not errors
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
