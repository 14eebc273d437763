#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload proxy_tiny|lake_bulk --seed N \
        --seconds S --trace 0|1 --proxy-rate R --lake-rate R

Run it from the root of a checkout. It compiles the program from
`src/main` and the benchmark from `perfbench/src` with the Scala compiler
that ships with Spark (into `$CARGO_TARGET_DIR`, default `.bench_build`,
the program's classes reused while its sources are unchanged, the
benchmark's while both are), then runs `perfbench.Driver`,
which launches the system under test as a separate process and drives it.

It prints a table of every metric named in BENCHMARK.json (the
end-to-end metrics, or with `--trace 1` the per-layer metrics) and, as the
last line, one JSON object: correct, attempted, failed and metrics.
It exits non-zero without that line when the program cannot be built or
the run cannot measure every metric.
"""

import argparse
import hashlib
import json
import math
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
HERE = pathlib.Path(__file__).resolve().parent
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jars, which also hold the Scala compiler: $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        fail("no Spark jars found: set SPARK_HOME to a Spark 4 installation")
    return pathlib.Path(home) / "jars"


def java():
    j = shutil.which("java")
    if not j:
        fail("java not found on PATH")
    return j


def scalac(sources, classpath, dest, tmp):
    dest.mkdir(parents=True)
    argfile = dest.parent / f"{dest.name}.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(dest), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {len(sources)} sources into {dest.name} failed")


def build(build_dir, program):
    """Compiles the program and the benchmark; returns their class dirs.
    Each is kept under a hash of what it is compiled from, so changing only
    the benchmark does not recompile the program."""
    main = ROOT / "src" / "main"
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file())
    bench = sorted((HERE / "src").rglob("*.scala"))

    def digest(files, salt=""):
        h = hashlib.sha256(salt.encode())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
        return h.hexdigest()[:16]

    jars = f"{spark_jars()}/*"
    prog_key = digest(program + resources)
    prog = build_dir / f"program-{prog_key}"
    bench_out = build_dir / f"bench-{digest(bench, prog_key)}"

    def fresh(out, compile_into):
        if (out / "complete").exists():
            return
        kind = out.name.split("-")[0]
        for old in build_dir.glob(f"{kind}-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp = build_dir / f"building-{kind}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "tmp").mkdir(parents=True)
        compile_into(tmp / "classes", tmp / "tmp")
        (tmp / "complete").write_text("")
        tmp.rename(out)
        # write the new class files out now, not while the run measures
        os.sync()

    def compile_program(dest, tmp):
        scalac(program, jars, dest, tmp)
        for r in resources:
            d = dest / r.relative_to(main / "resources")
            d.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, d)

    fresh(prog, compile_program)
    fresh(bench_out, lambda dest, tmp: scalac(
        bench, f"{prog / 'classes'}{os.pathsep}{jars}", dest, tmp))
    return prog / "classes", bench_out / "classes"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--proxy-rate", type=float, required=True)
    ap.add_argument("--lake-rate", type=float, required=True)
    a = ap.parse_args()
    rates = {"proxy_tiny": a.proxy_rate, "lake_bulk": a.lake_rate}
    if a.workload not in rates:
        fail(f"unknown workload {a.workload!r}; choose from {sorted(rates)}")

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found: run from the root of a checkout")
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    sources = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not sources:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    program, bench = build(build_dir, sources)
    work = build_dir / "runs"
    shutil.rmtree(work, ignore_errors=True)
    (build_dir / "tmp").mkdir(exist_ok=True)
    jars = f"{spark_jars()}/*"
    cmd = [java(), "-Xmx768m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir / 'tmp'}",
           "-cp", os.pathsep.join([str(bench), str(program), jars]), "perfbench.Driver",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--rate", str(rates[a.workload]),
           "--work", str(work),
           "--system-cp", os.pathsep.join([str(bench), str(program), jars]),
           "--log4j", str(HERE / "log4j2.properties"),
           "--fingerprints", str(HERE / "query_fingerprints.tsv")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.terminate()
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        fail(f"run did not finish within {DEADLINE_S} s")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"driver exited with code {proc.returncode}")
    for line in lines[:-1]:
        print(line)
    res = json.loads(lines[-1])
    values = res["values"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"{'workload':28s} {a.workload} (seed {a.seed}, {a.seconds} s, trace {a.trace})")
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:14.4f} {m['unit']}")
    print(f"{'fail_ratio':28s} {res['failed'] / max(1, res['attempted']):14.6f} "
          f"({res['failed']} of {res['attempted']})")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
