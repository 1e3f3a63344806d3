"""Runs one workload of the benchmark and prints its result as the last
line of standard output (see perfbench/README.md):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

It builds the program from source on first use, starts one JVM on
local[<cores>], and checks the metrics it prints against BENCHMARK.json.
Exit codes: 0 ok, 1 a correctness check failed, 2 no build, 3 timeout,
4 the JVM failed or printed no valid result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(code, msg):
    print(msg, file=sys.stderr)
    sys.exit(code)


def result_line(stdout):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                res = json.loads(line)
            except ValueError:
                return None
            return res if set(res) == {"correct", "attempted", "failed", "metrics"} else None
    return None


# The per-layer metrics each workload's traced run must report, by name
# prefix. A per-layer metric no prefix of the workload names belongs to a
# layer the workload never calls, and is reported as 0.
OWNED = {
    "etl_batch": ("etl.small", "etl.medium", "etl.chunked", "etl.Extract.",
                  "etl.Pipeline.processFile.", "etl.Pipeline.processChunkedFile.",
                  "etl.Sinks.", "etl.Result."),
    "api_mixed": ("api.", "server.", "etl.Pipeline.process.", "etl.Result."),
    "state_cycle": ("state.", "ext."),
}
OWNED_BY_ALL = ("error_share", "spark.", "self_ms.", "traced.")


def conform(res, spec, workload, traced):
    """Checks the metric names and units against BENCHMARK.json, and that
    the run reported every metric it owns."""
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    owned = OWNED[workload] + OWNED_BY_ALL if traced else ("",)
    got = res["metrics"]
    unknown = sorted(set(got) - set(declared))
    wrong = sorted(k for k in got if k in declared and got[k]["unit"] != declared[k])
    missing = sorted(k for k in set(declared) - set(got) if k.startswith(owned))
    if unknown or wrong or missing:
        fail(4, f"metrics do not match BENCHMARK.json: unknown {unknown}, "
                f"wrong unit {wrong}, missing {missing}")
    res["metrics"] = {k: got.get(k, {"value": 0, "unit": u}) for k, u in declared.items()}
    return res


def _terminate(signum, _frame):
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        out, classpath = build.build(ROOT)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(2, f"build failed: {e}")

    cpus = len(os.sched_getaffinity(0))
    base = ROOT / ".bench_build"
    work = base / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    log = base / f"last-{a.workload}.log"
    env = dict(os.environ, SPARK_MASTER=f"local[{cpus}]", SPARK_GRAFT_CPUS=str(cpus))
    # Class-data sharing: the first run of a workload in a build archives
    # the classes it loaded; later runs map the archive instead of loading
    # and verifying those classes again, which takes seconds per JVM start.
    # The archive is written at JVM exit, after the result is printed.
    archive = out / f"{a.workload}.jsa"
    dumping = out / f"{a.workload}.jsa.{os.getpid()}"
    cds = (f"-XX:SharedArchiveFile={archive}" if archive.exists()
           else f"-XX:ArchiveClassesAtExit={dumping}")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", cds,
            "-Xlog:disable", "-Xlog:all=warning:stderr"] +
           [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS] +
           [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", f"-Dderby.system.home={work}",
            "-cp", classpath, "perfbench.PerfMain",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)])
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(3, f"{a.workload} did not finish in {TIMEOUT_S} s; see {log}")
    finally:
        # also on a timeout or a SIGTERM: stop the JVM and everything it
        # started, and wait for it, before removing its files
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if proc is not None and proc.returncode == 0 and dumping.exists():
            dumping.rename(archive)
        dumping.unlink(missing_ok=True)

    res = result_line(stdout)
    if res is None:
        tail = log.read_text()[-3000:]
        fail(4, f"{a.workload} exited {proc.returncode} without a result:\n{tail}")
    res = conform(res, spec, a.workload, a.trace == 1)
    for k, m in res["metrics"].items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(res))
    if proc.returncode != 0 or not res["correct"]:
        fail(1, f"{a.workload}: {res['failed']} of {res['attempted']} operations failed "
                f"their checks; see {log}")


if __name__ == "__main__":
    main()
