#!/usr/bin/env python3
"""graft loop benchmark: one run of one workload.

    python3 loopbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine and
the benchmark from source (sbt, offline; loopbench/build.sbt depends on the
engine's build); later runs reuse the build while the sources are
unchanged. Prints every metric with its unit and sample count, the
correctness checks, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Exits non-zero on a
correctness mismatch or when the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
SELFCHECK_TIMEOUT_S = 60


def die(msg, code=2):
    print(f"loopbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for r in [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        if isinstance(sys.exc_info()[1], subprocess.TimeoutExpired):
            return -9
        raise


def build():
    """Compile engine + benchmark once per source state; returns the
    classpath and the engine's JVM options."""
    stamp = source_stamp()
    cp_file, opts_file, stamp_file = (BUILD / "classpath.txt", BUILD / "jvm-options.txt",
                                      BUILD / "stamp")
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), opts_file.read_text().split("\n")
    stamp_file.unlink(missing_ok=True)
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true "
                       f"-Dsbt.server.autostart=false -Djava.io.tmpdir={BUILD / 'tmp'} "
                       "-XX:-UsePerfData -Xmx2g")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        # benchLaunch (loopbench/build.sbt) writes classpath.txt and jvm-options.txt
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "benchLaunch"],
                       cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not cp_file.exists() or not opts_file.exists():
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-30:]) + "\n")
        die(f"build failed (rc={rc}); see {log}", 3)
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip(), opts_file.read_text().split("\n")


def run_jvm(cp, jvm_opts, args, work, trace):
    out = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the engine's JVM options, then the benchmark's (a later -Xmx wins):
    # a fixed heap and young generation, as G1 otherwise sizes them by its
    # pause goals and the resident set of a run swings by a third;
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java"] + [o for o in jvm_opts if o]
           + ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", cp, "graft.loopbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(trace),
              "--work", str(work / "run"), "--out", str(out),
              "--inject-failures", "1" if args.inject_failures else "0"])
    log = work / "jvm.log"
    with open(log, "w") as f:
        rc = run_child(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if rc != 0 or not out.exists():
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-40:]) + "\n")
        die(f"benchmark JVM failed (rc={rc})", 4)
    run = json.loads(out.read_text())
    if run["selfcheck"]:
        selfcheck(run, work)
    return run


def selfcheck(run, work):
    """Check the dumped analytics pass against the DuckDB oracle with the
    engine's tools/selfcheck.py; a failing query counts as failed."""
    sc = run["selfcheck"]
    log = work / "selfcheck.log"
    with open(log, "w") as f:
        rc = run_child([sys.executable, str(ROOT / "tools" / "selfcheck.py"), sc["out"], sc["sf"]],
                       cwd=ROOT, stdout=f, stderr=subprocess.STDOUT, timeout=SELFCHECK_TIMEOUT_S)
    lines = log.read_text(errors="replace").splitlines()
    passed = sum(l.startswith("PASS ") for l in lines)
    bad = [l for l in lines if l.startswith("FAIL ")]
    ok = rc == 0 and passed == sc["queries"] and not bad
    detail = f"{passed} of {sc['queries']} queries pass" + (f"; {'; '.join(bad)}" if bad else "")
    if not ok and not bad:
        detail += f" (rc={rc}: {' | '.join(lines[-3:])})"
    run["checks"].append({"name": "analytics: dumped pass equals the DuckDB oracle "
                                  "(tools/selfcheck.py)", "ok": ok, "detail": detail})
    run["attempted"] += sc["queries"]
    if not ok:
        run["failed"] += max(1, sc["queries"] - passed)
        run["correct"] = False


def result(spec, run, trace):
    """The result line: every end-to-end metric, or every per-layer one."""
    metrics = {}
    if not trace:
        got = run["end_to_end"]
        for m in spec["end_to_end"]:
            if got.get(m["name"], {}).get("value") is None:
                die(f"the run did not measure {m['name']}", 5)
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
    else:
        for m in spec["per_layer"]:
            # a layer the workload never calls reads 0
            v = run["per_layer"].get(m["name"], {}).get("value")
            metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    return {"correct": run["correct"], "attempted": max(1, run["attempted"]),
            "failed": run["failed"], "metrics": metrics}


def print_human(workload, run, res):
    print(f"# loopbench {workload}")
    for name, m in run["end_to_end"].items():
        print(f"{name:<20} {m['value']:>14.6g} {m['unit']:<5} samples={m['samples']}")
    print(f"{'failed_ratio':<20} {res['failed'] / res['attempted']:>14.6g} ratio "
          f"samples={res['attempted']} ({res['failed']} failed)")
    for k, v in run["notes"].items():
        print(f"  {k} = {v}")
    for name, m in run["per_layer"].items():
        print(f"  layer {name:<40} {m['value']:>14.6g} {m['unit']} samples={m['samples']}")
    for layer, (n, total, own) in sorted(span_times(run["spans"]).items()):
        print(f"  spans {layer:<10} {n:>5} calls {total:>10.3f} s {own:>10.3f} s self")
    for c in run["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")


def span_times(spans):
    """Per layer: span count, total time, and self time (a span's time
    minus the part its children cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, end = 0, None
        for a, b in sorted(kids.get(s["id"], [])):
            if end is None or a > end:
                covered, end = covered + (b - a), b
            elif b > end:
                covered, end = covered + (b - end), b
        n, total, own = out.get(s["layer"], (0, 0.0, 0.0))
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        out[s["layer"]] = (n + 1, total + dur, own + dur - covered / 1e9)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failures", action="store_true",
                    help="self-test: extra malformed payloads / a throwing panel")
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_child kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources under {ROOT}; run from the root of a graft checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        die(f"unknown workload {args.workload!r}; one of {names}")

    cp, jvm_opts = build()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run = run_jvm(cp, jvm_opts, args, work, args.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = result(spec, run, args.trace)
    print_human(args.workload, run, res)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
