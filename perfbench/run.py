"""Serving benchmark for the graft engine.

    python3 perfbench/run.py --workload dashboard|ingest_serial|ingest|rollup --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the program and the benchmark from
source (perfbench/build.py), generates the workload's inputs from the seed,
runs it, checks every answer, prints a report line and, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 a separate in-process traced replay gives the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dashboard", "ingest_serial", "ingest", "rollup")
# a fixed heap: the JVM's adaptive heap sizing otherwise makes GC work, and
# with it pass and request times, differ from run to run
HEAP = ["-Xms2g", "-Xmx2g"]
WORK_ROOT = os.path.join(os.getcwd(), ".bench_work")


T0 = time.monotonic()


def log(msg):
    print(f"[{time.monotonic() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def use_work_dir(path):
    """Point every JVM's temporary files and Spark's scratch space into
    `path` (inherited through the environment), so a run writes only inside
    the checkout and removing the directory removes all it wrote."""
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")


def java(cp, *args):
    return ["java", *HEAP, *build.JVM_FLAGS, "-cp", cp, *args]


def run_json(cmd, timeout):
    """Run a benchmark JVM; its last stdout line is a JSON object."""
    log(" ".join(cmd[cmd.index("perfbench.Main"):]))
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=timeout)
    if r.returncode != 0:
        log(r.stderr[-4000:])
        raise SystemExit(f"{cmd[-5:]} exited with {r.returncode}")
    for line in r.stderr.splitlines():
        if line.startswith("[perfbench"):
            log(line)
    return json.loads(r.stdout.strip().splitlines()[-1])


def dir_bytes(*dirs):
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise SystemExit("no VmHWM for the server")


class Server:
    """graft.tools.Serve in its own JVM over the generated store."""

    def __init__(self, cp, data, meta, logpath, users):
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        self.log = open(logpath, "w")
        t0 = time.monotonic()
        self.proc = subprocess.Popen(
            java(cp, "graft.tools.Serve", data, meta, "0", "0", "0", "0", "--users=" + users),
            stdout=subprocess.PIPE, stderr=self.log, text=True, env=env, start_new_session=True)
        line = self.proc.stdout.readline()
        if not line.startswith("graft serving:"):
            self.stop()
            raise SystemExit(f"server did not start: {line!r}")
        ports = dict(kv.split("=") for kv in line.split(":", 1)[1].split())
        self.http, self.tcp = int(ports["http"]), int(ports["tcp"])
        while True:
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{self.http}/version", timeout=5) as r:
                    if r.status == 200:
                        break
            except OSError:
                pass
            if time.monotonic() - t0 > 120:
                self.stop()
                raise SystemExit("server never answered /version")
            time.sleep(0.05)
        self.start_s = time.monotonic() - t0
        log(f"server up in {self.start_s:.1f}s")

    def stop(self):
        # the server holds nothing the run still needs: kill it outright
        # and wait for it (the work directory is removed afterwards)
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        self.log.close()


def untraced(cp, workload, seed, seconds, work):
    """Run the workload untraced; returns its report (every end-to-end
    metric by its long name, sample counts, input properties, failures)."""
    if workload == "rollup":
        r = run_json(java(cp, "perfbench.Main", "rollup", str(seed), str(seconds), work, "0"), 170)
        r["setup_s"] = r["write_s"]
        r["store_bytes_per_point"] = dir_bytes(r["data"], r["meta"]) / r["stored_rows"]
        return r
    s = run_json(java(cp, "perfbench.Main", "setup", workload, str(seed), work), 120)
    srv = Server(cp, s["data"], s["meta"], os.path.join(work, "serve.log"), s["users"])
    try:
        if workload == "dashboard":
            r = run_json(java(cp, "perfbench.Main", workload, str(seed), str(seconds), str(srv.http)), 150)
        else:
            r = run_json(java(cp, "perfbench.Main", workload, str(seed), str(seconds), str(srv.http),
                              str(srv.tcp), s["data"]), 170)
        r["rss_peak_mb"] = vm_hwm_mb(srv.proc.pid)
    finally:
        srv.stop()
    r["setup_s"] = s["write_s"] + srv.start_s
    r["server_start_s"] = srv.start_s
    r["store_bytes_per_point"] = dir_bytes(s["data"], s["meta"]) / r["stored_rows"]
    return r


def end_to_end(workload, r):
    """The BENCHMARK.json end-to-end metrics, from a report."""
    if workload == "rollup":
        latency, rate = r["rollup_s"] * 1000, r["points_per_s"]
    elif workload == "dashboard":
        latency, rate = r["query_p50_ms"], r["queries_per_s"]
    else:
        latency, rate = r["query_p50_ms"], r["ingest_points_per_s"]
    return {"setup_s": r["setup_s"], "latency_p50_ms": latency, "throughput_per_s": rate,
            "bytes_per_point": r["store_bytes_per_point"]}


def main():
    # a SIGTERM unwinds like an error, so the server and the work directory
    # are cleaned up on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    log("built")
    if a.selftest:
        work = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
        use_work_dir(work)
        try:
            print(run_json(java(cp, "perfbench.Main", "selftest"), 120))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return
    if not a.workload:
        ap.error("--workload is required")
    bench = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    use_work_dir(work)
    try:
        if a.trace == 0:
            r = untraced(cp, a.workload, a.seed, a.seconds, work)
            e2e = end_to_end(a.workload, r)
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        else:
            mode = ["rollup"] if a.workload == "rollup" else ["trace-" + a.workload]
            tail = [work, "1"] if a.workload == "rollup" else [work]
            r = run_json(java(cp, "perfbench.Main", *mode, str(a.seed), str(a.seconds), *tail), 170)
            e2e = r["per_layer"]
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            # the spans outlive the run's work directory
            traces = os.path.join(WORK_ROOT, "traces")
            os.makedirs(traces, exist_ok=True)
            r["spans"] = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
            shutil.move(os.path.join(work, "spans.jsonl"), r["spans"])
        r["failed_frac"] = r["failed"] / max(r["attempted"], 1)
        report = {k: v for k, v in r.items() if k not in ("data", "meta", "per_layer")}
        print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "report": report},
                         sort_keys=True))
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
        print(json.dumps({"correct": r["failed"] == 0, "attempted": int(r["attempted"]),
                          "failed": int(r["failed"]), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    main()
