"""Benchmark entry point.

    python3 perfbench/run.py --workload <cron_ingest|report_serving|corpus_curation>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Pins the environment (Spark cores, driver
heap, private local/tmp/warehouse directories under ``perfbench-run/``),
makes sure the shared build exists (the ``report_serving`` warehouse, built
by the program's load path once per checkout into ``perfbench-build/``),
starts ``worker.py`` in its own process group, samples the peak RSS of the
worker's process tree (python + JVM) from outside, and prints the result.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Per-run spans are kept in ``perfbench-out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cron_ingest", "report_serving", "corpus_curation")
MAX_CORES = 2
DRIVER_MEM = "2g"
TIMEOUT_S = 170
CLK_TCK = os.sysconf("SC_CLK_TCK")
BUILD_TIMEOUT_S = 600
# the CPU-time metrics, reported scaled by ``host_scale``
CPU_METRICS = ("setup_s", "op_cpu_p50_s", "op_cpu_tail_s", "op_cpu_mean_s")
# the host probe: loop length (~1.5 ms of CPU) and the probe time the
# scaled CPU seconds refer to
PROBE_LOOPS = 20_000
PROBE_REF_S = 0.0015
# thread names (as /proc truncates them) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

# the workload-specific names of the end-to-end metrics; a metric without
# one keeps its own name on that workload
ALIASES = {
    "cron_ingest": {"op_p50_s": "load_cycle_p50_s", "op_tail_s": "load_cycle_tail_s",
                    "items_per_s": "ingest_lines_per_s",
                    "stored_bytes_per_input_byte": "warehouse_bytes_per_log_byte"},
    "report_serving": {"op_p50_s": "report_p50_s", "op_tail_s": "report_tail_s",
                       "stored_bytes_per_input_byte": "warehouse_bytes_per_log_byte"},
    "corpus_curation": {"op_p50_s": "curation_request_p50_s",
                        "op_tail_s": "curation_request_tail_s",
                        "items_per_s": "curation_docs_per_s"},
}
UNITS = {"setup_s": "s", "setup_wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "op_cpu_p50_s": "s", "op_cpu_tail_s": "s", "op_cpu_mean_s": "s", "items_per_s": "1/s",
         "stored_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}


def load_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)


def pinned_env(run_dir: str) -> dict[str, str]:
    cores = min(MAX_CORES, os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "spark-warehouse"),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
        PYTHONPATH=os.getcwd(),
        # a fixed set of JIT compiler threads: one that exits would take its
        # CPU time out of the per-thread sum that tree_cpu_s subtracts
        PYSPARK_SUBMIT_ARGS=("--driver-java-options '-XX:-UseDynamicNumberOfCompilerThreads "
                             f"-Djava.io.tmpdir={tmp}' pyspark-shell"),
    )
    for d in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    return env


def proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, CPU ticks used by the process and
    its reaped children) for every process, from ``/proc/<pid>/stat``."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
            f = tail.split()
            # utime, stime, cutime, cstime
            table[int(name)] = (int(f[1]), head.split("(", 1)[1], sum(map(int, f[11:15])))
        except (OSError, ValueError, IndexError):
            continue
    return table


def _tree(table: dict, root: int, same_comm: bool) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c in children.get(pid, [])
                    if same_comm or table[c][1] != table[pid][1])
    return out


def tree_pids(root: int) -> list[int]:
    """The processes of ``root``'s tree that own their memory.

    A child with its parent's command name has forked but not exec'd (the
    JVM spawning a helper, PySpark's daemon forking a worker): it shares
    its parent's pages, and counting its RSS would count them twice."""
    return _tree(proc_table(), root, same_comm=False)


def jit_ticks(pid: int) -> int:
    """CPU ticks used so far by the JIT compiler threads of ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
            if head.split("(", 1)[1].startswith(JIT_THREADS):
                f = tail.split()
                total += int(f[11]) + int(f[12])  # utime, stime
        except (OSError, ValueError, IndexError):
            continue
    return total


def tree_cpu_s(root: int, work_only: bool = False) -> float:
    """User + system CPU seconds used so far by ``root``'s whole tree (the
    worker, the JVM, PySpark's workers), exited children included.  With
    ``work_only`` the JVM's JIT compiler threads are left out: they keep
    compiling for many operations after start-up, and how much they do in
    any one operation is what made per-operation CPU time noisy."""
    table = proc_table()
    pids = [p for p in _tree(table, root, same_comm=True) if p in table]
    ticks = sum(table[p][2] for p in pids)
    if work_only:
        ticks -= sum(jit_ticks(p) for p in pids if table[p][1] == "java")
    return ticks / CLK_TCK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for the worker's process group (the JVM
    outlives the worker by its shutdown hooks), then kill what is left and
    wait for that."""
    end = time.monotonic() + grace_s
    while group_alive(pgid) and time.monotonic() < end:
        time.sleep(0.05)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 5
        while group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.05)


def build_key(checkout: str, size: str) -> str:
    """Digest of what the shared build depends on: the program's sources,
    the generator and the build sizes."""
    h = hashlib.sha256(size.encode())
    files = [os.path.join(HERE, n) for n in ("gen.py", "workloads.py", "worker.py")]
    for dirpath, dirs, names in os.walk(os.path.join(checkout, "realparse_spark")):
        dirs.sort()
        files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, checkout).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def probe_s() -> float:
    """CPU seconds this thread takes for a fixed piece of pure-Python work:
    how fast the host runs code at this moment (see ``host_scale``)."""
    t = time.thread_time()
    x = 0
    for k in range(PROBE_LOOPS):
        x ^= k * k
    return time.thread_time() - t


def host_scale(probes: list[float]) -> float:
    """Factor that turns CPU seconds measured during a run into CPU seconds
    on a host whose probe takes ``PROBE_REF_S``.

    Other guests on the same machine slow every instruction (shared cores
    and caches) without the time showing as steal: over runs of the same
    code, cron's work CPU per cycle moved by 21 % (quartile spread) and
    followed the median probe of its run with a correlation of 0.89.  CPU
    seconds divided by that median moved by 7 %."""
    return PROBE_REF_S / statistics.median(probes)


def run_worker(cmd: list[str], checkout: str, env: dict,
               timeout_s: float) -> tuple[int, float, list[float]]:
    """Run the worker in its own process group; (exit code, peak RSS in MB
    of its process tree, host probes taken every 0.1 s while it ran).
    Every process of the group is stopped before this returns."""
    peak = 0.0
    probes: list[float] = []
    # worker stdout goes to our stderr: our stdout ends with the result
    proc = subprocess.Popen(cmd, cwd=checkout, env=env, stdout=sys.stderr,
                            start_new_session=True)
    grace_s = 0.0  # an interrupted or timed-out worker is stopped at once
    try:
        deadline = time.monotonic() + timeout_s
        while proc.poll() is None:
            peak = max(peak, rss_mb(tree_pids(proc.pid)))
            probes.append(probe_s())
            if time.monotonic() > deadline:
                print("perfbench: worker timed out", file=sys.stderr)
                return 1, peak, probes
            time.sleep(0.1)
        grace_s = 10.0
        return proc.returncode, peak, probes
    finally:
        stop_group(proc.pid, grace_s)
        proc.wait()


def ensure_build(checkout: str, size: str, env: dict, run_dir: str) -> str | None:
    """The shared build's directory, building it first if it is missing or
    stale.  None when the build fails."""
    root = os.path.join(checkout, "perfbench-build")
    name = f"{size}-{build_key(checkout, size)}"
    final = os.path.join(root, name)
    if os.path.exists(os.path.join(final, "build.json")):
        return final
    os.makedirs(root, exist_ok=True)
    partial = os.path.join(root, f"{size}.partial")
    for n in os.listdir(root):  # stale builds of this size
        if n.startswith(f"{size}-") or n == os.path.basename(partial):
            shutil.rmtree(os.path.join(root, n))
    os.makedirs(partial)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", "build",
           "--seed", "0", "--seconds", "0", "--size", size, "--root", run_dir,
           "--out", "", "--build", partial]
    code, _, _ = run_worker(cmd, checkout, env, BUILD_TIMEOUT_S)
    if code != 0:
        print(f"perfbench: build exited with {code}", file=sys.stderr)
        shutil.rmtree(partial, ignore_errors=True)
        return None
    os.rename(partial, final)
    return final


def host_info() -> dict:
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"nproc": os.cpu_count(), "loadavg_1m": load1}


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench")
    args = p.parse_args(argv)
    # a stop request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "realparse_spark")):
        print("perfbench: run from a checkout of the program (no realparse_spark/ here)",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(checkout, "perfbench-run")
    out_dir = os.path.join(checkout, "perfbench-out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    try:
        env = pinned_env(run_dir)
        build_dir = ""
        if args.workload == "report_serving":
            build_dir = ensure_build(checkout, args.size, env, os.path.join(run_dir, "build-data"))
            if build_dir is None:
                return 1
        tag = f"{args.workload}-{args.seed}-t{args.trace}"
        result_path = os.path.join(run_dir, "result.json")
        host = host_info()
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size, "--root", os.path.join(run_dir, "data"),
               "--out", result_path, "--spans", os.path.join(out_dir, f"spans-{tag}.jsonl"),
               "--build", build_dir]
        started = time.monotonic()
        ticks0 = cpu_ticks()
        code, peak, probes = run_worker(cmd, checkout, env, TIMEOUT_S)
        ticks1 = cpu_ticks()
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    total, steal = (b - a for a, b in zip(ticks0, ticks1))
    # CPU time the hypervisor gave to other guests: noise from outside
    host["steal_pct"] = 100.0 * steal / total if total else 0.0
    scale = host_scale(probes)
    host["probe_ms"] = 1000 * statistics.median(probes)
    host["host_scale"] = scale
    host["raw_cpu_s"] = {k: res["e2e"][k] for k in CPU_METRICS}
    info = res["info"] | host | {"workload": args.workload, "seed": args.seed,
                                  "wall_s": time.monotonic() - started}
    spec = load_spec()
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
    else:
        e2e = res["e2e"] | {"peak_rss_mb": peak} | {
            k: res["e2e"][k] * scale for k in CPU_METRICS}
        # the bounded metrics; the wall-clock latencies are printed below
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        named = {ALIASES[args.workload].get(k, k): (v, UNITS[k]) for k, v in e2e.items()}
        named["failed_ops_ratio"] = (res["failed"] / res["attempted"], "ratio")
        print(f"# {args.workload} seed={args.seed}: " + ", ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in named.items()))
        print(f"# tail = p{info['tail_percentile']:.1f} of {info['samples']} samples")
    print("# run: " + json.dumps(info, sort_keys=True))
    for f in res.get("failures", []):
        print("# FAILED: " + f.strip().replace("\n", " | ")[:2000])
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
