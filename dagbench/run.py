"""Benchmark entry point: one run of one workload.

    python3 dagbench/run.py --workload dag_small --seed 1 --seconds 12 --trace 0

Run from the repository root. The run makes its inputs from ``--seed`` in
a scratch directory of its own (``.dagbench_runs/<pid>``, deleted at
exit), starts ``worker.py`` in a fresh process, and prints detail lines
and then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` traces the same passes, adds one
untraced pass, and reports the per-layer metrics and the tracing overhead.
See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("dag_small", "registry_mix")
DAG_SUBMISSIONS = 10_000
RUN_DEADLINE_S = 170          # a run ends (or fails) within this

def _procs_in_groups(groups: set[int]) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) in groups and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _mem_mb(pids: list[int]) -> float:
    """Resident memory of ``pids``. Python processes are forked from one
    daemon and share pages, so each counts by PSS (shared pages split among
    the processes that map them). The JVM counts by its resident set from
    ``statm``: summing its PSS walks its page tables, about 20 ms with its
    memory map locked, which would slow the run being measured. A child the
    JVM has spawned but that has not yet called exec still shares the JVM's
    memory (and runs its java executable), so it is not counted again."""
    page_kb = os.sysconf("SC_PAGE_SIZE") / 1024
    exe = {}
    for pid in pids:
        try:
            exe[pid] = os.readlink(f"/proc/{pid}/exe")
        except OSError:
            pass
    total_kb = 0.0
    for pid, path in exe.items():
        try:
            if os.path.basename(path) == "java":
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                if exe.get(ppid) == path:
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    total_kb += int(fh.read().split()[1]) * page_kb
            else:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total_kb += next(int(line.split()[1]) for line in fh
                                     if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


def _steal() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


class Children:
    """Every process the run starts, each in its own process group. The
    run is a child subreaper, so a worker's orphans come back to it and
    ``stop_all`` can wait for each one to end."""

    def __init__(self) -> None:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)          # PR_SET_CHILD_SUBREAPER
        self.groups: set[int] = set()

    def start(self, cmd: list[str], env: dict, cwd: str, log: str,
              stdin=None) -> subprocess.Popen:
        with open(log, "ab") as out:
            p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=out,
                                 stderr=subprocess.STDOUT, stdin=stdin,
                                 start_new_session=True)
        self.groups.add(p.pid)
        return p

    def stop_all(self) -> None:
        deadline = time.time() + 20
        sig = signal.SIGTERM
        while True:
            left = _procs_in_groups(self.groups)
            self._reap()
            if not left:
                return
            if time.time() > deadline - 10:
                sig = signal.SIGKILL
            if time.time() > deadline:
                raise RuntimeError(f"processes still running: {left}")
            for g in self.groups:
                try:
                    os.killpg(g, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)

    @staticmethod
    def _reap() -> None:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return


class Run:
    def __init__(self, args, root: str) -> None:
        self.args, self.root = args, root
        self.scratch = os.path.join(root, ".dagbench_runs", str(os.getpid()))
        self.children = Children()
        self.details: list[str] = []
        self.deadline = time.time() + (RUN_DEADLINE_S if not args.ramp else 3600)

    def env(self) -> dict:
        env = dict(os.environ)
        ncpu = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as fh:
            mem_gib = int(fh.readline().split()[1]) / 2**20
        path = [self.root, HERE, os.path.join(self.root, "tools")]
        env.update({
            "TMPDIR": self.path("tmp"), "SPARK_LOCAL_DIRS": self.path("local"),
            "PESKAS_ANN_BASELINE_CACHE": self.path("ann_cache"),
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gib // 4)))}g",
            "PYSPARK_PYTHON": sys.executable, "PYTHONHASHSEED": "0",
            "PYTHONPATH": os.pathsep.join(path + [env.get("PYTHONPATH", "")]),
        })
        env.pop("OMP_NUM_THREADS", None)
        self.details.append(f"cpus={ncpu} driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} "
                            f"mem_gib={mem_gib:.1f}")
        return env

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        wl = self.args.workload
        if wl == "dag_small":
            import landing

            expect = landing.generate(self.path("data"), DAG_SUBMISSIONS,
                                      self.args.seed)
            err = landing.selftest(self.path("selftest"))
            if err:
                raise RuntimeError(f"landing generator self-test: {err}")
            shutil.rmtree(self.path("selftest"))
        else:
            import tables

            expect = {"rows": tables.generate(self.path("data"), self.args.seed)}
        with open(self.path("expect.json"), "w") as fh:
            json.dump(expect, fh)
        self.details.append(f"inputs: {time.perf_counter() - t0:.2f} s to generate "
                            f"(not in setup_s)")

    def ready_at(self, tag: str) -> float:
        """Wall clock at which worker ``tag`` had its session ready."""
        ready = self.path(f"ready_{tag}")
        while not os.path.exists(ready):
            if time.time() > self.deadline:
                raise RuntimeError("session not ready before the run's deadline")
            time.sleep(0.05)
        with open(ready) as fh:
            return float(fh.read())

    def measure(self, env: dict, tag: str, trace: bool) -> dict:
        """One worker, started with nothing else running; returns its result
        with ``setup_s`` (process start to ready session) and
        ``peak_rss_mb`` added."""
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", self.args.workload, "--scratch", self.scratch,
               "--tag", tag]
        if trace:
            cmd.append("--trace")
        if self.args.ramp:
            cmd += ["--passes", str(self.args.ramp)]
        t_start = time.time()
        main = self.children.start(cmd, env, self.scratch, self.path(f"log_{tag}"),
                                   stdin=subprocess.PIPE)
        setup_s = self.ready_at(tag) - t_start

        peak = [0.0]
        done = threading.Event()

        def sample() -> None:
            while not done.is_set():
                if not os.path.exists(self.path("checking")):
                    peak[0] = max(peak[0], _mem_mb(_procs_in_groups({main.pid})))
                done.wait(0.25)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            main.stdin.write(b"go\n")
            main.stdin.close()
            main.wait(timeout=max(1.0, self.deadline - time.time()))
        finally:
            done.set()
            sampler.join()
        if main.returncode != 0:
            with open(self.path(f"log_{tag}"), errors="replace") as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"worker exited {main.returncode}:\n{tail}")
        with open(self.path(f"result_{tag}.json")) as fh:
            res = json.load(fh)
        res["setup_s"] = setup_s
        res["peak_rss_mb"] = peak[0]
        return res

    def oracle_check(self) -> tuple[int, list[str]]:
        """Compare each query's first-pass rows, kept by the worker, with
        its DuckDB oracle, using the repository's exact comparator."""
        import duckdb
        import pandas as pd

        sys.path.insert(0, os.path.join(self.root, "tools"))
        import oracle_check

        names = sorted(f[:-4] for f in os.listdir(self.path("rows")) if f.endswith(".pkl"))
        wrong = []
        con = duckdb.connect()
        try:
            for t in oracle_check.TABLES:
                if os.path.exists(self.path("data", f"{t}.parquet")):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.path('data', t + '.parquet')}'")
            for name in names:
                with open(self.path("rows", f"{name}.sql")) as fh:
                    want = oracle_check.normalize(con.sql(fh.read()).df())
                got = pd.read_pickle(self.path("rows", f"{name}.pkl"))
                ok, msg = oracle_check.values_match(got, want)
                if not ok:
                    wrong.append(f"{name}: oracle mismatch: {msg[:300]}")
        finally:
            con.close()
        return len(names), wrong

    def execute(self) -> dict:
        os.makedirs(self.scratch)
        for d in ("tmp", "local", "ann_cache", "jvmtmp", "warehouse", "rows"):
            os.makedirs(self.path(d))
        env = self.env()
        steal0 = _steal()
        self.make_inputs()
        if self.args.trace:
            res = self.measure(env, "traced", True)
            overhead = res["pass_s"] - res["untraced_pass_s"]
            self.details.append(
                f"tracing overhead: traced pass_s {res['pass_s']:.3f} s - untraced "
                f"pass_s {res['untraced_pass_s']:.3f} s = {overhead:+.3f} s (the "
                f"untraced pass runs next, one step further along the warm-up "
                f"ramp, so this is an upper bound)")
            for i, lp in enumerate(res["layer_passes"]):
                self.details.append(f"traced pass {i}: " + json.dumps(
                    {k: round(v, 4) for k, v in sorted(lp.items())}))
        else:
            res = self.measure(env, "main", False)
        self.children.stop_all()
        checked, wrong = self.oracle_check()
        res["attempted"] += checked
        res["failed"] += len(wrong)
        res["errors"] += wrong
        steal1 = _steal()
        self.details.append(f"setup: {res['setup_s']:.3f} s (one session, started alone)")
        order = "cold, warm-up, measured" + (", untraced" if self.args.trace else "")
        self.details.append(
            "passes: " + ", ".join(f"{t:.3f}" for t in res["pass_times"])
            + f" s ({order}; pass_s = median of {res['n_measured']})")
        d_total = max(1, steal1[1] - steal0[1])
        self.details.append(f"host steal share {100 * (steal1[0] - steal0[0]) / d_total:.2f}% "
                            f"(recorded only; timings are raw wall time)")
        return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0,
                    help="the measured window the fixed pass counts were "
                         "sized for; the counts, not the clock, end a run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ramp", type=int, default=0,
                    help="record the warm-up ramp: run this many passes "
                         "instead of the fixed schedule (not a benchmark run)")
    args = ap.parse_args()

    def terminate(signum, frame):
        raise SystemExit(128 + signum)     # run the clean-up in ``finally``

    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGHUP, terminate)
    root = os.getcwd()
    for need in ("BENCHMARK.json", "peskas_malawi_data_pipeline_spark/cli.py",
                 "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"dagbench: {need} not found under {root}; run from the "
                  f"repository root", file=sys.stderr)
            return 2

    run = Run(args, root)
    try:
        res = run.execute()
    except Exception as e:  # noqa: BLE001 - report the failure, print no result
        print(f"dagbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
        for log in sorted(glob.glob(run.path("log_*"))):
            with open(log, errors="replace") as fh:
                lines = [x for x in fh if x.startswith("dagbench:") or "Error" in x]
            print(f"--- {os.path.basename(log)}\n" + "".join(lines[-40:]), file=sys.stderr)
        return 1
    finally:
        try:
            run.children.stop_all()
        finally:
            shutil.rmtree(run.scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run.scratch))
            except OSError:
                pass

    for line in run.details + [f"error: {e}" for e in res["errors"]]:
        print(line)
    # BENCHMARK.json names every metric; per-layer ones a workload does
    # not reach read zero
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0 and not res["errors"],
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
