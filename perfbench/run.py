#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload cut_job_docs --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from the seed
(under ``.bench_build/perfbench/work/``) before the JVM starts, then starts
one Spark session on ``local[<nproc>]``, sets up and warms the workload,
and runs ops one at a time until ``--seconds`` of op time have passed,
checking every op's output untimed.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced ops and reports the
per-layer metrics (see ``perfbench/README.md``).  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
# a run starts no new op this long after the process started (exit limit 180 s)
DEADLINE_S = 130.0
# untraced timed ops per run at least; with --trace 1 also MIN_OPS - 1 traced ones
MIN_OPS = 3
END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "recall": "ratio",
}
# Printed and recorded by every run but kept out of the result line: on a
# shared 4-core host their ten-seed spread reached 0.31 of the median, over
# the largest bound a metric may have (see README.md, "Steadiness").
OP_UNITS = {
    "op_s": "s",
    "throughput_rows_per_s": "1/s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    return ap.parse_args(argv)


def pin_environment(work: Path) -> int:
    """Run on every core of this host with private scratch dirs inside the
    checkout, emptied first; Python workers import the engine through
    PYTHONPATH.  The driver heap is the engine's own default."""
    cores = len(os.sched_getaffinity(0))
    local = work / "spark-local"
    tmp = work / "tmp"
    shutil.rmtree(work, ignore_errors=True)
    for d in (local, tmp, work / "inputs"):
        d.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM: no perf-data file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return cores


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "osm_cut_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None  # an exported checkout: the source digest identifies it
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class RssSampler:
    """Peak resident memory of the Spark JVM plus every process below it
    (the Python workers), sampled every 100 ms while running."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += children.get(pid, [])
        return out

    def cpu_s(self) -> float:
        """User + system CPU seconds of the process tree so far (live
        processes only)."""
        ticks = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += int(fields[11]) + int(fields[12])
            except (OSError, IndexError, ValueError):
                continue
        return ticks / os.sysconf("SC_CLK_TCK")

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
            except (OSError, IndexError, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def driver_heap(cores: int) -> str:
    """The heap ``session.get_session`` gives the driver: ``SPARK_DRIVER_MEM``
    or, by default, one GB per core within [8, 32]."""
    return os.environ.get("SPARK_DRIVER_MEM", f"{max(8, min(32, cores))}g")


def start_spark(tmp: Path, cores: int):
    from osm_cut_spark.session import get_session

    return get_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # initial heap = the engine's max heap: heap growth otherwise
            # moves peak RSS by up to 50% between identical runs.  No
            # perf-data file: the JVM would write it to /tmp, outside the
            # checkout.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{driver_heap(cores)} -XX:-UsePerfData",
        },
    )


def _start_time(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    still had to exit.  A worker is known by pid and start time, so a
    recycled pid is never waited on."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = {pid: _start_time(pid) for pid in sampler.tree() if pid != proc.pid}
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # our own child: killing it is safe
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        _start_time(pid) == st for pid, st in workers.items()
    ):
        time.sleep(0.1)


def _steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args: argparse.Namespace) -> dict:
    from perfbench.trace import LAYER_UNITS, Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    work = BUILD / "work"
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    n_docs = max(100, round(cls.DOCS * args.scale))
    wl = cls(work / "inputs", work, args.seed, n_docs)
    t_gen = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t_gen
    spark = start_spark(Path(os.environ["TMPDIR"]), cores)
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    try:
        sc = spark.sparkContext
        wl.setup(spark)
        tracer = Tracer(spark) if args.trace else None

        failures: list[str] = []
        ops: list[dict] = []  # one entry per op: wall, traced, layers, check

        def one_op(traced: bool, warmup: bool = False) -> float:
            """Run, trace and check one op; returns when its timing ended."""
            persisted0 = sc._jsc.getPersistentRDDs().size()
            if traced:
                tracer.install(spark)
                tracer.begin_op()
            cpu0, steal0 = sampler.cpu_s(), _steal_s()
            t0 = time.perf_counter()
            res = None
            rec = {"traced": traced, "warmup": warmup, "failed": False}
            try:
                res = wl.op(tracer if traced else None)
            except Exception:  # an op that raises is a failed op
                failures.append(traceback.format_exc())
                rec["failed"] = True
            t1 = time.perf_counter()
            rec["wall_s"] = t1 - t0
            rec["cpu_s"] = sampler.cpu_s() - cpu0
            rec["host_steal_s"] = _steal_s() - steal0
            if traced:
                tracer.uninstall()
                trace_rec = tracer.end_op(t0, t1)
                rec["layers"] = layer_metrics(trace_rec, cores)
                rec["unattributed"] = trace_rec.unattributed
                rec["spans"] = [[s.name, s.jobs, round(s.t1 - s.t0, 4)] for s in trace_rec.spans]
            # the op's own cleanup has run; what stays persisted leaked
            rec["leaked_persists"] = sc._jsc.getPersistentRDDs().size() - persisted0
            spark.catalog.clearCache()
            if res is not None:
                t_check = time.perf_counter()
                try:
                    rec["check"] = wl.check(res)
                except Exception:  # a check that cannot run fails the op
                    failures.append(traceback.format_exc())
                    rec["failed"] = True
                else:
                    if rec["check"]["problems"]:
                        failures += rec["check"]["problems"]
                        rec["failed"] = True
                finally:
                    wl.cleanup(res)
                    rec["check_s"] = time.perf_counter() - t_check
            ops.append(rec)
            return t1

        # set-up ends with the warm-up op; its check runs untimed after it
        setup_s = one_op(traced=False, warmup=True) - T_START - gen_s
        sampler.start()
        measured = 0.0
        while True:
            timed = [o for o in ops if not o["warmup"]]
            n_traced = sum(o["traced"] for o in timed)
            need_more = (len(timed) - n_traced < MIN_OPS
                         or args.trace and n_traced < MIN_OPS - 1)
            if (not need_more and measured >= args.seconds
                    or time.perf_counter() - T_START > DEADLINE_S):
                break
            one_op(traced=bool(args.trace) and len(timed) % 2 == 1)
            measured += ops[-1]["wall_s"]
        peak_rss_mb = sampler.stop()

        timed = [o for o in ops if not o["warmup"]]
        plain = [o["wall_s"] for o in timed if not o["traced"]]
        traced = [o for o in timed if o["traced"]]
        op_s = median(plain)
        checks = [o["check"] for o in ops if "check" in o]
        fingerprint = checks[0]["fingerprint"] if checks else None
        for o in timed:
            fp = o.get("check", {}).get("fingerprint")
            if fp is not None and fp != fingerprint:  # the warm-up's comes first
                failures.append(f"op output fingerprint {fp} differs from {fingerprint}")
                o["failed"] = True
        if args.trace:
            units = LAYER_UNITS
            metrics_val = dict.fromkeys(LAYER_UNITS, 0.0)
            for name in traced[0]["layers"] if traced else ():
                metrics_val[name] = median([o["layers"][name] for o in traced])
            metrics_val["session.trace_overhead_s"] = median([o["wall_s"] for o in traced]) - op_s
            metrics_val["session.leaked_persists"] = median([o["leaked_persists"] for o in timed])
            if checks:
                metrics_val.update(wl.layer_counts(checks[-1]))
        else:
            units = END_TO_END_UNITS
            metrics_val = {
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss_mb,
                "recall": median([c["recall"] for c in checks]),
            }
        attempted = len(ops)
        failed = sum(o["failed"] for o in ops)
        record = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "environment": {
                "nproc": cores,
                "spark": spark.version,
                "pyspark": __import__("pyspark").__version__,
                "java": sc._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0],
                "driver_memory": spark.conf.get("spark.driver.memory"),
                "commit": git_commit(),
                "source_digest": source_digest(),
            },
            "input_rows": wl.input_rows,
            "gen_s": gen_s,
            "run_s": time.perf_counter() - T_START,
            "op_count": len(plain),
            "traced_op_count": len(traced),
            "op_walls_s": [o["wall_s"] for o in ops],
            "error_rate": failed / attempted,
            "fingerprint": fingerprint,
            "ops": ops,
            "failures": failures,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics_val.items()},
            "op_metrics": {
                k: {"value": float(v), "unit": OP_UNITS[k]}
                for k, v in (("op_s", op_s),
                             ("throughput_rows_per_s", wl.input_rows / op_s if op_s else 0.0))
            },
        }
        return {
            "record": record,
            "result": {
                "correct": not failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": record["metrics"],
            },
        }
    finally:
        stop_spark(spark, sampler)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "osm_cut_spark" / "__init__.py").is_file():
        print(f"perfbench: no osm_cut_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = BUILD / "work"
    pin_environment(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out = run(args)
    rec = out["record"]
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    path = results / f"{rec['workload']}_seed{rec['seed']}_trace{rec['trace']}.json"
    path.write_text(json.dumps(rec, indent=1, default=str))
    for f in rec["failures"]:
        print(f, file=sys.stderr)
    env = rec["environment"]
    print(f"# {rec['workload']} seed={rec['seed']} nproc={env['nproc']} spark={env['spark']} "
          f"java={env['java']} input_rows={rec['input_rows']} gen_s={rec['gen_s']:.3f} "
          f"ops={rec['op_count']} traced_ops={rec['traced_op_count']} "
          f"error_rate={rec['error_rate']:.3f} record={path.relative_to(ROOT)}")
    for name, m in rec["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, m in rec["op_metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (from the median of {rec['op_count']} ops; "
              f"not in the result line)")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
