#!/usr/bin/env python3
"""Benchmark entry point: one named workload, one seed, one process.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 6 --trace 0

Run it from the repository root.  It starts the engine's SparkSession
on ``local[<cores>]`` in a fresh JVM, generates the workload's inputs
from the seed and runs the workload's warm-up passes (the first one is
also verified, untimed): that cold set-up is ``setup_s``.  Then it
runs timed passes in a closed loop with one client for ``--seconds``.
Everything it writes goes under a fresh run root in ``.perfbench/`` of
the working directory, removed at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits
the timed phase into an untraced half and a traced half (Spark event
log and a streaming listener on), and prints the per-layer metrics
and the tracing overhead.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from tracing import EventLog, Spans, StreamProgress  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS, LlmCuration, Runner, StarSql, StreamMicrobatch,
)

CALL_TIMEOUT_S = 60.0
HARD_LIMIT_S = 170.0
DRIVER_MEM = "2g"
YOUNG_MEM = "256m"
LAYERS = ("io", "plans", "operators", "streaming", "audit", "pipeline")
COMMON = ("self_s", "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_bytes",
          "busy_ratio", "driver_gap_s")

END_TO_END = {
    "wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
    "peak_mem_mb": "MB", "setup_s": "s",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, the same set for
    every workload (a layer a workload does not load reads 0)."""
    units = {"self_s": "s", "jobs": "count", "tasks": "count",
             "task_cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
             "busy_ratio": "ratio", "driver_gap_s": "s"}
    out = {f"{la}.{m}": units[m] for la in LAYERS for m in COMMON}
    out.update({"session.start_s": "s", "session.warmup_s": "s"})
    for m, u in (("scan_files", "count"), ("scan_rows", "count"),
                 ("scan_bytes", "bytes"), ("scan_tasks", "count"),
                 ("bytes_written", "bytes"), ("files_written", "count"),
                 ("stored_bytes_ratio", "ratio")):
        out[f"io.{m}"] = u
    for c in ("read_csv", "write_csv", "add_utf8_bom", "csv_to_parquet",
              "save_warehouse_table"):
        out[f"io.{c}_s"] = "s"
    for q in StarSql.queries:
        out[f"plans.{q}_s"] = "s"
    out["io.read_table_s"] = "s"
    for g in (*LlmCuration.gates, "clean_cnae"):
        out[f"operators.{g}_s"] = "s"
    out.update({"operators.doc_scans": "count", "operators.python_s": "s",
                "operators.python_bytes": "bytes",
                "operators.checkpoint_bytes": "bytes"})
    for q in StreamMicrobatch.queries:
        out[f"streaming.{q}_s"] = "s"
    out.update({"streaming.batches": "count",
                "streaming.empty_batches": "count",
                "streaming.batch_p50_s": "s", "streaming.commit_s": "s",
                "streaming.state_rows": "count",
                "streaming.state_bytes": "bytes"})
    out.update({"audit.audit_layer_s": "s", "pipeline.run_s": "s",
                "pipeline.source_scans": "count",
                "trace.overhead_s": "s", "trace.pass_gap_s": "s"})
    return out


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    def __init__(self, workload, seed: int, seconds: float, traced: bool,
                 run_root: str) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.root = run_root
        self.spark = None
        self.jvm_pid: int | None = None

    # -- session ---------------------------------------------------------
    def _start(self, tag: str, event_log: str | None = None):
        from dados_publicos_etl_spark.session import get_session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.root,
                                                    f"warehouse{tag}"),
            # a fixed, pre-touched heap, which PeakMemory subtracts, and
            # a fixed young generation, so that collections, after
            # which PeakMemory reads the live heap, come every fraction
            # of a second rather than every few seconds
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM} -XX:+AlwaysPreTouch "
                "-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session(app_name="perfbench",
                                 master=f"local[{_cores()}]",
                                 extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self) -> None:
        """Stop Spark, the JVM and every process under it."""
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as ex:  # teardown keeps going
                print(f"spark.stop failed: {ex}", file=sys.stderr)
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            try:
                gw.shutdown()
            except Exception as ex:  # teardown keeps going
                print(f"gateway shutdown failed: {ex}", file=sys.stderr)
            pids = procstat.tree(proc.pid)
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - escalate to a kill below
                proc.kill()
                proc.wait(timeout=10)
            _reap(pids)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- passes ----------------------------------------------------------
    def _warm_up(self, runner, inp, tag: str, passes: int) -> None:
        """``passes`` untimed passes; only the first one is verified."""
        verify = runner.verify
        for i in range(passes):
            pdir = os.path.join(self.root, f"pass-{tag}-{i}")
            self.w.run_pass(runner, inp, pdir)
            shutil.rmtree(pdir, ignore_errors=True)
            runner.verify = False
        runner.verify = verify

    def _cpu_seconds(self) -> float:
        """User + system CPU so far of the JVM's process tree and of
        this process, whose Python deserializes results and runs the
        driver-side parts of the engine's calls."""
        t = os.times()
        return (procstat.cpu_seconds(procstat.tree(self.jvm_pid))
                + t.user + t.system)

    def _timed(self, runner, inp, tag: str, seconds: float):
        # a full collection before the timed phase and after each pass,
        # outside the timed region, clears the old generation of dead
        # objects, so the live heap PeakMemory reads after the next
        # young collection is what the program holds, not garbage
        # promoted earlier (which read 17-88 MB from run to run)
        system = self.spark._jvm.java.lang.System
        system.gc()
        peak = procstat.PeakMemory(self.jvm_pid, _java_heap(self.spark))
        walls, cpus, stats, pass_ids = [], [], [], []
        peak.start()
        t_stop = time.perf_counter() + seconds
        i = 0
        try:
            while True:
                pdir = os.path.join(self.root, f"pass-{tag}{i}")
                c0 = self._cpu_seconds()
                t0 = time.perf_counter()
                with runner.spans.span(f"pass-{tag}{i}", "bench") as s:
                    self.w.run_pass(runner, inp, pdir)
                walls.append(time.perf_counter() - t0)
                cpus.append(self._cpu_seconds() - c0)
                system.gc()
                _log(f"pass {tag}{i}: {walls[-1]:.2f}s cpu {cpus[-1]:.2f}s "
                     + " ".join(
                         f"{runner.spans.spans[c].name.split('.', 1)[1]}="
                         f"{runner.spans.spans[c].duration:.2f}"
                         for c in s.children))
                pass_ids.append(s.id)
                stats.append(self.w.pass_stats(inp, pdir))
                shutil.rmtree(pdir, ignore_errors=True)
                i += 1
                if time.perf_counter() >= t_stop:
                    break
        finally:
            peak.stop()
        return walls, cpus, peak.peak, stats, pass_ids

    def run(self) -> dict:
        import oracle_harness

        spans = Spans(f"{self.w.name}-{self.seed}-{os.getpid()}")
        runner = Runner(None, spans, oracle_harness, CALL_TIMEOUT_S)
        # the cold set-up: JVM and session start, input generation and
        # the warm-up passes, less the untimed verification
        t0 = time.perf_counter()
        runner.spark = self._start("")
        start_s = time.perf_counter() - t0
        inp = self.w.make_inputs(os.path.join(self.root, "in"), self.seed)
        runner.verify = True
        w0 = time.perf_counter()
        with spans.span("warmup", "session"):
            self._warm_up(runner, inp, "setup", self.w.warmup_passes)
        verify_s = runner.verify_s
        warmup_s = time.perf_counter() - w0 - verify_s
        setup_s = time.perf_counter() - t0 - verify_s
        _log(f"set-up: {setup_s:.2f}s (session {start_s:.2f}s, warm-up "
             f"{warmup_s:.2f}s, verification {verify_s:.2f}s)")
        runner.verify = False

        seconds = self.seconds / 2 if self.traced else self.seconds
        walls, cpus, peak, stats, _ids = self._timed(runner, inp, "", seconds)
        out = {
            "walls": walls, "cpus": cpus, "peak_mem": peak, "stats": stats,
            "setup_s": setup_s, "warmup_s": warmup_s, "start_s": start_s,
            "runner": runner, "inp": inp,
        }
        if not self.traced:
            return out

        log_dir = os.path.join(self.root, "eventlog")
        progress = StreamProgress()
        spark = self._start("-traced", event_log=log_dir)
        runner.spark = spark
        spans.tag = lambda sid: spark.sparkContext.setLocalProperty(
            "perfbench.span", sid)
        spark.streams.addListener(progress.listener())
        tinp = self.w.make_inputs(os.path.join(self.root, "in-traced"),
                                  self.seed)
        # one pass fills the new context's caches and feed directories;
        # the JIT is warm already
        with spans.span("warmup-traced", "session"):
            self._warm_up(runner, tinp, "setup-traced", 1)
        time.sleep(0.5)
        progress.progress.clear()
        twalls, _c, _p, tstats, tids = self._timed(runner, tinp, "t",
                                                   seconds)
        time.sleep(1.0)  # let the last progress events arrive
        spans.tag = None
        self.spark.stop()
        self.spark = None
        ev = EventLog(spans, source_marker=tinp.get("raw", "\0"))
        ev.parse(log_dir)
        out.update(traced_walls=twalls, traced_ids=tids, events=ev,
                   stream=progress.summary(), traced_stats=tstats)
        return out


def _java_heap(spark):
    """A sampler of the driver JVM's heap for ``PeakMemory``: its
    committed size (fixed, read once) and the bytes still in use after
    the latest collection, summed over the heap pools."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    pools = [p for p in mf.getMemoryPoolMXBeans()
             if p.getType().toString() == "Heap memory"
             and p.getCollectionUsage() is not None]

    def sample() -> tuple[int, int]:
        return committed, sum(p.getCollectionUsage().getUsed()
                              for p in pools)

    return sample


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    """Wait until every pid in ``pids`` is gone; SIGKILL stragglers."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(w, res) -> dict:
    wall = _median(res["walls"])
    return {
        "wall_s": wall,
        "rows_per_s": w.input_rows(res["inp"]) / wall,
        "cpu_s": _median(res["cpus"]),
        "peak_mem_mb": res["peak_mem"] / 2**20,
        "setup_s": res["setup_s"],
    }


def per_layer(w, res) -> tuple[dict, list[str]]:
    """Roll the traced passes up into the per-layer metrics; also
    return the passes whose call spans do not account for their wall."""
    spans, ev = res["runner"].spans, res["events"]
    names = per_layer_names()
    m = {k: 0.0 for k in names}
    n = len(res["traced_ids"])
    bad = []
    by_layer: dict[str, list] = {la: [] for la in LAYERS}
    gap_total = 0.0
    for pid in res["traced_ids"]:
        p = spans.spans[pid]
        calls = [spans.spans[c] for c in p.children]
        gap = p.duration - sum(c.duration for c in calls)
        gap_total += gap
        if gap < -1e-3 or gap > max(0.05 * p.duration, 0.05):
            bad.append(f"{p.name}: wall {p.duration:.3f}s, call spans "
                       f"{p.duration - gap:.3f}s")
        for c in calls:
            by_layer[c.layer].append(c)
            key = f"{c.name}_s"
            if key in m:
                m[key] += c.duration / n
    cores = _cores()
    total = {f: 0.0 for f in (
        "scan_files", "scan_rows", "scan_bytes", "scan_tasks",
        "bytes_written", "files_written", "python_s", "python_bytes",
        "doc_scans")}
    for la, calls in by_layer.items():
        self_s = sum(c.duration for c in calls)
        jobs = tasks = run = cpu = gc = shuf = src = 0
        for c in calls:
            sc = ev.by_span.get(c.id)
            if sc is None:
                continue
            jobs += sc.jobs
            tasks += sc.tasks
            run += sc.run_s
            cpu += sc.task_cpu_s
            gc += sc.gc_s
            shuf += sc.shuffle_bytes
            src += sc.source_scans
            for f in total:
                total[f] += getattr(sc, f)
        m[f"{la}.self_s"] = self_s / n
        m[f"{la}.jobs"] = jobs / n
        m[f"{la}.tasks"] = tasks / n
        m[f"{la}.task_cpu_s"] = cpu / n
        m[f"{la}.gc_s"] = gc / n
        m[f"{la}.shuffle_bytes"] = shuf / n
        m[f"{la}.busy_ratio"] = run / (self_s * cores) if self_s else 0.0
        m[f"{la}.driver_gap_s"] = sum(ev.busy_gap(c) for c in calls) / n
        if la == "pipeline":
            m["pipeline.source_scans"] = src / n
    for f in ("scan_files", "scan_rows", "scan_bytes", "scan_tasks",
              "bytes_written", "files_written"):
        m[f"io.{f}"] = total[f] / n
    m["operators.doc_scans"] = total["doc_scans"] / n
    m["operators.python_s"] = total["python_s"] / n
    m["operators.python_bytes"] = total["python_bytes"] / n
    m["operators.checkpoint_bytes"] = float(ev.peak_block_bytes)
    for k, v in res["stream"].items():
        per_pass = k in ("batches", "empty_batches", "commit_s", "state_rows")
        m[f"streaming.{k}"] = v / n if per_pass else v
    ratios = [s["stored_bytes_ratio"] for s in res["traced_stats"]
              if "stored_bytes_ratio" in s]
    m["io.stored_bytes_ratio"] = _median(ratios)
    m["session.start_s"] = res["start_s"]
    m["session.warmup_s"] = res["warmup_s"]
    m["trace.overhead_s"] = _median(res["traced_walls"]) - _median(res["walls"])
    m["trace.pass_gap_s"] = gap_total / n
    return {k: {"value": v, "unit": names[k]} for k, v in m.items()}, bad


def report(w, res, metrics: dict, traced: bool) -> None:
    """Human-readable lines before the JSON result."""
    r = res["runner"]
    print(f"workload {w.name}: input rows {w.input_rows(res['inp'])}, "
          f"{len(res['walls'])} timed passes")
    for k, v in metrics.items():
        print(f"  {k:<40} {v['value']:>16.6g} {v['unit']}")
    fail_ratio = len(r.failures) / max(r.attempted, 1)
    print(f"  {'fail_ratio':<40} {fail_ratio:>16.6g} ratio "
          f"({len(r.failures)} of {r.attempted} calls)")
    ratios = [s["stored_bytes_ratio"] for s in res["stats"]
              if "stored_bytes_ratio" in s]
    print(f"  {'stored_bytes_ratio':<40} {_median(ratios):>16.6g} ratio")
    print(f"  samples: wall_s/cpu_s n={len(res['walls'])}, "
          "setup_s n=1"
          + (f", traced passes n={len(res['traced_walls'])}" if traced
             else ""))
    seen = set()
    for name, cause in r.failures:
        if (name, cause) not in seen:
            seen.add((name, cause))
            print(f"  FAILED {name}: {cause}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "dados_publicos_etl_spark")) or \
            not os.path.isfile(os.path.join(REPO, "tests", "oracle_harness.py")):
        print("engine sources not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(1, os.path.join(REPO, "tests"))

    run_root = os.path.join(os.getcwd(), ".perfbench",
                            f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_root, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    # no hsperfdata files in the system temp dir, for the launcher JVM
    # as for the Spark driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None

    w = WORKLOADS[args.workload]()
    bench = Bench(w, args.seed, args.seconds, bool(args.trace), run_root)
    # turn a termination request into SystemExit so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def _abort() -> None:
        print(f"run exceeded {HARD_LIMIT_S:.0f} s; aborting", file=sys.stderr)
        if bench.jvm_pid is not None:
            for p in procstat.tree(bench.jvm_pid):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        shutil.rmtree(run_root, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(HARD_LIMIT_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        res = bench.run()
    finally:
        _log("stopping")
        bench.stop()
        _log("stopped")
        watchdog.cancel()
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass

    r = res["runner"]
    correct = not r.failures
    if args.trace:
        metrics, bad = per_layer(w, res)
        for b in bad:
            print(f"  spans do not account for pass wall: {b}")
        correct = correct and not bad
        out_dir = os.path.dirname(run_root)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{w.name}-seed{args.seed}.jsonl")
        r.spans.dump(path)
        print(f"  spans written to {os.path.relpath(path)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in end_to_end(w, res).items()}
    report(w, res, metrics, bool(args.trace))
    print(json.dumps({"correct": correct, "attempted": r.attempted,
                      "failed": len(r.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
