"""One benchmark run: set up, time passes over a workload, check, report.

The loop is closed with one client: each call starts when the previous
one has returned.  Spark runs ``local[nproc]`` with ``nproc`` shuffle
partitions.  Timings come from spans the benchmark records around its
own calls into the engine; with tracing on, the same spans are joined
with Spark's status store and streaming progress (see ``trace.py``).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from perfbench import inputs as inp_mod
from perfbench.check import compare, oracle_connection
from perfbench.trace import Span, Tracer
from perfbench.workloads import WARMUP_SF, Call, Inputs, Workload, workloads

# Job group the tracer's own reads run under: any Spark job they started
# would land in it (the self-tests check it stays empty).
TRACER_GROUP = "perfbench:tracer"

# Never start a pass that would end past this process age (seconds):
# a run must exit within 180 s.
_AGE_CAP_S = 160.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of the Python driver plus its direct children,
    which is the Spark JVM; the JVM's Python workers are not counted."""
    total_kb = 0
    for pid in [os.getpid(), *_children().get(os.getpid(), [])]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def quartiles(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) == 1:
        q1 = q3 = v[0]
    else:
        q1, _, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return {"median": statistics.median(v), "q1": q1, "q3": q3, "n": len(v)}


@dataclass
class CallRecord:
    pass_no: int
    call: Call
    span: Span
    build: Span | None = None
    action: Span | None = None
    error: str | None = None
    frame: object = None  # pandas result


@dataclass
class PassRecord:
    no: int
    traced: bool
    span: Span
    calls: list[CallRecord] = field(default_factory=list)
    sql_offset: int = 0  # SQL executions recorded before this pass
    jobs: int = 0  # Spark jobs the pass started


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark process: session, paths, tracer, records."""

    def __init__(self, root: Path, workload: Workload, seed: int,
                 timed_sf: float | None = None) -> None:
        self.root = root
        self.wl = workload
        self.seed = seed
        self.timed_sf = timed_sf if timed_sf is not None else workload.timed_sf
        self.cache = root / ".bench_build" / "perfbench"
        self.work = self.cache / "work" / str(os.getpid())
        self.n = nproc()
        self.spark = None
        self.tracer = Tracer()
        self.traced = False
        self.tracer_jobs = 0  # Spark jobs started while the tracer read
        self.passes: list[PassRecord] = []
        self.layer: dict[str, float] = {}
        self.gen_s = 0.0

    # -- inputs ------------------------------------------------------------
    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        r, c, s = self.root, self.cache / "inputs", self.seed
        self.raw = str(inp_mod.ensure_tables(r, c, self.timed_sf, s))
        self.warm_raw = str(inp_mod.ensure_tables(r, c, WARMUP_SF, s))
        if self.wl.csv_sf is not None:
            self.csv = inp_mod.ensure_csv_pair(r, c, self.wl.csv_sf, s)
            self.warm_csv = inp_mod.ensure_csv_pair(r, c, WARMUP_SF, s)
        else:
            self.csv = self.warm_csv = ("", "")
        self.gen_s = time.perf_counter() - t0

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # Everything the engine, Spark and the Python workers write goes
        # under the run's work dir, inside the checkout.
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
        # says; this covers spark-submit's launcher JVM and the driver JVM.
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.root), os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        from amazon_books_review_spark.session import get_session

        self.spark = get_session(
            app_name="perfbench",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_confs={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # A fixed heap (initial = max, Spark's default 1g driver
                # memory) keeps peak RSS from following GC heap resizing.
                "spark.driver.extraJavaOptions": (
                    f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)

    def rewrite_table(self, name: str) -> float:
        """Ingest layout of one table, as ``bench.py:_optimize_layout``:
        rewrite it as ``nproc`` files so scans run on every core.
        Returns the time it finished."""
        from amazon_books_review_spark.sources.io import read_parquet, write_parquet

        write_parquet(
            read_parquet(self.spark, os.path.join(self.raw, f"{name}.parquet"))
            .repartition(self.n),
            os.path.join(self.tables, f"{name}.parquet"),
        )
        return time.time()

    def warm_call(self, call: Call, inp: Inputs) -> float:
        """One warm-up call; a failure is logged, never fatal.
        Returns the time it finished."""
        try:
            call.build(self.spark, inp).toPandas()
        except Exception as exc:  # noqa: BLE001 — the timed passes count failures
            log(f"warm-up {call.name}: {type(exc).__name__}: {exc}"[:500])
        return time.time()

    def inputs_for(self, pass_no: int, warm: bool = False) -> Inputs:
        out = str(self.work / "out" / f"pass{pass_no}")
        if warm:
            return Inputs(self.warm_raw, *self.warm_csv, out)
        return Inputs(self.tables, *self.csv, out)

    def setup(self) -> float:
        """Start the session, then run one warm-up pass (the workload's
        calls in order, on the sf0.001 tables) while the ingest layout
        runs on a thread pool beside it, then a second warm-up pass on
        the timed inputs.  Returns setup_s.

        After the sf0.001 pass alone, the first pass at the timed scale
        is still 20-40% slower than the ones after it, and how many
        passes fit in a run then moves the median.

        Some streaming entries pin ``spark.sql.shuffle.partitions`` while
        a stream starts and restore it after; a layout job running at the
        same time could change it in between, so the session's confs are
        put back as they were before the timed passes start.
        ``streaming.queries.prestage_inputs`` is not called: it stages
        feeds only for streaming entries no workload runs."""
        from amazon_books_review_spark.sources.io import TESTDATA_TABLES

        tr = self.tracer
        with tr.span("session.start", "setup") as sp:
            self.start_session()
        self.layer["session.start_s"] = sp.seconds
        confs = dict(self.spark.conf.getAll)
        warm_inp = self.inputs_for(0, warm=True)
        self.tables = str(self.work / "layout")
        t0 = time.time()
        with ThreadPoolExecutor(self.n) as pool:
            layout = [pool.submit(self.rewrite_table, t) for t in TESTDATA_TABLES]
            for c in self.wl.calls:
                self.warm_call(c, warm_inp)
            layout_end = max(f.result() for f in layout)
        shutil.rmtree(warm_inp.out_root, ignore_errors=True)
        now = dict(self.spark.conf.getAll)
        for key in now.keys() - confs.keys():
            self.spark.conf.unset(key)
        for key, value in confs.items():
            if now.get(key) != value:
                self.spark.conf.set(key, value)
        warm_inp = self.inputs_for(0)
        warm_end = max([layout_end] + [self.warm_call(c, warm_inp) for c in self.wl.calls])
        shutil.rmtree(warm_inp.out_root, ignore_errors=True)
        tr.record("sources.layout", "setup", t0, layout_end)
        tr.record("session.warmup", "setup", t0, warm_end)
        self.layer["sources.layout_s"] = layout_end - t0
        self.layer["session.warmup_s"] = warm_end - t0
        return process_age() - self.gen_s

    # -- passes ------------------------------------------------------------
    def run_call(self, rec: CallRecord, inp: Inputs) -> None:
        tr = self.tracer
        group = f"perfbench:{rec.pass_no}:{rec.call.name}"
        try:
            with tr.span("build", "build") as rec.build:
                if self.traced:
                    tr.job_group(group + ":build")
                df = rec.call.build(self.spark, inp)
            with tr.span("action", "action") as rec.action:
                if self.traced:
                    tr.job_group(group + ":action")
                rec.frame = df.toPandas()
        except Exception as exc:  # noqa: BLE001 — one broken call costs one failure
            rec.error = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            if self.traced:
                tr.job_group(None)

    def run_pass(self, no: int) -> PassRecord:
        tr = self.tracer
        inp = self.inputs_for(no)
        sql_offset = tr.sql_execution_count() if self.traced else 0
        with tr.span(f"pass{no}", "pass") as sp:
            prec = PassRecord(no, self.traced, sp, sql_offset=sql_offset)
            for call in self.wl.calls:
                with tr.span(call.name, "call") as csp:
                    rec = CallRecord(no, call, csp)
                    self.run_call(rec, inp)
                if self.traced:
                    tr.job_group(TRACER_GROUP)
                    csp.attrs["resident_storage_bytes"] = tr.guarded(
                        "plans.resident_storage_bytes", tr.resident_storage_bytes, 0)
                    tr.job_group(None)
                prec.calls.append(rec)
        shutil.rmtree(inp.out_root, ignore_errors=True)
        return prec

    def timed_passes(self, seconds: float, trace: bool) -> None:
        """Passes while the next one, judged by the last, still ends
        within ``seconds``; at least one.  A traced run makes at least
        three: untraced, traced, untraced; the last two give the tracing
        overhead and must start the same number of Spark jobs."""
        t_start = time.perf_counter()
        no = 1
        while True:
            self.traced = trace and no == 2
            if self.traced:
                self.tracer.guarded("streaming.*", self.tracer.listen, None)
            jobs_before = self.job_count()
            prec = self.run_pass(no)
            prec.jobs = self.job_count() - jobs_before
            self.passes.append(prec)
            if self.traced:
                self.tracer.job_group(TRACER_GROUP)
                self.collect_layers(prec)
                self.tracer.job_group(None)
                self.tracer.unlisten()
                self.tracer_jobs = len(self.tracer.jobs(TRACER_GROUP))
            elapsed = time.perf_counter() - t_start
            done = elapsed + prec.span.seconds > seconds and no >= (3 if trace else 1)
            if done or process_age() + prec.span.seconds > _AGE_CAP_S:
                break
            no += 1

    def job_count(self) -> int:
        """Spark jobs started so far in this session."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc._jsc.sc().statusStore().jobsList(None).size()

    # -- traced-pass layer metrics ------------------------------------------
    def collect_layers(self, prec: PassRecord) -> None:
        tr = self.tracer
        progress = tr.flush()
        seen: set[int] = set()
        call_jobs: dict[str, set[int]] = {}
        z = dict.fromkeys(LAYER_METRICS, 0.0)
        for rec in prec.calls:
            cs = rec.span
            batches = [p for p in progress if cs.start <= p["start"] <= cs.end]
            for p in batches:
                d = p["duration_ms"]
                tr.spans.append(Span(
                    f"batch{p['batch_id']}:{p['name']}", "batch", p["start"],
                    p["start"] + d.get("triggerExecution", 0) / 1e3,
                    parent=tr.spans.index(cs), attrs=p))
                z["streaming.batches"] += 1
                z["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                z["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                z["streaming.commit_s"] += (
                    d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                z["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                z["streaming.state_rows"] = max(z["streaming.state_rows"], p["state_rows"])
                z["streaming.state_bytes"] = max(z["streaming.state_bytes"], p["state_bytes"])
            trig = sum(p["duration_ms"].get("triggerExecution", 0) for p in batches) / 1e3
            if batches:
                z["streaming.unattributed_s"] += cs.seconds - trig
            group = f"perfbench:{rec.pass_no}:{rec.call.name}"
            bjobs = tr.jobs(group + ":build")
            ajobs = tr.jobs(group + ":action")
            sjobs = sorted({j for rid in {p["run_id"] for p in batches}
                            for j in tr.jobs(rid)})
            bm = tr.stage_metrics(tr.stage_ids(bjobs), seen)
            sm = tr.stage_metrics(tr.stage_ids(sjobs), seen)
            am = tr.stage_metrics(tr.stage_ids(ajobs), seen)
            build_s = rec.build.seconds if rec.build else 0.0
            action_s = rec.action.seconds if rec.action and rec.action.end else 0.0
            z["plans.build_s"] += build_s
            z["plans.build_jobs"] += len(bjobs)
            z["plans.build_task_s"] += bm["task_s"]
            z["plans.build_shuffle_bytes"] += bm["shuffle_write_bytes"]
            z["plans.resident_storage_bytes"] = max(
                z["plans.resident_storage_bytes"], cs.attrs["resident_storage_bytes"])
            z["operators.action_s"] += action_s
            z["operators.jobs"] += len(ajobs)
            z["operators.stages"] += am["stages"]
            z["operators.task_s"] += am["task_s"]
            z["operators.cpu_s"] += am["cpu_s"]
            z["operators.gc_s"] += am["gc_s"]
            z["operators.shuffle_read_bytes"] += am["shuffle_read_bytes"]
            z["operators.shuffle_write_bytes"] += am["shuffle_write_bytes"]
            z["operators.spill_bytes"] += am["spill_bytes"]
            for m in (bm, sm, am):
                z["sources.scan_bytes"] += m["input_bytes"]
                z["sources.write_bytes"] += m["output_bytes"]
            call_jobs[rec.call.name] = set(bjobs) | set(ajobs) | set(sjobs)
            cs.attrs.update({
                "build_s": build_s,
                "action_s": action_s,
                "streaming_s": trig,
                "build_self_s": build_s - trig,
                "accounted_share": (build_s + action_s) / cs.seconds,
                "build_jobs": len(bjobs),
                "action_jobs": len(ajobs),
                "streaming_jobs": len(sjobs),
                "streaming_queries": len({p["run_id"] for p in batches}),
                "build_stages": bm, "action_stages": am, "streaming_stages": sm,
                "error": rec.error,
            })
        python = tr.guarded(
            "functions.*", lambda: tr.python_metrics(prec.sql_offset), [])
        for jobs, sums in python:
            owner = next(
                (rec for rec in prec.calls if jobs & call_jobs[rec.call.name]), None)
            for key, value in sums.items():
                z[key] += value
                if owner is not None:
                    py = owner.span.attrs.setdefault("python", {})
                    py[key] = py.get(key, 0.0) + value
        z["streaming.overhead_s"] = z["streaming.trigger_s"] - z["streaming.add_batch_s"]
        z["operators.busy_cores"] = (
            z["operators.task_s"] / z["operators.action_s"]
            if z["operators.action_s"] else 0.0)
        prec.span.attrs["layers"] = z

    # -- output check ------------------------------------------------------
    def check_outputs(self) -> int:
        """Compare every timed call's output; mark mismatches as errors.
        Returns the number of failed calls."""
        from amazon_books_review_spark.plans.catalog import all_oracles
        from amazon_books_review_spark.sources.io import TESTDATA_TABLES

        oracles = all_oracles()
        con = oracle_connection(self.raw, TESTDATA_TABLES)
        want: dict[str, object] = {}
        failed = 0
        for prec in self.passes:
            for rec in prec.calls:
                if rec.error is None:
                    try:
                        rec.error = self._check_one(rec, oracles, con, want)
                    except Exception as exc:  # noqa: BLE001 — a bad output is one failure
                        rec.error = f"check raised {type(exc).__name__}: {exc}"[:500]
                failed += rec.error is not None
                if rec.error:
                    log(f"pass {prec.no} {rec.call.name}: {rec.error}")
        con.close()
        return failed

    def _check_one(self, rec, oracles, con, want) -> str | None:
        call = rec.call
        if call.oracle is not None:
            if call.oracle not in oracles:
                return f"no oracle registered for {call.oracle}"
            if call.oracle not in want:
                want[call.oracle] = self._oracle(con, oracles[call.oracle])
            diff = compare(rec.frame, want[call.oracle])
            return None if diff is None else f"oracle mismatch: {diff}"
        if call.reference is not None:
            ref = call.reference.name
            if ref not in want:
                inp = self.inputs_for(0)
                want[ref] = call.reference.build(self.spark, inp).toPandas()
                shutil.rmtree(inp.out_root, ignore_errors=True)
            if len(rec.frame) == 0:
                return "gold is empty"
            diff = compare(rec.frame, want[ref])
            return None if diff is None else f"gold != {ref} gold: {diff}"
        return None

    def _oracle(self, con, sql: str):
        """The oracle's result on this run's tables, cached next to the
        generated inputs under a hash of the SQL text."""
        digest = hashlib.sha256(sql.encode()).hexdigest()[:20]
        path = Path(self.raw).parent / "oracles" / Path(self.raw).name / f"{digest}.parquet"
        if not path.exists():
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_name(f"{path.name}.tmp{os.getpid()}")
            con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            tmp.rename(path)
        return pd.read_parquet(path)

    # -- shutdown ----------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — gateway may already be gone
                pass
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 15
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        for pid in descendants(os.getpid()):
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)


LAYER_METRICS = [
    "sources.scan_bytes", "sources.write_bytes",
    "plans.build_s", "plans.build_jobs", "plans.build_task_s",
    "plans.build_shuffle_bytes", "plans.resident_storage_bytes",
    "operators.action_s", "operators.jobs", "operators.stages",
    "operators.task_s", "operators.cpu_s", "operators.gc_s",
    "operators.busy_cores", "operators.shuffle_read_bytes",
    "operators.shuffle_write_bytes", "operators.spill_bytes",
    "functions.python_run_s", "functions.python_start_s",
    "functions.python_bytes_sent", "functions.python_bytes_returned",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.overhead_s", "streaming.commit_s", "streaming.planning_s",
    "streaming.unattributed_s", "streaming.state_rows", "streaming.state_bytes",
]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def run(root: Path, workload: str, seed: int, seconds: float, trace: bool,
        timed_sf: float | None = None, calls: list[Call] | None = None) -> dict:
    """One benchmark run; returns the summary (all metrics, both kinds)."""
    wl = workloads()[workload]
    if calls is not None:
        wl = dataclasses.replace(wl, calls=calls)
    r = Run(root, wl, seed, timed_sf)
    tr = r.tracer
    try:
        with tr.span("run", "run", seed=seed, nproc=r.n), tr.span(wl.name, "workload"):
            with tr.span("inputs", "inputs"):
                r.make_inputs()
            setup_s = r.setup()
            r.timed_passes(seconds, trace)
            with tr.span("check", "check") as check:
                failed = r.check_outputs()
            rss = peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        r.stop()
    log(f"setup {setup_s:.2f}s, passes "
        + ", ".join(f"{p.span.seconds:.2f}s" for p in r.passes)
        + f", check {check.seconds:.2f}s, stop {time.perf_counter() - t0:.2f}s, "
        + f"{failed} failed")

    plain = [p for p in r.passes if not p.traced]
    traced = [p for p in r.passes if p.traced]
    attempted = sum(len(p.calls) for p in r.passes)
    pass_q = quartiles([p.span.seconds for p in plain])
    per_call = {
        c.name: statistics.median(
            rec.span.seconds for p in plain for rec in p.calls if rec.call is c)
        for c in wl.calls
    }
    end_to_end = {
        "setup_s": setup_s,
        "pass_s": pass_q["median"],
        "call_geomean_s": geomean(list(per_call.values())),
        "peak_rss_mb": rss,
        "error_rate": failed / attempted,
    }
    summary = {
        "workload": workload, "seed": seed, "nproc": r.n,
        "timed_sf": r.timed_sf, "csv_sf": wl.csv_sf,
        "end_to_end": end_to_end,
        "pass_s": pass_q,
        "call_median_s": per_call,
        "attempted": attempted, "failed": failed,
        "pass_jobs": [(p.no, p.traced, p.jobs) for p in r.passes],
        "errors": [f"pass {p.no} {c.call.name}: {c.error}"
                   for p in r.passes for c in p.calls if c.error],
        "generate_s": r.gen_s,
        "setup_parts_s": r.layer,
    }
    if traced:
        layer = dict(r.layer)
        for key in LAYER_METRICS:
            layer[key] = statistics.median(p.span.attrs["layers"][key] for p in traced)
        # against the untraced pass after it, else the one before
        after = [p for p in plain if p.no > traced[0].no] or plain
        layer["trace.overhead_s"] = traced[0].span.seconds - after[0].span.seconds
        layer["error_rate"] = end_to_end["error_rate"]
        summary["per_layer"] = layer
        summary["tracer_jobs"] = r.tracer_jobs
        summary["trace_file"] = _write_trace(r, summary)
    return summary


def _write_trace(r: Run, summary: dict) -> str:
    calls = [
        {"pass": p.no, "name": c.call.name, "wall_s": c.span.seconds, **c.span.attrs}
        for p in r.passes if p.traced for c in p.calls
    ]
    path = r.cache / f"trace_{r.wl.name}_seed{r.seed}.json"
    path.parent.mkdir(parents=True, exist_ok=True)
    doc = {
        "workload": r.wl.name, "seed": r.seed, "nproc": r.n,
        "per_layer": summary["per_layer"],
        "unreadable": r.tracer.unreadable,
        "calls": calls,
        "spans": r.tracer.dump(),
    }
    path.write_text(json.dumps(doc, indent=1, default=str))
    return str(path.relative_to(r.root))
