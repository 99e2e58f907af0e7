#!/usr/bin/env python3
"""CLI-path extraction benchmark for pdf_parser_spark.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 1 --trace 0

Run from the repository root.  One run builds the workload's corpus from
``--seed``, starts a ``local[<cores>]`` session, and then drives the
program's public entry points in a closed loop with one client for
``--seconds`` (at least one invocation).  An invocation is one CLI call
(``pdf_parser_spark.__main__.main`` in ``--mode pipeline
--normalize-html``), or, on ``web_mega``, a
``streaming.lineage.run_resumable`` call over every bucket in one wave
followed by the CLI's ``--mode resume`` call, which must skip them all.
Every invocation's written tables are read back and checked against the
oracle, untimed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it records
the machine and session settings the numbers belong to.  See
perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import ctypes
import dataclasses
import hashlib
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# the program under test; outside a full checkout this import fails and
# the run exits non-zero before printing a result
import pdf_parser_spark  # noqa: E402

if not os.path.abspath(pdf_parser_spark.__file__).startswith(
        os.path.join(ROOT, "")):
    sys.exit(f"pdf_parser_spark is not part of the checkout at {ROOT}")

import check  # noqa: E402
import corpus  # noqa: E402
import layers  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# a run must exit within 180 s: no new invocation starts past this mark
START_DEADLINE_S = 100.0
INVOCATION_TIMEOUT_S = 150.0
# UI-only: caps the plan text Spark renders into listener events (and the
# event log); execution is unaffected
MAX_PLAN_STRING = 65536
MB = 1024 * 1024
RUN_ID = "perfbench"
N_BUCKETS = 16  # the bucket count the CLI's ``--mode resume`` uses
PR_SET_CHILD_SUBREAPER = 36
# how long the JVM and its Python workers get to exit on their own
# before they are terminated, then killed
EXIT_GRACE_S = 20.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(corpus.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    # the driver JVM is the whole local cluster: 30% of RAM, at most 4 GiB
    heap_mb = min(4096, (mem_mb * 3 // 10) // 256 * 256)
    return {"cores": cores, "mem_total_mb": mem_mb, "heap_mb": heap_mb,
            "shuffle_partitions": cores, "aqe": False,
            "max_plan_string": MAX_PLAN_STRING}


def session_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.maxPlanStringLength": str(MAX_PLAN_STRING),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_env(m: dict, run_dir: str) -> None:
    """Environment the session factory and its JVM read.  AQE is off:
    with AQE on, every re-plan renders the whole nested-cache plan to
    text on the driver (about +50 s per invocation on a 4-core box).
    The heap is touched at JVM start, so that every run's peak RSS holds
    all of it: otherwise the part of the heap G1 happens to reach makes
    ``peak_rss_mb`` vary by up to a fifth between runs of one workload."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{m['heap_mb']}m"
    os.environ.update({
        "SPARK_GRAFT_AQE": "0",
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{heap} -XX:+AlwaysPreTouch"
            f" -XX:ParallelGCThreads={min(8, m['cores'])}"
            f" -XX:ConcGCThreads=2 -Djava.io.tmpdir={tmp}"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
    })


def start_session(m: dict, conf: dict, in_path: str):
    """Session start plus input registration; returns (spark, seconds)."""
    from pdf_parser_spark.pipeline import read_documents
    from pdf_parser_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{m['cores']}]",
                      shuffle_partitions=m["shuffle_partitions"],
                      extra_conf=conf)
    read_documents(spark, in_path).schema
    return spark, time.perf_counter() - t0


def become_subreaper() -> None:
    """Adopt every orphaned descendant (the Python workers the JVM
    forks outlive it briefly), so that ``stop_processes`` can wait for
    all of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def stop_processes(spark) -> None:
    """Stop the session and the JVM behind it, then wait until every
    process this run started has ended: those still alive after
    ``EXIT_GRACE_S`` get SIGTERM, and SIGKILL after as long again."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
    deadline, sig = time.monotonic() + EXIT_GRACE_S, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return  # a subreaper without children has no descendants
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + EXIT_GRACE_S, signal.SIGKILL
        time.sleep(0.05)


def reset_peak_rss(pid: int) -> None:
    """Restart VmHWM from the current RSS; where the kernel refuses, the
    peak stays the process-lifetime peak."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def call_program(spark, wl, in_path: str, out_dir: str) -> dict:
    """The timed work of one invocation; returns what the program
    returned (for ``resume``, the resume call's summary plus the time
    the resume call took)."""
    from pdf_parser_spark.__main__ import main

    cli = ["--normalize-html", "--input", in_path, "--output", out_dir]
    if wl.mode == "pipeline":
        return main(["--mode", "pipeline", *cli], spark=spark)
    from pdf_parser_spark.config import DEFAULT_CONFIG
    from pdf_parser_spark.pipeline import read_documents
    from pdf_parser_spark.streaming.lineage import run_resumable

    # one wave over every bucket: a second wave would plan the whole
    # pipeline again, which a run's time budget cannot carry
    run_resumable(spark, read_documents(spark, in_path), out_dir,
                  run_id=RUN_ID, n_buckets=N_BUCKETS, wave_size=N_BUCKETS,
                  cfg=dataclasses.replace(
                      DEFAULT_CONFIG,
                      mega_doc_span_threshold=wl.mega_threshold),
                  normalize_html=True)
    t0 = time.perf_counter()
    summary = main(["--mode", "resume", "--run-id", RUN_ID, *cli], spark=spark)
    return {**summary, "resume_s": time.perf_counter() - t0}


def invoke(spark, wl, in_path: str, out_dir: str, group: str) -> dict:
    """One invocation under its own job group; task time and job count
    come from the live status store, not from tracing."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for pid in (os.getpid(), jvm_pid):
        reset_peak_rss(pid)
    sc.setJobGroup(group, "perfbench invocation")
    t0 = time.perf_counter()
    returned = call_program(spark, wl, in_path, out_dir)
    wall = time.perf_counter() - t0
    end_ms = time.time() * 1000.0
    rss = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {sid for j in jobs for sid in tracker.getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    task_ms = 0
    for sid in stages:
        try:
            task_ms += store.lastStageAttempt(sid).executorRunTime()
        except Py4JJavaError:  # a stage skipped before it ran has no attempt
            pass
    return {"wall_s": wall, "jobs": len(jobs), "task_s": task_ms / 1000.0,
            "rss_mb": rss, "end_ms": end_ms, "returned": returned}


def check_outputs(want, mode: str, out_dir: str, returned: dict):
    """Untimed: the written tables against the oracle (and, for
    ``resume``, the lineage table against the resume summary).  Returns
    the tables, the lineage figures (or None) and the mismatches."""
    tables = check.read_outputs(
        out_dir, check.TABLES if mode == "pipeline" else check.RESUME_TABLES)
    bad = check.mismatches(want, tables)
    lineage = None
    if mode == "resume":
        lineage = check.lineage_stats(out_dir)
        bad += check.resume_mismatches(returned, lineage)
    return tables, lineage, bad


def out_stats(out_dir: str, in_bytes: int) -> dict:
    size, files = 0, 0
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return {"write.out_mb": size / MB, "write.files": files,
            "write.bytes_per_in_byte": size / in_bytes}


def reference_path(workload: str, n_docs: int, m: dict) -> str:
    """Where untraced docs/s figures are kept for ``spark.trace_overhead``:
    keyed to the workload, the program and benchmark sources, and the
    machine, so that other code or another box never serves as the
    reference."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "pdf_parser_spark"), HERE):
        for dirpath, dirs, names in os.walk(top):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    f = os.path.join(dirpath, n)
                    h.update(os.path.relpath(f, ROOT).encode())
                    with open(f, "rb") as fh:
                        h.update(fh.read())
    key = f"{workload}-{n_docs}-{h.hexdigest()[:16]}-c{m['cores']}-h{m['heap_mb']}"
    return os.path.join(WORK, f"untraced-{key}.jsonl")


def untraced_reference(path: str) -> float | None:
    """Median untraced docs/s recorded at ``path``, or None."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return statistics.median(json.loads(line)["docs_per_s"] for line in fh)


def measure(spark, docs, wl, in_path: str, run_dir: str,
            seconds: float, t_start: float, once: bool):
    """Closed loop, one client: invoke, then check untimed, until
    ``seconds`` have passed (at least once).  Returns the timings of the
    invocations that completed, the failures, the number attempted, and
    the last invocation's output dir, tables and lineage figures."""
    want, timings, failures, tables, lineage = None, [], [], None, None
    t_loop = time.perf_counter()
    for k in itertools.count():
        out_dir = os.path.join(run_dir, f"out-{k}")
        try:
            r = invoke(spark, wl, in_path, out_dir, f"perfbench-{k}")
            timings.append(r)
            if want is None:
                want = check.expected(spark, docs)
            tables, lineage, bad = check_outputs(want, wl.mode, out_dir,
                                                 r["returned"])
            if bad:
                raise AssertionError(f"{len(bad)} mismatches: {bad[:5]}")
            if r["wall_s"] > INVOCATION_TIMEOUT_S:
                raise TimeoutError(f"invocation took {r['wall_s']:.1f} s")
        except Exception as e:  # counted in ok_frac; the loop goes on
            failures.append(repr(e))
            print(f"invocation {k} failed: {e!r}", file=sys.stderr)
        if (once or time.perf_counter() - t_loop >= seconds
                or time.perf_counter() - t_start > START_DEADLINE_S):
            return timings, failures, k + 1, out_dir, tables, lineage
        shutil.rmtree(out_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    become_subreaper()
    # a terminated run still stops its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trace = bool(args.trace)
    wl = corpus.WORKLOADS[args.workload]
    n_docs = wl.n_docs + wl.n_mega
    m = machine()
    ref_path = reference_path(args.workload, n_docs, m)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time())}")
    in_path = os.path.join(run_dir, "documents")
    os.makedirs(run_dir)
    spark = None
    try:
        docs = corpus.build_corpus(wl, args.seed)
        in_bytes = corpus.write_parquet(docs, in_path)
        set_env(m, run_dir)
        spark, setup_s = start_session(m, session_conf(run_dir, trace),
                                       in_path)

        tracer = None
        if trace:
            tracer = layers.Tracer()
            tracer.install()
        try:
            timings, failures, attempted, out_dir, tables, lineage = measure(
                spark, docs, wl, in_path, run_dir, args.seconds,
                t_start, trace)
        finally:
            if tracer is not None:
                tracer.uninstall()
        if not timings:
            raise SystemExit(f"no invocation completed: {failures}")
        notes = []
        if trace:
            if tables and "toc" in tables and (
                    tables["toc"].num_rows != tracer.toc_rows):
                raise SystemExit(
                    f"traced TOC count {tracer.toc_rows} differs from the "
                    f"{tables['toc'].num_rows} rows written")
            app_id = spark.sparkContext.applicationId
            spark.stop()  # flushes the event log
            spark = None
            reference = untraced_reference(ref_path)
            if reference is None:
                notes.append("spark.trace_overhead is 0: no untraced run of "
                             "this code on this machine is recorded yet")
            metrics = traced_report(
                tracer, timings[-1], tables, lineage, setup_s, m["cores"],
                layers.read_event_log(os.path.join(run_dir, "events"), app_id),
                out_stats(out_dir, in_bytes), reference, n_docs)
        else:
            metrics = e2e_metrics(timings, len(failures), attempted, n_docs,
                                  setup_s)
            if not failures:
                with open(ref_path, "a") as fh:
                    fh.write(json.dumps({
                        "seed": args.seed,
                        "docs_per_s": metrics["docs_per_s"]["value"]}) + "\n")
        print("# config " + json.dumps({
            **m, "workload": args.workload, "seed": args.seed,
            "docs": n_docs, "input_mb": in_bytes / MB,
            "input_sha256": corpus.files_digest(in_path),
            "samples": len(timings), "failures": failures[:3]}))
        for note in notes:
            print("# " + note)
        for name, v in metrics.items():
            print(f"# {name} = {v['value']:.6g} {v['unit']} "
                  f"(n={len(timings)})")
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 0
    finally:
        stop_processes(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


END_TO_END_UNITS = {"docs_per_s": "docs/s", "task_s_per_kdoc": "s",
                    "spark_jobs": "count", "peak_rss_mb": "MiB",
                    "setup_s": "s", "ok_frac": "ratio"}
_UNITS = {"s": "s", "mb": "MiB", "sent": "MiB", "frac": "ratio",
          "overhead": "ratio", "ratio": "ratio", "skew": "ratio",
          "byte": "ratio"}
PER_LAYER = {
    f"{layer}.{m}": _UNITS.get(m.rsplit("_", 1)[-1], "count")
    for layer, names in (
        ("session", "start_s"),
        ("html_normalize", "wall_s task_s py_rows_in py_mb_sent rows_out"),
        ("pages", "wall_s task_s gc_s shuffle_mb spill_mb jobs rows_out"),
        ("spans_out", "plan_s wall_s task_s shuffle_mb max_task_s task_skew"
                      " mega_docs rows_out"),
        ("quarantine", "wall_s task_s rows_out"),
        ("metadata", "wall_s task_s rows_out"),
        ("toc", "wall_s task_s jobs py_rows_in py_mb_sent rows_out"
                " accept_ratio"),
        ("sections", "wall_s task_s jobs py_rows_in shuffle_mb rows_out"),
        ("metrics", "wall_s task_s rows_out"),
        ("write", "wall_s task_s out_mb files bytes_per_in_byte"),
        ("lineage", "wave_s waves buckets_skipped redo_frac append_s"
                    " resume_s"),
        ("spark", "core_busy_frac unattributed_s trace_overhead"),
    )
    for m in names.split()
}


def e2e_metrics(timings, n_failed, attempted, n_docs, setup_s) -> dict:
    def med(key):
        return statistics.median(r[key] for r in timings)

    values = {
        "docs_per_s": n_docs / med("wall_s"),
        "task_s_per_kdoc": med("task_s") * 1000.0 / n_docs,
        "spark_jobs": med("jobs"),
        "peak_rss_mb": max(r["rss_mb"] for r in timings),
        "setup_s": setup_s,
        "ok_frac": 1.0 - n_failed / attempted,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]}
            for k, v in values.items()}


def traced_report(tracer, r, tables, lineage, setup_s, cores, events,
                  written, reference, n_docs) -> dict:
    metrics = {f"{t}.rows_out": table.num_rows for t, table in tables.items()}
    metrics.update(written)
    metrics.update(layers.layer_metrics(events, tracer, r["wall_s"], r["end_ms"],
                                    cores))
    metrics["html_normalize.rows_out"] = metrics.get(
        "html_normalize.py_rows_out", 0.0)
    metrics["spans_out.mega_docs"] = tracer.mega_docs
    metrics["toc.rows_out"] = tracer.toc_rows
    metrics["toc.accept_ratio"] = (
        metrics["toc.rows_out"] / metrics["toc.py_rows_in"]
        if metrics.get("toc.rows_out") and metrics.get("toc.py_rows_in")
        else 0.0)
    if lineage is not None:
        metrics.update({
            "lineage.wave_s": lineage["wave_s"],
            "lineage.waves": lineage["waves"],
            "lineage.buckets_skipped": len(r["returned"]["skipped_buckets"]),
            "lineage.redo_frac": lineage["redo_frac"],
            "lineage.append_s": tracer.append_s,
            "lineage.resume_s": r["returned"]["resume_s"],
        })
    metrics["session.start_s"] = setup_s
    if reference is not None:
        metrics["spark.trace_overhead"] = reference * r["wall_s"] / n_docs - 1.0
    return {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
            for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
