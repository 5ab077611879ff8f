"""Crawl-engine benchmark: one command, named workloads, one JSON line.

    python3 crawlbench/run.py --workload crawl_polite --seed 1 --seconds 9 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
under ``.crawlbench_work/`` (removed on exit), starts one Spark driver on
``local[<cpus>]``, times as many rounds or passes as the seed code fits in
``--seconds`` (a count fixed by ``--seconds``, not by the clock), checks
the outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans, Spark job counters, isolated layer
timings). Run notes go to stderr. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"  # driver JVM heap: fits a 15 GB host (session.py defaults to 48g)

# name -> unit; the same names and units as BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "step_p50_s": "s",
    "rate_per_s": "1/s",
    "peak_mem_mib": "MiB",
}
PER_LAYER = {
    "session.start_s": "s",
    "loop.round_self_s": "s",
    "loop.frontier_view_s": "s",
    "loop.bootstrap_s": "s",
    "loop.jobs_per_round": "count",
    "loop.stages_per_round": "count",
    "loop.tasks_per_round": "count",
    "loop.compact_rounds": "count",
    "loop.round_tail_s": "s",
    "loop.ingest_p50_s": "s",
    "snapshot.commit_s": "s",
    "snapshot.expire_s": "s",
    "snapshot.files_written": "count",
    "snapshot.mb_written": "MB",
    "snapshot.frontier_segments": "count",
    "snapshot.store_mb": "MB",
    "frontier.select_s": "s",
    "frontier.rank_s": "s",
    "frontier.dedup_s": "s",
    "frontier.pending_rows": "count",
    "frontier.selected_rows": "count",
    "frontier.select_ratio": "ratio",
    "frontier.shuffle_write_mb": "MB",
    "urlnorm.identity_s": "s",
    "urlnorm.rows": "count",
    "bloom.probe_s": "s",
    "bloom.build_s": "s",
    "bloom.maybe_rate": "ratio",
    "bloom.segments": "count",
    "fetchsim.fetch_s": "s",
    "fetchsim.attempted": "count",
    "fetchsim.deferred": "count",
    "fetchsim.failed": "count",
    "fetchsim.ok_ratio": "ratio",
    "parse.decode_s": "s",
    "parse.rows": "count",
    "parse.bytes_in_mb": "MB",
    "expand.s": "s",
    "expand.candidates": "count",
    "expand.fresh_rows": "count",
    "expand.fresh_ratio": "ratio",
    "queries.crawl_schedule_dedup_s": "s",
    "queries.politeness_schedule_s": "s",
    "queries.surt_url_index_s": "s",
    "queries.host_pagerank_s": "s",
    "queries.minhash_lsh_pairs_s": "s",
    "queries.shuffle_write_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.steal_frac_max": "ratio",
}


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    except Exception as e:  # a terminated run may have lost the gateway
        print(f"session stop: {e!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` (the JVM's Python workers,
    captured before the JVM stopped) has ended; kill stragglers."""
    deadline = time.time() + timeout
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)


def main(argv=None) -> int:
    from crawlbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each output before its check (self-test)")
    args = ap.parse_args(argv)

    from crawlbench.trace import MemSampler, StealMeter, Tracer, gc_heap_mib, median, tree
    from crawlbench.workloads import Run

    work = os.path.join(ROOT, ".crawlbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temp files of Python and of every JVM the Spark launcher starts
    # (native libraries, artifact dirs) stay in the scratch directory, and
    # no JVM writes /tmp/hsperfdata
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if o
    )
    os.environ["CRUNCHY_DRIVER_MEM"] = HEAP
    gc_log = os.path.join(work, "gc.log")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # A run lives about a minute, so C2 never reaches steady state: on a
        # 4-vCPU host its compile threads used ~half the CPU of a cold crawl
        # round, and scheduling passes got ~30% faster pass over pass. With
        # C1 only, passes are flat and rounds steadier. The heap is committed
        # and touched at start, so no timed unit pays its first-touch page
        # faults and its resident size is the committed size; the GC log
        # gives the heap's occupancy after each collection.
        "spark.driver.extraJavaOptions": (
            f"-XX:TieredStopAtLevel=1 -Xms{HEAP} -XX:+AlwaysPreTouch "
            f"-Xlog:gc:file={gc_log}"
        ),
    }
    if args.trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )

    mem = MemSampler()
    mem.start()
    spark = run = None
    try:
        from crunchy_spark.session import get_spark

        meter = StealMeter()
        session, spark = meter.timed(
            get_spark,
            app_name=f"crawlbench_{args.workload}",
            master=f"local[{_cpus()}]",
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, work, args.seed, args.seconds, bool(args.trace), args.size,
                  args.corrupt, steal=meter)
        if args.trace:
            run.tracer = Tracer(spark)
        t1 = time.perf_counter()
        WORKLOADS[args.workload](run)
        wall = time.perf_counter() - t1
    finally:
        try:
            if run is not None and run.tracer is not None:
                run.tracer.restore()
            started = [p for p in tree(os.getpid()) if p != os.getpid()]
            if spark is not None:
                _stop(spark)
            _reap(started)
        finally:
            peak_pss = mem.stop()
            heap_live, heap_committed = (
                gc_heap_mib(gc_log) if os.path.exists(gc_log) else (0.0, 0.0)
            )
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    m = run.metrics
    setup_reps = m.pop("_setup_reps")
    values = {
        "setup_s": session.adj + median(u.adj for u in setup_reps),
        "step_p50_s": m["step_p50_s"],
        "rate_per_s": m["rate_per_s"],
        # the pre-touched heap is resident whatever it holds: count the
        # Java heap by its largest live size instead
        "peak_mem_mib": peak_pss - heap_committed + heap_live,
    }
    if args.trace:
        m["session.start_s"] = session.wall
        m["trace.steal_frac_max"] = run.steal.max_frac()
        spec = PER_LAYER
        values = {k: m[k] for k in PER_LAYER}
    else:
        spec = END_TO_END
    for note in run.notes:
        print(note, file=sys.stderr)
    print(
        "units (wall, steal, cpu)",
        [(round(u.wall, 2), round(u.steal, 3), round(u.cpu, 1)) for u in run.steal.units],
        file=sys.stderr,
    )
    print(
        f"setup reps {[round(u.wall, 3) for u in setup_reps]} session {session.wall:.3f}s "
        f"steal max {run.steal.max_frac():.3f} wall {wall:.1f}s; peak PSS "
        f"{peak_pss:.0f} MiB, heap {heap_committed:.0f} MiB committed, "
        f"{heap_live:.0f} MiB live at most",
        file=sys.stderr,
    )
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in spec.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "crunchy_spark")):
        print(
            "crawlbench: crunchy_spark/ not found next to crawlbench/; run from "
            "the repository root of a full checkout",
            file=sys.stderr,
        )
        sys.exit(2)
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
