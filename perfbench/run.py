"""Pipeline benchmark for idhub_spark: one process, local[nproc], one
closed-loop client.

    python3 perfbench/run.py --workload ingest_small --seed 1 --seconds 1 --trace 0

Each run generates its inputs from --seed, seeds fresh tables or
indexes in a PID-scoped directory under .perfbench_run/ (Spark's
local dirs and temp files go there too), runs ops for --seconds (at
least one), checks every output against the generator's truth, and
deletes its directory. There is no separate warm-up op: it would cost
about as much as the measured op (an ingest batch takes 40-50 s in a
fresh session on a 4-vCPU host, a warm one 30-35 s), so the measured
op carries the session's first-call JIT and codegen cost, as a
one-batch CLI invocation does.
The last line of stdout is the result JSON; everything the engine or
the JVM prints goes to stderr.

--trace 0 reports the end-to-end metrics, measured with tracing off.
--trace 1 reports the per-layer metrics: spans around each call into
the engine, with Spark job/task/byte counters from the status store,
written to .perfbench_run/trace-<workload>-<seed>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench.spans import FIELD_UNITS, Tracer  # noqa: E402

MAX_TIMED_OPS = 12  # inputs are generated up front for at most this many
T_START = time.perf_counter()

E2E = {
    "setup_s": "s",
    "run_s": "s",
    "batch_s_p50": "s",
    "rows_per_s": "1/s",
    "stored_bytes_per_row": "B",
}

SPANS = (
    "validate_fragment",
    "validate_fragment.stage",
    "load_batch",
    "load_batch.bookkeeping",
    "partition_pruned_upsert",
    "SnapshotStore.write",
    "minhash_index_probe",
    "minhash_index_append",
    "minhash_index_delete",
    "minhash_index_fold_delta",
)
EXTRA_LAYER = {  # name -> (unit, better)
    "partition_pruned_upsert.rewrite_amplification": ("ratio", "lower"),
    "partition_pruned_upsert.buckets_rewritten_ratio": ("ratio", "lower"),
    "minhash_index_probe.planted_recall": ("ratio", "higher"),
    "dedup_step_s_p50": ("s", "lower"),
    "maint_s": ("s", "lower"),
    "trace.run_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def _log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


def _descendants(pid: int) -> dict[int, str]:
    """pid -> start time of every live descendant of `pid`, from /proc.
    The start time tells a process from a later one with a reused pid."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()  # from field 3 (state) on
        children.setdefault(int(fields[1]), []).append(int(entry))
        start[int(entry)] = fields[19]  # field 22, starttime
    out, todo = {}, [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = start[c]
            todo.append(c)
    return out


def _reap() -> None:
    """Reap every exited child of this process."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _running(pid: int, start: str) -> bool:
    """Whether the process still exists. A zombie does until it is
    reaped: a JVM shows as one while its other threads still exit."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2 :].split()[19] == start


def _stop_processes(grace_s: float = 60.0) -> None:
    """Stop every process this run started (the Spark JVM and the Python
    workers it forks, which sit in process groups of their own) and wait
    until each has ended: SIGTERM, then SIGKILL after `grace_s`."""
    procs = _descendants(os.getpid())
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        for pid, start in procs.items():
            if _running(pid, start):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while procs and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            procs = {p: s for p, s in procs.items() if _running(p, s)}
        if not procs:
            break
    _reap()
    if procs:
        print(f"perfbench: processes still running: {sorted(procs)}", file=sys.stderr)


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a process whose parent exits first is re-parented here, stays in
    _descendants' view and is reaped by _stop_processes."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def per_layer_units() -> dict[str, tuple[str, str]]:
    out = {f"{s}.{f}": (u, "lower") for s in SPANS for f, u in FIELD_UNITS.items()}
    out.update(EXTRA_LAYER)
    return out


def _isolate(work: str) -> int:
    """Keep every file the run makes inside `work`, and send fd 1 to
    stderr so only the result line reaches stdout. Returns the saved
    stdout fd."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM's perf-data file ignores java.io.tmpdir
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    return saved


def run(args, work: str) -> dict:
    from idhub_spark.session import get_spark
    from perfbench.dedup_cycle import DedupCycle
    from perfbench.ingest import IngestSmall

    workloads = {w.name: w for w in (IngestSmall, DedupCycle)}
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    _log("session up")
    try:
        tracer = Tracer(spark, enabled=False)
        wl = workloads[args.workload](spark, work, args.seed, tracer)
        failures: list[str] = []

        t0 = time.perf_counter()
        wl.generate(MAX_TIMED_OPS)
        _log("inputs generated")
        wl.seed()
        _log("tables seeded")
        setup_s = time.perf_counter() - t0
        attempted = failed = 0

        tracer.enabled = bool(args.trace)
        op_s, rows = [], 0
        t_run = time.perf_counter()
        for i in range(MAX_TIMED_OPS):
            if i and time.perf_counter() - t_run >= args.seconds:
                break
            t = time.perf_counter()
            attempted += 1
            try:
                with tracer.span(wl.op_span, op_id=i):
                    n, op_failed = wl.op(i)
            except Exception:  # an op that raises is a failed op; stop the loop
                traceback.print_exc()
                failures.append(f"op {i} raised")
                failed += 1
                break
            op_s.append(time.perf_counter() - t)
            _log(f"op {i} done")
            rows += n
            failures += op_failed
            failed += int(bool(op_failed))
        maint_failed = wl.maintain()
        run_s = time.perf_counter() - t_run
        tracer.enabled = False
        if maint_failed is not None:
            attempted += 1
            failed += int(bool(maint_failed))
            failures += maint_failed

        attempted += 1
        _log("maintenance done")
        end_failed = wl.finish()
        _log("final checks done")
        failed += int(bool(end_failed))
        failures += end_failed
        for f in failures:
            print(f"FAILED CHECK: {f}", file=sys.stderr)

        if args.trace:
            tracer.resolve()
            trace_path = os.path.join(
                os.path.dirname(work), f"trace-{args.workload}-{args.seed}.jsonl"
            )
            tracer.write(trace_path)
            print(f"spans written to {trace_path}", file=sys.stderr)
            units = per_layer_units()
            values = {}
            for s in SPANS:
                for f, v in tracer.per_call(s).items():
                    values[f"{s}.{f}"] = v
            ratios = wl.layer_ratios()
            for name in EXTRA_LAYER:
                values[name] = ratios.get(name, 0.0)
            values["trace.run_s"] = run_s
            values["trace.overhead_s"] = tracer.overhead_s
            metrics = {k: {"value": values[k], "unit": units[k][0]} for k in units}
        else:
            values = {
                "setup_s": setup_s,
                "run_s": run_s,
                "batch_s_p50": statistics.median(op_s) if op_s else run_s,
                "rows_per_s": rows / run_s,
                "stored_bytes_per_row": wl.stored_bytes() / max(wl.live_rows, 1),
            }
            metrics = {k: {"value": v, "unit": E2E[k]} for k, v in values.items()}
        return {
            "correct": not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_small", "dedup_cycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_parent = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(work_parent, str(os.getpid()))
    saved_stdout = _isolate(work)
    _adopt_orphans()
    try:
        try:
            import idhub_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine ({e}); run from a checkout", file=sys.stderr)
            return 2
        result = run(args, work)
    finally:
        _stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_parent)  # only when no trace files are kept there
        except OSError:
            pass
    os.write(saved_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
