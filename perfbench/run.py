"""One command for the benchmark: set-up, timed closed loop, checks, metrics.

    python3 perfbench/run.py --workload {ingest,serve,batch} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Everything the run writes stays under
``perfbench/.work/`` (inputs, Spark scratch, event log), and one JSON record
per run is kept in ``perfbench/.work/records/``.  Standard output lists every
metric with its unit and sample count and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
DEADLINE_S = 170  # the run must end within 180 s
SPARK_CPUS = 4  # at most this many local cores, fewer on a smaller box
DRIVER_MEMORY = "2g"


class Ctx:
    """Run-wide state handed to the workload."""

    def __init__(self, args, work):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.root, self.work = ROOT, work
        self.spark = None
        self.tracer = None
        self.checks: list[tuple[str, bool]] = []
        self.setup_phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one part of set-up (reported in the record)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = self.setup_phases.get(name, 0.0) + time.perf_counter() - t0


def _configure_env(work: str, event_dir: str | None, cpus: int) -> None:
    """Point every scratch location of Spark, the JVM and Python into ``work``
    and put the engine on the Python workers' path.  Must run before pyspark
    starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(work, "checkpoint"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        TZ="UTC",
        # no hsperfdata file under /tmp, for the launcher JVM nor the driver
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])),
        PYTHONPATH=os.pathsep.join([ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]),
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap keeps peak RSS from following GC timing
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if event_dir:
        os.makedirs(event_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, else "unknown"."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _stop_spark(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired: do not leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alarm(signum, frame):
    raise TimeoutError(f"benchmark exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "batch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_healthcare_spark")):
        print(f"engine package etl_healthcare_spark not found under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = min(SPARK_CPUS, os.cpu_count() or 1)
    event_dir = os.path.join(work, "events") if args.trace else None
    _configure_env(work, event_dir, cpus)
    sys.path[:0] = [ROOT, HERE]
    ctx = Ctx(args, work)
    spark = None
    try:
        import metrics
        import spans as tr
        import workloads

        t0 = time.perf_counter()
        from etl_healthcare_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        ctx.tracer = tr.Tracer(spark.sparkContext, enabled=ctx.trace)
        if ctx.trace:
            tr.hook_engine_actions(ctx.tracer, os.path.join(ROOT, "etl_healthcare_spark"))
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        ops = []
        t_loop = time.perf_counter()
        while wl.has_next() and (time.perf_counter() - t_loop < args.seconds or not ops):
            ops.extend(wl.step())
        loop_s = time.perf_counter() - t_loop
        try:
            final_ok = wl.final_check()
        except Exception as e:  # a store the check cannot read is a failed check, not a crash
            print(f"final check failed: {type(e).__name__}: {str(e)[:400]}", file=sys.stderr)
            final_ok = False

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        env = {
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "driver_memory": DRIVER_MEMORY,
            "batch_sf": workloads.BATCH_SF,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "commit": _git_commit(),
            "unix_time": time.time(),
        }
        _stop_spark(spark)
        spark = None

        per_span = tr.attribute(event_dir) if ctx.trace else {}
        rec = metrics.build_record(args.workload, wl, ctx, ops, per_span, env=env, setup_s=setup_s,
                                   session_s=session_s, loop_s=loop_s, rss_mb=rss_mb, final_ok=final_ok)
    finally:
        if spark is not None:
            _stop_spark(spark)
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(WORK_ROOT, "records", f"{args.workload}_seed{args.seed}_trace{args.trace}_{stamp}_{os.getpid()}")
    with open(base + ".json", "w") as f:
        json.dump(rec, f, indent=1, default=str)
    if ctx.trace:
        ctx.tracer.dump(base + ".spans.jsonl", T_START)

    metrics.print_report(rec)
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
