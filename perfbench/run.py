"""Benchmark of the spark-graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace {0|1}

Run from the repository root.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` (nothing outside the checkout is read or
written), the engine is driven only through its public functions, and
outputs are checked against DuckDB before the result is printed.

Load: one process, one closed-loop client (each op starts when the last
one ended) on ``local[N]`` with N = the CPUs this process may use.

Pinned environment (set here, before the JVM starts):
``SPARK_GRAFT_CPUS`` = usable CPUs, ``SPARK_LOCAL_DIRS`` and the JVM and
Python temp dirs inside the work dir, ``SPARK_DRIVER_MEMORY`` = 3g (the
engine defaults to 16g), ``TZ`` = UTC.

Warm-up policy: ``setup_s`` runs from process start until the session is
up, the workload is prepared and the untimed warm-up is done, minus
input generation, which is the benchmark's own work.  Warm-up is two
passes of the registry keys, or five sync batches after the seed
snapshot is written (the first batches run at about 2.3x, 1.4x, 1.2x
the settled batch time, and batches keep getting a little faster for
about ten more).  The seconds of each warm-up pass or batch are
printed.  JVM start and the first JIT-heavy runs land in set-up, not in
the op latencies.  The JVM cannot be restarted within a run, so set-up
is measured once per run; its median over runs is what compares.

Measurement: a run measures a fixed amount of work, ``--seconds`` worth
of rounds at the workload's reference round time ``ROUND_S`` (a round is
a whole pass over the workload's keys, or one sync batch), and never
fewer rounds than 11 ops need, so the tail has 10 samples beyond it.
Work, not wall time, is fixed so that every run holds the same op mix
and sample count whatever the speed of the host or of the engine.
``op_p50_s`` and ``op_tail_s`` are Harrell-Davis quantile estimates
(``stats.py``).  ``op_tail_s`` is at the highest percentile with 10
samples beyond it, so its percentile grows with the number of ops: at
``--seconds 15`` it is p60 of 25 ops on ``corpus_dedup`` and p9 of 11
on ``incremental_sync``, a low quantile rather than a tail there.  The
percentile and sample count are printed with it.  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` measures one untraced
phase, then installs the span recorder (``trace.py``) and measures a
traced phase of the same length, prints the per-layer metrics and
writes every span to ``.perfbench_work/spans-<workload>-<seed>.json``.

Host speed: the host's other tenants slow every op of a run alike, up
to twice as slow from one run to the next.  After each op the driver
loop times a fixed engine-free task (``hostspeed.py``), untimed, and the
end-to-end times are reported at the reference host speed: each is multiplied,
and each rate divided, by ``REF_S / median(probe times)`` of the
measured phase.  The values as measured and the factor are printed
beside them.  On ten runs of each workload at ``--seconds 15`` on a
shared 4-vCPU host, this cut the spread (IQR / median) of ``op_p50_s``
from 0.22 to 0.07 on ``incremental_sync`` and from 0.12 to 0.08 on
``corpus_dedup``, and of ``ops_per_s`` from 0.25 to 0.07 and from 0.12
to 0.08.  The probe is single-threaded, so it under-corrects when the
host is so busy that the engine's four task threads lose more than one
thread does.

Checks: every measured op's own output is checked, untimed, and a
failed check counts in ``error_rate`` and ``failed``.  A registry op's
Arrow result is saved after the op and hashed against its key's DuckDB
oracle at the end of the run; the cold first call of each key is
checked too, as an extra check.  A sync batch is checked through the
final snapshot, which every batch went into: it must match a DuckDB
replay of all batches, and the cursor table the last batch's cursor.

Per-layer metric -> end-to-end metric it should move (workload):

* ``session.get_spark_s`` -> ``setup_s`` (all)
* ``catalog.load_*``, ``queries.build_s``,
  ``queries.py4j_calls_per_build`` -> ``op_p50_s`` (corpus_dedup)
* ``queries.exec_s`` -> ``ops_per_s`` (corpus_dedup)
* ``plans.entity_sync_plan_s``, ``operators.dedup_keep_latest_s``,
  ``operators.merge_upsert_s``, ``state.*`` -> ``op_p50_s``
  (incremental_sync)
* ``operators.spark_{jobs,stages,tasks}_per_op`` -> ``op_p50_s`` (all)
* ``sources.read_snapshot_s``, ``sources.write_snapshot_s`` ->
  ``op_p50_s``, ``rows_per_s`` (incremental_sync)
* ``sources.expire_snapshots_s`` -> ``ops_per_s`` (incremental_sync; it
  runs in one batch of five, so it moves the mean, not the median or
  the low quantile ``op_tail_s`` reads)
* ``sources.bytes_written_per_op``, ``sources.files_written_per_op``,
  ``write_amp`` -> ``rows_per_s`` (incremental_sync)
* ``extensions.*`` -> ``op_p50_s``, ``rows_per_s`` (corpus_dedup)
* ``peak_rss_mb`` -> ``retained_mb`` (all)

Memory: ``retained_mb`` is the JVM heap still live after a full GC at
the end of the measured ops plus the Python resident set; the peak RSS
(VmHWM of Python + JVM) swings with G1 heap sizing and is reported as a
per-layer number only.

The last stdout line is the JSON result; stderr carries Spark's logs.
Exit code 2 means the engine package is not in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import hostspeed, stats  # noqa: E402
from perfbench.trace import Recorder, instrument, job_counts  # noqa: E402
from perfbench.workloads import WORKLOADS, CorpusDedup  # noqa: E402

DRIVER_MEMORY = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s


@dataclass
class Phase:
    latencies: list[float] = field(default_factory=list)
    probes: list[float] = field(default_factory=list)  # host speed probe times
    keys: list[str] = field(default_factory=list)
    rows: int = 0
    raised: list[bool] = field(default_factory=list)
    jobs: list[tuple[int, int, int]] = field(default_factory=list)
    bytes_written: int = 0
    files_written: int = 0
    input_bytes: int = 0

    @property
    def busy_s(self) -> float:
        return sum(self.latencies)

    @property
    def ops_per_s(self) -> float:
        return len(self.latencies) / self.busy_s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="perturb every expected digest (shows that checks can fail)",
    )
    return p.parse_args(argv)


def engine_in_checkout() -> bool:
    try:
        import data_pipeline_bigquery_spark as pkg
    except ImportError:
        return False
    return os.path.abspath(pkg.__file__).startswith(ROOT + os.sep)


def sweep_dead_runs(base: str) -> None:
    """Remove work dirs left by runs that were killed."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        if not name.startswith("run-"):
            continue
        try:
            os.kill(int(name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def pin_env(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    return cpus


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def proc_status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_mb(spark) -> tuple[float, float]:
    """Memory the driver holds once the ops are done: the JVM heap still
    live after a full collection, and the Python process's resident set.
    Caches, broadcast blocks and retained plans count; garbage, heap
    headroom and allocator free lists do not."""
    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    jvm = spark.sparkContext._jvm
    # the first collection hands dead broadcast and shuffle handles to
    # Spark's ContextCleaner, which drops their blocks; the second frees them
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20, proc_status_mb("self", "VmRSS")


def jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark):
    """Stop the session and let the gateway JVM exit (it exits when its
    stdin closes); returns the JVM process for :func:`wait_jvm`."""
    proc = jvm_proc()
    spark.stop()
    if proc is not None:
        proc.stdin.close()
    return proc


def wait_jvm(proc) -> None:
    if proc is None:
        return
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def start_watchdog(limit_s: float) -> threading.Timer:
    """Kill the JVM and exit non-zero if the run outlives ``limit_s``."""

    def fire() -> None:
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", file=sys.stderr)
        proc = jvm_proc()
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    timer = threading.Timer(limit_s, fire)
    timer.daemon = True
    timer.start()
    return timer


def measure(wl, rec, spark, rounds: int, traced: bool) -> Phase:
    ph = Phase()
    before = (wl.bytes_written, wl.files_written, wl.input_bytes)
    sc = spark.sparkContext
    for _ in range(rounds):
        for op in wl.round():
            n = len(ph.latencies)
            if traced:
                group = f"perfbench-op-{n}"
                sc.setJobGroup(group, op.key)
                rec.op, rec.enabled = n, True
            t0 = time.perf_counter()
            try:
                with rec.span(f"op:{op.key}"):
                    out = op.run()
                raised = False
            except Exception:
                out, raised = None, True
                traceback.print_exc()
            ph.latencies.append(time.perf_counter() - t0)
            ph.raised.append(raised)
            rec.enabled = False
            ph.keys.append(op.key)
            ph.rows += op.rows
            if traced:
                ph.jobs.append(job_counts(spark, group))
            wl.after_op(op, out)
            out = None  # not alive while the next op runs
            ph.probes.extend(hostspeed.probe() for _ in range(hostspeed.PER_OP))
    ph.bytes_written, ph.files_written, ph.input_bytes = (
        now - then
        for now, then in zip((wl.bytes_written, wl.files_written, wl.input_bytes), before)
    )
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return ph


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ph: Phase, setup_s: float, mem_mb: float, f: float = 1.0) -> tuple[dict, str]:
    """The end-to-end metrics, times multiplied and rates divided by the
    host speed factor ``f``."""
    tail, pct = stats.tail(ph.latencies)
    m = {
        "setup_s": metric(setup_s * f, "s"),
        "op_p50_s": metric(stats.quantile(ph.latencies, 0.5) * f, "s"),
        "op_tail_s": metric(tail * f, "s"),
        "ops_per_s": metric(ph.ops_per_s / f, "1/s"),
        "rows_per_s": metric(ph.rows / ph.busy_s / f, "rows/s"),
        "retained_mb": metric(mem_mb, "MiB"),
    }
    note = f"op_tail_s is p{pct:.1f} of n={len(ph.latencies)} ops ({stats.TAIL_BEYOND} beyond it)"
    return m, note


def per_layer(
    wl, rec, untraced: Phase, traced: Phase, get_spark_s: float, peak_rss_mb: float
) -> tuple[dict, dict]:
    n = len(traced.latencies)
    self_t = stats.self_times(rec.spans)
    by_name: dict[str, float] = defaultdict(float)
    op_total = 0.0
    builds = [sp for sp in rec.spans if sp["name"] == "queries.build"]
    for sp, st in zip(rec.spans, self_t):
        if sp["op"] is None:
            continue
        by_name[sp["name"]] += st
        if sp["parent"] is None:
            op_total += sp["end"] - sp["start"]
    residue = sum(v for k, v in by_name.items() if k.startswith("op:"))
    layers: dict[str, float] = defaultdict(float)
    for k, v in by_name.items():
        layers["residue" if k.startswith("op:") else k.split(".")[0]] += v
    per_key = defaultdict(list)
    for k, lat in zip(traced.keys, traced.latencies):
        per_key[k].append(lat)

    def s(span: str) -> dict:
        return metric(by_name.get(span, 0.0) / n, "s")

    m = {"session.get_spark_s": metric(get_spark_s, "s")}
    m["catalog.load_s"] = s("catalog.load")
    m["catalog.load_calls"] = metric(rec.load_calls / n, "count")
    m["catalog.load_reuse_ratio"] = metric(rec.load_reuses / max(rec.load_calls, 1), "ratio")
    m["queries.build_s"] = s("queries.build")
    m["queries.py4j_calls_per_build"] = metric(
        sum(b["py4j"] for b in builds) / max(len(builds), 1), "count"
    )
    m["queries.exec_s"] = s("queries.exec")
    m["plans.entity_sync_plan_s"] = s("plans.entity_sync_plan")
    m["operators.dedup_keep_latest_s"] = s("operators.dedup_keep_latest")
    m["operators.merge_upsert_s"] = s("operators.merge_upsert")
    for i, what in enumerate(("jobs", "stages", "tasks")):
        m[f"operators.spark_{what}_per_op"] = metric(
            sum(j[i] for j in traced.jobs) / n, "count"
        )
    m["state.max_cursor_s"] = s("state.max_cursor")
    m["state.append_s"] = s("state.append")
    m["sources.read_snapshot_s"] = s("sources.read_snapshot")
    m["sources.write_snapshot_s"] = s("sources.write_snapshot")
    m["sources.expire_snapshots_s"] = s("sources.expire_snapshots")
    m["sources.bytes_written_per_op"] = metric(traced.bytes_written / n, "B")
    m["sources.files_written_per_op"] = metric(traced.files_written / n, "count")
    m["write_amp"] = metric(
        traced.bytes_written / traced.input_bytes if traced.input_bytes else 0.0, "ratio"
    )
    m["peak_rss_mb"] = metric(peak_rss_mb, "MiB")
    for key in CorpusDedup.KEYS:
        lat = per_key.get(key)
        m[f"extensions.{key}_s"] = metric(statistics.median(lat) if lat else 0.0, "s")
    m["extensions.lsh_pairs_per_doc"] = metric(wl.extra.get("lsh_pairs_per_doc", 0.0), "ratio")
    m["extensions.lsh_planted_pair_ratio"] = metric(
        wl.extra.get("lsh_planted_pair_ratio", 0.0), "ratio"
    )
    m["trace.py4j_calls_per_op"] = metric(
        sum(sp["py4j"] for sp in rec.spans if sp["op"] is not None and sp["parent"] is None) / n,
        "count",
    )
    m["trace.residue_share"] = metric(residue / op_total, "ratio")
    m["trace.overhead_ratio"] = metric(traced.ops_per_s / untraced.ops_per_s, "ratio")
    summary = {
        "self_s_by_span": dict(sorted(by_name.items())),
        "self_share_by_layer": {k: v / op_total for k, v in sorted(layers.items())},
        "traced_ops": n,
    }
    return m, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_in_checkout():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    start_watchdog(RUN_LIMIT_S - (time.perf_counter() - T_PROCESS))
    base = os.path.join(ROOT, ".perfbench_work")
    sweep_dead_runs(base)
    work = os.path.join(base, f"run-{os.getpid()}")
    cpus = pin_env(work)

    rec = Recorder()
    wl = WORKLOADS[args.workload](work, args.seed, cpus, rec)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    from data_pipeline_bigquery_spark.session import get_spark

    rec.enabled = bool(args.trace)
    t = time.perf_counter()
    with rec.span("session.get_spark"):
        spark = get_spark(extra_conf=spark_conf(work))
    get_spark_s = time.perf_counter() - t
    rec.enabled = False
    try:
        t = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t
        wl.warmup()
        warmup_s = time.perf_counter() - t - prepare_s
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        # the end-to-end tail needs TAIL_BEYOND samples beyond it; the
        # per-layer means of a traced run do not
        min_ops = 1 if args.trace else stats.TAIL_BEYOND + 1
        rounds = max(
            math.ceil(args.seconds / wl.ROUND_S), math.ceil(min_ops / wl.OPS_PER_ROUND)
        )
        ticks = hostspeed.host_ticks()
        untraced = measure(wl, rec, spark, rounds, False)
        steal = hostspeed.steal_share(ticks, hostspeed.host_ticks())
        traced = None
        if args.trace:
            instrument(rec, spark)
            traced = measure(wl, rec, spark, rounds, True)
        jvm_mb, py_mb = retained_mb(spark)
        mem_mb = jvm_mb + py_mb
        pids = ["self"] + ([jvm_proc().pid] if jvm_proc() else [])
        peak_rss_mb = sum(proc_status_mb(pid, "VmHWM") for pid in pids)
        wl.finish()
    finally:
        jvm = stop_spark(spark)
    try:
        # DuckDB checks run while the JVM shuts down
        t = time.perf_counter()
        verdicts, extra_checks = wl.check(args.corrupt_expected)
        check_s = time.perf_counter() - t
    finally:
        wait_jvm(jvm)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        layer_m, summary = per_layer(wl, rec, untraced, traced, get_spark_s, peak_rss_mb)

    phases = [untraced] + ([traced] if traced else [])
    raised = [r for p in phases for r in p.raised]
    attempted = len(raised)
    # an op fails if it raised or if its own output failed its check
    failed = sum(r or not ok for r, ok in zip(raised, verdicts))
    correct = failed == 0 and all(extra_checks.values())
    write_amp = (
        untraced.bytes_written / untraced.input_bytes if untraced.input_bytes else 0.0
    )
    print(
        f"workload={args.workload} seed={args.seed} cpus={cpus} gen_s={gen_s:.3f}"
        f" get_spark_s={get_spark_s:.3f} prepare_s={prepare_s:.3f}"
        f" warmup_s={warmup_s:.3f} check_s={check_s:.3f}"
    )
    if args.trace:
        path = os.path.join(base, f"spans-{args.workload}-{args.seed}.json")
        rec.dump(path, {"summary": summary, "per_layer": layer_m})
        for k, v in summary["self_share_by_layer"].items():
            print(f"self share of op time: {k} = {v:.4f}")
        print(f"spans written to {os.path.relpath(path, ROOT)}")
        metrics = layer_m
    else:
        f = hostspeed.factor(untraced.probes)
        metrics, tail_note = end_to_end(untraced, setup_s, mem_mb, f)
        raw, _ = end_to_end(untraced, setup_s, mem_mb)
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']} (as measured: {raw[k]['value']:.6g})")
        print(tail_note)
        print(
            f"host speed factor {f:.4f} (probe median"
            f" {statistics.median(untraced.probes) * 1e3:.2f} ms, reference"
            f" {hostspeed.REF_S * 1e3:.2f} ms); host steal {steal:.4f} of all CPU time"
        )

    print(f"error_rate = {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(f"write_amp = {write_amp:.6g} ratio")
    print(f"peak_rss_mb = {peak_rss_mb:.6g} MiB")
    print(f"retained: JVM live heap {jvm_mb:.1f} MiB + Python RSS {py_mb:.1f} MiB")
    print(f"warm-up s per pass or batch: {wl.extra['warmup_s']}")
    print(
        "op latencies (s): "
        + " ".join(f"{k}={v:.3f}" for k, v in zip(untraced.keys, untraced.latencies))
    )
    print(
        f"checks: {sum(verdicts)}/{len(verdicts)} measured outputs ok"
        + "".join(f", {k}={'ok' if v else 'WRONG'}" for k, v in extra_checks.items())
    )
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
