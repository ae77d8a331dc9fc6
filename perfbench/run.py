"""Benchmark of the schema engine's real path, run as one command:

    python3 perfbench/run.py --workload batch_register --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py and BENCHMARK.json):

* ``batch_register``: ``catalog.infer_and_register`` over one large NDJSON corpus.
* ``stream_drift``: ``streaming.infer_stream.run_inference_stream`` draining
  a backlog of small drifting files, one file per trigger.
* ``near_dedup``: ``operators.dedup.minhash_lsh_pairs`` then
  ``connected_components`` over documents with planted near-duplicates.

One run: generate the inputs from ``--seed`` (untimed), set the session up
five times (``get_session`` plus one warm-up action, stopping the session
in between; the first set-up launches the JVM, ``session.cold_setup_s``,
and ``setup_s`` is the median of all five), run the first op in the fresh
session (``cold_op_s``), then run ops in a closed loop with one client for
``--seconds`` (at least six) and report the median of all but the first of
them, which still warms the JIT (``op_s``). Spark's cache is cleared
after each op, outside its timing, so no op reads what an earlier one
cached. ``cold_op_s`` is a traced-run figure: one sample per run
of mostly code generation and JIT work, its spread over ten seeds measured
0.09-0.27 of its median on a shared 4-core host, more than an end-to-end
bound may allow. Every op's output is checked; a failed check or an error
fails the op, and any failed op makes the run exit 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` mixes untraced
and traced ops and prints the per-layer metrics, including
``trace.overhead_pct`` (median traced op over median untraced op). Spans
are written to ``.perfbench_out/`` when the run ends. The last line of
standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.

All inputs and Spark state (warehouse, checkpoints, quarantine, local and
temp dirs) live under ``.perfbench_work/`` in the repository root and are
deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
# ops after the cold one, whatever --seconds allows. The first of them
# still runs slow while the JIT warms and counts in no median; after it an
# untraced run measures at least five ops, a traced one two traced and two
# untraced ops
MIN_WARM_OPS = {0: 6, 1: 5}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        out.setdefault(ppid, []).append(int(name))
    return out


def _descendants(pid: int) -> list[int]:
    kids, todo, out = _children(), [pid], []
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Peak summed RSS of this process and its descendants (the Spark JVM
    and its Python workers), sampled by one low-rate thread. ``at_peak``
    splits the peak into the driver, the largest child (the JVM) and the
    rest (Python workers)."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self.at_peak: dict = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self):
        me = os.getpid()
        children = [(_rss_bytes([c]), c) for c in _descendants(me)]
        driver = _rss_bytes([me])
        total = driver + sum(r for r, _ in children)
        if total > self.peak:
            jvm = max(children)[0] if children else 0
            self.peak = total
            self.at_peak = {"driver_mb": driver / 2**20, "jvm_mb": jvm / 2**20,
                            "workers_mb": (total - driver - jvm) / 2**20,
                            "processes": 1 + len(children)}

    def _run(self):
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return 100 * delta[7] / sum(delta) if sum(delta) else 0.0


def _spark_conf(work: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # the heap starts at Spark's default 1g maximum, so peak RSS does
        # not depend on when the collector chooses to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms1g -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _setup(session, nproc: int, conf: dict):
    """``get_session`` plus one warm-up action; returns the session and
    both durations. Shuffle partitions are sized by the caller, as
    ``get_session`` asks: twice the local cores."""
    t0 = time.perf_counter()
    spark = session.get_session(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc,
        extra_conf=conf,
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _driver_layers(work: str) -> dict:
    """Driver-side layer costs over a fixed sample (seed 0, 5000 records
    of the batch corpus shape): the raw lattice fold and DDL rendering."""
    import random

    import gen
    from workloads import PARAMS
    from nifi_hive_schema_generator_bundle_spark.plans import lattice, render

    params = dict(PARAMS["batch_register"], records=5000)
    sample_dir = os.path.join(work, "lattice_sample")
    gen.ndjson_corpus(random.Random(0), params, sample_dir)
    records = []
    with open(os.path.join(sample_dir, "corpus.ndjson"), encoding="utf-8") as f:
        for line in f:
            try:
                rec = json.loads(line)
            except ValueError:
                continue  # a truncated or garbage line
            if isinstance(rec, dict):  # bare scalars are routed out too
                records.append(rec)

    def fold(recs):
        acc = None
        for r in recs:
            acc = lattice.merge_raw(acc, lattice.infer_raw(r))
        return acc

    fold_us = []
    for _ in range(5):
        t = time.perf_counter()
        full = fold(records)
        fold_us.append((time.perf_counter() - t) / len(records) * 1e6)
    new = lattice.type_from_dict(full)
    old = lattice.type_from_dict(fold(records[: len(records) // 2]))

    def per_call_ms(fn, n=50):
        t = time.perf_counter()
        for _ in range(n):
            fn()
        return (time.perf_counter() - t) / n * 1000

    hive = [per_call_ms(lambda: render.render_hive_ddl(new, "t", "/loc")) for _ in range(5)]
    alter = [per_call_ms(lambda: render.render_alter_ddl(old, new, "t")) for _ in range(5)]
    return {
        "lattice.fold_us_per_record": statistics.median(fold_us),
        "render.hive_ddl_ms": statistics.median(hive),
        "render.alter_ddl_ms": statistics.median(alter),
    }


def _one(wl, i: int, traced: bool, tracer) -> dict:
    """Run and check op ``i``, then clear Spark's cache; in a traced op the
    workload's spans are installed around it and its Spark counts read
    after it."""
    if traced:
        wl.wrap(tracer)
        wl.span = tracer.span
        tracer.op = i
    t = time.perf_counter()
    res, errs = None, []
    try:
        if traced:
            with tracer.span("op"):
                res = wl.op(i)
        else:
            res = wl.op(i)
    except Exception:
        errs.append(traceback.format_exc())
    dt = time.perf_counter() - t
    if traced:
        tracer.unwrap_all()
        del wl.span
    if not errs:
        try:
            errs = wl.check(res)
        except Exception:
            errs.append(traceback.format_exc())
    if traced:
        tracer.attach_spark_counts()
    # untimed: drop what the op left cached (minhash_lsh_pairs keeps its
    # signature frame), so every op recomputes its inputs as a one-shot
    # caller would
    wl.spark.catalog.clearCache()
    for e in errs:
        print(f"{wl.name} op {i} failed: {e}", file=sys.stderr)
    return {"i": i, "traced": traced, "s": dt, "ok": not errs, "res": res}


def _run_ops(wl, seconds: float, tracer) -> list[dict]:
    """Cold op, then closed-loop ops for ``seconds``. A traced run traces
    warm ops in the order U U T T U U T T ...; the first one still runs
    slow as the JIT warms and is left out of the traced/untraced
    comparison, and in the rest (U T T U ...) a steady speed-up cancels."""
    ops = [_one(wl, 0, False, None)]
    deadline = time.perf_counter() + seconds
    i = 1
    min_ops = MIN_WARM_OPS[int(tracer is not None)]
    while i <= min_ops or time.perf_counter() < deadline:
        ops.append(_one(wl, i, tracer is not None and i % 4 in (3, 0), tracer))
        i += 1
    return ops


def _untraced_results(ops) -> list:
    return [o["res"] for o in ops[1:] if o["ok"] and not o["traced"]]


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        declared = _declared()
        from nifi_hive_schema_generator_bundle_spark import session
        from workloads import PARAMS, WORKLOADS
    except (ImportError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: cannot start: {e!r}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # keep every temp file of this process, the JVM and its workers in
    # the run's work dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    nproc = len(os.sched_getaffinity(0))
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "master": f"local[{nproc}]", "shuffle_partitions": 2 * nproc,
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(), "params": PARAMS[args.workload],
        "closed_loop": "one client; the next op starts after the previous returned",
    }
    spark = None
    cpu_start = _cpu_times()
    try:
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, work, out_dir)
        record["generate_s"] = time.perf_counter() - t
        layers = _driver_layers(work) if args.trace else {}
        with PeakRss() as rss:
            setups, sessions = [], []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, session_s, setup_s = _setup(session, nproc, _spark_conf(work))
                setups.append(setup_s)
                sessions.append(session_s)
            record.update(
                spark=spark.version,
                java=spark._jvm.System.getProperty("java.version"),
                setup_samples_s=setups,
            )
            wl.spark = spark
            tracer = None
            if args.trace:
                from tracing import Tracer

                tracer = Tracer(spark, run_id)
            ops = _run_ops(wl, args.seconds, tracer)
            companions = []
            if args.trace:
                layers.update(wl.standalone())
                # layers of a workload the benchmark does not schedule,
                # measured here: a cold op, an untraced and a traced one
                for cls in wl.companions:
                    comp = cls(args.seed, work, out_dir)
                    comp.spark = spark
                    comp_tracer = Tracer(spark, f"{run_id}-{comp.name}")
                    comp_ops = [_one(comp, i, i == 2, comp_tracer) for i in range(3)]
                    comp.close()
                    companions.append((comp, comp_tracer, comp_ops))
            wl.close()
            _shutdown(spark)
            spark = None
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["loadavg_end"] = os.getloadavg()
    record["cpu_steal_pct"] = _steal_pct(cpu_start, _cpu_times())
    record["peak_rss_split"] = rss.at_peak
    record["op_samples_s"] = [(o["i"], o["traced"], round(o["s"], 6), o["ok"]) for o in ops]
    record.update(wl.run_record())
    all_ops = ops + [o for _, _, comp_ops in companions for o in comp_ops]
    failed = sum(not o["ok"] for o in all_ops)
    if args.trace:
        from tracing import LAZY_NOTE, rollup
        from workloads import per_op

        spans = rollup(tracer.spans)
        traced = [o["s"] for o in ops if o["ok"] and o["traced"]]
        untraced = [o["s"] for o in ops[2:] if o["ok"] and not o["traced"]]
        layers.update(wl.layer_metrics(spans, _untraced_results(ops)))
        layers.update({
            "cold_op_s": ops[0]["s"],
            "session.get_session_s": statistics.median(sessions),
            "session.cold_setup_s": setups[0],
            "trace.overhead_pct": 100 * (statistics.median(traced) / statistics.median(untraced) - 1)
            if traced and untraced else 0.0,
            "failed_op_share": failed / len(all_ops),
            "spark.jobs_per_op": per_op(spans, "op", "total_jobs"),
            "spark.tasks_per_op": per_op(spans, "op", "total_tasks"),
        })
        _print_self_times(wl.name, spans)
        for comp, comp_tracer, comp_ops in companions:
            comp_spans = rollup(comp_tracer.spans)
            # the scheduled workload's own figures win where names overlap
            for k, v in comp.layer_metrics(comp_spans, _untraced_results(comp_ops)).items():
                layers.setdefault(k, v)
            record[f"{comp.name}_op_samples_s"] = [
                (o["i"], o["traced"], round(o["s"], 6), o["ok"]) for o in comp_ops
            ]
            _print_self_times(comp.name, comp_spans)
            spans = spans + comp_spans
        record["note"] = LAZY_NOTE + "; layers a workload does not exercise report 0"
        print("note " + record["note"])
        with open(os.path.join(out_dir, f"spans-{run_id}.json"), "w", encoding="utf-8") as f:
            json.dump({"run": record, "spans": spans}, f)
        values = {name: layers.get(name, 0.0) for name in declared[1]}
    else:
        warm = [o["s"] for o in ops[2:] if o["ok"]]
        values = {
            "setup_s": statistics.median(setups),
            "op_s": statistics.median(warm) if warm else ops[0]["s"],
            "peak_rss_mb": rss.peak / 2**20,
        }
    units = declared[args.trace]
    metrics = {name: {"value": values[name], "unit": units[name]} for name in units}
    print("run_record " + json.dumps(record, default=str))
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(all_ops),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _print_self_times(workload: str, spans) -> None:
    """Median per-op self time of every span name, in seconds."""
    per: dict[str, dict[int, float]] = {}
    for s in spans:
        per.setdefault(s["name"], {}).setdefault(s["op"], 0.0)
        per[s["name"]][s["op"]] += s["self_s"]
    for name in sorted(per):
        print(f"self_time {workload} {name} = {statistics.median(per[name].values()):.6f} s/op")


if __name__ == "__main__":
    sys.exit(main())
