"""End-to-end benchmark of the hourly pipeline and the corpus curation path.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload obs_trickle --seed 1 --seconds 10 --trace 0

One driver process runs every batch on ``local[nproc]``, one batch at a
time (a closed loop), the way the hourly DAG runs hour after hour.  A run
starts the session once (``setup_s``: the JVM launch included), runs a
cold first batch, then warm batches until their summed wall reaches
``--seconds`` (at least five).  Inputs are made from ``--seed`` before
each batch and every batch's output is checked against a pure-Python
oracle afterwards; neither counts toward a timing.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; ``failed`` counts the
batches whose output the oracle rejected.  With ``--trace 0`` the metrics
are the end-to-end ones (see ``END_TO_END``): ``setup_s``, the wall time
of the session start, and ``cold_batch_cpu_s``, the CPU seconds of the
process tree spent on the cold batch.  With ``--trace 1`` they are the
per-layer ones (see ``perfbench/tracing.py``), and after its batches the
run measures the layers the batches leave out (below), then repeats its
first two batches on ``local[1]`` as an ungated single-thread baseline.
The line before the result is a JSON detail record: per-batch wall and
CPU seconds, record counts and oracle mismatches; the cold batch's wall
and, over the second half of the warm batches, the median batch wall and
CPU seconds and records per wall and per CPU second; what the generators
planted, ``failed_frac``, the peak resident memory of the JVM plus this
process, the host's CPU steal fraction over the run and ``nproc``.

Workloads (``perfbench/workloads.py``):

* ``obs_trickle`` -- reference-sized hourly drops (15 events, 60 records)
  through ``observability_correlation_pipeline.yaml`` with a stable work
  dir, then TLB metrics.  The traced run also folds two hours into the six
  maintained stores, the second followed by maintenance.
* ``corpus`` -- generated shards through the ``curate`` stage of
  ``corpus_curation_pipeline.yaml`` to parquet, then MinHash-LSH
  near-duplicate pairs.  The traced run also writes the YAML's other three
  stages for one shard.
* ``obs_bulk``, ``obs_ties``, ``corpus_pii`` -- not part of
  ``BENCHMARK.json``: each exposes a known defect of the program (see
  ``workloads.UNLISTED``), so its runs report ``correct: false`` until the
  defect is fixed.

All files go under ``.perfbench/`` in the working directory, which is
removed at the end of the run except for ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170  # every run must end within 180 s
# no new batch starts unless it is expected to end this many seconds into
# the run (by --trace), leaving time for the checks and teardown; the traced
# run's extras (store folds or other stages, operator self times, the
# local[1] baseline) are skipped when they would not end by
# EXTRAS_DEADLINE_S
MAIN_DEADLINE_S = {0: 150, 1: 90}
EXTRAS_DEADLINE_S = 155
# warm batches at least (by --trace).  The JVM is still compiling hot
# code over the first several warm batches (their CPU time falls by about
# half from the first to the fifth), so the detail line reports only the
# second half of the untraced run's warm batches.  The traced run
# alternates untraced and traced batches, runs exactly MIN_WARM[1] warm
# batches and needs room for its extras.
MIN_WARM = {0: 5, 1: 3}

# Gated metrics.  The cold batch is counted in CPU seconds of the whole
# process tree (this process, the JVM and its Python workers): on a host
# whose CPUs are shared, its wall time moves with the hypervisor's CPU
# steal (by 30-100% at a steal of 0.1-0.2), its CPU time much less.  Warm
# batches are not gated: each run starts a fresh JVM whose JIT is still
# compiling after the fifth warm batch, and the level it reaches differs
# from JVM to JVM, so their median CPU seconds spread by 0.15-0.5 of the
# median over ten runs (IQR) and their wall seconds by 0.2-0.4; the cold
# batch spreads by 0.04-0.11 in CPU seconds.
END_TO_END = {
    "setup_s": "s",
    "cold_batch_cpu_s": "s",
}

LAYER_CALLS = (
    "sources.write_json_array",
    "sources.write_parquet",
    "plans.compile",
    "plans.tlb",
    "operators.minhash_lsh_pairs",
    "streaming.fold",
    "streaming.maintenance",
)
CALL_COUNTERS = {
    "spark_s": "s",
    "driver_s": "s",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "input_records": "count",
    "failed_tasks": "count",
}
CORPUS_STAGES = ("curate", "budget", "vectors", "entropy_sample")
FOLDS = ("agg", "sessions", "cdc", "postings", "topk", "cc")
OBS_OPS = ("enrich", "extract_mapping", "pair_page_views", "correlate")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit (the ``--trace 1`` output)."""
    from perfbench.workloads import CORPUS_OPS

    units = {
        "session.get_spark_s": "s",
        "sources.read.tasks": "count",
        "sources.scan_amplification": "ratio",
    }
    for c in LAYER_CALLS:
        units[f"{c}_s"] = "s"
        units.update({f"{c}.{k}": u for k, u in CALL_COUNTERS.items()})
    units.update({f"plans.stage.{s}_s": "s" for s in CORPUS_STAGES})
    units.update({f"operators.{o}_s": "s" for o in OBS_OPS})
    units.update({name: "s" for name in CORPUS_OPS.values()})
    units["operators.minhash_lsh.recall"] = "ratio"
    units["streaming.drain_s"] = "s"
    units["streaming.drain.batches"] = "count"
    units.update({f"streaming.fold.{f}_s": "s" for f in FOLDS})
    units["streaming.store.bytes"] = "bytes"
    units["streaming.store.files"] = "count"
    units["trace.batch_s"] = "s"
    units["trace.overhead_s"] = "s"
    units["trace.unaccounted_s"] = "s"
    units["local1.batch_s"] = "s"
    units["local1.speedup"] = "ratio"
    units["process.peak_rss_mb"] = "MB"
    return units


# ---------------------------------------------------------------------------
# host and process probes


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM and any Python workers it starts.  Time the
    hypervisor steals from the host's CPUs is not in it."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    # fields after the parenthesized command name
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                continue
            stats[int(pid)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------------------
# session lifecycle


class Session:
    """The benchmark's Spark session and the JVM behind it."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, master: str) -> float:
        from odp_dynamic_data_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=master,
            extra_confs={
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        wall = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return wall

    def peak_rss_mb(self) -> float:
        """Peak resident memory so far of the JVM plus this process (the
        sum of the two peaks)."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(proc.pid) if proc is not None else 0.0)

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- any failure to exit: kill
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# batches


def instrument(tracer):
    """Wrap the layer entry points that ``Pipeline.run`` and the corpus
    batch call, so the traced run sees compile and each sink as its own
    layer call.  Returns a function that restores the originals."""
    import functools

    from odp_dynamic_data_pipeline_spark.plans.pipeline import Pipeline
    from odp_dynamic_data_pipeline_spark.sources import writers

    targets = (
        (Pipeline, "compile", "plans.compile"),
        (writers, "write_json_array", "sources.write_json_array"),
        (writers, "write_parquet", "sources.write_parquet"),
    )
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    for owner, attr, name in targets:
        fn = getattr(owner, attr)

        def wrapped(*a, __fn=fn, __name=name, **k):
            with tracer.span(__name, layer=True):
                return __fn(*a, **k)

        setattr(owner, attr, functools.wraps(fn)(wrapped))

    def restore():
        for owner, attr, fn in originals:
            setattr(owner, attr, fn)

    return restore


def run_batches(spark, wl, seconds, deadline, min_warm, tracer=None, max_batches=None) -> list[dict]:
    """Cold batch, then warm batches until their summed wall reaches
    ``seconds`` (at least ``min_warm``), or ``max_batches`` in all.  With
    ``tracer`` (traced run) warm batches alternate untraced / traced,
    starting and ending untraced, so every traced batch has an untraced
    neighbour on each side.  A batch that raises ends the loop."""
    from perfbench.workloads import NoTrace

    batches: list[dict] = []
    warm_wall = 0.0
    i = 0
    while True:
        inp = wl.prepare(i)
        traced = tracer is not None and i >= 2 and i % 2 == 0
        if tracer is not None:
            tracer.active, tracer.batch = traced, i
            drain0 = (tracer.drain.batches, tracer.drain.seconds)
        tr = tracer or NoTrace()
        cpu = tree_cpu_s()
        t = time.perf_counter()
        try:
            out = wl.run_batch(spark, inp, tr)
            err = None
        except Exception as e:  # noqa: BLE001 -- a failed batch is a result
            out, err = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t
        cpu = tree_cpu_s() - cpu
        b = {
            "i": i, "wall_s": wall, "cpu_s": cpu, "records": inp["records"], "traced": traced,
            "inp": inp, "out": out,
        }
        b["errors"] = [err] if err else wl.check(inp, out)
        if traced:
            b["scan"] = tracer.collect_batch(i)
            b["drain"] = (tracer.drain.batches - drain0[0], tracer.drain.seconds - drain0[1])
        batches.append(b)
        if err:
            print(f"perfbench: batch {i} failed: {err}", file=sys.stderr)
            break
        if i > 0:
            warm_wall += wall
        i += 1
        warm = i - 1
        done = warm >= min_warm and warm_wall >= seconds
        if tracer is not None:
            done = done and warm % 2 == 1
        if done or i == max_batches:
            break
        # the cold batch is always followed by at least one warm batch
        if warm and time.time() + wall > deadline:
            break
    if tracer is not None:
        tracer.active = False
    return batches


def summarize(batches: list[dict], setup_s: float) -> tuple[dict[str, float], dict[str, float]]:
    """End-to-end metrics, and the figures for the detail line: the cold
    batch's wall and, over the second half of the warm batches, wall and
    CPU seconds of the median batch and records per wall and CPU second.
    A run whose cold batch raised reports the warm figures as 0."""
    warm = batches[1:]
    measured = warm[len(warm) // 2:]
    figures: dict[str, float] = {"batch_p50_samples": len(measured)}
    for key, suffix in (("wall_s", ""), ("cpu_s", "_cpu")):
        total = sum(b[key] for b in measured)
        figures[f"batch{suffix}_p50_s"] = statistics.median(b[key] for b in measured) if measured else 0.0
        figures[f"records_per{suffix}_s"] = sum(b["records"] for b in measured) / total if total else 0.0
    figures["cold_batch_s"] = batches[0]["wall_s"]
    return {"setup_s": setup_s, "cold_batch_cpu_s": batches[0]["cpu_s"]}, figures


def call_metrics(tot: dict[str, dict]) -> dict[str, float]:
    """Per-layer-call wall and counters, per corpus stage and per store
    fold, from one batch's :meth:`Tracer.batch_totals`."""
    row = {}
    for c in LAYER_CALLS:
        names = [n for n in tot if n == c or (c == "streaming.fold" and n.startswith("streaming.fold."))]
        row[f"{c}_s"] = sum(tot[n]["wall_s"] for n in names)
        for k in CALL_COUNTERS:
            row[f"{c}.{k}"] = sum(tot[n].get(k, 0.0) for n in names)
    for s in CORPUS_STAGES:
        row[f"plans.stage.{s}_s"] = tot.get(f"plans.stage.{s}", {}).get("wall_s", 0.0)
    for f in FOLDS:
        row[f"streaming.fold.{f}_s"] = tot.get(f"streaming.fold.{f}", {}).get("wall_s", 0.0)
    return row


def layer_metrics(batches, tracer, setup_s, more) -> dict[str, float]:
    """Per-layer metrics.  Layer calls of the batches are medians over the
    traced batches of their per-batch totals; the layer calls of the
    extras (store folds with maintenance, or the corpus stages the batches
    leave out) are added once, so e.g. ``sources.write_parquet_s`` covers
    every stage of one shard.  ``more`` holds the metrics measured outside
    the tracer (store size, operator self times, the local[1] baseline,
    peak memory)."""
    traced = [b for b in batches if b["traced"]]

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    per_batch = []
    for b in traced:
        row = call_metrics(tracer.batch_totals(b["i"]))
        row["sources.read.tasks"] = b["scan"]["read_tasks"]
        row["sources.scan_amplification"] = b["scan"]["input_records"] / b["records"]
        row["streaming.drain.batches"], row["streaming.drain_s"] = b["drain"]
        row["trace.batch_s"] = b["wall_s"]
        row["trace.unaccounted_s"] = b["wall_s"] - tracer.layer_wall(b["i"])
        per_batch.append(row)
    out = {name: med(r[name] for r in per_batch) for name in (per_batch[0] if per_batch else {})}
    for name, v in call_metrics(tracer.batch_totals(EXTRAS)).items():
        out[name] = out.get(name, 0.0) + v
    out["session.get_spark_s"] = setup_s
    # traced minus untraced wall, against the mean of the two untraced
    # neighbours (cancels the warm-up trend)
    out["trace.overhead_s"] = med(
        b["wall_s"] - (batches[b["i"] - 1]["wall_s"] + batches[b["i"] + 1]["wall_s"]) / 2
        for b in traced
        if b["i"] + 1 < len(batches)
    )
    if "planted_pairs" in batches[0]["inp"]:
        from perfbench.oracle import minhash_recall

        out["operators.minhash_lsh.recall"] = med(
            minhash_recall(b["out"]["pairs"], b["inp"]["planted_pairs"]) for b in batches if b["out"]
        )
    out.update(more)
    units = per_layer_units()
    return {name: out.get(name, 0.0) for name in units}


# tracer batch id of the layer calls the traced run makes after its batches
EXTRAS = "extras"


def run_extras(spark, wl, workload, batches, tracer, work, room) -> dict:
    """The layers the traced run's batches leave out, measured once:
    ``obs_trickle`` folds its first two hours into the six maintained
    stores (the second fold traced, with the maintenance that follows it)
    and checks the stores; ``corpus`` writes and checks the YAML's other
    stages for its last traced shard.  Returns the walls, the oracle
    mismatches and any metrics that are not layer calls."""
    from perfbench.workloads import StoreFolds

    if workload == "obs_trickle" and len(batches) >= 2 and room() > 12 * batches[1]["wall_s"]:
        folds = StoreFolds(wl.data, f"{work}/stores")
        walls = []
        for k, b in enumerate(batches[:2]):
            tracer.active, tracer.batch = k == 1, EXTRAS
            t = time.perf_counter()
            folds.fold(spark, b["inp"], tracer)
            walls.append(time.perf_counter() - t)
        tracer.active = False
        tracer.collect_batch(EXTRAS)
        n_bytes, n_files = folds.size()
        return {
            "name": "store_folds",
            "wall_s": walls,
            "errors": folds.check(spark),
            "metrics": {"streaming.store.bytes": n_bytes, "streaming.store.files": n_files},
        }
    traced = [b for b in batches if b["traced"]]
    if workload == "corpus" and traced and room() > 4 * traced[-1]["wall_s"]:
        tracer.active, tracer.batch = True, EXTRAS
        t = time.perf_counter()
        errors = wl.other_stages(spark, traced[-1]["inp"], tracer)
        wall = time.perf_counter() - t
        tracer.active = False
        tracer.collect_batch(EXTRAS)
        return {"name": "other_stages", "wall_s": [wall], "errors": errors}
    return {}


def detail(args, batches, setup_s, steal, extra) -> dict:
    rows = []
    for b in batches:
        inp = b["inp"]
        planted = inp.get("kinds") and {
            **inp["kinds"], "near_dup_pairs": len(inp["planted_pairs"]), "embeddings": inp["n_emb"]
        }
        rows.append({
            "i": b["i"],
            "wall_s": b["wall_s"],
            "cpu_s": b["cpu_s"],
            "traced": b["traced"],
            "records": b["records"],
            "counts": inp.get("counts") or planted,
            "errors": b["errors"],
        })
    failed = sum(1 for b in batches if b["errors"])
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "cpu_steal_frac": steal,
        "setup_s": setup_s,
        "failed_frac": failed / len(batches),
        "batches": rows,
        **extra,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True,
        choices=("obs_trickle", "corpus", "obs_bulk", "obs_ties", "corpus_pii"),
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.time()

    def on_signal(signum, frame):
        # SystemExit is not an Exception, so no batch handler swallows it
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    # a timeout or a termination still runs the cleanup that stops the JVM
    signal.signal(signal.SIGALRM, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    signal.alarm(RUN_LIMIT_S)

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        import odp_dynamic_data_pipeline_spark  # noqa: F401 -- the program under test
    except ImportError as e:
        print(f"perfbench: run from the root of a checkout ({e})", file=sys.stderr)
        return 2
    from perfbench import workloads

    n = nproc()
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    results = os.path.join(root, ".perfbench", "results")
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # keep every file the run and its JVMs write inside the checkout (the
    # JVM's perf-counter file would otherwise go to /tmp/hsperfdata_<user>)
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:+PerfDisableSharedMem"
    os.environ["SPARK_GRAFT_CPUS"] = str(n)

    steal0, total0 = cpu_ticks()
    session = Session(work)
    try:
        setup_s = session.start(f"local[{n}]")
        extra: dict = {}
        spark = session.spark
        wl = workloads.make(args.workload, args.seed, f"{work}/main")
        checked: list[dict] = []
        if not args.trace:
            batches = run_batches(
                spark, wl, args.seconds, t_start + MAIN_DEADLINE_S[0], MIN_WARM[0]
            )
            extra["peak_rss_mb"] = session.peak_rss_mb()
            metrics, extra["figures"] = summarize(batches, setup_s)
            units = END_TO_END
        else:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark)
            restore = instrument(tracer)
            try:
                batches = run_batches(spark, wl, 0.0, t_start + MAIN_DEADLINE_S[1], MIN_WARM[1], tracer)
                extra["peak_rss_mb"] = session.peak_rss_mb()

                def room():
                    return t_start + EXTRAS_DEADLINE_S - time.time()

                extras = run_extras(spark, wl, args.workload, batches, tracer, work, room)
            finally:
                restore()
                tracer.active = False
            if extras:
                checked.append(extras)
                extra["extras"] = {k: v for k, v in extras.items() if k != "metrics"}
            traced = [b for b in batches if b["traced"]]
            self_times = {}
            if traced and room() > 2 * traced[-1]["wall_s"]:
                self_times = wl.self_times(spark, traced[-1]["inp"])
            tracer.close()
            tracer.dump(f"{results}/{args.workload}-seed{args.seed}-spans.json")
            more = {**extras.get("metrics", {}), **self_times, "process.peak_rss_mb": extra["peak_rss_mb"]}
            # single-thread baseline: the first two batches again on local[1];
            # its warm batch against the median untraced warm batch above
            if len(batches) > 1 and room() > 3 * batches[1]["wall_s"]:
                os.environ["SPARK_GRAFT_CPUS"] = "1"
                session.start("local[1]")
                wl1 = workloads.make(args.workload, args.seed, f"{work}/local1")
                base = run_batches(session.spark, wl1, 0.0, float("inf"), 1, max_batches=2)
                checked += base
                more["local1.batch_s"] = base[-1]["wall_s"]
                untraced = [b["wall_s"] for b in batches[1:] if not b["traced"]]
                more["local1.speedup"] = base[-1]["wall_s"] / statistics.median(untraced)
                extra["local1_batches"] = [
                    {"i": b["i"], "wall_s": b["wall_s"], "records": b["records"], "errors": b["errors"]}
                    for b in base
                ]
            metrics = layer_metrics(batches, tracer, setup_s, more)
            units = per_layer_units()
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        checked = batches + checked
        failed = sum(1 for b in checked if b["errors"])
        print(json.dumps(detail(args, batches, setup_s, steal, extra)))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        session.close()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
