"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kg_staged --seed 1 --seconds 20 --trace 0

One run is one fresh process at ``local[4]``: start the session, build
the seeded inputs (several times; the median is reported), make one
cold call of the workload's operation, then warm calls, one after the
other, until ``--seconds`` of warm calls (and at least three) have been
measured. Outputs
are checked off the clock. ``--trace 1`` reports the per-layer metrics
instead: it alternates traced and untraced warm calls, so the tracing
overhead is measured, and writes the spans and Spark status-store rows
to ``perfbench/out/trace-<workload>-seed<seed>.json``.

The metric names and units come from ``BENCHMARK.json``. The last line
of standard output is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the run's workload properties.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
MIN_WARM_CALLS = 3
DRIVER_MEM = "1g"

KG_STAGES = ["sentences", "tagged", "mentions", "links", "triples", "edges",
             "entity_nodes"]
PREP_STAGES = ["url_canon", "clean_text", "quality_gate", "exact_dedup",
               "near_dedup", "decontam", "final"]
# spans whose SQL executions run the tagger's Python UDF, and its operator
TAGGER_SPANS = {"tagger", "commit:tagged"}
TAGGER_OP = "MapInPandas"
PY_METRICS = {
    "tagger.python_run_s": ["time to run Python workers"],
    "tagger.python_boot_s": ["time to start Python workers",
                             "time to initialize Python workers"],
    "tagger.arrow_in_bytes": ["data sent to Python workers"],
    "tagger.arrow_out_bytes": ["data returned from Python workers"],
    "tagger.rows_out": ["number of output rows"],
}


def _process_start() -> float:
    """Wall-clock time this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _environment(work: str) -> None:
    """Everything the program writes goes under ``work``, and the Python
    workers import the package from this checkout."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })


def _start_spark(work: str):
    from ner_pytorch_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=CORES, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: otherwise the JVM's share of the
        # peak RSS follows the collector's run-to-run heap sizing
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"})


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _install_spans(tracer) -> None:
    from ner_pytorch_spark.plans import corpus_prep, kg_pipeline
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    tracer.wrap(SnapshotCatalog, "commit", lambda s, t, *a, **k: f"commit:{t}")
    tracer.wrap(SnapshotCatalog, "append_rows",
                lambda s, t, *a, **k: f"append:{t}")
    for cls in (kg_pipeline.KGPipeline, corpus_prep.CorpusPrepPipeline):
        tracer.wrap(cls, "run", lambda *a, **k: "pipeline")
    # stage builders that run Spark jobs before their stage's commit
    for module, fn, stage in (
            (kg_pipeline, "entity_nodes_from_links", "entity_nodes"),
            (corpus_prep, "ngram_jaccard_pairs", "near_dedup"),
            (corpus_prep, "decontaminate", "decontam")):
        tracer.wrap(module, fn, lambda *a, _s=stage, **k: f"build:{_s}")


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _stage_rows(spark, root: str | None) -> dict:
    """The pipeline's own ``_metrics`` rows: stage -> (n_rows, seconds)."""
    if not root:
        return {}
    from ner_pytorch_spark.plans.catalog import SnapshotCatalog

    return {r.stage: (r.n_rows, r.seconds) for r in
            SnapshotCatalog(spark, root).read("_metrics").collect()}


def _call(wl, spark, tracer, kind: str) -> dict:
    """One timed call; its output is summarized off the clock."""
    rec = {"kind": kind, "traced": tracer.enabled, "ok": False}
    t0 = time.perf_counter()
    with tracer.span("call") as span:
        try:
            out, root = wl.call(tracer)
        except Exception:
            traceback.print_exc()
            out = root = None
    rec["seconds"] = time.perf_counter() - t0
    rec["span"] = span
    if out is not None:
        try:
            rec["summary"] = wl.summarize(out)
            rec["stage_rows"] = _stage_rows(spark, root)
            rec["bytes_written"] = _du(root) if root else 0
            rec["ok"] = True
        except Exception:
            traceback.print_exc()
    if root and hasattr(wl, "release"):
        wl.release(root)
    return rec


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _call_layers(tracer, status, stages, execs, rec) -> dict:
    """Per-layer figures of one traced call, from its spans and from the
    stages and SQL executions submitted inside it."""
    from perfbench.trace import dur, in_window

    span = rec["span"]
    inner = tracer.within(span)
    st = [s for s in stages if in_window(s["submitted"], span)]
    out = {f"spark.{k}": sum(s[k] for s in st) for k in (
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "tasks")}
    out.update({
        "spark.executor_run_s": sum(s["run_s"] for s in st),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in st),
        "spark.gc_s": sum(s["gc_s"] for s in st),
        "spark.stages": len(st),
        "spark.task_skew": status.task_skew(max(
            st, key=lambda s: s["completed"] - s["submitted"])) if st else 1.0,
        "catalog.bytes_written": rec.get("bytes_written", 0),
    })
    py = dict.fromkeys(PY_METRICS, 0.0)
    for s in inner:
        if s["name"] not in TAGGER_SPANS:
            continue
        for e in execs:
            if in_window(e["submitted"], s):
                for op in e["operators"]:
                    if op["name"] == TAGGER_OP:
                        for k, names in PY_METRICS.items():
                            py[k] += sum(op["metrics"].get(n, 0.0)
                                         for n in names)
    out.update(py)
    spans = {}
    for s in inner:
        spans[s["name"]] = spans.get(s["name"], 0.0) + dur(s)
    pipes = {s["id"] for s in inner if s["name"] == "pipeline"}
    staged = [s for s in inner if s["parent"] in pipes]
    commit_s = sum(dur(s) for s in staged if s["name"].startswith("commit:"))
    build_s = sum(dur(s) for s in staged if s["name"].startswith("build:"))
    out.update({
        "triples.join_s": spans.get("triples.join", 0.0),
        "catalog.commit_s": commit_s,
        "catalog.append_s": sum(v for k, v in spans.items()
                                if k.startswith("append:")),
        # read-back, lineage collects and the bookkeeping flush
        "staged.overhead_s": (spans["pipeline"] - commit_s - build_s
                              if pipes else 0.0),
    })
    for prefix, names in (("kg", KG_STAGES), ("prep", PREP_STAGES)):
        for n in names:
            out[f"{prefix}.{n}_s"] = (spans.get(f"commit:{n}", 0.0)
                                      + spans.get(f"build:{n}", 0.0))
    return out


def _crosscheck(tracer, rec) -> dict:
    """Each stage's build + commit spans against the pipeline's own
    ``_metrics`` seconds, which also cover read-back and lineage collect."""
    from perfbench.trace import dur

    spans: dict[str, float] = {}
    for s in tracer.within(rec["span"]):
        kind, _, stage = s["name"].partition(":")
        if kind in ("commit", "build"):
            spans[stage] = spans.get(stage, 0.0) + dur(s)
    return {st: {"span_s": spans.get(st), "metrics_s": sec, "n_rows": n,
                 "ok": st in spans and spans[st] <= sec + 1e-3}
            for st, (n, sec) in rec.get("stage_rows", {}).items()}


def _layers(args, spark, tracer, cold, warm, props) -> dict:
    """Per-layer metrics of a traced run; writes the trace file."""
    from perfbench.kernels import kernel_costs
    from perfbench.trace import SparkStatus, self_times
    from perfbench.workloads import KERNEL_SENTENCES

    status = SparkStatus(spark)
    stages, execs = status.stages(), status.executions()
    traced = [r for r in warm if r["traced"]]
    per_call = [_call_layers(tracer, status, stages, execs, r)
                for r in traced]
    metrics = {k: _median([c[k] for c in per_call]) for k in per_call[0]}
    # worker boot is paid by the cold call; warm calls reuse the workers
    metrics["tagger.python_boot_s"] = _call_layers(
        tracer, status, stages, execs, cold)["tagger.python_boot_s"]
    for n in PREP_STAGES:
        metrics[f"prep.{n}_rows"] = cold.get("stage_rows", {}).get(n, (0,))[0]
    t_traced = _median([r["seconds"] for r in traced])
    t_plain = _median([r["seconds"] for r in warm if not r["traced"]])
    metrics.update({
        "session.start_s": props["session_start_s"],
        "tagger.repeat_share": props.get("repeat_share", 0.0),
        "workload.sentences_per_page": props.get("sentences_per_page", 0.0),
        "cache.persisted_rdds": props["persisted_rdds"],
        "cache.residue_dirs": len(props["residue"]),
        "cache.live_broadcast_files": props["live_broadcast_files"],
        "trace.overhead_s": t_traced - t_plain,
        "trace.overhead_share": (t_traced - t_plain) / t_plain,
    })
    metrics.update(kernel_costs(args.seed, KERNEL_SENTENCES, ROOT))
    report = {
        "workload": args.workload, "seed": args.seed,
        "metrics": metrics, "properties": props,
        "calls": [{k: r.get(k) for k in ("kind", "traced", "seconds",
                                        "bytes_written")}
                  for r in [cold] + warm],
        "self_times": [self_times([r["span"]] + tracer.within(r["span"]))
                       for r in traced],
        "crosscheck_metrics_rows": [_crosscheck(tracer, r) for r in traced],
        "spans": tracer.spans,
        "stages": stages,
        "sql_executions": execs,
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{args.workload}-seed"
                           f"{args.seed}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    return metrics


def _prep_drops(props: dict, cold: dict, wl) -> None:
    """Docs each corpus_prep stage dropped, from its ``_metrics`` rows."""
    rows = cold.get("stage_rows", {})
    if "url_canon" not in rows:
        return
    prev = props["docs_in"] = int((wl.docs["doc_id"] % 5 != 0).sum())
    drops = {}
    for n in PREP_STAGES:
        if n in rows:
            drops[n], prev = prev - rows[n][0], rows[n][0]
    props["docs_dropped_by_stage"] = drops


def bench(args, spec: dict, work: str, started: float) -> tuple[dict, dict]:
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    sampler = RssSampler().start()
    spark = _start_spark(work)
    props = {"session_start_s": time.time() - started}
    try:
        tracer = Tracer()
        if args.trace:
            _install_spans(tracer)
        wl = WORKLOADS[args.workload](spark, args.seed, work, ROOT)
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        props["input_setup_s"] = setups

        tracer.enabled = bool(args.trace)
        ticks0 = _cpu_ticks()
        cold = _call(wl, spark, tracer, "cold")
        warm: list[dict] = []
        # at least three warm calls, so the median has a middle; a traced
        # run needs two traced and one untraced
        while (sum(r["seconds"] for r in warm) < args.seconds
               or len(warm) < MIN_WARM_CALLS):
            tracer.enabled = bool(args.trace) and len(warm) % 2 == 0
            warm.append(_call(wl, spark, tracer, "warm"))
        tracer.enabled = False
        peak = sampler.stop()
        steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
        # time the hypervisor ran other guests on the machine's CPUs: the
        # run-to-run noise a benchmark cannot remove
        props["cpu_steal_share"] = steal / max(total, 1)

        tmp = os.environ["TMPDIR"]
        props.update({
            "peak_rss_mb_by_process": {
                k: {"mb": b / 2 ** 20, "processes": n}
                for k, (b, n) in sampler.peak_by_process.items()},
            "persisted_rdds":
                spark.sparkContext._jsc.sc().getPersistentRDDs().size(),
            "residue": sorted(d for d in os.listdir(tmp)
                              if os.path.isdir(os.path.join(tmp, d))),
            "live_broadcast_files":
                len(os.listdir(spark.sparkContext._temp_dir)),
        })
        calls = [cold] + warm
        for r in calls:
            r["ok"] = r["ok"] and wl.check(r["summary"])
        failed = sum(not r["ok"] for r in calls)
        props.update(wl.properties())
        _prep_drops(props, cold, wl)
        props.update({
            "warm_seconds": [r["seconds"] for r in warm],
            "checks": [str(r.get("summary")) for r in calls],
            "failed_share": failed / len(calls),
        })
        if args.trace:
            metrics = _layers(args, spark, tracer, cold, warm, props)
        else:
            ok_warm = [r["seconds"] for r in warm if r["ok"]]
            metrics = {
                "setup_s": props["session_start_s"] + statistics.median(setups),
                "cold_s": cold["seconds"],
                "units_per_s": wl.units / _median(ok_warm, float("nan")),
                "peak_rss_mb": peak / 2 ** 20,
            }
    finally:
        _stop_spark(spark)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]],
                                    "unit": m["unit"]} for m in listed}}, props


def main(argv=None) -> int:
    started = _process_start()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [x for x in ("ner_pytorch_spark", "__spark_entry__.py",
                           "tools", "BENCHMARK.json",
                           os.path.join("artifacts", "conll_weights.npz"))
               if not os.path.exists(os.path.join(ROOT, x))]
    if missing:
        print(f"perfbench: not a full checkout, missing {missing}",
              file=sys.stderr)
        return 2
    # before numpy is first imported: one BLAS thread per process
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        result, props = bench(args, spec, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"properties": props}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
