#!/usr/bin/env python3
"""CDC-lake benchmark: one workload per invocation, outputs checked.

    python3 perfbench/run.py --workload mor_trickle_reads --seed 1 --seconds 20 --trace 0

Run from the repository root. A run measures whole cycles (a compaction cycle
of two commits, or one corpus refresh, each with its reads) for at least
``--seconds`` and at least the workload's minimum number of cycles. The engine
runs on a session sized for a small host (``local[min(4, nproc)]``, 2 GB
driver heap) and every file the run writes
stays under ``.perfbench_work/`` in the current directory, which is removed
at the end. Human-readable lines go to stdout first; the last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans are also written to ``.perfbench_out/``). A correctness
mismatch prints ``"correct": false`` and exits 1; a missing engine exits 2
before printing any result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def _require_engine() -> None:
    """The benchmark drives the repository's engine and oracle; without them
    there is nothing to measure."""
    for rel in ("bbc_news_etl_pipeline_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.stderr.write(f"perfbench: {rel} not found under {ROOT}; run from the repo root\n")
            sys.exit(2)
    for p in (ROOT, os.path.dirname(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _session(work: str, cores: int):
    from pyspark import SparkContext

    from bbc_news_etl_pipeline_spark.session import build_session, ship_engine_package

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark_local"),
            # a fixed young generation: G1's adaptive young sizing otherwise
            # moves the JVM's peak RSS by +-15% from run to run
            "spark.driver.extraJavaOptions": f"-Xmn256m -Djava.io.tmpdir={os.path.join(work, 'jvm_tmp')}",
        },
    )
    ship_engine_package(spark)
    return spark, SparkContext._gateway.proc


def _stop(spark, proc) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


#: end-to-end metric -> (unit, what it is on each workload: mor | corpus).
#: Timings are the median over the run's cycles of each cycle's mean; a
#: cycle is one compaction cycle (mor) or one refresh with its reads (corpus).
E2E = {
    "setup_s": ("s", "session start + warm-up + input and oracle generation"),
    "write_mean_s": ("s", "writer call: one epoch until committed (incl. in-loop compaction) | one corpus refresh incl. its four stores"),
    "read_mean_s": ("s", "point read: LakeTable.read_key collected | indexed substring_search over the refreshed retained store"),
    "scan_mean_s": ("s", "full read: read_state(...).count() | trigram_index of the refreshed retained store, written"),
    "write_amp": ("bytes/byte", "data bytes written / payload bytes applied"),
    "space_amp": ("bytes/byte", "bytes the head references / live payload bytes"),
    "peak_rss_mb": ("MB", "driver + JVM peak RSS (VmHWM)"),
}

#: per-layer metric -> (unit, end-to-end metric it should move, workload)
LAYER = {
    "session.start_s": ("s", "setup_s", "all"),
    "session.warmup_s": ("s", "setup_s", "all"),
    "generator.stream_s": ("s", "setup_s", "ingest"),
    "event_log.read_range_s": ("s", "write_mean_s", "ingest"),
    "event_log.bytes_per_epoch": ("bytes", "write_mean_s", "ingest"),
    "replay.epoch_self_s": ("s", "write_mean_s", "ingest"),
    "replay.jobs_per_epoch": ("count", "write_mean_s", "ingest"),
    "replay.stages_per_epoch": ("count", "write_mean_s", "ingest"),
    "replay.tasks_per_epoch": ("count", "write_mean_s", "ingest"),
    "replay.failed_tasks": ("count", "op_error_rate", "ingest"),
    "replay.stage.stats_probe_s": ("s", "write_mean_s", "ingest"),
    "replay.stage.build_delta_dag_s": ("s", "write_mean_s", "ingest"),
    "replay.stage.merge_write_s": ("s", "write_mean_s", "ingest"),
    "replay.stage.lineage_digest_s": ("s", "write_mean_s", "ingest"),
    "replay.stage.list_epoch_files_s": ("s", "write_mean_s", "ingest"),
    "lake.commit_s": ("s", "write_mean_s", "ingest"),
    "lake.files_live": ("count", "scan_mean_s", "ingest"),
    "lake.files_per_bucket_max": ("count", "scan_mean_s", "ingest"),
    "lake.bytes_written_per_epoch": ("bytes", "write_amp", "ingest"),
    "lake.compact_s": ("s", "write_mean_s", "mor_trickle_reads"),
    "lake.compactions": ("count", "write_amp", "mor_trickle_reads"),
    "lake.compact_bytes_rewritten": ("bytes", "write_amp", "mor_trickle_reads"),
    "lake.layers_per_bucket_max": ("count", "read_mean_s", "mor_trickle_reads"),
    "lake.read_key_s": ("s", "read_mean_s", "mor_trickle_reads"),
    "lake.read_key_files_examined": ("count", "read_mean_s", "mor_trickle_reads"),
    "lake.read_state_s": ("s", "scan_mean_s", "mor_trickle_reads"),
    "lake.read_state_tasks": ("count", "scan_mean_s", "mor_trickle_reads"),
    "lake.read_changes_s": ("s", "changes_read_p50_s (table only)", "mor_trickle_reads"),
    "lake.read_changes_tasks": ("count", "changes_read_p50_s (table only)", "mor_trickle_reads"),
    "observability.scrape_s": ("s", "scrape_p50_s (table only)", "mor_trickle_reads"),
    "observability.manifests_read_per_scrape": ("count", "scrape_p50_s (table only)", "mor_trickle_reads"),
    "corpus.refresh_jobs": ("count", "write_mean_s", "corpus_refresh"),
    "corpus.refresh_stages": ("count", "write_mean_s", "corpus_refresh"),
    "corpus.refresh_tasks": ("count", "write_mean_s", "corpus_refresh"),
    "corpus.store_write_s": ("s", "write_mean_s", "corpus_refresh"),
    "corpus.delta_docs": ("count", "write_mean_s (base)", "corpus_refresh"),
    "corpus.pairs_new": ("count", "write_mean_s (base)", "corpus_refresh"),
    "corpus.full_cut_s": ("s", "write_mean_s (refresh-speedup reference)", "corpus_refresh"),
    "trace.write_mean_s": ("s", "write_mean_s (traced; overhead = this - untraced)", "all"),
}


def _layer_metrics(res, tracer) -> dict[str, float]:
    from perfbench.trace import median

    m = {k: 0.0 for k in LAYER}
    m.update({k: v for k, v in res.setup.items() if k in m})
    m.update({k: float(v) for k, v in res.layer.items() if k in m})
    epochs = tracer.named("replay.apply_epoch")
    if epochs:
        m["replay.epoch_self_s"] = median(tracer.self_times("replay.apply_epoch"))
        for k in ("jobs", "stages", "tasks"):
            m[f"replay.{k}_per_epoch"] = median([s["work"][k] for s in epochs])
    m["replay.failed_tasks"] = float(sum(s["work"]["failed_tasks"] for s in tracer.named("replay.epoch_call")))
    for k in ("stats_probe", "build_delta_dag", "merge_write", "lineage_digest", "list_epoch_files"):
        m[f"replay.stage.{k}_s"] = median(tracer.durations(f"replay.stage.{k}"))
    # the writer's log reads only: read_changes also reads the log
    epoch_ids = {s["id"] for s in epochs}
    m["event_log.read_range_s"] = median([
        s["end"] - s["start"] for s in tracer.named("event_log.read_range") if s["parent"] in epoch_ids
    ])
    m["lake.commit_s"] = median(tracer.durations("lake.commit"))
    event_epochs = [e for e in res.per_epoch if not e["compaction"]]
    compactions = [e for e in res.per_epoch if e["compaction"]]
    if res.per_epoch:
        last = res.per_epoch[-1]
        m["lake.files_live"] = float(last["files_live"])
        m["lake.files_per_bucket_max"] = float(max(e["files_per_bucket_max"] for e in res.per_epoch))
        m["lake.layers_per_bucket_max"] = float(max(e["layers_per_bucket_max"] for e in res.per_epoch))
        m["lake.bytes_written_per_epoch"] = median([e["bytes_written"] for e in event_epochs])
        m["lake.compactions"] = float(len(compactions))
        m["lake.compact_bytes_rewritten"] = float(sum(e["bytes_written"] for e in compactions))
    did_compact = [s for s in tracer.named("lake.compact_if_over") if s.get("work", {}).get("jobs")]
    m["lake.compact_s"] = median([s["end"] - s["start"] for s in did_compact])
    m["lake.read_key_s"] = median(tracer.durations("lake.read_key"))
    m["lake.read_key_files_examined"] = median([
        sum(c.get("files", 0) for c in s["children"] if c["name"] == "lake.read_resolved")
        for s in tracer.named("lake.read_key")
    ])
    for op in ("read_state", "read_changes"):
        spans = tracer.named(f"lake.{op}")
        m[f"lake.{op}_s"] = median(tracer.durations(f"lake.{op}"))
        m[f"lake.{op}_tasks"] = median([s["work"]["tasks"] for s in spans])
    scrapes = tracer.named("observability.scrape")
    m["observability.scrape_s"] = median(tracer.durations("observability.scrape"))
    if scrapes:
        m["observability.manifests_read_per_scrape"] = median([s.get("lake.manifest_reads", 0) for s in scrapes])
    refreshes = tracer.named("corpus.refresh")
    if refreshes:
        for k in ("jobs", "stages", "tasks"):
            m[f"corpus.refresh_{k}"] = median([s["work"][k] for s in refreshes])
        m["corpus.store_write_s"] = median(tracer.durations("corpus.store_write"))
    m["trace.write_mean_s"] = median(res.per_cycle("write"))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _require_engine()

    from perfbench.trace import Tracer, median, tail
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}\n")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cores = max(1, min(4, os.cpu_count() or 1))

    spark = proc = None
    try:
        t_setup = time.perf_counter()
        spark, proc = _session(work, cores)
        start_s = time.perf_counter() - t_setup
        tracer = Tracer(spark, bool(args.trace))
        res = WORKLOADS[args.workload](spark, args.seed, args.seconds, work, tracer)
        res.setup["session.start_s"] = start_s
        rss = _vm_hwm_mb("self") + (_vm_hwm_mb(proc.pid) if proc else 0.0)
    finally:
        if spark is not None:
            _stop(spark, proc)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = res.loop_start - t_setup
    cycles = res.cycle
    table = {
        "setup_s": (setup_s, 1),
        "write_mean_s": (median(res.per_cycle("write")), cycles),
        "read_mean_s": (median(res.per_cycle("read")), cycles),
        "scan_mean_s": (median(res.per_cycle("scan")), cycles),
        "write_amp": (res.bytes_written / max(1, res.payload_bytes), 1),
        "space_amp": (res.stored_bytes / max(1, res.live_bytes), 1),
        "peak_rss_mb": (rss, 1),
    }
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={cores} cycles={cycles}")
    for k, (v, n) in table.items():
        print(f"{k:24s} {v:14.6f} {E2E[k][0]:10s} n={n:<4d} {E2E[k][1]}")
    write_wall = sum(res.times("write"))
    print(f"  ingest rate      {res.items_written / write_wall if write_wall else 0.0:.3f} 1/s "
          "(derived: items applied / timed writer wall; not gated)")
    for label, kind in (("commit/refresh", "write"), ("point_read", "read"), ("snapshot_read", "scan"),
                        ("changes_read", "changes"), ("scrape", "scrape")):
        xs = res.times(kind)
        if xs:
            tv, tp = tail(xs)
            tail_txt = f"p{tp} {tv:.6f}s" if tv is not None else "tail n/a (<20 samples)"
            print(f"  {label:16s} n={len(xs):<4d} p50 {median(xs):.6f}s  {tail_txt}  samples {[round(x, 3) for x in xs]}")
    print(f"  op_error_rate    {res.failed / max(1, res.attempted):.6f} ratio ({res.failed}/{res.attempted})")
    for e in res.errors:
        print(f"  MISMATCH: {e}")

    if args.trace:
        metrics_src = _layer_metrics(res, tracer)
        metrics = {k: {"value": v, "unit": LAYER[k][0]} for k, v in metrics_src.items()}
        for k, v in metrics_src.items():
            print(f"{k:42s} {v:14.6f} {LAYER[k][0]:6s} -> {LAYER[k][1]} [{LAYER[k][2]}]")
        if res.per_epoch:
            cols = ("epoch", "compaction", "wall_s", "jobs", "stages", "tasks", "files_live",
                    "files_per_bucket_max", "layers_per_bucket_max", "bytes_written", "buckets_written")
            print("# per epoch (jobs/stages/tasks are the whole writer call's): " + " ".join(cols))
            for e in res.per_epoch:
                row = {**(e.get("work") or {}), **e, "compaction": int(e["compaction"])}
                print("  " + " ".join(str(round(row.get(c, "-"), 3) if isinstance(row.get(c), float) else row.get(c, "-")) for c in cols))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": v, "unit": E2E[k][0]} for k, (v, _) in table.items()}

    correct = res.failed == 0 and res.attempted > 0 and res.cycle > 0
    print(json.dumps({"correct": correct, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
