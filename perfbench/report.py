#!/usr/bin/env python3
"""Render perfbench/REPORT.md from saved run results.

    python3 perfbench/run.py --workload ingest_hourly --seed 7 --seconds 15 --trace 1
    python3 perfbench/run.py --workload ingest_hourly --seed 7 --seconds 15 --trace 0
    python3 perfbench/run.py --workload ingest_hourly --seed 7 --seconds 15 --trace 0 --cores 1
    python3 perfbench/run.py --workload query_mix --seed 7 --seconds 15 --trace 1
    python3 perfbench/run.py --workload query_mix --seed 7 --seconds 15 --trace 0
    python3 perfbench/report.py --seed 7 --cores 4

Each run saves its full result under perfbench/results/; this script reads
the traced and plain runs of one seed and writes the report.
"""
import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def load(workload, seed, kind, cores):
    with open(os.path.join(HERE, "results", f"{workload}-seed{seed}-{kind}-c{cores}.json")) as f:
        return json.load(f)


def v(res, key, section="metrics"):
    return res[section][key]["value"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args()
    it, ip = (load("ingest_hourly", a.seed, k, a.cores) for k in ("trace", "plain"))
    i1 = load("ingest_hourly", a.seed, "plain", 1)
    qt, qp = (load("query_mix", a.seed, k, a.cores) for k in ("trace", "plain"))
    env = it.get("env", {})
    out = []
    w = out.append
    w("# perfbench traced-run report\n")
    w(f"Seed {a.seed}; Spark local[{a.cores}], heap {v(it, 'heap_max_mb', 'info'):.0f} MB, "
      f"JDK {env.get('jdk')}, Spark {env.get('spark')}, Scala {env.get('scala')}, "
      f"{env.get('os_arch')}. Regenerate with the commands in `report.py`. "
      "Times are seconds on this box, medians over the run's drains or passes. "
      "No figure here is a performance claim.\n")

    trig = v(it, "stream.trigger_s")
    w("## ingest_hourly: where a drain's trigger time goes\n")
    w(f"One drain = {v(it, 'stream.batches'):.0f} micro-batches of "
      f"{v(it, 'frames', 'info') / v(it, 'stream.batches'):.0f} frames. "
      f"Sum of `triggerExecution` per drain: {trig:.3f} s.\n")
    w("| part of the blocking path (per drain) | layer | s | share of trigger |")
    w("|---|---|---|---|")
    rows = [("latest offsets", "sources.kafka", "kafka.latest_offset_s"),
            ("get batch", "sources.kafka", "kafka.get_batch_s"),
            ("query planning", "streaming", "stream.query_planning_s"),
            ("WAL commit", "streaming", "stream.wal_commit_s"),
            ("raw sink write (Kafka fetch + decode run inside it)", "operators", "export.raw_write_s"),
            ("aggregate sink write", "operators", "export.agg_write_s"),
            ("rest of addBatch (table commit, persist, isCommitted)", "sources / streaming",
             "stream.add_batch_rest_s"),
            ("offset commit", "streaming", "stream.commit_offsets_s")]
    total = 0.0
    for label, layer, key in rows:
        total += v(it, key)
        w(f"| {label} | {layer} | {v(it, key):.3f} | {v(it, key) / trig:.1%} |")
    w(f"| **sum** | | **{total:.3f}** | **{total / trig:.1%}** |\n")
    w(f"Within `addBatch`, no Spark job runs for {v(it, 'stream.driver_gap_s'):.3f} s "
      f"(`stream.driver_gap_s`); write-command job commit {v(it, 'export.job_commit_s'):.3f} s, "
      f"task commit {v(it, 'export.task_commit_s'):.3f} s. Each drain writes "
      f"{v(it, 'export.files'):.0f} files in {v(it, 'export.partition_dirs'):.0f} partition "
      f"directories ({v(it, 'export.bytes'):.0f} B) from {v(it, 'export.write_tasks'):.0f} "
      f"write tasks (max/median task time {v(it, 'export.write_task_skew'):.2f}); "
      f"the hour repartition shuffles {v(it, 'export.shuffle_bytes'):.0f} B.\n")

    w("### Replay of the first trigger, call by call (self time)\n")
    w("The traced run replays the first trigger's frames through the calls "
      "`BidPipeline.exportBatch` makes. Self time = span minus its child spans.\n")
    w("| span | self s |")
    w("|---|---|")
    for k, val in sorted(it["info"].items()):
        if k.startswith("self."):
            w(f"| {k[5:]} | {val['value']:.3f} |")
    w("")
    w(f"Kafka fetch loop over the staged topic: {v(it, 'kafka.records'):.0f} records at "
      f"{v(it, 'kafka.fetch_msgs_per_s'):.0f} msg/s. Decode of one trigger's frames: "
      f"{v(it, 'proto.decode_s'):.3f} s ({v(it, 'proto.decode_msgs_per_s'):.0f} msg/s). "
      f"`proto.rejected` = {v(it, 'proto.rejected'):.0f}, injected poison = "
      f"{v(it, 'poison', 'info'):.0f}. Table commit {v(it, 'table.commit_s'):.3f} s; "
      f"`GraftTable.read` to first task {v(it, 'table.read_plan_s'):.3f} s.\n")

    qtot = v(qt, "query.total_s")
    w("## query_mix: where a pass goes\n")
    w("| family | s per pass | share |")
    w("|---|---|---|")
    fams = [k for k in qt["metrics"] if k.startswith("query.") and k.endswith("_s")
            and k not in ("query.total_s", "query.task_cpu_s", "query.driver_gap_s")]
    for k in fams:
        w(f"| {k[6:-2]} | {v(qt, k):.3f} | {v(qt, k) / qtot:.1%} |")
    fsum = sum(v(qt, k) for k in fams)
    w(f"| **sum** | **{fsum:.3f}** | **{fsum / qtot:.1%}** |\n")
    w(f"Per pass: {v(qt, 'query.jobs'):.0f} jobs, {v(qt, 'query.stages'):.0f} stages, "
      f"{v(qt, 'query.tasks'):.0f} tasks, task CPU {v(qt, 'query.task_cpu_s'):.3f} s, "
      f"driver-side gap (no job running) {v(qt, 'query.driver_gap_s'):.3f} s, shuffle "
      f"{v(qt, 'query.shuffle_bytes'):.0f} B, spill {v(qt, 'query.spill_bytes'):.0f} B, "
      f"memo warm hits {v(qt, 'query.memo_warm_hits'):.0f}.\n")
    w("| query | s (median pass) |")
    w("|---|---|")
    for k, val in qt["info"].items():
        if k.startswith("q."):
            w(f"| {k[2:]} | {val['value']:.3f} |")
    w("")

    w("## Tracing overhead\n")
    w("End-to-end figures come from the plain run; the traced run adds the job, stage "
      "and task listener. Overhead = traced / plain - 1, from one run of each: the "
      "run-to-run spread of these times on a 4-vCPU box is 12-15% (IQR/median over "
      "ten seeds), so an overhead inside that band is not resolved.\n")
    w("| workload | plain | traced | overhead |")
    w("|---|---|---|---|")
    pi = v(ip, "frames", "info") / v(ip, "throughput_per_s")
    w(f"| ingest_hourly drain s | {pi:.3f} | {v(it, 'trace.wall_s'):.3f} | "
      f"{v(it, 'trace.wall_s') / pi - 1:+.1%} |")
    pq = v(qp, "query_total_s", "info")
    w(f"| query_mix pass s | {pq:.3f} | {qtot:.3f} | {qtot / pq - 1:+.1%} |\n")

    w("## Single-thread baseline (ungated, one run each)\n")
    w(f"ingest_hourly at local[1]: {v(i1, 'throughput_per_s'):.0f} msg/s, batch p50 "
      f"{v(i1, 'batch_p50_s', 'info'):.3f} s; at local[{a.cores}]: {v(ip, 'throughput_per_s'):.0f} msg/s, "
      f"batch p50 {v(ip, 'batch_p50_s', 'info'):.3f} s "
      f"({v(ip, 'throughput_per_s') / v(i1, 'throughput_per_s'):.2f}x).\n")
    with open(os.path.join(HERE, "REPORT.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
