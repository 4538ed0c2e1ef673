"""Pure arithmetic of the benchmark report: percentiles, span self
times, and the layer metrics derived from a traced run's result file.
No I/O here, so the rules are testable on their own."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, beyond=10):
    """The highest whole percentile that still leaves at least `beyond`
    samples above it, as (percentile, value, n).  None when no percentile
    above p50 qualifies.  Nearest-rank: percentile p is the k-th smallest
    sample with k = ceil(p * n / 100); it leaves n - k samples beyond."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 50, -1):
        k = -(-p * n // 100)
        if n - k >= beyond:
            return p, xs[k - 1], n
    return None


def self_times(spans):
    """{span id: self seconds} where self time is the span's duration
    minus the part of it its children cover (children clipped to the
    parent, overlaps among children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in kids.get(s["id"], ()))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


PLUGINS = ["create_scene", "check_metadata", "metadata_alias", "resample",
           "check_valid_data_fraction", "save_datasets", "check_results",
           "file_publisher"]
COUNTED_PLUGINS = ["check_valid_data_fraction", "save_datasets"]
STREAM = ["batches", "pickup_ms", "trigger_ms", "addBatch_ms", "overhead_ms",
          "walCommit_ms", "latestOffset_ms", "commitOffsets_ms"]


def _stages(jobs):
    """Completed stages once each (a reused shuffle stage is listed by
    every job that depends on it), with the job that ran them."""
    seen = set()
    for j in jobs:
        for s in j["stages"]:
            if s["id"] not in seen:
                seen.add(s["id"])
                yield j, s


def query_metrics(res, names):
    """Per-query metrics of the measured pass over the raster queries
    (`query.<qid>.*`, qid the name's prefix), 0 for a query the run did
    not time.  `query.pass_s` is the measured pass; plan time sums the
    planning phases of the query's actions, shuffle bytes its stages'
    shuffle writes."""
    runs = res.get("queries", {}).get("runs", {})
    m = {"query.pass_s": sum(r["s"] for r in runs.values())}
    for name in names:
        qid = name.split("_")[0]
        r = runs.get(name)
        m[f"query.{qid}.s"] = r["s"] if r else 0.0
        m[f"query.{qid}.plan_ms"] = \
            sum(a["plan_ms"] for a in r["actions"]) if r else 0.0
        m[f"query.{qid}.shuffle_bytes"] = \
            sum(s["shuffle_write"] for _, s in _stages(r["jobs"])) if r else 0.0
    return m


def layer_metrics(res, cells_per_msg, cores):
    """Per-layer metrics of one traced pipeline run.  Times and counts
    are per attempted message unless the name says otherwise."""
    tr = res["trace"]
    ops = res["ops"]
    n = max(1, len(ops))
    n_ok = sum(o["status"] == "ok" for o in ops)
    wall = res["timed_s"]
    spans = tr["spans"]
    selfs = self_times(spans)
    dur = {}
    for s in spans:
        dur.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    total = {k: sum(v) for k, v in dur.items()}
    m = {
        "session.start_s": res["session_s"],
        "session.warmup_s": res["warmup_s"],
        "Messages.toContext_ms": total.get("Messages.toContext", 0) * 1e3 / n,
        "PluginRegistry.chain_ms": total.get("PluginRegistry.chain", 0) * 1e3 / n,
        "Runner.processJobs_s": total.get("Runner.processJobs", 0) / n,
        "Runner.overhead_ms": sum(selfs[s["id"]] for s in spans
                                  if s["name"] == "Runner.processJobs") * 1e3 / n,
    }
    for p in PLUGINS:
        m[f"Plugins.{p}.s"] = total.get(f"Plugins.{p}", 0) / n

    jobs, actions = tr["jobs"], tr["actions"]
    stages = list(_stages(jobs))
    for p in COUNTED_PLUGINS:
        own = [(j, s) for j, s in stages if j["owner"] == p]
        m[f"Plugins.{p}.jobs"] = sum(j["owner"] == p for j in jobs) / n
        m[f"Plugins.{p}.scan_rows"] = sum(s["rows_in"] for _, s in own) / n
        m[f"Plugins.{p}.task_s"] = sum(s["run_ms"] for _, s in own) / 1e3 / n

    run_ms = sum(s["run_ms"] for _, s in stages)
    m.update({
        "spark.actions": len(actions) / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for _, s in stages) / n,
        "spark.plan_ms": sum(a["plan_ms"] for a in actions) / n,
        "spark.exec_ms": sum(a["exec_ns"] for a in actions) / 1e6 / n,
        "spark.task_busy_frac": run_ms / 1e3 / (wall * cores),
        "spark.scan_amplification":
            sum(s["rows_in"] for _, s in stages) / (cells_per_msg * n_ok)
            if n_ok else 0.0,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for _, s in stages) / n,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for _, s in stages) / n,
        "spark.spill_bytes": sum(s["spill"] for _, s in stages) / n,
        "spark.output_bytes": sum(s["out_bytes"] for _, s in stages) / n,
        "spark.gc_s": sum(s["gc_ms"] for _, s in stages) / 1e3 / n,
    })

    files = sum(len(o["files"]) for o in ops)
    save_execs = {j["exec_id"] for j in jobs
                  if j["owner"] == "save_datasets" and j["exec_id"] >= 0}
    m["save_datasets.files"] = files / n
    m["save_datasets.actions_per_file"] = len(save_execs) / files if files else 0.0

    # the micro-batches of the timed messages, in message order
    op_batch = res.get("op_batch", [])
    by_id = {b["batch_id"]: b for b in tr["batches"]}
    batches = [by_id[i] for i in op_batch if i in by_id]
    m.update({f"StreamRunner.{k}": 0.0 for k in STREAM})
    if batches:
        d = [b["duration_ms"] for b in batches]

        def mean_of(key):
            return statistics.fmean(x.get(key, 0) for x in d)
        pick = [b["start_ms"] - w for b, w in zip(batches, res["written_ms"])]
        m.update({
            "StreamRunner.batches":
                sum(i >= op_batch[0] for i in by_id) / n,
            "StreamRunner.pickup_ms": statistics.fmean(pick) if pick else 0.0,
            "StreamRunner.trigger_ms": mean_of("triggerExecution"),
            "StreamRunner.addBatch_ms": mean_of("addBatch"),
            "StreamRunner.overhead_ms":
                mean_of("triggerExecution") - mean_of("addBatch"),
            "StreamRunner.walCommit_ms": mean_of("walCommit"),
            "StreamRunner.latestOffset_ms": mean_of("latestOffset"),
            "StreamRunner.commitOffsets_ms": mean_of("commitOffsets"),
        })
    m["jvm.gc_s"] = res["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = res["jvm_heap_peak_mb"]
    self_sum = sum(selfs.values())
    return m, self_sum
