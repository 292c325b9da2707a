"""Metrics from one run record written by `graft.perfbench.Main`.

Pure functions over the record, so the benchmark's own logic (tail pick,
self time, span attribution, cost split) is tested without Spark:
`python3 perfbench/test_perfbench.py`.
"""
import statistics

MIB = 1024 * 1024
TAIL_BEYOND = 10

# span-name prefix -> layer (the repo's modules)
LAYERS = [("dag.", "dag"), ("spark.action", "action"), ("ivm.", "ivm"),
          ("store.", "store"), ("index.", "index")]
SPARK_LAYERS = ["dag", "action", "ivm", "store", "index"]
# the curation DAG's node names (perfbench/src/Workloads.scala)
DAG_NODES = ["documents", "bench", "corpus0", "quality_gate", "lang_id",
             "en_gate", "exact", "exact_ids", "exact_join", "minhash_pairs",
             "near_dup_survivors", "dedup_barrier", "decontamination",
             "overlap_gate", "clean_ids", "clean_join", "quantile_gate",
             "quality_barrier", "domain_mix", "copy_uid", "token_count",
             "sequence_pack", "token_shard", "shard_totals", "sort"]
WAVE_KINDS = ("fact_upsert", "fact_delete", "dim_upsert", "dim_delete")
SPARK_FIELDS = ["jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
                "sql_execs", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest percentile with at least
    TAIL_BEYOND samples above it, i.e. the order statistic with exactly
    TAIL_BEYOND samples beyond it. With too few samples for any such
    percentile the median is reported, labelled p50."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return median(xs), 50.0, n
    s = sorted(xs)
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def self_times(spans):
    """span id -> self time in seconds: the span's duration minus the part
    of its interval covered by its child spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cur, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def attribute(spans, jobs, origin_epoch_ms):
    """job id -> span id. A job carries the id of the span open on the
    submitting thread; a job without one goes to the innermost span whose
    interval holds its submission time. -1 = no span."""
    out = {}
    for j in jobs:
        if j["span"] >= 0:
            out[j["job"]] = j["span"]
            continue
        t = (j["time_ms"] - origin_epoch_ms) * 1_000_000
        best = None
        for s in spans:
            if s["start_ns"] <= t <= s["end_ns"] and (
                    best is None or s["start_ns"] >= best["start_ns"]):
                best = s
        out[j["job"]] = best["id"] if best else -1
    return out


def layer(name):
    for prefix, lay in LAYERS:
        if name.startswith(prefix):
            return lay
    return None


def ols(xs, ys):
    """(intercept, slope) of the least-squares line; (median y, 0) when x
    does not vary."""
    if len(xs) < 2 or len(set(xs)) < 2:
        return median(ys), 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return my - slope * mx, slope


def freshness(ops):
    """Seconds from a change's submission until a result reflecting it is
    served: an op's write phase plus its first read (a batch DAG iteration
    composes and then runs its plan)."""
    return [o["write_s"] + o["serves"][0] for o in ops if o["write_s"] > 0 and o["serves"]]


def end_to_end(rec):
    """The end-to-end metrics of one run: name -> (value, unit, note)."""
    timed = [o for o in rec["ops"] if o["timed"]]
    ok = [o for o in timed if o["ok"]]
    plain = [o for o in ok if not o["traced"]] or ok
    m = {"setup_s": (rec["setup_s"], "s", ""), "build_s": (rec["build_s"], "s", "")}

    def lat(prefix, xs):
        m[prefix + "_p50_s"] = (median(xs), "s", f"n={len(xs)}")
        v, p, n = tail(xs)
        m[prefix + "_tail_s"] = (v, "s", f"p{p:.1f} n={n}")

    rounds = {}
    for o in plain:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["dur_s"]
    lat("batch", list(rounds.values()))
    # the view's waves are `wave`; the index's (or the DAG's) reads and
    # writes are `serve` and `write`
    lat("wave", freshness([o for o in plain if o["kind"] in WAVE_KINDS + ("batch",)]))
    # an index write's read is part of its freshness, not a `serve`
    lat("serve", [s for o in plain if o["kind"] in ("batch", "serve") for s in o["serves"]])
    writes = [o["write_s"] for o in plain if o["write_s"] > 0 and o["kind"] not in WAVE_KINDS]
    m["write_p50_s"] = (median(writes), "s", f"n={len(writes)}")
    m["state_mb"] = (rec["disk_peak_bytes"] / MIB, "MB", f"store files={rec['store_files']}")
    m["live_heap_mb"] = (rec["live_heap_bytes"] / MIB, "MB", "")
    m["ok_frac"] = (len(ok) / len(timed) if timed else 0.0, "frac",
                    f"{len(ok)}/{len(timed)}")
    return m


def spark_sums(job_ids, rec):
    """Spark counters summed over a set of jobs; `sql_execs` counts the
    distinct SQL executions that ran them."""
    jobs = {j["job"]: j for j in rec["spark"].get("jobs", [])}
    stages = {s["stage"]: s for s in rec["spark"].get("stages", [])}
    sqls = {j["sql"] for j in (jobs[i] for i in job_ids if i in jobs) if j["sql"] >= 0}
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    for i in job_ids:
        j = jobs.get(i)
        if j is None:
            continue
        out["jobs"] += 1
        out["stages"] += len(j["stages"])
        out["stages_skipped"] += j["skipped"]
        for sid in j["stages"]:
            s = stages.get(sid)
            if s is None:
                continue
            out["tasks"] += s["tasks"]
            out["tasks_failed"] += s["failed"]
            out["task_run_s"] += s["run_ms"] / 1e3
            out["task_cpu_s"] += s["cpu_ns"] / 1e9
            out["gc_s"] += s["gc_ms"] / 1e3
            out["shuffle_write_mb"] += s["shuffle_write"] / MIB
            out["shuffle_read_mb"] += s["shuffle_read"] / MIB
            out["spill_mb"] += s["spill"] / MIB
            out["input_mb"] += s["input"] / MIB
    out["sql_execs"] = float(len(sqls))
    return out


def per_layer(rec):
    """Per-layer metrics of a traced run: name -> (value, unit)."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    jobs = rec["spark"].get("jobs", [])
    owner = attribute(spans, jobs, rec["origin_epoch_ms"])
    selft = self_times(spans)
    cores = rec["host"]["cores"]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def root_op(sid):
        return by_id[sid]["op"] if sid in by_id else None

    def under(sid, name):
        while sid in by_id:
            if by_id[sid]["name"] == name:
                return True
            sid = by_id[sid]["parent"]
        return False

    ops = [o for o in rec["ops"] if o["traced"]]
    timed_traced = [o for o in ops if o["timed"]]
    op_ids = {o["i"] for o in timed_traced}

    def med_dur(name, timed=True):
        """Median duration of the named spans (of timed traced ops)."""
        return median([dur(s) for s in spans
                       if s["name"] == name and (not timed or s["op"] in op_ids)])
    m = {}

    # spark: per timed traced op, plus per layer
    run_jobs = [j for j, s in owner.items() if root_op(s) in op_ids]
    n_ops = max(len(timed_traced), 1)
    tot = spark_sums(run_jobs, rec)
    for f in SPARK_FIELDS:
        m[f"spark.{f}"] = (tot[f] / n_ops, "count" if f in (
            "jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "sql_execs")
            else ("MB" if f.endswith("_mb") else "s"))
    wall = sum(o["dur_s"] for o in timed_traced)
    m["spark.driver_share"] = (1 - tot["task_run_s"] / (wall * cores) if wall else 0.0, "frac")
    for lay in SPARK_LAYERS:
        js = [j for j, s in owner.items() if root_op(s) in op_ids and s in by_id
              and layer(by_id[s]["name"]) == lay]
        sums = spark_sums(js, rec)
        m[f"spark.{lay}.jobs"] = (sums["jobs"] / n_ops, "count")
        m[f"spark.{lay}.task_run_s"] = (sums["task_run_s"] / n_ops, "s")

    # dag: plan composition and per-node self time
    m["dag.compose_s"] = (med_dur("dag.transform"), "s")
    nodes = {}
    for s in spans:
        if s["name"].startswith("dag.node.") and s["op"] in op_ids:
            nodes.setdefault(s["name"][len("dag.node."):], []).append(selft[s["id"]])
    for name in DAG_NODES:
        m[f"dag.node_s.{name}"] = (median(nodes.get(name, [])), "s")

    # functions: task CPU under the action span, per iteration
    act = [j for j, s in owner.items() if root_op(s) in op_ids and under(s, "spark.action")]
    m["functions.task_cpu_s"] = (spark_sums(act, rec)["task_cpu_s"] / n_ops, "s")

    # ivm: per-kind maintenance time, serve, jobs per wave, fixed/per-row split
    kinds = {o["i"]: o["kind"] for o in timed_traced}
    maint = {}
    for s in spans:
        if s["op"] in kinds and s["name"] in ("store.publish", "store.stream",
                                              "ivm.dim_upsert", "ivm.dim_delete"):
            maint[s["op"]] = maint.get(s["op"], 0.0) + dur(s)
    for k in ("fact_upsert", "fact_delete", "dim_upsert", "dim_delete"):
        m[f"ivm.{k}_s"] = (median([v for i, v in maint.items() if kinds[i] == k]), "s")
    m["ivm.serve_s"] = (med_dur("ivm.serve"), "s")
    waves = [o for o in timed_traced if o["kind"] in WAVE_KINDS]
    per_op_jobs = {}
    for j, s in owner.items():
        if s in by_id:
            per_op_jobs[by_id[s]["op"]] = per_op_jobs.get(by_id[s]["op"], 0) + 1
    m["ivm.jobs_per_wave"] = (median([per_op_jobs.get(o["i"], 0) for o in waves]), "count")
    all_waves = [o for o in rec["ops"] if o["ok"] and o["kind"] in WAVE_KINDS]
    a, b = ols([o["rows"] / 1000 for o in all_waves], [o["dur_s"] for o in all_waves])
    m["ivm.wave_fixed_s"] = (a, "s")
    m["ivm.wave_per_krow_s"] = (b, "s")

    # store: publish and stream calls, files and bytes under the state roots
    m["store.publish_s"] = (med_dur("store.publish"), "s")
    m["store.stream_s"] = (med_dur("store.stream"), "s")
    m["store.files"] = (float(rec["store_files"]), "count")
    m["store.mb"] = (rec["store_bytes"] / MIB, "MB")

    # index: fit, serve, writes, folds, fixed/per-row split of writes
    m["index.fit_s"] = (med_dur("index.fit", timed=False), "s")
    m["index.serve_s"] = (med_dur("index.serve"), "s")
    m["index.update_s"] = (med_dur("index.update"), "s")
    m["index.delete_s"] = (med_dur("index.delete"), "s")
    serves = [o for o in timed_traced if o["kind"] == "serve"]
    writes = [o for o in timed_traced if o["kind"] in ("update", "delete")]
    m["index.serve_jobs"] = (median([per_op_jobs.get(o["i"], 0) for o in serves]), "count")
    m["index.write_jobs"] = (median([per_op_jobs.get(o["i"], 0) for o in writes]), "count")
    m["index.fold_s"] = (median([o["write_s"] for o in writes
                                 if o["files_after"] < o["files_before"]]), "s")
    all_writes = [o for o in rec["ops"] if o["ok"] and o["kind"] in ("update", "delete")]
    a, b = ols([o["rows"] / 1000 for o in all_writes], [o["write_s"] for o in all_writes])
    m["index.write_fixed_s"] = (a, "s")
    m["index.write_per_krow_s"] = (b, "s")

    m["trace.overhead_frac"] = (overhead(rec["ops"]), "frac")
    return m


def overhead(ops):
    """Tracing overhead of a traced run, whose timed ops alternate traced and
    untraced: median traced over median untraced time - 1, on the op kind
    with the most samples on both sides (0 when no kind has both)."""
    timed = [o for o in ops if o["timed"] and o["ok"]]
    best, n = 0.0, 0
    for k in {o["kind"] for o in timed}:
        on = [o["dur_s"] for o in timed if o["kind"] == k and o["traced"]]
        off = [o["dur_s"] for o in timed if o["kind"] == k and not o["traced"]]
        if on and off and min(len(on), len(off)) > n:
            best, n = median(on) / median(off) - 1, min(len(on), len(off))
    return best
