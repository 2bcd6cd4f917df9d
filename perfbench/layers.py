"""Output checks and metric derivation for the benchmark runner.

End-to-end metrics come from the harness's operation timings; per-layer
metrics come from the spans of the traced run (run -> operation -> layer
call -> SQL execution -> job -> stage, plus named executions and block
updates attributed to their operation).
"""
import glob
import os
import re
import statistics
import sys

import duckdb
import pyarrow.parquet as pq

import stats

MB = 1024 * 1024
FENCE_FUNCS = {"localCheckpoint", "checkpoint", "fence", "checkpointHashPartitioned"}
PLAN_PHASES = ("analysis", "optimization", "planning")

# (name, unit) of every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = [
    ("jvm_start_s", "s"), ("session_s", "s"), ("inputgen_s", "s"), ("prepare_s", "s"),
    ("warmup_s", "s"),
    ("op_ms", "ms"), ("driver_ms", "ms"), ("plan_ms", "ms"), ("analysis_ms", "ms"),
    ("optimization_ms", "ms"), ("planning_ms", "ms"), ("sql_ms", "ms"), ("job_ms", "ms"),
    ("sql_executions", "count"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("scan_tasks", "count"), ("task_cpu_ms", "ms"), ("task_run_ms", "ms"), ("gc_ms", "ms"),
    ("core_util", "ratio"), ("sched_idle_ms", "ms"),
    ("input_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("output_mb", "MB"),
    ("fence_count", "count"), ("fence_mb", "MB"),
    ("trace_overhead", "ratio"), ("trace_noise", "ratio"),
    ("peak_rss_mb", "MB"), ("nonheap_mb", "MB"),
]
SETUP_PARTS = ("jvm_start_s", "session_s", "inputgen_s", "prepare_s", "warmup_s")
# JVM memory: the heap is pinned and pre-touched, so peak RSS is the heap
# plus offheap_peak_mb, and what the program keeps on the heap is
# live_heap_mb (in use after a full collection, taken after the warm-up)
END_TO_END_MEMORY = ("live_heap_mb", "offheap_peak_mb")
LAYER_MEMORY = ("peak_rss_mb", "nonheap_mb")


def cpu_model():
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def _fail(op, reason):
    if op["ok"]:
        op["ok"] = False
        op["error"] = reason


# ------------------------------------------------------------------ checks

def check_outputs(workload, raw, in_dir, root):
    """Check the run's outputs; a mismatch fails the operations it
    belongs to. Returns what was checked."""
    if workload == "rag_serve":
        return _check_knowledge_base(raw, in_dir)
    return _check_catalog(raw, in_dir, root)


def _check_knowledge_base(raw, in_dir):
    """Each knowledge-base build's chunk count, and the final store's
    row count and dense chunk_0..n-1 ids, against the rows of the
    engine's c1_chunk oracle (the Chunker rules in DuckDB SQL) over the
    corpus. (Answers were checked against brute force in the JVM.)"""
    extra = raw["extra"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{os.path.join(in_dir, 'documents.parquet')}'")
    want = con.execute(f"SELECT count(*) FROM ({extra['chunk_oracle']})").fetchone()[0]
    store = os.path.join(extra["store"], "*.parquet")
    # dense: distinct ids of the form chunk_<i> with i < row count
    n, distinct, dense = con.execute(f"""
        WITH s AS (SELECT id FROM '{store}'), n AS (SELECT count(*) AS c FROM s)
        SELECT (SELECT c FROM n), count(DISTINCT id),
               count(DISTINCT id) FILTER (WHERE regexp_full_match(id, 'chunk_[0-9]+')
                                            AND CAST(substr(id, 7) AS BIGINT) < (SELECT c FROM n))
        FROM s""").fetchone() if glob.glob(store) else (0, 0, 0)
    builds = [op for op in raw["setup_ops"] if op["kind"] == "rebuild"]
    for op in builds:
        if op["result"].get("chunks") != want:
            _fail(op, f"wrong answer: {op['result'].get('chunks')} chunks, DuckDB counts {want}")
    if not (n == want and distinct == n and dense == n):
        _fail(builds[-1], f"wrong store: {n} rows, {distinct} distinct ids, {dense} dense "
                          f"chunk_0..n-1 ids; DuckDB counts {want} chunks")
    return {"expected_chunks": want, "store_rows": n, "store_distinct_ids": distinct,
            "store_dense_ids": dense, "checked_answers": extra.get("checked_answers", 0)}


def _check_catalog(raw, in_dir, root):
    """Each query's checked set-up output against its oracle SQL in
    DuckDB, under the comparison rules of tools/check.py. A mismatch
    fails the checked operation and every timed run of the query."""
    extra = raw["extra"]
    ops = raw["setup_ops"] + raw["ops"]
    failed_setup = {op["name"]: op["error"] for op in raw["setup_ops"]
                    if op["kind"] == "check" and not op["ok"]}
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # the oracle comparison rules of tools/check.py
    con = duckdb.connect()
    for t in extra["tables"]:
        con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                    f"SELECT * FROM '{os.path.join(in_dir, t)}'")
    verdict = {}
    for q in extra["mix"]:
        reason = failed_setup.get(q)
        files = sorted(glob.glob(os.path.join(extra["outputs"], q, "*.parquet")))
        oracle = extra["oracle_sql"].get(q)
        if reason is None and oracle is None:
            reason = "no oracle SQL registered"
        if reason is None:
            try:
                got = pq.read_table(files) if files else None
                want = con.sql(oracle).arrow()
                if got is None:
                    reason = "output missing"
                else:
                    gc, gf, gr = check.rows_of(got)
                    wc, wf, wr = check.rows_of(want)
                    if gc != wc:
                        reason = f"columns {gc} != {wc}"
                    elif gf != wf:
                        reason = f"types {gf} != {wf}"
                    elif len(gr) != len(wr):
                        reason = f"rows {len(gr)} != {len(wr)}"
                    elif gr != wr:
                        reason = "values differ"
            except Exception as e:  # an oracle that cannot run fails the check, with its reason
                reason = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
        verdict[q] = reason or "ok"
        if reason:
            other = (f"not checked: the checked run failed ({reason})" if q in failed_setup
                     else f"wrong answer: {reason}")
            for op in ops:
                if op["name"] == q:
                    _fail(op, reason if op["kind"] == "check" else other)
    return {"oracle": verdict}


# ----------------------------------------------------------------- metrics

def units_of_work(workload, ops):
    """(wall_ms, ops) per unit of work: an answer, or a full pass of the
    catalog mix. A failed operation contributes no time; an incomplete
    pass is dropped."""
    if workload != "catalog":
        return [(op["wall_ms"], [op]) for op in ops if op["ok"]]
    passes = {}
    for op in ops:
        passes.setdefault(op["pass"], []).append(op)
    size = max(len(v) for v in passes.values()) if passes else 0
    return [(sum(o["wall_ms"] for o in v if o["ok"]), v)
            for _, v in sorted(passes.items()) if len(v) == size]


def summarize(workload, raw, in_dir, trace):
    ops = raw["ops"]
    every = raw["setup_ops"] + ops
    setup = raw["setup"]
    untraced = [op for op in ops if not op["traced"]]
    units = units_of_work(workload, untraced)
    walls = [w for w, _ in units]
    attempted, failed = len(every), sum(1 for op in every if not op["ok"])
    setup_s = sum(setup[k] for k in SETUP_PARTS)
    p50 = statistics.median(walls) if walls else float("nan")
    window = raw["window"]
    mem = {k: (v, "MB") for k, v in raw["memory"].items()}
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (p50, "ms"),
        **{k: mem[k] for k in END_TO_END_MEMORY},
    }
    named = {"setup_s": (setup_s, "s"), "failed_frac": (failed / max(1, attempted), "1"),
             **mem}
    tail = None
    if workload == "rag_serve":
        named["answer_p50_ms"] = (p50, "ms")
        tail = stats.tail_percentile(walls)
        if tail is not None:
            named[f"answer_p{tail:g}_ms"] = (stats.percentile(walls, tail), "ms")
        builds = [op["wall_ms"] for op in raw["setup_ops"]
                  if op["kind"] == "rebuild" and op["ok"]]
        if builds:
            named["ingest_docs_per_s"] = (_rows(in_dir, "documents.parquet")
                                          / (statistics.median(builds) / 1e3), "1/s")
    else:
        named["catalog_s"] = (p50 / 1e3, "s")
    out = {
        "attempted": attempted, "failed": failed,
        "failures": [{"id": op["id"], "name": op["name"], "reason": op["error"]}
                     for op in every if not op["ok"]],
        "samples": {"n": len(walls), "window_s": (window["end"] - window["start"]) / 1e3,
                    "quartiles_ms": stats.quartiles(walls) if walls else None,
                    "tail_percentile": tail, "setup": setup},
        "named": named, "end_to_end": end_to_end,
    }
    if trace:
        per_layer, breakdown = traced_layers(workload, raw, in_dir)
        out["per_layer"] = per_layer
        out["breakdown"] = breakdown
    return out


def _rows(in_dir, name):
    return pq.ParquetFile(os.path.join(in_dir, name)).metadata.num_rows


def _span_ms(s):
    return s["end"] - s["start"]


def closed(spans):
    """Spans that ended (an unfinished span has no end)."""
    return [s for s in spans if s["end"] is not None]


def span_tree(raw):
    """Every closed span of the traced run, with the run, set-up and
    pass spans the harness implies, and each SQL execution moved under
    the layer call of its operation that was open when it started."""
    spans = closed(raw["spans"])
    ops = raw["setup_ops"] + raw["ops"]
    if not spans or not ops:
        return spans
    groups = {}
    for op in ops:
        parent = "setup" if op in raw["setup_ops"] else (f"pass:{op['pass']}" if op["pass"]
                                                       else "run")
        groups.setdefault(parent, []).append(op)
    extra = [{"id": "run", "name": "run", "kind": "run", "parent": "", "op": "",
              "start": min(op["start"] for op in ops), "end": max(op["end"] for op in ops),
              "counters": {}, "attrs": {}}]
    for gid, members in groups.items():
        if gid != "run":
            extra.append({"id": gid, "name": gid, "kind": gid.split(":")[0], "parent": "run",
                          "op": "", "start": min(op["start"] for op in members),
                          "end": max(op["end"] for op in members), "counters": {}, "attrs": {}})
    layer_spans = {}
    for s in spans:
        if s["kind"] == "layer":
            layer_spans.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        if s["kind"] == "sql":
            inside = [ly for ly in layer_spans.get(s["parent"], [])
                      if ly["start"] <= s["start"] <= ly["end"]]
            if inside:
                s = dict(s, parent=inside[0]["id"])
        out.append(s)
    return extra + out


def self_times(spans):
    """Self time of every span: its duration minus what its direct
    children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: stats.self_time((s["start"], s["end"]), kids.get(s["id"], []))
            for s in spans}


def op_layers(op, ss, cores):
    """Layer counters of one traced operation from its spans."""
    wall = op["wall_ms"]
    kind = lambda k: [s for s in ss if s["kind"] == k]
    sqls, jobs, stages, execs = kind("sql"), kind("job"), kind("stage"), kind("exec")
    d = {k: 0.0 for k, _ in PER_LAYER}
    d["op_ms"] = wall
    d["driver_ms"] = max(0.0, wall - stats.union_ms([(s["start"], s["end"])
                                                      for s in sqls + jobs]))
    d["sql_ms"] = stats.union_ms([(s["start"], s["end"]) for s in sqls])
    d["job_ms"] = stats.union_ms([(s["start"], s["end"]) for s in jobs])
    d["sql_executions"], d["jobs"], d["stages"] = len(sqls), len(jobs), len(stages)
    for st in stages:
        c = st["counters"]
        d["tasks"] += c.get("tasks", 0)
        if c.get("input_bytes", 0) > 0:
            d["scan_tasks"] += c.get("tasks", 0)
        d["task_cpu_ms"] += c.get("task_cpu_ms", 0)
        d["task_run_ms"] += c.get("task_run_ms", 0)
        d["gc_ms"] += c.get("gc_ms", 0)
        d["input_mb"] += c.get("input_bytes", 0) / MB
        d["shuffle_write_mb"] += c.get("shuffle_write_bytes", 0) / MB
        d["spill_mb"] += c.get("spill_bytes", 0) / MB
        d["output_mb"] += c.get("output_bytes", 0) / MB
    d["sched_idle_ms"] = max(0.0, wall * cores - d["task_run_ms"])
    for e in execs:
        for ph in PLAN_PHASES:
            v = e["counters"].get(f"{ph}_ms", 0)
            d[f"{ph}_ms"] += v
            d["plan_ms"] += v
        d["fence_count"] += e["name"] in FENCE_FUNCS
    d["fence_mb"] = sum(s["counters"].get("bytes", 0) for s in ss if s["kind"] == "block") / MB
    # the workload's own layer calls, and the ingest path's SQL executions
    calls = {}
    for s in ss:
        if s["kind"] == "layer":
            calls[f"{s['name']}_ms"] = calls.get(f"{s['name']}_ms", 0.0) + _span_ms(s)
    if op["kind"] == "rebuild":
        for part in ("extract_ms", "index_ms", "guard_ms"):
            calls[part] = 0.0
        for e in execs:
            part = {"csv": "extract_ms", "parquet": "index_ms"}.get(e["attrs"]["sink"], "guard_ms")
            calls[part] += e["counters"].get("duration_ms", 0)
        # positional ids: the RDD jobs of the index step run outside SQL executions
        calls["index_ms"] += sum(_span_ms(j) for j in jobs if not j["parent"].startswith("sql:"))
    return d, calls


def trace_overhead(seq):
    """(overhead, noise, measured) from the traced run's units of work
    in run order, as (traced, wall) pairs: untraced and traced units
    alternate. Each traced unit is compared with the mean of its
    untraced neighbours, which cancels a steady drift such as JIT
    warm-up; `measured` is the median of those ratios minus 1 and
    `noise` their spread (IQR / median). An overhead no larger than the
    noise is reported as 0: it was not measured apart from the noise."""
    ratios = []
    for k, (traced, wall) in enumerate(seq):
        near = [seq[j][1] for j in (k - 1, k + 1) if 0 <= j < len(seq) and not seq[j][0]]
        if traced and near:
            ratios.append(wall / statistics.mean(near))
    if not ratios:
        return float("nan"), float("nan"), float("nan")
    q1, med, q3 = stats.quartiles(ratios)
    noise = (q3 - q1) / med if len(ratios) >= 2 else float("inf")
    measured = med - 1
    return (measured if abs(measured) > noise else 0.0), noise, measured


def traced_layers(workload, raw, in_dir):
    """Per-layer metrics of the traced part of the window, per unit of
    work (an answer, or a pass), plus the workload's own layer-call
    breakdown and, for rag_serve, the knowledge-base builds' layers."""
    spans = closed(raw["spans"])
    cores = raw["env"]["nproc"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    units = units_of_work(workload, [op for op in raw["ops"] if op["traced"]])
    n = max(1, len(units))
    in_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(in_dir, "*.parquet")))
    tot = {k: 0.0 for k, _ in PER_LAYER}
    breakdown, per_query = {}, {}
    for _, unit_ops in units:
        for op in unit_ops:
            d, calls = op_layers(op, by_op.get(op["id"], []), cores)
            for k, v in d.items():
                tot[k] += v
            for k, v in calls.items():
                breakdown[k] = breakdown.get(k, 0.0) + v / n
            if workload == "catalog":
                q = per_query.setdefault(op["name"], {"wall_s": [], "jobs": []})
                q["wall_s"].append(op["wall_ms"] / 1e3)
                q["jobs"].append(d["jobs"])
    per_layer = {k: v / n for k, v in tot.items()}
    per_layer["core_util"] = tot["task_run_ms"] / max(1e-9, tot["op_ms"] * cores)
    traced_p50 = statistics.median([w for w, _ in units]) if units else float("nan")
    per_layer["trace_overhead"], per_layer["trace_noise"], measured = trace_overhead(
        [(unit_ops[0]["traced"], w) for w, unit_ops in units_of_work(workload, raw["ops"])])
    for k in SETUP_PARTS:
        per_layer[k] = raw["setup"][k]
    for k in LAYER_MEMORY:
        per_layer[k] = raw["memory"][k]
    for q, d in sorted(per_query.items()):
        breakdown[f"{q}.wall_s"] = statistics.median(d["wall_s"])
        breakdown[f"{q}.jobs"] = statistics.median(d["jobs"])
    # knowledge-base builds (rag_serve set-up): the ingest path, median
    # over the warm builds
    warm = [op for op in raw["setup_ops"] if op["kind"] == "rebuild" and op["traced"]][1:]
    if warm:
        rows = []
        for op in warm:
            d, calls = op_layers(op, by_op.get(op["id"], []), cores)
            rows.append(dict(calls, wall_ms=d["op_ms"], task_cpu_s=d["task_cpu_ms"] / 1e3,
                             core_util=d["task_run_ms"] / max(1e-9, d["op_ms"] * cores),
                             shuffle_write_mb=d["shuffle_write_mb"], spill_mb=d["spill_mb"],
                             output_mb=d["output_mb"], jobs=d["jobs"],
                             write_amp=d["output_mb"] * MB / max(1, in_bytes)))
        for k in rows[0]:
            if k != "rebuild_ms":
                breakdown[f"kb.{k}"] = statistics.median([r[k] for r in rows])
    breakdown["units"] = len(units)
    breakdown["traced_op_p50_ms"] = traced_p50
    breakdown["trace_overhead_measured"] = measured
    units_of = dict(PER_LAYER)
    return {k: (per_layer[k], units_of[k]) for k, _ in PER_LAYER}, breakdown


def summary_lines(rec):
    """Human-readable lines printed before the result object."""
    fp = rec["fingerprint"]
    yield (f"# {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
           f"attempted={rec['attempted']} failed={rec['failed']} samples={rec['samples']['n']} "
           f"| nproc={fp['nproc']} heap={fp['heap']} jdk={fp['jdk']} spark={fp['spark']} "
           f"rev={fp['revision']} "
           f"load={rec['load_before'][0]:.2f}->{rec['load_after'][0]:.2f}")
    yield "# " + " | ".join(f"{k} {v:.6g} {u}" for k, (v, u) in rec["named"].items())
    for f in rec["failures"][:20]:
        yield f"# failed {f['id']} {f['name']}: {f['reason']}"
    if rec["trace"]:
        yield "# " + " | ".join(f"{k} {v:.4g}" for k, v in rec["breakdown"].items()
                                if not re.search(r"\.(wall_s|jobs)$", k))
