"""Turns a harness record into metrics and output checks.

Conventions, shared by every workload:
- an operation that failed counts in `failed` and `failed_frac` and is left
  out of every latency and GC aggregate;
- a span's self time is its duration minus the part of it its child spans
  cover;
- per-layer Spark counters are per timed operation, from job groups the
  benchmark thread set, and must sum (with untagged jobs) to the run totals
  that Spark's status store holds.
"""

import hashlib
import math
import os
import statistics

# End-to-end metrics every workload reports (BENCHMARK.json `end_to_end`).
CONTRACT = ("setup_s", "op_p50_ms", "work_per_s")
# Those the traced phase re-measures; set-up runs once, untraced.
OVERHEAD = ("op_p50_ms", "work_per_s")

# Timed operation kinds per workload.
TIMED = {"ingest": ("ingest", "index_build"),
         "serve": ("search", "document", "upsert"),
         "selftest": ("probe",)}

COUNTERS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "records_read")

PER_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
    "spark.task_cpu_ms", "spark.core_busy_frac", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.records_read",
    "search.records_per_hit", "catalyst.optimize_ms", "catalyst.plan_ms",
    "codegen.compiles", "codegen.compile_ms", "jvm.gc_ms", "host.steal_ticks",
    "ingest.extract_ms_per_page", "ingest.explode_ms", "ingest.enrich_ms",
    "embed.batch_ms", "ingest.write_ms", "embed.ms_per_text", "index.build_ms",
    "index.files_written", "index.bytes_written", "index.files_after_upsert",
    "search.construct_ms", "search.execute_ms", "serve.overhead_ms",
    "serve.response_bytes", "operators.construct_ms", "operators.execute_ms")


def percentile(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def ms(o):
    return o["end_ms"] - o["start_ms"]


def view(rec, traced=False):
    """The record of one timed phase. A traced run holds two: the untraced
    phase under `untraced`, then the traced one."""
    src = rec["untraced"] if not traced and "untraced" in rec else rec
    return dict(rec, ops=[o for o in rec["ops"] if o["traced"] == traced],
                timed_ms=src["timed_ms"], steal_ticks=src["steal_ticks"],
                codegen_compiles=src["codegen_compiles"],
                codegen_compile_ms=src["codegen_compile_ms"],
                facts=dict(rec["facts"], **src["facts"]))


def timed_ops(workload, rec):
    return [o for o in rec["ops"] if o["kind"] in TIMED[workload]]


def gc_ms(ops):
    """GC while successful operations ran; failed ones are excluded."""
    return sum(o["gc_ms"] for o in ops if o["ok"])


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def end_to_end(workload, rec, info):
    """Every end-to-end metric of the workload, by the names the benchmark
    documents, plus the three contract metrics."""
    ops = timed_ops(workload, rec)
    good = [o for o in ops if o["ok"]]
    failed = len(ops) - len(good)
    m = {"setup_s": metric(rec["setup_ms"] / 1000.0, "s", 1),
         "failed_frac": metric(failed / max(1, len(ops)), "ratio", len(ops))}
    by = lambda k: [ms(o) for o in good if o["kind"] == k]  # noqa: E731
    secs = rec["timed_ms"] / 1000.0
    if workload == "ingest":
        ing, idx = by("ingest"), by("index_build")
        if ing and idx:
            m["ingest_pages_per_s"] = metric(info["pages"] / (statistics.median(ing) / 1000.0),
                                             "pages/s", len(ing))
            m["index_build_s"] = metric(statistics.median(idx) / 1000.0, "s", len(idx))
            m["op_p50_ms"] = metric(statistics.median(ing), "ms", len(ing))
            # pages per second of the whole write path: pipeline, then build
            write_s = (statistics.median(ing) + statistics.median(idx)) / 1000.0
            m["work_per_s"] = metric(info["pages"] / write_s, "1/s", min(len(ing), len(idx)))
        f = rec["facts"]
        m["stored_bytes_per_text_byte"] = metric(f["stored_bytes"] / f["text_bytes"], "ratio", 1)
    elif workload == "serve":
        s, d, u = by("search"), by("document"), by("upsert")
        if s:
            m["search_p50_ms"] = metric(statistics.median(s), "ms", len(s))
            m["search_p99_ms"] = metric(percentile(s, 99), "ms", len(s))
            m["op_p50_ms"] = metric(statistics.median(s), "ms", len(s))
        if d:
            m["get_doc_p50_ms"] = metric(statistics.median(d), "ms", len(d))
        if u:
            m["upsert_p50_ms"] = metric(statistics.median(u), "ms", len(u))
        m["serve_ops_per_s"] = metric(len(good) / secs, "ops/s", len(good))
        reads = len(s) + len(d)
        m["work_per_s"] = metric(reads / (rec["facts"]["read_window_ms"] / 1000.0), "1/s", reads)
    return m


# ------------------------------------------------------------------ checks

def check(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": detail}


def ingest_checks(rec, files):
    """Pages out equal pages generated; each page's md5 equals one
    recomputed from the generator's text and the context sentence; fail
    rows are exactly the image-only pages; the index holds every success
    page."""
    truth = {}
    for rel, _, pages in files:
        parts = rel.split("/")
        stem = parts[-1].rsplit(".", 1)[0]
        prefix = "This page explains %s that belongs to %s categories.\n" % (
            stem, ",".join(parts[:-1][:4]))
        for i, text in enumerate(pages):
            truth[(rel, i + 1)] = None if text is None else hashlib.md5(
                (prefix + text).encode()).hexdigest()
    rows = rec["facts"]["rows"]
    got = {(r["filepath"], r["page"]): r for r in rows}
    out = [check("ingest.pages_out_equal_generated",
                 len(rows) == len(truth) and set(got) == set(truth),
                 "%d rows, %d generated" % (len(rows), len(truth)))]
    bad_md5 = [k for k, h in truth.items() if h is not None and k in got and
               (got[k]["status"] != "success" or got[k]["md5"] != h)]
    out.append(check("ingest.page_md5", not bad_md5, "mismatch at %s" % bad_md5[:3]))
    fails = {k for k, r in got.items() if r["status"] == "fail"}
    images = {k for k, h in truth.items() if h is None}
    out.append(check("ingest.fail_rows_are_image_pages", fails == images,
                     "%d fail rows, %d image-only pages" % (len(fails), len(images))))
    success = len(truth) - len(images)
    out.append(check("ingest.index_n_docs", rec["facts"]["n_docs"] == success,
                     "n_docs %s, success pages %d" % (rec["facts"]["n_docs"], success)))
    return out


def trace_checks(rec):
    """The harness's own invariants, checked on every traced run."""
    out = []
    tot = rec["totals"]
    sums = {c: sum(g[c] for g in rec["groups"].values()) for c in COUNTERS}
    out.append(check("trace.counters_sum_to_totals", sums == tot,
                     "groups %s totals %s" % (sums, tot)))
    spans = {s["id"]: s for s in rec["spans"]}
    bad = [s["id"] for s in spans.values() if s["parent"] and not (
        s["parent"] in spans and spans[s["parent"]]["start_ms"] <= s["start_ms"]
        and s["end_ms"] <= spans[s["parent"]]["end_ms"])]
    out.append(check("trace.spans_nest", not bad, "spans outside parent: %s" % bad[:5]))
    selfs = self_times(rec["spans"])
    neg = {k: v for k, v in selfs.items() if v < -1e-6}
    out.append(check("trace.self_time_nonnegative", not neg, str(neg)))
    return out


def operator_checks(rec, tables_dir):
    """Each query of the `operators` measurement ran and returned as many
    rows as its DuckDB oracle gives on the same tables."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(tables_dir, t + ".parquet")))
    errors = {o.get("query"): o["error"] for o in rec["ops"] if o["kind"] == "operator"}
    out = []
    for q in rec["diagnostics"]["operators"]:
        if not q["ok"]:
            out.append(check("operators." + q["name"], False, errors.get(q["name"]) or "failed"))
            continue
        want = con.execute("SELECT count(*) FROM (%s)" % q["oracle_sql"]).fetchone()[0]
        q["oracle_rows"] = want
        out.append(check("operators." + q["name"], q["rows"] == want,
                         "%d rows, oracle %d" % (q["rows"], want)))
    return out


def checks(workload, rec, files, tables_dir=None):
    out = [check(c["name"], c["ok"], c["detail"]) for c in rec.get("checks", [])]
    if workload == "ingest":
        out += ingest_checks(rec, files)
    if "operators" in rec.get("diagnostics", {}):
        out += operator_checks(rec, tables_dir)
    failed = [o for o in timed_ops(workload, rec) if not o["ok"]]
    out.append(check("operations.no_failures", not failed,
                     "; ".join("%s: %s" % (o["id"], o["error"]) for o in failed[:3])))
    if rec.get("trace"):
        out += trace_checks(rec)
    return out


# ----------------------------------------------------------------- tracing

def union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time per span name, summed over its spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        cover = union_ms(kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) - cover
    return out


def span_ms(rec, name):
    """Median duration of the spans called `name` inside operations, 0 when
    the layer did no work in this workload."""
    d = [s["end_ms"] - s["start_ms"] for s in rec["spans"] if s["name"] == name and s["op"]]
    return statistics.median(d) if d else 0.0


def per_op_counters(rec, ops):
    n = max(1, len(ops))
    groups = rec["groups"]
    return {c: sum(groups.get(o["id"], {}).get(c, 0) for o in ops) / n for c in COUNTERS}


def phases_in(rec, ops):
    """Catalyst optimize/plan ms per operation, assigning each query
    execution to the operation whose window holds its start."""
    base = rec["epoch0_ms"]
    opt = plan = 0
    for p in rec["phases"]:
        t = p["start_epoch_ms"] - base
        if any(o["start_ms"] - 1 <= t <= o["end_ms"] + 1 for o in ops):
            opt += p["optimize_ms"]
            plan += p["plan_ms"]
    n = max(1, len(ops))
    return opt / n, plan / n


def per_layer(workload, rec, traced, untraced):
    """Every per-layer metric of the traced phase `rec`; a layer that does
    no work in this workload reports 0. `traced` and `untraced` are the
    end-to-end metrics of the two phases."""
    ops = [o for o in timed_ops(workload, rec) if o["ok"]]
    # serve: Spark work runs on the server's threads, so per-request
    # counters come from the requests replayed on the benchmark thread
    attributed = ([o for o in rec["ops"] if o["ok"] and o["kind"].startswith("replay_")]
                  if workload == "serve" else ops)
    c = per_op_counters(rec, attributed)
    wall = sum(ms(o) for o in attributed)
    busy = sum(rec["groups"].get(o["id"], {}).get("task_run_ms", 0) for o in attributed)
    opt, plan = phases_in(rec, attributed)
    diag = rec.get("diagnostics", {})
    searches = [o for o in attributed if o["kind"] == "replay_search"]
    hits = sum(o.get("hits", 0) for o in searches)
    n_ops = max(1, len(ops))
    v = {
        "spark.jobs": c["jobs"], "spark.stages": c["stages"], "spark.tasks": c["tasks"],
        "spark.task_run_ms": c["task_run_ms"], "spark.task_cpu_ms": c["task_cpu_ns"] / 1e6,
        "spark.core_busy_frac": busy / (wall * rec["cores"]) if wall else 0.0,
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.spill_bytes": c["spill_bytes"], "spark.records_read": c["records_read"],
        "search.records_per_hit": (sum(rec["groups"].get(o["id"], {}).get("records_read", 0)
                                       for o in searches) / hits) if hits else 0.0,
        "catalyst.optimize_ms": opt, "catalyst.plan_ms": plan,
        "codegen.compiles": rec["codegen_compiles"] / n_ops,
        "codegen.compile_ms": rec["codegen_compile_ms"] / n_ops,
        "jvm.gc_ms": gc_ms(ops) / n_ops,
        "host.steal_ticks": rec["steal_ticks"],
        "index.build_ms": span_ms(rec, "index.build"),
        "search.construct_ms": span_ms(rec, "search.construct"),
        "search.execute_ms": span_ms(rec, "search.execute"),
    }
    if workload == "ingest":
        v["ingest.write_ms"] = span_ms(rec, "ingest.pipeline") - diag.get("ingest.full_noop_ms", 0.0)
    for k in PER_LAYER:
        v.setdefault(k, diag.get(k, 0.0))
    for k in OVERHEAD:
        v["overhead." + k] = traced[k]["value"] - untraced[k]["value"]
    return {k: {"value": float(v[k]), "unit": UNITS.get(k, _unit(k))} for k in v}


UNITS = {"spark.core_busy_frac": "ratio", "search.records_per_hit": "ratio",
         "host.steal_ticks": "ticks", "overhead.op_p50_ms": "ms", "overhead.work_per_s": "1/s",
         "ingest.extract_ms_per_page": "ms", "embed.ms_per_text": "ms",
         "index.bytes_written": "bytes", "serve.response_bytes": "bytes"}


def _unit(k):
    if k.endswith("_ms"):
        return "ms"
    if k.endswith("_bytes"):
        return "bytes"
    return "count"


def print_table(workload, rec, e2e, checks_):
    print("workload %s: cores %d, steal ticks in the timed phase %d" % (
        workload, rec["cores"], rec["steal_ticks"]))
    for k, v in e2e.items():
        print("  %-28s %14.4f %-8s n=%d" % (k, v["value"], v["unit"], v["n"]))
    phases = rec["facts"].get("setup_phase_ms")
    if phases:
        print("  set-up steps (ms): " + ", ".join("%s %.0f" % kv for kv in phases.items()))
    reads = [o for o in rec["ops"] if o["kind"] in ("search", "document")]
    if reads and "read_codegen_compiles" in rec["facts"]:
        print("  codegen compiles per read request after warm-up: %.2f" % (
            rec["facts"]["read_codegen_compiles"] / len(reads)))
    for c in checks_:
        if not c["ok"]:
            print("  CHECK FAILED %s: %s" % (c["name"], c["detail"]))
    print("  checks: %d passed, %d failed" % (sum(c["ok"] for c in checks_),
                                             sum(not c["ok"] for c in checks_)))


def print_layers(rec, layers):
    ops = rec.get("diagnostics", {}).get("operators")
    if ops:
        print("  operators, each run once, cold (ms): construct / execute / rows / oracle rows")
        for q in ops:
            print("    %-28s %10.1f %10.1f %8d %8s" % (q["name"], q["construct_ms"], q["execute_ms"],
                                                  q["rows"], q.get("oracle_rows", "-")))
        print("  codegen compiles per operators pass: %d" % (
            rec["diagnostics"]["operators.codegen_compiles_per_pass"]))
    print("  layer self time (ms, summed over spans):")
    for name, t in sorted(self_times(rec["spans"]).items(), key=lambda kv: -kv[1]):
        print("    %-28s %12.1f" % (name, t))
    for k, v in layers.items():
        print("  %-28s %14.4f %s" % (k, v["value"], v["unit"]))
