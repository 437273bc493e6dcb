"""Spans and per-layer metrics of a traced run.

The JVM writes raw records: operations (with their build/action split),
SQL executions, jobs, stages and query plannings. `spans` links them into
one tree per pass (pass > operation > build/action > SQL execution > job >
stage); `per_layer` sums each layer's numbers per traced pass and reports
the median over those passes. The wall-clock figures (`pass.wall_s`,
`op.wall_p50_s`, `op.wall_p66_s`) come from the run's untraced passes.
"""
import statistics

import stats

MB = 1024.0 * 1024.0


def spans(run):
    """Every span of every traced pass: dicts with id, parent, pass, kind,
    name, start_ms, end_ms."""
    out = []
    jobs_by_tag = {}
    for j in run.get("jobs", []):
        jobs_by_tag.setdefault(j["tag"], []).append(j)
    stages = {}
    for s in run.get("stages", []):
        stages.setdefault(s["id"], s)
    sqls = run.get("sqls", [])
    for p in run["passes"]:
        if not p["traced"]:
            continue
        ops = p["ops"]
        pid = f"p{p['pass']}"
        out.append({"id": pid, "parent": None, "pass": p["pass"], "kind": "pass", "name": pid,
                    "start_ms": ops[0]["start_ms"], "end_ms": ops[-1]["end_ms"]})
        for op in ops:
            oid = f"{pid}/{op['tag']}"
            out.append({"id": oid, "parent": pid, "pass": p["pass"], "kind": "op",
                        "name": op["name"], "start_ms": op["start_ms"], "end_ms": op["end_ms"]})
            phases = [("build", op["start_ms"], op["build_end_ms"]),
                      ("action", op["build_end_ms"], op["end_ms"])]
            for kind, s, e in phases:
                out.append({"id": f"{oid}/{kind}", "parent": oid, "pass": p["pass"],
                            "kind": kind, "name": op["name"], "start_ms": s, "end_ms": e})

            def phase_of(t):
                return f"{oid}/build" if t < op["build_end_ms"] else f"{oid}/action"
            sql_ids = set()
            for x in sqls:
                if op["start_ms"] <= x["start_ms"] <= op["end_ms"]:
                    sql_ids.add(x["id"])
                    out.append({"id": f"{oid}/sql{x['id']}", "parent": phase_of(x["start_ms"]),
                                "pass": p["pass"], "kind": "sql", "name": x["description"],
                                "target": x["target"],
                                "start_ms": x["start_ms"], "end_ms": max(x["end_ms"], x["start_ms"])})
            for j in jobs_by_tag.get(op["tag"], []):
                parent = (f"{oid}/sql{j['exec']}" if j["exec"] in sql_ids
                          else phase_of(j["start_ms"]))
                jid = f"{oid}/job{j['id']}"
                out.append({"id": jid, "parent": parent, "pass": p["pass"], "kind": "job",
                            "name": f"job {j['id']}", "start_ms": j["start_ms"],
                            "end_ms": max(j["end_ms"], j["start_ms"]),
                            "task_ms": sum(stages[i]["cpu_ms"] for i in j["stages"]
                                           if i in stages)})
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s is None or s["end_ms"] < 0:
                        continue  # skipped stage: its output was reused
                    out.append({"id": f"{jid}/stage{sid}", "parent": jid, "pass": p["pass"],
                                "kind": "stage", "name": f"stage {sid}",
                                "start_ms": s["submit_ms"], "end_ms": s["end_ms"]})
    return out


def self_times(span_list):
    """{span id: self time in ms}: duration minus what its children cover."""
    children = {}
    for s in span_list:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: stats.self_time((s["start_ms"], s["end_ms"]), children.get(s["id"], []))
            for s in span_list}


def _med(values):
    return statistics.median(values) if values else 0.0


def per_layer(run, docs_per_pass=None):
    """Per-layer metrics: each summed per traced pass, median over passes."""
    sp = spans(run)
    by_pass = {}
    for s in sp:
        by_pass.setdefault(s["pass"], []).append(s)
    stages_by_tag = {}
    for s in run.get("stages", []):
        stages_by_tag.setdefault(s["tag"], []).append(s)
    plannings = run.get("plannings", [])
    sqls = run.get("sqls", [])
    rows = {}

    def add(name, value):
        rows.setdefault(name, []).append(value)

    traced = [p for p in run["passes"] if p["traced"]]
    for p in traced:
        ops = p["ops"]
        pspans = by_pass.get(p["pass"], [])
        jobs = [s for s in pspans if s["kind"] == "job"]
        tags = {op["tag"] for op in ops}
        pstages = [s for t in tags for s in stages_by_tag.get(t, [])]
        t0, t1 = ops[0]["start_ms"], ops[-1]["end_ms"]
        in_pass = [q for q in plannings
                   if any(t0 <= v[0] <= t1 for v in q["phases"].values())]
        sql_in = [x for x in sqls if t0 <= x["start_ms"] <= t1]
        task_ms = sum(s["cpu_ms"] for s in pstages)
        job_cover = stats.union_length([(s["start_ms"], s["end_ms"]) for s in jobs])
        add("driver.build_s", sum(op["build_end_ms"] - op["start_ms"] for op in ops) / 1e3)
        # wall of each operation not covered by any of its jobs
        outside = 0.0
        for op in ops:
            oj = [(s["start_ms"], s["end_ms"]) for s in jobs
                  if s["id"].startswith(f"p{p['pass']}/{op['tag']}/")]
            outside += stats.self_time((op["start_ms"], op["end_ms"]), oj)
        add("driver.outside_jobs_s", outside / 1e3)
        for phase in ("analysis", "optimization", "planning"):
            add(f"catalyst.{phase}_s",
                sum(q["phases"][phase][1] - q["phases"][phase][0]
                    for q in in_pass if phase in q["phases"]) / 1e3)
        add("sched.jobs", len(jobs))
        add("sched.stages", len(pstages))
        add("sched.tasks", sum(s["tasks"] for s in pstages))
        add("sched.launch_delay_s", sum(max(0, s["first_launch_ms"] - s["submit_ms"])
                                        for s in pstages if s["first_launch_ms"] >= 0) / 1e3)
        add("exec.task_s", task_ms / 1e3)
        add("exec.busy_cores", task_ms / job_cover if job_cover > 0 else 0.0)
        add("exec.gc_s", sum(s["gc_ms"] for s in pstages) / 1e3)
        add("exec.failed_tasks", sum(s["failed_tasks"] for s in pstages))
        for key, metric in (("shuffle_bytes", "shuffle_mb"), ("spill_bytes", "spill_mb"),
                            ("input_bytes", "input_mb"), ("output_bytes", "output_mb")):
            add(f"exec.{metric}", sum(s[key] for s in pstages) / MB)
        add("exec.codegen_compile_s", p["codegen_compile_ns"] / 1e9)
        add("exec.codegen_classes", p["codegen_classes"])
        add("fs.read_mb", p["fs_read_bytes"] / MB)
        add("fs.write_mb", p["fs_write_bytes"] / MB)
        add("snapshot.build_read_kb", sum(op["build_read_bytes"] for op in ops) / 1024.0)
        add("plans.custom_nodes", sum(x["topk_nodes"] for x in sql_in) +
            sum(q["range_joins"] for q in in_pass))
        add("plans.codegen_fallback_nodes", sum(x["fallback_nodes"] for x in sql_in))
        # the recipe pipeline's own layers, inside the RecipeEtl.run call
        etl = [op for op in ops if op["name"] == "etl"]
        load = validate = recount = probe = load_task = 0.0
        for op in etl:
            oid = f"p{p['pass']}/{op['tag']}/"
            for s in pspans:
                if s["kind"] != "sql" or not s["id"].startswith(oid):
                    continue
                d = s["end_ms"] - s["start_ms"]
                if s["target"] == "validation_report.csv":
                    validate += d
                elif s["target"]:
                    load += d
                    load_task += sum(j["task_ms"] for j in jobs if j["parent"] == s["id"])
                elif s["name"].startswith("count"):
                    recount += d
                else:
                    probe += d
        add("recipes.load_busy_cores", load_task / load if load > 0 else 0.0)
        add("recipes.load_s", load / 1e3)
        add("recipes.validate_s", validate / 1e3)
        add("recipes.recount_s", recount / 1e3)
        add("recipes.schema_probe_s", probe / 1e3)
        add("recipes.analytics_s", sum(op["end_ms"] - op["start_ms"] for op in ops
                                       if op["name"] != "etl" and etl) / 1e3)
        etl_ms = sum(op["end_ms"] - op["start_ms"] for op in etl)
        add("recipes.etl_docs_per_s", docs_per_pass / (etl_ms / 1e3)
            if etl and docs_per_pass else 0.0)
    out = {k: _med(v) for k, v in rows.items()}
    kernels = run.get("kernels_ns", {})
    for k in ("jaro_winkler", "banded_levenshtein", "minhash_band_sigs", "ngram_md5"):
        out[f"functions.{k}_ns"] = kernels.get(k, 0.0)
    untraced = [q for q in run["passes"] if not q["traced"]]
    untraced_wall = [sum(op["end_ms"] - op["start_ms"] for op in q["ops"]) / 1e3
                     for q in untraced]
    traced_wall = [sum(op["end_ms"] - op["start_ms"] for op in q["ops"]) / 1e3 for q in traced]
    out["trace.overhead_s"] = _med(traced_wall) - _med(untraced_wall)
    # Wall-clock latency, from the untraced passes: what a user waits for.
    lat = [(op["end_ms"] - op["start_ms"]) / 1e3 for q in untraced for op in q["ops"]
           if op["name"] != "etl"]
    out["pass.wall_s"] = _med(untraced_wall)
    out["op.wall_p50_s"] = _med(lat)
    out["op.wall_p66_s"] = stats.tail_percentile(lat, 0.66)[0]
    return out
