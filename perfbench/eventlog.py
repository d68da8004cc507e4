"""Spark event log → run report and per-layer metrics.

Reads the uncompressed event log of one session (Spark 4.1 writes a
rolling ``eventlog_v2_*/events_<n>_*`` directory), attributes every job to
a span through the ``perfbench.span`` job property set by ``tracing``, and
rolls jobs, stages, tasks and SQL node metrics up the span tree:
level → pass → job → stage → node.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

from tracing import PROPERTY

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
COGROUP = "FlatMapCoGroupsInPandas"
NODE_METRICS = {PY_RUN, PY_START, PY_SENT, PY_BACK, "shuffle bytes written",
                "fetch wait time", "number of output rows"}

PASS_SPANS = ("pipeline.fuzzy_pass", "pipeline.field_pass")
OUTSIDE_WINDOW = ("cofilter.search_kept_ratio", "cofilter.search_rows",
                  "cofilter.ref_kept_ratio", "cofilter.ref_rows",
                  "blocking.candidate_pairs", "pipeline.residue_error_rows")
PASS_NAMES = ("fuzzy_min_pc", "fuzzy_min_st", "fuzzy_full_pc", "fuzzy_full_st",
              "field_min_pc", "field_min_st", "field_full_pc", "field_full_st")


def _files(log_dir: str) -> list[str]:
    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)

    return sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p)
         and not os.path.basename(p).startswith((".", "appstatus"))),
        key=order,
    )


def _walk_plan(info: dict, meta: dict) -> None:
    node = info.get("nodeName", "").split(" ")[0]
    for m in info.get("metrics", []):
        meta[m["accumulatorId"]] = (node, m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, meta)


def _new_stage(job):
    return {"job": job, "run_ms": [], "acc": {}, "gc_ms": 0, "sched_ms": 0,
            "shuffle_write": 0, "fetch_wait_ms": 0, "spill": 0, "out_bytes": 0}


def read(log_dir: str) -> dict:
    """Jobs (submit/end seconds, span id, stage ids), stages (per-task run
    times, summed task metrics and SQL accumulator updates) and the SQL
    accumulator id → (node, metric, type) map."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    acc_meta: dict[int, tuple] = {}
    files = _files(log_dir)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk_plan(e["sparkPlanInfo"], acc_meta)
                elif ev == "SparkListenerJobStart":
                    tag = (e.get("Properties") or {}).get(PROPERTY)
                    jid = e["Job ID"]
                    jobs[jid] = {"submit": e["Submission Time"] / 1e3,
                                 "end": None,
                                 "span": int(tag) if tag else None,
                                 "stages": e["Stage IDs"]}
                    for sid in e["Stage IDs"]:
                        stages.setdefault(sid, _new_stage(jid))
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage(None))
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    run = tm.get("Executor Run Time", 0)
                    st["run_ms"].append(run)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    got = info.get("Getting Result Time", 0)
                    fin = info["Finish Time"]
                    st["sched_ms"] += max(0, (fin - info["Launch Time"]) - run
                                          - tm.get("Executor Deserialize Time", 0)
                                          - tm.get("Result Serialization Time", 0)
                                          - (fin - got if got else 0))
                    st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}
                                            ).get("Shuffle Bytes Written", 0)
                    st["fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}
                                            ).get("Fetch Wait Time", 0)
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
                    st["out_bytes"] += (tm.get("Output Metrics") or {}
                                        ).get("Bytes Written", 0)
                    for a in info.get("Accumulables", []):
                        upd = a.get("Update")
                        if upd is not None and str(upd).lstrip("-").isdigit():
                            st["acc"][a["ID"]] = st["acc"].get(a["ID"], 0) + int(upd)
    return {"jobs": jobs, "stages": stages, "acc_meta": acc_meta}


def _value(metric_type: str, raw: int) -> float:
    if metric_type == "timing":
        return raw / 1e3
    if metric_type == "nsTiming":
        return raw / 1e9
    return raw


def _stage_nodes(log: dict, sid: int) -> dict:
    """node kind → metric → value for one stage (seconds, bytes, rows)."""
    out: dict[str, dict] = {}
    for acc, raw in log["stages"][sid]["acc"].items():
        meta = log["acc_meta"].get(acc)
        if meta is None or meta[1] not in NODE_METRICS:
            continue
        node, name, kind = meta
        d = out.setdefault(node, {})
        d[name] = d.get(name, 0) + _value(kind, raw)
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def build(log: dict, spans: list, window: tuple[float, float],
          waterfall: dict | None, extra: dict) -> tuple[dict, dict]:
    """(report, metrics) for the jobs submitted inside window.

    spans: the tracing.Span list of the window; waterfall: the metrics
    dict run_waterfall filled; extra: counts the caller took outside the
    window (OUTSIDE_WINDOW metrics, and exact_residues per level)."""
    t0, t1 = window
    by_id = {s.id: s for s in spans}
    jobs = {j: v for j, v in log["jobs"].items()
            if t0 <= v["submit"] <= t1 and v["end"] is not None}

    def chain(sid):
        while sid is not None and sid in by_id:
            yield by_id[sid]
            sid = by_id[sid].parent

    def owner(job: dict, names) -> object | None:
        return next((s for s in chain(job["span"]) if s.name in names), None)

    def ran(jids):
        return [sid for j in jids for sid in jobs[j]["stages"]
                if log["stages"].get(sid, {}).get("job") == j
                and log["stages"][sid]["run_ms"]]

    def eff_end(span, jids):
        return max([span.end or span.start] + [jobs[j]["end"] for j in jids])

    def jobs_under(names):
        groups: dict[int, list[int]] = {}
        for j, v in jobs.items():
            s = owner(v, names)
            if s is not None:
                groups.setdefault(s.id, []).append(j)
        return groups

    stages = log["stages"]
    node_cache: dict[int, dict] = {}

    def nodes(sid):
        if sid not in node_cache:
            node_cache[sid] = _stage_nodes(log, sid)
        return node_cache[sid]

    def node_sum(sids, node, metric):
        return sum(nodes(s).get(node, {}).get(metric, 0) for s in sids)

    def py_sum(sids, metric):
        return sum(v.get(metric, 0) for s in sids for v in nodes(s).values())

    m: dict[str, float] = {}
    all_stages = ran(jobs)
    m["pipeline.jobs"] = len(jobs)
    m["pipeline.stages"] = len(all_stages)
    m["pipeline.tasks"] = sum(len(stages[s]["run_ms"]) for s in all_stages)
    m["pipeline.driver_gap_s"] = (t1 - t0) - _union_len(
        [(max(v["submit"], t0), min(v["end"], t1)) for v in jobs.values()])
    levels = (waterfall or {}).get("passes", [])
    m["pipeline.levels_run"] = len(levels)

    preps = jobs_under(("pipeline.prep_ref_for_block",))
    m["pipeline.prep_run_s"] = sum(
        eff_end(by_id[s], js) - by_id[s].start for s, js in preps.items())

    # pass subtrees (their checkpoint writes included)
    pass_jobs = jobs_under(PASS_SPANS)
    pass_spans = {s.detail: s for s in spans if s.name in PASS_SPANS}
    pass_report: dict[str, dict] = {}
    scoring_stages, field_stages, pass_stage_ids = [], [], []
    for name in PASS_NAMES:
        s = pass_spans.get(name)
        js = pass_jobs.get(s.id, []) if s else []
        sids = ran(js)
        pass_stage_ids += sids
        cog = [x for x in sids if COGROUP in nodes(x)]
        (scoring_stages if name.startswith("fuzzy") else field_stages).extend(cog)
        m[f"pass.{name}.wall_s"] = eff_end(s, js) - s.start if s else 0.0
        m[f"pass.{name}.jobs"] = len(js)
        m[f"pass.{name}.npart"] = max(
            (len(stages[x]["run_ms"]) for x in cog), default=0)
        if s:
            pass_report[name] = {
                "wall_s": round(m[f"pass.{name}.wall_s"], 3),
                "python_s": round(node_sum(cog, COGROUP, PY_RUN), 3),
                "jobs": [{
                    "id": j,
                    "span": by_id[jobs[j]["span"]].name,
                    "start_s": round(jobs[j]["submit"] - t0, 3),
                    "duration_s": round(jobs[j]["end"] - jobs[j]["submit"], 3),
                    "stages": [{
                        "id": x,
                        "tasks": len(stages[x]["run_ms"]),
                        "run_s": sum(stages[x]["run_ms"]) / 1e3,
                        "nodes": {k: {n: round(v, 4) for n, v in d.items()}
                                  for k, d in nodes(x).items()},
                    } for x in ran([j])],
                } for j in sorted(js)],
            }

    rw = [s for s in spans if s.name == "pipeline.run_waterfall"]
    std = 0.0
    for w in rw:
        kids = sorted((s for s in spans if s.parent == w.id
                       and s.name != "checkpoint.write"), key=lambda s: s.start)
        std += (kids[0].start if kids else (w.end or w.start)) - w.start
    m["standardise.run_s"] = std
    m.update({k: extra[k] for k in OUTSIDE_WINDOW})
    m["blocking.salt_run_s"] = sum(
        (s.end or s.start) - s.start for s in spans
        if s.name == "blocking.salt_for_cogroup_adaptive")
    busiest = max(scoring_stages + field_stages,
                  key=lambda x: sum(stages[x]["run_ms"]), default=None)
    if busiest is None:
        m["blocking.scoring_task_skew"] = 0.0
    else:
        runs = stages[busiest]["run_ms"]
        med = statistics.median(runs)
        m["blocking.scoring_task_skew"] = max(runs) / med if med > 0 else 1.0

    m["scoring.python_s"] = node_sum(scoring_stages, COGROUP, PY_RUN)
    m["scoring.python_start_s"] = node_sum(scoring_stages, COGROUP, PY_START)
    m["scoring.bytes_to_python"] = node_sum(scoring_stages, COGROUP, PY_SENT)
    m["scoring.bytes_from_python"] = node_sum(scoring_stages, COGROUP, PY_BACK)
    first = pass_spans.get("fuzzy_min_pc")
    first_py = node_sum(
        [x for x in ran(pass_jobs.get(first.id, [])) if COGROUP in nodes(x)],
        COGROUP, PY_RUN) if first else 0.0
    m["scoring.pairs_per_python_s"] = (
        extra["blocking.candidate_pairs"] / first_py if first_py > 0 else 0.0)
    m["fieldmatch.python_s"] = node_sum(field_stages, COGROUP, PY_RUN)
    m["fieldmatch.bytes_to_python"] = node_sum(field_stages, COGROUP, PY_SENT)
    m["fieldmatch.bytes_from_python"] = node_sum(field_stages, COGROUP, PY_BACK)
    m["select.jvm_run_s"] = (
        sum(sum(stages[x]["run_ms"]) for x in pass_stage_ids) / 1e3
        - py_sum(pass_stage_ids, PY_RUN))

    clusters = jobs_under(("cluster.cluster_records",))
    cl_spans = [s for s in spans if s.name == "cluster.cluster_records"]
    m["cluster.run_s"] = sum(eff_end(s, clusters.get(s.id, [])) - s.start
                             for s in cl_spans)
    m["cluster.jobs"] = sum(len(v) for v in clusters.values())

    writes = [s for s in spans if s.name == "checkpoint.write"]
    write_ids = {s.id for s in writes}
    m["checkpoint.write_s"] = sum((s.end or s.start) - s.start for s in writes)
    m["checkpoint.writes"] = len(writes)
    m["checkpoint.bytes_written"] = sum(
        stages[x]["out_bytes"]
        for x in ran([j for j, v in jobs.items() if v["span"] in write_ids]))

    m["spark.shuffle_write_bytes"] = sum(stages[x]["shuffle_write"] for x in all_stages)
    m["spark.fetch_wait_s"] = sum(stages[x]["fetch_wait_ms"] for x in all_stages) / 1e3
    m["spark.spill_bytes"] = sum(stages[x]["spill"] for x in all_stages)
    m["spark.gc_s"] = sum(stages[x]["gc_ms"] for x in all_stages) / 1e3
    m["spark.scheduler_delay_s"] = sum(stages[x]["sched_ms"] for x in all_stages) / 1e3

    tagged = sum(1 for v in jobs.values() if v["span"] in by_id)
    m["trace.attributed_job_share"] = tagged / len(jobs) if jobs else 0.0

    level_report = []
    for i, lv in enumerate(levels):
        names = lv["pass"].split("+")
        level_report.append({
            "level": i + 1,
            "reported_residue": lv["residue_rows"],
            "exact_residue": extra["exact_residues"][i]
            if i < len(extra["exact_residues"]) else None,
            "passes": {n: pass_report[n] for n in names if n in pass_report},
        })
    other: dict[str, int] = {}
    for v in jobs.values():
        if owner(v, PASS_SPANS) is None:
            top = by_id[v["span"]].name if v["span"] in by_id else "(untagged)"
            other[top] = other.get(top, 0) + 1
    report = {
        "window_s": round(t1 - t0, 3),
        "jobs": len(jobs),
        "jobs_attributed": tagged,
        "levels": level_report,
        "jobs_outside_passes_by_span": other,
        "spans": [{
            "id": s.id, "name": s.name, "detail": s.detail,
            "parent": s.parent, "thread": s.thread,
            "start_s": round(s.start - t0, 3),
            "wall_s": round((s.end or s.start) - s.start, 3),
        } for s in spans],
    }
    return report, m
