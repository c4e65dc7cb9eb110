"""Turns the harness's raw samples into the benchmark's metrics.

All times in the raw record are epoch milliseconds. End-to-end metrics
come from untraced runs; per-layer metrics from traced runs, averaged
per pass (closed loop) or per micro-batch window (ingest).
"""
import statistics


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with `statistics.quantiles(values, n=4)` quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def subtract(intervals, holes):
    """The parts of `intervals` not covered by `holes`."""
    out = []
    for a, b in intervals:
        pieces = [(a, b)]
        for ha, hb in holes:
            nxt = []
            for pa, pb in pieces:
                if hb <= pa or ha >= pb:
                    nxt.append((pa, pb))
                    continue
                if ha > pa:
                    nxt.append((pa, ha))
                if hb < pb:
                    nxt.append((hb, pb))
            pieces = nxt
        out += pieces
    return out


def partition(lo, hi, jobs, phases, build):
    """Split [lo, hi] into layer self times that sum to hi - lo exactly:
    exec (covered by a job), plans (a Catalyst phase outside jobs),
    operators (DataFrame construction outside both) and driver gap."""
    wall = hi - lo
    exec_ms = union_ms(jobs, lo, hi)
    plans_ms = union_ms(subtract(phases, jobs), lo, hi)
    ops_ms = union_ms(subtract(subtract(build, jobs), phases), lo, hi)
    gap = wall - exec_ms - plans_ms - ops_ms
    return {"exec": exec_ms, "plans": plans_ms, "operators": ops_ms, "driver_gap": gap}


def _jobs(raw):
    """Job id -> {tag, start, end, stages}, marker job dropped."""
    jobs = {}
    for j in raw.get("jobs", []):
        if "start" in j:
            jobs[j["id"]] = dict(j, end=None)
        elif j["id"] in jobs:
            jobs[j["id"]]["end"] = j["end"]
    return {k: v for k, v in jobs.items()
            if v["tag"] != "perfbench.drain" and v["end"] is not None}


# --- closed loop ---------------------------------------------------------

def _passes(ops):
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    return by


def closed_end_to_end(raw):
    passes = _passes(raw["ops"])
    span = {p: (max(o["t2"] for o in os_) - min(o["t0"] for o in os_)) / 1000
            for p, os_ in passes.items()}
    walls = [(o["t2"] - o["t0"]) / 1000 for o in raw["ops"] if o["pass"] > 0]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "cold_s": span[0],
        "pass_s": statistics.median(v for p, v in span.items() if p > 0),
        "op_p50_s": percentile(walls, 50),
        "op_p90_s": percentile(walls, 90),
    }, {"passes": len(span) - 1, "ops_timed": len(walls)}


def closed_layers(raw):
    """Per-layer metrics of a traced closed-loop run, per timed pass."""
    jobs = _jobs(raw)
    passes = _passes(raw["ops"])
    timed = [o for p in passes if p > 0 for o in passes[p]]
    n = len(passes) - 1
    tags = {o["tag"] for o in timed}
    units = [(o["t0"], o["t2"], [(j["start"], j["end"]) for j in jobs.values() if j["tag"] == o["tag"]],
              [(o["t0"], o["t1"])]) for o in timed]
    parts, phase_ms, worst = _self_times(units, raw["phases"])
    out = _common(raw, n, parts, phase_ms, sum(o["compiles"] for o in passes[0]),
                  sum(o["compiles"] for o in timed))
    out["operators.build_s"] = sum(o["t1"] - o["t0"] for o in timed) / 1000 / n
    out["operators.eager_jobs"] = sum(1 for (t0, _, js, [(_, t1)]) in units
                                      for a, _ in js if t0 <= a < t1) / n
    out.update(_exec([j for j in jobs.values() if j["tag"] in tags],
                     [s for s in raw["stages"] if s["tag"] in tags],
                     sum(o["t2"] - o["t0"] for o in timed), raw["cores"], n,
                     sum(o["gc_ms"] for o in timed)))
    return out, worst


def _self_times(units, phases):
    """Sum the layer self times of units (lo, hi, job intervals, build
    intervals): (parts, Catalyst phase totals, largest sum error)."""
    parts = dict.fromkeys(["exec", "plans", "operators", "driver_gap"], 0.0)
    phase_ms = dict.fromkeys(["analysis", "optimization", "planning"], 0.0)
    worst = 0.0
    for lo, hi, jobs, build in units:
        mine = [ph for ph in phases if lo <= ph["start"] < hi]
        part = partition(lo, hi, jobs, [(ph["start"], ph["end"]) for ph in mine], build)
        worst = max(worst, abs(sum(part.values()) - (hi - lo)))
        for k, v in part.items():
            parts[k] += v
        for ph in mine:
            if ph["name"] in phase_ms:
                phase_ms[ph["name"]] += ph["end"] - ph["start"]
    return parts, phase_ms, worst


def _common(raw, n, parts, phase_ms, cold_compiles, steady_compiles):
    """Layer metrics both loops share, per pass (per batch for ingest)."""
    return {
        "operators.self_s": parts["operators"] / 1000 / n,
        "plans.analysis_s": phase_ms["analysis"] / 1000 / n,
        "plans.optimization_s": phase_ms["optimization"] / 1000 / n,
        "plans.planning_s": phase_ms["planning"] / 1000 / n,
        "plans.self_s": parts["plans"] / 1000 / n,
        "plans.codegen_compiles": cold_compiles,
        "plans.codegen_compiles_steady": steady_compiles / n,
        "plans.codegen_ms_est": cold_compiles * raw["codegen_mean_ms"],
        "exec.self_s": parts["exec"] / 1000 / n,
        "exec.driver_gap_s": parts["driver_gap"] / 1000 / n,
        "exec.peak_rss_mb": raw["peak_rss_kb"] / 1024,
    }


def _exec(jobs, stages, wall_ms, cores, n, gc_ms):
    task_ms = sum(s["run_ms"] for s in stages)
    skews = [s["max_task_ms"] / s["median_task_ms"] for s in stages
             if s["tasks"] >= 2 and s["median_task_ms"] > 0]
    return {
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": sum(s["tasks"] for s in stages) / n,
        "exec.task_s": task_ms / 1000 / n,
        "exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9 / n,
        "exec.gc_s": gc_ms / 1000 / n,
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages) / n,
        "exec.spill_bytes": sum(s["spill"] for s in stages) / n,
        "exec.skew": max(skews) if skews else 1.0,
        "exec.idle_frac": 1 - task_ms / (cores * wall_ms) if wall_ms else 0.0,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "sources.scan_bytes": sum(s["in_bytes"] for s in stages) / n,
        "sources.scan_rows": sum(s["in_rows"] for s in stages) / n,
        "sources.write_bytes": sum(s["out_bytes"] for s in stages) / n,
    }


# --- ingest --------------------------------------------------------------

def ingest_arrivals(raw, file_batch, commit_ms):
    """Per arrival: (index, scheduled ms, commit ms of its batch or None)."""
    out = []
    for i, (name, due) in enumerate(zip(raw["arrivals"], raw["scheduled_ms"])):
        b = file_batch.get(name)
        out.append((i, due, commit_ms.get(b) if b is not None else None))
    return out


# the program folds its band and gram indexes every 4th micro-batch
# (ingestProgramStream's maintainEvery): batch b folds when (b + 1) % 4 == 0
MAINTAIN_EVERY = 4


def is_fold(batch_id):
    return (batch_id + 1) % MAINTAIN_EVERY == 0


def cycle_s(durations):
    """Mean batch time over one maintenance cycle, from batch id -> seconds:
    the median probe batch and the median fold batch, weighted by their
    shares of a cycle. The window holds only a handful of batches, and a
    plain mean or median over them moves with how many folds happen to
    fall inside it."""
    fold = [s for b, s in durations.items() if is_fold(b)]
    probe = [s for b, s in durations.items() if not is_fold(b)]
    return ((MAINTAIN_EVERY - 1) * statistics.median(probe) + statistics.median(fold)) \
        / MAINTAIN_EVERY


def ingest_end_to_end(raw, arrivals, batch_ms, batch_start):
    """cold_s is the cold cycle: from the first arrival's landing to the
    commit of the cycle's last single-file batch, the program's first fold.
    pass_s is the maintenance-cycle batch time (`cycle_s`) of the
    micro-batches that started in the timed window. If the window holds no
    fold (or no probe) batch, which takes batches slower than a quarter of
    the window, those of the whole stream after batch 0 stand in.
    Latencies are those of the window's arrivals."""
    cold = raw["cold"]
    lat = [(c - due) / 1000 for i, due, c in arrivals[cold:] if c is not None]
    stream = {b: ms / 1000 for b, ms in batch_ms.items() if b > 0}
    timed = {b: s for b, s in stream.items()
             if b >= cold and batch_start[b] <= raw["last_due_ms"]}
    for fold in (True, False):
        if not any(is_fold(b) == fold for b in timed):
            timed.update({b: s for b, s in stream.items() if is_fold(b) == fold})
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "cold_s": (arrivals[cold - 1][2] - arrivals[0][1]) / 1000,
        "pass_s": cycle_s(timed),
        "op_p50_s": percentile(lat, 50),
        "op_p90_s": percentile(lat, 90),
    }, {"arrivals_timed": len(lat), "batches_timed": len(timed)}


def backlog_end(raw, arrivals, batch_ms):
    """Arrivals still uncommitted two of the window's longest batches after
    the last one landed. At a sustained rate every arrival rides the batch
    running when it lands or the next one, so this is 0; a growing queue
    leaves arrivals waiting longer."""
    limit = raw["last_due_ms"] + 2 * max(ms for b, ms in batch_ms.items() if b > 0)
    return sum(1 for _, _, c in arrivals if c is None or c > limit)


def ingest_layers(raw, arrivals, batch_ms, store_bytes, arriving_bytes, live_bytes,
                  admitted, offered):
    """Per-layer metrics of a traced ingest run, per micro-batch after the
    cold cycle's. A batch's addBatch part is graft's
    ingestBatchStep: its time outside jobs and Catalyst phases is the
    operators layer; the rest of the trigger is the stream's own
    bookkeeping (driver gap)."""
    jobs = _jobs(raw)
    batches = [b for b in raw["batches"]
               if b["batch"] >= raw["cold"] and "d_triggerExecution" in b]
    n = len(batches)
    trig = lambda b: b["d_triggerExecution"]
    units, own_jobs = [], []
    for b in batches:
        lo, hi = b["start"], b["start"] + trig(b)
        bj = [j for j in jobs.values() if lo <= j["start"] < hi]
        own_jobs += bj
        add_hi = hi - b.get("d_commitOffsets", 0)
        units.append((lo, hi, [(j["start"], j["end"]) for j in bj],
                      [(add_hi - b.get("d_addBatch", 0), add_hi)]))
    parts, phase_ms, worst = _self_times(units, raw["phases"])
    out = _common(raw, n, parts, phase_ms, raw["cold_compiles"], raw["steady_compiles"])
    total_trig = sum(trig(b) for b in batches)
    share = lambda *keys: sum(b.get("d_" + k, 0) for b in batches for k in keys) / total_trig
    fold = [trig(b) for b in batches if is_fold(b["batch"])]
    probe = [trig(b) for b in batches if not is_fold(b["batch"])]
    out.update({
        "operators.build_s": out["operators.self_s"],
        "operators.eager_jobs": 0.0,
        "streaming.batches": n,
        "streaming.rows_per_batch": statistics.mean(b["rows"] for b in batches),
        "streaming.add_batch_share": share("addBatch"),
        "streaming.planning_share": share("queryPlanning"),
        "streaming.offsets_share": share("latestOffset", "getBatch", "walCommit"),
        "streaming.commit_share": share("commitOffsets"),
        "streaming.fold_probe_ratio": statistics.median(fold) / statistics.median(probe)
        if fold and probe else 0.0,
        "streaming.backlog_end": backlog_end(raw, arrivals, batch_ms),
        "streaming.admit_ratio": admitted / offered,
        "sources.write_amp": raw["window_file_bytes_written"] / arriving_bytes,
        "sources.space_amp": store_bytes / live_bytes,
        "sources.store_bytes": store_bytes,
    })
    stage_ids = {s for j in own_jobs for s in j["stages"]}
    out.update(_exec(own_jobs, [s for s in raw["stages"] if s["id"] in stage_ids],
                     total_trig, raw["cores"], n, raw["window_gc_ms"]))
    out["sources.write_bytes"] = raw["window_file_bytes_written"] / n
    return out, worst


# --- spans ---------------------------------------------------------------

def _span(name, start, end, parent, op):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": op}


def closed_spans(raw):
    """op -> build | exec -> Catalyst phase | job -> stage, per op."""
    jobs = _jobs(raw)
    out = []
    for o in raw["ops"]:
        op = o["tag"]
        out.append(_span("op", o["t0"], o["t2"], None, op))
        out.append(_span("build", o["t0"], o["t1"], "op", op))
        out.append(_span("exec", o["t1"], o["t2"], "op", op))
        parent = lambda t: "build" if t < o["t1"] else "exec"
        for ph in raw["phases"]:
            if o["t0"] <= ph["start"] < o["t2"]:
                out.append(_span(ph["name"], ph["start"], ph["end"], parent(ph["start"]), op))
        for j in jobs.values():
            if j["tag"] == op:
                out.append(_span(f"job {j['id']}", j["start"], j["end"], parent(j["start"]), op))
    out += _stage_spans(raw, jobs)
    return out


def ingest_spans(raw, arrivals, file_batch):
    """arrival -> batch -> durationMs part -> job -> stage. The parts are
    laid out in trigger order: offsets and planning from the batch start,
    addBatch and commitOffsets back from its end."""
    jobs = _jobs(raw)
    out = []
    batch_of = {i: file_batch.get(name) for i, name in enumerate(raw["arrivals"])}
    for i, due, c in arrivals:
        out.append(_span("arrival", due, c, None, f"arrival:{i}"))
    for b in raw["batches"]:
        if "d_triggerExecution" not in b:
            continue
        op = f"batch:{b['batch']}"
        lo, hi = b["start"], b["start"] + b["d_triggerExecution"]
        owners = [f"arrival:{i}" for i, bb in batch_of.items() if bb == b["batch"]]
        out.append(_span("batch", lo, hi, owners[0] if owners else None, op))
        t = lo
        for part in ["latestOffset", "getBatch", "walCommit", "queryPlanning"]:
            d = b.get("d_" + part, 0)
            out.append(_span(part, t, t + d, "batch", op))
            t += d
        commit = b.get("d_commitOffsets", 0)
        add = b.get("d_addBatch", 0)
        out.append(_span("addBatch", hi - commit - add, hi - commit, "batch", op))
        out.append(_span("commitOffsets", hi - commit, hi, "batch", op))
        for j in jobs.values():
            if lo <= j["start"] < hi:
                j["tag"] = op
                out.append(_span(f"job {j['id']}", j["start"], j["end"], "addBatch", op))
    out += _stage_spans(raw, jobs)
    return out


def _stage_spans(raw, jobs):
    job_of = {s: j for j in jobs.values() for s in j["stages"]}
    return [_span(f"stage {s['id']}", s["submit"], s["complete"], f"job {job_of[s['id']]['id']}",
                  job_of[s["id"]]["tag"])
            for s in raw["stages"] if s["id"] in job_of]
