"""Per-layer metrics of one traced run, derived from its span file.

Each line of the file is one span: `id`, `parent`, `layer`, `name`,
`start_us`, `end_us` and numeric `attrs`. The tree is workload →
micro-batch or query → phase → Spark job. Micro-batch phases are laid
end to end under their trigger, so a span's self time is its duration
minus what its children cover.
"""
import json

QUERIES = ["hits_scores", "pagerank_events", "textrank_terms", "rfm_segments",
           "tfidf_sim", "winnow_fingerprints", "session_summary",
           "logstash_v1_json"]


def pct(xs, p):
    """Linear-interpolated percentile, p in [0, 100]; 0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    r = p / 100 * (len(xs) - 1)
    lo = int(r)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def dur_ms(s):
    return (s["end_us"] - s["start_us"]) / 1000


def covered_ms(spans):
    """Length of the union of the spans' intervals, in ms."""
    total, end = 0, None
    for a, b in sorted((s["start_us"], s["end_us"]) for s in spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def derive(spans):
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    wl = by_id["workload"]["attrs"]
    ws, we = wl["window_start_us"], wl["window_end_us"]

    def in_window(s):
        return ws <= s["start_us"] < we

    m = {}

    ticks = [s for s in spans if s["layer"] == "generator" and s["name"] == "tick"]
    gen = by_id.get("generator")
    m["gen.offered"] = gen["attrs"]["offered"] if gen else 0
    m["gen.late_ms_p99"] = pct([dur_ms(t) for t in ticks], 99)

    for role in ("producer", "consumer"):
        bs = sorted((s for s in spans if s["layer"] == role and s["name"] == "batch"
                     and in_window(s)), key=lambda s: s["attrs"]["batch_id"])
        phase = {}
        selfs = []
        for b in bs:
            ch = kids.get(b["id"], [])
            for c in ch:
                phase.setdefault(c["name"], []).append(dur_ms(c))
            selfs.append(dur_ms(b) - sum(dur_ms(c) for c in ch))
        for p in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets"):
            m[f"{role}.{p}_ms_p50"] = pct(phase.get(p, []), 50)
        m[f"{role}.addBatch_ms_p99"] = pct(phase.get("addBatch", []), 99)
        m[f"{role}.trigger_ms_p50"] = pct([dur_ms(b) for b in bs], 50)
        m[f"{role}.self_ms_p50"] = pct(selfs, 50)
        m[f"{role}.batches"] = len(bs)
        m[f"{role}.rows_per_batch_p50"] = pct([b["attrs"]["rows"] for b in bs], 50)
        m[f"{role}.gap_ms_p50"] = pct(
            [(b["start_us"] - a["end_us"]) / 1000 for a, b in zip(bs, bs[1:])
             if b["attrs"]["batch_id"] == a["attrs"]["batch_id"] + 1], 50)

    sink = [s for s in spans if s["layer"] == "sink"]
    m["consumer.lag_records_max"] = max(
        [s["attrs"]["lag"] for s in sink if in_window(s)], default=0)
    store = by_id.get("store", {"attrs": {}})["attrs"]
    for k in ("put_attempts", "delivered", "dropped", "retained_records", "shard_skew"):
        m[f"store.{k}"] = store.get(k, 0)
    m["store.put_yield"] = (store["delivered"] / store["put_attempts"]
                            if store.get("put_attempts") else 0)
    m["store.backlog_max"] = max([s["attrs"]["backlog"] for s in sink], default=0)

    jobs = [s for s in spans if s["layer"] == "spark"]
    timed_jobs = []
    for q in QUERIES:
        runs = [s for s in spans if s["layer"] == "query" and s["name"] == q]
        build, action, self_, njobs, tasks, shuffle = [], [], [], [], [], []
        for r in runs:
            b, a = by_id[r["id"] + ":build"], by_id[r["id"] + ":action"]
            bj, aj = kids.get(b["id"], []), kids.get(a["id"], [])
            timed_jobs += bj + aj
            build.append(dur_ms(b))
            action.append(dur_ms(a))
            self_.append(dur_ms(b) - covered_ms(bj))
            njobs.append(len(bj) + len(aj))
            tasks.append(sum(j["attrs"]["tasks"] for j in bj + aj))
            shuffle.append(sum(j["attrs"]["shuffle_write_bytes"] for j in bj + aj))
        m[f"{q}.build_ms"] = pct(build, 50)
        m[f"{q}.build_self_ms"] = pct(self_, 50)
        m[f"{q}.action_ms"] = pct(action, 50)
        m[f"{q}.jobs"] = pct(njobs, 50)
        m[f"{q}.tasks"] = pct(tasks, 50)
        m[f"{q}.shuffle_bytes"] = pct(shuffle, 50)

    stage = by_id.get("stage", {"attrs": {}})["attrs"]
    m["stage.builds"] = stage.get("builds", 0)
    m["stage.build_s"] = stage.get("build_s", 0)
    m["stage.bytes"] = stage.get("bytes", 0)

    # the engine's totals over the measured work: the timed query phases of
    # the batch workload, every job started in the window of a stream one
    window_jobs = timed_jobs if timed_jobs else [j for j in jobs if in_window(j)]
    m["spark.jobs"] = len(window_jobs)
    for k, a in (("tasks", "tasks"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                 ("executor_run_ms", "run_ms"), ("executor_cpu_ms", "cpu_ms"),
                 ("gc_ms", "gc_ms"), ("spill_bytes", "spill_bytes")):
        m[f"spark.{k}"] = sum(j["attrs"][a] for j in window_jobs)
    return m


if __name__ == "__main__":
    import sys
    for k, v in sorted(derive(load(sys.argv[1])).items()):
        print(f"{k:40s} {v}")
