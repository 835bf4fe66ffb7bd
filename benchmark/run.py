"""Run one benchmark workload on one seed and print its metrics.

    python3 benchmark/run.py --workload backlog|live|dedup_ingest \
        --seed N --seconds S --trace 0|1

Builds the program from source (``build.py``), makes the workload's inputs
from the seed, drives the program through the JVM harness
(``harness/``), checks every output against expected values computed here
apart from the program (``expect.py``), and prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The lines before it give operation counts,
the per-workload figures and, when traced, every layer metric with the
end-to-end metric it should move. Exits non-zero without a result when
the program cannot be built or run.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import expect  # noqa: E402
import gen  # noqa: E402

# A fixed, pre-touched heap: peak RSS then moves with native and off-heap
# memory (state stores, generated code, threads) instead of with when the
# collector happened to grow the heap; heap growth shows as GC time in
# cpu_s, or as a failure.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
SETUP_REPS = 3

BACKLOG = dict(events=10000, span_hours=3, renders=1, snapshots=4)
# The live feed: an on phase at a fixed rate after a discarded warm-up,
# then an idle phase; the whole run stays far under minPurgeTimeMins.
LIVE = dict(warm_s=4.0, on_share=0.6, lead_ms=500)
LIVE_RATE = 400  # events/s; see README for how it was chosen
WARM_EVENTS = 2000
# 8 index buckets: sized to a 1.5k-document base (the default 64 is sized
# for large corpora).
DEDUP = dict(base_docs=1500, batch_docs=150, per_round=2, batches=36,
             warm_batches=2, buckets=8)
RECALL_FLOOR = 0.85  # see README: LSH recall floor at Jaccard >= 0.7
HIGH_J = 0.7

# End-to-end metric units. backlog and dedup_ingest print the first six
# (BENCHMARK.json); live prints its own set.
UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
         "work_per_cpu_s": "1/s", "main_cpu_ms": "ms", "side_cpu_ms": "ms",
         "work_rate": "1/s", "emit_p50_ms": "ms", "emit_p99_ms": "ms",
         "snapshot_board_ms": "ms"}
PER_LAYER = {  # name -> unit; per round of the timed phase
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_s": "s", "spark.slot_util": "ratio",
    "spark.outside_jobs_ms": "ms", "spark.shuffle_write_mb": "MB",
    "spark.gc_ms": "ms"}
PER_ROUND = {"spark.jobs", "spark.stages", "spark.tasks", "spark.executor_s",
             "spark.outside_jobs_ms", "spark.shuffle_write_mb", "spark.gc_ms"}

# Layer metrics of the traced run: unit and the end-to-end metric (on the
# named workload) each should move.
LAYER_METRICS = [
    ("sources.scan_tasks", "count", "work_per_cpu_s, main_cpu_ms on backlog"),
    ("sources.scan_busy_s", "s", "work_per_cpu_s, main_cpu_ms on backlog; emit_p50_ms on live"),
    ("sources.scans_per_render", "count", "main_cpu_ms on backlog"),
    ("sources.latest_offset_ms", "ms", "emit_p50_ms on live"),
    ("sources.backlog_rows_max", "rows", "emit_p99_ms on live"),
    ("streaming.data_batches", "count", "emit_p50_ms on live"),
    ("streaming.timer_batches", "count", "cpu_s, snapshot_board_ms on live"),
    ("streaming.timer_batch_ms", "ms", "cpu_s on live"),
    ("streaming.batch_ms", "ms", "emit_p50_ms on live"),
    ("streaming.planning_ms", "ms", "emit_p50_ms on live"),
    ("streaming.add_batch_ms", "ms", "emit_p50_ms on live; work_per_cpu_s on backlog"),
    ("streaming.log_commit_ms", "ms", "emit_p50_ms on live"),
    ("streaming.state_update_ms", "ms", "work_per_cpu_s on backlog"),
    ("streaming.state_commit_ms", "ms", "emit_p50_ms on live"),
    ("streaming.state_rows", "rows", "side_cpu_ms, peak_rss_mb"),
    ("streaming.state_mb", "MB", "peak_rss_mb"),
    ("streaming.shuffle_write_mb", "MB", "work_per_cpu_s on backlog"),
    ("streaming.jobs_per_batch", "count", "emit_p50_ms on live"),
    ("streaming.slot_util", "ratio", "work_per_cpu_s on backlog"),
    ("streaming.outside_jobs_ms", "ms", "emit_p50_ms on live"),
    ("streaming.sink_ms", "ms", "emit_p50_ms on live"),
    ("api.top_by_edits_ms", "ms", "main_cpu_ms on backlog"),
    ("api.top_by_bytes_ms", "ms", "main_cpu_ms on backlog"),
    ("api.top_by_bias_ms", "ms", "main_cpu_ms on backlog"),
    ("api.get_page_ms", "ms", "main_cpu_ms on backlog"),
    ("api.jobs_per_render", "count", "main_cpu_ms on backlog"),
    ("api.render_slot_util", "ratio", "main_cpu_ms on backlog"),
    ("api.snapshot_ms", "ms", "side_cpu_ms on backlog; snapshot_board_ms on live"),
    ("api.snapshot_jobs", "count", "side_cpu_ms on backlog; snapshot_board_ms on live"),
    ("operators.exact_clean_ms", "ms", "main_cpu_ms on dedup_ingest"),
    ("operators.exact_clean_jobs", "count", "main_cpu_ms on dedup_ingest"),
    ("operators.near_pairs_ms", "ms", "main_cpu_ms on dedup_ingest"),
    ("operators.near_pairs_jobs", "count", "main_cpu_ms on dedup_ingest"),
    ("operators.jobs_per_generation", "count", "main_cpu_ms on dedup_ingest"),
    ("operators.serve_slot_util", "ratio", "main_cpu_ms on dedup_ingest"),
    ("operators.serve_read_mb", "MB", "main_cpu_ms on dedup_ingest"),
    ("operators.exact_append_ms", "ms", "side_cpu_ms on dedup_ingest"),
    ("operators.exact_append_jobs", "count", "side_cpu_ms on dedup_ingest"),
    ("operators.near_append_ms", "ms", "side_cpu_ms on dedup_ingest"),
    ("operators.near_append_jobs", "count", "side_cpu_ms on dedup_ingest"),
    ("operators.compact_ms", "ms", "work_per_cpu_s on dedup_ingest"),
    ("operators.compact_jobs", "count", "work_per_cpu_s on dedup_ingest"),
]


class Mismatch(Exception):
    pass


def now_us():
    return time.time_ns() // 1000


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def timed_median(reps, fn):
    """Run ``fn`` ``reps`` times; median wall seconds and the last result."""
    times, res = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn()
        times.append(time.perf_counter() - t0)
    return median(times), res


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    return a == b


def compare_state(got_rows, exp, what):
    """Every page of the expected state, field by field; names the first
    differing page."""
    got = {r["id"]: r for r in got_rows}
    if len(got) != len(got_rows):
        raise Mismatch("%s: duplicate page ids" % what)
    for pid in sorted(set(got) | set(exp)):
        if pid not in got:
            raise Mismatch("%s: page %r missing" % (what, pid))
        if pid not in exp:
            raise Mismatch("%s: unexpected page %r" % (what, pid))
        for f, v in exp[pid].items():
            if not same(got[pid][f], v):
                raise Mismatch("%s: page %r field %s = %r, expected %r"
                               % (what, pid, f, got[pid][f], v))


def compare_board(got, exp, fields, what):
    if [r["id"] for r in got] != [r["id"] for r in exp]:
        raise Mismatch("%s: ids %s, expected %s" % (
            what, [r["id"] for r in got], [r["id"] for r in exp]))
    for g, e in zip(got, exp):
        for f in fields:
            if not same(g[f], e[f]):
                raise Mismatch("%s: page %r field %s = %r, expected %r"
                               % (what, e["id"], f, g[f], e[f]))


# ------------------------------------------------------------------ harness

def launch(workload, work, args, extra):
    out = os.path.join(work, "result.json")
    spans = os.path.join(build.build_dir(), "traces",
                         "%s-seed%d.spans.json" % (workload, args.seed))
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    conf = dict(workload=workload, work=work, out=out, seconds=args.seconds,
                trace=args.trace, cores=args.cores, spans=spans,
                run="%s-seed%d" % (workload, args.seed), **extra)
    cmd = (["java"] + HEAP + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + build.JVM_FLAGS + ["-cp", build.classpath(), "benchharness.Harness"]
           + ["%s=%s" % kv for kv in conf.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "harness.log"), "w")
    launched_us = now_us()
    return (subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT), out,
            log, launched_us)


def finish(proc, out, log, launched_us, work, timeout):
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = -1
    log.close()
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "harness.log"), errors="replace").read()[-3000:]
        raise SystemExit("harness failed (exit %s):\n%s" % (rc, tail))
    with open(out) as f:
        res = json.load(f)
    res["launched_us"] = launched_us
    return res


def session_s(res):
    """JVM and Spark session start: from launching the JVM to a ready
    session."""
    return (res["session_ready_us"] - res["launched_us"]) / 1e6


# ------------------------------------------------------------------ workloads

def write_warm_capture(seed, path):
    """A small capture, apart from the measured inputs, for the warm-up."""
    evs = gen.backlog_events(seed + 100003, WARM_EVENTS, 0.5)
    with open(path, "w") as f:
        f.writelines(gen.wire(e) + "\n" for e in evs)


def run_backlog(args, work):
    cap = os.path.join(work, "capture.jsonl")
    n, hours = BACKLOG["events"], BACKLOG["span_hours"]

    def make():
        evs = gen.backlog_events(args.seed, n, hours)
        with open(cap, "w") as f:
            f.writelines(gen.wire(e) + "\n" for e in evs)
        return evs
    gen_s, events = timed_median(SETUP_REPS, make)
    warm = os.path.join(work, "warm.jsonl")
    write_warm_capture(args.seed, warm)
    pages = expect.batch_pages(events)
    lookup = expect.top_k(pages.values(), "edits", 1)[0]["title"]
    proc, out, log, launched = launch("backlog", work, args, dict(
        capture=cap, warm=warm, renders=BACKLOG["renders"], snapshots=BACKLOG["snapshots"],
        lookup=lookup))
    res = finish(proc, out, log, launched, work, 170)
    setup = session_s(res) + gen_s
    state = expect.stream_fold(events)

    def check():
        compare_state(res["state"], state, "drained state")
        last = {}
        for r in res["sink_rows"]:
            last[r["id"]] = r
        compare_state([last[p] for p in state if p in last], state, "sink output")
        b = res["boards"]
        fields = ["edits", "bytesChanged", "editsPerMinute"]
        for name, key, metric, extra in [
                ("topByEditsPerMinute", "edits", "editsPerMinute", []),
                ("topByBytesChanged", "bytes", "bytesChanged", []),
                ("topByBias", "bias", "bias", ["bias"])]:
            compare_board(b[key], expect.top_k(pages.values(), metric, 10),
                          fields + extra, name)
        compare_board([b["page"]], [pages[lookup]], fields, "getPage")
        compare_board(res["snapshot_top"], expect.top_k(state.values(), "edits", 10),
                      ["edits", "bytesChanged", "updated"], "snapshot top-k")

    detail = {"rounds": res["rounds"], "capture_events": n,
              "pages_in_state": len(state), "pages_in_view": len(pages),
              "wall": {"drain_eps": n / (median(res["drain_ms"]) / 1000),
                       "board_render_ms": median(res["render_ms"]),
                       "snapshot_board_ms": median(res["snapshot_ms"])}}
    for k in ("drain", "render", "snapshot"):
        detail[k + "_ms"] = res[k + "_ms"]
        detail[k + "_cpu_ms"] = res[k + "_cpu_ms"]
    return res, {
        "setup_s": setup,
        "work_per_cpu_s": n / (median(res["drain_cpu_ms"]) / 1000),
        "main_cpu_ms": median(res["render_cpu_ms"]),
        "side_cpu_ms": median(res["snapshot_cpu_ms"])}, detail, {}, check


def run_live(args, work):
    rate = args.rate
    on_s = args.seconds * LIVE["on_share"]
    idle_s = args.seconds - on_s
    warm_s = LIVE["warm_s"]
    count = int(round((warm_s + on_s) * rate))
    log_path = os.path.join(work, "feed.jsonl")
    warm = os.path.join(work, "warm.jsonl")
    ready = os.path.join(work, "ready")
    summary = os.path.join(work, "feed-summary.json")

    gen_s, _ = timed_median(SETUP_REPS, lambda: write_warm_capture(args.seed, warm))
    proc, out, log, launched = launch("live", work, args, dict(
        log=log_path, events=count, feed_s=warm_s + on_s, idle_s=idle_s,
        warm_s=warm_s, lead_ms=LIVE["lead_ms"], ready=ready, warm=warm))
    feed = None
    try:
        while not os.path.exists(ready):
            if proc.poll() is not None:
                break
            time.sleep(0.01)
        if os.path.exists(ready):
            t0_us = int(open(ready).read())
            feed = subprocess.Popen([sys.executable, os.path.join(HERE, "feed.py"),
                                     str(args.seed), str(t0_us), str(rate),
                                     str(count), log_path, summary])
        res = finish(proc, out, log, launched, work, 170)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        if feed is not None:
            if proc.returncode != 0:
                feed.kill()
            feed.wait()
    setup = session_s(res) + gen_s
    fs = json.load(open(summary))
    t0_us = res["t0_us"]
    events = gen.live_events(args.seed, count, t0_us, rate)

    def check():
        compare_state(res["state"], expect.stream_fold(events), "final state")
        for s in res["sinks"]:
            for pid, upd in s["rows"]:
                if upd > s["sink_us"]:
                    raise Mismatch("page %r emitted in batch %d with updated %d "
                                   "after its sink time %d"
                                   % (pid, s["batch"], upd, s["sink_us"]))
        if not lat:
            raise Mismatch("no emit latency samples")

    emitted = {s["batch"]: (s["sink_us"], {r[0] for r in s["rows"]})
               for s in res["sinks"]}
    on_from = t0_us + int(warm_s * 1e6)
    lat, last_sink = [], 0
    backlog_max = 0
    for p in res["progress"]:
        if p["end"] > p["start"] and p["batch"] in emitted:
            sink_us, ids = emitted[p["batch"]]
            for ev in events[p["start"]:p["end"]]:
                if ev["ts"] < on_from or ev["gated"] or ev["kind"] != "edit":
                    continue
                if expect.page_id(ev["wiki"], ev["title"]) in ids:
                    lat.append((sink_us - ev["ts"]) / 1000.0)
                    last_sink = max(last_sink, sink_us)
        if p["ts_us"] >= on_from:
            due = min(count, max(0, (p["ts_us"] - t0_us) * rate // 1_000_000 + 1))
            backlog_max = max(backlog_max, due - p["start"])
    on_events = sum(1 for e in events if e["ts"] >= on_from)
    detail = {"rate": rate, "on_s": on_s, "idle_s": idle_s, "warm_s": warm_s,
              "events": count, "latency_samples": len(lat),
              "emit_p50_ms": median(lat),
              "emit_p99_ms": pct(lat, 0.99) if len(lat) >= 1000 else None,
              "emit_max_ms": max(lat, default=0.0), "snapshot_polls": len(res["poll_ms"]),
              "micro_batches": len(res["progress"]),
              "generator_lateness_p50_ms": fs["lateness_p50_ms"],
              "generator_lateness_max_ms": fs["lateness_max_ms"],
              "generator_rate": fs["achieved_rate"]}
    res["ops"]["events"] = {"attempted": count, "failed": 0}
    e2e = {"setup_s": setup,
           "work_rate": on_events / (max(1, last_sink - on_from) / 1e6),
           "emit_p50_ms": median(lat),
           "snapshot_board_ms": median(res["poll_ms"])}
    if detail["emit_p99_ms"] is not None:
        e2e["emit_p99_ms"] = detail["emit_p99_ms"]
    return res, e2e, detail, {
        "sources.backlog_rows_max": backlog_max}, check


def run_dedup(args, work):
    d = DEDUP
    total = d["batches"] + d["warm_batches"]
    bdir = os.path.join(work, "batches")
    base_path = os.path.join(work, "base.jsonl")

    def make():
        c = gen.Corpus(args.seed, base_docs=d["base_docs"],
                       batch_docs=d["batch_docs"], batches=total)
        os.makedirs(bdir, exist_ok=True)
        gen.write_jsonl(base_path, c.base, ["doc_id", "text"])
        for i, b in enumerate(c.batches):
            gen.write_jsonl(os.path.join(bdir, "batch-%d.jsonl" % i), b,
                            ["doc_id", "text"])
        return c
    gen_s, corpus = timed_median(SETUP_REPS, make)
    warm = ",".join(os.path.join(bdir, "batch-%d.jsonl" % i)
                    for i in range(d["batches"], total))
    proc, out, log, launched = launch("dedup_ingest", work, args, dict(
        base=base_path, batches=bdir, nbatches=d["batches"], warm=warm,
        per_round=d["per_round"], setup_reps=SETUP_REPS, buckets=d["buckets"]))
    res = finish(proc, out, log, launched, work, 170)
    setup = session_s(res) + gen_s + median(res["index_build_s"])

    docs = sum(len(corpus.batches[batch_index(b)]) for b in res["batches"])
    found_recall = {}

    def check():
        texts = {doc["doc_id"]: doc["text"] for doc in corpus.all_docs}
        sh = {}

        def shingles(i):
            if i not in sh:
                sh[i] = expect.shingles(texts[i])
            return sh[i]
        ingested = {doc["text"] for doc in corpus.base}
        planted = found = 0
        for b in res["batches"]:
            k = batch_index(b)
            batch = corpus.batches[k]
            exp = expect.exact_verdicts(batch, ingested)
            got = {v[0]: (v[1], v[2]) for v in b["verdicts"]}
            for doc in batch:
                i = doc["doc_id"]
                if got.get(i) != exp[i]:
                    raise Mismatch("batch %d doc %d (%s): verdict %s, expected %s"
                                   % (k, i, doc["kind"], got.get(i), exp[i]))
                if doc["kind"] == "exact" and not exp[i][0]:
                    raise Mismatch("batch %d doc %d: planted copy not ingested" % (k, i))
            pairs = {(a, c) for a, c, _ in b["pairs"]}
            for a, c, j in b["pairs"]:
                jj = expect.jaccard(shingles(a), shingles(c))
                if jj < 0.5 or abs(jj - j) > 1e-9:
                    raise Mismatch("batch %d pair (%d, %d): jaccard %s, computed %s"
                                   % (k, a, c, j, jj))
            for doc in batch:
                if doc["kind"] == "near" and exp[doc["doc_id"]][1]:
                    j = expect.jaccard(shingles(doc["doc_id"]), shingles(doc["source"]))
                    if j >= HIGH_J:
                        planted += 1
                        key = (min(doc["doc_id"], doc["source"]),
                               max(doc["doc_id"], doc["source"]))
                        found += key in pairs
            ingested |= {doc["text"] for doc in batch if exp[doc["doc_id"]][1]}
        recall = found / planted if planted else 1.0
        found_recall.update(recall=recall, planted_high_near=planted)
        if recall < RECALL_FLOOR:
            raise Mismatch("near-dup recall %.3f (%d/%d) below the floor %.2f"
                           % (recall, found, planted, RECALL_FLOOR))
        for r in res["rescreen"]:
            bad = [v for v in r["verdicts"] if not v[1] or v[2]]
            if bad or len(r["verdicts"]) != r["survivors"]:
                raise Mismatch("re-screen of %s: %d of %d docs not flagged ingested"
                               % (r["file"], len(bad), r["survivors"]))
    # Means, not medians: a round's batches alternate one and two live
    # generations, whose serve costs differ by about 40%, so the median of
    # a few batches jumps between the two.
    screen = [b["clean_ms"] + b["pairs_ms"] for b in res["batches"]]
    absorb = [b["exact_append_ms"] + b["near_append_ms"] for b in res["batches"]]
    detail = {"rounds": res["rounds"], "batches": len(res["batches"]),
              "wall": {"ingest_docs_per_s": docs / res["timed_s"],
                       "screen_ms": statistics.mean(screen),
                       "absorb_ms": statistics.mean(absorb)},
              "screen_ms": screen, "absorb_ms": absorb,
              "screen_cpu_ms": [b["screen_cpu_ms"] for b in res["batches"]],
              "absorb_cpu_ms": [b["absorb_cpu_ms"] for b in res["batches"]],
              "compact_ms": res["compact_ms"], "index_build_s": res["index_build_s"],
              "near_recall": found_recall}
    return res, {
        "setup_s": setup,
        "work_per_cpu_s": docs / res["timed_cpu_s"],
        "main_cpu_ms": statistics.mean(detail["screen_cpu_ms"]),
        "side_cpu_ms": statistics.mean(detail["absorb_cpu_ms"])}, detail, {}, check


def batch_index(b):
    return int(os.path.basename(b["file"])[len("batch-"):-len(".jsonl")])


WORKLOADS = {"backlog": run_backlog, "live": run_live,
             "dedup_ingest": run_dedup}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # For reference runs only: Spark's local[N] (default: every core) and
    # the live feed's rate.
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--rate", type=int, default=LIVE_RATE)
    args = ap.parse_args()
    if args.rate * gen.MIN_GAP_US > 1_000_000:
        ap.error("--rate above %d events/s" % (1_000_000 // gen.MIN_GAP_US))
    build.build()
    work = os.path.join(build.build_dir(), "work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, e2e, detail, extra_layers, check = WORKLOADS[args.workload](args, work)
        correct = True
        try:
            check()
        except Mismatch as m:
            correct = False
            print("CHECK FAILED: %s" % m)
        rounds = max(1, res["rounds"])
        e2e["cpu_s"] = res["timed_cpu_s"] / rounds
        e2e["peak_rss_mb"] = res["peak_rss_mb"]
        ops = res["ops"]
        attempted = sum(v["attempted"] for v in ops.values())
        failed = sum(v["failed"] for v in ops.values())
        for kind, v in ops.items():
            print("ops %-14s attempted=%d failed=%d" % (kind, v["attempted"], v["failed"]))
        for k, v in detail.items():
            print("%s %s" % (k, json.dumps(v)))
        t = res["phase_us"]
        print("phases_s %s" % json.dumps({
            "session": session_s(res),
            "before_timed": (t["timed"][0] - res["session_ready_us"]) / 1e6,
            "timed": (t["timed"][1] - t["timed"][0]) / 1e6,
            "after_timed": (t["end"] - t["timed"][1]) / 1e6}))
        if args.trace:
            tr = res["trace"]
            tr.update(extra_layers)
            print("trace: spans in %s" % os.path.relpath(os.path.join(
                build.build_dir(), "traces", "%s-seed%d.spans.json"
                % (args.workload, args.seed)), os.getcwd()))
            for layer, v in sorted(tr["self_ms"].items()):
                print("self_ms %-12s %.1f" % (layer, v))
            for name, unit, moves in LAYER_METRICS:
                if name in tr:
                    print("layer %-30s %12.3f %-6s -> %s" % (name, tr[name], unit, moves))
            metrics = {n: {"value": tr[n] / (rounds if n in PER_ROUND else 1),
                           "unit": u} for n, u in PER_LAYER.items()}
            print("traced_e2e %s" % json.dumps(e2e))
        else:
            metrics = {n: {"value": v, "unit": UNITS[n]} for n, v in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
