#!/usr/bin/env python3
"""One command for the relay and training-pipeline benchmark.

    python3 perfbench/run.py --workload relay_burst --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the program from `src/main`
with the Scala compiler shipped in the Spark distribution (cached per
source hash under `.bench_build/`, or $CARGO_TARGET_DIR), renders the
workload's inputs from the seed, runs the JVM harness, checks every
operation's output, prints each metric by name with its unit, and
prints one JSON result as the last line of stdout. See README.md.
"""
import argparse
import glob
import gzip
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import data  # noqa: E402  (train_pipelines' fixed tables)
import gen  # noqa: E402  (the generator's renderer re-creates sent bytes)

WORKLOADS = ("relay_burst", "relay_rotate", "relay_steady", "train_pipelines")
QUERIES = ("corpus_pipeline", "media_pipeline", "crawl_frontier_cycles",
           "dedup_clusters", "ann_ivfpq", "vocab_unigram_em", "dedup_minhash",
           "dedup_embedding_lsh")
WARMUP_FIRST_SEQ = 9_000_000_000
HARNESS_LIMIT_S = 160  # a run must end within 180 s of its build
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]
# Wall time of the timed work: printed, and compared through the traced
# run's per-layer metrics, but not gated. Over sets of five to ten runs
# on a shared 4-core machine its quartile spread was 0.18-0.40 of its
# median, as wide as or wider than the largest bound a gated metric may
# have (0.25); CPU time stayed within 0.07-0.17.
WALL = ("work_s", "s")

PER_LAYER = [
    ("SocketIngest.bytes_in", "B"), ("SocketIngest.datagrams_in", "count"),
    ("SocketIngest.files_published", "count"),
    ("SocketIngest.publish_lag_p50_ms", "ms"), ("SocketIngest.split_msgs", "count"),
    ("SyslogPipeline.batch_ms", "ms"), ("SyslogPipeline.add_batch_ms", "ms"),
    ("SyslogPipeline.planning_ms", "ms"), ("SyslogPipeline.rows_in", "count"),
    ("SyslogPipeline.rows_per_s", "1/s"), ("SyslogPipeline.spool_p50_ms", "ms"),
    ("SpoolWriter.files", "count"), ("SpoolWriter.bytes", "B"),
    ("SpoolDrainStream.ship_batch_ms", "ms"), ("SpoolDrainStream.ship_offset_ms", "ms"),
    ("SpoolDrainStream.ship_add_batch_ms", "ms"),
    ("SpoolDrainStream.retry_batch_ms", "ms"),
    ("SpoolDrainStream.query_failures", "count"),
    ("BatchTransport.calls", "count"), ("BatchTransport.records", "count"),
    ("BatchTransport.records_failed", "count"), ("BatchTransport.call_p50_ms", "ms"),
    ("RelayMain.passes", "count"), ("RelayMain.pass_failures", "count"),
    ("RelayMain.pass_p50_ms", "ms"), ("RelayMain.idle_pass_p50_ms", "ms"),
    ("RelayMain.backlog_max_msgs", "count"), ("RelayMain.backlog_last_msgs", "count"),
    ("StatsServer.scrape_p90_ms", "ms"), ("StatsServer.scrape_jobs", "count"),
    ("StatsServer.scrape_failures", "count"),
    ("relay_msgs_per_s", "msg/s"), ("ship_p50_ms", "ms"), ("ship_p99_ms", "ms"),
    ("scrape_p50_ms", "ms"), ("disk_mb", "MB"), ("pipeline_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_cpu_s", "s"),
    ("spark.core_busy_frac", "ratio"), ("spark.shuffle_bytes", "B"),
    ("spark.spill_bytes", "B"), ("spark.gc_s", "s"),
] + [("%s.%s" % (q, m), u) for q in QUERIES for m, u in (
    ("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
    ("exec_jobs", "count"), ("task_cpu_s", "s"), ("shuffle_bytes", "B"))] + [
    ("batch.build_s", "s"), ("batch.plan_s", "s"), ("batch.exec_s", "s"),
    ("batch.jobs", "count"),
    ("gen.sent", "count"), ("gen.late_p99_ms", "ms"),
] + [("self.%s_s" % s, "s") for s in (
    "pass", "spool_batch", "ship_batch", "retry_batch", "ship_call", "scrape",
    "query", "build", "plan", "exec", "job")] + [
    ("traced.work_s", "s")]


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def pct(values, q):
    """Nearest-rank percentile; None for an empty sample."""
    if len(values) == 0:
        return None
    v = np.sort(np.asarray(values, dtype=np.float64))
    return float(v[min(len(v) - 1, max(0, int(np.ceil(q / 100.0 * len(v))) - 1))])


def med(values):
    return pct(values, 50)


# ---- build ----------------------------------------------------------------

def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(home, "jars")


def build():
    """Compile src/main/scala and the harness; cached by source hash."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not srcs or not harness:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in srcs + harness + sorted(glob.glob("src/main/resources/**", recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.abspath(os.path.join(root, "scala-" + h.hexdigest()[:16]))
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    os.makedirs(os.path.join(out, "harness"))
    jars = os.path.join(spark_jars(), "*")
    scalac = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
              "scala.tools.nsc.Main", "-nowarn"]
    log("building the program (%d sources)" % len(srcs))
    subprocess.run(scalac + ["-classpath", jars, "-d", os.path.join(out, "classes")] + srcs,
                   check=True, stdout=sys.stderr)
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", os.path.join(out, "classes"), dirs_exist_ok=True)
    subprocess.run(scalac + ["-classpath", os.path.join(out, "classes") + ":" + jars,
                             "-d", os.path.join(out, "harness")] + harness,
                   check=True, stdout=sys.stderr)
    open(os.path.join(out, "ok"), "w").close()
    return out


# ---- harness ----------------------------------------------------------------

def run_harness(build_dir, work, a, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    cp = ":".join([os.path.join(build_dir, "harness"), os.path.join(build_dir, "classes"),
                   os.path.join(spark_jars(), "*")])
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "perfbench.Harness", "workload=" + a.workload, "work=" + work,
            "seconds=%s" % a.seconds, "trace=%d" % a.trace, "seed=%d" % a.seed,
            "cpus=%d" % a.cpus, "python=" + sys.executable,
            "gen=" + os.path.join(HERE, "gen.py"), "data=" + os.path.join(work, "data"),
            "queries=" + ",".join(QUERIES)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(work, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: harness exceeded the time limit")
        finally:
            # the harness runs in its own session with its generators:
            # never leave them behind (timeout, SIGTERM, Ctrl-C)
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(os.path.join(work, "harness.json")):
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit("perfbench: harness failed (rc=%d)\n%s" % (rc, tail))
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


# ---- tracing: self time per span kind -----------------------------------------

PARENTS = {"spool_batch": ("pass",), "ship_batch": ("pass",), "retry_batch": ("pass",),
           "ship_call": ("ship_batch", "retry_batch"),
           "job": ("spool_batch", "ship_batch", "retry_batch", "scrape",
                   "build", "plan", "exec"),
           "build": ("query",), "plan": ("query",), "exec": ("query",),
           "query": ("pass",)}


def self_times(spans):
    """Self time = span duration minus the union of its children, where
    a child's parent is the shortest span of an allowed kind that
    contains it (2 ms slack for millisecond-stamped progress events).
    Sets each span's "parent" (an index into `spans`, or None)."""
    slack = 2000
    by_name = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s["name"], []).append(i)
    children = {i: [] for i in range(len(spans))}
    for i, s in enumerate(spans):
        best = None
        for pname in PARENTS.get(s["name"], ()):
            for j in by_name.get(pname, ()):
                p = spans[j]
                if p["start_us"] - slack <= s["start_us"] and s["end_us"] <= p["end_us"] + slack:
                    if best is None or (p["end_us"] - p["start_us"]) < \
                            (spans[best]["end_us"] - spans[best]["start_us"]):
                        best = j
        s["parent"] = best
        if best is not None:
            children[best].append(i)
    out = {}
    for i, s in enumerate(spans):
        ivs = sorted((max(spans[c]["start_us"], s["start_us"]),
                      min(spans[c]["end_us"], s["end_us"])) for c in children[i])
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0.0) + \
            max(0, s["end_us"] - s["start_us"] - covered) / 1e6
    return out


# ---- relay correctness gate ---------------------------------------------------

SEQ_RE = re.compile(r"seq=(\d{10}) ")


def read_ledger(work):
    """The harness's ship ledger: (start µs, end µs, [(part, accepted)])
    per `ship()` call, in call order."""
    calls = []
    with open(os.path.join(work, "ship-ledger.tsv")) as f:
        for line in f:
            start, end, parts = line.rstrip("\n").split("\t")
            recs = [(x.rsplit(":", 1)[0], x.endswith(":1")) for x in parts.split(",") if x]
            calls.append((int(start), int(end), recs))
    return calls


def read_shipped(h, calls):
    """(message, ship end µs) for every record of every accepted part,
    in ship order; a part shipped twice yields its rows twice."""
    rows = []
    cache = {}
    for _, end, recs in calls:
        for part, accepted in recs:
            if not accepted:
                continue
            if part not in cache:
                d = h["retry_dir"] if part.startswith("retry") else h["spool_dir"]
                with gzip.open(os.path.join(d, part), "rb") as g:
                    cache[part] = [e["message"] for e in json.loads(g.read())["logEvents"]]
            rows.extend((m, end) for m in cache[part])
    return rows


def check_relay(h, calls, a):
    """Match every shipped row to the message it came from. Returns the
    gate counts and per-message arrays; bursts are the `group`s."""
    gens = [(g, np.load(g["ledger"])) for g in h["generators"] if g["tag"] != "warmup"]
    seqs = np.concatenate([led["seq"] for _, led in gens])
    sched = np.concatenate([led["sched_us"] for _, led in gens])
    sent = np.concatenate([led["sent_us"] for _, led in gens])
    group = np.concatenate([np.full(len(led["seq"]), k) for k, (_, led) in enumerate(gens)])
    # an unshipped message is censored at the end of its burst's drain
    censor_us = np.concatenate([np.full(len(led["seq"]), g["drained_us"], dtype=np.int64)
                                for g, led in gens])
    n = len(seqs)
    idx = {int(s): i for i, s in enumerate(seqs.tolist())}
    expected = gen.render_many(a.seed, seqs)
    shipped_at = np.full(n, -1, dtype=np.int64)
    intact = np.zeros(n, dtype=np.int64)
    fragment = np.zeros(n, dtype=bool)
    altered = np.zeros(n, dtype=bool)
    spurious = []
    for m, end in read_shipped(h, calls):
        mt = SEQ_RE.search(m)
        s = int(mt.group(1)) if mt else None
        if s is not None and s >= WARMUP_FIRST_SEQ:
            continue  # warm-up traffic, shipped during set-up
        i = idx.get(s) if s is not None else None
        if i is None:
            spurious.append(m)
        elif m == expected[i]:
            intact[i] += 1
            if shipped_at[i] < 0:
                shipped_at[i] = end
        elif expected[i].startswith(m) or expected[i].endswith(m):
            fragment[i] = True
        else:
            altered[i] = True
    # a fragment cut before or inside its seq tag: attribute it to a
    # message that never arrived intact
    missing_idx = np.flatnonzero(intact == 0).tolist()
    unexplained = 0
    for m in spurious:
        hit = [i for i in missing_idx if expected[i].endswith(m) or expected[i].startswith(m)]
        if hit:
            fragment[hit[0]] = True
        else:
            unexplained += 1
    ok = intact == 1
    split = fragment & (intact == 0)
    altered_only = altered & (intact == 0) & ~split
    gate = {"attempted": n, "failed": int(n - ok.sum()), "intact": int(ok.sum()),
            "missing": int(((intact == 0) & ~split & ~altered_only).sum()),
            "duplicate": int((intact > 1).sum()), "split": int(split.sum()),
            "altered": int(altered_only.sum()), "spurious_rows": unexplained}
    done_us = np.where(ok, shipped_at, censor_us)
    return gate, dict(sched=sched, sent=sent, group=group, ok=ok,
                      shipped_at=shipped_at, done_us=done_us)


def relay_metrics(h, work, a):
    calls = read_ledger(work)
    gate, ops = check_relay(h, calls, a)
    sched, ok, group, done_us = ops["sched"], ops["ok"], ops["group"], ops["done_us"]
    lat_ms = (done_us - sched) / 1000.0
    bursts = [group == k for k in range(group.max() + 1)]
    spans_s = [(done_us[b].max() - sched[b].min()) / 1e6 for b in bursts]
    timed = [p for p in h["passes"] if p["tag"] != "warmup"]
    # backlog at each timed pass end: sent so far minus shipped so far
    order_sent = np.sort(sched)
    order_ship = np.sort(ops["shipped_at"][ok])
    backlog = [int(np.searchsorted(order_sent, p["end_us"], "right") -
                   np.searchsorted(order_ship, p["end_us"], "right")) for p in timed]
    timed_scrapes = [s for s in h["scrapes"] if s["tag"] != "warmup"]
    scrapes = [(s["end_us"] - s["start_us"]) / 1000.0 for s in timed_scrapes]
    # medians over bursts: the first burst of a run still pays JIT warm-up
    e2e = {"work_s": med(spans_s), "cpu_s": burst_cpu_s(h), "peak_rss_mb": h["peak_rss_mb"]}
    pass_ms = [(p["end_us"] - p["start_us"]) / 1000.0 for p in timed]
    tcalls = [c for c in calls if c[0] >= h["first_op_us"]]
    layer = {
        "relay_msgs_per_s": gate["intact"] / sum(spans_s),
        "ship_p50_ms": med([pct(lat_ms[b], 50) for b in bursts]),
        "ship_p99_ms": med([pct(lat_ms[b], 99) for b in bursts]),
        "scrape_p50_ms": med(scrapes) or 0.0,
        "disk_mb": h["disk_bytes"] / 1e6,
        "SocketIngest.bytes_in": h["bytes_in"],
        "SocketIngest.datagrams_in": h["datagrams_in"],
        "SocketIngest.split_msgs": gate["split"],
        "SpoolWriter.files": h["spool_files"], "SpoolWriter.bytes": h["spool_bytes"],
        "BatchTransport.calls": len(tcalls),
        "BatchTransport.records": sum(len(c[2]) for c in tcalls),
        "BatchTransport.records_failed": sum(1 for c in tcalls for _, acc in c[2] if not acc),
        "BatchTransport.call_p50_ms": med([(c[1] - c[0]) / 1000.0 for c in tcalls]) or 0.0,
        "RelayMain.passes": len(timed),
        "RelayMain.pass_failures": sum(1 for p in timed if p["failure"]),
        "RelayMain.pass_p50_ms": med(pass_ms) or 0.0,
        "RelayMain.idle_pass_p50_ms": med([(p["end_us"] - p["start_us"]) / 1000.0
                                           for p in timed if p["records"] == 0]) or 0.0,
        "RelayMain.backlog_max_msgs": max(backlog) if backlog else 0,
        "RelayMain.backlog_last_msgs": backlog[-1] if backlog else 0,
        "StatsServer.scrape_p90_ms": pct(scrapes, 90) or 0.0,
        "StatsServer.scrape_failures": sum(1 for s in timed_scrapes if s["code"] != 200),
        "gen.sent": gate["attempted"],
        "gen.late_p99_ms": pct((ops["sent"] - sched) / 1000.0, 99),
    }
    if a.trace:
        layer.update(relay_trace_layers(h, timed, ops))
    return gate, e2e, layer


def relay_trace_layers(h, timed, ops):
    """Layer metrics that need the streaming progress events and the
    ingest poller (traced runs only)."""
    b = [x for x in h["batches"] if x["start_us"] >= h["first_op_us"]]

    def kind_ms(kind, key):
        return med([x["ms"].get(key, 0) for x in b if x["kind"] == kind]) or 0.0
    spool = [x for x in b if x["kind"] == "spool"]
    rows = sum(x["rows"] for x in spool)
    busy = sum(x["ms"].get("triggerExecution", 0) for x in spool) / 1000.0
    # socket to spooled: the end of the spool step of the pass that
    # shipped the message
    spool_end = {}
    for x in spool:
        end_us = x["start_us"] + 1000 * x["ms"].get("triggerExecution", 0)
        for p in timed:
            if p["start_us"] <= x["start_us"] <= p["end_us"]:
                spool_end[p["start_us"]] = max(spool_end.get(p["start_us"], 0), end_us)
    pass_starts = np.array(sorted(spool_end))
    spooled_ms = []
    if len(pass_starts):
        ok = ops["ok"]
        k = np.searchsorted(pass_starts, ops["shipped_at"][ok], "right") - 1
        spooled_ms = [(spool_end[pass_starts[kk]] - s_us) / 1000.0
                      for s_us, kk in zip(ops["sched"][ok], k) if kk >= 0]
    files = h.get("ingest_files", [])
    return {
        "SocketIngest.files_published": len(files),
        "SocketIngest.publish_lag_p50_ms": publish_lag_p50(files),
        "SyslogPipeline.batch_ms": kind_ms("spool", "triggerExecution"),
        "SyslogPipeline.add_batch_ms": kind_ms("spool", "addBatch"),
        "SyslogPipeline.planning_ms": kind_ms("spool", "queryPlanning"),
        "SyslogPipeline.rows_in": rows,
        "SyslogPipeline.rows_per_s": rows / busy if busy else 0.0,
        "SyslogPipeline.spool_p50_ms": med(spooled_ms) or 0.0,
        "SpoolDrainStream.ship_batch_ms": kind_ms("ship", "triggerExecution"),
        "SpoolDrainStream.ship_offset_ms": kind_ms("ship", "latestOffset"),
        "SpoolDrainStream.ship_add_batch_ms": kind_ms("ship", "addBatch"),
        "SpoolDrainStream.retry_batch_ms": kind_ms("retry", "triggerExecution"),
        "SpoolDrainStream.query_failures": h["query_failures"],
    }


def burst_cpu_s(h):
    """Median JVM CPU seconds per burst (send, drain, scrapes); the
    steady workload has one window, so its whole timed part."""
    per = [g["cpu_s"] for g in h["generators"] if "cpu_s" in g]
    return med(per) if per else h["timed_cpu_s"]


def publish_lag_p50(files):
    """Byte-weighted median of (publish time - time the byte was first
    seen on disk), from the poller's size samples of each ingest file."""
    lags, weights = [], []
    for f in files:
        prev = 0
        for t, size in f["growth"]:
            if size > prev:
                lags.append((f["published_us"] - t) / 1000.0)
                weights.append(size - prev)
                prev = size
    if not lags:
        return 0.0
    order = np.argsort(lags)
    cw = np.cumsum(np.asarray(weights)[order])
    return float(np.asarray(lags)[order][np.searchsorted(cw, cw[-1] / 2.0)])


# ---- training pipelines ---------------------------------------------------------

def train_metrics(h, a):
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    bad = set()
    for q in QUERIES:
        got = h["digests"].get(q, {})
        want = expected.get(q)
        if "error" in got or want is None or got.get("rows") != want["rows"] or \
                got.get("digest") != want["digest"]:
            bad.add(q)
            log("digest mismatch for %s: got %s, committed %s" % (q, got, want))
    execs = [x for p in h["passes"] for x in p]
    failed = sum(1 for x in execs if x["error"] or x["query"] in bad)
    for x in execs:
        if x["error"]:
            log("%s failed: %s" % (x["query"], x["error"]))
    pass_s = [sum(x["end_us"] - x["start_us"] for x in p) / 1e6 for p in h["passes"]]
    gate = {"attempted": len(execs), "failed": failed,
            "digest_mismatch": sorted(bad)}
    e2e = {"work_s": med(pass_s), "cpu_s": h["timed_cpu_s"] / len(h["passes"]),
           "peak_rss_mb": h["peak_rss_mb"]}
    layer = {"pipeline_s": med(pass_s)}
    n = len(h["passes"])
    for key in ("build_s", "plan_s", "exec_s"):
        layer["batch." + key] = sum(x.get(key, 0.0) for x in execs) / n
        for q in QUERIES:
            layer["%s.%s" % (q, key)] = sum(x.get(key, 0.0) for x in execs
                                            if x["query"] == q) / n
    if a.trace:
        ph = h["spark"]["phases"]
        for q in QUERIES:
            for p in ("build", "exec"):
                layer["%s.%s_jobs" % (q, p)] = ph.get("%s/%s" % (q, p), {}).get("jobs", 0)
            layer["%s.task_cpu_s" % q] = sum(ph.get("%s/%s" % (q, p), {}).get("task_cpu_s", 0)
                                             for p in ("build", "plan", "exec"))
            layer["%s.shuffle_bytes" % q] = sum(ph.get("%s/%s" % (q, p), {}).get(
                "shuffle_bytes", 0) for p in ("build", "plan", "exec"))
        layer["batch.jobs"] = sum(v["jobs"] for k, v in ph.items() if "/" in k)
    return gate, e2e, layer


# ---- main ----------------------------------------------------------------------

def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    # local[2] on 4 cores: with local[4], Spark's task threads and the
    # JVM's JIT and GC threads oversubscribed the cores, and runs were
    # both slower and noisier
    p.add_argument("--cpus", type=int, default=2, help="Spark local[N] cores")
    p.add_argument("--keep", action="store_true", help="keep the work directory")
    a = p.parse_args()

    build_dir = build()
    t0 = time.time()  # set-up starts here; the build is not set-up
    work = os.path.abspath(os.path.join(".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "data"))
    try:
        if a.workload == "train_pipelines":
            data.write(os.path.join(work, "data"))
        h = run_harness(build_dir, work, a, t0 + HARNESS_LIMIT_S)
        log("harness done at %.1f s" % (time.time() - T_START))
        if a.workload == "train_pipelines":
            gate, e2e, layer = train_metrics(h, a)
        else:
            gate, e2e, layer = relay_metrics(h, work, a)
        e2e["setup_s"] = h["first_op_us"] / 1e6 - t0
        if a.trace:
            sp = h["spark"]
            wall = (h["end_us"] - h["first_op_us"]) / 1e6
            with open(os.path.join(work, "spans.json")) as f:
                spans = json.load(f)
            layer.update({"spark.jobs": sp["jobs"], "spark.tasks": sp["tasks"],
                          "spark.task_cpu_s": sp["task_cpu_s"],
                          "spark.core_busy_frac": sp["task_run_s"] / (wall * a.cpus),
                          "spark.shuffle_bytes": sp["shuffle_bytes"],
                          "spark.spill_bytes": sp["spill_bytes"], "spark.gc_s": sp["gc_s"],
                          "StatsServer.scrape_jobs": sp["scrape_jobs"],
                          "traced.work_s": e2e["work_s"]})
            timed_spans = [s for s in spans
                           if h["first_op_us"] <= s["start_us"] <= h["end_us"]]
            for k, v in self_times(timed_spans).items():
                layer["self.%s_s" % k] = v
            with open(os.path.join(".bench_work", "spans-%s-%d.json" % (a.workload, a.seed)),
                      "w") as f:
                json.dump(timed_spans, f)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    log("checked at %.1f s" % (time.time() - T_START))
    for k, v in gate.items():
        print("gate %-24s %s" % (k, v))
    for name, unit in END_TO_END + [WALL]:
        print("e2e  %-36s %14.4f %s" % (name, e2e[name], unit))
    for name, unit in PER_LAYER:
        if name in layer:
            print("layer %-35s %14.4f %s" % (name, float(layer[name]), unit))
    if a.trace:
        metrics = {n: {"value": float(layer.get(n, 0.0) or 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": gate["failed"] == 0, "attempted": gate["attempted"],
                      "failed": gate["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
