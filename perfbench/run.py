#!/usr/bin/env python3
"""End-to-end benchmark of the graft daemon (pull → parse → HMAC → dedup →
POST → ack), split by layer.

    python3 perfbench/run.py FLAGS --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py FLAGS --self-test
    python3 perfbench/run.py FLAGS --report SEED   # writes perfbench/results/*.md

FLAGS are the --jvm-flags, --steady-rate, --trigger-ms and --p99-limit-ms
arguments of the command in BENCHMARK.json; they have no defaults. Run from
the repository root. One run:
  1. builds the program and the benchmark once per source state
     (perfbench/build.py, output under .bench_build/);
  2. renders the seed's input in a separate JVM (graftbench.Render), so
     input generation never lands in the measured process;
  3. starts one measured JVM (graftbench.DaemonBench) with the JVM flags
     given by --jvm-flags, which runs graft.Main.runSupervised with the
     benchmark's Poster and the workload's trigger;
  4. prints one JSON line: the delivery gate's verdict and either the
     end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Workloads (closed loops are drains of a pre-rendered backlog):
  backlog_drain  closed drain under Trigger.AvailableNow; the Poster
                 returns at once, so parse, HMAC, dedup state and
                 serialization carry the load.
  steady_rate    open loop: a generator thread renames staged files into
                 the source directory on a fixed schedule at
                 --steady-rate envelopes/s; ProcessingTime trigger. The
                 rate is about half of what backlog_drain sustains. The
                 window holds whole micro-batches: at least two, and at
                 least --seconds. Publishing and the daemon stop when it
                 closes; envelopes not yet acked then are in flight, not
                 expected by the gate.
  slow_sink      the drain's input and batching; the Poster blocks
                 POST_DELAY_MS per POST (Amplitude's round trip). Run by
                 hand, by --self-test and by --report; BENCHMARK.json
                 leaves it out, because every micro-batch of the shipped
                 daemon costs several seconds (its 200-partition dedup state)
                 and a third workload does not fit the runs' time budget.

Event time: on the drains it follows the harness table's Poisson spacing
(TRAFFIC below), so a run spans days of event time and the daemon's 1-hour
dedup watermark advances and evicts state; on steady_rate it is each
event's scheduled publish time, so a run spans about a minute.

Delivery latency is measured per event to the return of the POST that
carried it: on steady_rate from the event's scheduled publish time, on the
drains from the start of the micro-batch that pulled it. Every run prints
every end-to-end metric, but envelopes_per_s is the drains' measure and the
latency and on-time figures are steady_rate's: an open loop's throughput
is its offered rate for as long as the daemon keeps up, and a drain's
latency is bounded by one batch.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

BUILD = os.path.abspath(".bench_build")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z, the harness events' first day
# TRAFFIC: the input's shape, measured once from the harness events table
# at scale 0.1 with perfbench/measure_events.py: 100000 events over 30 days, five
# event_types at 0.198-0.203 each, user_id uniform over 1500 ids, gaps
# exponential with mean 25.920 s in event_id order (median 17.845 s against
# ln 2 x mean = 17.966 s), no event older than an earlier event_id.
USERS = 1500
DRAIN_GAP_US = 25920000  # drains: mean event-time gap, exponential
# Pull batches redelivered whole, per thousand, and how late the copy comes
# back: uniform over the files of the next REDELIVER_LAG_BATCHES
# micro-batches. Chosen, not measured: the reference daemon redelivers a
# whole unacked pull batch, but nothing measured gives how often or how
# late. Two batches let a drain's copy reach the engine's late-row filter,
# which lags the dedup watermark by one batch.
REDELIVER_PERMILLE = 20
REDELIVER_LAG_BATCHES = 2
DRAIN_RATE = 2500  # envelopes/s: sizes the drain backlog from --seconds
SLOW_RATE = 2000  # the same for slow_sink
POST_DELAY_MS = 20  # slow_sink's Poster block per POST; a chosen round trip

END_TO_END = [
    ("envelopes_per_s", "1/s"), ("batch_ms_p50", "ms"),
    ("delivery_latency_p50_ms", "ms"), ("delivery_latency_p99_ms", "ms"),
    ("on_time_event_share", "share"), ("delivered_event_share", "share"),
    ("cpu_ms_per_kevent", "ms"), ("heap_after_gc_mb", "MB"), ("setup_s", "s"),
]
PER_LAYER = [
    ("source.list_ms_per_batch", "ms"), ("source.lag_s", "s"),
    ("source.envelopes_per_batch", "count"), ("source.generator_late_ms_max", "ms"),
    ("engine.batches", "count"), ("engine.planning_ms_per_batch", "ms"),
    ("engine.commit_ms_per_batch", "ms"), ("engine.jobs_per_batch", "count"),
    ("engine.tasks_per_batch", "count"),
    ("parse.cpu_ms_per_kevent", "ms"), ("parse.gc_ms_per_kevent", "ms"),
    ("parse.ns_per_envelope", "ns"), ("parse.hmac_ns_per_call", "ns"),
    ("parse.invalid_share", "share"), ("parse.repaired_share", "share"),
    ("dedup.update_ms_per_batch", "ms"), ("dedup.commit_ms_per_batch", "ms"),
    ("dedup.partitions", "count"), ("dedup.state_rows", "count"), ("dedup.state_mb", "MB"),
    ("dedup.shuffle_bytes_per_kevent", "bytes"), ("dedup.duplicates_removed", "count"),
    ("dedup.injected_redeliveries", "count"), ("dedup.dropped_by_watermark", "count"),
    ("sink.posts_per_batch", "count"), ("sink.events_per_post", "count"),
    ("sink.post_ms_p50", "ms"), ("sink.post_wait_share", "share"),
    ("sink.body_bytes_per_event", "bytes"), ("sink.retries", "count"),
    ("sink.serialize_ns_per_event", "ns"), ("sink.add_batch_ms_per_batch", "ms"),
    ("jvm.gc_ms_per_kevent", "ms"), ("jvm.jit_ms_in_window", "ms"),
    ("self.source_ms_per_batch", "ms"), ("self.engine_ms_per_batch", "ms"),
    ("self.parse_ms_per_batch", "ms"), ("self.dedup_ms_per_batch", "ms"),
    ("self.sink_serialize_ms_per_batch", "ms"), ("self.sink_post_ms_per_batch", "ms"),
    ("self.unattributed_ms_per_batch", "ms"), ("self.trigger_ms_per_batch", "ms"),
    ("gate.missing", "count"), ("gate.duplicates", "count"), ("gate.unexpected", "count"),
    ("source.unacked_envelopes", "count"),
]


def workload(name, seconds, a, tiny=False):
    """Input shape, trigger and sink of each workload. Drains are sized from
    --seconds at a nominal rate, so a window holds about that many seconds
    of work on a 4-core host. `tiny` (the self-test) shrinks files and
    batches so that every run is short."""
    drain = dict(steady=0, trigger_ms=0, per_file=50, max_events=400, gap_us=DRAIN_GAP_US,
                 gaps="exp", warm_batches=0)
    if tiny:
        drain.update(per_file=10, max_events=20)
    if name == "backlog_drain":
        w = dict(drain, post_delay_ms=0, nominal=DRAIN_RATE)
    elif name == "slow_sink":
        w = dict(drain, post_delay_ms=POST_DELAY_MS, nominal=SLOW_RATE)
    elif name == "steady_rate":
        rate = 100 if tiny else a.steady_rate
        w = dict(steady=1, trigger_ms=a.trigger_ms, per_file=max(1, rate // 20),
                 max_events=500, gap_us=1e6 / rate, gaps="fixed", warm_batches=1,
                 post_delay_ms=0, nominal=rate)
    else:
        raise SystemExit("unknown workload %r" % name)
    if tiny and not w["steady"]:
        w["nominal"] = 100
    files_per_batch = (w["max_events"] if not w["steady"]
                       else max(1, w["trigger_ms"] * w["nominal"] // (1000 * w["per_file"])))
    w["lag_files"] = REDELIVER_LAG_BATCHES * files_per_batch
    if w["steady"]:
        # the schedule must outlast set-up, warm-up and the window
        w["n"] = int(w["nominal"] * (seconds + 40))
    else:
        # whole batches: set-up and warm-up, then what --seconds takes at
        # the nominal rate, but at least two batches so that a window is not
        # one batch's sample; the window closes when the backlog is acked
        per_batch = w["max_events"] * w["per_file"]
        window = max(2, -(-int(w["nominal"] * seconds) // per_batch))
        w["n"] = per_batch * (1 + w["warm_batches"] + window)
    return w


def java(cp, main, args, flags, log, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_CONF_DIR", None)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + flags + ["-Djava.io.tmpdir=" + tmp,
                      "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                      "-cp", cp, main] + args)
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("%s timed out after %ds" % (main, timeout))
    return p.returncode, out.decode("utf-8", "replace")


def render(cp, w, seed, a, flags, log):
    """Renders a seed's input in its own JVM, once: later runs of the same
    input and build reuse .bench_build/inputs/<key>/, which no run alters
    (the open loop publishes hard links of the files)."""
    args = ["n=%d" % w["n"], "per_file=%d" % w["per_file"], "seed=%d" % seed,
            "gap_us=%r" % float(w["gap_us"]), "gaps=" + w["gaps"], "users=%d" % USERS,
            "redeliver_permille=%d" % REDELIVER_PERMILLE,
            "lag_files=%d" % w["lag_files"], "base_ms=%d" % BASE_MS]
    inp = os.path.join(BUILD, "inputs",
                       hashlib.sha256((cp + " ".join(args)).encode()).hexdigest()[:16])
    if not os.path.isdir(inp):
        tmp = "%s.tmp%d" % (inp, os.getpid())
        shutil.rmtree(tmp, ignore_errors=True)
        rc, _ = java(cp, "graftbench.Render", ["out=" + tmp] + args, flags, log, 170)
        if rc != 0:
            raise SystemExit("render failed (log: .bench_build/last-<workload>.log)")
        os.rename(tmp, inp)
    return inp


def run_once(a, name, seed, seconds, trace, drop_one=False, tiny=False):
    t_start = time.time()
    cp = build.build()
    w = workload(name, seconds, a, tiny)
    flags = a.jvm_flags.split()
    run = os.path.join(BUILD, "runs", "%s-s%d-t%d-%d" % (name, seed, trace, os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    log = os.path.join(run, "jvm.log")
    try:
        t_render = time.time()
        inp = render(cp, w, seed, a, flags, log)
        if w["steady"]:
            stage = os.path.join(run, "stage")
            os.makedirs(stage)
            for f in os.listdir(os.path.join(inp, "files")):
                os.link(os.path.join(inp, "files", f), os.path.join(stage, f))
        trace_out = os.path.join(BUILD, "traces", "%s-seed%d.json" % (name, seed))
        t_daemon = time.time()
        rc, out = java(cp, "graftbench.DaemonBench", [
            "input=" + inp, "run=" + run, "seconds=%s" % seconds, "trace=%d" % trace,
            "steady=%d" % w["steady"], "warm_batches=%d" % w["warm_batches"],
            "limit_ms=%s" % a.p99_limit_ms, "gap_us=%r" % float(w["gap_us"]),
            "per_file=%d" % w["per_file"], "max_events=%d" % w["max_events"],
            "post_delay_ms=%d" % w["post_delay_ms"], "trigger_ms=%d" % w["trigger_ms"],
            "drop_one=%d" % int(drop_one), "trace_out=" + trace_out],
            flags, log, max(30, 175 - (time.time() - t_start)))
        line = next((x for x in out.splitlines() if x.startswith("GRAFTBENCH ")), None)
        res = json.loads(line[len("GRAFTBENCH "):]) if line else None
        print("timing: render %.1fs, daemon %.1fs" % (t_daemon - t_render, time.time() - t_daemon),
              file=sys.stderr)
        if rc != 0 or not res or not res.get("ok"):
            err = res.get("error") if res else "no result"
            raise SystemExit("daemon run failed: %s (log: .bench_build/last-%s.log)" % (err, name))
        return res
    finally:
        if os.path.exists(log):
            shutil.copy(log, os.path.join(BUILD, "last-%s.log" % name))
        shutil.rmtree(run, ignore_errors=True)


def result_line(res, trace):
    names = PER_LAYER if trace else END_TO_END
    src = dict(res["e2e"], **res["layer"])
    notes = res["notes"]
    extra = {"gate.missing": notes["missing"], "gate.duplicates": notes["duplicates"],
             "gate.unexpected": notes["unexpected"],
             "source.unacked_envelopes": notes.get("unacked", 0)}
    metrics = {}
    for k, unit in names:
        v = src[k]["value"] if k in src else extra.get(k)
        metrics[k] = {"value": v, "unit": unit}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def self_test(a):
    """Tiny inputs, each workload once: every metric name and unit is
    present in both modes, and the gate fails when the Poster drops one
    body."""
    problems = []
    for name in ("backlog_drain", "slow_sink", "steady_rate"):
        for trace in (0, 1):
            out = result_line(run_once(a, name, 1, 2, trace, tiny=True), trace)
            want = dict(PER_LAYER if trace else END_TO_END)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append("%s trace=%d metrics differ: %s" % (name, trace, got))
            bad = [k for k, v in out["metrics"].items() if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append("%s trace=%d non-numeric: %s" % (name, trace, bad))
            if not out["correct"]:
                problems.append("%s trace=%d gate failed on a clean run" % (name, trace))
            print("self-test %s trace=%d: %s" % (name, trace, json.dumps(out)), file=sys.stderr)
    out = result_line(run_once(a, "backlog_drain", 1, 2, 0, drop_one=True, tiny=True), 0)
    if out["correct"] or out["failed"] < 1 or out["metrics"]["delivered_event_share"]["value"] >= 1:
        problems.append("gate passed although the Poster dropped a body: %s" % json.dumps(out))
    for p in problems:
        print("SELF-TEST FAIL: " + p, file=sys.stderr)
    print("self-test %s" % ("failed" if problems else "passed"), file=sys.stderr)
    return 1 if problems else 0


def report(a, seed, seconds):
    """Runs every workload untraced and traced on one seed and writes one
    per-layer table per workload to perfbench/results/<workload>.md."""
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for name in ("backlog_drain", "steady_rate", "slow_sink"):
        plain = run_once(a, name, seed, seconds, 0)
        traced = run_once(a, name, seed, seconds, 1)
        lines = ["# %s: per-layer table" % name, "",
                 "One untraced and one traced run, seed %d, %gs window, on a 4-core host." % (seed, seconds),
                 "Written by `python3 perfbench/run.py --report %d`." % seed, "",
                 "## End to end, untraced vs traced (tracing overhead)", "",
                 "| metric | unit | untraced | traced | traced/untraced - 1 |", "|---|---|---|---|---|"]
        for k, unit in END_TO_END:
            u, t = plain["e2e"][k]["value"], traced["e2e"][k]["value"]
            gap = "%+.1f%%" % (100.0 * (t / u - 1)) if u and t is not None else "n/a"
            lines.append("| %s | %s | %s | %s | %s |" % (k, unit, fmt(u), fmt(t), gap))
        per = result_line(traced, 1)["metrics"]
        shortfall = ["gate.missing", "gate.duplicates", "gate.unexpected",
                     "source.unacked_envelopes", "dedup.dropped_by_watermark"]
        lines += ["", "Delivery gate passed: untraced %s, traced %s." % (plain["correct"], traced["correct"]),
                  "Delivered share %s (traced); the counters that would carry a shortfall: %s." % (
                      fmt(traced["e2e"]["delivered_event_share"]["value"]),
                      ", ".join("%s = %s" % (k, fmt(per[k]["value"])) for k in shortfall)),
                  "An envelope the daemon had not acked when it stopped is in flight: the",
                  "gate does not expect it, and source.unacked_envelopes counts it.",
                  "dedup.dropped_by_watermark counts redelivered copies that arrived more",
                  "than the watermark late; their originals were delivered.",
                  "One pair of runs on a shared host: the gap mixes tracing cost with",
                  "run-to-run spread, which is of the same order.", "",
                  "## Per layer (traced run)", "",
                  "`self.*` split each window batch's triggerExecution along its blocking steps;",
                  "`self.unattributed_ms_per_batch` is the remainder.", "",
                  "| metric | unit | value |", "|---|---|---|"]
        for k, unit in PER_LAYER:
            lines.append("| %s | %s | %s |" % (k, unit, fmt(per[k]["value"])))
        lines += ["", "## Run notes", "", "```", json.dumps(traced["notes"], sort_keys=True), "```", ""]
        with open(os.path.join(HERE, "results", name + ".md"), "w") as f:
            f.write("\n".join(lines))
        print("wrote perfbench/results/%s.md" % name, file=sys.stderr)
    return 0


def fmt(v):
    if v is None:
        return "n/a"
    return "%d" % v if float(v).is_integer() else "%.4g" % v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    # no defaults: the command in BENCHMARK.json is the one record of these
    ap.add_argument("--jvm-flags", required=True)
    ap.add_argument("--steady-rate", type=int, required=True, help="envelopes/s, steady_rate")
    ap.add_argument("--trigger-ms", type=int, required=True, help="ProcessingTime, steady_rate")
    ap.add_argument("--p99-limit-ms", type=float, required=True, help="on-time latency limit")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--report", type=int, metavar="SEED")
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        print("run.py: no src/main/scala here; run from the repository root", file=sys.stderr)
        return 2
    if a.self_test:
        return self_test(a)
    if a.report is not None:
        return report(a, a.report, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    res = run_once(a, a.workload, a.seed, a.seconds, a.trace)
    print("notes: " + json.dumps(res["notes"]), file=sys.stderr)
    print(json.dumps(result_line(res, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
