#!/usr/bin/env python3
"""Top frames of a JFR CPU profile, split by thread group.

Reads the JSON that `jfr print --json --events jdk.ExecutionSample` writes
and counts, per thread group (Executor task threads, main, other), how many
samples each frame was on top of the stack (self) and anywhere on it
(inclusive, once per sample). Standard library only.

Record a profile of a benchmark run without editing perfbench (the option
reaches every JVM the command starts, the driver JVM included; build the
checkout with one plain run first, or the compiler JVM records too). Both
the recording and `jfr print` cut stacks at 64 frames by default, which
drops the outer frames of most Spark task stacks, so raise both:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=512 \\
      -XX:StartFlightRecording=filename=/tmp/mf.jfr,settings=profile" \\
        python3 perfbench/run.py --workload mf_sw --seed 1 --seconds 15
    jfr print --json --stack-depth 512 --events jdk.ExecutionSample \\
        /tmp/mf.jfr > /tmp/mf.json
    python3 tools/jfr_top.py /tmp/mf.json --top 15
    # samples of one group under a frame, e.g. Spark's block size estimate
    python3 tools/jfr_top.py /tmp/mf.json --frame SizeEstimator.estimate

Usage: jfr_top.py <dump.json | -> [--top N] [--frame SUBSTRING]
       jfr_top.py --self-test
"""
import argparse
import collections
import json
import sys

GROUPS = ("Executor", "main", "other")


def thread_group(thread):
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or ""
    if name.startswith("Executor task launch worker"):
        return "Executor"
    return "main" if name == "main" else "other"


def frame_name(frame):
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{method.get('name', '?')}"


def samples(dump):
    """(group, [frame names, top first]) per jdk.ExecutionSample event."""
    for ev in dump.get("recording", {}).get("events", []):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        values = ev.get("values", {})
        frames = (values.get("stackTrace") or {}).get("frames") or []
        yield thread_group(values.get("sampledThread")), [frame_name(f) for f in frames]


def aggregate(dump, frame=None):
    """{group: (samples, self Counter, inclusive Counter, samples with a
    frame containing `frame` on the stack)}."""
    total = collections.Counter()
    under = collections.Counter()
    self_c = {g: collections.Counter() for g in GROUPS}
    incl_c = {g: collections.Counter() for g in GROUPS}
    for group, frames in samples(dump):
        total[group] += 1
        if frames:
            self_c[group][frames[0]] += 1
        incl_c[group].update(set(frames))
        # Scala object classes end in `$`: "SizeEstimator.estimate" matches
        # SizeEstimator$.estimate
        if frame is not None and any(frame in f.replace("$", "") for f in frames):
            under[group] += 1
    return {g: (total[g], self_c[g], incl_c[g], under[g]) for g in GROUPS}


def report(agg, top, frame=None, out=sys.stdout):
    for g in GROUPS:
        n, self_c, incl_c, under = agg[g]
        print(f"== {g}: {n} samples", file=out)
        if not n:
            continue
        if frame is not None:
            print(f"   under '{frame}': {under} of {n} ({100.0 * under / n:.1f} %)",
                  file=out)
        for title, counter in (("self", self_c), ("inclusive", incl_c)):
            print(f"   {title}:", file=out)
            for f, c in counter.most_common(top):
                print(f"   {c:7d} {100.0 * c / n:5.1f} %  {f}", file=out)


def self_test():
    def ev(thread, *frames):
        return {"type": "jdk.ExecutionSample", "values": {
            "sampledThread": {"javaName": thread},
            "stackTrace": {"frames": [
                {"method": {"type": {"name": c}, "name": m}} for c, m in frames]}}}
    worker = "Executor task launch worker for task 0.0 in stage 1.0 (TID 1)"
    est = ("org.apache.spark.util.SizeEstimator$", "estimate")
    walk = ("org.apache.spark.util.SizeEstimator$", "visitSingleObject")
    put = ("org.apache.spark.storage.memory.MemoryStore", "putIteratorAsValues")
    run = ("graft.graph.MaxFlow$", "run")
    dump = {"recording": {"events": [
        ev(worker, walk, est, put),
        ev(worker, walk, est, walk, put),  # recursion counts once inclusive
        ev(worker, put),
        ev("main", run),
        ev("dispatcher-event-loop-1", ("java.lang.Thread", "run")),
        {"type": "jdk.GCPhasePause", "values": {}},
    ]}}
    agg = aggregate(dump, frame="SizeEstimator.estimate")
    n, self_c, incl_c, under = agg["Executor"]
    assert n == 3, n
    assert self_c["org.apache.spark.util.SizeEstimator$.visitSingleObject"] == 2
    assert self_c["org.apache.spark.storage.memory.MemoryStore.putIteratorAsValues"] == 1
    assert incl_c["org.apache.spark.util.SizeEstimator$.visitSingleObject"] == 2
    assert incl_c["org.apache.spark.storage.memory.MemoryStore.putIteratorAsValues"] == 3
    assert agg["main"][0] == 1 and agg["other"][0] == 1
    assert under == 2 and agg["main"][3] == 0
    # slashed class names (some JFR versions) read like dotted ones
    slashed = {"method": {"type": {"name": "a/b/C"}, "name": "m"}}
    assert frame_name(slashed) == "a.b.C.m"
    print("jfr_top self-test: ok")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dump", nargs="?", help="jfr print --json output, or - for stdin")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--frame", help="also report the share of samples under this frame")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if args.self_test:
        self_test()
        return 0
    if not args.dump:
        ap.error("a dump path (or -) is required")
    with (sys.stdin if args.dump == "-" else open(args.dump)) as f:
        dump = json.load(f)
    report(aggregate(dump, args.frame), args.top, args.frame)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
