#!/usr/bin/env python3
"""Split a JFR recording's CPU samples by thread group and pipeline layer.

Usage:
    python3 tools/jfr_layers.py RECORDING.jfr
    python3 tools/jfr_layers.py SAMPLES.json

A `.jfr` file is printed with `jfr print --events jdk.ExecutionSample
--json --stack-depth 128` first; a `.json` file is taken to be that
output already. Each `jdk.ExecutionSample` is put in one thread group
(task: `Executor task launch worker`, stream: `stream execution thread`,
other) and in the first layer of LAYERS whose test matches its stack.

JFR samples at most a few Java threads per period (5 by default), so
the counts are shares of the samples taken, not CPU seconds: compare
shares between recordings, not counts.
"""
import json
import subprocess
import sys

STACK_DEPTH = 128

# A stack is a list of "package.Class.method" strings, leaf first. Each
# layer tests the whole stack; the first layer that matches wins.


def has(*prefixes):
    return lambda frames: any(f.startswith(prefixes) for f in frames)


def in_map_stage(frames):
    return any(f.startswith("org.apache.spark.scheduler.ShuffleMapTask.")
               for f in frames)


LAYERS = [
    ("JSON writer", has(
        "org.apache.spark.sql.catalyst.json.JacksonGenerator",
        "org.apache.spark.sql.execution.datasources.json.JsonOutputWriter",
        "com.fasterxml.jackson.core.json.WriterBasedJsonGenerator")),
    # Spark's text writer, or FileTopicSink's own write task outside the
    # rows it pulls (the line encoder and shuffle read run inside it)
    ("text writer", lambda fs: has(
        "org.apache.spark.sql.execution.datasources.text.TextOutputWriter")(fs)
        or (has("graft.cdc.FileTopicSink")(fs)
            and has("org.apache.spark.scheduler.ResultTask.")(fs) and not has(
                "graft.functions.", "org.apache.spark.sql.catalyst.expressions.GeneratedClass",
                "org.apache.spark.storage.", "org.apache.spark.shuffle.")(fs))),
    ("line encoder", has("graft.functions.JsonLine")),
    ("partitionBy sort", has(
        "org.apache.spark.sql.execution.SortExec",
        "org.apache.spark.sql.execution.UnsafeExternalRowSorter",
        "org.apache.spark.util.collection.unsafe.sort.")),
    # the legacy-dialect codec is called from the envelope's codegen'd
    # code, so it is tested before the envelope
    ("legacy codec", has("graft.functions.LegacyExtJson")),
    # the map stage's codegen'd source scan and envelope run inside the
    # shuffle writer's input iterator, so they are tested first
    ("envelope codegen", lambda fs: in_map_stage(fs) and has(
        "org.apache.spark.sql.catalyst.expressions.GeneratedClass",
        "graft.functions.")(fs)),
    ("shuffle write", has(
        "org.apache.spark.shuffle.ShuffleWriteProcessor",
        "org.apache.spark.shuffle.sort.")),
    ("planning", has(
        "org.apache.spark.sql.catalyst.rules.RuleExecutor.execute",
        "org.apache.spark.sql.catalyst.planning.QueryPlanner.plan",
        "org.apache.spark.sql.execution.QueryExecution.")),
]
OTHER = "other"


def thread_group(name):
    if name.startswith("Executor task launch worker"):
        return "task"
    if name.startswith("stream execution thread"):
        return "stream"
    return "other"


def frame_name(frame):
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return cls + "." + m.get("name", "?")


def load_events(path):
    if path.endswith(".jfr"):
        out = subprocess.run(
            ["jfr", "print", "--events", "jdk.ExecutionSample", "--json",
             "--stack-depth", str(STACK_DEPTH), path],
            check=True, stdout=subprocess.PIPE).stdout
        doc = json.loads(out)
    else:
        with open(path) as f:
            doc = json.load(f)
    return doc["recording"]["events"]


def classify(events):
    """{group: {layer: samples}} over the jdk.ExecutionSample events."""
    table = {}
    for e in events:
        if e.get("type") != "jdk.ExecutionSample":
            continue
        v = e["values"]
        thread = v.get("sampledThread") or {}
        group = thread_group(thread.get("javaName") or thread.get("osName") or "")
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        layer = next((n for n, test in LAYERS if test(frames)), OTHER)
        row = table.setdefault(group, {})
        row[layer] = row.get(layer, 0) + 1
    return table


def main(argv):
    if len(argv) != 1:
        sys.exit(__doc__)
    table = classify(load_events(argv[0]))
    layers = [n for n, _ in LAYERS] + [OTHER]
    for group in ("task", "stream", "other"):
        row = table.get(group, {})
        total = sum(row.values())
        print(f"{group}: {total} samples")
        for layer in layers:
            n = row.get(layer, 0)
            if n:
                print(f"  {layer:<18} {n:>6}  {100.0 * n / total:5.1f} %")


if __name__ == "__main__":
    main(sys.argv[1:])
