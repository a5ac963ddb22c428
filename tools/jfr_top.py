#!/usr/bin/env python3
"""Where a JFR recording's CPU samples went, by engine cost bucket.

    python3 tools/jfr_top.py <recording.jfr> [--after SECONDS]

Runs `jfr print --json --stack-depth 100 --events jdk.ExecutionSample` on
the recording and puts every sample into the first bucket whose frames
appear anywhere in its stack, in this order:

  codegen compile         Janino and Spark's CodeGenerator.doCompile
  class loading           ClassLoader / jdk.internal.loader frames
  task (de)serialization  Spark serializers, java.io object streams
  interpreted ZipWith/ArrayAggregate
                          the CodegenFallback higher-order functions
  parquet                 parquet-mr and Spark's parquet data source
  generated code          whole-stage / projection classes Janino built
  Catalyst rules          analyzer and optimizer rule executors
  other                   everything else

`--after SECONDS` drops samples taken less than SECONDS after the first
sample, e.g. to skip a run's warm-up. Record a run of your own with
`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=<file>.jfr,settings=profile`.
"""
import argparse
import json
import re
import subprocess
import sys
from datetime import datetime

BUCKETS = [
    ("codegen compile", ("org.codehaus.janino.", "org.codehaus.commons.compiler.",
                         "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.doCompile")),
    ("class loading", ("java.lang.ClassLoader.", "jdk.internal.loader.",
                       "java.net.URLClassLoader.", "java.security.SecureClassLoader.")),
    ("task (de)serialization", ("org.apache.spark.serializer.", "java.io.ObjectInputStream.",
                                "java.io.ObjectOutputStream.", "com.esotericsoftware.kryo.")),
    ("interpreted ZipWith/ArrayAggregate", ("org.apache.spark.sql.catalyst.expressions.ZipWith.",
                                            "org.apache.spark.sql.catalyst.expressions.ArrayAggregate.")),
    ("parquet", ("org.apache.parquet.", "org.apache.spark.sql.execution.datasources.parquet.")),
    ("generated code", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
    ("Catalyst rules", ("org.apache.spark.sql.catalyst.rules.RuleExecutor.",)),
]
OTHER = "other"
TIME = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?")


def frames(event):
    """Each frame of the sample's stack as `class.method`."""
    stack = event["values"].get("stackTrace") or {}
    for f in stack.get("frames") or []:
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "").replace("/", ".")
        yield f"{cls}.{m.get('name', '')}"


def bucket(event):
    names = list(frames(event))
    for label, prefixes in BUCKETS:
        if any(n.startswith(prefixes) for n in names):
            return label
    return OTHER


def seconds(event):
    m = TIME.match(event["values"].get("startTime", ""))
    if not m:
        return None
    t = datetime.fromisoformat(m.group(1)).timestamp()
    return t + float("0." + m.group(2)) if m.group(2) else t


def events(stream):
    """Decode the `events` array of `jfr print --json` one event at a time,
    so a recording's JSON never sits in memory whole."""
    dec = json.JSONDecoder()
    buf, pos, started = "", 0, False
    for chunk in iter(lambda: stream.read(1 << 20), ""):
        buf = buf[pos:] + chunk
        pos = 0
        if not started:
            i = buf.find('"events"')
            j = buf.find("[", i) if i >= 0 else -1
            if j < 0:
                continue
            pos, started = j + 1, True
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos >= len(buf) or buf[pos] == "]":
                break
            try:
                ev, end = dec.raw_decode(buf, pos)
            except json.JSONDecodeError:
                break  # incomplete: read more
            yield ev
            pos = end


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--after", type=float, default=0.0,
                    help="skip samples taken in the first SECONDS after the first sample")
    a = ap.parse_args()
    cmd = ["jfr", "print", "--json", "--stack-depth", "100",
           "--events", "jdk.ExecutionSample", a.recording]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # JFR writes each thread's buffer as it fills, so samples arrive only
    # roughly in time order: bucket them all, then cut at the first one
    samples = [(seconds(ev), bucket(ev)) for ev in events(p.stdout)]
    if p.wait() != 0:
        sys.exit(f"jfr_top: {' '.join(cmd)} exited {p.returncode}")
    times = [t for t, _ in samples if t is not None]
    t0 = min(times) if times else 0.0
    counts, total = {}, 0
    for t, b in samples:
        if t is not None and t - t0 < a.after:
            continue
        counts[b] = counts.get(b, 0) + 1
        total += 1
    print(f"{'bucket':36s} {'samples':>8s} {'share':>7s}")
    for label in [b for b, _ in BUCKETS] + [OTHER]:
        n = counts.get(label, 0)
        print(f"{label:36s} {n:8d} {100.0 * n / total if total else 0.0:6.1f}%")
    print(f"{'total':36s} {total:8d}")


if __name__ == "__main__":
    main()
