#!/usr/bin/env python3
"""List the Spark jobs of an uncompressed Spark event log, one line each.

Usage:
    python3 scripts/joblist.py <event log file or rolling-log dir>
        [--desc NAME] [--block K] [--summary [site|desc]]

Each line holds the job id, its job description (the job group a caller set
with `setJobGroup`, e.g. a perfbench trace span, or a size gate's
"<site> gate: ..." line; "-" when none), its call site ("(no stage)" for a
gate's decision, a job over zero partitions), its duration and the driver
gap since the previous job of the whole log ended (negative when it
started before that job ended). An adaptive
query stage runs as its own job from a pool thread; its call site is shown
as the stage's operator for the SQL action that owns it, e.g.
"Exchange for parquet at AnnIndex.scala:110". `--desc NAME` keeps the jobs
whose description is NAME; consecutive kept jobs form a block, each block
ends with a summary line, and `--block K` prints only the K-th block
(1-based). `--summary` prints, instead of the jobs, how many jobs each call
site ran (`--summary desc`: each job description, e.g. a `graft.Bench` query
name) and the total, for the whole log or the jobs `--desc` keeps.

Write a log by running a Spark program with
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
        -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///<dir>"
Spark 4 writes a rolling log: a directory `eventlog_v2_<app>` holding
`events_<n>_<app>` files, read here in order.
"""
import argparse
import glob
import json
import os
import re
import sys


def events(path):
    if os.path.isdir(path):
        def part(f):
            m = re.match(r"events_(\d+)_", os.path.basename(f))
            return int(m.group(1)) if m else 0
        files = sorted(glob.glob(os.path.join(path, "events_*")), key=part)
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def action_site(details):
    """`parquet at AnnIndex.scala:110` from a SQL execution's call stack."""
    frames = details.splitlines()
    if not frames:
        return "?"
    api = frames[0].split("(")[0].rsplit(".", 1)[-1]
    for f in frames[1:]:
        if not f.startswith(("org.apache.spark.", "scala.", "java.")):
            m = re.search(r"\(([^()]*)\)$", f)
            if m:
                return f"{api} at {m.group(1)}"
    return frames[0]


def jobs(path):
    """Jobs in submission order: (id, description, call site, start, end)."""
    start, end, sql = {}, {}, {}
    for e in events(path):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            sql[str(e["executionId"])] = action_site(e.get("details", ""))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or "-"
            # a job over zero partitions (a LocalStrategy gate's decision)
            # runs no stage
            stages = e["Stage Infos"]
            site = max(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else "(no stage)"
            exec_id = props.get("spark.sql.execution.id")
            if "CompletableFuture" in site and exec_id in sql:
                scope = json.loads(props.get("spark.rdd.scope") or '{"name": "result stage"}')
                site = f"{scope['name']} for {sql[exec_id]}"
            start[e["Job ID"]] = (desc, site, e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            end[e["Job ID"]] = e["Completion Time"]
    out = [(j, d, site, t0, end.get(j)) for j, (d, site, t0) in start.items()]
    return sorted(out, key=lambda r: (r[3], r[0]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--desc", help="keep only jobs with this job description")
    ap.add_argument("--block", type=int, help="print only the K-th block of kept jobs")
    ap.add_argument("--summary", nargs="?", const="site", choices=["site", "desc"],
                    help="print the job count per call site (or description) and the total")
    args = ap.parse_args()

    if args.summary:
        counts = {}
        for _, desc, site, _, _ in jobs(args.log):
            if args.desc is None or desc == args.desc:
                key = site if args.summary == "site" else desc
                counts[key] = counts.get(key, 0) + 1
        for key, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"{n:>6}  {key}")
        print(f"{sum(counts.values()):>6}  total")
        return

    blocks, cur, prev_end = [], None, None
    for j, desc, site, t0, t1 in jobs(args.log):
        gap = None if prev_end is None else t0 - prev_end
        dur = None if t1 is None else t1 - t0
        keep = args.desc is None or desc == args.desc
        if keep:
            if cur is None:
                cur = []
                blocks.append(cur)
            cur.append((j, desc, site, dur, gap, t0, t1))
        elif args.desc is not None:
            cur = None
        if t1 is not None:
            prev_end = max(prev_end or t1, t1)
    if args.block is not None:
        if not 1 <= args.block <= len(blocks):
            sys.exit(f"joblist: {len(blocks)} blocks, no block {args.block}")
        blocks = [blocks[args.block - 1]]

    def ms(v):
        return "-" if v is None else str(v)

    w = max([16] + [len(r[1]) for b in blocks for r in b])
    print(f"{'job':>5}  {'desc':<{w}} {'call site':<60} {'ms':>6} {'gap_ms':>6}")
    for b in blocks:
        for j, desc, site, dur, gap, _, _ in b:
            print(f"{j:>5}  {desc:<{w}} {site[:60]:<60} {ms(dur):>6} {ms(gap):>6}")
        if args.desc is not None:
            wall = max(r[6] or r[5] for r in b) - b[0][5]
            busy = sum(r[3] or 0 for r in b)
            print(f"-- {len(b)} jobs, {busy} ms in jobs, {wall} ms first start to last end")


if __name__ == "__main__":
    main()
