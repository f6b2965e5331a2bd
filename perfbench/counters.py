#!/usr/bin/env python3
"""Deterministic counters of a traced run, against reference/counters.json.

Jobs, stages and files written per lifecycle query, jobs and stages over a
serve pass, and jobs per micro-batch of each streaming job do not depend
on timing, so a rise in any of them is a regression signal without a
timing sweep. A traced run (run.py --trace 1) prints every counter that
grew on stderr. After traced runs of every workload, rebuild the
reference from their results with:

    python3 perfbench/counters.py --update
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference", "counters.json")
STATE = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench")
LIFECYCLE = ("d29_clusters_atrest", "ts12_sax_forget", "ly4_zorder_forget")
COUNTERS = {
    "lifecycle_serve": [f"{q}.{k}" for q in LIFECYCLE for k in
                        ("jobs", "stages", "files_written", "files_per_bucket_max")] +
                       ["serve.jobs", "serve.stages"],
    "invoice_stream": ["streaming.ingest.jobs_per_batch",
                       "streaming.respond.jobs_per_batch"],
}


def current(workload, metrics):
    return {k: metrics[k]["value"] for k in COUNTERS[workload] if k in metrics}


def report(workload, metrics):
    """Prints every counter that grew against the reference; returns them."""
    ref = json.load(open(REFERENCE)).get(workload, {}) if os.path.isfile(REFERENCE) else {}
    grew = []
    for k, v in current(workload, metrics).items():
        if k in ref and v > ref[k]:
            grew.append(k)
            print(f"perfbench: counter {workload}/{k} grew: {ref[k]:g} -> {v:g}",
                  file=sys.stderr)
    return grew


def update():
    ref = {}
    for w in COUNTERS:
        last = json.load(open(os.path.join(STATE, f"last-{w}.json")))
        if not last["trace"]:
            sys.exit(f"the last {w} run was not traced")
        ref[w] = current(w, last["metrics"])
    with open(REFERENCE, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--update"]:
        sys.exit(__doc__)
    update()
