#!/usr/bin/env python3
"""Mint the recorded digests that every benchmark build is checked against.

    python3 perfbench/record.py --workload kg --seeds 0-39

Builds each seed's corpus once (graft.perfbench.Record) and merges the
digests into perfbench/digests.json. Re-mint only after a deliberate change
to the pipeline's output or to the input generator.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range a-b")
    a = p.parse_args()
    classes, jars = build.ensure_built()
    work = os.path.join(build.OUT, "work", f"record-{os.getpid()}")
    try:
        out = subprocess.run(
            run.java_cmd(classes, jars, work, "graft.perfbench.Record",
                         ["--workload", a.workload, "--seeds", a.seeds]),
            stdout=subprocess.PIPE, text=True, env=run.java_env(work),
            check=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(HERE, "digests.json")
    with open(path) as fh:
        digests = json.load(fh)
    for line in out.splitlines():
        seed, digest = line.split()
        digests.setdefault(a.workload, {})[seed] = digest
    for w in digests:
        digests[w] = dict(sorted(digests[w].items(), key=lambda kv: int(kv[0])))
    with open(path, "w") as fh:
        json.dump(digests, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
