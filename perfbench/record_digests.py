#!/usr/bin/env python3
"""Records perfbench/fleet_digests.json: the digest each sampled fleet
query must reproduce, with the DuckDB oracle's verdict beside it.

    python3 perfbench/record_digests.py <work-dir>

Steps, all over the committed fixture perfbench/fixture/sf0.01:
  1. `run.py --mode record` writes each sampled query's digest;
  2. graft.Verify dumps the sampled results, and tools/check.py compares
     those with the queries' oracle SQL in DuckDB.
A query with an oracle keeps its digest only when check.py agrees; a
mismatch is recorded with "digest": null and "oracle": "mismatch", and
every fleet run then counts it as failed. Queries without an oracle keep
their digest as a regression pin ("oracle": "none").
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture", "sf0.01")


def main():
    work = os.path.abspath(sys.argv[1])
    os.makedirs(work, exist_ok=True)
    raw = os.path.join(work, "digests.tsv")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--mode", "record",
                    "--out", raw], check=True, cwd=ROOT)
    digests = dict(line.split("\t", 1) for line in open(raw).read().splitlines() if line)
    vout = os.path.join(work, "verify")
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(digests), SPARK_GRAFT_CPUS=str(os.cpu_count()))
    verify = run.jvm(build.build(), work, [])[:-1] + ["graft.Verify", FIXTURE, vout]
    subprocess.run(verify, check=True, cwd=ROOT, env=env, stdout=subprocess.DEVNULL)
    oracle = json.load(open(os.path.join(vout, "oracle_sql.json")))
    chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), FIXTURE, vout],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True)
    failed = {ln.split()[1].rstrip(":") for ln in chk.stdout.splitlines() if ln.startswith("FAIL")}
    out = {}
    for name in sorted(digests):
        d = digests[name]
        if name not in oracle:
            out[name] = {"digest": None if d.startswith("ERROR") else d, "oracle": "none"}
        elif name in failed or d.startswith("ERROR"):
            out[name] = {"digest": None, "oracle": "mismatch"}
        else:
            out[name] = {"digest": d, "oracle": "match"}
    with open(os.path.join(HERE, "fleet_digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(chk.stdout.strip().splitlines()[-1] if chk.stdout.strip() else "check.py printed nothing")
    print(f"recorded {len(out)} digests, {sum(v['oracle'] == 'mismatch' for v in out.values())} mismatches")


if __name__ == "__main__":
    main()
