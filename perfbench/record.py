#!/usr/bin/env python3
"""Re-record perfbench/expected.tsv, the benchmark's expected outputs.

Usage (from the repository root): python3 perfbench/record.py

For every workload, runs `Bench --record`: each gate's full result is written
as parquet under .bench_out/record/<workload>/ and digested twice (the written
result and a second in-memory run). Then tools/check.py compares every
written result with DuckDB. A gate is recorded only if the oracle passes it;
it is checked by digest if both digests agree, otherwise by row count only.
"""
import os
import re
import subprocess
import sys

import run

WORKLOADS = ("relational", "plan_bound")


def main() -> None:
    cp = run.build()
    out = os.path.join(run.OUT, "record")
    rows = ["# Expected output per gate, written by perfbench/record.py.",
            "# Every recorded result passed tools/check.py against DuckDB (column 6).",
            "# sf\tgate\tmode\trows\tdigest\toracle"]
    for w in WORKLOADS:
        d = os.path.join(out, w)
        r = subprocess.run(
            ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xmx3g", f"-Djava.io.tmpdir={run.TMP}", "-cp", cp, "perfbench.Bench",
               "--workload", w, "--data", os.path.join(run.HERE, "data"), "--record", d],
            cwd=run.ROOT, capture_output=True, text=True)
        recs = [l.split("\t") for l in r.stdout.splitlines() if l.startswith("[record]")]
        if r.returncode != 0 or not recs:
            sys.exit(f"record {w} failed:\n{r.stderr[-3000:]}")
        sf = recs[0][0].split()[1]
        chk = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
             os.path.join(run.HERE, "data", sf), d], capture_output=True, text=True)
        oracle = dict(m.group(2, 1) for m in
                      re.finditer(r"^(PASS|FAIL|ROWS-ONLY\S*) (\S+):", chk.stdout, re.M))
        for rec in recs:
            gate, same = rec[1], rec[2]
            if same == "error" or oracle.get(gate) != "PASS":
                sys.exit(f"{w}/{gate}: {same}, oracle {oracle.get(gate)}")
            mode = "digest" if same == "same" else "rows"
            rows.append("\t".join([sf, gate, mode, rec[3], rec[4], oracle[gate]]))
            print(f"{sf} {gate}: {mode}, oracle {oracle[gate]}")
    with open(os.path.join(run.HERE, "expected.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")


if __name__ == "__main__":
    main()
