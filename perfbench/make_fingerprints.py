#!/usr/bin/env python3
"""Rebuilds perfbench/fingerprints.txt, the expected result of every
catalog query the `catalog` workload runs.

It runs `graft.Verify` over the benchmark's data for those queries,
requires `scripts/check.py` to pass every one of them against DuckDB,
and only then fingerprints the verified results:

    python3 perfbench/make_fingerprints.py [query ...]

With no queries it re-prints the ones already listed.
"""
import shutil
import subprocess
import sys

import build
import run

OUT = run.HERE / "fingerprints.txt"


def main(queries):
    if not queries:
        queries = [l.split()[0] for l in OUT.read_text().splitlines()
                   if l.strip() and not l.startswith("#")]
    classes = build.build()
    work = build.out_dir() / "fingerprints"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = run.CATALOG["data"]
    verify = work / "verify"

    def java(main, *args):
        cmd = run.java_cmd(classes, work, main, {})
        return subprocess.run(cmd + [str(a) for a in args], cwd=run.ROOT,
                              env=run.java_env(work), stdout=subprocess.PIPE, text=True)

    if java("graft.Verify", data, verify, *queries).returncode != 0:
        sys.exit("graft.Verify failed")
    check = subprocess.run([sys.executable, str(run.ROOT / "scripts" / "check.py"),
                            str(data), str(verify)], stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    passed = {l.split()[1].rstrip(":") for l in check.stdout.splitlines()
              if l.startswith("PASS")}
    if check.returncode != 0 or not set(queries) <= passed:
        sys.exit(f"check.py did not pass: {sorted(set(queries) - passed)}")
    prints = java("graft.perfbench.FingerprintFiles", verify, *queries)
    if prints.returncode != 0:
        sys.exit("fingerprinting failed")
    OUT.write_text(
        f"# name rows hash -- graft.Verify results over {data.relative_to(run.ROOT)},\n"
        "# each passed by scripts/check.py against DuckDB; see make_fingerprints.py\n"
        + prints.stdout)
    shutil.rmtree(work, ignore_errors=True)
    print(OUT.read_text())


if __name__ == "__main__":
    main(sys.argv[1:])
