#!/usr/bin/env python3
"""Grade the battery against DuckDB once and commit its result digests.

    python3 perfbench/grade_digests.py

Run from the repository root. It runs graft.Verify over the battery's
fixture for the queries in perfbench/battery.json, grades every result
with tools/check_oracle.py against the DuckDB oracle SQL, and only if
all of them pass writes perfbench/battery_digests.json: one
order-insensitive digest per query (analysis.table_digest, the same
canonicalisation as check_oracle.py). run.py compares each battery run
against these digests.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.build(root)
    cfg = run.battery_config()
    names = [q["name"] for q in cfg["queries"]]
    fixture = os.path.join(HERE, cfg["fixture"])
    out = os.path.join(HERE, ".work", "grade")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark_jars = os.path.join(build.spark_home(), "jars")
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{run.XMX}",
           f"-Djava.io.tmpdir={out}"]
    for p in run.JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_jars}/*", "graft.Verify", fixture,
            os.path.join(out, "results")]
    env = dict(os.environ, SPARK_GRAFT_QUERIES=",".join(names),
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    subprocess.run(cmd, check=True, env=env, cwd=out,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    graded = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
         fixture, os.path.join(out, "results"), "--only=" + ",".join(names)],
        capture_output=True, text=True)
    sys.stdout.write(graded.stdout)
    passed = [line.split()[1].rstrip(":") for line in graded.stdout.splitlines()
              if line.startswith("[pass]")]
    if graded.returncode != 0 or sorted(passed) != sorted(names):
        raise SystemExit("grade_digests: not every battery query matches DuckDB")
    import pyarrow.parquet as pq
    digests = {n: analysis.table_digest(pq.read_table(os.path.join(out, "results", n)))
               for n in names}
    with open(os.path.join(HERE, cfg["digests"]), "w") as f:
        json.dump({"graded_by": "graft.Verify + tools/check_oracle.py (DuckDB)",
                   "fixture": cfg["fixture"], "digests": digests}, f, indent=1)
        f.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    print(f"grade_digests: {len(digests)} digests written")


if __name__ == "__main__":
    main()
