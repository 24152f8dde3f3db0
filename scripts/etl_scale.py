"""Scale sweep of the bank ETL CLI: rows/s and process CPU per input size.

Usage:
    python scripts/etl_scale.py

For each size in ``SIZES`` it writes a bank CSV with ``perfbench/gen.bank_csv`` into
a temp dir, runs the ``plans.pipeline`` CLI (JSON sinks, stats table)
once in a fresh Python process, so every size pays its own JVM start,
and prints one line per size:

- ``wall_s``: the whole child process, JVM start included;
- ``cli_s``: ``pipeline.main`` alone (Spark session start, plan build,
  both sinks, stats);
- ``rows/s``: input lines per ``wall_s``, and the same against the
  Beam reference's 1M records in 4 m 12 s (3,970 rows/s);
- ``cpu_s``: CPU seconds of the child's process tree (its Python process,
  JVM, Python workers), read from ``/proc`` just before it exits;
- ``steal_s``: CPU seconds the hypervisor gave to other guests while
  the child ran, all cores. The sweep does not correct for it; a size
  with high steal should be run again.

The last line of standard output is the whole sweep as JSON. Spark's
log goes to the child's standard error, which is shown only if it
fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
import procfs  # noqa: E402

SIZES = (30_000, 300_000, 1_000_000)
SEED = 7
BEAM_ROWS_PER_S = 1_000_000 / 252  # reference README: 1M records in 4 m 12 s

_CHILD = """
import json, os, sys, time
sys.path[:0] = [{root!r}, {perfbench!r}]
import procfs
from banking_data_etl_pipeline_spark.plans import pipeline
t0 = time.perf_counter()
pipeline.main(sys.argv[1:])
cli_s = time.perf_counter() - t0
print(json.dumps({{"cli_s": cli_s, "cpu_s": procfs.cpu(os.getpid())[0]}}))
"""


def run_size(work: str, n: int) -> dict:
    csv = os.path.join(work, f"bank_{n}.csv")
    truth = gen.bank_csv(csv, n, SEED)
    out = os.path.join(work, f"out_{n}")
    argv = [
        "--input_path", csv,
        "--output_table", os.path.join(out, "good"),
        "--error_table", os.path.join(out, "bad"),
        "--stats_table", os.path.join(out, "stats"),
        "--metrics_path", os.path.join(out, "manifest.json"),
    ]
    child = _CHILD.format(root=ROOT, perfbench=os.path.join(ROOT, "perfbench"))
    steal0, t0 = procfs.steal_s(), time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", child, *argv], capture_output=True, text=True, cwd=work
    )
    wall, steal = time.perf_counter() - t0, procfs.steal_s() - steal0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"CLI failed on {n} lines (exit {proc.returncode})")
    timing = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(out, "manifest.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    if manifest["rows_good"] != truth["good"] or manifest["rows_by_error_type"] != truth["errors"]:
        raise SystemExit(f"{n} lines: manifest {manifest} does not match the generator {truth}")
    os.remove(csv)
    return {"lines": n, "wall_s": wall, **timing, "steal_s": steal, "rows_per_s": n / wall}


def main() -> None:
    results = []
    with tempfile.TemporaryDirectory(prefix="etl_scale_") as work:
        for n in SIZES:
            r = run_size(work, n)
            results.append(r)
            print(
                f"{n:>9} lines  wall_s {r['wall_s']:7.2f}  cli_s {r['cli_s']:7.2f}  "
                f"rows/s {r['rows_per_s']:9.0f} ({r['rows_per_s'] / BEAM_ROWS_PER_S:4.1f}x Beam)  "
                f"cpu_s {r['cpu_s']:7.2f}  steal_s {r['steal_s']:6.2f}",
                flush=True,
            )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
