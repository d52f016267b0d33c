"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: stream_ingest, medallion_batch (README.md says why each
exists). One process drives a closed loop: the next operation
starts when the previous one returns. A run sets Spark up, runs a fixed
number of untimed warm-up operations, then a fixed number of timed ones
(``--seconds`` divided by the workload's nominal operation cost, so a
run always does the same work), and checks every result outside the
timed region.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables the
Spark event log and spans and reports the per-layer metrics instead,
writing the spans to ``.perfbench_out/``. The line before it records the
run's noise controls, host contention and the workload's own names for
the end-to-end figures.
"""

import os
import sys

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.harness import main

    sys.exit(main())
