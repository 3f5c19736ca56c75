"""Print the layer-dominance table from the records of traced runs.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 1
    python3 perfbench/layers.py dashboard-seed1-trace1 [more records ...]

Each row is one record in .perfbench/out/: the share of traced
operation wall time spent in each layer's own spans (self time; the
harness column is the rest), the Python-worker seconds the UDF profiler
saw per operation, and the tracing overhead.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / ".perfbench" / "out"
SHARES = ["rewrite.share", "catalyst.share", "exec.share", "ddl.share",
          "llm.share"]


def main(tags: list[str]) -> None:
    print("| run | rewrite | catalyst | exec | ddl | llm | harness"
          " | arrow worker s/op | trace overhead ms |")
    print("|---|---|---|---|---|---|---|---|---|")
    for tag in tags:
        m = json.loads((OUT / f"{tag}.json").read_text())["metrics"]
        shares = [m[k][0] for k in SHARES]
        harness = 1.0 - m["trace.coverage"][0]
        cells = [f"{100 * s:.1f}%" for s in shares + [harness]]
        print(f"| {tag} | " + " | ".join(cells)
              + f" | {m['arrow.worker_s_per_op'][0]:.3f}"
              f" | {m['trace.overhead_ms'][0]:.1f} |")


if __name__ == "__main__":
    main(sys.argv[1:])
