"""Merge the goldens of saved benchmark runs into ``goldens.json``.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 10 > runs/crawl_ingest-1.txt
    python3 perfbench/record_goldens.py runs/*.txt

Each file is one run's standard output. Its report line (the line
before the last) names the workload, scale and seed and holds every
op's observation. A relational run's golden is its first (warm-up)
observation; a crawl run's golden maps each batch position it ingested
to the kept count, the hash of the sorted kept ids and the index row
count. Record goldens only from runs that reported ``"correct": true``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CRAWL_KEYS = ("kept", "kept_hash", "index_rows")


def golden_of(report: dict) -> dict:
    observed = report["observed"]
    if report["workload"] == "crawl_ingest":
        return {str(o["position"]): {k: o[k] for k in CRAWL_KEYS} for o in observed}
    return observed[0]


def main(paths: list[str]) -> int:
    target = os.path.join(HERE, "goldens.json")
    with open(target) as f:
        goldens = json.load(f)
    for path in paths:
        with open(path) as f:
            lines = [line for line in f.read().splitlines() if line.startswith("{")]
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        if not result["correct"]:
            print(f"{path}: run was not correct, skipped", file=sys.stderr)
            continue
        per_seed = goldens.setdefault(report["workload"], {}).setdefault(report["scale"], {})
        golden = per_seed.setdefault(str(report["seed"]), {})
        golden.update(golden_of(report))
    with open(target + ".tmp", "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(target + ".tmp", target)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
