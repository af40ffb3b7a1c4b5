"""Summarise repeated benchmark runs: per metric, the median and the spread
(distance between the first and third quartile, as a share of the median).

    python3 perfbench/spread.py RESULT_FILE...

Each file holds one run's standard output; its last line is the result
object. With ``--fingerprints`` it instead prints the table fingerprints the
runs reported, keyed by workload and seed, as ``fingerprints.json`` keeps
them.
"""

from __future__ import annotations

import argparse
import json
import statistics


def read_run(path: str) -> tuple[dict, dict]:
    """(result object, run metadata) of one run's standard output."""
    with open(path) as fh:
        lines = fh.read().splitlines()
    meta = next(json.loads(l[len("# meta "):]) for l in lines if l.startswith("# meta "))
    return json.loads(lines[-1]), meta


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--fingerprints", action="store_true")
    args = ap.parse_args()
    if args.fingerprints:
        out = {}
        for path in args.files:
            meta = read_run(path)[1]
            if meta["fingerprints"]:
                out.setdefault(meta["workload"], {})[str(meta["seed"])] = meta["fingerprints"]
        print(json.dumps(out, indent=1, sort_keys=True))
        return
    runs = [read_run(path)[0] for path in args.files]
    print(f"{len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        median = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / median if median else float("nan")
        print(f"{name:40s} median {median:12.6g}  spread {spread:7.3f}  "
              f"min {min(values):.6g} max {max(values):.6g}")


if __name__ == "__main__":
    main()
