#!/usr/bin/env python3
"""Assemble SCALEPROOF_r{N}.json from the isolated per-decade runs plus
per-query work splits. Usage:
  python3 tools/assemble_scaleproof.py SCALEPROOF_r11.json \
      --iso10 /tmp/iso10_r11.json [--iso30 ...] [--iso100 ...] \
      [--note "..."] [--legs name=path.json ...]
Leg files are JSON dicts merged in under their name: a query's entry of
`queries_work` in a `graft.Bench` run's `bench_out.json` (jobs, tasks,
task time, `nojob_s` and the per-phase `labels` job split), e.g.
  python3 -c 'import json; print(json.dumps(json.load(open("bench_out.json"))["queries_work"]["q_mv_join"]))' > mv_join.json
The gate verdicts ride in from the iso runs' `entries`; assembly fails if
any 10x entry failed its gate.
"""
import argparse, json, sys

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--iso10", required=True)
    ap.add_argument("--iso30")
    ap.add_argument("--iso100")
    ap.add_argument("--round", type=int, default=11)
    ap.add_argument("--note", action="append", default=[])
    ap.add_argument("--legs", action="append", default=[],
                    help="name=path.json to merge under that key")
    a = ap.parse_args()
    i10 = json.load(open(a.iso10))
    failed = i10.get("gate_failures", [])
    if failed:
        print(f"10x gate failures: {failed}", file=sys.stderr)
        sys.exit(1)
    doc = {
        "metric": "scale_ratio_max_10x_isolated",
        "value": i10["value"],
        "unit": "x_warm_time_for_10x_data",
        "round": a.round,
        "isolation": i10.get("isolation"),
        "gate": i10.get("gate"),
        "gate_failures": [],
        "notes": a.note,
        "copies10_isolated": {"sf01": i10["sf01"], "sf10x": i10["sf10x"],
                              "ratio": i10["ratio"],
                              "entries": i10.get("entries", [])},
    }
    if a.iso30:
        i30 = json.load(open(a.iso30))
        doc["copies30_isolated"] = {"sf01": i30["sf01"],
                                    "sf30x": i30["sf30x"],
                                    "ratio": i30["ratio"],
                                    "entries": i30.get("entries", [])}
    if a.iso100:
        i100 = json.load(open(a.iso100))
        doc["copies100_isolated"] = {"sf01": i100["sf01"],
                                     "sf100x": i100["sf100x"],
                                     "ratio": i100["ratio"],
                                     "entries": i100.get("entries", [])}
    for spec in a.legs:
        name, path = spec.split("=", 1)
        doc[name] = json.load(open(path))
    json.dump(doc, open(a.out, "w"), indent=1)
    print(f"wrote {a.out}")

if __name__ == "__main__":
    main()
