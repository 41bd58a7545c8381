#!/usr/bin/env python3
"""Isolated-session scale proof driver.

The full-session ScaleProof run (all heavy queries in one JVM) is a
fine smoke, but its RATIOS mislead for queries whose sf0.1 denominator
is near the session's fixed-overhead floor: r9 headlined 3.0x for
q_dedup_incremental_neardup when the isolated truth was 1.94x. This
driver runs ScaleProof once PER QUERY (fresh JVM, cold+warm at both
scales, nothing else contending in-process) and merges the per-session
JSONs into one SCALEPROOF-shaped file whose `entries` array is the
machine-readable per-entry table:
  [{query, copies, base:{cold,warm}, scaled:{cold,warm}, ratio,
    gate, pass}]

Gate: ScaleProof evaluates each 10x entry against its per-query bound
(default 3.0; O(table)-by-contract entries declare wider bounds in
ScaleProof.gates) and the per-query session exits nonzero on a breach.
This driver propagates that: any failed entry fails the whole run
AFTER all queries have been measured (the report still lands).

Usage: python3 tools/scale_iso.py OUT.json [COPIES] [QUERY...]
  COPIES defaults to 10 (blow-up dir /tmp/graft_sf1); 30 -> graft_sf3,
  100 -> graft_sf10. With no QUERY args, all heavy queries run: the
  names in ScaleProof's `heavyAll`, read from its source.

Note on filters: SPARK_GRAFT_SCALE_FILTER is substring-matched, so the
session for q_tpch_q1 also runs q_tpch_q10 — the merge keeps only each
session's TARGET query, and heavyAll order runs the target first, so
its cold/warm numbers are uncontaminated.
"""
import json, os, re, subprocess, sys

SCALE_PROOF = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "..", "src", "main", "scala", "graft",
                           "ScaleProof.scala")

def heavy_all(path=SCALE_PROOF):
    """The names in ScaleProof's `heavyAll = Seq(...)` literal, in order:
    the one list of heavy queries, read from its source so no copy can
    drift from it. Exits non-zero when no name is found."""
    src = "\n".join(line.split("//")[0] for line in open(path))
    m = re.search(r"heavyAll\s*=\s*Seq\(([^)]*)\)", src)
    names = re.findall(r'"([^"]+)"', m.group(1)) if m else []
    if not names:
        sys.exit(f"[iso] no heavyAll names found in {path}")
    return names

def main():
    out_path = sys.argv[1]
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    queries = sys.argv[3:] or heavy_all()
    sf1_dir = {10: "/tmp/graft_sf1", 30: "/tmp/graft_sf3",
               100: "/tmp/graft_sf10"}.get(copies, f"/tmp/graft_sf_{copies}x")
    small, big, ratio, entries = {}, {}, {}, []
    for q in queries:
        iso = f"/tmp/scale_iso_{q}.json"
        # a stale per-query JSON from an earlier run must never be
        # mistaken for this run's result (a failed sbt launch — e.g. two
        # sbt processes contending for target/ — once reused one
        # silently); remove it so a failure is a failure
        if os.path.exists(iso):
            os.remove(iso)
        env = dict(os.environ,
                   SPARK_GRAFT_SCALE_FILTER=q,
                   SPARK_GRAFT_SCALE_OUT=iso,
                   SPARK_GRAFT_SCALE_COPIES=str(copies),
                   SPARK_GRAFT_SF1_DIR=sf1_dir)
        r = subprocess.run(["sbt", "-batch", "runMain graft.ScaleProof"],
                           env=env, capture_output=True, text=True)
        if not os.path.exists(iso):
            print(f"[iso] {q} FAILED rc={r.returncode}", file=sys.stderr)
            print(r.stdout[-2000:], file=sys.stderr)
            sys.exit(1)
        d = json.load(open(iso))
        small[q] = d["sf01"][q]
        big[q] = d["sf1"][q]
        ratio[q] = d["ratio"][q]
        mine = [e for e in d.get("entries", []) if e["query"] == q]
        entries.extend(mine)
        gate = mine[0].get("gate") if mine else None
        ok = all(e.get("pass", True) for e in mine)
        print(f"[iso] {q:32s} {copies}x ratio={ratio[q]:5.2f} "
              f"warm {small[q]['warm']:.2f}s -> {big[q]['warm']:.2f}s "
              f"gate={gate} {'ok' if ok else 'GATE FAIL'}",
              flush=True)
    failed = [e["query"] for e in entries if not e.get("pass", True)]
    doc = {"metric": f"scale_ratio_max_{copies}x_isolated",
           "value": max(ratio.values()),
           "unit": f"x_warm_time_for_{copies}x_data",
           "isolation": "one fresh JVM per query (cold + 2 warm, min)",
           "gate": ("per-query bound at the 10x decade (default 3.0; "
                    "O(table)-contract entries declare wider bounds)"),
           "gate_failures": failed,
           "entries": entries,
           "sf01": small, f"sf{copies}x": big, "ratio": ratio}
    json.dump(doc, open(out_path, "w"), indent=1)
    print(f"[iso] wrote {out_path}; max ratio {doc['value']:.2f}; "
          f"gate failures: {failed or 'none'}")
    if failed:
        sys.exit(1)

if __name__ == "__main__":
    main()
