"""Per-query bench regression gate (VERDICT r3 #8).

Compares a fresh bench.py JSON line against the newest BENCH_r*.json
recorded at the same ``cpus`` and ``sf`` as the run, and flags any
query slower than THRESHOLD x its previous time (with an absolute
floor so sub-second scheduling jitter never trips it).
The round-3 simhash_md5 regression (3.07 s -> 20.26 s, shipped
unexamined) is exactly what this catches.

Usage:
    python bench.py | tail -1 | python scripts/bench_regression_check.py
    python scripts/bench_regression_check.py bench_out.json
Exit code 1 if any regression is flagged, 2 if no committed record
matches the run's cpus and sf (nothing comparable to check against).
"""

import glob
import json
import os
import re
import sys

THRESHOLD = 2.5
ABS_FLOOR_SEC = 1.0    # ignore blow-ups below this absolute time


def matching_baseline(repo, cpus, sf):
    """Newest BENCH_r*.json recorded at the same cpus and sf, as
    (file name, per-query seconds), or (None, None). Timings from
    another core count or scale factor are not comparable."""
    benches = sorted(
        sorted(glob.glob(os.path.join(repo, "BENCH_r*.json"))),
        key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    for path in reversed(benches):
        with open(path) as f:
            d = json.load(f)
        parsed = d.get("parsed") or d
        if (parsed.get("cpus", d.get("cpus")) == cpus
                and parsed.get("sf", d.get("sf")) == sf):
            # prefer per-query MINs (noise-robust for deterministic
            # work on a steal-prone host: one burst can inflate a rep
            # 10-30x, which poisons medians on EITHER side of the
            # comparison); fall back to medians for records that
            # predate queries_min
            q = parsed.get("queries_min") or parsed.get("queries", {})
            return os.path.basename(path), q
    return None, None


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    raw = (open(sys.argv[1]).read() if len(sys.argv) > 1
           else sys.stdin.read())
    rec = json.loads(raw.strip().splitlines()[-1])
    cur = rec.get("queries_min") or rec["queries"]
    cpus, sf = rec.get("cpus"), rec.get("sf")
    base_name, base = matching_baseline(repo, cpus, sf)
    if base is None:
        print(f"no BENCH_r*.json recorded at cpus={cpus} sf={sf}; "
              "refusing to compare against another cpus/sf. Commit a "
              "baseline run at this cpus and sf first.",
              file=sys.stderr)
        return 2
    flagged = []
    for k, t in cur.items():
        prev = base.get(k)
        if (prev and t is not None and t > ABS_FLOOR_SEC
                and t > THRESHOLD * prev):
            flagged.append((k, prev, t, t / prev))
    if flagged:
        print(f"REGRESSIONS vs {base_name} (> {THRESHOLD}x, "
              f"> {ABS_FLOOR_SEC}s):")
        for k, prev, t, ratio in sorted(flagged,
                                        key=lambda x: -x[3]):
            print(f"  {k}: {prev:.2f}s -> {t:.2f}s ({ratio:.1f}x)")
        return 1
    print(f"no per-query regressions vs {base_name} at cpus={cpus} "
          f"sf={sf} ({len(cur)} queries checked)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
