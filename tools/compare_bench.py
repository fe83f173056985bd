#!/usr/bin/env python3
"""Compare bench runs: bench_full.json vs earlier rounds' recorded tails.

Usage:
  python3 tools/compare_bench.py [other.json ...]
  python3 tools/compare_bench.py --annotate CUR.json PREV.json

With no args, diffs bench_full.json against every BENCH_r*.json tail it
can parse (the driver's recorded stdout tail truncates the head of the
full per-query line, so older rounds expose only a suffix of queries —
the comparison uses whatever parses). Flags per-query regressions >1.5x
and prints the aggregate ratio over common queries.

Every comparison is ALSO reported sentinel-normalized: the bench suite
carries a fixed sentinel query (a7_time_buckets — small and stable)
whose ratio between two runs measures pure host drift; dividing each
per-query ratio by the sentinel drift makes cross-round/cross-host
deltas comparable without manual adjudication. Its plan changed once:
since GraftExtensions.SmallSortInOnePartition its final sort runs over
`Coalesce 1` in place of a range exchange and its sampling job (4 Spark
jobs per run down to 2), so a drift taken across that change also
carries the plan change and reads lower than the host alone.

--annotate computes the sentinel-normalized comparison of CUR vs PREV
and writes it INTO CUR.json under "normalized_vs_prev", so the tracked
artifact (e.g. bench_sf10.json) carries its own drift-adjusted history.

Every mode first prints the `host` stamp of both artifacts and says
when they differ or when one has none (the BENCH_r* tails carry
only a cpu count): a total taken across hosts — 32 cores
against 4 — is host drift, not a code change.
"""
import glob
import json
import re
import sys

SENTINEL = "a7_time_buckets"


def parse_tail(path):
    """Best-effort per-query timings from a driver BENCH_r*.json."""
    d = json.load(open(path))
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        return d["parsed"]["queries"]
    tail = d.get("tail", "")
    m = re.search(r'"queries":\{(.*?)\},"sf"', tail, re.S)
    # recorded tails usually truncate the HEAD of the full JSON line, so
    # fall back to scanning loose "name":float pairs (the cut-off first
    # pair has no opening quote and is skipped automatically)
    body = m.group(1) if m else tail.split('},"sf"')[0]
    skip = {"metric", "value", "n_queries", "queries_listed"}
    return {k: float(v) for k, v in
            re.findall(r'"([a-z0-9_]+)":(-?[0-9.eE+]+)', body)
            if k not in skip}


def load_queries(path):
    return parse_tail(path) if path.startswith("BENCH_") \
        else json.load(open(path))["queries"]


def failed_rows(path):
    """The rows an artifact lists under `failed` (the BENCH_r* tails carry
    no such list)."""
    if path.startswith("BENCH_"):
        return set()
    return set(json.load(open(path)).get("failed") or [])


def host_stamp(path):
    """The artifact's `host` stamp (nproc, cpus, heap, JDK, Spark, local
    dirs), or None when it has none."""
    d = json.load(open(path))
    return d.get("host") or (d.get("parsed") or {}).get("host")


def report_hosts(cur_path, old_path):
    stamps = {p: host_stamp(p) for p in (cur_path, old_path)}
    for p, h in stamps.items():
        if h is None:
            cpus = json.load(open(p)).get("cpus")
            cpus_txt = f" (recorded cpus={cpus})" if cpus is not None else ""
            print(f"host {p}: no host stamp{cpus_txt}")
        else:
            print(f"host {p}: " + ", ".join(f"{k}={v}" for k, v in sorted(h.items())))
    a, b = stamps[cur_path], stamps[old_path]
    if a is None or b is None:
        print("HOST UNKNOWN: one artifact has no host stamp — the two runs "
              "may come from different hosts; do not read a total as a code change")
    elif a != b:
        diff = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
        print(f"HOST DIFFERS ({', '.join(diff)}): a total across hosts is "
              "host drift, not a code change")


def sentinel_drift(cur, old):
    """cur/old wall ratio of the sentinel query, or None if either run
    lacks it (pre-sentinel rounds)."""
    if cur.get(SENTINEL, 0) > 0 and old.get(SENTINEL, 0) > 0:
        return cur[SENTINEL] / old[SENTINEL]
    return None


def compare(cur, old, label):
    common = [k for k in set(old) & set(cur) if old[k] > 0 and cur[k] > 0]
    if not common:
        print(f"{label}: no common queries")
        return
    to, tc = sum(old[k] for k in common), sum(cur[k] for k in common)
    drift = sentinel_drift(cur, old)
    dtxt = (f", sentinel drift x{drift:.2f}, normalized ratio "
            f"{tc / to / drift:.2f}") if drift else " (no sentinel in both)"
    print(f"\n== {label}: {len(common)} common, "
          f"sum {to:.1f}s -> {tc:.1f}s (ratio {tc / to:.2f}{dtxt}) ==")
    # the sentinel runs through the same engine/session as everything
    # else, so a change that slows the WHOLE suite (sentinel included)
    # would normalize away — flag sentinel drift itself, and keep a
    # looser RAW gate so suite-wide regressions can't be misclassified
    # as host noise
    if drift and drift > 2.0:
        print(f"  WARN sentinel itself drifted x{drift:.2f} — if other "
              "runs on this host don't show it, suspect a suite-wide "
              "code/config regression, not host noise")
    regs = sorted(common, key=lambda k: -(cur[k] / old[k]))
    for k in regs:
        r = cur[k] / old[k]
        rn = r / drift if drift else r
        # flag on the drift-adjusted ratio when a sentinel exists (raw
        # regressions that normalize away are host noise, not code) —
        # but ALWAYS flag raw ratios past the looser 3x gate
        if rn < 1.5 and r < 3.0:
            continue
        print(f"  REG {k:28s} {old[k]:7.2f} -> {cur[k]:7.2f}  "
              f"x{r:.2f}" + (f"  (norm x{rn:.2f})" if drift else ""))


def annotate(cur_path, prev_path):
    report_hosts(cur_path, prev_path)
    cur_doc = json.load(open(cur_path))
    cur, old = cur_doc["queries"], load_queries(prev_path)
    common = sorted(k for k in set(old) & set(cur)
                    if old[k] > 0 and cur[k] > 0)
    drift = sentinel_drift(cur, old)
    ratios = {k: cur[k] / old[k] / (drift or 1.0) for k in common}
    med = sorted(ratios.values())[len(ratios) // 2] if ratios else None
    worst = sorted(ratios.items(), key=lambda kv: -kv[1])[:5]
    cur_doc["normalized_vs_prev"] = {
        "prev": prev_path,
        "sentinel": SENTINEL,
        "sentinel_drift": round(drift, 4) if drift else None,
        "n_common": len(common),
        "median_normalized_ratio": round(med, 4) if med is not None else None,
        "worst_normalized": [[k, round(v, 3)] for k, v in worst],
    }
    json.dump(cur_doc, open(cur_path, "w"), indent=1)
    print(f"annotated {cur_path}: {len(common)} common vs {prev_path}, "
          f"drift {drift and round(drift, 3)}, median norm ratio "
          f"{med and round(med, 3)}")


def gate(cur_path, base_path):
    """Regression GATE against a recorded baseline (exit 1 on breach).

    Sentinel-normalized like everything else here. Thresholds are
    deliberately loose — the gate exists to catch structural
    regressions at scale (a shuffle shape change, a lost index path),
    not host drift: a row breaches only when its normalized ratio
    exceeds 3x AND it got at least 1 s slower; the suite breaches when
    the normalized common-row total exceeds 1.5x. Rows added after the
    baseline was recorded are reported but never gate (re-record the
    baseline to cover them). A row that failed breaches outright: one
    CUR lists under `failed`, or one timed in the baseline whose CUR
    time is <= 0 (Bench records a row that never finished as -1) — a
    failure must not drop out of the comparison and pass the gate."""
    report_hosts(cur_path, base_path)
    cur, base = load_queries(cur_path), load_queries(base_path)
    common = [k for k in set(base) & set(cur) if base[k] > 0 and cur[k] > 0]
    if not common:
        print(f"GATE FAIL: no common queries between {cur_path} and {base_path}")
        sys.exit(1)
    drift = sentinel_drift(cur, base) or 1.0
    failed = failed_rows(cur_path) | {k for k in set(base) & set(cur)
                                      if base[k] > 0 and cur[k] <= 0}
    bad = [f"  GATE FAIL {k}: failed in {cur_path} (time {cur.get(k, -1):g})"
           for k in sorted(failed)]
    for k in sorted(common):
        rn = cur[k] / base[k] / drift
        if rn > 3.0 and cur[k] - base[k] > 1.0:
            bad.append(f"  GATE REG {k}: {base[k]:.2f}s -> {cur[k]:.2f}s "
                       f"(norm x{rn:.2f})")
    tb, tc = sum(base[k] for k in common), sum(cur[k] for k in common)
    total_rn = tc / tb / drift
    if total_rn > 1.5:
        bad.append(f"  GATE REG total: {tb:.1f}s -> {tc:.1f}s (norm x{total_rn:.2f})")
    uncovered = sorted(set(cur) - set(base))
    if uncovered:
        print(f"gate note: {len(uncovered)} row(s) not in baseline "
              f"(re-record to cover): {', '.join(uncovered[:8])}"
              + (" ..." if len(uncovered) > 8 else ""))
    print(f"gate: {len(common)} common rows vs {base_path}, sentinel drift "
          f"x{drift:.2f}, normalized total x{total_rn:.2f}, "
          f"{len(bad)} breach(es)")
    for b in bad:
        print(b)
    sys.exit(1 if bad else 0)


def main():
    if sys.argv[1:2] == ["--annotate"]:
        annotate(sys.argv[2], sys.argv[3])
        return
    if sys.argv[1:2] == ["--gate"]:
        gate(sys.argv[2], sys.argv[3])
        return
    cur = json.load(open("bench_full.json"))["queries"]
    others = sys.argv[1:] or sorted(glob.glob("BENCH_r0*.json"))
    for path in others:
        try:
            old = load_queries(path)
        except Exception as e:
            print(f"{path}: unparseable ({e})")
            continue
        print()
        report_hosts("bench_full.json", path)
        compare(cur, old, path)


if __name__ == "__main__":
    main()
