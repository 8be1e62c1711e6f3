#!/usr/bin/env python3
"""Per-query regression check between two graft.Bench runs of one host.

Usage: python3 tools/bench_compare.py <base BENCH_full.json> <new BENCH_full.json> [ratio]

Reads the records Bench writes next to each file (`X.json` ->
`X.metrics.jsonl`, one line per query and pass) and flags
  FAILED   each failed pass (`wall_s` < 0) of either run, as
           `FAILED <query> pass <n> (base|new)`. A failed pass is kept
           out of the RECORDS and CPU rules below: the jobs it ran
           before failing are no sign of the query's shape;
and flags a query when
  RECORDS  its (jobs, stages, shuffle records written) changed in every
           pass: no pass of the new run repeats a base pass's counts.
           A few queries' counts differ between passes of unchanged
           code, so one pass's change alone is not a signal. One tally
           line per direction (fewer jobs or stages, more jobs or
           stages, shuffle records only) follows the flags and names the
           queries whose jobs or stages rose;
  CPU      its executor CPU (fastest pass) grew more than `ratio` (1.5)
           times the run's median per-query CPU ratio, which absorbs a
           uniformly faster or slower host; queries under 0.3 s of CPU
           in both runs are skipped.
Nothing is rerun. Exit code 1 if any query is flagged.
"""
import json, statistics, sys


def load(bench_out):
    """(query name -> its completed passes' records, failed records)."""
    recs, failed = {}, []
    for line in open(bench_out.removesuffix(".json") + ".metrics.jsonl"):
        r = json.loads(line)
        if r["wall_s"] < 0:
            failed.append(r)
        else:
            recs.setdefault(r["query"], []).append(r)
    return recs, failed


def records_tally(base, cur, moved):
    """Direction of each RECORDS flag, by the (jobs, stages) of the
    fewest-jobs pass of each run: any rise counts as more, else any drop
    as fewer, else only the shuffle records moved."""
    tally = {"fewer jobs or stages": [], "more jobs or stages": [], "same jobs and stages": []}
    for q in moved:
        b, c = (min((r["jobs"], r["stages"]) for r in recs[q]) for recs in (base, cur))
        if c[0] > b[0] or c[1] > b[1]:
            tally["more jobs or stages"].append(q)
        elif c[0] < b[0] or c[1] < b[1]:
            tally["fewer jobs or stages"].append(q)
        else:
            tally["same jobs and stages"].append(q)
    return tally


def main():
    (base, base_failed), (cur, cur_failed) = load(sys.argv[1]), load(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    both = sorted(base.keys() & cur.keys())
    shape = lambda rs: {(r["jobs"], r["stages"], r["shuffle_write_records"]) for r in rs}
    moved = [q for q in both if shape(base[q]).isdisjoint(shape(cur[q]))]
    flags = [f"FAILED {r['query']} pass {r['pass']} ({run})"
             for run, failed in (("base", base_failed), ("new", cur_failed)) for r in failed]
    flags += [f"RECORDS {q}: (jobs, stages, shuffle records) {sorted(shape(base[q]))} -> {sorted(shape(cur[q]))}"
             for q in moved]
    cpu = {q: [min(r["cpu_ns"] for r in recs[q]) / 1e9 for recs in (base, cur)] for q in both}
    ratios = {q: c / b for q, (b, c) in cpu.items() if max(b, c) >= 0.3 and b > 0}
    host = statistics.median(ratios.values()) if ratios else 1.0
    flags += [f"CPU {q}: {cpu[q][0]:.2f}s -> {cpu[q][1]:.2f}s ({r:.2f}x, {r / host:.2f}x the run's median)"
              for q, r in sorted(ratios.items()) if r / host > ratio]
    for q in sorted(base.keys() ^ cur.keys()):
        print(f"{'GONE' if q in base else 'NEW '} {q}: completed in one run only")
    for f in flags:
        print(f)
    for direction, qs in records_tally(base, cur, moved).items():
        print(f"RECORDS {direction}: {len(qs)}" + (f" ({', '.join(qs)})" if direction.startswith("more") and qs else ""))
    print(f"\nmedian CPU ratio {host:.2f}x over {len(ratios)} queries; {len(flags)} flag(s)")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
