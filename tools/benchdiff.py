#!/usr/bin/env python3
"""Per-query Spark-median regression diff (dev/driver tool) — mechanizes
the operational rule the README applies in prose each round: cross-window
regressions are judged on PER-QUERY SPARK MEDIANS (stable to ~10%),
never on totals (±20% with machine load) and never on cross-window
Spark:DuckDB ratios (the denominator swings with page-cache state; see
tools/duckbench.py's pinned-warm protocol).

Usage:
    python3 tools/benchdiff.py <old.json> <new.json> [threshold] [hide_new]

`hide_new` (literal string) suppresses NEW/GONE rows — useful when the
older artifact is a driver round capture that carries only the sf1 and
gate sections, so every sf0.1 median would list as NEW noise.

Accepts either a raw graft.Bench output (BENCH_LOCAL.json) or a driver
round capture BENCH_r{N}.json (auto-unwraps its .parsed). Compares three
aligned sections — the sf0.1 catalog medians (`queries`), the sf1
headline medians (`sf1.queries`) and the sf1 gate-family rows
(`sf1.*_sec`) — and prints a markdown table of every mover beyond the
threshold (default 0.15 = 15%), plus NEW/GONE entries, most-moved
first. The `attribution` column is looked up from
tools/bench_attribution.json (bare query name -> note); movers without
a note print `UNATTRIBUTED` — the signal to investigate or annotate.

r20: when the NEW artifact carries per-query stamps (graft.Bench pairs
each median with the host-contention and GC time of the pass it came
from), movers auto-attribute instead of printing UNATTRIBUTED:

- foreign stamp > 2.0 cores (the README accept rule's threshold) →
  `host contention (foreign=N.N cores)`: something OUTSIDE this JVM was
  burning cores during that exact pass.
- both artifacts carry `gc_sec_by_query` and the GC-time growth covers
  most of the time growth → `gc pressure (gc A->B s)`: same-JVM
  heap/block-store state, the r14-measured dominant error bar that
  foreign cores cannot see.
- only the new artifact has a GC stamp and the pass spent >30% of its
  wall time in GC → the stamp is appended to whatever note exists, so
  the reader sees the pressure even without a baseline.

Exit code: 0 normally (the tool reports, the reader judges) — EXCEPT
when a mover beyond the attribution bar has neither an attribution
entry nor an auto-attributing stamp: those print as a loud
`UNATTRIBUTED BIG MOVERS` block and the exit code is 2, so a round
cannot silently ship a BENCH record with an uncharacterized big swing
(r21, closing the r20 verdict's q06/q49/q50 fall-through). NOTE the
exit-code contract for wrappers: 2 is a *review-needed* signal, not a
tool error. r22 (verdict #4) lowered the bar from >2x alone to
>1.25x AND >0.3 s absolute, in either direction — two rounds of q80/
q105-class drift (+16-28%, ~0.3-0.4 s) accumulated under the 2x radar.
The ratio test runs on the RAW floats, not the 3-decimal display
strings (r21 ADVICE: rounding could misclassify at the boundary), and
over every aligned key, so the exit code is the same for any display
`threshold`.
"""
import sys, os, json

FOREIGN_HOT = 2.0  # README accept rule: quiet window = foreign < 2.0
GC_COVERS = 0.5    # gc growth explaining >=50% of the delta attributes it
GC_NOTABLE = 0.3   # >=30% of the pass inside GC is worth surfacing
BIG_RATIO = 1.25   # attribution bar: >1.25x in either direction ...
BIG_ABS = 0.3      # ... AND >0.3 s absolute (sub-noise floors exempt)


def load(path):
    d = json.load(open(path))
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    out, foreign, gc = {}, {}, {}
    # driver round captures shorten query names to their qNN prefix;
    # raw Bench output keeps full names — normalize to the prefix so
    # the two align
    def short(name):
        return name.split("_")[0]
    for name, sec in (d.get("queries") or {}).items():
        out[f"sf01:{short(name)}"] = sec
    for name, fc in (d.get("foreign_cores_by_query") or {}).items():
        foreign[f"sf01:{short(name)}"] = fc
    for name, g in (d.get("gc_sec_by_query") or {}).items():
        gc[f"sf01:{short(name)}"] = g
    sf1 = d.get("sf1") or {}
    for name, sec in (sf1.get("queries") or {}).items():
        out[f"sf1:{short(name)}"] = sec
    for name, fc in (sf1.get("foreign_cores_by_query") or {}).items():
        foreign[f"sf1:{short(name)}"] = fc
    for name, g in (sf1.get("gc_sec_by_query") or {}).items():
        gc[f"sf1:{short(name)}"] = g
    for key, val in sf1.items():
        # gate-family rows only: totals and duckdb_* denominators are
        # not per-query Spark medians and don't belong in the diff
        if "gate1k" in key and key.endswith("_sec") \
                and isinstance(val, (int, float)):
            out[f"gate:{key}"] = val
    return ({k: v for k, v in out.items()
             if isinstance(v, (int, float)) and v >= 0}, foreign, gc)


def main(old_path, new_path, threshold=0.15, hide_new=False):
    (old, _, old_gc) = load(old_path)
    (new, new_foreign, new_gc) = load(new_path)
    notes = {}
    attr = os.path.join(os.path.dirname(__file__), "bench_attribution.json")
    if os.path.exists(attr):
        notes = json.load(open(attr))

    def note_for(key):
        bare = key.split(":", 1)[1]
        note = notes.get(bare) or notes.get(bare.split("_")[0]) or ""
        if not note and new_foreign.get(key, -1) > FOREIGN_HOT:
            note = f"host contention (foreign={new_foreign[key]:.1f} cores)"
        if not note and key in old_gc and key in new_gc \
                and key in old and key in new:
            dgc, dt = new_gc[key] - old_gc[key], new[key] - old[key]
            if dt > 0 and dgc / dt >= GC_COVERS:
                note = (f"gc pressure (gc {old_gc[key]:.2f}->"
                        f"{new_gc[key]:.2f}s of {dt:+.2f}s)")
        # baseline-free fallback only: when the gc-pressure attribution
        # (which needs BOTH artifacts stamped) could not run, surface a
        # hot new-side stamp so the reader sees the pressure anyway
        if key not in old_gc and key in new_gc and key in new \
                and new[key] > 0 and new_gc[key] / new[key] >= GC_NOTABLE:
            stamp = f"gc={new_gc[key]:.2f}s of {new[key]:.2f}s pass"
            note = f"{note}; {stamp}" if note else stamp
        return note

    # rows carry the RAW floats (None for NEW/GONE); display strings are
    # formatted at print time so the is_big classification never runs on
    # rounded values (r21 ADVICE)
    rows = []
    for key in sorted(set(old) | set(new)):
        o, n = old.get(key), new.get(key)
        if o is None:
            if not hide_new:
                rows.append((float("inf"), key, None, n, "NEW",
                             note_for(key) or "UNATTRIBUTED"))
        elif n is None:
            if not hide_new:
                rows.append((float("inf"), key, o, None, "GONE",
                             note_for(key) or "UNATTRIBUTED"))
        elif o > 0:
            delta = (n - o) / o
            if abs(delta) > threshold:
                rows.append((abs(delta), key, o, n,
                             f"{delta:+.0%}",
                             note_for(key) or "UNATTRIBUTED"))
    def is_big(o, n):
        # symmetric ratio rule on the raw floats: a rise past +25% OR a
        # drop past -20% (= >1.25x faster) demands attribution, but only
        # when the absolute move clears BIG_ABS seconds — sub-noise
        # floor members (0.1 -> 0.14 s) stay under the reporting
        # threshold's ordinary judgement
        return (n > o * BIG_RATIO or n < o / BIG_RATIO) \
            and abs(n - o) > BIG_ABS
    # classified over EVERY aligned key, so the exit code does not
    # depend on the display threshold
    common = [k for k in old if k in new]
    big_unattributed = [
        (k, old[k], new[k], f"{(new[k] - old[k]) / old[k]:+.0%}")
        for k in sorted(common)
        if old[k] > 0 and is_big(old[k], new[k]) and not note_for(k)]
    to, tn = sum(old[k] for k in common), sum(new[k] for k in common)
    drift = f" ({(tn - to) / to:+.1%})" if to > 0 else ""
    print(f"<!-- generated by tools/benchdiff.py {os.path.basename(old_path)}"
          f" -> {os.path.basename(new_path)}; threshold {threshold:.0%};"
          f" common set {len(common)} queries, total"
          f" {to:.1f}s -> {tn:.1f}s{drift} -->")
    def fmt(v):
        return "-" if v is None else f"{v:.3f}"
    if not rows:
        print(f"No movers beyond {threshold:.0%} "
              f"({len(common)} aligned queries).")
    else:
        print("| query | old s | new s | Δ | attribution |")
        print("|---|---|---|---|---|")
        for _, key, o, n, d, note in sorted(rows, key=lambda r: -r[0]):
            print(f"| {key} | {fmt(o)} | {fmt(n)} | {d} | {note} |")
    if big_unattributed:
        print()
        print(f"UNATTRIBUTED BIG MOVERS ({len(big_unattributed)}) — every "
              f"mover beyond the bar (>{BIG_RATIO}x and >{BIG_ABS}s) needs "
              "a solo stamp or an attribution entry before the record "
              "ships:")
        for key, o, n, d in big_unattributed:
            print(f"  {key}: {fmt(o)} -> {fmt(n)} ({d})")
        return 2
    return 0


if __name__ == "__main__":
    th = float(sys.argv[3]) if len(sys.argv) > 3 else 0.15
    hn = len(sys.argv) > 4 and sys.argv[4] == "hide_new"
    sys.exit(main(sys.argv[1], sys.argv[2], th, hn))
