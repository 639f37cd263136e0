#!/usr/bin/env python3
"""Compare two `graft.Diag smoke` sweeps at different scale factors against the
per-query class manifest (tools/stress_classes.json).

Usage: stress_trend.py <lo.log> <hi.log> <lo_factor> <hi_factor> [manifest]
                       [--partial]
       stress_trend.py --selftest

Parses `[smoke] name head=..s xN=..s ratio=.. shuffleMB=a -> b` lines and
prints, per query, the time and shuffle trend between the two factors plus
the query's DECLARED classes. Flags only deviations from the declared
class (VERDICT r13 task #2 — the bare >1.5x-of-scale heuristic flagged 10
known-additive broadcast->shuffle transitions as SUPERLINEAR and their true
adjudications lived only in PERF_NOTES prose).

Shuffle classes (`class` field):

  linear       mb_trend must be <= scale * 1.5 once the lo side is past
               the 0.05 MB floor. When the lo side sits UNDER the floor,
               the ratio is meaningless — so the hi side must stay under
               the 8 MB scan-noise allowance instead (ADVICE r14: the old
               NaN branch performed no check at all, so a huge hi-side
               shuffle behind a sub-floor lo side passed silently); a
               bigger hi side means the class is simply wrong — reclassify
               (transition with a measured cap, or linear measured from a
               factor where the lo side is real).
  transition   an additive broadcast->shuffle degrade: at the lo factor
               one side still broadcasts (possibly leaving a small
               residual shuffle), at the hi factor the DESIGNED shuffle
               shape appears once — a growth STEP, not a growth RATE, so
               a trend ratio is meaningless across the step. The manifest
               pins hi_mb_cap (~2x the measured hi-factor bytes) as the
               contract: a real class change (quadratic candidate growth)
               blows through the cap, re-measured layout noise does not.
  zero         scan-bound: no data-proportional exchange at either factor
               (hi_mb <= 8 MB covers footer/stats traffic)

Time classes (`time` field, VERDICT r14 task #1 — the r13 funnel kill was
CPU-quadratic with a perfectly linear shuffle, a class the shuffle gate is
blind to by construction):

  (absent) =   t_trend must be <= scale * 1.5 once the lo-side wall is
  "linear"     past the 0.5 s scheduling floor (time is noisier than
               bytes: JIT, GC, box contention — 1.5x headroom matches the
               shuffle rule and clears every honest r14 row except the
               unadjudicated copurchase_pairs at 19.97, which is the
               point). A lo wall under the floor prints `floor` and is
               not ratio-checked — sub-second heads are scheduling-
               dominated and their ratios read arbitrarily high (the
               kcore 15.3x driver-smoke lesson, VERDICT r12 task #6).
  floor_exempt never ratio-checked regardless of the lo wall (declared,
               not inferred — for rows whose lo wall hovers around the
               floor across rounds and would flap).
  annotated    an adjudicated non-linear time trend with a measured cause:
               requires `t_cap_s` (absolute hi-side wall cap, ~2x the
               measured seconds), `t_note` (the one-line cause), and
               `t_evidence` (repo-relative path to the committed probe
               artifact that PROVED the cause — VERDICT r15 task #5: an
               annotation whose evidence lives only in prose can't be
               re-adjudicated; the gate now fails if the file is missing).
               A regression past the cap re-flags.

A query in the sweep but not the manifest is a flag: every new smoke query
must declare its class. A manifest row with no query in the sweep is ALSO
a flag (ADVICE r14 — stale rows used to print-only, so a renamed/deleted
query left a dead row forever) unless --partial is passed, which is how
single-query adjudication re-runs opt out. Exit code 1 on any flag, so the
sweep is a gate.
"""
import json
import os
import re
import sys
import tempfile

PAT = re.compile(
    r"\[smoke\] (\S+)\s+head=\s*([\d.]+)s x(\d+)=\s*([\d.]+)s ratio=\s*([\d.-]+) "
    r"shuffleMB=\s*([\d.-]+) ->\s*([\d.-]+)")

DEFAULT_MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "stress_classes.json")
# t_evidence paths are repo-relative (the repo root is tools/..)
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MB_FLOOR = 0.05   # lo-side shuffle floor: below this a byte ratio is noise
MB_NOISE = 8.0    # absolute allowance for scan/footer/stats traffic
T_FLOOR = 0.5     # lo-side wall floor: below this a time ratio is noise


def parse(path):
    out = {}
    for line in open(path):
        m = PAT.search(line)
        if m:
            q, head, _f, sec, _r, mb_head, mb = m.groups()
            out[q] = (float(head), float(sec), float(mb))
    return out


def classify(cls, scale, tl, th, ml, mh):
    """Return (mb_trend, [flag_str...]). Empty list = conforms to class."""
    flags = []
    kind = cls.get("class")
    mt = mh / ml if ml > MB_FLOOR else float("nan")
    if kind == "zero":
        if mh > MB_NOISE:
            flags.append(f"CLASS-VIOLATION zero: hi={mh:.1f}MB > {MB_NOISE:.0f}MB")
    elif kind == "transition":
        cap = cls.get("hi_mb_cap")
        if cap is None:
            flags.append("MIS-ANNOTATED transition: hi_mb_cap required")
        elif mh > cap:
            flags.append(f"CLASS-VIOLATION transition: hi={mh:.1f}MB > cap={cap}MB")
    elif kind == "linear":
        if mt == mt:  # lo side past the floor: the ratio is real
            if mt > scale * 1.5:
                flags.append(
                    f"CLASS-VIOLATION linear: mb_trend={mt:.1f} > {scale * 1.5:.0f}")
        elif mh > MB_NOISE:
            # ADVICE r14: sub-floor lo + large hi used to skip validation
            flags.append(
                f"CLASS-VIOLATION linear: lo={ml:.2f}MB below floor but "
                f"hi={mh:.1f}MB > {MB_NOISE:.0f}MB — reclassify")
    else:
        flags.append(f"UNKNOWN CLASS {kind!r}")

    tkind = cls.get("time", "linear")
    tt = th / tl if tl > 0 else float("nan")
    if tkind == "linear":
        if tl >= T_FLOOR and tt > scale * 1.5:
            flags.append(
                f"CLASS-VIOLATION time-linear: t_trend={tt:.1f} > {scale * 1.5:.0f}")
    elif tkind == "floor_exempt":
        pass
    elif tkind == "annotated":
        cap = cls.get("t_cap_s")
        ev = cls.get("t_evidence")
        if cap is None:
            flags.append("MIS-ANNOTATED time-annotated: t_cap_s required")
        elif th > cap:
            flags.append(
                f"CLASS-VIOLATION time-annotated: hi={th:.1f}s > cap={cap}s "
                f"({cls.get('t_note', 'no note')})")
        if ev is None:
            flags.append("MIS-ANNOTATED time-annotated: t_evidence (committed "
                         "probe artifact path) required")
        elif not os.path.exists(os.path.join(REPO_ROOT, ev)):
            flags.append(f"MIS-ANNOTATED time-annotated: t_evidence {ev!r} "
                         "does not exist")
    else:
        flags.append(f"UNKNOWN TIME CLASS {tkind!r}")
    return mt, flags


def run(lo_log, hi_log, lo_f, hi_f, manifest_path, partial, out=print):
    manifest = json.load(open(manifest_path))
    lo, hi = parse(lo_log), parse(hi_log)
    scale = float(hi_f) / float(lo_f)
    flags = []
    out(f"{'query':34} {'t@'+lo_f+'x':>8} {'t@'+hi_f+'x':>8} {'t_trend':>8} "
        f"{'MB@'+lo_f+'x':>9} {'MB@'+hi_f+'x':>9} {'mb_trend':>8} {'class':>10} "
        f"{'time':>12}  deviation")
    for q in sorted(set(lo) & set(hi), key=lambda q: -(hi[q][2])):
        tl, th = lo[q][1], hi[q][1]
        ml, mh = lo[q][2], hi[q][2]
        tt = th / tl if tl > 0 else float("nan")
        cls = manifest.get(q)
        if cls is None:
            mt = mh / ml if ml > MB_FLOOR else float("nan")
            qflags = ["UNCLASSIFIED: add to tools/stress_classes.json"]
            kind, tkind = "-", "-"
        else:
            mt, qflags = classify(cls, scale, tl, th, ml, mh)
            kind = cls["class"]
            tkind = cls.get("time", "linear")
            if tkind == "linear" and tl < T_FLOOR:
                tkind = "floor"  # display-only: auto floor, not ratio-checked
        flags.extend(f"{q} <== {f}" for f in qflags)
        dev = ("  <== " + "; ".join(qflags)) if qflags else ""
        out(f"{q:34} {tl:8.2f} {th:8.2f} {tt:8.2f} {ml:9.1f} {mh:9.1f} "
            f"{mt:8.2f} {kind:>10} {tkind:>12}{dev}")
    missing = sorted(set(lo) ^ set(hi))
    if missing:
        flags.extend(f"{q} <== only in one sweep" for q in missing)
        out("only in one sweep: " + ", ".join(missing))
    # stale = in NEITHER log; a query in exactly one log already gets its
    # own "only in one sweep" flag and must not also read as stale
    stale = sorted(k for k in set(manifest) - (set(lo) | set(hi))
                   if not k.startswith("_"))
    if stale:
        out("manifest rows not in this sweep: " + ", ".join(stale))
        if not partial:
            # ADVICE r14: a dead manifest row must fail the gate (pass
            # --partial for deliberate subset adjudication re-runs)
            flags.extend(f"{q} <== STALE manifest row (not in sweep; "
                         "--partial to allow)" for q in stale)
    return flags


def main(argv):
    partial = "--partial" in argv
    args = [a for a in argv if not a.startswith("--")]
    lo_log, hi_log, lo_f, hi_f = args[:4]
    manifest_path = args[4] if len(args) > 4 else DEFAULT_MANIFEST
    flags = run(lo_log, hi_log, lo_f, hi_f, manifest_path, partial)
    if flags:
        print(f"\n{len(flags)} FLAG(S):")
        for f in flags:
            print(" ", f)
        return 1
    print("\nall queries conform to their declared classes (shuffle + time)")
    return 0


def selftest():
    """Synthetic-log controls: every gate rule must flag its target class
    (VERDICT r14 task #1 — 'a synthetic 20x time row must fail the tool').
    """
    def smoke(q, tl, th, ml, mh, f=100):
        # one lo line and one hi line in `Diag smoke`'s format
        return (f"[smoke] {q:34} head=  1.00s x10={tl:7.2f}s ratio=  1.00 "
                f"shuffleMB={ml:8.1f} -> {ml:8.1f}\n",
                f"[smoke] {q:34} head=  1.00s x{f}={th:7.2f}s ratio=  1.00 "
                f"shuffleMB={mh:8.1f} -> {mh:8.1f}\n")
    # (name, lo(t,mb), hi(t,mb), manifest row, expect_flag)
    cases = [
        ("time_quadratic", (2.0, 50.0), (40.0, 500.0),
         {"class": "linear"}, True),               # 20x time, linear bytes
        ("time_linear_ok", (2.0, 50.0), (21.0, 500.0),
         {"class": "linear"}, False),              # 10.5x time passes
        ("time_floor_auto", (0.3, 50.0), (6.0, 500.0),
         {"class": "linear"}, False),              # lo wall under 0.5s floor
        ("time_exempt", (0.8, 50.0), (16.0, 500.0),
         {"class": "linear", "time": "floor_exempt"}, False),
        ("time_annotated_ok", (2.0, 50.0), (45.0, 500.0),
         {"class": "linear", "time": "annotated", "t_cap_s": 90.0,
          "t_note": "adjudicated",
          "t_evidence": "tools/stress_trend.py"}, False),  # any committed file
        ("time_annotated_blown", (2.0, 50.0), (95.0, 500.0),
         {"class": "linear", "time": "annotated", "t_cap_s": 90.0,
          "t_note": "adjudicated",
          "t_evidence": "tools/stress_trend.py"}, True),
        ("missing_t_evidence", (2.0, 50.0), (45.0, 500.0),
         {"class": "linear", "time": "annotated", "t_cap_s": 90.0,
          "t_note": "adjudicated"}, True),  # VERDICT r15 task #5
        ("dangling_t_evidence", (2.0, 50.0), (45.0, 500.0),
         {"class": "linear", "time": "annotated", "t_cap_s": 90.0,
          "t_note": "adjudicated",
          "t_evidence": "bench/evidence/does_not_exist.txt"}, True),
        ("mb_quadratic", (2.0, 50.0), (20.0, 5000.0),
         {"class": "linear"}, True),               # 100x bytes at scale 10
        ("mb_subfloor_blowup", (2.0, 0.01), (20.0, 400.0),
         {"class": "linear"}, True),               # ADVICE r14 NaN branch
        ("mb_subfloor_ok", (2.0, 0.01), (20.0, 0.1),
         {"class": "linear"}, False),
        ("transition_ok", (2.0, 5.0), (20.0, 300.0),
         {"class": "transition", "hi_mb_cap": 600}, False),
        ("transition_blown", (2.0, 5.0), (20.0, 700.0),
         {"class": "transition", "hi_mb_cap": 600}, True),
        ("zero_ok", (2.0, 0.1), (20.0, 0.3), {"class": "zero"}, False),
        ("zero_blown", (2.0, 0.1), (20.0, 30.0), {"class": "zero"}, True),
        ("unclassified", (2.0, 1.0), (20.0, 10.0), None, True),
        ("missing_t_cap", (2.0, 50.0), (45.0, 500.0),
         {"class": "linear", "time": "annotated", "t_note": "oops"}, True),
        ("missing_mb_cap", (2.0, 5.0), (20.0, 300.0),
         {"class": "transition"}, True),
    ]
    manifest = {n: m for n, _, _, m, _ in cases if m is not None}
    manifest["stale_row"] = {"class": "linear"}  # must flag without --partial
    manifest["lopsided_row"] = {"class": "linear"}  # in lo log only
    with tempfile.TemporaryDirectory() as d:
        lo_p, hi_p, mf_p = (os.path.join(d, x)
                            for x in ("lo.log", "hi.log", "m.json"))
        with open(lo_p, "w") as lo_f, open(hi_p, "w") as hi_f:
            for n, (tl, ml), (th, mh), _, _ in cases:
                l, h = smoke(n, tl, th, ml, mh)
                lo_f.write(l)
                hi_f.write(h)
            lo_f.write(smoke("lopsided_row", 2.0, 20.0, 5.0, 50.0)[0])
        json.dump(manifest, open(mf_p, "w"))
        flags = run(lo_p, hi_p, "10", "100", mf_p, partial=False,
                    out=lambda *_: None)
        flagged = {f.split(" ")[0] for f in flags}
        bad = []
        for n, _, _, _, expect in cases:
            if (n in flagged) != expect:
                bad.append(f"{n}: expected flag={expect}, got {n in flagged}")
        if "stale_row" not in flagged:
            bad.append("stale_row: expected STALE flag, got none")
        lop = [f for f in flags if f.startswith("lopsided_row")]
        if not any("only in one sweep" in f for f in lop):
            bad.append("lopsided_row: expected an only-in-one-sweep flag")
        if any("STALE" in f for f in lop):
            bad.append("lopsided_row: half-present row must not read STALE")
        flags_p = run(lo_p, hi_p, "10", "100", mf_p, partial=True,
                      out=lambda *_: None)
        if any(f.startswith("stale_row") for f in flags_p):
            bad.append("stale_row flagged despite --partial")
        if bad:
            print("SELFTEST FAIL:")
            for b in bad:
                print(" ", b)
            return 1
        print(f"selftest: {len(cases) + 4} controls behave "
              "(incl. the synthetic 20x time row flagging)")
        return 0


if __name__ == "__main__":
    if "--selftest" in sys.argv:
        sys.exit(selftest())
    sys.exit(main(sys.argv[1:]))
