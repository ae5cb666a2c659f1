#!/usr/bin/env python3
"""Round-over-round bench comparison over the committed artifact.

Usage:
  python3 tools/bench_diff.py              # working tree vs HEAD~1
  python3 tools/bench_diff.py <ref>        # working tree vs <ref>
  python3 tools/bench_diff.py <refA> <refB>

Reads bench_results.json (full per-query map) from each side and prints
total drift plus the queries that moved most, with a noise hint: the
r8/r9 episode showed identical bytecode drifting 25% run-over-run, so
only flag a query when BOTH the ratio and the absolute delta are large.

Canary normalization (round 15, VERDICT task 3): Bench times a fixed
registry-independent reference workload first and records it as
"canary_s", alongside a "config" provenance block. When both sides
carry a canary, per-query expectations are scaled by the canary ratio
before flagging — the r14 bench total doubled from a mix of a config
regression and uniform cross-boot session drift, and nothing in the
artifact could separate the two. A >25% total move still requires a
one-paragraph adjudication in PLANS.md (CLAUDE.md rule) — the canary
tells you WHICH paragraph to write, it does not waive it.
"""
import json
import subprocess
import sys

ARTIFACT = "bench_results.json"


def load(ref):
    if ref is None:
        with open(ARTIFACT) as f:
            return json.load(f)
    out = subprocess.run(["git", "show", f"{ref}:{ARTIFACT}"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"no {ARTIFACT} at {ref}: {out.stderr.strip()}")
    return json.loads(out.stdout)


def main():
    args = sys.argv[1:]
    if len(args) == 0:
        new, old, labels = load(None), load("HEAD~1"), ("worktree", "HEAD~1")
    elif len(args) == 1:
        new, old, labels = load(None), load(args[0]), ("worktree", args[0])
    else:
        new, old, labels = load(args[1]), load(args[0]), (args[1], args[0])

    qn, qo = new["queries"], old["queries"]
    print(f"total: {old['value']:.1f}s ({labels[1]}) -> {new['value']:.1f}s "
          f"({labels[0]})  [{new['n_queries']} vs {old['n_queries']} queries]")

    # Session-drift normalization via the calibration canary. drift > 1
    # means THIS box/boot/cache state runs the identical workload slower
    # than the reference side did; per-query flag thresholds scale by it
    # so uniform drift is attributed, not flagged. Clamped to [0.5, 2]:
    # a canary move beyond 2x is itself suspicious and should not
    # silently excuse arbitrary per-query slowdowns.
    cn, co = new.get("canary_s"), old.get("canary_s")
    drift = 1.0
    if cn and co:
        drift = min(2.0, max(0.5, cn / co))
        print(f"canary: {co:.2f}s -> {cn:.2f}s  "
              f"(session drift x{cn / co:.2f}; flags normalized by x{drift:.2f})")
    else:
        missing = [lab for lab, c in ((labels[1], co), (labels[0], cn)) if not c]
        print(f"canary: absent on {', '.join(missing)} — no drift normalization")

    # Late-session drift (round 16, r15 VERDICT #2): the r15 driver run
    # flagged 30+ queries while its START-of-run canary pointed the
    # other way — the slowness developed mid-run, invisible to a canary
    # timed once up front. Bench now re-times the warm canary at END of
    # run (canary_end_s); the per-side end/start ratio bounds how much a
    # query timed late in the (alphabetical) run could have inflated
    # from session state alone. Flags covered by the interpolated
    # late-drift envelope are ANNOTATED (not suppressed): the envelope
    # is an attribution hint, re-timing is the proof.
    def late_ratio(side):
        s, e = side.get("canary_s"), side.get("canary_end_s")
        return (e / s) if s and e else None

    ln, lo = late_ratio(new), late_ratio(old)
    for lab, r in ((labels[0], ln), (labels[1], lo)):
        if r is not None and abs(r - 1.0) > 0.15:
            print(f"late-session drift on {lab}: warm canary x{r:.2f} "
                  f"start->end — late-alphabet queries may carry it")

    def late_envelope(k, names_sorted):
        """Max extra inflation late-session drift could explain for k:
        linear interpolation of the end/start canary ratio over the
        query's position in the alphabetical run order, taking the
        worse direction of (new slowed down, old sped up)."""
        pos = names_sorted.index(k) / max(1, len(names_sorted) - 1)
        up = 1.0 + (max(ln or 1.0, 1.0) - 1.0) * pos      # new ran slow late
        down = 1.0 + (min(lo or 1.0, 1.0) - 1.0) * pos    # old ran fast late
        return up / down
    for side, lab in ((old, labels[1]), (new, labels[0])):
        cfg = side.get("config")
        if cfg:
            print(f"config {lab}: {json.dumps(cfg)}")

    for name, side in (("added", set(qn) - set(qo)), ("removed", set(qo) - set(qn))):
        if side:
            print(f"{name}: {', '.join(sorted(side))}")

    # Each failed query with its cause: Bench records "errors" (query ->
    # "ExceptionClass: message", from the first failed timed run); older
    # records have none and list the name alone.
    for side, lab in ((old, labels[1]), (new, labels[0])):
        if side.get("failed"):
            errors = side.get("errors", {})
            print(f"failed on {lab}:")
            for k in side["failed"]:
                print(f"  {k}" + (f"  ({errors[k]})" if k in errors else ""))

    # Materialization branches (graft.Materialize): a query whose build
    # took another branch ran another plan, so its time moved for that
    # reason. Records older than the "branches" map name none.
    bn, bo = new.get("branches"), old.get("branches")
    if bn is not None and bo is not None:
        moved = sorted(k for k in set(qn) & set(qo) if bn.get(k) != bo.get(k))
        if moved:
            print("branches changed:")
            for k in moved:
                print(f"  {k}: {bo.get(k, '-')} -> {bn.get(k, '-')}")

    # Per-run spread (round 11): Bench records every raw run per query
    # in "runs"; a round-over-round delta inside the union of the two
    # sides' observed spreads is contention, not a regression, and is
    # never flagged.
    rn, ro = new.get("runs", {}), old.get("runs", {})

    def spread(runs_map, k):
        rs = [r for r in runs_map.get(k, []) if r > 0]
        return (max(rs) - min(rs)) if len(rs) >= 2 else 0.0

    # expected value of the old measurement under this session's drift
    def exp_old(k):
        return qo[k] * drift

    common = sorted(set(qn) & set(qo),
                    key=lambda k: abs(qn[k] - exp_old(k)), reverse=True)
    # Regressions only (round 13): each recorded value is the min of
    # 2-3 timed runs taken after a per-query warm throwaway, i.e. an
    # upper bound on the query's true steady-state cost. A LOWER new
    # number therefore cannot indicate a plan bug — it means the old
    # bound was loose (cold-JIT artifact) or the plan got faster; both
    # still print in the largest-moves list, just never as FLAG.
    flagged = [k for k in common
               if qn[k] - exp_old(k) >= 0.75
               and qn[k] >= 2.0 * max(exp_old(k), 0.05)
               and qn[k] - exp_old(k) > 1.5 * max(spread(rn, k), spread(ro, k))]
    print(f"\nlargest moves (flagged = slower by >=0.75s AND >=2x AND "
          f"outside the recorded per-run spread, after canary drift "
          f"normalization — below that is in-bench noise; speed-ups "
          f"print but never flag):")
    # every flagged query prints, even when absolute-delta ranking
    # would push it below the top-15 noise rows
    shown = [k for k in common if k in common[:15] or k in flagged]
    names_sorted = sorted(set(qn) & set(qo))
    for k in shown:
        mark = " <-- FLAG" if k in flagged else ""
        if k in flagged and (ln or lo):
            env = late_envelope(k, names_sorted)
            if qn[k] <= exp_old(k) * env + 0.25:
                mark += f" [within late-session drift x{env:.2f} — re-time before believing]"
        sp = max(spread(rn, k), spread(ro, k))
        sptxt = f"  (spread {sp:.2f}s)" if sp > 0 else ""
        print(f"  {qo[k]:7.3f} -> {qn[k]:7.3f}  {k}{sptxt}{mark}")

    if rn:
        noisy = sorted(((spread(rn, k), k) for k in rn), reverse=True)[:5]
        print("\nnoisiest queries this run (max-min across recorded runs):")
        for sp, k in noisy:
            if sp > 0.25:
                print(f"  {sp:6.2f}s  {k}  runs={rn[k]}")


if __name__ == "__main__":
    main()
