#!/usr/bin/env python3
"""drift_check's sibling for STREAMBENCH records (r11 verdict #4).

Two jobs, both mechanical:

1. RELATIVE-CLAIM audit of a single record. The stream records' claims
   were only ever prose ("dense >= the other serving forms at every
   width; no B-trend; zero state; native >= HOF; bounded stateful
   state") while ±40% same-code ambience was measured between captures
   — so a claim inversion could hide in a quiet sentence. The CLAIMS
   table below encodes every published relative claim as a checkable
   tuple over the record's max-rows/s column; any inversion beyond
   tolerance FAILS the record.

2. CROSS-RECORD drift between two captures, canary-normalized. The
   frozen canary shapes (head+tail stateless projection and watermarked
   tumbling agg) measure the box/ambience delta; per-op max-rows/s
   ratios are divided by the canary factor before flagging, exactly as
   drift_check normalizes batch medians. An op whose normalized
   throughput fell below 1/REGRESS of the old record is a suspected
   regression. The head/tail canary spread is printed as the capture's
   own ambience reading (a spread beyond AMBIENT_WARN taints the
   capture — re-record rather than adjudicate).

Usage:
  python3 tools/stream_drift.py NEW.json            # claims audit only
  python3 tools/stream_drift.py OLD.json NEW.json   # + normalized drift
Exit 1 on claim inversion or suspected regression.
"""
import sys, json

TOL = 0.15          # A >= B claims pass if A >= (1-TOL)*B
FLAT_TOL = 0.30     # no-B-trend: wider arm >= (1-FLAT_TOL)*narrower arm
REGRESS = 1.5       # normalized cross-record slowdown that flags
AMBIENT_WARN = 1.6  # head/tail canary spread that taints a capture

# (faster, slower): published "A is at-or-above B" claims
GE_CLAIMS = [
    ("nb_quality_score_hashed_dense", "nb_quality_score_hashed"),
    ("nb_quality_score_hashed_dense", "nb_quality_score_hashed_lit"),
    ("dsir_score_dense", "dsir_score"),
]
# (wide, narrow): "flat in B" — the wider dense arm must not trend down
FLAT_CLAIMS = [
    ("nb_quality_score_hashed_dense_64k", "nb_quality_score_hashed_dense"),
    ("nb_quality_score_hashed_dense_1m", "nb_quality_score_hashed_dense_64k"),
]
# stateless operators: state_rows.max must be exactly 0
STATELESS = [
    "ivf_delta_ingest", "nb_quality_score", "nb_quality_score_hashed",
    "nb_quality_score_hashed_lit", "nb_quality_score_hashed_dense",
    "nb_quality_score_hashed_dense_64k", "nb_quality_score_hashed_dense_1m",
    "dsir_score", "dsir_score_dense", "wordpiece_score",
    "ann_probe", "neardup_vs_index",
    "canary_project", "canary_project_tail",
]
# stateful operators: state_rows.max must stay under its measured bound
# (r9/r10 levels + margin; a breach means state stopped being bounded)
STATE_BOUNDS = {
    "band_join": 120000,
    "stateful_ewma_ofi": 4000,
    "stateful_ewma_tws": 4000,
    "vpin_buckets": 4000,
    "cusum_monitor": 4000,
    "imbalance_bars": 4000,
}

CANARIES = ["canary_project", "canary_window"]


def rps(ops, name):
    return ops.get(name, {}).get("rows_per_sec_overall", 0.0)


def audit(ops):
    """Relative-claim audit; returns list of failure strings."""
    fails = []
    for a, b in GE_CLAIMS:
        ra, rb = rps(ops, a), rps(ops, b)
        if ra and rb and ra < (1 - TOL) * rb:
            fails.append(f"CLAIM INVERTED: {a} ({ra:.0f} r/s) < "
                         f"{(1-TOL):.2f} x {b} ({rb:.0f} r/s)")
    for wide, narrow in FLAT_CLAIMS:
        rw, rn = rps(ops, wide), rps(ops, narrow)
        if rw and rn and rw < (1 - FLAT_TOL) * rn:
            fails.append(f"B-TREND: {wide} ({rw:.0f} r/s) < "
                         f"{(1-FLAT_TOL):.2f} x {narrow} ({rn:.0f} r/s)")
    for name in STATELESS:
        if name in ops and ops[name]["state_rows"]["max"] != 0:
            fails.append(f"STATE LEAK: {name} is contracted stateless but "
                         f"state_rows.max = {ops[name]['state_rows']['max']}")
    for name, bound in STATE_BOUNDS.items():
        if name in ops and ops[name]["state_rows"]["max"] > bound:
            fails.append(f"STATE GROWTH: {name} state_rows.max "
                         f"{ops[name]['state_rows']['max']} > bound {bound}")
    return fails


def ambience(ops):
    """Head/tail canary spread: max over canaries of max/min rps."""
    worst, detail = 1.0, []
    for c in CANARIES:
        head, tail = rps(ops, c), rps(ops, c + "_tail")
        if head and tail:
            spread = max(head, tail) / min(head, tail)
            worst = max(worst, spread)
            detail.append(f"{c}: head {head:.0f} tail {tail:.0f} "
                          f"(spread {spread:.2f}x)")
    return worst, detail


def canary_factor(old_ops, new_ops):
    """Median new/old ratio over all canary rows (head+tail)."""
    ratios = []
    for c in CANARIES:
        for name in (c, c + "_tail"):
            o, n = rps(old_ops, name), rps(new_ops, name)
            if o and n:
                ratios.append(n / o)
    if not ratios:
        return None
    ratios.sort()
    return ratios[len(ratios) // 2]


def main(argv):
    paths = argv[1:]
    if not paths or len(paths) > 2:
        print(__doc__)
        return 2
    new = json.load(open(paths[-1]))
    new_ops = new["operators"]
    rc = 0

    worst, detail = ambience(new_ops)
    for d in detail:
        print(f"  ambience {d}")
    if worst > AMBIENT_WARN:
        print(f"  TAINTED CAPTURE: head/tail canary spread {worst:.2f}x > "
              f"{AMBIENT_WARN}x — re-record before comparing")
        rc = 1

    fails = audit(new_ops)
    for f in fails:
        print(f"  {f}")
    if fails:
        rc = 1
    else:
        print(f"  claims: {len(GE_CLAIMS)} orderings, {len(FLAT_CLAIMS)} "
              f"flat-in-B, {sum(1 for s in STATELESS if s in new_ops)} "
              f"stateless, {sum(1 for s in STATE_BOUNDS if s in new_ops)} "
              f"bounded-state — all hold")

    if len(paths) == 2:
        old_ops = json.load(open(paths[0]))["operators"]
        cf = canary_factor(old_ops, new_ops)
        if cf is None:
            print("  old record has no canaries — raw comparison "
                  "(pre-r12 record), regressions informational only")
        else:
            print(f"  canary factor (new/old): {cf:.2f}")
        flagged = 0
        for name in sorted(new_ops):
            if name.startswith("canary"):
                continue
            o, n = rps(old_ops, name), rps(new_ops, name)
            if not (o and n):
                continue
            norm = (n / o) / (cf if cf else 1.0)
            if norm < 1.0 / REGRESS:
                tag = "SUSPECTED REGRESSION" if cf else "slower (raw)"
                print(f"  {tag}: {name} {o:.0f} -> {n:.0f} r/s "
                      f"(normalized {norm:.2f}x)")
                if cf:
                    flagged += 1
                    rc = 1
        if cf and not flagged:
            print("  0 suspected regressions")
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv))
