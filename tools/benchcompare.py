#!/usr/bin/env python3
"""Per-query 2x gate check between bench artifacts.

Usage: python3 tools/benchcompare.py <current.json> <baseline.json> [...]

Baselines may be full bench_history/rN.json files (with a "queries"
map) OR truncated driver BENCH_rN.json artifacts (with a "tail"
fragment) — per-query pairs are salvaged from whatever is present.
Salvaged keys are intersected with the current run's query set, so
telemetry pairs in a tail fragment (rel_spread, effective_cores, ...)
never enter the baseline map. For each query the BEST previously
recorded value across all given baselines is the anchor; the current
value is min(sweep-min, clamped isolated). Violations (> 2x the
host-normalized anchor) exit 1.

Host normalization: artifacts that record host.effective_cores (the
measured idle-core capacity during the sweep) have their 2x band
scaled by the capacity ratio — a sweep taken on a host delivering
19/32 cores is allowed 32/19 more wall time per query than one taken
at full capacity. The factor is clamped to >=1 so a FASTER current
host never loosens the gate below raw 2x, and capped at 4x so a
wildly-contended artifact can't amnesty a real regression.

Sweep TOTALS are deliberately not compared (BASELINE.md: totals are
contention-bound on this host; only per-query minima adjudicate).
"""
import sys, json, re

NORM_CAP = 4.0


def load_artifact(path, baseline=False):
    """Returns (queries: {k: sec}, MEASURED effective_cores or None).

    Only a measured host.effective_cores (the in-artifact spin probe)
    counts: nominal "cpus" is a different unit (configured thread
    count, not delivered capacity), and mixing the two — e.g. a
    baseline at measured 19-of-32 cores vs a current artifact carrying
    only cpus=8 — would manufacture a bogus up-to-4x normalization
    that amnesties a real regression. Artifacts without the probe get
    norm 1.0 (the raw 2x band).

    BASELINE.md isolated-value admission rule (r15): when loading a
    BASELINE, isolated re-times are merged only from artifacts whose
    variance.rel_spread < 0.5 — an idle-tail isolated figure inside a
    contention-poisoned sweep is an unrepresentable anchor (the
    r13 dq_drift/xf_crawl_funnel ghost alarms). The CURRENT artifact
    keeps min(sweep, isolated) unconditionally: using one's own
    isolated value can only make the gate stricter on the baseline
    side, never looser."""
    d = json.load(open(path))
    ec = None
    host = d.get("host")
    if isinstance(host, dict):
        ec = host.get("effective_cores")
    if "queries" in d and isinstance(d["queries"], dict):
        q = dict(d["queries"])
        # r15 spread semantics: warm-sweep WALL spread. Derive it from
        # sweep_wall_sec for artifacts recorded before the redefinition
        # (their stored rel_spread includes sweep 1's deliberate cold
        # costs and reads >=0.6 even on a fully idle host).
        walls = ((d.get("host") or {}).get("sweep_wall_sec") or [])
        if isinstance(walls, list) and len(walls) > 1 and min(walls[1:]) > 0:
            spread = (max(walls[1:]) - min(walls[1:])) / min(walls[1:])
        else:
            spread = (d.get("variance") or {}).get("rel_spread")
        iso_ok = not baseline or (spread is not None and spread < 0.5)
        iso = (d.get("isolated") or {}) if iso_ok else {}
        for k, v in iso.items():
            if k in q:
                # ghost-anchor guard (r15): an isolated re-time much
                # FASTER than every full-sweep observation of the same
                # query was taken on an unrepresentatively idle tail
                # (r13: dq_drift isolated 0.31s vs sweep min 0.73s,
                # xf_crawl_funnel 0.49s vs 0.88s — both tripped false
                # 2x alarms for two rounds). Admit a baseline isolated
                # value only within 1.5x of its own sweep minimum.
                if baseline and v < q[k] / 1.5:
                    continue
                q[k] = min(q[k], v)
        return q, ec
    # truncated driver artifact: salvage "name":seconds pairs
    frag = d.get("tail", "")
    return {k: float(v)
            for k, v in re.findall(r'"([a-z0-9_]+)":([0-9.]+)', frag)}, ec


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    cur, cur_ec = load_artifact(sys.argv[1])
    base = {}  # key -> (sec, effective_cores or None)
    for p in sys.argv[2:]:
        q, ec = load_artifact(p, baseline=True)
        for k, v in q.items():
            # telemetry guard: only keys the current run also timed
            if k not in cur:
                continue
            if k not in base or v < base[k][0]:
                base[k] = (v, ec)
    new = sorted(set(cur) - set(base))
    # MEDIAN-RATIO host normalization (r15): the spin-probe effective-
    # cores figure misses delivered-speed throttling on this host (the
    # r15 artifact measured 27.5/32 cores while an untouched sentinel
    # query ran 1.5-2.5x slower than r14's 27.2-core run). With a wide
    # shared-key set, the MEDIAN current/baseline ratio is a robust
    # estimate of the uniform host factor — a real regression is a
    # per-query OUTLIER against it, and regressions in up to half the
    # suite cannot move it. Used when >=30 shared keys; never below 1,
    # capped like the ec factor.
    med_norm = 1.0
    if len(base) >= 30:
        ratios = sorted(cur[k] / v[0] for k, v in base.items() if v[0] > 0)
        med = ratios[len(ratios) // 2]
        med_norm = min(NORM_CAP, max(1.0, med))
    violations = []
    for k, (prev, ec) in sorted(base.items()):
        norm = 1.0
        if ec and cur_ec:
            norm = min(NORM_CAP, max(1.0, ec / cur_ec))
        norm = max(norm, med_norm)
        if cur[k] > 2 * prev * norm:
            violations.append((k, prev, cur[k], norm))
    print(f"baseline queries: {len(base)}  current: {len(cur)}  "
          f"new (set own baseline): {len(new)}")
    if cur_ec:
        print(f"current host effective_cores: {cur_ec:.1f}")
    if med_norm > 1.0:
        print(f"median host factor vs baselines: {med_norm:.2f} "
              f"(band scaled accordingly)")
    for k in new:
        print(f"  NEW  {k}: {cur[k]:.2f}s")
    if violations:
        print(f"\n{len(violations)} queries over the host-normalized 2x band:")
        for k, prev, now, norm in violations:
            print(f"  OVER {k}: {now:.2f}s vs best prior {prev:.2f}s "
                  f"({now/prev:.1f}x, band 2x*{norm:.2f}) "
                  "-> adjudicate with SPARK_GRAFT_BENCH_ITERS=2 "
                  f"SPARK_GRAFT_BENCH_ISOLATE=0 graft.Bench {k}")
        sys.exit(1)
    print("all within the host-normalized 2x band")


if __name__ == "__main__":
    main()
