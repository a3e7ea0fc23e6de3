#!/usr/bin/env python
"""Registry-wide physical-plan audit: the scale-killer sweep (r14).

Builds the physical plan of EVERY registered query (the sweep compiles
all 419 plans in ~3 min at sf0.001; no query's final stage runs, but a
query that calls ``materialize.share`` runs the shuffle stages of its
shared relations while its DataFrame is built) and enforces the
shape invariants that decide whether a plan survives a 100 TB
scale-up:

1. **Zero CartesianProduct, anywhere — hard fail, no whitelist.**
   A cartesian between two non-broadcast relations is quadratic in
   partitions and data; there is no input size at which it is the
   right plan for this repo's operators. (Registry-wide count at the
   r14 audit: 0.)

2. **No NEW BroadcastNestedLoopJoin beyond the checked-in baseline**
   (`scripts/plan_audit_baseline.json`: per query, the adjudicated
   (cross, non-cross) BNLJ node counts). A BNLJ is only safe when its
   BROADCAST side is bounded by construction — which a plan string
   cannot prove — so the baseline encodes a HUMAN adjudication of
   every BNLJ in the registry and the sweep fails the moment a query
   grows one it did not have. The r14 adjudication of all 218 BNLJ
   nodes across 95 queries found three families, all bounded:
   (a) 1-row/scalar broadcast relations (fitted weights, thresholds,
   cutoffs, hash parameters, 'today') joined with a residual compare —
   the repo's standing crossJoin(broadcast(tiny)) discipline, which
   Catalyst sometimes types Inner instead of Cross;
   (b) value-cardinality-bounded broadcast relations (day grids for
   ACF/Ljung-Box lags, event-type pairs for KMV set ops, per-class
   keep-counts) — the build side grows with DISTINCT VALUES, not rows;
   (c) deliberately bounded pair spaces (the all-pairs cosine DEMO
   twin, recall-audit samples, broadcast probe sets, J9's theta join).
   None joins two row-scaled relations. A count INCREASE means a new
   nested loop appeared: adjudicate it, then re-run with
   --write-baseline if (and only if) its build side is bounded.

3. **No NEW global (unpartitioned) Window beyond the baseline** (r15,
   VERDICT r14 item 6). An empty ``partitionBy`` compiles to Exchange
   SinglePartition + a single-task WindowExec — the one scale-killer
   class the BNLJ/cartesian gates cannot see. Whether it is safe is
   again a boundedness question a plan string cannot answer: the
   repo's existing ones run over VALUE-CARDINALITY-BOUNDED relations
   (q_ml_pr_curve's distinct-6dp-score sweep, H15m's per-supplier
   revenue artifact, cumulative sweeps over per-day/per-bucket
   aggregates), never over a row-scaled relation. The baseline
   encodes that adjudication per query; the sweep fails the moment a
   query grows a global window it did not have. Detection: in a
   formatted plan a Window node's ``Arguments:`` line carries
   ``[exprs], [partition], [order]`` — three top-level bracket groups
   — while a global window has only ``[exprs], [order]``; counting
   depth-0 ``[...]`` groups is robust to brackets nested inside the
   expression list.

   The r15 adjudication of all 108 global-window nodes across 59
   queries found three families: (a) value-cardinality-bounded sweeps
   — cumulative/ranked windows over DISTINCT quantized score levels,
   per-day series, per-term vocabularies, per-bucket CDFs, category
   levels (the drift/ml-curve/ts/text families); (b) post-LIMIT or
   k-sample rankers — the window runs after a top-N limit or over a
   fixed-size audit sample (link_prediction, recall audits); (c) the
   exact-rank contract of the ml-eval deciles (ml_lift /
   operating_point ntile over the scored doc relation — the one
   row-scaled member, a DOCUMENTED trade: exact ntile semantics are
   the oracle contract at gate scale; a 100 TB deployment swaps in
   approxQuantile decile boundaries, which the exact gate then
   validates at small sf). None of (a)/(b) grows with fact rows.

Run:    python scripts/plan_audit.py [--sf-dir D] [--names a,b]
        python scripts/plan_audit.py --write-baseline   (re-pin)
Prints one JSON line; exits nonzero on any violation.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sigma_rx7_spark import registry  # noqa: E402
from sigma_rx7_spark.session import get_spark  # noqa: E402

BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plan_audit_baseline.json")


def formatted(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def _top_level_groups(line: str) -> list:
    """Depth-0 ``[...]`` group strings in a formatted Arguments line."""
    depth = 0
    start = -1
    out = []
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append(line[start:i + 1])
    return out


def _is_global_window(arg_line: str) -> bool:
    """True iff a Window node's Arguments line has NO partition group.

    A partitioned+ordered window prints three top-level groups
    ``[exprs], [partition], [order]``; a global (unpartitioned) one
    prints ``[exprs], [order]``. A PARTITION-ONLY window (unordered
    whole-partition frame, r15: q_quality_patterns' share total) ALSO
    prints two groups — ``[exprs], [partition]`` — and is NOT global:
    its exchange hash-partitions on the key. The two 2-group cases are
    distinguished by the second group's content: an order spec always
    carries a sort direction (``ASC``/``DESC``), a partition list never
    does."""
    groups = _top_level_groups(arg_line)
    if len(groups) >= 3:
        return False
    if len(groups) == 2:
        # Anchor to the sort-spec grammar (r16, ADVICE r15): an order
        # spec element ends "... ASC|DESC NULLS FIRST|LAST" — a plain
        # substring test would misread a partition EXPRESSION whose
        # text merely contains " ASC"/" DESC" (e.g. a column named so).
        return re.search(r"\b(ASC|DESC) NULLS (FIRST|LAST)",
                         groups[1]) is not None
    return True


def audit_plan(plan: str):
    """Return (n_cartesian, n_cross_bnlj, n_noncross_bnlj, n_global_win)."""
    n_cart = plan.count("CartesianProduct")
    n_cross = n_noncross = n_gwin = 0
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        head = block.split("\n", 1)[0]
        if "BroadcastNestedLoopJoin" in head:
            jt = re.search(r"Join type: ([^\n]*)", block)
            cond = re.search(r"Join condition: ([^\n]*)", block)
            jt = jt.group(1).strip() if jt else "?"
            cond = cond.group(1).strip() if cond else "?"
            if jt == "Cross" and cond == "None":
                n_cross += 1
            else:
                n_noncross += 1
        elif re.match(r"\(\d+\) Window(GroupLimit)?\b", head):
            arg = re.search(r"Arguments: ([^\n]*)", block)
            # Window: no partition group = global (see _is_global_window
            # for the 2-group partition-only vs global disambiguation).
            # WindowGroupLimit: [partition], [order], fn, k — a global
            # one leads with an EMPTY partition list '[], ...'.
            if "WindowGroupLimit" in head:
                if arg and arg.group(1).lstrip().startswith("[],"):
                    n_gwin += 1
            elif arg and _is_global_window(arg.group(1)):
                n_gwin += 1
    return n_cart, n_cross, n_noncross, n_gwin


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--names", default=None)
    ap.add_argument("--write-baseline", action="store_true")
    args = ap.parse_args()
    spark = get_spark(app_name="sigma-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()
    names = args.names.split(",") if args.names else list(specs)
    counts: dict[str, list[int]] = {}
    gwins: dict[str, int] = {}
    cartesian: dict[str, int] = {}
    errs: dict[str, str] = {}
    for name in names:
        try:
            plan = formatted(specs[name].fn(spark, args.sf_dir))
        except Exception as exc:  # noqa: BLE001 - report, don't die
            errs[name] = str(exc).split("\n", 1)[0][:200]
            continue
        n_cart, n_cross, n_noncross, n_gwin = audit_plan(plan)
        if n_cart:
            cartesian[name] = n_cart
        if n_cross or n_noncross:
            counts[name] = [n_cross, n_noncross]
        if n_gwin:
            gwins[name] = n_gwin
    spark.stop()

    if args.write_baseline:
        with open(BASELINE, "w") as fh:
            json.dump({"note": ("Adjudicated per-query BNLJ node counts "
                                "[cross, non-cross] and global-window "
                                "node counts — see plan_audit.py "
                                "docstring for the adjudication; re-pin "
                                "only after adjudicating any increase."),
                       "queries": counts,
                       "global_windows": gwins}, fh, indent=1,
                      sort_keys=True)
        print(json.dumps({"wrote_baseline": len(counts),
                          "wrote_global_windows": len(gwins),
                          "cartesian": cartesian, "errors": errs}))
        return 1 if (cartesian or errs) else 0

    try:
        with open(BASELINE) as fh:
            raw = json.load(fh)
            base = raw["queries"]
            gbase = raw.get("global_windows", {})
    except OSError:
        base, gbase = {}, {}
    grew = {}
    for name, (c, nc) in counts.items():
        bc, bnc = base.get(name, [0, 0])
        if c > bc or nc > bnc:
            grew[name] = {"now": [c, nc], "baseline": [bc, bnc]}
    gw_grew = {}
    for name, g in gwins.items():
        if g > gbase.get(name, 0):
            gw_grew[name] = {"now": g, "baseline": gbase.get(name, 0)}
    census = collections.Counter()
    for c, nc in counts.values():
        census["cross"] += c
        census["non_cross"] += nc
    report = {
        "n_queries": len(names),
        "n_errors": len(errs),
        "cartesian": cartesian,
        "bnlj_grew_vs_baseline": grew,
        "global_window_grew_vs_baseline": gw_grew,
        "bnlj_census": dict(census),
        "global_window_census": sum(gwins.values()),
        "errors": errs,
    }
    print(json.dumps(report))
    return 1 if (cartesian or grew or gw_grew or errs) else 0


if __name__ == "__main__":
    sys.exit(main())
