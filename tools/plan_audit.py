"""Plan-shape audit: dump the physical-plan quality signals for every
bench-tagged query (the headline set) into one markdown table —
exchange count, broadcast/SMJ/BNLJ joins, whole-stage-codegen span
count, pushed filters, and any scan reading more columns than the
query projects.

Usage: `python tools/plan_audit.py [out.md] [--diff PREV.md]
[--allow q1,q2]` (default stdout).  `--allow` (only with `--diff`)
downgrades the named queries' Exchange-count increases to notes — for
intentional restructurings documented with committed plan dumps in the
round report; their BroadcastNestedLoop and Cartesian increases stay
failures.  Arguments are checked before any query is planned.  Run it
after changing a headline query;
`tests/test_plans.py` gates the load-bearing shapes, this report is
the human-readable sweep across all of them.  Eager-tagged queries are
skipped by contract (building them runs an action — see
observe_scan_metrics).

`--diff PREV.md` (round-7, VERDICT r6 #6) compares against a previous
round's committed audit and EXITS NON-ZERO when any query present in
both gained Exchanges, BroadcastNestedLoops, or Cartesians — per-query
plan gates cover the shapes someone thought to gate; the diff catches
drift on everything else, including bench entries added since the
gates were written.  Queries new since PREV are listed informationally
(their first audit becomes the next round's baseline).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROW_RE = re.compile(
    r"^\| (\S+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \| (\S+) \|$"
)
USAGE = "usage: plan_audit.py [out.md] [--diff PREV.md] [--allow q1,q2]"


def parse_rows(lines) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for line in lines:
        m = ROW_RE.match(line.strip())
        if m:
            name, ex, bhj, smj, bnlj, cart, _ = m.groups()
            out[name] = {
                "exch": int(ex),
                "bhj": int(bhj),
                "smj": int(smj),
                "bnlj": int(bnlj),
                "cart": int(cart),
            }
    return out


def parse_audit(path: str) -> dict[str, dict[str, int]]:
    with open(path) as fh:
        return parse_rows(fh)


def parse_args(argv: list[str]) -> tuple[str | None, str | None, frozenset[str]]:
    """(out path, --diff path, --allow names) from ``argv``; exits with
    a usage message on a flag without a value, an unknown flag, more
    than one output path, ``--allow`` without ``--diff``, or a
    ``--diff`` file that does not exist."""
    args = list(argv)
    vals: dict[str, str] = {}
    for flag in ("--allow", "--diff"):
        if flag in args:
            i = args.index(flag)
            if i + 1 >= len(args) or args[i + 1].startswith("--"):
                sys.exit(f"{flag} needs a value\n{USAGE}")
            vals[flag] = args[i + 1]
            del args[i : i + 2]
    if len(args) > 1 or any(a.startswith("--") for a in args):
        sys.exit(USAGE)
    prev_path = vals.get("--diff")
    if "--allow" in vals and prev_path is None:
        sys.exit(f"--allow only applies with --diff\n{USAGE}")
    if prev_path is not None and not os.path.isfile(prev_path):
        sys.exit(f"--diff: no such file: {prev_path}")
    allow = frozenset(vals.get("--allow", "").split(",")) - {""}
    return (args[0] if args else None), prev_path, allow


def diff_audits(
    prev: dict, cur: dict, allow: frozenset[str] = frozenset()
) -> tuple[list[str], list[str]]:
    """Return (regressions, notes).

    ``allow`` names queries whose plan was INTENTIONALLY restructured
    this round: their Exchange-count increases are downgraded to
    notes; BNLJ and Cartesian increases stay regressions.  An
    allowance must be justified in the round's OPTIMIZATION report
    with committed before/after (and, where the increase is
    pre-execution re-printing of a shared subtree, executed) plan
    dumps — the audit only records that the drift was claimed, the
    dumps are the proof.
    """
    regressions, notes = [], []
    for name, c in sorted(cur.items()):
        p = prev.get(name)
        if p is None:
            notes.append(f"new since previous audit: {name} ({c})")
            continue
        for key in ("exch", "bnlj", "cart"):
            if c[key] > p[key]:
                msg = f"{name}: {key} {p[key]} -> {c[key]} (plan drift)"
                if key == "exch" and name in allow:
                    notes.append(f"ALLOWED (intentional this round): {msg}")
                else:
                    regressions.append(msg)
        if c != p:
            notes.append(f"changed (non-regressing): {name} {p} -> {c}")
    for name in sorted(set(prev) - set(cur)):
        notes.append(f"dropped since previous audit: {name}")
    return regressions, notes


def main() -> None:
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.session import get_spark

    out_path, prev_path, allow = parse_args(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-audit")

    rows = []
    for name, q in sorted(REGISTRY.items()):
        if "bench" not in q.tags or "eager" in q.tags:
            continue
        df = q.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        n_ex = len(re.findall(r"\(\d+\)\s+Exchange", plan))
        n_bhj = len(re.findall(r"\(\d+\)\s+BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"\(\d+\)\s+SortMergeJoin", plan))
        n_bnlj = len(re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", plan))
        n_cart = len(re.findall(r"\(\d+\)\s+CartesianProduct", plan))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        rows.append(
            f"| {name} | {n_ex} | {n_bhj} | {n_smj} | {n_bnlj} | {n_cart} "
            f"| {pushed} |"
        )

    out = [
        "# Plan audit — bench-tagged headline queries",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`.  Columns:",
        "Exchanges (shuffles), BroadcastHashJoins, SortMergeJoins,",
        "BroadcastNestedLoop (should only be 1-row scalar broadcasts),",
        "CartesianProducts (must be 0), and whether any parquet scan",
        "carries pushed filters.  (WholeStageCodegen spans are not",
        "annotated in pre-execution formatted plans under AQE.)",
        "Counts are PRE-EXECUTION production plans: a subtree shared by",
        "several consumers is re-printed per consumer, so raw counts",
        "overstate executed shuffles where an explicit repartition is",
        "shared (the r16 pre_shuffle rank device) — runtime dedup is",
        "ReusedExchange, shown in plans/r16/*_executed.txt for the",
        "queries whose counts grew this round.",
        "",
        "| query | Exch | BHJ | SMJ | BNLJ | Cart | pushed |",
        "|---|---|---|---|---|---|---|",
        *rows,
    ]
    text = "\n".join(out) + "\n"

    if out_path:
        with open(out_path, "w") as fh:
            fh.write(text)
        print(f"wrote {out_path} ({len(rows)} queries)")
    else:
        print(text)

    if prev_path:
        regressions, notes = diff_audits(
            parse_audit(prev_path), parse_rows(text.splitlines()), allow
        )
        for n in notes:
            print(f"[diff note] {n}")
        if regressions:
            for r in regressions:
                print(f"[PLAN REGRESSION] {r}")
            sys.exit(1)
        print(f"[diff] clean vs {prev_path}")


if __name__ == "__main__":
    main()
