"""Plan audit CLI: dump pushdown / join-strategy / codegen / shuffle facts
for every entry query, so plan regressions are visible.

    python tools/explain_audit.py [sf_dir] [query ...]
    python tools/explain_audit.py --out plans/r15 --suffix after [sf_dir] query ...

With ``--out`` the audit is skipped: each query's ``explain("formatted")``
plan, built but not executed, is written to ``<out>/<query>_<suffix>.txt``
(the before/after plan files under ``plans/``).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("args", nargs="*", metavar="[sf_dir] [query]")
    ap.add_argument("--out", help="write each query's plan here instead of auditing it")
    ap.add_argument("--suffix", default="after")
    opts = ap.parse_args()

    import __spark_entry__ as E
    from bench import free_pinned
    from eodatadown_spark.plans import audit
    from eodatadown_spark.session import get_spark

    args = opts.args
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))

    spark = get_spark("explain_audit", shuffle_partitions=8)
    unknown = only - set(E.queries())
    if unknown:
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        raise SystemExit(2)
    if opts.out:
        os.makedirs(opts.out, exist_ok=True)
    # Audit pure-plan variants where they exist (mirrors bench.py): queries
    # whose executable form checkpoints would otherwise report truncated
    # lineage (scans=[], exchanges=0) instead of the real shuffle structure.
    fns = dict(E.queries())
    fns.update(getattr(E, "plan_only", dict)())
    for name, fn in fns.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        if opts.out:
            path = os.path.join(opts.out, f"{name}_{opts.suffix}.txt")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(audit.physical_plan(df))
            print(f"wrote {path}")
        else:
            pf = audit.pushed_filters(df)
            cols = audit.scan_column_counts(df)
            joins = audit.join_strategies(df)
            print(
                f"{name:28s} scans={cols} pushed={len(pf)} "
                f"joins={joins or '-'} codegen={audit.codegen_stage_count(df)} "
                f"exchanges={audit.exchange_count(df)}"
            )
            if only:
                print(audit.physical_plan(df))
        free_pinned(spark)
    spark.stop()


if __name__ == "__main__":
    main()
